package graft

import org.apache.spark.sql.functions._

/** CorrMatrixAgg vs Spark's builtin corr on multi-partition data — the
  * repartition forces the merge() path (partial buffers combined), not
  * just single-buffer update().
  */
class CorrMatrixSpec extends SparkSpec {

  test("single-pass matrix equals pairwise corr to 1e-10, across merges") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1 to 2000).map { i =>
      val a = rnd.nextDouble() * 100
      val b = a * 0.5 + rnd.nextDouble() * 10     // correlated with a
      val c = rnd.nextGaussian()                  // independent
      (a, b, c)
    }
    val df = rows.toDF("a", "b", "c").repartition(8)
    val native = df.agg(expr("corr_matrix(a, b, c)").as("m"))
      .collect().head.getSeq[Double](0) // pairs: (a,b), (a,c), (b,c)
    val builtin = df.agg(corr($"a", $"b"), corr($"a", $"c"),
        corr($"b", $"c"))
      .collect().head
    for (i <- 0 until 3)
      assert(math.abs(native(i) - builtin.getDouble(i)) < 1e-10,
        s"pair $i: ${native(i)} vs ${builtin.getDouble(i)}")
    assert(native(0) > 0.9) // a,b strongly correlated by construction
    assert(math.abs(native(1)) < 0.1) // a,c independent
  }

  test("constant column yields null correlation (zero variance)") {
    val s = spark
    import s.implicits._
    val df = Seq((1.0, 5.0), (2.0, 5.0), (3.0, 5.0)).toDF("x", "y")
    val m = df.agg(expr("corr_matrix(x, y)").as("m"))
      .selectExpr("m[0]").collect().head
    assert(m.isNullAt(0))
  }
}
