package graft

import org.apache.spark.sql.functions._

/** The native codegen'd cosine expression: exactness vs the HOF
  * formulation, SQL registration, and null/edge behavior.
  */
class CosineSimSpec extends SparkSpec {

  test("cosine_sim equals the zip_with/aggregate formulation bit-for-bit") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (Seq(1.0, 0.0), Seq(0.0, 1.0)),
      (Seq(0.5, -0.5, 2.5), Seq(-1.0, 3.5, 0.25)))
      .toDF("a", "b")
    val hof = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v) /
      (sqrt(aggregate(col("a"), lit(0.0), (acc, x) => acc + x * x)) *
        sqrt(aggregate(col("b"), lit(0.0), (acc, x) => acc + x * x)))
    val rows = df.select(expr("cosine_sim(a, b)").as("native"),
      hof.as("hof")).collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    // orthogonal vectors => exactly 0
    assert(rows(1).getDouble(0) == 0.0)
  }

  test("RewriteHofDotProduct fuses aggregate(zip_with(*)) into dot_product") {
    val s = spark
    // non-literal source so constant folding can't collapse the plan
    val e = Tables.embeddings(s, "/root/testdata/sf0.001")
      .withColumn("a", transform(col("embedding"), _.cast("double")))
    val hofDot = aggregate(zip_with(col("a"), col("a"), (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v).as("dot")
    val fused = e.select(col("vec_id"), col("a"), hofDot)
    assert(fused.queryExecution.analyzed.toString
      .contains("aggregate(zip_with"))
    val planStr = fused.queryExecution.optimizedPlan.toString
    assert(planStr.contains("dot_product"), planStr)
    // fused result identical to the HOF's left fold from 0.0
    fused.orderBy("vec_id").limit(5).collect().foreach { r =>
      val a = r.getSeq[Double](1)
      assert(r.getDouble(2) == a.map(x => x * x).foldLeft(0.0)(_ + _))
    }
  }

  test("degenerate inputs yield NULL: length mismatch, null element, " +
      "zero norm") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (Seq(Some(1.0), Some(2.0)), Seq(Some(1.0))),              // len mismatch
      (Seq(Some(1.0), None), Seq(Some(1.0), Some(2.0))),        // null element
      (Seq(Some(0.0), Some(0.0)), Seq(Some(1.0), Some(2.0))))   // zero norm
      .toDF("a", "b")
    val rows = df.selectExpr("cosine_sim(a, b)").collect()
    rows.foreach(r => assert(r.isNullAt(0), r))
  }

  test("fused dot_product keeps HOF null semantics (mismatch/null element)") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (Seq(Some(1.0), Some(2.0)), Seq(Some(3.0), Some(4.0))),   // clean: 11.0
      (Seq(Some(1.0), Some(2.0)), Seq(Some(1.0))),              // len mismatch
      (Seq(Some(1.0), None), Seq(Some(1.0), Some(2.0))))        // null element
      .toDF("a", "b").localCheckpoint()  // block constant folding
    val hofDot = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v).as("dot")
    val out = df.select(hofDot)
    assert(out.queryExecution.optimizedPlan.toString.contains("dot_product"))
    val rows = out.collect()
    assert(rows(0).getDouble(0) == 11.0)
    assert(rows(1).isNullAt(0))
    assert(rows(2).isNullAt(0))
  }

  test("null input propagates null; works via SQL text") {
    val s = spark
    import s.implicits._
    val df = Seq((Some(Seq(1.0, 2.0)), None: Option[Seq[Double]]))
      .toDF("a", "b")
    assert(df.selectExpr("cosine_sim(a, b)").collect().head.isNullAt(0))
    df.createOrReplaceTempView("cs_t")
    assert(s.sql("SELECT cosine_sim(a, a) FROM cs_t")
      .collect().head.getDouble(0) > 0.9999999)
  }
}
