package graft

import org.apache.spark.sql.functions._

/** The native merge-walk Jaccard (graft.functions.JaccardSorted) must be
  * indistinguishable from the built-in HOF formulation on sorted-distinct
  * inputs, and NULL on the degenerate cases.
  */
class JaccardSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  test("edge cases: overlap, disjoint, identical, empty, null element") {
    val rows = spark.sql(
      """SELECT
        |  jaccard_sorted(array('a','b','c'), array('b','c','d')) AS overlap,
        |  jaccard_sorted(array('a','b'), array('c','d')) AS disjoint,
        |  jaccard_sorted(array('a','b'), array('a','b')) AS same,
        |  jaccard_sorted(array('a'), CAST(array() AS ARRAY<STRING>)) AS half_empty,
        |  jaccard_sorted(CAST(array() AS ARRAY<STRING>),
        |                 CAST(array() AS ARRAY<STRING>)) AS both_empty,
        |  jaccard_sorted(array('a', CAST(NULL AS STRING)), array('a')) AS null_elem
        |""".stripMargin).head()
    assert(rows.getDouble(0) == 0.5)    // |{b,c}| / |{a,b,c,d}|
    assert(rows.getDouble(1) == 0.0)
    assert(rows.getDouble(2) == 1.0)
    assert(rows.getDouble(3) == 0.0)
    assert(rows.isNullAt(4), "0/0 must be NULL")
    assert(rows.isNullAt(5), "null element must poison to NULL")
  }

  test("native equals HOF on random sorted-distinct arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val rows = (1 to 200).map { i =>
      val a = Seq.fill(rnd.nextInt(20))(s"t${rnd.nextInt(30)}").distinct.sorted
      val b = Seq.fill(rnd.nextInt(20))(s"t${rnd.nextInt(30)}").distinct.sorted
      (i, a, b)
    }
    val df = rows.toDF("id", "a", "b")
      .withColumn("hof",
        size(array_intersect(col("a"), col("b"))).cast("double")
          / size(array_union(col("a"), col("b"))))
      .withColumn("native", expr("jaccard_sorted(a, b)"))
    // HOF yields NaN on 0/0 (division), native yields NULL — align both
    // to NULL before comparing
    val diff = df
      .withColumn("hof", when(isnan(col("hof")), lit(null)).otherwise(col("hof")))
      .filter(!(col("hof") <=> col("native")))
      .count()
    assert(diff == 0, s"$diff rows disagree between native and HOF jaccard")
  }

  test("native minhash query equals the HOF twin row-for-row") {
    val hof = SparkEntry.queries("m_minhash_dedup")(spark, sf)
    val native = SparkEntry.queries("m_minhash_dedup_native")(spark, sf)
    assert(hof.exceptAll(native).count() == 0)
    assert(native.exceptAll(hof).count() == 0)
    assert(native.count() > 0, "vacuous: no near-dup pairs at sf0.01")
  }
}
