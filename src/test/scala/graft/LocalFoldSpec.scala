package graft

import graft.plans.LocalFold
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Literal, Rand,
  SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation,
  LogicalPlan, Sort}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** `LocalFold` finishes a sort or an aggregate over rows already on
  * the driver: the folded plan is a `LocalRelation` whose collect runs
  * no job, and it answers exactly what Spark answers over the same rows
  * held in a cached three-partition frame, which the rule leaves alone.
  */
class LocalFoldSpec extends SparkSpec {

  /** Null keys and values, -0.0 beside 0.0, and two NaNs with
    * different bits, as one bare `LocalRelation`. */
  private def local: DataFrame = {
    val otherNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000123L)
    def dec(s: String) = new java.math.BigDecimal(s)
    spark.createDataFrame(java.util.List.of(
        Row("a", 3L, 1.5, dec("1.25"), 1L),
        Row("b", null, -0.0, dec("2.50"), 2L),
        Row(null, 7L, 0.0, dec("-3.75"), 3L),
        Row("a", -2L, Double.NaN, dec("10.00"), 4L),
        Row("c", 3L, null, dec("0.01"), 5L),
        Row(null, null, otherNaN, dec("4.00"), 6L),
        Row("b", 11L, 2.25, dec("-1.00"), 7L)),
      StructType.fromDDL("g string, x bigint, f double, d decimal(10,2), " +
        "id bigint not null"))
  }

  /** Each query folds over the local rows, runs no job there, and
    * equals itself over the cached frame: in row order when `ordered`,
    * else as a multiset; with the same schema either way. */
  private def assertFolds(ordered: Boolean)(
      queries: (DataFrame => DataFrame)*): Unit = {
    val spread = local.repartition(3).cache()
    spread.count()
    try queries.zipWithIndex.foreach { case (q, i) =>
      val folded = q(local)
      val plan = folded.queryExecution.optimizedPlan
      assert(plan.isInstanceOf[LocalRelation], s"query $i:\n$plan")
      var got = Array.empty[Row]
      val (jobs, _) = cost { got = folded.collect() }
      assert(jobs == 0, s"query $i: $jobs jobs")
      val reference = q(spread)
      assert(reference.queryExecution.optimizedPlan
        .collectFirst { case r: LocalRelation => r }.isEmpty)
      assert(folded.schema == reference.schema, s"query $i")
      val want = reference.collect()
      def canon(rows: Array[Row]) =
        if (ordered) rows.toSeq else rows.map(_.toString).sorted.toSeq
      assert(canon(got) == canon(want), s"query $i")
    } finally spread.unpersist()
  }

  test("sorts: ascending and descending, nulls first and last, " +
    "multi-key, float keys") {
    assertFolds(ordered = true)(
      _.orderBy(col("x").asc_nulls_first, col("id")),
      _.orderBy(col("x").desc_nulls_last, col("id")),
      _.orderBy(col("g").asc_nulls_last, col("f").desc_nulls_first,
        col("id").desc),
      _.orderBy(col("g").desc_nulls_first, col("d"), col("x")),
      _.orderBy(col("f"), col("id")))
  }

  test("aggregates: count, sum of long, decimal and double, min, max, " +
    "avg, by null and float keys") {
    assertFolds(ordered = false)(
      _.groupBy("g").agg(count(lit(1)), count(col("x")), sum(col("x")),
        sum(col("d")), sum(col("f")), min(col("x")), max(col("x")),
        min(col("d")), max(col("f")), avg(col("x")), avg(col("d")),
        avg(col("f"))),
      _.groupBy("f").agg(count(lit(1)).as("n"), sum(col("id")).as("s")),
      _.groupBy(col("g"), col("x") % 2)
        .agg(max(col("g")).as("m"), (sum(col("id")) * 2).as("s")),
      _.agg(count(lit(1)), sum(col("x")), max(col("f")), min(col("g")),
        avg(col("d"))),
      _.distinct())
  }

  test("aggregates over no rows: a global one gives one row, a grouped " +
    "one none") {
    assertFolds(ordered = false)(
      _.filter(col("id") < 0).agg(count(lit(1)), sum(col("x")),
        avg(col("d"))),
      _.filter(col("id") < 0).groupBy("g").agg(count(lit(1))))
    // the rule itself, on an aggregate right over a relation of no rows
    val none = spark.createDataFrame(java.util.List.of[Row](),
      local.select("g", "x").schema)
    val global = LocalFold(
      none.agg(count(lit(1)), sum(col("x"))).queryExecution.analyzed)
    val grouped = LocalFold(
      none.groupBy("g").agg(count(lit(1))).queryExecution.analyzed)
    assert(global.isInstanceOf[LocalRelation], global)
    assert(global.asInstanceOf[LocalRelation].data.map(r =>
      (r.getLong(0), r.isNullAt(1))) == Seq((0L, true)))
    assert(grouped.isInstanceOf[LocalRelation], grouped)
    assert(grouped.asInstanceOf[LocalRelation].data.isEmpty)
  }

  test("a limit or a projection above a folded node folds too") {
    assertFolds(ordered = true)(
      _.orderBy(col("id").desc).limit(3)
        .select((col("id") * 2).as("id2"), col("g")),
      _.groupBy("g").agg(sum(col("x")).as("s"))
        .select(col("g"), (col("s") + 1).as("s1"))
        .orderBy(col("g").asc_nulls_first).limit(2))
  }

  test("sorts and aggregates the rule does not fold keep their node") {
    def kept(df: DataFrame)(node: PartialFunction[LogicalPlan, Unit]) =
      assert(df.queryExecution.optimizedPlan.collectFirst(node).nonEmpty,
        df.queryExecution.optimizedPlan)
    val sort: PartialFunction[LogicalPlan, Unit] = { case _: Sort => }
    val agg: PartialFunction[LogicalPlan, Unit] = { case _: Aggregate => }
    kept(local.agg(count_distinct(col("g"))))(agg)
    kept(local.agg(expr("sum(x) FILTER (WHERE x > 1)")))(agg)
    kept(local.groupBy("g").agg(collect_list(col("x"))))(agg)
    // the analyzer moves a nondeterministic sort key into a projection
    // below the sort, so the rule sees one only in a hand-built plan;
    // a streaming relation is never folded
    val rel = local.queryExecution.analyzed.asInstanceOf[LocalRelation]
    val byRand = Sort(Seq(SortOrder(Rand(Literal(7L)), Ascending)),
      global = true, rel)
    val streaming = Seq(local.orderBy("id"), local.groupBy("g").agg(sum("x")))
      .map(_.queryExecution.analyzed.transformUp {
        case l: LocalRelation => l.copy(isStreaming = true)
      })
    for (p <- byRand +: streaming)
      assert(LocalFold(p) fastEquals p, p)
  }
}
