package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.functions._

/** graft's one session set-up (`GraftFunctions.install`, run by every
  * `SparkEntry.queries` builder) and the scope of rewrite routing,
  * which is carried on the plan that asks for it: a routed query stays
  * routed however many other queries are built before it runs, and a
  * plan that did not ask is never routed. Which queries ran before, and
  * in which order, changes neither answers nor plans.
  */
class SessionSetupSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def executed(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Aggregates of the LPA loop's per-round argmax left in `p`: each is
    * one round that was not answered from the landed labels. */
  private def lpaRounds(p: LogicalPlan): Seq[LogicalPlan] = p.collect {
    case a: Aggregate
        if a.aggregateExpressions.exists(_.toString.contains("min(struct(nc")) =>
      a
  }

  private def k16Routed(df: DataFrame): Boolean =
    executed(df).contains("graft_lpa_labels") &&
      lpaRounds(df.queryExecution.optimizedPlan).isEmpty

  private def mvRouted(df: DataFrame): Boolean = {
    val p = executed(df)
    p.contains("graft_mv_li_flag") && !p.contains("lineitem.parquet")
  }

  /** Order-free hash of a result's rows. */
  private def rowHash(df: DataFrame): Int =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq.hashCode

  test("a routed query built before another query still routes") {
    val k16 = SparkEntry.queries("k16_modularity")(spark, sf)
    SparkEntry.queries("m_mv_rewrite")(spark, sf)
    k16.collect()
    assert(executed(k16).contains("graft_lpa_labels"),
      s"k16 no longer reads the landed LPA labels:\n${executed(k16)}")
    assert(lpaRounds(k16.queryExecution.optimizedPlan).isEmpty,
      "an LPA round survived in k16's executed plan")
  }

  test("routed queries built on two threads at once all route") {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      def runs(q: String, routed: DataFrame => Boolean) = Future {
        (1 to 3).map { _ =>
          val df = SparkEntry.queries(q)(spark, sf)
          val h = rowHash(df)
          assert(routed(df), s"a concurrent $q run was not routed")
          h
        }
      }
      val mv = runs("m_mv_rewrite", mvRouted)
      val k16 = runs("k16_modularity", k16Routed)
      Seq(mv, k16).foreach { f =>
        assert(Await.result(f, 10.minutes).distinct.size == 1)
      }
    } finally pool.shutdown()
  }

  test("an unwrapped aggregate of the routed shape scans the base table") {
    val routed = SparkEntry.queries("m_mv_rewrite")(spark, sf)
    val plain = Tables.rawTable(spark, sf, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(sum(floor(col("l_quantity"))).as("qty_sum"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
    assert(executed(plain).contains("lineitem.parquet"),
      s"a plain aggregate was routed to the summary:\n${executed(plain)}")
    assert(mvRouted(routed))
    assert(rowHash(routed) == rowHash(plain))
  }

  test("m_mv_rewrite's write path still routes") {
    val df = SparkEntry.queries("m_mv_rewrite")(spark, sf)
    // a sink builds a fresh QueryExecution over the logical plan
    val fresh = GraftSqlBridge.ofRows(spark, df.queryExecution.logical)
    assert(mvRouted(fresh),
      s"the write path no longer routes:\n${executed(fresh)}")
  }

  test("query order changes neither answers nor plans") {
    val qs = Seq("f8_corr_matrix_native", "m_bloom_prune", "m_cms_freq",
      "w_topk_native", "m_mv_rewrite", "k16_modularity")
    // expression ids are minted per JVM, in build order
    def plan(df: DataFrame): String =
      df.queryExecution.optimizedPlan.toString.replaceAll("#\\d+L?", "#")
    def inOrder(order: Seq[String]): Map[String, (Int, String)] = {
      val s: SparkSession = Sessions.child(spark)
      order.map { q =>
        val df = SparkEntry.queries(q)(s, sf)
        q -> (rowHash(df), plan(df))
      }.toMap
    }
    val forward = inOrder(qs)
    val reversed = inOrder(qs.reverse)
    val shuffled = inOrder(new scala.util.Random(7).shuffle(qs))
    qs.foreach { q =>
      assert(reversed(q) == forward(q), s"$q differs in reversed order")
      assert(shuffled(q) == forward(q), s"$q differs in shuffled order")
    }
  }
}
