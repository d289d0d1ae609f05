package graft

import graft.ops.Graph
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import scala.util.Random

/** Pins the round-13 int-encoded vertex space for the string-keyed
  * graph loops (k7 k-core, k8 LPA, k28 coreness — guide §2.3 "narrower
  * types"):
  *
  *  - `encodeVid` must be an ORDER-PRESERVING bijection from
  *    `v<digits>` ids to longs — the LPA tie-breaks and the coreness
  *    min/max rollups are exact only under that property;
  *  - `decodeVid` must invert it exactly;
  *  - ids the codec cannot represent must fail LOUD (truncation would
  *    be a silent wrong answer at some future scale);
  *  - the int edge twin must keep the loop-invariant partitioning
  *    contract (no Exchange under src-keyed consumers — the
  *    GraphLoopPlanSpec pin, re-asserted on the encoded table);
  *  - the int-mapped LPA rounds must produce labels BIT-IDENTICAL to
  *    the original pure string formulation (`lpaPlanPure`, which stays
  *    string-keyed as the k16 artifact fingerprint).
  */
class VidCodecSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("encodeVid is an order-preserving bijection on v<digits> ids") {
    val s = spark
    import s.implicits._
    val rnd = new Random(20260819L)
    // mixed digit lengths, including pad-collision shapes ('v12' vs
    // 'v120' vs 'v1200') and the extremes of the supported range
    val ids = (Seq(1L, 2L, 9L, 10L, 12L, 120L, 1200L, 19L, 190L, 199L,
      21L, 100L, 99999L, 100000L) ++
      Seq.fill(400)(math.abs(rnd.nextLong()) % 99999999999999999L + 1))
      .distinct.map(n => s"v$n")
    val out = ids.toDF("id")
      .select(col("id"), Graph.encodeVid(col("id")).as("vid"))
      .select(col("id"), col("vid"), Graph.decodeVid("vid").as("back"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    // bijection: decode inverts encode on every id
    out.foreach { case (id, _, back) =>
      assert(back == id, s"decode(encode($id)) = $back")
    }
    // order preservation: sorting by the long sorts like the string
    val byStr = out.sortBy(_._1).map(_._1).toSeq
    val byVid = out.sortBy(_._2).map(_._1).toSeq
    assert(byStr == byVid, "encoded order diverged from string order")
    // injective on this sample (implied by bijection, asserted anyway)
    assert(out.map(_._2).distinct.length == out.length)
  }

  test("encodeVid fails loud on unencodable ids instead of truncating") {
    val s = spark
    import s.implicits._
    for (bad <- Seq("v123456789012345678", // 18 digits: over the width
                    "w123", "vx1")) {      // non-v<digits> shapes
      val ex = intercept[Exception] {
        Seq(bad).toDF("id").select(Graph.encodeVid(col("id")).as("vid"))
          .collect()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(ex).exists(_.contains("unencodable vertex id")),
        s"wrong failure for '$bad': $ex")
    }
  }

  private def physical(df: org.apache.spark.sql.DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }

  test("src-keyed aggregate over the INT edge twin plans no exchange") {
    val e = Graph.symEdgesIntBySrc(spark, sf)
    e.count() // materialize: see GraphLoopPlanSpec on AQE partitioning
    val plan = physical(e.groupBy("src").agg(count(lit(1)).as("deg")))
    assert(plan.collect { case ex: ShuffleExchangeExec => ex }.isEmpty,
      s"src-keyed aggregate re-shuffled the int edge table:\n$plan")
    assert(plan.collectFirst { case s: InMemoryTableScanExec => s }.isDefined,
      s"no InMemoryTableScan — int edge cache not used:\n$plan")
  }

  test("int-mapped LPA labels equal the pure string formulation") {
    // lpaPlanPure is the UNCHANGED string-keyed derivation (the k16
    // artifact fingerprint); the int-mapped checkpointed loop must
    // reproduce its labels exactly — tie-breaks included
    val want = Graph.lpaPlanPure(spark, sf, rounds = 4)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val got = Graph.lpaLabels(spark, sf, rounds = 4)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got.nonEmpty, "LPA labels empty — the pin is vacuous")
    assert(got == want,
      s"int-mapped LPA diverged: ${got.size} vs ${want.size} labels, " +
        s"diff example: ${(got diff want).take(3)} / ${(want diff got).take(3)}")
  }
}
