package graft

import org.apache.spark.sql.functions._

/** Pins the plan-fingerprint MV routing of the iterative LPA artifact
  * (graft/plans/ArtifactRewrite.scala): k16_modularity spells the full
  * 4-round label-propagation derivation, and the optimizer must answer
  * every embedded copy of it from the landed label table — never by
  * re-running the loop. Also pins per-query registration scope and
  * routed ≡ unrouted results (the artifact changes cost, not answers).
  */
class ArtifactRewriteSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("k16_modularity routes every LPA copy to the landed artifact") {
    val df = SparkEntry.queries("k16_modularity")(spark, sf)
    // the logical Relation doesn't print its path — check the
    // physical scan's file index for the artifact directory
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("graft_lpa_labels"),
      s"k16 does not read the landed LPA artifact:\n$phys")
    // every one of the three derivation references must be routed: an
    // unrouted copy would leave the loop's per-round (dst, lbl)
    // argmax aggregate in the plan
    def survivors(p: org.apache.spark.sql.catalyst.plans.logical
        .LogicalPlan) = p.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
          if a.aggregateExpressions.exists(
            _.toString.contains("min(struct(nc")) => a
    }
    assert(survivors(df.queryExecution.optimizedPlan).isEmpty,
      "LPA loop round(s) survived routing in the optimized plan")
    // the WRITE path builds a fresh QueryExecution over the logical
    // plan and re-optimizes — that re-optimization must ALSO route
    // (round-7: an eager per-builder disarm made the sink path
    // silently re-run the 3× loop while queryExecution pins passed)
    val rewritten = org.apache.spark.sql.GraftSqlBridge
      .ofRows(spark, df.queryExecution.logical)
    assert(survivors(rewritten.queryExecution.optimizedPlan).isEmpty,
      "a fresh QueryExecution (the write path) no longer routes")
    // registration scope: building ANY other query disarms it, so a
    // later shape-matching query can never be stale-routed
    SparkEntry.queries("f1_groupby_agg")(spark, sf)
    assert(graft.plans.ArtifactRewrite.registeredIn(spark).isEmpty,
      "building another query did not disarm the artifact registration")
  }

  test("routing is result-invariant vs the unrouted derivation") {
    val routed = SparkEntry.queries("k16_modularity")(spark, sf)
      .collect().map(_.toSeq)
    // unrouted twin: the same score computed with the rule disarmed
    // (k16Unrouted is not a SparkEntry query, so disarm explicitly)
    graft.plans.ArtifactRewrite.register(spark, Nil)
    val direct = ops.Graph.k16Unrouted(spark, sf).collect().map(_.toSeq)
    assert(routed.toSeq == direct.toSeq,
      "routed and unrouted modularity differ")
  }

  test("a semantically different derivation must NOT route") {
    ops.Graph.armLpaArtifact(spark, sf)
    try {
      // 3 rounds instead of the registered 4 — sameResult must reject
      val p3 = ops.Graph.lpaPlanPure(spark, sf, rounds = 3)
        .queryExecution.optimizedPlan.toString
      assert(!p3.contains("graft_lpa_labels"),
        s"a 3-round LPA plan was wrongly routed to the 4-round artifact:\n$p3")
    } finally graft.plans.ArtifactRewrite.register(spark, Nil)
  }
}
