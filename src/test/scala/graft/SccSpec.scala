package graft

import graft.ops.Graph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SCC correctness on known graphs + randomized cross-check against a
  * brute-force transitive-closure oracle (SURVEY §5 property tests).
  */
class SccSpec extends SparkSpec {

  /** Run graft SCC on an edge list over vertices 0..n-1. */
  private def runScc(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    val v = (0L until n.toLong).toDF("v")
    val e = if (edges.isEmpty) Seq((-1L, -1L)).toDF("src", "dst").limit(0)
            else edges.toDF("src", "dst")
    Graph.scc(s, v, e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Brute-force components: Floyd–Warshall reachability, component =
    * min mutually-reachable vertex (the label contract of Graph.scc). */
  private def bruteScc(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val reach = Array.fill(n, n)(false)
    edges.foreach { case (a, b) => reach(a.toInt)(b.toInt) = true }
    for (k <- 0 until n; i <- 0 until n; j <- 0 until n)
      if (reach(i)(k) && reach(k)(j)) reach(i)(j) = true
    (0 until n).map { v =>
      val comp = (0 until n)
        .filter(u => u == v || (reach(v)(u) && reach(u)(v))).min
      v.toLong -> comp.toLong
    }.toMap
  }

  test("3-cycle with a tail: cycle is one component, tail is singleton") {
    val got = runScc(4, Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L)))
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L))
  }

  test("two disjoint cycles stay separate components") {
    val got = runScc(5, Seq((0L, 1L), (1L, 0L), (2L, 3L), (3L, 4L), (4L, 2L)))
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 2L, 4L -> 2L))
  }

  test("a DAG is all singletons") {
    val got = runScc(4, Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L)))
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("empty edge set: every vertex its own component") {
    val got = runScc(3, Seq.empty)
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L))
  }

  test("randomized graphs match the brute-force oracle") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 4) {
      val n = 5 + rnd.nextInt(4)
      val edges = (for {
        a <- 0 until n; b <- 0 until n
        if a != b && rnd.nextDouble() < 0.25
      } yield (a.toLong, b.toLong)).toSeq
      val got = runScc(n, edges)
      val want = bruteScc(n, edges)
      assert(got == want, s"trial $trial: n=$n edges=$edges")
    }
  }

  test("BFS: path, branch, cycle, and unreachable node distances") {
    import spark.implicits._
    // 0→1→2→3 path with a shortcut 0→2, a cycle back-edge 3→0, an
    // island 9→10 unreachable from 0, and an edge with no src into 11
    val edges = Seq((Some(0L), 1L), (Some(1L), 2L), (Some(2L), 3L),
      (Some(0L), 2L), (Some(3L), 0L), (Some(9L), 10L), (None, 11L))
      .toDF("src", "dst")
    val got = ops.Graph.bfs(spark, edges, 0L)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // shortcut wins (2 at dist 1, not 2); cycle doesn't relabel 0;
    // island and 11 absent
    assert(got == Map(0L -> 0, 1L -> 1, 2L -> 1, 3L -> 2))
  }

  test("BFS: maxIter bounds the horizon") {
    import spark.implicits._
    val chain = (0L until 6L).sliding(2).map(p => (p(0), p(1))).toSeq
      .toDF("src", "dst")
    val got = ops.Graph.bfs(spark, chain, 0L, maxIter = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(0L -> 0, 1L -> 1, 2L -> 2, 3L -> 3))
  }

  test("keyed frontier: two sources in one frame equal per-source BFS") {
    import spark.implicits._
    // the BFS toy graph above; source 3 reaches the path back through
    // the cycle edge 3→0, so the two searches overlap on every vertex
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (0L, 2L), (3L, 0L),
      (9L, 10L)).toDF("src", "dst")
    val seeds = Seq((0L, 0L), (3L, 3L)).toDF("source", "id")
    val keyed = ops.Graph.frontier(edges, seeds,
        Seq("source"), hops = 10, maxIter = 10)
      .collect().groupBy(_.getLong(0))
      .map { case (src, rows) =>
        src -> rows.map(r => r.getLong(1) -> r.getInt(2)).toMap }
    for (src <- Seq(0L, 3L)) {
      val single = ops.Graph.bfs(spark, edges, src)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(keyed(src) == single, s"source $src")
    }
    assert(keyed(3L) == Map(3L -> 0, 0L -> 1, 1L -> 2, 2L -> 2))
  }

  test("frontier and SSSP rounds: one Spark job each, nothing " +
    "recompiled on a repeat") {
    import spark.implicits._
    // cached and src-partitioned, the way the graph queries hold edges
    def cachedBySrc(df: DataFrame) = {
      val c = df.repartition(col("src")).cache()
      c.count()
      c
    }
    val edges = cachedBySrc(Seq((0L, 1L), (1L, 2L), (2L, 3L), (0L, 2L),
      (3L, 0L), (9L, 10L)).toDF("src", "dst"))
    val weighted = cachedBySrc(weightedChain())
    val cycleTail = cachedBySrc(
      Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L)).toDF("src", "dst"))
    val verts = (0L until 4L).toDF("v").cache()
    verts.count()
    // bfs {0} → {1,2} → {3} → {}; the keyed search from 3 goes
    // {3} → {0} → {1,2} → {}; sssp improves 1, then 2, then nothing:
    // three rounds each, the last one finding nothing new. scc peels
    // once: colours change {0}, then {1}, then nothing; the backward
    // search from the roots {2, 3} admits {1}, then {0}, then nothing;
    // one more job collects the vertex ids
    val loops = Seq[(String, Int, () => DataFrame)](
      ("bfs", 3, () => Graph.bfs(spark, edges, 0L)),
      ("keyed frontier", 3, () => Graph.frontier(edges,
        Seq((0L, 0L), (3L, 3L)).toDF("source", "id"), Seq("source"))),
      ("sssp", 3, () => Graph.sssp(spark, weighted, 0L)),
      ("scc", 3 + 3 + 1, () => Graph.scc(spark, verts, cycleTail)))
    try {
      for ((name, want, loop) <- loops) {
        val (jobs, _) = cost(loop().collect())
        assert(jobs == want, s"$name: $jobs jobs, want $want")
        val (again, compiled) = cost(loop().collect())
        assert(again == want, s"$name repeated: $again jobs, want $want")
        assert(compiled == 0, s"$name repeated: $compiled classes compiled")
        // the rounds run on a scan planned once: at most the seed or
        // vertex collect is a planned query
        val (_, sqls, _) = counts(loop())
        assert(sqls <= 1, s"$name: $sqls SQL executions, want at most 1")
      }
      // the sort of the loop's driver-held result runs no job
      val (sorted, _) = cost(Graph.bfs(spark, edges, 0L).orderBy("id")
        .collect())
      assert(sorted == 3, s"sorted bfs: $sorted jobs, want the 3 rounds")
    } finally Seq(edges, weighted, cycleTail, verts).foreach(_.unpersist())
  }

  test("a driver-held loop state over the row bound fails, naming the " +
    "loop and the bound") {
    Graph.checkDriverRows("toy loop", Graph.driverRowBound)
    val e = intercept[IllegalStateException](
      Graph.checkDriverRows("toy loop", Graph.driverRowBound + 1))
    assert(e.getMessage.contains("toy loop"), e.getMessage)
    assert(e.getMessage.contains(s"bound of ${Graph.driverRowBound}"),
      e.getMessage)
  }

  /** 0 →(2) 1 →(3) 2: two productive relaxation rounds, then one
    * round that improves nothing. */
  private def weightedChain() = {
    import spark.implicits._
    Seq((0L, 1L, 2L), (1L, 2L, 3L)).toDF("src", "dst", "w")
  }

  test("SSSP converging on round maxIter returns the distances") {
    val got = ops.Graph.sssp(spark, weightedChain(), 0L, maxIter = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 2L, 2L -> 5L))
  }

  test("SSSP one round short of its bound fails loudly, naming the loop") {
    val e = intercept[IllegalStateException](
      ops.Graph.sssp(spark, weightedChain(), 0L, maxIter = 2).collect())
    assert(e.getMessage.contains("SSSP relaxation"), e.getMessage)
    assert(e.getMessage.contains("within 2 rounds"), e.getMessage)
  }
}
