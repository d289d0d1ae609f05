package graft

import graft.ops.Graph
import org.apache.spark.sql.functions._
import scala.util.Random

/** Pins the two round-9 graph-loop changes:
  *
  *  - k-core's size-gated LOCAL TAIL FINISH must be bit-identical to
  *    the pure-distributed peel (exact k-core is unique, so any
  *    divergence is a bug in the local peel, not a tie-break);
  *  - WCC's star-forest fixed-point probe must label randomized graphs
  *    exactly like a brute-force union-find — including graphs whose
  *    contraction passes through two-level-but-multi-parent states,
  *    the shape a naive "no center is a leaf" probe would miscall.
  */
class GraphHybridSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("k-core hybrid equals the pure-distributed peel at sf0.001") {
    val dist = Graph.kcoreForTest(spark, sf, k = 7, localTail = 0L)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted
    val local = Graph.kcoreForTest(spark, sf, k = 7,
        localTail = Long.MaxValue)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(dist.nonEmpty, "k-core is empty — the pin is vacuous")
    assert(dist.toSeq == local.toSeq,
      s"hybrid k-core diverged: distributed ${dist.length} rows vs " +
        s"local ${local.length}")
  }

  /** Brute-force WCC labels (min vertex per component) by union-find. */
  private def bruteWcc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  private def runWcc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    Graph.wcc(s, edges.toDF("src", "dst")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("wcc with the star-forest probe matches union-find on shapes " +
      "that stress the probe") {
    // a long chain (worst case for propagation, several star rounds),
    // two stars sharing no vertices, and a triangle with a pendant
    val chain = (0L until 12L).sliding(2).map(p => (p(0), p(1))).toSeq
    val stars = Seq((20L, 21L), (20L, 22L), (20L, 23L),
      (30L, 31L), (31L, 32L))
    val tri = Seq((40L, 41L), (41L, 42L), (42L, 40L), (42L, 43L))
    val edges = chain ++ stars ++ tri
    assert(runWcc(edges) == bruteWcc(edges))
  }

  test("wcc matches union-find on randomized graphs") {
    val rnd = new Random(20260815L)
    for (trial <- 1 to 8) {
      val n = 5 + rnd.nextInt(40)
      val m = 1 + rnd.nextInt(3 * n)
      val edges = Seq.fill(m)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      if (edges.nonEmpty)
        assert(runWcc(edges) == bruteWcc(edges), s"trial $trial: $edges")
    }
  }

  test("wcc keeps self-loop-only vertices as singleton components") {
    val s = spark
    import s.implicits._
    val edges = Seq((1L, 1L), (2L, 3L)).toDF("src", "dst")
    val got = Graph.wcc(s, edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 2L))
  }

  test("wcc past its round bound fails loudly, naming the loop") {
    val s = spark
    import s.implicits._
    // a 32-vertex path needs several contraction rounds, not one
    val path = (0L until 32L).sliding(2).map(p => (p(0), p(1))).toSeq
    val e = intercept[IllegalStateException](
      Graph.wcc(s, path.toDF("src", "dst"), maxIter = 1).collect())
    assert(e.getMessage.contains("WCC star contraction"), e.getMessage)
    assert(e.getMessage.contains("within 1 rounds"), e.getMessage)
  }
}
