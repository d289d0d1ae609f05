package graft

import org.apache.spark.sql.functions._

/** Toy-graph pins for the k-truss peel (k25_ktruss): known trusses on
  * hand-checkable graphs, including the cascade case where removing
  * support-starved edges destroys a previously-supported edge.
  */
class KtrussSpec extends SparkSpec {

  private def edges(pairs: (Int, Int)*) = {
    val s = spark
    import s.implicits._
    pairs.toDF("a", "b")
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
  }

  private def run(k: Int, pairs: (Int, Int)*): Set[(Int, Int)] =
    graft.ops.Graph.ktrussEdgesDegree(edges(pairs: _*), k)
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet

  // two triangles sharing edge (2,3), plus a pendant edge (4,5)
  private val twoTri = Seq((1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (4, 5))

  test("3-truss keeps both triangles, drops the pendant") {
    assert(run(3, twoTri: _*) ==
      Set((1, 2), (1, 3), (2, 3), (2, 4), (3, 4)))
  }

  test("4-truss cascade empties the shared-edge pair of triangles") {
    // only (2,3) starts with support 2; every other triangle edge has
    // support 1 and is peeled in round 1, which starves (2,3) — the
    // cascade the fixpoint loop must follow through
    assert(run(4, twoTri: _*) == Set.empty)
  }

  test("4-truss retains K4 exactly") {
    val k4 = Seq((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4))
    // inside K4 every edge closes exactly 2 triangles
    assert(run(4, (k4 ++ Seq((4, 5), (5, 6))): _*) == k4.toSet)
  }

  test("explicit trusses on twoTri, K4+tail and a mid-id hub") {
    // every toy at k = 3 and k = 4, through the k=4 cascade and on a
    // MID-ID hub (vertex 50 below has max degree but neither min nor
    // max id, the case where id orientation centres all wedges on the
    // hub)
    assert(run(3, twoTri: _*) ==
      Set((1, 2), (1, 3), (2, 3), (2, 4), (3, 4)), "twoTri k=3")
    assert(run(4, twoTri: _*) == Set.empty, "twoTri k=4")
    val k4 = Seq((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4))
    val g = k4 ++ Seq((4, 5), (5, 6))
    assert(run(3, g: _*) == k4.toSet, "K4+tail k=3")
    assert(run(4, g: _*) == k4.toSet, "K4+tail k=4")
    // triangles 50-1-2, 50-2-3, 50-3-4 and 50-60-61; at k=4 only
    // (2,50) and (3,50) carry support 2, and alone they close nothing
    val hub = (1 to 30).map(i => (50, i)) ++
      Seq((1, 2), (2, 3), (3, 4), (60, 61)) ++
      Seq((50, 60), (50, 61))
    assert(run(3, hub: _*) == Set((1, 2), (2, 3), (3, 4), (1, 50),
      (2, 50), (3, 50), (4, 50), (50, 60), (50, 61), (60, 61)),
      "mid-id hub k=3")
    assert(run(4, hub: _*) == Set.empty, "mid-id hub k=4")
  }

  test("fixture query emits per-vertex truss degrees") {
    val rows = SparkEntry.queries("k25_ktruss")(
      spark, "/root/testdata/sf0.001").collect()
    // every surviving vertex has degree >= 2 (each edge in a 3-truss
    // closes a triangle, so each endpoint has two truss neighbours)
    assert(rows.forall(_.getLong(1) >= 2))
  }
}
