package graft.ops

import graft.Ckpt
import graft.Ckpt.StageOps
import graft.{Oracles, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY §2 K — strongly connected components without GraphFrames.
  *
  * The reference calls `GraphFrame(...).stronglyConnectedComponents(maxIter
  * = 10)` (`graph_filter.py:125-129`) on vertices/edges capped at 100k rows.
  * We re-implement the same published coloring algorithm (Orzan 2004 /
  * Slota et al. 2014 — the algorithm GraphFrames' Pregel SCC also uses) as
  * an explicit driver loop over DataFrames:
  *
  *   1. Forward-propagate the MAX vertex id to a fixpoint:
  *      `color(v)` = max id that can reach v.
  *   2. Vertices with `color(v) == v` are roots. The SCC of a root r is
  *      every v with color r that can reach r — and any v→…→r path stays
  *      entirely inside color class r (max-id argument), so a backward BFS
  *      along same-color edges finds it exactly.
  *   3. Peel the found SCCs off, repeat on the remainder.
  *
  * Scale design: every loop iteration is a pair of shuffles (join + partial
  * max-aggregate) — the standard cost of iterative graph algorithms on
  * Spark. [[graft.Ckpt.stage]] after each iteration truncates lineage so the
  * plan does not grow (SURVEY §4 "iterative plan-size control") — local
  * blocks at `local[N]`, RELIABLE files under `SPARK_GRAFT_RELIABLE_CKPT`
  * on a cluster, where executor loss would otherwise kill the loop
  * unrecoverably (blocks and lineage both gone); converged
  * SCCs are removed from the frontier so later iterations shrink. Final
  * labels are the MIN member id of each component — deterministic and
  * engine-independent (GraphFrames' raw labels are not).
  *
  * The query caps the graph at vertex key < 500 — the deterministic
  * analogue of the reference's `limit(100_000)` (H4; SURVEY notes bare
  * limit is a non-deterministic subset, so we cap by key instead).
  */
object Graph {

  /** SCC over (vertices: "v" long, edges: "src","dst" long, both endpoints
    * present in vertices). Returns ("id", "component"), component = min
    * member id.
    */
  def scc(spark: SparkSession, vertices: DataFrame, edges0: DataFrame,
          maxOuterIter: Int = 50): DataFrame = {
    val (verts, nVerts) = Ckpt.stageCounted(
      vertices.select(col("v").cast("long").as("v")).distinct())
    val distinctEdges = edges0
      .select(col("src").cast("long").as("src"),
              col("dst").cast("long").as("dst"))
      .distinct().stageCkpt()
    val noneAssigned = verts.limit(0)
      .select(col("v"), col("v").as("component"))
    // each outer round peels >= 1 SCC; every inner loop is bounded by
    // the vertex count it runs over (a max-id colour or a BFS frontier
    // travels at most |V| - 1 hops, so round |V| witnesses the end)
    val (_, _, _, assigned) = Ckpt.fixpoint("SCC outer peel", maxOuterIter)(
      ((verts, nVerts, distinctEdges, noneAssigned), nVerts == 0)) {
      case ((remaining, remainingCount, edges, assigned), _) =>
        // -- 1. color(v) := max id reaching v, to fixpoint; the
        // changed-row count compares the round's output with the old
        // colour already in hand from the left join
        val colors = Ckpt.fixpoint("SCC colour propagation", remainingCount)(
          (remaining.select(col("v"), col("v").as("color")).stageCkpt(),
            false)) { (cur, _) =>
          val inMax = edges.join(cur, edges("src") === cur("v"))
            .groupBy(col("dst")).agg(max(col("color")).as("in_color"))
          val obs = org.apache.spark.sql.Observation()
          val next = cur.join(inMax, cur("v") === inMax("dst"), "left")
            .select(cur("v"), col("color").as("old"),
              greatest(col("color"),
                coalesce(col("in_color"), lit(Long.MinValue))).as("color"))
            .observe(obs, sum(when(col("color") =!= col("old"), 1L)
              .otherwise(0L)).as("c"))
            .select(col("v"), col("color"))
            .stageCkpt()
          (next, Ckpt.observedLong(obs, "c") == 0)
        }

        // -- 2. roots + backward BFS along same-color edges
        val srcCol = colors.withColumnRenamed("v", "src")
          .withColumnRenamed("color", "src_color")
        val dstCol = colors.withColumnRenamed("v", "dst")
          .withColumnRenamed("color", "dst_color")
        val sameColorEdges = edges.join(srcCol, Seq("src"))
          .join(dstCol, Seq("dst"))
          .filter(col("src_color") === col("dst_color"))
          .select(col("dst").as("src"), col("src").as("dst")).stageCkpt()
        val roots = Ckpt.stageCounted(colors
          .filter(col("v") === col("color"))
          .select(col("color").as("component"), col("v").as("id")))
        val reached = frontier(sameColorEdges, roots, Seq("component"),
          maxIter = remainingCount)
          .select(col("id").as("v"), col("component"))

        // -- 3. peel off the found SCCs
        val (left, leftCount) = Ckpt.stageCounted(
          remaining.join(reached, Seq("v"), "left_anti"))
        val leftEdges = edges
          .join(left.withColumnRenamed("v", "src"), Seq("src"))
          .join(left.withColumnRenamed("v", "dst"), Seq("dst"))
          .select(col("src"), col("dst")).stageCkpt()
        ((left, leftCount, leftEdges, assigned.union(reached)),
          leftCount == 0)
    }

    // -- relabel: component := min member id (deterministic)
    val labels = assigned.groupBy(col("component"))
      .agg(min(col("v")).as("label"))
    assigned.join(labels, Seq("component"))
      .select(col("v").as("id"), col("label").as("component"))
  }

  /** The k1/k2 queries share one SCC run per (session, sfDir): the loop
    * is driver-coordinated (many jobs), so recomputing it per query
    * would double the most expensive part of the graph surface. The
    * final labeling is persisted in the session memo; the loop's
    * intermediates are already localCheckpointed.
    */
  private def cappedScc(s: SparkSession, d: String): DataFrame =
    Tables.cached(s, d, "scc")(scc(s, cappedVerts(s, d), cappedEdges(s, d)))

  /** Capped video graph: vertices = orderkeys < 2000, edges within.
    * Cap 2000 (raised from 500 per VERDICT r2/r3): the denser low-key
    * region contains a genuine multi-member giant SCC at every fixture
    * sf, so k1/k2 exercise — and the oracle verifies — the mutual-
    * reachability case the reference's graph job exists for
    * (`graph_filter.py:143-157`), not an all-singleton labeling.
    */
  private val cap = 2000

  /** Loop-invariant edge tables for the iterative operators, hash-
    * partitioned on `src` and persisted once per (session, dir).
    * Partitioning survives InMemoryRelation (unlike localCheckpoint's
    * LogicalRDD, which forgets it — probed on this Spark build), so
    * every per-round join or aggregate keyed on `src` skips the
    * edge-side Exchange entirely: only the label/frontier side (|V|
    * rows, not |E|) shuffles each round. Measured at sf0.1: the k3/k5/
    * k7/k8 loops each dropped one full-edge-set exchange per round.
    */
  private def cachedBySrc(s: SparkSession, d: String, key: String)(
      build: => DataFrame): DataFrame =
    Tables.cached(s, d, key)(build.repartition(col("src")))

  /** Symmetrized full video graph (k7 k-core, k8 LPA). */
  private[graft] def symEdgesBySrc(s: SparkSession, d: String): DataFrame =
    cachedBySrc(s, d, "symEdgesBySrc") {
      val de = Tables.videoEdges(s, d)
      de.unionByName(de.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
    }

  /** Order-preserving long encoding of the video graph's `v<digits>`
    * vertex ids (guide §2.3 "narrower types"): the iterative loops
    * (k7 k-core, k8 LPA, k28 coreness) re-shuffle vertex keys every
    * round, and an 8-byte long roughly halves each round's shuffled
    * key bytes vs a 10-16 byte UTF8 string while hashing and
    * comparing faster. It is a PURE EXPRESSION both ways — no
    * dictionary build, no |V|-row map-back join: the digit suffix is
    * right-padded with '0' to width 17 (right-padding with the
    * smallest digit preserves lexicographic order over digit
    * strings) and packed with the digit count to break pad
    * collisions ('v12' vs 'v120'):
    *
    *   enc('v' || s) = toLong(rpad(s, 17, '0')) * 18 + len(s)
    *
    * ORDER PROOF: for digit strings x != y, if neither prefixes the
    * other the first differing digit decides the padded values and
    * the string order identically; if x properly prefixes y then
    * pad(x) <= pad(y) (y continues with digits >= '0') and on pad
    * equality the shorter length wins — exactly the string order.
    * INJECTIVE: (pad, len) recovers the digits exactly (first `len`
    * chars of the 17-digit pad; ids carry no leading zeros).
    * RANGE: enc <= (10^17 - 1) * 18 + 17 < 2^63. Keys beyond 17
    * digits (or non-`v<digits>` ids) raise loudly instead of
    * truncating — TPC-H orderkeys reach 12 digits at sf ~ 100k
    * (about 100 TB), five digits under the ceiling.
    */
  private val vidDigits = 17
  private[graft] def encodeVid(id: Column): Column = {
    val enc =
      rpad(substring(id, 2, vidDigits), vidDigits, "0").cast("long") *
        (vidDigits + 1) + (length(id) - 1)
    // reject, loudly, BEFORE the cast can throw a bare ANSI error or
    // rpad can silently truncate: the id must be 'v' + 1..17 digits
    // with no leading zero ('v0' alone is legal). CaseWhen branches
    // evaluate lazily, so the cast never sees a malformed id.
    when(!id.rlike("^v(0|[1-9][0-9]{0,16})$"),
      raise_error(concat(lit("encodeVid: unencodable vertex id: "), id)))
      .otherwise(enc)
  }
  private[graft] def decodeVid(name: String): Column =
    expr(s"concat('v', substr(cast(($name div ${vidDigits + 1}) as " +
      s"string), 1, cast(($name % ${vidDigits + 1}) as int)))")

  /** Int-encoded twin of [[symEdgesBySrc]] — the edge table the
    * string-keyed iterative loops actually run on since round 13
    * (built once per (session, dir) FROM the cached string table, so
    * the distinct is never recomputed; same src partitioning + persist
    * contract as every [[cachedBySrc]] table). k16's modularity /
    * artifact-rewrite path stays on the string table: its plan
    * fingerprints and landed label artifact are keyed to the string
    * formulation, and its joins are not per-round loop shuffles.
    */
  private[graft] def symEdgesIntBySrc(s: SparkSession, d: String): DataFrame =
    cachedBySrc(s, d, "symEdgesIntBySrc") {
      symEdgesBySrc(s, d)
        .select(encodeVid(col("src")).as("src"),
          encodeVid(col("dst")).as("dst"))
    }

  /** Distinct capped directed graph (k3 PageRank, k5 BFS). */
  private def cappedDistinctBySrc(s: SparkSession, d: String): DataFrame =
    cachedBySrc(s, d, "cappedDistinctBySrc") {
      cappedEdges(s, d).distinct()
    }

  /** Per-vertex triangle membership counts over an arbitrary directed
    * edge list ("src", "dst"): self-loops dropped, edges de-duplicated
    * and oriented low-id -> high-id, triangles found as wedge + closing
    * edge (two equi-joins — see `k4_triangle_count` for the plan-shape
    * and degree-orientation discussion). Exposed for TriangleSpec's toy
    * graphs.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = edges
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val wedges = und
      .join(und.select(col("a").as("b"), col("b").as("c")), Seq("b"))
    wedges
      .join(und.select(col("a"), col("b").as("c")), Seq("a", "c"))
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Per-RIGHT-vertex butterfly (2x2-biclique) membership counts over a
    * bipartite ("o", "p") edge list: edges de-duplicated, wedges
    * generated from the "o" side (see `k27_butterflies` for the
    * side-selection scale discussion), each right-vertex pair with c
    * common left-neighbours contributing C(c,2) butterflies to both
    * endpoints. Returns ("id", "n_butterflies") — one row per right
    * vertex participating in >= 1 butterfly. Exposed for
    * GraphFuzzSpec's seeded random bipartite graphs.
    */
  def butterflyCounts(edges: DataFrame): DataFrame = {
    // staged: both wedge self-join sides consume the distinct table —
    // unstaged, the full bipartite distinct shuffle ran twice
    val e = edges.select(col("o"), col("p")).distinct().stageCkpt()
    val pairs = e.as("a")
      .join(e.select(col("o"), col("p").as("p2")).as("b"), Seq("o"))
      .filter(col("p") < col("p2"))
      .groupBy(col("p").as("p1"), col("p2"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
    pairs
      .select(explode(array(col("p1"), col("p2"))).as("id"),
        expr("(c * (c - 1)) div 2").as("bf"))
      .groupBy("id")
      .agg(sum(col("bf")).cast("bigint").as("n_butterflies"))
  }

  /** Shared oracle for BOTH triangle formulations (`k4_triangle_count`,
    * `k4b_triangle_degree`): per-vertex membership counts are orientation-
    * independent, so the id-oriented and degree-oriented plans must
    * hash-match the same SQL.
    */
  private lazy val k4Oracle: Option[String] = Some(
    s"""WITH und AS (
       |  SELECT DISTINCT least(l_orderkey, l_partkey) AS a,
       |                  greatest(l_orderkey, l_partkey) AS b
       |  FROM lineitem
       |  WHERE l_orderkey < $cap AND l_partkey < $cap
       |    AND l_orderkey <> l_partkey
       |), tri AS (
       |  SELECT t1.a, t1.b, t2.b AS c
       |  FROM und t1
       |  JOIN und t2 ON t2.a = t1.b
       |  JOIN und t3 ON t3.a = t1.a AND t3.b = t2.b
       |), ex AS (
       |  SELECT unnest([a, b, c]) AS id FROM tri)
       |SELECT id, CAST(count(*) AS BIGINT) AS n_triangles
       |FROM ex GROUP BY id
       |ORDER BY n_triangles DESC, id LIMIT 20""".stripMargin)

  private def cappedVerts(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).filter(col("o_orderkey") < cap)
      .select(col("o_orderkey").as("v"))

  /** k25/k25b shared constants, interpolated into BOTH the Spark peel
    * and the DuckDB oracle so the truss order and the oracle's unroll
    * depth cannot drift apart (changing either side alone would
    * silently break the cross-engine equivalence).
    */
  private val ktrussK = 3
  private val ktrussRounds = 4

  /** Canonical (a<b, distinct, loop-free) undirected edge list the
    * k-truss peel reads. */
  private def ktrussInput(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") =!= col("l_partkey"))
      .select(least(col("l_orderkey"), col("l_partkey")).as("a"),
        greatest(col("l_orderkey"), col("l_partkey")).as("b"))
      .distinct()

  /** k25 and k25b run the IDENTICAL degree-oriented peel on the
    * identical input (k25b is the explicitly-declared [EXT] twin kept
    * plan-identical since the round-12 k25 routing), so the surviving
    * edge set is shared per (session, dir) exactly like the SCC
    * labeling k1/k2 share ([[cappedScc]]): the peel — a driver-
    * coordinated loop of ~2 rounds, the expensive part — runs once per
    * session and both queries roll their vertex degrees off the same
    * persisted ~|truss| frame (round-12 optimization; measured 2.6 s
    * saved per bench pass at sf0.1, result hash unchanged by
    * construction).
    */
  private def cachedTrussEdges(s: SparkSession, d: String): DataFrame =
    Tables.cached(s, d, "trussDegree")(ktrussEdgesDegree(ktrussInput(s, d),
      k = ktrussK, maxIter = ktrussRounds))

  /** Shared oracle for `k25_ktruss` and `k25b_ktruss_degree` (both
    * roll up the same degree-oriented peel): the k-truss is a unique
    * subgraph, so any correct peel hash-matches the same unrolled SQL.
    * Support threshold and unroll depth come from
    * [[ktrussK]]/[[ktrussRounds]].
    */
  private lazy val ktrussOracle: Option[String] = Some {
    val stages = (1 to ktrussRounds).map { i =>
      val (p, c) = (s"e${i - 1}", s"e$i")
      s"""t$i AS MATERIALIZED (
         |  SELECT t1.a AS a, t1.b AS b, t2.b AS c
         |  FROM $p t1
         |  JOIN $p t2 ON t2.a = t1.b
         |  JOIN $p t3 ON t3.a = t1.a AND t3.b = t2.b
         |), s$i AS MATERIALIZED (
         |  SELECT ea, eb, count(*) AS sup FROM (
         |    SELECT a AS ea, b AS eb FROM t$i
         |    UNION ALL SELECT b, c FROM t$i
         |    UNION ALL SELECT a, c FROM t$i)
         |  GROUP BY ea, eb
         |), $c AS MATERIALIZED (
         |  SELECT e.a, e.b FROM $p e
         |  JOIN s$i s ON e.a = s.ea AND e.b = s.eb
         |  WHERE s.sup >= ${ktrussK - 2}
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT DISTINCT least(l_orderkey, l_partkey) AS a,
       |         greatest(l_orderkey, l_partkey) AS b
       |  FROM lineitem WHERE l_orderkey <> l_partkey
       |), $stages
       |SELECT vertex, CAST(count(*) AS BIGINT) AS deg FROM (
       |  SELECT a AS vertex FROM e$ktrussRounds
       |  UNION ALL SELECT b FROM e$ktrussRounds)
       |GROUP BY vertex ORDER BY vertex""".stripMargin
  }

  /** Frontier-expansion BFS over a directed `(src, dst)` edge list:
    * returns `(id, dist)` for every node within `maxIter` hops of
    * `src` — the hop horizon, part of the answer (see [[frontier]]).
    * Exposed for SccSpec's synthetic-graph pins; `k5_bfs` runs it over
    * the capped fixture graph.
    */
  def bfs(s: SparkSession, edges: DataFrame, src: Long,
          maxIter: Int = 10): DataFrame = {
    import s.implicits._
    frontier(edges, Ckpt.stageCounted(Seq(src).toDF("id")),
      hops = maxIter, maxIter = maxIter)
  }

  /** First-discovery frontier expansion from `seeds` — `(keys…, id)`
    * rows, staged and counted by [[Ckpt.stageCounted]] — over a
    * directed `(src, dst)` edge list. Returns `(keys…, id, dist)`: every
    * vertex each key's seeds reach within `hops` hops, at its minimum
    * hop distance (first discovery IS the minimum for unit weights).
    * The keys let several searches share one frame and one join per
    * round (k13's `source`, SCC's `component`). Each round joins only
    * the newly-discovered frontier against the edges and anti-joins the
    * settled set; only that fresh delta is staged, and the settled set
    * is a union of already-staged deltas, so no round re-writes it. The
    * loop ends on the first empty frontier or on round `hops`;
    * `maxIter` is the runaway guard.
    */
  private[graft] def frontier(edges: DataFrame, seeds: (DataFrame, Long),
                              keys: Seq[String] = Nil,
                              hops: Int = Int.MaxValue,
                              maxIter: Long = 100): DataFrame = {
    val (seedRows, nSeeds) = seeds
    val start = seedRows.withColumn("dist", lit(0))
    val ks = keys.map(col)
    val (reached, _) = Ckpt.fixpoint("frontier expansion", maxIter)(
      ((start, start), nSeeds == 0 || hops <= 0)) {
      case ((settled, front), i) =>
        val nbrs = front.join(edges, front("id") === edges("src"))
          .select(ks :+ col("dst").as("id"): _*).distinct()
        val (fresh, n) = Ckpt.stageCounted(
          nbrs.join(settled, keys :+ "id", "left_anti")
            .withColumn("dist", lit(i)))
        ((settled.unionByName(fresh), fresh), n == 0 || i >= hops)
    }
    reached
  }

  private def cappedEdges(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") < cap && col("l_partkey") < cap)
      .select(col("l_orderkey").as("src"), col("l_partkey").as("dst"))

  /** DuckDB oracle: exact SCC via recursive transitive closure (feasible
    * because the query caps the graph; components = min mutually-reachable
    * id). CTE list ends with `comp(id, component)`.
    */
  private val sccOracleCtes: String =
    s"""edges AS (
       |  SELECT DISTINCT l_orderkey AS src, l_partkey AS dst
       |  FROM lineitem WHERE l_orderkey < $cap AND l_partkey < $cap
       |), verts AS (
       |  SELECT o_orderkey AS v FROM orders WHERE o_orderkey < $cap
       |), reach(s, d) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.s, e.dst FROM reach r JOIN edges e ON r.d = e.src
       |), mutual AS (
       |  SELECT r1.s AS v, r1.d AS u
       |  FROM reach r1 JOIN reach r2 ON r1.s = r2.d AND r1.d = r2.s
       |), comp AS (
       |  SELECT verts.v AS id,
       |         least(verts.v, coalesce(min(m.u), verts.v)) AS component
       |  FROM verts LEFT JOIN mutual m ON m.v = verts.v
       |  GROUP BY verts.v
       |)""".stripMargin

  /** DuckDB PageRank oracle: the iteration unrolled as chained CTEs
    * r1..rN, each applying the same damped update as the Spark loop.
    */
  private def pagerankOracle(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT verts.v, round(0.15 + 0.85 * coalesce(c.m, 0), 6) AS rank
         |  FROM verts LEFT JOIN (
         |    SELECT e.dst AS v, sum(r.rank / d.deg) AS m
         |    FROM edges e JOIN deg d USING (src)
         |                 JOIN r${i - 1} r ON r.v = e.src
         |    GROUP BY e.dst) c USING (v))"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (
       |  SELECT DISTINCT l_orderkey AS src, l_partkey AS dst
       |  FROM lineitem WHERE l_orderkey < $cap AND l_partkey < $cap
       |), verts AS (
       |  SELECT o_orderkey AS v FROM orders WHERE o_orderkey < $cap
       |), deg AS (
       |  SELECT src, count(*) AS deg FROM edges GROUP BY src
       |), r0 AS (SELECT v, 1.0 AS rank FROM verts),
       |$steps
       |SELECT v AS id, rank FROM r$iters
       |ORDER BY rank DESC, v LIMIT 20""".stripMargin
  }

  /** k14_ppr oracle: the pagerank chain with restart mass confined to
    * the v % 100 == 0 source set (teleport term gated by the source
    * indicator). Same 6dp re-sync per unrolled round as k3. */
  private def pprOracle(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT verts.v,
         |    round(0.15 * (CASE WHEN verts.v % 100 = 0
         |                  THEN 1.0 ELSE 0.0 END) +
         |          0.85 * coalesce(c.m, 0), 6) AS rank
         |  FROM verts LEFT JOIN (
         |    SELECT e.dst AS v, sum(r.rank / d.deg) AS m
         |    FROM edges e JOIN deg d USING (src)
         |                 JOIN r${i - 1} r ON r.v = e.src
         |    GROUP BY e.dst) c USING (v))"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (
       |  SELECT DISTINCT l_orderkey AS src, l_partkey AS dst
       |  FROM lineitem WHERE l_orderkey < $cap AND l_partkey < $cap
       |), verts AS (
       |  SELECT o_orderkey AS v FROM orders WHERE o_orderkey < $cap
       |), deg AS (
       |  SELECT src, count(*) AS deg FROM edges GROUP BY src
       |), r0 AS (
       |  SELECT v, CASE WHEN v % 100 = 0 THEN 1.0 ELSE 0.0 END AS rank
       |  FROM verts),
       |$steps
       |SELECT v AS id, rank FROM r$iters
       |WHERE rank > 0.0
       |ORDER BY rank DESC, v LIMIT 20""".stripMargin
  }

  /** Unrolled HITS oracle (see `k22_hits` for the integer-arithmetic
    * design). Every per-round CTE is MATERIALIZED — each is referenced
    * twice (matvec + its own normalizing scalar-sum subquery), and
    * DuckDB's default inlining would re-evaluate the upstream chain
    * per reference, exponential in the round count (the
    * `pcaPowerOracle` lesson). */
  private def hitsOracle(rounds: Int): String = {
    val steps = (1 to rounds).map { k =>
      s"""a${k}u AS MATERIALIZED (
         |  SELECT e.dst, CAST(sum(h.h) AS BIGINT) AS a1
         |  FROM edges e JOIN h${k - 1} h USING (src) GROUP BY e.dst),
         |a$k AS MATERIALIZED (
         |  SELECT dst, CAST(floor(CAST(a1 AS DOUBLE) * 1000000000000.0 /
         |    CAST((SELECT sum(a1) FROM a${k}u) AS DOUBLE)) AS BIGINT)
         |    AS a
         |  FROM a${k}u),
         |h${k}u AS MATERIALIZED (
         |  SELECT e.src, CAST(sum(a.a) AS BIGINT) AS h1
         |  FROM edges e JOIN a$k a USING (dst) GROUP BY e.src),
         |h$k AS MATERIALIZED (
         |  SELECT src, CAST(floor(CAST(h1 AS DOUBLE) * 1000000000000.0 /
         |    CAST((SELECT sum(h1) FROM h${k}u) AS DOUBLE)) AS BIGINT)
         |    AS h
         |  FROM h${k}u)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS src, l_partkey AS dst
       |  FROM lineitem WHERE l_orderkey < $cap AND l_partkey < $cap
       |), h0 AS (
       |  SELECT DISTINCT src, CAST(1000000 AS BIGINT) AS h FROM edges
       |),
       |$steps
       |SELECT * FROM (
       |  SELECT 'auth' AS role, dst AS id, a AS score FROM a$rounds
       |  ORDER BY a DESC, dst LIMIT 20)
       |UNION ALL
       |SELECT * FROM (
       |  SELECT 'hub' AS role, src AS id, h AS score FROM h$rounds
       |  ORDER BY h DESC, src LIMIT 20)
       |ORDER BY role, score DESC, id""".stripMargin
  }

  /** Unrolled truncated-Brandes oracle: forward levels f0..f4 with
    * integer path counts (anti-joined against the cumulative visited
    * sets), then backward dependency levels d4..d1 summing the same
    * e6-floored per-edge terms the Spark plan computes. Everything
    * MATERIALIZED — each level feeds the next level, its visited set,
    * and the backward pass. */
  private lazy val betweennessOracle: String = {
    val fwd = (1 to 4).map { k =>
      s"""f$k AS MATERIALIZED (
         |  SELECT c.s, c.v, c.sig FROM (
         |    SELECT f.s, e.dst AS v, CAST(sum(f.sig) AS BIGINT) AS sig
         |    FROM f${k - 1} f JOIN edges e ON e.src = f.v
         |    GROUP BY f.s, e.dst) c
         |  LEFT JOIN vis${k - 1} p ON p.s = c.s AND p.v = c.v
         |  WHERE p.v IS NULL),
         |vis$k AS MATERIALIZED (
         |  SELECT s, v FROM vis${k - 1}
         |  UNION ALL SELECT s, v FROM f$k)""".stripMargin
    }.mkString(",\n")
    val bwd = (3 to 1 by -1).map { k =>
      s"""d$k AS MATERIALIZED (
         |  SELECT a.s, a.v, a.sig,
         |    coalesce(t.dsum, 0) AS delta
         |  FROM f$k a LEFT JOIN (
         |    SELECT a2.s, a2.v,
         |      CAST(sum(CAST(floor(CAST(a2.sig AS DOUBLE) *
         |        CAST(d.delta + 1000000 AS DOUBLE) /
         |        CAST(d.sig AS DOUBLE)) AS BIGINT)) AS BIGINT) AS dsum
         |    FROM f$k a2 JOIN edges e ON e.src = a2.v
         |    JOIN d${k + 1} d ON d.s = a2.s AND d.v = e.dst
         |    GROUP BY a2.s, a2.v) t ON t.s = a.s AND t.v = a.v)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS src, l_partkey AS dst
       |  FROM lineitem WHERE l_orderkey < $cap AND l_partkey < $cap
       |), deg AS (
       |  SELECT src, count(*) AS dg FROM edges GROUP BY src
       |), f0 AS MATERIALIZED (
       |  SELECT src AS s, src AS v, CAST(1 AS BIGINT) AS sig
       |  FROM deg ORDER BY dg DESC, src LIMIT 5
       |), vis0 AS (SELECT s, v FROM f0),
       |$fwd,
       |d4 AS MATERIALIZED (
       |  SELECT s, v, sig, CAST(0 AS BIGINT) AS delta FROM f4),
       |$bwd
       |SELECT v AS id, CAST(sum(delta) AS BIGINT) AS bc_e6 FROM (
       |  SELECT s, v, delta FROM d4
       |  UNION ALL SELECT s, v, delta FROM d3
       |  UNION ALL SELECT s, v, delta FROM d2
       |  UNION ALL SELECT s, v, delta FROM d1)
       |GROUP BY v ORDER BY bc_e6 DESC, id LIMIT 20""".stripMargin
  }

  /** Unrolled random-walk oracle: each step's frontier as a
    * MATERIALIZED CTE (referenced by both the next step and the final
    * union), next hop picked by the same (md5, dst) argmin the Spark
    * plan's min(struct(...)) computes — row_number over (h, dst) is
    * the SQL spelling of that total order. */
  private def randwalkOracle(steps: Int): String = {
    val hops = (1 to steps).map { k =>
      s"""f$k AS MATERIALIZED (
         |  SELECT walk, dst AS cur FROM (
         |    SELECT f.walk, e.dst,
         |      row_number() OVER (PARTITION BY f.walk
         |        ORDER BY md5(f.walk || ':' || $k || ':' || e.dst),
         |          e.dst) AS rn
         |    FROM f${k - 1} f JOIN edges e ON e.src = f.cur)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val union = (0 to steps).map { k =>
      s"SELECT walk, $k AS step, cur AS node FROM f$k"
    }.mkString("\n       |UNION ALL ")
    s"""WITH edges AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS src, l_partkey AS dst
       |  FROM lineitem WHERE l_orderkey < $cap AND l_partkey < $cap
       |), f0 AS (
       |  SELECT o_orderkey AS walk, o_orderkey AS cur FROM orders
       |  WHERE o_orderkey < $cap AND o_orderkey % 100 = 0
       |),
       |$hops
       |$union
       |ORDER BY walk, step""".stripMargin
  }

  /** Weakly connected components by alternating large-star / small-star
    * contraction (Kiveris et al. 2014, "Connected Components in MapReduce
    * and Beyond"). Converges in O(log n) rounds REGARDLESS of graph
    * diameter — the reason it, and not min-label propagation, is the
    * 100-TB form: web-scale graphs have chain diameters in the hundreds,
    * and propagation pays one shuffle pair PER HOP while star contraction
    * pays per doubling. (The oracle for `k9_wcc` is the diameter-bound
    * propagation, unrolled — 19 rounds at sf0.01 vs 5 star rounds: the
    * contrast IS the demonstration.) Each round is two keyed
    * groupBy+join shuffle pairs; the converged state is a star forest
    * whose centers are the component minima (paper Thm 2), so labels
    * fall out of the final edge list without a separate relabel pass.
    *
    * `edges0`: directed ("src", "dst"); treated as undirected, self-loops
    * ignored for connectivity but their endpoints kept as singleton
    * components. Returns ("v", "component").
    */
  def wcc(s: SparkSession, edges0: DataFrame, maxIter: Int = 30): DataFrame = {
    // no checkpoint: verts is consumed exactly once, by the final
    // labeling join — materializing it eagerly up front paid a full
    // edge pass before the loop even started
    val verts = edges0.select(col("src").as("v"))
      .unionByName(edges0.select(col("dst").as("v")))
      .distinct()
    val e0 = edges0.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct().stageCkpt()
    // Fixed-point probe: the iteration's limit is a star forest — every
    // leaf `b` hangs off exactly ONE center `a`, and no center is a
    // leaf — whose centers are the component minima (Kiveris Thm 2).
    // A star forest is itself a FIXED POINT of both steps (large-star
    // maps each leaf back to its center, small-star regroups each leaf
    // under that same center), and the iteration is deterministic, so
    // the first edge set that IS a star forest already equals the
    // limit. Probing the structure directly detects convergence one
    // full round earlier than any "output stopped changing" test,
    // which must compute the redundant round N+1 to compare it against
    // round N (measured: the redundant round cost 1.5–2.8 s at sf0.1
    // vs ~0.3 s for this probe). BOTH conditions matter: mid-flight
    // states can be two-level yet have a leaf with two parents — that
    // state is NOT a fixed point (small-star would merge the parents),
    // so a centers∩leaves test alone would declare victory early and
    // mislabel. The probe is one map-side-combinable aggregate over
    // vertex roles — no join, no sort — and stays a separate job per
    // round by deliberate trade (see [[Ckpt.fixpoint]]).
    def isStarForest(df: DataFrame): Boolean =
      df.select(col("a").as("v"), lit(1L).as("ca"), lit(0L).as("cb"))
        .unionByName(df.select(col("b").as("v"), lit(0L).as("ca"),
          lit(1L).as("cb")))
        .groupBy("v").agg(sum("ca").as("ca"), sum("cb").as("cb"))
        .filter(col("cb") > 1 || (col("ca") > 0 && col("cb") > 0))
        .isEmpty
    val e = Ckpt.fixpoint("WCC star contraction", maxIter)(
      (e0, isStarForest(e0))) { (e, _) =>
      // large-star: every neighbor v > u links to u's minimum neighbor
      val sym = e.select(col("a").as("u"), col("b").as("v"))
        .unionByName(e.select(col("b").as("u"), col("a").as("v")))
      val m1 = sym.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      // NOT deduped: the only consumers are m2's min (duplicate-immune)
      // and the small-star emission, whose output the final distinct
      // dedupes anyway — the intermediate distinct paid a full shuffle
      // per round to save nothing measurable (probed at sf0.1)
      val ls = sym.join(m1, Seq("u"))
        .filter(col("v") > col("u"))
        .select(least(col("v"), col("m")).as("a"),
          greatest(col("v"), col("m")).as("b"))
        .filter(col("a") =!= col("b"))
      // small-star: group by the LARGER endpoint; all its smaller
      // neighbors (and itself) link to the group minimum
      val m2 = ls.groupBy("b").agg(min(col("a")).as("m"))
      val ss = ls.join(m2, Seq("b"))
        .filter(col("a") =!= col("m"))
        .select(col("m").as("a"), col("a").as("b")) // m < a by minimality
        .unionByName(m2.select(col("m").as("a"), col("b")))
        .distinct()
        .stageCkpt()
      (ss, isStarForest(ss))
    }
    val members = e.select(col("b").as("v"), col("a").as("component"))
    verts.join(members, Seq("v"), "left")
      .select(col("v"),
        coalesce(col("component"), col("v")).as("component"))
  }

  /** Single-source WEIGHTED shortest paths (positive integer weights) by
    * frontier-limited Bellman-Ford: each round relaxes only edges out of
    * vertices whose distance improved last round, so per-round work is
    * |frontier|·avg-degree (the k5_bfs shape) and the loop ends when no
    * distance improves — at most (max hop count of a shortest path)
    * rounds, 13 at sf0.01. Dijkstra's priority queue does not
    * distribute; frontier Bellman-Ford is the standard Spark/Pregel
    * form (delta-stepping reduces rounds further but needs bucketed
    * priorities — unnecessary at these depths). Returns ("id", "dist").
    */
  def sssp(s: SparkSession, edges: DataFrame, source: Long,
           maxIter: Int = 40): DataFrame = {
    import s.implicits._
    val seed = Seq((source, 0L)).toDF("id", "dist").stageCkpt()
    val (dist, _) = Ckpt.fixpoint("SSSP relaxation", maxIter)(
      ((seed, seed), false)) { case ((dist, improvedLast), _) =>
      val cand = improvedLast
        .join(edges, improvedLast("id") === edges("src"))
        .select(col("dst").as("id"), (col("dist") + col("w")).as("nd"))
        .groupBy("id").agg(min(col("nd")).as("nd"))
      val (improved, n) = Ckpt.stageCounted(
        cand.join(dist, Seq("id"), "left")
          .filter(col("dist").isNull || col("nd") < col("dist"))
          .select(col("id"), col("nd").as("dist")))
      ((dist.join(improved, Seq("id"), "left_anti")
        .unionByName(improved).stageCkpt(), improved), n == 0)
    }
    dist
  }

  /** k9/k10 share the sparser "first lineitem per order" co-purchase
    * graph: `l_linenumber = 1` thins the video graph to 132 components
    * (giant: 7,169) with a ~19-hop diameter at sf0.01 — non-vacuous
    * component structure the full graph lacks (it is one giant blob).
    */
  private def thinEdges(s: SparkSession, d: String): DataFrame =
    // session-cached like every other loop-invariant edge table: k9 and
    // k10 each re-derived it (lineitem scan + distinct) per call
    cachedBySrc(s, d, "thinEdgesBySrc") {
      Tables.lineitem(s, d)
        .filter(col("l_linenumber") === 1)
        .select(col("l_orderkey").as("src"), col("l_partkey").as("dst"))
        .distinct()
    }

  /** k28_coreness: unrolled h-index rounds in the DuckDB oracle. The
    * value fixpoint was MEASURED to converge in 40 rounds at sf1 on
    * this graph family (the k7 scaladoc's number); 48 carries margin,
    * and post-fixpoint rounds are exact no-ops (the h-operator is
    * idempotent at its fixpoint), so an over-provisioned unroll can
    * only cost oracle time, never correctness. The ENGINE converges
    * dynamically (empty frontier), so an under-provisioned oracle
    * would HASH-FAIL loudly, not silently pass. */
  private val corenessRounds = 48

  val all: Seq[Q] = Seq(

    // ----- K3: PageRank over the capped video graph — the canonical
    // iterative link-analysis op beside SCC. Five damped iterations
    // (d = 0.85, simplified dangling handling: unlinked mass decays),
    // each one shuffle pair (contributions groupBy dst, then the verts
    // left join). Unlike the SCC loop's driver-coordinated fixpoint,
    // the iteration count is FIXED — so the rounds compose lazily into
    // one job (no driver action between rounds; the oracle likewise
    // unrolls them as chained CTEs).
    // Ranks are rounded to 6dp after every damping step so the two
    // engines' float sums re-synchronize each iteration instead of
    // drifting. Output: top-20 by rank, id tie-break.
    Q("k3_pagerank",
      (s, d) => {
        // distinct matters HERE: duplicate (src,dst) lineitem pairs are
        // harmless to SCC reachability but would inflate out-degrees and
        // double-count contributions (the oracle's edge set is DISTINCT).
        val edges = cappedDistinctBySrc(s, d)
        val verts = cappedVerts(s, d)
        val outdeg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
        var ranks = verts.withColumn("rank", lit(1.0))
        // the 5 fixed iterations compose LAZILY — each round references
        // the previous ranks exactly once, so the plan stays linear in
        // depth and the whole chain runs as ONE job: the optimizer sees
        // every round (broadcasting the vertex-scale contribution table,
        // reusing the cached edge side) and no per-round checkpoint
        // materialization barrier is paid. A checkpoint per round is
        // only needed when the DRIVER must act between rounds (the
        // fixpoint loops); measured 2× at sf0.1 (4.0 → 2.0 s), and the
        // retained lineage is what Spark's stage retry recovers from at
        // scale — a localCheckpoint would discard it.
        for (_ <- 1 to 5) {
          val contribs = edges.join(outdeg, Seq("src"))
            .join(ranks.select(col("v").as("src"), col("rank")), Seq("src"))
            .groupBy(col("dst"))
            .agg(sum(col("rank") / col("deg")).as("m"))
          ranks = verts
            .join(contribs.select(col("dst").as("v"), col("m")),
              Seq("v"), "left")
            .select(col("v"),
              round(lit(0.15) + lit(0.85) * coalesce(col("m"), lit(0.0)), 6)
                .as("rank"))
        }
        ranks.select(col("v").as("id"), col("rank"))
          .orderBy(desc("rank"), col("id"))
          .limit(20)
      },
      Some(pagerankOracle(5))),

    // ----- K14: personalized PageRank — the recommendation-flavored
    // variant: restart mass goes only to a SOURCE SET (here the
    // deterministic v % 100 == 0 hubs, ~1% of vertices), so ranks
    // measure proximity to the sources instead of global centrality.
    // Same fixed-iteration damped loop as k3 (cached-by-key edges
    // reused, 6dp re-sync per round, lazily composed single job), but
    // the mass vector starts and STAYS sparse: only nodes already
    // reached carry rank, so early rounds shuffle a frontier-sized
    // contribution table, not |V| rows — at 100 TB that sparsity is
    // the difference between PPR being an interactive query and a
    // batch job. Output keeps only rank > 0 (nodes with PPR mass) —
    // the reachable-neighborhood ranking a recommender consumes.
    Q("k14_ppr",
      (s, d) => {
        val edges = cappedDistinctBySrc(s, d)
        val verts = cappedVerts(s, d)
        val outdeg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
        val srcInd =
          when(col("v") % 100 === 0, 1.0).otherwise(0.0)
        var ranks = verts.withColumn("rank", srcInd)
        for (_ <- 1 to 5) {
          val contribs = edges.join(outdeg, Seq("src"))
            .join(ranks.filter(col("rank") > 0.0)
              .select(col("v").as("src"), col("rank")), Seq("src"))
            .groupBy(col("dst"))
            .agg(sum(col("rank") / col("deg")).as("m"))
          ranks = verts
            .join(contribs.select(col("dst").as("v"), col("m")),
              Seq("v"), "left")
            .select(col("v"),
              round(lit(0.15) * srcInd +
                lit(0.85) * coalesce(col("m"), lit(0.0)), 6).as("rank"))
          // lazily composed — single-reference rounds, one job; see the
          // k3 loop comment (same 2× measured win)
        }
        ranks.filter(col("rank") > 0.0)
          .select(col("v").as("id"), col("rank"))
          .orderBy(desc("rank"), col("id"))
          .limit(20)
      },
      Some(pprOracle(5))),

    // ----- K22: HITS hubs & authorities (Kleinberg 1999, JACM 46(5))
    // — the bipartite-flavored companion to k3's PageRank: on the
    // order→part purchase graph a high AUTHORITY is a part bought
    // across many well-connected orders and a high HUB an order that
    // touches many authoritative parts. Three mutual-reinforcement
    // rounds, each two shuffles (a: groupBy dst, h: groupBy src over
    // the src-cached edge table) + a broadcast 1-row normalizing
    // capsule, lineage cut per round — the k3 loop shape. Exactness:
    // instead of Kleinberg's L2 normalization (a global FLOAT sum —
    // order-dependent across engines), scores live on an integer
    // grid: each round's raw score is an exact BIGINT sum of the
    // previous integer vector, and renormalization floors the
    // identical double division a·10¹²/Σa on both engines — so every
    // iterate is an exact integer vector and no float aggregate ever
    // feeds a comparison (sum-normalized HITS converges to the same
    // principal eigenvectors; Kleinberg §3 notes the normalization
    // choice is free). Output: top-20 authorities + top-20 hubs,
    // score-desc with id tie-break.
    Q("k22_hits",
      (s, d) => {
        val edges = cappedDistinctBySrc(s, d)
        var h = edges.select(col("src")).distinct()
          .select(col("src"), lit(1000000L).as("h"))
        var a: DataFrame = null
        for (_ <- 1 to 3) {
          val a1 = edges.join(h, Seq("src"))
            .groupBy("dst").agg(sum(col("h")).as("a1"))
          val sa = a1.groupBy().agg(sum(col("a1")).as("sa"))
          a = a1.crossJoin(broadcast(sa))
            .select(col("dst"),
              floor(col("a1").cast("double") * 1000000000000.0 /
                col("sa").cast("double")).cast("long").as("a"))
            .stageCkpt()
          val h1 = edges.join(a, Seq("dst"))
            .groupBy("src").agg(sum(col("a")).as("h1"))
          val sh = h1.groupBy().agg(sum(col("h1")).as("sh"))
          h = h1.crossJoin(broadcast(sh))
            .select(col("src"),
              floor(col("h1").cast("double") * 1000000000000.0 /
                col("sh").cast("double")).cast("long").as("h"))
            .stageCkpt()
        }
        val topA = a.orderBy(desc("a"), col("dst")).limit(20)
          .select(lit("auth").as("role"), col("dst").as("id"),
            col("a").as("score"))
        val topH = h.orderBy(desc("h"), col("src")).limit(20)
          .select(lit("hub").as("role"), col("src").as("id"),
            col("h").as("score"))
        topA.unionByName(topH)
          .orderBy(col("role"), desc("score"), col("id"))
      },
      Some(hitsOracle(3))),

    // ----- K23: random-walk corpus sampling (the DeepWalk/node2vec
    // positive-pair generator — Perozzi et al., KDD 2014): one walk
    // per seed hub (v % 100 == 0, the k14 source set), three steps,
    // each step choosing ONE out-neighbor. The choice is the
    // hash-argmin trick: next = argmin over out-neighbors of
    // md5(walk ‖ step ‖ neighbor) — distributionally uniform per
    // (walk, step) but fully DETERMINISTIC, so the sampled walks are
    // oracle-checkable and reproducible (the m_dp_counts seeded-draw
    // convention; production swaps the hash for a seeded PRNG stream,
    // keeping the argmin plan). Each step is one join of the
    // frontier against the src-cached edge table + one per-walk
    // argmin via min(struct(hash, dst)) — a map-side-combinable
    // aggregate, never a window — so a step costs O(frontier-degree
    // sum) regardless of graph size; walks that reach a sink simply
    // end (left out of later frontiers). Output: (walk_id, step,
    // node) for steps 0..3 — the skip-gram training pairs feedstock.
    Q("k23_randwalk",
      (s, d) => {
        val edges = cappedDistinctBySrc(s, d)
        val seeds = cappedVerts(s, d).filter(col("v") % 100 === 0)
          .select(col("v").as("walk"), col("v").as("cur"))
        var frontier = seeds
        var out = seeds.select(col("walk"), lit(0).as("step"),
          col("cur").as("node"))
        for (k <- 1 to 3) {
          val cand = frontier
            .join(edges.select(col("src").as("cur"), col("dst")),
              Seq("cur"))
            .select(col("walk"), col("dst"),
              md5(concat_ws(":", col("walk").cast("string"),
                lit(k.toString), col("dst").cast("string"))).as("h"))
          frontier = cand.groupBy("walk")
            .agg(min(struct(col("h"), col("dst"))).as("pick"))
            .select(col("walk"), col("pick.dst").as("cur"))
            .stageCkpt()
          out = out.unionByName(frontier.select(col("walk"),
            lit(k).as("step"), col("cur").as("node")))
        }
        out.orderBy("walk", "step")
      },
      Some(randwalkOracle(3))),

    // ----- K24: seed-sampled betweenness centrality (Brandes 2001,
    // §4 accumulation; sampled-pivot estimation per Brandes & Pich
    // 2007) — which nodes sit on the most shortest paths? Exact
    // betweenness is O(nm); the production form runs Brandes from a
    // PIVOT SAMPLE (here the same 5 top-degree hubs k13 traverses)
    // and truncates at radius 4. Forward: the k13 batched-BFS frame
    // extended with path counts — σ(v) = Σ σ(u) over discovery-level
    // predecessors, exact integer sums, all 5 seeds in one frame per
    // round. Backward: Brandes' dependency δ(v) = Σ_w σv/σw·(1+δw)
    // descends the level structure; the division makes δ rational, so
    // each PER-EDGE term is floored to an e6 integer from the
    // identical double expression — δ itself then stays an exact
    // integer at every level and the cross-seed accumulation is an
    // order-free integer sum (a float δ would ride order-dependent
    // aggregation exactly where Brandes sums over successors).
    // Quantization bias is one e6 unit per DAG edge — documented,
    // deterministic, identical on both engines. Output: top-20 by
    // accumulated dependency (e6 grid), id tie-break.
    Q("k24_betweenness",
      (s, d) => {
        val edges = cappedDistinctBySrc(s, d)
        val seeds = edges.groupBy("src").agg(count(lit(1)).as("dg"))
          .orderBy(desc("dg"), col("src")).limit(5)
          .select(col("src").as("s"))
        var levels = Vector(
          seeds.select(col("s"), col("s").as("v"), lit(1L).as("sig"))
            .stageCkpt())
        var visited = levels(0).select("s", "v").stageCkpt()
        for (_ <- 1 to 4) {
          val cand = levels.last
            .join(edges, levels.last("v") === edges("src"))
            .groupBy(col("s"), col("dst").as("v2"))
            .agg(sum(col("sig")).as("sig"))
            .select(col("s"), col("v2").as("v"), col("sig"))
          val fresh = cand.join(visited, Seq("s", "v"), "left_anti")
            .stageCkpt()
          visited = visited.unionByName(fresh.select("s", "v"))
            .stageCkpt()
          levels = levels :+ fresh
        }
        // backward: delta at the deepest level is 0; each shallower
        // level sums e6-floored per-edge dependency terms
        var delta = levels(4).select(col("s"), col("v"), col("sig"),
          lit(0L).as("delta")).stageCkpt()
        var acc = delta.select(col("s"), col("v"), col("delta"))
        for (lev <- 3 to 1 by -1) {
          val terms = levels(lev).as("a")
            .join(edges, col("a.v") === edges("src"))
            .join(delta.select(col("s"), col("v").as("dst"),
              col("sig").as("sigw"), col("delta").as("dw")),
              Seq("s", "dst"))
            .select(col("s"), col("a.v").as("v"),
              floor(col("a.sig").cast("double") *
                (col("dw") + 1000000L).cast("double") /
                col("sigw").cast("double")).cast("long").as("t"))
            .groupBy("s", "v").agg(sum(col("t")).as("dsum"))
          delta = levels(lev).join(terms, Seq("s", "v"), "left")
            .select(col("s"), col("v"), col("sig"),
              coalesce(col("dsum"), lit(0L)).as("delta"))
            .stageCkpt()
          acc = acc.unionByName(delta.select(col("s"), col("v"),
            col("delta")))
        }
        acc.groupBy(col("v").as("id"))
          .agg(sum(col("delta")).as("bc_e6"))
          .orderBy(desc("bc_e6"), col("id"))
          .limit(20)
      },
      Some(betweennessOracle)),

    // ----- K1: SCC assignment (graph_filter.py:125-129)
    Q("k1_scc",
      (s, d) => cappedScc(s, d).orderBy("id"),
      Some(
        s"""WITH RECURSIVE $sccOracleCtes
           |SELECT id, component FROM comp ORDER BY id""".stripMargin)),

    // ----- K2: per-component rollup (graph_filter.py:143-157): member
    // list, distinct uploaders, avg views — over components with > 1 member
    // (C4 size filter). Member list ships ','-joined (string) so the
    // driver's pandas comparator can hash the row (VERDICT r2/r3).
    Q("k2_component_agg",
      (s, d) => {
        val comp = cappedScc(s, d)
          .select(concat(lit("v"), col("id")).as("id"), col("component"))
        val v = Tables.videos(s, d)
          .select("id", "uploader", "views")
        comp.join(v, Seq("id"))
          .groupBy("component")
          .agg(array_sort(collect_list(col("id"))).as("ids_arr"),
            countDistinct(col("uploader")).as("n_uploaders"),
            round(avg(col("views")), 4).as("avg_views"))
          .filter(size(col("ids_arr")) > 1)
          .select(col("component"),
            array_join(col("ids_arr"), ",").as("ids"),
            col("n_uploaders"), col("avg_views"),
            size(col("ids_arr")).as("n_members"))
          .orderBy("component")
      },
      Some(
        s"""WITH RECURSIVE $sccOracleCtes, ${Oracles.videosCte}
           |SELECT component,
           |       array_to_string(list_sort(list(v.id)), ',') AS ids,
           |       count(DISTINCT v.uploader) AS n_uploaders,
           |       round(avg(v.views), 4) AS avg_views,
           |       CAST(len(list(v.id)) AS INT) AS n_members
           |FROM comp c JOIN videos v ON v.id = 'v' || c.id
           |GROUP BY component HAVING len(list(v.id)) > 1
           |ORDER BY component""".stripMargin)),

    // ----- K4 [EXT]: triangle counting — the third classic graph op
    // beside SCC and PageRank (clustering-coefficient numerator,
    // community-density signal). Node-iterator formulation as two
    // equi-joins: orient every undirected edge low-id -> high-id (each
    // triangle a<b<c then matches exactly once: wedge (a,b)+(b,c) closed
    // by (a,c)), build wedges, close them against the edge list. Both
    // joins shuffle on a vertex key — no cartesian anywhere. At
    // production scale the orientation trick is the whole ballgame:
    // orienting by DEGREE (low-degree -> high-degree) caps wedge count
    // at O(m^1.5) regardless of skew; id-orientation is kept here so the
    // oracle is engine-independent (degree ties would otherwise need a
    // deterministic break). Per-vertex triangle membership, top-20.
    Q("k4_triangle_count",
      (s, d) => triangleCounts(cappedEdges(s, d))
        .orderBy(desc("n_triangles"), col("id"))
        .limit(20),
      k4Oracle),

    // ----- K4b [EXT]: the DEGREE-ORIENTED triangle count — the
    // production form of k4. Orienting every edge from its lower-degree
    // endpoint (id tie-break keeps it deterministic) bounds each
    // vertex's out-degree by O(sqrt(m)), so the wedge join is O(m^1.5)
    // TOTAL regardless of skew — a celebrity vertex with 10M in-links
    // generates almost no wedges because almost all its edges point IN.
    // Same two equi-join plan shape as k4; every triangle is counted at
    // exactly one vertex (its minimum in the (deg, id) total order), so
    // the result must hash-match k4's oracle EXACTLY — the equivalence
    // is the proof the optimization preserves semantics.
    Q("k4b_triangle_degree",
      (s, d) => {
        // staged: consumed by BOTH degree-union arms and BOTH
        // orientation-join sides — unstaged, the capped distinct
        // shuffle re-ran once per consumer (the before-plan showed 61
        // scan instances / 90 Exchanges for this one query)
        val und = cappedEdges(s, d)
          .filter(col("src") =!= col("dst"))
          .select(least(col("src"), col("dst")).as("a"),
            greatest(col("src"), col("dst")).as("b"))
          .distinct().stageCkpt()
        val deg = und.select(col("a").as("v"))
          .unionAll(und.select(col("b").as("v")))
          .groupBy("v").agg(count(lit(1)).as("dg"))
        val lower = (da: org.apache.spark.sql.Column,
                     a: org.apache.spark.sql.Column,
                     db: org.apache.spark.sql.Column,
                     b: org.apache.spark.sql.Column) =>
          da < db || (da === db && a < b)
        // orient each edge low -> high in the (deg, id) total order,
        // carrying the out-endpoint's rank for the wedge ordering
        val e = und
          .join(deg.select(col("v").as("a"), col("dg").as("da")), Seq("a"))
          .join(deg.select(col("v").as("b"), col("dg").as("db")), Seq("b"))
          .select(
            when(lower(col("da"), col("a"), col("db"), col("b")),
              struct(col("a").as("u"), col("b").as("w"),
                col("db").as("dw")))
              .otherwise(struct(col("b").as("u"), col("a").as("w"),
                col("da").as("dw"))).as("e"))
          .select(col("e.u").as("u"), col("e.w").as("w"),
            col("e.dw").as("dw"))
          // staged: three consumers (two wedge sides + the closing
          // edge-existence join) — the k26 clique4Counts discipline
          .stageCkpt()
        val wedges = e.select(col("u"), col("w").as("x"), col("dw").as("dx"))
          .join(e.select(col("u"), col("w").as("y"), col("dw").as("dy")),
            Seq("u"))
          .filter(lower(col("dx"), col("x"), col("dy"), col("y")))
        val tri = wedges
          .join(e.select(col("u").as("x"), col("w").as("y")), Seq("x", "y"))
          .select(col("u"), col("x"), col("y"))
        tri.select(explode(array(col("u"), col("x"), col("y"))).as("id"))
          .groupBy("id")
          .agg(count(lit(1)).as("n_triangles"))
          .orderBy(desc("n_triangles"), col("id"))
          .limit(20)
      },
      Some(
        s"""WITH und AS (
           |  SELECT DISTINCT least(l_orderkey, l_partkey) AS a,
           |                  greatest(l_orderkey, l_partkey) AS b
           |  FROM lineitem
           |  WHERE l_orderkey < $cap AND l_partkey < $cap
           |    AND l_orderkey <> l_partkey
           |), tri AS (
           |  SELECT t1.a, t1.b, t2.b AS c
           |  FROM und t1
           |  JOIN und t2 ON t2.a = t1.b
           |  JOIN und t3 ON t3.a = t1.a AND t3.b = t2.b
           |), ex AS (
           |  SELECT unnest([a, b, c]) AS id FROM tri)
           |SELECT id, CAST(count(*) AS BIGINT) AS n_triangles
           |FROM ex GROUP BY id
           |ORDER BY n_triangles DESC, id LIMIT 20""".stripMargin)),

    // ----- K5: single-source BFS shortest paths (directed, unit
    // weights) — frontier-expansion form: each round joins ONLY the
    // newly-discovered frontier against the edge list and anti-joins
    // the settled set, so per-round work is |frontier|·avg-degree, not
    // |V|² (the all-pairs closure the SCC oracle uses is feasible only
    // because the graph is capped; BFS is the form that scales —
    // Pregel's canonical example). First discovery IS the minimum
    // distance, so no per-node min is ever recomputed. Ten rounds max
    // (the reference's maxIter, graph_filter.py:129), lineage
    // checkpointed per round; the source is the minimum src id,
    // derived from the data (1-row control-plane aggregate, the SCC
    // loop's pattern). Oracle: recursive CTE whose UNION dedups
    // (id, dist) pairs per level, then min per node.
    Q("k5_bfs",
      (s, d) => {
        val edges = cappedDistinctBySrc(s, d)
        val src = edges.agg(min(col("src"))).head().getLong(0)
        bfs(s, edges, src).orderBy("id")
      },
      Some(
        s"""WITH RECURSIVE edges AS (
           |  SELECT DISTINCT l_orderkey AS src, l_partkey AS dst
           |  FROM lineitem WHERE l_orderkey < $cap AND l_partkey < $cap
           |), s0 AS (SELECT min(src) AS s FROM edges),
           |bfs(id, dist) AS (
           |  SELECT s, 0 FROM s0
           |  UNION
           |  SELECT e.dst, b.dist + 1 FROM bfs b JOIN edges e
           |  ON e.src = b.id
           |  WHERE b.dist < 10
           |)
           |SELECT id, CAST(min(dist) AS INT) AS dist
           |FROM bfs GROUP BY id ORDER BY id""".stripMargin)),

    // ----- K6: out-degree distribution, log₂-binned — the first
    // profiling query run on any production graph (is it power-law? how
    // heavy is the tail?) and the input to every skew decision the
    // other graph operators make (k4b's degree orientation, salting
    // thresholds). One groupBy for degrees, one for buckets — pure
    // integer log-binning, no joins.
    Q("k6_degree_dist",
      (s, d) => {
        val deg = cappedEdges(s, d).distinct()
          .groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
        deg
          .withColumn("bucket", floor(log2(col("d"))).cast("int"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_nodes"), sum(col("d")).as("n_edges"))
          .select(col("bucket"),
            expr("shiftleft(CAST(1 AS BIGINT), bucket)").as("d_min"),
            expr("shiftleft(CAST(1 AS BIGINT), bucket + 1) - 1")
              .as("d_max"),
            col("n_nodes"), col("n_edges"))
          .orderBy("bucket")
      },
      Some(
        s"""WITH edges AS (
           |  SELECT DISTINCT l_orderkey AS src, l_partkey AS dst
           |  FROM lineitem WHERE l_orderkey < $cap AND l_partkey < $cap
           |), deg AS (
           |  SELECT src AS id, count(*) AS d FROM edges GROUP BY src
           |), b AS (
           |  SELECT CAST(floor(log2(d)) AS INT) AS bucket, d FROM deg)
           |SELECT bucket, CAST(1 << bucket AS BIGINT) AS d_min,
           |  CAST((1 << (bucket + 1)) - 1 AS BIGINT) AS d_max,
           |  count(*) AS n_nodes, CAST(sum(d) AS BIGINT) AS n_edges
           |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // ----- K7: k-core decomposition by iterative peeling (Matula &
    // Beck 1983's algorithm distributed the Spark way) — the web-graph
    // denoising primitive: vertices outside the k-core are the
    // low-connectivity fringe (spam/orphan pages) a training-data
    // pipeline drops before sampling. Each round is one degree
    // aggregate + two semi joins, all keyed shuffles on the vertex id;
    // the per-round fixpoint probe is a 1-row control-plane count (the
    // BFS/SCC convention). Rounds are data-dependent but shallow
    // (Θ(peel depth): 4 at sf0.001, 6 at sf0.01, 8 at sf0.1 for k=7);
    // localCheckpoint caps lineage per round. The oracle unrolls 8
    // peel stages — past the measured fixpoint at every oracle scale
    // (sf0.01 converges at stage 5; post-fixpoint stages are no-ops,
    // so extra unrolled depth is harmless). Every CTE is MATERIALIZED:
    // DuckDB 1.0 inlines plain CTEs, and each stage references its
    // predecessor three times, so inlining is a 3^8 evaluation blowup
    // (measured: >120 s inlined vs 1.2 s materialized at sf0.01).
    // Oracle unroll depth for the k7 synchronous peel. 8 was exact at
    // the gate scales but SHORT at sf1: the 10x graph's cascade needs
    // 41 synchronous rounds (measured round-11 via an unbounded
    // iterative DuckDB peel, which the Spark fixpoint output matched
    // bit-for-bit — the engine was right, the unrolled oracle was
    // not). 48 carries margin; post-fixpoint stages are no-ops on the
    // converged 373k-edge core, so the extra depth costs little.
    Q("k7_kcore",
      (s, d) => kcore(s, d, k = 7),
      Some {
        val rounds = 48
        val stages = (1 to rounds).map { i =>
          val (p, c) = (s"e${i - 1}", s"e$i")
          s"""k$i AS MATERIALIZED (
             |  SELECT src FROM (
             |    SELECT src, count(*) AS n FROM $p GROUP BY src)
             |  WHERE n >= 7
             |), $c AS MATERIALIZED (
             |  SELECT e.src, e.dst FROM $p e
             |  JOIN k$i a ON e.src = a.src
             |  JOIN k$i b ON e.dst = b.src
             |)""".stripMargin
        }.mkString(", ")
        s"""WITH de AS MATERIALIZED (
           |  SELECT DISTINCT 'v' || l_orderkey AS src,
           |         'v' || l_partkey AS dst
           |  FROM lineitem
           |), e0 AS MATERIALIZED (
           |  SELECT src, dst FROM de UNION SELECT dst, src FROM de
           |), $stages
           |SELECT src AS vertex, CAST(count(*) AS BIGINT) AS deg
           |FROM e$rounds GROUP BY src ORDER BY vertex""".stripMargin
      }),

    // ----- K25 [EXT]: k-truss — the triangle-cohesion analogue of the
    // k-core: the maximal subgraph where every EDGE closes >= k-2
    // triangles (Cohen 2008). Where the k-core peels on degree (cheap,
    // admits bipartite-ish noise), the truss peels on triangle support
    // — the community-detection / spam-subgraph primitive that
    // survives degree spam. Each round is the k4 triangle plan (two
    // equi-joins over the canonical a<b edge list) + one explode to
    // charge each triangle to its 3 edges + one (a,b)-keyed support
    // count + a semi join — all keyed shuffles, no windows; the
    // surviving set is localCheckpoint'ed per round (bounded lineage,
    // one action per round, the kcore loop discipline). Support only
    // shrinks, so |E| unchanged <=> fixpoint. The BOARD plan is the
    // DEGREE-ORIENTED peel (round-12: an id-oriented peel faces 5.42B
    // wedge rows 99.7% keyed on one vertex when the hub's id sorts
    // mid-range — the `sf1skewmid` fixture kills it >300s where this
    // form runs 14.5s; the degree orientation bounds every round's
    // wedge join O(m^1.5) regardless of hub id). The oracle unrolls
    // ktrussRounds MATERIALIZED stages — past the measured fixpoint (2
    // rounds at sf0.01 AND sf0.1; post-fixpoint stages are no-ops). k
    // and the unroll depth are SHARED vals interpolated into both
    // engines so changing either cannot silently break the
    // equivalence.
    Q("k25_ktruss",
      (s, d) => {
        // maxIter = the oracle's unrolled depth: a fixture whose
        // cascade needs more rounds fails LOUDLY here (the peel's
        // fixpoint guard) instead of silently diverging from a
        // too-shallow oracle. The peel itself is session-shared with
        // k25b (plan-identical twins — see cachedTrussEdges).
        cachedTrussEdges(s, d)
          .select(explode(array(col("a"), col("b"))).as("vertex"))
          .groupBy("vertex")
          .agg(count(lit(1)).as("deg"))
          .orderBy("vertex")
      },
      ktrussOracle),

    // ----- K25b [EXT]: the degree-oriented k-truss twin. Since
    // round-12 k25 itself runs this same peel (the id-oriented form
    // was the board's one named scale-killer — sf1skewmid killed it
    // >300s), so k25b is retained as the explicitly-named [EXT] row
    // the survey declared, plan-identical to k25. Same unique truss,
    // same SHARED oracle. See ktrussEdgesDegree's note and the
    // sf1skewmid measurement in PERF.md round-11.
    Q("k25b_ktruss_degree",
      (s, d) => {
        cachedTrussEdges(s, d)
          .select(explode(array(col("a"), col("b"))).as("vertex"))
          .groupBy("vertex")
          .agg(count(lit(1)).as("deg"))
          .orderBy("vertex")
      },
      ktrussOracle),

    // ----- K26 [EXT]: 4-clique counting — one densification step past
    // triangles (the motif behind clique-percolation communities and
    // spam-farm detection), over the CO-PURCHASE projection: parts
    // sharing an order are connected, so every k-part basket
    // contributes a k-clique and cliques overlap across orders — the
    // order-part graph itself is near-bipartite and holds no 4-cliques
    // past sf0.001, so the projection is also what makes the query's
    // evidence non-vacuous (242k cliques at sf0.01). Projection
    // caveat at 100 TB: bipartite→unimodal expands each basket to
    // C(k,2) pairs — bounded here (baskets ≤ 7; cap any hot basket
    // before projecting at scale). The Spark plan is the
    // DEGREE-ORIENTED DAG form (Chiba–Nishizeki / the k4b orientation,
    // one step deeper): orient every edge from its lower-(deg, id)
    // endpoint, so EVERY edge inside a 4-clique points from the
    // order-smaller vertex — the clique enumerates exactly once as
    // u→{x,y,z} with x<y<z in the same total order, and per-vertex
    // out-degree is O(√m), bounding the enumeration by O(m·α²)
    // regardless of skew (α = arboricity): wedges → DAG-triangles →
    // one more ordered extension + two edge-existence joins, all
    // vertex/pair-keyed equi-joins. The DuckDB oracle enumerates the
    // SAME cliques the naive way (a<b<c<d over the canonical
    // id-ordered edge list) — membership counts are orientation-
    // independent, so the skew-safe plan must hash-match the naive
    // enumeration (the k4/k4b and k25/k25b proof pattern). Top-20 by
    // membership, id tie-break.
    Q("k26_clique4",
      (s, d) => {
        // staged: both projection-join sides consume the capped
        // distinct (the butterflyCounts discipline). The row count
        // rides the staging action (no extra job) to guard the
        // forced broadcast below: the documented uniform-partkey
        // assumption keeps this slice ~60k rows at every sf, and a
        // skewed or altered generator that breaks it must fail loud
        // here rather than broadcast an unbounded frame (r12 ADVICE).
        val obsLi = org.apache.spark.sql.Observation()
        val li = Tables.lineitem(s, d)
          .filter(col("l_partkey") < cap)
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
          .distinct()
          .observe(obsLi, count(lit(1)).as("c")).stageCkpt()
        val liRows = Ckpt.observedLong(obsLi, "c")
        require(liRows <= 8L * 1000 * 1000,
          s"k26 capped distinct is $liRows rows — the uniform-partkey " +
            "assumption behind its forced broadcast no longer holds")
        // broadcast is deliberate AND scale-safe here: the capped
        // distinct is ~60k rows at EVERY sf (partkey < cap keeps a
        // fixed slice of a keyspace that grows with the corpus), and
        // the staged frame no longer carries size stats for the
        // planner to find the broadcast on its own
        val copurchase = li.as("a")
          .join(broadcast(li.select(col("o"), col("p").as("p2"))).as("b"),
            Seq("o"))
          .filter(col("p") < col("p2"))
          .select(col("p").as("src"), col("p2").as("dst"))
        clique4Counts(copurchase)
          .orderBy(desc("n_cliques"), col("id"))
          .limit(20)
      },
      Some(
        s"""WITH li AS (
           |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
           |  WHERE l_partkey < $cap
           |), und AS (
           |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS a,
           |         greatest(a.l_partkey, b.l_partkey) AS b
           |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
           |  WHERE a.l_partkey < b.l_partkey
           |), tri AS (
           |  SELECT t1.a, t1.b, t2.b AS c
           |  FROM und t1
           |  JOIN und t2 ON t2.a = t1.b
           |  JOIN und t3 ON t3.a = t1.a AND t3.b = t2.b
           |), quad AS (
           |  SELECT t.a, t.b, t.c, e1.b AS d
           |  FROM tri t
           |  JOIN und e1 ON e1.a = t.c
           |  JOIN und e2 ON e2.a = t.b AND e2.b = e1.b
           |  JOIN und e3 ON e3.a = t.a AND e3.b = e1.b
           |), ex AS (
           |  SELECT unnest([a, b, c, d]) AS id FROM quad)
           |SELECT id, CAST(count(*) AS BIGINT) AS n_cliques
           |FROM ex GROUP BY id
           |ORDER BY n_cliques DESC, id LIMIT 20""".stripMargin)),

    // ----- K27 [EXT]: butterfly counting — the bipartite-motif analog
    // of triangle counting (Sanei-Mehri, Sariyüce & Tirthapura 2018,
    // "Butterfly Counting in Bipartite Networks", KDD). A butterfly is
    // a 2x2 biclique {o1,o2}x{p1,p2} — the densest bipartite motif and
    // the clustering primitive for order/part, user/item, doc/token
    // graphs (where triangles CANNOT exist). Per-part membership count:
    // a part pair sharing c orders carries C(c,2) butterflies, each
    // counted once per pair and attributed to both endpoints. Top-20
    // parts (count DESC, id ASC).
    //
    // Scale shape: wedges are generated FROM THE ORDER SIDE — the
    // side-selection rule of the paper (pick the side minimizing
    // Σ deg², here orders: TPC-H order degree is bounded ≤ 7 by
    // construction while part degree GROWS with SF, so order-side
    // wedges stay Θ(|lineitem|) at every scale where part-side wedges
    // would be Θ(|lineitem|²/|parts|)). One self-join keyed on o (AQE
    // splits any residual hot order), one balanced (p1,p2) count whose
    // partial aggregation combines map-side, one explode+sum keyed on
    // the part id. No windows, nothing corpus-global, exact integers
    // end to end.
    Q("k27_butterflies",
      (s, d) => {
        // raw projection — butterflyCounts owns the distinct
        val e = Tables.lineitem(s, d)
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        butterflyCounts(e)
          .orderBy(desc("n_butterflies"), col("id"))
          .limit(20)
      },
      Some(
        """WITH e AS (
          |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
          |), pr AS (
          |  SELECT a.p AS p1, b.p AS p2, count(*) AS c
          |  FROM e a JOIN e b ON a.o = b.o AND a.p < b.p
          |  GROUP BY 1, 2 HAVING count(*) >= 2
          |), ex AS (
          |  SELECT unnest([p1, p2]) AS id, (c * (c - 1)) // 2 AS bf
          |  FROM pr)
          |SELECT id, CAST(sum(bf) AS BIGINT) AS n_butterflies
          |FROM ex GROUP BY id
          |ORDER BY n_butterflies DESC, id LIMIT 20""".stripMargin)),


    // ----- K8: community detection by synchronous label propagation
    // (Raghavan et al. 2007) — every vertex adopts its neighbourhood's
    // modal label each round, ties broken (count DESC, label ASC) so
    // the rule is a pure function of the previous round and both
    // engines replicate it bit-for-bit. Sync LPA can oscillate on
    // bipartite structures; a FIXED 4 rounds (not a convergence probe)
    // makes that irrelevant to determinism and lets the oracle unroll
    // the rounds as MATERIALIZED CTEs. Each round is one vertex-keyed
    // edge⋈label join + a (vertex, label) count + a per-vertex argmax
    // via min(struct(-count, label)) — map-side combinable, hot-key
    // safe, no windows; labels are checkpointed per round to cap
    // lineage. At sf0.01 this finds 841 communities with power-law
    // sizes (max 1,702) on the video graph.
    Q("k8_lpa",
      (s, d) => lpa(s, d, rounds = 4),
      Some(
        s"""WITH ${lpaOracleCtes(4)}
           |SELECT w.v AS community,
           |       CAST(count(*) AS BIGINT) AS n_members
           |FROM l4 JOIN vmap w ON l4.lbl = w.id
           |GROUP BY w.v ORDER BY community""".stripMargin)),

    // ----- K9: weakly connected components — the dedup/partitioning
    // primitive (cluster ids for fuzzy-dedup graphs, subgraph
    // extraction) via O(log n) large-star/small-star contraction (see
    // [[wcc]]). The ORACLE is the textbook alternative: min-label
    // propagation WITH POINTER JUMPING unrolled to 22 stages
    // (converges in 13 at sf0.01 / 16 at sf0.1, MATERIALIZED per
    // stage) — the two independently-derived algorithms agreeing on
    // every component is the correctness argument, and the
    // round-count gap (5 star rounds vs 13+) is the scale argument.
    // Output: one row per component with its size.
    Q("k9_wcc",
      (s, d) => wcc(s, thinEdges(s, d))
        .groupBy("component")
        .agg(count(lit(1)).as("n_members"))
        .orderBy("component"),
      Some {
        // each stage = one min-label propagation hop + one pointer
        // jump (l ← l[l] — every label is itself a vertex id, so the
        // self-join always matches, and the label of my label is in
        // my component with a value ≤ mine). The jump roughly doubles
        // the distance labels travel per stage: measured convergence
        // is 13 rounds at sf0.01 / 16 at sf0.1 (vs 19 / 25 for plain
        // propagation — which is why the round-7 22-stage plain
        // unroll silently served a NON-converged labeling at sf0.1:
        // 1221 "components" vs the true 1218 that both the star
        // contraction and this jumped unroll agree on).
        val stages = (1 to 22).map { i =>
          val (p, c) = (s"l${i - 1}", s"l$i")
          s"""p$i AS MATERIALIZED (
             |  SELECT $p.v, least($p.l, coalesce(m.m, $p.l)) AS l
             |  FROM $p LEFT JOIN (
             |    SELECT e.s AS v, min(p2.l) AS m
             |    FROM sym e JOIN $p p2 ON p2.v = e.d GROUP BY e.s
             |  ) m USING (v)
             |), $c AS MATERIALIZED (
             |  SELECT a.v, b.l FROM p$i a JOIN p$i b ON b.v = a.l
             |)""".stripMargin
        }.mkString(", ")
        s"""WITH de AS MATERIALIZED (
           |  SELECT DISTINCT l_orderkey AS s, l_partkey AS d
           |  FROM lineitem WHERE l_linenumber = 1
           |), sym AS MATERIALIZED (
           |  SELECT s, d FROM de WHERE s <> d
           |  UNION SELECT d, s FROM de WHERE s <> d
           |), verts AS MATERIALIZED (
           |  SELECT DISTINCT v FROM (
           |    SELECT s AS v FROM de UNION ALL SELECT d FROM de)
           |), l0 AS MATERIALIZED (SELECT v, v AS l FROM verts),
           |$stages,
           |nonconv AS (
           |  SELECT count(*) AS c FROM l22 a JOIN l21 b
           |  ON a.v = b.v AND a.l <> b.l)
           |SELECT CASE WHEN (SELECT c FROM nonconv) > 0
           |    THEN CAST(error('k9 oracle: 22-stage unroll did NOT ' ||
           |      'converge — raise the stage count') AS BIGINT)
           |    ELSE l END AS component,
           |  CAST(count(*) AS BIGINT) AS n_members
           |FROM l22 GROUP BY l ORDER BY component""".stripMargin
      }),

    // ----- K10: weighted single-source shortest paths — BFS's (k5)
    // weighted sibling: routing cost, influence distance, weighted-hop
    // contamination radius. Frontier Bellman-Ford (see [[sssp]]) over
    // the capped directed graph with a deterministic per-edge weight
    // (1 + min(l_suppkey % 5) over the edge's duplicate rows — min, so
    // any subset of lineitem rows reproduces it). Source = min src id,
    // derived from the data (1-row control-plane aggregate, the k5
    // convention). Oracle: recursive path closure pruned at dist 30 —
    // a valid bound because the measured eccentricity at the oracle
    // scale is 22 and every shortest path itself stays under the
    // bound; min(dist) per vertex over the bounded closure is then
    // exactly the shortest distance.
    Q("k10_sssp",
      (s, d) => {
        val edges = cachedBySrc(s, d, "ssspEdgesBySrc") {
          Tables.lineitem(s, d)
            .filter(col("l_orderkey") < cap && col("l_partkey") < cap)
            .groupBy(col("l_orderkey").as("src"), col("l_partkey").as("dst"))
            .agg((lit(1) + min(col("l_suppkey") % 5)).as("w"))
        }
        val source = edges.agg(min(col("src"))).head().getLong(0)
        sssp(s, edges, source)
          .select(col("id"), col("dist").cast("int").as("dist"))
          .orderBy("id")
      },
      Some(
        s"""WITH RECURSIVE e AS (
           |  SELECT l_orderkey AS src, l_partkey AS dst,
           |         1 + min(l_suppkey % 5) AS w
           |  FROM lineitem WHERE l_orderkey < $cap AND l_partkey < $cap
           |  GROUP BY 1, 2
           |), s0 AS (SELECT min(src) AS s FROM e),
           |p(v, dd) AS (
           |  SELECT s, CAST(0 AS BIGINT) FROM s0
           |  UNION
           |  SELECT e.dst, p.dd + e.w FROM p JOIN e ON e.src = p.v
           |  WHERE p.dd + e.w <= 30
           |)
           |SELECT v AS id, CAST(min(dd) AS INT) AS dist
           |FROM p GROUP BY v ORDER BY id""".stripMargin)),

    // ----- K11: 2-hop neighborhood feature aggregation — the
    // GraphSAGE-mean layer (Hamilton et al. 2017) as pure relational
    // algebra: hop 1 averages each vertex's out-neighbors' feature
    // (views), hop 2 averages the neighbors' hop-1 values — exactly
    // the message-passing step every distributed GNN system (DGL,
    // PyG-on-Spark, AliGraph) lowers to joins + keyed aggregates. Each
    // hop: broadcast-join the (narrow, |V|-row) feature table onto the
    // edge list's dst, then aggregate on src — the key the cached edge
    // table is already partitioned on ([[cachedBySrc]]), and a
    // broadcast join preserves it, so the per-hop aggregate runs with
    // NO exchange at all. (With a feature table too wide to broadcast
    // you'd flip to dst-partitioned edges and pay the src-keyed
    // aggregate shuffle — the standard GNN trade.) Determinism: means
    // are floor(sum/count) — sums are exact BIGINTs < 2^53, so the
    // double division floors identically on both engines. Inner
    // joins: a vertex appears at hop h only if it has an out-neighbor
    // with a defined hop-(h-1) value.
    Q("k11_neighbor_agg",
      (s, d) => {
        val e = cappedDistinctBySrc(s, d)
        val feat = Tables.videos(s, d)
          .select(expr("CAST(substring(id, 2) AS BIGINT)").as("v"),
            col("views"))
          .filter(col("v") < cap)
        val h1 = e.join(
            broadcast(feat.select(col("v").as("dst"), col("views"))),
            Seq("dst"))
          .groupBy(col("src").as("v"))
          .agg(count(lit(1)).as("n_out"),
            floor(sum(col("views")).cast("double") / count(lit(1)))
              .cast("long").as("h1"))
        val h2 = e.join(
            broadcast(h1.select(col("v").as("dst"), col("h1"))),
            Seq("dst"))
          .groupBy(col("src").as("v"))
          .agg(count(lit(1)).as("n2"),
            floor(sum(col("h1")).cast("double") / count(lit(1)))
              .cast("long").as("h2"))
        h1.join(h2, Seq("v"), "left")
          .select(col("v").as("id"), col("n_out"), col("h1"),
            col("n2"), col("h2"))
          .orderBy("id")
      },
      Some(
        s"""WITH ${Oracles.videosCte},
           |e AS (
           |  SELECT DISTINCT l_orderkey AS src, l_partkey AS dst
           |  FROM lineitem WHERE l_orderkey < $cap AND l_partkey < $cap
           |), feat AS (
           |  SELECT CAST(substr(id, 2) AS BIGINT) AS v, views
           |  FROM videos WHERE CAST(substr(id, 2) AS BIGINT) < $cap
           |), h1 AS (
           |  SELECT e.src AS v, count(*) AS n_out,
           |    CAST(floor(CAST(sum(f.views) AS DOUBLE) / count(*))
           |      AS BIGINT) AS h1
           |  FROM e JOIN feat f ON f.v = e.dst
           |  GROUP BY e.src
           |), h2 AS (
           |  SELECT e.src AS v, count(*) AS n2,
           |    CAST(floor(CAST(sum(h.h1) AS DOUBLE) / count(*))
           |      AS BIGINT) AS h2
           |  FROM e JOIN h1 h ON h.v = e.dst
           |  GROUP BY e.src
           |)
           |SELECT h1.v AS id, CAST(h1.n_out AS BIGINT) AS n_out, h1.h1,
           |       CAST(h2.n2 AS BIGINT) AS n2, h2.h2
           |FROM h1 LEFT JOIN h2 ON h2.v = h1.v
           |ORDER BY id""".stripMargin)),

    // ----- approximate neighborhood function (ANF / HyperBall, Palmer
    // et al. 2002; Boldi & Vigna 2013): N(t) = Σ_v |ball_v(t)|, the
    // curve behind effective-diameter and centrality estimates on
    // graphs too large for exact reachability. Engine: one mergeable
    // HLL sketch PER NODE (the engine's own hll_sketch_agg /
    // hll_union machinery — the m_hll_rollup registers applied as
    // per-vertex graph state); round t unions each node's sketch with
    // its out-neighbors' round-t-1 sketches — O(m) sketch merges per
    // round with CONSTANT per-node state, where exact ANF carries
    // O(n·m) pair state (the oracle literally pays it: 4 unrolled
    // closure CTEs). That asymptotic gap IS the 100-TB story — at
    // billions of edges the pair table is impossible and the 4-KB
    // sketches are not. The exact ball rides along here purely as the
    // acceptance harness (the m_hll_rollup convention): output is the
    // exact N(t) plus a 5%-relative-error acceptance flag on the HLL
    // estimate; production keeps only the sketches. Edges are the
    // k3/k5 capped cached table; both states localCheckpoint per
    // round (the iterative-loop lineage rule).
    Q("k12_anf",
      (s, d) => {
        val edges = cappedDistinctBySrc(s, d)
        // the sketch-pull join keys on the NEIGHBOR end — a reversed
        // cached copy keyed (and partitioned) on that end means the
        // |E|-side never re-exchanges across the 4 rounds; only the
        // n-row sketch table moves (the GraphLoopPlanSpec discipline).
        // rev: src = the neighbor supplying its sketch, dst = the node
        // receiving it.
        val rev = cachedBySrc(s, d, "anfRevBySrc") {
          cappedEdges(s, d).distinct()
            .select(col("dst").as("src"), col("src").as("dst"))
        }
        val nodes = edges.select(col("src").as("v"))
          .unionByName(edges.select(col("dst").as("v"))).distinct()
        var sk = nodes.groupBy("v")
          .agg(expr("hll_sketch_agg(v, 12)").as("sk"))
          .stageCkpt()
        var ball = nodes.select(col("v"), col("v").as("u"))
          .stageCkpt()
        val rounds = (1 to 4).map { t =>
          val nbr = rev
            .join(sk.select(col("v").as("src"), col("sk").as("nsk")),
              Seq("src"))
            .groupBy(col("dst"))
            .agg(expr("hll_union_agg(nsk, false)").as("nsk"))
            .withColumnRenamed("dst", "v")
          sk = sk.join(nbr, Seq("v"), "left")
            .select(col("v"),
              when(col("nsk").isNull, col("sk"))
                .otherwise(expr("hll_union(sk, nsk, false)")).as("sk"))
            .stageCkpt()
          val grow = ball.join(edges, ball("u") === edges("src"))
            .select(ball("v"), edges("dst").as("u"))
          ball = ball.unionByName(grow).distinct().stageCkpt()
          sk.agg(sum(expr("hll_sketch_estimate(sk)")).as("est"))
            .crossJoin(ball.agg(count(lit(1)).as("exact_reach")))
            .select(lit(t).as("t"), col("exact_reach"),
              (abs(col("est") - col("exact_reach")).cast("double")
                / col("exact_reach") < 0.05).as("hll_within_5pct"))
        }
        rounds.reduce(_ unionByName _).orderBy("t")
      },
      Some(
        s"""WITH edges AS (
           |  SELECT DISTINCT l_orderkey AS src, l_partkey AS dst
           |  FROM lineitem WHERE l_orderkey < $cap AND l_partkey < $cap
           |), nodes AS (
           |  SELECT src AS v FROM edges UNION SELECT dst FROM edges
           |), b0 AS (SELECT v, v AS u FROM nodes),
           |b1 AS (SELECT v, u FROM b0 UNION
           |  SELECT b.v, e.dst FROM b0 b JOIN edges e ON b.u = e.src),
           |b2 AS (SELECT v, u FROM b1 UNION
           |  SELECT b.v, e.dst FROM b1 b JOIN edges e ON b.u = e.src),
           |b3 AS (SELECT v, u FROM b2 UNION
           |  SELECT b.v, e.dst FROM b2 b JOIN edges e ON b.u = e.src),
           |b4 AS (SELECT v, u FROM b3 UNION
           |  SELECT b.v, e.dst FROM b3 b JOIN edges e ON b.u = e.src)
           |SELECT 1 AS t, (SELECT count(*) FROM b1) AS exact_reach,
           |  TRUE AS hll_within_5pct
           |UNION ALL SELECT 2, (SELECT count(*) FROM b2), TRUE
           |UNION ALL SELECT 3, (SELECT count(*) FROM b3), TRUE
           |UNION ALL SELECT 4, (SELECT count(*) FROM b4), TRUE
           |ORDER BY t""".stripMargin)),

    // ----- multi-source closeness centrality: reach count and distance
    // mass for the top-5 out-degree hubs, via ONE batched BFS whose
    // state is (source, node, dist) — k sources traverse together in a
    // single frame instead of k separate loops, so the per-round join
    // against the cached edge table is paid once for the whole seed
    // set (the way production scores a seed set's centrality; k5_bfs
    // is the single-source special case) — [[frontier]] keyed by
    // `source`, with the oracle's 40-hop horizon.
    // Output stays integral (reach count + distance sum) — the
    // closeness RATIO is a trivial client-side division, and emitting
    // the integers keeps the oracle float-free.
    Q("k13_closeness",
      (s, d) => {
        val edges = cappedDistinctBySrc(s, d)
        val srcs = edges.groupBy("src").agg(count(lit(1)).as("dg"))
          .orderBy(desc("dg"), col("src")).limit(5)
          .select(col("src").as("source"))
        frontier(edges, Ckpt.stageCounted(
            srcs.select(col("source"), col("source").as("id"))),
          Seq("source"), hops = 40)
          .groupBy("source")
          .agg(count(lit(1)).as("n_reached"),
            sum(col("dist")).cast("long").as("sum_dist"))
          .orderBy("source")
      },
      Some(
        s"""WITH RECURSIVE edges AS (
           |  SELECT DISTINCT l_orderkey AS src, l_partkey AS dst
           |  FROM lineitem WHERE l_orderkey < $cap AND l_partkey < $cap
           |), deg AS (
           |  SELECT src, count(*) AS dg FROM edges GROUP BY src
           |), srcs AS (
           |  SELECT src AS s FROM deg ORDER BY dg DESC, src LIMIT 5
           |), walk(s, v, d) AS (
           |  SELECT s, s, 0 FROM srcs
           |  UNION
           |  SELECT w.s, e.dst, w.d + 1
           |  FROM walk w JOIN edges e ON w.v = e.src
           |  WHERE w.d < 40
           |), md AS (
           |  SELECT s, v, min(d) AS d FROM walk GROUP BY s, v
           |)
           |SELECT s AS source, CAST(count(*) AS BIGINT) AS n_reached,
           |  CAST(sum(d) AS BIGINT) AS sum_dist
           |FROM md GROUP BY s ORDER BY source""".stripMargin)),

    // ----- K15: common-neighbor link prediction (Liben-Nowell &
    // Kleinberg 2003) — score UNLINKED vertex pairs by neighborhood
    // overlap, the candidate-generation step of every graph
    // recommender ("people you may know", related-video suggestion —
    // exactly the edge set the reference crawls). Pipeline: symmetrize
    // the capped graph, expand wedges through an INVERTED NEIGHBOR
    // INDEX (u–w–v pairs grouped by center w), count common neighbors
    // per (u,v), drop pairs that are ALREADY edges (left anti — a link
    // predictor must not predict the training set), then attach exact
    // degrees for the Jaccard and preferential-attachment scores.
    // Scale levers, in order: (1) wedge centers are HUB-CAPPED
    // (deg(w) ≤ 64) — pair fan-out is Σ deg(w)², so one celebrity hub
    // emits O(deg²) pairs while contributing a constant to every
    // score; capping bounds the expansion by 64·|E| rows (the k4b
    // degree-orientation argument applied to wedges, and standard
    // practice in production link prediction). (2) The (u,v) count is
    // a map-side-combinable keyed shuffle. (3) Degrees join on the
    // vertex key — at fixture scale Spark broadcasts the capped degree
    // table; at 100 TB it degrades gracefully to two keyed shuffles.
    // Jaccard = c/(du+dv−c) is one IEEE division of exact integers —
    // bit-identical on both engines; no floats feed any decision.
    Q("k15_link_predict",
      (s, d) => {
        // staged: und has ~6 transitive consumers (both symmetrize
        // arms, the non-edge anti-join, and everything downstream of
        // adj/deg) — unstaged, the capped distinct re-ran per consumer
        val und = cappedEdges(s, d)
          .filter(col("src") =!= col("dst"))
          .select(least(col("src"), col("dst")).as("a"),
            greatest(col("src"), col("dst")).as("b"))
          .distinct().stageCkpt()
        val adj = und.unionByName(
          und.select(col("b").as("a"), col("a").as("b")))
        val deg = adj.groupBy(col("a").as("v"))
          .agg(count(lit(1)).as("dg"))
        // wedge centers: w with deg(w) <= 64 (hub cap); adjW keyed by
        // the center so both wedge legs read one shuffle of it —
        // staged so the self-join's two legs share the semi-join pass
        val adjW = adj.select(col("a").as("w"), col("b").as("u"))
          .join(deg.filter(col("dg") <= 64).select(col("v").as("w")),
            Seq("w"), "left_semi")
          .stageCkpt()
        val pairs = adjW
          .join(adjW.select(col("w"), col("u").as("v")), Seq("w"))
          .filter(col("u") < col("v"))
          .groupBy("u", "v")
          .agg(count(lit(1)).as("common"))
          .filter(col("common") >= 3)
          .join(und.select(col("a").as("u"), col("b").as("v")),
            Seq("u", "v"), "left_anti")
        pairs
          .join(deg.select(col("v").as("u"), col("dg").as("deg_u")),
            Seq("u"))
          .join(deg.select(col("v"), col("dg").as("deg_v")), Seq("v"))
          .select(col("u"), col("v"), col("common"),
            col("deg_u"), col("deg_v"),
            (col("common").cast("double") /
              (col("deg_u") + col("deg_v") - col("common")))
              .as("jaccard"),
            (col("deg_u") * col("deg_v")).as("pref_attach"))
          .orderBy(desc("common"), col("u"), col("v"))
          .limit(50)
      },
      Some(
        s"""WITH und AS (
           |  SELECT DISTINCT least(l_orderkey, l_partkey) AS a,
           |                  greatest(l_orderkey, l_partkey) AS b
           |  FROM lineitem
           |  WHERE l_orderkey < $cap AND l_partkey < $cap
           |    AND l_orderkey <> l_partkey
           |), adj AS (
           |  SELECT a, b FROM und UNION ALL SELECT b, a FROM und
           |), deg AS (
           |  SELECT a AS v, CAST(count(*) AS BIGINT) AS dg
           |  FROM adj GROUP BY a
           |), adjw AS (
           |  SELECT a AS w, b AS u FROM adj
           |  WHERE a IN (SELECT v FROM deg WHERE dg <= 64)
           |), pairs AS (
           |  SELECT x.u, y.u AS v, CAST(count(*) AS BIGINT) AS common
           |  FROM adjw x JOIN adjw y ON x.w = y.w AND x.u < y.u
           |  GROUP BY x.u, y.u
           |  HAVING count(*) >= 3
           |), cand AS (
           |  SELECT p.* FROM pairs p
           |  WHERE NOT EXISTS (SELECT 1 FROM und
           |                    WHERE und.a = p.u AND und.b = p.v)
           |)
           |SELECT c.u, c.v, c.common, du.dg AS deg_u, dv.dg AS deg_v,
           |  CAST(c.common AS DOUBLE) / (du.dg + dv.dg - c.common)
           |    AS jaccard,
           |  du.dg * dv.dg AS pref_attach
           |FROM cand c
           |JOIN deg du ON du.v = c.u
           |JOIN deg dv ON dv.v = c.v
           |ORDER BY c.common DESC, c.u, c.v LIMIT 50""".stripMargin)),

    // ----- K16: modularity of the k8 LPA partition (Newman & Girvan
    // 2004) — the "was that community structure real?" score: Q =
    // Σ_c [in_c/2m − (d_c/2m)²], fraction of edges inside communities
    // minus the fraction a degree-preserving random rewiring would
    // put there. Detection without a quality score is half a feature —
    // LPA always RETURNS labels; Q says whether they mean anything.
    // Exact-integer trick: over the symmetric edge set (|rows| = 2m),
    // Q·(2m)² = 2m·Σin_c − Σd_c² — every term a BIGINT (in_c counts
    // same-label symmetric edges, d_c sums member degrees; at sf0.1,
    // 2m ≈ 1.2e6 keeps all products < 1.5e12, far inside both BIGINT
    // and double-exact range), so the only float is the final reported
    // ratio of two exact integers. Plan: the 4-round LPA loop (same
    // cost/shape as k8), then ONE pass over the cached edge table with
    // two label joins (labels shuffle on the vertex key; the
    // src-partitioned edge side never re-exchanges) and 1-row capsule
    // cross joins for the assembly. The oracle re-runs the whole
    // unrolled LPA and recomputes Q independently.
    Q("k16_modularity",
      (s, d) => {
        // MV routing of the ITERATIVE artifact: the query below spells
        // the full 4-round LPA derivation (lpaPlanPure — referenced
        // three times, and DataFrame reuse clones the subtree), but
        // ArtifactRewrite proves each clone `sameResult` to the
        // registered derivation and answers all three from the landed
        // label table — the k8 loop runs ONCE per (session, dir) at
        // artifact-build time, never inside this query. Registration
        // is per-query (disarmed after the plan is built), and the
        // spec pins the routed plan + result invariance vs the
        // unrouted loop.
        // The registration stays armed for THIS query's DataFrame
        // lifetime — a later .write builds a fresh QueryExecution and
        // re-optimizes, and must still route (round-7: an eager
        // disarm made the sink path silently fall back to running the
        // 3× LPA loop while queryExecution-based pins kept passing).
        // SparkEntry disarms it the moment any other query is built.
        armLpaArtifact(s, d)
        modularityOf(s, d, lpaPlanPure(s, d, rounds = 4))
      },
      Some(
        s"""WITH ${lpaOracleCtes(4)}, deg AS (
           |  SELECT src, CAST(count(*) AS BIGINT) AS dg
           |  FROM e0 GROUP BY src
           |), ins AS (
           |  SELECT CAST(count(*) AS BIGINT) AS in_sum
           |  FROM e0 e JOIN l4 a ON e.src = a.v JOIN l4 b ON e.dst = b.v
           |  WHERE a.lbl = b.lbl
           |), dc AS (
           |  SELECT a.lbl, CAST(sum(d.dg) AS BIGINT) AS d_c
           |  FROM deg d JOIN l4 a ON d.src = a.v GROUP BY a.lbl
           |), sums AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_communities,
           |    CAST(sum(d_c * d_c) AS BIGINT) AS sum_d2
           |  FROM dc
           |), m2 AS (
           |  SELECT CAST(count(*) AS BIGINT) AS two_m FROM e0
           |)
           |SELECT s.n_communities, m2.two_m, i.in_sum, s.sum_d2,
           |  CAST(m2.two_m * i.in_sum - s.sum_d2 AS BIGINT) AS q_num,
           |  CAST(m2.two_m * i.in_sum - s.sum_d2 AS DOUBLE) /
           |    (CAST(m2.two_m AS DOUBLE) * m2.two_m) AS modularity
           |FROM sums s, ins i, m2""".stripMargin)),

    // ----- K17: global clustering coefficient (transitivity) —
    // C = 3·triangles / wedges, the one-number answer to "is this a
    // social graph or a random one?" (random graphs: C ≈ d̄/n; social
    // graphs: orders of magnitude higher). Numerator reuses the
    // [[triangleCounts]] machinery (the k4 wedge-join plan, O(m^1.5)
    // under the low-id orientation); the denominator is a pure degree
    // aggregate — Σ d(d−1)/2, one keyed shuffle, no joins. Both sides
    // stay BIGINT; the coefficient is the single final division of
    // exact integers. The per-vertex membership sum equals 3T exactly
    // (each triangle counted once per corner), which the oracle
    // recomputes from an independently-oriented triangle enumeration.
    Q("k17_clustering_coeff",
      (s, d) => {
        val und = cappedEdges(s, d)
          .filter(col("src") =!= col("dst"))
          .select(least(col("src"), col("dst")).as("a"),
            greatest(col("src"), col("dst")).as("b"))
          .distinct()
        val adj = und.unionByName(
          und.select(col("b").as("a"), col("a").as("b")))
        val wedges = adj.groupBy(col("a").as("v"))
          .agg(count(lit(1)).as("dg"))
          .agg(count(lit(1)).as("n_vertices"),
            sum(expr("dg * (dg - 1) div 2")).as("n_wedges"))
        val tri = triangleCounts(cappedEdges(s, d))
          .agg(coalesce(sum(col("n_triangles")), lit(0L))
            .as("tri_memberships"))
        wedges.crossJoin(broadcast(tri))
          .select(col("n_vertices"), col("n_wedges"),
            col("tri_memberships"),
            (col("tri_memberships").cast("double") / col("n_wedges"))
              .as("global_coeff"))
      },
      Some(
        s"""WITH und AS (
           |  SELECT DISTINCT least(l_orderkey, l_partkey) AS a,
           |                  greatest(l_orderkey, l_partkey) AS b
           |  FROM lineitem
           |  WHERE l_orderkey < $cap AND l_partkey < $cap
           |    AND l_orderkey <> l_partkey
           |), adj AS (
           |  SELECT a, b FROM und UNION ALL SELECT b, a FROM und
           |), w AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_vertices,
           |    CAST(sum(dg * (dg - 1) // 2) AS BIGINT) AS n_wedges
           |  FROM (SELECT a, CAST(count(*) AS BIGINT) AS dg
           |        FROM adj GROUP BY a)
           |), tri AS (
           |  SELECT t1.a, t1.b, t2.b AS c
           |  FROM und t1
           |  JOIN und t2 ON t2.a = t1.b
           |  JOIN und t3 ON t3.a = t1.a AND t3.b = t2.b
           |), t AS (
           |  SELECT CAST(3 * count(*) AS BIGINT) AS tri_memberships
           |  FROM tri
           |)
           |SELECT w.n_vertices, w.n_wedges, t.tri_memberships,
           |  CAST(t.tri_memberships AS DOUBLE) / w.n_wedges
           |    AS global_coeff
           |FROM w, t""".stripMargin)),

    // ----- K18: degree assortativity (Newman 2002) — the Pearson
    // correlation of endpoint degrees over the edge list: do hubs link
    // to hubs (r > 0, social networks) or to leaves (r < 0, the
    // hub-and-spoke shape of web/biology graphs — and of this
    // order→part fixture)? One pass: attach each symmetric edge's two
    // endpoint degrees (the edge table and the degree table both key
    // on the vertex — two keyed joins, the k15 degree-attach shape),
    // then a single 4-sum aggregate. Over the symmetric list Σx = Σy
    // and Σx² = Σy², so r = (Se·Σxy − (Σx)²) / (Se·Σx² − (Σx)²) with
    // every sum BIGINT-exact on the capped graph (at 100 TB the sums
    // are Σd³-scale — the production move is the same formula over
    // DECIMAL(38) partial aggregates, same plan shape). The only
    // floats are the final two exact-integer divisions.
    Q("k18_assortativity",
      (s, d) => {
        val und = cappedEdges(s, d)
          .filter(col("src") =!= col("dst"))
          .select(least(col("src"), col("dst")).as("a"),
            greatest(col("src"), col("dst")).as("b"))
          .distinct()
        val adj = und.unionByName(
          und.select(col("b").as("a"), col("a").as("b")))
        val deg = adj.groupBy(col("a").as("v"))
          .agg(count(lit(1)).as("dg"))
        adj
          .join(deg.select(col("v").as("a"), col("dg").as("x")),
            Seq("a"))
          .join(deg.select(col("v").as("b"), col("dg").as("y")),
            Seq("b"))
          .agg(count(lit(1)).as("se"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x")).as("sx"),
            sum(col("x") * col("x")).as("sxx"))
          .select(col("se"), col("sxy"), col("sx"), col("sxx"),
            ((col("se") * col("sxy") - col("sx") * col("sx"))
              .cast("double") /
              (col("se") * col("sxx") - col("sx") * col("sx")))
              .as("assortativity"))
      },
      Some(
        s"""WITH und AS (
           |  SELECT DISTINCT least(l_orderkey, l_partkey) AS a,
           |                  greatest(l_orderkey, l_partkey) AS b
           |  FROM lineitem
           |  WHERE l_orderkey < $cap AND l_partkey < $cap
           |    AND l_orderkey <> l_partkey
           |), adj AS (
           |  SELECT a, b FROM und UNION ALL SELECT b, a FROM und
           |), deg AS (
           |  SELECT a AS v, CAST(count(*) AS BIGINT) AS dg
           |  FROM adj GROUP BY a
           |), agg AS (
           |  SELECT CAST(count(*) AS BIGINT) AS se,
           |    CAST(sum(dx.dg * dy.dg) AS BIGINT) AS sxy,
           |    CAST(sum(dx.dg) AS BIGINT) AS sx,
           |    CAST(sum(dx.dg * dx.dg) AS BIGINT) AS sxx
           |  FROM adj e
           |  JOIN deg dx ON e.a = dx.v
           |  JOIN deg dy ON e.b = dy.v
           |)
           |SELECT se, sxy, sx, sxx,
           |  CAST(se * sxy - sx * sx AS DOUBLE) /
           |    (se * sxx - sx * sx) AS assortativity
           |FROM agg""".stripMargin)),

    // ----- K19: bow-tie decomposition (Broder et al., WWW 2000) — the
    // macroscopic map of a directed graph: CORE (the largest SCC), IN
    // (reaches the core), OUT (reached from it), TENDRILS (attached to
    // the core's undirected component but on no core-through path),
    // DISCONNECTED (elsewhere). The original web-crawl census query —
    // run here over the same crawl-shaped capped graph as k1, composing
    // three primitives the engine already has: the session-cached SCC
    // labeling (k1's loop, computed once), and three seeded
    // [[frontier]] reachability loops (forward / backward / undirected)
    // over the src-partitioned cached edge tables. Classification is four
    // anti-joins with fixed precedence — pure set algebra, no floats
    // anywhere. The oracle recomputes the SCC from the recursive
    // transitive closure and each region from its own seeded recursive
    // CTE — fully independent derivation of all five counts.
    Q("k19_bowtie",
      (s, d) => {
        val fwd = cappedDistinctBySrc(s, d)
        val rev = cachedBySrc(s, d, "anfRevBySrc") {
          cappedEdges(s, d).distinct()
            .select(col("dst").as("src"), col("src").as("dst"))
        }
        val sym = cachedBySrc(s, d, "cappedSymBySrc") {
          val e = cappedEdges(s, d)
          e.unionByName(e.select(col("dst").as("src"),
            col("src").as("dst"))).distinct()
        }
        val comp = cappedScc(s, d)
        val top = comp.groupBy("component")
          .agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), col("component")).limit(1)
        // the core's row count rides its staging action and is the
        // witness all three reachability loops start from
        val (core, coreN) = Ckpt.stageCounted(comp
          .join(broadcast(top.select("component")), Seq("component"))
          .select(col("id").as("v")))
        def reach(edges: DataFrame): DataFrame =
          frontier(edges, (core.select(col("v").as("id")), coreN))
            .select(col("id").as("v"))
        // the three seeded fixpoints are INDEPENDENT (each reads only
        // its own cached edge table and the checkpointed core), and
        // each round is a driver-coordinated action — run sequentially
        // the cluster idles through 3× the per-round latency tail, so
        // drive them as concurrent jobs (Spark's scheduler interleaves
        // their stages; results are deterministic either way)
        val (outR, inR, undR) = {
          import scala.concurrent.{Await, Future}
          import scala.concurrent.ExecutionContext.Implicits.global
          import scala.concurrent.duration.DurationInt
          val fo = Future(reach(fwd))
          val fi = Future(reach(rev))
          val fu = Future(reach(sym))
          (Await.result(fo, 30.minutes), Await.result(fi, 30.minutes),
            Await.result(fu, 30.minutes))
        }
        val verts = cappedVerts(s, d)
        val inS = inR.join(core, Seq("v"), "left_anti")
        val outS = outR.join(core, Seq("v"), "left_anti")
        val tendril = undR.join(core, Seq("v"), "left_anti")
          .join(inS, Seq("v"), "left_anti")
          .join(outS, Seq("v"), "left_anti")
        val disc = verts.join(undR, Seq("v"), "left_anti")
        Seq(core.withColumn("bowtie_class", lit("core")),
          inS.withColumn("bowtie_class", lit("in")),
          outS.withColumn("bowtie_class", lit("out")),
          tendril.withColumn("bowtie_class", lit("tendril")),
          disc.withColumn("bowtie_class", lit("disconnected")))
          .reduce(_ unionByName _)
          .join(verts, Seq("v"), "left_semi")
          .groupBy("bowtie_class")
          .agg(count(lit(1)).as("n_vertices"))
          .orderBy("bowtie_class")
      },
      Some(
        s"""WITH RECURSIVE $sccOracleCtes, sizes AS (
           |  SELECT component, count(*) AS n FROM comp
           |  GROUP BY component ORDER BY n DESC, component LIMIT 1
           |), core AS (
           |  SELECT id AS v FROM comp
           |  JOIN sizes USING (component)
           |), se AS (
           |  SELECT src, dst FROM edges
           |  UNION SELECT dst, src FROM edges
           |), outr(v) AS (
           |  SELECT v FROM core
           |  UNION
           |  SELECT e.dst FROM outr o JOIN edges e ON e.src = o.v
           |), inr(v) AS (
           |  SELECT v FROM core
           |  UNION
           |  SELECT e.src FROM inr i JOIN edges e ON e.dst = i.v
           |), undr(v) AS (
           |  SELECT v FROM core
           |  UNION
           |  SELECT e.dst FROM undr u JOIN se e ON e.src = u.v
           |)
           |SELECT CASE
           |    WHEN c.v IS NOT NULL THEN 'core'
           |    WHEN i.v IS NOT NULL THEN 'in'
           |    WHEN o.v IS NOT NULL THEN 'out'
           |    WHEN u.v IS NOT NULL THEN 'tendril'
           |    ELSE 'disconnected' END AS bowtie_class,
           |  CAST(count(*) AS BIGINT) AS n_vertices
           |FROM verts t
           |LEFT JOIN core c ON t.v = c.v
           |LEFT JOIN (SELECT DISTINCT v FROM inr) i ON t.v = i.v
           |LEFT JOIN (SELECT DISTINCT v FROM outr) o ON t.v = o.v
           |LEFT JOIN (SELECT DISTINCT v FROM undr) u ON t.v = u.v
           |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- K20: edge reciprocity — the fraction of directed edges
    // whose reverse also exists, the 1-line dyad census that separates
    // mutual-link graphs (social follows, r ≫ 0) from broadcast graphs
    // (citations, r ≈ 0), and the cheapest structural fingerprint to
    // monitor as a crawl grows. One self-semi-join of the edge table
    // against its own transpose on the composite (src, dst) key — both
    // sides are the same cached src-partitioned table, integers all
    // the way, one final exact division.
    Q("k20_reciprocity",
      (s, d) => {
        val e = cappedDistinctBySrc(s, d)
          .filter(col("src") =!= col("dst"))
        val recip = e.join(
          e.select(col("dst").as("src"), col("src").as("dst")),
          Seq("src", "dst"), "left_semi")
        e.agg(count(lit(1)).as("n_edges"))
          .crossJoin(broadcast(
            recip.agg(count(lit(1)).as("n_reciprocal"))))
          .select(col("n_edges"), col("n_reciprocal"),
            (col("n_reciprocal").cast("double") / col("n_edges"))
              .as("reciprocity"))
      },
      Some(
        s"""WITH e AS (
           |  SELECT DISTINCT l_orderkey AS src, l_partkey AS dst
           |  FROM lineitem
           |  WHERE l_orderkey < $cap AND l_partkey < $cap
           |    AND l_orderkey <> l_partkey
           |), r AS (
           |  SELECT e.src, e.dst FROM e
           |  WHERE EXISTS (SELECT 1 FROM e t
           |                WHERE t.src = e.dst AND t.dst = e.src)
           |)
           |SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
           |  CAST((SELECT count(*) FROM r) AS BIGINT) AS n_reciprocal,
           |  CAST((SELECT count(*) FROM r) AS DOUBLE) /
           |    (SELECT count(*) FROM e) AS reciprocity""".stripMargin)),

    // ----- K21: SCC condensation census — collapse the graph to its
    // component DAG (relabel both edge endpoints with the k1 labels,
    // then count intra-component edges and DISTINCT inter-component
    // pairs). The condensation is what scheduling/dependency engines
    // actually traverse — cycles live inside components, the DAG
    // between them is topologically sortable — and its edge count vs
    // the raw edge count measures how much structure the SCC
    // contraction removed. Reuses the session-cached SCC labeling (no
    // second loop); two vertex-keyed label joins + one distinct — all
    // exact integers. Edges whose destination lies outside the
    // labeled vertex set (parts that are not order keys) fall out of
    // the inner label join, matching the oracle's comp scope.
    Q("k21_condensation",
      (s, d) => {
        val comp = cappedScc(s, d)
        val el = cappedDistinctBySrc(s, d)
          .join(comp.select(col("id").as("src"),
            col("component").as("ca")), Seq("src"))
          .join(comp.select(col("id").as("dst"),
            col("component").as("cb")), Seq("dst"))
        val intra = el.filter(col("ca") === col("cb"))
          .agg(count(lit(1)).as("n_intra_edges"))
        val inter = el.filter(col("ca") =!= col("cb"))
          .select("ca", "cb").distinct()
          .agg(count(lit(1)).as("n_condensed_edges"))
        comp.select("component").distinct()
          .agg(count(lit(1)).as("n_components"))
          .crossJoin(broadcast(intra))
          .crossJoin(broadcast(inter))
      },
      Some(
        s"""WITH RECURSIVE $sccOracleCtes, el AS (
           |  SELECT a.component AS ca, b.component AS cb
           |  FROM edges e
           |  JOIN comp a ON e.src = a.id
           |  JOIN comp b ON e.dst = b.id
           |)
           |SELECT
           |  CAST((SELECT count(DISTINCT component) FROM comp)
           |    AS BIGINT) AS n_components,
           |  CAST((SELECT count(*) FROM el WHERE ca = cb)
           |    AS BIGINT) AS n_intra_edges,
           |  CAST((SELECT count(*) FROM (
           |      SELECT DISTINCT ca, cb FROM el WHERE ca <> cb))
           |    AS BIGINT) AS n_condensed_edges""".stripMargin)),

    // ----- K28 [EXT]: FULL k-core decomposition — per-vertex CORENESS,
    // where k7 answers only fixed-k membership. Engine: the Lü, Zhou,
    // Zhang & Stanley 2016 h-index fixpoint (Nat. Commun. 7:10168,
    // Thm 1: iterating "value := h-index of neighbour values" from
    // degrees converges exactly to coreness), with `steps` operator
    // applications fused lazily per synchronization round-trip (the
    // k7 fusion precedent; the fixpoint needs only 9 steps at sf0.1,
    // so trip latency, not data, set the wall). Each step's value
    // join is keyed on the persisted src partitioning of the
    // symmetric edge table — the big side never exchanges; only the
    // |V|-row value table and the (dst, value) histogram rows move.
    // The per-vertex h-index is computed from the (value, count)
    // HISTOGRAM of neighbour values — max(min(value, cum-count)) over
    // values descending — so the only window runs over a vertex's
    // DISTINCT neighbour values (bounded by the graph's distinct
    // degree/coreness spectrum, ~hundreds), never over a hub's full
    // neighbour list: no single-partition wall on skew (the
    // m_conformal sf10 lesson, applied at design time). Output is the
    // coreness spectrum (value, count, min/max vertex) — the
    // per-vertex exactness is pinned by GraphFuzzSpec's brute-force
    // peel differential on seeded random graphs.
    Q("k28_coreness",
      (s, d) => {
        // round 13: the h-index fixpoint runs on the int-encoded
        // edge twin (guide §2.3 — the per-step (dst, nval) exchange
        // carries longs, not 'v###' strings); min/max over the
        // encoded longs pick the SAME vertices as min/max over the
        // strings (encodeVid preserves the string order), and the
        // two ids per coreness class decode back at the rollup.
        val cor = corenessEdges(s, symEdgesIntBySrc(s, d))
        cor.groupBy(col("val").as("coreness"))
          .agg(count(lit(1)).cast("long").as("n_vertices"),
            min(col("v")).as("min_vid"),
            max(col("v")).as("max_vid"))
          .select(col("coreness"), col("n_vertices"),
            decodeVid("min_vid").as("min_vertex"),
            decodeVid("max_vid").as("max_vertex"))
          .orderBy("coreness")
      },
      Some {
        val rounds = (1 to corenessRounds).map { i =>
          s"""h$i AS MATERIALIZED (
             |  SELECT v, CAST(max(least(nval, cum)) AS BIGINT) AS val
             |  FROM (
             |    SELECT e.src AS v, p.val AS nval,
             |      sum(count(*)) OVER (PARTITION BY e.src
             |        ORDER BY p.val DESC) AS cum
             |    FROM e0 e JOIN h${i - 1} p ON p.v = e.dst
             |    GROUP BY e.src, p.val)
             |  GROUP BY v
             |)""".stripMargin
        }.mkString(", ")
        s"""WITH de AS MATERIALIZED (
           |  SELECT DISTINCT 'v' || l_orderkey AS src,
           |         'v' || l_partkey AS dst
           |  FROM lineitem
           |), e0 AS MATERIALIZED (
           |  SELECT src, dst FROM de UNION SELECT dst, src FROM de
           |), h0 AS MATERIALIZED (
           |  SELECT src AS v, CAST(count(*) AS BIGINT) AS val
           |  FROM e0 GROUP BY src
           |), $rounds
           |SELECT val AS coreness, CAST(count(*) AS BIGINT) AS n_vertices,
           |  min(v) AS min_vertex, max(v) AS max_vertex
           |FROM h$corenessRounds GROUP BY val ORDER BY coreness"""
          .stripMargin
      }),
  )

  /** The h-index coreness fixpoint over an arbitrary SYMMETRIC,
    * edge-distinct ("src", "dst") frame (same precondition as
    * [[kcoreEdges]]; self-loops, if present, count as a neighbour on
    * both engines identically). Returns ("v", "val") with val =
    * coreness. Exposed for GraphFuzzSpec's seeded random graphs.
    *
    * `steps` h-operator applications FUSE LAZILY into each
    * round-trip's plan before the checkpoint + convergence count —
    * the k7 fusion precedent, and here the fused chain is strictly
    * LINEAR (each step consumed once by the next), so there is no
    * duplicated subtree at any steps setting. Over-stepping past the
    * fixpoint is exact (the operator is idempotent there), it only
    * re-scans — same trade as k7's steps=3 sweet spot. Probed
    * frontier-delta (recompute only neighbours of the changed set)
    * first and REJECTED it: the fixpoint needs just 9 steps at
    * sf0.1, where per-trip fixed stage latency (~1.3 s even with 14
    * vertices changed) dominates — delta trims data no trip can
    * feel, while costing two extra joins per round. Each step
    * exchanges once: the value join rides the persisted src
    * partitioning of the symmetric edge table (big side still; the
    * |V|-row value side broadcasts at bench scales — fixpoint
    * measured 12.2 → 9.9 s at sf0.1 vs the dst-keyed orientation,
    * which re-exchanged and re-sorted all of e), and one explicit
    * repartition(v) feeds
    * the histogram: HashPartitioning(v) satisfies
    * ClusteredDistribution(v, nval), so the (v, nval) count, the
    * v-window over DISTINCT neighbour values (bounded by the degree
    * spectrum — no hub-length partition), and the final v-aggregate
    * all share it.
    */
  private[graft] def corenessEdges(s: SparkSession, edges0: DataFrame,
                                   maxIter: Int = 100,
                                   steps: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = edges0
    def hStep(v: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("v")).orderBy(desc("nval"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // value join keyed on SRC, histogram grouped by DST — legal
      // because e is symmetric, and it keeps the big side still: the
      // persisted src-partitioned edge table needs no exchange (and
      // the |V|-row value side broadcasts at bench scales), where the
      // dst-keyed orientation re-exchanged AND re-sorted all of e
      // every step (measured: 11.5 → 5.6 s at sf0.1)
      // r13 probe (VERDICT item 2), measured and REJECTED: replacing
      // this single raw (dst, nval) exchange with a map-side partial
      // count (plain groupBy(v, nval) → Exchange(v, nval) partials →
      // window Exchange(v)) ran ~2.3x SLOWER at sf0.1 on int keys
      // (9-11 s vs 4.3-5.7 s probes, consistent across two quiet
      // sessions): the per-step map-side hash over |E| (v, nval)
      // pairs plus the SECOND exchange cost more than the one raw
      // 16-byte-row exchange saves — the value spectrum only
      // collapses in the LAST trip, so partials combine hard exactly
      // when there is least left to save. The repartition(v) form
      // stays: one exchange serving the count, the window and the
      // final aggregate (HashPartitioning(v) satisfies all three).
      e.join(v.select(col("v").as("src"), col("val").as("nval")),
          Seq("src"))
        .select(col("dst").as("v"), col("nval"))
        .repartition(col("v"))
        .groupBy("v", "nval")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(w))
        .groupBy("v")
        .agg(max(least(col("nval"), col("cum"))).cast("long").as("val"))
    }
    // Convergence witness: Σ val, observed on the action that stages
    // each round-trip ([[Ckpt.fixpoint]]). Σ equal ⟺ pointwise equal is
    // EXACT here, not heuristic: the h-operator is monotone (raising
    // any neighbour value cannot lower a vertex's h-index) and
    // h(deg) ≤ deg pointwise, so by induction the trajectory
    // h^t(deg) is pointwise NON-INCREASING (Lü et al. 2016, the same
    // monotonicity k7's fused boolean steps already rely on) — two
    // consecutive trip states with equal long-integer sums must be
    // equal vertex-by-vertex. (Round-12 optimization; the fuzz soak
    // in GraphFuzzSpec re-pins the fixpoint against brute force.)
    // null metric = empty frame (sum over zero rows): 0 is exact.
    // Each observation also carries count(*) — the Σ-equality witness
    // is exact only while the vertex universe is CONSTANT across
    // hSteps (guaranteed by the symmetric edge-distinct precondition);
    // observing the count on the same action turns a precondition
    // violation into a hard error instead of a silent false
    // "converged" (r12 ADVICE).
    def stagedWithSums(df: DataFrame): (DataFrame, Long, Long) = {
      val obs = org.apache.spark.sql.Observation()
      val staged = df.observe(obs, sum(col("val")).as("s"),
        count(lit(1)).as("n")).stageCkpt()
      (staged, Ckpt.observedLong(obs, "s"), Ckpt.observedLong(obs, "n"))
    }
    val (vals0, valSum0, nVerts) = stagedWithSums(
      e.groupBy(col("src").as("v"))
        .agg(count(lit(1)).cast("long").as("val")))
    val (vals, _) = Ckpt.fixpoint("coreness", maxIter)(
      ((vals0, valSum0), false)) { case ((vals, valSum), _) =>
      // One Observation per FUSED INNER STEP: all CollectMetrics nodes
      // fire on the single staging action, so after the trip lands we
      // hold the whole intra-trip sum trajectory. Any two consecutive
      // equal sums (including the staged state carried in) prove the
      // fixpoint was reached INSIDE this trip — the monotone argument
      // above — which saves the whole extra confirming round-trip the
      // cross-trip compare needed (trips: ⌈T/steps⌉, not ⌈T/steps⌉+1).
      val obsList = (1 to steps).map(_ => org.apache.spark.sql.Observation())
      val staged = obsList.foldLeft(vals)((v, obs) => hStep(v).observe(obs,
        sum(col("val")).as("s"), count(lit(1)).as("n"))).stageCkpt()
      val sums = valSum +: obsList.map(Ckpt.observedLong(_, "s"))
      val counts = obsList.map(Ckpt.observedLong(_, "n"))
      require(counts.forall(_ == nVerts),
        s"coreness vertex universe changed across hSteps ($nVerts -> " +
          s"${counts.mkString(",")}): input edge frame violates the " +
          "symmetric edge-distinct precondition")
      ((staged, sums.last), sums.sliding(2).exists(p => p(0) == p(1)))
    }
    vals
  }

  /** Synchronous LPA: see the k8_lpa comment for the determinism and
    * scale shape. Returns (community, n_members) after `rounds`. */
  private def lpa(s: SparkSession, d: String, rounds: Int): DataFrame =
    lpaLabels(s, d, rounds)
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy("community")

  /** DuckDB CTE chain for `rounds` unrolled synchronous-LPA stages —
    * `de` (distinct directed string edges), `es` (symmetrized
    * strings), `vmap` (string vertex → dense BIGINT id, rank-ordered),
    * `e0` (INTEGER-MAPPED symmetric edges), `l0` (seed labels) and
    * `l1..l{rounds}` (integer label tables); shared by the k8_lpa and
    * k16_modularity oracles. Memory-bounded by construction (the
    * round-12 reformulation that zeroed the sf1 exclusions):
    *
    *  - INT-MAPPED ROUNDS: `vmap` assigns each vertex string its
    *    `row_number() OVER (ORDER BY src)` — the integer order mirrors
    *    the string order exactly, so every `min`/`max` tie-break below
    *    is bit-equivalent to the original string formulation (proven:
    *    old-vs-new outputs identical at sf0.01 AND sf0.1) while each
    *    round's hash tables hold int pairs, not 10M+ varchars.
    *  - STRUCT-FREE ARGMAX: the modal label is max-count-then-min-
    *    label via two plain int aggregates over a MATERIALIZED `g{i}`
    *    (per-(vertex,label) counts) + a join back on (src, c) —
    *    equivalent to min(struct(-c, lbl)) but avoiding DuckDB
    *    1.0.0's fused join→agg→min(STRUCT) pipeline, which ignores
    *    memory_limit and OOM-kills the process at 12M edge rows
    *    (measured: the fused form dies at 125 GB free; this form runs
    *    sf1 in 26 s / <10 GB, and sf0.1 in 5 s vs the old 159 s).
    *
    * Every carried stage is MATERIALIZED: each is referenced more than
    * once and DuckDB 1.0 inlines plain CTEs (the k7 3^depth blowup). */
  private def lpaOracleCtes(rounds: Int): String = {
    val stages = (1 to rounds).map { i =>
      val (p, c) = (s"l${i - 1}", s"l$i")
      s"""g$i AS MATERIALIZED (
         |  SELECT e.src, l.lbl, count(*) AS c
         |  FROM e0 e JOIN $p l ON l.v = e.dst GROUP BY 1, 2
         |), $c AS MATERIALIZED (
         |  SELECT g.src AS v, min(g.lbl) AS lbl
         |  FROM g$i g JOIN (SELECT src, max(c) AS mc FROM g$i
         |                   GROUP BY src) m
         |    ON g.src = m.src AND g.c = m.mc
         |  GROUP BY g.src
         |)""".stripMargin
    }.mkString(", ")
    s"""de AS MATERIALIZED (
       |  SELECT DISTINCT 'v' || l_orderkey AS src,
       |         'v' || l_partkey AS dst
       |  FROM lineitem
       |), es AS MATERIALIZED (
       |  SELECT src, dst FROM de UNION SELECT dst, src FROM de
       |), vmap AS MATERIALIZED (
       |  SELECT src AS v, row_number() OVER (ORDER BY src) AS id
       |  FROM (SELECT DISTINCT src FROM es)
       |), e0 AS MATERIALIZED (
       |  SELECT a.id AS src, b.id AS dst FROM es e
       |  JOIN vmap a ON e.src = a.v JOIN vmap b ON e.dst = b.v
       |), l0 AS MATERIALIZED (
       |  SELECT id AS v, id AS lbl FROM vmap
       |), $stages""".stripMargin
  }

  /** Newman modularity of a (v, lbl) label table over the symmetric
    * video graph — the k16 body, parameterized on the label source so
    * the routed (lpaPlanPure + ArtifactRewrite) and unrouted
    * (checkpointed lpaLabels) variants share one definition. */
  private def modularityOf(s: SparkSession, d: String,
                           lab: DataFrame): DataFrame = {
    val e = symEdgesBySrc(s, d)
    val inSum = e
      .join(lab.select(col("v").as("src"), col("lbl").as("ls")),
        Seq("src"))
      .join(lab.select(col("v").as("dst"), col("lbl").as("ld")),
        Seq("dst"))
      .filter(col("ls") === col("ld"))
      .agg(count(lit(1)).as("in_sum"))
    val dc = e.groupBy("src").agg(count(lit(1)).as("dg"))
      .join(lab.select(col("v").as("src"), col("lbl")), Seq("src"))
      .groupBy("lbl").agg(sum("dg").as("d_c"))
    val sums = dc.agg(count(lit(1)).as("n_communities"),
      sum(col("d_c") * col("d_c")).as("sum_d2"))
    val m2 = e.agg(count(lit(1)).as("two_m"))
    sums.crossJoin(broadcast(inSum)).crossJoin(broadcast(m2))
      .select(col("n_communities"), col("two_m"), col("in_sum"),
        col("sum_d2"),
        (col("two_m") * col("in_sum") - col("sum_d2")).as("q_num"),
        ((col("two_m") * col("in_sum") - col("sum_d2"))
          .cast("double") /
          (col("two_m").cast("double") * col("two_m")))
          .as("modularity"))
  }

  /** Unrouted k16 twin (ArtifactRewriteSpec). */
  private[graft] def k16Unrouted(s: SparkSession, d: String): DataFrame =
    modularityOf(s, d, lpaLabels(s, d, rounds = 4))

  /** The LPA derivation as a PURE plan tree — identical semantics to
    * [[lpaLabels]] but without the per-round localCheckpoint, so the
    * logical plan is a deterministic composition the optimizer can
    * fingerprint (`sameResult`). This is the registration key for
    * [[graft.plans.ArtifactRewrite]]: a consumer that embeds this
    * derivation gets routed to the landed label artifact instead of
    * re-running the loop. Never executed directly (executing it would
    * pay the uncheckpointed lineage); [[lpaLabels]] remains the
    * execution path that BUILDS the artifact. */
  private[graft] def lpaPlanPure(s: SparkSession, d: String,
                                 rounds: Int): DataFrame = {
    val e = symEdgesBySrc(s, d)
    var lbl = e.select(col("src").as("v")).distinct()
      .withColumn("lbl", col("v"))
    for (_ <- 1 to rounds) {
      lbl = e.join(lbl.select(col("v").as("src"), col("lbl")), Seq("src"))
        .groupBy("dst", "lbl").agg(count(lit(1)).as("c"))
        .groupBy("dst")
        .agg(min(struct((-col("c")).as("nc"), col("lbl"))).as("m"))
        .select(col("dst").as("v"), col("m.lbl").as("lbl"))
    }
    lbl
  }

  /** Land the 4-round LPA label table once per (session, dir) — the
    * iterative artifact [[graft.plans.ArtifactRewrite]] routes to.
    * Built by the checkpointed [[lpaLabels]] loop (same labels as the
    * pure plan: the checkpoints only cut lineage). */
  private[graft] def lpaArtifactDir(s: SparkSession, d: String): String =
    Tables.landedDir(s, "graft_lpa_labels", d)(lpaLabels(s, d, rounds = 4))

  /** Install ArtifactRewrite and register the pure 4-round LPA plan
    * against the landed label table for `d`. Shared by k16_modularity
    * (which disarms after building its own plan) and the spec's
    * controls. The candidate registrations are memoized per (session,
    * dir): building them optimizes 8 copies of the 4-round derivation
    * plan, which costs whole seconds per call if repeated (the round-7
    * sf0.1 bench measured k16's median doubling from re-optimization
    * alone — landing was already cached, the PLANS were not). */
  private[graft] def armLpaArtifact(s: SparkSession, d: String): Unit = {
    graft.plans.ArtifactRewrite.install(s)
    graft.plans.ArtifactRewrite.register(s,
      Tables.memo(s, s"lpaArt|$d")(buildLpaCandidates(s, d)))
  }

  private def buildLpaCandidates(s: SparkSession, d: String)
      : Seq[graft.plans.ArtifactRewrite.ArtDef] = {
    val loc = lpaArtifactDir(s, d)
    val pure = lpaPlanPure(s, d, rounds = 4)
    val mv = s.read.parquet(loc)
    // one candidate pair per consumer-facing VIEW of the label table
    // (the rename the consumer applies collapses into the derivation's
    // top aggregate — a trivial `v AS dst` alias is even REMOVED — so
    // each rename normalizes to a distinct canonical plan; registering
    // the identically-renamed view on both the derivation and artifact
    // side makes the fingerprints line up), plus each view's
    // joinCol-notNull variant — the form a join on that column leaves
    // behind after the optimizer's InferFiltersFromConstraints pass.
    val views: Seq[(DataFrame => DataFrame, String)] = Seq(
      (identity[DataFrame] _, "v"),
      (df => df.select(col("v").as("src"), col("lbl").as("ls")), "src"),
      (df => df.select(col("v").as("dst"), col("lbl").as("ld")), "dst"),
      (df => df.select(col("v").as("src"), col("lbl")), "src"))
    views.flatMap { case (view, joinCol) =>
      graft.plans.ArtifactRewrite.candidates(
        view(pure), view(mv), Seq(joinCol))
    }
  }

  /** Per-vertex LPA labels ("v", "lbl") after `rounds` synchronous
    * rounds — the shared core of k8_lpa's rollup and k16_modularity's
    * quality score. */
  private[graft] def lpaLabels(s: SparkSession, d: String,
                               rounds: Int): DataFrame = {
    // e is loop-invariant: src-partitioned + persisted (see
    // [[cachedBySrc]]). Each round joins the label table on e's
    // PARTITIONED side (labels shuffle, edges don't) and counts
    // neighbor labels grouped on the OTHER endpoint — equivalent to
    // the dst-keyed formulation because e is symmetric, but one full-
    // edge-set Exchange cheaper per round.
    //
    // Round 13: the rounds run on the INT-ENCODED edge twin (guide
    // §2.3) — every per-round label shuffle and (dst, lbl) count
    // carries two longs instead of two 'v###' strings. Labels are
    // exactly as before: the min(struct(-c, lbl)) tie-break picks
    // the SAME winner because encodeVid preserves the string order
    // (the identical argument to the DuckDB oracle's rank-ordered
    // vmap, proven bit-equal there in round 12), and the final
    // decode restores the declared string ids.
    val e = symEdgesIntBySrc(s, d)
    var lbl = e.select(col("src").as("v")).distinct()
      .withColumn("lbl", col("v"))
      .stageCkpt()
    for (_ <- 1 to rounds) {
      lbl = e.join(lbl.select(col("v").as("src"), col("lbl")), Seq("src"))
        .groupBy("dst", "lbl").agg(count(lit(1)).as("c"))
        .groupBy("dst")
        .agg(min(struct((-col("c")).as("nc"), col("lbl"))).as("m"))
        .select(col("dst").as("v"), col("m.lbl").as("lbl"))
        .stageCkpt()
    }
    lbl.select(decodeVid("v").as("v"), decodeVid("lbl").as("lbl"))
  }

  /** k-core membership via an H-INDEX-PRUNED PEEL — the degree peel
    * (Matula & Beck 1983) accelerated with the h-index bound of Lü,
    * Zhou, Zhang & Stanley 2016 ("The H-index of a network node and
    * its relation to degree and coreness", Nat. Commun. 7:10168).
    * Each round computes, over the CURRENT subgraph, every vertex's
    * h-index of its neighbours' degrees and drops all H < k at once.
    * Soundness of each side of the loop:
    *   - REMOVAL: H is an upper bound on coreness (one step of Lü's
    *     monotone operator from degrees), so H(v) < k proves v is
    *     outside the subgraph's k-core — which equals the original
    *     k-core as long as only non-members are removed (induction).
    *   - TERMINATION: h-index of a vertex's neighbour multiset never
    *     exceeds its degree, so "no vertex has H < k" means every
    *     surviving degree ≥ k — the survivor set IS the k-core
    *     (min-degree ≥ k + maximality from sound removals).
    *
    * Why not the plain degree peel (round-7 form): its round count
    * is the graph's peel DEPTH — 8 at sf0.1, 20+ at sf1 (73 s, fixed
    * per-round job latency dominating) — because a cascade (chain
    * hanging off the core) sheds one layer per round. The h-bound
    * removes the whole cascade in one round: a chain vertex's
    * neighbour degrees are ~2, so H ≈ 2 < 7 immediately, no matter
    * how long the chain. And why not Lü's FULL coreness fixpoint:
    * measured 40 rounds at sf1 — low-coreness regions settle one hop
    * per round, exactly the tail the membership query doesn't need.
    *
    * THRESHOLDING: the query never needs the h-index VALUE, only
    * the test h ≥ k — and by the h-index definition that test is
    * "at least k of the neighbour values are ≥ k". So each operator
    * step over booleans b_t(v) = [h^t(v) ≥ k] is just a semi-join
    * of the edge table against the current candidate set plus a
    * per-dst count: no per-vertex sorted-rank pass at all (the
    * general h-index needs a shuffle-SORT per step — the dominant
    * per-round cost on hot vertices). Induction: b_0 = [deg ≥ k];
    * b_t(v) = [#{u ~ v : b_{t-1}(u)} ≥ k] = [h^t(v) ≥ k].
    *
    * FUSION: `steps` boolean operator steps compose LAZILY inside
    * one round's plan, so the per-round synchronization barrier
    * (checkpoint + count action — the fixed cost that dominates at
    * 21 one-step rounds on sf1) is paid once per batch. Soundness
    * is unchanged: every h^(t) ≥ coreness and the h^(t) sequence
    * is pointwise non-increasing (Lü et al.), so removing
    * b_n = false only removes non-members, and "nothing removed"
    * still forces deg ≥ h^(1) ≥ … ≥ h^(n) ≥ k on every survivor.
    * The edge table starts src-partitioned + persisted
    * ([[cachedBySrc]]) — each step's semi-join is exchange-free on
    * the edge side, and the per-dst count shuffles only map-side
    * combined vertex-scale partials — and shrinks monotonically
    * (checkpointed per round). Flat steps=3 is the measured sf1
    * sweet spot (39 s) over steps=1 (21 rounds, 43 s), steps=6
    * (7 rounds, 54 s — extra fused steps re-scan the still-big
    * early graph), a doubling schedule (47 s), and a fixpoint
    * iteration over the IMMUTABLE full edge set (75 s — peeling
    * pays off because the subgraph shrinks under the scans).
    * maxIter stays a generous runaway guard — the round-7 lesson
    * that a tight cap turns a converging computation into a hard
    * failure at scale.
    *
    * LOCAL TAIL FINISH: once the surviving subgraph fits in a sliver
    * of driver memory (≤ `localTail` edges — 500k ≈ 12 MB of string
    * pairs, two orders of magnitude under any sane driver heap), the
    * remaining peel runs as an in-memory bucket peel on the driver.
    * The distributed rounds do the mass removal — round 1 alone drops
    * 69% of edges at sf0.1 (1.20 M → 372 k) — and at larger scales
    * keep peeling until the tail fits; what the local finish replaces
    * is exactly the regime where per-round FIXED job latency dwarfs
    * the work (measured at sf0.1: rounds 2–3 cost 2.6–2.8 s each to
    * remove 468 edges and confirm convergence; the local peel of the
    * same 372 k-edge tail runs in 0.4 s, collect included). Exact
    * k-core is unique, and the peel is order-independent, so the
    * hybrid is bit-identical to the pure-distributed loop —
    * GraphHybridSpec pins that equality. This is the standard
    * hybrid-finish shape for contraction loops (the same reason
    * Kiveris et al. §6 finish components locally once the contracted
    * graph fits on one machine).
    */
  private val kcoreLocalTailEdges = 500000L

  /** Per-vertex 4-clique membership counts over an arbitrary directed
    * edge list ("src", "dst") — the degree-oriented DAG enumeration
    * (see `k26_clique4` for the plan-shape discussion): self-loops
    * dropped, edges de-duplicated, every edge oriented from its
    * lower-(deg, id) endpoint, cliques enumerated once as
    * u→{x,y,z} with x<y<z in the same total order. Exposed for
    * Clique4Spec's toy graphs.
    */
  private[graft] def clique4Counts(edges: DataFrame): DataFrame = {
    val lower = (da: org.apache.spark.sql.Column,
                 a: org.apache.spark.sql.Column,
                 db: org.apache.spark.sql.Column,
                 b: org.apache.spark.sql.Column) =>
      da < db || (da === db && a < b)
    val und = edges
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val deg = und.select(col("a").as("v"))
      .unionAll(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("dg"))
    // staged: consumed by the wedge self-join, the triangle close,
    // and the final (y,z) existence join
    val e = und
      .join(deg.select(col("v").as("a"), col("dg").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("dg").as("db")), Seq("b"))
      .select(
        when(lower(col("da"), col("a"), col("db"), col("b")),
          struct(col("a").as("u"), col("b").as("w"),
            col("db").as("dw")))
          .otherwise(struct(col("b").as("u"), col("a").as("w"),
            col("da").as("dw"))).as("e"))
      .select(col("e.u").as("u"), col("e.w").as("w"),
        col("e.dw").as("dw"))
      .stageCkpt()
    val wedges = e
      .select(col("u"), col("w").as("x"), col("dw").as("dx"))
      .join(e.select(col("u"), col("w").as("y"), col("dw").as("dy")),
        Seq("u"))
      .filter(lower(col("dx"), col("x"), col("dy"), col("y")))
    // DAG triangle u<x<y, KEEPING y's rank; staged — the quad stage
    // self-joins it
    val tri = wedges
      .join(e.select(col("u").as("x"), col("w").as("y")), Seq("x", "y"))
      .select(col("u"), col("x"), col("y"), col("dy"))
      .stageCkpt()
    // Triangle-pair formulation: a 4-clique u<x<y<z is exactly two
    // DAG triangles (u,x,y) and (u,x,z) on the SAME base edge (u,x)
    // whose apexes close an edge y→z. Fan-out is Σ_(u,x) C(sup,2)
    // over per-edge triangle support — far below the
    // triangles×out-degree blow-up of extending each triangle by all
    // of u's out-neighbours (measured 22.7 s → 5.2 s at sf0.01 on the
    // co-purchase graph, where hub edges carry most triangles).
    val quad = tri
      .join(tri.select(col("u"), col("x"), col("y").as("z"),
        col("dy").as("dz")), Seq("u", "x"))
      .filter(lower(col("dy"), col("y"), col("dz"), col("z")))
      .join(e.select(col("u").as("y"), col("w").as("z")), Seq("y", "z"))
      .select(col("u"), col("x"), col("y"), col("z"))
    quad
      .select(explode(array(col("u"), col("x"), col("y"), col("z")))
        .as("id"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_cliques"))
  }

  /** Degree-oriented k-truss peel over a canonical undirected edge
    * list ("a" < "b", distinct, self-loop-free — [[triangleCounts]]'
    * input contract): iteratively keep only edges closing >= k-2
    * triangles within the surviving set, to the fixpoint; returns the
    * surviving edge set. Each round's triangle enumeration orients
    * every edge from its lower-(degree, id) endpoint (k4b's
    * orientation), which bounds wedge fan-out at O(√m) per vertex,
    * O(m^1.5) per round TOTAL regardless of skew. An id orientation
    * survives a hub only when the hub's id happens to sort LOW (every
    * hot edge points outward); a hub with a mid-range id centres ~d²/2
    * wedges on itself — PERF.md round-10 conceded sf1skew's flat k25
    * timing was exactly that fixture accident. Degrees are recomputed
    * from the SURVIVING set each round (the peel only shrinks, so fresh
    * degrees only tighten the bound). Triangles are charged to their 3
    * edges in canonical (a<b) id form, so `k25_ktruss` and
    * `k25b_ktruss_degree` hash-match the SHARED oracle. Exposed for
    * KtrussSpec's toy graphs.
    */
  private[graft] def ktrussEdgesDegree(und0: DataFrame, k: Int,
                                       maxIter: Int = 8): DataFrame = {
    val lower = (da: org.apache.spark.sql.Column,
                 a: org.apache.spark.sql.Column,
                 db: org.apache.spark.sql.Column,
                 b: org.apache.spark.sql.Column) =>
      da < db || (da === db && a < b)
    val (cur, _) = Ckpt.fixpoint("degree-oriented k-truss peel", maxIter)(
      (Ckpt.stageCounted(und0), false)) { case ((cur, prevN), _) =>
      val deg = cur.select(col("a").as("v"))
        .unionAll(cur.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("dg"))
      val e = cur
        .join(deg.select(col("v").as("a"), col("dg").as("da")), Seq("a"))
        .join(deg.select(col("v").as("b"), col("dg").as("db")), Seq("b"))
        .select(
          when(lower(col("da"), col("a"), col("db"), col("b")),
            struct(col("a").as("u"), col("b").as("w"), col("db").as("dw")))
            .otherwise(struct(col("b").as("u"), col("a").as("w"),
              col("da").as("dw"))).as("e"))
        .select(col("e.u").as("u"), col("e.w").as("w"),
          col("e.dw").as("dw"))
        // staged per round: three consumers (two wedge sides + the
        // closing edge-existence join) re-ran the degree join chain
        // once each before the cut (the k26 clique4Counts discipline)
        .stageCkpt()
      val wedges = e
        .select(col("u"), col("w").as("x"), col("dw").as("dx"))
        .join(e.select(col("u"), col("w").as("y"), col("dw").as("dy")),
          Seq("u"))
        .filter(lower(col("dx"), col("x"), col("dy"), col("y")))
      val tri = wedges
        .join(e.select(col("u").as("x"), col("w").as("y")), Seq("x", "y"))
        .select(col("u"), col("x"), col("y"))
      val sup = tri.select(explode(array(
          struct(least(col("u"), col("x")).as("a"),
            greatest(col("u"), col("x")).as("b")),
          struct(least(col("u"), col("y")).as("a"),
            greatest(col("u"), col("y")).as("b")),
          struct(least(col("x"), col("y")).as("a"),
            greatest(col("x"), col("y")).as("b")))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
        .groupBy("a", "b")
        .agg(count(lit(1)).as("sup"))
        .filter(col("sup") >= k - 2)
      // support only shrinks as edges leave, so an unchanged count is
      // an unchanged set — the fixpoint
      val (nxt, n) =
        Ckpt.stageCounted(cur.join(sup, Seq("a", "b"), "left_semi"))
      ((nxt, n), n == prevN)
    }
    cur
  }

  private[graft] def kcore(s: SparkSession, d: String, k: Int,
      maxIter: Int = 100, steps: Int = 3,
      localTail: Long = kcoreLocalTailEdges): DataFrame = {
    // round 13: the peel runs on the int-encoded edge twin (guide
    // §2.3 — every per-round semi-join/count shuffles 8-byte longs,
    // not 'v###' strings) and survivors decode back to the declared
    // string ids at the rollup. Output is bit-identical: the peel is
    // key-value-agnostic and the final orderBy runs on the DECODED
    // strings, same as the pre-encoding form.
    val core = kcoreEdges(s, symEdgesIntBySrc(s, d), k, maxIter, steps,
      localTail)
    // vertex arrives long (distributed rollup) or string-of-long
    // (local tail) — normalize via cast, then decode
    core.select(col("vertex").cast("long").as("vid"), col("deg"))
      .select(decodeVid("vid").as("vertex"), col("deg"))
      .orderBy("vertex")
  }

  /** The k-core peel over an arbitrary ("src", "dst") edge frame —
    * exposed for GraphFuzzSpec's seeded random graphs.
    *
    * PRECONDITION shared by BOTH peel paths: the edge set must be
    * SYMMETRIC (every (u,v) paired with (v,u)) and EDGE-DISTINCT.
    * The distributed loop counts degree as count(*) over src rows
    * while the local tail builds adjacency from src keys and dedups
    * neighbours via a HashSet — the two agree bit-for-bit only under
    * that invariant (symEdgesBySrc guarantees it today; a directed or
    * duplicated edge list would silently diverge between the paths).
    */
  private[graft] def kcoreEdges(s: SparkSession, edges0: DataFrame,
                                k: Int, maxIter: Int = 100,
                                steps: Int = 3,
                                localTail: Long = 0L): DataFrame = {
    // ONE action per round: the filtered subgraph's checkpoint, whose
    // edge count rides it as the witness (a removed vertex always
    // removes ≥ 1 edge, since every vertex in `sub` has degree ≥ 1, so
    // |E| unchanged ⇔ no vertex removed). The loop also stops, without
    // converging, as soon as the surviving subgraph fits the local tail.
    val e0 = edges0.count()
    val (sub, nE, converged, rounds) =
      Ckpt.fixpoint("k-core h-pruned peel", maxIter)(
        ((edges0, e0, false, 0), e0 <= localTail)) {
        case ((sub, prevE, _, _), i) =>
          // b_t → b_{t+1}: vertices with ≥ k candidate neighbours
          def bStep(cand: DataFrame): DataFrame =
            sub.join(cand, Seq("src"), "left_semi")
              .groupBy(col("dst"))
              .agg(count(lit(1)).as("c"))
              .filter(col("c") >= k)
              .select(col("dst").as("src"))
          val cand0 = sub.groupBy("src").agg(count(lit(1)).as("h"))
            .filter(col("h") >= k).select("src")
          val members = (1 to steps).foldLeft(cand0)((c, _) => bStep(c))
          val (next, e) = Ckpt.stageCounted(sub
            .join(members, Seq("src"), "left_semi")
            .join(members.withColumnRenamed("src", "dst"), Seq("dst"),
              "left_semi"))
          ((next, e, e == prevE, i), e == prevE || e <= localTail)
      }
    if (!converged) {
      // tail fits on the driver: finish with the exact bucket peel
      // (Matula–Beck order is irrelevant to the result — the k-core is
      // the unique maximal subgraph of min-degree ≥ k)
      System.err.println(
        s"[kcore] $rounds distributed rounds, local tail of $nE edges")
      val rows = sub.select(col("src").cast("string"),
        col("dst").cast("string")).collect()
      val adj = new java.util.HashMap[String,
        java.util.HashSet[String]](rows.length / 2)
      rows.foreach { r =>
        adj.computeIfAbsent(r.getString(0),
          _ => new java.util.HashSet[String]()).add(r.getString(1))
      }
      val queue = new java.util.ArrayDeque[String]()
      val dead = new java.util.HashSet[String]()
      adj.forEach { (v, ns) => if (ns.size < k) queue.add(v) }
      while (!queue.isEmpty) {
        val v = queue.poll()
        if (dead.add(v)) {
          adj.get(v).forEach { u =>
            if (!dead.contains(u)) {
              val ns = adj.get(u); ns.remove(v)
              if (ns.size < k) queue.add(u)
            }
          }
        }
      }
      val survivors = scala.collection.mutable.ArrayBuffer
        .empty[(String, Long)]
      adj.forEach { (v, ns) =>
        if (!dead.contains(v)) survivors += ((v, ns.size.toLong))
      }
      import s.implicits._
      return survivors.sortBy(_._1).toSeq.toDF("vertex", "deg")
    }
    System.err.println(s"[kcore] h-pruned peel converged in $rounds rounds")
    // survivors carry their in-core degree, whose minimum the
    // termination proof bounds at k. No ordering contract here: the
    // k7 caller sorts AFTER decoding back to string ids, and the
    // fuzz/hybrid specs compare as sets — the old orderBy was a
    // redundant sort under the caller's.
    sub.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("vertex"), col("deg"))
  }
}
