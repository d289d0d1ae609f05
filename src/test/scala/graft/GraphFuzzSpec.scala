package graft

import graft.ops.Graph
import org.apache.spark.sql.functions._

/** Property-fuzz for the ITERATIVE GRAPH LOOPS (VERDICT r11 item 5):
  * the relational surface has had seeded differential fuzzing since
  * round 8 (FuzzSpec, 500 seeds x 3 backends); this gives the loop
  * family — SCC, WCC, k-core, k-truss, 4-clique —
  * the same adversarial-input treatment against brute-force local
  * oracles.
  *
  * Generator: seeded, three models per rotation — uniform G(n,p) with
  * density swept 0.02..0.27, HUB-HEAVY (1-3 hubs at random ids, so
  * mid-range hub ids — the k25 id-orientation killer — occur by
  * construction), and cycle+chords (stresses iteration depth / the
  * loops' round bounds). n <= 60; every failure message carries the
  * (family, index, seed, n, |E|) tuple and the generator is a pure
  * function of the seed, so any failure replays exactly.
  *
  * Default 120 graphs per CI pass (24 per family); set
  * SPARK_GRAFT_GRAPH_FUZZ to deepen (e.g. 600 for an overnight soak).
  */
class GraphFuzzSpec extends SparkSpec {

  private val baseSeed = 20260816L
  private val nGraphs = math.max(5,
    try sys.env.getOrElse("SPARK_GRAFT_GRAPH_FUZZ", "120").trim.toInt
    catch { case _: NumberFormatException =>
      sys.error("SPARK_GRAFT_GRAPH_FUZZ must be an integer, got: " +
        s"'${sys.env("SPARK_GRAFT_GRAPH_FUZZ")}'")
    })

  /** Directed edge list over vertices 0..n-1; no self-loops, distinct. */
  private def gen(seed: Long, maxN: Int): (Int, Seq[(Long, Long)]) = {
    val rnd = new scala.util.Random(seed)
    val n = 4 + rnd.nextInt(maxN - 3)
    val edges = rnd.nextInt(3) match {
      case 0 => // uniform G(n,p), density swept
        val p = 0.02 + rnd.nextDouble() * 0.25
        for {
          a <- 0 until n; b <- 0 until n
          if a != b && rnd.nextDouble() < p
        } yield (a.toLong, b.toLong)
      case 1 => // hub-heavy: hubs at RANDOM ids (incl. mid-range)
        val nh = 1 + rnd.nextInt(3)
        val hubs = Seq.fill(nh)(rnd.nextInt(n))
        val hub = for {
          h <- hubs; b <- 0 until n
          if b != h && rnd.nextDouble() < 0.8
        } yield if (rnd.nextBoolean()) (h.toLong, b.toLong)
          else (b.toLong, h.toLong)
        val bg = for {
          a <- 0 until n; b <- 0 until n
          if a != b && rnd.nextDouble() < 0.04
        } yield (a.toLong, b.toLong)
        hub ++ bg
      case _ => // cycle + chords: long dependency chains
        val cyc = (0 until n).map(i => (i.toLong, ((i + 1) % n).toLong))
        val chords = for {
          a <- 0 until n; b <- 0 until n
          if a != b && rnd.nextDouble() < 0.05
        } yield (a.toLong, b.toLong)
        cyc ++ chords
    }
    (n, edges.distinct)
  }

  /** Canonical undirected a<b pairs (self-loops dropped). */
  private def und(edges: Seq[(Long, Long)]): Set[(Long, Long)] =
    edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet

  private def adj(pairs: Set[(Long, Long)]): Map[Long, Set[Long]] =
    (pairs.toSeq.flatMap(e => Seq(e, e.swap)))
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }

  // ---- brute-force oracles -------------------------------------------

  private def bruteWcc(n: Int, pairs: Set[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0 until n).map(v => v.toLong -> find(v).toLong).toMap
  }

  private def bruteKcore(pairs: Set[(Long, Long)], k: Int): Map[Long, Long] = {
    var a = adj(pairs)
    var changed = true
    while (changed) {
      val dead = a.collect { case (v, ns) if ns.size < k => v }.toSet
      changed = dead.nonEmpty
      if (changed)
        a = a.collect { case (v, ns) if !dead(v) => v -> (ns -- dead) }
          .filter(_._2.nonEmpty)
    }
    a.map { case (v, ns) => v -> ns.size.toLong }
  }

  /** Iterative support peel; returns (surviving canonical edges, rounds). */
  /** Coreness by the textbook min-degree peel: peel at k = 1, 2, … —
    * a vertex removed while peeling at k has coreness k - 1. */
  private def bruteCoreness(pairs: Set[(Long, Long)]): Map[Long, Long] = {
    var a = adj(pairs)
    val out = scala.collection.mutable.Map[Long, Long]()
    var k = 0
    while (a.nonEmpty) {
      k += 1
      var changed = true
      while (changed) {
        val dead = a.collect { case (v, ns) if ns.size < k => v }.toSet
        changed = dead.nonEmpty
        if (changed) {
          dead.foreach(v => out(v) = (k - 1).toLong)
          a = a.collect { case (v, ns) if !dead(v) => v -> (ns -- dead) }
        }
      }
    }
    out.toMap
  }

  private def bruteKtruss(pairs: Set[(Long, Long)],
                          k: Int): (Set[(Long, Long)], Int) = {
    var cur = pairs
    var rounds = 0
    var changed = true
    while (changed) {
      val a = adj(cur)
      val keep = cur.filter { case (x, y) =>
        (a.getOrElse(x, Set.empty) & a.getOrElse(y, Set.empty)).size >= k - 2
      }
      changed = keep.size != cur.size
      cur = keep
      rounds += 1
    }
    (cur, rounds)
  }

  private def bruteClique4(n: Int,
                           pairs: Set[(Long, Long)]): Map[Long, Long] = {
    val a = adj(pairs)
    def conn(x: Long, y: Long) = a.getOrElse(x, Set.empty)(y)
    val counts = scala.collection.mutable.Map.empty[Long, Long]
    for {
      u <- 0 until n; x <- u + 1 until n if conn(u.toLong, x.toLong)
      y <- x + 1 until n
      if conn(u.toLong, y.toLong) && conn(x.toLong, y.toLong)
      z <- y + 1 until n
      if conn(u.toLong, z.toLong) && conn(x.toLong, z.toLong) &&
        conn(y.toLong, z.toLong)
    } Seq(u, x, y, z).foreach { v =>
      counts(v.toLong) = counts.getOrElse(v.toLong, 0L) + 1L
    }
    counts.toMap
  }

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

  /** Unit-weight distances from `src` within `hops` hops. */
  private def bruteBfs(edges: Seq[(Long, Long)], src: Long,
                       hops: Int): Map[Long, Int] = {
    val out = edges.groupBy(_._1).map { case (a, es) => a -> es.map(_._2) }
    var dist = Map(src -> 0)
    var front = Seq(src)
    var d = 0
    while (front.nonEmpty && d < hops) {
      d += 1
      front = front.flatMap(out.getOrElse(_, Nil)).distinct
        .filterNot(dist.contains)
      dist ++= front.map(_ -> d)
    }
    dist
  }

  /** Bellman-Ford distances from `src` over positive weights. */
  private def bruteSssp(edges: Seq[(Long, Long, Long)],
                        src: Long): Map[Long, Long] = {
    var dist = Map(src -> 0L)
    var changed = true
    while (changed) {
      changed = false
      for ((a, b, w) <- edges; da <- dist.get(a)
           if dist.get(b).forall(da + w < _)) {
        dist += b -> (da + w)
        changed = true
      }
    }
    dist
  }

  // ---- Spark-side runners --------------------------------------------

  private def edgeDf(edges: Seq[(Long, Long)]) = {
    val s = spark
    import s.implicits._
    if (edges.isEmpty) Seq((-1L, -1L)).toDF("src", "dst").limit(0)
    else edges.toDF("src", "dst")
  }

  private def undDf(pairs: Set[(Long, Long)]) = {
    val s = spark
    import s.implicits._
    if (pairs.isEmpty) Seq((-1L, -1L)).toDF("a", "b").limit(0)
    else pairs.toSeq.sorted.toDF("a", "b")
  }

  private def symDf(pairs: Set[(Long, Long)]) =
    edgeDf((pairs ++ pairs.map(_.swap)).toSeq.sorted)

  private def ctx(fam: String, i: Int, seed: Long, n: Int, m: Int) =
    s"[$fam graph#$i seed=$seed n=$n |E|=$m]"

  private def indicesFor(fam: Int): Seq[Int] =
    (0 until nGraphs).filter(_ % 5 == fam)

  test("fuzz: SCC matches brute-force mutual reachability") {
    // each graph runs over five edge frames: as generated; with every
    // edge doubled and a self-loop on every vertex; split into 1 and
    // into 7 partitions; and with edges to and from ids >= n, outside
    // the vertex set, which SCC must ignore (its oracle is the SCC of
    // the induced edges)
    for (i <- indicesFor(0)) {
      val seed = baseSeed + i
      // SCC's colour propagation walks a cycle's full circumference,
      // one round a hop, per outer peel — cap n to keep the deep-cycle
      // cases fast
      val (n, edges) = gen(seed, maxN = 16)
      val c = ctx("scc", i, seed, n, edges.size)
      val s = spark
      import s.implicits._
      val v = (0L until n.toLong).toDF("v")
      val selfLoops = (0L until n.toLong).map(v => (v, v))
      // v → n + v → v + 1 would close one cycle through every vertex
      val outside = (0L until n.toLong).flatMap(v =>
        Seq((v, n + v), (n + v, (v + 1) % n)))
      val induced = (edges ++ outside).filter { case (a, b) =>
        a < n && b < n }
      val variants = Seq(
        ("as generated", edgeDf(edges), edges),
        ("doubled, self-loops", edgeDf(edges ++ edges ++ selfLoops), edges),
        ("1 partition", edgeDf(edges).repartition(1), edges),
        ("7 partitions", edgeDf(edges).repartition(7), edges),
        ("ids >= n", edgeDf(edges ++ outside), induced))
      for ((variant, e, oracleEdges) <- variants) {
        val got = Graph.scc(s, v, e).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == bruteScc(n, oracleEdges), s"$c [$variant]")
      }
    }
  }

  test("fuzz: BFS, keyed frontier and SSSP match brute-force distances") {
    // every third SCC-family index; each graph's loops run over four
    // edge frames that must all give the brute-force maps: as
    // generated; with every edge doubled (the SSSP copy one heavier)
    // and a self-loop on every vertex, so the driver-side deduplication
    // and minimum have work to do; and split into 1 and into 7
    // partitions
    for (i <- indicesFor(0) if i % 3 == 0) {
      val seed = baseSeed + 9000 + i // disjoint graphs from the SCC run
      val (n, edges) = gen(seed, maxN = 16)
      val c = ctx("frontier", i, seed, n, edges.size)
      val s = spark
      import s.implicits._
      val weighted = edges.map { case (a, b) =>
        (a, b, 1L + (a * 31 + b * 17 + seed) % 5) }
      def weightedDf(ws: Seq[(Long, Long, Long)]) =
        if (ws.isEmpty) Seq((-1L, -1L, 1L)).toDF("src", "dst", "w").limit(0)
        else ws.toDF("src", "dst", "w")
      val selfLoops = (0L until n.toLong).map(v => (v, v))
      val variants = Seq(
        ("as generated", edgeDf(edges), weightedDf(weighted)),
        ("doubled, self-loops", edgeDf(edges ++ edges ++ selfLoops),
          weightedDf(weighted ++ weighted.map { case (a, b, w) =>
            (a, b, w + 1) } ++ selfLoops.map { case (a, b) => (a, b, 1L) })),
        ("1 partition", edgeDf(edges).repartition(1),
          weightedDf(weighted).repartition(1)),
        ("7 partitions", edgeDf(edges).repartition(7),
          weightedDf(weighted).repartition(7)))
      val srcs = Seq(0L, n / 2L)
      val reversed = edges.map(_.swap)
      for ((variant, e, w) <- variants) {
        val cv = s"$c [$variant]"
        val bfs = Graph.bfs(s, e, 0L).collect()
          .map(r => r.getLong(0) -> r.getInt(1)).toMap
        assert(bfs == bruteBfs(edges, 0L, 10), s"$cv bfs")

        val keyed = Graph.frontier(e,
            srcs.map(v => (v, v)).toDF("source", "id"),
            Seq("source"), hops = 10, maxIter = 10)
          .collect().groupBy(_.getLong(0))
          .map { case (src, rows) =>
            src -> rows.map(r => r.getLong(1) -> r.getInt(2)).toMap }
        for (src <- srcs)
          assert(keyed(src) == bruteBfs(edges, src, 10), s"$cv source $src")

        // a key the edges carry: forward and reversed searches from 0
        val tagged = e.select(lit("f").as("dir"), col("src"), col("dst"))
          .unionByName(e.select(lit("r").as("dir"), col("dst").as("src"),
            col("src").as("dst")))
        val byDir = Graph.frontier(tagged,
            Seq(("f", 0L), ("r", 0L)).toDF("dir", "id"), Seq("dir"),
            maxIter = n)
          .collect().groupBy(_.getString(0))
          .map { case (dir, rows) =>
            dir -> rows.map(r => r.getLong(1) -> r.getInt(2)).toMap }
        assert(byDir("f") == bruteBfs(edges, 0L, n), s"$cv forward")
        assert(byDir("r") == bruteBfs(reversed, 0L, n), s"$cv reversed")

        // a shortest path has at most n - 1 edges, so round n improves
        // nothing
        val sssp = Graph.sssp(s, w, 0L, maxIter = n)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(sssp == bruteSssp(weighted, 0L), s"$cv sssp")
      }
    }
  }

  test("fuzz: WCC matches union-find components") {
    for (i <- indicesFor(1)) {
      val seed = baseSeed + i
      val (n, edges) = gen(seed, maxN = 60)
      val pairs = und(edges)
      val c = ctx("wcc", i, seed, n, pairs.size)
      val got = Graph.wcc(spark, edgeDf(edges)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // wcc labels only vertices that appear in the edge list
      val want = bruteWcc(n, pairs).filter { case (v, _) =>
        edges.exists(e => e._1 == v || e._2 == v)
      }
      assert(got == want, c)
    }
  }

  test("fuzz: k-core peel (distributed AND local-tail paths) matches " +
    "brute peel") {
    for (i <- indicesFor(2)) {
      val seed = baseSeed + i
      val (n, edges) = gen(seed, maxN = 60)
      val pairs = und(edges)
      val k = 2 + (i / 5) % 3 // k in {2,3,4}, varied deterministically
      val c = ctx(s"kcore(k=$k)", i, seed, n, pairs.size)
      val want = bruteKcore(pairs, k)
        .map { case (v, d) => v.toString -> d }
      // localTail=0: the distributed peel runs to the fixpoint;
      // localTail=Long.MaxValue: the size-gated exact local tail takes
      // over immediately — the two paths must agree with the oracle
      // AND each other on every graph (GraphHybridSpec pins only the
      // fixture)
      for (tail <- Seq(0L, Long.MaxValue)) {
        val got = Graph.kcoreEdges(spark, symDf(pairs), k,
          localTail = tail).collect()
          .map(r => String.valueOf(r.get(0)) -> r.getLong(1)).toMap
        assert(got == want, s"$c localTail=$tail")
      }
    }
  }

  test("fuzz: h-index coreness fixpoint matches the min-degree peel") {
    for (i <- indicesFor(2)) {
      val seed = baseSeed + 7000 + i // disjoint graphs from the k-core run
      val (n, edges) = gen(seed, maxN = 60)
      val pairs = und(edges)
      if (pairs.nonEmpty) {
        val c = ctx("coreness", i, seed, n, pairs.size)
        val want = bruteCoreness(pairs)
          .map { case (v, cn) => v.toString -> cn }
        val got = Graph.corenessEdges(spark, symDf(pairs)).collect()
          .map(r => String.valueOf(r.get(0)) -> r.getLong(1)).toMap
        assert(got == want, c)
      }
    }
  }

  test("fuzz: k-truss degree-oriented peel matches the brute support peel") {
    for (i <- indicesFor(3)) {
      val seed = baseSeed + i
      val (n, edges) = gen(seed, maxN = 40)
      val pairs = und(edges)
      val k = 3 + (i / 5) % 3 // k in {3,4,5}
      val (want, rounds) = bruteKtruss(pairs, k)
      val c = ctx(s"ktruss(k=$k rounds=$rounds)", i, seed, n, pairs.size)
      val got = Graph.ktrussEdgesDegree(undDf(pairs), k, rounds + 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want, c)
    }
  }

  test("fuzz: butterfly counts match exhaustive bipartite enumeration") {
    // bipartite generator — separate from the 5-family rotation (the
    // general-graph models don't produce labeled bipartite structure):
    // uniform density swept PLUS a hot-right-vertex variant (the skew
    // case the order-side wedge generation must absorb)
    val rounds = math.max(5, nGraphs / 5)
    for (i <- 0 until rounds) {
      val seed = baseSeed + 7000 + i
      val rnd = new scala.util.Random(seed)
      val (nL, nR) = (3 + rnd.nextInt(12), 3 + rnd.nextInt(12))
      val p = 0.1 + rnd.nextDouble() * 0.5
      val base = for {
        o <- 0 until nL; q <- 0 until nR
        if rnd.nextDouble() < p
      } yield (o.toLong, q.toLong)
      val edges = (if (rnd.nextBoolean()) {
        val hub = rnd.nextInt(nR).toLong
        base ++ (0 until nL).filter(_ => rnd.nextDouble() < 0.8)
          .map(o => (o.toLong, hub))
      } else base).distinct
      val c = ctx("butterfly", i, seed, nL + nR, edges.size)
      // brute: per right-pair common-neighbour count c -> C(c,2) each
      val byP = edges.groupBy(_._2).map { case (q, es) =>
        q -> es.map(_._1).toSet
      }
      val want = scala.collection.mutable.Map.empty[Long, Long]
      for {
        p1 <- byP.keys; p2 <- byP.keys if p1 < p2
      } {
        val cc = (byP(p1) & byP(p2)).size.toLong
        if (cc >= 2) {
          val bf = cc * (cc - 1) / 2
          want(p1) = want.getOrElse(p1, 0L) + bf
          want(p2) = want.getOrElse(p2, 0L) + bf
        }
      }
      val s = spark
      import s.implicits._
      val df =
        if (edges.isEmpty) Seq((-1L, -1L)).toDF("o", "p").limit(0)
        else edges.toDF("o", "p")
      val got = Graph.butterflyCounts(df).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want.toMap, c)
    }
  }

  test("fuzz: 4-clique per-vertex counts match exhaustive enumeration") {
    for (i <- indicesFor(4)) {
      val seed = baseSeed + i
      // quadruple enumeration is C(n,4); keep n modest so the oracle
      // stays instant while densities still produce real cliques
      val (n, edges) = gen(seed, maxN = 36)
      val pairs = und(edges)
      val c = ctx("clique4", i, seed, n, pairs.size)
      val got = Graph.clique4Counts(edgeDf(edges)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == bruteClique4(n, pairs), c)
    }
  }
}
