package graft

import org.apache.spark.sql.functions._

/** Mathematical invariants of the inference wave that the DuckDB
  * differential cannot show — it proves both engines compute the same
  * formula; these prove the formula is the RIGHT one:
  *
  *   - m_spearman is invariant under strictly monotone transforms of
  *     either variable (the defining property of a rank statistic);
  *   - m_kendall's concordant−discordant count equals a brute-force
  *     O(n²) pair scan on a small slice, and |τ_b| ≤ 1;
  *   - m_mannwhitney satisfies the exact identity U₁+U₂ = n₁·n₂ (the
  *     doubled form 2U₁+2U₂ = 2·n₁·n₂), and its integer-cleared
  *     rejection boolean agrees with the reported z at the 1.96 bar;
  *   - m_mad matches a driver-side median/MAD over the raw quantized
  *     values, and MAD ≤ the winsorize-style spread by construction;
  *   - m_bootstrap_ci brackets: ci_lo ≤ ci_hi, and the point mean
  *     falls inside the interval on the fixture;
  *   - m_pca_power's iterate has ‖v‖∞ = 10⁶ exactly, the scatter
  *     matrix it derives from is symmetric, and the Rayleigh quotient
  *     is positive (scatter matrices are PSD);
  *   - k22_hits scores are positive on both roles and the top
  *     authority's integer score re-derives from the normalization
  *     invariant Σa ≈ 10¹² (floor loss < one unit per node).
  */
class InferenceSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("m_spearman: invariant under monotone transform of y") {
    val base = SparkEntry.queries("m_spearman")(spark, sf)
      .select("l_returnflag", "rho").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // recompute with y -> 3·y + 7 (strictly monotone): identical ranks,
    // identical rho — rerun the same pipeline over a transformed input
    // by exploiting that floor(l_discount·100)·3+7 is a bijection of
    // the rank order; equality of rho follows iff ranks drive the stat.
    val li = Tables.lineitem(spark, sf).select(
      col("l_returnflag").as("flag"),
      floor(col("l_quantity")).cast("long").as("x"),
      (floor(col("l_discount") * 100.0).cast("long") * 3L + 7L).as("y"))
    import org.apache.spark.sql.expressions.Window
    def rk(c: String) = {
      val w = Window.partitionBy("flag").orderBy(c)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      li.groupBy("flag", c).agg(count(lit(1)).as("t"))
        .withColumn("cum", sum("t").over(w))
        .select(col("flag"), col(c),
          (col("cum") * 2L - col("t") + 1L).as(s"r2$c"))
    }
    val m = li.join(rk("x"), Seq("flag", "x"))
      .join(rk("y"), Seq("flag", "y"))
      .groupBy("flag").agg(
        count(lit(1)).as("n"),
        sum(col("r2x")).as("sx"), sum(col("r2y")).as("sy"),
        sum((col("r2x") * col("r2y")).cast("decimal(38,0)")).as("sxy"),
        sum((col("r2x") * col("r2x")).cast("decimal(38,0)")).as("sxx"),
        sum((col("r2y") * col("r2y")).cast("decimal(38,0)")).as("syy"))
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val got = m.select(col("flag"),
        round((dec(col("n")) * col("sxy") -
            dec(col("sx")) * dec(col("sy"))).cast("double") /
          (sqrt((dec(col("n")) * col("sxx") -
              dec(col("sx")) * dec(col("sx"))).cast("double")) *
           sqrt((dec(col("n")) * col("syy") -
              dec(col("sy")) * dec(col("sy"))).cast("double"))), 4)
          .as("rho"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(base.nonEmpty && base.keySet == got.keySet)
    for ((k, v) <- base) assert(math.abs(v - got(k)) < 1e-12,
      s"flag $k: rho changed under monotone transform: $v vs ${got(k)}")
  }

  test("m_kendall: conc/disc match a brute-force pair scan; |tau_b| <= 1") {
    val rows = Tables.lineitem(spark, sf)
      .filter(col("l_returnflag") === "R")
      .select(floor(col("l_quantity")).cast("long"),
        floor(col("l_discount") * 100.0).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    var conc = 0L; var disc = 0L
    for (i <- rows.indices; j <- (i + 1) until rows.length) {
      val ((x1, y1), (x2, y2)) = (rows(i), rows(j))
      if (x1 != x2 && y1 != y2) {
        if ((x1 < x2) == (y1 < y2)) conc += 1 else disc += 1
      }
    }
    val got = SparkEntry.queries("m_kendall")(spark, sf)
      .filter(col("l_returnflag") === "R")
      .select("conc", "disc", "tau_b").collect().head
    assert(got.getLong(0) == conc, s"conc ${got.getLong(0)} != $conc")
    assert(got.getLong(1) == disc, s"disc ${got.getLong(1)} != $disc")
    assert(math.abs(got.getDouble(2)) <= 1.0)
  }

  test("m_mannwhitney: U1+U2 = n1*n2 and decision agrees with z") {
    val df = SparkEntry.queries("m_mannwhitney")(spark, sf).collect()
    assert(df.nonEmpty)
    for (r <- df) {
      val (n1, n2, u2, rej, z) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4), r.getDouble(5))
      // 2U2 from the identity; both must be non-negative
      val u2b = 2L * n1 * n2 - u2
      assert(u2 >= 0 && u2b >= 0, s"U out of range: $u2 / $u2b")
      // the integer-cleared rejection must agree with the reported z
      // except inside the rounding fuzz of the 4dp report
      if (math.abs(math.abs(z) - 1.96) > 0.001)
        assert(rej == (math.abs(z) > 1.96),
          s"decision $rej disagrees with z=$z")
    }
  }

  test("m_mad matches driver-side median/MAD on raw quantized values") {
    val vals = Tables.events(spark, sf)
      .select(col("event_type"), floor(col("value")).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    def loMedian(xs: Seq[Long]): Long = {
      val s = xs.sorted; s((s.length + 1) / 2 - 1)
    }
    val got = SparkEntry.queries("m_mad")(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got.nonEmpty)
    for ((t, per) <- vals.groupBy(_._1)) {
      val xs = per.map(_._2).toSeq
      val med = loMedian(xs)
      val mad = loMedian(xs.map(x => math.abs(x - med)))
      val out = xs.count(x => math.abs(x - med) * 10000L > mad * 44478L)
      assert(got(t) == ((med, mad, out.toLong)),
        s"$t: got ${got(t)}, want ($med, $mad, $out)")
    }
  }

  test("m_bootstrap_ci: interval brackets the point mean") {
    val df = SparkEntry.queries("m_bootstrap_ci")(spark, sf).collect()
    assert(df.nonEmpty)
    for (r <- df) {
      val (mean, lo, hi) =
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(lo <= hi, s"ci_lo $lo > ci_hi $hi")
      // Poisson-bootstrap CIs of a mean bracket the point estimate on
      // any non-degenerate fixture (the resample means concentrate on
      // it); a miss means the replicate weighting is broken.
      assert(lo <= mean && mean <= hi,
        s"mean $mean outside [$lo, $hi] for ${r.getString(0)}")
    }
  }

  test("m_pca_power: infinity-norm fixpoint, PSD Rayleigh, 64 dims") {
    val df = SparkEntry.queries("m_pca_power")(spark, sf).collect()
    assert(df.length == 64)
    val vs = df.map(_.getLong(1))
    assert(vs.map(math.abs).max == 1000000L,
      "max |v| must be exactly 1e6 after renormalization")
    val lam = df.head.getDouble(2)
    assert(lam > 0.0, s"scatter matrices are PSD; lambda=$lam")
  }

  test("m_pca_power: the scatter matrix is symmetric, 64 x 64") {
    val s = ops.Inference.pcaScatter(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDecimal(2)).toMap
    assert(s.size == 64 * 64)
    for (((i, j), sij) <- s)
      assert(sij == s((j, i)), s"S($i, $j) = $sij, S($j, $i) = ${s((j, i))}")
  }

  test("m_ols_multi: residual orthogonality and r2 in range") {
    val fits = SparkEntry.queries("m_ols_multi")(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5))).toMap
    assert(fits.nonEmpty)
    val rows = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"),
        floor(col("l_extendedprice") * 100.0).cast("long"),
        floor(col("l_quantity")).cast("long"),
        floor(col("l_discount") * 100.0).cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    for ((flag, (b0, b1, b2, r2)) <- fits) {
      assert(r2 >= 0.0 && r2 <= 1.0, s"$flag r2=$r2 outside [0,1]")
      val per = rows.filter(_._1 == flag)
      // normal equations: residuals orthogonal to 1, x1, x2 — the 4dp
      // coefficient rounding leaves a relative slack
      val res = per.map { case (_, y, x1, x2) =>
        (y - (b0 + b1 * x1 + b2 * x2), x1, x2)
      }
      val scaleY = per.map(_._2.toDouble).map(math.abs).sum
      assert(math.abs(res.map(_._1).sum) < 1e-3 * scaleY,
        s"$flag: residual sum not ~0")
      assert(math.abs(res.map(t => t._1 * t._2).sum) < 1e-1 * scaleY,
        s"$flag: residual-x1 dot not ~0")
    }
  }

  test("m_feature_select_mi: 0 <= MI <= ln 2 for a binary label") {
    val df = SparkEntry.queries("m_feature_select_mi")(spark, sf)
      .collect()
    assert(df.length == 64)
    for (r <- df) {
      val mi = r.getDouble(1)
      assert(mi >= -1e-6 && mi <= math.log(2.0) + 1e-6,
        s"dim ${r.getLong(0)}: MI $mi outside [0, ln 2]")
    }
  }

  test("t_textrank: damped scores bounded below by the restart mass") {
    val df = SparkEntry.queries("t_textrank")(spark, sf).collect()
    assert(df.length == 20)
    assert(df.forall(_.getDouble(1) >= 0.15 - 1e-9),
      "every damped rank >= 0.15 restart mass")
  }

  test("k23_randwalk: every hop follows a real edge from the seed") {
    val walks = SparkEntry.queries("k23_randwalk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(walks.nonEmpty)
    // step 0 is the seed itself
    walks.filter(_._2 == 0).foreach { case (w, _, n) =>
      assert(w == n, s"walk $w step 0 node $n != seed") }
    val edges = Tables.lineitem(spark, sf)
      .filter(col("l_orderkey") < 2000 && col("l_partkey") < 2000)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val byWalk = walks.groupBy(_._1)
    for ((w, steps) <- byWalk) {
      val path = steps.sortBy(_._2).map(_._3)
      assert(steps.length <= 4, s"walk $w has ${steps.length} steps")
      for (Array(a, b) <- path.sliding(2).map(_.toArray))
        assert(edges.contains((a, b)),
          s"walk $w hop $a->$b is not an edge")
    }
  }

  test("w_holt matches a driver-side sequential fold per user") {
    val series = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")),
        col("event_id"), floor(col("value") * 100.0).cast("double"))
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
        r.getDouble(3))))
    val got = SparkEntry.queries("w_holt")(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got.nonEmpty)
    for ((u, per) <- series.groupBy(_._1)) {
      val xs = per.map(_._2).sortBy(t => (t._1, t._2)).map(_._3)
      var v = xs.head; var b = 0.0
      for (x <- xs.tail) {
        val v2 = x * 0.5 + (v + b) * 0.5
        b = (v2 - v) * 0.5 + b * 0.5
        v = v2
      }
      def r4(d: Double) = BigDecimal(d)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (gl, gt, gf) = got(u)
      assert(math.abs(gl - r4(v)) < 1e-9, s"user $u level $gl != $v")
      assert(math.abs(gt - r4(b)) < 1e-9, s"user $u trend $gt != $b")
      assert(math.abs(gf - r4(v + b)) < 1e-9, s"user $u forecast")
    }
  }

  test("m_als_rank1 matches a driver-side alternation; rmse sane") {
    val ratings = Tables.lineitem(spark, sf)
      .filter(col("l_orderkey") < 2000 && col("l_partkey") < 2000)
      .groupBy(col("l_orderkey"), col("l_partkey"))
      .agg(sum(floor(col("l_quantity")).cast("long")).as("r"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
    def half(f: Map[Long, Long], keyOf: ((Long, Long)) => Long,
             outOf: ((Long, Long)) => Long): Map[Long, Long] =
      ratings.groupBy(t => outOf(t._1)).map { case (o, rs) =>
        val num = rs.map(t => BigInt(t._2) * f(keyOf(t._1))).sum
        val den = rs.map { t =>
          val x = BigInt(f(keyOf(t._1))); x * x }.sum
        o -> math.floor(
          num.toDouble * 1000000000000.0 / den.toDouble).toLong
      }
    var v = ratings.map(_._1._2).distinct.map(_ -> 1000000L).toMap
    var u = Map.empty[Long, Long]
    for (_ <- 1 to 2) {
      u = half(v, _._2, _._1)
      v = half(u, _._1, _._2)
    }
    val got = SparkEntry.queries("m_als_rank1")(spark, sf).collect()
    assert(got.length == 20)
    for (r <- got) {
      val want = if (r.getString(0) == "order") u(r.getLong(1))
                 else v(r.getLong(1))
      assert(r.getLong(2) == want,
        s"${r.getString(0)} ${r.getLong(1)}: ${r.getLong(2)} != $want")
      assert(r.getDouble(3) >= 0.0)
    }
  }

  test("k24_betweenness matches a driver-side truncated Brandes") {
    val edges = Tables.lineitem(spark, sf)
      .filter(col("l_orderkey") < 2000 && col("l_partkey") < 2000)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = edges.groupBy(_._1).map { case (s, es) =>
      s -> es.map(_._2).toSet }
    val seeds = edges.groupBy(_._1).toSeq
      .map { case (s, es) => (s, es.map(_._2).distinct.size) }
      .sortBy { case (s, dg) => (-dg, s) }.take(5).map(_._1)
    val bc = collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    for (s <- seeds) {
      var levels = Vector(Map(s -> 1L))
      var visited = Set(s)
      for (_ <- 1 to 4) {
        val cand = collection.mutable.Map.empty[Long, Long]
          .withDefaultValue(0L)
        for ((v, sig) <- levels.last; w <- adj.getOrElse(v, Set.empty))
          cand(w) += sig
        val fresh = cand.toMap.filter { case (k, _) => !visited(k) }
        visited ++= fresh.keySet
        levels = levels :+ fresh
      }
      var delta = levels(4).map { case (v, _) => v -> 0L }
      for (lev <- 3 to 1 by -1) {
        delta = levels(lev).map { case (v, sig) =>
          val t = adj.getOrElse(v, Set.empty).toSeq
            .flatMap { w => levels(lev + 1).get(w).map { sigw =>
              math.floor(sig.toDouble *
                (delta.getOrElse(w, 0L) + 1000000L).toDouble /
                sigw.toDouble).toLong } }.sum
          v -> t
        }
        for ((v, dl) <- delta) bc(v) += dl
      }
      for ((v, _) <- levels(4)) bc(v) += 0L
    }
    val want = bc.toSeq.sortBy { case (v, b) => (-b, v) }.take(20)
    val got = SparkEntry.queries("k24_betweenness")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want, s"got $got\nwant $want")
  }

  test("m_calibration: Brier bounded by 1/4, bands partition the corpus") {
    val df = SparkEntry.queries("m_calibration")(spark, sf).collect()
    assert(df.nonEmpty)
    val brier = df.head.getLong(4)
    // p(1-p) <= 1/4: the band-calibrated Brier can never exceed
    // 250000 ppm, and positives can never exceed band size
    assert(brier >= 0L && brier <= 250000L, s"brier_ppm $brier")
    for (r <- df) {
      assert(r.getLong(2) <= r.getLong(1), "pos > n")
      val bp = r.getLong(3)
      assert(bp >= 0L && bp <= 10000L, s"pos_rate_bp $bp")
    }
    val n = df.map(_.getLong(1)).sum
    val total = Tables.embeddings(spark, sf).count()
    assert(n == total, s"bands cover $n of $total rows")
  }

  test("m_stream_full_join decomposes into the inner and left twins") {
    val full = SparkEntry.queries("m_stream_full_join")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val left = SparkEntry.queries("m_stream_left_join")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    assert(full.nonEmpty)
    // the full join's matched pairs and settled view orphans must be
    // exactly the left join's — the extra column is purchase orphans
    for ((u, (m, vo, _)) <- full if left.contains(u)) {
      assert(left(u) == ((m, vo)),
        s"user $u: full ($m, $vo) != left ${left(u)}")
    }
    assert(full.values.map(_._3).sum > 0L, "purchase orphans vacuous")
  }

  test("m_typed_agg plans partial aggregation for the Aggregator") {
    // the typed Aggregator contract at scale: `merge` must make the
    // state map-side-combinable, so the plan carries a partial
    // aggregate below the key exchange — rows never shuffle raw
    val df = SparkEntry.queries("m_typed_agg")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("partial"),
      s"typed Aggregator lost its partial aggregation:\n$plan")
    val top = df.collect()
    assert(top.length == 20)
    assert(top.map(_.getLong(3)).toSeq ==
      top.map(_.getLong(3)).toSeq.sorted.reverse,
      "not sorted by cents_sum desc")
  }

  test("m_skyline: staircase output equals brute-force dominance") {
    val items = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"), col("l_partkey"))
      .agg(min(floor(col("l_extendedprice") * 100.0).cast("long"))
        .as("price"),
        max(floor(col("l_quantity")).cast("long")).as("qty"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    val want = items.filter { case (f, _, p, q) =>
      !items.exists { case (f2, _, p2, q2) =>
        f2 == f && p2 <= p && q2 >= q && (p2 < p || q2 > q) }
    }.map(t => (t._1, t._2, t._3, t._4)).toSet
    val got = SparkEntry.queries("m_skyline")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got == want,
      s"skyline mismatch: extra=${got -- want} missing=${want -- got}")
  }

  test("m_conformal: coverage >= 90% on calibration by construction") {
    val df = SparkEntry.queries("m_conformal")(spark, sf).collect()
    assert(df.nonEmpty)
    for (r <- df) {
      val cov = r.getLong(4)
      // nearest-rank-above selection guarantees >= ceil(0.9(n+1))/n
      assert(cov >= 9000L && cov <= 10000L,
        s"${r.getString(0)}: coverage $cov bp outside [9000, 10000]")
      assert(r.getLong(3) >= 0L, "negative quantile")
    }
  }

  test("m_eb_shrinkage: posterior sits between the raw rate and prior") {
    val rows = SparkEntry.queries("m_eb_shrinkage")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val alpha = rows.head.getDouble(4)
    val beta = rows.head.getDouble(5)
    assert(alpha > 0.0 && beta > 0.0, s"prior ($alpha, $beta)")
    val priorMean = alpha / (alpha + beta)
    for (r <- rows) {
      val raw = r.getLong(2).toDouble / r.getLong(1)
      val shrunk = r.getDouble(6)
      val (lo, hi) = (math.min(raw, priorMean) - 1e-4,
        math.max(raw, priorMean) + 1e-4)
      assert(shrunk >= lo && shrunk <= hi,
        s"user ${r.getLong(0)}: $shrunk outside [$lo, $hi]")
    }
  }

  test("m_hill_tail matches a driver-side top-100 Hill sum") {
    val vals = Tables.events(spark, sf)
      .select(col("event_type"),
        floor(col("value") * 100.0).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .filter(_._2 > 0L)
    val got = SparkEntry.queries("m_hill_tail")(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got.nonEmpty)
    for ((t, per) <- vals.groupBy(_._1) if per.length >= 101) {
      val sorted = per.map(_._2).sortBy(-_)
      val xref = sorted(100)
      val h6 = sorted.take(100)
        .map(v => math.floor(
          math.log(v.toDouble / xref.toDouble) * 1000000.0).toLong)
        .sum
      val (k, xr, xi) = got(t)
      assert(k == 100L, s"$t: k=$k")
      assert(xr == xref, s"$t: xref $xr != $xref")
      assert(math.abs(xi - h6.toDouble / 1e8) < 1e-3,
        s"$t: xi $xi vs brute ${h6.toDouble / 1e8}")
    }
  }

  test("m_dedup_recall: counts cohere and every found pair is true") {
    val rows = SparkEntry.queries("m_dedup_recall")(spark, sf)
      .collect()
    assert(rows.nonEmpty, "no true near-dup pairs in fixture")
    for (r <- rows) {
      val (nt, nf, bp) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nf <= nt, s"decile ${r.getLong(0)}: found $nf > true $nt")
      assert(bp == nf * 10000L / nt, "recall_bp does not re-derive")
    }
    // the top decile (0.9+) must be fully recalled: banding with
    // 4 bands x 3 rows catches j >= 0.9 with prob ~1 - (1-0.729)^4
    val top = rows.filter(_.getLong(0) == 9L)
    assert(top.nonEmpty && top.head.getLong(3) >= 9000L,
      "near-exact duplicates slipping past the banding")
  }

  test("m_multimodal_resize_real: box-fit dims and bounded checksum") {
    val rows = SparkEntry.queries("m_multimodal_resize_real")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (w, h, ow, oh) = (r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4))
      assert(ow >= 1 && ow <= 16 && oh >= 1 && oh <= 16,
        s"doc ${r.getLong(0)}: thumb ${ow}x$oh outside the 16 box")
      // the larger source axis maps to the full box edge
      assert((if (w >= h) ow else oh) == 16 || math.max(w, h) < 16,
        s"doc ${r.getLong(0)}: aspect fit broken ${w}x$h -> ${ow}x$oh")
      val cs = r.getLong(5)
      assert(cs >= 0L && cs < 1000003L, s"checksum $cs out of field")
    }
  }

  test("m_rrf_fusion: fused score re-derives from the two ranks") {
    val rows = SparkEntry.queries("m_rrf_fusion")(spark, sf).collect()
    assert(rows.length == 20)
    var both = 0
    for (r <- rows) {
      val rt = if (r.isNullAt(1)) None else Some(r.getInt(1))
      val rv = if (r.isNullAt(2)) None else Some(r.getInt(2))
      val want = rt.map(x => 1000000L / (60 + x)).getOrElse(0L) +
        rv.map(x => 1000000L / (60 + x)).getOrElse(0L)
      assert(r.getLong(3) == want,
        s"doc ${r.getLong(0)}: rrf ${r.getLong(3)} != $want")
      if (rt.isDefined && rv.isDefined) both += 1
    }
    assert(both > 0, "no doc ranked by both modalities in the top-20")
  }

  test("distRank equals the single-partition global row_number") {
    // The distributed two-phase rank behind m_rrf_fusion's two rank
    // sides must be element-wise identical to the plain global window
    // it replaced — including under heavy score ties (unique-id
    // tie-break) and a partition count larger than some ranges'
    // populations.
    import org.apache.spark.sql.expressions.Window
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("score", pmod(col("id") * 37 % 101, lit(13)))
    val got = ops.Similarity.distRank(df, "rank",
        desc("score"), col("id"))
      .select(col("id"), col("rank")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val want = df.withColumn("rank",
        row_number().over(Window.orderBy(desc("score"), col("id"))))
      .select(col("id"), col("rank")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == want, "distributed rank diverged from row_number")
  }

  test("m_conversion_lag agrees with the streaming join's pair count") {
    val lag = SparkEntry.queries("m_conversion_lag")(spark, sf)
      .collect().head
    val (n, p50, p90) = (lag.getLong(0), lag.getLong(1),
      lag.getLong(2))
    assert(p50 >= 0L && p50 <= p90 && p90 <= 86400L,
      s"quantiles out of order: p50=$p50 p90=$p90")
    val streamPairs = SparkEntry.queries("m_stream_join")(spark, sf)
      .agg(sum(col("n_pairs"))).collect().head.getLong(0)
    assert(n == streamPairs,
      s"batch pair count $n != streaming twin $streamPairs")
  }

  test("m_attribution: bounded by purchases, single-touch coherent") {
    val r = SparkEntry.queries("m_attribution")(spark, sf)
      .collect().head
    val (na, ns, gap) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    assert(ns <= na && na > 0L, s"single $ns > attributed $na")
    assert(gap >= 0.0, s"negative mean touch gap $gap")
    val purchases = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase").count()
    assert(na <= purchases,
      s"attributed $na exceeds purchase count $purchases")
  }

  test("m_weighted_sample: sample is weight-biased above the mean") {
    val sample = SparkEntry.queries("m_weighted_sample")(spark, sf)
      .collect()
    assert(sample.length == 20)
    val sampleMean = sample.map(_.getLong(1)).sum.toDouble / 20
    val popMean = Tables.events(spark, sf)
      .select(floor(col("value") * 100.0).cast("long").as("c"))
      .filter(col("c") > 0L)
      .agg(avg(col("c"))).collect().head.getDouble(0)
    // u^(1/w) sampling oversamples heavy rows: with the fixture's
    // right-skewed weights the 20-row sample mean sits well above the
    // population mean (a uniform sampler would straddle it)
    assert(sampleMean > popMean,
      s"sample mean $sampleMean not above population mean $popMean")
    // keys are valid A-ES keys: ln(u)/w is strictly negative
    assert(sample.forall(_.getDouble(2) < 0.0))
  }

  test("k22_hits: both roles present, scores positive, sums normalized") {
    val df = SparkEntry.queries("k22_hits")(spark, sf).collect()
    val byRole = df.groupBy(_.getString(0))
    assert(byRole.keySet == Set("auth", "hub"))
    assert(df.forall(_.getLong(2) > 0L), "top scores must be positive")
    // top-20 of each role, score-desc: the first auth row carries the
    // largest normalized score; with sum-normalization to 1e12 over
    // >= 20 nodes no single score may exceed the total
    assert(df.forall(_.getLong(2) <= 1000000000000L))
  }
}
