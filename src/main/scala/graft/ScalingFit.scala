package graft

/** Fitted per-query scaling exponents across the three measured scales
  * (sf0.01, sf0.1, sf1) — the generated replacement for PERF.md's
  * hand-eyeballed "no super-linear plan" claim (round-8 VERDICT item 5).
  *
  * For each query, one timed noop-sink run per scale (same discipline
  * as Bench), then two numbers:
  *   - `fit`:  least-squares slope of log10(t) on log10(sf) over all
  *     three points — the overall growth order, biased LOW by fixed
  *     overhead at sf0.01 (t ≈ c + k·N flattens the small-scale end);
  *   - `tail`: the log-log slope of the LAST measured interval
  *     (sf0.1→sf1, or sf1→sf3 when the 30x fixture exists) — the
  *     honest asymptotic signal and the one the flag uses.
  * A query is flagged super-linear when tail > 1.3 AND t_sf1 ≥ 1 s
  * (sub-second queries are fixed-overhead noise, not scaling signal).
  *
  * Output: /root/repo/scaling_exponents.json — per-query times,
  * exponents, and the flagged list. Bench folds the flagged list into
  * bench_out.json so the per-round artifact carries the scaling
  * verdict. Run via: sbt "runMain graft.ScalingFit [names.csv]".
  */
object ScalingFit {
  def main(args: Array[String]): Unit = {
    val scales0 = Seq(
      ("/root/testdata/sf0.01", 0.01),
      ("/root/testdata/sf0.1", 0.1),
      ("/root/repo/scaledata/sf1", 1.0))
    // 4th point (round-12, VERDICT r11 item 6): when the 30x fixture
    // exists (GenScale 30 /root/repo/scaledata/sf3), the fit extends
    // past sf1 so the heavy loop tails are measured on >= 4 points
    // instead of extrapolated from three that end at sf1
    val extra = Seq(("/root/repo/scaledata/sf3", 3.0),
      ("/root/repo/scaledata/sf10", 10.0))
    val scales = scales0 ++ extra.filter { case (dir, _) =>
      java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir)) }
    val spark = Harness.localSession()
    val names = Harness.selected(args.headOption)

    val times = scales.map { case (dir, sf) =>
      // same warmup as Bench: base tables + one-time landings charge
      // here, not to whichever query runs first at each scale
      try Harness.warmTables(spark, dir)
      catch { case e: Throwable =>
        System.err.println(s"[scalingfit] warmup($dir) failed: " +
          e.getMessage)
      }
      val ts = names.map { name =>
        val t0 = System.nanoTime()
        val t = try {
          SparkEntry.queries(name)(spark, dir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[scalingfit] $name@$dir failed: " +
            e.getMessage)
          -1.0
        }
        name -> t
      }.toMap
      System.err.println(s"[scalingfit] scale $sf done: " +
        f"${ts.values.filter(_ >= 0).sum}%.1f s total")
      (sf, ts)
    }

    def slope(pts: Seq[(Double, Double)]): Double = {
      // least squares over (log10 sf, log10 t)
      val n = pts.size.toDouble
      val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
      val sxx = pts.map(p => p._1 * p._1).sum
      val sxy = pts.map(p => p._1 * p._2).sum
      (n * sxy - sx * sy) / (n * sxx - sx * sx)
    }
    val rows = names.map { name =>
      val ts = scales.map { case (_, sf) =>
        sf -> times.find(_._1 == sf).get._2(name) }
      // fit/tail over the points that SUCCEEDED (>= 2 needed) — a
      // query that dies only at the new top scale must keep its
      // lower-scale exponents and get FLAGGED, not NaN out of the
      // detector (the queries most likely super-linear are exactly
      // the ones that die at the largest scale)
      val okPts = ts.filter(_._2 > 0)
      val ok = okPts.size >= 2
      val topFailed = ts.last._2 <= 0
      val fit = if (ok)
        slope(okPts.map { case (sf, t) =>
          (math.log10(sf), math.log10(t)) })
        else Double.NaN
      // last-interval slope over the succeeding points, normalized by
      // the scale gap so a 3x final interval (sf1 -> sf3) reads on the
      // same exponent axis as a 10x one
      val tail = if (ok)
        math.log10(okPts.last._2 / okPts(okPts.size - 2)._2) /
          math.log10(okPts.last._1 / okPts(okPts.size - 2)._1)
      else Double.NaN
      (name, ts, fit, tail, topFailed)
    }
    def f4(d: Double): String =
      if (d.isNaN) "null"
      else String.format(java.util.Locale.ROOT, "%.4f",
        java.lang.Double.valueOf(d))
    // A SELECTIVE run (names arg) merges into the existing file
    // instead of clobbering the full board's record — new queries get
    // exponents without a 20-minute full re-measure.
    val outPath = java.nio.file.Paths.get(
      "/root/repo/scaling_exponents.json")
    val prior: Map[String, String] =
      if (args.nonEmpty && args(0).nonEmpty &&
          java.nio.file.Files.exists(outPath)) {
        val txt = new String(java.nio.file.Files.readAllBytes(outPath),
          "UTF-8")
        """"([A-Za-z0-9_]+)"\s*:\s*(\{[^{}]*\})""".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2)).toMap
      } else Map.empty
    val fresh = rows.map { case (name, ts, fit, tail, topFailed) =>
      val tj = ts.map { case (sf, t) => s""""sf$sf":${f4(t)}""" }
        .mkString(",")
      val tf = if (topFailed) ""","top_scale_failed":true""" else ""
      name -> s"""{$tj,"fit":${f4(fit)},"tail":${f4(tail)}$tf}"""
    }.toMap
    val merged = (prior ++ fresh).toSeq.sortBy(_._1)
    def tailOf(obj: String): Double =
      """"tail"\s*:\s*([0-9.eE+-]+)""".r.findFirstMatchIn(obj)
        .map(_.group(1).toDouble).getOrElse(Double.NaN)
    def t1Of(obj: String): Double =
      """"sf1\.0"\s*:\s*([0-9.eE+-]+)""".r.findFirstMatchIn(obj)
        .map(_.group(1).toDouble).getOrElse(Double.NaN)
    val flagged = merged.collect { case (n, o)
      if o.contains(""""top_scale_failed":true""") ||
        (!tailOf(o).isNaN && tailOf(o) > 1.3 && t1Of(o) >= 1.0) => n }
    val body = merged.map { case (n, o) => s""""$n":$o""" }.mkString(",")
    val json = s"""{"flagged_tail_gt_1.3":[${
      flagged.map("\"" + _ + "\"").mkString(",")}],"queries":{$body}}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/root/repo/scaling_exponents.json"),
      json + "\n")
    println(s"[scalingfit] flagged: ${flagged.mkString(", ")} " +
      s"(${flagged.size} of ${names.size})")
    spark.stop()
  }
}
