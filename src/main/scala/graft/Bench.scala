package graft

/** Per-round benchmark: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * Queries are forced through the noop sink — a bare `count()` would let
  * Catalyst collapse pure projections to a row-count scan and measure
  * nothing. Failures are recorded as -1 and excluded from the total
  * instead of silently accumulating their time.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.localSession()
    // warm before timing; reported separately as warmup_sec
    val w0 = System.nanoTime()
    try Harness.warmTables(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[bench] warmup failed: ${e.getMessage}")
    }
    val warmup = (System.nanoTime() - w0) / 1e9
    // Median of 3 runs per query, with the rounds INTERLEAVED (run every
    // query once, then every query again, then again) rather than
    // back-to-back. The host's noise is not per-query jitter but
    // multi-minute kernel-side bursts (profiled 26-08-12: ~25 cores of
    // pure system time, threads convoying in futex wait — syscall
    // amplification in this micro-VM, not CPU steal; st=0 throughout).
    // Three back-to-back runs all land inside one burst, so the median
    // learns nothing (identical binaries swung 18x across rounds, VERDICT
    // r3; m_rollup measured 1.9 s and 52 s in two same-day quiet runs).
    // Interleaving puts each query's samples minutes apart, so a burst
    // must span the whole bench to poison a median.
    // optional arg: comma-separated query names — selective re-bench
    // while iterating (the driver passes no args → full suite)
    val names = Harness.selected(args.headOption)
    def once(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // Fixed calibration probe (round-12, VERDICT r11 item 4): a
    // deterministic in-memory scan + 1M-group shuffle + re-agg with NO
    // fixture dependence, measured once per interleaved round. Its
    // lower-median against the pinned quiet-window reference
    // (`__calibration__` in bench_envelope.json) measures the host
    // epoch DIRECTLY — the flat 1.2x kernel-burst elevations rounds
    // 9-11 had to infer from envelope-min ratios — and the envelope /
    // delta flags below divide by the ratio (clamped >= 1: a fast
    // host must never suppress a real regression) so an epoch shift
    // no longer needs manual adjudication.
    def calibrateOnce(): Double = {
      import org.apache.spark.sql.functions._
      val t0 = System.nanoTime()
      spark.range(0L, 48L * 1000 * 1000, 1, 32)
        .select((col("id") % 1048576L).as("k"),
          ((col("id") * 2654435761L) % 1000003L).as("v"))
        .groupBy("k")
        .agg(sum("v").as("sv"), count(lit(1)).as("c"))
        .agg(sum("sv").as("tsv"), sum("c").as("tc"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    calibrateOnce() // JIT/codegen warm — the probe's own warmup
    val calSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    // SPARK_GRAFT_BENCH_RUNS overrides the per-query sample count
    // (default 3, clamped to >= 1) — the sf1 scale audit runs once,
    // the driver's sf0.1 round bench keeps the interleaved median-of-3
    val nRuns = math.max(1,
      try sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
      catch { case _: NumberFormatException =>
        sys.error("SPARK_GRAFT_BENCH_RUNS must be an integer, got: " +
          s"'${sys.env("SPARK_GRAFT_BENCH_RUNS")}'")
      })
    val samples = (1 to nRuns).map { _ =>
      calSamples += calibrateOnce()
      names.map { name =>
        name -> (try once(name)
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0
        })
      }.toMap
    }
    val results = names.map { name =>
      val runs = samples.map(_(name))
      // LOWER median for even run counts — on a host with multi-
      // minute kernel bursts the smaller sample is the quiet-window
      // one, and the upper element would report the burst
      name -> (if (runs.exists(_ < 0)) -1.0
        else runs.sorted.apply((nRuns - 1) / 2))
    }
    // Per-query coefficient of variation across the interleaved runs
    // (round-9 verdict ask): round-over-round total deltas on this host
    // are dominated by kernel-burst smear larger than most real
    // regressions, so the artifact now carries each query's OWN
    // measured dispersion — a cross-round delta is attributable only
    // when it exceeds what the query's samples already swing by.
    val covs: Map[String, Double] =
      if (nRuns < 2) Map.empty
      else names.flatMap { name =>
        val runs = samples.map(_(name)).filter(_ >= 0)
        if (runs.size < 2) None
        else {
          val mean = runs.sum / runs.size
          val sd = math.sqrt(
            runs.map(x => (x - mean) * (x - mean)).sum / (runs.size - 1))
          if (mean <= 0) None
          else Some(name -> math.rint(sd / mean * 1000) / 1000)
        }
      }.toMap
    val statName = if (nRuns % 2 == 1) "median" else "median_lower"
    // Regression envelopes (round 8): bench_envelope.json holds each
    // query's historical QUIET-WINDOW median at sf0.1. A query > 3x
    // its envelope is FLAGGED (never failed — the host's documented
    // multi-minute kernel bursts produce exactly such spikes on
    // unchanged plans, and a hard failure would flake); the flagged
    // list separates "this plan regressed" from "the host was loud"
    // at a glance instead of hand-diffing per-query seconds across
    // rounds. Envelope misses (new queries) are never flagged, and the
    // check only arms at the scale the envelopes were RECORDED at
    // (sf0.1) — an sf1 scale-audit run would otherwise flag nearly
    // every query and drown the signal in by-design 10x ratios.
    // arming is by CANONICAL basename (symlinks and ./-spellings
    // resolve), and a disarmed run says so on stderr instead of
    // silently reporting an empty flag list
    val envelopeScale =
      try java.nio.file.Paths.get(sfDir).toRealPath()
        .getFileName.toString == "sf0.1"
      catch { case _: Exception =>
        sfDir.replaceAll("/+$", "").endsWith("/sf0.1") }
    if (!envelopeScale)
      System.err.println(
        s"[bench] envelope check disarmed: $sfDir is not the sf0.1 " +
          "fixture the envelopes were recorded at")
    // the file parse is unconditional (the calibration reference is
    // fixture-free); the per-QUERY envelopes arm only at sf0.1
    val envAll: Map[String, Double] =
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("/root/repo/bench_envelope.json")),
          "UTF-8")
        """"([^"]+)"\s*:\s*([0-9.eE+-]+)""".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } catch { case _: Throwable => Map.empty[String, Double] }
    val envelope: Map[String, Double] =
      if (!envelopeScale) Map.empty else envAll - "__calibration__"
    // lower median, like the queries: the quiet-window sample is the
    // honest one on a bursty host
    val calSec =
      if (calSamples.isEmpty) -1.0
      else calSamples.sorted.apply((calSamples.size - 1) / 2)
    val calRatio = envAll.get("__calibration__") match {
      case Some(ref) if ref > 0 && calSec > 0 =>
        math.max(1.0, calSec / ref)
      case _ => 1.0
    }
    val flagged = results.collect {
      case (k, v) if v >= 0 &&
          envelope.get(k).exists(e => v / calRatio > 3 * e) =>
        "\"" + k + "\""
    }.mkString("[", ",", "]")
    // Variance-aware regression list: a query is delta-flagged when its
    // median exceeds the envelope by more than 3x its OWN measured CoV
    // (and by an absolute 0.3 s floor, so sub-second queries don't flag
    // on scheduler jitter). Unlike `flagged` (the coarse 3x-envelope
    // burst detector), this is the list a regression claim should cite:
    // it scales the tolerance to how noisy that query measurably is.
    val deltaFlagged = results.collect {
      case (k, v0) if v0 >= 0 && envelope.contains(k) &&
          covs.contains(k) && {
            val v = v0 / calRatio
            val e = envelope(k)
            v - e > 0.3 && (v - e) / e > 3 * math.max(covs(k), 0.02)
          } =>
        "\"" + k + "\""
    }.mkString("[", ",", "]")
    // per-query values rounded to 3 decimals (VERDICT r12 item 4):
    // ms precision is far below this host's measured dispersion, and
    // the shorter line keeps the one-line stdout contract parseable
    // in a bounded tail capture (r11's line outgrew the driver's)
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    val qs = results.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    // Amortization-honest accounting (VERDICT r12 item 4): these
    // queries roll off session-shared result frames
    // (Tables.memo — k1/k2 share one SCC labeling, k25/k25b
    // one truss peel, k16 the landed LPA label artifact, m_dedup_recall
    // its exact-truth table), so their interleaved medians are
    // cache-hit rollups with the shared build charged to run 1.
    // first_run_sec states run 1 explicitly so the artifact carries
    // the amortization instead of hiding it in plan-dump headers.
    val sessionShared = Seq("k1_scc", "k2_component_agg", "k25_ktruss",
      "k25b_ktruss_degree", "k16_modularity", "m_dedup_recall")
      .filter(names.contains)
    val sharedJson = sessionShared.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val firstRun = sessionShared
      .flatMap(n => samples.headOption.flatMap(_.get(n))
        .map(v => "\"" + n + "\":" + r3(v)))
      .mkString("{", ",", "}")
    // Scaling verdict (round 9): ScalingFit records per-query log-log
    // exponents across sf0.01/0.1/1 into scaling_exponents.json; the
    // bench artifact carries its flagged list (tail exponent > 1.3 at
    // sf1 ≥ 1 s) so each round's BENCH_r{N}.json states the
    // super-linearity verdict instead of PERF.md prose re-arguing it.
    val scaling = try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/root/repo/scaling_exponents.json")),
        "UTF-8")
      val fl = """"flagged_tail_gt_1\.3"\s*:\s*(\[[^\]]*\])""".r
        .findFirstMatchIn(txt).map(_.group(1)).getOrElse("[]")
      s""","scaling_flagged":$fl"""
    } catch { case _: Throwable => "" }
    val covJson = covs.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,"flagged":$flagged,"delta_flagged":$deltaFlagged,"cov":$covJson$scaling,"session_shared":$sharedJson,"first_run_sec":$firstRun,"warmup_sec":$warmup,"calibration_sec":$calSec,"calibration_ratio":$calRatio,"runs_per_query":$nRuns,"stat":"$statName","sf":"$sfDir"}"""
    // stdout for the driver's capture AND a file for when the captured
    // tail truncates (VERDICT r3: "parsed": null on a long stdout line)
    println(json)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/root/repo/bench_out.json"), json + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] file write failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
