package graft.ops

import graft.Ckpt.StageOps
import graft.{Oracles, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY §2 G — window functions.
  *
  * G1/G3 mirror `trending_predictor.py:164-191` (partitioned ranking +
  * top-k-per-group); G2 the global `percent_rank`, with its selective
  * filter pushed BELOW the single-partition window (the reference ranks
  * the full table — that plan shape dies at scale; see g2's comment and
  * [[Stats.trendingRanked]], which rank-filters before its global window).
  * `w_rank_distributed` is the unbounded-input alternative. lag/lead +
  * frame specs are the [EXT] surface over `events`.
  */
object Windows {

  val all: Seq[Q] = Seq(

    // ----- G1 + C3: row_number per category, top-5 (deterministic
    // tie-break on id in both engines)
    Q("g1_rank_topk",
      (s, d) => {
        val w = Window.partitionBy(col("category"))
          .orderBy(desc("views"), col("id"))
        Tables.videos(s, d)
          .withColumn("category_rank", row_number().over(w))
          .filter(col("category_rank") <= 5)
          .select("category", "category_rank", "id", "views")
          .orderBy("category", "category_rank")
      },
      Some(Oracles.withVideos(
        """SELECT category, CAST(category_rank AS INT) AS category_rank, id,
          |       views FROM (
          |  SELECT category, id, views,
          |    row_number() OVER (PARTITION BY category
          |                       ORDER BY views DESC, id) AS category_rank
          |  FROM videos)
          |WHERE category_rank <= 5
          |ORDER BY category, category_rank""".stripMargin))),

    // ----- G2: global percent_rank. The selective filter sits BELOW the
    // window (on both engines — the oracle ranks the same filtered set):
    // a global window is a single-partition exchange, so its input must be
    // bounded before the shuffle, never after (VERDICT r2-r4 scale-killer).
    // The unbounded-input distributed form is `w_rank_distributed` below.
    Q("g2_percent_rank",
      (s, d) => {
        val w = Window.orderBy(desc("views"), col("id"))
        Tables.videos(s, d)
          .filter(col("views") >= 400000)
          .withColumn("pr", round(percent_rank().over(w), 6))
          .select("id", "views", "pr")
          .orderBy("id")
      },
      Some(Oracles.withVideos(
        """SELECT id, views,
          |  round(percent_rank() OVER (ORDER BY views DESC, id), 6) AS pr
          |FROM videos WHERE views >= 400000
          |ORDER BY id""".stripMargin))),

    // ----- [EXT] G2 at scale: global rank + percent_rank WITHOUT the
    // single-partition window. Range-partition on the sort key, rank
    // within each partition, then add broadcasted per-partition offsets —
    // the standard distributed total-ordering pattern (what Spark's own
    // sort does, surfaced as a rank). The only driver-side data is one
    // row count per partition. Must hash-match the plain percent_rank
    // oracle exactly.
    Q("w_rank_distributed",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val v = Tables.videos(s, d).select("id", "views")
        val parts = s.sparkContext.defaultParallelism
        val ranged = v.repartitionByRange(parts, desc("views"), col("id"))
          .withColumn("pid", spark_partition_id())
        // frozen before branching: the offsets aggregate re-executes
        // this subplan, and spark_partition_id is nondeterministic —
        // a range-exchange reuse miss would re-sample boundaries and
        // misalign pids between the two branches (see
        // w_anomaly_chunked, where this surfaced as an off-by-one)
        val local = ranged.withColumn("local_rn",
          row_number().over(Window.partitionBy(col("pid"))
            .orderBy(desc("views"), col("id"))))
          .stageCkpt()
        // per-partition counts -> cumulative offsets + grand total (tiny:
        // one row per partition), broadcast back. The total rides the same
        // frame, so no separate count() job over the full table.
        val offsets = local.groupBy("pid").agg(count(lit(1)).as("cnt"))
          .withColumn("offset",
            coalesce(sum(col("cnt")).over(
              Window.orderBy(col("pid"))
                .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("total",
            sum(col("cnt")).over(
              Window.orderBy(col("pid"))
                .rowsBetween(Window.unboundedPreceding,
                  Window.unboundedFollowing)))
          .select("pid", "offset", "total")
        local.join(broadcast(offsets), Seq("pid"))
          .withColumn("rank", (col("offset") + col("local_rn")).cast("long"))
          .withColumn("pr",
            round((col("rank") - 1).cast("double") / (col("total") - 1), 6))
          .filter(col("rank") <= 100)
          .select("rank", "id", "views", "pr")
          .orderBy("rank")
      },
      Some(Oracles.withVideos(
        """SELECT rank, id, views, pr FROM (
          |  SELECT id, views,
          |    CAST(row_number() OVER (ORDER BY views DESC, id) AS BIGINT)
          |      AS rank,
          |    round(percent_rank() OVER (ORDER BY views DESC, id), 6) AS pr
          |  FROM videos)
          |WHERE rank <= 100 ORDER BY rank""".stripMargin))),

    // ----- [EXT] lag/lead over event streams, per-user time order
    Q("w_lag_lead",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
        Tables.events(s, d)
          .withColumn("prev_value", lag(col("value"), 1).over(w))
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
            col("event_type"), col("value"), col("prev_value"),
            col("next_type"))
          .orderBy("user_id", "ts_us")
      },
      Some(
        """SELECT user_id, epoch_us(ts) AS ts_us, event_type, value,
          |  lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts)
          |    AS prev_value,
          |  lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts)
          |    AS next_type
          |FROM events ORDER BY user_id, ts_us""".stripMargin)),

    // ----- [EXT] sliding frame spec: running sum + moving average
    Q("w_rows_between",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
        // frame sums through DECIMAL(18,4): windowed double sums
        // associate differently per engine (Spark sequential, DuckDB
        // segment tree), so exact decimals are the only frame
        // aggregation that can't drift; avg = decimal sum / count so
        // no engine's avg kernel touches the result.
        val dv = col("value").cast("decimal(18,4)")
        Tables.events(s, d)
          .withColumn("running_sum",
            round(sum(dv).over(
              w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
              .cast("double"), 4))
          .withColumn("moving_avg3",
            round(sum(dv).over(w.rowsBetween(-2, 0)).cast("double") /
              count(lit(1)).over(w.rowsBetween(-2, 0)), 4))
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
            col("value"), col("running_sum"), col("moving_avg3"))
          .orderBy("user_id", "ts_us")
      },
      Some(
        """SELECT user_id, epoch_us(ts) AS ts_us, value,
          |  round(CAST(sum(CAST(value AS DECIMAL(18,4))) OVER (
          |    PARTITION BY user_id ORDER BY ts
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |    AS DOUBLE), 4) AS running_sum,
          |  round(CAST(sum(CAST(value AS DECIMAL(18,4))) OVER (
          |    PARTITION BY user_id ORDER BY ts
          |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
          |    / count(*) OVER (PARTITION BY user_id ORDER BY ts
          |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS moving_avg3
          |FROM events ORDER BY user_id, ts_us""".stripMargin)),

    // ----- [EXT] distribution window functions: ntile quartiles +
    // cume_dist + first/last frame values, all inside the user_id
    // partition — the per-key form that distributes (no global window).
    Q("w_ntile",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("value"), col("ts"))
        val wf = w.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
        Tables.events(s, d)
          .withColumn("quartile", ntile(4).over(w))
          .withColumn("cd", round(cume_dist().over(w), 6))
          .withColumn("min_v", round(first(col("value")).over(wf), 4))
          .withColumn("max_v", round(last(col("value")).over(wf), 4))
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
            col("value"), col("quartile"), col("cd"), col("min_v"),
            col("max_v"))
          .orderBy("user_id", "ts_us")
      },
      Some(
        """SELECT user_id, epoch_us(ts) AS ts_us, value,
          |  CAST(ntile(4) OVER (PARTITION BY user_id ORDER BY value, ts)
          |    AS INT) AS quartile,
          |  round(cume_dist() OVER (PARTITION BY user_id
          |    ORDER BY value, ts), 6) AS cd,
          |  round(first_value(value) OVER (PARTITION BY user_id
          |    ORDER BY value, ts ROWS BETWEEN UNBOUNDED PRECEDING AND
          |    UNBOUNDED FOLLOWING), 4) AS min_v,
          |  round(last_value(value) OVER (PARTITION BY user_id
          |    ORDER BY value, ts ROWS BETWEEN UNBOUNDED PRECEDING AND
          |    UNBOUNDED FOLLOWING), 4) AS max_v
          |FROM events ORDER BY user_id, ts_us""".stripMargin)),

    // ----- native top-k-per-key via the custom Catalyst operator
    // (graft.plans.TopKPerKey: LogicalPlan + Strategy + two-phase
    // physical plan with bounded per-key heaps). Same semantics as the
    // row_number window top-3 the oracle runs, but the plan shuffles
    // only <= k rows per (input partition, key) instead of every row,
    // and never fully sorts a key group — the difference between O(n)
    // with a k-heap and O(n log n) per key at 100 TB. g1_rank_topk keeps
    // the window formulation; this is the scale-path twin.
    Q("w_topk_native",
      (s, d) => graft.plans.TopKPerKey
        .perKey(Tables.orders(s, d), Seq("o_orderstatus"),
          "o_totalprice", "o_orderkey", 3)
        .select(col("o_orderstatus"), col("o_orderkey"),
          round(col("o_totalprice"), 4).as("o_totalprice"))
        .orderBy(col("o_orderstatus"), desc("o_totalprice"),
          col("o_orderkey")),
      Some(
        """SELECT o_orderstatus, o_orderkey,
          |       round(o_totalprice, 4) AS o_totalprice
          |FROM (
          |  SELECT o_orderstatus, o_orderkey, o_totalprice,
          |    row_number() OVER (PARTITION BY o_orderstatus
          |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
          |  FROM orders)
          |WHERE rn <= 3
          |ORDER BY o_orderstatus, o_totalprice DESC, o_orderkey"""
          .stripMargin)),

    // ----- [EXT] event-time RANGE frame: trailing 1-hour per-user
    // aggregates. ROWS frames count physical rows; RANGE frames bound by
    // the ORDER-BY *value* — the correct frame for time-series features
    // ("activity in the last hour") where event spacing is irregular, and
    // the frame every ties-in-the-same-second row agrees on regardless of
    // physical row order. The frame sum goes through decimal so the
    // result is independent of intra-frame accumulation order; the window
    // partitions on user_id (distributed — no global window), and the
    // order key is integral epoch-seconds (`div`, not `/1000` — double
    // division loses precision at epoch-micros magnitude).
    Q("w_range_frame",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"))
          .rangeBetween(-3600, Window.currentRow)
        Tables.events(s, d)
          .withColumn("ts_s", expr("unix_micros(ts) div 1000000"))
          .withColumn("n_1h", count(lit(1)).over(w).cast("int"))
          .withColumn("sum_1h",
            sum(col("value").cast("decimal(18,4)")).over(w).cast("double"))
          .select(col("event_id"), col("user_id"), col("ts_s"),
            col("n_1h"), round(col("sum_1h"), 4).as("sum_1h"),
            round(col("sum_1h") / col("n_1h"), 4).as("avg_1h"))
          .orderBy("event_id")
      },
      Some(
        """WITH e AS (
          |  SELECT event_id, user_id, epoch_us(ts) // 1000000 AS ts_s,
          |         value
          |  FROM events)
          |SELECT event_id, user_id, ts_s,
          |  CAST(count(*) OVER w AS INT) AS n_1h,
          |  round(CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE),
          |    4) AS sum_1h,
          |  round(CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE)
          |        / (count(*) OVER w), 4) AS avg_1h
          |FROM e
          |WINDOW w AS (PARTITION BY user_id ORDER BY ts_s
          |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
          |ORDER BY event_id""".stripMargin)),

    // ----- [EXT] trailing-window outlier detection: flag events whose
    // value deviates from the user's previous-20-events mean by more
    // than 2 sample standard deviations. The entire decision runs in
    // EXACT integer arithmetic: values are fixed-pointed once
    // (floor(v * 1e4) — floor, because double→int CASTS disagree:
    // DuckDB rounds, Spark truncates), and the z-test is cleared of
    // divisions —
    //   (x-μ)² > 4σ²  ⇔  (n·x-s1)²·(n-1) > 4·n·(n·s2-s1²)
    // so the BOOLEAN flag can never flip on a float tie (a windowed
    // float stddev differs between engines: Spark accumulates
    // sequentially, DuckDB over a segment tree — different association,
    // different last ulp, and a discrete flag amplifies it). Bounds: |v|
    // ≤ 5.7e6, n ≤ 21 keep every product under 2^63. The frame excludes
    // the current row (self-inclusion shrinks apparent deviation), the
    // window distributes on user_id, and sums are running partials — the
    // standard streaming-monitoring shape at any scale.
    Q("w_anomaly",
      (s, d) => {
        val f = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us"), col("event_id"))
          .rowsBetween(-20, -1)
        Tables.events(s, d)
          .withColumn("ts_us", unix_micros(col("ts")))
          .withColumn("v", floor(col("value") * 10000.0))
          // ENFORCED overflow bound (was comment-only): |v| <= 5.7e6
          // keeps dev²·(n-1) and 4n(n·s2-s1²) under 2^63 at n <= 21.
          // Same filter in the oracle's e CTE, so out-of-range data
          // drops identically on both engines instead of silently
          // wrapping BIGINT and flipping flags.
          .filter(abs(col("v")) <= 5700000L)
          .withColumn("np", count(lit(1)).over(f))
          .withColumn("s1", sum(col("v")).over(f))
          .withColumn("s2", sum(col("v") * col("v")).over(f))
          .filter(col("np") >= 5)
          .withColumn("dev", col("np") * col("v") - col("s1"))
          .filter(col("dev") * col("dev") * (col("np") - 1) >
            lit(4L) * col("np") * (col("np") * col("s2") -
              col("s1") * col("s1")))
          .select(col("event_id"), col("user_id"), col("ts_us"),
            col("value"), col("np").cast("int").as("n_prev"), col("dev"))
          .orderBy("event_id")
      },
      Some(
        """WITH e AS (
          |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
          |    CAST(floor(value * 10000.0) AS BIGINT) AS v
          |  FROM events
          |  WHERE abs(CAST(floor(value * 10000.0) AS BIGINT)) <= 5700000
          |), wd AS (
          |  SELECT event_id, user_id, ts_us, value, v,
          |    count(*) OVER f AS np,
          |    sum(v) OVER f AS s1,
          |    sum(v * v) OVER f AS s2
          |  FROM e
          |  WINDOW f AS (PARTITION BY user_id ORDER BY ts_us, event_id
          |               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
          |SELECT event_id, user_id, ts_us, value,
          |  CAST(np AS INT) AS n_prev,
          |  CAST(np * v - s1 AS BIGINT) AS dev
          |FROM wd
          |WHERE np >= 5
          |  AND (np*v - s1) * (np*v - s1) * (np - 1)
          |      > 4 * np * (np*s2 - s1*s1)
          |ORDER BY event_id""".stripMargin)),

    // ----- [EXT] w_anomaly at scale: the SAME rolling-frame anomaly
    // flag WITHOUT a per-user window partition. A hot user (sf1skew:
    // one user holds 20% of events, w_anomaly 1.38 s -> 2.41 s while
    // every balanced query moved <= +18%) serializes an ordered
    // per-user frame onto one task, and salting can't split an
    // ORDERED rolling frame naively — each split would lose its
    // predecessor rows. Chunk-with-halo restores balance exactly:
    //   1. balanced per-user sequence numbers — range-partition on
    //      (user, ts, id) (the sampler SPLITS a hot user's range
    //      across partitions), row_number inside each (pid, user)
    //      slice, plus per-(pid, user) count offsets cumulated over
    //      pid — the w_rank_distributed pattern, per key;
    //   2. chunk = seq div 1024; the LAST 20 rows of each chunk are
    //      duplicated into the next chunk as halo rows — exactly the
    //      frame depth (ROWS -20..-1), so every row's frame is fully
    //      present inside its own (user, chunk) window partition,
    //      whose size is bounded by 1044 rows NO MATTER how hot the
    //      user;
    //   3. rolling count/s1/s2 per (user, chunk), halo rows dropped
    //      after serving as context.
    // Must hash-match the plain w_anomaly oracle exactly.
    Q("w_anomaly_chunked",
      (s, d) => {
        val base = Tables.events(s, d)
          .withColumn("ts_us", unix_micros(col("ts")))
          .withColumn("v", floor(col("value") * 10000.0))
          .filter(abs(col("v")) <= 5700000L)
          .select("event_id", "user_id", "ts_us", "value", "v")
        val parts = s.sparkContext.defaultParallelism * 2
        val ranged = base
          .repartitionByRange(parts, col("user_id"), col("ts_us"),
            col("event_id"))
          .withColumn("pid", spark_partition_id())
        val wLoc = Window.partitionBy(col("pid"), col("user_id"))
          .orderBy(col("ts_us"), col("event_id"))
        // FROZEN before branching: spark_partition_id is
        // nondeterministic — the offsets branch and the row branch
        // would otherwise re-execute the range exchange, and a reuse
        // miss re-samples the range boundaries, silently shifting a
        // boundary user's offset (observed as an off-by-one in every
        // frame of the straddling user). localCheckpoint pins one
        // materialized pid/local_rn assignment for both consumers.
        val local = ranged
          .withColumn("local_rn", row_number().over(wLoc).cast("long"))
          .stageCkpt()
        // one row per (pid, user) — the per-user cumulation window is
        // bounded by the partition count, never by data
        val offs = local.groupBy("pid", "user_id")
          .agg(count(lit(1)).as("cnt"))
          .withColumn("offset", coalesce(
            sum(col("cnt")).over(Window.partitionBy(col("user_id"))
              .orderBy(col("pid"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select("pid", "user_id", "offset")
        val chunkLen = 1024L
        val seqd = local.join(offs, Seq("pid", "user_id"))
          .withColumn("pos", col("offset") + col("local_rn") - 1)
          .withColumn("chunk",
            floor(col("pos").cast("double") / chunkLen).cast("long"))
        val halo = seqd.filter(pmod(col("pos"), lit(chunkLen)) >=
            chunkLen - 20)
          .withColumn("chunk", col("chunk") + 1)
          .withColumn("is_halo", lit(true))
        val wc = Window.partitionBy(col("user_id"), col("chunk"))
          .orderBy(col("pos")).rowsBetween(-20, -1)
        seqd.withColumn("is_halo", lit(false)).unionByName(halo)
          .withColumn("np", count(lit(1)).over(wc))
          .withColumn("s1", sum(col("v")).over(wc))
          .withColumn("s2", sum(col("v") * col("v")).over(wc))
          .filter(!col("is_halo") && col("np") >= 5)
          .withColumn("dev", col("np") * col("v") - col("s1"))
          .filter(col("dev") * col("dev") * (col("np") - 1) >
            lit(4L) * col("np") * (col("np") * col("s2") -
              col("s1") * col("s1")))
          .select(col("event_id"), col("user_id"), col("ts_us"),
            col("value"), col("np").cast("int").as("n_prev"), col("dev"))
          .orderBy("event_id")
      },
      Some(
        """WITH e AS (
          |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
          |    CAST(floor(value * 10000.0) AS BIGINT) AS v
          |  FROM events
          |  WHERE abs(CAST(floor(value * 10000.0) AS BIGINT)) <= 5700000
          |), wd AS (
          |  SELECT event_id, user_id, ts_us, value, v,
          |    count(*) OVER f AS np,
          |    sum(v) OVER f AS s1,
          |    sum(v * v) OVER f AS s2
          |  FROM e
          |  WINDOW f AS (PARTITION BY user_id ORDER BY ts_us, event_id
          |               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
          |SELECT event_id, user_id, ts_us, value,
          |  CAST(np AS INT) AS n_prev,
          |  CAST(np * v - s1 AS BIGINT) AS dev
          |FROM wd
          |WHERE np >= 5
          |  AND (np*v - s1) * (np*v - s1) * (np - 1)
          |      > 4 * np * (np*s2 - s1*s1)
          |ORDER BY event_id""".stripMargin)),

    // ----- CUSUM change-point detection per event_type: w_anomaly's
    // POINTWISE outlier flag can't see a level shift (every post-shift
    // point looks individually normal); the cumulative sum of
    // deviations from the series mean peaks exactly at the shift
    // boundary (Page 1954). All integer-exact by cross-multiplication:
    // instead of c_i - total/nd (a rational), accumulate
    // nd*c_i - total — same argmax, scaled by nd, and Σ over the full
    // series telescopes to 0 by construction. Bounds: nd·c ≤ 6e7 at
    // sf0.1, partials < 2^40 — nowhere near BIGINT. Scale shape: data
    // volume dies in the (event_type, day) pre-aggregate (map-side
    // combined); the cumulative window runs over DAYS per type —
    // bounded by the calendar, not by data — so the per-type partition
    // never becomes the g2-style unbounded-window killer. Ties on the
    // peak break to the earliest day in both engines.
    Q("w_cusum",
      (s, d) => {
        val daily = Tables.events(s, d)
          .withColumn("day",
            expr("(unix_micros(ts) div 1000000) div 86400"))
          .groupBy("event_type", "day")
          .agg(count(lit(1)).as("c"))
        val tot = daily.groupBy("event_type")
          .agg(sum(col("c")).as("total"), count(lit(1)).as("nd"))
        val cum = Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val rk = Window.partitionBy("event_type")
          .orderBy(desc("adev"), col("day"))
        daily.join(tot, Seq("event_type"))
          .withColumn("s",
            sum(col("nd") * col("c") - col("total")).over(cum))
          .withColumn("adev", abs(col("s")))
          .withColumn("rn", row_number().over(rk))
          .filter(col("rn") === 1)
          .select(col("event_type"), col("day").as("change_day"),
            col("adev").as("max_dev"), col("nd").cast("int").as("n_days"))
          .orderBy("event_type")
      },
      Some(
        """WITH daily AS (
          |  SELECT event_type,
          |    CAST(epoch_us(ts) // 1000000 // 86400 AS BIGINT) AS day,
          |    count(*) AS c
          |  FROM events GROUP BY 1, 2
          |), tot AS (
          |  SELECT event_type, CAST(sum(c) AS BIGINT) AS total,
          |    CAST(count(*) AS BIGINT) AS nd
          |  FROM daily GROUP BY 1
          |), cs AS (
          |  SELECT d.event_type, d.day, t.nd,
          |    sum(t.nd * d.c - t.total) OVER (PARTITION BY d.event_type
          |      ORDER BY d.day
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
          |  FROM daily d JOIN tot t USING (event_type)
          |), rk AS (
          |  SELECT event_type, day, abs(s) AS adev, nd,
          |    row_number() OVER (PARTITION BY event_type
          |      ORDER BY abs(s) DESC, day) AS rn
          |  FROM cs)
          |SELECT event_type, day AS change_day,
          |  CAST(adev AS BIGINT) AS max_dev, CAST(nd AS INT) AS n_days
          |FROM rk WHERE rn = 1 ORDER BY event_type""".stripMargin)),

    // ----- exponentially-weighted moving average (α = 1/2) over each
    // user's last 8 events — the streaming-monitoring smoother. The
    // whole computation is EXACT INTEGER arithmetic: values scale to
    // 4dp longs, weights are powers of two (1..128, Σ=255), and the
    // weighted sum folds through a codegen'd zip_with/aggregate HOF —
    // so the result is identical under any partitioning or
    // accumulation order, where a float α-recursion would drift by
    // association. Only full 8-row windows emit (fixed denominator
    // 255·10⁴); one window shuffle on user_id, no self-join (the
    // oracle's join formulation is quadratic-per-window and exists
    // only because DuckDB lacks the HOF fold over window frames).
    Q("w_ewma",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us"), col("event_id"))
          .rowsBetween(-7, 0)
        Tables.events(s, d)
          .withColumn("ts_us", unix_micros(col("ts")))
          .withColumn("v", floor(col("value") * 10000.0))
          .withColumn("vs", collect_list(col("v")).over(w))
          .filter(size(col("vs")) === 8)
          .withColumn("num", expr(
            """aggregate(zip_with(vs, sequence(0, 7),
              |  (v, i) -> v * shiftleft(1L, i)), 0L,
              |  (acc, x) -> acc + x)""".stripMargin))
          .select(col("event_id"), col("user_id"), col("ts_us"),
            round(col("num").cast("double") / 2550000.0, 6).as("ewma"))
          .orderBy("event_id")
      },
      Some(
        """WITH e AS (
          |  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
          |    CAST(floor(value * 10000.0) AS BIGINT) AS v,
          |    row_number() OVER (PARTITION BY user_id
          |      ORDER BY epoch_us(ts), event_id) AS rn
          |  FROM events
          |), j AS (
          |  SELECT a.event_id, a.user_id, a.ts_us,
          |    CAST(sum(b.v * (1 << CAST(7 - (a.rn - b.rn) AS INT)))
          |      AS BIGINT) AS num,
          |    count(*) AS np
          |  FROM e a JOIN e b
          |    ON b.user_id = a.user_id AND b.rn BETWEEN a.rn - 7 AND a.rn
          |  GROUP BY 1, 2, 3)
          |SELECT event_id, user_id, ts_us,
          |  round(CAST(num AS DOUBLE) / 2550000.0, 6) AS ewma
          |FROM j WHERE np = 8 ORDER BY event_id""".stripMargin)),

    // ----- lag-1/lag-2 autocorrelation per user series — the
    // time-series profiling signal (is the metric trending, mean-
    // reverting, or noise?) that decides windowing/seasonality
    // downstream. Determinism: values are floor-quantized to 10⁻⁴
    // BIGINTs, every moment (Σx, Σxy, Σx², n) is an EXACT integer
    // aggregate — order-independent — and the Pearson form
    // (n·Σxy − Σx·Σy) / (√(n·Σx²−(Σx)²)·√(n·Σy²−(Σy)²)) is one
    // identically-associated float expression over those exact
    // integers ([[Moments.pearson]]), rounded 4dp (max |term| ~2e17,
    // and the int→double conversions round identically on both
    // engines).
    // Scale shape: one window shuffle on user_id for the lags, then a
    // groupBy on the SAME key (exchange reuse) with 11 map-side-
    // combinable sum/count slots; no self-join, no driver math.
    Q("w_acf",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us"), col("event_id"))
        val q = Tables.events(s, d)
          .withColumn("ts_us", unix_micros(col("ts")))
          .withColumn("q", floor(col("value") * 10000.0).cast("long"))
          .withColumn("q1", lag(col("q"), 1).over(w))
          .withColumn("q2", lag(col("q"), 2).over(w))
        def mom(lagCol: String, suf: String) = Seq(
          count(col(lagCol)).as(s"n$suf"),
          sum(when(col(lagCol).isNotNull, col("q"))).as(s"sx$suf"),
          sum(col(lagCol)).as(s"sy$suf"),
          sum(col("q") * col(lagCol)).as(s"sxy$suf"),
          sum(when(col(lagCol).isNotNull, col("q") * col("q")))
            .as(s"sxx$suf"),
          sum(col(lagCol) * col(lagCol)).as(s"syy$suf"))
        val aggs = mom("q1", "1") ++ mom("q2", "2") :+
          count(lit(1)).as("n_events")
        def acf(s0: String) = {
          val (n, sx, sy, sxy, sxx, syy) =
            (col(s"n$s0"), col(s"sx$s0"), col(s"sy$s0"),
              col(s"sxy$s0"), col(s"sxx$s0"), col(s"syy$s0"))
          when(n >= lit(2) && Moments.comoment(n, sx, sx, sxx) > 0 &&
            Moments.comoment(n, sy, sy, syy) > 0,
            round(Moments.pearson(n, sx, sy, sxy, sxx, syy), 4))
        }
        q.groupBy("user_id")
          .agg(aggs.head, aggs.tail: _*)
          .select(col("user_id"), col("n_events").cast("int").as("n_events"),
            acf("1").as("acf1"), acf("2").as("acf2"))
          .orderBy("user_id")
      },
      Some(
        """WITH e AS (
          |  SELECT user_id, CAST(floor(value * 10000.0) AS BIGINT) AS q,
          |    lag(CAST(floor(value * 10000.0) AS BIGINT), 1) OVER w AS q1,
          |    lag(CAST(floor(value * 10000.0) AS BIGINT), 2) OVER w AS q2
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id
          |               ORDER BY epoch_us(ts), event_id)
          |), m AS (
          |  SELECT user_id, count(*) AS n_events,
          |    count(q1) AS n1, sum(CASE WHEN q1 IS NOT NULL THEN q END)
          |      AS sx1, sum(q1) AS sy1, sum(q * q1) AS sxy1,
          |    sum(CASE WHEN q1 IS NOT NULL THEN q * q END) AS sxx1,
          |    sum(q1 * q1) AS syy1,
          |    count(q2) AS n2, sum(CASE WHEN q2 IS NOT NULL THEN q END)
          |      AS sx2, sum(q2) AS sy2, sum(q * q2) AS sxy2,
          |    sum(CASE WHEN q2 IS NOT NULL THEN q * q END) AS sxx2,
          |    sum(q2 * q2) AS syy2
          |  FROM e GROUP BY user_id)
          |SELECT user_id, CAST(n_events AS INT) AS n_events,
          |  CASE WHEN n1 >= 2 AND n1 * sxx1 - sx1 * sx1 > 0
          |            AND n1 * syy1 - sy1 * sy1 > 0 THEN
          |    round(CAST(n1 * sxy1 - sx1 * sy1 AS DOUBLE) /
          |      (sqrt(CAST(n1 * sxx1 - sx1 * sx1 AS DOUBLE)) *
          |       sqrt(CAST(n1 * syy1 - sy1 * sy1 AS DOUBLE))), 4)
          |  END AS acf1,
          |  CASE WHEN n2 >= 2 AND n2 * sxx2 - sx2 * sx2 > 0
          |            AND n2 * syy2 - sy2 * sy2 > 0 THEN
          |    round(CAST(n2 * sxy2 - sx2 * sy2 AS DOUBLE) /
          |      (sqrt(CAST(n2 * sxx2 - sx2 * sx2 AS DOUBLE)) *
          |       sqrt(CAST(n2 * syy2 - sy2 * sy2 AS DOUBLE))), 4)
          |  END AS acf2
          |FROM m ORDER BY user_id""".stripMargin)),

    // ----- Holt double-exponential smoothing per user series (Holt
    // 1957) — level + trend state, the forecasting step up from
    // w_ewma's level-only smoother. A GENUINELY sequential recursion
    // (state t needs state t−1), so it cannot be a window frame or a
    // parallel aggregate: the engine-native shape is a per-key FOLD —
    // `aggregate()` over the time-sorted per-user array, per-key
    // state bounded by the series length, keys processed in parallel
    // (exactly how Structured Streaming's mapGroupsWithState would
    // hold the same state online; this is its batch twin). The
    // DuckDB oracle expresses the identical recursion RELATIONALLY as
    // a WITH RECURSIVE step join on row_number — two very different
    // plans, one recurrence. Determinism: α = β = ½ is exactly
    // representable, the fold applies the identical sequence of
    // IEEE ops in the same (ts, event_id)-sorted order on both
    // engines, and pure-expression re-evaluation of the new level
    // inside the trend update is deterministic — so the floats agree
    // bitwise before the final 4dp rounding.
    Q("w_holt",
      (s, d) => {
        val arr = Tables.events(s, d)
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            col("event_id"),
            floor(col("value") * 100.0).cast("double").as("x"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            array_sort(collect_list(struct(col("us"), col("event_id"),
              col("x")))).as("series"))
        arr.select(col("user_id"), col("n_events"),
            aggregate(
              expr("slice(series, 2, size(series) - 1)"),
              struct(col("series")(0)("x").as("v"),
                lit(0.0).as("b")),
              (st, e) => struct(
                (e("x") * 0.5 + (st("v") + st("b")) * 0.5).as("v"),
                (((e("x") * 0.5 + (st("v") + st("b")) * 0.5) - st("v"))
                  * 0.5 + st("b") * 0.5).as("b"))).as("st"))
          .select(col("user_id"), col("n_events"),
            round(col("st.v"), 4).as("level_cents"),
            round(col("st.b"), 4).as("trend_cents"),
            round(col("st.v") + col("st.b"), 4).as("forecast_cents"))
          .orderBy("user_id")
      },
      Some(
        """WITH e AS (
          |  SELECT user_id, epoch_us(ts) AS us, event_id,
          |    CAST(floor("value" * 100.0) AS DOUBLE) AS x,
          |    row_number() OVER (PARTITION BY user_id
          |      ORDER BY epoch_us(ts), event_id) AS rn
          |  FROM events
          |), nt AS (
          |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
          |  FROM e GROUP BY user_id
          |), rec AS (
          |  WITH RECURSIVE st(user_id, rn, v, b) AS (
          |    SELECT user_id, rn, x, CAST(0.0 AS DOUBLE)
          |    FROM e WHERE rn = 1
          |    UNION ALL
          |    SELECT n.user_id, n.rn,
          |      n.x * 0.5 + (s.v + s.b) * 0.5,
          |      ((n.x * 0.5 + (s.v + s.b) * 0.5) - s.v) * 0.5
          |        + s.b * 0.5
          |    FROM st s JOIN e n
          |      ON n.user_id = s.user_id AND n.rn = s.rn + 1)
          |  SELECT user_id, v, b,
          |    row_number() OVER (PARTITION BY user_id
          |      ORDER BY rn DESC) AS rk
          |  FROM st
          |)
          |SELECT r.user_id, nt.n_events,
          |  round(r.v, 4) AS level_cents,
          |  round(r.b, 4) AS trend_cents,
          |  round(r.v + r.b, 4) AS forecast_cents
          |FROM rec r JOIN nt USING (user_id)
          |WHERE r.rk = 1 ORDER BY r.user_id""".stripMargin)),
  )
}
