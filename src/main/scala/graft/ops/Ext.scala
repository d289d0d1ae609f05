package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY §2 M — capability extensions absent from the reference: set
  * operations, grouping sets, approximate distinct, JSON extraction, and
  * event-time windows (tumbling / sliding / session) in batch mode. The
  * batch window queries use the exact `window()`/`session_window()`
  * operators Structured Streaming runs, so the streaming path (see
  * `graft.streaming.Streams`) shares semantics with an oracle-checkable
  * batch query.
  */
object Ext {

  /** SCD Type-2 versioned purchase history — the shared dimension
    * build behind the batch `m_scd2` query and the streaming
    * `m_stream_scd2` temporal join (one derivation, two consumers:
    * an interval-semantics change here reaches both). Columns:
    * (o_custkey, o_orderkey, o_totalprice, valid_from_us,
    * valid_to_us) with valid_to_us NULL on the open version. */
  private[graft] def scd2History(s: SparkSession, d: String)
  : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("valid_from_us"), col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        // o_orderdate is TIMESTAMP_NTZ; session tz is pinned UTC, so
        // the cast to instant is exact.
        unix_micros(col("o_orderdate").cast("timestamp"))
          .as("valid_from_us"))
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(w))
  }

  val all: Seq[Q] = Seq(

    // ----- set ops: UNION ALL keeps duplicates
    Q("m_union_all",
      (s, d) => {
        val o = Tables.orders(s, d)
        o.filter(col("o_orderstatus") === "F")
          .select(col("o_custkey"))
          .unionByName(o.filter(col("o_orderstatus") === "O")
            .select(col("o_custkey")))
          .groupBy("o_custkey").agg(count(lit(1)).as("cnt"))
          .orderBy("o_custkey")
      },
      Some(
        """SELECT o_custkey, count(*) AS cnt FROM (
          |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
          |  UNION ALL
          |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O') t
          |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // ----- INTERSECT (set semantics, deduplicated)
    Q("m_intersect",
      (s, d) => {
        val o = Tables.orders(s, d)
        o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
          .intersect(o.filter(col("o_orderstatus") === "P")
            .select(col("o_custkey")))
          .orderBy("o_custkey")
      },
      Some(
        """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
          |INTERSECT
          |SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
          |ORDER BY o_custkey""".stripMargin)),

    // ----- EXCEPT (set difference, deduplicated)
    Q("m_except",
      (s, d) => {
        val o = Tables.orders(s, d)
        o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
          .except(o.filter(col("o_orderstatus") === "P")
            .select(col("o_custkey")))
          .orderBy("o_custkey")
      },
      Some(
        """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
          |EXCEPT
          |SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
          |ORDER BY o_custkey""".stripMargin)),

    // ----- ROLLUP: subtotal hierarchy; grouping-null made explicit so both
    // engines order identically
    Q("m_rollup",
      (s, d) => Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("_ALL_")).as("rf"),
          coalesce(col("l_linestatus"), lit("_ALL_")).as("ls"),
          col("n"), col("sum_qty"))
        .orderBy("rf", "ls"),
      Some(
        """SELECT coalesce(l_returnflag, '_ALL_') AS rf,
          |       coalesce(l_linestatus, '_ALL_') AS ls,
          |       count(*) AS n,
          |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
          |         AS sum_qty
          |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
          |ORDER BY rf, ls""".stripMargin)),

    // ----- CUBE: all grouping combinations
    Q("m_cube",
      (s, d) => Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .select(coalesce(col("o_orderstatus"), lit("_ALL_")).as("st"),
          coalesce(col("o_orderpriority"), lit("_ALL_")).as("pri"),
          col("n"))
        .orderBy("st", "pri"),
      Some(
        """SELECT coalesce(o_orderstatus, '_ALL_') AS st,
          |       coalesce(o_orderpriority, '_ALL_') AS pri, count(*) AS n
          |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
          |ORDER BY st, pri""".stripMargin)),

    // ----- pivot: wide conditional aggregation (compiles to the same
    // CASE-WHEN partial aggregate the oracle spells out — one shuffle)
    // ----- explicit GROUPING SETS (finer than rollup/cube: exactly the
    // requested set combinations, each a partial-aggregated pass over the
    // same shuffle) with grouping_id disambiguation of the NULL rows.
    Q("m_grouping_sets",
      (s, d) => Tables.orders(s, d)
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")),
            Seq.empty),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          // decimal sum: a double sum's accumulation order differs per
          // engine/partitioning; 2dp prices are exact in DECIMAL(18,2)
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("total"),
          (grouping(col("o_orderstatus")) * 2 +
            grouping(col("o_orderpriority"))).cast("int").as("gid"))
        .orderBy(col("gid"), asc_nulls_first("o_orderstatus"),
          asc_nulls_first("o_orderpriority")),
      Some(
        """SELECT o_orderstatus, o_orderpriority,
          |  CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total,
          |  CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority)
          |    AS INT) AS gid
          |FROM orders
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          |ORDER BY gid, o_orderstatus NULLS FIRST,
          |  o_orderpriority NULLS FIRST""".stripMargin)),

    Q("m_pivot",
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"))
        .select(col("l_linestatus"), col("A").as("qty_a"),
          col("N").as("qty_n"), col("R").as("qty_r"))
        .orderBy("l_linestatus"),
      Some(
        """SELECT l_linestatus,
          |  CAST(sum(CASE WHEN l_returnflag = 'A'
          |       THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE)
          |    AS qty_a,
          |  CAST(sum(CASE WHEN l_returnflag = 'N'
          |       THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE)
          |    AS qty_n,
          |  CAST(sum(CASE WHEN l_returnflag = 'R'
          |       THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE)
          |    AS qty_r
          |FROM lineitem GROUP BY l_linestatus
          |ORDER BY l_linestatus""".stripMargin)),

    // ----- explode_outer: rows with EMPTY arrays survive with null
    // (inner explode drops them — d1's contract; this is the other half)
    Q("m_explode_outer",
      (s, d) => graft.Tables.videos(s, d)
        .select(col("id"), explode_outer(col("related_ids")).as("rid"))
        .filter(col("rid").isNull)
        .select("id")
        .orderBy("id"),
      Some(graft.Oracles.withVideos(
        """SELECT id FROM videos WHERE len(related_ids) = 0
          |ORDER BY id""".stripMargin))),

    // ----- exact interpolated percentiles (both engines use linear
    // interpolation: Spark percentile == DuckDB quantile_cont)
    Q("m_percentiles",
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90"))
        .orderBy("l_returnflag"),
      Some(
        """SELECT l_returnflag,
          |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
          |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
          |FROM lineitem GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin)),

    // ----- the scale twin of m_percentiles: exact `percentile` buffers
    // EVERY value of a group in the agg buffer — at 100 TB with 3 groups
    // that is tens of billions of doubles per reducer, a guaranteed OOM.
    // approx_percentile keeps a fixed-size sketch (Greenwald-Khanna,
    // accuracy 10000 -> rank error <= 1/10000). The sketch value is
    // engine-specific, so the CHECKED output is the exact value plus an
    // acceptance flag (same verified-tolerance pattern as
    // m_approx_distinct). The acceptance checks the sketch's ACTUAL
    // contract — rank error, not value error: the approx value must lie
    // inside the exact [p-0.001, p+0.001] percentile band. A value-error
    // check (|a-p|/p < eps) is scale-fragile: approx_percentile returns a
    // real data point (no interpolation), so on a sparse group the gap to
    // the interpolated exact value exceeds any fixed eps even though the
    // sketch is rank-perfect (observed at sf0.001, ~2k rows/group).
    Q("m_percentiles_approx",
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        // ONE array-percentile per sketch family: six scalar
        // percentile() aggregates would each buffer and sort every
        // group value independently (measured 4.8 s vs 1.3 s at sf0.1)
        .agg(
          expr("percentile(l_extendedprice, " +
            "array(0.499, 0.5, 0.501, 0.899, 0.9, 0.901))").as("ps"),
          expr("approx_percentile(l_extendedprice, array(0.5, 0.9), " +
            "10000)").as("apx"))
        .select(col("l_returnflag"),
          round(col("ps")(1), 4).as("p50"),
          round(col("ps")(4), 4).as("p90"),
          (col("apx")(0) >= col("ps")(0) && col("apx")(0) <= col("ps")(2))
            .as("p50_within_rank_tol"),
          (col("apx")(1) >= col("ps")(3) && col("apx")(1) <= col("ps")(5))
            .as("p90_within_rank_tol"))
        .orderBy("l_returnflag"),
      Some(
        """SELECT l_returnflag,
          |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
          |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
          |  TRUE AS p50_within_rank_tol, TRUE AS p90_within_rank_tol
          |FROM lineitem GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin)),

    // ----- salted two-stage top-k: l_returnflag has only 3 values, so a
    // single window per key would funnel ~N/3 rows into 3 tasks at scale.
    // Stage 1 ranks within (key, salt) — 16x more, even partitions; the
    // global top-5 is provably inside the union of per-salt top-5s, so
    // stage 2 ranks only 16x5 survivors per key. Oracle = the plain
    // single-window top-5 (same tie-break), proving the rewrite exact.
    Q("m_salted_topk",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val order = Seq(desc("l_extendedprice"), col("l_orderkey"),
          col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
        val salted = Tables.lineitem(s, d)
          .withColumn("salt",
            pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(16)))
        val w1 = Window.partitionBy(col("l_returnflag"), col("salt"))
          .orderBy(order: _*)
        val w2 = Window.partitionBy(col("l_returnflag"))
          .orderBy(order: _*)
        salted
          .withColumn("rn1", row_number().over(w1))
          .filter(col("rn1") <= 5)
          .withColumn("rank", row_number().over(w2))
          .filter(col("rank") <= 5)
          .select(col("l_returnflag"), col("rank"), col("l_orderkey"),
            col("l_linenumber"), col("l_extendedprice"))
          .orderBy("l_returnflag", "rank")
      },
      Some(
        """SELECT l_returnflag, CAST(rank AS INT) AS rank, l_orderkey,
          |       l_linenumber, l_extendedprice FROM (
          |  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
          |    row_number() OVER (PARTITION BY l_returnflag
          |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber,
          |               l_partkey, l_suppkey) AS rank
          |  FROM lineitem)
          |WHERE rank <= 5 ORDER BY l_returnflag, rank""".stripMargin)),

    // ----- approx_count_distinct (HLL++): the raw sketch estimate is
    // algorithm-specific, so the ORACLE-CHECKED output is the exact count
    // plus the relative-error ACCEPTANCE (|approx-exact|/exact < 0.05, a
    // boolean DuckDB derives as constant TRUE from count(DISTINCT)) — the
    // engine-independent contract of an rsd=0.02 sketch. The estimate
    // itself is additionally pinned in ApproxSpec.
    Q("m_approx_distinct",
      (s, d) => Tables.events(s, d)
        .groupBy("event_type")
        .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users"))
            / col("exact_users") < 0.05).as("within_5pct"))
        .orderBy("event_type"),
      Some(
        """SELECT event_type, count(DISTINCT user_id) AS exact_users,
          |       TRUE AS within_5pct
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ----- mergeable-sketch rollup: the REAGGREGATABLE cube pattern
    // that makes distinct counts affordable at 100 TB. Distinct does
    // not add — the naive_sum column proves it by exceeding exact_users
    // on every row — so a warehouse can't roll daily distinct counts
    // into monthly ones. The answer is to STORE per-(dim, day) Theta/
    // HLL sketch partials (a few KB per cell) and answer every coarser
    // grain — weekly, all-time, cross-dim — by sketch UNION without
    // ever re-touching raw data. Engine shape: the daily layer is one
    // map-side-combinable pass; the rollup shuffles sketch bytes (KB
    // per cell), not user ids; the acceptance flag checks the merged
    // estimate against exact at the Datasketches lgK=14 contract
    // (±1.6% rse at 3σ ≪ the 5% gate). The exact twin rides the same
    // plan only as the acceptance harness — production stores just the
    // sketch column.
    Q("m_hll_rollup",
      (s, d) => {
        val e = Tables.events(s, d)
          .withColumn("day", expr("(unix_micros(ts) div 1000000) div 86400"))
        val daily = e.groupBy("event_type", "day")
          .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"),
            countDistinct(col("user_id")).as("day_users"))
        val roll = daily.groupBy("event_type")
          .agg(count(lit(1)).as("n_days"),
            sum(col("day_users")).as("naive_sum"),
            expr("hll_sketch_estimate(hll_union_agg(sk, false))")
              .as("approx_users"))
        val exact = e.groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("exact_users"))
        roll.join(broadcast(exact), Seq("event_type"))
          .select(col("event_type"), col("n_days"), col("naive_sum"),
            col("exact_users"),
            (col("naive_sum") > col("exact_users")).as("naive_overcounts"),
            (abs(col("approx_users") - col("exact_users"))
              / col("exact_users") < 0.05).as("merged_within_5pct"))
          .orderBy("event_type")
      },
      Some(
        """WITH e AS (
          |  SELECT event_type, user_id,
          |    CAST(epoch_us(ts) // 1000000 // 86400 AS BIGINT) AS day
          |  FROM events
          |), daily AS (
          |  SELECT event_type, day, count(DISTINCT user_id) AS du
          |  FROM e GROUP BY 1, 2
          |), roll AS (
          |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
          |    CAST(sum(du) AS BIGINT) AS naive_sum
          |  FROM daily GROUP BY 1
          |), x AS (
          |  SELECT event_type, count(DISTINCT user_id) AS exact_users
          |  FROM e GROUP BY 1)
          |SELECT event_type, n_days, naive_sum, exact_users,
          |  naive_sum > exact_users AS naive_overcounts,
          |  TRUE AS merged_within_5pct
          |FROM roll JOIN x USING (event_type)
          |ORDER BY event_type""".stripMargin)),

    // ----- count-min point-frequency sketch: the THIRD mergeable-sketch
    // family next to HLL (distinct, m_hll_rollup) and Misra-Gries
    // (heavy hitters, t_heavy_hitters): "how often does THIS key occur"
    // with a fixed depth x width integer matrix that merges by
    // element-wise add — per-partition partials at 100 TB, KB per cell,
    // never a per-key state shuffle. Build = the engine's own
    // count_min_sketch aggregate (seeded, so deterministic); probe = the
    // native cms_estimate expression (graft.functions.CmsEstimate) over
    // the top-20 exact-heavy keys, with the sketch riding a broadcast
    // 1-row capsule. Acceptance columns check the CMS contract the
    // oracle can state: estimates never undercount, and overcount by at
    // most ceil(eps * N). Deterministic given the fixed seed, so the
    // booleans are fixture-frozen facts, not flaky probabilities.
    Q("m_cms_freq",
      (s, d) => {
        val e = Tables.events(s, d)
        val sketch = e.agg(
          expr("count_min_sketch(user_id, 0.001d, 0.99d, 42)").as("cms"),
          count(lit(1)).as("total"))
        val probes = e.groupBy("user_id")
          .agg(count(lit(1)).as("exact_cnt"))
          .orderBy(desc("exact_cnt"), col("user_id"))
          .limit(20)
        probes.crossJoin(broadcast(sketch))
          .withColumn("est",
            call_function("cms_estimate", col("cms"), col("user_id")))
          .select(col("user_id"), col("exact_cnt"),
            (col("est") >= col("exact_cnt")).as("never_undercounts"),
            (col("est") <= col("exact_cnt")
              + ceil(lit(0.001) * col("total")).cast("long"))
              .as("within_eps"))
          .orderBy("user_id")
      },
      Some(
        """WITH c AS (
          |  SELECT user_id, count(*) AS exact_cnt
          |  FROM events GROUP BY user_id
          |), p AS (
          |  SELECT user_id, exact_cnt FROM c
          |  ORDER BY exact_cnt DESC, user_id LIMIT 20
          |)
          |SELECT user_id, exact_cnt,
          |  TRUE AS never_undercounts, TRUE AS within_eps
          |FROM p ORDER BY user_id""".stripMargin)),

    // ----- JSON extraction from string column (events.props)
    Q("m_json_extract",
      (s, d) => Tables.events(s, d)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy()
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k")),
      Some(
        """SELECT count(*) AS n,
          |       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT))
          |            AS BIGINT) AS sum_k,
          |       min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
          |       max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
          |FROM events""".stripMargin)),

    // ----- VARIANT semi-structured columns (Spark 4's open-format
    // binary JSON — the 100-TB answer to heterogeneous metadata:
    // parse ONCE into a shreddable columnar value, then every
    // downstream path extraction is a binary probe, not a JSON
    // re-parse; get_json_object re-tokenizes the string per call).
    // The fixture's props column is single-shape, so the query
    // manufactures the production shape: per-type payloads (purchase
    // → amount + item array, view → duration, other → tag only),
    // parsed with parse_json, extracted with variant_get (typed
    // paths, array indexing) and try_variant_get (absent paths →
    // NULL, never an error). CORRECTNESS IS A ROUND TRIP: the oracle
    // computes the same aggregates straight from the source columns —
    // whatever went INTO the JSON must come back out of the VARIANT,
    // so any parse/extract/shape bug breaks the hash. floor() on
    // bitwise-identical doubles is tie-free across engines (the
    // m_embed_quantize rule).
    Q("m_variant",
      (s, d) => Tables.events(s, d)
        // coalesce: fixture schemas are driver-owned and CAN grow nulls
        // between rounds (NOTES) — a NULL value must not silently turn
        // a payload row into a NULL variant on one engine only
        .select(col("event_type"), col("user_id"),
          expr("""parse_json(CASE event_type
            WHEN 'purchase' THEN concat('{"t":"p","amt":',
              CAST(floor(coalesce(value, 0.0) * 100.0) AS BIGINT),
              ',"items":[', coalesce(user_id, 0) % 5, ',',
              coalesce(user_id, 0) % 7, ']}')
            WHEN 'view' THEN concat('{"t":"v","dur":',
              CAST(floor(coalesce(value, 0.0)) AS BIGINT), '}')
            ELSE '{"t":"o"}' END)""").as("v"))
        .select(
          expr("variant_get(v, '$.t', 'string')").as("t"),
          expr("try_variant_get(v, '$.amt', 'bigint')").as("amt"),
          expr("try_variant_get(v, '$.items[0]', 'bigint')").as("it0"),
          expr("try_variant_get(v, '$.items[1]', 'bigint')").as("it1"),
          expr("try_variant_get(v, '$.dur', 'bigint')").as("dur"))
        .groupBy("t")
        .agg(count(lit(1)).as("n"),
          sum("amt").as("sum_amt"),
          sum("it0").as("sum_it0"),
          sum("it1").as("sum_it1"),
          sum("dur").as("sum_dur"),
          count("amt").as("n_amt"))
        .orderBy("t"),
      Some(
        """SELECT CASE event_type WHEN 'purchase' THEN 'p'
          |         WHEN 'view' THEN 'v' ELSE 'o' END AS t,
          |  count(*) AS n,
          |  CAST(sum(CASE WHEN event_type = 'purchase'
          |    THEN CAST(floor(coalesce(value, 0.0) * 100.0) AS BIGINT) END)
          |    AS BIGINT)
          |    AS sum_amt,
          |  CAST(sum(CASE WHEN event_type = 'purchase'
          |    THEN coalesce(user_id, 0) % 5 END) AS BIGINT) AS sum_it0,
          |  CAST(sum(CASE WHEN event_type = 'purchase'
          |    THEN coalesce(user_id, 0) % 7 END) AS BIGINT) AS sum_it1,
          |  CAST(sum(CASE WHEN event_type = 'view'
          |    THEN CAST(floor(coalesce(value, 0.0)) AS BIGINT) END) AS BIGINT)
          |    AS sum_dur,
          |  CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END)
          |    AS BIGINT) AS n_amt
          |FROM events
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- as-of join (operator Spark lacks; composed scalably): for
    // each 'error' event, the most recent 'click' AT OR BEFORE it by the
    // same user. NOT a range join (quadratic): union both sides, one
    // shuffle on user_id, and a running last_value window — ties break
    // clicks-first so "at or before" includes same-instant clicks.
    Q("m_asof_join",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("ts"),
            col("event_type"))
          .filter(col("event_type").isin("click", "error"))
          .withColumn("is_click",
            when(col("event_type") === "click", 1).otherwise(0))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), desc("is_click"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ev.withColumn("asof_click_us",
            last(when(col("is_click") === 1, unix_micros(col("ts"))),
              ignoreNulls = true).over(w))
          .filter(col("is_click") === 0)
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("ts_us"), col("asof_click_us"))
          .orderBy("event_id")
      },
      Some(
        // compare at MICROsecond precision (epoch_us) on both sides: the
        // raw fixture ts is nanos, which Spark truncates to micros at read
        // — a bare `c.ts <= e.ts` here would compare nanos and could
        // include/exclude a click that differs only below the micro.
        """SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
          |  (SELECT max(epoch_us(c.ts)) FROM events c
          |   WHERE c.user_id = e.user_id AND c.event_type = 'click'
          |     AND epoch_us(c.ts) <= epoch_us(e.ts)) AS asof_click_us
          |FROM events e WHERE e.event_type = 'error'
          |ORDER BY e.event_id""".stripMargin)),

    // ----- range join against a tiny bands dim: non-equi predicate over
    // a BROADCAST side — the nested-loop stays bounded by |dim| per row.
    // At scale this is the broadcast-range-join pattern (bands per row,
    // never row x row).
    Q("m_range_join",
      (s, d) => {
        val bands = (Seq((0.0, 25.0, "low"), (25.0, 75.0, "mid"),
          (75.0, 1e9, "high")))
        val dim = s.createDataFrame(bands).toDF("lo", "hi", "band")
        Tables.events(s, d)
          .join(broadcast(dim),
            col("value") >= col("lo") && col("value") < col("hi"))
          .groupBy("band")
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,4)")).cast("double")
              .as("sum_value"))
          .orderBy("band")
      },
      Some(
        """WITH dim AS (
          |  SELECT * FROM (VALUES (0.0, 25.0, 'low'), (25.0, 75.0, 'mid'),
          |                        (75.0, 1e9, 'high')) AS t(lo, hi, band))
          |SELECT band, count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
          |FROM events JOIN dim ON value >= lo AND value < hi
          |GROUP BY band ORDER BY band""".stripMargin)),

    // ----- from_json: parse a JSON document string back into a typed
    // struct (the inverse of i10; the shape every streaming pipeline
    // uses for message payloads).
    Q("m_from_json",
      (s, d) => {
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("k", IntegerType)))
        Tables.events(s, d)
          .select(col("event_id"),
            from_json(col("props"), schema).getField("k").as("k"))
          .filter(col("k") % 7 === 0)
          .orderBy("event_id")
      },
      Some(
        // TRY_CAST, matching Spark's from_json null-on-malformed: a bad
        // payload must yield NULL (row filtered), not abort the oracle.
        """SELECT event_id,
          |       TRY_CAST(json_extract_string(props, '$.k') AS INT) AS k
          |FROM events
          |WHERE TRY_CAST(json_extract_string(props, '$.k') AS INT) % 7 = 0
          |ORDER BY event_id""".stripMargin)),

    // ----- tumbling event-time window (batch mode of the streaming op).
    // Spark's window() aligns to the epoch, so 1-day tumbling ≡ date_trunc.
    Q("m_window_tumbling",
      (s, d) => Tables.events(s, d)
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
        .select(unix_micros(col("window.start")).as("win_start_us"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("win_start_us", "event_type"),
      Some(
        """SELECT epoch_us(date_trunc('day', ts)) AS win_start_us, event_type,
          |       count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
          |FROM events GROUP BY 1, 2 ORDER BY win_start_us, event_type"""
          .stripMargin)),

    // ----- sliding event-time window (1 day every 12 h ⇒ each event in 2
    // windows). Oracle enumerates the two epoch-aligned candidate starts.
    Q("m_window_sliding",
      (s, d) => Tables.events(s, d)
        .groupBy(window(col("ts"), "1 day", "12 hours"))
        .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
        .select(unix_micros(col("window.start")).as("win_start_us"),
          col("n"), col("sum_value"))
        .orderBy("win_start_us"),
      Some(
        """WITH cand AS (
          |  SELECT ts, value,
          |    (CAST(floor(epoch(ts) / 43200) AS BIGINT) - k) * 43200000000
          |      AS win_start_us
          |  FROM events, (SELECT unnest([0, 1]) AS k)
          |), w AS (
          |  SELECT * FROM cand
          |  WHERE epoch(ts) * 1000000 >= win_start_us
          |    AND epoch(ts) * 1000000 < win_start_us + 86400000000)
          |SELECT win_start_us, count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
          |FROM w GROUP BY win_start_us ORDER BY win_start_us""".stripMargin)),

    // ----- session window (1 h inactivity gap) per user — the batch twin
    // of the streaming session_window; oracle is the classic
    // gaps-and-islands rewrite.
    Q("m_session_window",
      (s, d) => Tables.events(s, d)
        .groupBy(session_window(col("ts"), "1 hour"), col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("sess_start_us"),
          col("n"), col("sum_value"))
        .orderBy("user_id", "sess_start_us"),
      Some(
        """WITH flagged AS (
          |  SELECT user_id, ts, value,
          |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
          |              IS NULL THEN 1
          |         WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (
          |              PARTITION BY user_id ORDER BY ts)) >= 3600000000
          |         THEN 1 ELSE 0 END AS new_sess
          |  FROM events
          |), sess AS (
          |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
          |  FROM flagged)
          |SELECT user_id, min(epoch_us(ts)) AS sess_start_us, count(*) AS n,
          |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
          |FROM sess GROUP BY user_id, sess_id
          |ORDER BY user_id, sess_start_us""".stripMargin)),

    // ----- temperature-scaled source mixing (tau = 0.5): per-source
    // sampling quotas proportional to n_s^tau, the standard rebalancing
    // that upweights small domains/languages relative to proportional
    // sampling. Numeric discipline, because a float threshold at the ROW
    // level would let a last-ulp difference flip membership: per-source
    // weights are sqrt(n) rounded to 6dp, their sum is taken as
    // DECIMAL(18,6) (exact, order-independent — a double sum over hash-
    // partitioned groups is not), the integer quota is rounded once per
    // SOURCE (20 values), and row selection is then a pure integer
    // comparison: md5-ranked row_number <= quota. Selection stays
    // deterministic under repartitioning, like m_sample_mix below.
    Q("m_sample_temperature",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, d)
        val counts = docs.groupBy("source").agg(count(lit(1)).as("n"))
          .withColumn("w", round(sqrt(col("n")), 6))
        val denom = counts.agg(sum(col("w").cast("decimal(18,6)")).as("z"))
        val quotas = counts.join(broadcast(denom))
          .withColumn("quota",
            round(lit(200) * col("w") / col("z").cast("double"), 0)
              .cast("int"))
          .select("source", "n", "quota")
        val w = Window.partitionBy(col("source"))
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        docs.select(col("doc_id"), col("source"))
          .withColumn("rk", row_number().over(w))
          .join(broadcast(quotas), Seq("source"))
          .filter(col("rk") <= col("quota"))
          .select(col("source"), col("doc_id"), col("n"), col("quota"))
          .orderBy("source", "doc_id")
      },
      Some(
        """WITH c AS (
          |  SELECT source, count(*) AS n FROM documents GROUP BY source
          |), wt AS (
          |  SELECT source, n, round(sqrt(n), 6) AS w FROM c
          |), z AS (
          |  SELECT sum(CAST(w AS DECIMAL(18,6))) AS z FROM wt
          |), q AS (
          |  SELECT source, n,
          |    CAST(round(200 * w / CAST(z AS DOUBLE), 0) AS INT) AS quota
          |  FROM wt CROSS JOIN z
          |), r AS (
          |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
          |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
          |  FROM documents
          |)
          |SELECT source, doc_id, n, quota
          |FROM r JOIN q USING (source) WHERE rk <= quota
          |ORDER BY source, doc_id""".stripMargin)),

    // ----- exact waterfilling of a global token budget across sources —
    // the PLANNING step of corpus mixing (m_sample_mix executes given
    // quotas; this COMPUTES them): find waterline W with
    // Σ min(c_s, W) <= B < Σ min(c_s, W+1), so small sources contribute
    // everything and large sources cap at W (max-min fair allocation).
    // All integer: candidate waterlines come from the sorted prefix
    // identity L_k = (B - P_k) div (n - k), and the winner is picked by
    // VERIFYING the defining inequality directly (unique by
    // monotonicity of Σ min(c, L) in L — the flat-region duplicates
    // fail the strict right side). Negative division candidates differ
    // between engines (trunc vs floor) but fail verification on both,
    // so they never surface. Scale shape: token counts are the
    // distributed t_tokens aggregate; everything after is windows and
    // joins over N_SOURCES rows (20 — bounded by source cardinality,
    // the t_vocab rule), with the verified waterline broadcast back as
    // a 1-row capsule.
    Q("m_mix_waterfill",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // strata = (source, lang): ~100 cells of genuinely varied
        // size, so BOTH branches are live (small cells fully included,
        // large cells capped) — per-source alone is balanced on this
        // fixture and everything would cap
        val cs = Tables.documents(s, d)
          .select(col("source"), col("lang"),
            size(split(col("text"), " ")).cast("long").as("tk"))
          .groupBy("source", "lang").agg(sum(col("tk")).as("c"))
        val tot = cs.agg(sum(col("c")).as("total"),
          count(lit(1)).as("n"))
        val wi = Window.orderBy(col("c"), col("source"), col("lang"))
        val wp = wi.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)
        val cand = cs.crossJoin(broadcast(tot))
          .withColumn("b", expr("(total * 3) div 10"))
          .withColumn("i", row_number().over(wi).cast("long"))
          .withColumn("p", sum(col("c")).over(wp))
          .select(expr("(b - (p - c)) div (n - i + 1)").as("l"), col("b"))
          .distinct()
        val wl = cand.crossJoin(broadcast(cs.select(col("c").as("cc"))))
          .groupBy("l", "b")
          .agg(sum(least(col("cc"), col("l"))).as("s0"),
            sum(least(col("cc"), col("l") + 1)).as("s1"))
          .filter(col("s0") <= col("b") && col("s1") > col("b"))
          .select(col("l").as("waterline"), col("b").as("budget"))
        cs.crossJoin(broadcast(wl))
          .select(col("source"), col("lang"), col("c").as("tokens"),
            least(col("c"), col("waterline")).as("quota"),
            (col("c") > col("waterline")).as("capped"),
            col("waterline"), col("budget"))
          .orderBy("source", "lang")
      },
      Some(
        """WITH cs AS (
          |  SELECT source, lang,
          |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS c
          |  FROM documents GROUP BY source, lang
          |), tot AS (
          |  SELECT CAST(sum(c) AS BIGINT) AS total,
          |    CAST(count(*) AS BIGINT) AS n
          |  FROM cs
          |), pre AS (
          |  SELECT c, source, lang, (total * 3) // 10 AS b, n,
          |    CAST(row_number() OVER (ORDER BY c, source, lang)
          |      AS BIGINT) AS i,
          |    CAST(sum(c) OVER (ORDER BY c, source, lang
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |      AS BIGINT) AS p
          |  FROM cs CROSS JOIN tot
          |), cand AS (
          |  SELECT DISTINCT (b - (p - c)) // (n - i + 1) AS l, b FROM pre
          |), ver AS (
          |  SELECT l, b,
          |    CAST(sum(least(cs.c, l)) AS BIGINT) AS s0,
          |    CAST(sum(least(cs.c, l + 1)) AS BIGINT) AS s1
          |  FROM cand CROSS JOIN cs GROUP BY l, b
          |), wl AS (
          |  SELECT l AS waterline, b AS budget FROM ver
          |  WHERE s0 <= b AND s1 > b
          |)
          |SELECT source, lang, c AS tokens, least(c, waterline) AS quota,
          |  c > waterline AS capped, waterline, budget
          |FROM cs CROSS JOIN wl ORDER BY source, lang""".stripMargin)),

    // ----- deterministic stratified sampling for training-data mixing:
    // each source tier keeps a quota (src0-4: 100%, src5-9: 50%,
    // src10-19: 20%) and the keep/drop draw is a pure function of doc_id
    // (first 4 hex digits of md5 -> uniform 0..99), so the sample is
    // reproducible run-to-run, engine-to-engine, and under repartition —
    // the property `df.sample()` does NOT give you across re-executions.
    // At 100 TB this is a map-only operator: no shuffle at all until the
    // caller aggregates. Production would widen the draw to 64 bits.
    Q("m_sample_mix",
      (s, d) => {
        val idx = regexp_extract(col("source"), "([0-9]+)", 1).cast("int")
        val pct = when(idx < 5, 100).when(idx < 10, 50).otherwise(20)
        val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 4),
          16, 10).cast("int") % 100)
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"), pct.as("pct"), u.as("u"))
          .filter(col("u") < col("pct"))
          .orderBy("doc_id")
      },
      Some(
        """WITH t AS (
          |  SELECT doc_id, source,
          |    CASE WHEN CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) < 5
          |           THEN 100
          |         WHEN CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) < 10
          |           THEN 50
          |         ELSE 20 END AS pct,
          |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT)
          |      % 100 AS u
          |  FROM documents)
          |SELECT doc_id, source, pct, u FROM t WHERE u < pct
          |ORDER BY doc_id""".stripMargin)),

    // ----- token-budget sequence packing: assign docs (in deterministic
    // doc_id order within source) to training bins of <= 4096 tokens via
    // a running token count — the greedy packing step that turns a
    // document corpus into fixed-budget pretraining batches. One window
    // (partitioned by source — parallel across sources) + one groupBy;
    // no driver loop. Bin boundary = floor(tokens-before-this-doc /
    // 4096), so a doc straddling a boundary starts in the earlier bin,
    // matching the running-sum definition on both engines.
    Q("m_pack_sequences",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).as("n_tokens"))
          .withColumn("cum", sum(col("n_tokens")).over(w))
          .withColumn("bin",
            floor((col("cum") - col("n_tokens")) / 4096).cast("int"))
          .groupBy("source", "bin")
          .agg(count(lit(1)).cast("int").as("n_docs"),
            sum(col("n_tokens")).cast("bigint").as("bin_tokens"))
          .orderBy("source", "bin")
      },
      Some(
        """WITH t AS (
          |  SELECT doc_id, source,
          |    CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
          |  FROM documents
          |), c AS (
          |  SELECT source, n_tokens,
          |    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          |  FROM t)
          |SELECT source,
          |  CAST(floor((cum - n_tokens) / 4096) AS INT) AS bin,
          |  CAST(count(*) AS INT) AS n_docs,
          |  CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
          |FROM c GROUP BY source, bin ORDER BY source, bin""".stripMargin)),

    // ----- CDC upsert / MERGE INTO semantics (SCD-1): apply a change set
    // (updates + inserts) to a base table in one pass. The change feed is
    // derived deterministically from the base so both engines see the
    // same input: every orderkey % 10 == 0 gets a 10% price bump
    // (update); every orderkey % 100 == 7 spawns a new key +10,000,000
    // (insert). The merge itself is ONE full-outer join on the key — the
    // canonical distributed MERGE plan: both sides shuffle/co-partition
    // on o_orderkey (no broadcast assumption — the change set may be as
    // large as the base; AQE downgrades to broadcast when it is small),
    // and each output row resolves via coalesce + a 3-arm action column,
    // the audit trail a CDC pipeline writes alongside the new state.
    // Synthetic insert keys are offset by max(o_orderkey)+1, computed
    // from the data, so they sit above the base key space at ANY sf; a
    // real feed carries its own keys and needs no offset.
    Q("m_upsert",
      (s, d) => {
        val base = Tables.orders(s, d)
          .select("o_orderkey", "o_totalprice", "o_orderstatus")
        // price arithmetic in DECIMAL end-to-end: double*1.1 lands on
        // .xx5 ties whose HALF_UP direction depends on the engine's
        // double→decimal reading (Spark shortest-repr vs DuckDB binary);
        // decimal×decimal is exact, so round(…, 2) agrees everywhere.
        // Spark and DuckDB both parse the bare 1.1 / 0.5 literals below
        // as DECIMAL(2,1).
        val updates = base.filter(col("o_orderkey") % 10 === 0)
          .select(col("o_orderkey"),
            expr("CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 1.1, 2) AS DOUBLE)")
              .as("c_totalprice"),
            lit("U").as("c_status"))
        // Insert keys offset by max(o_orderkey)+1, DERIVED from the data
        // (1-row aggregate, broadcast) — collision-free at any sf, where
        // a fixed +10M literal silently collided once max key > 10M
        // (TPC-H sf >= ~1.7) and fanned out the full-outer merge.
        val off = broadcast(base.agg(
          (max(col("o_orderkey")) + 1L).as("ins_off")))
        val inserts = base.filter(col("o_orderkey") % 100 === 7)
          .crossJoin(off)
          .select((col("o_orderkey") + col("ins_off")).as("o_orderkey"),
            expr("CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 0.5, 2) AS DOUBLE)")
              .as("c_totalprice"),
            lit("N").as("c_status"))
        base.join(updates.unionByName(inserts), Seq("o_orderkey"),
            "full_outer")
          .select(col("o_orderkey"),
            coalesce(col("c_totalprice"), col("o_totalprice"))
              .as("totalprice"),
            coalesce(col("c_status"), col("o_orderstatus")).as("status"),
            when(col("o_totalprice").isNull, "insert")
              .when(col("c_totalprice").isNull, "keep")
              .otherwise("update").as("action"))
          .orderBy("o_orderkey")
      },
      Some(
        """WITH base AS (
          |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
          |), changes AS (
          |  SELECT o_orderkey,
          |         CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 1.1, 2)
          |              AS DOUBLE) AS c_totalprice,
          |         'U' AS c_status
          |  FROM base WHERE o_orderkey % 10 = 0
          |  UNION ALL
          |  SELECT o_orderkey + (SELECT max(o_orderkey) + 1 FROM base),
          |         CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 0.5, 2)
          |              AS DOUBLE), 'N'
          |  FROM base WHERE o_orderkey % 100 = 7
          |)
          |SELECT coalesce(b.o_orderkey, c.o_orderkey) AS o_orderkey,
          |  coalesce(c_totalprice, o_totalprice) AS totalprice,
          |  coalesce(c_status, o_orderstatus) AS status,
          |  CASE WHEN o_totalprice IS NULL THEN 'insert'
          |       WHEN c_totalprice IS NULL THEN 'keep'
          |       ELSE 'update' END AS action
          |FROM base b FULL JOIN changes c ON b.o_orderkey = c.o_orderkey
          |ORDER BY 1""".stripMargin)),

    // ----- skew-mitigated SALTED JOIN (the join-side twin of
    // m_salted_topk): when one join key is hot, a plain shuffle join
    // sends every row of that key to ONE reducer; salting splits each
    // key across R reducers by joining on (key, salt) — the fact side
    // derives salt from its own row (deterministic `% R`, not a random
    // or engine-specific hash), the dim side replicates each row R ways.
    // Costs R× the SMALL side only; the hot key's rows spread over R
    // tasks. AQE's skew-join handles moderate skew automatically —
    // explicit salting is the tool when a single key exceeds what any
    // one task can hold. Must hash-match the plain-join oracle exactly.
    Q("m_salted_join",
      (s, d) => {
        val R = 8
        val fact = Tables.lineitem(s, d)
          .withColumn("salt", (col("l_orderkey") % R).cast("int"))
        val dim = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderstatus"))
          .withColumn("salt",
            explode(sequence(lit(0), lit(R - 1))))
        fact.join(dim,
            fact("l_orderkey") === dim("o_orderkey") &&
              fact("salt") === dim("salt"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            sum(col("l_extendedprice").cast("decimal(18,2)"))
              .cast("double").as("sum_price"))
          .orderBy("o_orderstatus")
      },
      Some(
        """SELECT o_orderstatus, count(*) AS n,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS sum_price
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // ----- fixed-width HISTOGRAM over a numeric column — the profiling
    // primitive behind any "distribution of X" dashboard. Global min/max
    // arrive as a broadcast 1-row aggregate (never a driver collect);
    // bucketing is pure floor arithmetic on identically-associated
    // doubles (engine-identical bits — no round() ties), clamped so the
    // max value lands in the last bucket; then one hash aggregation.
    // Two passes over the data, each map-side partial — the canonical
    // distributed histogram at any scale.
    Q("m_histogram",
      (s, d) => {
        val nb = 20
        val stats = Tables.orders(s, d)
          .agg(min(col("o_totalprice")).as("lo"),
            max(col("o_totalprice")).as("hi"))
        Tables.orders(s, d)
          .join(broadcast(stats))
          .withColumn("bucket",
            least(floor((col("o_totalprice") - col("lo")) /
              ((col("hi") - col("lo")) / nb.toDouble)), lit((nb - 1).toDouble))
              .cast("int"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double").as("sum_price"))
          .orderBy("bucket")
      },
      Some(
        """WITH s AS (
          |  SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi
          |  FROM orders)
          |SELECT
          |  CAST(least(floor((o_totalprice - lo) / ((hi - lo) / 20.0)),
          |             19.0) AS INT) AS bucket,
          |  count(*) AS n,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS sum_price
          |FROM orders CROSS JOIN s
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- Shannon entropy of each user's event-type distribution — the
    // behavioral-diversity signal (bot/anomaly screening: near-zero
    // entropy = single-action automation; log(5) ≈ 1.609 = uniform over
    // the 5 types). Two keyed hash aggregations + one equi-join, all
    // partial-aggregated — nothing global, nothing driver-side. The
    // per-user term count is bounded by the type cardinality (5), so the
    // round-4 float sum is a handful of terms on both engines.
    Q("m_entropy",
      (s, d) => {
        val tc = Tables.events(s, d)
          .groupBy("user_id", "event_type")
          .agg(count(lit(1)).as("c"))
        val tot = tc.groupBy("user_id").agg(sum(col("c")).as("n"))
        tc.join(tot, Seq("user_id"))
          .withColumn("p", col("c") * 1.0 / col("n"))
          .groupBy("user_id", "n")
          .agg(count(lit(1)).cast("int").as("n_types"),
            round(-sum(col("p") * log(col("p"))), 4).as("entropy"))
          .select("user_id", "n_types", "n", "entropy")
          .orderBy("user_id")
      },
      Some(
        """WITH tc AS (
          |  SELECT user_id, event_type, count(*) AS c
          |  FROM events GROUP BY 1, 2
          |), tot AS (
          |  SELECT user_id, CAST(sum(c) AS BIGINT) AS n
          |  FROM tc GROUP BY 1)
          |SELECT user_id, CAST(count(*) AS INT) AS n_types, n,
          |  round(-sum((c * 1.0 / n) * ln(c * 1.0 / n)), 4) AS entropy
          |FROM tc JOIN tot USING (user_id)
          |GROUP BY user_id, n ORDER BY user_id""".stripMargin)),

    // ----- ordered conversion FUNNEL (view → click → purchase, each
    // stage within 24h of the previous): a stage's timestamp is the
    // user's FIRST qualifying event strictly AFTER the previous stage
    // and inside the attribution window (sequence + window are what
    // separate a funnel from three independent mins — and the window is
    // what makes `reached` discriminative: unbounded, every active user
    // eventually "converts"). Three conditional min-aggs chained by
    // equi-joins, every one keyed on user_id — co-partitioned
    // end-to-end, so the whole funnel is a per-user-key pipeline at any
    // scale. Stage times are integral micros; `reached` derives from
    // NULL-ness, so nothing floats.
    Q("m_funnel",
      (s, d) => {
        val dayUs = 86400000000L
        val e = Tables.events(s, d)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
        val v = e.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("us")).as("t_view"))
        val c = e.filter(col("event_type") === "click")
          .join(v, Seq("user_id"))
          .filter(col("us") > col("t_view") &&
            col("us") <= col("t_view") + dayUs)
          .groupBy("user_id").agg(min(col("us")).as("t_click"))
        val p = e.filter(col("event_type") === "purchase")
          .join(c, Seq("user_id"))
          .filter(col("us") > col("t_click") &&
            col("us") <= col("t_click") + dayUs)
          .groupBy("user_id").agg(min(col("us")).as("t_purchase"))
        e.select("user_id").distinct()
          .join(v, Seq("user_id"), "left")
          .join(c, Seq("user_id"), "left")
          .join(p, Seq("user_id"), "left")
          .select(col("user_id"),
            when(col("t_purchase").isNotNull, "purchase")
              .when(col("t_click").isNotNull, "click")
              .when(col("t_view").isNotNull, "view")
              .otherwise("none").as("reached"),
            col("t_view"), col("t_click"), col("t_purchase"))
          .orderBy("user_id")
      },
      Some(
        """WITH e AS (
          |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
          |), v AS (
          |  SELECT user_id, min(us) AS t_view FROM e
          |  WHERE event_type = 'view' GROUP BY user_id
          |), c AS (
          |  SELECT e.user_id, min(us) AS t_click
          |  FROM e JOIN v USING (user_id)
          |  WHERE event_type = 'click' AND us > t_view
          |    AND us <= t_view + 86400000000
          |  GROUP BY e.user_id
          |), p AS (
          |  SELECT e.user_id, min(us) AS t_purchase
          |  FROM e JOIN c USING (user_id)
          |  WHERE event_type = 'purchase' AND us > t_click
          |    AND us <= t_click + 86400000000
          |  GROUP BY e.user_id
          |)
          |SELECT u.user_id,
          |  CASE WHEN t_purchase IS NOT NULL THEN 'purchase'
          |       WHEN t_click IS NOT NULL THEN 'click'
          |       WHEN t_view IS NOT NULL THEN 'view'
          |       ELSE 'none' END AS reached,
          |  t_view, t_click, t_purchase
          |FROM (SELECT DISTINCT user_id FROM e) u
          |LEFT JOIN v USING (user_id)
          |LEFT JOIN c USING (user_id)
          |LEFT JOIN p USING (user_id)
          |ORDER BY user_id""".stripMargin)),

    // ----- clickstream path mining: the top event-type TRIGRAMS over
    // each user's time-ordered stream — where m_funnel checks ONE
    // prescribed sequence, this DISCOVERS which sequences dominate
    // (the product-analytics "path analysis" view). Two lead()s per
    // user build the trigrams in place — no self-joins, no per-user
    // collect; the window orders on integral (us, event_id) so
    // same-timestamp events break ties identically on both engines.
    // Scale shape: per-user window partitions (user-bounded, never
    // global), a map-side-combined trigram count, and a TakeOrdered
    // top-15 with a full lexicographic tie-break.
    Q("m_event_paths",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id")
          .orderBy(col("us"), col("event_id"))
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
            col("event_type").as("s1"), unix_micros(col("ts")).as("us"))
          .withColumn("s2", lead(col("s1"), 1).over(w))
          .withColumn("s3", lead(col("s1"), 2).over(w))
          .filter(col("s3").isNotNull)
          .groupBy("s1", "s2", "s3")
          .agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), col("s1"), col("s2"), col("s3"))
          .limit(15)
      },
      Some(
        """WITH o AS (
          |  SELECT user_id, event_type AS s1,
          |    lead(event_type, 1) OVER w AS s2,
          |    lead(event_type, 2) OVER w AS s3
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id
          |               ORDER BY epoch_us(ts), event_id)
          |)
          |SELECT s1, s2, s3, count(*) AS n
          |FROM o WHERE s3 IS NOT NULL
          |GROUP BY s1, s2, s3
          |ORDER BY n DESC, s1, s2, s3 LIMIT 15""".stripMargin)),

    // ----- A/B experiment readout with an integer-cleared two-
    // proportion z-test: users hash-split into arms (the m_split md5
    // convention — reproducible under any partitioning, balanced in
    // expectation), conversion = ">= 1 event of this type with
    // value > 200" (14-25% base rates on the fixture — discriminative,
    // unlike has-any-event which saturates at 100%). The 5%-level
    // significance decision |z| > 1.96 is evaluated ENTIRELY in
    // integers: with D = c_a*n_b - c_b*n_a, T = n_a+n_b, C = c_a+c_b,
    // N = n_a*n_b, the pooled z² > 1.96² rearranges to
    // 625*D²*T > 2401*C*(T-C)*N (1.96² = 2401/625 exactly) — a
    // boolean that can never flip on a float tie, the w_anomaly
    // discipline applied to inference. Bounds: every product < 3e17
    // at sf0.1 (BIGINT-safe; beyond ~1e5 users per arm the same test
    // runs in DECIMAL). diff_bp is floor-scaled basis points —
    // identical IEEE division inputs floor identically on both
    // engines. Scale shape: two distinct-aggregates and a broadcast
    // 1-row arm-size capsule; nothing quadratic, nothing driver-side.
    Q("m_ab_test",
      (s, d) => {
        val e = Tables.events(s, d)
        val users = e.select(col("user_id")).distinct()
          .withColumn("arm",
            when(substring(md5(concat(lit("ab_"),
              col("user_id").cast("string"))), 1, 1) < "8", "A")
              .otherwise("B"))
        val conv = e.filter(col("value") > 200.0)
          .select(col("user_id"), col("event_type")).distinct()
          .join(users, Seq("user_id"))
        val ns = users.agg(
          sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n_a"),
          sum(when(col("arm") === "B", 1L).otherwise(0L)).as("n_b"))
        conv.groupBy("event_type")
          .agg(
            sum(when(col("arm") === "A", 1L).otherwise(0L)).as("c_a"),
            sum(when(col("arm") === "B", 1L).otherwise(0L)).as("c_b"))
          .crossJoin(broadcast(ns))
          .withColumn("dd",
            col("c_a") * col("n_b") - col("c_b") * col("n_a"))
          .withColumn("t", col("n_a") + col("n_b"))
          .withColumn("cc", col("c_a") + col("c_b"))
          .withColumn("nn", col("n_a") * col("n_b"))
          .select(col("event_type"), col("n_a"), col("c_a"),
            col("n_b"), col("c_b"),
            floor(col("dd") * 10000.0 / col("nn")).cast("long")
              .as("diff_bp"),
            (lit(625L) * col("dd") * col("dd") * col("t") >
              lit(2401L) * col("cc") * (col("t") - col("cc")) * col("nn"))
              .as("significant"))
          .orderBy("event_type")
      },
      Some(
        """WITH u AS (
          |  SELECT DISTINCT user_id FROM events
          |), arms AS (
          |  SELECT user_id,
          |    CASE WHEN substr(md5(concat('ab_',
          |      CAST(user_id AS VARCHAR))), 1, 1) < '8'
          |      THEN 'A' ELSE 'B' END AS arm
          |  FROM u
          |), conv AS (
          |  SELECT DISTINCT e.user_id, e.event_type, a.arm
          |  FROM events e JOIN arms a USING (user_id)
          |  WHERE e.value > 200.0
          |), ns AS (
          |  SELECT
          |    CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n_a,
          |    CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n_b
          |  FROM arms
          |), cs AS (
          |  SELECT event_type,
          |    CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
          |      AS c_a,
          |    CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT)
          |      AS c_b
          |  FROM conv GROUP BY event_type
          |), w AS (
          |  SELECT event_type, n_a, c_a, n_b, c_b,
          |    c_a * n_b - c_b * n_a AS dd,
          |    n_a + n_b AS t, c_a + c_b AS cc, n_a * n_b AS nn
          |  FROM cs CROSS JOIN ns
          |)
          |SELECT event_type, n_a, c_a, n_b, c_b,
          |  CAST(floor(dd * 10000.0 / nn) AS BIGINT) AS diff_bp,
          |  625 * dd * dd * t > 2401 * cc * (t - cc) * nn AS significant
          |FROM w ORDER BY event_type""".stripMargin)),

    // ----- UNPIVOT (stack) data-profiling report: one aggregation pass
    // computes per-column min/max/distinct, then `stack` rotates the
    // single wide row into the (column, stats) long form a profiler
    // publishes — the inverse of m_pivot, covering the generator the
    // pivot family still lacked. Formatting discipline: doubles go
    // through DECIMAL(18,2) before the string cast (double→VARCHAR
    // shortest-repr formatting is engine-specific; decimal rendering is
    // not), dates/longs cast directly. One pass, one 1-row shuffle,
    // map-side stack — trivially parallel.
    Q("m_unpivot_profile",
      (s, d) => {
        val o = Tables.orders(s, d)
        val a = o.agg(
          count(lit(1)).as("n"),
          min(col("o_totalprice").cast("decimal(18,2)")).cast("string")
            .as("min_tp"),
          max(col("o_totalprice").cast("decimal(18,2)")).cast("string")
            .as("max_tp"),
          countDistinct(col("o_totalprice")).as("nd_tp"),
          min(col("o_orderkey")).cast("string").as("min_ok"),
          max(col("o_orderkey")).cast("string").as("max_ok"),
          countDistinct(col("o_orderkey")).as("nd_ok"),
          min(col("o_orderdate")).cast("string").as("min_od"),
          max(col("o_orderdate")).cast("string").as("max_od"),
          countDistinct(col("o_orderdate")).as("nd_od"))
        a.select(col("n"), expr(
            """stack(3,
              |  'o_orderdate',  min_od, max_od, nd_od,
              |  'o_orderkey',   min_ok, max_ok, nd_ok,
              |  'o_totalprice', min_tp, max_tp, nd_tp)
              |AS (col_name, min_val, max_val, n_distinct)""".stripMargin))
          .select("col_name", "n", "min_val", "max_val", "n_distinct")
          .orderBy("col_name")
      },
      Some(
        """WITH a AS (
          |  SELECT count(*) AS n,
          |    CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR)
          |      AS min_tp,
          |    CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR)
          |      AS max_tp,
          |    count(DISTINCT o_totalprice) AS nd_tp,
          |    CAST(min(o_orderkey) AS VARCHAR) AS min_ok,
          |    CAST(max(o_orderkey) AS VARCHAR) AS max_ok,
          |    count(DISTINCT o_orderkey) AS nd_ok,
          |    CAST(min(o_orderdate) AS VARCHAR) AS min_od,
          |    CAST(max(o_orderdate) AS VARCHAR) AS max_od,
          |    count(DISTINCT o_orderdate) AS nd_od
          |  FROM orders)
          |SELECT 'o_orderdate' AS col_name, n, min_od AS min_val,
          |       max_od AS max_val, nd_od AS n_distinct FROM a
          |UNION ALL
          |SELECT 'o_orderkey', n, min_ok, max_ok, nd_ok FROM a
          |UNION ALL
          |SELECT 'o_totalprice', n, min_tp, max_tp, nd_tp FROM a
          |ORDER BY col_name""".stripMargin)),

    // ----- the spark.sql STRING entrypoint: TPC-H Q3 (shipping
    // priority) phrased as ANSI SQL over temp views registered from the
    // Tables layer — proving a user can drive this engine with SQL text
    // alone and still get the cached/re-spread base relations underneath
    // (the views wrap the same DataFrames every other query uses).
    // Revenue is decimal end-to-end: extendedprice and discount are
    // exact 2dp quantities, so DECIMAL×DECIMAL then a decimal sum is
    // engine-exact where a double product would read differently at the
    // cast boundary. Dates are compared/emitted as strings (fixture
    // dates are parquet timestamps; formatting is pinned).
    Q("m_sql_q3",
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("customer")
        Tables.orders(s, d).createOrReplaceTempView("orders")
        Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
        s.sql(
          """SELECT l_orderkey,
            |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
            |           (1.00 - CAST(l_discount AS DECIMAL(4,2))))
            |       AS DOUBLE) AS revenue,
            |  date_format(o_orderdate, 'yyyy-MM-dd') AS orderdate,
            |  o_orderpriority
            |FROM customer
            |JOIN orders ON c_custkey = o_custkey
            |JOIN lineitem ON l_orderkey = o_orderkey
            |WHERE c_mktsegment = 'BUILDING'
            |  AND o_orderdate < TIMESTAMP '1997-06-30 00:00:00'
            |  AND l_shipdate > TIMESTAMP '1997-06-30 00:00:00'
            |GROUP BY l_orderkey, o_orderdate, o_orderpriority
            |ORDER BY revenue DESC, l_orderkey
            |LIMIT 10""".stripMargin)
      },
      Some(
        """SELECT l_orderkey,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
          |           (1.00 - CAST(l_discount AS DECIMAL(4,2))))
          |       AS DOUBLE) AS revenue,
          |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
          |  o_orderpriority
          |FROM customer
          |JOIN orders ON c_custkey = o_custkey
          |JOIN lineitem ON l_orderkey = o_orderkey
          |WHERE c_mktsegment = 'BUILDING'
          |  AND o_orderdate < TIMESTAMP '1997-06-30 00:00:00'
          |  AND l_shipdate > TIMESTAMP '1997-06-30 00:00:00'
          |GROUP BY l_orderkey, o_orderdate, o_orderpriority
          |ORDER BY revenue DESC, l_orderkey
          |LIMIT 10""".stripMargin)),

    // ----- time-series RESAMPLING with gap fill: each user's events
    // rolled up to a dense daily grid — days with no activity appear as
    // explicit zero rows, which is what every downstream
    // moving-average/feature join assumes and what a bare groupBy can
    // never produce. The scaffold is GENERATED per user from its own
    // [min_day, max_day] span (sequence + explode — a Generate, not a
    // cartesian with a calendar table: each user only expands to its
    // own span), then left-joined with the per-day aggregate on the
    // co-partitioned (user_id, day) key. Capped to the first 20 users
    // to keep the checked output bounded; sums decimal-exact.
    Q("m_resample_daily",
      (s, d) => {
        val e = Tables.events(s, d)
          .filter(col("user_id") < 20)
          .withColumn("day",
            expr("(unix_micros(ts) div 1000000) div 86400"))
        val daily = e.groupBy("user_id", "day")
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,4)")).cast("double")
              .as("sum_value"))
        val scaffold = e.groupBy("user_id")
          .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
          .select(col("user_id"),
            explode(sequence(col("d0"), col("d1"))).as("day"))
        scaffold.join(daily, Seq("user_id", "day"), "left")
          .select(col("user_id"), col("day"),
            coalesce(col("n"), lit(0L)).as("n"),
            round(coalesce(col("sum_value"), lit(0.0)), 4).as("sum_value"))
          .orderBy("user_id", "day")
      },
      Some(
        """WITH e AS (
          |  SELECT user_id,
          |    CAST(epoch_us(ts) // 1000000 // 86400 AS BIGINT) AS day,
          |    value
          |  FROM events WHERE user_id < 20
          |), daily AS (
          |  SELECT user_id, day, count(*) AS n,
          |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
          |      AS sum_value
          |  FROM e GROUP BY user_id, day
          |), span AS (
          |  SELECT user_id, min(day) AS d0, max(day) AS d1
          |  FROM e GROUP BY user_id
          |), scaffold AS (
          |  SELECT user_id, CAST(unnest(range(d0, d1 + 1)) AS BIGINT)
          |    AS day
          |  FROM span)
          |SELECT s.user_id, s.day,
          |  coalesce(n, 0) AS n,
          |  round(coalesce(sum_value, 0.0), 4) AS sum_value
          |FROM scaffold s LEFT JOIN daily USING (user_id, day)
          |ORDER BY user_id, day""".stripMargin)),

    // ----- TPC-H Q1 (pricing summary) through the spark.sql string
    // entrypoint — the canonical scan-heavy aggregation: one pass over
    // the fact table, a 6-group hash aggregate, filter pushed to the
    // scan. All price arithmetic is DECIMAL end-to-end (2dp fixture
    // quantities are exact there; a double sum reads differently per
    // accumulation order), and the avg columns are deliberately
    // omitted — engine decimal-division scales differ. The exact
    // decimal sums are rendered round(..., 2) AFTER the double cast:
    // once a sum's scaled value passes 2^53 (sum_charge does at sf1,
    // ~3e10 at scale 6) the decimal->double cast itself rounds, and
    // the two engines' cast implementations differ by one ulp —
    // round-2 puts both on a shared exactly-representable grid (money
    // semantics anyway). At 100 TB this is a map-side-combine
    // aggregate over 6 keys: no skew, no shuffle pressure, bounded by
    // scan throughput.
    Q("m_sql_q1",
      (s, d) => {
        Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
        s.sql(
          """SELECT l_returnflag, l_linestatus,
            |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
            |             AS DOUBLE), 2) AS sum_qty,
            |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
            |             AS DOUBLE), 2) AS sum_base_price,
            |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
            |           (1.00 - CAST(l_discount AS DECIMAL(4,2))))
            |       AS DOUBLE), 2) AS sum_disc_price,
            |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
            |           (1.00 - CAST(l_discount AS DECIMAL(4,2))) *
            |           (1.00 + CAST(l_tax AS DECIMAL(4,2))))
            |       AS DOUBLE), 2) AS sum_charge,
            |  count(*) AS count_order
            |FROM lineitem
            |WHERE l_shipdate <= TIMESTAMP '1998-12-01 00:00:00'
            |GROUP BY l_returnflag, l_linestatus
            |ORDER BY l_returnflag, l_linestatus""".stripMargin)
      },
      Some(
        """SELECT l_returnflag, l_linestatus,
          |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
          |             AS DOUBLE), 2) AS sum_qty,
          |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
          |             AS DOUBLE), 2) AS sum_base_price,
          |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
          |           (1.00 - CAST(l_discount AS DECIMAL(4,2))))
          |       AS DOUBLE), 2) AS sum_disc_price,
          |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
          |           (1.00 - CAST(l_discount AS DECIMAL(4,2))) *
          |           (1.00 + CAST(l_tax AS DECIMAL(4,2))))
          |       AS DOUBLE), 2) AS sum_charge,
          |  count(*) AS count_order
          |FROM lineitem
          |WHERE l_shipdate <= TIMESTAMP '1998-12-01 00:00:00'
          |GROUP BY l_returnflag, l_linestatus
          |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ----- TPC-H Q5 (local supplier volume): the canonical snowflake
    // join — fact table against four dims plus the c_nationkey =
    // s_nationkey locality constraint. region/nation/supplier are tiny
    // at every scale (BROADCAST-hinted; customer joins on the shuffled
    // o_custkey side, and AQE downgrades it to broadcast when stats
    // allow). The only big-big shuffle is lineitem⋈orders on orderkey —
    // the same co-partitioning every TPC-H engine keys on. Revenue is
    // exact DECIMAL, summed per nation.
    Q("m_sql_q5",
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("customer")
        Tables.orders(s, d).createOrReplaceTempView("orders")
        Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
        Tables.supplier(s, d).createOrReplaceTempView("supplier")
        Tables.nation(s, d).createOrReplaceTempView("nation")
        Tables.region(s, d).createOrReplaceTempView("region")
        s.sql(
          """SELECT /*+ BROADCAST(supplier), BROADCAST(nation),
            |       BROADCAST(region) */
            |  n_name,
            |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
            |           (1.00 - CAST(l_discount AS DECIMAL(4,2))))
            |       AS DOUBLE) AS revenue
            |FROM customer
            |JOIN orders ON c_custkey = o_custkey
            |JOIN lineitem ON l_orderkey = o_orderkey
            |JOIN supplier ON l_suppkey = s_suppkey
            |  AND c_nationkey = s_nationkey
            |JOIN nation ON s_nationkey = n_nationkey
            |JOIN region ON n_regionkey = r_regionkey
            |WHERE r_name = 'ASIA'
            |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
            |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
            |GROUP BY n_name
            |ORDER BY revenue DESC, n_name""".stripMargin)
      },
      Some(
        """SELECT n_name,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
          |           (1.00 - CAST(l_discount AS DECIMAL(4,2))))
          |       AS DOUBLE) AS revenue
          |FROM customer
          |JOIN orders ON c_custkey = o_custkey
          |JOIN lineitem ON l_orderkey = o_orderkey
          |JOIN supplier ON l_suppkey = s_suppkey
          |  AND c_nationkey = s_nationkey
          |JOIN nation ON s_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |WHERE r_name = 'ASIA'
          |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
          |GROUP BY n_name
          |ORDER BY revenue DESC, n_name""".stripMargin)),

    // ----- TPC-H Q18 (large-volume customers): the HAVING + IN-
    // subquery surface — the inner aggregate re-reads the fact table to
    // find qualifying orders, Catalyst plans the IN as a left-semi join
    // (never a per-row subquery execution), and the qualifying-key set
    // is tiny (HAVING is selective), so at scale it broadcasts back
    // against the fact scan. Quantity sums in DECIMAL, top-20 output.
    Q("m_sql_q18",
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("customer")
        Tables.orders(s, d).createOrReplaceTempView("orders")
        Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
        s.sql(
          """SELECT c_name, o_orderkey,
            |  unix_micros(CAST(o_orderdate AS TIMESTAMP))
            |    AS orderdate_us,
            |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
            |    AS total_qty
            |FROM customer
            |JOIN orders ON c_custkey = o_custkey
            |JOIN lineitem ON l_orderkey = o_orderkey
            |WHERE o_orderkey IN (
            |  SELECT l_orderkey FROM lineitem
            |  GROUP BY l_orderkey
            |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 180)
            |GROUP BY c_name, o_orderkey, o_orderdate
            |ORDER BY total_qty DESC, o_orderkey LIMIT 20""".stripMargin)
      },
      Some(
        """SELECT c_name, o_orderkey,
          |  CAST(epoch_us(o_orderdate) AS BIGINT) AS orderdate_us,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total_qty
          |FROM customer
          |JOIN orders ON c_custkey = o_custkey
          |JOIN lineitem ON l_orderkey = o_orderkey
          |WHERE o_orderkey IN (
          |  SELECT l_orderkey FROM lineitem
          |  GROUP BY l_orderkey
          |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 180)
          |GROUP BY c_name, o_orderkey, o_orderdate
          |ORDER BY total_qty DESC, o_orderkey LIMIT 20""".stripMargin)),

    // ----- TPC-H Q4 (order priority checking), adapted: the fixture
    // lineitem carries no l_commitdate/l_receiptdate, so "late" is
    // "shipped more than 60 days after the order date" — which keeps
    // the exact planning surface Q4 exists to exercise: a correlated
    // EXISTS (equi-correlation on the key PLUS a non-equi correlated
    // date predicate) that Catalyst must decorrelate into a LEFT SEMI
    // join with a mixed condition, never a per-row subquery. At 100 TB
    // the semi-join shuffles on orderkey once; the date filter on
    // orders prunes before the shuffle.
    Q("m_sql_q4",
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("orders")
        Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
        s.sql(
          """SELECT o_orderpriority, count(*) AS order_count
            |FROM orders
            |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
            |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
            |  AND EXISTS (SELECT 1 FROM lineitem
            |              WHERE l_orderkey = o_orderkey
            |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
            |GROUP BY o_orderpriority
            |ORDER BY o_orderpriority""".stripMargin)
      },
      Some(
        """SELECT o_orderpriority, count(*) AS order_count
          |FROM orders
          |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
          |  AND EXISTS (SELECT 1 FROM lineitem
          |              WHERE l_orderkey = o_orderkey
          |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
          |GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin)),

    // ----- TPC-H Q21 (suppliers who kept orders waiting), adapted: the
    // row-local "late" flag l_receiptdate > l_commitdate becomes
    // EXTRACT(DAY FROM l_shipdate) >= 15 (no commit/receipt columns in
    // the fixture) — row-local like the original, so the plan shape is
    // untouched: one correlated EXISTS (another supplier contributed →
    // LEFT SEMI) and one correlated NOT EXISTS (no OTHER supplier was
    // late → LEFT ANTI) against the same fact table, both decorrelated
    // onto the orderkey shuffle. The classic 4-way self-join query that
    // melts engines which execute subqueries per-row.
    Q("m_sql_q21",
      (s, d) => {
        Tables.supplier(s, d).createOrReplaceTempView("supplier")
        Tables.orders(s, d).createOrReplaceTempView("orders")
        Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
        Tables.nation(s, d).createOrReplaceTempView("nation")
        s.sql(
          """SELECT s_name, count(*) AS numwait
            |FROM supplier
            |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
            |JOIN orders ON o_orderkey = l1.l_orderkey
            |JOIN nation ON s_nationkey = n_nationkey
            |WHERE o_orderstatus = 'F'
            |  AND EXTRACT(DAY FROM l1.l_shipdate) >= 15
            |  AND EXISTS (SELECT 1 FROM lineitem l2
            |              WHERE l2.l_orderkey = l1.l_orderkey
            |                AND l2.l_suppkey <> l1.l_suppkey)
            |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
            |                  WHERE l3.l_orderkey = l1.l_orderkey
            |                    AND l3.l_suppkey <> l1.l_suppkey
            |                    AND EXTRACT(DAY FROM l3.l_shipdate) >= 15)
            |  AND n_name = 'NATION_3'
            |GROUP BY s_name
            |ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin)
      },
      Some(
        """SELECT s_name, count(*) AS numwait
          |FROM supplier
          |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
          |JOIN orders ON o_orderkey = l1.l_orderkey
          |JOIN nation ON s_nationkey = n_nationkey
          |WHERE o_orderstatus = 'F'
          |  AND EXTRACT(DAY FROM l1.l_shipdate) >= 15
          |  AND EXISTS (SELECT 1 FROM lineitem l2
          |              WHERE l2.l_orderkey = l1.l_orderkey
          |                AND l2.l_suppkey <> l1.l_suppkey)
          |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
          |                  WHERE l3.l_orderkey = l1.l_orderkey
          |                    AND l3.l_suppkey <> l1.l_suppkey
          |                    AND EXTRACT(DAY FROM l3.l_shipdate) >= 15)
          |  AND n_name = 'NATION_3'
          |GROUP BY s_name
          |ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin)),

    // ----- TPC-H Q17 (small-quantity-order revenue), adapted to the
    // fixture's part columns (brand+type for container). The planning
    // shape Q4/Q21 don't cover: a correlated SCALAR AGGREGATE subquery
    // (0.2 × avg quantity of the SAME part) that Spark must decorrelate
    // into a per-partkey aggregate joined back on the correlation key —
    // per-row re-execution would scan lineitem once per matched row.
    // Cross-engine exactness: l_quantity is integral-valued, so the
    // per-part double sum (hence avg, hence 0.2×avg with an explicit
    // DOUBLE 0.2) is order-independent and bit-identical on both
    // engines; revenue sums as DECIMAL then divides by 7.0 once.
    Q("m_sql_q17",
      (s, d) => {
        Tables.part(s, d).createOrReplaceTempView("part")
        Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
        s.sql(
          """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
            |    AS DOUBLE) / 7.0 AS avg_yearly
            |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
            |WHERE p_brand = 'Brand#2' AND p_type = 'ECONOMY'
            |  AND l_quantity < (SELECT CAST(0.2 AS DOUBLE) *
            |                           avg(l2.l_quantity)
            |                    FROM lineitem l2
            |                    WHERE l2.l_partkey = p.p_partkey)""".stripMargin)
      },
      Some(
        """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
          |    AS DOUBLE) / 7.0 AS avg_yearly
          |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
          |WHERE p_brand = 'Brand#2' AND p_type = 'ECONOMY'
          |  AND l_quantity < (SELECT CAST(0.2 AS DOUBLE) *
          |                           avg(l2.l_quantity)
          |                    FROM lineitem l2
          |                    WHERE l2.l_partkey = p.p_partkey)""".stripMargin)),

    // ----- TPC-H Q13 (customer order-count distribution), adapted: the
    // o_comment NOT LIKE filter becomes an o_orderpriority predicate
    // (no comment column in the fixture) — still a non-join predicate
    // living in the LEFT OUTER JOIN's ON clause, which an optimizer
    // must NOT push below the outer join (that would turn no-match
    // customers into lost rows instead of count 0). Two stacked
    // aggregations: per-customer counts, then the histogram over those
    // counts. Pure integer arithmetic — no cross-engine float risk.
    Q("m_sql_q13",
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("customer")
        Tables.orders(s, d).createOrReplaceTempView("orders")
        s.sql(
          """SELECT c_count, count(*) AS custdist FROM (
            |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
            |  FROM customer c LEFT OUTER JOIN orders o
            |    ON c.c_custkey = o.o_custkey
            |   AND o.o_orderpriority <> '1-URGENT'
            |  GROUP BY c.c_custkey) co
            |GROUP BY c_count
            |ORDER BY custdist DESC, c_count DESC""".stripMargin)
      },
      Some(
        """SELECT c_count, count(*) AS custdist FROM (
          |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
          |  FROM customer c LEFT OUTER JOIN orders o
          |    ON c.c_custkey = o.o_custkey
          |   AND o.o_orderpriority <> '1-URGENT'
          |  GROUP BY c.c_custkey) co
          |GROUP BY c_count
          |ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    // ----- TPC-H Q7 (volume shipping): the planning twist is the
    // DISJUNCTIVE join-level predicate — (n1=A ∧ n2=B) ∨ (n1=B ∧ n2=A)
    // can't push into either nation join alone; the optimizer must
    // carry it above both joins while still keying every join (the
    // cartesian-free guard holds). Both nation sides are broadcast
    // dims; the 4-way fact chain shuffles on its natural keys. Volume
    // is DECIMAL end-to-end; year extraction pinned to INT on both
    // engines.
    Q("m_sql_q7",
      (s, d) => {
        Tables.supplier(s, d).createOrReplaceTempView("supplier")
        Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
        Tables.orders(s, d).createOrReplaceTempView("orders")
        Tables.customer(s, d).createOrReplaceTempView("customer")
        Tables.nation(s, d).createOrReplaceTempView("nation")
        s.sql(
          """SELECT supp_nation, cust_nation, l_year,
            |  CAST(sum(volume) AS DOUBLE) AS revenue
            |FROM (
            |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
            |    CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS l_year,
            |    CAST(l_extendedprice AS DECIMAL(18,2)) *
            |      (1.00 - CAST(l_discount AS DECIMAL(4,2))) AS volume
            |  FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
            |  JOIN orders ON o_orderkey = l_orderkey
            |  JOIN customer ON c_custkey = o_custkey
            |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
            |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
            |  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00') shipping
            |GROUP BY supp_nation, cust_nation, l_year
            |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)
      },
      Some(
        """SELECT supp_nation, cust_nation, l_year,
          |  CAST(sum(volume) AS DOUBLE) AS revenue
          |FROM (
          |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
          |    CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS l_year,
          |    CAST(l_extendedprice AS DECIMAL(18,2)) *
          |      (1.00 - CAST(l_discount AS DECIMAL(4,2))) AS volume
          |  FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
          |  JOIN orders ON o_orderkey = l_orderkey
          |  JOIN customer ON c_custkey = o_custkey
          |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
          |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
          |  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00') shipping
          |GROUP BY supp_nation, cust_nation, l_year
          |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)),

    // ----- TPC-H Q8 (national market share), adapted: the classic
    // 7-table star — part prunes the fact first (most selective), the
    // region filter reaches the fact only THROUGH the customer→nation
    // dim chain, and the supplier nation is carried out as a CASE
    // branch. Emits numerator and denominator as separate exact decimal
    // sums instead of their ratio — cross-engine decimal division
    // scales differ while the sums are bit-identical (the share is
    // numerator/denominator to any consumer).
    Q("m_sql_q8",
      (s, d) => {
        Tables.part(s, d).createOrReplaceTempView("part")
        Tables.supplier(s, d).createOrReplaceTempView("supplier")
        Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
        Tables.orders(s, d).createOrReplaceTempView("orders")
        Tables.customer(s, d).createOrReplaceTempView("customer")
        Tables.nation(s, d).createOrReplaceTempView("nation")
        Tables.region(s, d).createOrReplaceTempView("region")
        s.sql(
          """SELECT o_year,
            |  CAST(sum(CASE WHEN nation = 'NATION_3' THEN volume
            |               ELSE 0 END) AS DOUBLE) AS nation_volume,
            |  CAST(sum(volume) AS DOUBLE) AS total_volume
            |FROM (
            |  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
            |    CAST(l_extendedprice AS DECIMAL(18,2)) *
            |      (1.00 - CAST(l_discount AS DECIMAL(4,2))) AS volume,
            |    n2.n_name AS nation
            |  FROM part JOIN lineitem ON p_partkey = l_partkey
            |  JOIN supplier ON s_suppkey = l_suppkey
            |  JOIN orders ON l_orderkey = o_orderkey
            |  JOIN customer ON o_custkey = c_custkey
            |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
            |  JOIN region ON n1.n_regionkey = r_regionkey
            |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
            |  WHERE r_name = 'ASIA' AND p_type = 'ECONOMY') all_nations
            |GROUP BY o_year ORDER BY o_year""".stripMargin)
      },
      Some(
        """SELECT o_year,
          |  CAST(sum(CASE WHEN nation = 'NATION_3' THEN volume
          |               ELSE 0 END) AS DOUBLE) AS nation_volume,
          |  CAST(sum(volume) AS DOUBLE) AS total_volume
          |FROM (
          |  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
          |    CAST(l_extendedprice AS DECIMAL(18,2)) *
          |      (1.00 - CAST(l_discount AS DECIMAL(4,2))) AS volume,
          |    n2.n_name AS nation
          |  FROM part JOIN lineitem ON p_partkey = l_partkey
          |  JOIN supplier ON s_suppkey = l_suppkey
          |  JOIN orders ON l_orderkey = o_orderkey
          |  JOIN customer ON o_custkey = c_custkey
          |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
          |  JOIN region ON n1.n_regionkey = r_regionkey
          |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
          |  WHERE r_name = 'ASIA' AND p_type = 'ECONOMY') all_nations
          |GROUP BY o_year ORDER BY o_year""".stripMargin)),

    // ----- NOT IN subquery → null-aware anti join: the third
    // decorrelation family after EXISTS/NOT EXISTS (Q4/Q21, plain
    // semi/anti) and correlated scalar aggregate (Q17). NOT IN is
    // NULL-poisoned three-valued logic — one NULL in the subquery
    // output empties the whole result — so the engine must plan the
    // null-aware variant (StorageSpec pins `isNullAwareAntiJoin` on the
    // broadcast join), not a plain anti join. Exclusion lists (banned
    // users, contaminated sources) are this exact shape in every
    // production pipeline.
    Q("m_sql_notin",
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("orders")
        Tables.customer(s, d).createOrReplaceTempView("customer")
        s.sql(
          """SELECT o_orderpriority, count(*) AS n
            |FROM orders
            |WHERE o_custkey NOT IN (SELECT c_custkey FROM customer
            |                        WHERE c_acctbal < 0)
            |GROUP BY o_orderpriority
            |ORDER BY o_orderpriority""".stripMargin)
      },
      Some(
        """SELECT o_orderpriority, count(*) AS n
          |FROM orders
          |WHERE o_custkey NOT IN (SELECT c_custkey FROM customer
          |                        WHERE c_acctbal < 0)
          |GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin)),

    // ----- TPC-H Q19 (discounted revenue), adapted to the fixture's
    // part columns: a DISJUNCTION OF CONJUNCTIONS spanning both join
    // sides. The planning test is predicate splitting: from
    // (A1∧B1)∨(A2∧B2)∨(A3∧B3) the optimizer must derive the
    // single-side residuals (A1∨A2∨A3 onto part, B1∨B2∨B3 onto
    // lineitem) and push them below the join, leaving the cross-side
    // disjunction as the join filter — otherwise every row of both
    // tables reaches the join. Revenue decimal-exact as everywhere.
    Q("m_sql_q19",
      (s, d) => {
        Tables.part(s, d).createOrReplaceTempView("part")
        Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
        s.sql(
          """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
            |         (1.00 - CAST(l_discount AS DECIMAL(4,2))))
            |       AS DOUBLE) AS revenue,
            |  count(*) AS n
            |FROM lineitem JOIN part ON p_partkey = l_partkey
            |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
            |       AND l_quantity BETWEEN 1 AND 11)
            |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 16 AND 30
            |       AND l_quantity BETWEEN 10 AND 20)
            |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 31 AND 50
            |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin)
      },
      Some(
        """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
          |         (1.00 - CAST(l_discount AS DECIMAL(4,2))))
          |       AS DOUBLE) AS revenue,
          |  count(*) AS n
          |FROM lineitem JOIN part ON p_partkey = l_partkey
          |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
          |       AND l_quantity BETWEEN 1 AND 11)
          |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 16 AND 30
          |       AND l_quantity BETWEEN 10 AND 20)
          |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 31 AND 50
          |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),

    // ----- SCD Type-2 dimension build: each order becomes a VERSIONED
    // row of its customer's purchase history with a [valid_from,
    // valid_to) interval — valid_to = the next version's start via
    // lead(), NULL on the open (current) version. This is the standard
    // warehouse pattern for turning a change feed into point-in-time
    // joinable history; one window shuffle on the natural key, no
    // self-join (the naive formulation joins the feed to itself on
    // "next change after mine" — quadratic per key under skew).
    Q("m_scd2",
      (s, d) => scd2History(s, d)
        .withColumn("is_current", col("valid_to_us").isNull)
        .orderBy("o_custkey", "valid_from_us", "o_orderkey"),
      Some(
        """SELECT o_custkey, o_orderkey, o_totalprice,
          |  epoch_us(o_orderdate) AS valid_from_us,
          |  lead(epoch_us(o_orderdate)) OVER (
          |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
          |    AS valid_to_us,
          |  lead(epoch_us(o_orderdate)) OVER (
          |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
          |    IS NULL AS is_current
          |FROM orders
          |ORDER BY o_custkey, valid_from_us, o_orderkey""".stripMargin)),

    // ----- deterministic train/val/test split (~80/10/10): membership
    // is a pure function of a salted content hash — stable across runs,
    // cluster layouts, and re-partitioning, which is what makes the
    // split reproducible at any scale (a rand()-based split is not even
    // reproducible across two executions). Thresholds are the first
    // hex byte of md5: < 0xcd → train (205/256 ≈ 80.1%), < 0xe6 → val
    // (~9.7%), else test. Map-only tag + one aggregate; no shuffle
    // beyond the final small groupBy.
    Q("m_split",
      (s, d) => {
        val h = md5(concat(lit("split_"), col("doc_id").cast("string")))
        Tables.documents(s, d)
          .withColumn("split",
            when(substring(h, 1, 2) < "cd", "train")
              .when(substring(h, 1, 2) < "e6", "val")
              .otherwise("test"))
          .groupBy("split", "source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"))
          .orderBy("split", "source")
      },
      Some(
        """WITH tagged AS (
          |  SELECT source, n_chars,
          |    CASE WHEN substr(md5(concat('split_',
          |           CAST(doc_id AS VARCHAR))), 1, 2) < 'cd' THEN 'train'
          |         WHEN substr(md5(concat('split_',
          |           CAST(doc_id AS VARCHAR))), 1, 2) < 'e6' THEN 'val'
          |         ELSE 'test' END AS split
          |  FROM documents)
          |SELECT split, source, count(*) AS n_docs,
          |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
          |FROM tagged GROUP BY split, source
          |ORDER BY split, source""".stripMargin)),

    // ----- PII-style redaction scrub: mask every digit run in the raw
    // payload column and report, per event type, how much was masked
    // and how many distinct post-redaction shapes remain (a shape count
    // of 1 proves the scrub normalized every payload to the same
    // template). Pure map-side regexp work on codegen'd expressions —
    // the plumbing of a real PII pass (emails/phones/SSNs are just more
    // alternates in the pattern); the character class stays in the
    // POSIX-safe subset both Java regex and RE2 read identically.
    Q("m_redact",
      (s, d) => Tables.events(s, d)
        .select(col("event_type"),
          regexp_replace(col("props"), "[0-9]+", "#").as("redacted"),
          (length(col("props")) -
            length(regexp_replace(col("props"), "[0-9]", "")))
            .as("n_digits"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(col("n_digits")).cast("bigint").as("digits_masked"),
          countDistinct(col("redacted")).as("n_shapes"))
        .orderBy("event_type"),
      Some(
        """WITH r AS (
          |  SELECT event_type,
          |    regexp_replace(props, '[0-9]+', '#', 'g') AS redacted,
          |    length(props) - length(regexp_replace(props, '[0-9]', '', 'g'))
          |      AS n_digits
          |  FROM events)
          |SELECT event_type, count(*) AS n_events,
          |  CAST(sum(n_digits) AS BIGINT) AS digits_masked,
          |  count(DISTINCT redacted) AS n_shapes
          |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ----- explicit bloom-filter join pruning — the runtime-filter
    // primitive behind every petabyte-scale selective join: build a
    // bloom over the SELECTIVE side's keys (urgent orders), ship the
    // ~KB sketch to the wide side's scan, and only exact-verify the
    // survivors with the real semi-join. The bloom may pass false
    // positives (the semi-join removes them — output stays exact) but
    // never drops a true match, so at 100 TB the wide scan discards
    // non-matching rows BEFORE the shuffle instead of after it. The
    // sketch rides in as a SCALAR SUBQUERY inside one plan — the exact
    // shape Spark's own InjectRuntimeFilter emits
    // (BloomFilterMightContain's contract names "constant or scalar
    // subquery" as its bloom input) — no driver round-trip anywhere in
    // the query body. Capacity is passed explicitly (the 2-arg
    // bloom_build): an under-sized bloom saturates into an exact but
    // useless pass-through, so production sizes it from the build
    // side's distinct-key estimate.
    Q("m_bloom_prune",
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("orders")
        Tables.customer(s, d).createOrReplaceTempView("customer")
        s.sql(
          """SELECT c_mktsegment, count(*) AS n_custs,
            |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
            |    AS sum_bal
            |FROM customer
            |WHERE bloom_probe(
            |    (SELECT bloom_build(o_custkey, 100000) FROM orders
            |     WHERE o_orderpriority = '1-URGENT'),
            |    c_custkey)
            |  AND c_custkey IN (SELECT o_custkey FROM orders
            |                    WHERE o_orderpriority = '1-URGENT')
            |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
      },
      Some(
        """SELECT c_mktsegment, count(*) AS n_custs,
          |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
          |    AS sum_bal
          |FROM customer c
          |WHERE EXISTS (SELECT 1 FROM orders o
          |              WHERE o.o_custkey = c.c_custkey
          |                AND o.o_orderpriority = '1-URGENT')
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // ----- L6: feed-freshness monitoring — the data-quality check every
    // ingestion pipeline runs before trusting a partition: per stream,
    // last event time, lag behind the freshest stream, and a staleness
    // flag at a 30-minute SLA. All integer microsecond arithmetic
    // (epoch_us both sides, `div` integral division), so the boolean can
    // never flip on a tie; the global max rides in as a broadcast 1-row
    // aggregate.
    Q("l6_freshness",
      (s, d) => {
        val g = Tables.events(s, d)
          .agg(max(unix_micros(col("ts"))).as("gmax"))
        Tables.events(s, d)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            max(unix_micros(col("ts"))).as("last_us"))
          .crossJoin(broadcast(g))
          .select(col("event_type"), col("n"), col("last_us"),
            expr("(gmax - last_us) div 1000000").as("lag_sec"),
            (col("gmax") - col("last_us") > 1800000000L).as("is_stale"))
          .orderBy("event_type")
      },
      Some(
        """WITH g AS (SELECT max(epoch_us(ts)) AS gmax FROM events)
          |SELECT event_type,
          |  count(*) AS n,
          |  max(epoch_us(ts)) AS last_us,
          |  CAST((gmax - max(epoch_us(ts))) // 1000000 AS BIGINT)
          |    AS lag_sec,
          |  (gmax - max(epoch_us(ts))) > 1800000000 AS is_stale
          |FROM events CROSS JOIN g
          |GROUP BY event_type, gmax ORDER BY event_type""".stripMargin)),

    // ----- incremental aggregate maintenance: yesterday's materialized
    // per-status aggregate merged with today's delta by ALGEBRA
    // (counts add, decimal sums add) instead of recomputing history —
    // at 100 TB the historical scan is the cost, and sum/count are the
    // mergeable partial-agg shapes that make incremental maintenance
    // exact. The ORACLE is the full recompute over all rows, so the
    // driver's hash check IS the proof that merge(state, delta) =
    // recompute(all) — decimal sums make that equality exact, where
    // double sums would differ by accumulation grouping.
    Q("m_incr_agg",
      (s, d) => {
        val cutoff = "2000-01-01 00:00:00"
        def agg(df: org.apache.spark.sql.DataFrame) =
          df.groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)")).as("sp"))
        val base = Tables.orders(s, d)
        val state = agg(base.filter(col("o_orderdate") < lit(cutoff)))
          .select(col("o_orderstatus"), col("n").as("n0"),
            col("sp").as("s0"))
        val delta = agg(base.filter(col("o_orderdate") >= lit(cutoff)))
          .select(col("o_orderstatus"), col("n").as("n1"),
            col("sp").as("s1"))
        state.join(delta, Seq("o_orderstatus"), "full_outer")
          .select(col("o_orderstatus"),
            (coalesce(col("n0"), lit(0L)) + coalesce(col("n1"), lit(0L)))
              .as("n"),
            (coalesce(col("s0"), lit(0).cast("decimal(28,2)")) +
              coalesce(col("s1"), lit(0).cast("decimal(28,2)")))
              .cast("double").as("total"))
          .orderBy("o_orderstatus")
      },
      Some(
        """SELECT o_orderstatus, count(*) AS n,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total
          |FROM orders
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // ----- cohort RETENTION matrix: users grouped by first-activity
    // day (their cohort), then counted on each subsequent active day
    // offset — the (cohort × day-offset) triangle every product/growth
    // dashboard reads. Three keyed aggregates, all map-side combined:
    // distinct (user, day) activity, per-user min day, then the offset
    // rollup; the cohort join is on user_id, co-partitioned with the
    // activity aggregate. Pure integer day arithmetic (`div`, the
    // m_resample_daily convention).
    Q("m_retention_cohort",
      (s, d) => {
        val act = Tables.events(s, d)
          .select(col("user_id"),
            expr("(unix_micros(ts) div 1000000) div 86400").as("day"))
          .distinct()
        val coh = act.groupBy("user_id").agg(min(col("day")).as("c0"))
        act.join(coh, Seq("user_id"))
          .groupBy(col("c0").as("cohort_day"),
            (col("day") - col("c0")).as("day_offset"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy("cohort_day", "day_offset")
      },
      Some(
        """WITH act AS (
          |  SELECT DISTINCT user_id,
          |    CAST(epoch_us(ts) // 1000000 // 86400 AS BIGINT) AS day
          |  FROM events
          |), coh AS (
          |  SELECT user_id, min(day) AS c0 FROM act GROUP BY user_id)
          |SELECT c0 AS cohort_day, day - c0 AS day_offset,
          |  count(*) AS n_users
          |FROM act JOIN coh USING (user_id)
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ----- presence BITMAP encoding: each user's high-value activity
    // profile packed into one integer via bit_or(1 << type_index) —
    // the bitmap-index primitive (roaring-bitmap style) that turns
    // set-membership questions ("users who did X and Y but never Z")
    // into integer mask tests instead of joins. Report: distinct
    // profile bitmaps with popcount and user counts. Pure integer
    // aggregation, two map-side-combined groupBys.
    Q("m_presence_bitmap",
      (s, d) => {
        val idx = when(col("event_type") === "click", 0)
          .when(col("event_type") === "error", 1)
          .when(col("event_type") === "purchase", 2)
          .when(col("event_type") === "signup", 3)
          .otherwise(4)
        Tables.events(s, d)
          .filter(col("value") > 150.0)
          .select(col("user_id"), idx.as("i"))
          .groupBy("user_id")
          .agg(bit_or(expr("shiftleft(CAST(1 AS BIGINT), i)"))
            .as("bitmap"))
          .groupBy("bitmap")
          .agg(count(lit(1)).as("n_users"))
          .select(col("bitmap"), bit_count(col("bitmap")).as("n_types"),
            col("n_users"))
          .orderBy("bitmap")
      },
      Some(
        """WITH idx AS (
          |  SELECT user_id,
          |    CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1
          |      WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3
          |      ELSE 4 END AS i
          |  FROM events WHERE value > 150
          |), bm AS (
          |  SELECT user_id, CAST(bit_or(1 << i) AS BIGINT) AS bitmap
          |  FROM idx GROUP BY user_id)
          |SELECT bitmap, CAST(bit_count(bitmap) AS INT) AS n_types,
          |  count(*) AS n_users
          |FROM bm GROUP BY bitmap ORDER BY bitmap""".stripMargin)),

    // ----- Z-order (Morton) layout key — the multi-dimensional
    // clustering primitive behind Delta/Iceberg OPTIMIZE ZORDER: bit-
    // interleave two scan-predicate columns so that sorting by ONE key
    // co-locates rows that are close in BOTH dimensions, which is what
    // lets parquet min/max stats prune files for predicates on either
    // column. The report groups rows into 16 Morton range buckets and
    // emits each bucket's span in both source dimensions — the
    // locality a write path gets from repartitionByRange(morton) +
    // sortWithinPartitions before writing. Pure integer bit algebra
    // (16 interleave terms, codegen'd), deterministic everywhere.
    Q("m_zorder",
      (s, d) => {
        // Quantize each dimension to 8 bits over its ACTUAL value range
        // (broadcast min/max, the m_histogram pattern) — raw values
        // would leave one dim's high bits constant and the interleave
        // degenerate. Then bucket = top 4 Morton bits = a 4×4 grid over
        // (a, b): every bucket bounds BOTH dimensions to ~1/4 of range.
        val interleave = (0 until 8).map { i =>
          shiftright(col("a8"), i).bitwiseAND(lit(1L)) *
            lit(1L << (2 * i)) +
            shiftright(col("b8"), i).bitwiseAND(lit(1L)) *
              lit(1L << (2 * i + 1))
        }.reduce(_ + _)
        val base = Tables.orders(s, d)
          .select(col("o_custkey").as("a"),
            floor(col("o_totalprice") / 10.0).cast("long").as("b"))
        val rng = base.agg(min(col("a")).as("al"), max(col("a")).as("ah"),
          min(col("b")).as("bl"), max(col("b")).as("bh"))
        base.crossJoin(broadcast(rng))
          .withColumn("a8",
            expr("(a - al) * 256 div (ah - al + 1)"))
          .withColumn("b8",
            expr("(b - bl) * 256 div (bh - bl + 1)"))
          .withColumn("morton", interleave)
          .withColumn("bucket", shiftright(col("morton"), 12).cast("int"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"),
            min(col("a")).as("a_min"), max(col("a")).as("a_max"),
            min(col("b")).as("b_min"), max(col("b")).as("b_max"))
          .orderBy("bucket")
      },
      Some {
        val terms = (0 until 8).map { i =>
          s"((a8 >> $i) & 1) * ${1L << (2 * i)} + " +
            s"((b8 >> $i) & 1) * ${1L << (2 * i + 1)}"
        }.mkString(" + ")
        s"""WITH ab AS (
           |  SELECT o_custkey AS a,
           |    CAST(floor(o_totalprice / 10.0) AS BIGINT) AS b
           |  FROM orders
           |), rng AS (
           |  SELECT min(a) AS al, max(a) AS ah, min(b) AS bl,
           |    max(b) AS bh FROM ab
           |), q AS (
           |  SELECT a, b,
           |    (a - al) * 256 // (ah - al + 1) AS a8,
           |    (b - bl) * 256 // (bh - bl + 1) AS b8
           |  FROM ab CROSS JOIN rng
           |), m AS (
           |  SELECT a, b, ($terms) AS morton FROM q)
           |SELECT CAST(morton >> 12 AS INT) AS bucket,
           |  count(*) AS n,
           |  min(a) AS a_min, max(a) AS a_max,
           |  min(b) AS b_min, max(b) AS b_max
           |FROM m GROUP BY bucket ORDER BY bucket""".stripMargin
      }),

    // ----- Conversion-lag profile: exact quantiles of the view→
    // purchase delay over all attributed pairs (the latency the
    // m_funnel stage windows were calibrated FROM). Lags integer-
    // quantized to whole seconds (`div`, never a float floor), so the
    // quantile selection runs over the ≤ 86 401-second grid — the
    // m_gini compression argument turns a per-pair global sort into a
    // bounded cum window. Selection is the repo's nearest-rank
    // convention (min level with 2·cum ≥ n for the median, 10·cum ≥
    // 9·n for p90); the mean rides exact integer sums.
    Q("m_conversion_lag",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = Tables.events(s, d)
        val v = e.filter(col("event_type") === "view")
          .select(col("user_id"), unix_micros(col("ts")).as("v_us"))
        val p = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
        val lag = v.join(p, Seq("user_id"))
          .filter(col("p_us") >= col("v_us") &&
            col("p_us") <= col("v_us") + 86400000000L)
          .select(expr("(p_us - v_us) div 1000000").as("lag_s"))
        val freq = lag.groupBy("lag_s").agg(count(lit(1)).as("t"))
        val w = Window.orderBy("lag_s")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = freq.withColumn("cum", sum("t").over(w))
        val nt = freq.agg(sum("t").as("n"), sum(col("lag_s") * col("t"))
          .as("sl"))
        // both rank cutoffs in one aggregation (min over a
        // conditional = filter+min): the freq→cum window subtree is
        // evaluated once instead of twice
        val pct = cum.crossJoin(broadcast(nt))
          .agg(min(when(col("cum") * 2L >= col("n"), col("lag_s")))
                 .as("lag_p50_s"),
               min(when(col("cum") * 10L >= col("n") * 9L, col("lag_s")))
                 .as("lag_p90_s"))
        nt.crossJoin(broadcast(pct))
          .select(col("n").as("n_pairs"),
            col("lag_p50_s"), col("lag_p90_s"),
            round(col("sl").cast("double") / col("n"), 4)
              .as("lag_mean_s"))
      },
      Some(
        """WITH v AS (
          |  SELECT user_id, epoch_us(ts) AS v_us FROM events
          |  WHERE event_type = 'view'
          |), p AS (
          |  SELECT user_id, epoch_us(ts) AS p_us FROM events
          |  WHERE event_type = 'purchase'
          |), lag AS (
          |  SELECT (p_us - v_us) // 1000000 AS lag_s
          |  FROM v JOIN p USING (user_id)
          |  WHERE p_us >= v_us AND p_us <= v_us + 86400000000
          |), freq AS (
          |  SELECT lag_s, CAST(count(*) AS BIGINT) AS t
          |  FROM lag GROUP BY lag_s
          |), cum AS (
          |  SELECT lag_s, t,
          |    CAST(sum(t) OVER (ORDER BY lag_s
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |      AS BIGINT) AS cum
          |  FROM freq
          |), nt AS (
          |  SELECT CAST(sum(t) AS BIGINT) AS n,
          |    CAST(sum(lag_s * t) AS BIGINT) AS sl
          |  FROM freq
          |)
          |SELECT nt.n AS n_pairs,
          |  (SELECT min(lag_s) FROM cum WHERE cum * 2 >= nt.n)
          |    AS lag_p50_s,
          |  (SELECT min(lag_s) FROM cum WHERE cum * 10 >= nt.n * 9)
          |    AS lag_p90_s,
          |  round(CAST(sl AS DOUBLE) / nt.n, 4) AS lag_mean_s
          |FROM nt""".stripMargin)),

    // ----- Multi-touch attribution: FIRST- vs LAST-touch assignment
    // of each purchase to its qualifying views (the ads-measurement
    // debate as a query). Per purchase, one user-keyed join bounded
    // by the 1-day window, then min/max over (v_us, view id) structs
    // picks the two canonical touches in one aggregate — never a
    // window over the corpus, and the struct tie-break makes both
    // assignments total-ordered. Report: per event count, how often
    // the two models agree (single-touch journeys), and the mean gap
    // between first and last touch — the size of the attribution
    // dispute, in seconds.
    Q("m_attribution",
      (s, d) => {
        val e = Tables.events(s, d)
        val v = e.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id").as("v_id"),
            unix_micros(col("ts")).as("v_us"))
        val p = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("p_id"),
            unix_micros(col("ts")).as("p_us"))
        val touches = p.join(v, Seq("user_id"))
          .filter(col("p_us") >= col("v_us") &&
            col("p_us") <= col("v_us") + 86400000000L)
          .groupBy("p_id")
          .agg(min(struct(col("v_us"), col("v_id"))).as("first"),
            max(struct(col("v_us"), col("v_id"))).as("last"))
        touches.agg(
            count(lit(1)).as("n_attributed"),
            sum(when(col("first.v_id") === col("last.v_id"), 1L)
              .otherwise(0L)).as("n_single_touch"),
            round(sum(expr(
              "(last.v_us - first.v_us) div 1000000")).cast("double") /
              count(lit(1)), 4).as("mean_touch_gap_s"))
      },
      Some(
        """WITH v AS (
          |  SELECT user_id, event_id AS v_id, epoch_us(ts) AS v_us
          |  FROM events WHERE event_type = 'view'
          |), p AS (
          |  SELECT user_id, event_id AS p_id, epoch_us(ts) AS p_us
          |  FROM events WHERE event_type = 'purchase'
          |), touches AS (
          |  SELECT p_id,
          |    min({'v_us': v_us, 'v_id': v_id}) AS fst,
          |    max({'v_us': v_us, 'v_id': v_id}) AS lst
          |  FROM p JOIN v USING (user_id)
          |  WHERE p_us >= v_us AND p_us <= v_us + 86400000000
          |  GROUP BY p_id
          |)
          |SELECT CAST(count(*) AS BIGINT) AS n_attributed,
          |  CAST(sum(CASE WHEN fst = lst THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_single_touch,
          |  round(CAST(sum((lst.v_us - fst.v_us) // 1000000)
          |    AS DOUBLE) / count(*), 4) AS mean_touch_gap_s
          |FROM touches""".stripMargin)),

    // ----- Weighted sampling without replacement (Efraimidis &
    // Spirakis 2006, A-ES): each row draws u ∈ (0,1) and the k rows
    // with the largest u^(1/w) ARE an exact weighted sample — which
    // turns "sample k of N by weight" into ONE map pass + a top-k,
    // the only formulation that works distributed (no sequential
    // reservoir, no global prefix sums; it is literally a
    // TakeOrdered). Determinism: u is the m_dp_counts seeded-hash
    // dyadic rational; the sort key maximizes ln(u)/w, with ln(u)
    // floor-scaled to e9 BIGINTs (the t_zipf_fit ln discipline) so
    // the key is one identical double division of exact integers on
    // both engines, ordered with an event-id tie-break. Weights =
    // positive value cents. Production swaps the hash for a seeded
    // PRNG stream, keeping the top-k plan.
    Q("m_weighted_sample",
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("event_id"),
            floor(col("value") * 100.0).cast("long").as("cents"))
          .filter(col("cents") > 0L)
        val u = (conv(substring(md5(concat(lit("ws_"),
          col("event_id"))), 1, 6), 16, 10).cast("long") + 0.5) /
          16777216.0
        e.withColumn("a", floor(log(u) * 1.0e9).cast("long"))
          .withColumn("key",
            col("a").cast("double") * 100.0 / col("cents").cast("double"))
          .orderBy(desc("key"), col("event_id"))
          .limit(20)
          .select(col("event_id"), col("cents"),
            round(col("key"), 6).as("es_key"))
      },
      Some(
        """WITH e AS (
          |  SELECT event_id,
          |    CAST(floor("value" * 100.0) AS BIGINT) AS cents
          |  FROM events WHERE floor("value" * 100.0) > 0
          |), keyed AS (
          |  SELECT event_id, cents,
          |    CAST(floor(ln((CAST(('0x' || substr(md5('ws_' ||
          |      event_id), 1, 6)) AS BIGINT) + 0.5) / 16777216.0)
          |      * 1.0e9) AS BIGINT) AS a
          |  FROM e
          |)
          |SELECT event_id, cents,
          |  round(CAST(a AS DOUBLE) * 100.0 / CAST(cents AS DOUBLE), 6)
          |    AS es_key
          |FROM keyed
          |ORDER BY CAST(a AS DOUBLE) * 100.0 / CAST(cents AS DOUBLE)
          |  DESC, event_id
          |LIMIT 20""".stripMargin)),

    // ----- stratified sampling: an exact k-per-stratum subsample in
    // deterministic hash order — the balanced-mixture primitive of
    // corpus curation (equal-size per-source panels for eval sets,
    // ablations, or annotation batches), where m_sample_mix reweights
    // WHOLE strata this draws a fixed-size uniform panel from inside
    // each one. The draw order is md5(doc_id) — a seeded permutation
    // both engines replicate — and selection runs on the native
    // TopKPerKey bounded-heap operator: each input partition forwards
    // at most k rows per stratum, so the shuffle carries
    // O(partitions · strata · k) rows at ANY corpus size, where the
    // oracle's row_number window formulation would sort every stratum
    // in full. Rank is recomputed post-heap over ≤ k rows per stratum
    // (bounded window, never a corpus-size partition).
    Q("m_stratified_sample",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val keyed = Tables.documents(s, d).select(
          col("source"), col("doc_id"),
          conv(substring(md5(concat(lit("strat_"), col("doc_id"))),
            1, 12), 16, 10).cast("long").as("skey"))
        graft.plans.TopKPerKey
          .perKey(keyed, Seq("source"), "skey", "doc_id", 5)
          .withColumn("rank", row_number().over(
            Window.partitionBy(col("source"))
              .orderBy(desc("skey"), col("doc_id"))))
          .select(col("source"), col("rank"), col("doc_id"))
          .orderBy("source", "rank")
      },
      Some(
        """WITH keyed AS (
          |  SELECT source, doc_id,
          |    CAST(('0x' || substr(md5('strat_' || doc_id), 1, 12))
          |      AS BIGINT) AS skey
          |  FROM documents
          |), rk AS (
          |  SELECT source, doc_id,
          |    CAST(row_number() OVER (PARTITION BY source
          |      ORDER BY skey DESC, doc_id) AS INT) AS rank
          |  FROM keyed)
          |SELECT source, rank, doc_id FROM rk WHERE rank <= 5
          |ORDER BY source, rank""".stripMargin)),
  )
}
