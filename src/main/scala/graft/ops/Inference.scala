package graft.ops

import graft.Ckpt.StageOps
import graft.Tables
import graft.ops.Moments.exact
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.Decimal

/** Rank statistics, robust estimators, resampling, and spectral
  * decomposition — the inference layer a corpus pipeline runs on top of
  * the monitoring surface in [[Mining]]: PSI/KS/χ² say *whether* two
  * samples differ; the tests here say so with tie-corrected rank
  * machinery (Spearman/Kendall/Mann–Whitney are the standard answers
  * when the metric is heavy-tailed and moments lie), MAD gives the
  * robust location/scale the outlier gates should have used, the
  * bootstrap attaches uncertainty to any released mean, and the power
  * iteration extracts the dominant covariance direction from the
  * embedding table: one aggregate builds the exact 64×64 scatter matrix,
  * collected once, and the iterations run on the driver (as do k22's
  * HITS and the rank-1 ALS: [[Moments]] holds their shared integer
  * algebra). Reference behavior spec: the correlation-analysis job
  * (`analysis/correlation_analysis.py:1-142`) computes product-moment
  * correlations; this module is the rank/robust/resampling completion
  * of that surface. Published forms: Spearman 1904; Kendall 1938
  * (τ-b tie correction); Mann & Whitney 1947; Hampel 1974 (MAD);
  * Efron 1979 (bootstrap); von Mises / power iteration (Mises &
  * Pollaczek-Geiringer 1929).
  *
  * Cross-engine discipline (SURVEY §5, the m_gini / m_moments rules):
  * every rank is derived from a FREQUENCY table (group by distinct
  * value — the window's row count is the number of distinct levels,
  * never the corpus), doubled ranks (2r = 2·cum − t + 1) keep
  * tie-averaged ranks integral, moment combinations that can exceed
  * 2⁶³ run in exact 128-bit fixed point (Spark DECIMAL(38,0) / DuckDB
  * HUGEINT), and every reported float is ONE identically-associated
  * expression over exact integers, rounded at the end. Decision
  * booleans (Mann–Whitney rejection) are cleared of all division and
  * sqrt into pure integer products — 1.96² = 2401/625 exactly — so no
  * float tie can ever flip them (the m_ab_test rearrangement).
  */
object Inference {

  /** Engine-proof day-of-week: epoch day 0 (1970-01-01) was a
    * Thursday, so `(epoch_day + 4) % 7` is 0 for Sunday on both
    * engines — sidestepping Spark's 1=Sunday vs DuckDB's 0=Sunday
    * `dayofweek` disagreement with pure integer arithmetic. Integer
    * division (`div` / `//`), never a float floor: a midnight-exact
    * timestamp must not ride a 1-ulp division error across the day
    * boundary. */
  private val WeekendSpark =
    "(((unix_micros(ts) div 86400000000) + 4) % 7) IN (0, 6)"
  private val WeekendDuck =
    "(((epoch_us(ts) // 86400000000) + 4) % 7) IN (0, 6)"

  val all: Seq[Q] = Seq(

    // ----- Spearman rank correlation (tie-corrected, per return
    // flag) between quantity and discount — the monotone-association
    // answer when Pearson (f8) is distorted by heavy tails. Ranks are
    // NEVER computed per row: the average rank of a value v with t
    // occurrences after cum−t predecessors is cum−(t−1)/2, so the
    // doubled rank 2r = 2·cum−t+1 is an integer derived from the
    // per-flag FREQUENCY table (≤ 50 quantity levels, ≤ 11 discount
    // levels — the cum window runs over dozens of rows, not the
    // corpus; the g2/m_gini compression argument). Each fact row then
    // picks up its two doubled ranks via broadcast joins against
    // those tiny rank tables and the Pearson form runs over exact
    // integer moments: Σ(2r)·(2r') fits BIGINT at any tested SF, but
    // the n·Σxy−Σx·Σy combination does not at warehouse scale, so the
    // sums are combined in DECIMAL(38,0)/HUGEINT (exact 128-bit) and
    // cast to DOUBLE exactly once into one identically-associated
    // expression, rounded 4dp. Scale shape: two map-side-combinable
    // aggregations over the fact table (freq + moments) plus two
    // broadcast joins — no global sort, no per-row window, ever.
    Q("m_spearman",
      (s, d) => {
        val li = Tables.lineitem(s, d).select(
          col("l_returnflag").as("flag"),
          floor(col("l_quantity")).cast("long").as("x"),
          floor(col("l_discount") * 100.0).cast("long").as("y"))
        def rankTable(c: String) = {
          val w = Window.partitionBy("flag").orderBy(c)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          li.groupBy("flag", c).agg(count(lit(1)).as("t"))
            .withColumn("cum", sum("t").over(w))
            .select(col("flag"), col(c),
              (col("cum") * 2L - col("t") + 1L).as(s"r2$c"))
        }
        val ranked = li
          .join(broadcast(rankTable("x")), Seq("flag", "x"))
          .join(broadcast(rankTable("y")), Seq("flag", "y"))
        val m = ranked.groupBy("flag").agg(
          count(lit(1)).as("n"),
          sum(col("r2x")).as("sx"), sum(col("r2y")).as("sy"),
          sum(exact(col("r2x") * col("r2y"))).as("sxy"),
          sum(exact(col("r2x") * col("r2x"))).as("sxx"),
          sum(exact(col("r2y") * col("r2y"))).as("syy"))
        m.select(col("flag").as("l_returnflag"), col("n"),
            round(Moments.pearson(col("n"), col("sx"), col("sy"),
              col("sxy"), col("sxx"), col("syy")), 4).as("rho"))
          .orderBy("l_returnflag")
      },
      Some(
        """WITH li AS (
          |  SELECT l_returnflag AS flag,
          |    CAST(floor(l_quantity) AS BIGINT) AS x,
          |    CAST(floor(l_discount * 100.0) AS BIGINT) AS y
          |  FROM lineitem
          |), fx AS (
          |  SELECT flag, x, CAST(count(*) AS BIGINT) AS t FROM li
          |  GROUP BY flag, x
          |), rx AS (
          |  SELECT flag, x,
          |    CAST(sum(t) OVER (PARTITION BY flag ORDER BY x
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |      AS BIGINT) * 2 - t + 1 AS r2x
          |  FROM fx
          |), fy AS (
          |  SELECT flag, y, CAST(count(*) AS BIGINT) AS t FROM li
          |  GROUP BY flag, y
          |), ry AS (
          |  SELECT flag, y,
          |    CAST(sum(t) OVER (PARTITION BY flag ORDER BY y
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |      AS BIGINT) * 2 - t + 1 AS r2y
          |  FROM fy
          |), m AS (
          |  SELECT flag, CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(r2x) AS BIGINT) AS sx,
          |    CAST(sum(r2y) AS BIGINT) AS sy,
          |    sum(CAST(r2x AS HUGEINT) * r2y) AS sxy,
          |    sum(CAST(r2x AS HUGEINT) * r2x) AS sxx,
          |    sum(CAST(r2y AS HUGEINT) * r2y) AS syy
          |  FROM li JOIN rx USING (flag, x) JOIN ry USING (flag, y)
          |  GROUP BY flag
          |)
          |SELECT flag AS l_returnflag, n,
          |  round(CAST(CAST(n AS HUGEINT) * sxy -
          |        CAST(sx AS HUGEINT) * sy AS DOUBLE) /
          |    (sqrt(CAST(CAST(n AS HUGEINT) * sxx -
          |          CAST(sx AS HUGEINT) * sx AS DOUBLE)) *
          |     sqrt(CAST(CAST(n AS HUGEINT) * syy -
          |          CAST(sy AS HUGEINT) * sy AS DOUBLE))), 4) AS rho
          |FROM m ORDER BY l_returnflag""".stripMargin)),

    // ----- Kendall τ-b (per return flag, same variable pair) — the
    // pair-concordance twin of Spearman, preferred when the report
    // must be interpretable as P(concordant)−P(discordant). The
    // textbook O(n²) pair scan is replaced by the JOINT-frequency
    // contraction: group rows into (x, y) cells (≤ 50·11 = 550 per
    // flag — bounded by the value grids, NOT the corpus), and every
    // unordered row pair with x₁<x₂ is counted once by the cell
    // self-join a.x < b.x with weight cₐ·c_b, concordant when the y
    // order agrees, discordant when it disagrees (x-or-y-tied pairs
    // belong to neither — exactly τ-b's exclusions). Tie terms n₁/n₂
    // come from the marginal frequency tables; n₀−n₁ and n₀−n₂ each
    // fit BIGINT, and √(n₀−n₁)·√(n₀−n₂) multiplies two correctly-
    // rounded square roots instead of one 128-bit product — the whole
    // denominator never leaves 64-bit integers. Scale shape: one
    // map-side-combinable cell aggregation over the corpus, then a
    // broadcast 550×550 cell join — pair cost is grid², independent
    // of row count (the m_assoc_rules argument).
    Q("m_kendall",
      (s, d) => {
        val li = Tables.lineitem(s, d).select(
          col("l_returnflag").as("flag"),
          floor(col("l_quantity")).cast("long").as("x"),
          floor(col("l_discount") * 100.0).cast("long").as("y"))
        val cells = li.groupBy("flag", "x", "y")
          .agg(count(lit(1)).as("c"))
        val cd = cells.as("a")
          .join(broadcast(cells.select(col("flag"),
              col("x").as("x2"), col("y").as("y2"), col("c").as("c2"))
            .as("b")), Seq("flag"))
          .filter(col("x") < col("x2"))
          .groupBy("flag")
          .agg(sum(when(col("y") < col("y2"), col("c") * col("c2"))
              .otherwise(0L)).as("conc"),
            sum(when(col("y") > col("y2"), col("c") * col("c2"))
              .otherwise(0L)).as("disc"))
        // Exact-integer tie sums, 128-bit clean: Column `/` on longs
        // is DOUBLE division (round-6 ADVICE), and even integer `div`
        // silently wraps once t exceeds ~3.04e9 (t·(t−1) > 2^63 — a
        // single hot value level in a 100-TB group). t·(t−1) is even,
        // so halving in decimal(38,0) stays exact; the same applies to
        // the n·(n−1)/2 pair total. The REPORTED conc/disc columns
        // stay BIGINT (pair counts ≤ n²/2 fit to n ≈ 4.3e9/group;
        // beyond that the output schema itself would need DECIMAL).
        def half(c: org.apache.spark.sql.Column) =
          exact(exact(c) * (c - 1L) / 2L)
        val margx = li.groupBy("flag", "x").agg(count(lit(1)).as("t"))
          .groupBy("flag")
          .agg(sum(half(col("t"))).as("n1"), sum(col("t")).as("n"))
        val margy = li.groupBy("flag", "y").agg(count(lit(1)).as("t"))
          .groupBy("flag")
          .agg(sum(half(col("t"))).as("n2"))
        cd.join(broadcast(margx), Seq("flag"))
          .join(broadcast(margy), Seq("flag"))
          .select(col("flag").as("l_returnflag"), col("n"),
            col("conc"), col("disc"),
            round((col("conc") - col("disc")).cast("double") /
              (sqrt((half(col("n")) - col("n1")).cast("double")) *
               sqrt((half(col("n")) - col("n2")).cast("double"))), 4)
              .as("tau_b"))
          .orderBy("l_returnflag")
      },
      Some(
        """WITH li AS (
          |  SELECT l_returnflag AS flag,
          |    CAST(floor(l_quantity) AS BIGINT) AS x,
          |    CAST(floor(l_discount * 100.0) AS BIGINT) AS y
          |  FROM lineitem
          |), cells AS (
          |  SELECT flag, x, y, CAST(count(*) AS BIGINT) AS c
          |  FROM li GROUP BY flag, x, y
          |), cd AS (
          |  SELECT a.flag,
          |    CAST(sum(CASE WHEN a.y < b.y THEN a.c * b.c ELSE 0 END)
          |      AS BIGINT) AS conc,
          |    CAST(sum(CASE WHEN a.y > b.y THEN a.c * b.c ELSE 0 END)
          |      AS BIGINT) AS disc
          |  FROM cells a JOIN cells b
          |    ON a.flag = b.flag AND a.x < b.x
          |  GROUP BY a.flag
          |), mx AS (
          |  SELECT flag,
          |    sum(CAST(t AS HUGEINT) * (t - 1) // 2) AS n1,
          |         CAST(sum(t) AS BIGINT) AS n
          |  FROM (SELECT flag, x, CAST(count(*) AS BIGINT) AS t
          |        FROM li GROUP BY flag, x) GROUP BY flag
          |), my AS (
          |  SELECT flag,
          |    sum(CAST(t AS HUGEINT) * (t - 1) // 2) AS n2
          |  FROM (SELECT flag, y, CAST(count(*) AS BIGINT) AS t
          |        FROM li GROUP BY flag, y) GROUP BY flag
          |)
          |SELECT flag AS l_returnflag, n, conc, disc,
          |  round(CAST(conc - disc AS DOUBLE) /
          |    (sqrt(CAST(CAST(n AS HUGEINT) * (n - 1) // 2 - n1
          |            AS DOUBLE)) *
          |     sqrt(CAST(CAST(n AS HUGEINT) * (n - 1) // 2 - n2
          |            AS DOUBLE))), 4) AS tau_b
          |FROM cd JOIN mx USING (flag) JOIN my USING (flag)
          |ORDER BY l_returnflag""".stripMargin)),

    // ----- Mann–Whitney U (per event type): do weekend and weekday
    // `value` distributions differ? The nonparametric two-sample test
    // the KS monitor (m_ks_drift) escalates to when the decision must
    // be rank-based and tie-aware. Values floor-quantized to integer
    // units (documented quantization — MW on the quantized grid IS
    // the test being run); the rank sum R comes from the shared
    // frequency table via doubled ranks, so 2U = 2·n₁n₂ + n₁(n₁+1)
    // − 2R is an exact integer. The tie-corrected normal rejection at
    // α = 0.05 is cleared of ALL division and sqrt:
    //   |z| > 1.96  ⟺  1875·n·(n−1)·(2U−n₁n₂)² >
    //                   2401·n₁·n₂·(n·(n−1)·(n+1) − Σ(t³−t))
    // (1.96² = 2401/625, ×4 from doubling, ×12·n·(n−1) from the tie-
    // corrected variance) — both sides exact 128-bit products, so the
    // boolean can never flip on a float tie. The reported z itself is
    // one identically-associated double expression, rounded 4dp.
    // Scale: two map-side-combinable passes (frequency cells, then
    // ≤ |grid| rank rows per type) — never a per-row rank.
    Q("m_mannwhitney",
      (s, d) => {
        val e = Tables.events(s, d).select(
          col("event_type"),
          floor(col("value")).cast("long").as("v"),
          expr(WeekendSpark).as("wk"))
        val freq = e.groupBy("event_type", "v")
          .agg(sum(when(col("wk"), 1L).otherwise(0L)).as("na"),
            sum(when(!col("wk"), 1L).otherwise(0L)).as("nb"))
          .withColumn("t", col("na") + col("nb"))
        val w = Window.partitionBy("event_type").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val ranked = freq.withColumn("cum", sum("t").over(w))
        val m = ranked.groupBy("event_type").agg(
          sum("na").as("n1"), sum("nb").as("n2"),
          sum(col("na") * (col("cum") * 2L - col("t") + 1L)).as("r2a"),
          // cast t to decimal BEFORE cubing — t³ in LONG silently
          // overflows once a single (event_type, value) cell holds
          // over ~2.1M rows, while the oracle cubes in HUGEINT; the
          // decimal(38,0) product mirrors it exactly (round-6 ADVICE)
          exact(sum(exact(col("t")) * col("t") * col("t") - col("t")))
            .as("tcorr"))
        val n = col("n1") + col("n2")
        val u2 = lit(2L) * col("n1") * col("n2") +
          col("n1") * (col("n1") + 1L) - col("r2a")
        val dev = exact(u2 - col("n1") * col("n2"))
        val vTerm = exact(n) * exact(n - 1L) * exact(n + 1L) - col("tcorr")
        m.select(col("event_type"), col("n1"), col("n2"),
            u2.as("u2"),
            (exact(lit(1875L)) * exact(n) * exact(n - 1L) * dev * dev >
              exact(lit(2401L)) * exact(col("n1")) * exact(col("n2")) *
                vTerm).as("reject_05"),
            round(dev.cast("double") /
              sqrt((exact(col("n1")) * exact(col("n2")) * vTerm)
                  .cast("double") /
                (lit(3.0) * (n * (n - 1L)).cast("double"))), 4)
              .as("z"))
          .orderBy("event_type")
      },
      Some(
        s"""WITH e AS (
          |  SELECT event_type, CAST(floor("value") AS BIGINT) AS v,
          |    $WeekendDuck AS wk
          |  FROM events
          |), freq AS (
          |  SELECT event_type, v,
          |    CAST(sum(CASE WHEN wk THEN 1 ELSE 0 END) AS BIGINT) AS na,
          |    CAST(sum(CASE WHEN wk THEN 0 ELSE 1 END) AS BIGINT) AS nb,
          |    CAST(count(*) AS BIGINT) AS t
          |  FROM e GROUP BY event_type, v
          |), ranked AS (
          |  SELECT event_type, na, nb, t,
          |    CAST(sum(t) OVER (PARTITION BY event_type ORDER BY v
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |      AS BIGINT) AS cum
          |  FROM freq
          |), m AS (
          |  SELECT event_type,
          |    CAST(sum(na) AS BIGINT) AS n1,
          |    CAST(sum(nb) AS BIGINT) AS n2,
          |    CAST(sum(na * (cum * 2 - t + 1)) AS BIGINT) AS r2a,
          |    sum(CAST(t AS HUGEINT) * t * t - t) AS tcorr
          |  FROM ranked GROUP BY event_type
          |), f AS (
          |  SELECT event_type, n1, n2,
          |    2 * n1 * n2 + n1 * (n1 + 1) - r2a AS u2,
          |    n1 + n2 AS n,
          |    CAST(2 * n1 * n2 + n1 * (n1 + 1) - r2a - n1 * n2
          |      AS HUGEINT) AS dev,
          |    CAST(n1 + n2 AS HUGEINT) * (n1 + n2 - 1) * (n1 + n2 + 1)
          |      - tcorr AS vterm
          |  FROM m
          |)
          |SELECT event_type, n1, n2, u2,
          |  1875 * CAST(n AS HUGEINT) * (n - 1) * dev * dev >
          |    2401 * CAST(n1 AS HUGEINT) * n2 * vterm AS reject_05,
          |  round(CAST(dev AS DOUBLE) /
          |    sqrt(CAST(CAST(n1 AS HUGEINT) * n2 * vterm AS DOUBLE) /
          |      (3.0 * CAST(n * (n - 1) AS DOUBLE))), 4) AS z
          |FROM f ORDER BY event_type""".stripMargin)),

    // ----- Median / MAD robust profile (per event type) — the
    // location/scale pair the outlier gates (w_anomaly's 2σ,
    // m_iqr_outliers' fences) should be calibrated from when the
    // metric is contaminated: one wild value moves a mean arbitrarily
    // but moves the median not at all. Lower median over the integer-
    // quantized frequency table (min v with cum ≥ ⌈n/2⌉ — the
    // m_winsorize quantile selection), deviations re-contracted into
    // a second frequency table keyed by |v−med| (grid-bounded, not
    // corpus-bounded), MAD as ITS lower median, and the outlier count
    // compares 10000·|v−med| > 44478·MAD — the 3·1.4826 consistency
    // bar (1/Φ⁻¹(¾) ≈ 1.4826, a fixed decimal literal that parses to
    // the identical double on both engines) cross-multiplied into
    // pure BIGINTs. Scale: two frequency aggregations + two tiny cum
    // windows over distinct levels; no global sort, no collect.
    Q("m_mad",
      (s, d) => {
        // staged: e feeds the frequency table AND the final outlier
        // count; freq feeds the cum window, the per-type totals and
        // the deviation re-contraction — one materialization each in
        // place of a re-run per consumer (the m_copurchase plan audit)
        val e = Tables.events(s, d).select(col("event_type"),
          floor(col("value")).cast("long").as("v"))
          .stageCkpt()
        val freq = e.groupBy("event_type", "v")
          .agg(count(lit(1)).as("t"))
          .stageCkpt()
        val w = Window.partitionBy("event_type").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = freq.withColumn("cum", sum("t").over(w))
        val nT = freq.groupBy("event_type").agg(sum("t").as("n"))
        val med = cum.join(broadcast(nT), Seq("event_type"))
          .filter(col("cum") * 2L >= col("n"))
          .groupBy("event_type").agg(min("v").as("med"))
        val dev = freq.join(broadcast(med), Seq("event_type"))
          .groupBy(col("event_type"), abs(col("v") - col("med")).as("ad"))
          .agg(sum("t").as("t"))
        val wd = Window.partitionBy("event_type").orderBy("ad")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val mad = dev.withColumn("cum", sum("t").over(wd))
          .join(broadcast(nT), Seq("event_type"))
          .filter(col("cum") * 2L >= col("n"))
          .groupBy("event_type").agg(min("ad").as("mad"))
        e.join(broadcast(med), Seq("event_type"))
          .join(broadcast(mad), Seq("event_type"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), first("med").as("median_v"),
            first("mad").as("mad"),
            sum(when(abs(col("v") - col("med")) * 10000L >
              col("mad") * 44478L, 1L).otherwise(0L)).as("n_outliers"))
          .orderBy("event_type")
      },
      Some(
        """WITH e AS (
          |  SELECT event_type, CAST(floor("value") AS BIGINT) AS v
          |  FROM events
          |), freq AS (
          |  SELECT event_type, v, CAST(count(*) AS BIGINT) AS t
          |  FROM e GROUP BY event_type, v
          |), cum AS (
          |  SELECT event_type, v, t,
          |    CAST(sum(t) OVER (PARTITION BY event_type ORDER BY v
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |      AS BIGINT) AS cum
          |  FROM freq
          |), nt AS (
          |  SELECT event_type, CAST(sum(t) AS BIGINT) AS n
          |  FROM freq GROUP BY event_type
          |), med AS (
          |  SELECT c.event_type, min(c.v) AS med
          |  FROM cum c JOIN nt USING (event_type)
          |  WHERE c.cum * 2 >= nt.n GROUP BY c.event_type
          |), dev AS (
          |  SELECT f.event_type, abs(f.v - med.med) AS ad,
          |    CAST(sum(f.t) AS BIGINT) AS t
          |  FROM freq f JOIN med USING (event_type)
          |  GROUP BY f.event_type, abs(f.v - med.med)
          |), dcum AS (
          |  SELECT event_type, ad, t,
          |    CAST(sum(t) OVER (PARTITION BY event_type ORDER BY ad
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |      AS BIGINT) AS cum
          |  FROM dev
          |), mad AS (
          |  SELECT d.event_type, min(d.ad) AS mad
          |  FROM dcum d JOIN nt USING (event_type)
          |  WHERE d.cum * 2 >= nt.n GROUP BY d.event_type
          |)
          |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
          |  min(med.med) AS median_v, min(mad.mad) AS mad,
          |  CAST(sum(CASE WHEN abs(e.v - med.med) * 10000 >
          |    mad.mad * 44478 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_outliers
          |FROM e JOIN med USING (event_type) JOIN mad USING (event_type)
          |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin)),

    // ----- Poisson-bootstrap 95% CI for the per-type mean — the
    // uncertainty attachment every released aggregate should carry.
    // The classic bootstrap resamples n rows WITH replacement — a
    // global operation — but the Poisson approximation (Efron's
    // n→∞ form; Chamandy et al., "Estimating Uncertainty for
    // Massively Parallel Algorithms", Google 2012) gives each row an
    // independent Poisson(1) multiplicity per replicate, making the
    // whole thing ONE map-side-combinable pass over B=40 exploded
    // copies. The draw is the m_dp_counts seeded-hash inverse-CDF:
    // u from 6 md5 hex digits (exact dyadic rational), compared
    // against hardcoded cumulative-Poisson(1) decimal literals (they
    // parse to identical doubles on both engines — no exp() at query
    // time). Replicate means are exact-integer cent sums divided
    // once; the 40 means rank inside a 40-row window per type
    // (bounded by B, not data) and the CI picks order statistics 1
    // and 40·0.975 — ties broken by replicate id so the selection is
    // total-ordered. A production release swaps the one `u`
    // expression for a CSPRNG, exactly as m_dp_counts documents.
    Q("m_bootstrap_ci",
      (s, d) => {
        val e = Tables.events(s, d).select(col("event_type"),
          col("event_id"),
          floor(col("value") * 100.0).cast("long").as("cents"))
        val b = e.select(col("*"),
          explode(sequence(lit(0), lit(39))).as("rep"))
        val u = (conv(substring(md5(concat(lit("boot_"), col("event_id"),
          lit("_"), col("rep"))), 1, 6), 16, 10).cast("long") + 0.5) /
          16777216.0
        val wgt = when(u < 0.36787944117144233, 0L)
          .when(u < 0.7357588823428847, 1L)
          .when(u < 0.9196986029286058, 2L)
          .when(u < 0.9810118431238462, 3L)
          .when(u < 0.9963401531726563, 4L)
          .when(u < 0.9994058151824183, 5L).otherwise(6L)
        val reps = b.withColumn("w", wgt)
          .groupBy("event_type", "rep")
          .agg(sum(col("w") * col("cents")).as("sc"),
            sum(col("w")).as("nw"))
          .filter(col("nw") > 0L)
          .withColumn("mean_c", col("sc").cast("double") / col("nw"))
        val wr = Window.partitionBy("event_type")
          .orderBy(col("mean_c"), col("rep"))
        val ranked = reps.withColumn("rk", row_number().over(wr))
          .withColumn("nb", count(lit(1)).over(
            Window.partitionBy("event_type")))
        val ci = ranked.groupBy("event_type").agg(
          min(when(col("rk") === 1L, col("mean_c"))).as("lo_c"),
          min(when(col("rk") === ceil(col("nb") * 0.975).cast("int"),
            col("mean_c"))).as("hi_c"))
        val base = e.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("cents").as("sc"))
        base.join(broadcast(ci), Seq("event_type"))
          .select(col("event_type"), col("n"),
            round(col("sc").cast("double") / col("n") / 100.0, 4)
              .as("mean_value"),
            round(col("lo_c") / 100.0, 4).as("ci_lo"),
            round(col("hi_c") / 100.0, 4).as("ci_hi"))
          .orderBy("event_type")
      },
      Some(
        """WITH e AS (
          |  SELECT event_type, event_id,
          |    CAST(floor("value" * 100.0) AS BIGINT) AS cents
          |  FROM events
          |), b AS (
          |  SELECT e.*, r.rep FROM e,
          |    (SELECT unnest(range(0, 40)) AS rep) r
          |), u AS (
          |  SELECT event_type, rep, cents,
          |    (CAST(('0x' || substr(md5('boot_' || event_id || '_' ||
          |       rep), 1, 6)) AS BIGINT) + 0.5) / 16777216.0 AS u
          |  FROM b
          |), w AS (
          |  SELECT event_type, rep, cents,
          |    CASE WHEN u < 0.36787944117144233 THEN 0
          |         WHEN u < 0.7357588823428847 THEN 1
          |         WHEN u < 0.9196986029286058 THEN 2
          |         WHEN u < 0.9810118431238462 THEN 3
          |         WHEN u < 0.9963401531726563 THEN 4
          |         WHEN u < 0.9994058151824183 THEN 5
          |         ELSE 6 END AS w
          |  FROM u
          |), reps AS (
          |  SELECT event_type, rep,
          |    CAST(sum(w * cents) AS DOUBLE) / CAST(sum(w) AS BIGINT)
          |      AS mean_c
          |  FROM w GROUP BY event_type, rep
          |  HAVING sum(w) > 0
          |), ranked AS (
          |  SELECT event_type, mean_c,
          |    CAST(row_number() OVER (PARTITION BY event_type
          |      ORDER BY mean_c, rep) AS INT) AS rk,
          |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
          |      AS nb
          |  FROM reps
          |), ci AS (
          |  SELECT event_type,
          |    min(CASE WHEN rk = 1 THEN mean_c END) AS lo_c,
          |    min(CASE WHEN rk = CAST(ceil(nb * 0.975) AS INT)
          |      THEN mean_c END) AS hi_c
          |  FROM ranked GROUP BY event_type
          |), base AS (
          |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(cents) AS BIGINT) AS sc
          |  FROM e GROUP BY event_type
          |)
          |SELECT event_type, n,
          |  round(CAST(sc AS DOUBLE) / n / 100.0, 4) AS mean_value,
          |  round(lo_c / 100.0, 4) AS ci_lo,
          |  round(hi_c / 100.0, 4) AS ci_hi
          |FROM base JOIN ci USING (event_type)
          |ORDER BY event_type""".stripMargin)),

    // ----- Dominant covariance direction of the embedding table by
    // power iteration — distributed PCA: the 64×64 scatter matrix is
    // ONE map-side-combinable aggregation over each row's dim² pairs
    // (a second posexplode inside the row; shuffle key cardinality =
    // dim² = 4096, independent of corpus size — at 100 TB this is the
    // standard one-pass Gram build), collected once; the 6 iterations
    // then run on the driver over those 4096 entries. Exactness:
    // embeddings floor-quantized to e3 integers; the CENTERED scatter
    // S = n·Σxᵢxⱼ − Σxᵢ·Σxⱼ is an exact co-moment; matvec accumulators
    // are exact (BigInt on the driver, HUGEINT in the oracle); each
    // iterate renormalizes to ‖v‖∞ = 10⁶ by a floor of the identical
    // double division on both engines (floor of a bitwise-identical
    // double — tie-free, the SURVEY §5 rule), so every iterate is an
    // exact integer vector and the fixpoint is engine-independent BY
    // CONSTRUCTION — convergence rate depends on the eigengap (this
    // isotropic fixture barely has one) but the reported iterate is
    // deterministic arithmetic either way. λ is the Rayleigh quotient
    // of the final iterate, one exact-integer ratio rounded in Spark.
    Q("m_pca_power",
      (s, d) => pcaPower(pcaScatter(s, d), 6),
      Some(pcaPowerOracle(6))),

    // ----- Multivariate OLS by exact normal equations — the linear
    // probe (price ~ β₀ + β₁·quantity + β₂·discount, per return flag)
    // every feature pipeline eventually fits, done the distributed
    // way: ONE map-side-combinable pass accumulates the 9 moment sums
    // (X'X and X'y entries — all exact integers from floor-quantized
    // inputs; [[Moments.normalSums]]), and the 3×3 system is solved in
    // closed form by Cramer's rule ([[Moments.cramer]]) with
    // determinants expanded in DECIMAL(38,0)/HUGEINT (cofactor
    // products stay under 10²⁸ at any tested SF; at true warehouse
    // scale you would center the regressors first to shrink the
    // determinant magnitudes — noted, not needed here).
    // Coefficients are one exact-integer ratio each; R² folds the
    // exact determinants into a single identically-associated double
    // expression (its exact-integer numerator det·Σy² would exceed
    // 128 bits, so the division happens first — same tree both
    // engines). No matrix library, no driver linear algebra: the
    // entire fit is a groupBy.agg plus scalar arithmetic.
    Q("m_ols_multi",
      (s, d) => {
        val li = Tables.lineitem(s, d).select(
          col("l_returnflag").as("flag"),
          floor(col("l_extendedprice") * 100.0).cast("long").as("yv"),
          floor(col("l_quantity")).cast("long").as("x1"),
          floor(col("l_discount") * 100.0).cast("long").as("x2"))
        val sums = Moments.normalSums(col("yv"), col("x1"), col("x2"))
        val m = li.groupBy("flag").agg(sums.head, sums.tail :+
          sum(exact(col("yv") * col("yv"))).as("syy"): _*)
        val Seq(detD, d0D, d1D, d2D) = Moments.cramer.map(_.cast("double"))
        val (n, sy, s1y, s2y) = (col("n"), col("sy"), col("s1y"), col("s2y"))
        val sse = col("syy").cast("double") -
          (d0D * sy.cast("double") + d1D * s1y.cast("double") +
            d2D * s2y.cast("double")) / detD
        val sst = col("syy").cast("double") -
          sy.cast("double") * sy.cast("double") / n.cast("double")
        m.select(col("flag").as("l_returnflag"), col("n"),
            round(d0D / detD, 4).as("beta0_cents"),
            round(d1D / detD, 4).as("beta1_cents"),
            round(d2D / detD, 4).as("beta2_cents"),
            round(lit(1.0) - sse / sst, 6).as("r2"))
          .orderBy("l_returnflag")
      },
      Some(
        """WITH li AS (
          |  SELECT l_returnflag AS flag,
          |    CAST(floor(l_extendedprice * 100.0) AS BIGINT) AS yv,
          |    CAST(floor(l_quantity) AS BIGINT) AS x1,
          |    CAST(floor(l_discount * 100.0) AS BIGINT) AS x2
          |  FROM lineitem
          |), m AS (
          |  SELECT flag, CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(x1) AS BIGINT) AS s1,
          |    CAST(sum(x2) AS BIGINT) AS s2,
          |    CAST(sum(x1 * x1) AS BIGINT) AS s11,
          |    CAST(sum(x1 * x2) AS BIGINT) AS s12,
          |    CAST(sum(x2 * x2) AS BIGINT) AS s22,
          |    CAST(sum(yv) AS BIGINT) AS sy,
          |    CAST(sum(x1 * yv) AS BIGINT) AS s1y,
          |    CAST(sum(x2 * yv) AS BIGINT) AS s2y,
          |    sum(CAST(yv AS HUGEINT) * yv) AS syy
          |  FROM li GROUP BY flag
          |), dets AS (
          |  SELECT flag, n, sy, s1y, s2y, syy,
          |    CAST(n AS HUGEINT) * (CAST(s11 AS HUGEINT) * s22 -
          |        CAST(s12 AS HUGEINT) * s12) -
          |      CAST(s1 AS HUGEINT) * (CAST(s1 AS HUGEINT) * s22 -
          |        CAST(s12 AS HUGEINT) * s2) +
          |      CAST(s2 AS HUGEINT) * (CAST(s1 AS HUGEINT) * s12 -
          |        CAST(s11 AS HUGEINT) * s2) AS deta,
          |    CAST(sy AS HUGEINT) * (CAST(s11 AS HUGEINT) * s22 -
          |        CAST(s12 AS HUGEINT) * s12) -
          |      CAST(s1 AS HUGEINT) * (CAST(s1y AS HUGEINT) * s22 -
          |        CAST(s12 AS HUGEINT) * s2y) +
          |      CAST(s2 AS HUGEINT) * (CAST(s1y AS HUGEINT) * s12 -
          |        CAST(s11 AS HUGEINT) * s2y) AS d0,
          |    CAST(n AS HUGEINT) * (CAST(s1y AS HUGEINT) * s22 -
          |        CAST(s12 AS HUGEINT) * s2y) -
          |      CAST(sy AS HUGEINT) * (CAST(s1 AS HUGEINT) * s22 -
          |        CAST(s12 AS HUGEINT) * s2) +
          |      CAST(s2 AS HUGEINT) * (CAST(s1 AS HUGEINT) * s2y -
          |        CAST(s1y AS HUGEINT) * s2) AS d1,
          |    CAST(n AS HUGEINT) * (CAST(s11 AS HUGEINT) * s2y -
          |        CAST(s1y AS HUGEINT) * s12) -
          |      CAST(s1 AS HUGEINT) * (CAST(s1 AS HUGEINT) * s2y -
          |        CAST(s1y AS HUGEINT) * s2) +
          |      CAST(sy AS HUGEINT) * (CAST(s1 AS HUGEINT) * s12 -
          |        CAST(s11 AS HUGEINT) * s2) AS d2
          |  FROM m
          |)
          |SELECT flag AS l_returnflag, n,
          |  round(CAST(d0 AS DOUBLE) / CAST(deta AS DOUBLE), 4)
          |    AS beta0_cents,
          |  round(CAST(d1 AS DOUBLE) / CAST(deta AS DOUBLE), 4)
          |    AS beta1_cents,
          |  round(CAST(d2 AS DOUBLE) / CAST(deta AS DOUBLE), 4)
          |    AS beta2_cents,
          |  round(1.0 - (CAST(syy AS DOUBLE) -
          |    (CAST(d0 AS DOUBLE) * CAST(sy AS DOUBLE) +
          |     CAST(d1 AS DOUBLE) * CAST(s1y AS DOUBLE) +
          |     CAST(d2 AS DOUBLE) * CAST(s2y AS DOUBLE)) /
          |      CAST(deta AS DOUBLE)) /
          |    (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) *
          |      CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS r2
          |FROM dets ORDER BY l_returnflag""".stripMargin)),

    // ----- Mutual information feature screen over the embedding
    // table — which dimensions carry signal about the label? The
    // standard filter-method feature selector (Cover & Thomas ch. 2),
    // computed at corpus scale as pure counting: each (dim, value-
    // band, label-side) cell is one exact integer from a single
    // map-side-combinable pass over the exploded vectors (cell
    // cardinality = 64 dims × 3 bands × 2 sides — bounded by the
    // grids, never the corpus), and MI = Σ p·ln(p·n/(p_b·p_y))
    // evaluates over those exact counts. `ln` feeds ONLY the rounded
    // report column (the m_entropy convention; output order is by
    // dim, never by the float). The label side is the same `label ≥ 5`
    // detector m_auc evaluates — near-zero MI on this isotropic
    // fixture is the honest reading, exactly what the screen exists
    // to report.
    Q("m_feature_select_mi",
      (s, d) => {
        val ex = Tables.embeddings(s, d)
          .select((col("label") >= 5).as("y"),
            posexplode(col("embedding")))
          .select(col("y"), (col("pos") + 1).cast("long").as("i"),
            floor(col("col").cast("double") * 1000.0).cast("long")
              .as("q"))
          .select(col("y"), col("i"),
            when(col("q") < -100L, -1L).when(col("q") > 100L, 1L)
              .otherwise(0L).as("b"))
        val cells = ex.groupBy("i", "b", "y")
          .agg(count(lit(1)).as("c"))
        val nb = cells.groupBy("i", "b").agg(sum("c").as("cb"))
        val ny = cells.groupBy("i", "y").agg(sum("c").as("cy"))
        val nn = cells.groupBy("i").agg(sum("c").as("n"))
        cells.join(nb, Seq("i", "b")).join(ny, Seq("i", "y"))
          .join(nn, Seq("i"))
          .groupBy("i")
          .agg(round(sum((col("c").cast("double") / col("n")) *
            log((col("c") * col("n")).cast("double") /
              (col("cb") * col("cy")).cast("double"))), 6).as("mi_nats"))
          .orderBy("i")
      },
      Some(
        """WITH ex AS (
          |  SELECT label >= 5 AS y, i,
          |    CASE WHEN CAST(floor(CAST(x AS DOUBLE) * 1000.0)
          |           AS BIGINT) < -100 THEN -1
          |         WHEN CAST(floor(CAST(x AS DOUBLE) * 1000.0)
          |           AS BIGINT) > 100 THEN 1
          |         ELSE 0 END AS b
          |  FROM (SELECT label, unnest(embedding) AS x,
          |          generate_subscripts(embedding, 1) AS i
          |        FROM embeddings)
          |), cells AS (
          |  SELECT i, b, y, CAST(count(*) AS BIGINT) AS c
          |  FROM ex GROUP BY i, b, y
          |), nb AS (
          |  SELECT i, b, CAST(sum(c) AS BIGINT) AS cb
          |  FROM cells GROUP BY i, b
          |), ny AS (
          |  SELECT i, y, CAST(sum(c) AS BIGINT) AS cy
          |  FROM cells GROUP BY i, y
          |), nn AS (
          |  SELECT i, CAST(sum(c) AS BIGINT) AS n FROM cells GROUP BY i
          |)
          |SELECT i,
          |  round(sum((CAST(c AS DOUBLE) / n) *
          |    ln(CAST(c * n AS DOUBLE) / CAST(cb * cy AS DOUBLE))), 6)
          |    AS mi_nats
          |FROM cells JOIN nb USING (i, b) JOIN ny USING (i, y)
          |JOIN nn USING (i)
          |GROUP BY i ORDER BY i""".stripMargin)),

    // ----- Rank-1 ALS matrix factorization (Koren/Bell/Volinsky 2009;
    // the Spark-canonical collaborative-filtering workload) over the
    // order×part quantity matrix: alternate u_i = Σr·v/Σv² (per
    // order, over its observed parts) and v_j = Σr·u/Σu² for two full
    // rounds from a constant v₀. The capped ratings are collected once
    // and each half-step runs on the driver (see [[alsRank1]]).
    // Engine-exactness on the k22 integer grid: factors live at e6
    // fixed point, every Σr·v and Σv² accumulates exactly (BigInt on
    // the driver, HUGEINT in the oracle), and each half-step floors
    // the identical double division 10¹²·num/den — so both engines
    // walk the same integer iterate sequence. The fit report (RMSE)
    // squares e6-truncated residuals so its sum stays exact at any
    // corpus size instead of riding an order-dependent float
    // aggregation. Output: top-10 factors per side + the global
    // reconstruction RMSE.
    Q("m_als_rank1",
      (s, d) => alsRank1(Tables.lineitem(s, d)
        .filter(col("l_orderkey") < 2000 && col("l_partkey") < 2000)
        .groupBy(col("l_orderkey").as("i"), col("l_partkey").as("j"))
        .agg(sum(floor(col("l_quantity")).cast("long")).as("r")), 2),
      Some(alsOracle(2))),

    // ----- Calibration / reliability readout (Murphy 1973 Brier
    // decomposition; the reliability-diagram table every released
    // classifier ships with): the m_auc detector (embedding dim 1 as
    // a score for label ≥ 5) bucketed into 10 fixed score bands, each
    // band reporting its size, positive count, and empirical rate in
    // floor basis points. The global Brier score of the
    // band-calibrated predictor collapses per band to the binomial
    // variance pos·(n−pos)/n — an algebraic identity that turns the
    // float Σ(p−y)² into per-band integer terms: each is floored at
    // ppm scale (positive operands, so truncating integer division
    // IS floor on both engines) and their sum is an exact BIGINT —
    // no 10-row float aggregation whose order could differ. Scale:
    // one map-side pass to cells, a 10-row rollup, a 1-row capsule.
    Q("m_calibration",
      (s, d) => {
        val sc = Tables.embeddings(s, d)
          .select((col("label") >= 5).as("y"),
            floor(element_at(col("embedding"), 1).cast("double")
              * 1000.0).cast("long").as("q"))
          .select(col("y"),
            greatest(least(floor(col("q") / lit(100.0)).cast("long"),
              lit(4L)), lit(-5L)).as("bin"))
        val bins = sc.groupBy("bin")
          .agg(count(lit(1)).as("n"),
            sum(when(col("y"), 1L).otherwise(0L)).as("pos"))
        val cap = bins
          .withColumn("t", expr("pos * (n - pos) * 1000000 div n"))
          .agg(sum(col("t")).as("num"), sum(col("n")).as("den"))
          .select(floor(col("num").cast("double") /
            col("den").cast("double")).cast("long").as("brier_ppm"))
        bins.crossJoin(broadcast(cap))
          .select(col("bin"), col("n"), col("pos"),
            floor(col("pos") * 10000L / col("n")).cast("long")
              .as("pos_rate_bp"),
            col("brier_ppm"))
          .orderBy("bin")
      },
      Some(
        """WITH sc AS (
          |  SELECT label >= 5 AS y,
          |    greatest(least(CAST(floor(CAST(floor(
          |      CAST(embedding[1] AS DOUBLE) * 1000.0) AS BIGINT)
          |      / 100.0) AS BIGINT), 4), -5) AS bin
          |  FROM embeddings
          |), bins AS (
          |  SELECT bin, CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos
          |  FROM sc GROUP BY bin
          |), cap AS (
          |  SELECT CAST(floor(
          |      CAST(sum(pos * (n - pos) * 1000000 // n) AS DOUBLE) /
          |      CAST(sum(n) AS DOUBLE)) AS BIGINT) AS brier_ppm
          |  FROM bins
          |)
          |SELECT bin, n, pos,
          |  pos * 10000 // n AS pos_rate_bp, cap.brier_ppm
          |FROM bins CROSS JOIN cap
          |ORDER BY bin""".stripMargin)),

    // ----- Split-conformal prediction interval (Papadopoulos et al.
    // 2002; Vovk's inductive conformal) on the m_ols_multi fit — the
    // distribution-free uncertainty wrapper production ML actually
    // ships: fit on the even-orderkey half, take q̂ = the
    // ⌈0.9·(n+1)⌉-th smallest absolute residual on the odd-orderkey
    // calibration half, and ±q̂ around any future prediction covers
    // ≥ 90% by exchangeability alone — no distributional assumption.
    // Exactness: the fit is the same exact-Cramer determinant
    // pipeline (128-bit cofactors, train half only); each calibration
    // residual floors the identical double expression |y − ŷ| to
    // integer cents; q̂ is an ORDER-STATISTIC selection over the
    // residual frequency table (min level with cum ≥ ⌈0.9(n+1)⌉ —
    // integer threshold, the m_winsorize nearest-rank form), so no
    // float ever decides which residual becomes the quantile. Scale:
    // two map-side moment passes + one grid-bounded cum window.
    Q("m_conformal",
      (s, d) => {
        // staged: the projected table feeds the train-half moment pass
        // and the calibration-half residual pass (two full scans of
        // the same five derived columns before the cut)
        val li = Tables.lineitem(s, d).select(
          col("l_returnflag").as("flag"),
          (col("l_orderkey") % 2 === 0).as("train"),
          floor(col("l_extendedprice") * 100.0).cast("long").as("yv"),
          floor(col("l_quantity")).cast("long").as("x1"),
          floor(col("l_discount") * 100.0).cast("long").as("x2"))
          .stageCkpt()
        val sums = Moments.normalSums(col("yv"), col("x1"), col("x2"))
        val m = li.filter(col("train")).groupBy("flag")
          .agg(sums.head, sums.tail: _*)
        val Seq(deta, d0, d1, d2) = Moments.cramer.map(_.cast("double"))
        val fit = m.select(col("flag"), col("n").as("n_train"),
          deta.as("deta"), d0.as("d0"), d1.as("d1"), d2.as("d2"))
        val cal = li.filter(!col("train"))
          .join(broadcast(fit), Seq("flag"))
          .select(col("flag"), col("n_train"),
            floor(abs(col("yv").cast("double") -
              (col("d0") + col("d1") * col("x1") +
                col("d2") * col("x2")) / col("deta"))).cast("long")
              .as("r"))
        // staged: the residual frequency table feeds the per-flag
        // totals, the coarse bucket subtotals AND the in-bucket
        // selection — three re-runs of the scan+fit+residual subtree
        // before the cut
        val freq = cal.groupBy("flag", "n_train", "r")
          .agg(count(lit(1)).as("t"))
          .stageCkpt()
        val nc = freq.groupBy("flag").agg(sum("t").as("n_cal"))
        // Order-statistic selection WITHOUT a full per-flag cum window:
        // `flag` has 3 distinct values, so a window over the raw
        // residual-frequency table runs 3-way parallel over millions
        // of distinct cents at scale (measured: the sf3→sf10 tail hit
        // 1.50 — a low-cardinality-partition wall, not an asymptote).
        // Instead: (1) coarse-bucket r (b = r div 2^16) and cum-sum
        // per-flag over BUCKET subtotals — a keyed distributed agg
        // plus a window of a few hundred rows; (2) pick the first
        // bucket whose running total crosses the ⌈0.9(n+1)⌉ threshold,
        // carrying the count BEFORE it; (3) cum-sum only INSIDE that
        // one bucket (≤ 65536 distinct r per flag). Same exact qhat —
        // the selection predicate below is textually the original.
        val bfreq = freq
          .withColumn("b", (col("r") / 65536L).cast("long"))
          .groupBy("flag", "b").agg(sum("t").as("bt"))
        val wb = Window.partitionBy("flag").orderBy("b")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val bcum = bfreq.withColumn("bcum", sum("bt").over(wb))
          .join(broadcast(nc), Seq("flag"))
        val tb = bcum
          .filter(col("bcum") * 10L >= (col("n_cal") + 1L) * 9L)
          .groupBy("flag")
          .agg(min(struct(col("b"), col("bcum"), col("bt"))).as("m"))
          .select(col("flag"), col("m.b").as("tb"),
            (col("m.bcum") - col("m.bt")).as("before"))
        val cum = freq
          .withColumn("b", (col("r") / 65536L).cast("long"))
          .join(broadcast(tb), Seq("flag"))
          .filter(col("b") === col("tb"))
          .withColumn("cum",
            col("before") + sum("t").over(
              Window.partitionBy("flag").orderBy("r")
                .rowsBetween(Window.unboundedPreceding,
                  Window.currentRow)))
        val qhat = cum.join(broadcast(nc), Seq("flag"))
          .filter(col("cum") * 10L >= (col("n_cal") + 1L) * 9L)
          .groupBy("flag", "n_train", "n_cal")
          .agg(min(col("r")).as("qhat_cents"))
        cal.join(broadcast(qhat.select("flag", "qhat_cents", "n_cal")),
            Seq("flag"))
          .groupBy("flag")
          .agg(first("n_train").as("n_train"),
            first("n_cal").as("n_cal"),
            first("qhat_cents").as("qhat_cents"),
            floor(sum(when(col("r") <= col("qhat_cents"), 1L)
              .otherwise(0L)) * 10000.0 / count(lit(1))).cast("long")
              .as("coverage_bp"))
          .select(col("flag").as("l_returnflag"), col("n_train"),
            col("n_cal"), col("qhat_cents"), col("coverage_bp"))
          .orderBy("l_returnflag")
      },
      Some(
        """WITH li AS (
          |  SELECT l_returnflag AS flag, l_orderkey % 2 = 0 AS train,
          |    CAST(floor(l_extendedprice * 100.0) AS BIGINT) AS yv,
          |    CAST(floor(l_quantity) AS BIGINT) AS x1,
          |    CAST(floor(l_discount * 100.0) AS BIGINT) AS x2
          |  FROM lineitem
          |), m AS (
          |  SELECT flag, CAST(count(*) AS BIGINT) AS n_train,
          |    CAST(sum(x1) AS BIGINT) AS s1,
          |    CAST(sum(x2) AS BIGINT) AS s2,
          |    CAST(sum(x1 * x1) AS BIGINT) AS s11,
          |    CAST(sum(x1 * x2) AS BIGINT) AS s12,
          |    CAST(sum(x2 * x2) AS BIGINT) AS s22,
          |    CAST(sum(yv) AS BIGINT) AS sy,
          |    CAST(sum(x1 * yv) AS BIGINT) AS s1y,
          |    CAST(sum(x2 * yv) AS BIGINT) AS s2y
          |  FROM li WHERE train GROUP BY flag
          |), fit AS (
          |  SELECT flag, n_train,
          |    CAST(CAST(n_train AS HUGEINT) *
          |        (CAST(s11 AS HUGEINT) * s22 -
          |         CAST(s12 AS HUGEINT) * s12) -
          |      CAST(s1 AS HUGEINT) * (CAST(s1 AS HUGEINT) * s22 -
          |        CAST(s12 AS HUGEINT) * s2) +
          |      CAST(s2 AS HUGEINT) * (CAST(s1 AS HUGEINT) * s12 -
          |        CAST(s11 AS HUGEINT) * s2) AS DOUBLE) AS deta,
          |    CAST(CAST(sy AS HUGEINT) *
          |        (CAST(s11 AS HUGEINT) * s22 -
          |         CAST(s12 AS HUGEINT) * s12) -
          |      CAST(s1 AS HUGEINT) * (CAST(s1y AS HUGEINT) * s22 -
          |        CAST(s12 AS HUGEINT) * s2y) +
          |      CAST(s2 AS HUGEINT) * (CAST(s1y AS HUGEINT) * s12 -
          |        CAST(s11 AS HUGEINT) * s2y) AS DOUBLE) AS d0,
          |    CAST(CAST(n_train AS HUGEINT) *
          |        (CAST(s1y AS HUGEINT) * s22 -
          |         CAST(s12 AS HUGEINT) * s2y) -
          |      CAST(sy AS HUGEINT) * (CAST(s1 AS HUGEINT) * s22 -
          |        CAST(s12 AS HUGEINT) * s2) +
          |      CAST(s2 AS HUGEINT) * (CAST(s1 AS HUGEINT) * s2y -
          |        CAST(s1y AS HUGEINT) * s2) AS DOUBLE) AS d1,
          |    CAST(CAST(n_train AS HUGEINT) *
          |        (CAST(s11 AS HUGEINT) * s2y -
          |         CAST(s1y AS HUGEINT) * s12) -
          |      CAST(s1 AS HUGEINT) * (CAST(s1 AS HUGEINT) * s2y -
          |        CAST(s1y AS HUGEINT) * s2) +
          |      CAST(sy AS HUGEINT) * (CAST(s1 AS HUGEINT) * s12 -
          |        CAST(s11 AS HUGEINT) * s2) AS DOUBLE) AS d2
          |  FROM m
          |), cal AS (
          |  SELECT li.flag, fit.n_train,
          |    CAST(floor(abs(CAST(yv AS DOUBLE) -
          |      (d0 + d1 * x1 + d2 * x2) / deta)) AS BIGINT) AS r
          |  FROM li JOIN fit USING (flag) WHERE NOT train
          |), freq AS (
          |  SELECT flag, n_train, r, CAST(count(*) AS BIGINT) AS t
          |  FROM cal GROUP BY flag, n_train, r
          |), cum AS (
          |  SELECT flag, n_train, r, t,
          |    CAST(sum(t) OVER (PARTITION BY flag ORDER BY r
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |      AS BIGINT) AS cum
          |  FROM freq
          |), nc AS (
          |  SELECT flag, CAST(sum(t) AS BIGINT) AS n_cal
          |  FROM freq GROUP BY flag
          |), qhat AS (
          |  SELECT c.flag, c.n_train, nc.n_cal,
          |    min(c.r) AS qhat_cents
          |  FROM cum c JOIN nc USING (flag)
          |  WHERE c.cum * 10 >= (nc.n_cal + 1) * 9
          |  GROUP BY c.flag, c.n_train, nc.n_cal
          |)
          |SELECT cal.flag AS l_returnflag,
          |  min(q.n_train) AS n_train, min(q.n_cal) AS n_cal,
          |  min(q.qhat_cents) AS qhat_cents,
          |  CAST(floor(sum(CASE WHEN cal.r <= q.qhat_cents
          |      THEN 1 ELSE 0 END) * 10000.0 / count(*)) AS BIGINT)
          |    AS coverage_bp
          |FROM cal JOIN qhat q USING (flag)
          |GROUP BY cal.flag ORDER BY l_returnflag""".stripMargin)),

    // ----- Empirical-Bayes rate shrinkage (beta-binomial, method of
    // moments — Robbins 1956; the ads/recsys "CTR smoothing"
    // production pattern): per-user conversion rates (events with
    // value > 200) are noisy for low-activity users, so each rate is
    // shrunk toward the population prior Beta(α, β), fitted by MoM
    // from the across-user rate distribution. Exactness: each user's
    // raw rate is floor-quantized to an e6 integer (one identical
    // double division + floor), so the population moment sums are
    // EXACT BIGINTs; α and β derive from those exact integers in one
    // identically-associated double expression, and the posterior
    // mean (pos + α)/(n + α + β) is again a single shared expression
    // rounded 4dp — the only floats in the pipeline are
    // deterministic scalars, never aggregated. Scale: one keyed
    // aggregate to per-user counts, one 1-row moment capsule
    // broadcast back. Degenerate guard: if the rate variance exceeds
    // μ(1−μ) (prior undefined) the posterior falls back to the raw
    // rate — expressed with the same when() on both engines.
    Q("m_eb_shrinkage",
      (s, d) => {
        val peru = Tables.events(s, d)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n"),
            sum(when(col("value") > 200.0, 1L).otherwise(0L))
              .as("pos"))
          .withColumn("r6",
            floor(col("pos") * 1000000.0 / col("n")).cast("long"))
        val cap = peru.agg(count(lit(1)).as("u"),
          sum("r6").as("sr"), sum(col("r6") * col("r6")).as("srr"))
        val mu = col("sr").cast("double") / col("u") / 1000000.0
        val vr = (col("srr").cast("double") / col("u") -
          (col("sr").cast("double") / col("u")) *
            (col("sr").cast("double") / col("u"))) / 1.0e12
        val kf = mu * (lit(1.0) - mu) / vr - lit(1.0)
        val prior = cap.select(col("u"),
          (mu * kf).as("alpha"), ((lit(1.0) - mu) * kf).as("beta"),
          (vr > lit(0.0) && kf > lit(0.0)).as("ok"))
        peru.crossJoin(broadcast(prior))
          .select(col("user_id"), col("n"), col("pos"),
            floor(col("pos") * 10000.0 / col("n")).cast("long")
              .as("raw_bp"),
            // alpha/beta gated by the SAME `ok` guard as shrunk_rate:
            // a degenerate fixture with zero across-user rate variance
            // would otherwise report NaN/Inf from the mu(1-mu)/vr
            // division on one engine and diverge (round-6 ADVICE)
            round(when(col("ok"), col("alpha")), 4).as("alpha"),
            round(when(col("ok"), col("beta")), 4).as("beta"),
            round(when(col("ok"),
              (col("pos") + col("alpha")) /
                (col("n") + col("alpha") + col("beta")))
              .otherwise(col("pos").cast("double") / col("n")), 4)
              .as("shrunk_rate"))
          .orderBy("user_id")
      },
      Some(
        """WITH peru AS (
          |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(CASE WHEN "value" > 200.0 THEN 1 ELSE 0 END)
          |      AS BIGINT) AS pos
          |  FROM events GROUP BY user_id
          |), q AS (
          |  SELECT user_id, n, pos,
          |    CAST(floor(pos * 1000000.0 / n) AS BIGINT) AS r6
          |  FROM peru
          |), cap AS (
          |  SELECT CAST(count(*) AS BIGINT) AS u,
          |    CAST(sum(r6) AS BIGINT) AS sr,
          |    CAST(sum(r6 * r6) AS BIGINT) AS srr
          |  FROM q
          |), prior AS (
          |  SELECT u,
          |    (CAST(sr AS DOUBLE) / u / 1000000.0) *
          |      ((CAST(sr AS DOUBLE) / u / 1000000.0) *
          |       (1.0 - CAST(sr AS DOUBLE) / u / 1000000.0) /
          |       ((CAST(srr AS DOUBLE) / u -
          |         (CAST(sr AS DOUBLE) / u) *
          |         (CAST(sr AS DOUBLE) / u)) / 1.0e12) - 1.0)
          |      AS alpha,
          |    (1.0 - CAST(sr AS DOUBLE) / u / 1000000.0) *
          |      ((CAST(sr AS DOUBLE) / u / 1000000.0) *
          |       (1.0 - CAST(sr AS DOUBLE) / u / 1000000.0) /
          |       ((CAST(srr AS DOUBLE) / u -
          |         (CAST(sr AS DOUBLE) / u) *
          |         (CAST(sr AS DOUBLE) / u)) / 1.0e12) - 1.0)
          |      AS beta,
          |    ((CAST(srr AS DOUBLE) / u -
          |      (CAST(sr AS DOUBLE) / u) *
          |      (CAST(sr AS DOUBLE) / u)) / 1.0e12 > 0.0
          |     AND (CAST(sr AS DOUBLE) / u / 1000000.0) *
          |       (1.0 - CAST(sr AS DOUBLE) / u / 1000000.0) /
          |       ((CAST(srr AS DOUBLE) / u -
          |         (CAST(sr AS DOUBLE) / u) *
          |         (CAST(sr AS DOUBLE) / u)) / 1.0e12) - 1.0 > 0.0)
          |      AS ok
          |  FROM cap
          |)
          |SELECT q.user_id, q.n, q.pos,
          |  CAST(floor(q.pos * 10000.0 / q.n) AS BIGINT) AS raw_bp,
          |  round(CASE WHEN p.ok THEN p.alpha END, 4) AS alpha,
          |  round(CASE WHEN p.ok THEN p.beta END, 4) AS beta,
          |  round(CASE WHEN p.ok THEN
          |      (q.pos + p.alpha) / (q.n + p.alpha + p.beta)
          |    ELSE CAST(q.pos AS DOUBLE) / q.n END, 4)
          |    AS shrunk_rate
          |FROM q CROSS JOIN prior p
          |ORDER BY q.user_id""".stripMargin)),
  )

  /** The m_pca_power scatter matrix `(i, j, sij)`: the exact co-moment
    * n·Σqᵢqⱼ − Σqᵢ·Σqⱼ of the e3-quantized embedding dims, symmetric
    * in (i, j). A second posexplode inside each row yields its dim²
    * pairs, and the (i, j) aggregate combines them map-side, below its
    * 4096-key shuffle: no self-join, no |N|·dim² shuffled rows. */
  private[graft] def pcaScatter(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(transform(col("embedding"),
        x => floor(x.cast("double") * 1000.0).cast("long")).as("q"))
      .select(col("q"), posexplode(col("q")).as(Seq("pi", "qi")))
      .select(col("pi"), col("qi"), posexplode(col("q")).as(Seq("pj", "qj")))
      .groupBy((col("pi") + 1).cast("long").as("i"),
        (col("pj") + 1).cast("long").as("j"))
      .agg(count(lit(1)).as("n"), sum("qi").as("si"), sum("qj").as("sj"),
        sum(col("qi") * col("qj")).as("g"))
      .select(col("i"), col("j"),
        Moments.comoment(col("n"), col("si"), col("sj"), col("g"))
          .as("sij"))

  /** Power iteration on the driver over a `(i, j, sij)` scatter,
    * collected once: `iters` rounds of [[Moments.matvec]] from the
    * all-10⁶ vector, each renormalized to ‖v‖∞ = 10⁶, then the Rayleigh
    * quotient of the last iterate. Returns `(i, v_e6, lambda_scat)`;
    * an empty scatter gives no rows.
    */
  private[graft] def pcaPower(scat: DataFrame, iters: Int): DataFrame = {
    val m = scat.select(col("i"), col("j"), col("sij")).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        BigInt(r.getDecimal(2).toBigInteger)))
    Graph.checkDriverRows("PCA scatter", m.length)
    val v0 = m.map(_._1).distinct.map(_ -> BigInt(1000000)).toMap
    val v = (1 to iters).foldLeft(v0) { (v, _) =>
      val u = Moments.matvec(m, v)
      u.values.map(_.abs).maxOption.fold(u)(by =>
        u.map { case (i, x) => i -> BigInt(Moments.renorm(x, 1e6, by)) })
    }
    val num = Moments.matvec(m, v)
      .collect { case (i, x) if v.contains(i) => x * v(i) }.sum
    val den = v.values.map(x => x * x).sum
    val lam = Decimal(num).toDouble / Decimal(den).toDouble
    // lambda rendered round(-3): num is an exact integer ~1e26 at sf1,
    // so its conversion to double itself rounds and the engines differ
    // by one ulp (~1e-3 at lambda ~7.7e12) — a 4dp grid can't even be
    // represented there. Thousands are exactly representable far past
    // any fixture scale, and the ulp can't flip a 500-boundary.
    Moments.local(scat.sparkSession, "i BIGINT NOT NULL, v_e6 BIGINT, " +
        "lam DOUBLE", v.toSeq.map { case (i, x) => (i, x.toLong, lam) })
      .select(col("i"), col("v_e6"), round(col("lam"), -3).as("lambda_scat"))
      .orderBy("i")
  }

  /** Rank-1 ALS on the driver over `(i, j, r)` ratings, collected once:
    * `rounds` pairs of half-steps from the all-10⁶ part factors, each
    * solving one side's factor as floor(10¹²·Σr·f / Σf²) over its
    * observed ratings. The RMSE, the top-10 per side and their union
    * run as one Spark plan over `LocalRelation`s of the ratings and the
    * two factor vectors; empty ratings give no rows.
    */
  private[graft] def alsRank1(ratings: DataFrame, rounds: Int): DataFrame = {
    val s = ratings.sparkSession
    val r = ratings.select(col("i"), col("j"), col("r")).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    Graph.checkDriverRows("ALS ratings", r.length)
    // (solved side, given side, rating) entries for each half-step
    val byPart = r.map { case (i, j, x) => (i, j, BigInt(x)) }
    val byOrder = r.map { case (i, j, x) => (j, i, BigInt(x)) }
    def halfStep(rs: Iterable[(Long, Long, BigInt)], f: Map[Long, BigInt]) = {
      val num = Moments.matvec(rs, f)
      val den = Moments.matvec(rs.map { case (o, g, _) => (o, g, BigInt(1)) },
        f.map { case (k, x) => k -> x * x })
      num.map { case (o, x) => o -> BigInt(Moments.renorm(x, 1e12, den(o))) }
    }
    val v0 = r.map(_._2).distinct.map(_ -> BigInt(1000000)).toMap
    val (u, v) = (1 to rounds).foldLeft((Map.empty[Long, BigInt], v0)) {
      case ((_, v), _) =>
        val u = halfStep(byPart, v)
        (u, halfStep(byOrder, u))
    }
    def factors(f: Map[Long, BigInt], key: String) = Moments.local(s,
      s"$key BIGINT, f BIGINT", f.toSeq.map { case (k, x) => (k, x.toLong) })
    val (uf, vf) = (factors(u, "i"), factors(v, "j"))
    val rmse = Moments.local(s, "i BIGINT, j BIGINT, r BIGINT", r.toSeq)
      .join(uf.select(col("i"), col("f").as("fu")), Seq("i"))
      .join(vf.select(col("j"), col("f").as("fv")), Seq("j"))
      // residual truncated to e6 units via a floor of the identical
      // double division (never BIGINT `div`: Spark truncates toward
      // zero where DuckDB's `//` floors — they disagree on negative
      // residuals), so the squared sum is exact and order-free
      .select(floor((col("r") * 1000000000000L -
          col("fu") * col("fv")).cast("double") / 1000000.0)
        .cast("long").as("d6"))
      .agg(round(
        sqrt(sum(exact(col("d6")) * col("d6")).cast("double") /
          count(lit(1)).cast("double")) / 1000000.0, 4)
        .as("rmse"))
    val topU = uf.orderBy(desc("f"), col("i")).limit(10)
      .select(lit("order").as("role"), col("i").as("id"),
        col("f").as("factor_e6"))
    val topV = vf.orderBy(desc("f"), col("j")).limit(10)
      .select(lit("part").as("role"), col("j").as("id"),
        col("f").as("factor_e6"))
    topU.unionByName(topV).crossJoin(rmse)
      .orderBy(col("role"), desc("factor_e6"), col("id"))
  }

  /** Unrolled rank-1 ALS oracle: ratings + each half-step factor
    * vector as MATERIALIZED CTEs (every factor table is referenced by
    * the next half-step AND the final RMSE/top-k — default inlining
    * would re-run the chain per reference). */
  private def alsOracle(rounds: Int): String = {
    val steps = (1 to rounds).map { k =>
      s"""u$k AS MATERIALIZED (
         |  SELECT r.i, CAST(floor(
         |    CAST(sum(CAST(r.r AS HUGEINT) * v.f) AS DOUBLE)
         |      * 1000000000000.0 /
         |    CAST(sum(CAST(v.f AS HUGEINT) * v.f) AS DOUBLE))
         |    AS BIGINT) AS f
         |  FROM ratings r JOIN v${k - 1} v USING (j) GROUP BY r.i),
         |v$k AS MATERIALIZED (
         |  SELECT r.j, CAST(floor(
         |    CAST(sum(CAST(r.r AS HUGEINT) * u.f) AS DOUBLE)
         |      * 1000000000000.0 /
         |    CAST(sum(CAST(u.f AS HUGEINT) * u.f) AS DOUBLE))
         |    AS BIGINT) AS f
         |  FROM ratings r JOIN u$k u USING (i) GROUP BY r.j)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH ratings AS MATERIALIZED (
       |  SELECT l_orderkey AS i, l_partkey AS j,
       |    CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS r
       |  FROM lineitem
       |  WHERE l_orderkey < 2000 AND l_partkey < 2000
       |  GROUP BY 1, 2
       |), v0 AS (
       |  SELECT DISTINCT j, CAST(1000000 AS BIGINT) AS f FROM ratings
       |),
       |$steps,
       |rmse AS (
       |  SELECT round(sqrt(
       |      CAST(sum(CAST(d6 AS HUGEINT) * d6) AS DOUBLE) /
       |      CAST(count(*) AS DOUBLE))
       |      / 1000000.0, 4) AS rmse
       |  FROM (
       |    SELECT CAST(floor(CAST(r.r * 1000000000000 - u.f * v.f
       |      AS DOUBLE) / 1000000.0) AS BIGINT) AS d6
       |    FROM ratings r JOIN u$rounds u USING (i)
       |    JOIN v$rounds v USING (j))
       |)
       |SELECT role, id, factor_e6, rmse.rmse FROM (
       |  SELECT * FROM (
       |    SELECT 'order' AS role, i AS id, f AS factor_e6
       |    FROM u$rounds ORDER BY f DESC, i LIMIT 10)
       |  UNION ALL
       |  SELECT * FROM (
       |    SELECT 'part' AS role, j AS id, f AS factor_e6
       |    FROM v$rounds ORDER BY f DESC, j LIMIT 10)
       |) CROSS JOIN rmse
       |ORDER BY role, factor_e6 DESC, id""".stripMargin
  }

  /** Unrolled power-iteration oracle: the scatter matrix and each
    * normalized iterate as chained CTEs — v0 is the all-10⁶ vector,
    * each step one matvec in HUGEINT + one max-abs renormalization
    * floored from the identical double division Spark performs.
    * Every chained CTE is MATERIALIZED: each uₖ is referenced twice
    * (the matvec and its own max-abs scalar subquery), and DuckDB's
    * default inlining would re-evaluate the whole upstream chain per
    * reference — exponential in the iteration count. */
  private def pcaPowerOracle(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""u$k AS MATERIALIZED (
         |  SELECT s.i, sum(CAST(s.sij AS HUGEINT) * v.v) AS u
         |  FROM scat s JOIN v${k - 1} v ON v.i = s.j
         |  GROUP BY s.i),
         |v$k AS MATERIALIZED (
         |  SELECT i, CAST(floor(CAST(u AS DOUBLE) * 1000000.0 /
         |    CAST((SELECT max(abs(u)) FROM u$k) AS DOUBLE)) AS BIGINT)
         |    AS v
         |  FROM u$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH ex AS (
       |  SELECT vec_id, i,
       |    CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT) AS q
       |  FROM (SELECT vec_id, unnest(embedding) AS x,
       |          generate_subscripts(embedding, 1) AS i
       |        FROM embeddings)
       |), nn AS (SELECT CAST(count(*) AS BIGINT) AS n
       |          FROM embeddings),
       |sums AS (
       |  SELECT i, CAST(sum(q) AS BIGINT) AS si FROM ex GROUP BY i
       |), gram AS (
       |  SELECT a.i, b.i AS j, CAST(sum(a.q * b.q) AS BIGINT) AS g
       |  FROM ex a JOIN ex b ON a.vec_id = b.vec_id
       |  GROUP BY a.i, b.i
       |), scat AS MATERIALIZED (
       |  SELECT g.i, g.j, nn.n * g.g - si.si * sj.si AS sij
       |  FROM gram g
       |  JOIN sums si ON si.i = g.i
       |  JOIN sums sj ON sj.i = g.j
       |  CROSS JOIN nn
       |), v0 AS (
       |  SELECT DISTINCT i, CAST(1000000 AS BIGINT) AS v FROM scat
       |),
       |$steps,
       |lam AS (
       |  SELECT sum(CAST(s.sij AS HUGEINT) * vj.v * vi.v) AS num,
       |    (SELECT sum(CAST(v AS HUGEINT) * v) FROM v$iters) AS den
       |  FROM scat s
       |  JOIN v$iters vj ON vj.i = s.j
       |  JOIN v$iters vi ON vi.i = s.i
       |)
       |SELECT v.i, v.v AS v_e6,
       |  round(CAST(lam.num AS DOUBLE) / CAST(lam.den AS DOUBLE), -3)
       |    AS lambda_scat
       |FROM v$iters v CROSS JOIN lam
       |ORDER BY v.i""".stripMargin
  }
}
