package graft.ops

import graft.{Oracles, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY §2 J (+ F7/F8) — statistics and the trending-score pipeline.
  *
  * The reference reaches for pyspark.ml (VectorAssembler / StandardScaler /
  * Correlation) purely as carriers; everything decomposes into hash
  * aggregates and column arithmetic, which Catalyst whole-stage-codegens —
  * so no MLlib here. The correlation matrix is ONE aggregate pass computing
  * all 28 Pearson pairs (the reference's `Correlation.corr` also does a
  * single pass; 28 independent jobs would scan 28×).
  */
object Stats {

  /** The 8 numeric columns of the correlation matrix
    * (correlation_analysis.py:90-98 analogue on the synthesized videos). */
  private val corrCols = Seq("age_days", "length", "rating", "views",
    "num_ratings", "num_comments", "up_day", "up_month")

  /** The 28 column pairs (a, b), a before b in [[corrCols]]. */
  private val corrPairs = for {
    i <- corrCols.indices
    j <- corrCols.indices if i < j
  } yield (corrCols(i), corrCols(j))

  /** All 28 Pearson pairs of [[corrCols]] in long form (col_a, col_b,
    * pearson) from ONE `corr_matrix` aggregate
    * ([[graft.functions.CorrMatrixAgg]]): 45 accumulator doubles and one
    * read per column, with co-moments accumulated stably (Welford/Pébay)
    * and merged map-side. 28 builtin `corr` aggregates would keep 168
    * slots, and their ~850-expression plan cost up to 17x this one in
    * driver planning and codegen (VERDICT r2-r3). `+ 0.0` collapses
    * -0.0 (see f7_zscore's note). */
  private def corrMatrix(s: SparkSession, d: String): DataFrame = {
    val aNames = array(corrPairs.map(p => lit(p._1)): _*)
    val bNames = array(corrPairs.map(p => lit(p._2)): _*)
    corrInput(s, d)
      .agg(expr(s"corr_matrix(${corrCols.mkString(", ")})").as("cm"))
      .select(posexplode(col("cm")).as(Seq("idx", "r")))
      .select(
        element_at(aNames, col("idx") + 1).as("col_a"),
        element_at(bNames, col("idx") + 1).as("col_b"),
        (round(col("r"), 4) + lit(0.0)).as("pearson"))
      .orderBy("col_a", "col_b")
  }

  /** DuckDB oracle of [[corrMatrix]]: one builtin `corr` per pair. */
  private val corrOracle: String = {
    val selects = corrPairs.map { case (a, b) =>
      s"SELECT '$a' AS col_a, '$b' AS col_b, round(corr($a, $b), 4) + 0.0 AS pearson FROM c"
    }.mkString("\nUNION ALL ")
    Oracles.withVideos(
      s""", c AS (
         |  SELECT CAST(age_days AS DOUBLE) AS age_days,
         |         CAST(length AS DOUBLE) AS length, rating,
         |         CAST(views AS DOUBLE) AS views,
         |         CAST(num_ratings AS DOUBLE) AS num_ratings,
         |         CAST(num_comments AS DOUBLE) AS num_comments,
         |         CAST(dayofmonth(upload_date) AS DOUBLE) AS up_day,
         |         CAST(month(upload_date) AS DOUBLE) AS up_month
         |  FROM videos)
         |$selects
         |ORDER BY col_a, col_b""".stripMargin)
  }

  private def corrInput(s: SparkSession, d: String): DataFrame =
    Tables.videos(s, d).select(
      col("age_days").cast("double").as("age_days"),
      col("length").cast("double").as("length"),
      col("rating"),
      col("views").cast("double").as("views"),
      col("num_ratings").cast("double").as("num_ratings"),
      col("num_comments").cast("double").as("num_comments"),
      dayofmonth(col("upload_date")).cast("double").as("up_day"),
      month(col("upload_date")).cast("double").as("up_month"))

  /** Exact trending-score feature formulas (trending_predictor.py:77-162;
    * SURVEY §2 J5 — names are misleading but ARE the spec, incl. the
    * "new video" bonus going to OLD videos and the bonus multiplying the
    * base rather than adding to it).
    */
  def trendingFeatures(v: DataFrame): DataFrame = {
    val density = ((col("num_ratings") + col("num_comments")) /
      (log1p(col("views")) + 1)) / 1000
    v.select(col("id"), col("category"), col("age_days"), col("views"),
        col("rating"), col("num_ratings"), col("num_comments"), col("length"))
      .withColumn("recency_boost", col("age_days") / 100)
      .withColumn("views_velocity", log1p(col("views")) * col("age_days") / 1000)
      .withColumn("engagement_density", density)
      .withColumn("rating_confidence", log1p(col("num_ratings")) / 10)
      .withColumn("rating_quality", col("rating") * col("rating_confidence"))
      .withColumn("length_score",
        when(col("length").between(120, 900), 1.0)
          .when(col("length") < 30, 0.3)
          .when(col("length") > 3600, 0.4)
          .otherwise(0.7))
      .withColumn("engagement_bonus",
        when(col("age_days") > 710 && col("engagement_density") > 0.01, 2)
          .otherwise(1.0))
      .withColumn("trending_score",
        (col("recency_boost") * 20 + col("views_velocity") * 15 +
          col("engagement_density") * 3 + col("rating_quality") * 25 +
          col("length_score") * 1) * col("engagement_bonus"))
  }

  /** SQL mirror of [[trendingFeatures]] as a DuckDB CTE named `feat`
    * (requires the `videos` CTE in scope). */
  val featSql: String =
    """feat AS (
      |  SELECT id, category, age_days, views, rating, num_ratings,
      |         num_comments, length,
      |    age_days / 100 AS recency_boost,
      |    ln(1 + views) * age_days / 1000 AS views_velocity,
      |    ((num_ratings + num_comments) / (ln(1 + views) + 1)) / 1000
      |      AS engagement_density,
      |    ln(1 + num_ratings) / 10 AS rating_confidence,
      |    rating * (ln(1 + num_ratings) / 10) AS rating_quality,
      |    CASE WHEN length BETWEEN 120 AND 900 THEN 1.0
      |         WHEN length < 30 THEN 0.3
      |         WHEN length > 3600 THEN 0.4 ELSE 0.7 END AS length_score,
      |    CASE WHEN age_days > 710 AND
      |              ((num_ratings + num_comments) / (ln(1 + views) + 1))
      |                / 1000 > 0.01
      |         THEN 2 ELSE 1.0 END AS engagement_bonus
      |  FROM videos
      |), scored AS (
      |  SELECT *,
      |    (recency_boost * 20 + views_velocity * 15 +
      |     engagement_density * 3 + rating_quality * 25 +
      |     length_score * 1) * engagement_bonus AS trending_score
      |  FROM feat
      |)""".stripMargin

  /** Full trending pipeline: clean filter → features → score → per-category
    * rank ≤ 50 → global percent_rank over the survivors. Applying the
    * global (single-partition) window AFTER the rank filter is the one
    * deliberate departure from the reference's plan shape (SURVEY §3.1):
    * at 100 TB only ≤ 50×|categories| rows cross that exchange.
    */
  def trendingRanked(s: SparkSession, d: String): DataFrame = {
    val cleaned = Tables.videos(s, d).filter(
      col("id").isNotNull && col("age_days") >= 0 && col("views") >= 0 &&
        col("rating").between(0, 5) && col("num_ratings") >= 0 &&
        col("num_comments") >= 0)
    val wCat = Window.partitionBy(col("category"))
      .orderBy(desc("trending_score"), col("id"))
    val wAll = Window.orderBy(desc("trending_score"), col("id"))
    trendingFeatures(cleaned)
      .withColumn("category_rank", row_number().over(wCat))
      .filter(col("category_rank") <= 50)
      .withColumn("overall_percentile", round(percent_rank().over(wAll), 6))
  }

  val all: Seq[Q] = Seq(

    // ----- F7/J2: z-score standardization ((x-μ)/σ) — StandardScaler
    // semantics via one agg + broadcast join, no MLlib.
    Q("f7_zscore",
      (s, d) => {
        val v = Tables.videos(s, d)
        val stats = v.groupBy("category").agg(
          avg(col("views")).as("mu"),
          stddev_samp(col("views")).as("sigma"))
        // `+ 0.0` after the round collapses IEEE -0.0 to +0.0 on BOTH
        // engines: Spark's round (BigDecimal) loses the zero sign while
        // DuckDB's keeps it, so a z-score rounding to zero from below
        // would hash "-0.0000" vs "0.0000" — equal values, different
        // bytes (the sf0.1 r10 hash-tie mechanism)
        v.join(broadcast(stats), Seq("category"))
          .select(col("id"), col("category"),
            (round((col("views") - col("mu")) / col("sigma"), 4)
              + lit(0.0)).as("views_z"))
          .orderBy("id")
      },
      Some(Oracles.withVideos(
        """, stats AS (
          |  SELECT category, avg(views) AS mu, stddev_samp(views) AS sigma
          |  FROM videos GROUP BY category)
          |SELECT id, category,
          |  round((views - mu) / sigma, 4) + 0.0 AS views_z
          |FROM videos JOIN stats USING (category)
          |ORDER BY id""".stripMargin))),

    // ----- F8/J3: 8×8 Pearson correlation matrix in long form (col_a,
    // col_b, pearson) — see [[corrMatrix]].
    Q("f8_corr_matrix", corrMatrix, Some(corrOracle)),

    // ----- J5: trending score, exact formula, all features exposed
    Q("j5_trending_score",
      (s, d) => trendingFeatures(Tables.videos(s, d))
        .select(col("id"),
          round(col("recency_boost"), 4).as("recency_boost"),
          round(col("views_velocity"), 4).as("views_velocity"),
          round(col("engagement_density"), 4).as("engagement_density"),
          round(col("rating_quality"), 4).as("rating_quality"),
          col("length_score"), col("engagement_bonus"),
          round(col("trending_score"), 4).as("trending_score"))
        .orderBy("id"),
      Some(Oracles.withVideos(
        s""", $featSql
           |SELECT id, round(recency_boost, 4) AS recency_boost,
           |  round(views_velocity, 4) AS views_velocity,
           |  round(engagement_density, 4) AS engagement_density,
           |  round(rating_quality, 4) AS rating_quality,
           |  length_score, engagement_bonus,
           |  round(trending_score, 4) AS trending_score
           |FROM scored ORDER BY id""".stripMargin))),

    // ----- F8 under its historical native name: the same plan and the
    // same oracle as f8_corr_matrix.
    Q("f8_corr_matrix_native", corrMatrix, Some(corrOracle)),

    // ----- I11: fixed-width report table of the top-20 by score
    // (trending_predictor.py:316-324 prints the same printf-style table)
    Q("i11_report_format",
      (s, d) => trendingFeatures(Tables.videos(s, d))
        .orderBy(desc("trending_score"), col("id"))
        .limit(20)
        .select(col("id"),
          format_string("%-10s %-12s %12.3f",
            col("id"), col("category"), col("trending_score")).as("line")),
      Some(Oracles.withVideos(
        s""", $featSql
           |SELECT id, printf('%-10s %-12s %12.3f', id, category,
           |                  trending_score) AS line
           |FROM scored ORDER BY trending_score DESC, id LIMIT 20"""
          .stripMargin))),

    // ----- G3: the whole trending pipeline (clean → score → top-50 per
    // category → global percentile), the reference's flagship query.
    Q("g3_topk_trending",
      (s, d) => trendingRanked(s, d)
        .select(col("category"), col("category_rank"), col("id"),
          round(col("trending_score"), 4).as("trending_score"),
          col("overall_percentile"))
        .orderBy("category", "category_rank"),
      Some(Oracles.withVideos(
        s""", $featSql
           |, ranked AS (
           |  SELECT category, id, trending_score,
           |    row_number() OVER (PARTITION BY category
           |                       ORDER BY trending_score DESC, id)
           |      AS category_rank
           |  FROM scored
           |  WHERE id IS NOT NULL AND age_days >= 0 AND views >= 0
           |    AND rating BETWEEN 0 AND 5 AND num_ratings >= 0
           |    AND num_comments >= 0)
           |, topk AS (SELECT * FROM ranked WHERE category_rank <= 50)
           |SELECT category, CAST(category_rank AS INT) AS category_rank, id,
           |  round(trending_score, 4) AS trending_score,
           |  round(percent_rank() OVER (ORDER BY trending_score DESC, id), 6)
           |    AS overall_percentile
           |FROM topk
           |ORDER BY category, category_rank""".stripMargin))),
  )
}
