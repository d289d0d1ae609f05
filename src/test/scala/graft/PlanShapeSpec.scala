package graft

/** Scale-guard: the bucketed/keyed pipelines must never plan a
  * cartesian product — at 100 TB that plan is an auto-fail regardless
  * of fixture-scale timings. Mostly plan-only; driver-loop and
  * streaming queries are excluded because building their DataFrame runs
  * unbounded jobs, while a few guarded builders do run SMALL bounded
  * jobs at sf0.001 (the storage queries land their tables once per
  * session; the BPE pair ride back in via eager localCheckpoint) —
  * accepted so their joins stay under the guard.
  * `m_cosine_topk`/`m_cosine_topk_native` are exempt by design: their
  * 8-row probe side crosses via BroadcastNestedLoopJoin, which is
  * bounded by the broadcast side.
  */
class PlanShapeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private val guarded = Seq(
    "e1_links_join", "e2_left_join", "e3_semi_join", "e4_anti_join",
    "f1_groupby_agg", "f7_zscore", "g3_topk_trending",
    "m_minhash_dedup", "m_ann_lsh", "m_ann_ivf", "m_ann_ivf_nprobe",
    "m_ngram_jaccard", "m_embed_neardup", "m_salted_topk", "m_asof_join",
    "m_exact_dedup", "m_simhash", "m_edit_distance", "t_decontaminate",
    "t_tfidf", "t_repetition", "t_bm25", "w_rank_distributed",
    "w_topk_native",
    // late round 4: every new join-bearing pipeline stays keyed
    "m_minhash_dedup_native", "m_simhash_hamming", "t_span_dedup",
    "t_pmi", "m_upsert", "m_salted_join", "m_funnel", "m_entropy",
    "k4_triangle_count", "k4b_triangle_degree", "t_unigram_logprob",
    "m_label_outliers", "m_sql_q3", "m_resample_daily", "l5_constraints",
    // round 5: SQL snowflake join, SCD2 window, split/redact aggregates,
    // vocab coverage (1-row broadcast total), winnowing fingerprints
    "m_sql_q1", "m_sql_q5", "m_scd2", "m_split", "m_redact",
    "t_vocab", "t_winnow", "w_ewma", "t_heavy_hitters", "m_ann_pq",
    "l6_freshness", "t_containment", "m_incr_agg", "m_zorder",
    "m_sql_q18", "k6_degree_dist", "m_multimodal_shard",
    "m_presence_bitmap", "m_retention_cohort",
    // round 6: storage/planning levers (their plan SHAPE is separately
    // pinned in StorageSpec; here they just stay cartesian-free)
    "m_bucketed_join", "m_partition_prune", "m_dpp", "m_aqe_skew",
    "m_sql_q4", "m_sql_q21", "m_bloom_prune", "m_sql_q17", "m_sql_q13",
    "m_ann_pq_rerank", "m_sql_q7", "m_sql_q8", "t_bpe_merges",
    "t_bpe_segment", "m_sql_notin", "m_sql_q19",
    // round 6 TPC-H completion set: every subquery decorrelates to a
    // keyed join (Q2/Q20 shapes separately pinned in StorageSpec)
    "m_sql_q2", "m_sql_q6", "m_sql_q9", "m_sql_q10", "m_sql_q11",
    "m_sql_q12", "m_sql_q14", "m_sql_q15", "m_sql_q16", "m_sql_q20",
    "m_sql_q22", "m_bucketed_window", "a8_orc_roundtrip",
    "a9_csv_roundtrip", "m_kmeans", "m_hll_rollup", "m_cbo_reorder",
    "m_compact", "m_semdedup",
    // drift/mining session: broadcast-capsule cross joins only
    // (densified PSI grid, n_users capsule), everything else keyed
    "m_psi_drift", "m_ks_drift", "m_assoc_rules", "m_trend_mk",
    "m_gini", "k14_ppr", "m_chi2_drift", "m_markov_transitions",
    "m_benford",
    // correlated LATERAL must decorrelate to a keyed join + rank
    // filter, not a per-row nested loop
    "m_sql_lateral",
    // wave 3: quantile thresholds and shingle postings stay keyed;
    // the recursion plans one keyed join per round
    "m_winsorize", "t_source_overlap", "m_kanon", "m_dp_counts",
    "m_sql_recursive",
    // wave 4: wedge expansion, day-pair self join, fence broadcasts —
    // all keyed
    "k15_link_predict", "m_theil_sen", "m_iqr_outliers",
    "m_copurchase", "k17_clustering_coeff", "k18_assortativity",
    "t_zipf_fit", "m_interarrival", "m_embed_centroids",
    "t_curation_funnel", "k20_reciprocity", "m_auc", "m_moments",
    // inference wave: rank joins, cell self-joins, factor joins —
    // all keyed or broadcast (m_bootstrap_ci/m_ols_multi/
    // m_feature_select_mi are pure aggregations; the iterative
    // builders run bounded driver loops at sf0.001 like the BPE set)
    "m_spearman", "m_kendall", "m_mannwhitney", "m_mad",
    "m_bootstrap_ci", "m_ols_multi", "m_feature_select_mi",
    "w_holt",
    // closing wave: posting-join truth, attribution pair joins,
    // conformal fit join, skyline windows, typed agg, RRF rank
    // alignment — all keyed or broadcast-capsule
    "m_dedup_recall", "m_conversion_lag", "m_attribution",
    "m_conformal", "m_skyline", "m_typed_agg", "m_eb_shrinkage",
    "m_hill_tail", "m_calibration", "m_gdpr_delete",
    // round 10 SQL-surface wave: the UDF/variable/dynamic-SQL layers
    // must plan exactly like their inlined twins (keyed or join-free)
    "m_sql_udf", "m_sql_variable", "m_exec_immediate", "m_identifier",
    "m_collation", "m_listagg")

  test("m_spearman picks up ranks via broadcast joins, never a shuffle") {
    // The 100-TB contract of the frequency-table rank design: the
    // corpus-sized fact table meets the value-level rank tables only
    // through BroadcastHashJoin — a SortMergeJoin here would mean the
    // corpus is being shuffled to join a table the size of the value
    // grid.
    val df = SparkEntry.queries("m_spearman")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"m_spearman lost its broadcast rank joins:\n$plan")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffledHashJoin"),
      s"m_spearman shuffles the corpus to join rank tables:\n$plan")
  }

  test("m_kendall contracts to cells before any join") {
    // The pair expansion must run over the grid-sized cell table (a
    // broadcast self-join), never the corpus: no SortMergeJoin, and
    // the one hash aggregation below the join is the cell contraction.
    val df = SparkEntry.queries("m_kendall")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"m_kendall cell join is not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"m_kendall shuffles for its pair expansion:\n$plan")
  }

  test("m_pca_power scatter build partial-aggregates below its shuffle") {
    // The one-pass Gram build must map-side combine: the exchange key
    // is (i, j) — 4096 cells — so a partial_sum above the join and
    // below the exchange is what keeps the shuffle at cell
    // cardinality instead of corpus × dim² rows. The query collects
    // the scatter once and iterates on the driver, so its own plan is
    // a local relation: the check runs on the scatter build it reads.
    val df = ops.Inference.pcaScatter(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_sum") || plan.contains("Partial"),
      s"scatter-matrix aggregation lost its map-side combine:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"m_pca_power plans a cartesian:\n$plan")
  }

  test("filters and projections reach the parquet scan on the raw path") {
    // The cached Tables layer is a fixture-shape mitigation (single
    // row-group files); production reads take this raw path, where
    // Catalyst must push both the predicate and the column pruning
    // into the parquet scan — the difference between scanning 2
    // columns and scanning 11 at 100 TB.
    import org.apache.spark.sql.functions._
    val df = Tables.rawTable(spark, sf, "lineitem")
      .filter(col("l_quantity") < 10.0)
      .select("l_returnflag", "l_quantity")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("LessThan(l_quantity,10.0)"),
      s"quantity predicate not pushed to scan:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_quantity:double,l_returnflag:string>")
      || plan.contains("ReadSchema: struct<l_returnflag:string,l_quantity:double>"),
      s"column pruning did not reach the scan:\n$plan")
  }

  test("correlated LATERAL decorrelates to a keyed join, not a nested loop") {
    val df = SparkEntry.queries("m_sql_lateral")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") &&
      !plan.contains("CartesianProduct"),
      s"lateral subquery did not decorrelate:\n$plan")
    assert(plan.contains("Window") || plan.contains("TakeOrdered"),
      s"expected the correlated LIMIT to become a rank/top-k operator:\n$plan")
  }

  test("no CartesianProduct in any bucketed/keyed pipeline plan") {
    guarded.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a cartesian product:\n$plan")
    }
  }

  test("the SCD2 temporal join rides the equi key — the interval " +
    "predicate is a residual, never the join itself") {
    import org.apache.spark.sql.functions._
    // batch analog of m_stream_scd2's per-micro-batch join (the
    // streaming query itself is excluded from plan pins by design)
    val dim = graft.ops.Ext.scd2History(spark, sf)
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("eus"))
    val joined = ev.join(dim,
      col("user_id") === col("o_custkey") &&
        col("eus") >= col("valid_from_us") &&
        (col("valid_to_us").isNull || col("eus") < col("valid_to_us")),
      "left_outer")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") &&
      !plan.contains("CartesianProduct"),
      s"temporal join lost its equi key:\n$plan")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"expected a hash/merge join on the equi key:\n$plan")
  }

  test("m_kmeans never join-shuffles the corpus") {
    // The point of the map-only assignment: the corpus meets the
    // centroids ONLY via a broadcast of the 1-row centroid capsule
    // (BroadcastNestedLoopJoin bounded by that side). Any
    // SortMergeJoin/ShuffledHashJoin in the plan means an iteration
    // started shuffling the full vector table — the MLlib-shaped
    // regression this formulation exists to avoid. The only hash
    // exchanges are the k·dim-group centroid updates.
    val df = SparkEntry.queries("m_kmeans")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffledHashJoin"),
      s"m_kmeans shuffles the corpus through a join:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"m_kmeans lost its broadcast centroid capsule:\n$plan")
  }
}
