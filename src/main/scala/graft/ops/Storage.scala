package graft.ops

import graft.{Sessions, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Storage-layout and runtime-planning levers — the decisions a 100-TB
  * deployment makes BEFORE query time, demonstrated as oracle-checked
  * queries whose plans a spec can hold to shape (StorageSpec):
  *
  *   - [[m_bucketed_join]]: land both fact tables `bucketBy(join key)` +
  *     `sortBy` so the dominant big-big equi-join plans with NO shuffle
  *     exchange — the shuffle is paid once at write time, amortized over
  *     every subsequent join/aggregate on that key.
  *   - [[m_partition_prune]]: land the event log partitioned by day so a
  *     date-range predicate prunes at FILE LISTING time — the scan never
  *     opens non-matching partitions (the reference's date-keyed directory
  *     layout, `mongo_loader.py:73-94`, is this pattern).
  *   - [[m_dpp]]: dynamic partition pruning — the dim-side filter of a
  *     fact⋈dim join prunes fact partitions at RUNTIME through a reused
  *     broadcast, the mechanism that makes star-schema queries touch only
  *     qualifying fact partitions without a literal date predicate.
  *   - [[m_aqe_skew]]: AQE skew-join splitting — the engine-native
  *     alternative to the manual salting of `m_salted_join` (Ext.scala):
  *     a hot key's oversized shuffle partition is split into
  *     advisory-sized chunks at runtime, with the matching dim rows
  *     replicated per chunk.
  *
  * All four hash-match plain-layout oracles: layout and runtime re-plans
  * must never change results, only cost.
  */
object Storage {

  /** Table-name suffix from the fixture dir so two scales never collide
    * in one warehouse ("/root/testdata/sf0.01" → "root_testdata_sf0_01").
    */
  private def sfx(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9]", "_").replaceAll("^_+|_+$", "")

  /** The day-partitioned events table's catalog name for a fixture dir —
    * exposed so StorageSpec doesn't duplicate the mangling. */
  private[graft] def eventsTableName(dir: String): String =
    s"graft_events_day_${sfx(dir)}"

  /** Run the landing `write` once per (session, dir, table): layout is
    * ingest-time work — Verify lands each table once per run and Bench's
    * three interleaved rounds re-measure the read side, not the ETL.
    * Memoized in the session memo like the base tables.
    * A previous JVM may have left the managed dir behind (the catalog is
    * in-memory, the warehouse files are not), so the path is cleared
    * before the write.
    */
  private def ensureTable(s: SparkSession, d: String, name: String)(
      write: String => Unit): String = {
    val tbl = s"${name}_${sfx(d)}"
    Tables.memo(s, s"tbl:$tbl") {
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      val loc = s.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(tbl))
      val p = new org.apache.hadoop.fs.Path(loc)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      write(tbl)
      tbl
    }
  }

  /** orders + lineitem landed bucketed AND sorted on the join key.
    * 8 buckets at fixture scale; production sizes buckets to a few
    * hundred MB each (e.g. 4096 buckets for a 1-TB table) — the bucket
    * count is the one knob, everything else is the same two lines.
    */
  private def bucketedTables(s: SparkSession, d: String): (String, String) = {
    val o = ensureTable(s, d, "graft_orders_bkt") { t =>
      Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(t)
    }
    val l = ensureTable(s, d, "graft_lineitem_bkt") { t =>
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_quantity", "l_extendedprice")
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(t)
    }
    (o, l)
  }

  /** events landed partitioned by epoch day (integral-microsecond day
    * arithmetic, the m_resample_daily convention). `repartition(day)`
    * before the write gives one file per partition instead of
    * (tasks × days) small files — the small-files discipline that keeps
    * a date-partitioned 100-TB log listable.
    */
  private def partedEvents(s: SparkSession, d: String): String =
    // name must stay in sync with eventsTableName: ensureTable appends
    // the same sfx(d)
    ensureTable(s, d, "graft_events_day") { t =>
      Tables.events(s, d)
        .withColumn("day", expr("(unix_micros(ts) div 1000000) div 86400"))
        .repartition(col("day"))
        .write.mode("overwrite").partitionBy("day")
        .format("parquet").saveAsTable(t)
    }

  /** Narrow managed copies of the star-join tables with full catalog
    * column statistics — the ANALYZE layer a warehouse maintains so the
    * cost-based optimizer has cardinalities to plan with. Landed and
    * analyzed ONCE in the parent session (the catalog is shared state,
    * so stats are visible to the CBO child sessions). */
  private def cboTables(s: SparkSession, d: String)
      : (String, String, String, String) = {
    def land(base: String, df: => DataFrame): String =
      ensureTable(s, d, base) { t =>
        df.write.mode("overwrite").saveAsTable(t)
        s.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS")
      }
    (land("graft_cbo_l", Tables.lineitem(s, d)
        .select("l_orderkey", "l_extendedprice")),
      land("graft_cbo_o", Tables.orders(s, d)
        .select("o_orderkey", "o_custkey")),
      land("graft_cbo_c", Tables.customer(s, d)
        .select("c_custkey", "c_nationkey")),
      land("graft_cbo_n", Tables.nation(s, d)
        .select("n_nationkey", "n_name")))
  }

  /** Fragmented + compacted twins of a lineitem projection.
    *
    * The fragmented table simulates what incremental ingest leaves
    * behind — O(tasks × batches) tiny files whose listing and
    * per-footer open costs come to dominate scans long before data
    * volume does. The compaction pass is the Delta OPTIMIZE / Iceberg
    * rewrite_data_files pattern: list the table's real bytes
    * (control-plane fs metadata, not data), size the output file count
    * to a target, and rewrite with repartitionByRange + an in-file sort
    * on the cluster key — so compaction RESTORES min/max-skipping
    * clustering rather than destroying it. At 100 TB the same two
    * lines run per-partition with a few-hundred-MB target.
    */
  private[graft] def compactTables(s: SparkSession, d: String)
      : (String, String) = {
    val frag = ensureTable(s, d, "graft_frag") { t =>
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_returnflag", "l_quantity",
          "l_extendedprice")
        .repartition(64)
        .write.mode("overwrite").saveAsTable(t)
    }
    val compact = ensureTable(s, d, "graft_compact") { t =>
      val src = s.table(frag)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      val bytes = src.inputFiles
        .map(f => fs.getFileStatus(
          new org.apache.hadoop.fs.Path(f)).getLen)
        .sum
      val target = 256L * 1024 // fixture-scale stand-in for ~256 MB
      val nOut = math.max(1L, (bytes + target - 1) / target).toInt
      src.repartitionByRange(nOut, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite").saveAsTable(t)
    }
    (frag, compact)
  }

  /** Generation retention ("VACUUM"): under `root`, keep the `keep`
    * HIGHEST-numbered `gen=N` directories and delete the rest —
    * the garbage-collection half of the copy-on-write generation
    * layout that `m_stream_upsert` writes (each CDC batch lands
    * `gen=b` and readers follow the max generation; without retention
    * the table's footprint grows by one full copy per batch, the
    * classic snapshot-table cost at 100 TB). Deleting only STRICTLY
    * OLDER generations than the live one can never be observed by a
    * max-generation reader — the invariant StorageSpec pins. Returns
    * (kept, deleted) generation numbers, both sorted ascending.
    */
  private[graft] def vacuumGenerations(s: SparkSession, root: String,
      keep: Int): (Seq[Long], Seq[Long]) = {
    require(keep >= 1, "must keep at least the live generation")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(root)
    val gens = fs.listStatus(p).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("gen="))
      .map(st => st.getPath.getName.stripPrefix("gen=").toLong)
      .sorted
    val (drop, retain) = gens.splitAt(math.max(0, gens.size - keep))
    drop.foreach { g =>
      fs.delete(new org.apache.hadoop.fs.Path(p, s"gen=$g"), true)
    }
    (retain, drop)
  }

  /** The m_cbo_reorder query against a session with the given CBO
    * setting — StorageSpec builds both variants to pin the reorder. */
  private[graft] def cboQuery(s0: SparkSession, d: String,
                              cbo: Boolean): DataFrame = {
    val (lt, ot, ct, nt) = cboTables(s0, d)
    val s = Sessions.child(s0)
    s.conf.set("spark.sql.cbo.enabled", cbo.toString)
    s.conf.set("spark.sql.cbo.joinReorder.enabled", cbo.toString)
    s.sql(
      s"""SELECT n_name, count(*) AS n_lines,
         |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         |    AS revenue
         |FROM $lt, $ot, $ct, $nt
         |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
         |  AND c_nationkey = n_nationkey AND n_name < 'E'
         |GROUP BY n_name ORDER BY n_name""".stripMargin)
  }

  /** Two parquet "ingest generations" of an orders projection under one
    * directory — generation 2 ADDED a column (o_orderstatus), the way
    * real logs evolve. Written once per (session, dir); read back with
    * mergeSchema. */
  private def schemaGenDir(s: SparkSession, d: String): String =
    Tables.landedDirWith(s, "graft_schema_gen", d) { loc =>
      val o = Tables.orders(s, d)
      o.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite").parquet(s"$loc/gen=1")
      o.filter(col("o_orderkey") % 2 === 1)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .write.mode("overwrite").parquet(s"$loc/gen=2")
    }

  /** Land a 3-generation copy-on-write upsert table once per
    * (session, dir): deterministic CDC batches (event_id % 3 = b, so
    * the split is identical at every SF and on every engine) merged
    * through the same associative partial/combine state the
    * m_stream_upsert sink uses — `gen=b` holds the table AS OF batch
    * b. The substrate for snapshot reads (m_time_travel) and the
    * vacuum/time-travel interplay pinned in StorageSpec. */
  /** Invalidate the landed time-travel layout (see
    * [[graft.Tables.invalidateLanding]]) — for callers that vacuum it
    * in place and must not leave the mutated state catalogued. */
  private[graft] def invalidateTimeTravel(s: SparkSession,
      d: String): Unit =
    Tables.invalidateLanding(s, "graft_timetravel", d)

  private[graft] def timeTravelRoot(s: SparkSession, d: String): String =
    Tables.landedDirWith(s, "graft_timetravel", d) { loc =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"), col("value"))
      def batch(b: Int): DataFrame =
        ev.filter(col("event_id") % 3 === b)
      var prev: Option[DataFrame] = None
      (0 to 2).foreach { b =>
        val part = graft.streaming.Streams.upsertPartial(batch(b))
        val merged = prev match {
          case None => part
          case Some(pv) => graft.streaming.Streams.upsertCombine(pv, part)
        }
        merged.write.mode("overwrite").parquet(s"$loc/gen=${b + 1}")
        prev = Some(s.read.parquet(s"$loc/gen=${b + 1}"))
      }
    }

  val all: Seq[Q] = Seq(

    // ----- Snapshot read / time travel over the copy-on-write
    // generation layout — the reproducibility primitive for
    // training-data lineage: "give me the table AS OF batch 2" is a
    // plain read of `gen=2`, no log replay, no recompute. The oracle
    // recomputes that state from the FROZEN inputs (events with
    // event_id % 3 < 2 — batches 0 and 1), so the hash match proves
    // generation N−1 is bit-for-bit the state as of its commit even
    // though the live table (gen=3) has moved on. Retention
    // interplay: vacuum with keep=2 preserves exactly this snapshot
    // (StorageSpec pins travel-after-vacuum and the vacuum horizon).
    Q("m_time_travel",
      (s, d) => {
        val root = timeTravelRoot(s, d)
        s.read.parquet(s"$root/gen=2")
          .select(lit(2L).as("generation"), col("user_id"), col("n"),
            col("sv").cast("double").as("sum_value"),
            col("last.us").as("last_us"),
            col("last.event_type").as("last_type"))
          .orderBy("user_id")
      },
      Some(
        """WITH fe AS (
          |  SELECT * FROM events WHERE event_id % 3 < 2
          |), r AS (
          |  SELECT user_id, epoch_us(ts) AS us, event_id, event_type,
          |    row_number() OVER (PARTITION BY user_id
          |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
          |  FROM fe
          |), agg AS (
          |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
          |      AS sum_value
          |  FROM fe GROUP BY user_id
          |)
          |SELECT CAST(2 AS BIGINT) AS generation, a.user_id, a.n,
          |  a.sum_value, r.us AS last_us, r.event_type AS last_type
          |FROM agg a JOIN r ON a.user_id = r.user_id AND r.rn = 1
          |ORDER BY a.user_id""".stripMargin)),

    // ----- schema evolution across ingest generations: generation 2
    // added o_orderstatus, and a single mergeSchema scan reads BOTH
    // generations as one table — old files surface the new column as
    // NULL, no rewrite of historical data (the only affordable answer
    // at 100 TB, where a backfill of every old file is off the table).
    // mergeSchema costs a footer read per file at planning time, which
    // is why production sets the union schema in the catalog instead —
    // same semantics, demonstrated here via the read option. The `gen`
    // partition-style directory key is read back as a column and
    // dropped, proving layout metadata stays out of the result. Oracle
    // recomputes both generations' projections from raw orders.
    Q("m_schema_evolution",
      (s, d) => {
        val dir = schemaGenDir(s, d)
        s.read.option("mergeSchema", "true").parquet(dir)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
              .as("sum_price"))
          .orderBy(col("o_orderstatus").asc_nulls_first)
      },
      Some(
        """WITH g AS (
          |  SELECT o_orderkey, o_totalprice, NULL AS o_orderstatus
          |  FROM orders WHERE o_orderkey % 2 = 0
          |  UNION ALL
          |  SELECT o_orderkey, o_totalprice, o_orderstatus
          |  FROM orders WHERE o_orderkey % 2 = 1
          |)
          |SELECT o_orderstatus, count(*) AS n,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS sum_price
          |FROM g GROUP BY o_orderstatus
          |ORDER BY o_orderstatus NULLS FIRST""".stripMargin)),

    // ----- shuffle-free bucketed join: both sides pre-bucketed on the
    // join key, and the groupBy key equals the bucket key, so join AND
    // aggregation plan with zero hash exchanges (StorageSpec pins the
    // plan with broadcast disabled; only the presentation ORDER BY range-
    // partitions). The oracle is the PLAIN join — bucketing must be
    // invisible in the result.
    Q("m_bucketed_join",
      (s, d) => {
        val (ot, lt) = bucketedTables(s, d)
        s.table(ot).join(s.table(lt),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy("o_orderkey")
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
              .as("sum_qty"),
            sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
              .as("sum_price"))
          .orderBy("o_orderkey")
      },
      Some(
        """SELECT o_orderkey, count(*) AS n_items,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
          |    AS sum_qty,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS sum_price
          |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
          |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin)),

    // ----- shuffle-free bucketed WINDOW: the other half of the bucket
    // dividend. A window partitioned by the bucket key reads its
    // required ClusteredDistribution straight off the scan — zero
    // exchange before the Window operator (StorageSpec pins it); only
    // the within-partition sort on the full window order remains, and
    // even that starts from the bucket file's sortBy order. At 100 TB
    // this is every sessionize/rank-per-entity pass riding the same
    // write-time layout the joins use. rank() (not row_number) keeps
    // the result deterministic under duplicate (price, qty) lines.
    Q("m_bucketed_window",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val (_, lt) = bucketedTables(s, d)
        val w = Window.partitionBy("l_orderkey")
          .orderBy(desc("l_extendedprice"), col("l_quantity"))
        s.table(lt)
          .withColumn("rk", rank().over(w).cast("long"))
          .filter(col("rk") <= 2)
          .select("l_orderkey", "rk", "l_extendedprice", "l_quantity")
          .orderBy("l_orderkey", "rk", "l_extendedprice", "l_quantity")
      },
      Some(
        """SELECT l_orderkey, rk, l_extendedprice, l_quantity FROM (
          |  SELECT l_orderkey, l_extendedprice, l_quantity,
          |    rank() OVER (PARTITION BY l_orderkey
          |      ORDER BY l_extendedprice DESC, l_quantity) AS rk
          |  FROM lineitem)
          |WHERE rk <= 2
          |ORDER BY l_orderkey, rk, l_extendedprice, l_quantity""".stripMargin)),

    // ----- static partition pruning: the predicate is on the partition
    // column, so pruning happens at file-listing time — StorageSpec
    // asserts the query's inputFiles are a strict subset of the table's
    // (the scan never opens non-matching days). The oracle recomputes
    // the day from raw events — the layout must be result-invisible.
    Q("m_partition_prune",
      (s, d) => {
        val t = partedEvents(s, d)
        s.table(t)
          .filter(pmod(col("day"), lit(7)) === 0)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"),
            sum(col("value").cast("decimal(18,4)")).cast("double")
              .as("sum_value"))
          .orderBy("event_type")
      },
      Some(
        """WITH e AS (
          |  SELECT event_type, user_id, value,
          |    CAST(epoch_us(ts) // 1000000 // 86400 AS BIGINT) AS day
          |  FROM events)
          |SELECT event_type, count(*) AS n_events,
          |  count(DISTINCT user_id) AS n_users,
          |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
          |FROM e WHERE day % 7 = 0
          |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ----- dynamic partition pruning: the filter lives on the DIM side
    // (day-of-week attribute), not on the partition column — at planning
    // time no literal predicate exists, so the engine injects a runtime
    // subquery (reusing the join's broadcast) that prunes fact partitions
    // before the scan. StorageSpec asserts `dynamicpruning` in the plan.
    // The day column reads back as INT (partition-value inference), so
    // the dim side casts to match — no cast lands on the fact scan.
    Q("m_dpp",
      (s, d) => {
        val t = partedEvents(s, d)
        val fact = s.table(t)
        val dim = fact.select(col("day")).distinct()
          .withColumn("dow", pmod(col("day") + 4, lit(7)))
        fact.join(broadcast(dim.filter(col("dow") === 1).select("day")),
            Seq("day"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("day")).as("n_days"),
            sum(col("value").cast("decimal(18,4)")).cast("double")
              .as("sum_value"))
          .orderBy("event_type")
      },
      Some(
        """WITH e AS (
          |  SELECT event_type, value,
          |    CAST(epoch_us(ts) // 1000000 // 86400 AS BIGINT) AS day
          |  FROM events),
          |sel AS (SELECT DISTINCT day FROM e WHERE (day + 4) % 7 = 1)
          |SELECT event_type, count(*) AS n_events,
          |  count(DISTINCT e.day) AS n_days,
          |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
          |FROM e JOIN sel USING (day)
          |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ----- AQE skew-join splitting on a synthesized hot key (half the
    // fact rows collapse onto key 0 — the unmatched-hot-key shape of a
    // real skewed log). The thresholds are tuned so the demo fires at
    // fixture scale and live in a child session (`newSession`) so they
    // leak into no other query; results are conf-independent and the
    // oracle is the plain join. StorageSpec executes this and asserts
    // the skew-split marker in the final adaptive plan.
    Q("m_aqe_skew",
      (s0, d) => {
        val s = Sessions.child(s0)
        s.conf.set("spark.sql.adaptive.enabled", "true")
        s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
        s.conf.set(
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
          "8KB")
        s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        // The single-row-group fixture file reads as ONE map task, and AQE
        // can only split a skewed reduce partition along map-output
        // boundaries — re-spread once so the join shuffle has map outputs
        // to split (production files have many row groups; Tables.table
        // documents the same mitigation).
        val fact = Tables.rawTable(s, d, "lineitem")
          .repartition(s.sparkContext.defaultParallelism)
          .withColumn("k",
            when(col("l_orderkey") % 2 === 0, lit(0L))
              .otherwise(col("l_orderkey")))
        val dim = Tables.rawTable(s, d, "orders")
          .select(col("o_orderkey").as("k"), col("o_orderstatus"))
        fact.join(dim, Seq("k"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
              .as("sum_price"))
          .orderBy("o_orderstatus")
      },
      Some(
        """SELECT o_orderstatus, count(*) AS n,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS sum_price
          |FROM lineitem JOIN orders
          |  ON o_orderkey = CASE WHEN l_orderkey % 2 = 0 THEN 0
          |                       ELSE l_orderkey END
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // ----- cost-based join reorder, the third runtime planning lever
    // next to DPP and AQE. The FROM clause deliberately lists the two
    // fact tables first: syntactic (stats-less) planning joins
    // lineitem⋈orders BEFORE any filter has reduced cardinality, then
    // whittles the result through customer and the selective nation
    // predicate. With catalog column stats (the cboTables ANALYZE
    // layer) and spark.sql.cbo.joinReorder on, the optimizer's DP
    // reorder starts instead from the filtered 25-row nation table and
    // joins outward — at 100 TB the difference between shuffling the
    // full fact⋈fact product and shuffling a fraction pre-pruned by the
    // dim filter. StorageSpec pins the reorder by diffing the two
    // sessions' optimized join trees; results must be identical (the
    // oracle is the same star join — reorder must never change rows).
    Q("m_cbo_reorder",
      (s0, d) => cboQuery(s0, d, cbo = true),
      Some(
        """SELECT n_name, count(*) AS n_lines,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS revenue
          |FROM lineitem, orders, customer, nation
          |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
          |  AND c_nationkey = n_nationkey AND n_name < 'E'
          |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // ----- small-files compaction: the query reads the COMPACTED table
    // and must hash-match the plain-lineitem oracle — compaction, like
    // every other layout move, has to be result-invisible. StorageSpec
    // pins the part that matters: the 64-file fragmented layout
    // collapses to the size-targeted handful, and the rewrite is
    // range-clustered on l_orderkey so a post-compaction key-range scan
    // still prunes on parquet min/max stats.
    Q("m_compact",
      (s, d) => {
        val (_, compact) = compactTables(s, d)
        s.table(compact)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
              .as("sum_qty"),
            sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
              .as("sum_price"))
          .orderBy("l_returnflag")
      },
      Some(
        """SELECT l_returnflag, count(*) AS n,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
          |    AS sum_qty,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS sum_price
          |FROM lineitem GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin)),

    // ----- Transparent materialized-view routing (graft/plans/
    // MvRewrite.scala — see its header for the matcher's safety
    // rules): the consumer writes the plain fact-table aggregate and
    // wraps it in `MvRewrite.route`; the optimizer rule answers it
    // from the pre-aggregated summary landed once per (session, dir),
    // and the base `lineitem.parquet` is never opened (StorageSpec
    // pins the executed plan to contain the summary path and NOT the
    // base path, plus routed negative controls: a different aggregate
    // shape and a filtered query must still scan the base table). The
    // route travels with this plan only — the write path's fresh
    // QueryExecution still routes, and an unwrapped aggregate of the
    // same shape never does. The summary carries exact integers (sum
    // of floored quantities, counts), so routed and direct answers
    // are bit-identical — the oracle recomputes from raw lineitem,
    // proving the route changes cost, never results.
    Q("m_mv_rewrite",
      (s, d) => graft.plans.MvRewrite.route(
        Tables.rawTable(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(sum(floor(col("l_quantity"))).as("qty_sum"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag"),
        mvSummaryDef(s, d)),
      Some(
        """SELECT l_returnflag,
          |  CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT)
          |    AS qty_sum,
          |  CAST(count(*) AS BIGINT) AS n
          |FROM lineitem GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin)),

    // ----- Right-to-erasure delete (the GDPR Art. 17 batch job): the
    // event log is immutable parquet, so "delete user X" is a
    // FILTERED REWRITE — the same copy-on-write move as m_compact and
    // the m_stream_upsert generations, pointed at a deletion set.
    // The audit row reports counts from the raw table AND from the
    // rewritten copy read back off disk (`rows_after` comes from the
    // landed files, not the filter expression), so the row can only
    // hash-match the oracle if the erasure physically landed — the
    // compliance property an auditor actually checks. Victims are the
    // deterministic user_id % 97 == 0 set (~1%); at 100 TB the
    // rewrite cost is confined to partitions containing victims when
    // composed with the m_partition_prune layout (noted — the full
    // rewrite here is the worst case).
    Q("m_gdpr_delete",
      (s, d) => {
        val raw = Tables.events(s, d)
        val after = s.read.parquet(gdprDir(s, d))
        val a = raw.agg(count(lit(1)).as("rows_before"),
          sum(when(col("user_id") % 97 === 0, 1L).otherwise(0L))
            .as("rows_deleted"),
          countDistinct(when(col("user_id") % 97 === 0,
            col("user_id"))).as("n_users_erased"))
        val b = after.agg(count(lit(1)).as("rows_after"),
          sum(when(col("user_id") % 97 === 0, 1L).otherwise(0L))
            .as("victims_remaining"))
        a.crossJoin(broadcast(b))
          .select(col("n_users_erased"), col("rows_before"),
            col("rows_deleted"), col("rows_after"),
            col("victims_remaining"))
      },
      Some(
        """SELECT
          |  CAST(count(DISTINCT CASE WHEN user_id % 97 = 0
          |    THEN user_id END) AS BIGINT) AS n_users_erased,
          |  CAST(count(*) AS BIGINT) AS rows_before,
          |  CAST(sum(CASE WHEN user_id % 97 = 0 THEN 1 ELSE 0 END)
          |    AS BIGINT) AS rows_deleted,
          |  CAST(sum(CASE WHEN user_id % 97 <> 0 THEN 1 ELSE 0 END)
          |    AS BIGINT) AS rows_after,
          |  CAST(0 AS BIGINT) AS victims_remaining
          |FROM events""".stripMargin)),
  )

  /** The lineitem-by-flag summary for `d` as a route definition —
    * shared by the m_mv_rewrite query and StorageSpec's routed
    * negative controls. */
  def mvSummaryDef(s: SparkSession, d: String): graft.plans.MvRewrite.MvDef =
    graft.plans.MvRewrite.MvDef(s"$d/lineitem.parquet",
      s.read.parquet(mvSummaryDir(s, d)).queryExecution.analyzed,
      "l_returnflag", "qty_sum", "n")

  /** Land the GDPR-deleted events copy once per (session, dir):
    * victims = user_id % 97 == 0, the deterministic ~1% erasure set. */
  private def gdprDir(s: SparkSession, d: String): String =
    Tables.landedDir(s, "graft_gdpr", d)(
      Tables.events(s, d).filter(col("user_id") % 97 =!= 0))

  /** Land the lineitem-by-flag summary once per (session, dir). */
  private def mvSummaryDir(s: SparkSession, d: String): String =
    Tables.landedDir(s, "graft_mv_li_flag", d)(
      Tables.rawTable(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(sum(floor(col("l_quantity"))).as("qty_sum"),
          count(lit(1)).as("n")))
}
