package graft.streaming

import graft.Ckpt.StageOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Structured Streaming over the `events` fixture (SURVEY §2 M streaming
  * surface). Batch and stream share the SAME `window()` operator, so the
  * tumbling-window stream is oracle-checked against the identical batch
  * SQL (`m_window_tumbling`'s oracle).
  *
  * The file source reads `ts` as raw INT64 nanos (explicit schema — the
  * parquet column is TIMESTAMP(NANOS), which Spark 4 only surfaces as
  * long), converts once to microsecond timestamps, then applies a
  * watermark. With an `availableNow` trigger the whole fixture arrives in
  * order, so nothing is late and the result equals the batch aggregation —
  * which is exactly what makes it checkable. At scale this is the standard
  * incremental pipeline: stateful window aggregation + watermark eviction,
  * state partitioned by (window, event_type).
  */
object Streams {

  /** Raw parquet schema of `events`, with `ts` as whatever the fixture
    * generation actually stored (see [[graft.Tables.events]]: INT64
    * TIMESTAMP(NANOS) read as long under the legacy conf, or
    * TIMESTAMP(MICROS) read as timestamp_ntz). The file source requires
    * an explicit schema, and an explicit LongType over a MICROS column
    * silently yields raw micros-as-long — so the schema MUST come from
    * the footer (one driver-side batch read), not a hardcoded guess. */
  private def eventsRawSchema(s: SparkSession, dir: String): StructType = {
    val tsType = s.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
  }

  private def eventsStream(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The file stream source needs a DIRECTORY path. The events table
    // exists in BOTH layouts: a single flat file `events.parquet`
    // (driver fixtures) and a directory `events.parquet/part-*.parquet`
    // (anything Spark itself wrote, incl. the sf1 scale fixture) —
    // branch on the filesystem, because a pathGlobFilter for the flat
    // name matches ZERO leaf files under the directory layout and the
    // stream silently runs empty (found by the round-7 sf1 audit).
    val evPath = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    val isDir = evPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getFileStatus(evPath).isDirectory
    val raw =
      if (isDir)
        s.readStream
          .schema(eventsRawSchema(s, dir))
          .option("pathGlobFilter", "*.parquet")
          .parquet(evPath.toString)
      else
        s.readStream
          .schema(eventsRawSchema(s, dir))
          .option("pathGlobFilter", "events.parquet")
          .parquet(dir)
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Run a streaming DF to completion (availableNow) into a memory sink
    * and return the sink contents as a batch DataFrame.
    */
  /** Peak state-store footprint of the most recent streaming run:
    * (operatorName, numRowsTotal, memoryUsedBytes) per stateful
    * operator — the PERF.md state-sizing audit reads this right after
    * driving a query. */
  private[graft] val lastStateMetrics =
    new java.util.concurrent.atomic.AtomicReference[
      Seq[(String, Long, Long)]](Nil)

  private def runToMemory(s: SparkSession, df: DataFrame,
                          mode: String): DataFrame = {
    // State store provider: MEASURED choice, not a default. RocksDB +
    // changelog checkpointing is the provider you want in production
    // (state ≫ executor heap, delta commits instead of full-map
    // snapshots) and is one env var away. But at fixture scale it LOST
    // to the in-memory HDFS-backed default — each run opens 2 operators
    // x 32 partitions of native instances (~2.5 s per contended load,
    // PERF.md round 4), instances of terminated runs unload lazily, and
    // under bench's 3-runs-per-query cadence the dedup median went 33 s
    // → 94 s. Short maintenanceInterval didn't close it. State here
    // (~1.5 M keys) fits comfortably in memory, so the snapshot
    // provider's simplicity wins; flip SPARK_GRAFT_ROCKSDB=1 when it
    // doesn't.
    if (sys.env.get("SPARK_GRAFT_ROCKSDB").contains("1")) {
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      s.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      s.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "10s")
    }
    val sink = s"graft_stream_${java.util.UUID.randomUUID.toString.replace("-", "")}"
    // Shuffle/state partitions for the STREAMING query only: sized to
    // the MEASURED state (state-sizing audit: ~40 k rows / 8.4 MB for
    // the largest operator here), not to the core count. Each stateful
    // operator commits one delta file per state store per partition per
    // micro-batch (a stream-stream join holds FOUR stores per
    // partition), and on this syscall-expensive host those commits —
    // not compute — dominate the fixed cost: 32 → 8 partitions cut the
    // join trio ~7.2 → ~3.3 s and the whole family 41.5 → 23.8 s (measured). Production
    // sizing is the same rule from the other direction: partitions =
    // state / what one store instance should hold, decoupled from the
    // batch session's shuffle width. The streaming engine PINS the
    // partition count at first checkpoint, so the knob is also what a
    // restart-compatible redeploy must hold fixed; env-overridable for
    // state that outgrows it.
    val streamParts = sys.env.getOrElse("SPARK_GRAFT_STREAM_SHUFFLE", "8")
    val batchParts = s.conf.get("spark.sql.shuffle.partitions")
    // conf held from start() through termination: the stream clones the
    // session conf at query construction, but holding it for the (run-
    // to-completion) query's whole life removes any dependence on WHEN
    // that clone happens; queries here run sequentially per session
    try {
      s.conf.set("spark.sql.shuffle.partitions", streamParts)
      val q = df.writeStream
        .format("memory")
        .queryName(sink)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // record the run's peak state-operator footprint (rows + bytes per
      // operator) for the PERF.md state-sizing audit — observational
      // only, never part of a query's result
      // ALWAYS set (Nil for a stateless run) — leaving the previous
      // run's metrics in place would let a reader attribute them to the
      // wrong query. Operator identity = position WITHIN one progress
      // event (two same-named operators — e.g. two stream-stream joins —
      // are distinct rows, not max-merged); max is only taken ACROSS
      // progress events, where the same position is the same operator.
      val perOp = q.recentProgress.flatMap { p =>
        Option(p.stateOperators).toSeq.flatten.zipWithIndex
          .map { case (o, i) => ((i, o.operatorName), o) }
      }
      lastStateMetrics.set(
        perOp.groupBy(_._1).toSeq.sortBy(_._1).map { case ((_, op), ms) =>
          (op, ms.map(_._2.numRowsTotal).max,
            ms.map(_._2.memoryUsedBytes).max)
        })
      s.table(sink)
    } finally s.conf.set("spark.sql.shuffle.partitions", batchParts)
  }

  /** Tumbling 1-day window count/sum per event_type with a 1-hour
    * watermark — the streaming twin of `m_window_tumbling`.
    */
  /** The watermarked tumbling aggregation itself, source-agnostic —
    * StreamSplitInvariantSpec drives it through MemoryStream with
    * seed-random micro-batch splits to pin that results do not depend
    * on batch boundaries for in-order input. */
  private[graft] def tumblingAgg(src: DataFrame,
                                 lag: String = "1 hour"): DataFrame =
    src.withWatermark("ts", lag)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double")
          .as("sum_value"))

  def tumblingCounts(s: SparkSession, dir: String): DataFrame = {
    val agg = tumblingAgg(eventsStream(s, dir))
    runToMemory(s, agg, "complete")
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("win_start_us", "event_type")
  }

  /** Sliding-window (1 day / 12 h hop) streaming aggregation — each event
    * lands in 2 overlapping windows, the state the streaming engine
    * keys by (window, -) pairs. Same operator as the batch
    * `m_window_sliding`, so the oracle is shared verbatim.
    */
  private[graft] def slidingAgg(src: DataFrame,
                                lag: String = "1 hour"): DataFrame =
    src.withWatermark("ts", lag)
      .groupBy(window(col("ts"), "1 day", "12 hours"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double")
          .as("sum_value"))

  def slidingCounts(s: SparkSession, dir: String): DataFrame = {
    val agg = slidingAgg(eventsStream(s, dir))
    runToMemory(s, agg, "complete")
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("n"), col("sum_value"))
      .orderBy("win_start_us")
  }

  /** Stateful streaming dedup on event_id within the watermark horizon —
    * the streaming form of exact dedup (L1). Returns the deduped count per
    * event_type (equal to the batch distinct count, since fixture
    * event_ids are unique).
    *
    * Scale notes: the row is projected down to the three needed columns
    * BEFORE the stateful operator (state stores whole rows per key — a
    * stray JSON column would multiply state size), and the dedup is
    * `dropDuplicatesWithinWatermark` so state is EVICTED as the watermark
    * advances instead of growing forever.
    */
  private[graft] def dedupAgg(src: DataFrame,
                              lag: String = "1 hour"): DataFrame =
    src.select(col("event_id"), col("event_type"), col("ts"))
      .withWatermark("ts", lag)
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))

  def dedupCounts(s: SparkSession, dir: String): DataFrame = {
    val deduped = dedupAgg(eventsStream(s, dir))
    runToMemory(s, deduped, "complete")
      .orderBy("event_type")
  }

  /** Exact 4dp scaled-long of a double via its shortest decimal repr —
    * the same semantics as Spark's double→DECIMAL(18,4) cast
    * (BigDecimal.valueOf + HALF_UP), so Scala-side stateful sums agree
    * bit-for-bit with the column-level decimal sums and the DuckDB
    * oracle regardless of accumulation order.
    */
  private def scaled4(v: Double): Long =
    java.math.BigDecimal.valueOf(v)
      .setScale(4, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  /** Per-user state for the mapGroupsWithState example. */
  case class UserState(n: Long, sumSc: Long, lastUs: Long)
  case class UserAgg(user_id: Long, n: Long, sum_value: Double,
                     last_ts_us: Long)

  /** Custom stateful aggregation via `mapGroupsWithState`
    * (KeyValueGroupedDataset): per-user event count / value sum / last
    * event time, with explicit GroupState the way a bespoke sessionizer
    * or fraud counter would hold it. With availableNow the fixture is a
    * single batch, so the emitted state equals the batch aggregate —
    * which is what the DuckDB oracle checks.
    */
  def userStateCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val typed = eventsStream(s, dir)
      .select(col("user_id"), col("value"), unix_micros(col("ts")).as("us"))
      .as[(Long, Double, Long)]
    val agg = typed
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Double, Long)],
         state: org.apache.spark.sql.streaming.GroupState[UserState]) =>
          var st = state.getOption.getOrElse(UserState(0L, 0L, Long.MinValue))
          rows.foreach { case (_, v, us) =>
            st = UserState(st.n + 1, st.sumSc + scaled4(v),
              math.max(st.lastUs, us))
          }
          state.update(st)
          UserAgg(user, st.n, st.sumSc / 10000.0, st.lastUs)
      }
    runToMemory(s, agg.toDF(), "update")
      .select(col("user_id"), col("n"), col("sum_value"), col("last_ts_us"))
      .orderBy("user_id")
  }

  /** transformWithState output row: one per (user, event_type). */
  case class TwsOut(user_id: Long, event_type: String, n: Long,
                    sum_value: Double, n_user: Long)

  /** StatefulProcessor for [[twsTypeCounts]] — the Spark-4 arbitrary-
    * state API (the successor to mapGroupsWithState): typed state
    * PRIMITIVES instead of one opaque blob. Per user, a MapState keyed
    * by event_type holds (count, exact 4dp-scaled sum) and a ValueState
    * holds the user's total row count; each batch updates both and
    * re-emits the user's current per-type totals with the running
    * user total attached (update semantics) — both state primitives
    * are observable in the output and checked by the oracle.
    * Unlike mapGroupsWithState's single-value state, the MapState is
    * point-addressable in the store — a user with 10k types updates 1
    * entry per row, not a 10k-entry blob per batch — which is the
    * 100-TB reason this API exists. Requires the RocksDB state store
    * provider (the only one with multi-column-family support).
    */
  private class TwsTypeCounts
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, String, Long), TwsOut] {
    import org.apache.spark.sql.streaming.{MapState, TTLConfig, ValueState}
    import org.apache.spark.sql.{Encoders => E}
    @transient private var perType: MapState[String, (Long, Long)] = _
    @transient private var total: ValueState[Long] = _
    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      perType = getHandle.getMapState[String, (Long, Long)](
        "perType", E.STRING, E.tuple(E.scalaLong, E.scalaLong),
        TTLConfig.NONE)
      total = getHandle.getValueState[Long](
        "total", E.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(
        user: Long, rows: Iterator[(Long, String, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[TwsOut] = {
      var n = if (total.exists()) total.get() else 0L
      rows.foreach { case (_, t, vSc) =>
        val (c, sSc) =
          if (perType.containsKey(t)) perType.getValue(t) else (0L, 0L)
        perType.updateValue(t, (c + 1L, sSc + vSc))
        n += 1L
      }
      total.update(n)
      perType.iterator().map { case (t, (c, sSc)) =>
        TwsOut(user, t, c, sSc / 10000.0, n) }
    }
  }

  /** Per-user per-type running counts via `transformWithState`. The
    * value is pre-scaled to an exact 4dp long BEFORE grouping so the
    * state update is integer arithmetic (order-independent — the same
    * DECIMAL discipline as every windowed aggregation here). The final
    * read-back takes each key's row with the max (n, sum) — counts are
    * monotone, so that is the final state regardless of how many
    * micro-batches AvailableNow split the input into (the memory sink
    * appends one row per key per updating batch).
    */
  /** The transform itself, source-agnostic (MemoryStream specs feed
    * explicit batches through it): input rows are (user_id, event_type,
    * 4dp-scaled value). */
  private[graft] def twsTransform(
      typed: org.apache.spark.sql.Dataset[(Long, String, Long)])
      : org.apache.spark.sql.Dataset[TwsOut] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import typed.sparkSession.implicits._
    typed.groupByKey(_._1)
      .transformWithState(new TwsTypeCounts, TimeMode.None(),
        OutputMode.Update())
  }

  /** Final-state read-back from the update-mode sink: counts are
    * monotone per key, so the lexicographic max of (n, sum_value) is
    * the last emitted row regardless of micro-batch count. */
  private[graft] def twsReadBack(table: DataFrame): DataFrame =
    table
      .groupBy("user_id", "event_type")
      // n_user rides in the struct max: within a key, n ties across
      // batches that only touched OTHER types, and the lexicographic
      // fall-through to n_user (also monotone) picks the final row
      .agg(max(struct(col("n"), col("sum_value"), col("n_user")))
        .as("m"))
      .select(col("user_id"), col("event_type"),
        col("m.n").as("n"), col("m.sum_value").as("sum_value"),
        col("m.n_user").as("n_user"))
      .orderBy("user_id", "event_type")

  def twsTypeCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val typed = eventsStream(s, dir)
      .select(col("user_id"), col("event_type"), col("value"))
      .as[(Long, String, Double)]
      .map { case (u, t, v) => (u, t, scaled4(v)) }
    val out = twsTransform(typed)
    // transformWithState is RocksDB-only (multi-column-family state);
    // scope the provider to this query and restore the session default
    // (the HDFS-backed snapshot provider measured faster at fixture
    // scale for the single-blob operators — runToMemory's note)
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(provKey)
    s.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val table =
      try runToMemory(s, out.toDF(), "update")
      finally prev match {
        case Some(p) => s.conf.set(provKey, p)
        case None    => s.conf.unset(provKey)
      }
    twsReadBack(table)
  }

  /** Run a checkpointed stateful aggregation, then read its state back
    * through the Spark-4 STATE STORE READER (`format("statestore")`) —
    * the ops surface for inspecting a production stream's state without
    * stopping it (skew triage: which keys bloat the store; correctness
    * triage: what a key's buffer actually holds). The stream itself
    * sinks to noop — the RESULT here is the reader's view of the
    * checkpoint: per-user (count, exact 4dp-scaled sum) aggregation
    * buffers, which must equal the batch GROUP BY — the round-trip
    * proves state encoding, the reader's buffer decoding, and the
    * driver-side schema mapping agree. Each call lands a fresh
    * checkpoint (UUID dir): the landing is the measured cost, like the
    * other once-per-run streaming queries.
    */
  /** Absolute path of the checkpoint the most recent
    * [[stateReaderCounts]] run landed — a LAST-INVOCATION convenience
    * for the spec's metadata reader. Concurrent callers must use
    * [[stateReaderCountsWithCkpt]], which returns the path keyed to
    * its own invocation (r11 ADVICE: a global slot alone races when
    * two runs interleave in one application).
    */
  @volatile private[graft] var lastStateCheckpoint: String = _

  /** Application roots that already registered their exit-time
    * cleanup hook (one hook per root, however many runs). */
  private val sweepHookFor =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def stateReaderCounts(s: SparkSession, dir: String): DataFrame =
    stateReaderCountsWithCkpt(s, dir)._1

  /** [[stateReaderCounts]] plus the per-invocation checkpoint path the
    * returned frame reads from. */
  private[graft] def stateReaderCountsWithCkpt(
      s: SparkSession, dir: String): (DataFrame, String) = {
    // Each run lands a fresh UUID checkpoint under a PER-APPLICATION
    // root (applicationId-keyed). NOTHING is ever deleted while any
    // application might still read it: a returned state-reader
    // DataFrame re-reads its checkpoint LAZILY, so both the pre-r12
    // intra-app sweep AND an mtime-based cross-app sweep (an idle-but-
    // alive sibling app's root goes stale after an hour) could yank
    // files from under a live frame. Instead a JVM shutdown hook
    // removes THIS application's root at exit — growth is bounded at
    // one fixture-scale checkpoint per call per live application, and
    // the only litter is from kill -9'd JVMs, left to OS tmp cleaning.
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val rootName = s"graft_state_${s.sparkContext.applicationId}"
    val root = new java.io.File(tmp, rootName)
    if (sweepHookFor.add(rootName))
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
          f.delete(): Unit
        }
        try rm(root) catch { case _: Exception => () }
      }))
    val ckpt = new java.io.File(root,
      java.util.UUID.randomUUID.toString.replace("-", "")).getAbsolutePath
    lastStateCheckpoint = ckpt
    val agg = eventsStream(s, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        // exact 4dp scaling BEFORE the sum (decimal quantize, never
        // double*10000 — truncation flips the last digit), so the
        // state buffer holds an order-independent integer
        sum((col("value").cast("decimal(18,4)") * 10000)
          .cast("long")).as("sum_sc"))
    val batchParts = s.conf.get("spark.sql.shuffle.partitions")
    try {
      s.conf.set("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_STREAM_SHUFFLE", "8"))
      val q = agg.writeStream
        .format("noop")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", batchParts)
    // the reader names buffer fields by aggregate FUNCTION, not alias
    // ("count", "sum") — part of what this query pins
    val out = s.read.format("statestore").load(ckpt)
      .select(col("key.user_id").as("user_id"),
        col("value.count").as("n"),
        (col("value.sum") / 10000.0).as("sum_value"))
      .orderBy("user_id")
    (out, ckpt)
  }

  /** Per-user session outputs for the flatMapGroupsWithState sessionizer. */
  case class SessOut(user_id: Long, sess_start_us: Long, n: Long,
                     sum_value: Double)

  /** Custom sessionizer via `flatMapGroupsWithState` — the multi-row
    * stateful API (mapGroupsWithState emits exactly one row per group;
    * a sessionizer must emit one row per SESSION). Sessions split on
    * >= 1 h gaps, the same rule as `session_window` / the
    * gaps-and-islands oracle. Rows inside a micro-batch arrive in
    * partition order, not time order, so the group sorts its batch by
    * (ts, event_id) before splitting — the per-user buffer is the state
    * bound, the same bound session_window's own state keeps. With
    * availableNow the fixture is one batch, so the emitted sessions
    * equal the batch gaps-and-islands result, which the shared oracle
    * checks. Session sums accumulate as exact 4dp scaled longs
    * (`scaled4`), so the result is independent of accumulation order —
    * the same DECIMAL(18,4) discipline as the windowed aggregations.
    */
  def sessionizeCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val typed = eventsStream(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
      .as[(Long, Long, Long, Double)]
    val sessions = typed
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, Long, Double)],
         state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          val evs = rows.toIndexedSeq.sortBy(r => (r._2, r._3))
          val out = scala.collection.mutable.ArrayBuffer.empty[SessOut]
          var start = -1L; var prev = -1L; var n = 0L; var sumSc = 0L
          evs.foreach { case (_, us, _, v) =>
            if (start < 0 || us - prev >= 3600000000L) {
              if (start >= 0) out += SessOut(user, start, n, sumSc / 10000.0)
              start = us; n = 0L; sumSc = 0L
            }
            n += 1; sumSc += scaled4(v); prev = us
          }
          if (start >= 0) out += SessOut(user, start, n, sumSc / 10000.0)
          state.update(evs.size.toLong)
          out.iterator
      }
    runToMemory(s, sessions.toDF(), "append")
      .select(col("user_id"), col("sess_start_us"), col("n"),
        col("sum_value"))
      .orderBy("user_id", "sess_start_us")
  }

  /** Stream-static enrichment join: the stream side joins a STATIC
    * DataFrame (per-type average value, computed once from the batch
    * table) — Spark re-broadcasts the static side into every
    * micro-batch, which is the standard pattern for enriching an event
    * stream with a dimension table. The above-average test is cleared of
    * division entirely — value·n > Σvalue in exact DECIMAL — so the
    * classification can never flip on a float-accumulation tie (a double
    * avg differs across engines by partial-agg order, and a rounded
    * threshold still ties at .xx5).
    */
  def enrichCounts(s: SparkSession, dir: String): DataFrame = {
    val typeAvg = graft.Tables.events(s, dir)
      .groupBy("event_type")
      .agg(sum(col("value").cast("decimal(18,4)")).as("sv"),
        count(lit(1)).as("cnt"))
    val agg = eventsStream(s, dir)
      .join(broadcast(typeAvg), Seq("event_type"))
      .filter(col("value").cast("decimal(18,4)") * col("cnt") > col("sv"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_above"))
    runToMemory(s, agg, "complete")
      .orderBy("event_type")
  }

  /** Stream-static TEMPORAL join against an SCD Type-2 dimension —
    * point-in-time enrichment: each event joins the dimension version
    * whose [valid_from, valid_to) interval contains the event time
    * (the m_scd2 versioned history, built from orders). The 100-TB
    * properties: the join is STATELESS (static side re-joined per
    * micro-batch — no streaming state at all, unlike the
    * stream-stream joins), the equi key (user = custkey) carries the
    * hash join with the interval predicate as residual filter, the
    * dim auto-broadcasts while it fits the threshold (no forced
    * hint, so outgrowing it degrades to a per-batch shuffled join
    * instead of failing the broadcast), and SCD2 intervals PARTITION time
    * per key so each event matches at most one version — output
    * stays exactly linear in the stream however hot a key is.
    */
  def streamScd2Counts(s: SparkSession, dir: String): DataFrame = {
    val dim = graft.ops.Ext.scd2History(s, dir)
      .select(col("o_custkey"),
        floor(col("o_totalprice") * 100.0).cast("long").as("price_cents"),
        col("valid_from_us"), col("valid_to_us"))
    // no broadcast() hint: a forced hint would disable the size-based
    // fallback — at fixture scale the dim auto-broadcasts under the
    // threshold, and a dimension that outgrows it degrades to a
    // per-batch shuffled join instead of failing the broadcast
    val joined = eventsStream(s, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("eus"))
      .join(dim,
        col("user_id") === col("o_custkey") &&
          col("eus") >= col("valid_from_us") &&
          (col("valid_to_us").isNull || col("eus") < col("valid_to_us")),
        "left_outer")
    runToMemory(s, joined, "append")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        count(col("valid_from_us")).as("n_versioned"),
        // cents are < 5e7 and match counts keep the sum far under
        // 2^53 — the decimal→double emission is exact on both engines
        sum(col("price_cents").cast("decimal(38,0)")).cast("double")
          .as("sum_price_cents"))
      .orderBy("event_type")
  }

  /** Append-mode windowed aggregation — the output mode that scales.
    * `complete` mode (the other streaming aggs here, kept for their
    * batch-equality oracles) re-emits the ENTIRE result every batch and
    * requires unbounded state; production pipelines run `append`, where
    * a window row is emitted exactly once — after the watermark passes
    * its end — and its state is evicted. The visible consequence at the
    * fixture: windows still open at end-of-input (those ending after
    * max(ts) - 1 hour) are NOT in the output, and the oracle states that
    * eviction rule in SQL, comparing at the engine's millisecond
    * watermark precision.
    */
  def tumblingAppend(s: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(s, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
    runToMemory(s, agg, "append")
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("win_start_us", "event_type")
  }

  /** Stream-stream inner join with watermarks on BOTH sides and an
    * event-time range condition — conversion attribution: each purchase
    * joins the same user's views from the preceding day. The time-range
    * predicate is what lets Spark bound join state (each side's rows are
    * dropped once the other side's watermark passes the range), which is
    * the difference between a scalable stream-stream join and one whose
    * state grows forever. The join itself streams (append mode); the
    * per-user rollup happens on the sink output — one stateful operator
    * per query keeps the example portable. Timestamps are already
    * truncated to MICROSECONDS by eventsStream, and the oracle compares
    * at `epoch_us` too, so the range boundary is bit-identical across
    * engines (the as-of join precision lesson).
    */
  /** Stream-stream LEFT OUTER join — the attribution query's honest
    * completion: `m_stream_join` counts converted views; this also
    * counts the views that never converted (the null-padded rows the
    * engine can only emit once state eviction PROVES no match can
    * still arrive). Same watermarks + event-time range bound the
    * state; matched pairs emit immediately, orphans emit when the
    * left row's state expires (v_ts < watermark − 1 day, derived by
    * the engine from the range condition). Determinism at the
    * eviction boundary: whether a row sitting exactly at
    * wm − 1d is evicted in the final AvailableNow batch is engine
    * timing, not semantics — so BOTH the sink output and the oracle
    * drop unmatched views inside a 2-hour guard band below the
    * boundary (wide enough to absorb any watermark-delay variant of
    * the eviction rule), and count only provably-settled orphans.
    * The guard is batch-side postprocessing: the streaming state
    * itself stays bounded by the same eviction the guard brackets.
    */
  def streamLeftJoinCounts(s: SparkSession, dir: String): DataFrame = {
    val views = eventsStream(s, dir)
      .filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 hour")
    val purchases = eventsStream(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val joined = views.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("v_ts") &&
          col("p_ts") <= col("v_ts") + expr("INTERVAL 1 DAY"),
        "left_outer")
      .select(col("user_id"), unix_micros(col("v_ts")).as("v_us"),
        col("p_ts").isNotNull.as("matched"))
    val wm = graft.Tables.events(s, dir)
      .agg((max(unix_micros(col("ts"))) - 3600000000L).as("wm_us"))
    runToMemory(s, joined, "append")
      .crossJoin(broadcast(wm))
      .filter(col("matched") ||
        col("v_us") + 86400000000L + 7200000000L < col("wm_us"))
      .groupBy("user_id")
      .agg(sum(when(col("matched"), 1L).otherwise(0L)).as("n_matched"),
        sum(when(!col("matched"), 1L).otherwise(0L)).as("n_orphans"))
      .orderBy("user_id")
  }

  /** Stream-stream FULL OUTER join — both orphan classes at once.
    * Eviction boundaries differ per side (the engine derives them
    * from the range condition): an unmatched VIEW settles once the
    * watermark passes v_ts + 1d (no purchase in [v, v+1d] can still
    * arrive), an unmatched PURCHASE settles once the watermark passes
    * p_ts itself (its match window [p−1d, p] is entirely below the
    * watermark). Both the sink output and the oracle apply the same
    * 2-hour guard band below each side's boundary (the
    * `streamLeftJoinCounts` discipline), so only provably-settled
    * orphans are counted and the eviction rule's exact strictness
    * never decides a row.
    */
  def streamFullJoinCounts(s: SparkSession, dir: String): DataFrame = {
    val views = eventsStream(s, dir)
      .filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 hour")
    val purchases = eventsStream(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val joined = views.join(purchases,
        col("v_user") === col("p_user") &&
          col("p_ts") >= col("v_ts") &&
          col("p_ts") <= col("v_ts") + expr("INTERVAL 1 DAY"),
        "full_outer")
      .select(coalesce(col("v_user"), col("p_user")).as("uid"),
        unix_micros(col("v_ts")).as("v_us"),
        unix_micros(col("p_ts")).as("p_us"))
    val wm = graft.Tables.events(s, dir)
      .agg((max(unix_micros(col("ts"))) - 3600000000L).as("wm_us"))
    runToMemory(s, joined, "append")
      .crossJoin(broadcast(wm))
      .filter((col("v_us").isNotNull && col("p_us").isNotNull) ||
        (col("p_us").isNull &&
          col("v_us") + 86400000000L + 7200000000L < col("wm_us")) ||
        (col("v_us").isNull &&
          col("p_us") + 7200000000L < col("wm_us")))
      .groupBy(col("uid").as("user_id"))
      .agg(sum(when(col("v_us").isNotNull && col("p_us").isNotNull, 1L)
          .otherwise(0L)).as("n_matched"),
        sum(when(col("p_us").isNull, 1L).otherwise(0L))
          .as("n_view_orphans"),
        sum(when(col("v_us").isNull, 1L).otherwise(0L))
          .as("n_purchase_orphans"))
      .orderBy("user_id")
  }

  def streamJoinCounts(s: SparkSession, dir: String): DataFrame = {
    val views = eventsStream(s, dir)
      .filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 hour")
    val purchases = eventsStream(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val joined = views.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("v_ts") &&
        col("p_ts") <= col("v_ts") + expr("INTERVAL 1 DAY"))
      .select(col("user_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("v_ts"))).as("lag_us"))
    // 4dp average computed HALF-UP IN EXACT INTEGER SPACE
    // ((Σus·10⁴ + d/2) div d, d = n·10⁶) — round(double, 4) put the
    // two engines on opposite sides of a decimal half-boundary at
    // sf0.1 (10522.48765 → .4877 vs .4876); the integral form is the
    // repo's floor/round-free float-emission convention. decimal(38)
    // keeps Σus·10⁴ exact far beyond BIGINT (the 100-TB sum).
    runToMemory(s, joined, "append")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"),
        // cast the OPERAND, not the finished sum: sum over BIGINT
        // accumulates in long and wraps past 2^63 (~1.1e8 max-lag
        // pairs in one group) before the outer cast ever runs
        sum(col("lag_us").cast("decimal(38,0)")).as("sum_us"))
      .withColumn("avg_lag_sec",
        expr("CAST((sum_us * 10000 + n_pairs * 500000) DIV " +
          "(n_pairs * 1000000) AS DOUBLE) / 10000.0"))
      .drop("sum_us")
      .orderBy("user_id")
  }

  /** Pre-aggregated stream attribution — the SAME per-user rollup as
    * `m_stream_join` (n_pairs + exact 4dp avg lag over every
    * (view, purchase) pair within 1 day), computed WITHOUT ever
    * materializing the pairs.
    *
    * Why: pair-join output is quadratic in a hot key's event rate —
    * on the adversarial skew fixture (one user holding ~20% of 1M
    * events) `m_stream_join` emits 52.2M pairs through the sink and
    * times out >590 s (PERF.md), while its final answer is only a
    * per-user (count, sum-of-lags). Both aggregates DECOMPOSE over a
    * view-side pre-aggregate: with k_p = #views in purchase p's
    * window and sv_p = Σ v_us over them,
    *   n_pairs = Σ_p k_p,   Σ lag = Σ_p (k_p·p_us − sv_p).
    * So the streaming side reduces views to per-(user, 10-minute
    * bucket) (cnt, Σv_us) — a watermark-evicted windowed aggregation
    * whose state and output are LINEAR in view count however hot the
    * key — and the rollup joins purchases to those bucket aggregates:
    * interior buckets (fully inside [p−1d, p]) contribute their
    * pre-aggregates directly via a sliding range-frame window over
    * the user's bucket series (W is an exact multiple of B, so every
    * probe in one bucket shares the interior set — one shuffle on
    * user, one sort by bucket id, rate-independent per-user work);
    * the ≤2 boundary buckets are resolved exactly against raw views
    * equi-keyed on (user, bucket id), so the window endpoints never
    * approximate and no join's EVALUATION is probes×events per user.
    * Total extra work per probe: two boundary bucket lookups plus its
    * share of one bucket-series sort — the hot key's quadratic
    * Σ k_p ≈ rate²·W is gone entirely (measured: the skew fixture's
    * 52.2M pairs become a ~1M-row bucket series).
    *
    * The streaming aggregate runs in UPDATE mode (append would hold
    * back the last watermark-delay of buckets and miss tail pairs the
    * oracle counts); the memory sink therefore sees every revision of
    * a bucket, standing in for the upsertable store a production
    * pipeline would target (the `m_stream_upsert` pattern). The final
    * value per key is recovered by argmax(cnt) — each revision of a
    * (user, bucket) key strictly increases its view count, so the max
    * struct is the settled aggregate under any micro-batch split.
    *
    * Why not chain the join INSIDE the stream? Spark 4.1 does accept
    * windowed-agg → stream-stream interval join (probed round 9), but
    * the chained form is structurally inexact: the bucket side reaches
    * the join only on settlement (watermark ≥ bucket end), while the
    * purchase side's join state is evicted on its own watermark bound
    * — a purchase whose boundary bucket settles a batch later than
    * the purchase's eviction loses the match, so batch-boundary
    * placement (not data) decides counts. A slack on the join bound
    * only moves the race. Guard-banded semantics (the
    * `m_stream_append` discipline) could pin a chained variant, but
    * then it answers a different query than `m_stream_join`; the
    * update-mode aggregate + exact rollup keeps the SAME oracle.
    * Exactness: all sums ride decimal(38,0) (k_p·p_us ≈ 9.5e18
    * already overflows BIGINT for the hot user), and the 4dp average
    * uses the identical integer-space HALF-UP emission as
    * `m_stream_join`, whose oracle this query shares verbatim.
    */
  private val bktB = 600000000L // 10-minute buckets, micros
  private val bktW = 86400000000L // 1-day attribution window, micros

  /** Bucketed evidence aggregates for the decomposed join family:
    * per-(user, 10-minute bucket) count + Σ event micros of `evType`
    * events, computed as a watermark-evicted STREAMING aggregation
    * (state and output linear in event count however hot the key) in
    * update mode — append would hold back the last watermark-delay of
    * buckets and miss tail rows the oracles count. The memory sink
    * sees every revision (standing in for an upsertable store, the
    * m_stream_upsert pattern); the settled value per key is recovered
    * by argmax(cnt), valid because every revision strictly increases
    * the bucket's count. */
  private def evidenceBuckets(s: SparkSession, dir: String,
                              evType: String): DataFrame = {
    // Memoized per session: the settled bucket table IS the production
    // artifact here — an upsertable store that every attribution
    // consumer probes (the whole point of decomposing the join family
    // onto it). Three board queries consume the two evidence tables
    // (view: inner + full twins; purchase: left + full twins), so the
    // streaming aggregation runs once per (session, fixture, type) and
    // the settled result is checkpointed — the same amortization rule
    // as Graph's session-cached SCC/edge tables. The checkpoint also
    // freezes the argmax-settled snapshot so reuse never re-reads the
    // memory sink.
    graft.Tables.memo(s, s"evidenceBuckets|$dir|$evType") {
      val agg = eventsStream(s, dir)
        .filter(col("event_type") === evType)
        .select(col("user_id"), col("ts").as("e_ts"))
        .withWatermark("e_ts", "1 hour")
        .groupBy(col("user_id"), window(col("e_ts"), "600 seconds").as("w"))
        .agg(count(lit(1)).as("cnt"),
          sum(unix_micros(col("e_ts")).cast("decimal(38,0)")).as("sv"))
        .select(col("user_id"),
          expr(s"unix_micros(w.start) div $bktB").as("bkt"),
          col("cnt"), col("sv"))
      runToMemory(s, agg, "update")
        .groupBy("user_id", "bkt")
        .agg(max(struct(col("cnt"), col("sv"))).as("m"))
        .select(col("user_id"), col("bkt"),
          col("m.cnt").as("cnt"), col("m.sv").as("sv")).stageCkpt()
    }
  }

  /** Exact per-probe-instant window evidence from bucket aggregates:
    * for each distinct (user, probe instant) of `probeType` (with
    * duplicate multiplicity `mult`), the count `k` and Σ micros `sv`
    * of `evType` events in the 1-day window — backward [p−1d, p] for
    * attribution probes, forward [v, v+1d] for match-exists probes.
    * Interior buckets (strictly between the two boundary bucket ids)
    * are provably inside the window, so their pre-aggregates apply
    * unchanged; the ≤2 boundary buckets are resolved exactly against
    * raw evidence rows restricted by bucket-id equality, so the join
    * output stays linear in bucket occupancy and the window endpoints
    * never approximate. All sums ride decimal(38,0) (k·p_us overflows
    * BIGINT for a hot user). */
  private def windowedEvidence(s: SparkSession, dir: String,
      probeType: String, buckets: DataFrame, evType: String,
      forward: Boolean): DataFrame = {
    val pd = graft.Tables.events(s, dir)
      .filter(col("event_type") === probeType)
      .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
      .groupBy("user_id", "p_us")
      .agg(count(lit(1)).as("mult"))
      .withColumn("lo",
        if (forward) col("p_us") else col("p_us") - lit(bktW))
      .withColumn("hi",
        if (forward) col("p_us") + lit(bktW) else col("p_us"))
      .withColumn("bl", expr(s"lo div $bktB"))
      .withColumn("bh", expr(s"hi div $bktB"))
    // Interior sums via a RANGE-FRAME WINDOW over the bucket series,
    // not a join: W is an exact multiple of B, so every probe instant
    // in one probe-bucket shares the same interior-bucket set
    // (bl = bh − W/B always), and the per-probe-bucket interior sum
    // is a sliding 143-bucket window over the user's (already
    // linear-sized) bucket series. One shuffle on user_id + a sort by
    // bucket id — no per-probe explode (a 144× row blowup measured
    // 2.4× slower at sf1skew) and no user-only equi join whose
    // evaluation is |probes|·|buckets| per user (quadratic in a hot
    // key's rate). Probe-bucket marker rows carry cnt=0/sv=0, so they
    // read the window without perturbing it; the frame excludes
    // same-bucket peers (the probe's own bucket is boundary work).
    val fw = (bktW / bktB).toInt // 144 buckets per window
    import org.apache.spark.sql.expressions.Window
    val zero = lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)")
    val pbk = pd
      .select(col("user_id"), expr(s"p_us div $bktB").as("bkt"))
      .distinct()
      .withColumn("cnt", lit(0L))
      .withColumn("sv", zero)
      .withColumn("probe", lit(true))
    val series = buckets
      .select(col("user_id"), col("bkt"), col("cnt"),
        col("sv").cast("decimal(38,0)").as("sv"))
      .withColumn("probe", lit(false))
      .unionByName(pbk)
    val wInt = {
      val base = Window.partitionBy(col("user_id")).orderBy(col("bkt"))
      if (forward) base.rangeBetween(1, fw - 1)
      else base.rangeBetween(-(fw - 1), -1)
    }
    val interior = series
      .withColumn("ki", sum(col("cnt")).over(wInt))
      .withColumn("svi", sum(col("sv")).over(wInt))
      .filter(col("probe"))
      .select(col("user_id"), col("bkt").as("pbkt"),
        col("ki"), col("svi"))
    val ev = graft.Tables.events(s, dir)
      .filter(col("event_type") === evType)
      .select(col("user_id"), unix_micros(col("ts")).as("e_us"))
      .withColumn("ebkt", expr(s"e_us div $bktB"))
    val boundary = pd
      // array_distinct: when the window spans a single bucket the two
      // boundary ids coincide and must not double-count
      .withColumn("ebkt",
        explode(array_distinct(array(col("bl"), col("bh")))))
      .join(ev, Seq("user_id", "ebkt"))
      .filter(col("e_us") >= col("lo") && col("e_us") <= col("hi"))
      .groupBy("user_id", "p_us")
      .agg(count(lit(1)).as("kb"),
        sum(col("e_us").cast("decimal(38,0)")).as("svb"))
    pd.withColumn("pbkt", expr(s"p_us div $bktB"))
      .join(interior, Seq("user_id", "pbkt"), "left")
      .join(boundary, Seq("user_id", "p_us"), "left")
      .select(col("user_id"), col("p_us"), col("mult"),
        (coalesce(col("ki"), lit(0L)) + coalesce(col("kb"), lit(0L)))
          .as("k"),
        (coalesce(col("svi"), zero) + coalesce(col("svb"), zero))
          .as("sv"))
  }

  def streamJoinBucketedCounts(s: SparkSession, dir: String): DataFrame =
    windowedEvidence(s, dir, "purchase",
        evidenceBuckets(s, dir, "view"), "view", forward = false)
      .filter(col("k") > 0) // inner-pair semantics: users enter only via pairs
      .groupBy("user_id")
      .agg(sum(col("mult") * col("k")).as("n_pairs"),
        sum(col("mult").cast("decimal(38,0)") *
          (col("k").cast("decimal(38,0)") *
            col("p_us").cast("decimal(38,0)") - col("sv"))).as("sum_us"))
      .withColumn("avg_lag_sec",
        expr("CAST((sum_us * 10000 + n_pairs * 500000) DIV " +
          "(n_pairs * 1000000) AS DOUBLE) / 10000.0"))
      .drop("sum_us")
      .orderBy("user_id")

  /** Decomposed twin of `m_stream_left_join` — same oracle. The left
    * join's rollup also decomposes: `n_matched` is the PAIR count
    * (Σ mult·k over forward windows from each view), and an orphan is
    * a view whose forward window holds zero purchases (k = 0),
    * counted only once provably settled (the same wm guard band as
    * the trio). Purchases are bucket-aggregated on the stream side;
    * views probe forward [v, v+1d]. Output linear in buckets — the
    * hot-key pair blowup never materializes. */
  def streamLeftJoinBucketedCounts(s: SparkSession,
                                   dir: String): DataFrame = {
    val wm = graft.Tables.events(s, dir)
      .agg((max(unix_micros(col("ts"))) - 3600000000L).as("wm_us"))
    windowedEvidence(s, dir, "view",
        evidenceBuckets(s, dir, "purchase"), "purchase", forward = true)
      .crossJoin(broadcast(wm))
      .filter(col("k") > 0 ||
        col("p_us") + lit(bktW) + 7200000000L < col("wm_us"))
      .groupBy("user_id")
      .agg(sum(when(col("k") > 0, col("mult") * col("k"))
          .otherwise(0L)).as("n_matched"),
        sum(when(col("k") === 0, col("mult")).otherwise(0L))
          .as("n_orphans"))
      .orderBy("user_id")
  }

  /** Decomposed twin of `m_stream_full_join` — same oracle. Both
    * orphan classes at once: matched pairs + purchase orphans from
    * the purchase-probe backward windows (view evidence), view
    * orphans from the view-probe forward windows (purchase evidence),
    * each side settled by its own wm guard band exactly as the trio's
    * discipline prescribes, then combined per user with a full outer
    * join (a user appears iff any class is non-empty — the oracle's
    * row-retention rule). */
  def streamFullJoinBucketedCounts(s: SparkSession,
                                   dir: String): DataFrame = {
    val wm = graft.Tables.events(s, dir)
      .agg((max(unix_micros(col("ts"))) - 3600000000L).as("wm_us"))
    val pSide = windowedEvidence(s, dir, "purchase",
        evidenceBuckets(s, dir, "view"), "view", forward = false)
      .crossJoin(broadcast(wm))
      .filter(col("k") > 0 || col("p_us") + 7200000000L < col("wm_us"))
      .groupBy("user_id")
      .agg(sum(when(col("k") > 0, col("mult") * col("k"))
          .otherwise(0L)).as("n_matched"),
        sum(when(col("k") === 0, col("mult")).otherwise(0L))
          .as("n_purchase_orphans"))
    val vSide = windowedEvidence(s, dir, "view",
        evidenceBuckets(s, dir, "purchase"), "purchase", forward = true)
      .crossJoin(broadcast(wm))
      .filter(col("k") === 0 &&
        col("p_us") + lit(bktW) + 7200000000L < col("wm_us"))
      .groupBy("user_id")
      .agg(sum("mult").as("n_view_orphans"))
    pSide.join(vSide, Seq("user_id"), "full")
      .select(col("user_id"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        coalesce(col("n_view_orphans"), lit(0L)).as("n_view_orphans"),
        coalesce(col("n_purchase_orphans"), lit(0L))
          .as("n_purchase_orphans"))
      .orderBy("user_id")
  }

  /** Output row of the streaming as-of join: one per purchase. */
  case class AsofOut(user_id: Long, p_us: Long, v_us: java.lang.Long)

  /** STREAMING as-of join (purchase ← most recent view at or before
    * it, ≤ 1 day back) via `flatMapGroupsWithState` — the
    * bounded-output form of the stream-stream pair joins, and the one
    * that survives hot keys.
    *
    * Motivation, measured on the adversarial skew fixture
    * (scaledata/sf1skew, one user holding 20% of 1M events): the
    * `m_stream_join` pair semantics emit every (view, purchase) pair
    * inside the window — 52.2M pairs, 99.9% of them from the single
    * hot user (DuckDB census; the uniform fixture emits ~56k) — and
    * the bench run times out (>590 s vs 16 s uniform). That is NOT a
    * plan defect: pair-join output is quadratic in the hot key's
    * event rate, and any engine faithful to those semantics pays it.
    * Attribution at 100 TB therefore wants AS-OF semantics: state is
    * ONE timestamp per user, output is ONE row per purchase — both
    * linear however hot the key (measured: 3.3-4.9 s on the same
    * skew fixture that times the pair join out, and the same on
    * uniform sf1 — skew-invariant). Same shuffle key
    * (user_id) and sink discipline as the pair joins. Per-batch
    * events are sorted inside the group function — by micros, views
    * before purchases at the same instant, matching `m_asof_join`'s
    * tie-break — so the result does not depend on arrival order
    * within a batch, and the single-max state composes across
    * in-order batches. Two documented boundary semantics: (1) a
    * purchase arriving out-of-order AFTER a newer view never matches
    * forward (the `lastV <= us` guard) — for late data the single-max
    * state may also have already overwritten the purchase's true
    * earlier view, the standard as-of-stream approximation under
    * at-most-one-row state; (2) split-invariance assumes a batch
    * boundary never lands BETWEEN same-instant peers with the
    * purchase physically first — a watermark-driven source admits all
    * events ≤ wm together, so boundaries fall between distinct
    * instants there. State is evicted via EventTimeTimeout once the
    * watermark proves a view unmatchable (see inline note), so state
    * size tracks ACTIVE users, not lifetime cardinality.
    */
  def asofPairs(s: SparkSession, src: DataFrame): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    // the watermark-tagged ts column must SURVIVE into the grouped
    // Dataset (EventTimeTimeout is rejected if projection drops it);
    // micros are derived inside the function — Timestamp carries full
    // microsecond precision, so this equals unix_micros(ts)
    val typed = src
      .filter(col("event_type").isin("view", "purchase"))
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts"),
        (col("event_type") === "view").as("is_view"))
      .as[(Long, java.sql.Timestamp, Boolean)]
    def micros(t: java.sql.Timestamp): Long = {
      val i = t.toInstant
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Boolean)],
         state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          if (state.hasTimedOut) {
            // the stored view aged past every possible match window
            state.remove()
            Iterator.empty
          } else {
            var lastV = state.getOption.getOrElse(Long.MinValue)
            val out = List.newBuilder[AsofOut]
            rows.map { case (_, t, isView) => (micros(t), isView) }
              .toSeq.sortBy { case (us, isView) =>
                (us, if (isView) 0 else 1)
              }.foreach { case (us, isView) =>
              if (isView) lastV = math.max(lastV, us)
              // lastV <= us: a purchase arriving LATER than a newer
              // view (cross-batch out-of-order) must not match a
              // future view — without the guard the negative
              // difference passes the window test and emits v_us >
              // p_us
              else out += AsofOut(user, us,
                if (lastV != Long.MinValue && lastV <= us &&
                  us - lastV <= 86400000000L)
                  java.lang.Long.valueOf(lastV)
                else null)
            }
            if (lastV != Long.MinValue) {
              // state is provably dead once the watermark passes
              // lastV + window (+ the 1 h watermark delay): no
              // admissible purchase can still match it. Evicting via
              // EventTimeTimeout bounds state to ACTIVE users instead
              // of lifetime user cardinality. Eviction never changes
              // results: an evicted view could only produce
              // unmatched purchases, which is what a missing state
              // produces too.
              val deadlineMs = lastV / 1000L + 86400000L + 3600000L
              if (deadlineMs <= state.getCurrentWatermarkMs()) {
                state.remove()
              } else {
                state.update(lastV)
                state.setTimeoutTimestamp(deadlineMs)
              }
            }
            out.result().iterator
          }
      }.toDF()
  }

  def streamAsofCounts(s: SparkSession, dir: String): DataFrame = {
    val pairs = asofPairs(s, eventsStream(s, dir))
    runToMemory(s, pairs, "append")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_purchases"),
        count(col("v_us")).as("n_matched"),
        // NULL v_us propagates through the subtraction and max/sum
        // skip it — the bare forms mirror the oracle line-for-line
        max(col("p_us") - col("v_us")).as("max_lag_us"),
        // lags are < 8.64e10 µs and per-user match counts keep the sum
        // far under 2^53, so the decimal→double emission is exact on
        // both engines at every gate scale
        sum((col("p_us") - col("v_us")).cast("decimal(38,0)"))
          .cast("double").as("sum_lag_us"))
      .orderBy("user_id")
  }

  /** Per-user top-k rows for the stateful-top-k example. */
  case class TopkOut(user_id: Long, rank: Int, event_id: Long,
                     value: Double)

  /** Stateful streaming top-k per key via `flatMapGroupsWithState` with
    * a BOUNDED per-key state: each user's state is only their current
    * top-3 (value desc, event_id tie-break), merged per batch — the
    * leaderboard pattern whose state size is O(k) per key forever,
    * where a naive collect-and-sort grows with the stream. With
    * availableNow the fixture is one batch, so the emitted top-3
    * equals the batch window top-k, which the oracle checks. Values
    * pass through unchanged (comparisons only, no float arithmetic),
    * so ordering is bit-exact on any engine.
    */
  def topkPerUser(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val typed = eventsStream(s, dir)
      .select(col("user_id"), col("event_id"), col("value"))
      .as[(Long, Long, Double)]
    val tops = typed
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, Double)],
         state: org.apache.spark.sql.streaming.GroupState[
           List[(Double, Long)]]) =>
          var heap = state.getOption.getOrElse(Nil)
          rows.foreach { case (_, eid, v) =>
            heap = ((v, eid) :: heap)
              .sortBy { case (value, id) => (-value, id) }.take(3)
          }
          state.update(heap)
          heap.zipWithIndex.iterator.map { case ((v, eid), i) =>
            TopkOut(user, i + 1, eid, v)
          }
      }
    runToMemory(s, tops.toDF(), "append")
      .orderBy("user_id", "rank")
  }

  /** foreachBatch CDC upsert sink — the production pattern the built-in
    * sinks don't cover: each micro-batch MERGEs into a keyed target
    * table instead of appending. The merge state per user is
    * (event count, DECIMAL value sum, argmax-by-(ts,event_id) last
    * event) — all three associative and commutative, so the final
    * table is identical under ANY batch split of the input, which is
    * what makes the result oracle-checkable. The target is a
    * copy-on-write versioned table: batch b reads generation b-1 and
    * writes generation b (a lakehouse MERGE in miniature — never
    * read-and-overwrite the same files in one job). Keying the
    * generation directory by batchId is ALSO the exactly-once trick:
    * foreachBatch delivers at-least-once, and a replayed batch
    * OVERWRITES its own generation instead of double-applying.
    * Scale shape: the per-batch partial is a map-side-combined
    * aggregate of the batch (small), and the merge is one
    * user_id-keyed shuffle of partials against the target — with a
    * bucketed target (m_bucketed_join) even that shuffle drops out.
    * The last-event argmax rides a struct max ordered (us, event_id)
    * — integral micros first, unique id tie-break, no float compares.
    */
  /** Per-batch partial of the upsert merge state (count / DECIMAL sum /
    * argmax-(us, event_id) last event) — shared with UpsertSinkSpec,
    * which proves batch-split invariance over it. */
  private[graft] def upsertPartial(batch: DataFrame): DataFrame =
    batch
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"),
        col("value").cast("decimal(18,4)").as("v4"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(col("v4")).as("sv"),
        max(struct(col("us"), col("event_id"), col("event_type")))
          .as("last"))

  /** Merge two upsert states — associative and commutative, the
    * property that makes the sink's result independent of batching. */
  private[graft] def upsertCombine(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy("user_id")
      .agg(sum(col("n")).as("n"), sum(col("sv")).as("sv"),
        max(col("last")).as("last"))

  def upsertMerge(s: SparkSession, dir: String): DataFrame = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_upsert_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    // foreachBatch runs sequentially on the driver; `cur` tracks the
    // latest committed generation for the next batch's read side.
    @volatile var cur: Option[String] = None
    def mergeBatch(batch: DataFrame, batchId: Long): Unit = {
      val part = upsertPartial(batch)
      val merged = cur match {
        case None => part
        case Some(prev) =>
          upsertCombine(batch.sparkSession.read.parquet(prev), part)
      }
      val gen = s"$base/g$batchId"
      merged.write.mode("overwrite").parquet(gen)
      cur = Some(gen)
    }
    val q = eventsStream(s, dir)
      .select("user_id", "ts", "event_id", "event_type", "value")
      .writeStream
      .foreachBatch(mergeBatch _)
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(cur.get)
      .select(col("user_id"), col("n"),
        col("sv").cast("double").as("sum_value"),
        col("last.us").as("last_us"),
        col("last.event_type").as("last_type"))
      .orderBy("user_id")
  }

  /** Queries surfaced through SparkEntry (oracles are the batch twins). */
  val all: Seq[graft.ops.Q] = Seq(

    // ----- custom DSv2 MicroBatchStream: the fixed-width shard
    // directory ([[graft.ops.Ingest.fixedWidthRoot]]) replayed as a
    // stream — filespertrigger=1 forces one micro-batch per shard
    // through the SupportsAdmissionControl path, so the run proves
    // offsets, per-batch planning, and Trigger.AvailableNow drain on
    // the engine's OWN source (graft.sources.FixedWidthSource), not a
    // built-in. Complete-mode aggregate: the settled result must
    // equal the batch rollup whatever the batch boundaries — the
    // oracle is a10_fixedwidth's, verbatim.
    graft.ops.Q("m_stream_fixedwidth",
      (s, d) => {
        val root = graft.ops.Ingest.fixedWidthRoot(s, d)
        val src = s.readStream
          .format("graft.sources.FixedWidthSource")
          .option("fields", graft.ops.Ingest.fwFields)
          .option("filespertrigger", "1")
          .option("path", root)
          .load()
        val agg = src.groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum("qty").as("sum_qty"),
            sum("cents").as("sum_cents"))
        runToMemory(s, agg, "complete")
          .orderBy("l_returnflag")
      },
      Some(
        """SELECT l_returnflag,
          |  CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT)
          |    AS sum_qty,
          |  CAST(sum(CAST(floor(l_extendedprice * 100.0) AS BIGINT))
          |    AS BIGINT) AS sum_cents
          |FROM lineitem
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    graft.ops.Q("m_stream_tumbling",
      (s, d) => tumblingCounts(s, d),
      Some(
        """SELECT epoch_us(date_trunc('day', ts)) AS win_start_us, event_type,
          |       count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
          |FROM events GROUP BY 1, 2 ORDER BY win_start_us, event_type"""
          .stripMargin)),
    graft.ops.Q("m_stream_sliding",
      (s, d) => slidingCounts(s, d),
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
    graft.ops.Q("m_stream_dedup",
      (s, d) => dedupCounts(s, d),
      Some(
        """SELECT event_type, count(DISTINCT event_id) AS n
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    graft.ops.Q("m_stream_enrich",
      (s, d) => enrichCounts(s, d),
      Some(
        """WITH a AS (
          |  SELECT event_type, sum(CAST(value AS DECIMAL(18,4))) AS sv,
          |         count(*) AS cnt
          |  FROM events GROUP BY 1)
          |SELECT event_type, count(*) AS n_above
          |FROM events JOIN a USING (event_type)
          |WHERE CAST(value AS DECIMAL(18,4)) * cnt > sv
          |GROUP BY event_type ORDER BY event_type""".stripMargin)),
    graft.ops.Q("m_stream_scd2",
      (s, d) => streamScd2Counts(s, d),
      Some(
        """WITH scd AS (
          |  SELECT o_custkey,
          |    CAST(floor(o_totalprice * 100.0) AS BIGINT) AS price_cents,
          |    epoch_us(o_orderdate) AS vf,
          |    lead(epoch_us(o_orderdate)) OVER (
          |      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
          |      AS vt
          |  FROM orders
          |), e AS (
          |  SELECT user_id, event_type, epoch_us(ts) AS eus FROM events
          |)
          |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
          |  CAST(count(vf) AS BIGINT) AS n_versioned,
          |  CAST(sum(price_cents) AS DOUBLE) AS sum_price_cents
          |FROM e LEFT JOIN scd ON o_custkey = user_id
          |  AND eus >= vf AND (vt IS NULL OR eus < vt)
          |GROUP BY event_type ORDER BY event_type""".stripMargin)),
    graft.ops.Q("m_stream_append",
      (s, d) => tumblingAppend(s, d),
      Some(
        """WITH mx AS (SELECT epoch_ms(max(ts)) AS m_ms FROM events)
          |SELECT epoch_us(date_trunc('day', ts)) AS win_start_us,
          |       event_type, count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
          |FROM events CROSS JOIN mx
          |WHERE epoch_ms(date_trunc('day', ts)) + 86400000 <= m_ms - 3600000
          |GROUP BY 1, 2, m_ms
          |ORDER BY win_start_us, event_type""".stripMargin)),
    graft.ops.Q("m_stream_join",
      (s, d) => streamJoinCounts(s, d),
      Some(
        """WITH v AS (
          |  SELECT user_id, epoch_us(ts) AS v_us FROM events
          |  WHERE event_type = 'view'
          |), p AS (
          |  SELECT user_id, epoch_us(ts) AS p_us FROM events
          |  WHERE event_type = 'purchase'
          |)
          |SELECT v.user_id, count(*) AS n_pairs,
          |  CAST((sum(p_us - v_us) * 10000 + count(*) * 500000)
          |    // (count(*) * 1000000) AS DOUBLE) / 10000.0 AS avg_lag_sec
          |FROM v JOIN p ON p.user_id = v.user_id
          |  AND p_us >= v_us AND p_us <= v_us + 86400000000
          |GROUP BY v.user_id ORDER BY v.user_id""".stripMargin)),
    graft.ops.Q("m_stream_join_bucketed",
      (s, d) => streamJoinBucketedCounts(s, d),
      // the SAME oracle as m_stream_join — identical per-user rollup,
      // computed without materializing the quadratic pair set
      Some(
        """WITH v AS (
          |  SELECT user_id, epoch_us(ts) AS v_us FROM events
          |  WHERE event_type = 'view'
          |), p AS (
          |  SELECT user_id, epoch_us(ts) AS p_us FROM events
          |  WHERE event_type = 'purchase'
          |)
          |SELECT v.user_id, count(*) AS n_pairs,
          |  CAST((sum(p_us - v_us) * 10000 + count(*) * 500000)
          |    // (count(*) * 1000000) AS DOUBLE) / 10000.0 AS avg_lag_sec
          |FROM v JOIN p ON p.user_id = v.user_id
          |  AND p_us >= v_us AND p_us <= v_us + 86400000000
          |GROUP BY v.user_id ORDER BY v.user_id""".stripMargin)),
    graft.ops.Q("m_stream_asof",
      (s, d) => streamAsofCounts(s, d),
      Some(
        """WITH v AS (
          |  SELECT user_id, epoch_us(ts) AS v_us FROM events
          |  WHERE event_type = 'view'
          |), p AS (
          |  SELECT user_id, epoch_us(ts) AS p_us FROM events
          |  WHERE event_type = 'purchase'
          |), m AS (
          |  SELECT p.user_id, p.p_us,
          |    (SELECT max(v.v_us) FROM v
          |     WHERE v.user_id = p.user_id AND v.v_us <= p.p_us
          |       AND v.v_us >= p.p_us - 86400000000) AS v_us
          |  FROM p
          |)
          |SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases,
          |  CAST(count(v_us) AS BIGINT) AS n_matched,
          |  max(p_us - v_us) AS max_lag_us,
          |  CAST(sum(p_us - v_us) AS DOUBLE) AS sum_lag_us
          |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin)),
    graft.ops.Q("m_stream_left_join",
      (s, d) => streamLeftJoinCounts(s, d),
      Some(
        """WITH v AS (
          |  SELECT user_id, epoch_us(ts) AS v_us FROM events
          |  WHERE event_type = 'view'
          |), p AS (
          |  SELECT user_id, epoch_us(ts) AS p_us FROM events
          |  WHERE event_type = 'purchase'
          |), wm AS (
          |  SELECT max(epoch_us(ts)) - 3600000000 AS wm_us FROM events
          |), j AS (
          |  SELECT v.user_id, v.v_us, p.p_us
          |  FROM v LEFT JOIN p ON p.user_id = v.user_id
          |    AND p.p_us >= v.v_us AND p.p_us <= v.v_us + 86400000000
          |), f AS (
          |  SELECT user_id, p_us IS NOT NULL AS matched
          |  FROM j CROSS JOIN wm
          |  WHERE p_us IS NOT NULL
          |     OR v_us + 86400000000 + 7200000000 < wm.wm_us
          |)
          |SELECT user_id,
          |  CAST(sum(CASE WHEN matched THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_matched,
          |  CAST(sum(CASE WHEN matched THEN 0 ELSE 1 END) AS BIGINT)
          |    AS n_orphans
          |FROM f GROUP BY user_id ORDER BY user_id""".stripMargin)),
    graft.ops.Q("m_stream_full_join",
      (s, d) => streamFullJoinCounts(s, d),
      Some(
        """WITH v AS (
          |  SELECT user_id, epoch_us(ts) AS v_us FROM events
          |  WHERE event_type = 'view'
          |), p AS (
          |  SELECT user_id, epoch_us(ts) AS p_us FROM events
          |  WHERE event_type = 'purchase'
          |), wm AS (
          |  SELECT max(epoch_us(ts)) - 3600000000 AS wm_us FROM events
          |), j AS (
          |  SELECT coalesce(v.user_id, p.user_id) AS uid,
          |    v.v_us, p.p_us
          |  FROM v FULL JOIN p ON p.user_id = v.user_id
          |    AND p.p_us >= v.v_us AND p.p_us <= v.v_us + 86400000000
          |), f AS (
          |  SELECT uid, v_us, p_us FROM j CROSS JOIN wm
          |  WHERE (v_us IS NOT NULL AND p_us IS NOT NULL)
          |     OR (p_us IS NULL
          |         AND v_us + 86400000000 + 7200000000 < wm.wm_us)
          |     OR (v_us IS NULL AND p_us + 7200000000 < wm.wm_us)
          |)
          |SELECT uid AS user_id,
          |  CAST(sum(CASE WHEN v_us IS NOT NULL AND p_us IS NOT NULL
          |    THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
          |  CAST(sum(CASE WHEN p_us IS NULL THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_view_orphans,
          |  CAST(sum(CASE WHEN v_us IS NULL THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_purchase_orphans
          |FROM f GROUP BY uid ORDER BY user_id""".stripMargin)),
    graft.ops.Q("m_stream_left_join_bucketed",
      (s, d) => streamLeftJoinBucketedCounts(s, d),
      // the SAME oracle as m_stream_left_join — matched pairs + settled
      // orphans, computed from bucketed purchase aggregates
      Some(
        """WITH v AS (
          |  SELECT user_id, epoch_us(ts) AS v_us FROM events
          |  WHERE event_type = 'view'
          |), p AS (
          |  SELECT user_id, epoch_us(ts) AS p_us FROM events
          |  WHERE event_type = 'purchase'
          |), wm AS (
          |  SELECT max(epoch_us(ts)) - 3600000000 AS wm_us FROM events
          |), j AS (
          |  SELECT v.user_id, v.v_us, p.p_us
          |  FROM v LEFT JOIN p ON p.user_id = v.user_id
          |    AND p.p_us >= v.v_us AND p.p_us <= v.v_us + 86400000000
          |), f AS (
          |  SELECT user_id, p_us IS NOT NULL AS matched
          |  FROM j CROSS JOIN wm
          |  WHERE p_us IS NOT NULL
          |     OR v_us + 86400000000 + 7200000000 < wm.wm_us
          |)
          |SELECT user_id,
          |  CAST(sum(CASE WHEN matched THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_matched,
          |  CAST(sum(CASE WHEN matched THEN 0 ELSE 1 END) AS BIGINT)
          |    AS n_orphans
          |FROM f GROUP BY user_id ORDER BY user_id""".stripMargin)),
    graft.ops.Q("m_stream_full_join_bucketed",
      (s, d) => streamFullJoinBucketedCounts(s, d),
      // the SAME oracle as m_stream_full_join — pairs + both settled
      // orphan classes, from bucketed aggregates of BOTH sides
      Some(
        """WITH v AS (
          |  SELECT user_id, epoch_us(ts) AS v_us FROM events
          |  WHERE event_type = 'view'
          |), p AS (
          |  SELECT user_id, epoch_us(ts) AS p_us FROM events
          |  WHERE event_type = 'purchase'
          |), wm AS (
          |  SELECT max(epoch_us(ts)) - 3600000000 AS wm_us FROM events
          |), j AS (
          |  SELECT coalesce(v.user_id, p.user_id) AS uid,
          |    v.v_us, p.p_us
          |  FROM v FULL JOIN p ON p.user_id = v.user_id
          |    AND p.p_us >= v.v_us AND p.p_us <= v.v_us + 86400000000
          |), f AS (
          |  SELECT uid, v_us, p_us FROM j CROSS JOIN wm
          |  WHERE (v_us IS NOT NULL AND p_us IS NOT NULL)
          |     OR (p_us IS NULL
          |         AND v_us + 86400000000 + 7200000000 < wm.wm_us)
          |     OR (v_us IS NULL AND p_us + 7200000000 < wm.wm_us)
          |)
          |SELECT uid AS user_id,
          |  CAST(sum(CASE WHEN v_us IS NOT NULL AND p_us IS NOT NULL
          |    THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
          |  CAST(sum(CASE WHEN p_us IS NULL THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_view_orphans,
          |  CAST(sum(CASE WHEN v_us IS NULL THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_purchase_orphans
          |FROM f GROUP BY uid ORDER BY user_id""".stripMargin)),
    graft.ops.Q("m_stream_sessionize",
      (s, d) => sessionizeCounts(s, d),
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
          |SELECT user_id, min(epoch_us(ts)) AS sess_start_us,
          |       count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
          |FROM sess GROUP BY user_id, sess_id
          |ORDER BY user_id, sess_start_us""".stripMargin)),
    graft.ops.Q("m_stream_topk",
      (s, d) => topkPerUser(s, d),
      Some(
        """SELECT user_id, CAST(rank AS INT) AS rank, event_id, value
          |FROM (
          |  SELECT user_id, event_id, value,
          |    row_number() OVER (PARTITION BY user_id
          |      ORDER BY value DESC, event_id) AS rank
          |  FROM events)
          |WHERE rank <= 3 ORDER BY user_id, rank""".stripMargin)),
    graft.ops.Q("m_stream_upsert",
      (s, d) => upsertMerge(s, d),
      Some(
        """WITH r AS (
          |  SELECT user_id, epoch_us(ts) AS us, event_id, event_type,
          |    value,
          |    row_number() OVER (PARTITION BY user_id
          |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
          |  FROM events
          |), agg AS (
          |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
          |      AS sum_value
          |  FROM events GROUP BY user_id
          |)
          |SELECT a.user_id, a.n, a.sum_value,
          |  r.us AS last_us, r.event_type AS last_type
          |FROM agg a JOIN r ON a.user_id = r.user_id AND r.rn = 1
          |ORDER BY a.user_id""".stripMargin)),
    graft.ops.Q("m_stream_state",
      (s, d) => userStateCounts(s, d),
      Some(
        """SELECT user_id, count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
          |       max(epoch_us(ts)) AS last_ts_us
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),
    graft.ops.Q("m_stream_state_reader",
      (s, d) => stateReaderCounts(s, d),
      Some(
        """SELECT user_id, count(*) AS n,
          |  CAST(sum(CAST(CAST(value AS DECIMAL(18,4)) * 10000
          |    AS BIGINT)) AS BIGINT) / 10000.0 AS sum_value
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),
    graft.ops.Q("m_stream_tws",
      (s, d) => twsTypeCounts(s, d),
      Some(
        """WITH g AS (
          |  SELECT user_id, event_type, count(*) AS n,
          |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
          |      AS sum_value
          |  FROM events GROUP BY user_id, event_type)
          |SELECT user_id, event_type, n, sum_value,
          |  CAST(sum(n) OVER (PARTITION BY user_id) AS BIGINT) AS n_user
          |FROM g ORDER BY user_id, event_type""".stripMargin)),
  )
}
