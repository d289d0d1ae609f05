package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixture readers + the deterministic `videos` synthesis.
  *
  * The reference analyzes a YouTube-crawl `videos` collection (nested schema,
  * see `/root/reference/big_data/scripts/load_data/mongo_loader.py:103-122`).
  * The driver fixtures have no such table, so we synthesize one — a pure,
  * seedless column mapping from `orders` + `lineitem` (SURVEY §7.4 item 3)
  * that DuckDB can reproduce verbatim (see [[Oracles.videosCte]]):
  *
  *   - one video per order row; `id = 'v' || o_orderkey`
  *   - `related_ids` = sorted distinct `'v' || l_partkey` of the order's
  *     lineitems. Since `max(l_partkey) < max(o_orderkey)` at every sf, every
  *     related id refers to an existing video. Cycle density grows with the
  *     key cap: the subgraph induced by keys < 500 is cycle-free at fixture
  *     scale, while keys < 2000 contain a genuine multi-member SCC — which is
  *     why the graph queries cap at 2000 (see [[graft.ops.Graph]]).
  *
  * Scale: `videos` is built once per (session, sfDir) and cached. The
  * groupBy(collect_set) is one shuffle over lineitem; at 100 TB this is a
  * standard partial-aggregate shuffle on the join key and the left join with
  * orders co-partitions on the same key, so AQE plans a single exchange pair.
  */
object Tables {

  /** Raw scan — used where a fresh un-cached plan is wanted. */
  def rawTable(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Base-table reader. Two fixture-shape mitigations, both no-ops on
    * properly laid-out production data:
    *
    *   1. The fixture files ship as a SINGLE parquet row group, so the
    *      scan cannot split — every query would serialize on a 1-task
    *      scan stage regardless of `maxPartitionBytes`. If the scan's
    *      split count is degenerate vs the cluster's parallelism, the
    *      table is re-spread once. (At 100 TB files have many row
    *      groups and `parts * 2 < target` is never true.)
    *   2. The re-spread table is persisted — the buffer-pool analogue
    *      for a fixed working set queried 60+ times per session. At
    *      production scale only dimensions would be pinned; fact tables
    *      would rely on scan parallelism instead.
    *
    * Catalyst still prunes columns/filters through the cached relation
    * (InMemoryRelation keeps per-batch stats).
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    cached(spark, dir, s"t:$name") {
      val raw = rawTable(spark, dir, name)
      val target = spark.sparkContext.defaultParallelism
      val parts = raw.rdd.getNumPartitions
      if (parts * 2 < target) raw.repartition(target) else raw
    }

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  /** `events.parquet` has shipped with two `ts` encodings across fixture
    * generations, so branch on the footer schema rather than assuming one:
    *
    *   - INT64 TIMESTAMP(NANOS): Spark 4's vectorized reader rejects it
    *     (PARQUET_TYPE_ILLEGAL) unless read as long under the legacy conf;
    *     convert once via integral division — NOT `/1000` (double
    *     round-trip loses precision above 2^53, epoch-nanos is ~1.7e18).
    *   - TIMESTAMP(MICROS) without UTC adjustment: surfaces as
    *     timestamp_ntz; cast to session-timezone TimestampType (UTC
    *     everywhere here, so the instant is unchanged) so every consumer
    *     downstream sees one type regardless of fixture generation.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val t = table(s, d, "events")
    t.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        t.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        t.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => t
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Per-SESSION memo maps, keyed on the session object itself —
    * SparkSession doesn't override equals, so lookup is reference
    * identity and two live sessions can never collide. Entries are
    * evicted when the session's SparkContext ends: the persisted data
    * dies with the context, so the references must too (otherwise a
    * long JVM cycling sessions, e.g. a test run, would leak them).
    * `newSession()` siblings share a context and evict together.
    */
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    SparkSession, java.util.concurrent.ConcurrentHashMap[String, Cell]]()

  /** One memo entry: the first caller to read `value` runs `build`;
    * every other reader blocks on the cell until it has run. */
  private final class Cell(build: => AnyRef) {
    lazy val value: scala.util.Try[AnyRef] = scala.util.Try(build)
  }

  /** The per-session key→entry map, created on first use + eviction
    * listener installed. */
  private def sessionScoped(spark: SparkSession)
      : java.util.concurrent.ConcurrentHashMap[String, Cell] = {
    val existing = cache.get(spark)
    if (existing != null) existing
    else {
      val m = new java.util.concurrent.ConcurrentHashMap[String, Cell]()
      val prev = cache.putIfAbsent(spark, m)
      if (prev != null) prev
      else {
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onApplicationEnd(
                e: org.apache.spark.scheduler.SparkListenerApplicationEnd)
                : Unit = cache.remove(spark)
          })
        m
      }
    }
  }

  /** The session memo: the one place a result is kept for reuse within
    * a SparkSession — base tables, the SCC labeling k1/k2 share, the
    * loop-invariant edge tables, evidence buckets, landing and
    * round-trip markers, corpus counts. Contract:
    *
    *   - a hit is a map read plus a lazy-val read: no lock;
    *   - `build` runs at most once per (session, key): racing first
    *     callers meet one [[Cell]] through `putIfAbsent` and wait on
    *     it, so no duplicate is ever built (and none needs releasing —
    *     a duplicate streaming build or localCheckpoint could not be);
    *   - builds nest: a build may `memo` other keys (`videos` →
    *     `table`). Each key waits on its own cell, so only a cycle of
    *     keys is forbidden — unlike `computeIfAbsent`, which throws
    *     "Recursive update" on any nested call into the same map;
    *   - a build that throws leaves no entry: every caller waiting on
    *     it sees the same failure, and the next call rebuilds;
    *   - what is materialized is the build's choice ([[cached]]
    *     persists; markers and counts store a plain value).
    *
    * Entries live until the session's SparkContext ends or [[evict]].
    */
  private[graft] def memo[T <: AnyRef](spark: SparkSession, key: String)(
      build: => T): T = {
    val m = sessionScoped(spark)
    val cell = m.get(key) match {
      case null =>
        val fresh = new Cell(build)
        m.putIfAbsent(key, fresh) match { case null => fresh; case won => won }
      case hit => hit
    }
    try cell.value.get.asInstanceOf[T]
    catch { case e: Throwable => m.remove(key, cell); throw e }
  }

  /** Drop a memo entry so the next call rebuilds; a persisted frame is
    * unpersisted. */
  private[graft] def evict(spark: SparkSession, key: String): Unit =
    Option(sessionScoped(spark).remove(key)).foreach(_.value.foreach {
      case df: org.apache.spark.sql.Dataset[_] => df.unpersist()
      case _ =>
    })

  /** Serializes [[landedDirWith]] builds across sessions: the
    * delete+overwrite of a landing is DESTRUCTIVE, and every session on
    * the warehouse shares its location, so two sessions racing on it
    * must not both run it ([[memo]] only serializes within one
    * session). One coarse lock is fine: landings are rare, build-once
    * events. A landing's build memos other keys while holding it, so
    * no memo build that lands may be one a landing build needs. */
  private val landLock = new Object

  /** Fingerprint of the code that builds landed artifacts: the
    * (path, size, mtime) listing of the classes directory (dev
    * layout) or the (size, mtime) of the jar. Folded into every
    * landing manifest so an artifact built by OLD logic is stale the
    * moment the build changes — the deployment-artifact version is
    * the code version, the same contract a production catalog keys
    * on. Memoized: one listing per JVM. */
  private lazy val codeFingerprint: String = {
    val src = Tables.getClass.getProtectionDomain.getCodeSource
    if (src == null || src.getLocation == null) "no-code-source"
    else {
      val root = new java.io.File(src.getLocation.toURI)
      def walk(f: java.io.File): Seq[String] =
        if (f.isDirectory) f.listFiles().sortBy(_.getName).flatMap(walk).toSeq
        else Seq(s"${f.getPath}:${f.length}:${f.lastModified}")
      val listing = walk(root).mkString("\n")
      java.security.MessageDigest.getInstance("MD5")
        .digest(listing.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    }
  }

  /** Fingerprint of a base-data directory: MD5 over the sorted
    * recursive (relative path, length, mtime) listing — the
    * snapshot-id discipline of a table format's manifest, applied to
    * raw parquet dirs. Listing is metadata-only (no data read): at
    * 100 TB this is one namenode/object-store listing, the same cost
    * any query's file enumeration already pays. */
  private def baseFingerprint(spark: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = scala.collection.mutable.ArrayBuffer[String]()
    if (fs.exists(p)) {
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        entries += s"${f.getPath.toString.stripPrefix(p.toString)}:" +
          s"${f.getLen}:${f.getModificationTime}"
      }
    }
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest((codeFingerprint +: entries.sorted).mkString("\n")
        .getBytes("UTF-8"))
    h.map("%02x".format(_)).mkString
  }

  /** Name of the per-landing manifest marker. Underscore-prefixed so
    * Spark's file index ignores it like _SUCCESS. */
  private val manifestFile = "_GRAFT_MANIFEST"

  /** Land a derived artifact and return its location — the
    * build-once/probe-many lifecycle (MV summaries, ANN index tables,
    * LPA labels, generation layouts). `write` is handed the cleaned
    * target location and may lay out anything (single parquet table,
    * gen=N subdirs, a file tree).
    *
    * CROSS-SESSION CATALOG (round 8): a landing is complete iff its
    * `_GRAFT_MANIFEST` holds the current fingerprint of (base data ×
    * build code). A fresh session — or a separate process sharing the
    * warehouse — that finds a valid manifest REUSES the landing with
    * no build and, critically, no destructive delete while another
    * session may still be reading it; a changed base (file added,
    * resized, or re-written) or recompiled build logic invalidates
    * the manifest and triggers a rebuild. The manifest is written
    * AFTER a successful build, so an interrupted build leaves no
    * marker and the next caller rebuilds. In-session callers hit the
    * [[memo]] and never re-fingerprint. Cross-PROCESS builds are
    * additionally guarded by a best-effort `.build_lock` directory
    * (atomic mkdirs): a second process waits for the winner's
    * manifest instead of double-building; a crashed winner's stale
    * lock is broken after a bounded wait. StorageSpec pins
    * reuse-across-newSession and the stale-base negative control. */
  /** One convention for every landed name: memo key and landing
    * location derived together (shared with [[invalidateLanding]] —
    * the two MUST stay byte-identical or invalidation goes stale).
    * Mangling matches Storage.sfx ("/root/testdata/sf0.01" ->
    * "root_testdata_sf0_01"). */
  private[graft] def landingKeyLoc(spark: SparkSession, name: String,
      dir: String): (String, String) = {
    val sfx = dir.replaceAll("[^A-Za-z0-9]", "_")
      .replaceAll("^_+|_+$", "")
    (s"dir:${name}_$sfx",
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(
          s"${name}_$sfx")).toString)
  }

  /** A waiter gives up on a lock file this much older than now and
    * breaks it — generous versus measured landing builds (≤ ~30 s at
    * sf1), so only a genuinely dead builder loses its lock. */
  private val lockStaleMs = 600000L

  private[graft] def landedDirWith(spark: SparkSession, name: String,
      dir: String)(write: String => Unit): String = {
    val (key, loc) = landingKeyLoc(spark, name, dir)
    memo(spark, key) {
      landLock.synchronized {
        val p = new org.apache.hadoop.fs.Path(loc)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val marker = new org.apache.hadoop.fs.Path(p, manifestFile)
        val fp = baseFingerprint(spark, dir)
        def markerValid: Boolean = fs.exists(marker) && {
          val in = fs.open(marker)
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString == fp
          finally in.close()
        }
        if (!markerValid) {
          val lock = new org.apache.hadoop.fs.Path(loc + ".build_lock")
          // atomic exclusive create (create with overwrite=false
          // throws if the file exists — unlike mkdirs, which is
          // mkdir -p semantics and reports success on an existing
          // dir). A BUILD ONLY EVER RUNS WHILE HOLDING THE LOCK: the
          // earlier fall-through that rebuilt lockless after a wait
          // timeout could interleave with a still-writing winner and
          // then stamp the mixed directory with a valid manifest —
          // sticky corruption. A crashed builder's stale lock is
          // broken by AGE (lockStaleMs), so waiters converge instead
          // of stalling forever behind a dead process.
          // Exclusive create: Hadoop's local create(overwrite=false)
          // is exists-then-create (not atomic), so on file:// the
          // lock goes through NIO createFile (O_CREAT|O_EXCL — the
          // kernel arbitrates). Non-local schemes keep fs.create,
          // which IS atomic on HDFS.
          // Lock OWNERSHIP is a token (UUID) written as the lock's
          // content: release takes the lock file by atomic rename
          // before inspecting it, and the heartbeat verifies the token
          // before each refresh. The heartbeat's check-then-act can
          // still refresh a successor's lock in a narrow window
          // (harmless: it only delays a stale-break), and a failed
          // restore on release can cost a successor its lock (bounded:
          // a redundant rebuild). The build itself is fenced
          // independently of the lock (see below), so any lost-lock
          // double-build publishes a complete tree, never a mixed one.
          val token = java.util.UUID.randomUUID.toString
          def lockContent(): String =
            try {
              val in = fs.open(lock)
              try scala.io.Source.fromInputStream(in, "UTF-8").mkString
              finally in.close()
            } catch { case _: Exception => "" }
          def atomicCreate(): Boolean = {
            val scheme = lock.toUri.getScheme
            val created =
              if (scheme == null || scheme == "file")
                try {
                  val lp = java.nio.file.Paths.get(lock.toUri.getPath)
                  if (lp.getParent != null)
                    java.nio.file.Files.createDirectories(lp.getParent)
                  java.nio.file.Files.createFile(lp)
                  java.nio.file.Files.write(lp, token.getBytes("UTF-8"))
                  true
                } catch { case _: Exception => false }
              else
                try {
                  val out = fs.create(lock, false)
                  try out.write(token.getBytes("UTF-8"))
                  finally out.close()
                  true
                } catch { case _: Exception => false }
            created
          }
          def tryLock(): Boolean =
            atomicCreate() || {
              // Create failed: the holder may be dead. Break the stale
              // lock by RENAME, never delete-then-create — rename is
              // atomic on local and HDFS, so when several waiters see
              // the same stale mtime exactly ONE wins the break (the
              // losers' rename fails, source gone) and even the winner
              // still re-contends through atomicCreate. The old
              // delete+create break let waiter B delete waiter A's
              // FRESH lock (delete checks no identity) and both build.
              try {
                val age = System.currentTimeMillis -
                  fs.getFileStatus(lock).getModificationTime
                if (age > lockStaleMs) {
                  val tomb = new org.apache.hadoop.fs.Path(
                    loc + s".build_lock.broken.${java.util.UUID.randomUUID}")
                  if (fs.rename(lock, tomb)) {
                    fs.delete(tomb, false); atomicCreate()
                  } else false
                } else false
              } catch { case _: Exception => false }
            }
          // The waiter's give-up deadline RE-ARMS whenever the lock's
          // mtime advances: a live heartbeating builder may legitimately
          // run long (host kernel bursts), and the deadline only exists
          // to refuse waiting forever behind a lock that is neither
          // fresh nor breakable (e.g. an unwritable lock dir).
          val graceNs = (lockStaleMs + 60000L) * 1000000L
          var deadline = System.nanoTime + graceNs
          var lastMtime = 0L
          var done = false
          while (!done) {
            if (markerValid) done = true // winner finished: reuse
            else if (tryLock()) {
              // heartbeat: refresh the lock's mtime while the build
              // runs, so a LIVE build stalled past lockStaleMs never
              // has its lock age-broken under it. Ownership-checked
              // each beat (stop silently if the lock is no longer
              // ours), and a transient setTimes failure skips the
              // beat instead of killing the thread.
              val beat = new Thread(() => {
                var mine = true
                while (mine)
                  try {
                    Thread.sleep(lockStaleMs / 10)
                    if (lockContent() == token)
                      fs.setTimes(lock, System.currentTimeMillis, -1)
                    else mine = false
                  } catch {
                    case _: InterruptedException => mine = false
                    case _: Exception => // transient: keep beating
                  }
              })
              beat.setDaemon(true); beat.start()
              // FENCED PUBLICATION: build into a builder-unique temp
              // sibling with the manifest INSIDE it, then swap it in
              // with an atomic rename. Data and marker publish
              // together, so no interleaving of two builders can stamp
              // a half-written directory as valid: even if this
              // builder's lock was age-broken mid-build, both builders
              // publish COMPLETE trees and the last rename wins whole.
              val tmp = new org.apache.hadoop.fs.Path(
                loc + s".build.$token")
              try if (!markerValid) {
                fs.delete(tmp, true)
                write(tmp.toString)
                val out = fs.create(
                  new org.apache.hadoop.fs.Path(tmp, manifestFile), true)
                try out.write(fp.getBytes("UTF-8")) finally out.close()
                fs.delete(p, true)
                val renamed = fs.rename(tmp, p)
                // If the target reappeared between the delete and the
                // rename (a concurrent lock-broken builder published
                // first), the rename does NOT reliably fail: on file://
                // RawLocalFileSystem falls back to FileUtil.copy, which
                // NESTS the temp build INSIDE the published dir and
                // returns true — leaving parquet files at two depths
                // behind a valid manifest (partition inference then
                // fails forever: sticky corruption). So never trust the
                // rename's return value alone — after a "success",
                // check for the nested child and defer to the
                // concurrent publisher's complete tree if present.
                val nested = new org.apache.hadoop.fs.Path(p, tmp.getName)
                val nestedIn = renamed && fs.exists(nested)
                if (nestedIn) fs.delete(nested, true)
                if (!renamed || nestedIn) {
                  fs.delete(tmp, true)
                  if (!markerValid) throw new IllegalStateException(
                    s"landing $key: publish conflicted with a " +
                      "concurrent builder and no valid manifest present")
                }
              } finally {
                beat.interrupt()
                fs.delete(tmp, true)
                // Release by atomically RENAMING the lock to a private
                // name, then inspecting: a plain read-check-delete
                // could delete a successor's fresh lock created between
                // the check and the delete. After the rename exactly
                // one process holds the file; if it turns out to be a
                // successor's (ours was age-broken), best-effort
                // restore it. A failed restore only costs the
                // successor its lock — the fenced publish keeps any
                // resulting double-build complete, never corrupt.
                try {
                  val priv = new org.apache.hadoop.fs.Path(
                    loc + s".build_lock.rel.$token")
                  if (fs.rename(lock, priv)) {
                    // once the rename lands, priv must not outlive this
                    // block — a transient read failure deletes it too
                    // (worst case: a successor redundantly rebuilds,
                    // which the fenced publish keeps safe) rather than
                    // stranding a stray lock file beside the landing
                    try {
                      val in = fs.open(priv)
                      val c = try scala.io.Source
                        .fromInputStream(in, "UTF-8").mkString
                      finally in.close()
                      if (c != token && fs.rename(priv, lock)) ()
                      else fs.delete(priv, true)
                    } catch {
                      case _: Exception =>
                        try fs.delete(priv, true)
                        catch { case _: Exception => }
                    }
                  }
                } catch { case _: Exception => }
              }
              done = true
            } else {
              val mt = try fs.getFileStatus(lock).getModificationTime
                catch { case _: Exception => 0L }
              if (mt != lastMtime) {
                lastMtime = mt
                deadline = System.nanoTime + graceNs // live builder: re-arm
              }
              if (System.nanoTime > deadline)
                throw new IllegalStateException(
                  s"landing $key: build lock neither fresh nor " +
                    s"breakable after ${graceNs / 1000000000L}s and " +
                    "manifest invalid — refusing a concurrent rebuild")
              else Thread.sleep(500)
            }
          }
        }
      }
      loc
    }
  }

  /** Drop a landing's manifest (and its session fast-path entry) so
    * the next caller rebuilds — the manual invalidation hook for
    * callers that MUTATE a landed layout in place (e.g. StorageSpec's
    * vacuum-interplay test, which deletes generations under the
    * landed time-travel root and must not bequeath the vacuumed state
    * to the next session as a "complete" landing). */
  private[graft] def invalidateLanding(spark: SparkSession, name: String,
      dir: String): Unit = {
    val (key, loc) = landingKeyLoc(spark, name, dir)
    evict(spark, key)
    val marker = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(loc), manifestFile)
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(marker, false)
  }

  /** [[landedDirWith]] specialized to the common single-parquet-table
    * landing. */
  private[graft] def landedDir(spark: SparkSession, name: String,
                               dir: String)(build: => DataFrame): String =
    landedDirWith(spark, name, dir)(
      loc => build.write.mode("overwrite").parquet(loc))

  /** [[memo]] of a persisted frame under `key|dir`. */
  private[graft] def cached(spark: SparkSession, dir: String, key: String)(
      build: => DataFrame): DataFrame =
    memo(spark, s"$key|$dir")(build.persist())

  /** Flat videos table. Columns:
    * id, uploader, age_days, category, length, rating, views, num_ratings,
    * num_comments, related_ids, upload_date.
    * Must stay in lock-step with [[Oracles.videosCte]].
    */
  def videos(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "videos") {
      val o = orders(spark, dir)
      val rel = lineitem(spark, dir)
        .groupBy(col("l_orderkey"))
        .agg(array_sort(collect_set(concat(lit("v"), col("l_partkey"))))
          .as("related_ids"))
      o.join(rel, o("o_orderkey") === rel("l_orderkey"), "left")
        .select(
          concat(lit("v"), col("o_orderkey")).as("id"),
          concat(lit("u"), col("o_custkey") % 97).as("uploader"),
          (col("o_orderkey") % 1461).as("age_days"),
          col("o_orderpriority").as("category"),
          (lit(30) + (col("o_orderkey") * 7) % 3900).as("length"),
          ((col("o_orderkey") % 51) / 10.0).as("rating"),
          floor(col("o_totalprice")).cast("long").as("views"),
          (col("o_custkey") % 500).as("num_ratings"),
          ((col("o_orderkey") * 3) % 211).as("num_comments"),
          coalesce(col("related_ids"), array().cast("array<string>"))
            .as("related_ids"),
          col("o_orderdate").as("upload_date"))
    }

  /** Canonical nested shape of the reference's Mongo documents
    * (`mongo_loader.py:103-122`): video_desc / video_attri /
    * video_engagement structs + related_ids + upload_date.
    */
  def videosNested(spark: SparkSession, dir: String): DataFrame =
    videos(spark, dir).select(
      col("id"),
      struct(col("uploader"), col("age_days"), col("category"))
        .as("video_desc"),
      struct(col("length"), col("rating")).as("video_attri"),
      struct(col("views"), col("num_ratings"), col("num_comments"))
        .as("video_engagement"),
      col("related_ids"),
      col("upload_date"))

  /** Directed edge list of the video graph: (src video id, dst video id),
    * distinct. Mirrors `graph_filter.py:120-123` (id → each related_id).
    */
  def videoEdges(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "videoEdges") {
      lineitem(spark, dir)
        .select(concat(lit("v"), col("l_orderkey")).as("src"),
                concat(lit("v"), col("l_partkey")).as("dst"))
        .distinct()
    }
}

/** Shared DuckDB-oracle SQL fragments. The driver registers each parquet
  * fixture under its bare table name, so oracle SQL refers to `orders`,
  * `lineitem`, … directly; queries over the synthesized `videos` prepend
  * [[videosCte]].
  */
object Oracles {
  /** DuckDB CTE reproducing [[Tables.videos]] exactly. */
  val videosCte: String =
    """_rel AS (
      |  SELECT l_orderkey AS _k,
      |         list_sort(list(DISTINCT 'v' || l_partkey)) AS related_ids
      |  FROM lineitem GROUP BY 1
      |), videos AS (
      |  SELECT 'v' || o_orderkey AS id,
      |         'u' || (o_custkey % 97) AS uploader,
      |         o_orderkey % 1461 AS age_days,
      |         o_orderpriority AS category,
      |         30 + (o_orderkey * 7) % 3900 AS length,
      |         (o_orderkey % 51) / 10.0 AS rating,
      |         CAST(floor(o_totalprice) AS BIGINT) AS views,
      |         o_custkey % 500 AS num_ratings,
      |         (o_orderkey * 3) % 211 AS num_comments,
      |         coalesce(related_ids, CAST([] AS VARCHAR[])) AS related_ids,
      |         o_orderdate AS upload_date
      |  FROM orders LEFT JOIN _rel ON o_orderkey = _k
      |)""".stripMargin

  def withVideos(sql: String): String = s"WITH $videosCte\n$sql"

  /** Distinct video-graph edges, as a CTE body (src, dst). */
  val edgesCte: String =
    """edges AS (
      |  SELECT DISTINCT 'v' || l_orderkey AS src, 'v' || l_partkey AS dst
      |  FROM lineitem
      |)""".stripMargin
}
