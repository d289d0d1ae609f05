package graft

import org.apache.spark.sql.functions._

/** Pins the PLAN SHAPE of the storage/planning-lever queries
  * (ops/Storage.scala) — each one's value is a plan property, not just
  * its rows, so correctness alone would be a vacuous check:
  *
  *   - m_bucketed_join: zero hash-partitioning exchange (the join AND
  *     the aggregation ride the write-time bucketing);
  *   - m_partition_prune: the scan opens strictly fewer files than the
  *     table holds (pruning happened at listing time);
  *   - m_dpp: a `dynamicpruning` subquery reaches the fact scan;
  *   - m_aqe_skew: the executed adaptive plan split the hot partition
  *     (skew=true on the sort-merge join).
  */
class StorageSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("m_bucketed_join plans with zero hash exchange") {
    val s = spark
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // force the sort-merge path: a broadcast join would be exchange-free
    // for the wrong reason and prove nothing about bucketing
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("m_bucketed_join")(s, sf)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still hash-shuffles:\n$plan")
      // the one allowed exchange is the presentation sort
      assert(plan.contains("Exchange rangepartitioning"),
        s"expected only the ORDER BY range exchange:\n$plan")
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("m_bucketed_window plans with zero exchange before the window") {
    val df = SparkEntry.queries("m_bucketed_window")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Window"), s"no window operator:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"window still hash-shuffles despite bucket layout:\n$plan")
  }

  test("m_partition_prune scans a strict subset of the partitions") {
    val df = SparkEntry.queries("m_partition_prune")(spark, sf)
    val all = spark.table(graft.ops.Storage.eventsTableName(sf))
      .inputFiles.length
    val pruned = df.inputFiles.length
    info(s"scan reads $pruned of $all files")
    assert(pruned > 0 && pruned < all,
      s"partition pruning did not reduce the scan ($pruned of $all files)")
  }

  test("m_dpp injects a dynamic-pruning subquery into the fact scan") {
    val df = SparkEntry.queries("m_dpp")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"no dynamic partition pruning in plan:\n$plan")
  }

  test("m_sql_q17 decorrelates the scalar subquery into an agg-join") {
    // the correlated 0.2*avg(l_quantity) subquery must become a
    // per-partkey Aggregate joined on the correlation key — a surviving
    // per-row subquery would re-scan lineitem once per matched row
    val df = SparkEntry.queries("m_sql_q17")(spark, sf)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.contains("scalar-subquery"),
      s"scalar subquery survived decorrelation:\n$opt")
    assert(opt.contains("avg(l_quantity"),
      s"decorrelated aggregate missing from plan:\n$opt")
  }

  test("m_sql_q2 decorrelates the min-cost subquery into an agg-join") {
    // the region-wide min(ps_supplycost) correlated on p_partkey must
    // become a per-partkey aggregate over the snowflake, joined back on
    // the correlation key — surviving per-row execution would re-run a
    // 4-table join once per part
    val df = SparkEntry.queries("m_sql_q2")(spark, sf)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.contains("scalar-subquery"),
      s"scalar subquery survived decorrelation:\n$opt")
    assert(opt.contains("min(ps_supplycost"),
      s"decorrelated min aggregate missing from plan:\n$opt")
  }

  test("m_sql_q20 rewrites the IN-chain to semi joins and decorrelates " +
    "the half-sum") {
    // TPC-H's deepest nest: IN(IN + correlated scalar on a TWO-column
    // key). The plan must show (a) LeftSemi joins for both IN levels and
    // (b) the scalar half-sum as a (partkey, suppkey) aggregate — no
    // surviving correlated subquery anywhere
    val df = SparkEntry.queries("m_sql_q20")(spark, sf)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.contains("scalar-subquery"),
      s"scalar subquery survived decorrelation:\n$opt")
    assert(opt.contains("LeftSemi"),
      s"IN subqueries did not plan as semi joins:\n$opt")
    assert(opt.contains("sum(l_quantity"),
      s"decorrelated half-sum aggregate missing from plan:\n$opt")
  }

  test("m_sql_notin plans the null-aware anti join") {
    // plain LeftAnti would silently give wrong answers the day the
    // exclusion subquery produces a NULL — the planner must pick the
    // null-aware variant for NOT IN
    val df = SparkEntry.queries("m_sql_notin")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // BroadcastHashJoinExec prints its isNullAwareAntiJoin flag as the
    // bare trailing boolean: "LeftAnti, BuildRight, true"
    assert(plan.contains("LeftAnti, BuildRight, true"),
      s"NOT IN did not plan null-aware anti join:\n$plan")
  }

  test("m_sql_q19 pushes single-side residual disjunctions below the join") {
    // from (A1∧B1)∨(A2∧B2)∨(A3∧B3) the optimizer must derive the
    // part-only and lineitem-only OR-residuals and push each below the
    // join — without the split, every row of both tables reaches it
    val df = SparkEntry.queries("m_sql_q19")(spark, sf)
    val lines = df.queryExecution.optimizedPlan.toString.linesIterator
      .map(_.dropWhile(c => !c.isLetter)).toSeq
    def pushedFilter(has: String, lacks: String) = lines.exists(l =>
      l.startsWith("Filter") && l.contains(has) && !l.contains(lacks))
    assert(pushedFilter("l_quantity", "p_brand"),
      "quantity OR-residual not pushed to the lineitem side")
    assert(pushedFilter("p_brand", "l_quantity"),
      "brand/size OR-residual not pushed to the part side")
  }

  test("m_aqe_skew splits the hot partition at runtime") {
    val df = SparkEntry.queries("m_aqe_skew")(spark, sf)
    // collect() (not a noop write — that plans a SEPARATE QueryExecution)
    // so THIS df's adaptive plan finalizes and can be inspected
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true"),
      s"skew join did not fire in the adaptive plan:\n$plan")
  }

  test("storage-layout queries match their plain-layout twins") {
    // result-invariance at test scale: layout must never change rows
    val plain = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("sum_price"))
      .orderBy("o_orderkey")
      .collect().toSeq
    val bucketed = SparkEntry.queries("m_bucketed_join")(spark, sf)
      .collect().toSeq
    assert(bucketed == plain, "bucketed join differs from plain join")
  }

  test("m_cbo_reorder: catalog stats flip the join order, not the rows") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    def leafJoinConds(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      def joinFree(p: LogicalPlan) =
        p.collect { case j: Join => j }.isEmpty
      df.queryExecution.optimizedPlan.collect {
        case j: Join if joinFree(j.left) && joinFree(j.right) =>
          j.condition.map(_.sql).getOrElse("")
      }
    }
    // stats-less planning keeps the written order: the bottom-most join
    // is the fact⋈fact lineitem⋈orders the FROM clause leads with
    val off = graft.ops.Storage.cboQuery(spark, sf, cbo = false)
    val offLeaves = leafJoinConds(off)
    assert(offLeaves.nonEmpty && offLeaves.forall(_.contains("l_orderkey")),
      s"expected syntactic fact-fact bottom join without CBO: $offLeaves")
    // with ANALYZE stats + CBO join reorder, the DP plan starts from
    // the small/filtered dim side instead
    val on = SparkEntry.queries("m_cbo_reorder")(spark, sf)
    val onLeaves = leafJoinConds(on)
    assert(onLeaves.nonEmpty && onLeaves.exists(!_.contains("l_orderkey")),
      s"CBO did not reorder away from the fact-fact bottom join: $onLeaves")
    // reorder must be result-invisible
    assert(on.collect().toSeq == off.collect().toSeq,
      "CBO reorder changed query results")
  }

  test("m_compact collapses the fragmented layout into clustered files") {
    val (frag, compact) = graft.ops.Storage.compactTables(spark, sf)
    val nFrag = spark.table(frag).inputFiles.length
    val nCompact = spark.table(compact).inputFiles.length
    info(s"$nFrag fragmented files -> $nCompact compacted")
    assert(nFrag == 64, s"fragmented fixture should hold 64 files: $nFrag")
    assert(nCompact > 0 && nCompact <= 8,
      s"compaction missed the size target: $nCompact files")
    // rewrite must carry every row (same projection, same content)
    assert(spark.table(compact).count() == spark.table(frag).count(),
      "compaction dropped rows")
    // clustering restored: the rewrite is range-partitioned on
    // l_orderkey, so per-FILE key ranges must be disjoint — exactly the
    // property that lets the parquet reader skip whole files on
    // footer min/max stats for any key-range predicate
    val ranges = spark.table(compact).inputFiles.toSeq.map { f =>
      val r = spark.read.parquet(f)
        .agg(min(col("l_orderkey")), max(col("l_orderkey")))
        .head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    info(s"compacted file key ranges: $ranges")
    val overlapping = ranges.zip(ranges.drop(1))
      .filter { case ((_, hi), (lo, _)) => hi > lo }
    assert(overlapping.isEmpty,
      s"compacted files overlap in key ranges — clustering lost: $ranges")
  }

  test("join strategy hints steer the physical operator") {
    // the manual override surface next to the automatic levers (CBO,
    // AQE, broadcast thresholds): per-join hints must reach the
    // planner, because at 100 TB the one join the optimizer sizes
    // wrong gets fixed with a hint, not a cluster-wide conf
    val l = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val o = Tables.orders(spark, sf).select("o_orderkey", "o_custkey")
    def planWith(hint: String): String =
      l.join(o.hint(hint), col("l_orderkey") === col("o_orderkey"))
        .queryExecution.executedPlan.toString
    assert(planWith("broadcast").contains("BroadcastHashJoin"),
      "broadcast hint ignored")
    assert(planWith("shuffle_hash").contains("ShuffledHashJoin"),
      "shuffle_hash hint ignored")
    assert(planWith("merge").contains("SortMergeJoin"),
      "merge hint ignored")
  }

  test("sorted layout compresses smaller than shuffled layout") {
    // the cheapest 100-TB lever of all: the SAME rows, the SAME codec,
    // laid down clustered vs arbitrarily interleaved. Sorting feeds
    // parquet's dictionary/RLE pages long runs instead of noise — the
    // reason compaction and Z-order rewrites sort within files. Pinned
    // as a byte-size inequality on real writes, not an assertion about
    // intent.
    def bytesOf(df: org.apache.spark.sql.DataFrame, dir: String): Long = {
      val p = s"/tmp/graft_compress_$dir"
      df.write.mode("overwrite").parquet(p)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(p))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(_.getLen).sum
    }
    val base = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey", "l_returnflag", "l_linestatus",
        "l_quantity")
    val sorted = bytesOf(
      base.repartition(1)
        .sortWithinPartitions("l_returnflag", "l_linestatus", "l_orderkey"),
      "sorted")
    // deterministic interleave: hash-order destroys every run
    val shuffled = bytesOf(
      base.repartition(1)
        .sortWithinPartitions(hash(col("l_orderkey"), col("l_partkey"))),
      "shuffled")
    info(s"sorted $sorted bytes vs shuffled $shuffled bytes " +
      f"(${100.0 * (shuffled - sorted) / shuffled}%.1f%% saved)")
    assert(sorted < shuffled,
      s"sorted layout ($sorted B) not smaller than shuffled ($shuffled B)")
  }

  test("m_schema_evolution merges genuinely different on-disk schemas") {
    // the query's oracle proves VALUES; this pins the MECHANISM — the
    // two generations really differ on disk (gen 1 has no
    // o_orderstatus), and the merged scan surfaces the union schema
    // with the added column NULL exactly on gen-1 rows
    val res = SparkEntry.queries("m_schema_evolution")(spark, sf)
    assert(res.columns.contains("o_orderstatus"))
    val dir = spark.sessionState.catalog.defaultTablePath(
      org.apache.spark.sql.catalyst.TableIdentifier(
        "graft_schema_gen_" +
          sf.replaceAll("[^A-Za-z0-9]", "_").replaceAll("^_+|_+$", "")))
      .toString
    val gen1 = spark.read.parquet(s"$dir/gen=1")
    val gen2 = spark.read.parquet(s"$dir/gen=2")
    assert(!gen1.columns.contains("o_orderstatus"),
      "gen 1 unexpectedly has the evolved column on disk")
    assert(gen2.columns.contains("o_orderstatus"))
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    val nullStatus = merged.filter(col("o_orderstatus").isNull)
      .select("o_orderkey").distinct()
    val evenKeys = merged.filter(col("o_orderkey") % 2 === 0)
      .select("o_orderkey").distinct()
    assert(nullStatus.exceptAll(evenKeys).count() == 0 &&
      evenKeys.exceptAll(nullStatus).count() == 0,
      "NULL evolved column does not line up with gen-1 rows")
  }

  test("bucket pruning: a bucket-key equality scans 1 of 8 buckets") {
    // the read-side sibling of the zero-Exchange join pin: the same
    // write-time bucketing also lets a point/IN predicate on the
    // bucket key open only the matching bucket's files — at 100 TB,
    // 1/8th of the listing and IO before any row is read
    SparkEntry.queries("m_bucketed_join")(spark, sf) // land the tables
    val tbl = "graft_orders_bkt_" +
      sf.replaceAll("[^A-Za-z0-9]", "_").replaceAll("^_+|_+$", "")
    // DisableUnnecessaryBucketedScan un-buckets a scan that feeds no
    // distribution-requiring operator — a bare filter qualifies, so
    // hold the bucketed read on to expose the pruning
    val conf = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.get(conf)
    try {
      spark.conf.set(conf, "false")
      val plan = spark.table(tbl)
        .filter(col("o_orderkey") === 42L)
        .queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"),
        s"scan is not bucket-aware:\n$plan")
      assert(plan.contains("SelectedBucketsCount: 1 out of 8"),
        s"bucket pruning did not select exactly one bucket:\n$plan")
    } finally spark.conf.set(conf, prev)
  }

  test("vacuum retains the newest generations and never changes the " +
      "live read") {
    // five copy-on-write generations (the m_stream_upsert layout):
    // gen=N holds the orders projection with a marker generation
    // column; a max-generation reader sees only gen=5
    val root = java.nio.file.Files
      .createTempDirectory("graft_vacuum").toString
    val base = Tables.orders(spark, sf)
      .select("o_orderkey", "o_totalprice").limit(100)
    (1 to 5).foreach { g =>
      base.withColumn("gen", lit(g))
        .write.mode("overwrite").parquet(s"$root/gen=$g")
    }
    def liveRows(): Array[org.apache.spark.sql.Row] = {
      val live = spark.read.parquet(s"$root/gen=5")
      live.orderBy("o_orderkey").collect()
    }
    val before = liveRows()
    val (kept, deleted) =
      graft.ops.Storage.vacuumGenerations(spark, root, keep = 2)
    info(s"kept generations $kept, deleted $deleted")
    assert(kept == Seq(4L, 5L), s"wrong retained set: $kept")
    assert(deleted == Seq(1L, 2L, 3L), s"wrong deleted set: $deleted")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val left = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName).filter(_.startsWith("gen=")).sorted
    assert(left.sameElements(Array("gen=4", "gen=5")),
      s"on-disk generations after vacuum: ${left.mkString(",")}")
    // the GC of strictly-older generations is invisible to the reader
    assert(liveRows().sameElements(before),
      "vacuum changed the live generation's content")
    // idempotent: a second vacuum deletes nothing
    val (kept2, deleted2) =
      graft.ops.Storage.vacuumGenerations(spark, root, keep = 2)
    assert(kept2 == Seq(4L, 5L) && deleted2.isEmpty,
      "vacuum is not idempotent")
  }

  test("m_time_travel snapshot survives vacuum to its horizon") {
    import org.apache.spark.sql.functions._
    // this test MUTATES the landed layout (vacuum deletes gen=1), so
    // it must not leave the vacuumed state behind as a "complete"
    // landing for the cross-session catalog — invalidate up front
    // (in case a prior run left the mutated state) and at the end
    graft.ops.Storage.invalidateTimeTravel(spark, sf)
    try {
    val root = graft.ops.Storage.timeTravelRoot(spark, sf)
    val snap2 = SparkEntry.queries("m_time_travel")(spark, sf)
      .collect().map(_.toSeq)
    // the live generation has MOVED ON: gen=3 carries batch 2's rows
    val n2 = spark.read.parquet(s"$root/gen=2")
      .agg(sum("n")).collect()(0).getLong(0)
    val n3 = spark.read.parquet(s"$root/gen=3")
      .agg(sum("n")).collect()(0).getLong(0)
    assert(n3 > n2, s"live gen=3 ($n3) should exceed snapshot gen=2 ($n2)")
    // vacuum keep=2 retains exactly the travel horizon {2, 3}
    val (kept, deleted) =
      graft.ops.Storage.vacuumGenerations(spark, root, keep = 2)
    assert(kept == Seq(2L, 3L) && deleted == Seq(1L),
      s"vacuum horizon wrong: kept=$kept deleted=$deleted")
    // the snapshot is still readable and unchanged after the vacuum
    val snapAfter = SparkEntry.queries("m_time_travel")(spark, sf)
      .collect().map(_.toSeq)
    assert(snapAfter.toSeq == snap2.toSeq,
      "time-travel snapshot changed after vacuum")
    } finally graft.ops.Storage.invalidateTimeTravel(spark, sf)
  }

  test("m_mv_rewrite routes to the summary, never the base scan") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("m_mv_rewrite")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("lineitem.parquet"),
      s"routed query still scans the base table:\n$plan")
    assert(plan.contains("graft_mv_li_flag"),
      s"routed query does not read the summary:\n$plan")
    // negative controls, each wrapped in the same route so they
    // exercise the MATCHER (SessionSetupSpec pins that an unwrapped
    // plan is never routed)
    val mvDef = graft.ops.Storage.mvSummaryDef(spark, sf)
    def routedPlan(p: org.apache.spark.sql.DataFrame): String =
      graft.plans.MvRewrite.route(p, mvDef)
        .queryExecution.executedPlan.toString
    // negative control 1: a different aggregate shape must NOT route
    val ctrl = Tables.rawTable(spark, sf, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(sum(floor(col("l_extendedprice"))).as("x"))
    assert(routedPlan(ctrl).contains("lineitem.parquet"),
      "non-matching aggregate was routed to the summary")
    // negative control 2: a Filter below the aggregate invalidates
    // the summary — must NOT route
    val fctrl = Tables.rawTable(spark, sf, "lineitem")
      .filter(col("l_quantity") < 10.0)
      .groupBy(col("l_returnflag"))
      .agg(sum(floor(col("l_quantity"))).as("qty_sum"),
        count(lit(1)).as("n"))
    assert(routedPlan(fctrl).contains("lineitem.parquet"),
      "filtered aggregate was wrongly routed to the summary")
    // negative control 3: a withColumn that REDEFINES l_quantity under
    // the same name mints a new exprId — name-blind matching would
    // wrongly route this to the stale summary (round-6 ADVICE attack)
    val wctrl = Tables.rawTable(spark, sf, "lineitem")
      .withColumn("l_quantity", col("l_quantity") * 2)
      .groupBy(col("l_returnflag"))
      .agg(sum(floor(col("l_quantity"))).as("qty_sum"),
        count(lit(1)).as("n"))
    assert(routedPlan(wctrl).contains("lineitem.parquet"),
      "column-shadowing aggregate was wrongly routed to the summary")
    // result invariance: the plain, unwrapped aggregate computes directly
    val routed = df.collect().map(_.toSeq)
    val direct = Tables.rawTable(spark, sf, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(sum(floor(col("l_quantity"))).as("qty_sum"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag").collect().map(_.toSeq)
    assert(routed.toSeq == direct.toSeq,
      "routed and direct answers differ")
  }

  test("landed-artifact catalog: cross-session reuse + stale-base " +
      "invalidation") {
    // a private base dir the test can mutate (the real fixtures are
    // read-only); what the builder READS is irrelevant to the catalog
    // — the manifest fingerprints the BASE DIR's file listing
    val base = java.nio.file.Files.createTempDirectory("graft_cat_base")
    java.nio.file.Files.write(base.resolve("data.bin"),
      Array[Byte](1, 2, 3))
    var builds = 0
    def land(s: org.apache.spark.sql.SparkSession): String =
      Tables.landedDir(s, "graft_cat_probe", base.toString) {
        builds += 1
        s.range(5).toDF("n")
      }
    val loc1 = land(spark)
    assert(builds == 1)
    // same session: session-map fast path, no re-fingerprint needed
    land(spark)
    assert(builds == 1)
    // FRESH session, same warehouse: the on-disk manifest is valid, so
    // the landing is reused with NO rebuild and — critically — no
    // destructive delete while this session may still be reading it
    val s2 = spark.newSession()
    val loc2 = land(s2)
    assert(loc2 == loc1, "landing location must be session-independent")
    assert(builds == 1,
      "a fresh session re-ran the build despite a valid manifest")
    // stale-base negative control: any change to the base listing
    // (new file, resize, rewrite) must invalidate and rebuild
    java.nio.file.Files.write(base.resolve("late_arrival.bin"),
      Array[Byte](9))
    val s3 = spark.newSession()
    land(s3)
    assert(builds == 2,
      "a changed base dir did not invalidate the landed artifact")
  }

  test("landed-artifact catalog: a crashed builder's stale lock is " +
      "broken (by rename) and the build proceeds") {
    val base = java.nio.file.Files.createTempDirectory("graft_lock_base")
    java.nio.file.Files.write(base.resolve("data.bin"), Array[Byte](7))
    var builds = 0
    def land(s: org.apache.spark.sql.SparkSession): String =
      Tables.landedDir(s, "graft_lock_probe", base.toString) {
        builds += 1
        s.range(3).toDF("n")
      }
    // derive the landing location through the SAME helper
    // landedDirWith uses (re-implementing the name mangling here is
    // exactly the byte-identical-or-stale trap its comment warns of),
    // then plant a dead builder's lock, aged past lockStaleMs (600 s)
    val (_, loc) = Tables.landingKeyLoc(spark, "graft_lock_probe",
      base.toString)
    val lock = new org.apache.hadoop.fs.Path(loc + ".build_lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(lock.getParent)
    fs.create(lock, false).close()
    fs.setTimes(lock, System.currentTimeMillis - 700000L, -1)
    // a waiter must BREAK the stale lock (not wait out the 11-minute
    // deadline, not throw) and complete the build
    land(spark)
    assert(builds == 1, "stale lock was not broken")
    assert(!fs.exists(lock), "winner did not release the lock")
    // no broken-lock tombstones left behind by the rename break
    val leftovers = fs.globStatus(
      new org.apache.hadoop.fs.Path(loc + ".build_lock.broken.*"))
    assert(leftovers == null || leftovers.isEmpty,
      "rename-break left a tombstone file")
    // fenced publication leaves no temp build dirs either
    val tmps = fs.globStatus(
      new org.apache.hadoop.fs.Path(loc + ".build.*"))
    assert(tmps == null || tmps.isEmpty,
      "fenced publication left a temp build directory")
    // and the published tree carries its manifest (it rode the rename)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(loc), "_GRAFT_MANIFEST")),
      "published landing has no manifest inside it")
  }

  test("landed-artifact catalog: a builder whose lock is stolen " +
      "mid-build still publishes whole and leaves the thief's lock " +
      "alone") {
    // the lost-lock scenario the ownership token + fenced rename exist
    // for: builder A stalls long enough for its lock to be age-broken
    // and re-acquired by B; when A resumes it must (a) NOT delete B's
    // live lock on release, and (b) still publish a COMPLETE tree —
    // the atomic-rename fence makes the double-build harmless
    val base = java.nio.file.Files.createTempDirectory("graft_steal_base")
    java.nio.file.Files.write(base.resolve("data.bin"), Array[Byte](3))
    val (_, loc) = Tables.landingKeyLoc(spark, "graft_steal_probe",
      base.toString)
    val lock = new org.apache.hadoop.fs.Path(loc + ".build_lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val thiefToken = "thief-" + java.util.UUID.randomUUID
    Tables.landedDir(spark, "graft_steal_probe", base.toString) {
      // mid-build: simulate the age-break + re-acquisition by a
      // second process — replace the builder's lock with a foreign one
      fs.delete(lock, false)
      val out = fs.create(lock, false)
      try out.write(thiefToken.getBytes("UTF-8")) finally out.close()
      spark.range(4).toDF("n")
    }
    // (a) the thief's lock survived the original builder's release
    assert(fs.exists(lock), "builder deleted a lock it no longer owns")
    val in = fs.open(lock)
    val content =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    assert(content == thiefToken, "thief's lock content was altered")
    fs.delete(lock, false) // clean up for later suites
    // (b) the build still published a complete, manifest-stamped tree
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(loc), "_GRAFT_MANIFEST")),
      "lost-lock build failed to publish a complete tree")
    assert(spark.read.parquet(loc).count() == 4,
      "published tree is not the complete build")
  }
}
