package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{SparkEntry, Tables}

/** One benchmark run of one workload, driven through the engine's public
  * entry points (`SparkEntry.queries`, `Tables.*`) only. `run.py` starts
  * it; arguments are `key=value`:
  *
  *   fixture  parquet fixture directory (read only)
  *   work     run directory owned by this run: warehouse, temp, outputs
  *   queries  comma-separated workload queries
  *   tables   comma-separated tables set-up warms through `Tables.*`
  *   seed     permutes the query order of every pass
  *   seconds  steady-pass time budget
  *   min_steady  steady passes made even when the budget is spent
  *   cores    `local[cores]`
  *   trace    1 = record spans and counters (never in a timed run)
  *   out      JSON artifact path
  *
  * With `mode=oracles` it only writes the queries' DuckDB oracle SQL to
  * `out` (for record_hashes.py).
  *
  * Order of a run: set-up (JVM start, a first session, warming the
  * tables), one cold pass in that session, which pays the JVM's class
  * loading and JIT compilation; then the session stops and a fresh one
  * starts with its own warehouse, warms the tables again and runs the
  * first pass (session-shared builds and landings, in a warm JVM) and the
  * steady passes.
  *
  * A closed loop with one client: the queries of a pass run one after
  * another on the main thread, each timed from the `SparkEntry.queries`
  * call until its rows are collected. The rows the last pass returned are
  * written, untimed, to `work/out/<query>` for run.py to check. The
  * artifact holds raw timings; run.py turns them into metrics.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val queries = a("queries").split(",").toSeq
    if (a.get("mode").contains("oracles")) {
      Files.writeString(Paths.get(a("out")), Json.obj(queries.flatMap { q =>
        SparkEntry.oracleSql.get(q).map(q -> Json.str(_))
      }))
      return
    }
    val fixture = a("fixture")
    val work = new File(a("work")).getAbsolutePath
    val tables = a("tables").split(",").toSeq.filter(_.nonEmpty)
    val seconds = a("seconds").toDouble
    val minSteady = a("min_steady").toInt
    val cores = a("cores").toInt
    val traced = a("trace") == "1"
    val order = new scala.util.Random(a("seed").toLong)

    def session(warehouse: String): SparkSession = {
      val b = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", s"$work/$warehouse")
        .config("spark.local.dir", s"$work/local")
        .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      if (traced) b
        .config("spark.extraListeners", classOf[TaskListener].getName)
        .config("spark.sql.queryExecutionListeners", classOf[ActionListener].getName)
        .config("spark.sql.streaming.streamingQueryListeners",
          classOf[StreamListener].getName)
      val s = b.getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      Trace.attach(s.sparkContext)
      s
    }

    def warm(s: SparkSession, t: String): Long = t match {
      case "events" => Tables.events(s, fixture).count()
      case "videos" => Tables.videos(s, fixture).count()
      case "videoEdges" => Tables.videoEdges(s, fixture).count()
      case _ => Tables.table(s, fixture, t).count()
    }

    Trace.on = traced
    var spark: SparkSession = null
    // a session and its warmed tables; total_s counts from `fromMs`
    def setUp(name: String, warehouse: String, fromMs: Long): String =
      Trace.span("setup", name) {
        val startS = (System.currentTimeMillis() - fromMs) / 1e3
        val t0 = System.nanoTime()
        spark = Trace.span("session", "session")(session(warehouse))
        val t1 = System.nanoTime()
        val perTable = tables.map { t =>
          val u = System.nanoTime()
          Trace.span("tables", t)(warm(spark, t))
          t -> (System.nanoTime() - u) / 1e9
        }
        val t2 = System.nanoTime()
        Json.obj(Seq("start_s" -> Json.num(startS),
          "session_s" -> Json.num((t1 - t0) / 1e9),
          "warm_s" -> Json.num((t2 - t1) / 1e9),
          "total_s" -> Json.num((System.currentTimeMillis() - fromMs) / 1e3),
          "tables" -> Json.obj(perTable.map { case (k, v) => k -> Json.num(v) })))
      }

    val failures = mutable.ArrayBuffer.empty[String]
    // rows the latest pass returned per query, with their schema
    val lastRows = mutable.HashMap.empty[String, (Array[Row], StructType)]
    def runPass(kind: String, idx: Int, tracedPass: Boolean): String = {
      Trace.on = tracedPass
      val names = order.shuffle(queries)
      val times = mutable.ArrayBuffer.empty[(String, String)]
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      Trace.span("pass", s"$kind$idx") {
        names.foreach { q =>
          val u = System.nanoTime()
          var built = 0.0
          val ok = try {
            Trace.span("query", q) {
              val df = Trace.span("ops.build", q)(SparkEntry.queries(q)(spark, fixture))
              built = (System.nanoTime() - u) / 1e9
              lastRows(q) = (Trace.span("action", q)(df.collect()), df.schema)
            }
            true
          } catch {
            case e: Throwable =>
              lastRows.remove(q)
              failures += Json.obj(Seq("pass" -> Json.num(idx), "query" -> Json.str(q),
                "error" -> Json.str(String.valueOf(e.getMessage).take(300))))
              false
          }
          times += q -> Json.obj(Seq("s" -> Json.num((System.nanoTime() - u) / 1e9),
            "build_s" -> Json.num(built), "ok" -> ok.toString))
        }
      }
      Json.obj(Seq("kind" -> Json.str(kind), "traced" -> tracedPass.toString,
        "start_ms" -> Json.num(startMs),
        "wall_s" -> Json.num((System.nanoTime() - t0) / 1e9),
        "order" -> Json.arr(names.map(Json.str)),
        "queries" -> Json.obj(times.toSeq)))
    }

    // set-up is timed from the JVM's own start time
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val setupRec = setUp("setup", "warehouse-cold", jvmStartMs)
    val passes = mutable.ArrayBuffer(runPass("cold", 0, traced))
    spark.stop()
    // a fresh session in the warm JVM, with a warehouse of its own: its
    // first pass pays the session-shared builds and landings, not the JIT
    val freshRec = setUp("fresh", "warehouse", System.currentTimeMillis())
    passes += runPass("first", 0, traced)
    // steady passes until the budget is spent; a traced run alternates
    // traced and untraced passes so it can state its own overhead
    val s0 = System.nanoTime()
    var i = 1
    while (i <= minSteady || (System.nanoTime() - s0) / 1e9 < seconds) {
      passes += runPass("steady", i, traced && i % 2 == 1)
      i += 1
    }
    Trace.on = false

    val cacheMb = spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / 1e6
    val storeMb = Seq("warehouse", "tmp").map(d => du(new File(work, d))).sum / 1e6

    val outDir = s"$work/out"
    lastRows.foreach { case (q, (rows, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(s"$outDir/$q")
    }

    // untimed, after the passes: host speed of a traced run, beside its
    // per-layer numbers; timed runs skip it to keep their length down
    val calib = if (traced) calibrate(spark, cores) else Double.NaN
    spark.stop()

    val out = Json.obj(Seq(
      "cores" -> Json.num(cores),
      "setup" -> setupRec,
      "fresh_setup" -> freshRec,
      "passes" -> Json.arr(passes.toSeq),
      "failures" -> Json.arr(failures.toSeq),
      "output_dir" -> Json.str(outDir),
      "cache_mb" -> Json.num(cacheMb),
      "store_mb" -> Json.num(storeMb),
      "calib_s" -> Json.num(calib)) ++
      (if (traced) Seq(
        "spans" -> Json.arr(Trace.spans.toSeq.map { s =>
          Json.obj(Seq("id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
            "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
            "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs),
            "counters" -> Json.obj(Trace.counters.getOrElse(s.id, Map.empty[String, Double])
              .toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
        }),
        "tasks" -> Json.arr(Trace.tasks.toSeq.map { case (sp, l, f) =>
          Json.arr(Seq(Json.num(sp), Json.num(l), Json.num(f)))
        }))
      else Nil))
    Files.writeString(Paths.get(a("out")), out)
  }

  private def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)
    else if (f.isFile) f.length
    else 0L

  /** Fixture-free host probe sized for the core count: an in-memory scan
    * plus a shuffle of 1M rows per core; median of three after a warm-up.
    * It explains host epochs and is not a claim metric. */
  private def calibrate(spark: SparkSession, cores: Int): Double = {
    import org.apache.spark.sql.functions._
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 1000000L * cores, 1, cores)
        .select((col("id") % 262144L).as("k"),
          ((col("id") * 2654435761L) % 1000003L).as("v"))
        .groupBy("k").agg(sum("v").as("sv"), count(lit(1)).as("c"))
        .agg(sum("sv"), sum("c"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    Seq.fill(3)(once()).sorted.apply(1)
  }
}

/** Minimal JSON rendering for the artifact. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
