package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // SPARK_GRAFT_VERIFY_EXCLUDE: comma-separated names to SKIP — the
    // sf1 board artifact's documented exclusion list rides this
    // (tools/correctness_sf.py --exclude), so one slow fixture-landing
    // query can be priced out without editing code
    val excluded: Set[String] = sys.env.get("SPARK_GRAFT_VERIFY_EXCLUDE")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    val spark = Harness.localSession()
    new java.io.File(outDir).mkdirs()
    // optional 3rd arg: comma-separated query-name filter (local
    // iteration). repartition(1), not coalesce(1): coalesce folds the
    // WHOLE plan into one task; repartition adds a shuffle barrier so
    // computation stays parallel and only the final write is single-file.
    Harness.selected(args.lift(2)).filterNot(excluded).foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).repartition(1)
        .write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
