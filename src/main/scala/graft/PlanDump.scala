package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Batch formatted-plan dumper for the duplicated-subtree sweep
  * (VERDICT r12 item 6): writes every declared query's
  * `explain("formatted")` text to `<outDir>/<name>.txt` so repeated
  * scan/Exchange subtrees can be counted offline. Building a DF
  * executes any driver-coordinated loop inside it once (same behavior
  * as Bench/PlanProbe); failures are recorded per query instead of
  * aborting the sweep.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = args.headOption.getOrElse("/tmp/plandump")
    val only: Set[String] =
      if (args.length > 1) args(1).split(",").toSet else Set.empty
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only(n))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"$name.txt"), txt)
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"$name.FAILED.txt"),
          String.valueOf(e))
      }
    }
    spark.stop()
  }
}
