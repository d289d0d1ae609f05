package graft
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
    val spark = Harness.localSession()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    Harness.selected(args.lift(1)).foreach { name =>
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
