package graft

import org.apache.spark.GraftBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

object PlanProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = args.toSeq
    val spark = Harness.localSession()
    // Driver round-trip audit: count Spark jobs and SQL executions
    // (planned queries) per run. Job counts repeat where timings do
    // not, so they expose latency-bound queries — many small jobs at
    // 8c/32c ratio ≈ 1 — even in a noisy epoch. One exception: AQE's
    // empty-relation propagation races query-stage completion, so the
    // first run of a loop whose rounds run SQL joins and aggregates can
    // differ by a job.
    val jobCount = new java.util.concurrent.atomic.AtomicInteger(0)
    val sqlCount = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobCount.incrementAndGet()
        override def onOtherEvent(
            e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
          e match {
            case _: SparkListenerSQLExecutionStart => sqlCount.incrementAndGet()
            case _ =>
          }
      })
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // Build the DF inside each timed run, exactly like Bench — the
      // streaming queries execute their stream during fn(), so timing
      // only the noop write would miss all their work.
      // Compiles are the codegen classes built during the run (a
      // JVM-wide counter): a warm plan shape should build none.
      def once(): (Double, Int, Int, Long) = {
        val (j0, q0) = (jobCount.get(), sqlCount.get())
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        GraftBus.drain(spark.sparkContext) // job events arrive async
        (dt, jobCount.get() - j0, sqlCount.get() - q0,
          CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
      }
      val (t1, j1, q1, c1) = once()
      val (t3, j3, q3, c3) = once()
      println(f"TIMING $name first=$t1%.2f second=$t3%.2f " +
        s"jobs_first=$j1 jobs_second=$j3 sqls_first=$q1 sqls_second=$q3 " +
        s"compiles_first=$c1 compiles_second=$c3")
      if (sys.env.contains("SPARK_GRAFT_EXPLAIN"))
        fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
