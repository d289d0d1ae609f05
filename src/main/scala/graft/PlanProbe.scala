package graft
import org.apache.spark.sql.SparkSession
object PlanProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = args.toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.maxFields",
        sys.env.getOrElse("SPARK_GRAFT_MAXFIELDS", "100"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Driver round-trip audit: count Spark jobs per run. Job counts
    // are deterministic (unlike this host's timings), so they expose
    // latency-bound queries — many small jobs at 8c/32c ratio ≈ 1 —
    // even in a noisy epoch.
    val jobCount = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobCount.incrementAndGet()
      })
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // Build the DF inside each timed run, exactly like Bench — the
      // streaming queries execute their stream during fn(), so timing
      // only the noop write would miss all their work.
      def once(): (Double, Int) = {
        val j0 = jobCount.get()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // listener bus is async; let job events drain
        (dt, jobCount.get() - j0)
      }
      val (t1, j1) = once()
      val (t3, j3) = once()
      println(f"TIMING $name first=$t1%.2f second=$t3%.2f " +
        s"jobs_first=$j1 jobs_second=$j3")
      if (sys.env.contains("SPARK_GRAFT_EXPLAIN"))
        fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
