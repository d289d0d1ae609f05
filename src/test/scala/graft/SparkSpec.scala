package graft

import org.apache.spark.GraftBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

/** Shared one-per-JVM SparkSession for the test suite, with graft's
  * extensions installed. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    VersionPin.assertCompat(s)
    graft.functions.GraftFunctions.install(s)
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  /** Spark jobs started and codegen classes compiled while `f` runs
    * (the listener bus is drained before the job count is read). */
  protected def cost(f: => Unit): (Int, Long) = {
    val (jobs, _, compiled) = counts(f)
    (jobs, compiled)
  }

  /** Spark jobs started, SQL executions started (queries planned and
    * run) and codegen classes compiled while `f` runs. */
  protected def counts(f: => Unit): (Int, Int, Long) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val sqls = new java.util.concurrent.atomic.AtomicInteger
    val count = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => sqls.incrementAndGet()
        case _ =>
      }
    }
    GraftBus.drain(sc)
    sc.addSparkListener(count)
    try {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      f
      GraftBus.drain(sc)
      (jobs.get, sqls.get,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
    } finally sc.removeSparkListener(count)
  }
}
