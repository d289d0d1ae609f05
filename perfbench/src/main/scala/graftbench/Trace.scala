package graftbench

import scala.collection.mutable

import org.apache.spark.{BenchBus, SparkConf, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a call the harness makes into a layer. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    startMs: Long, var endMs: Long = -1L)

/** Spans and per-span counters of the traced run, kept in memory and
  * written out when the run ends.
  *
  * Jobs, stages and tasks are attributed to spans through the job group
  * each span sets. Callbacks that carry no job group (query-execution and
  * streaming-progress events) go to the innermost open span; the listener
  * bus is drained at every span boundary, so that span is the one that
  * caused them.
  */
object Trace {
  @volatile var on = false
  @volatile private var sc: SparkContext = _
  @volatile private var current = 0

  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = mutable.HashMap.empty[Int, mutable.Map[String, Double]]
  /** (span, task launch ms, task finish ms) of every finished task. */
  val tasks = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  private val stack = mutable.Stack.empty[Int]
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val streamRows = mutable.HashMap.empty[java.util.UUID, Double]
  private val groupPrefix = "graftbench-"

  def attach(ctx: SparkContext): Unit = sc = ctx

  private def drain(): Unit = if (sc != null && !sc.isStopped) BenchBus.drain(sc)

  private def setGroup(id: Int): Unit = if (sc != null && !sc.isStopped) {
    if (id == 0) sc.clearJobGroup()
    else sc.setJobGroup(s"$groupPrefix$id", spans(id - 1).name, false)
  }

  def span[T](kind: String, name: String)(body: => T): T =
    if (!on) body
    else {
      drain()
      val s = Span(spans.size + 1, current, kind, name, System.currentTimeMillis())
      spans.synchronized(spans += s)
      stack.push(s.id)
      current = s.id
      setGroup(s.id)
      try body
      finally {
        drain()
        s.endMs = System.currentTimeMillis()
        stack.pop()
        current = stack.headOption.getOrElse(0)
        setGroup(current)
      }
    }

  private def bump(span: Int, key: String, v: Double): Unit =
    counters.synchronized {
      val m = counters.getOrElseUpdate(span, mutable.HashMap.empty)
      m(key) = m.getOrElse(key, 0.0) + v
    }

  private def peak(span: Int, key: String, v: Double): Unit =
    counters.synchronized {
      val m = counters.getOrElseUpdate(span, mutable.HashMap.empty)
      m(key) = math.max(m.getOrElse(key, 0.0), v)
    }

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(groupPrefix))
      .map(_.stripPrefix(groupPrefix).toInt)
      .getOrElse(current)

  def onJob(e: SparkListenerJobStart): Unit =
    if (on) bump(spanOf(e.properties), "jobs", 1)

  def onStage(e: SparkListenerStageSubmitted): Unit = if (on) {
    val s = spanOf(e.properties)
    stageSpan.put(e.stageInfo.stageId, s)
    bump(s, "stages", 1)
  }

  def onTask(e: SparkListenerTaskEnd): Unit = if (on) {
    val s = Option(stageSpan.get(e.stageId)).getOrElse(current)
    val i = e.taskInfo
    bump(s, "tasks", 1)
    if (!i.successful) bump(s, "failed_tasks", 1)
    tasks.synchronized(tasks += ((s, i.launchTime, i.finishTime)))
    val dur = (i.finishTime - i.launchTime).toDouble
    bump(s, "task_ms", dur)
    val m = e.taskMetrics
    if (m != null) {
      bump(s, "run_ms", m.executorRunTime.toDouble)
      bump(s, "cpu_ms", m.executorCpuTime / 1e6)
      bump(s, "gc_ms", m.jvmGCTime.toDouble)
      // Spark UI's scheduler delay: task time not spent running,
      // deserializing, serializing the result or fetching it
      bump(s, "sched_delay_ms", math.max(0.0, dur - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L)))
      peak(s, "peak_mem_bytes", m.peakExecutionMemory.toDouble)
      bump(s, "output_bytes", m.outputMetrics.bytesWritten.toDouble)
      bump(s, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      bump(s, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      bump(s, "fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      bump(s, "spill_bytes", m.diskBytesSpilled.toDouble)
    }
  }

  /** Leaves of the executed plan, looking through adaptive wrappers,
    * query stages and subqueries; reused exchanges are not scans. */
  private def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case q: QueryStageExec => leaves(q.plan)
    case _: ReusedExchangeExec => Nil
    case _ if p.children.isEmpty => p +: p.subqueries.flatMap(leaves)
    case _ => p.children.flatMap(leaves) ++ p.subqueries.flatMap(leaves)
  }

  private def writes(p: SparkPlan): Seq[DataWritingCommandExec] = p match {
    case w: DataWritingCommandExec => Seq(w)
    case a: AdaptiveSparkPlanExec => writes(a.executedPlan)
    case q: QueryStageExec => writes(q.plan)
    case _ => p.children.flatMap(writes)
  }

  def onAction(qe: QueryExecution): Unit = if (on) {
    val s = current
    bump(s, "actions", 1)
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { ph =>
      phases.get(ph).foreach(p => bump(s, s"${ph}_ms", p.durationMs.toDouble))
    }
    val plan = try qe.executedPlan catch { case _: Throwable => null }
    if (plan != null) {
      val ls = leaves(plan)
      val mem = ls.count(_.isInstanceOf[InMemoryTableScanExec])
      val file = ls.count(l => l.isInstanceOf[FileSourceScanExec] ||
        l.isInstanceOf[BatchScanExec])
      bump(s, "mem_scans", mem)
      bump(s, "table_scans", mem + file)
      ls.collect { case f: FileSourceScanExec => f.metrics.get("filesSize") }
        .flatten.foreach(m => bump(s, "file_bytes", m.value.toDouble))
      writes(plan).foreach { w =>
        w.cmd.metrics.get("numFiles").foreach(m => bump(s, "files_written", m.value.toDouble))
      }
    }
  }

  def onProgress(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit =
    if (on) {
      val s = current
      def d(k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      bump(s, "batches", 1)
      bump(s, "trigger_ms", d("triggerExecution"))
      bump(s, "wal_commit_ms", d("walCommit"))
      bump(s, "state_commit_ms", p.stateOperators.map(_.commitTimeMs.toDouble).sum)
      streamRows.synchronized {
        streamRows(p.runId) = p.stateOperators.map(_.numRowsTotal.toDouble).sum
      }
    }

  def onStreamEnd(runId: java.util.UUID): Unit = if (on) {
    val rows = streamRows.synchronized(streamRows.remove(runId))
    rows.foreach(bump(current, "state_rows", _))
  }
}

/** Registered through `spark.extraListeners` on traced sessions. */
final class TaskListener(conf: SparkConf) extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = Trace.onJob(e)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Trace.onStage(e)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.onTask(e)
}

/** Registered through `spark.sql.queryExecutionListeners`, so sessions
  * the program forks with `newSession()` report too. */
final class ActionListener(conf: SparkConf) extends QueryExecutionListener {
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    Trace.onAction(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    Trace.onAction(qe)
}

/** Registered through `spark.sql.streaming.streamingQueryListeners`. */
final class StreamListener(conf: SparkConf) extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    Trace.onProgress(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    Trace.onStreamEnd(e.runId)
}
