package graft

import graft.streaming.Streams
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.StreamingQueryException
import scala.jdk.CollectionConverters._

/** What the stream launcher and `Sessions.child` buy: a repeated
  * stream run or child-session build compiles no new code, a stream's
  * checkpoint renames fork no `readlink`, and the launcher's session
  * settings never outlive the run. */
class StreamCodeReuseSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def compiles(): Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private val runs: Seq[(String, () => DataFrame)] = Seq(
    "tumblingCounts" -> (() => Streams.tumblingCounts(spark, sf)),
    "stateReaderCounts" -> (() => Streams.stateReaderCounts(spark, sf)),
    "upsertMerge" -> (() => Streams.upsertMerge(spark, sf)),
    "m_aqe_skew" -> (() => SparkEntry.queries("m_aqe_skew")(spark, sf)))

  for ((name, run) <- runs)
    test(s"the second $name run compiles no generated class") {
      run().collect()
      val c0 = compiles()
      run().collect()
      assert(compiles() == c0,
        s"$name compiled ${compiles() - c0} classes on its second run")
    }

  test("a stream run forks no readlink process") {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    Streams.tumblingCounts(spark, sf).collect()
    rec.stop()
    val f = java.nio.file.Files.createTempFile("graft_fork", ".jfr")
    try {
      rec.dump(f)
      val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(f).asScala
        .map(_.getString("command"))
      assert(!commands.exists(_.contains("readlink")),
        s"forked: ${commands.mkString("; ")}")
    } finally {
      rec.close()
      java.nio.file.Files.delete(f)
    }
  }

  private val launcherKeys = Seq(SQLConf.SHUFFLE_PARTITIONS.key,
    Sessions.sharedCode._1,
    SQLConf.STREAMING_CHECKPOINT_FILE_MANAGER_CLASS.parent.key)

  // each test starts from a fresh session, whose keys no earlier run
  // has touched
  private def keys(s: SparkSession) =
    launcherKeys.map(k => k -> s.conf.getOption(k))

  test("the launcher's session settings do not outlive a run") {
    val s = spark.newSession()
    val before = keys(s)
    Streams.tumblingCounts(s, sf).collect()
    assert(keys(s) == before)
  }

  test("the launcher's session settings do not outlive a failed run") {
    // an events table whose `value` column is a string: the stream's
    // declared DOUBLE read fails inside the running query
    val dir = java.nio.file.Files.createTempDirectory("graft_bad_events")
    try {
      val s = spark
      import s.implicits._
      Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 7L,
          "view", "not a double", "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(s"$dir/events.parquet")
      val fresh = spark.newSession()
      val before = keys(fresh)
      intercept[StreamingQueryException] {
        Streams.tumblingCounts(fresh, dir.toString)
      }
      assert(keys(fresh) == before)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
