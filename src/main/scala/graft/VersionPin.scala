package graft

import org.apache.spark.sql.SparkSession

/** Spark-version compatibility pin (VERDICT r11 item 7).
  *
  * The board's hash-level guarantees are validated against ONE Spark
  * build, and several load-bearing behaviors are version-sensitive
  * (the full contract lives in NOTES.md "Spark version compatibility
  * contract"):
  *
  *   - `localCheckpoint()` returning a LogicalRDD that FORGETS its
  *     hash partitioning — `Graph.cachedBySrc` exists because of it,
  *     and a build that changed this silently changes which plans
  *     carry an Exchange;
  *   - the `statestore` / `state-metadata` readers' schema and buffer
  *     field naming ("count", "sum" — by FUNCTION, not alias), pinned
  *     by m_stream_state_reader and StateReaderSpec;
  *   - `transformWithState` (Spark-4-only API) and its RocksDB-only
  *     provider requirement;
  *   - SQL scripting (`EXECUTE IMMEDIATE`, `spark.sql.scripting
  *     .enabled`) used by the Sql4 surface;
  *   - AQE/codegen plan shapes that the *_native expression twins and
  *     PlanProbe assertions key on.
  *
  * Every entrypoint (the harness mains via [[Harness.localSession]],
  * RecoveryDrill, the test suite) asserts the pin at session start so
  * a version drift fails in one obvious place instead of
  * hash-diverging mid-board.
  * `SPARK_GRAFT_ALLOW_VERSION_DRIFT=1` downgrades the failure to a
  * stderr warning for deliberate porting work.
  */
object VersionPin {
  /** The Spark line the board is validated on (exact build recorded
    * in NOTES.md; the pin checks major.minor — patch releases do not
    * change the behaviors above without a minor bump, and an exact
    * triple would make every harmless patch upgrade a hard stop). */
  val pinnedLine = "4.1"

  def assertCompat(spark: SparkSession): Unit = {
    val v = spark.version
    val ok = v == pinnedLine || v.startsWith(pinnedLine + ".")
    if (!ok) {
      val msg =
        s"Spark $v != pinned $pinnedLine.x — the hash-level results " +
          "this suite certifies were validated on the pinned line; " +
          "see NOTES.md 'Spark version compatibility contract' for " +
          "the behaviors to re-verify, then update VersionPin. Set " +
          "SPARK_GRAFT_ALLOW_VERSION_DRIFT=1 to proceed anyway."
      if (sys.env.get("SPARK_GRAFT_ALLOW_VERSION_DRIFT").contains("1"))
        System.err.println(s"[version-pin] WARNING: $msg")
      else throw new IllegalStateException(msg)
    }
  }
}
