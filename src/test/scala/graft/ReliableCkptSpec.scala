package graft

/** The reliable-checkpoint knob (VERDICT r10 item 1): every iterative
  * loop truncates lineage through [[Ckpt.stage]] — executor-local
  * blocks by default, RELIABLE `checkpoint()` files when
  * `graft.reliable.ckpt` / `SPARK_GRAFT_RELIABLE_CKPT` points at a
  * directory (HDFS/S3 on a real cluster, where executor loss would
  * otherwise kill a multi-hour loop unrecoverably).
  *
  * Pins: (1) the flagship iterative queries are BIT-IDENTICAL under
  * the reliable path — durability is a deployment property, never a
  * semantics change; (2) checkpoint files actually land under the
  * configured directory (the knob routes, not just renames).
  */
class ReliableCkptSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val prop = "graft.reliable.ckpt"

  private def countFiles(dir: java.io.File): Int = {
    val kids = Option(dir.listFiles()).getOrElse(Array.empty)
    kids.count(_.isFile) + kids.filter(_.isDirectory).map(countFiles).sum
  }

  test("k1_scc / k9_wcc bit-identical under the reliable path, " +
    "and checkpoint files land in the configured dir") {
    def run(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, sf).collect().toSeq.map(_.toString)
    val sccBase = run("k1_scc")
    val wccBase = run("k9_wcc")
    assert(sccBase.nonEmpty && wccBase.nonEmpty)

    // evict the memoized SCC labeling so the reliable run recomputes
    // the loop instead of replaying the cached frame
    Tables.evict(spark, s"scc|$sf")

    val dir = java.nio.file.Files.createTempDirectory("graft_rckpt")
      .toFile
    sys.props(prop) = dir.getAbsolutePath
    try {
      assert(run("k1_scc") == sccBase,
        "scc labeling drifted under reliable checkpoint")
      assert(run("k9_wcc") == wccBase,
        "wcc labeling drifted under reliable checkpoint")
      assert(countFiles(dir) > 0,
        s"no reliable checkpoint files under $dir — knob did not route")
    } finally {
      sys.props -= prop
      // Evict the reliably-checkpointed SCC labeling BEFORE deleting
      // its checkpoint dir: the cached frame's lineage roots at files
      // under `dir`, so a later suite evicting/recomputing it would
      // hit FileNotFoundException (r11 ADVICE). The knob flip itself
      // is safe from cross-suite interference because the build runs
      // forked tests sequentially (build.sbt pins
      // `Test / testForkedParallel := false`).
      Tables.evict(spark, s"scc|$sf")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(): Unit
      }
      rm(dir)
    }
  }
}
