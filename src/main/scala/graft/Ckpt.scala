package graft

import org.apache.spark.sql.Dataset

/** The lineage-truncation point for every iterative loop (WCC, k-core,
  * k-truss, LPA, PageRank, FPS, incremental dedup, BPE rounds, …). One
  * kind of state is not truncated here: the frontier, SSSP and SCC
  * loops (`Graph.frontier`, `Graph.sssp`, `Graph.scc`) and the integer
  * power iterations (`Inference.pcaPower`, `Graph.hits`,
  * `Inference.alsRank1`) keep their state on the driver as plain
  * collections, so they have no lineage to truncate and never reach
  * [[stage]] or the reliable knob below.
  *
  * Default: `localCheckpoint()` — blocks live in EXECUTOR storage
  * memory, truncation is free of any filesystem round-trip, and at
  * `local[N]` (one JVM) an "executor loss" cannot happen, so this is
  * the right local-mode trade.
  *
  * Cluster mode: executor-stored blocks die with the executor AND the
  * lineage is gone, so one lost executor kills a multi-hour loop
  * unrecoverably. Setting `SPARK_GRAFT_RELIABLE_CKPT=<dir>` (env) or
  * `graft.reliable.ckpt` (system property, checked first so tests can
  * flip it per-JVM) routes every loop's truncation through RELIABLE
  * `checkpoint()` into that directory (HDFS/S3 on a real cluster):
  * recomputation after executor loss re-reads the checkpoint files
  * instead of dying. The knob is one switch for all ~80 sites because
  * the correct choice is a property of the DEPLOYMENT, not of any one
  * operator; results are bit-identical either way (ReliableCkptSpec
  * pins `k9_wcc` equality, and `k1_scc`'s, whose loop never stages; the
  * A/B cost is recorded in PERF.md round-11).
  *
  * Every path stays EAGER (the Spark default for checkpoints): every
  * loop here counts or reuses the staged frame immediately, and eager
  * truncation is what bounds the lineage before the next round builds
  * on it.
  *
  * RETENTION (cluster deployments): under the reliable knob every
  * loop iteration across ~80 call sites writes a permanent checkpoint
  * directory, and Spark deletes none of them by default
  * (`spark.cleaner.referenceTracking.cleanCheckpoints` is false) — a
  * long multi-loop run accumulates unbounded HDFS/S3 data. Set
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` AT
  * SESSION BUILD TIME (ContextCleaner reads it once at SparkContext
  * startup — setting it later is a no-op, which is why this object
  * cannot set it for you) so the cleaner removes checkpoint data once
  * its RDD is GC'd — recovery only needs checkpoints whose RDDs are
  * still reachable — or sweep the configured directory between
  * applications. `tools/recovery_drill.sh` passes it in its
  * spark-submit conf as the reference shape for cluster deployments.
  */
object Ckpt {
  private val propKey = "graft.reliable.ckpt"
  private val envKey = "SPARK_GRAFT_RELIABLE_CKPT"

  /** Reliable-checkpoint directory, if the knob is set. */
  private[graft] def reliableDir: Option[String] =
    sys.props.get(propKey).orElse(sys.env.get(envKey)).filter(_.nonEmpty)

  /** Truncate `ds`'s lineage at the deployment-appropriate durability:
    * local blocks by default, reliable files under the configured
    * directory when the knob is set.
    */
  def stage[T](ds: Dataset[T]): Dataset[T] = reliableDir match {
    case Some(dir) =>
      val sc = ds.sparkSession.sparkContext
      // setCheckpointDir creates a fresh UUID subdir on every call —
      // only (re)set it when the PARENT of the resolved checkpoint
      // dir differs from the configured value (path-normalized
      // equality, not substring containment: `/ckpt/a` → `/ckpt`
      // or sibling dirs where one name prefixes the other must not
      // be treated as "already set" — r11 ADVICE).
      val current = sc.getCheckpointDir
        .map(p => new org.apache.hadoop.fs.Path(p))
      val want = new org.apache.hadoop.fs.Path(dir)
      val matches = current.exists { p =>
        Option(p.getParent).exists { parent =>
          // URI-component comparison so `/x/./y`, trailing slashes,
          // and scheme-less forms normalize identically. When the
          // knob value CARRIES a scheme/authority, both must match
          // the resolved parent's — `/data/ckpt` (local) vs
          // `hdfs://nn/data/ckpt` share a path but are different
          // filesystems, and treating them as equal would keep
          // "reliable" checkpoints on the node-local disk the knob
          // was switched to escape.
          val (pu, wu) = (parent.toUri, want.toUri)
          pu.getPath == wu.getPath &&
            (wu.getScheme == null || wu.getScheme == pu.getScheme) &&
            (wu.getAuthority == null ||
              wu.getAuthority == pu.getAuthority)
        }
      }
      if (!matches) sc.setCheckpointDir(dir)
      ds.checkpoint()
    case None => ds.localCheckpoint()
  }

  /** Postfix form so call sites read like the `Dataset` API:
    * `df.stageCkpt()` — localCheckpoint by default, reliable under the
    * knob. Import `graft.Ckpt.StageOps`.
    */
  implicit class StageOps[T](private val ds: Dataset[T]) extends AnyVal {
    def stageCkpt(): Dataset[T] = stage(ds)
  }

  /** Stage `ds` while observing its row count on the SAME action, so
    * a loop's emptiness witness costs no job of its own (see
    * [[fixpoint]]).
    */
  def stageCounted[T](ds: Dataset[T]): (Dataset[T], Long) = {
    import org.apache.spark.sql.functions.{count, lit}
    val obs = org.apache.spark.sql.Observation()
    val staged = stage(ds.observe(obs, count(lit(1)).as("n")))
    (staged, observedLong(obs, "n"))
  }

  /** The one driver loop every convergent iteration runs on (SCC, WCC,
    * SSSP, frontier expansion, coreness, k-core, k-truss, dedup
    * clustering): a sequence of driver-coordinated materializations,
    * each round staging its state and deciding from it whether to go on.
    *
    * `init` is the starting state paired with its own done-witness, so
    * an input that already satisfies the loop's condition runs zero
    * rounds. `round(state, i)` computes round `i` (1-based) and returns
    * the next state with its witness. Converging ON round `maxIter` is
    * success; needing round `maxIter + 1` throws, naming `loop` and the
    * bound, so a runaway loop fails loudly instead of returning a
    * partial answer.
    *
    * FUSED WITNESS: a round reads its witness off its OWN staging action
    * — a row count ([[stageCounted]]; for the driver-held frontier,
    * SSSP and SCC loops, the size of the collection a round computed) or
    * any other aggregate observed with `Dataset.observe` and read back by
    * [[observedLong]] — so loop control adds no probe job per round. The
    * witness must compare the round's OUTPUT with state already in
    * hand: certifying the round's input instead re-admits one redundant
    * round (the k9_wcc lesson, whose structural star-forest probe
    * therefore stays a separate cheap job). A done-condition that is part of the answer, such as a
    * hop horizon, belongs in the witness too; `maxIter` is only the
    * runaway guard.
    *
    * The combinator holds no shared state, so independent loops can be
    * driven concurrently from several threads.
    */
  def fixpoint[S](loop: String, maxIter: Long)(init: (S, Boolean))(
      round: (S, Int) => (S, Boolean)): S = {
    @scala.annotation.tailrec
    def go(state: S, done: Boolean, i: Int): S =
      if (done) state
      else if (i > maxIter) throw new IllegalStateException(
        s"$loop did not converge within $maxIter rounds")
      else {
        val (next, nextDone) = round(state, i)
        go(next, nextDone, i + 1)
      }
    go(init._1, init._2, 1)
  }

  /** Read a long metric off a completed `Observation` (the fused
    * convergence-witness pattern every loop uses: the metric rides the
    * staging action instead of a separate count job). `sum` over an
    * empty frame is SQL NULL — that IS "zero rows", so 0 is the exact
    * value, not a default. Any other runtime type is a hard error
    * instead of a MatchError (r12 ADVICE: the per-site matches were
    * duplicated at 5 call sites and non-exhaustive).
    */
  def observedLong(obs: org.apache.spark.sql.Observation,
                   name: String): Long =
    obs.get(name) match {
      case null => 0L
      case l: java.lang.Long => l.longValue()
      case other => throw new IllegalStateException(
        s"observed metric '$name' is not a Long: $other" +
          s" (${other.getClass.getName})")
    }
}
