package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression,
  BloomFilterMightContain, Cast, Expression, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

import graft.plans.{ArtifactRewrite, LocalFold, MvRewrite,
  TopKPerKeyStrategy}

/** Native codegen'd cosine similarity over two `array<double>` columns.
  *
  * The higher-order-function formulation
  * (`aggregate(zip_with(a,b,(x,y)=>x*y), 0d, _+_)`) allocates an
  * intermediate array per row and evaluates a lambda per element; this
  * expression emits a single fused loop into whole-stage codegen — no
  * allocation, no virtual calls — which is what the 100-TB ANN path wants
  * (SURVEY §4 "codegen cosine-distance Expression" candidate).
  *
  * Interpreted eval is provided for completeness/testing; codegen is the
  * hot path.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(e => e.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects two array<double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  /** NULL, not NaN/garbage, on every degenerate input: length mismatch,
    * a null element, or a zero-norm vector (where the quotient would be
    * 0/0 = NaN — which poisons downstream comparisons since NaN breaks
    * ordering assumptions differently per engine).
    */
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) null
    else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      ${ev.isNull} = true; break;
         |    }
         |    double $x = $a.getDouble($i);
         |    double $y = $b.getDouble($i);
         |    $dot += $x * $y; $nx += $x * $x; $ny += $y * $y;
         |  }
         |  if (!${ev.isNull} && ($nx == 0.0 || $ny == 0.0)) {
         |    ${ev.isNull} = true;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $dot /
         |      (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** graft's one session set-up: every SQL function, optimizer rule and
  * planner strategy the engine plugs into Catalyst. */
object GraftFunctions {

  /** Every graft SQL function: name -> builder over the call's
    * arguments. */
  private val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> (e => CosineSim(e.head, e(1))),
    "jaccard_sorted" -> (e => JaccardSorted(e.head, e(1))),
    "corr_matrix" -> (e => CorrMatrixAgg(e)),
    // Runtime-filter primitives (the machinery behind Spark's own
    // injected bloom joins, surfaced as callable functions):
    // bloom_build(key[, capacity]) aggregates a bloom over xxhash64(key),
    // sized for `capacity` expected distinct keys (default 1M — an
    // over-capacity build silently saturates to a pass-through, exact
    // but useless, so size it from the build side's key estimate);
    // bloom_probe(bloom, key) tests membership of xxhash64(key).
    "bloom_build" -> { e =>
      val key = new XxHash64(Seq(e.head))
      // SQL integer literals parse as INT; the aggregate's capacity
      // slot is BIGINT-typed
      if (e.length >= 2) new BloomFilterAggregate(key, Cast(e(1), LongType))
      else new BloomFilterAggregate(key, 1000000L)
    },
    "bloom_probe" -> (e =>
      BloomFilterMightContain(e.head, new XxHash64(e.tail))),
    // cms_estimate(sketch, key): point-frequency probe of the engine's
    // own count_min_sketch aggregate output — the third mergeable-sketch
    // family next to HLL (distinct counts, m_hll_rollup) and bloom
    // (membership): bounded-overcount frequency without per-key state.
    "cms_estimate" -> (e => CmsEstimate(e.head, e(1))),
    // rolling_hashes(text, g): the Karp-Rabin position-hash stream —
    // the anchor stage of exact substring dedup (t_dup_substrings).
    "rolling_hashes" -> (e => RollingHashes(e.head, e(1))))

  /** Install every graft function, the three rewrite rules and, last,
    * [[graft.plans.LocalFold]] (in the optimizer's "User Provided
    * Optimizers" batch, after the main batches), and the
    * [[graft.plans.TopKPerKeyStrategy]] on `spark`.
    * Idempotent and keyed per session: a session's extension lists are
    * its own, so a `newSession()` child or a session started after
    * `stop()` installs afresh. [[graft.SparkEntry.queries]] calls it
    * before every query build; a session that skipped it fails to plan
    * a routed or top-k query. */
  def install(spark: SparkSession): Unit = {
    val x = spark.experimental
    x.synchronized {
      if (!x.extraStrategies.contains(TopKPerKeyStrategy)) {
        functions.foreach { case (name, build) =>
          spark.sessionState.functionRegistry
            .createOrReplaceTempFunction(name, build, "built-in")
        }
        x.extraOptimizations = x.extraOptimizations ++
          Seq(RewriteHofDotProduct, MvRewrite, ArtifactRewrite, LocalFold)
        x.extraStrategies = x.extraStrategies :+ TopKPerKeyStrategy
      }
    }
  }
}
