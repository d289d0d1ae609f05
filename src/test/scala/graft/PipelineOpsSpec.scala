package graft

import org.apache.spark.sql.functions._

/** Invariants of the late-round-4 operators that the row-level oracles
  * can't express directly:
  *   - triangle counting is exact on graphs with known closed forms;
  *   - the int8 quantizer respects its clamp range and half-step error
  *     bound;
  *   - the CDC merge reconciles: every action bucket has exactly the
  *     cardinality its deterministic change feed implies;
  *   - the salted join is observation-equivalent to the plain join it
  *     rewrites (skew mitigation must never change the answer);
  *   - the histogram conserves rows and stays inside its bucket range.
  */
class PipelineOpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  test("triangle counts: K4 has 4 triangles (3 per vertex), C4 has none") {
    import spark.implicits._
    // complete graph on {1,2,3,4}: every vertex sits in C(3,2)=3 triangles
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val counts = ops.Graph.triangleCounts(k4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))

    // 4-cycle: wedges exist but never close
    val c4 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    assert(ops.Graph.triangleCounts(c4).count() == 0)

    // duplicate + reversed + self-loop edges don't change the answer
    val noisy = Seq((1L, 2L), (2L, 1L), (1L, 2L), (1L, 1L), (2L, 3L),
      (3L, 1L)).toDF("src", "dst")
    val noisyCounts = ops.Graph.triangleCounts(noisy)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(noisyCounts == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("triangle counts match brute force on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (1 to 5).foreach { trial =>
      val n = 6 + rnd.nextInt(5)
      val edges = (for {
        a <- 0 until n; b <- 0 until n
        if a != b && rnd.nextDouble() < 0.35
      } yield (a.toLong, b.toLong))
      val expected = {
        val und = edges.map { case (a, b) => (a min b, a max b) }
          .filter { case (a, b) => a != b }.toSet
        val tri = for {
          a <- 0L until n.toLong; b <- a + 1 to n.toLong - 1
          c <- b + 1 to n.toLong - 1
          if und((a, b)) && und((b, c)) && und((a, c))
        } yield Seq(a, b, c)
        tri.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
      }
      val got = ops.Graph.triangleCounts(edges.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected,
        s"trial $trial (n=$n): got $got expected $expected")
    }
  }

  test("int8 quantizer: clamp range and half-step error bound") {
    val q = SparkEntry.queries("m_embed_quantize")(spark, sf).cache()
    val dim = Tables.embeddings(spark, sf)
      .select(size(col("embedding"))).head().getInt(0)
    assert(q.count() > 0, "no quantized vectors — vacuous")
    // |q_sum| <= q_l1 <= 127 * dim (every element clamped to [-127, 127])
    val clampBad = q.filter(abs(col("q_sum")) > col("q_l1") ||
      col("q_l1") > 127L * dim).count()
    assert(clampBad == 0, "clamp range violated")
    // max |residual| <= step/2 = amax/254 (+1 micro-unit floor slack)
    val errBad = q.filter(col("max_err_um") > col("amax_um") / 254 + 1)
      .count()
    assert(errBad == 0, "half-step dequantization error bound violated")
    q.unpersist()
  }

  test("CDC merge reconciles action buckets against the change feed") {
    val out = SparkEntry.queries("m_upsert")(spark, sf).cache()
    val base = Tables.orders(spark, sf).cache()
    val nBase = base.count()
    val nUpd = base.filter(col("o_orderkey") % 10 === 0).count()
    val nIns = base.filter(col("o_orderkey") % 100 === 7).count()
    val byAction = out.groupBy("action").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byAction.getOrElse("insert", 0L) == nIns)
    assert(byAction.getOrElse("update", 0L) == nUpd)
    assert(byAction.getOrElse("keep", 0L) == nBase - nUpd)
    assert(out.count() == nBase + nIns)
    // inserted keys live strictly above the base key space (the offset
    // is derived from max(o_orderkey), so this holds at ANY sf)
    val maxBase = base.agg(max(col("o_orderkey"))).head().getLong(0)
    val lowInsert = out.filter(col("action") === "insert" &&
      col("o_orderkey") <= maxBase).count()
    assert(lowInsert == 0)
    out.unpersist()
  }

  test("SCD2 intervals tile each customer's timeline") {
    import org.apache.spark.sql.expressions.Window
    val out = SparkEntry.queries("m_scd2")(spark, sf).cache()
    assert(out.count() > 0)
    // exactly one open (current) version per customer
    val multiCurrent = out.filter(col("is_current"))
      .groupBy("o_custkey").count().filter(col("count") =!= 1).count()
    assert(multiCurrent == 0, "a customer has != 1 open version")
    // every closed version ends exactly where the next one starts
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("valid_from_us"), col("o_orderkey"))
    val gaps = out
      .withColumn("next_from", lead(col("valid_from_us"), 1).over(w))
      .filter(col("valid_to_us").isNotNull &&
        col("valid_to_us") =!= col("next_from")).count()
    assert(gaps == 0, "validity intervals leave gaps or overlap")
    out.unpersist()
  }

  test("bloom prune passes every true match (superset, no misses)") {
    val urgent = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    val bf = urgent.agg(expr("bloom_build(o_custkey)").as("bf"))
      .head().getAs[Array[Byte]](0)
    val pruned = Tables.customer(spark, sf)
      .filter(call_function("bloom_probe", lit(bf), col("c_custkey")))
      .select(col("c_custkey"))
    val exact = Tables.customer(spark, sf)
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"))
    assert(exact.count() > 0, "no urgent customers — vacuous")
    // no false negatives: every exact match survives the bloom
    assert(exact.except(pruned).count() == 0)

    // 2-arg form: an explicitly-sized (small-capacity) bloom is a
    // different sketch but must keep the no-false-negative guarantee
    val bfSmall = urgent
      .agg(expr("bloom_build(o_custkey, 500)").as("bf"))
      .head().getAs[Array[Byte]](0)
    assert(bfSmall.length < bf.length,
      "capacity argument did not size the sketch down")
    val prunedSmall = Tables.customer(spark, sf)
      .filter(call_function("bloom_probe", lit(bfSmall), col("c_custkey")))
      .select(col("c_custkey"))
    assert(exact.except(prunedSmall).count() == 0)
  }

  test("salted join equals the plain join it rewrites") {
    val salted = SparkEntry.queries("m_salted_join")(spark, sf)
    val plain = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("double").as("sum_price"))
    assert(salted.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted).count() == 0)
  }

  test("span dedup flags an exact duplicate document, first copy wins") {
    import spark.implicits._
    val t16 = (1 to 16).map(i => s"w$i").mkString(" ")  // exactly 2 spans
    val t24 = (1 to 24).map(i => s"u$i").mkString(" ")  // 3 unique spans
    val docs = Seq((1L, t16), (2L, t16), (3L, t24)).toDF("doc_id", "text")
    val out = ops.Text.spanDedup(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getBoolean(4)))).toMap
    assert(out(1L) == ((2, 0, true)), "first copy must keep all spans")
    assert(out(2L) == ((2, 2, false)), "exact duplicate must be dropped")
    assert(out(3L) == ((3, 0, true)), "unique doc untouched")
  }

  test("histogram conserves rows within the bucket range") {
    val h = SparkEntry.queries("m_histogram")(spark, sf).cache()
    val outOfRange = h.filter(col("bucket") < 0 || col("bucket") > 19).count()
    assert(outOfRange == 0)
    val total = h.agg(sum(col("n"))).head().getLong(0)
    assert(total == Tables.orders(spark, sf).count())
    h.unpersist()
  }

  test("waterfill allocation is feasible, tight, and max-min fair") {
    val w = SparkEntry.queries("m_mix_waterfill")(spark, sf).cache()
    val b = w.select("budget").head().getLong(0)
    val wl = w.select("waterline").head().getLong(0)
    val used = w.agg(sum(col("quota"))).head().getLong(0)
    // feasible: allocation fits the budget
    assert(used <= b, s"allocation $used exceeds budget $b")
    // tight: raising the waterline by 1 token would burst it — the
    // certificate that W is THE waterline, not merely a valid one
    val usedPlus = w.agg(sum(least(col("tokens"), lit(wl + 1))))
      .head().getLong(0)
    assert(usedPlus > b, s"waterline not tight: $usedPlus <= $b")
    // max-min fair shape: uncapped strata contribute everything,
    // capped strata sit exactly at the waterline
    assert(w.filter(!col("capped") && col("quota") =!= col("tokens"))
      .count() == 0, "uncapped stratum not fully included")
    assert(w.filter(col("capped") && col("quota") =!= lit(wl))
      .count() == 0, "capped stratum not at the waterline")
    // both branches live on the fixture
    assert(w.filter(col("capped")).count() > 0)
    assert(w.filter(!col("capped")).count() > 0)
    w.unpersist()
  }

  test("A/B readout: counts consistent, decision matches float z-test") {
    val r = SparkEntry.queries("m_ab_test")(spark, sf).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val (na, ca, nb, cb) = (row.getLong(1), row.getLong(2),
        row.getLong(3), row.getLong(4))
      val sig = row.getBoolean(6)
      assert(ca <= na && cb <= nb, "converted exceeds arm size")
      // the integer-cleared decision must equal the textbook float
      // z-test away from exact ties (none on this fixture)
      val (p1, p2) = (ca.toDouble / na, cb.toDouble / nb)
      val p = (ca + cb).toDouble / (na + nb)
      val z = (p1 - p2) / math.sqrt(p * (1 - p) * (1.0 / na + 1.0 / nb))
      assert((math.abs(z) > 1.96) == sig,
        s"integer decision $sig disagrees with float z=$z")
    }
  }
}
