package graft

import org.apache.spark.sql.functions._

/** Pins the rows-only queries that the DuckDB oracle can't hash-check:
  * approx_count_distinct accuracy and the streaming/batch agreement.
  */
class ApproxSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("approx_count_distinct within 10% of exact per event_type") {
    val rows = Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id")).as("approx"),
        countDistinct(col("user_id")).as("exact"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, e) = (r.getLong(1).toDouble, r.getLong(2).toDouble)
      assert(math.abs(a - e) / e < 0.10,
        s"${r.getString(0)}: approx $a vs exact $e")
    }
  }

  test("streaming tumbling-window agg equals the batch window() result") {
    val stream = graft.streaming.Streams.tumblingCounts(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val batch = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("w"), col("event_type"),
        col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(stream == batch)
  }

  /** CMS contract over EVERY key, not just m_cms_freq's top-20: the
    * estimate never undercounts any user_id, and overcounts by at most
    * ceil(eps * N). Deterministic — the sketch is seeded. */
  test("count-min estimates bounded for all keys") {
    val e = Tables.events(spark, sf)
    val sketch = e.agg(
      expr("count_min_sketch(user_id, 0.001d, 0.99d, 42)").as("cms"),
      count(lit(1)).as("total"))
    val rows = e.groupBy("user_id")
      .agg(count(lit(1)).as("exact"))
      .crossJoin(broadcast(sketch))
      .select(col("user_id"), col("exact"),
        call_function("cms_estimate", col("cms"), col("user_id"))
          .as("est"),
        ceil(lit(0.001) * col("total")).cast("long").as("slack"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (k, exact, est, slack) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(est >= exact, s"user $k: CMS undercounts $est < $exact")
      assert(est <= exact + slack,
        s"user $k: CMS overcount $est > $exact + $slack")
    }
  }

  /** The fixture's 150 users in a width-2719 sketch collide ~never, so
    * the test above is satisfied trivially. This one forces the
    * approximate regime — 2,000 distinct keys into a deliberately
    * narrow sketch — and checks the contract where it bites: the
    * never-undercount bound holds for EVERY key even though collisions
    * provably occurred (some estimate strictly exceeds its exact
    * count). */
  test("count-min stays one-sided under forced collisions") {
    import spark.implicits._
    val keys = (0L until 2000L).map(k => k -> (k % 7 + 1)).toDF("k", "reps")
      .select(col("k"), explode(sequence(lit(1), col("reps"))).as("r"))
      .select("k")
    val sketch = keys.agg(
      expr("count_min_sketch(k, 0.5d, 0.9d, 7)").as("cms"))
    val rows = keys.groupBy("k").agg(count(lit(1)).as("exact"))
      .crossJoin(broadcast(sketch))
      .select(col("k"), col("exact"),
        call_function("cms_estimate", col("cms"), col("k")).as("est"))
      .collect()
    assert(rows.length == 2000)
    rows.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1),
        s"key ${r.getLong(0)}: undercount ${r.getLong(2)} < ${r.getLong(1)}")
    }
    val collided = rows.count(r => r.getLong(2) > r.getLong(1))
    assert(collided > 0,
      "no collisions — the narrow-sketch regime did not engage")
    info(s"$collided/2000 keys overcounted (collisions), none undercounted")
  }
}
