package graft

import graft.ops.{Graph, Inference, Moments}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The exact-integer moment module: its driver helpers against Spark's
  * own arithmetic and brute force, its column helpers on toy inputs with
  * known answers, and the three driver power iterations built on it
  * (m_pca_power, k22_hits, m_als_rank1): rounds cost no Spark jobs, and
  * empty input gives zero rows.
  */
class MomentsSpec extends SparkSpec {

  test("renorm equals Spark's " +
    "floor(cast(x AS double) * s / cast(m AS double))") {
    val big = BigInt(10).pow(26)
    val p53 = BigInt(2).pow(53) + 1
    val cases = Seq(
      (p53, 1e6, BigInt(3)), (p53, 1e12, p53 + 2), (p53, 1e6, p53),
      (big, 1e6, big * 3 + 1), (-big, 1e12, big + 7), (-big, 1e6, -big),
      (BigInt(-123456789), 1e6, BigInt(987654321)),
      (BigInt(-1), 1e12, big), (big + 1, 1e6, big + 1))
    val schema = StructType(Seq(StructField("x", DecimalType(38, 0)),
      StructField("s", DoubleType), StructField("m", DecimalType(38, 0))))
    val rows = cases.map { case (x, s, m) =>
      Row(BigDecimal(x).bigDecimal, s, BigDecimal(m).bigDecimal) }
    def inSpark(rows: Seq[Row]) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .select(floor(col("x").cast("double") * col("s") /
          col("m").cast("double")))
        .collect().map(_.getLong(0))
    for (((x, s, m), want) <- cases.zip(inSpark(rows)))
      assert(Moments.renorm(x, s, m) == want, s"renorm($x, $s, $m)")
    assert(Moments.renorm(p53, 1e6, p53) == 1000000L)
    // a zero divisor throws on both sides (Spark's ANSI division)
    val zero = BigDecimal(0).bigDecimal
    intercept[ArithmeticException](
      inSpark(Seq(Row(BigDecimal(p53).bigDecimal, 1e6, zero))))
    intercept[ArithmeticException](Moments.renorm(p53, 1e6, 0))
  }

  test("matvec equals a brute-force loop; entries whose j has no x " +
    "contribute nothing") {
    val rnd = new scala.util.Random(11)
    val entries = Seq.fill(60)((rnd.nextInt(6).toLong,
      rnd.nextInt(8).toLong, BigInt(rnd.nextInt(2001) - 1000)))
    // x covers j = 0..4 only: j = 5..7 are the absent side of the join
    val x = (0L to 4L).map(j => j -> BigInt(rnd.nextLong())).toMap
    val want = collection.mutable.Map.empty[Long, BigInt]
    for ((i, j, w) <- entries if x.contains(j))
      want(i) = want.getOrElse(i, BigInt(0)) + w * x(j)
    assert(Moments.matvec(entries, x) == want.toMap)
    assert(Moments.matvec(Seq((7L, 5L, BigInt(3))), x).isEmpty,
      "an entry with no x on its j must not create its i")
  }

  test("cramer recovers an exact toy beta") {
    import spark.implicits._
    // y = 7 + 3·x1 − 2·x2 exactly, on a full (non-collinear) grid
    val pts = for (x1 <- 0L to 4L; x2 <- Seq(1L, 5L, 9L))
      yield (7L + 3L * x1 - 2L * x2, x1, x2)
    val sums = Moments.normalSums(col("y"), col("x1"), col("x2"))
    val dets = pts.toDF("y", "x1", "x2").agg(sums.head, sums.tail: _*)
      .select(Moments.cramer: _*).head()
    val Seq(detA, d0, d1, d2) = (0 until 4).map(dets.getDecimal)
    assert(detA.signum != 0)
    assert(Seq(d0, d1, d2).map(_.divide(detA).toBigIntegerExact.longValue)
      == Seq(7L, 3L, -2L))
  }

  test("pearson is +1 and -1 on perfectly correlated integers") {
    import spark.implicits._
    val df = (1L to 10L).map(x => (x, 3L * x + 5L, 100L - 2L * x))
      .toDF("x", "y", "z")
    def r(b: String) = df.agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum(b).as("sb"), sum(col("x") * col(b)).as("sxb"),
        sum(col("x") * col("x")).as("sxx"), sum(col(b) * col(b)).as("sbb"))
      .select(Moments.pearson(col("n"), col("sx"), col("sb"), col("sxb"),
        col("sxx"), col("sbb"))).head().getDouble(0)
    assert(math.abs(r("y") - 1.0) < 1e-12, r("y"))
    assert(math.abs(r("z") + 1.0) < 1e-12, r("z"))
  }

  /** A toy frame cached the way the queries' inputs are. */
  private def cached(df: DataFrame) = {
    val c = df.cache()
    c.count()
    c
  }

  private def toyScatter = {
    val rows = for (i <- 1L to 3L; j <- 1L to 3L)
      yield Row(i, j, java.math.BigDecimal.valueOf(
        if (i == j) 10L * i else i + j))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(
      Seq(StructField("i", LongType), StructField("j", LongType),
        StructField("sij", DecimalType(38, 0)))))
  }

  test("power iterations: every round runs on the driver, so 1 round " +
    "and the query's round count cost the same jobs") {
    import spark.implicits._
    val scat = cached(toyScatter)
    val edges = cached(Seq((1L, 10L), (1L, 11L), (2L, 10L), (3L, 11L),
      (3L, 12L)).toDF("src", "dst"))
    val ratings = cached(Seq((1L, 10L, 3L), (1L, 11L, 1L), (2L, 10L, 2L),
      (3L, 12L, 5L)).toDF("i", "j", "r"))
    val loops = Seq[(String, Int, Int => DataFrame)](
      ("m_pca_power", 6, Inference.pcaPower(scat, _)),
      ("k22_hits", 3, Graph.hits(edges, _)),
      ("m_als_rank1", 2, Inference.alsRank1(ratings, _)))
    try for ((name, rounds, build) <- loops) {
      build(rounds).collect()
      val (one, _) = cost(build(1).collect())
      val (all, _) = cost(build(rounds).collect())
      assert(one == all, s"$name: $one jobs at 1 round, $all at $rounds")
    } finally Seq(scat, edges, ratings).foreach(_.unpersist())
  }

  test("power iterations on empty input return zero rows") {
    import spark.implicits._
    val noScatter = toyScatter.limit(0)
    assert(Inference.pcaPower(noScatter, 6).collect().isEmpty)
    val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graph.hits(noEdges, 3).collect().isEmpty)
    val noRatings = Seq.empty[(Long, Long, Long)].toDF("i", "j", "r")
    assert(Inference.alsRank1(noRatings, 2).collect().isEmpty)
  }
}
