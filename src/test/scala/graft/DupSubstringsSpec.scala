package graft

import graft.ops.Text
import org.apache.spark.sql.functions._

/** `t_dup_substrings` (exact character-level duplicated-substring spans,
  * the suffix-array dedup family) against a brute-force oracle: every
  * G-gram of every doc enumerated literally over CODE POINTS, duplicated
  * positions merged into maximal coverage spans (start-gap <= G — the
  * interval union) in plain Scala. Covers planted cross-doc copies,
  * in-doc repeats, fully identical docs, sub-G docs, the offset-by-2
  * overlap regression (two duplicated starts at gap 2..G must merge, not
  * double-charge), astral (non-BMP) text, and 30 seeded random corpora;
  * plus a direct pin of the `rolling_hashes` expression (codegen path,
  * via a DataFrame select) against a non-rolling polynomial oracle.
  */
class DupSubstringsSpec extends SparkSpec {

  private val G = 25

  private def cps(s: String): Array[Int] = s.codePoints().toArray

  /** Brute reference over code points:
    * doc_id -> (n_spans, dup_chars, longest_span). */
  private def brute(docs: Seq[(Long, String)])
      : Map[Long, (Int, Long, Int)] = {
    val cp = docs.map { case (id, t) => id -> cps(t) }
    val grams = for {
      (id, a) <- cp
      i <- 0 to a.length - G
    } yield (id, i + 1, a.slice(i, i + G).toSeq)
    val counts = grams.groupBy(_._3).map { case (g, xs) => g -> xs.size }
    val dupPos = grams.filter(g => counts(g._3) >= 2)
      .groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).sorted }
    dupPos.map { case (id, ps) =>
      // merge while the start-gap is <= G: intervals [p, p+G-1] overlap
      // or adjoin exactly then
      val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      for (p <- ps) {
        if (spans.nonEmpty && p - spans.last._2 <= G)
          spans(spans.size - 1) = (spans.last._1, p)
        else spans += ((p, p))
      }
      val lens = spans.map { case (s, e) => e - s + G }
      id -> (spans.size, lens.map(_.toLong).sum, lens.max)
    }
  }

  private def run(docs: Seq[(Long, String)], ctx: String): Unit = {
    val s = spark
    import s.implicits._
    val df = docs.toDF("doc_id", "text")
    val got = Text.dupSubstrings(df, G).collect().map { r =>
      r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getInt(3), r.getDouble(4),
          r.getBoolean(5)))
    }.toMap
    val want = brute(docs)
    assert(got.keySet == docs.map(_._1).toSet, ctx) // one row per doc
    for ((id, text) <- docs) {
      val len = cps(text).length // code-point length, like length()
      val (ns, dc, ls) = want.getOrElse(id, (0, 0L, 0))
      assert(dc <= len, s"$ctx doc=$id union exceeds doc length")
      // max(len, 1) mirrors the query's greatest(len, 1) zero-guard:
      // an empty document reads 0.0, never 0/0
      val frac = BigDecimal(dc.toDouble / math.max(len, 1))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val keep = dc * 5 < len
      assert(got(id) == ((ns, dc, ls, frac, keep)),
        s"$ctx doc=$id got=${got(id)} want=${(ns, dc, ls, frac, keep)}")
    }
  }

  test("planted corpus: cross-doc copy, in-doc repeat, identical docs, " +
    "short doc") {
    val rnd = new scala.util.Random(4242L)
    def randStr(n: Int): String =
      Seq.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    val a = randStr(200)
    val b0 = randStr(180)
    val shared = a.substring(40, 100) // 60 chars of a planted into b
    val b = b0.substring(0, 70) + shared + b0.substring(70)
    val block = randStr(30)
    val c = randStr(50) + block + randStr(45) + block + randStr(20)
    val d = randStr(120)       // clean
    val e = randStr(G - 1)     // shorter than the gram: zero rows' worth
    val f = d                  // fully identical to d
    run(Seq(0L -> a, 1L -> b, 2L -> c, 3L -> d, 4L -> e, 5L -> f,
      6L -> ""),               // empty text: dup_frac 0.0, not 0/0
      "[planted]")
  }

  test("regression: duplicated starts at gap 2..G merge into ONE span " +
    "(no double-charged coverage, dup_frac <= 1)") {
    // 27 distinct chars; B = A[0,25), C = A[2,27) — in A exactly the
    // start positions 1 and 3 (1-based) are duplicated, intervals
    // [1,25] and [3,27]: one merged span of 27 chars covering ALL of A
    // (the gap>1 islanding this pins against reported 50/27 = 1.85)
    val a = ('a' to 'z').mkString + "0" // 27 distinct code points
    val b = a.substring(0, 25)
    val c = a.substring(2, 27)
    run(Seq(0L -> a, 1L -> b, 2L -> c), "[gap-overlap]")
  }

  test("astral text: code-point positions keep the anchor and the " +
    "verify extraction aligned") {
    val rnd = new scala.util.Random(11L)
    // alphabet mixes BMP letters with astral code points (surrogate
    // pairs in UTF-16) so code-unit offsets and code-point offsets
    // diverge everywhere
    val alpha: IndexedSeq[String] =
      ('a' to 'j').map(_.toString) ++
        (0x1F600 to 0x1F609).map(Character.toChars(_).mkString)
    def randStr(n: Int): String =
      Seq.fill(n)(alpha(rnd.nextInt(alpha.size))).mkString
    val a = randStr(90)
    val aCp = cps(a)
    // plant a 40-code-point slice of a into b at a code-point offset
    val slice = new String(aCp.slice(10, 50), 0, 40)
    val b = randStr(30) + slice + randStr(25)
    val c = randStr(60)
    run(Seq(0L -> a, 1L -> b, 2L -> c), "[astral]")
  }

  test("seeded random corpora with random planted overlaps") {
    for (trial <- 0 until 30) {
      val rnd = new scala.util.Random(9000L + trial)
      // small alphabet RAISES accidental-repeat odds on purpose — the
      // oracle is exact either way
      val alpha = 4 + rnd.nextInt(22)
      def randStr(n: Int): String =
        Seq.fill(n)(('a' + rnd.nextInt(alpha)).toChar).mkString
      val nDocs = 3 + rnd.nextInt(6)
      val base = (0 until nDocs).map { i =>
        i.toLong -> randStr(G + rnd.nextInt(160))
      }
      // plant 0-3 cross-doc copies of random length >= G
      val docs = (0 until rnd.nextInt(4)).foldLeft(base.toMap) { (m, _) =>
        val from = rnd.nextInt(nDocs).toLong
        val to = rnd.nextInt(nDocs).toLong
        val src = m(from)
        if (src.length <= G) m
        else {
          val len = G + rnd.nextInt(math.min(60, src.length - G) + 1)
          val off = rnd.nextInt(src.length - len + 1)
          val piece = src.substring(off, off + len)
          val dst = m(to)
          val ins = rnd.nextInt(dst.length + 1)
          m.updated(to, dst.substring(0, ins) + piece + dst.substring(ins))
        }
      }
      run(docs.toSeq.sortBy(_._1), s"[random trial=$trial alpha=$alpha]")
    }
  }

  test("rolling_hashes matches the polynomial recurrence and is " +
    "position-exact (incl. astral input)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7L)
    val texts = Seq("", "ab", "abc", "aaaaaaaaaa",
      Seq.fill(300)(('a' + rnd.nextInt(5)).toChar).mkString,
      "x" + Character.toChars(0x1F600).mkString + "yz" +
        Character.toChars(0x10400).mkString + "ab")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    for (g <- Seq(1, 3, 25)) {
      val got = df.select(col("doc_id"),
          expr(s"rolling_hashes(text, $g)").as("h"))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      for ((t, i) <- texts.zipWithIndex) {
        // direct polynomial evaluation over code points, no rolling:
        // independent oracle
        val B = 1000003L
        val a = cps(t)
        def poly(xs: Array[Int]): Long =
          xs.foldLeft(0L)((h, c) => h * B + c.toLong)
        val want = (0 to a.length - g).map(o => poly(a.slice(o, o + g)))
        assert(got(i.toLong) == want, s"g=$g text#$i")
      }
    }
  }
}
