package graft.ops

import graft.Ckpt.StageOps
import graft.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents` (LLM-pipeline surface):
  * tokenization + counting, quality scoring, heuristic language ID, and
  * positional document fingerprinting. All pure `functions._` column
  * expressions (codegen'd, no UDFs); everything is oracle-checked.
  */
object Text {

  private val stopwords = Seq("the", "a", "of", "and", "in", "to")

  /** Marker function-words per language for the n-gram-free language-ID
    * heuristic. The fixture corpus is synthetic English-ish tokens, so 'en'
    * wins on real markers; ties break by the fixed language order below —
    * deterministic on both engines.
    */
  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and"),
    "de" -> Seq("der", "die", "und", "das"),
    "es" -> Seq("el", "la", "de", "que"),
    "fr" -> Seq("le", "la", "et", "les"),
    "zh" -> Seq("shi", "de", "le", "bu"))

  private def inList(x: org.apache.spark.sql.Column, xs: Seq[String]) =
    xs.map(x === _).reduce(_ || _)

  /** Corpus-level duplicate-span report over any (doc_id, text) frame:
    * non-overlapping 8-token spans, global first occurrence wins in
    * (doc_id, span_id) order. Exposed for PipelineOpsSpec's synthetic
    * duplicate corpora; `t_span_dedup` runs it over `documents`.
    */
  def spanDedup(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // First occurrence = lexicographic MIN of the (doc_id, span_id)
    // struct per span hash — valid for ANY id range (the packed
    // doc_id*100000+span_id long this replaces silently mis-ordered
    // docs with >= 100k spans or ids >= ~9.2e13). groupBy-min, not a
    // window: min is map-side combinable, so a boilerplate span
    // repeated 10^8 times partial-aggregates instead of serializing
    // through one window partition, and the verify join's skew is
    // AQE-splittable where window skew is not.
    val spans = docs
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 8)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), floor(size(col("toks")) / lit(8.0)).cast("int") - 1),
          i => md5(concat_ws(" ", slice(col("toks"), i * 8 + 1, lit(8))))))
          .as(Seq("span_id", "h")))
    val first = spans.groupBy("h")
      .agg(min(struct(col("doc_id"), col("span_id"))).as("fp"))
    spans.join(first, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_spans"),
        sum(when(col("doc_id") =!= col("fp.doc_id") ||
          col("span_id") =!= col("fp.span_id"), 1).otherwise(0))
          .cast("int").as("n_dup"))
      .select(col("doc_id"), col("n_spans"), col("n_dup"),
        round(col("n_dup") / col("n_spans").cast("double"), 4)
          .as("dup_frac"),
        (col("n_dup") * 2 < col("n_spans")).as("keep"))
  }

  /** Anchor gram length for `t_dup_substrings` — interpolated into BOTH
    * the Spark plan and the DuckDB oracle (shared-val discipline: the
    * two sides cannot drift apart). 25 chars ≈ the 50-byte threshold of
    * Lee et al. 2022 scaled to the fixture's ~300-char docs.
    */
  private[graft] val dupGramLen = 25

  /** Exact duplicated-substring spans over any (doc_id, text) frame —
    * see the `t_dup_substrings` Q scaladoc for semantics and the
    * 100 TB plan-shape discussion. Exposed for DupSubstringsSpec's
    * planted-overlap corpora. Returns one row per doc:
    * (doc_id, n_spans, dup_chars, longest_span, dup_frac, keep).
    */
  def dupSubstrings(docs: org.apache.spark.sql.DataFrame,
                    g: Int = dupGramLen): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ANCHOR: one 8-byte Karp-Rabin hash per character offset (native
    // codegen'd single pass), then one balanced groupBy on the hash.
    val pos = docs.select(col("doc_id"), col("text"),
        posexplode(expr(s"rolling_hashes(text, $g)")).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("h"))
    val dupH = pos.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("h")
    // VERIFY: only candidate positions re-extract the real gram (keyed
    // join back to the doc text), and only real gram equality counts —
    // a hash collision adds a discarded candidate, never a wrong span.
    val cand = pos.join(dupH, Seq("h")).select("doc_id", "pos")
    // Staged (eager localCheckpoint / reliable under the knob): the
    // candidate set feeds BOTH the gram-count and the rejoin below —
    // unstaged, Spark would recompute the whole anchor subtree (two
    // more rolling_hashes passes over the corpus) once per consumer.
    // Candidates are the tiny duplicated fraction, so materializing
    // them is cheap where materializing the full position stream (the
    // other shared frame, `pos`) would not be — `pos` is deliberately
    // recomputed instead: codegen'd CPU is cheaper than |positions| of
    // cache at 100 TB.
    val verified = cand
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .select(col("doc_id"), col("pos"),
        expr(s"substring(text, pos, $g)").as("gram"))
      .stageCkpt()
    val dupGram = verified.groupBy("gram").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("gram")
    val dupPos = verified.join(dupGram, Seq("gram"))
      .select("doc_id", "pos")
    // MERGE: gaps-and-islands per doc (windows bounded by doc length).
    // A duplicated START position p covers chars [p, p+G-1], so two
    // positions whose gap is <= G have overlapping or adjoining
    // intervals and belong to ONE span — the break condition is
    // gap > G, NOT gap > 1 (with gap>1, two starts at distance 2..G
    // would each charge a full G of coverage and dup_chars could
    // exceed the doc length). With every in-island gap <= G the span
    // [sp, ep+G-1] is covered without holes, so ep-sp+G IS the exact
    // interval-union size.
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val spans = dupPos
      .withColumn("prev", lag(col("pos"), 1).over(w))
      .withColumn("brk",
        when(col("prev").isNull || col("pos") - col("prev") > g, 1)
          .otherwise(0))
      .withColumn("grp", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "grp")
      .agg(min(col("pos")).as("sp"), max(col("pos")).as("ep"))
    val agg = spans.groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_spans"),
        sum(col("ep") - col("sp") + g).cast("bigint").as("dup_chars"),
        max(col("ep") - col("sp") + g).cast("int").as("longest_span"))
    docs.select(col("doc_id"), length(col("text")).as("len"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0)).as("n_spans"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        coalesce(col("longest_span"), lit(0)).as("longest_span"),
        // greatest(len, 1): an empty document must read 0.0, not a
        // 0/0 NaN (Spark) vs NULL (DuckDB) split — self-review r12
        round(coalesce(col("dup_chars"), lit(0L)) /
          greatest(col("len"), lit(1)).cast("double"), 4).as("dup_frac"),
        (coalesce(col("dup_chars"), lit(0L)) * 5 < col("len")).as("keep"))
  }

  /** Winnowing selection over any (doc_id, text) frame: 5-token k-gram
    * hashes, window w=4, per-position window minimum as the selected
    * fingerprint. Returns one row per FULL window position:
    * (doc_id, pos, n_grams, fp). Exposed for WinnowSpec's planted-run
    * guarantee pin; `t_winnow` aggregates it per document.
    */
  def winnowed(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(0, 3)
    docs
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 5)
      .select(col("doc_id"),
        (size(col("toks")) - 4).as("n_grams"),
        posexplode(transform(
          sequence(lit(0), size(col("toks")) - 5),
          i => md5(concat_ws(" ", slice(col("toks"), i + 1, lit(5))))))
          .as(Seq("pos", "h")))
      .withColumn("fp", min(col("h")).over(w))
      .filter(col("pos") <= col("n_grams") - 4)
      .select(col("doc_id"), col("pos"), col("n_grams"), col("fp"))
  }

  /** Three BPE training rounds over the corpus word-frequency table
    * (t_bpe_merges / t_bpe_segment). Returns the per-round winning-pair
    * frames (1 row each: l, r, c) and the fully-merged word table
    * (w, cnt, syms). One corpus scan; pair counts are weighted map-side-
    * combinable sums; each winner rides back in as a broadcast 1-row
    * frame; the merge is a map-only greedy left-to-right fold.
    * `localCheckpoint` per round keeps the unrolled lineage flat.
    */
  private def bpeRounds(s: SparkSession, d: String)
      : (Seq[org.apache.spark.sql.DataFrame], org.apache.spark.sql.DataFrame) = {
    val zero = array().cast("array<string>")
    def pairTop(words: org.apache.spark.sql.DataFrame) =
      words.select(col("cnt"),
          explode(zip_with(
            slice(col("syms"), lit(1), size(col("syms")) - 1),
            slice(col("syms"), lit(2), size(col("syms")) - 1),
            (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(desc("c"), col("l"), col("r"))
        .limit(1)
    def merged(words: org.apache.spark.sql.DataFrame,
               top: org.apache.spark.sql.DataFrame) =
      words.crossJoin(broadcast(top))
        .select(col("w"), col("cnt"),
          aggregate(col("syms"), zero, (acc, x) =>
            when(size(acc) > 0 &&
                element_at(acc, -1) === col("l") && x === col("r"),
              concat(slice(acc, lit(1), size(acc) - 1),
                array(concat(col("l"), col("r")))))
              .otherwise(concat(acc, array(x)))).as("syms"))
    val s0 = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      // the '|' exclusion mirrors the oracle's wrapped-symbol encoding
      // (symbols must never contain the wrap char); the fixture is pure
      // [a-z ] so nothing is actually dropped
      .filter(length(col("w")).between(1, 20) && !col("w").contains("|"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(col("w"), col("cnt"),
        transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1))).as("syms"))
      .stageCkpt()
    val t1 = pairTop(s0).stageCkpt()
    val s1 = merged(s0, t1).stageCkpt()
    val t2 = pairTop(s1).stageCkpt()
    val s2 = merged(s1, t2).stageCkpt()
    val t3 = pairTop(s2).stageCkpt()
    // the final merge stays lazy — t_bpe_merges never executes it
    (Seq(t1, t2, t3), merged(s2, t3))
  }

  /** Shared DuckDB oracle chain for the BPE queries. Symbol lists ride
    * as strings with EACH symbol individually wrapped — `|a||b||c|` —
    * so one `replace('|l||r|' → '|lr|')` per round IS the greedy
    * left-to-right non-overlapping merge: adjacent occurrences share no
    * delimiter, so a single left-to-right replace pass consumes exactly
    * the pairs the Spark fold consumes. (A space-joined encoding needs
    * replace-until-fixpoint and STILL diverges from the fold when a
    * doubled symbol wins a round, e.g. merging (a,a) in `aaaaa`:
    * fold → [aa,aa,a], fixpoint → [aa,a,aa]. The wrapped single-pass
    * form is exhaustively equivalence-checked against the fold over
    * all ≤12-symbol binary words and an adversarial doubled-letter
    * corpus.) The '|' wrap char is excluded from words on both engines.
    */
  private def bpePairCte(src: String, p: String, m: String): String =
    s""", $p AS (
       |  SELECT l, r, CAST(sum(cnt) AS BIGINT) AS c FROM (
       |    SELECT cnt, syms[i] AS l, syms[i+1] AS r
       |    FROM (SELECT cnt, string_split(trim(s, '|'), '||') AS syms
       |          FROM $src) t,
       |      unnest(range(1, length(syms))) AS u(i)) pp
       |  GROUP BY l, r
       |), $m AS (SELECT l, r, c FROM $p ORDER BY c DESC, l, r LIMIT 1)""".stripMargin

  private def bpeMergeCte(src: String, m: String, out: String): String =
    s""", $out AS (
       |  SELECT w, cnt,
       |    replace(s, '|'||$m.l||'||'||$m.r||'|', '|'||$m.l||$m.r||'|')
       |      AS s
       |  FROM $src, $m)""".stripMargin

  private val bpeOracleChain: String =
    """WITH wf AS (
      |  SELECT w, count(*) AS cnt FROM (
      |    SELECT unnest(string_split(text, ' ')) AS w FROM documents) u
      |  WHERE length(w) BETWEEN 1 AND 20 AND NOT contains(w, '|')
      |  GROUP BY w
      |), s0 AS (
      |  SELECT w, cnt,
      |    '|' || array_to_string(split(w, ''), '||') || '|' AS s
      |  FROM wf
      |)""".stripMargin +
      bpePairCte("s0", "p1", "m1") + bpeMergeCte("s0", "m1", "s1") +
      bpePairCte("s1", "p2", "m2") + bpeMergeCte("s1", "m2", "s2") +
      bpePairCte("s2", "p3", "m3")

  /** t_train_classifier: full-batch GD iterations — shared between the
    * Spark loop and the oracle's unrolled CTE chain. */
  private val clfIters = 3

  val all: Seq[Q] = Seq(

    // ----- token counting: whitespace tokenization + distinct + avg length
    Q("t_tokens",
      (s, d) => Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .select(col("doc_id"),
          size(col("toks")).as("n_tokens"),
          size(array_distinct(col("toks"))).as("n_distinct"),
          round(aggregate(col("toks"), lit(0L), (acc, x) => acc + length(x))
            / size(col("toks")), 4).as("avg_token_len"))
        .orderBy("doc_id"),
      Some(
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
          |           FROM documents)
          |SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
          |  CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
          |  round(list_sum(list_transform(toks, x -> len(x)))
          |        * 1.0 / len(toks), 4) AS avg_token_len
          |FROM t ORDER BY doc_id""".stripMargin)),

    // ----- BPE-ish subword counting: greedy fixed-width piece regex (a
    // stand-in for a learned BPE merge table — same plan shape: one
    // regexp_extract_all + size, fully codegen'd). Identical greedy
    // semantics in Java regex (Spark) and RE2 (DuckDB).
    Q("t_tokens_bpe",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).as("n_words"),
          size(regexp_extract_all(col("text"),
            lit("[a-z]{1,4}|[0-9]{1,3}|[^a-z0-9 ]"), lit(0)))
            .as("n_pieces"))
        .withColumn("pieces_per_word",
          round(col("n_pieces") / col("n_words").cast("double"), 4))
        .orderBy("doc_id"),
      Some(
        """SELECT doc_id,
          |  CAST(len(string_split(text, ' ')) AS INT) AS n_words,
          |  CAST(len(regexp_extract_all(text,
          |    '[a-z]{1,4}|[0-9]{1,3}|[^a-z0-9 ]')) AS INT) AS n_pieces,
          |  round(len(regexp_extract_all(text,
          |      '[a-z]{1,4}|[0-9]{1,3}|[^a-z0-9 ]')) * 1.0
          |    / len(string_split(text, ' ')), 4) AS pieces_per_word
          |FROM documents ORDER BY doc_id""".stripMargin)),

    // ----- quality scoring: stopword ratio, type-token ratio, length flags
    Q("t_quality",
      (s, d) => Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .select(col("doc_id"), col("n_chars"),
          round(size(filter(col("toks"), x => inList(x, stopwords)))
            / size(col("toks")).cast("double"), 4).as("stopword_ratio"),
          round(size(array_distinct(col("toks")))
            / size(col("toks")).cast("double"), 4).as("type_token_ratio"),
          when(col("n_chars") < 200, "short")
            .when(col("n_chars") > 800, "long")
            .otherwise("ok").as("length_class"))
        .orderBy("doc_id"),
      Some(
        s"""WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS toks
           |           FROM documents)
           |SELECT doc_id, n_chars,
           |  round(len(list_filter(toks, x -> x IN
           |    (${stopwords.map("'" + _ + "'").mkString(",")})))
           |    * 1.0 / len(toks), 4) AS stopword_ratio,
           |  round(len(list_distinct(toks)) * 1.0 / len(toks), 4)
           |    AS type_token_ratio,
           |  CASE WHEN n_chars < 200 THEN 'short'
           |       WHEN n_chars > 800 THEN 'long'
           |       ELSE 'ok' END AS length_class
           |FROM t ORDER BY doc_id""".stripMargin)),

    // ----- readability profile: the Flesch/LIX component signals a
    // quality filter thresholds on — word count, mean word length,
    // syllable density (maximal-vowel-run proxy, the standard cheap
    // stand-in), long-word ratio. The corpus has no sentence
    // punctuation, so the sentence-normalized composite grades are
    // degenerate here; the per-word components are the useful signals
    // and each is ONE identically-associated division rounded 4dp
    // (the engine-safe float form). Map-only — at any scale this is a
    // scan, no shuffle but the presentation sort.
    Q("t_readability",
      (s, d) => {
        val vruns = regexp_replace(col("text"), "[aeiou]+", "V")
        Tables.documents(s, d)
          .withColumn("toks", split(col("text"), " "))
          .withColumn("nw", size(col("toks")))
          .withColumn("vg",
            length(vruns) - length(regexp_replace(vruns, "V", "")))
          .select(col("doc_id"), col("nw").as("n_words"),
            round(length(regexp_replace(col("text"), " ", ""))
              / col("nw").cast("double"), 4).as("avg_word_len"),
            round(col("vg") / col("nw").cast("double"), 4)
              .as("syll_per_word"),
            round(size(filter(col("toks"), x => length(x) >= 7))
              / col("nw").cast("double"), 4).as("long_word_ratio"))
          .orderBy("doc_id")
      },
      Some(
        """WITH t AS (
          |  SELECT doc_id, text,
          |    len(string_split(text, ' ')) AS nw,
          |    regexp_replace(text, '[aeiou]+', 'V', 'g') AS vr,
          |    string_split(text, ' ') AS toks
          |  FROM documents)
          |SELECT doc_id, CAST(nw AS INT) AS n_words,
          |  round(length(replace(text, ' ', '')) * 1.0 / nw, 4)
          |    AS avg_word_len,
          |  round((length(vr) - length(replace(vr, 'V', ''))) * 1.0 / nw,
          |    4) AS syll_per_word,
          |  round(len(list_filter(toks, x -> length(x) >= 7)) * 1.0 / nw,
          |    4) AS long_word_ratio
          |FROM t ORDER BY doc_id""".stripMargin)),

    // ----- heuristic language ID by marker function-words
    Q("t_langid",
      (s, d) => {
        var df = Tables.documents(s, d)
          .withColumn("toks", split(col("text"), " "))
        for ((lang, ms) <- markers)
          df = df.withColumn(s"s_$lang",
            size(filter(col("toks"), x => inList(x, ms))))
        val m = greatest(markers.map { case (l, _) => col(s"s_$l") }: _*)
        val pred = markers.foldRight(lit("und")) { case ((l, _), acc) =>
          when(col(s"s_$l") === m && m > 0, l).otherwise(acc)
        }
        // foldRight keeps declared language order as tie-break priority
        df.select(col("doc_id"), col("lang"),
            pred.as("predicted_lang"),
            col("s_en"), col("s_de"), col("s_es"), col("s_fr"), col("s_zh"))
          .orderBy("doc_id")
      },
      Some {
        val scores = markers.map { case (l, ms) =>
          s"CAST(len(list_filter(toks, x -> x IN (${ms.map("'" + _ + "'").mkString(",")}))) AS INT) AS s_$l"
        }.mkString(",\n  ")
        val m = s"greatest(${markers.map("s_" + _._1).mkString(", ")})"
        val arms = markers.map { case (l, _) =>
          s"WHEN s_$l = $m AND $m > 0 THEN '$l'"
        }.mkString(" ")
        s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
           |           FROM documents),
           |sc AS (SELECT doc_id, lang,
           |  $scores
           |FROM t)
           |SELECT doc_id, lang,
           |  CASE $arms ELSE 'und' END AS predicted_lang,
           |  s_en, s_de, s_es, s_fr, s_zh
           |FROM sc ORDER BY doc_id""".stripMargin
      }),

    // ----- positional document fingerprint (rolling-hash flavor): a
    // position-weighted token hash, exactly reproducible in ANSI SQL.
    // Spark side uses posexplode (Generate) + hash agg — distributed.
    Q("t_fingerprint",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
        .groupBy("doc_id")
        .agg((sum((col("pos") + 1) *
          (length(col("tok")) * 31 + ascii(col("tok")))) % 1000003)
          .as("fingerprint"))
        .orderBy("doc_id"),
      Some(
        """WITH t AS (
          |  SELECT doc_id,
          |    generate_subscripts(string_split(text, ' '), 1) AS pos,
          |    unnest(string_split(text, ' ')) AS tok
          |  FROM documents)
          |SELECT doc_id,
          |  CAST(sum(pos * (len(tok) * 31 + ascii(tok))) % 1000003 AS BIGINT)
          |    AS fingerprint
          |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ----- benchmark decontamination: flag training docs sharing word
    // 5-grams with an evaluation set (the GPT-3/Pile-style n-gram-overlap
    // check every LLM data pipeline runs before training). The "benchmark"
    // here is the deterministic doc_id % 20 == 0 slice; its DISTINCT
    // 5-grams are the probe side. Plan shape for 100 TB: benchmark suites
    // are bounded (a few M n-grams), so the probe side is BROADCAST —
    // the corpus explode+join is map-side only, and the sole shuffle is
    // the partial-aggregated per-doc hit count. At production scale the
    // join key would be xxhash64(gram) (8 bytes) instead of the raw
    // string; kept raw here so DuckDB reproduces it verbatim.
    Q("t_decontaminate",
      (s, d) => {
        val grams = Tables.documents(s, d)
          .withColumn("toks", split(col("text"), " "))
          .filter(size(col("toks")) >= 5)
          .select(col("doc_id"),
            array_distinct(transform(
              sequence(lit(1), size(col("toks")) - 4),
              i => concat_ws(" ",
                element_at(col("toks"), i),
                element_at(col("toks"), i + 1),
                element_at(col("toks"), i + 2),
                element_at(col("toks"), i + 3),
                element_at(col("toks"), i + 4)))).as("g"))
        val bench = grams.filter(col("doc_id") % 20 === 0)
          .select(explode(col("g")).as("s")).distinct()
        // grams are per-doc distinct, so count(*) after the join is the
        // number of distinct benchmark 5-grams the doc contains
        grams.filter(col("doc_id") % 20 =!= 0)
          .select(col("doc_id"), size(col("g")).as("n_grams"),
            explode(col("g")).as("s"))
          .join(broadcast(bench), Seq("s"))
          .groupBy("doc_id", "n_grams")
          .agg(count(lit(1)).cast("int").as("n_hit"))
          .select(col("doc_id"), col("n_grams"), col("n_hit"),
            round(col("n_hit") / col("n_grams").cast("double"), 4)
              .as("overlap"),
            (col("n_hit") >= 3).as("contaminated"))
          .orderBy("doc_id")
      },
      Some(
        """WITH tk AS (
          |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
          |), g AS (
          |  SELECT doc_id,
          |    list_distinct(list_transform(range(1, len(toks) - 3),
          |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
          |           || ' ' || toks[i+3] || ' ' || toks[i+4])) AS g
          |  FROM tk WHERE len(toks) >= 5
          |), bench AS (
          |  SELECT DISTINCT unnest(g) AS s FROM g WHERE doc_id % 20 = 0
          |), ex AS (
          |  SELECT doc_id, CAST(len(g) AS INT) AS n_grams, unnest(g) AS s
          |  FROM g WHERE doc_id % 20 <> 0
          |), hit AS (
          |  SELECT doc_id, n_grams, CAST(count(*) AS INT) AS n_hit
          |  FROM ex JOIN bench USING (s) GROUP BY 1, 2)
          |SELECT doc_id, n_grams, n_hit,
          |  round(n_hit * 1.0 / n_grams, 4) AS overlap,
          |  n_hit >= 3 AS contaminated
          |FROM hit ORDER BY doc_id""".stripMargin)),

    // ----- TF-IDF keyword extraction: top-3 terms per doc by
    // tf * ln(N/df). Two hash aggregations (term frequency per doc,
    // document frequency per term) + an equi-join on term + a per-doc
    // window — every stage keyed and partial-aggregated, the classic
    // distributed TF-IDF shape. N (corpus size) arrives as a broadcast
    // 1-row aggregate, not a driver-side collect, so the whole query
    // stays one declarative plan.
    Q("t_tfidf",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, d)
        val tok = docs.select(col("doc_id"),
          explode(split(col("text"), " ")).as("term"))
        val tf = tok.groupBy("doc_id", "term")
          .agg(count(lit(1)).cast("int").as("tf"))
        val dfc = tf.groupBy("term")
          .agg(count(lit(1)).cast("int").as("df"))
        val n = docs.agg(count(lit(1)).as("n_docs"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(desc("tfidf"), col("term"))
        tf.join(dfc, Seq("term"))
          .join(broadcast(n))
          .withColumn("tfidf",
            round(col("tf") * log(col("n_docs") / col("df").cast("double")),
              4))
          .withColumn("rank", row_number().over(w).cast("int"))
          .filter(col("rank") <= 3)
          .select(col("doc_id"), col("rank"), col("term"), col("tfidf"))
          .orderBy("doc_id", "rank")
      },
      Some(
        """WITH tok AS (
          |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
          |  FROM documents
          |), tf AS (
          |  SELECT doc_id, term, CAST(count(*) AS INT) AS tf
          |  FROM tok GROUP BY doc_id, term
          |), dfc AS (
          |  SELECT term, CAST(count(*) AS INT) AS df FROM tf GROUP BY term
          |), n AS (SELECT count(*) AS n_docs FROM documents),
          |sc AS (
          |  SELECT tf.doc_id, tf.term,
          |    round(tf.tf * ln(n.n_docs * 1.0 / dfc.df), 4) AS tfidf
          |  FROM tf JOIN dfc USING (term) CROSS JOIN n
          |), rk AS (
          |  SELECT doc_id, term, tfidf, CAST(row_number() OVER (
          |    PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INT) AS rank
          |  FROM sc)
          |SELECT doc_id, rank, term, tfidf FROM rk WHERE rank <= 3
          |ORDER BY doc_id, rank""".stripMargin)),

    // ----- the corpus-cleaning funnel, composed end-to-end in ONE plan:
    // raw -> quality filter (length band) -> near-dup collapse on the
    // bag-of-words canonical key (sorted distinct token set — catches
    // token-order shuffles exact md5 misses; first-wins by doc_id via
    // min_by) -> language filter. Emits the per-stage survivor counts a
    // pipeline operator reports before a training run. Every stage is a
    // filter or a keyed hash agg — no stage materializes the corpus, so
    // the funnel costs one pass at any scale.
    Q("t_clean_pipeline",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val q = docs.filter(col("n_chars").between(200, 800))
        val ded = q.groupBy(
            md5(concat_ws(" ",
              array_sort(array_distinct(split(col("text"), " "))))).as("h"))
          .agg(expr("min_by(lang, doc_id)").as("lang"))
        val row = (stage: String, df: org.apache.spark.sql.DataFrame) =>
          df.agg(count(lit(1)).as("n_docs"))
            .select(lit(stage).as("stage"), col("n_docs"))
        row("0_raw", docs)
          .unionByName(row("1_quality", q))
          .unionByName(row("2_neardup", ded))
          .unionByName(row("3_lang", ded.filter(col("lang") === "en")))
          .orderBy("stage")
      },
      Some(
        """WITH q AS (
          |  SELECT * FROM documents WHERE n_chars BETWEEN 200 AND 800
          |), ded AS (
          |  SELECT md5(list_aggregate(list_sort(list_distinct(
          |           string_split(text, ' '))), 'string_agg', ' ')) AS h,
          |         arg_min(lang, doc_id) AS lang
          |  FROM q GROUP BY 1)
          |SELECT '0_raw' AS stage, count(*) AS n_docs FROM documents
          |UNION ALL SELECT '1_quality', count(*) FROM q
          |UNION ALL SELECT '2_neardup', count(*) FROM ded
          |UNION ALL SELECT '3_lang', count(*) FROM ded WHERE lang = 'en'
          |ORDER BY stage""".stripMargin)),

    // ----- overlapping-window chunking: split each doc into 64-token
    // chunks with stride 48 (16-token overlap) — the step that turns a
    // cleaned corpus into training/RAG sequences. Pure map + explode
    // (one Generate, no shuffle, no state): each row expands to
    // ceil((n-64)/48)+1 chunks independently, so the operator is
    // embarrassingly parallel at any scale. Output keeps the chunk HASH,
    // not the text — at 100 TB the chunk body would triple the write;
    // downstream joins on (doc_id, chunk_id) re-derive it.
    Q("t_chunk",
      (s, d) => {
        val kMax = greatest(
          ceil((col("n") - 64) / 48.0).cast("int"), lit(0))
        Tables.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .withColumn("n", size(col("toks")))
          .select(col("doc_id"), col("toks"),
            explode(sequence(lit(0), kMax)).as("chunk_id"))
          .withColumn("chunk",
            concat_ws(" ", slice(col("toks"), col("chunk_id") * 48 + 1,
              lit(64))))
          .select(col("doc_id"), col("chunk_id"),
            size(split(col("chunk"), " ")).as("chunk_tokens"),
            md5(col("chunk")).as("chunk_hash"))
          .orderBy("doc_id", "chunk_id")
      },
      Some(
        """WITH t AS (
          |  SELECT doc_id, string_split(text, ' ') AS toks,
          |         len(string_split(text, ' ')) AS n
          |  FROM documents
          |), c AS (
          |  SELECT doc_id, n, unnest(range(0,
          |    CAST(greatest(CAST(ceil((n - 64) / 48.0) AS INT), 0) AS INT)
          |      + 1)) AS chunk_id
          |  FROM t
          |), ch AS (
          |  SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
          |    array_to_string(toks[chunk_id*48 + 1 : chunk_id*48 + 64],
          |      ' ') AS chunk
          |  FROM c JOIN t USING (doc_id, n))
          |SELECT doc_id, chunk_id,
          |  CAST(len(string_split(chunk, ' ')) AS INT) AS chunk_tokens,
          |  md5(chunk) AS chunk_hash
          |FROM ch ORDER BY doc_id, chunk_id""".stripMargin)),

    // ----- repetition signals (the Gopher/MassiveText quality-filter
    // family): per doc, the fraction of all tokens taken by the single
    // most frequent token, and likewise for bigrams — high values mark
    // degenerate/boilerplate text that length and stopword ratios
    // (t_quality) miss. NOT a per-row HOF: finding a mode inside an array
    // lambda is O(len²) per doc, so both fractions come from distributed
    // explode → (doc, term) count → per-doc max/sum — two hash-agg
    // pipelines whose work is linear in corpus token count and partitioned
    // by doc, exactly what survives a 100-TB corpus. Only max(count) is
    // emitted (never the argmax term, whose ties the two engines could
    // break differently).
    Q("t_repetition",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
        val tokTop = toks.groupBy("doc_id", "t")
          .agg(count(lit(1)).as("c"))
          .groupBy("doc_id")
          .agg(max(col("c")).as("top_c"), sum(col("c")).as("n"))
        val grams = Tables.documents(s, d)
          .withColumn("toks", split(col("text"), " "))
          .filter(size(col("toks")) >= 2)
          .select(col("doc_id"),
            explode(transform(sequence(lit(1), size(col("toks")) - 1),
              i => concat_ws(" ", element_at(col("toks"), i),
                element_at(col("toks"), i + 1)))).as("g"))
        val gramTop = grams.groupBy("doc_id", "g")
          .agg(count(lit(1)).as("c"))
          .groupBy("doc_id")
          .agg(max(col("c")).as("top_gc"), sum(col("c")).as("ng"))
        tokTop.join(gramTop, Seq("doc_id"))
          .select(col("doc_id"),
            round(col("top_c") / col("n").cast("double"), 4)
              .as("top_token_frac"),
            round(col("top_gc") / col("ng").cast("double"), 4)
              .as("top_bigram_frac"),
            (col("top_gc") >= 2).as("has_repeated_bigram"))
          .orderBy("doc_id")
      },
      Some(
        """WITH tok AS (
          |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
          |  FROM documents
          |), tc AS (
          |  SELECT doc_id, t, count(*) AS c FROM tok GROUP BY doc_id, t
          |), tt AS (
          |  SELECT doc_id, max(c) AS top_c, CAST(sum(c) AS BIGINT) AS n
          |  FROM tc GROUP BY doc_id
          |), gsrc AS (
          |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
          |), gm AS (
          |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
          |    i -> toks[i] || ' ' || toks[i+1])) AS g
          |  FROM gsrc WHERE len(toks) >= 2
          |), gc AS (
          |  SELECT doc_id, g, count(*) AS c FROM gm GROUP BY doc_id, g
          |), gt AS (
          |  SELECT doc_id, max(c) AS top_gc, CAST(sum(c) AS BIGINT) AS ng
          |  FROM gc GROUP BY doc_id
          |)
          |SELECT doc_id,
          |  round(top_c * 1.0 / n, 4) AS top_token_frac,
          |  round(top_gc * 1.0 / ng, 4) AS top_bigram_frac,
          |  top_gc >= 2 AS has_repeated_bigram
          |FROM tt JOIN gt USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // ----- BM25 ranking (k1=1.2, b=0.75) for a fixed 3-term query — the
    // classic retrieval baseline a data pipeline runs to pull
    // benchmark-adjacent or topic-matched documents out of a corpus.
    // Per-term doc frequencies and the average doc length are tiny
    // per-corpus aggregates (broadcast); term frequencies are computed
    // ONLY for the query terms — the explode is filtered to 3 terms
    // before any shuffle, so the scored set is |matching docs| x |query|,
    // never corpus x vocabulary. Top-20 by score with doc_id tie-break.
    Q("t_bm25",
      (s, d) => {
        val qTerms = Seq("spark", "join", "sort")
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .select(col("doc_id"), col("toks"),
            size(col("toks")).cast("double").as("dl"))
        val tf = docs
          .select(col("doc_id"), col("dl"), explode(col("toks")).as("t"))
          .filter(col("t").isin(qTerms: _*))
          .groupBy("doc_id", "dl", "t").agg(count(lit(1)).as("tf"))
        val stats = docs.agg(count(lit(1)).cast("double").as("n_docs"),
          avg(col("dl")).as("avgdl"))
        val df_ = tf.groupBy("t").agg(count(lit(1)).cast("double").as("df"))
        tf.join(broadcast(df_), Seq("t"))
          .join(broadcast(stats))
          .withColumn("idf",
            log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
          .withColumn("w",
            col("idf") * col("tf") * 2.2 /
              (col("tf") + (col("dl") / col("avgdl") * 0.75 + 0.25) * 1.2))
          .groupBy("doc_id").agg(round(sum(col("w")), 4).as("bm25"))
          .orderBy(desc("bm25"), col("doc_id"))
          .limit(20)
      },
      Some(
        """WITH docs AS (
          |  SELECT doc_id, len(string_split(text, ' ')) * 1.0 AS dl,
          |         string_split(text, ' ') AS toks
          |  FROM documents
          |), tf AS (
          |  SELECT doc_id, dl, t, count(*) AS tf FROM (
          |    SELECT doc_id, dl, unnest(toks) AS t FROM docs)
          |  WHERE t IN ('spark', 'join', 'sort')
          |  GROUP BY doc_id, dl, t
          |), stats AS (
          |  SELECT count(*) * 1.0 AS n_docs, avg(dl) AS avgdl FROM docs
          |), dfr AS (
          |  SELECT t, count(*) * 1.0 AS df FROM tf GROUP BY t
          |)
          |SELECT doc_id, round(sum(
          |    ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2 /
          |    (tf + (dl / avgdl * 0.75 + 0.25) * 1.2)), 4) AS bm25
          |FROM tf JOIN dfr USING (t) CROSS JOIN stats
          |GROUP BY doc_id
          |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin)),

    // ----- corpus-level duplicate-span detection (the C4/RefinedWeb
    // exact-substring-dedup family at span granularity): each doc is cut
    // into non-overlapping 8-token spans; a span is a DUPLICATE if the
    // same 8-token sequence occurred EARLIER in corpus order
    // (doc_id, span_id). Per doc: span counts, duplicated fraction, and
    // the keep/drop verdict a cleaning pipeline acts on. Plan shape for
    // 100 TB: explode spans → md5 → groupBy hash (ONE balanced shuffle —
    // the 16-byte hash is the shuffle key, never the span text) to find
    // each span's global first occurrence; join back on the same hash
    // (co-partitioned — AQE reuses the exchange) and re-aggregate per
    // doc. All stages linear and keyed; no sort or window over the
    // corpus. `pos_key = doc_id * 100000 + span_id` is a total order on
    // occurrences (span counts are bounded far below 100000 per doc; at
    // production scale the key would be a (doc_id, span_id) struct min).
    // The keep rule compares integers (n_dup * 2 < n_spans), never a
    // rounded float, so the verdict can't straddle an engine boundary.
    Q("t_span_dedup",
      (s, d) => spanDedup(Tables.documents(s, d)).orderBy("doc_id"),
      Some(
        """WITH tk AS (
          |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
          |), sp AS (
          |  SELECT doc_id, CAST(i AS INT) AS span_id,
          |    md5(array_to_string(toks[i*8 + 1 : i*8 + 8], ' ')) AS h
          |  FROM (SELECT doc_id, toks,
          |          unnest(range(0, CAST(len(toks) // 8 AS INT))) AS i
          |        FROM tk WHERE len(toks) >= 8)
          |), fst AS (
          |  SELECT h, min(struct_pack(d := doc_id, s := span_id)) AS fp
          |  FROM sp GROUP BY h
          |), agg AS (
          |  SELECT sp.doc_id, CAST(count(*) AS INT) AS n_spans,
          |    CAST(sum(CASE WHEN sp.doc_id <> (fp).d
          |      OR sp.span_id <> (fp).s THEN 1 ELSE 0 END)
          |      AS INT) AS n_dup
          |  FROM sp JOIN fst USING (h) GROUP BY sp.doc_id)
          |SELECT doc_id, n_spans, n_dup,
          |  round(n_dup * 1.0 / n_spans, 4) AS dup_frac,
          |  n_dup * 2 < n_spans AS keep
          |FROM agg ORDER BY doc_id""".stripMargin)),

    // ----- EXACT duplicated-substring spans at CHARACTER granularity —
    // the suffix-array dedup family (Lee et al. 2022, "Deduplicating
    // Training Data Makes Language Models Better"), re-expressed as the
    // Spark-native anchor-and-extend equivalent. Where t_span_dedup
    // hashes disjoint 8-token blocks (a block-aligned duplicate can be
    // missed by one token of drift), this finds EVERY duplicated
    // substring of length >= G at ANY offset: a position is duplicated
    // iff its G-gram occurs at >= 2 (doc, offset) locations corpus-wide,
    // and duplicated positions whose G-char intervals overlap or adjoin
    // (start-gap <= G) merge into maximal spans (gaps-and-islands with
    // a lag-based break) — dup_chars is the exact INTERVAL UNION of all
    // duplicated-substring coverage, which is what the suffix-array
    // pass computes. Positions are UNICODE CODE POINTS end to end
    // (rolling_hashes decodes code points; Spark substring/length and
    // DuckDB substr/length are code-point units), so the anchor, the
    // verify extraction, and the oracle agree on all of Unicode.
    //
    // Plan shape for 100 TB (three keyed stages, nothing corpus-global):
    //  1. ANCHOR — `rolling_hashes(text, G)` (native codegen'd
    //     Karp-Rabin, functions/RollingHashes.scala) emits one 8-byte
    //     hash per character offset in a single pass; the duplicate-
    //     candidate hashes come from ONE balanced groupBy on the hash
    //     (8-byte shuffle key — ~3x less traffic than shuffling the
    //     G=25-char grams, which is the point of hashing the anchors).
    //  2. VERIFY — candidate positions (the tiny duplicated fraction)
    //     join back to their text by doc_id (keyed), re-extract the
    //     REAL substring, and re-group on it: a 64-bit collision can
    //     only add a candidate that verification discards, never flip
    //     the answer — the result is exact unconditionally.
    //  3. MERGE — gaps-and-islands per doc (window partitioned by
    //     doc_id, bounded by DOC length — docs don't grow with corpus
    //     size, the corpus grows in doc COUNT, so no window ever sees
    //     more than one doc's offsets).
    // The keep verdict compares integers (dup_chars * 5 < len, i.e.
    // < 20% duplicated), never a rounded float.
    Q("t_dup_substrings",
      (s, d) => dupSubstrings(Tables.documents(s, d)).orderBy("doc_id"),
      Some(
        s"""WITH pos AS (
           |  SELECT doc_id, CAST(p AS INT) AS pos,
           |    substr(text, CAST(p AS INT), $dupGramLen) AS gram
           |  FROM (SELECT doc_id, text,
           |          unnest(range(1, CAST(length(text) AS BIGINT)
           |                          - $dupGramLen + 2)) AS p
           |        FROM documents WHERE length(text) >= $dupGramLen)
           |), dupg AS (
           |  SELECT gram FROM pos GROUP BY gram HAVING count(*) >= 2
           |), dp AS (
           |  SELECT p.doc_id, p.pos FROM pos p JOIN dupg USING (gram)
           |), isl AS (
           |  SELECT doc_id, pos,
           |    sum(CASE WHEN prev IS NULL OR pos - prev > $dupGramLen
           |             THEN 1 ELSE 0 END)
           |      OVER (PARTITION BY doc_id ORDER BY pos) AS grp
           |  FROM (SELECT doc_id, pos,
           |          lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
           |            AS prev
           |        FROM dp)
           |), spans AS (
           |  SELECT doc_id, min(pos) AS sp, max(pos) AS ep
           |  FROM isl GROUP BY doc_id, grp
           |), agg AS (
           |  SELECT doc_id, CAST(count(*) AS INT) AS n_spans,
           |    CAST(sum(ep - sp + $dupGramLen) AS BIGINT) AS dup_chars,
           |    CAST(max(ep - sp + $dupGramLen) AS INT) AS longest_span
           |  FROM spans GROUP BY doc_id)
           |SELECT d.doc_id,
           |  coalesce(a.n_spans, 0) AS n_spans,
           |  CAST(coalesce(a.dup_chars, 0) AS BIGINT) AS dup_chars,
           |  coalesce(a.longest_span, 0) AS longest_span,
           |  round(coalesce(a.dup_chars, 0)
           |    / greatest(length(d.text), 1), 4) AS dup_frac,
           |  coalesce(a.dup_chars, 0) * 5 < length(d.text) AS keep
           |FROM documents d LEFT JOIN agg a USING (doc_id)
           |ORDER BY d.doc_id""".stripMargin)),

    // ----- PMI collocation mining (pointwise mutual information of
    // adjacent token pairs) — the corpus statistic behind phrase
    // detection (word2vec's phrase pass, "new york"-style merges) and a
    // vocabulary-construction signal. Three distributed counts (unigram,
    // bigram, and two 1-row totals broadcast back), then two equi-joins
    // on the token key to attach marginals to each pair — every stage
    // keyed and partial-aggregated, nothing all-pairs (pairs = ADJACENT
    // tokens only, linear in corpus size). The PMI expression is written
    // with the same association on both engines so the round-4 doubles
    // agree; min-count 5 is the standard noise floor. Top-20, pair
    // tie-break.
    Q("t_pmi",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .withColumn("toks", split(col("text"), " "))
        val uni = toks
          .select(explode(col("toks")).as("t"))
          .groupBy("t").agg(count(lit(1)).as("c"))
        val bi = toks
          .filter(size(col("toks")) >= 2)
          .select(explode(transform(
            sequence(lit(1), size(col("toks")) - 1),
            i => struct(element_at(col("toks"), i).as("x"),
              element_at(col("toks"), i + 1).as("y")))).as("p"))
          .select(col("p.x").as("x"), col("p.y").as("y"))
          .groupBy("x", "y").agg(count(lit(1)).as("cxy"))
          .filter(col("cxy") >= 5)
        val totals = uni.agg(sum(col("c")).as("n"))
          .join(bi.agg(sum(col("cxy")).as("m")))
        bi.join(uni.select(col("t").as("x"), col("c").as("cx")), Seq("x"))
          .join(uni.select(col("t").as("y"), col("c").as("cy")), Seq("y"))
          .join(broadcast(totals))
          .select(col("x"), col("y"), col("cxy"),
            round(log((col("cxy") * 1.0 / col("m")) /
              ((col("cx") * 1.0 / col("n")) * (col("cy") * 1.0 / col("n")))),
              4).as("pmi"))
          .orderBy(desc("pmi"), col("x"), col("y"))
          .limit(20)
      },
      Some(
        """WITH tk AS (
          |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
          |), uni AS (
          |  SELECT t, count(*) AS c FROM (
          |    SELECT unnest(toks) AS t FROM tk) GROUP BY t
          |), bi AS (
          |  SELECT x, y, count(*) AS cxy FROM (
          |    SELECT unnest(list_transform(range(1, len(toks)),
          |             i -> toks[i])) AS x,
          |           unnest(list_transform(range(1, len(toks)),
          |             i -> toks[i+1])) AS y
          |    FROM tk WHERE len(toks) >= 2)
          |  GROUP BY x, y HAVING count(*) >= 5
          |), tot AS (
          |  SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS n,
          |         (SELECT CAST(sum(cxy) AS BIGINT) FROM bi) AS m
          |)
          |SELECT x, y, cxy,
          |  round(ln((cxy * 1.0 / m) /
          |    ((ux.c * 1.0 / n) * (uy.c * 1.0 / n))), 4) AS pmi
          |FROM bi JOIN uni ux ON ux.t = x
          |        JOIN uni uy ON uy.t = y
          |        CROSS JOIN tot
          |ORDER BY pmi DESC, x, y LIMIT 20""".stripMargin)),

    // ----- unigram-LM quality score: each document's mean token
    // log-probability under the corpus's own unigram distribution — the
    // cheap stand-in for the KenLM/CCNet perplexity filter every large
    // text pipeline runs (docs full of rare junk score low; docs of
    // common fluent tokens score high). One distributed unigram count,
    // one broadcast total, one equi-join on the token key, one per-doc
    // aggregation — all linear and keyed. The per-doc min is emitted
    // beside the mean (min is order-independent; it flags the single
    // rarest token — the "contains garbage" signal a mean can dilute).
    Q("t_unigram_logprob",
      (s, d) => {
        val tok = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
        val uni = tok.groupBy("t").agg(count(lit(1)).as("c"))
        val tot = uni.agg(sum(col("c")).as("n"))
        tok.join(uni, Seq("t"))
          .join(broadcast(tot))
          .withColumn("lp", log(col("c") * 1.0 / col("n")))
          .groupBy("doc_id")
          .agg(count(lit(1)).cast("int").as("n_tokens"),
            round(avg(col("lp")), 4).as("avg_logprob"),
            round(min(col("lp")), 4).as("min_logprob"))
          .orderBy("doc_id")
      },
      Some(
        """WITH tok AS (
          |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
          |  FROM documents
          |), uni AS (
          |  SELECT t, count(*) AS c FROM tok GROUP BY t
          |), tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni)
          |SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
          |  round(avg(ln(c * 1.0 / n)), 4) AS avg_logprob,
          |  round(min(ln(c * 1.0 / n)), 4) AS min_logprob
          |FROM tok JOIN uni USING (t) CROSS JOIN tot
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ----- per-source corpus card: the release-summary profile a
    // corpus ships with (the Datasheets/data-card table) — doc count,
    // token volume, vocabulary size, type-token ratio, language
    // spread, and length extremes per source, in one pass + one
    // distinct-aggregate. TTR is floor-scaled basis points
    // (10000*vocab div tokens — integral division, no float ties);
    // everything else is counts. Scale shape: the token explode
    // shuffles once on (source, token) for the distinct-vocab count
    // (map-side partial distinct), the rest rides a per-source hash
    // aggregate; output cardinality = source count, bounded.
    Q("t_corpus_card",
      (s, d) => {
        val base = Tables.documents(s, d)
          .withColumn("ntok", size(split(col("text"), " ")).cast("long"))
        val agg = base.groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("ntok")).as("tokens"),
            countDistinct(col("lang")).as("n_langs"),
            min(col("ntok")).as("min_tokens"),
            max(col("ntok")).as("max_tokens"))
        val vocab = base
          .select(col("source"), explode(split(col("text"), " ")).as("t"))
          .groupBy("source")
          .agg(countDistinct(col("t")).as("vocab"))
        agg.join(vocab, Seq("source"))
          .withColumn("ttr_bp",
            expr("(10000 * vocab) div tokens"))
          .select("source", "n_docs", "tokens", "vocab", "ttr_bp",
            "n_langs", "min_tokens", "max_tokens")
          .orderBy("source")
      },
      Some(
        """WITH base AS (
          |  SELECT source, lang,
          |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
          |    text
          |  FROM documents
          |), agg AS (
          |  SELECT source, count(*) AS n_docs,
          |    CAST(sum(ntok) AS BIGINT) AS tokens,
          |    count(DISTINCT lang) AS n_langs,
          |    min(ntok) AS min_tokens, max(ntok) AS max_tokens
          |  FROM base GROUP BY source
          |), vocab AS (
          |  SELECT source, count(DISTINCT t) AS vocab
          |  FROM (SELECT source, unnest(string_split(text, ' ')) AS t
          |        FROM base)
          |  GROUP BY source
          |)
          |SELECT source, n_docs, tokens, vocab,
          |  (10000 * vocab) // tokens AS ttr_bp,
          |  n_langs, min_tokens, max_tokens
          |FROM agg JOIN vocab USING (source)
          |ORDER BY source""".stripMargin)),

    // ----- DSIR-style importance scoring (Xie et al. 2023,
    // arXiv:2302.03169): rank pool documents by how target-like their
    // token distribution is — the data-SELECTION counterpart of the
    // quality filters above. Target = the lang='en' slice (standing in
    // for the trusted corpus); pool = everything else. Each pool doc
    // scores avg over its tokens of ln(p_target(w) / p_pool(w)), both
    // LMs add-one-smoothed over the SHARED vocabulary (so unseen-in-
    // target tokens penalize instead of exploding). selected = score>0,
    // i.e. the doc is literally more likely under the target LM than
    // the pool LM. Scale shape: two distributed token-count aggregates
    // (map-side combined), token-keyed equi-joins (the tf-idf shape —
    // marginals stay distributed, never collected), the three scalars
    // ride ONE broadcast 1-row capsule, and the per-doc rollup shuffles
    // once on doc_id. Same avg-of-logs + round(4dp) determinism
    // contract as t_unigram_logprob.
    Q("t_dsir",
      (s, d) => {
        val tok = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            explode(split(col("text"), " ")).as("t"))
        val ct = tok.filter(col("lang") === "en")
          .groupBy("t").agg(count(lit(1)).as("ct"))
        val cs = tok.filter(col("lang") =!= "en")
          .groupBy("t").agg(count(lit(1)).as("cs"))
        val k = tok.agg(
          countDistinct(col("t")).as("v"),
          sum(when(col("lang") === "en", 1).otherwise(0)).as("nt"),
          sum(when(col("lang") =!= "en", 1).otherwise(0)).as("ns"))
        tok.filter(col("lang") =!= "en")
          .join(ct, Seq("t"), "left")
          .join(cs, Seq("t"))
          .crossJoin(broadcast(k))
          .withColumn("lr",
            log((coalesce(col("ct"), lit(0L)) + 1).cast("double")
                / (col("nt") + col("v")))
              - log((col("cs") + 1).cast("double")
                / (col("ns") + col("v"))))
          .groupBy("doc_id", "lang")
          // `+ 0.0` collapses IEEE -0.0 (see f7_zscore's note)
          .agg(count(lit(1)).cast("int").as("n_tokens"),
            (round(avg(col("lr")), 4) + lit(0.0)).as("dsir_score"))
          .withColumn("selected", col("dsir_score") > 0)
          .orderBy("doc_id")
      },
      Some(
        """WITH tok AS (
          |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
          |  FROM documents
          |), ct AS (
          |  SELECT t, count(*) AS ct FROM tok WHERE lang = 'en' GROUP BY t
          |), cs AS (
          |  SELECT t, count(*) AS cs FROM tok WHERE lang <> 'en' GROUP BY t
          |), k AS (
          |  SELECT count(DISTINCT t) AS v,
          |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
          |      AS nt,
          |    CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT)
          |      AS ns
          |  FROM tok
          |), sc AS (
          |  SELECT tok.doc_id, tok.lang, CAST(count(*) AS INT) AS n_tokens,
          |    round(avg(ln((coalesce(ct, 0) + 1) * 1.0 / (nt + v))
          |            - ln((cs + 1) * 1.0 / (ns + v))), 4) + 0.0
          |      AS dsir_score
          |  FROM tok LEFT JOIN ct USING (t) JOIN cs USING (t) CROSS JOIN k
          |  WHERE tok.lang <> 'en'
          |  GROUP BY tok.doc_id, tok.lang
          |)
          |SELECT doc_id, lang, n_tokens, dsir_score,
          |  dsir_score > 0 AS selected
          |FROM sc ORDER BY doc_id""".stripMargin)),

    // ----- vocabulary coverage report: the top-50 corpus tokens with
    // their cumulative share of all token occurrences — the curve a
    // tokenizer/vocab-construction pass reads to pick a vocab size.
    // Scale shape: distributed token counts (map-side combined), then
    // a global top-50 via orderBy+limit (TakeOrdered — never a full
    // sort), and ONLY those 50 rows enter the single-partition
    // cumulative window, so the unbounded-window scale-killer (the g2
    // lesson) never sees more than 50 rows. The corpus total rides in
    // as a broadcast 1-row aggregate.
    Q("t_vocab",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val counts = Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("n"))
        val total = counts.agg(sum(col("n")).as("tot"))
        val top = counts.orderBy(col("n").desc, col("tok")).limit(50)
        val ord = Window.orderBy(col("n").desc, col("tok"))
        val cum = ord.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)
        top.crossJoin(broadcast(total))
          .withColumn("rank", row_number().over(ord).cast("int"))
          .withColumn("cum", sum(col("n")).over(cum))
          .select(col("rank"), col("tok"), col("n"),
            round(col("cum").cast("double") / col("tot"), 6)
              .as("cum_share"))
          .orderBy("rank")
      },
      Some(
        """WITH counts AS (
          |  SELECT tok, count(*) AS n
          |  FROM (SELECT unnest(string_split(text, ' ')) AS tok
          |        FROM documents)
          |  GROUP BY tok
          |), total AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM counts),
          |top AS (
          |  SELECT tok, CAST(n AS BIGINT) AS n FROM counts
          |  ORDER BY n DESC, tok LIMIT 50)
          |SELECT CAST(row_number() OVER (ORDER BY n DESC, tok) AS INT)
          |    AS rank,
          |  tok, n,
          |  round(CAST(sum(n) OVER (ORDER BY n DESC, tok
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
          |    / tot, 6) AS cum_share
          |FROM top CROSS JOIN total
          |ORDER BY rank""".stripMargin)),

    // ----- winnowing fingerprints (the MOSS document-fingerprint
    // scheme): hash every 5-token k-gram, slide a 4-gram window, keep
    // the window MINIMUM — the classic guarantee that any shared run of
    // >= 8 tokens contributes at least one common fingerprint, at ~1/4
    // the stored hashes (WinnowSpec pins the guarantee on planted
    // runs). Per doc: gram count, distinct fingerprints, and density
    // (selected/total). Plan shape: explode + one window shuffle on
    // doc_id + hash aggregate — linear, no pair joins; fingerprints
    // feed an equi-join dedup downstream exactly like the MinHash band
    // keys.
    Q("t_winnow",
      (s, d) => {
        winnowed(Tables.documents(s, d))
          .groupBy("doc_id")
          .agg(max(col("n_grams")).cast("int").as("n_grams"),
            countDistinct(col("fp")).cast("int").as("n_fp"))
          .select(col("doc_id"), col("n_grams"), col("n_fp"),
            round(col("n_fp").cast("double") / col("n_grams"), 4)
              .as("density"))
          .orderBy("doc_id")
      },
      Some(
        """WITH tk AS (
          |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
          |), gr AS (
          |  SELECT doc_id, CAST(i AS INT) AS pos,
          |    md5(array_to_string(toks[i + 1 : i + 5], ' ')) AS h,
          |    CAST(len(toks) - 4 AS INT) AS n_grams
          |  FROM (SELECT doc_id, toks,
          |          unnest(range(0, CAST(len(toks) - 4 AS INT))) AS i
          |        FROM tk WHERE len(toks) >= 5)
          |), wm AS (
          |  SELECT doc_id, pos, n_grams,
          |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
          |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
          |  FROM gr)
          |SELECT doc_id, CAST(max(n_grams) AS INT) AS n_grams,
          |  CAST(count(DISTINCT fp) AS INT) AS n_fp,
          |  round(CAST(count(DISTINCT fp) AS DOUBLE) / max(n_grams), 4)
          |    AS density
          |FROM wm WHERE pos <= n_grams - 4
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ----- heavy hitters, sketch-pruned: tokens holding >= 1% of all
    // occurrences. Stage 1 is Spark's Misra-Gries `freqItems` sketch
    // (one pass, fixed memory, SUPERSET guarantee — may admit false
    // positives, never drops a true heavy hitter), stage 2 an exact
    // count of only the surviving candidates. The emitted rows are
    // therefore exact and engine-independent even though a sketch sits
    // in the plan — the sketch only PRUNES, it never decides. This is
    // the shape that scales: at 100 TB the candidate set stays O(1/s)
    // (~100 tokens) regardless of vocabulary size, so the verify join
    // broadcasts.
    Q("t_heavy_hitters",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("tok"))
        // sketch support HALF the report threshold: Misra-Gries only
        // guarantees retention for frequency STRICTLY above the support,
        // so a token at exactly 1% must be safely inside the guarantee,
        // not on its boundary (candidate set stays O(1/0.005) = bounded)
        val cand = toks.stat.freqItems(Seq("tok"), 0.005)
          .select(explode(col("tok_freqItems")).as("tok"))
        val counts = toks.join(broadcast(cand), Seq("tok"))
          .groupBy("tok").agg(count(lit(1)).as("n"))
        val total = toks.agg(count(lit(1)).as("tot"))
        counts.crossJoin(broadcast(total))
          .filter(col("n") * 100 >= col("tot"))
          .select(col("tok"), col("n"),
            round(col("n").cast("double") / col("tot"), 6).as("share"))
          .orderBy(col("n").desc, col("tok"))
      },
      Some(
        """WITH toks AS (
          |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
          |), counts AS (
          |  SELECT tok, count(*) AS n FROM toks GROUP BY tok
          |), total AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM counts)
          |SELECT tok, CAST(n AS BIGINT) AS n,
          |  round(CAST(n AS DOUBLE) / tot, 6) AS share
          |FROM counts CROSS JOIN total
          |WHERE n * 100 >= tot
          |ORDER BY n DESC, tok""".stripMargin)),

    // ----- asymmetric n-gram CONTAINMENT (|A∩B| / |A|) — the
    // contamination measure proper: a short eval document fully inside
    // a long training document scores ~1.0 here but low Jaccard (the
    // union is dominated by the long doc), which is why decontamination
    // pipelines test containment, not symmetric similarity. Inverted-
    // index form: distinct 3-gram hashes, probes equi-join the gram
    // postings (bucketed by gram — never all-pairs), count common grams
    // per pair, keep pairs covering >= 20% of the probe's grams via an
    // INTEGER cross-multiplied threshold (no float ratio decides
    // membership).
    Q("t_containment",
      (s, d) => {
        val gr = Tables.documents(s, d)
          .withColumn("toks", split(col("text"), " "))
          .filter(size(col("toks")) >= 3)
          .select(col("doc_id"),
            explode(array_distinct(transform(
              sequence(lit(0), size(col("toks")) - 3),
              i => md5(concat_ws(" ", slice(col("toks"), i + 1, lit(3)))))))
              .as("g"))
        val sz = gr.groupBy("doc_id").agg(count(lit(1)).as("ng"))
        val probes = gr.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id").as("qid"), col("g"))
        probes
          .join(gr.select(col("doc_id").as("did"), col("g")), Seq("g"))
          .filter(col("did") =!= col("qid"))
          .groupBy("qid", "did").agg(count(lit(1)).as("common"))
          .join(sz.select(col("doc_id").as("qid"), col("ng")), Seq("qid"))
          .filter(col("common") * 5 >= col("ng"))
          .select(col("qid"), col("did"),
            round(col("common").cast("double") / col("ng"), 4)
              .as("containment"))
          .orderBy(col("qid"), desc("containment"), col("did"))
      },
      Some(
        """WITH tk AS (
          |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
          |), gr AS (
          |  SELECT DISTINCT doc_id,
          |    md5(array_to_string(toks[i + 1 : i + 3], ' ')) AS g
          |  FROM (SELECT doc_id, toks,
          |          unnest(range(0, CAST(len(toks) - 2 AS INT))) AS i
          |        FROM tk WHERE len(toks) >= 3)
          |), sz AS (SELECT doc_id, count(*) AS ng FROM gr GROUP BY doc_id),
          |probes AS (SELECT doc_id AS qid, g FROM gr WHERE doc_id % 10 = 0),
          |ov AS (
          |  SELECT p.qid, c.doc_id AS did, count(*) AS common
          |  FROM probes p JOIN gr c ON c.g = p.g AND c.doc_id <> p.qid
          |  GROUP BY 1, 2)
          |SELECT qid, did,
          |  round(CAST(common AS DOUBLE) / q.ng, 4) AS containment
          |FROM ov JOIN sz q ON q.doc_id = qid
          |WHERE common * 5 >= q.ng
          |ORDER BY qid, containment DESC, did""".stripMargin)),

    // ----- BPE merge induction (tokenizer TRAINING, not just token
    // counting): 3 rounds of count-adjacent-pairs → take the most
    // frequent pair → merge it in every word, the Sennrich 2016
    // subword-units loop. The scale trick is classic: train on the
    // DISTINCT word-frequency table (one corpus scan, then corpus size
    // never matters again), pair counts are map-side-combinable
    // weighted sums, the winning pair rides back in as a broadcast
    // 1-row frame (no driver round-trip), and the merge itself is a
    // map-only greedy left-to-right fold (`aggregate` HOF — non-
    // overlapping occurrences, exactly HuggingFace/sentencepiece
    // semantics). `localCheckpoint` per round keeps the unrolled
    // lineage flat (the Graph.scala pagerank discipline). Ties on pair
    // count break (left, right) lexicographically on both engines.
    // The DuckDB oracle applies each merge as replace-until-fixpoint
    // over space-joined symbols, proven equivalent to the greedy fold.
    Q("t_bpe_merges",
      (s, d) => {
        val (tops, _) = bpeRounds(s, d)
        tops.zipWithIndex.map { case (t, i) =>
            t.select(lit(i + 1).as("step"), col("l"), col("r"), col("c"))
          }.reduce(_ unionAll _)
          .select(col("step"), col("l").as("left_sym"),
            col("r").as("right_sym"), col("c").as("pair_count"))
          .orderBy("step")
      },
      Some(bpeOracleChain + """
        |SELECT * FROM (
        |  SELECT 1 AS step, l AS left_sym, r AS right_sym,
        |         c AS pair_count FROM m1
        |  UNION ALL SELECT 2, l, r, c FROM m2
        |  UNION ALL SELECT 3, l, r, c FROM m3) ORDER BY step""".stripMargin)),

    // ----- the learned merges applied: top-20 vocabulary words with
    // their post-merge subword segmentation — the tokenizer's OUTPUT
    // side (what a trained BPE vocab does to text). Same machinery as
    // t_bpe_merges with the final merge actually executed; the oracle
    // extends the fixpoint chain one round and joins space-separated.
    Q("t_bpe_segment",
      (s, d) => {
        val (_, words) = bpeRounds(s, d)
        words.select(col("w"), col("cnt"),
            concat_ws(" ", col("syms")).as("segmented"))
          .orderBy(desc("cnt"), col("w"))
          .limit(20)
      },
      Some(bpeOracleChain + bpeMergeCte("s2", "m3", "s3") + """
        |SELECT w, cnt,
        |  array_to_string(string_split(trim(s, '|'), '||'), ' ')
        |    AS segmented
        |FROM s3 ORDER BY cnt DESC, w LIMIT 20""".stripMargin)),

    // ----- bigram-LM quality score: each document's mean adjacent-pair
    // log-probability under the corpus's own add-one-smoothed bigram
    // model, ln((c(x,y)+1)/(c(x)+V)) — the t_unigram_logprob signal
    // with first-order context (catches locally-incoherent token salad
    // that unigram frequency alone scores as fluent; the CCNet/KenLM
    // filter family, one order up). Scale shape: bigram and unigram
    // counts are distributed map-side-combined aggregates; the vocab
    // size rides in as a broadcast 1-row aggregate; the per-doc
    // rollup shuffles once on doc_id. Per-pair smoothed probabilities
    // need no model table beyond the corpus counts themselves —
    // nothing here is driver-side.
    Q("t_bigram_logprob",
      (s, d) => {
        val tk = Tables.documents(s, d)
          .withColumn("toks", split(col("text"), " "))
        val pairs = tk.filter(size(col("toks")) >= 2)
          .select(col("doc_id"), explode(transform(
            sequence(lit(1), size(col("toks")) - 1),
            i => struct(element_at(col("toks"), i).as("x"),
              element_at(col("toks"), i + 1).as("y")))).as("p"))
          .select(col("doc_id"), col("p.x").as("x"), col("p.y").as("y"))
        val bi = pairs.groupBy("x", "y").agg(count(lit(1)).as("cxy"))
        val uni = tk.select(explode(col("toks")).as("x"))
          .groupBy("x").agg(count(lit(1)).as("cx"))
        val vocab = uni.agg(count(lit(1)).as("v"))
        pairs.join(bi, Seq("x", "y")).join(uni, Seq("x"))
          .join(broadcast(vocab))
          .withColumn("lp",
            log((col("cxy") + lit(1.0)) / (col("cx") + col("v"))))
          .groupBy("doc_id")
          .agg(count(lit(1)).cast("int").as("n_bigrams"),
            round(avg(col("lp")), 4).as("avg_logprob"),
            round(min(col("lp")), 4).as("min_logprob"))
          .orderBy("doc_id")
      },
      Some(
        """WITH tk AS (
          |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
          |), pairs AS (
          |  SELECT doc_id,
          |         unnest(list_transform(range(1, len(toks)),
          |           i -> toks[i])) AS x,
          |         unnest(list_transform(range(1, len(toks)),
          |           i -> toks[i+1])) AS y
          |  FROM tk WHERE len(toks) >= 2
          |), bi AS (
          |  SELECT x, y, count(*) AS cxy FROM pairs GROUP BY x, y
          |), uni AS (
          |  SELECT x, count(*) AS cx FROM (
          |    SELECT unnest(toks) AS x FROM tk) GROUP BY x
          |), vocab AS (SELECT count(*) AS v FROM uni)
          |SELECT doc_id, CAST(count(*) AS INT) AS n_bigrams,
          |  round(avg(ln((cxy + 1.0) / (cx + v))), 4) AS avg_logprob,
          |  round(min(ln((cxy + 1.0) / (cx + v))), 4) AS min_logprob
          |FROM pairs JOIN bi USING (x, y) JOIN uni USING (x)
          |           CROSS JOIN vocab
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ----- RAKE keyword scoring (Rose et al. 2010): split each
    // document into candidate phrases at stopword boundaries, then
    // score every word by degree/frequency — degree = Σ length of the
    // phrases it appears in (words that ride inside long multi-word
    // phrases beat equally-frequent words that stand alone). The
    // whole pass is map-shaped: the phrase id is a running stopword
    // count inside a per-doc window (docs are the partition key — no
    // global window anywhere), phrase groups aggregate once on
    // (doc, phrase), and the word rollup is a map-side-combined count/
    // sum. Score = single integer division rounded 4dp — no float
    // accumulation to diverge cross-engine.
    Q("t_rake_keywords",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val stop = Seq("a", "the")
        val tok = Tables.documents(s, d)
          .select(col("doc_id"),
            posexplode(split(col("text"), " ")).as(Seq("pos", "t")))
          .withColumn("is_stop",
            when(col("t").isInCollection(stop), 1).otherwise(0))
        val w = Window.partitionBy("doc_id").orderBy("pos")
        val phr = tok
          .withColumn("pid", sum(col("is_stop")).over(w))
          .filter(col("is_stop") === 0)
          .groupBy("doc_id", "pid")
          .agg(collect_list(col("t")).as("ws"),
            count(lit(1)).as("len"))
        phr.select(explode(col("ws")).as("t"), col("len"))
          .groupBy("t")
          .agg(count(lit(1)).as("freq"),
            sum(col("len")).as("degree"))
          .select(col("t").as("word"), col("freq"), col("degree"),
            round(col("degree").cast("double") / col("freq"), 4)
              .as("rake_score"))
          .orderBy(desc("rake_score"), col("word"))
      },
      Some(
        """WITH raw AS (
          |  SELECT doc_id,
          |         unnest(range(1, len(toks) + 1)) AS pos,
          |         unnest(toks) AS t
          |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
          |        FROM documents)
          |), tok AS (
          |  SELECT doc_id, pos, t,
          |         CASE WHEN t IN ('a', 'the') THEN 1 ELSE 0 END
          |           AS is_stop
          |  FROM raw
          |), marked AS (
          |  SELECT doc_id, t, is_stop,
          |         sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos)
          |           AS pid
          |  FROM tok
          |), phr AS (
          |  SELECT doc_id, pid, list(t) AS ws, count(*) AS len
          |  FROM marked WHERE is_stop = 0 GROUP BY doc_id, pid
          |), words AS (
          |  SELECT unnest(ws) AS t, len FROM phr)
          |SELECT t AS word, CAST(count(*) AS BIGINT) AS freq,
          |  CAST(sum(len) AS BIGINT) AS degree,
          |  round(sum(len) * 1.0 / count(*), 4) AS rake_score
          |FROM words GROUP BY t
          |ORDER BY rake_score DESC, word""".stripMargin)),

    // ----- feature hashing (Weinberger et al. 2009, the "hashing
    // trick"): map every token to one of 64 buckets via md5 — NO vocab
    // table, no broadcast dictionary, no OOV handling — plus the
    // signed variant (± from a second hash bit) whose collisions
    // cancel in expectation instead of biasing upward. This is the
    // vocab-free featurizer for 100-TB corpora: a vocabulary join
    // needs a dictionary build + broadcast that grows with the corpus;
    // the hash needs nothing — the whole featurization is one map pass
    // and one (doc, bucket)-keyed map-side-combinable aggregate.
    // Determinism: bucket and sign derive from md5 hex both engines
    // compute identically; outputs are pure integer counts.
    Q("t_feature_hash",
      (s, d) => {
        val tok = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
          .withColumn("bucket",
            conv(substring(md5(col("t")), 1, 4), 16, 10)
              .cast("long") % 64)
          .withColumn("sgn",
            when(ascii(substring(md5(col("t")), 5, 1)) % 2 === 0, 1L)
              .otherwise(-1L))
        tok.groupBy("doc_id", "bucket")
          .agg(count(lit(1)).as("n"), sum(col("sgn")).as("signed"))
          .orderBy("doc_id", "bucket")
      },
      Some(
        """WITH tok AS (
          |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
          |  FROM documents
          |), h AS (
          |  SELECT doc_id,
          |    CAST('0x' || substr(md5(t), 1, 4) AS BIGINT) % 64 AS bucket,
          |    CASE WHEN ascii(substr(md5(t), 5, 1)) % 2 = 0
          |         THEN 1 ELSE -1 END AS sgn
          |  FROM tok)
          |SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(sgn) AS BIGINT) AS signed
          |FROM h GROUP BY doc_id, bucket
          |ORDER BY doc_id, bucket""".stripMargin)),

    // ----- Zipf-law fit (Zipf 1949): the corpus-health scalar behind
    // t_vocab's rank table — natural text follows freq ∝ rank^(−s)
    // with s ≈ 1; a corpus whose fitted exponent drifts far from the
    // reference corpus's signals template spam (s ≫ 1: a few strings
    // dominate) or shredded text (s ≪ 1: near-uniform tokens). Fit =
    // OLS on (ln rank, ln freq) over the TOP-100 tokens — rank via
    // row_number over an input already bounded to 100 rows by
    // TakeOrdered (the g2 discipline: the single-partition window sees
    // a constant-size input; the token count below it is one keyed
    // map-side-combinable shuffle whatever the corpus size).
    // Cross-engine exactness: each ln is floor-scaled to e4 integers
    // (floor(x·1e4 + 0.5) — the one rounding both engines share), so
    // every OLS sum (Σx, Σy, Σxy, Σx²) is exact BIGINT arithmetic;
    // slope and r² emerge from single IEEE divisions of those
    // integers. The transcendental only ever feeds the floor-scale —
    // the m_entropy convention.
    Q("t_zipf_fit",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val counts = Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("n"))
        val top = counts.orderBy(col("n").desc, col("tok")).limit(100)
        val ord = Window.orderBy(col("n").desc, col("tok"))
        val pts = top
          .withColumn("rank", row_number().over(ord).cast("long"))
          .select(
            floor(log(col("rank").cast("double")) * 10000.0 + 0.5)
              .cast("long").as("x"),
            floor(log(col("n").cast("double")) * 10000.0 + 0.5)
              .cast("long").as("y"))
        pts.agg(
          count(lit(1)).as("k"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
          .select(col("k"),
            Moments.comoment(col("k"), col("sx"), col("sy"), col("sxy"))
              .cast("double").as("num"),
            Moments.comoment(col("k"), col("sx"), col("sx"), col("sxx"))
              .cast("double").as("denx"),
            Moments.comoment(col("k"), col("sy"), col("sy"), col("syy"))
              .cast("double").as("deny"))
          // num/denx/deny are exact co-moments ~1e13 — exact in double
          // too (< 2^53); r² as (num/denx)·(num/deny) keeps every
          // intermediate inside those ranges
          .select(col("k"), (col("num") / col("denx")).as("slope"),
            ((col("num") / col("denx")) * (col("num") / col("deny")))
              .as("r2"))
      },
      Some(
        """WITH counts AS (
          |  SELECT tok, CAST(count(*) AS BIGINT) AS n
          |  FROM (SELECT unnest(string_split(text, ' ')) AS tok
          |        FROM documents)
          |  GROUP BY tok
          |), top AS (
          |  SELECT tok, n FROM counts ORDER BY n DESC, tok LIMIT 100
          |), pts AS (
          |  SELECT
          |    CAST(floor(ln(CAST(row_number()
          |      OVER (ORDER BY n DESC, tok) AS DOUBLE)) * 10000.0 + 0.5)
          |      AS BIGINT) AS x,
          |    CAST(floor(ln(CAST(n AS DOUBLE)) * 10000.0 + 0.5)
          |      AS BIGINT) AS y
          |  FROM top
          |), agg AS (
          |  SELECT CAST(count(*) AS BIGINT) AS k,
          |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
          |    CAST(sum(x * y) AS BIGINT) AS sxy,
          |    CAST(sum(x * x) AS BIGINT) AS sxx,
          |    CAST(sum(y * y) AS BIGINT) AS syy
          |  FROM pts
          |), fin AS (
          |  SELECT k,
          |    CAST(k * sxy - sx * sy AS BIGINT) AS num,
          |    CAST(k * sxx - sx * sx AS BIGINT) AS denx,
          |    CAST(k * syy - sy * sy AS BIGINT) AS deny
          |  FROM agg
          |)
          |SELECT k,
          |  CAST(num AS DOUBLE) / denx AS slope,
          |  (CAST(num AS DOUBLE) / denx) *
          |    (CAST(num AS DOUBLE) / deny) AS r2
          |FROM fin""".stripMargin)),

    // ----- The corpus-curation funnel: the whole pre-training
    // data-prep pipeline as ONE query — raw → length gate → language
    // gate → token-shape quality gate → exact dedup → bag-of-words
    // near-dup — reporting the surviving document count after each
    // cumulative stage (the "data funnel" chart every corpus paper
    // prints; C4/RefinedWeb's pipeline reduced to its count
    // signature). Stage rules are the engine's own primitives in
    // miniature: the quality gate compares mean token length in CROSS-
    // MULTIPLIED integers (4.0 ≤ alpha/toks ≤ 4.8 as 40·toks ≤
    // 10·alpha ≤ 48·toks — no float division; the band brackets the
    // fixture's token-length median so the gate discriminates at every
    // SF), exact dedup is first-wins min
    // doc_id per md5(text) (the l1 rule), and near-dup collapses
    // REORDERED duplicates by hashing the SORTED token multiset —
    // the cheapest member of the minhash family, catching the
    // shuffled-copy case exact dedup misses. Scale: stages 1–3 are
    // map-only predicates (stacked into one scan pass by Catalyst);
    // each dedup is one md5-keyed min-aggregate + semi join — the
    // m_exact_dedup shape twice. The funnel emits 6 rows whatever the
    // corpus size; every count is an exact integer.
    Q("t_curation_funnel",
      (s, d) => {
        val raw = Tables.documents(s, d)
        val lenOk = raw.filter(col("n_chars").between(50, 5000))
        val langOk = lenOk.filter(col("lang") === "en")
        val toks = langOk
          .withColumn("n_toks",
            size(split(col("text"), " ")).cast("long"))
          .withColumn("alpha",
            length(regexp_replace(col("text"), " ", "")).cast("long"))
        val qualOk = toks.filter(col("n_toks") >= 10 &&
          col("alpha") * 10L >= lit(40L) * col("n_toks") &&
          col("alpha") * 10L <= lit(48L) * col("n_toks"))
        val exact = qualOk
          .withColumn("h", md5(col("text")))
          .withColumn("keep",
            min("doc_id").over(org.apache.spark.sql.expressions.Window
              .partitionBy("h")))
          .filter(col("doc_id") === col("keep"))
        val near = exact
          .withColumn("bow",
            md5(concat_ws(" ", array_sort(split(col("text"), " ")))))
          .withColumn("keep2",
            min("doc_id").over(org.apache.spark.sql.expressions.Window
              .partitionBy("bow")))
          .filter(col("doc_id") === col("keep2"))
        val stages = Seq(
          (1, "raw", raw), (2, "length", lenOk), (3, "lang", langOk),
          (4, "quality", qualOk), (5, "exact_dedup", exact),
          (6, "neardup_bow", near))
        stages.map { case (i, nm, df) =>
          df.agg(count(lit(1)).as("n_docs"))
            .select(lit(i).as("stage_no"), lit(nm).as("stage"),
              col("n_docs"))
        }.reduce(_ unionByName _).orderBy("stage_no")
      },
      Some(
        """WITH raw AS (
          |  SELECT doc_id, text, lang, n_chars FROM documents
          |), len_ok AS (
          |  SELECT * FROM raw WHERE n_chars BETWEEN 50 AND 5000
          |), lang_ok AS (
          |  SELECT * FROM len_ok WHERE lang = 'en'
          |), toks AS (
          |  SELECT *,
          |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
          |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS alpha
          |  FROM lang_ok
          |), qual_ok AS (
          |  SELECT * FROM toks
          |  WHERE n_toks >= 10 AND alpha * 10 >= 40 * n_toks
          |    AND alpha * 10 <= 48 * n_toks
          |), exact AS (
          |  SELECT * FROM (
          |    SELECT *, min(doc_id) OVER (PARTITION BY md5(text))
          |      AS keep FROM qual_ok)
          |  WHERE doc_id = keep
          |), near AS (
          |  SELECT * FROM (
          |    SELECT *, min(doc_id) OVER (PARTITION BY
          |      md5(array_to_string(list_sort(string_split(text, ' ')),
          |          ' '))) AS keep2 FROM exact)
          |  WHERE doc_id = keep2
          |)
          |SELECT * FROM (
          |  SELECT 1 AS stage_no, 'raw' AS stage,
          |    CAST(count(*) AS BIGINT) AS n_docs FROM raw
          |  UNION ALL SELECT 2, 'length', count(*) FROM len_ok
          |  UNION ALL SELECT 3, 'lang', count(*) FROM lang_ok
          |  UNION ALL SELECT 4, 'quality', count(*) FROM qual_ok
          |  UNION ALL SELECT 5, 'exact_dedup', count(*) FROM exact
          |  UNION ALL SELECT 6, 'neardup_bow', count(*) FROM near
          |) ORDER BY stage_no""".stripMargin)),

    // ----- TextRank keywords (Mihalcea & Tarau, EMNLP 2004) — graph-
    // based keyword extraction as operator COMPOSITION: build the
    // token co-occurrence graph (adjacent-token pairs per doc — the
    // t_pmi windowing), thin it to pairs seen ≥ 2 times (the paper's
    // frequency filter, and the lever that keeps |E| sublinear in the
    // corpus), symmetrize, and run the k3 damped-PageRank loop over
    // it — 4 unrolled rounds, 6dp re-sync per round so both engines'
    // float sums re-synchronize, one shuffle pair per round over an
    // edge table bounded by vocabulary², not corpus size. The scores
    // that emerge rank corpus-central vocabulary; stopword-class
    // tokens ('the', 'a') rank high on this synthetic fixture — the
    // honest unfiltered reading (RAKE's stopword machinery is
    // t_rake_keywords' job). Top-20 by rank, token tie-break.
    Q("t_textrank",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("pos")
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), posexplode(split(col("text"), " ")))
          .filter(length(col("col")) > 0)
          .select(col("doc_id"), col("pos"), col("col").as("tok"))
        val pairs = toks
          .withColumn("nxt", lead(col("tok"), 1).over(w))
          .filter(col("nxt").isNotNull && col("tok") =!= col("nxt"))
          .select(least(col("tok"), col("nxt")).as("a"),
            greatest(col("tok"), col("nxt")).as("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") >= 2L)
        val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
          .unionByName(pairs.select(col("b").as("src"),
            col("a").as("dst")))
          .stageCkpt()
        // deg/verts staged ONCE (each is referenced in all 4 rounds —
        // unstaged they re-aggregated from edges per reference). The
        // rounds stay per-round-checkpointed: a fully lazy 4-round
        // fusion was probed this round and REGRESSED (~+30%
        // calibration-normalized — the 4-deep join chain replans and
        // runs as one long sequential stage chain), unlike k3 whose
        // fused rounds stay broadcast-shaped.
        val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
          .stageCkpt()
        val verts = edges.select(col("src").as("v")).distinct()
          .stageCkpt()
        var ranks = verts.withColumn("rank", lit(1.0))
        for (_ <- 1 to 4) {
          val contribs = edges.join(deg, Seq("src"))
            .join(ranks.select(col("v").as("src"), col("rank")),
              Seq("src"))
            .groupBy(col("dst"))
            .agg(sum(col("rank") / col("deg")).as("m"))
          ranks = verts
            .join(contribs.select(col("dst").as("v"), col("m")),
              Seq("v"), "left")
            .select(col("v"),
              round(lit(0.15) + lit(0.85) * coalesce(col("m"),
                lit(0.0)), 6).as("rank"))
            .stageCkpt()
        }
        ranks.select(col("v").as("token"), col("rank"))
          .orderBy(desc("rank"), col("token"))
          .limit(20)
      },
      Some(textrankOracle(4))),

    // ----- Trained linear classifier (the fastText-style quality /
    // language filter of the LLaMA-class curation pipelines, e.g.
    // Joulin et al. 2016): full-batch logistic regression by gradient
    // descent, trained DISTRIBUTED — each iteration is one map-only
    // scoring pass over the staged feature table plus one
    // map-side-combinable 5-slot avg aggregate, and the 1-row weight
    // vector rides a broadcast cross join, so an iteration moves
    // O(dims) bytes through the driver regardless of corpus size.
    // Features are surface statistics (length, 'e' ratio, 'th' bigram
    // rate, space ratio) predicting lang='en'; classifier quality is
    // irrelevant here — what is pinned is the exact 3-iteration GD
    // trajectory, replicated by the oracle as an unrolled
    // p/gradient/weight CTE chain. Each weight frame is staged: it has
    // two consumers (next iteration's scoring pass + its own update)
    // and the cut keeps the plan linear in iterations instead of
    // doubling per round.
    Q("t_train_classifier",
      (s, d) => {
        val len = length(col("text"))
        val f = Tables.documents(s, d).select(
          col("doc_id"),
          lit(1.0).as("x0"),
          (len / 1000.0).as("x1"),
          ((len - length(expr("replace(text, 'e', '')"))) /
            (len + 1.0)).as("x2"),
          ((len - length(expr("replace(text, 'th', '')"))) /
            (lit(2.0) * (len + 1.0))).as("x3"),
          ((len - length(expr("replace(text, ' ', '')"))) /
            (len + 1.0)).as("x4"),
          when(col("lang") === "en", 1).otherwise(0).as("y"))
          .stageCkpt()
        val dims = 0 to 4
        def margin(w: org.apache.spark.sql.DataFrame) =
          f.crossJoin(broadcast(w)).withColumn("p",
            lit(1.0) / (lit(1.0) + exp(-dims
              .map(j => col(s"w$j") * col(s"x$j"))
              .reduce(_ + _))))
        var w = s.range(1)
          .select(dims.map(j => lit(0.0).as(s"w$j")): _*)
        for (_ <- 1 to clfIters) {
          val g = margin(w).agg(
            avg((col("p") - col("y")) * col("x0")).as("g0"),
            dims.tail.map(j =>
              avg((col("p") - col("y")) * col(s"x$j")).as(s"g$j")): _*)
          w = w.crossJoin(g)
            .select(dims.map(j =>
              (col(s"w$j") - col(s"g$j")).as(s"w$j")): _*)
            .stageCkpt()
        }
        // pred derives from the ROUNDED score, not raw p: if score
        // hash-matches across engines, pred cannot diverge — raw-p
        // thresholding would add an independent unquantized 0.5
        // boundary (self-review r12)
        margin(w)
          .withColumn("score", round(col("p"), 4) + lit(0.0))
          .select(col("doc_id"), col("score"),
            when(col("score") >= 0.5, 1).otherwise(0).as("pred"),
            col("y"))
          .orderBy("doc_id")
      },
      Some {
        val dims = 0 to 4
        def dot(w: String) =
          dims.map(j => s"$w.w$j * f.x$j").mkString(" + ")
        val iters = (1 to clfIters).map { i =>
          val (pw, pc, gc, wc) = (s"w${i - 1}", s"p$i", s"g$i", s"w$i")
          s"""$pc AS (
             |  SELECT f.*, 1.0 / (1.0 + exp(-(${dot("w")}))) AS p
             |  FROM f, $pw w
             |), $gc AS (
             |  SELECT ${dims.map(j =>
                  s"avg((p - y) * x$j) AS g$j").mkString(", ")}
             |  FROM $pc
             |), $wc AS MATERIALIZED (
             |  SELECT ${dims.map(j =>
                  s"w.w$j - g.g$j AS w$j").mkString(", ")}
             |  FROM $pw w, $gc g
             |)""".stripMargin
        }.mkString(", ")
        s"""WITH f AS MATERIALIZED (
           |  SELECT doc_id,
           |    1.0 AS x0,
           |    length(text) / 1000.0 AS x1,
           |    (length(text) - length(replace(text, 'e', '')))
           |      / (length(text) + 1.0) AS x2,
           |    (length(text) - length(replace(text, 'th', '')))
           |      / (2.0 * (length(text) + 1.0)) AS x3,
           |    (length(text) - length(replace(text, ' ', '')))
           |      / (length(text) + 1.0) AS x4,
           |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
           |  FROM documents
           |), w0 AS (
           |  SELECT ${dims.map(j => s"0.0 AS w$j").mkString(", ")}
           |), $iters,
           |sc AS (
           |  SELECT f.doc_id, 1.0 / (1.0 + exp(-(${dot("w")}))) AS p,
           |    f.y
           |  FROM f, w$clfIters w
           |)
           |SELECT doc_id, round(p, 4) + 0.0 AS score,
           |  CASE WHEN round(p, 4) + 0.0 >= 0.5 THEN 1 ELSE 0 END
           |    AS pred, y
           |FROM sc ORDER BY doc_id""".stripMargin
      }),

    // ----- corpus-order n-gram novelty: per document, the fraction of
    // its distinct 3-grams whose FIRST corpus occurrence (min doc_id)
    // is this document — the "how much genuinely new text does this
    // doc add" curation signal (low novelty = boilerplate / near-copy
    // tail, the cheap pre-filter ahead of MinHash). Where
    // t_containment scores PAIRS, this is one corpus-global pass: one
    // balanced groupBy on the gram hash for first occurrences, one
    // gram-keyed join back, one per-doc rollup — every shuffle keyed,
    // both aggregates map-side combinable, and the keys are md5
    // digests (16 bytes) instead of raw trigram text. Docs under 3
    // tokens carry no grams and drop on both engines.
    Q("t_ngram_novelty",
      (s, d) => {
        val g = Tables.documents(s, d)
          .withColumn("toks", split(col("text"), " "))
          .filter(size(col("toks")) >= 3)
          .select(col("doc_id"),
            explode(array_distinct(
              transform(sequence(lit(1), size(col("toks")) - 2),
                i => md5(concat_ws(" ",
                  element_at(col("toks"), i),
                  element_at(col("toks"), i + 1),
                  element_at(col("toks"), i + 2)))))).as("gram"))
          // staged: feeds both the first-occurrence aggregate and the
          // join-back probe side
          .stageCkpt()
        val first = g.groupBy("gram").agg(min("doc_id").as("first_doc"))
        g.join(first, "gram")
          .groupBy("doc_id")
          .agg(
            count(lit(1)).cast("long").as("n_grams"),
            sum(when(col("doc_id") === col("first_doc"), 1L)
              .otherwise(0L)).cast("long").as("n_novel"))
          .select(col("doc_id"), col("n_grams"), col("n_novel"),
            (round(col("n_novel").cast("double") / col("n_grams"), 4)
              + lit(0.0)).as("novelty"))
          .orderBy("doc_id")
      },
      Some(
        """WITH tk AS (
          |  SELECT doc_id, string_split(text, ' ') AS toks
          |  FROM documents
          |), g AS MATERIALIZED (
          |  SELECT doc_id,
          |    unnest(list_distinct(list_transform(range(1, len(toks) - 1),
          |      i -> md5(toks[i] || ' ' || toks[i+1] || ' ' ||
          |        toks[i+2])))) AS gram
          |  FROM tk WHERE len(toks) >= 3
          |), f AS (
          |  SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram
          |)
          |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
          |  CAST(sum(CASE WHEN g.doc_id = f.first_doc THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_novel,
          |  round(CAST(sum(CASE WHEN g.doc_id = f.first_doc THEN 1
          |      ELSE 0 END) AS DOUBLE) / count(*), 4) + 0.0 AS novelty
          |FROM g JOIN f USING (gram)
          |GROUP BY g.doc_id ORDER BY doc_id""".stripMargin)),
  )

  /** Unrolled TextRank oracle — the k3 pagerank CTE chain over the
    * co-occurrence graph. Edge/degree CTEs MATERIALIZED (each round
    * references them; default inlining re-derives the corpus split
    * per round). */
  private def textrankOracle(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT verts.v, round(0.15 + 0.85 * coalesce(c.m, 0), 6)
         |    AS rank
         |  FROM verts LEFT JOIN (
         |    SELECT e.dst AS v, sum(r.rank / d.deg) AS m
         |    FROM edges e JOIN deg d USING (src)
         |                 JOIN r${i - 1} r ON r.v = e.src
         |    GROUP BY e.dst) c USING (v))""".stripMargin
    }.mkString(",\n")
    s"""WITH toks AS (
       |  SELECT doc_id, i AS pos, tok
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
       |          generate_subscripts(string_split(text, ' '), 1) AS i
       |        FROM documents)
       |  WHERE length(tok) > 0
       |), adj AS (
       |  SELECT tok, lead(tok, 1) OVER (PARTITION BY doc_id
       |    ORDER BY pos) AS nxt
       |  FROM toks
       |), pairs AS (
       |  SELECT least(tok, nxt) AS a, greatest(tok, nxt) AS b,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM adj WHERE nxt IS NOT NULL AND tok <> nxt
       |  GROUP BY 1, 2 HAVING count(*) >= 2
       |), edges AS MATERIALIZED (
       |  SELECT a AS src, b AS dst FROM pairs
       |  UNION ALL SELECT b, a FROM pairs
       |), deg AS MATERIALIZED (
       |  SELECT src, count(*) AS deg FROM edges GROUP BY src
       |), verts AS MATERIALIZED (
       |  SELECT DISTINCT src AS v FROM edges
       |), r0 AS (SELECT v, 1.0 AS rank FROM verts),
       |$steps
       |SELECT v AS token, rank FROM r$rounds
       |ORDER BY rank DESC, v LIMIT 20""".stripMargin
  }
}
