package graft.ops

import graft.{Sessions, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Spark-4 SQL-surface wave: the session-level SQL features a reference
  * user migrating to this engine would reach for that no prior board
  * query exercises — SQL UDFs (CREATE FUNCTION ... RETURN), session
  * variables (DECLARE / SET VAR), dynamic SQL (EXECUTE IMMEDIATE ...
  * USING), parameterized identifiers (IDENTIFIER(:tbl) with the
  * `sql(text, args)` API), string collations (UTF8_LCASE), and ordered
  * string aggregation (listagg WITHIN GROUP).
  *
  * All six are thin declarative layers over plans Catalyst already
  * optimizes — a SQL UDF inlines into the expression tree (it is NOT a
  * black-box function call: the grouped aggregate below still gets
  * whole-stage codegen and partial aggregation), EXECUTE IMMEDIATE
  * re-parses into the same plan the inlined text would get, and a
  * collated group-by hashes the collation key exactly like any other
  * grouping expression. Scale cost is therefore identical to the
  * equivalent plain query; the value is API fidelity.
  *
  * Cross-engine exactness follows the SURVEY §5 conventions: money/value
  * sums via DECIMAL(18,2)→DOUBLE, thresholds built from exact doubles
  * (max/4 — IEEE division by a power of two is exact), bucket edges via
  * floor (never round), integer counts.
  */
object Sql4 {

  private def eventsView(s: SparkSession, d: String): Unit =
    Tables.events(s, d).createOrReplaceTempView("events")

  val all: Seq[Q] = Seq(

    // ----- SQL UDFs, nested: g_blabel calls g_bucket; both inline into
    // the aggregate's expression tree (EXPLAIN shows floor(value/50)
    // directly under the HashAggregate — zero call overhead, codegen
    // intact, partial aggregation preserved). The bucket edge uses
    // floor of an IEEE-exact division; a value landing exactly on an
    // edge (multiples of 50 exist in the fixture) divides exactly in
    // both engines, so the label can never flip.
    Q("m_sql_udf",
      (s, d) => {
        eventsView(s, d)
        s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION g_bucket(v DOUBLE)
                |RETURNS INT RETURN CAST(floor(v / 50.0D) AS INT)""".stripMargin)
        s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION g_blabel(v DOUBLE)
                |RETURNS STRING
                |RETURN concat('b', CAST(g_bucket(v) AS STRING))""".stripMargin)
        s.sql("""SELECT g_blabel(value) AS bucket, count(*) AS n,
                |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                |    AS sum_value
                |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)
      },
      Some(
        """SELECT concat('b', CAST(CAST(floor(value / 50.0) AS INT)
          |    AS VARCHAR)) AS bucket,
          |  count(*) AS n,
          |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
          |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- SQL TABLE UDF: CREATE FUNCTION ... RETURNS TABLE — the
    // parameterized-view surface (one curated extraction reused across
    // a pipeline with different thresholds). The body inlines as a
    // subquery at each call site, so the outer aggregate plans exactly
    // as if the filter were written inline: pushed scan predicate,
    // partial aggregation, no lateral per-row evaluation.
    Q("m_sql_table_udf",
      (s, d) => {
        eventsView(s, d)
        s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION g_hot(th DOUBLE)
                |RETURNS TABLE (user_id BIGINT, event_type STRING,
                |               value DOUBLE)
                |RETURN SELECT user_id, event_type, value
                |       FROM events WHERE value >= th""".stripMargin)
        s.sql("""SELECT event_type, count(*) AS n,
                |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                |    AS sum_value
                |FROM g_hot(400.0D)
                |GROUP BY event_type ORDER BY event_type""".stripMargin)
      },
      Some(
        """SELECT event_type, count(*) AS n,
          |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
          |FROM events WHERE value >= 400.0
          |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ----- Session variable driving a filter: DECLARE + SET VAR from a
    // scalar subquery, then referenced like a column-free constant. The
    // threshold max(value)/4 is exact (max is order-independent;
    // division by 4 is an exponent shift), so the > comparison can
    // never straddle an ulp between engines. The variable is resolved
    // at plan time to a literal — the filter is pushed into the scan
    // exactly as a hand-written constant would be.
    Q("m_sql_variable",
      (s, d) => {
        eventsView(s, d)
        s.sql("DECLARE OR REPLACE VARIABLE g_thresh DOUBLE")
        s.sql("SET VAR g_thresh = (SELECT max(value) / 4 FROM events)")
        s.sql("""SELECT event_type, count(*) AS n
                |FROM events WHERE value > g_thresh
                |GROUP BY event_type ORDER BY event_type""".stripMargin)
      },
      Some(
        """SELECT event_type, count(*) AS n
          |FROM events
          |WHERE value > (SELECT max(value) / 4 FROM events)
          |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ----- Dynamic SQL: EXECUTE IMMEDIATE over a sql-string with NAMED
    // parameter markers bound by USING. The inner text re-parses and
    // re-optimizes into the same pushed-filter aggregate the literal
    // query gets; parameters are bound as literals (no injection
    // surface, no plan-cache keying on the string).
    Q("m_exec_immediate",
      (s, d) => {
        eventsView(s, d)
        s.sql(
          """EXECUTE IMMEDIATE
            |  'SELECT event_type, user_id % 10 AS cohort, count(*) AS n
            |   FROM events WHERE event_type = :t AND value >= :v
            |   GROUP BY event_type, user_id % 10
            |   ORDER BY cohort'
            |USING 'click' AS t, 100.0D AS v""".stripMargin)
      },
      Some(
        """SELECT event_type, user_id % 10 AS cohort, count(*) AS n
          |FROM events WHERE event_type = 'click' AND value >= 100.0
          |GROUP BY event_type, user_id % 10
          |ORDER BY cohort""".stripMargin)),

    // ----- IDENTIFIER clause + the parameterized `sql(text, args)` API:
    // the table name arrives as a bound parameter (the templated-ETL
    // pattern — one query text fanned across a table list at 100 TB),
    // resolved at analysis time so everything downstream (pruning,
    // pushdown, partial agg) is identical to the literal-name plan.
    Q("m_identifier",
      (s, d) => {
        Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
        s.sql(
          """SELECT l_returnflag AS flag, count(*) AS n,
            |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
            |    AS qty
            |FROM IDENTIFIER(:tbl) GROUP BY 1 ORDER BY 1""".stripMargin,
          Map("tbl" -> "lineitem"))
      },
      Some(
        """SELECT l_returnflag AS flag, count(*) AS n,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
          |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- Collated grouping: UTF8_LCASE merges case-variant keys in
    // the HASH AGGREGATE itself (the collation key is what's hashed and
    // shuffled — one keyed exchange, same shape as any group-by), not
    // via a lower() projection. The fixture has no case variance, so we
    // manufacture it deterministically (even event_ids upper-cased);
    // the emitted key is lower()ed because a case-insensitive group's
    // representative is whichever variant a partition saw first —
    // nondeterministic by contract.
    Q("m_collation",
      (s, d) => {
        val e = Tables.events(s, d).withColumn("mixed",
          when(col("event_id") % 2 === 0, upper(col("event_type")))
            .otherwise(col("event_type")))
        e.groupBy(expr("collate(mixed, 'UTF8_LCASE')").as("k"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double")
              .as("sum_value"))
          .select(lower(col("k")).cast("string").as("etype"),
            col("n"), col("sum_value"))
          .orderBy("etype")
      },
      Some(
        """SELECT lower(CASE WHEN event_id % 2 = 0 THEN upper(event_type)
          |    ELSE event_type END) AS etype,
          |  count(*) AS n,
          |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
          |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- try_* error-safe arithmetic under ANSI mode (the Spark-4
    // default): division by zero and out-of-range array access return
    // NULL through the try_ family where the plain operators now raise
    // — the bulk-pipeline posture (one bad row must not kill a 100-TB
    // job; the null count IS the data-quality signal). Index ZERO is
    // still an error even through try_element_at (invalid USAGE, not a
    // runtime out-of-range — the try_ family only absorbs the latter),
    // so the probe index is 1-based and pmod keeps it positive for any
    // sign of user_id (% would send a negative id back to the index-0
    // error this query exists to avoid). Exactness: the
    // dividend is floor()ed to an integral double and divisors are
    // 1/2, so every quotient is a multiple of 0.5 and the sum is
    // IEEE-exact in any order on both engines.
    Q("m_try_arith",
      (s, d) => {
        eventsView(s, d)
        s.sql(
          """SELECT user_id % 7 AS grp, count(*) AS n,
            |  count(try_divide(floor(value), user_id % 3)) AS n_div_ok,
            |  sum(try_divide(floor(value), user_id % 3)) AS sum_div,
            |  count(try_element_at(array('a', 'b'),
            |    CAST(pmod(user_id, 4) + 1 AS INT))) AS n_elem
            |FROM events GROUP BY user_id % 7 ORDER BY grp""".stripMargin)
      },
      Some(
        """SELECT user_id % 7 AS grp, count(*) AS n,
          |  count(CASE WHEN user_id % 3 <> 0
          |             THEN floor(value) / (user_id % 3) END) AS n_div_ok,
          |  sum(CASE WHEN user_id % 3 <> 0
          |           THEN floor(value) / (user_id % 3) END) AS sum_div,
          |  count(CASE WHEN ((user_id % 4 + 4) % 4) + 1 IN (1, 2) THEN 1 END)
          |    AS n_elem
          |FROM events GROUP BY user_id % 7 ORDER BY grp""".stripMargin)),

    // ----- SQL scripting (BEGIN/DECLARE/WHILE/SET, Spark 4): a
    // procedural loop whose body drives real distributed jobs — each
    // iteration is a full filter-count scan at a threshold computed
    // from the loop variable, accumulated into a session-scoped
    // variable; the script's value is its LAST statement's result.
    // The oracle shows what a production rewrite would fuse it into
    // (one conditional-aggregate scan instead of four) — the script
    // form is the API surface for migrations from stored-procedure
    // warehouses, not the recommended plan shape at 100 TB.
    Q("m_sql_script",
      (s, d) => {
        eventsView(s, d)
        // set/restore: the flag gates COMPOUND parsing only — the
        // returned frame is the script's final plain SELECT, so
        // restoring immediately after sql() is safe, and the flag must
        // not leak into every subsequent query in the shared session
        Sessions.withConf(s, "spark.sql.scripting.enabled" -> "true") {
          s.sql(
            """BEGIN
              |  DECLARE i INT DEFAULT 1;
              |  DECLARE total BIGINT DEFAULT 0;
              |  WHILE i <= 4 DO
              |    SET total = total +
              |      (SELECT count(*) FROM events WHERE value >= 100.0D * i);
              |    SET i = i + 1;
              |  END WHILE;
              |  SELECT total AS cum_hot, i - 1 AS steps;
              |END""".stripMargin)
        }
      },
      Some(
        """SELECT CAST(count(CASE WHEN value >= 100.0 THEN 1 END)
          |     + count(CASE WHEN value >= 200.0 THEN 1 END)
          |     + count(CASE WHEN value >= 300.0 THEN 1 END)
          |     + count(CASE WHEN value >= 400.0 THEN 1 END) AS BIGINT)
          |    AS cum_hot,
          |  4 AS steps
          |FROM events""".stripMargin)),

    // ----- Observation API: data-quality counters that PIGGYBACK on
    // the job's own action — df.observe attaches CollectMetrics to the
    // plan, the noop write drives one scan, and the metrics row comes
    // back on the driver without a second aggregation job. The 100-TB
    // posture: row counts / null counts / value extrema per pipeline
    // stage for free, where a separate .agg() would re-scan the stage's
    // input. The observed row is re-shaped into a DataFrame so the
    // DuckDB differential can check the metric VALUES.
    Q("m_observe",
      (s, d) => {
        val obs = new org.apache.spark.sql.Observation()
        Tables.events(s, d)
          .observe(obs,
            count(lit(1)).as("n"),
            count(when(col("value") >= 400.0, 1)).as("n_hot"),
            sum(col("value").cast("decimal(18,2)")).cast("double")
              .as("sum_value"),
            max(col("user_id")).as("max_user"))
          .write.format("noop").mode("overwrite").save()
        val m = obs.get
        import s.implicits._
        Seq((m("n").asInstanceOf[Long], m("n_hot").asInstanceOf[Long],
          m("sum_value").asInstanceOf[Double],
          m("max_user").asInstanceOf[Long]))
          .toDF("n", "n_hot", "sum_value", "max_user")
      },
      Some(
        """SELECT count(*) AS n,
          |  count(CASE WHEN value >= 400.0 THEN 1 END) AS n_hot,
          |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
          |    AS sum_value,
          |  max(user_id) AS max_user
          |FROM events""".stripMargin)),

    // ----- listagg WITHIN GROUP (ORDER BY): ordered string aggregation
    // over a dimension-bounded group (nations per region, ≤ 25 rows) —
    // the report-building surface. For unbounded groups the board's
    // f2_collect_agg convention (array_sort ∘ collect_list, size-capped)
    // applies; listagg shares its scale contract: group payload must be
    // bounded, and here it is by the dimension's own cardinality.
    Q("m_listagg",
      (s, d) => {
        Tables.nation(s, d).createOrReplaceTempView("nation")
        Tables.region(s, d).createOrReplaceTempView("region")
        s.sql(
          """SELECT r_name,
            |  listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)
            |    AS members,
            |  count(*) AS n
            |FROM nation JOIN region ON n_regionkey = r_regionkey
            |GROUP BY r_name ORDER BY r_name""".stripMargin)
      },
      Some(
        """SELECT r_name,
          |  string_agg(n_name, ',' ORDER BY n_name) AS members,
          |  count(*) AS n
          |FROM nation JOIN region ON n_regionkey = r_regionkey
          |GROUP BY r_name ORDER BY r_name""".stripMargin)))
}
