package graft
import graft.ops.{Ext, Fuzz, Graph, Inference, Ingest, Mining, Multimodal,
  Q, Relational, Similarity, Sql4, Stats, Storage, Text, Tpch, Typed,
  Windows}
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator module exposes `all: Seq[Q]`; this object folds them into
  * the `queries` / `oracleSql` maps the driver consumes. A `Q` with
  * `oracle = None` gets a rows-only check.
  */
object SparkEntry {

  private val allQs: Seq[Q] =
    Relational.all ++ Windows.all ++ Stats.all ++ Graph.all ++ Text.all ++
      Ext.all ++ Tpch.all ++ Similarity.all ++ Ingest.all ++
      Multimodal.all ++ Storage.all ++ Mining.all ++ Inference.all ++
      Typed.all ++ Sql4.all ++ Fuzz.all ++
      graft.streaming.Streams.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Stats.trendingRanked(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Every
    * builder first runs [[graft.functions.GraftFunctions.install]] on
    * its session, so a session built without graft's extensions (the
    * harness mains, the benchmark, the driver) has them all before its
    * first query. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    allQs.map(q => q.name -> { (s: SparkSession, d: String) =>
      graft.functions.GraftFunctions.install(s)
      q.fn(s, d)
    }).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  val oracleSql: Map[String, String] =
    allQs.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
