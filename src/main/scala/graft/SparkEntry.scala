package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each engine module contributes a `queries` map (named DataFrame builders
  * over a scale-factor dir) and a matching `oracles` map (DuckDB SQL twins
  * the driver hash-compares against). A query is "implemented" only when it
  * appears in BOTH maps (or intentionally has no SQL twin — weaker check).
  */
object SparkEntry {
  private lazy val modules: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (core.HotQueries.queries, core.HotQueries.oracles),
      (table.IcebergQueries.queries, table.IcebergQueries.oracles),
      (llm.LlmQueries.queries, llm.LlmQueries.oracles),
      (llm.CorpusQueries.queries, llm.CorpusQueries.oracles),
      (graft.extract.ExtractQueries.queries, graft.extract.ExtractQueries.oracles),
      (streaming.StreamQueries.queries, streaming.StreamQueries.oracles),
      (serve.ServeQueries.queries, serve.ServeQueries.oracles),
      (sources.SegmentQueries.queries, sources.SegmentQueries.oracles),
      (sources.JsonlCorpus.queries, sources.JsonlCorpus.oracles),
      (analytics.TpchQueries.queries, analytics.TpchQueries.oracles),
      (analytics.JoinQueries.queries, analytics.JoinQueries.oracles)
    )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    core.EventLog
      .log(spark, "/root/testdata/sf0.001")
      .groupBy("part_id")
      .agg(count(lit(1)).as("n"), max("sequence").as("max_seq"))

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(_._1).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] =
    modules.map(_._2).reduce(_ ++ _)
}
