package graft.extract

import graft.core.{EventLog, Oracle}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked query over the structured-columns extraction (§1.3):
  * events' `props` payload extracted with config `[{k, path "k", Int32}]`,
  * aggregated per partition. Proves path resolution, Int32 coercion, and
  * overflow pruning end-to-end against DuckDB's JSON functions. */
object ExtractQueries {
  val config: TableSchemaConfig =
    TableSchemaConfig(fields = Seq(FieldSpec("k", "k", "Int32")))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x1_payload_extract" -> { (s, dir) =>
      PayloadExtractor
        .extract(EventLog.raw(s, dir), col("props"), config)
        .groupBy("part_id")
        .agg(
          count(lit(1)).as("n"),
          sum("k").as("sum_k"),
          count(when(col("k").isNull, 1)).as("n_null_k"),
          count(when(col("_payload_overflow").isNotNull, 1)).as("n_overflow")
        )
    },
    // §1.3 committed: the extraction applied AT FLUSH TIME — the committed
    // table's files carry typed `k` + `_payload_overflow` instead of the
    // opaque payload, under the extended Iceberg schema (IDs 100+/99).
    "x2_extracted_committed" -> { (s, dir) =>
      val root = ExtractedTables.tableRoot(s, dir)
      graft.table.EventTable
        .readCommitted(s, root)
        .groupBy(col("partition").cast("int").as("part_id"))
        .agg(
          count(lit(1)).as("n"),
          sum("k").as("sum_k"),
          max("sequence").as("max_seq"),
          count(when(col("_payload_overflow").isNotNull, 1)).as("n_overflow")
        )
    },
    // Iceberg schema evolution end-to-end: the first half of the log is
    // committed extracting {k:Int32}; the extraction config then GROWS a
    // field ({k, k_str:Utf8}) and the second half appends after an additive
    // schema evolution. The projected read returns pre-evolution rows with
    // k_str = null — n_k_str counts exactly the second half's non-null
    // coercions, sum over a BIGINT cast checksums the values.
    "x3_schema_evolution" -> { (s, dir) =>
      val root = EvolvedTables.tableRoot(s, dir)
      graft.table.EventTable
        .readCommittedProjected(s, root)
        .groupBy(col("partition").cast("int").as("part_id"))
        .agg(
          count(lit(1)).as("n"),
          sum("k").as("sum_k"),
          count(col("k_str")).as("n_k_str"),
          sum(col("k_str").cast("long")).as("sum_k_str"),
          max("sequence").as("max_seq")
        )
    }
  )

  def oracles: Map[String, String] = Map(
    "x1_payload_extract" -> Oracle.sql(
      """SELECT part_id, count(*) AS n,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        |       count(*) FILTER (json_extract_string(props, '$.k') IS NULL) AS n_null_k,
        |       count(*) FILTER (len(list_filter(json_keys(props), x -> x != 'k')) > 0) AS n_overflow
        |FROM raw GROUP BY 1""".stripMargin),
    "x2_extracted_committed" -> Oracle.sql(
      """SELECT part_id, count(*) AS n,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        |       max(sequence) AS max_seq,
        |       count(*) FILTER (len(list_filter(json_keys(props), x -> x != 'k')) > 0) AS n_overflow
        |FROM evlog GROUP BY 1""".stripMargin),
    // k_str exists only for rows appended AFTER the evolution (event_id in
    // the upper half) — the same split EvolvedTables commits.
    "x3_schema_evolution" -> Oracle.sql(
      """SELECT part_id, count(*) AS n,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        |       count(*) FILTER (event_id > (SELECT max(event_id) FROM ev) // 2
        |                        AND json_extract_string(props, '$.k') IS NOT NULL) AS n_k_str,
        |       CAST(sum(CASE WHEN event_id > (SELECT max(event_id) FROM ev) // 2
        |                     THEN CAST(json_extract_string(props, '$.k') AS BIGINT) END) AS BIGINT) AS sum_k_str,
        |       max(sequence) AS max_seq
        |FROM evlog GROUP BY 1""".stripMargin)
  )
}

/** One schema-EVOLVED committed table per (JVM, sfDir): first half of the
  * derived log committed with `{k:Int32}`, then the config grows `k_str`
  * (Utf8 over the same path — old rows null, new rows the string form) and
  * the second half appends through [[graft.table.EventTable.appendExtracted]],
  * which evolves the Iceberg schema additively before committing. */
object EvolvedTables {
  import org.apache.spark.sql.functions.col
  val cfg1: TableSchemaConfig =
    TableSchemaConfig(fields = Seq(FieldSpec("k", "k", "Int32")))
  val cfg2: TableSchemaConfig =
    TableSchemaConfig(fields = Seq(FieldSpec("k", "k", "Int32"), FieldSpec("k_str", "k", "Utf8")))

  private val memo = new graft.core.FileMemo[String]

  def tableRoot(spark: SparkSession, sfDir: String): String =
    memo.getOrElseUpdate(sfDir) { tmp =>
      val root  = tmp("graft-evolved-")
      val log   = EventLog.log(spark, sfDir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val half  = log.agg(org.apache.spark.sql.functions.max("event_id")).head().getLong(0) / 2
      graft.table.EventTable.appendExtracted(spark, log.filter(col("event_id") <= half), root, cfg1)
      graft.table.EventTable.appendExtracted(spark, log.filter(col("event_id") > half), root, cfg2)
      log.unpersist()
      root
    }
}

/** One extracted committed table per (JVM, sfDir). */
object ExtractedTables {
  private val memo = new graft.core.FileMemo[String]

  def tableRoot(spark: SparkSession, sfDir: String): String =
    memo.getOrElseUpdate(sfDir) { tmp =>
      val root = tmp("graft-extracted-")
      graft.table.EventTable.ingestAndCommitExtracted(spark, sfDir, root, ExtractQueries.config)
      root
    }
}
