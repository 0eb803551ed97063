package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSONL corpus interchange — the format LLM corpora actually ship in
  * (one JSON document per line, split across many files).
  *
  * Scale rules baked in:
  *  - the reader takes an EXPLICIT schema, never inference — Spark's JSON
  *    schema inference is a full extra scan of the corpus before the real
  *    one, which at 100 TB doubles the read;
  *  - writer and reader are both plain distributed jobs (Spark's json
  *    source), one task per file split, nothing through the driver;
  *  - malformed lines surface as nulls under the default PERMISSIVE mode
  *    rather than failing the job — `_corrupt_record` auditing can be
  *    layered on by extending the schema, documented here so users know
  *    the engine's stance.
  *
  * The `src_jsonl_read` query gates ROUND-TRIP FIDELITY: documents are
  * exported to JSONL (fixture, memoized per session), read back with the
  * explicit schema, and aggregated — the oracle runs the SAME aggregate
  * on the original parquet, so any loss in JSON escaping, numeric
  * widening, or row count hash-mismatches (min/max over the text column
  * compare content directly, not just lengths).
  */
object JsonlCorpus {

  /** documents.parquet's schema, declared (see scale rule above). */
  val DocumentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Export the parquet corpus as JSONL — a distributed Spark json write
    * (one file per partition). */
  def write(spark: SparkSession, sfDir: String, out: String, nFiles: Int = 4,
            compression: String = "gzip"): Unit =
    graft.core.ParquetTables.read(spark, s"$sfDir/documents.parquet")
      .repartition(nFiles)
      // corpora ship compressed; the reader decompresses per file by
      // extension, so the round-trip gate covers the codec path too (gzip:
      // the one codec every Hadoop text source has — this build's json
      // sink lacks zstd; swap via the parameter where it exists)
      .write.mode("overwrite").option("compression", compression).json(out)

  /** Read a JSONL corpus with the declared schema (no inference pass). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(DocumentsSchema).json(path)

  /** Stream a JSONL corpus as it lands: the file source picks up new
    * files per trigger (exactly-once per file via the source's own log),
    * with the same explicit schema — the shape for corpora that arrive
    * incrementally from a crawler or export job. `maxFilesPerTrigger`
    * bounds per-trigger work so one huge drop can't blow a micro-batch. */
  def readStream(spark: SparkSession, path: String, maxFilesPerTrigger: Int = 8): DataFrame =
    spark.readStream.schema(DocumentsSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger).json(path)

  // the export per sfDir: built once, read by every session
  private val exports = new graft.core.FileMemo[String]

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "src_jsonl_read" -> { (s, dir) =>
      val out = exports.getOrElseUpdate(dir) { tmp =>
        val p = tmp("graft-jsonl-")
        write(s, dir, p)
        p
      }
      read(s, out)
        .groupBy("source", "lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"),
          sum(col("doc_id")).as("sum_doc_id"),
          sum(length(col("text"))).cast("long").as("sum_text_len"),
          min(col("text")).as("min_text"),
          max(col("text")).as("max_text"))
    }
  )

  /** The oracle aggregates the ORIGINAL parquet — equality proves the
    * JSONL round trip lost nothing. */
  def oracles: Map[String, String] = Map(
    "src_jsonl_read" ->
      """SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
        |  CAST(sum(len(text)) AS BIGINT) AS sum_text_len,
        |  min(text) AS min_text,
        |  max(text) AS max_text
        |FROM documents GROUP BY 1, 2""".stripMargin
  )
}
