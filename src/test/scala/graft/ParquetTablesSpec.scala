package graft

import graft.core.ParquetTables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** The table reader's cache: a warm read runs no inference job, and
  * nothing that changes what inference returns — the file set, the
  * session's parquet confs — is served a stale schema. (PlanAuditSpec
  * checks every fixture table against a bare read.) */
class ParquetTablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tempDir(): String = TestSpark.tempDir("graft-ptables-").toString

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("a second read of an unchanged directory runs no Spark job") {
    val dir = tempDir() + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(dir)
    assert(TestSpark.jobsDuring(ParquetTables.read(spark, dir)) >= 1, "the first read infers")
    var second: DataFrame = null
    assert(TestSpark.jobsDuring { second = ParquetTables.read(spark, dir) } === 0)
    assert(rows(second) === Seq("[1,a]", "[2,b]"))
  }

  test("rewriting the directory with an added column re-infers the schema") {
    val dir = tempDir() + "/t"
    Seq((1L, "a")).toDF("id", "s").write.parquet(dir)
    assert(ParquetTables.read(spark, dir).columns.toSeq === Seq("id", "s"))
    Seq((1L, "a", 7)).toDF("id", "s", "added").write.mode("overwrite").parquet(dir)
    val df = ParquetTables.read(spark, dir)
    assert(df.columns.toSeq === Seq("id", "s", "added"))
    assert(rows(df) === Seq("[1,a,7]"))
  }

  test("spark.sql.legacy.parquet.nanosAsLong picks the matching ts type") {
    // Spark writes no TIMESTAMP(NANOS); write one file with parquet's own
    // example writer, the shape a nanosecond producer ships
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir    = tempDir() + "/nanos"
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,false)); required int64 id; }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$dir/part-0.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1700000000123456789L).append("id", 1L))
    finally w.close()

    val flag = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(flag)
    try {
      spark.conf.set(flag, "false")
      intercept[Exception](spark.read.parquet(dir))
      intercept[Exception](ParquetTables.read(spark, dir))
      spark.conf.set(flag, "true")
      val df = ParquetTables.read(spark, dir)
      assert(df.schema("ts").dataType === LongType)
      assert(rows(df) === Seq("[1700000000123456789,1]"))
      // the cached LONG schema must not leak back into a session that
      // cannot read nanos
      spark.conf.set(flag, "false")
      intercept[Exception](ParquetTables.read(spark, dir))
    } finally prev match {
      case Some(v) => spark.conf.set(flag, v)
      case None    => spark.conf.unset(flag)
    }
  }
}
