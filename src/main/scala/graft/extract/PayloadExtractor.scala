package graft.extract

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One extracted column: dot-separated JSON path → typed column.
  * Mirrors `SchemaField` (`/root/reference/src/contracts/schema.rs:40-51`);
  * `dataType` ∈ Utf8 | Int32 | Int64 | Float64 | Boolean
  * (`schema.rs:56-77` maps these to Iceberg string|int|long|double|boolean). */
final case class FieldSpec(name: String, jsonPath: String, dataType: String, nullable: Boolean = true)

/** Per-table structured-columns config (`/root/reference/src/contracts/schema.rs:10-21`). */
final case class TableSchemaConfig(payloadFormat: String = "json", fields: Seq[FieldSpec])

/** Schema-on-flush payload extraction (SURVEY §1.3): turns the opaque JSON
  * payload into typed columns at flush time, leaving the unextracted
  * remainder in a nullable `_payload_overflow` column (field ID 99; the
  * extracted columns take IDs 100+ — `graft.iceberg.FieldIds`).
  *
  * Semantics matched to `/root/reference/src/storage/payload_extractor.rs`:
  *  - dot-path resolution through nested objects (`:36-142`)
  *  - coerce-or-null (`:113-133`): numbers/bools coerce to Utf8 targets;
  *    Int32 is bounds-checked (out-of-range i64 → null); Float64 accepts any
  *    number; non-coercible shapes → null, never an error
  *  - overflow = original JSON minus extracted keys, with empty parent
  *    objects pruned; an empty remainder → null (`:145-179`)
  *  - unparseable payload → all extracted columns null, overflow = original
  *
  * The extraction itself is one map-side UDF call per row (jackson parse +
  * path walk — genuinely procedural JSON surgery that Spark's `from_json`
  * cannot express because of the remainder computation), followed by
  * codegen-friendly casts; no shuffle, scales linearly.
  */
object PayloadExtractor {

  private def sparkType(dt: String): String = dt match {
    case "Utf8"    => "string"
    case "Int32"   => "int"
    case "Int64"   => "bigint"
    case "Float64" => "double"
    case "Boolean" => "boolean"
    case other     => throw new IllegalArgumentException(s"unsupported data_type $other")
  }

  /** Canonical string for one field from a parsed payload, or None.
    * The canonical form is cast-safe for the field's Spark type. */
  private def coerce(node: com.fasterxml.jackson.databind.JsonNode, dt: String): Option[String] = {
    if (node == null || node.isNull) return None
    dt match {
      case "Utf8" =>
        if (node.isTextual) Some(node.asText)
        else if (node.isNumber || node.isBoolean) Some(node.asText)
        else None
      case "Int32" =>
        if (node.isIntegralNumber) {
          val v = node.asLong
          if (v >= Int.MinValue && v <= Int.MaxValue) Some(v.toString) else None
        } else None
      case "Int64" =>
        if (node.isIntegralNumber) Some(node.asLong.toString) else None
      case "Float64" =>
        if (node.isNumber) Some(node.asDouble.toString) else None
      case "Boolean" =>
        if (node.isBoolean) Some(node.asBoolean.toString) else None
      case _ => None
    }
  }

  /** Jackson's ObjectMapper is thread-safe for read/write after
    * construction — share one instance instead of building one per row
    * (the UDF calls this for every event). */
  private val mapper = new ObjectMapper()

  /** Pure extraction core (unit-testable without Spark): canonical values in
    * field order + the overflow remainder. */
  def extractOne(cfg: TableSchemaConfig, payload: String): (Seq[Option[String]], Option[String]) = {
    val parsed =
      try Option(mapper.readTree(payload)).filter(_.isObject)
      catch { case _: Exception => None }
    parsed match {
      case None =>
        (cfg.fields.map(_ => None), Option(payload))
      case Some(rootNode) =>
        val root = rootNode.asInstanceOf[ObjectNode]
        val vals = cfg.fields.map { f =>
          val segs = f.jsonPath.split('.')
          val node = segs.foldLeft(Option(rootNode): Option[com.fasterxml.jackson.databind.JsonNode]) {
            (acc, seg) => acc.flatMap(n => Option(n.get(seg)))
          }
          node.flatMap(coerce(_, f.dataType))
        }
        // Remove extracted paths (only those that resolved) and prune empty
        // parents bottom-up, matching remove_extracted_keys.
        val copy = root.deepCopy[ObjectNode]()
        cfg.fields.zip(vals).foreach { case (f, v) =>
          if (v.isDefined) removePath(copy, f.jsonPath.split('.').toList)
        }
        if (copy.isEmpty) (vals, None)
        else (vals, Some(mapper.writeValueAsString(copy)))
    }
  }

  private def removePath(node: ObjectNode, path: List[String]): Unit = path match {
    case leaf :: Nil => node.remove(leaf); ()
    case seg :: rest =>
      node.get(seg) match {
        case child: ObjectNode =>
          removePath(child, rest)
          if (child.isEmpty) { node.remove(seg); () } // prune empty parent
        case _ => ()
      }
    case Nil => ()
  }

  /** Append the config's typed columns + `_payload_overflow` to `df`. */
  def extract(df: DataFrame, payloadCol: Column, cfg: TableSchemaConfig): DataFrame = {
    require(cfg.payloadFormat == "json", "only payload_format=json extracts columns")
    val fields = cfg.fields
    val exUdf = udf { (payload: String) =>
      val (vals, overflow) = extractOne(cfg, payload)
      (vals.map(_.orNull), overflow.orNull)
    }
    val added = fields.zipWithIndex.map { case (f, i) =>
      element_at(col("_ex._1"), i + 1).cast(sparkType(f.dataType)).as(f.name)
    } :+ col("_ex._2").as("_payload_overflow")
    val names = fields.map(_.name).toSet + "_payload_overflow"
    df.withColumn("_ex", exUdf(payloadCol.cast("string")))
      .select(df.columns.filterNot(names).map(c => col(s"`$c`")).toSeq ++ added: _*)
  }
}
