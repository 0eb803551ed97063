package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Consume a result in full and fold it into an order-independent hash:
  * xxhash64 over every column of a row, bit_xor over the rows, plus the row
  * count. Columns holding a map are hashed through their JSON text (Spark
  * does not hash maps). Row order and partitioning do not change the
  * result. */
object ResultHash {
  def of(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      if (hasMap(f.dataType)) to_json(struct(c)) else c
    }
    val h = xxhash64(lit(cols.size) +: cols: _*)
    val r = df.select(h.as("h")).agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def hex(h: (Long, Long)): String = f"${h._1}%d:${h._2}%016x"

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType     => true
    case st: StructType => st.fields.exists(f => hasMap(f.dataType))
    case a: ArrayType   => hasMap(a.elementType)
    case _              => false
  }
}
