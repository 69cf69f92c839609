package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, MapType}

/** Order-insensitive result fingerprint: one aggregate action that reads
  * every output column (so no computed column is pruned away, as it is
  * under `count()`), giving the row count and the exact sum of a 64-bit
  * hash of each row. Row order and partitioning do not change it; any
  * changed cell, missing row or extra row does (up to hash collisions). */
object Fingerprint {

  final case class Value(rows: Long, hash: String)

  /** xxhash64 does not accept maps; a map is hashed as its entries sorted
    * by key, which is independent of the map's internal order. */
  private def hashable(c: Column, t: DataType): Column = t match {
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }

  def columns(df: DataFrame): Seq[Column] = {
    val cells = df.schema.fields.toSeq.map(f => hashable(col(s"`${f.name}`"), f.dataType))
    val rowHash =
      if (cells.isEmpty) lit(0L) else xxhash64(cells: _*)
    Seq(count(lit(1)).as("rows"),
      coalesce(sum(rowHash.cast(DecimalType(38, 0))), lit(0).cast(DecimalType(38, 0)))
        .as("hash"))
  }

  /** Runs the fingerprint action over `df`. */
  def of(df: DataFrame): Value = {
    val cs = columns(df)
    val r = df.agg(cs.head, cs.tail: _*).head()
    Value(r.getLong(0), r.getDecimal(1).toPlainString)
  }
}
