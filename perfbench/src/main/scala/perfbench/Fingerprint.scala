package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row count plus an order-independent content hash of a query's output.
  *
  * Each row hashes with `xxhash64`; the table hash combines the row hashes
  * with a sum mod a prime and an xor, so row order and partitioning do not
  * matter. Floating-point values are rounded to 6 decimals first: sums over
  * a different partitioning may differ in the last bits, and the queries
  * themselves round money and ratios coarser than that. Maps become sorted
  * entry arrays, since `xxhash64` does not hash map types.
  */
object Fingerprint {
  final case class Value(rows: Long, hash: String)

  private def needsNorm(t: DataType): Boolean = t match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(e, _) => needsNorm(e)
    case StructType(fs) => fs.exists(f => needsNorm(f.dataType))
    case _ => false
  }

  private def norm(t: DataType, c: Column): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(e, _) if needsNorm(e) => transform(c, x => norm(e, x))
    case StructType(fs) if needsNorm(t) =>
      struct(fs.toIndexedSeq.map(f => norm(f.dataType, c.getField(f.name)).as(f.name)): _*)
    case MapType(k, v, _) =>
      norm(ArrayType(StructType(Seq(StructField("key", k), StructField("value", v)))),
        array_sort(map_entries(c)))
    case _ => c
  }

  def apply(df: DataFrame): Value = {
    // positional names: outputs may carry duplicate or dotted column names
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toIndexedSeq.map(f => norm(f.dataType, col(f.name)))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), sum(pmod(col("h"), lit(2147483647L))), bit_xor(col("h")))
      .head()
    val sumPart = if (r.isNullAt(1)) 0L else r.getLong(1)
    val xorPart = if (r.isNullAt(2)) 0L else r.getLong(2)
    Value(r.getLong(0), f"$sumPart%x-$xorPart%016x")
  }
}
