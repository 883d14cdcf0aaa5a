package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a DataFrame over all of its columns.
  *
  * Each row hashes to a 64-bit value over its columns in name order; the
  * digest is the row count plus the exact (decimal) sum of the row hashes,
  * so neither row order nor partitioning changes it. Floating-point values
  * are rounded to single precision first, so a last-bit difference from a
  * different summation order does not change the digest. */
object Digest {

  private def normalize(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => c.cast(FloatType)
    case ArrayType(e, _) => transform(c, x => normalize(x, e))
    case s: StructType =>
      struct(s.fields.map(f => normalize(c.getField(f.name), f.dataType).as(f.name)).toSeq: _*)
    case _: MapType => to_json(c)
    case _ => c
  }

  def of(df: DataFrame): String = {
    // Columns in name order, renamed positionally so that duplicate names
    // (from joins) stay addressable.
    val order = df.schema.fields.zipWithIndex.sortBy { case (f, i) => (f.name, i) }
    val named = df.toDF(df.columns.indices.map(i => s"__c$i"): _*)
    val h = xxhash64(order.map { case (f, i) => normalize(col(s"__c$i"), f.dataType) }.toSeq: _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .collect()(0)
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }
}
