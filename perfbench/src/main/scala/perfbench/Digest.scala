package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive content digest of a query output: row count, the
  * sorted column names and the sum of per-row 64-bit hashes. A row is
  * hashed from a canonical JSON rendering of its columns in name order,
  * with floating point values rounded to 9 significant digits (and -0.0
  * folded into 0.0), so reduce-order noise in the last bits of a double
  * does not read as a different answer. */
object Digest {
  final case class Value(rows: Long, hash: String, columns: String)

  private def canon(c: Column, t: DataType): Column = t match {
    case FloatType | DoubleType =>
      format_string("%.9e", c.cast(DoubleType) + lit(0.0))
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e => struct(
        canon(e.getField("key"), kt).as("k"),
        canon(e.getField("value"), vt).as("v"))))
    case StructType(fs) =>
      when(c.isNotNull, struct(fs.toSeq.map(f =>
        canon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case BinaryType => hex(c)
    case _ => c
  }

  def of(df: DataFrame): Value = {
    val fields = df.schema.fields.sortBy(_.name)
    val row = to_json(struct(fields.toSeq.map(f =>
      canon(df.col(s"`${f.name}`"), f.dataType).as(f.name)): _*))
    val r = df.select(xxhash64(row).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(BigDecimal(0))))
      .head()
    Value(r.getLong(0), r.getDecimal(1).toBigInteger.toString,
      fields.map(_.name).mkString(","))
  }
}
