package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of a whole result, in the normal form the
  * engine's oracle gate compares in: columns sorted by name, integers
  * widened to long, floats and decimals to double, timestamps and dates
  * to epoch micros and days. The digest is the sorted column names plus
  * the row count, XOR and low-32-bit sum of a per-row xxhash64.
  *
  * Computing it evaluates every output column (a bare count would let
  * Catalyst prune the projection), so it is also how the benchmark
  * materialises a result. Two results get the same digest exactly when
  * they hold the same multiset of normalised rows, up to hash collisions;
  * the expected digests are those of the DuckDB oracle's answers.
  */
final case class Fingerprint(columns: Seq[String], rows: Long, xor: Long, sum: Long) {
  def toMap: Map[String, Any] = Map("columns" -> columns, "rows" -> rows, "xor" -> xor, "sum" -> sum)
}

object Fingerprint {
  private def normal(c: Column, t: DataType): Column = t match {
    case ByteType | ShortType | IntegerType | LongType => c.cast(LongType)
    case FloatType | DoubleType | _: DecimalType => c.cast(DoubleType)
    case TimestampType => unix_micros(c)
    case TimestampNTZType => unix_micros(c.cast(TimestampType))
    case DateType => unix_date(c)
    case ArrayType(et, _) => transform(c, x => normal(x, et))
    case StructType(fields) =>
      struct(fields.toIndexedSeq.map(f => normal(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }

  def of(df: DataFrame): Fingerprint = {
    val fields = df.schema.fields.sortBy(_.name)
    val cols = fields.indices.map(i => normal(df.col(s"`${fields(i).name}`"), fields(i).dataType))
    val h = xxhash64(cols: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), coalesce(bit_xor(col("h")), lit(0L)),
        coalesce(sum(col("h").bitwiseAND(0xFFFFFFFFL)), lit(0L)))
      .head()
    Fingerprint(fields.map(_.name).toSeq, r.getLong(0), r.getLong(1), r.getLong(2))
  }
}
