package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent result fingerprint: row count plus two
  * aggregates of a per-row xxhash64 over every column. Computing it
  * materializes every column of the frame, so it doubles as the op's
  * sink.
  *
  * Floating-point values are rounded to float precision before
  * hashing (and -0.0 folded into 0.0): parallel sums may differ in
  * the last bits of a double from run to run, which must not read as
  * a wrong result. Maps hash as their sorted entries.
  */
object Fingerprint {
  final case class Fp(rows: Long, sum: Long, xor: Long) {
    override def toString: String = s"$rows:$sum:$xor"
  }

  def parse(s: String): Fp = {
    val Array(r, a, x) = s.split(':')
    Fp(r.toLong, a.toLong, x.toLong)
  }

  private def norm(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => c.cast(FloatType) + lit(0.0f)
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case st: StructType if st.nonEmpty =>
      when(c.isNull, lit(null)).otherwise(
        struct(st.fields.toIndexedSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(norm(e.getField("key"), kt).as("k"), norm(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  def of(df: DataFrame): Fp = {
    // positional names: a join may leave two columns with one name
    val named = df.toDF(df.columns.indices.map("c" + _): _*)
    val cols = named.schema.fields.toIndexedSeq.map(f => norm(col(f.name), f.dataType))
    val r = named.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(pmod(col("h"), lit(2147483647L))), bit_xor(col("h")))
      .collect()(0)
    Fp(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }
}
