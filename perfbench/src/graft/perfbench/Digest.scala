package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive content digest of an op's output: the row count
  * and the exact sum of per-row `xxhash64` values. Doubles and floats
  * are rounded to 6 decimals first, so float sums whose partial-merge
  * order varies between runs still digest the same. Maps are hashed
  * as their key-sorted entry arrays.
  *
  * Computing the digest is the one action that materializes the op's
  * output, so an op's latency covers every column of its result.
  */
object Digest {
  final case class Of(rows: Long, hash: String)

  private def norm(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(et, _) if needsNorm(et) => transform(c, x => norm(x, et))
    case st: StructType if st.fields.exists(f => needsNorm(f.dataType)) =>
      struct(st.fields.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      norm(array_sort(map_entries(c)), ArrayType(StructType(Seq(
        StructField("key", kt), StructField("value", vt)))))
    case _ => c
  }

  private def needsNorm(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(et, _) => needsNorm(et)
    case st: StructType => st.fields.exists(f => needsNorm(f.dataType))
    case _ => false
  }

  def of(df: DataFrame): Of = {
    val cols = df.schema.fields.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").cast(DecimalType(38, 0))),
        lit(BigDecimal(0)).cast(DecimalType(38, 0))))
      .head()
    Of(r.getLong(0), r.getDecimal(1).toPlainString)
  }

  /** Digest of a driver-side value (a count, a flag) returned by an op
    * whose effect is on persisted state rather than a relation.
    */
  def ofValue(v: Any): Of = Of(1L, String.valueOf(v))
}
