package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** An action that computes every output column of a frame: the row count
  * plus an order-independent hash over all columns. Unlike `count()`, it
  * gives Catalyst no unread column to prune.
  *
  * Floating-point values are rendered to 6 significant digits before
  * hashing (the rounding the DuckDB oracle uses), so a parallel sum that
  * differs in its last bits still gives the same fingerprint. Each row
  * hash is masked to 32 unsigned bits before the sum, so the sum cannot
  * overflow under ANSI arithmetic.
  */
object Fingerprint {
  final case class Value(rows: Long, hash: Long) {
    override def toString: String = s"$rows:$hash"
  }

  def of(df: DataFrame): Value = {
    val cols = df.schema.fields.toSeq.map(f => canon(col(s"`${f.name}`"), f.dataType))
    val rowHash =
      if (cols.isEmpty) lit(0L)
      else hash(cols: _*).cast(LongType).bitwiseAND(lit(0xFFFFFFFFL))
    val r = df.agg(count(lit(1)), coalesce(sum(rowHash), lit(0L))).head()
    Value(r.getLong(0), r.getLong(1))
  }

  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      when(c.isNull, lit(null).cast(StringType))
        .when(isnan(c), lit("NaN"))
        .when(c === 0, lit("0"))
        .otherwise(format_string("%.6g", c.cast(DoubleType)))
    case ArrayType(et, _) if needsCanon(et) => transform(c, x => canon(x, et))
    case st: StructType if st.fields.exists(f => needsCanon(f.dataType)) =>
      when(c.isNull, lit(null)).otherwise(struct(st.fields.toSeq.map(f =>
        canon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      // map hashing is order-dependent: hash the sorted entry list instead
      canon(array_sort(map_entries(c)),
        ArrayType(StructType(Seq(StructField("key", kt), StructField("value", vt)))))
    case _ => c
  }

  private def needsCanon(t: DataType): Boolean = t match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(et, _) => needsCanon(et)
    case st: StructType => st.fields.exists(f => needsCanon(f.dataType))
    case _ => false
  }
}
