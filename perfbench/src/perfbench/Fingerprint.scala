package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive fingerprint of a query result: the row count plus the
  * sum, over rows, of a 64-bit hash of every output column. One aggregate
  * reads every column, so column pruning cannot skip work, and the check
  * needs no second run.
  *
  * Floating-point columns are hashed through their 9-significant-digit
  * text, so a last-ulp difference from a different summation order does
  * not change the fingerprint; nested values are hashed through their JSON.
  */
object Fingerprint {
  final case class Print(rows: Long, hash: String) {
    override def toString: String = s"$rows:$hash"
  }

  private def canonical(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      // `+ 0.0` folds -0.0 into 0.0 before formatting
      format_string("%.9g", (c.cast(DoubleType) + lit(0.0)))
    case _: StructType | _: ArrayType | _: MapType => to_json(c)
    case _ => c
  }

  /** The fingerprint aggregate over `df` (lazy; `collect` runs it). */
  def aggregate(df: DataFrame): DataFrame = {
    val fields = df.schema.fields
    // positional names: a result may carry duplicate column names
    val named = df.toDF(fields.indices.map(i => s"c$i"): _*)
    val cols = fields.indices.map(i => canonical(col(s"c$i"), fields(i).dataType))
    val rowHash = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    named.agg(count(lit(1)).as("rows"),
      coalesce(sum(rowHash.cast(DecimalType(38, 0))), lit(BigDecimal(0)).cast(DecimalType(38, 0))).as("hash"))
  }

  def of(df: DataFrame): Print = {
    val r = aggregate(df).collect().head
    Print(r.getLong(0), r.getDecimal(1).toPlainString)
  }
}
