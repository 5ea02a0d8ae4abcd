package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Output checks shared by the workloads. */
object Checks {

  /** Largest absolute difference between two id → value maps; infinite if
    * their key sets differ. */
  def linf(a: Map[Long, Double], b: Map[Long, Double]): Double =
    if (a.keySet != b.keySet) Double.PositiveInfinity
    else a.iterator.map { case (k, v) => math.abs(v - b(k)) }.foldLeft(0.0)(math.max)

  /** Order-independent digest of a result: row count plus the sums of the
    * two 32-bit halves of each row's hash. The hash covers every column, so
    * computing it evaluates every output column (a `count()` lets the
    * optimizer prune them). Floating-point values are rounded to 6 decimals
    * first, so partial-aggregate order cannot change the digest. */
  def digest(df: DataFrame): String = {
    val cols = df.schema.fields.toSeq.map(f => canonical(col(s"`${f.name}`"), f.dataType).as(f.name))
    val h = xxhash64(to_json(struct(cols: _*)))
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(lit(0xffffffffL))), sum(shiftrightunsigned(col("h"), 32)))
      .head()
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0L)}:${Option(r.get(2)).getOrElse(0L)}"
  }

  private def canonical(c: Column, t: DataType): Column = t match {
    // adding 0.0 turns -0.0 into 0.0
    case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
    case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast(DoubleType), 6) + lit(0.0))
    case BinaryType => base64(c)
    case _ => c
  }
}
