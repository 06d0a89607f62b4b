package graftbench

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Order-independent fingerprint of a query result: the row count plus
  * the sums of the high and low 32-bit halves of each row's `xxhash64`
  * over all columns. Sums commute, so neither row order nor partitioning
  * changes it, and 32-bit halves keep the sums clear of overflow.
  *
  * Floating-point columns are hashed as their 10-significant-digit
  * decimal rendering, so results that differ only in the last bits of a
  * double (summation order across a different core count) still match.
  */
object Fingerprint {

  final case class Print(rows: Long, hi: Long, lo: Long) {
    override def toString: String = s"$rows:$hi:$lo"
  }

  private def normalized(df: DataFrame): Seq[Column] =
    df.schema.fields.toSeq.map { f =>
      val c = df.col("`" + f.name.replace("`", "``") + "`")
      f.dataType match {
        case DoubleType | FloatType => format_string("%.9e", c.cast("double"))
        case _ => c
      }
    }

  private def aggregates(df: DataFrame): Seq[Column] = {
    val h = xxhash64(normalized(df): _*)
    Seq(count(lit(1)).as("rows"),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("hi"),
      coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L)).as("lo"))
  }

  private def fromRow(r: Row): Print = Print(r.getLong(0), r.getLong(1), r.getLong(2))

  /** `df` with the fingerprint attached as an observation: it is computed
    * inside whatever action consumes the frame, with no second execution. */
  def observe(df: DataFrame): (DataFrame, () => Print) = {
    val obs = Observation("graftbench_fingerprint")
    val aggs = aggregates(df)
    (df.observe(obs, aggs.head, aggs.tail: _*), () => {
      val m = obs.get
      Print(m("rows").asInstanceOf[Long], m("hi").asInstanceOf[Long],
        m("lo").asInstanceOf[Long])
    })
  }

  /** The fingerprint by a direct aggregation (a separate job). */
  def of(df: DataFrame): Print = {
    val aggs = aggregates(df)
    fromRow(df.agg(aggs.head, aggs.tail: _*).head())
  }
}
