package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.expr

import graft.Knobs

/** Quantile strategy switch for the percentile-based operators
  * (p01 engagement cutoffs, tx_quality_dist).
  *
  * Default is Spark's EXACT `percentile` — linear interpolation, value-
  * identical to DuckDB's `quantile_cont`, which the hash-match oracle
  * requires. Exact percentile buffers each group's values, so at 100 TB
  * set [[Knobs.approxQuantiles]] on the session: the same call sites emit
  * `approx_percentile` (t-digest-style bounded sketch state,
  * [[ApproxAccuracy]] accuracy), identical plan shape, no oracle (the
  * sketch is engine-specific — run it for production cutoffs, not for the
  * parity gate).
  */
object Quantiles {

  val ApproxAccuracy = 10000

  /** percentile(col, q) or approx_percentile(col, q, acc) per the knob. */
  def pctl(spark: SparkSession, col: String, q: Double): Column =
    if (Knobs.approxQuantiles(spark)) expr(s"approx_percentile($col, ${q}D, $ApproxAccuracy)")
    else expr(s"percentile($col, ${q}D)")

  /** Array form: percentile(col, array(...)) under the same switch. */
  def pctls(spark: SparkSession, col: String, qs: Seq[Double]): Column = {
    val arr = qs.map(q => s"${q}D").mkString("array(", ", ", ")")
    if (Knobs.approxQuantiles(spark)) expr(s"approx_percentile($col, $arr, $ApproxAccuracy)")
    else expr(s"percentile($col, $arr)")
  }
}
