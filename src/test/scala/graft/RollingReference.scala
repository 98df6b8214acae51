package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Samples

/** The declarative RANGE-frame forms of [[graft.archive.Rolling]] —
  * the equivalence REFERENCE the walkers are pinned against (the
  * oracle SQL of `arch_rolling_window` / `arch_rolling_zscore` is the
  * same frame in DuckDB). O(n·frame): Spark's bounded RANGE frame
  * re-aggregates per row, so these are test-only.
  */
object RollingReference {

  /** Trailing-window mean/min/max/count over `[ts − W, ts]`. Marker
    * rows (`value IS NULL`) pass through the frame without
    * contributing (count/avg skip nulls in Spark and ANSI SQL alike).
    */
  def trailing(samples: DataFrame, windowSec: Long): DataFrame = {
    val w = Window.partitionBy("channel").orderBy(col("ts"))
      .rangeBetween(-windowSec * Samples.NS, 0L)
    samples.select(col("channel"), col("ts"),
      (sum(col("value").cast("decimal(38,12)")).over(w).cast("double") /
        count(col("value")).over(w)).as("roll_mean"),
      min(col("value")).over(w).as("roll_min"),
      max(col("value")).over(w).as("roll_max"),
      count(col("value")).over(w).as("roll_n"))
  }

  /** z = (value − mean)/std over `[ts − W, ts]` from exact DECIMAL
    * Σx / Σx² window sums, combined in one shared double
    * parenthesization:
    *
    *   var = max( (Σx² − (Σx)²/n) / (n−1), 0 )
    *
    * n < 2 → no std, std = 0 → no z.
    */
  def zscore(samples: DataFrame, windowSec: Long): DataFrame = {
    val w = Window.partitionBy("channel").orderBy(col("ts"))
      .rangeBetween(-windowSec * Samples.NS, 0L)
    val sx = sum(col("value").cast("decimal(38,12)")).over(w).cast("double")
    val sxx = sum((col("value") * col("value")).cast("decimal(38,12)"))
      .over(w).cast("double")
    val n = count(col("value")).over(w)
    val staged = samples.select(col("channel"), col("ts"), col("value"),
      sx.as("sx"), sxx.as("sxx"), n.as("n"))
    val mean = col("sx") / col("n")
    val variance = greatest(
      (col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1),
      lit(0.0))
    val std = when(col("n") >= 2, sqrt(variance))
    staged.select(col("channel"), col("ts"), col("value"),
      mean.as("zmean"), std.as("zstd"),
      when(std > 0, (col("value") - mean) / std).as("zscore"))
  }
}
