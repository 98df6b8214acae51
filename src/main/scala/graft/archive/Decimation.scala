package graft.archive

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Samples

/** Tumbling-window, time-weighted decimation — the reference's
  * analytical core (SURVEY.md §2.4/§2.5), re-expressed as a pure
  * Catalyst plan.
  *
  * Reference semantics (SampleDecimator.java:36-79,
  * AbstractStatefulSampleDecimator.java:74-92):
  *   - intervals are epoch-aligned tumbling windows of `period` ns;
  *   - each sample is valid on [max(ts, winStart), min(nextTs, winEnd))
  *     — piecewise-constant sample-and-hold integration;
  *   - the first sample of an interval has ts <= interval start (the
  *     window *inherits* the previous value — hold-last-value);
  *   - empty windows still emit output from the held sample (gap fill,
  *     ArchivedChannelDecimatedSamplesDecimationLevel.java:954-1047);
  *   - a window is emitted once a sample at-or-after its end exists
  *     (flush-on-crossing), so the trailing partial window is withheld;
  *   - output sample is stamped at the window start;
  *   - marker samples (disconnected/disabled → value IS NULL) occupy
  *     time but contribute no coverage: coveredPeriodFraction < 1.
  *
  * Spark-first design — *slice explosion* instead of a stateful
  * per-interval decimator: `lead(ts)` gives each sample its validity
  * interval, `sequence() + explode` splits that interval across every
  * tumbling window it overlaps, and the per-window statistics become
  * plain weighted aggregates over the slices. Hold-last-value and gap
  * fill fall out of the same mechanism (a sample held across N empty
  * windows simply produces N slices), there is no custom state, and the
  * whole plan stays inside whole-stage codegen. The only shuffles are
  * the per-channel window (for `lead`) and the final groupBy — and the
  * groupBy reuses the channel clustering, so AQE coalesces it cheaply.
  */
object Decimation {

  /** Per-sample validity + per-channel max ts.
    * One shuffle on `channel`; both window functions share it.
    */
  def withValidity(samples: DataFrame): DataFrame = {
    val byTs = Window.partitionBy("channel").orderBy("ts")
    val all = Window.partitionBy("channel")
    samples
      .withColumn("next_ts", lead(col("ts"), 1).over(byTs))
      .withColumn("t_max", max(col("ts")).over(all))
  }

  /** Explode each sample's validity interval into per-window slices.
    * Output columns: channel, win (window start), lo, hi, weight (ns),
    * plus the sample's value/severity/status/ts/str_value.
    *
    * Only windows whose end is at or before the channel's last sample
    * time are produced (flush-on-crossing rule), so the trailing
    * partial window is withheld exactly like the reference.
    */
  def slices(samples: DataFrame, periodNanos: Long): DataFrame =
    slicesFromValidity(withValidity(Samples.monotonicDedup(samples)), periodNanos)

  /** The explode step alone, over any frame carrying (next_ts, t_max). */
  def slicesFromValidity(validity: DataFrame, periodNanos: Long): DataFrame = {
    val p = lit(periodNanos)
    validity
      .where(col("next_ts").isNotNull)
      // windows overlapped by [ts, next_ts): floor(ts/P) .. floor((next_ts-1)/P)
      .withColumn("win", explode(sequence(
        Samples.windowStart(col("ts"), periodNanos),
        Samples.windowStart(col("next_ts") - 1, periodNanos),
        p)))
      .where(col("win") + p <= col("t_max"))
      .withColumn("lo", greatest(col("ts"), col("win")))
      .withColumn("hi", least(col("next_ts"), col("win") + p))
      .where(col("hi") > col("lo"))
      .withColumn("weight", (col("hi") - col("lo")).cast("double"))
  }

  /** A1/A3 — time-weighted mean / std / min / max / covered-period
    * fraction per (channel, window). Null values (markers) contribute
    * no coverage. std uses the reference's population formula
    * var = Σw·x²/Σw − mean², clamped at 0
    * (ScalarDoubleAggregator.java:62-85).
    */
  def decimate(samples: DataFrame, periodNanos: Long): DataFrame =
    decimateFromValidity(withValidity(Samples.monotonicDedup(samples)), periodNanos)

  /** Order-independent sum of a double expression: route each addend
    * through DECIMAL so partial-aggregation merge order cannot perturb
    * the result (double addition is not associative; at 6dp rounding
    * edges a half-ULP flips a digit between runs — and between Spark
    * and the DuckDB oracle). Scale 12 keeps 26 integer digits of
    * headroom for ns-weighted products while the 1e-12 truncation is
    * ~1e-28 relative on those magnitudes. Partial aggregation still
    * applies (decimal sums merge exactly).
    */
  private[graft] def exactSum(c: Column): Column =
    sum(c.cast("decimal(38,12)")).cast("double")

  /** The weighted aggregation over any validity frame. */
  def decimateFromValidity(validity: DataFrame, periodNanos: Long): DataFrame = {
    val sl = slicesFromValidity(validity, periodNanos)
    // weights are whole nanosecond counts (< 2^53): a double sum of
    // integer-valued addends is exact, hence already order-independent.
    val wCov = sum(when(col("value").isNotNull, col("weight")).otherwise(lit(0.0)))
    val m = exactSum(col("weight") * col("value")) / wCov
    // variance noise floor: Σw·x²/Σw − mean² suffers catastrophic
    // cancellation when the window is near-constant; anything below
    // 1e-9 is numerical noise and is clamped to exactly 0 (a NULL
    // variance — empty coverage — stays NULL).
    val variance = exactSum(col("weight") * col("value") * col("value")) / wCov - m * m
    sl.groupBy(col("channel"), col("win").as("win_start"))
      .agg(
        m.as("mean"),
        when(variance < lit(1e-9), lit(0.0)).otherwise(sqrt(variance)).as("std"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        (wCov / lit(periodNanos.toDouble)).as("covered_fraction"),
        count(col("value")).as("n_samples"))
  }

  /** A4 — max-severity propagation: the aggregate carries the maximum
    * alarm severity seen in the window, with the status of the
    * *earliest* sample attaining it
    * (AveragingSampleAggregator.java:114-141). Expressed as a single
    * lexicographic max over (severity, -ts, status) — no second pass.
    */
  def decimateSeverity(samples: DataFrame, periodNanos: Long): DataFrame =
    slices(samples, periodNanos)
      .groupBy(col("channel"), col("win").as("win_start"))
      .agg(
        max(col("severity")).as("max_severity"),
        max(struct(col("severity"), (lit(0L) - col("ts")).as("neg_ts"),
          col("status"))).getField("status").as("status_at_max"))

  /** A5 — pick-first: the sample valid at the window start, re-stamped
    * to the window start (PickFirstSampleAggregator.java:50-76). In the
    * slice formulation this is exactly the slice whose lo == win.
    */
  def pickFirst(samples: DataFrame, periodNanos: Long): DataFrame =
    slices(samples, periodNanos)
      .where(col("lo") === col("win"))
      .select(
        col("channel"),
        col("win").as("win_start"),
        col("str_value").as("first_value"),
        col("ts").as("source_ts"))

  /** One-pass alternative to [[decimate]]: cluster by channel, sort by
    * ts within partitions, run [[DecimatorCore]] once per channel in
    * mapPartitions. Identical output (same state machine as streaming;
    * same oracle as the explode plan). Trade-off vs the Catalyst plan:
    * no slice explosion (better for long gaps / fine periods), but an
    * explicit repartition+sort and no whole-stage codegen. Benchmarked
    * side by side — see Bench.
    */
  def decimateSorted(samples: DataFrame, periodNanos: Long): DataFrame = {
    val spark = samples.sparkSession
    import spark.implicits._
    Samples.monotonicDedup(samples)
      .select(col("channel"), col("ts"), col("value"))
      .as[(String, Long, Option[Double])]
      .repartition(col("channel"))
      .sortWithinPartitions("channel", "ts")
      .mapPartitions[DecimatorCore.Out] { (rows: Iterator[(String, Long, Option[Double])]) =>
        new Iterator[DecimatorCore.Out] {
          private val src = rows.buffered
          private var pending: Iterator[DecimatorCore.Out] = Iterator.empty
          private def fill(): Unit = {
            while (!pending.hasNext && src.hasNext) {
              val ch = src.head._1
              val chRows = new Iterator[(Long, Option[Double])] {
                def hasNext: Boolean = src.hasNext && src.head._1 == ch
                def next(): (Long, Option[Double]) = {
                  val r = src.next(); (r._2, r._3)
                }
              }
              pending = DecimatorCore.run(ch, chRows, periodNanos)
            }
          }
          def hasNext: Boolean = { fill(); pending.hasNext }
          def next(): DecimatorCore.Out = { fill(); pending.next() }
        }
      }
      .toDF()
  }

  /** A6 — mixed-type dispatch (ChannelAccessSampleDecimator's
    * resolution rule, re-derived): per window, one aggregate per
    * encountered `vtype`; if a non-aggregatable type (`string`) is
    * present the window falls back to pick-first of the window's first
    * sample's type; otherwise the winner is the type with the longest
    * covered period (markers may win → marker output). Two-level plan:
    * per-type aggregates, then a deterministic winner selection via
    * window functions — no per-row state.
    */
  def decimateTyped(samples: DataFrame, periodNanos: Long): DataFrame = {
    val sl = slices(samples, periodNanos)
    // decimal-routed sums like every other gated aggregation — plain
    // double sums are partial-merge-order-dependent and flake at the
    // 6dp rounding edge
    val wCov = exactSum(when(col("value").isNotNull, col("weight")).otherwise(lit(0.0)))
    val m = exactSum(col("weight") * col("value")) / wCov
    val variance = exactSum(col("weight") * col("value") * col("value")) / wCov - m * m
    val lvl1 = sl.groupBy("channel", "win", "vtype").agg(
      exactSum(col("weight")).as("cov"),
      m.as("mean"),
      when(variance < lit(1e-9), lit(0.0)).otherwise(sqrt(variance)).as("std"),
      min(col("lo")).as("first_lo"),
      min_by(col("str_value"), col("lo")).as("first_str"))
    val w = Window.partitionBy("channel", "win")
    val annotated = lvl1
      .withColumn("has_string",
        max(when(col("vtype") === "string", 1).otherwise(0)).over(w))
      .withColumn("first_vtype",
        min_by(col("vtype"), col("first_lo")).over(w))
    val selKey = struct(
      when(col("has_string") === 1,
        when(col("vtype") === col("first_vtype"), 0).otherwise(1))
        .otherwise(0).as("k1"),
      when(col("has_string") === 0, lit(0.0) - col("cov")).otherwise(lit(0.0)).as("k2"),
      col("vtype").as("k3"))
    val wSel = Window.partitionBy("channel", "win").orderBy(selKey)
    annotated
      .withColumn("rn", row_number().over(wSel))
      .where(col("rn") === 1)
      .select(
        col("channel"), col("win").as("win_start"),
        col("vtype").as("win_type"),
        when(col("has_string") === 0 && col("vtype") === "double", col("mean"))
          .as("mean"),
        when(col("has_string") === 0 && col("vtype") === "double", col("std"))
          .as("std"),
        when(col("has_string") === 1 || col("vtype") =!= "double",
          col("first_str")).as("first_value"),
        (col("cov") / lit(periodNanos.toDouble)).as("covered_fraction"))
  }

  /** A2 — re-aggregation: merge fine-grained aggregates (period
    * `sourcePeriodNanos`, which must divide `targetPeriodNanos`) into
    * coarser ones without revisiting raw data — the reference's
    * cascaded decimation (AggregatedScalarDoubleAggregator.java:62-109).
    * Each source row's weight is its period × covered fraction;
    * Σw·mean and Σw·(std² + mean²) recover the merged mean/std.
    * This is Spark's partial→final aggregate merge made explicit and
    * persisted — the medallion cascade that makes 100 TB of raw data
    * queryable at interactive resolution.
    */
  def reAggregate(decimated: DataFrame, sourcePeriodNanos: Long,
                  targetPeriodNanos: Long): DataFrame = {
    require(targetPeriodNanos % sourcePeriodNanos == 0,
      s"source period $sourcePeriodNanos must divide target $targetPeriodNanos")
    // All three weighted sums are decimal-routed ([[exactSum]]): the
    // merge is run over already-reduced aggregates, so a single
    // half-ULP of partial-merge reorder shows up directly in the 6dp
    // output — this was the one flaky cell in round 1's gate.
    val w = lit(sourcePeriodNanos.toDouble) * col("covered_fraction")
    val sumW = exactSum(w)
    val m = exactSum(w * col("mean")) / sumW
    val variance =
      exactSum(w * (col("std") * col("std") + col("mean") * col("mean"))) / sumW - m * m
    decimated
      .groupBy(col("channel"),
        Samples.windowStart(col("win_start"), targetPeriodNanos).as("win_start"))
      .agg(
        m.as("mean"),
        when(variance < lit(1e-9), lit(0.0)).otherwise(sqrt(variance)).as("std"),
        min(col("min_value")).as("min_value"),
        max(col("max_value")).as("max_value"),
        (sumW / lit(targetPeriodNanos.toDouble)).as("covered_fraction"),
        sum(col("n_samples")).as("n_samples"))
  }

  /** Engine-exact variant of [[reAggregate]] for oracle gating: fine
    * inputs are quantized to the 6dp grid (the precision the
    * `arch_decimate_1h` gate already proves identical across engines),
    * and the two output columns whose rounding can land on exact
    * decimal ties — mean and covered_fraction — are computed with
    * integer half-up division, so ANY engine produces bit-identical
    * doubles. std is IEEE-double sqrt on the same integers, rounded to
    * 6dp by multiply→scale-0-round→divide so the rounding itself is
    * also the identical op sequence on every engine (plain
    * `round(x, 6)` scales differently per engine and can flip a digit
    * within one ULP of a 6dp tie). Semantics are reAggregate's;
    * outputs are pre-rounded to 6dp. Production cascades use
    * [[reAggregate]] (full precision); this exists because a
    * full-precision merge amplifies library-level half-ULP differences
    * between engines into 6dp digit flips at the comparison edge.
    */
  def reAggregateExact(decimated: DataFrame, sourcePeriodNanos: Long,
                       targetPeriodNanos: Long): DataFrame = {
    require(targetPeriodNanos % sourcePeriodNanos == 0,
      s"source period $sourcePeriodNanos must divide target $targetPeriodNanos")
    val k = targetPeriodNanos / sourcePeriodNanos
    // single-step quantization: multiply → scale-0 round is the same
    // IEEE sequence on every engine; an inner round(c, 6) would
    // reintroduce the per-engine fractional-rounding difference at
    // 6dp ties (which the merge's grid-aligned rationals hit
    // systematically, not at random)
    val micro = (c: Column) => round(c * lit(1e6)).cast("long")
    // exact integer division for non-negative operands, in DECIMAL:
    // the (a - pmod(a,b)) difference is an exact multiple of b, and
    // decimal arithmetic keeps it exact at ANY magnitude — the earlier
    // long→double formulation silently lost ulps past 2^53 (|mean|
    // ≳ 750 at k=6), the exact failure mode this function exists to
    // prevent
    val dec38 = (c: Column) => c.cast("decimal(38,0)")
    val intDiv = (a: Column, b: Column) => (a - pmod(a, b)) / b
    // round-half-away-from-zero of n/d as an integer, d > 0
    val halfUp = (n: Column, d: Column) => {
      val (nd, dd) = (dec38(n), dec38(d))
      when(nd >= 0, intDiv(nd * 2 + dd, dd * 2))
        .otherwise(-intDiv(-(nd * 2) + dd, dd * 2))
    }
    val dec20 = (c: Column) => c.cast("decimal(20,0)")
    val q = decimated.select(col("channel"), col("win_start"),
      micro(col("mean")).as("m6"), micro(col("std")).as("s6"),
      micro(col("covered_fraction")).as("cf6"),
      col("min_value"), col("max_value"), col("n_samples"))
    val agg = q.groupBy(col("channel"),
        Samples.windowStart(col("win_start"), targetPeriodNanos).as("win_start"))
      .agg(
        sum(dec20(col("cf6")) * dec20(col("m6"))).as("num_m"),
        sum(col("cf6")).as("den"),
        // cf6·(s6²+m6²) exceeds 2^63 — exact via decimal
        sum(dec20(col("cf6")) *
          dec20(col("s6") * col("s6") + col("m6") * col("m6"))).as("num_v"),
        min(col("min_value")).as("min_value"),
        max(col("max_value")).as("max_value"),
        sum(col("n_samples")).as("n_samples"))
    val md = col("num_m").cast("double") / col("den").cast("double") / lit(1e6)
    val varr = col("num_v").cast("double") /
      (col("den").cast("double") * lit(1e12)) - md * md
    agg.select(
      col("channel"), col("win_start"),
      when(col("den") === 0, lit(null).cast("double"))
        .otherwise(halfUp(col("num_m"), col("den")).cast("double") / lit(1e6))
        .as("mean"),
      // std is rounded by multiply→round(scale 0)→divide rather than
      // round(x, 6): engines implement fractional rounding differently
      // (Spark rounds the exact decimal expansion via BigDecimal;
      // DuckDB scales by 1e6 in IEEE double first), so within one ULP
      // of a 6dp tie round(x, 6) can disagree across engines. The
      // scaled sequence below is the same IEEE ops on every engine,
      // and scale-0 rounding of identical doubles always agrees
      // (both round ties away from zero).
      when(col("den") === 0, lit(null).cast("double"))
        .otherwise(
          round(when(varr < lit(1e-9), lit(0.0)).otherwise(sqrt(varr)) *
            lit(1e6)).cast("long").cast("double") / lit(1e6))
        .as("std"),
      col("min_value"), col("max_value"),
      (halfUp(col("den"), lit(k)).cast("double") / lit(1e6)).as("covered_fraction"),
      col("n_samples"))
  }

  /** [[reAggregate]] with the flush-on-crossing rule applied at the
    * coarse level: a coarse window is emitted only when a fine window
    * at-or-after its end exists (the same gate the live cascade uses,
    * ArchivedChannelDecimatedSamplesDecimationLevel.java:954-1047).
    * Written windows are then immutable — the property incremental
    * catch-up ([[Cascade.catchUp]]) relies on.
    */
  def reAggregateFlushed(decimated: DataFrame, sourcePeriodNanos: Long,
                         targetPeriodNanos: Long): DataFrame = {
    val fineMax = decimated.groupBy(col("channel"))
      .agg(max(col("win_start")).as("_fine_max"))
    reAggregate(decimated, sourcePeriodNanos, targetPeriodNanos)
      .join(broadcast(fineMax), Seq("channel"))
      // same crossing convention as the live reAggregateStream: a fine
      // window starting at-or-after the coarse end flushes it
      .where(col("win_start") + lit(targetPeriodNanos) <= col("_fine_max"))
      .drop("_fine_max")
  }

  /** A8 — source-level selection for the decimation cascade: the source
    * for a target period is the configured level with the largest
    * period that properly divides it, else raw (level 0)
    * (ArchivedChannel.java:766-793).
    */
  def selectSourcePeriod(targetPeriodSec: Long, available: Seq[Long]): Long =
    available
      .filter(p => p != 0 && p < targetPeriodSec && targetPeriodSec % p == 0)
      .sorted.lastOption.getOrElse(0L)
}
