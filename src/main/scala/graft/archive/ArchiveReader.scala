package graft.archive

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-range query semantics of the reference's read path
  * (ArchiveAccessService.java:55-135, ArchiveAccessServiceImpl.java) —
  * re-expressed as declarative plans. The reference's six-phase bucket
  * walk (find boundary bucket → boundary sample → regular buckets →
  * per-bucket scans) collapses to: a pushed-down range filter, plus a
  * per-channel top-1 aggregate for each widened boundary. Catalyst
  * pushes the ts predicate into the parquet scan (row-group min/max
  * skipping replaces the bucket index — SURVEY.md §4).
  */
object ArchiveReader {

  /** Boundary handling per bound — TimeStampLimitMode.java. */
  sealed trait LimitMode
  /** Bound is a hard cut: only samples inside [lo, hi]. */
  case object Exact extends LimitMode
  /** Lower bound widened to the last sample at-or-before it;
    * upper bound widened to the first sample at-or-after it. */
  case object AtOrWidened extends LimitMode

  /** When the frame carries `ts_raw` (the untruncated source
    * timestamp as a plain attribute), add a widened, *pushable*
    * predicate on it alongside the exact predicate on the derived
    * canonical `ts`. The raw value is within [ts, ts+999] of the
    * canonical one, so the widened bound never drops a matching row —
    * it only lets Parquet prune row groups / partitions that the exact
    * (non-pushable) predicate would otherwise scan in full.
    */
  private def pushdownHint(samples: DataFrame, lo: Option[Long],
                           hi: Option[Long]): DataFrame =
    if (!samples.columns.contains("ts_raw")) samples
    else {
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      val slack = graft.core.Samples.RawSlackNs
      // The raw column keeps its parquet-native type so the predicate
      // can match row-group statistics: Long = legacy ns; timestamp
      // types = µs instants. Bounds are widened outward on conversion
      // (floor on both sides; the hi slack absorbs sub-µs truncation)
      // so the hint can only over-select, never drop a matching row.
      def bound(ns: Long): Any = samples.schema("ts_raw").dataType match {
        case LongType => ns
        case TimestampNTZType =>
          val us = Math.floorDiv(ns, 1000L)
          java.time.LocalDateTime.ofEpochSecond(
            Math.floorDiv(us, 1000000L),
            (Math.floorMod(us, 1000000L) * 1000L).toInt,
            java.time.ZoneOffset.UTC)
        case TimestampType =>
          val us = Math.floorDiv(ns, 1000L)
          java.time.Instant.ofEpochSecond(
            Math.floorDiv(us, 1000000L),
            Math.floorMod(us, 1000000L) * 1000L)
        case other =>
          throw new IllegalStateException(s"unsupported ts_raw type: $other")
      }
      val withLo = lo.map(l => samples.where(col("ts_raw") >= lit(bound(l))))
        .getOrElse(samples)
      hi.map { h =>
        val hWide = if (h > Long.MaxValue - slack) Long.MaxValue else h + slack
        withLo.where(col("ts_raw") <= lit(bound(hWide)))
      }.getOrElse(withLo)
    }

  /** S5/F1/O1 — inclusive range scan, time-ascending. */
  def rangeScan(samples: DataFrame, lo: Long, hi: Long): DataFrame =
    pushdownHint(samples, Some(lo), Some(hi))
      .where(col("ts").between(lo, hi))

  /** W4 — last sample at-or-before `t`, per channel: a per-channel
    * argmax. `max_by` keeps it a regular (partial-merge) aggregate —
    * no window shuffle, no sort (Catalyst plans partial max_by per
    * input partition, then one merge).
    */
  def boundaryBefore(samples: DataFrame, t: Long): DataFrame =
    topOfChannel(pushdownHint(samples, None, Some(t)).where(col("ts") <= t),
      asc = false)

  /** W4 — first sample at-or-after `t`, per channel. */
  def boundaryAfter(samples: DataFrame, t: Long): DataFrame =
    topOfChannel(pushdownHint(samples, Some(t), None).where(col("ts") >= t),
      asc = true)

  private val sampleCols =
    Seq("ts", "value", "str_value", "severity", "status", "sample_id")

  /** Per-channel argmin/argmax of ts, returning whole rows.
    * Ties are impossible after monotonic dedup (strictly increasing ts
    * per channel), and broken by sample_id otherwise.
    */
  private def topOfChannel(samples: DataFrame, asc: Boolean): DataFrame = {
    val key = struct((if (asc) Seq(col("ts"), col("sample_id"))
                      else Seq(lit(0L) - col("ts"), lit(0L) - col("sample_id"))): _*)
    val row = struct(sampleCols.map(col): _*)
    samples.groupBy("channel")
      .agg(min_by(row, key).as("r"))
      .select(col("channel") +: sampleCols.map(c => col(s"r.$c").as(c)): _*)
  }

  /** F2 — the full getSamples contract: range [lo, hi] with a limit
    * mode per bound (ArchiveAccessService.java:77-103). With both
    * bounds widened the result is
    *   {last sample <= lo} ∪ {samples in (lo, hi)} ∪ {first sample >= hi}
    * which reproduces the reference's 0/1/2-sample matrix when lo == hi
    * (a sample exactly at the bound *is* its own boundary sample).
    * Time-ascending output.
    */
  /** Input contract: a monotonic-deduped frame (one sample per
    * (channel, ts) — [[graft.core.Samples.monotonicDedup]]); with
    * duplicate canonical timestamps the final per-(channel, ts) dedup
    * would keep an arbitrary one. Row ORDER of the result is
    * unspecified (union + dedup shuffle) — callers that serve
    * time-ascending output add their own orderBy, like the reference's
    * serving edge sorts before serialization.
    */
  def getSamples(samples: DataFrame, lo: Long, loMode: LimitMode,
                 hi: Long, hiMode: LimitMode): DataFrame = {
    require(lo <= hi, s"lo $lo must be <= hi $hi")
    val lower = loMode match {
      // "the sample exactly at the bound" — a point lookup, not a
      // range scan filtered back down
      case Exact => pushdownHint(samples, Some(lo), Some(lo))
        .where(col("ts") === lo)
      case AtOrWidened => boundaryBefore(samples, lo)
    }
    val upper = hiMode match {
      case Exact => pushdownHint(samples, Some(hi), Some(hi))
        .where(col("ts") === hi)
      case AtOrWidened => boundaryAfter(samples, hi)
    }
    val inner = pushdownHint(samples, Some(lo), Some(hi))
      .where(col("ts") > lo && col("ts") < hi)
    val cols = (col("channel") +: sampleCols.map(col)): Seq[Column]
    lower.select(cols: _*)
      .unionByName(inner.select(cols: _*))
      .unionByName(upper.select(cols: _*))
      // a sample exactly at lo==hi satisfies both boundary lookups
      .dropDuplicates("channel", "ts")
  }

  /** S6/O2 — newest k samples per channel (the reference's
    * reverse-order LIMIT k used for boundary discovery and "latest
    * value" serving). Window + row_number keeps it one shuffle; at
    * scale this is a per-channel top-k, which AQE executes with
    * partial limits per map task.
    */
  def reverseTopK(samples: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("channel").orderBy(col("ts").desc, col("sample_id").desc)
    samples.withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .drop("rn")
  }

  /** O3 — bounded fetch: the first `k` samples at-or-after `lo` per
    * channel, time-ascending (the reference's `count`-limited forward
    * fetch; SAMPLES_LIMIT_UNBOUNDED = no limit → use rangeScan).
    */
  def boundedFetch(samples: DataFrame, lo: Long, hi: Long, k: Int): DataFrame = {
    val w = Window.partitionBy("channel").orderBy(col("ts"), col("sample_id"))
    rangeScan(samples, lo, hi)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .drop("rn")
  }

  /** J3 — as-of lookup: for each (channel, grid time), the last sample
    * at-or-before that time. Implemented as the union-merge as-of
    * pattern: probe rows are interleaved with samples in one per-channel
    * time order and `last(value, ignoreNulls)` carries the held sample
    * forward — O(n log n) per channel, one shuffle, no O(n·m) join.
    * `grid` must have columns (channel, g).
    */
  def asOfLookup(samples: DataFrame, grid: DataFrame): DataFrame = {
    val probes = grid.select(
      col("channel"), col("g").as("ts"),
      lit(null).cast("double").as("value"),
      lit(null).cast("long").as("sample_ts"),
      lit(1).as("is_probe"))
    val data = samples.select(
      col("channel"), col("ts"),
      col("value"), col("ts").as("sample_ts"),
      lit(0).as("is_probe"))
    // samples sort before probes at equal ts (is_probe asc) so a sample
    // exactly at the probe time is visible to it (at-or-before).
    val w = Window.partitionBy("channel").orderBy(col("ts"), col("is_probe"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // hold the last SAMPLE ROW (a non-null struct even when its value
    // is null): a marker sample (disconnected/disabled, value = null)
    // must be held like any other — last(value, ignoreNulls) would skip
    // it and report the stale pre-marker value during an outage
    val held = last(
      when(col("is_probe") === 0, struct(col("value"), col("sample_ts"))),
      ignoreNulls = true).over(w)
    data.unionByName(probes)
      .withColumn("_held", held)
      .where(col("is_probe") === 1)
      .select(col("channel"), col("ts").as("g"),
        col("_held.value").as("held_value"),
        col("_held.sample_ts").as("held_ts"))
  }

  /** U1 — retention-aware multi-resolution union: serve recent time
    * from a fine level and older time from a coarser one, with disjoint
    * range predicates so rows never overlap
    * (Api10Controller.java:446-518). Both inputs must expose
    * (channel, ts, value); `level` tags provenance.
    */
  def multiLevelUnion(fine: DataFrame, fineLevel: Long,
                      coarse: DataFrame, coarseLevel: Long,
                      cutover: Long): DataFrame = {
    val a = coarse.where(col("ts") < cutover)
      .select(col("channel"), col("ts"), col("value"), lit(coarseLevel).as("level"))
    val b = fine.where(col("ts") >= cutover)
      .select(col("channel"), col("ts"), col("value"), lit(fineLevel).as("level"))
    a.unionByName(b)
  }

  /** ST9 — retention: keep only samples whose time is within
    * `retentionNanos` of the channel's latest sample
    * (ArchivedChannelDecimationLevel.java:602-640; retention 0 = keep
    * forever). As a storage operation this is a partition drop /
    * `DELETE WHERE`; as a plan it is this filter.
    */
  def retain(samples: DataFrame, retentionNanos: Long): DataFrame =
    if (retentionNanos == 0L) samples
    else {
      val w = Window.partitionBy("channel")
      samples.withColumn("_t_max", max(col("ts")).over(w))
        .where(col("ts") >= col("_t_max") - retentionNanos)
        .drop("_t_max")
    }

  /** Gap report — the archiver operator's "where is my data missing"
    * query: per channel, every inter-sample gap STRICTLY longer than
    * `thresholdSec`, as (channel, gap_start, gap_end, gap_ns). The
    * reference's users infer outages from the sample API by hand; this
    * serves them directly. One channel-clustered shuffle (lag window),
    * linear in samples — at 100 TB the lag rides the same partition
    * the range scan already clusters on.
    */
  def gapReport(samples: DataFrame, thresholdSec: Long): DataFrame = {
    val w = Window.partitionBy("channel").orderBy("ts")
    samples
      .withColumn("_prev", lag(col("ts"), 1).over(w))
      .where(col("_prev").isNotNull &&
        col("ts") - col("_prev") > thresholdSec * graft.core.Samples.NS)
      .select(col("channel"), col("_prev").as("gap_start"),
        col("ts").as("gap_end"), (col("ts") - col("_prev")).as("gap_ns"))
  }

  /** Rate of change — the slew-rate analytic (alarm systems trigger on
    * dv/dt): per sample, (value − prev_value)·1e9/(ts − prev_ts) in
    * units per second, per channel. First sample of a channel has no
    * rate and is omitted. Same one-lag window as [[gapReport]]; the
    * integer ts difference subtracts exactly before the one double
    * division, mirrored op-for-op in the oracle.
    */
  def rateOfChange(samples: DataFrame): DataFrame = {
    val w = Window.partitionBy("channel").orderBy("ts")
    samples
      .withColumn("_pt", lag(col("ts"), 1).over(w))
      .withColumn("_pv", lag(col("value"), 1).over(w))
      .where(col("_pt").isNotNull)
      .select(col("channel"), col("ts"), col("value"),
        ((col("value") - col("_pv")) * lit(1e9) /
          (col("ts") - col("_pt")).cast("double")).as("rate_per_sec"))
  }

  // the one shared scaled-round sequence (multiply → scale-0 round →
  // divide): engine-deterministic at systematic 6dp ties, unlike
  // plain round(x, 6)
  private def sr6(c: Column): Column =
    round(c * lit(1e6)).cast("long").cast("double") / lit(1e6)

  /** Per-channel health report — the cross-family composition an
    * archiver operator reads first thing in the morning: sample count
    * and last-seen time, number of data gaps over `gapThresholdSec`
    * ([[gapReport]]), the worst slew rate ([[rateOfChange]]), and the
    * number of trailing-window anomalies (|z| > `zThreshold` against
    * the channel's own `windowSec` window, [[Rolling.zscore]] — the
    * linear walker, so the whole report is one pass per family).
    * Channels too short for a family report NULL max rate / zero
    * counts, never a missing row.
    *
    * The anomaly threshold compares the 6dp scale-rounded z on both
    * engines — an unrounded comparison within half a ULP of the
    * threshold could flip the count between engines.
    */
  def healthReport(samples: DataFrame, gapThresholdSec: Long,
                   windowSec: Long, zThreshold: Double): DataFrame = {
    val base = samples.groupBy("channel").agg(
      count(lit(1)).as("n_samples"), max(col("ts")).as("last_ts"))
    val gaps = gapReport(samples, gapThresholdSec)
      .groupBy("channel").agg(count(lit(1)).as("n_gaps"))
    val rate = rateOfChange(samples)
      .groupBy("channel")
      .agg(max(abs(col("rate_per_sec"))).as("_mar"))
    val anom = Rolling.zscore(samples, windowSec)
      .where(abs(sr6(col("zscore"))) > zThreshold)
      .groupBy("channel").agg(count(lit(1)).as("n_anomalies"))
    base
      .join(gaps, Seq("channel"), "left")
      .join(rate, Seq("channel"), "left")
      .join(anom, Seq("channel"), "left")
      .select(col("channel"), col("n_samples"), col("last_ts"),
        coalesce(col("n_gaps"), lit(0L)).as("n_gaps"),
        sr6(col("_mar")).as("max_abs_rate"),
        coalesce(col("n_anomalies"), lit(0L)).as("n_anomalies"))
  }

  /** Linear-interpolation resample onto an explicit (channel, g) grid
    * — the "smooth chart at fixed resolution" read the reference's
    * sample-and-hold serving approximates. Semantics per grid point:
    * a sample exactly at `g` serves as-is; between two samples it
    * serves v0 + (v1 − v0)·(g − ts0)/(ts1 − ts0); outside the sampled
    * span it is NULL (no extrapolation). Null-VALUED samples (marker
    * rows) are not endpoints — interpolation bridges across them.
    *
    * The [[asOfLookup]] union-merge idiom run in BOTH directions: one
    * channel-clustered shuffle, no join, no per-probe scans — the
    * neighbor lookups are `last` over a GROWING frame in each
    * direction. Both directions deliberately use the incremental
    * UnboundedPreceding..CurrentRow frame (the "after" neighbor comes
    * from a reversed-order window, costing a second in-partition
    * sort): Spark's UnboundedFollowing frame processor re-evaluates
    * its aggregate from the current row to the partition end for
    * EVERY row — O(n²) per channel, measured 165 s on the sf0.1 gate
    * vs sub-second for the two growing frames. Timestamp differences
    * subtract as integers FIRST (exact — spans stay far below 2^53)
    * and cast to double for the one division, the same op order as
    * the DuckDB oracle mirror.
    */
  def resampleLinear(samples: DataFrame, grid: DataFrame): DataFrame = {
    val probes = grid.select(col("channel"), col("g").as("ts"),
      lit(null).cast("double").as("value"), lit(1).as("is_probe"))
    // null-VALUED samples (disabled/disconnected marker rows) are not
    // interpolation endpoints: without this filter the struct-paired
    // neighbor lookup would hold a (ts, null) struct — advancing ts0
    // but serving a null value — while a per-field IGNORE NULLS
    // formulation (the DuckDB oracle) would advance ts0 and keep the
    // older v0, i.e. the two disagree exactly when markers flow
    // through. Skipping markers entirely is the well-defined contract:
    // interpolation bridges across a marker as if it were a gap, and
    // the oracle mirrors the same filter.
    val data = samples.where(col("value").isNotNull)
      .select(col("channel"), col("ts"), col("value"),
        lit(0).as("is_probe"))
    // ascending: samples sort before probes at equal ts, so an
    // exact-time sample is on the "before" side of its probe
    val wb = Window.partitionBy("channel")
      .orderBy(col("ts"), col("is_probe"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // descending: probes sort before equal-ts samples (is_probe desc),
    // so the "after" neighbor is the nearest STRICTLY-later sample —
    // the same exclusion the ascending side's tie rule implies
    val wa = Window.partitionBy("channel")
      .orderBy(col("ts").desc, col("is_probe").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val sRow = when(col("is_probe") === 0, struct(col("ts"), col("value")))
    val u = data.unionByName(probes)
      .withColumn("_b", last(sRow, ignoreNulls = true).over(wb))
      .withColumn("_a", last(sRow, ignoreNulls = true).over(wa))
    val f = (col("ts") - col("_b.ts")).cast("double") /
      (col("_a.ts") - col("_b.ts")).cast("double")
    val v = when(col("_b.ts") === col("ts"), col("_b.value"))
      .when(col("_b").isNotNull && col("_a").isNotNull,
        col("_b.value") + (col("_a.value") - col("_b.value")) * f)
    u.where(col("is_probe") === 1)
      .select(col("channel"), col("ts"), v.as("value"))
  }
}
