package graft.archive

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{Samples, TypedSamples}

/** Tumbling-window decimation over the full 21-type value union —
  * the reference's ChannelAccessSampleDecimator.java:124-296 dispatch
  * re-expressed as a two-level Catalyst aggregation:
  *
  *  1. per (channel, window, type): the per-type aggregator state —
  *     covered period (aggregated inputs weighted by their own covered
  *     fraction, truncated to whole ns like the reference's
  *     AggregatedScalarDoubleAggregator.java:84-92), decimal-routed
  *     weighted sums, element min/max, severity propagation, and the
  *     first sample's full payload (the pick-first candidate);
  *  2. per (channel, window): the type-dispatch rule — a single type
  *     uses its own aggregator; several types use the aggregatable
  *     type with the longest covered period when nothing but markers
  *     and aggregatables are present (ties break in enum declaration
  *     order), otherwise the first-arriving type
  *     (ChannelAccessSampleDecimator.java:127-190).
  *
  * Both levels are plain aggregates: level 2 collects level 1's ≤21
  * rows per window into an array and resolves the dispatch with
  * higher-order functions — no join, no second pass over slices, and
  * the expensive level-1 shuffle is the only full-data movement.
  */
object TypedDecimation {

  /** One-pass sorted execution of the same dispatch: per-channel
    * repartition + in-partition sort, then the
    * [[TypedDecimatorCore]] state machine over each channel run — the
    * typed sibling of [[Decimation.decimateSorted]], completing
    * declarative ≡ streaming ≡ one-pass for the full 21-type model.
    */
  def decimateSorted(typed: DataFrame, periodNanos: Long): DataFrame = {
    val spark = typed.sparkSession
    import spark.implicits._
    import TypedDecimatorCore.TValue
    Samples.monotonicDedup(typed)
      .select(col("channel"), col("ts"),
        struct(col("vtype"), col("value").as("value"),
          col("str_value").as("strValue"), col("enum_value").as("enumValue"),
          col("labels").as("labels"), col("arr_num").as("arrNum"),
          col("arr_str").as("arrStr"), col("agg_mean").as("aggMean"),
          col("agg_std").as("aggStd"), col("agg_min").as("aggMin"),
          col("agg_max").as("aggMax"), col("agg_cov").as("aggCov"),
          col("severity").as("severity"), col("status").as("status"))
          .as("v"))
      .as[(String, Long, TValue)]
      .repartition(col("channel"))
      .sortWithinPartitions("channel", "ts")
      .mapPartitions[TypedDecimatorCore.Out] {
        (rows: Iterator[(String, Long, TValue)]) =>
        new Iterator[TypedDecimatorCore.Out] {
          private val src = rows.buffered
          private var pending: Iterator[TypedDecimatorCore.Out] = Iterator.empty
          private def fill(): Unit = {
            while (!pending.hasNext && src.hasNext) {
              val ch = src.head._1
              val chRows = new Iterator[(Long, TValue)] {
                def hasNext: Boolean = src.hasNext && src.head._1 == ch
                def next(): (Long, TValue) = {
                  val r = src.next(); (r._2, r._3)
                }
              }
              pending = TypedDecimatorCore.run(ch, chRows, periodNanos)
            }
          }
          def hasNext: Boolean = { fill(); pending.hasNext }
          def next(): TypedDecimatorCore.Out = { fill(); pending.next() }
        }
      }
      .toDF()
  }

  /** Convert decimation output back into a typed sample frame (the
    * batch analog of [[TypedDecimatorCore.asInput]]): aggregated
    * windows become aggregated_* input samples stamped at the window
    * start, pick-first windows re-enter as their first sample's
    * payload. Feeding this to [[decimate]] at a coarser period is the
    * typed cascade hop (A8); storing it persists a typed decimation
    * level.
    */
  def asTypedSamples(decimated: DataFrame): DataFrame = {
    val isAgg = col("vtype").startsWith("aggregated_")
    decimated.select(
      col("channel"), col("win_start").as("ts"), col("vtype"),
      col("first_value").as("value"), col("first_str").as("str_value"),
      col("enum_value"), col("labels"), col("arr_num"), col("arr_str"),
      when(isAgg, col("mean")).as("agg_mean"),
      when(isAgg, col("std")).as("agg_std"),
      when(isAgg, col("min_value")).as("agg_min"),
      when(isAgg, col("max_value")).as("agg_max"),
      when(isAgg, col("covered_fraction")).as("agg_cov"),
      coalesce(col("max_severity"), col("severity")).as("severity"),
      coalesce(col("status_at_max"), col("status")).as("status"),
      col("meta_units"), col("meta_precision"),
      col("meta_display_low"), col("meta_display_high"),
      col("meta_warn_low"), col("meta_warn_high"),
      col("meta_alarm_low"), col("meta_alarm_high"),
      col("meta_control_low"), col("meta_control_high"),
      col("win_start").as("sample_id"))
  }

  private def rankExpr(c: Column): Column =
    TypedSamples.TypeRank.foldLeft(lit(-1)) { case (acc, (tag, r)) =>
      when(c === tag, lit(r)).otherwise(acc)
    }

  private def inSet(c: Column, s: Set[String]): Column =
    c.isin(s.toSeq: _*)

  /** Decimate a typed sample frame (schema of
    * [[TypedSamples.fromEvents]]) to `periodNanos` tumbling windows.
    * Output: one row per (channel, window) with the dispatched type
    * tag, the aggregate fields (aggregation route), the first sample's
    * payload (pick-first route), and the chosen type's first-sample
    * metadata in both routes.
    */
  def decimate(typed: DataFrame, periodNanos: Long): DataFrame =
    decimateFromValidity(
      Decimation.withValidity(Samples.monotonicDedup(typed)), periodNanos)

  private def decimateFromValidity(validity: DataFrame,
                                   periodNanos: Long): DataFrame = {
    val sl = Decimation.slicesFromValidity(validity, periodNanos)

    val isAggIn = col("vtype").startsWith("aggregated_")
    // aggregated inputs contribute (duration × their covered fraction)
    // truncated to whole ns — AggregatedScalarDoubleAggregator.java:84-92
    val wSlice = when(isAggIn,
      floor((col("hi") - col("lo")).cast("double") * col("agg_cov"))
        .cast("double"))
      .otherwise((col("hi") - col("lo")).cast("double"))
    val xMean = when(isAggIn, col("agg_mean")).otherwise(col("value"))
    // Σw·x² merges raw second moments; an aggregated input's second
    // moment is std² + mean² (AggregatedScalarDoubleAggregator.java:105-115)
    val xM2 = when(isAggIn,
      col("agg_std") * col("agg_std") + col("agg_mean") * col("agg_mean"))
      .otherwise(col("value") * col("value"))
    val minSrc = when(isAggIn, col("agg_min")).otherwise(col("value"))
    val maxSrc = when(isAggIn, col("agg_max")).otherwise(col("value"))

    val firstPayload = struct(
      col("value"), col("str_value"), col("enum_value"), col("labels"),
      col("arr_num"), col("arr_str"),
      col("agg_mean"), col("agg_std"), col("agg_min"), col("agg_max"),
      col("agg_cov"),
      col("severity"), col("status"),
      col("meta_units"), col("meta_precision"),
      col("meta_display_low"), col("meta_display_high"),
      col("meta_warn_low"), col("meta_warn_high"),
      col("meta_alarm_low"), col("meta_alarm_high"),
      col("meta_control_low"), col("meta_control_high"))

    val perType = sl
      .groupBy(col("channel"), col("win"), col("vtype"))
      .agg(
        sum(wSlice).as("covered_ns"), // integer-valued doubles: exact
        Decimation.exactSum(wSlice * xMean).as("sum_wx"),
        Decimation.exactSum(wSlice * xM2).as("sum_wx2"),
        min(minSrc).as("min_v"),
        max(maxSrc).as("max_v"),
        // max severity with the status of its earliest attaining sample
        // (AveragingSampleAggregator.java:114-141)
        max(struct(col("severity"), (lit(0L) - col("ts")).as("neg_ts"),
          col("status"))).as("sev_struct"),
        min(col("ts")).as("first_ts"),
        min_by(firstPayload, col("ts")).as("first"),
        count(lit(1)).as("n_samples"))

    val typeRow = struct(
      col("vtype"), col("covered_ns"), col("sum_wx"), col("sum_wx2"),
      col("min_v"), col("max_v"), col("sev_struct"), col("first"),
      col("n_samples"))

    val aggregatable = inSet(col("vtype"), TypedSamples.Aggregatable)
    val blocker = inSet(col("vtype"), TypedSamples.Blockers)

    val perWin = perType
      .groupBy(col("channel"), col("win").as("win_start"))
      .agg(
        collect_list(typeRow).as("types"),
        count(lit(1)).as("n_types"),
        max(when(blocker, 1).otherwise(0)).as("has_blocker"),
        // longest covered period among aggregatable types with
        // covered > 0; ties to the smallest enum ordinal
        max(when(aggregatable && col("covered_ns") > 0,
          struct(col("covered_ns"),
            (lit(0) - rankExpr(col("vtype"))).as("neg_rank"),
            col("vtype")))).as("best_agg"),
        min_by(col("vtype"), col("first_ts")).as("first_type"))

    val chosen =
      when(col("n_types") > 1 && col("has_blocker") === 0 &&
        col("best_agg").isNotNull, col("best_agg.vtype"))
        .otherwise(col("first_type"))

    val out = perWin
      .withColumn("chosen", chosen)
      .withColumn("t", expr("filter(types, x -> x.vtype = chosen)[0]"))
    val isAggOut = inSet(col("chosen"), TypedSamples.Aggregatable)
    val aggTag = TypedSamples.Aggregatable.toSeq.sorted
      .foldLeft(col("chosen")) { (acc, tag) =>
        when(col("chosen") === tag, lit(TypedSamples.aggregatedTag(tag)))
          .otherwise(acc)
      }
    // a zero-covered window chosen via the first-type fallback would
    // 0/0 — which THROWS under ANSI mode; the one-pass core's Java
    // division yields NaN, so NaN is the aligned value here
    val safeCov = when(col("t.covered_ns") > 0, col("t.covered_ns"))
    val mean = coalesce(col("t.sum_wx") / safeCov, lit(Double.NaN))
    val variance = coalesce(
      col("t.sum_wx2") / safeCov - mean * mean, lit(Double.NaN))

    out.select(
      col("channel"), col("win_start"),
      when(isAggOut, aggTag).otherwise(col("chosen")).as("vtype"),
      when(isAggOut, mean).as("mean"),
      when(isAggOut,
        when(variance < lit(1e-9), lit(0.0)).otherwise(sqrt(variance)))
        .as("std"),
      when(isAggOut, col("t.min_v")).as("min_value"),
      when(isAggOut, col("t.max_v")).as("max_value"),
      when(isAggOut, col("t.covered_ns") / lit(periodNanos.toDouble))
        .as("covered_fraction"),
      when(isAggOut, col("t.sev_struct.severity")).as("max_severity"),
      when(isAggOut, col("t.sev_struct.status")).as("status_at_max"),
      when(!isAggOut, col("t.first.value")).as("first_value"),
      col("t.first.str_value").as("first_str"),
      col("t.first.enum_value").as("enum_value"),
      col("t.first.labels").as("labels"),
      col("t.first.arr_num").as("arr_num"),
      col("t.first.arr_str").as("arr_str"),
      when(!isAggOut, col("t.first.severity")).as("severity"),
      when(!isAggOut, col("t.first.status")).as("status"),
      col("t.first.meta_units").as("meta_units"),
      col("t.first.meta_precision").as("meta_precision"),
      col("t.first.meta_display_low").as("meta_display_low"),
      col("t.first.meta_display_high").as("meta_display_high"),
      col("t.first.meta_warn_low").as("meta_warn_low"),
      col("t.first.meta_warn_high").as("meta_warn_high"),
      col("t.first.meta_alarm_low").as("meta_alarm_low"),
      col("t.first.meta_alarm_high").as("meta_alarm_high"),
      col("t.first.meta_control_low").as("meta_control_low"),
      col("t.first.meta_control_high").as("meta_control_high"),
      col("t.n_samples").as("n_samples"))
  }
}
