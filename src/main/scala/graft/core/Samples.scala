package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The canonical sample frame — the engine's equivalent of the
  * reference's `channel_access_samples` table
  * (ChannelAccessDatabaseAccess.java:1149-1230), flattened for a
  * columnar store:
  *
  * {{{
  * channel    string  -- channel name (reference: channel_name)
  * ts         long    -- nanoseconds since epoch (Sample.java:22-28)
  * value      double  -- scalar numeric value (the 21-way union promoted
  *                    -- to double; SURVEY.md §1.4)
  * str_value  string  -- non-numeric payload (strings/enums serialized)
  * severity   int     -- alarm severity 0=OK 1=MINOR 2=MAJOR 3=INVALID
  * status     int     -- alarm status code
  * sample_id  long    -- arrival sequence number (write-queue order)
  * }}}
  *
  * A row with `value IS NULL` is a marker sample (disabled /
  * disconnected, reference ChannelAccessDisabledSample /
  * DisconnectedSample): it occupies time but contributes no coverage,
  * exactly like the reference's marker types in decimation.
  */
object Samples {

  val NS: Long = 1000000000L

  /** Tumbling-window period helper: seconds → nanoseconds. */
  def periodNs(seconds: Long): Long = seconds * NS

  /** Adapt the synthetic `events` table into a canonical sample frame:
    * event_type → channel, ts (ns, truncated to µs so the DuckDB oracle
    * sees identical values), value, and alarm fields derived
    * deterministically from the json `props` payload.
    */
  def fromEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val k = get_json_object(col("props"), "$.k").cast("int")
    // the untruncated source column in its parquet-native type (Long ns
    // legacy, timestamp µs current) — predicates against it can reach
    // the scan's row-group statistics (see ArchiveReader.pushdownHint)
    val rawTs = if (ev.columns.contains("ts_src")) col("ts_src") else col("ts")
    ev.select(
      col("event_type").as("channel"),
      (col("ts") - pmod(col("ts"), lit(1000L))).as("ts"),
      col("value"),
      col("props").as("str_value"),
      pmod(k, lit(4)).cast("int").as("severity"),
      pmod(k, lit(8)).cast("int").as("status"),
      col("event_id").as("sample_id"),
      // the untruncated source timestamp, as a plain attribute: range
      // predicates on the (derived) canonical ts cannot reach the
      // parquet scan, but an equivalent widened predicate on ts_raw
      // can — ArchiveReader adds it automatically (see pushdownHint).
      rawTs.as("ts_raw"))
  }

  /** Max distance between canonical ts and the raw source timestamp
    * (µs truncation ⇒ raw ∈ [ts, ts + 999]).
    */
  val RawSlackNs: Long = 999L

  /** Render a canonical ns-Long timestamp as a `ts_raw` value of the
    * given physical type, so synthetic frames can be unioned with
    * [[fromEvents]] output regardless of which parquet timestamp type
    * the source table used. Session timezone is UTC (Tables pins it),
    * making the LTZ→NTZ cast the identity wall-clock mapping.
    */
  def rawTsFromNs(ts: Column, dt: org.apache.spark.sql.types.DataType): Column = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    // DECIMAL-routed ns→µs: Long/Long `/` is double division, and
    // 2024-epoch ns values round to multiples of 256 in the double
    // cast — ~1.5% of conversions came back one µs low, enough for
    // pushdownHint's lo bound to drop a genuinely matching row (see
    // ArchiveStore.microsCol)
    val us = ((ts - pmod(ts, lit(1000L))).cast("decimal(20,0)") / lit(1000L))
      .cast("long")
    dt match {
      case LongType         => ts
      case TimestampType    => timestamp_micros(us)
      case TimestampNTZType => timestamp_micros(us).cast(TimestampNTZType)
      case other =>
        throw new IllegalArgumentException(s"unsupported ts_raw type: $other")
    }
  }

  /** Marker-aware variant: severity 3 (INVALID) rows become marker
    * samples (null value) — models disconnected periods so decimation
    * coverage drops below 1 (reference ST8).
    */
  def fromEventsWithMarkers(spark: SparkSession, sfDir: String): DataFrame =
    fromEvents(spark, sfDir)
      .withColumn("value", when(col("severity") === 3, lit(null)).otherwise(col("value")))

  /** Typed variant for A6 mixed-type dispatch: a `vtype` discriminator
    * models the reference's 21-type union collapsed to three classes —
    * `double` (aggregatable), `string` (non-aggregatable payload in
    * str_value), `disconnected` (marker). Numeric value is null for
    * non-double rows.
    */
  def fromEventsTyped(spark: SparkSession, sfDir: String): DataFrame =
    fromEvents(spark, sfDir)
      .withColumn("vtype",
        when(col("severity") === 3, lit("disconnected"))
          .when(col("status") >= 6, lit("string"))
          .otherwise(lit("double")))
      .withColumn("value",
        when(col("vtype") === "double", col("value")).otherwise(lit(null)))

  /** F6 — out-of-order / duplicate drop. The reference's writer rejects
    * any sample whose ts is <= the last *written* ts, in arrival order
    * (ArchivedChannelDecimationLevel.java:394-424). Batch re-expression:
    * keep a row iff its ts is strictly greater than the running max ts
    * over all earlier-arriving rows of the same channel. After this,
    * ts is strictly increasing per channel in sample_id order.
    *
    * Scale note: one window shuffle on `channel`; at 100 TB this is the
    * same per-channel ordering invariant the reference enforces with its
    * single-writer queues — per-channel data must be sortable within an
    * executor, which holds because a single channel's arrivals are tiny
    * relative to the cluster (reference sizing: ≤50 KB/s per channel).
    */
  def monotonicDedup(samples: DataFrame): DataFrame = {
    val w = Window.partitionBy("channel").orderBy("sample_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    samples
      .withColumn("_prev_max_ts", max(col("ts")).over(w))
      .where(col("_prev_max_ts").isNull || col("ts") > col("_prev_max_ts"))
      .drop("_prev_max_ts")
  }

  /** Floor-align a nanosecond timestamp to a tumbling-window start,
    * epoch-aligned — `ts - ts mod period`, the reference's interval
    * alignment (ArchivedChannelDecimatedSamplesDecimationLevel.java:854-889).
    * pmod keeps it correct for pre-epoch timestamps too.
    */
  def windowStart(ts: Column, periodNanos: Long): Column =
    ts - pmod(ts, lit(periodNanos))
}
