package graft.archive

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-channel analytics over the archive — the queries an archiver
  * USER runs on top of the serving surface (the reference exposes raw
  * and decimated samples; finding which PVs move together, or how a
  * PV's values distribute, is what people fetch them FOR).
  */
object Analytics {

  /** Pearson correlation of one probe channel's decimated window
    * means against every other channel's, over exactly-aligned
    * windows — "which PVs move with this one" (correlated-channel
    * search, the first stop of any beam-physics incident analysis).
    *
    * Scale shape: probe-vs-all is LINEAR in channels (the all-pairs
    * matrix is O(C²) and never built); the probe's window series is
    * tiny (windows of one channel) and broadcasts into the join, so
    * the cost is one decimation pass + one channel-keyed aggregation.
    *
    * Determinism: window means quantize to the 6dp integer grid
    * BEFORE the moment sums, so Σx/Σy/Σxy/Σx²/Σy² are exact DECIMAL
    * integer sums (order-free); the closed-form correlation is then
    * one fixed-order double expression, scale-rounded at the edge.
    * A constant series (zero variance) gets corr 0, not NaN.
    */
  def correlatedChannels(samples: DataFrame, periodNanos: Long,
                         probe: String): DataFrame = {
    val g = Decimation.decimate(samples, periodNanos)
      .select(col("channel"), col("win_start"),
        round(col("mean") * lit(1e6)).cast("long").as("q"))
    val x = g.where(col("channel") === probe)
      .select(col("win_start"), col("q").as("x"))
    val y = g.where(col("channel") =!= probe)
      .select(col("channel").as("other"), col("win_start"),
        col("q").as("y"))
    val d = (c: Column) => c.cast("decimal(19,0)")
    val a = y.join(broadcast(x), Seq("win_start"))
      .groupBy("other")
      .agg(count(lit(1)).as("n"),
        sum(d(col("x"))).cast("double").as("sx"),
        sum(d(col("y"))).cast("double").as("sy"),
        sum(d(col("x")) * d(col("y"))).cast("double").as("sxy"),
        sum(d(col("x")) * d(col("x"))).cast("double").as("sxx"),
        sum(d(col("y")) * d(col("y"))).cast("double").as("syy"))
    val n = col("n").cast("double")
    val num = n * col("sxy") - col("sx") * col("sy")
    val den = sqrt(n * col("sxx") - col("sx") * col("sx")) *
      sqrt(n * col("syy") - col("sy") * col("sy"))
    val corr = when(den === 0.0, lit(0.0)).otherwise(num / den)
    a.select(col("other").as("channel"), col("n").as("n_windows"),
        (round(corr * lit(1e6)).cast("long").cast("double") / lit(1e6))
          .as("corr"))
      .orderBy(col("corr").desc, col("channel"))
  }

  /** Per-channel value histogram over fixed [lo, hi) bins (out-of-
    * range values clamp to the edge bins) — the distribution panel of
    * an archive viewer. One shuffle-free binning projection + one
    * map-side-combinable count; at 100 TB this is a scan whose output
    * is channels × bins rows.
    */
  def histogram(samples: DataFrame, bins: Int, lo: Double,
                hi: Double): DataFrame =
    // NaN is out-of-domain, not "bin 0": floor(NaN) cast to int is 0 in
    // Spark, which would silently count NaN samples in the lowest bin
    // (and diverge from engines whose cast rejects NaN) — exclude it
    // alongside NULL so both edge bins hold only real clamped values
    samples.where(col("value").isNotNull && !isnan(col("value")))
      .select(col("channel"),
        least(lit(bins - 1), greatest(lit(0),
          floor((col("value") - lit(lo)) * lit(bins) / lit(hi - lo))
            .cast("int"))).as("bin"))
      .groupBy("channel", "bin")
      .agg(count(lit(1)).as("n"))
      .select(col("channel"), col("bin"),
        (lit(lo) + col("bin").cast("double") * lit((hi - lo) / bins))
          .as("bin_lo"),
        col("n"))

  /** Largest-Triangle-Three-Buckets chart downsampling (Steinarsson
    * 2013) — the canonical "draw a month of raw data in 1000 pixels"
    * reducer a chart UI wants where the reference only offers
    * count-based decimation-level selection
    * (Api10Controller.java:382-456 picks a coarser LEVEL; LTTB picks
    * the k visually dominant RAW points). Classic LTTB is sequential
    * (each bucket's pick anchors on the previous bucket's PICK); this
    * is the standard parallel variant that anchors on the neighbor
    * buckets' AVERAGES instead, making every bucket independent — the
    * shape that runs on 1000 executors.
    *
    * Per channel over [lo, hi): k equal time buckets; bucket 0 keeps
    * its first point, bucket k−1 its last, every middle bucket the
    * point maximizing the triangle area spanned with the previous and
    * next non-empty buckets' (avg ts, avg value) anchors (a bucket
    * missing a neighbor keeps its first point; ties break to the
    * earliest ts).
    *
    * Scale shape: one scan + one (channel, bucket) partial-merge
    * aggregate for the anchors — channels × k rows, broadcast back —
    * then a per-(channel, bucket) top-1. No all-pairs, no per-channel
    * sort of raw data.
    *
    * Determinism: bucket ids are exact integer math (`div`, not a
    * double floor — (ts−lo)·k overflows the 2⁵³ double grid); anchor
    * averages route through DECIMAL sums; the area is one fixed-order
    * double expression mirrored verbatim in the oracle, with exact
    * integer-ts tie-breaks.
    */
  /** Bucket id for [lo, hi) split into k equal parts — the product
    * (ts−lo)·k overflows Long once window·k exceeds 2⁶³ (a 1-year
    * window at k=1000 is 3.2·10¹⁹), so it routes through DECIMAL(38)
    * where the integer `div` is exact at any realistic window. The
    * oracle mirrors with HUGEINT.
    */
  private def bucketId(lo: Long, hi: Long, k: Long): Column =
    least(lit(k - 1),
      expr(s"(cast(ts - ${lo}L as decimal(38,0)) * ${k}L) div ${hi - lo}L")
        .cast("long"))

  def lttb(samples: DataFrame, lo: Long, hi: Long, k: Int): DataFrame = {
    require(k >= 3, "lttb needs at least 3 buckets")
    val kL = k.toLong
    // arrival id: the duplicate-timestamp tiebreak for the per-bucket
    // pick (the ord2 ts is unique only on F6-clean inputs; a raw store
    // can hold a re-sent timestamp with different content, and the
    // pick must then take the FIRST ARRIVAL — the serving survivor
    // rule, found by DirectParityFuzzSpec)
    val sid =
      if (samples.columns.contains("sample_id")) col("sample_id")
      else lit(0L)
    val pts = samples
      .where(col("ts") >= lo && col("ts") < hi && col("value").isNotNull)
      .select(col("channel"), col("ts"), col("value"), sid.as("_sid"))
      .withColumn("bucket", bucketId(lo, hi, kL))
    val n = count(lit(1))
    val summary = pts.groupBy("channel", "bucket").agg(
      (sum(col("ts").cast("decimal(38,0)")).cast("double") / n).as("avg_ts"),
      (sum(col("value").cast("decimal(38,12)")).cast("double") / n)
        .as("avg_v"))
    val w = Window.partitionBy("channel").orderBy("bucket")
    val anchors = summary.select(col("channel"), col("bucket"),
      lag("avg_ts", 1).over(w).as("prev_ts"),
      lag("avg_v", 1).over(w).as("prev_v"),
      lead("avg_ts", 1).over(w).as("next_ts"),
      lead("avg_v", 1).over(w).as("next_v"))
    val scored = pts.join(broadcast(anchors), Seq("channel", "bucket"))
      .withColumn("area",
        abs((col("prev_ts") - col("next_ts")) *
            (col("value") - col("prev_v")) -
          (col("prev_ts") - col("ts").cast("double")) *
            (col("next_v") - col("prev_v"))))
      .withColumn("mid",
        col("bucket") > 0 && col("bucket") < (kL - 1) &&
          col("prev_ts").isNotNull && col("next_ts").isNotNull)
    // per-bucket top-1 as a HASH AGGREGATE, not a rank window: min_by
    // over the lexicographic (ord1, ord2) key is map-side combinable
    // and never sorts the scan (measured 1.5× on the 20M-row probe);
    // ord2 embeds the unique per-channel ts, so the key is unique and
    // min_by is deterministic — same pick as a row_number()=1 over
    // (ord1 asc, ord2 asc), which is what the oracle SQL runs
    scored
      .groupBy("channel", "bucket")
      .agg(min_by(struct(col("ts"), col("value")), struct(
        when(col("mid"), -col("area")).otherwise(lit(0.0)).as("o1"),
        when(col("bucket") === (kL - 1), -col("ts")).otherwise(col("ts"))
          .as("o2"),
        col("_sid").as("o3"))).as("pick"))
      .select(col("channel"), col("bucket"),
        col("pick.ts").as("ts"), col("pick.value").as("value"))
  }

  /** Per-(channel, severity) alarm dwell statistics over [lo, hi):
    * total nanoseconds spent at each severity (each sample's severity
    * holds until the next sample, the last until `hi` — the same
    * sample-and-hold validity the decimator uses), the number of
    * ENTRIES into that severity (transitions from a different one;
    * the first sample counts as an entry), and the sample count. The
    * reference stores alarm severity on every sample
    * (ChannelAccessDatabaseAccess.java:583-731) but offers no rollup —
    * "how long was this PV in MAJOR last week" is a manual client-side
    * walk there; here it is one lag/lead window + one partial-merge
    * aggregate, all exact integer math.
    */
  /** Per-channel value percentile panel — the distribution summary an
    * archive viewer shows next to [[histogram]]: sample count, min,
    * p50/p90/p99 (linear interpolation — Spark's exact `percentile`,
    * mirrored by DuckDB's `quantile_cont`), max. Exact percentile is a
    * per-channel sort aggregate riding the same channel clustering the
    * decimation pass uses; at 100 TB swap `percentile_approx` (a
    * mergeable Greenwald–Khanna sketch, no per-group sort) — the
    * output contract is identical, the gate pins the exact form.
    */
  def valuePercentiles(samples: DataFrame): DataFrame = {
    val sr6 = (c: Column) =>
      round(c * lit(1e6)).cast("long").cast("double") / lit(1e6)
    samples.where(col("value").isNotNull && !isnan(col("value")))
      .groupBy("channel").agg(
        count(lit(1)).as("n_samples"),
        min("value").as("v_min"),
        sr6(percentile(col("value"), lit(0.5))).as("p50"),
        sr6(percentile(col("value"), lit(0.9))).as("p90"),
        sr6(percentile(col("value"), lit(0.99))).as("p99"),
        max("value").as("v_max"))
  }

  /** Aligned multi-channel matrix export — the archive⇄ML bridge: N
    * channels sampled-and-held onto one shared time grid and pivoted
    * wide (ts, ch₁, …, chₙ), the input shape every downstream
    * correlation/regression/training job wants. Composes the gated
    * as-of union-merge ([[ArchiveReader.asOfLookup]] — one shuffle,
    * no O(n·m) join) with a known-values pivot (no extra pass: with
    * the channel list given, Spark plans it as one conditional
    * aggregation). Grid is [lo, hi] inclusive every `stepNs`; a grid
    * point before a channel's first sample reports null.
    *
    * Scale shape: grid rows = channels × points (metadata-sized
    * vs the archive), the as-of rides the per-channel clustering the
    * range scan already has, and the pivot shuffles only grid rows.
    */
  /** Address a PIVOTED channel column by its literal name: `col(name)`
    * parses dots as struct access (EPICS-style `rec.FIELD` names are
    * routine), so every reference to a channel-named column must go
    * through backtick quoting, with embedded backticks doubled.
    */
  private[archive] def chanCol(name: String): Column =
    col("`" + name.replace("`", "``") + "`")

  def alignedMatrix(samples: DataFrame, channels: Seq[String],
                    lo: Long, hi: Long, stepNs: Long): DataFrame = {
    require(channels.nonEmpty, "alignedMatrix needs a channel list")
    require(!channels.contains("ts"),
      "a channel literally named 'ts' would collide with the grid column")
    val spark = samples.sparkSession
    import spark.implicits._
    val grid = channels.toDF("channel")
      .select(col("channel"),
        explode(sequence(lit(lo), lit(hi), lit(stepNs))).as("g"))
    ArchiveReader
      .asOfLookup(samples.where(col("channel").isin(channels: _*)), grid)
      .groupBy(col("g").as("ts"))
      .pivot("channel", channels)
      .agg(first(col("held_value")))
  }

  /** Derived ("calculated") channel — the EPICS calc-record analog:
    * the reference archives what the control system computes
    * (ChannelAccessControlSystemSupport.java consumes calc-record
    * PVs like any other); this closes the loop engine-side so an
    * operator can define `a − b` or `a / b` over two archived
    * channels without touching the control system. Both sources are
    * sampled-and-held onto one shared grid ([[alignedMatrix]]'s as-of
    * union-merge — one shuffle, no O(n·m) join) and combined
    * pointwise into a new named series. Grid points where either
    * input has no history yet are dropped (a calc record is
    * undefined until every input exists). Output is the canonical
    * (channel, ts, value) frame, so the derived series feeds every
    * downstream operator — decimation, M4/LTTB, stats, the store
    * itself — unchanged.
    *
    * Scale shape: inherited from [[alignedMatrix]] — grid rows are
    * metadata-sized next to the archive, the as-of rides the
    * range-scan's per-channel clustering, and the pointwise combine
    * is shuffle-free. Determinism: held values are exact copies and
    * a single IEEE op on two doubles is bit-identical across
    * engines, so `a − b` / `a / b` gates need no rounding.
    */
  def derivedChannel(samples: DataFrame, outName: String,
                     chanA: String, chanB: String,
                     f: (Column, Column) => Column,
                     lo: Long, hi: Long, stepNs: Long): DataFrame =
    alignedMatrix(samples, Seq(chanA, chanB), lo, hi, stepNs)
      .where(chanCol(chanA).isNotNull && chanCol(chanB).isNotNull)
      .select(lit(outName).as("channel"), col("ts"),
        f(chanCol(chanA), chanCol(chanB)).as("value"))

  /** N-ary derived channel — the aggregate-PV shape ("total beam
    * current = the sum of the segment currents"): every source held
    * onto the shared grid, combined by a fixed-order reduction.
    * `op` ∈ sum | mean | min | max. Grid points where ANY source has
    * no history yet are dropped (same undefined-until-all-inputs rule
    * as [[derivedChannel]]). Determinism: the reduction runs in the
    * caller's source ORDER as a single row-wise expression —
    * left-to-right IEEE adds, one division for mean — so both engines
    * evaluate the identical float program and gates need no rounding.
    */
  def derivedChannelN(samples: DataFrame, outName: String,
                      sources: Seq[String], op: String,
                      lo: Long, hi: Long, stepNs: Long): DataFrame = {
    require(sources.size >= 2, "an n-ary calc needs at least two sources")
    require(sources.distinct.size == sources.size,
      "n-ary calc sources must be distinct")
    val cols = sources.map(chanCol)
    val combined = op match {
      case "sum"  => cols.reduceLeft(_ + _)
      case "mean" => cols.reduceLeft(_ + _) / lit(sources.size.toDouble)
      case "min"  => least(cols: _*)
      case "max"  => greatest(cols: _*)
      case other =>
        throw new IllegalArgumentException(s"unknown n-ary op '$other'")
    }
    alignedMatrix(samples, sources, lo, hi, stepNs)
      .where(cols.map(_.isNotNull).reduceLeft(_ && _))
      .select(lit(outName).as("channel"), col("ts"),
        combined.as("value"))
  }

  /** Lead/lag scan between two channels — "does A lead B, and by how
    * much": Pearson correlation of A's held grid value at t against
    * B's at t + ℓ·step for every lag ℓ ∈ [−maxLagSteps, maxLagSteps].
    * The delay-estimation primitive of incident analysis (a pressure
    * wave reaches gauge B minutes after gauge A; the lag with max
    * correlation names the transit time). Positive lag = A leads B.
    *
    * Scale shape: the grid is metadata-sized next to the archive, so
    * the lag fan-out (grid × lags rows) stays tiny and the lag table
    * broadcasts; the only archive-sized work is the one as-of
    * union-merge that builds the grid. Determinism: held values
    * quantize to the 6dp integer grid before exact DECIMAL moment
    * sums (order-free), then one fixed-order closed form,
    * scale-rounded at the edge — [[correlatedChannels]]' convention.
    * A constant overlap (zero variance) reports corr 0, not NaN.
    */
  def lagCorrelation(samples: DataFrame, chanA: String, chanB: String,
                     lo: Long, hi: Long, stepNs: Long,
                     maxLagSteps: Int): DataFrame = {
    require(maxLagSteps >= 1, "need at least one lag step")
    val spark = samples.sparkSession
    import spark.implicits._
    val m = alignedMatrix(samples, Seq(chanA, chanB), lo, hi, stepNs)
    val a = m.where(chanCol(chanA).isNotNull)
      .select(col("ts"), round(chanCol(chanA) * lit(1e6)).cast("long").as("qa"))
    val b = m.where(chanCol(chanB).isNotNull)
      .select(col("ts").as("ts_b"),
        round(chanCol(chanB) * lit(1e6)).cast("long").as("qb"))
    val lags = (-maxLagSteps to maxLagSteps).toDF("lag")
    val d = (c: Column) => c.cast("decimal(19,0)")
    val fan = a.crossJoin(broadcast(lags))
      .withColumn("ts_b", col("ts") + col("lag").cast("long") * lit(stepNs))
      .join(b, Seq("ts_b"))
    val g = fan.groupBy("lag")
      .agg(count(lit(1)).as("n"),
        sum(d(col("qa"))).cast("double").as("sx"),
        sum(d(col("qb"))).cast("double").as("sy"),
        sum(d(col("qa")) * d(col("qb"))).cast("double").as("sxy"),
        sum(d(col("qa")) * d(col("qa"))).cast("double").as("sxx"),
        sum(d(col("qb")) * d(col("qb"))).cast("double").as("syy"))
    val n = col("n").cast("double")
    val num = n * col("sxy") - col("sx") * col("sy")
    val den = sqrt(n * col("sxx") - col("sx") * col("sx")) *
      sqrt(n * col("syy") - col("sy") * col("sy"))
    val corr = when(den === 0.0, lit(0.0)).otherwise(num / den)
    g.select(col("lag"), col("n").as("n_points"),
        (round(corr * lit(1e6)).cast("long").cast("double") / lit(1e6))
          .as("corr"))
      .orderBy("lag")
  }

  def alarmStats(samples: DataFrame, lo: Long, hi: Long): DataFrame = {
    val w = Window.partitionBy("channel").orderBy("ts")
    samples.where(col("ts") >= lo && col("ts") < hi)
      .select(col("channel"), col("ts"), col("severity"))
      .withColumn("prev_sev", lag("severity", 1).over(w))
      .withColumn("next_ts", lead("ts", 1).over(w))
      .withColumn("dur", coalesce(col("next_ts"), lit(hi)) - col("ts"))
      .withColumn("entry",
        col("prev_sev").isNull || col("prev_sev") =!= col("severity"))
      .groupBy("channel", "severity")
      .agg(sum(col("dur")).as("total_ns"),
        sum(when(col("entry"), lit(1L)).otherwise(lit(0L))).as("n_entries"),
        count(lit(1)).as("n_samples"))
  }

  /** M4 chart downsampling (Jugel et al., VLDB 2014) — the OTHER
    * canonical pixel-bucket reducer next to [[lttb]]: per channel and
    * equal time bucket, the first, min, max and last points (with
    * their timestamps), which is exactly the set of samples an
    * error-free min/max line rendering needs. Where LTTB optimizes
    * perceived shape, M4 guarantees the drawn envelope is pixel-exact.
    *
    * Scale shape: ONE map-side-combinable hash aggregate over the
    * scan — every column is a min/max/min_by/max_by, so partial
    * aggregation collapses each partition to ≤ channels × k rows
    * before the shuffle. No window, no sort, no join.
    *
    * Determinism: bucket ids are exact integer `div`; the extrema
    * timestamps are the EARLIEST ts attaining the extreme value
    * (min_by over the lexicographic (value, ts) key — ts is unique per
    * channel after monotonic dedup, so every pick is total-ordered).
    */
  def m4(samples: DataFrame, lo: Long, hi: Long, k: Int): DataFrame = {
    require(k >= 1, "m4 needs at least 1 bucket")
    val kL = k.toLong
    // duplicate-timestamp tiebreak for the first/last corners: first
    // arrival (min sample_id) — the serving survivor rule; min_by over
    // bare ts picked an ARBITRARY value when a later commit re-sent a
    // timestamp with different content (found by DirectParityFuzzSpec).
    // Inputs without an arrival id (derived/streaming frames with
    // unique ts) tiebreak on a constant, which never fires.
    val sid =
      if (samples.columns.contains("sample_id")) col("sample_id")
      else lit(0L)
    samples
      .where(col("ts") >= lo && col("ts") < hi && col("value").isNotNull)
      .select(col("channel"), col("ts"), col("value"), sid.as("_sid"))
      .withColumn("bucket", bucketId(lo, hi, kL))
      .groupBy("channel", "bucket")
      .agg(
        min("ts").as("t_first"),
        min_by(col("value"), struct(col("ts"), col("_sid"))).as("v_first"),
        min_by(col("ts"), struct(col("value"), col("ts"))).as("t_min"),
        min("value").as("v_min"),
        // max_by over (value, −ts): greatest value, earliest ts on
        // ties — NaN-consistent with max(value) (both engines order
        // NaN greatest and NaN = NaN), unlike a −value min_by where
        // −NaN stays NaN and the pair (t_max, v_max) could name two
        // different rows
        max_by(col("ts"), struct(col("value"), (-col("ts")).as("nts")))
          .as("t_max"),
        max("value").as("v_max"),
        max("ts").as("t_last"),
        max_by(col("value"), struct(col("ts"), (-col("_sid")).as("_ns")))
          .as("v_last"))
  }

  /** The four M4 corner points flattened to a distinct, time-ordered
    * (channel, ts, value) series — the wire shape a chart client
    * consumes (a single-point bucket repeats one corner four times;
    * dropDuplicates on ts is safe because ts is unique per channel, so
    * duplicate rows are identical). Shared by the HTTP `m4=K` handler
    * and its byte-parity spec.
    */
  def m4Points(m4Rows: DataFrame): DataFrame =
    m4Rows.select(col("channel"),
        explode(array(
          struct(col("t_first").as("ts"), col("v_first").as("value")),
          struct(col("t_min").as("ts"), col("v_min").as("value")),
          struct(col("t_max").as("ts"), col("v_max").as("value")),
          struct(col("t_last").as("ts"), col("v_last").as("value"))))
          .as("p"))
      .select(col("channel"), col("p.ts").as("ts"), col("p.value").as("value"))
      .dropDuplicates("ts")

  /** Hour-of-day seasonal profile — "what does this PV normally do at
    * 3am": per (channel, UTC hour 0–23) sample count, mean, min, max.
    * The baseline panel an operator compares a live trace against.
    * One shuffle-free hour projection (pure integer ns math, no
    * calendar) + one partial-merge aggregate; output is channels × 24
    * rows no matter the archive size. Mean routes through a DECIMAL
    * sum so summation order cannot perturb the 6dp-rounded edge.
    */
  def seasonalProfile(samples: DataFrame): DataFrame = {
    val hourNs = 3600L * 1000000000L
    samples.where(col("value").isNotNull && !isnan(col("value")))
      .select(col("channel"),
        pmod(expr(s"ts div ${hourNs}L"), lit(24L)).cast("int").as("hour"),
        col("value"))
      .groupBy("channel", "hour")
      .agg(count(lit(1)).as("n"),
        (round((sum(col("value").cast("decimal(38,12)")).cast("double") /
            count(lit(1))) * lit(1e6)).cast("long").cast("double") / lit(1e6))
          .as("mean"),
        min("value").as("v_min"),
        max("value").as("v_max"))
  }

  /** Seasonal-baseline anomaly report — [[seasonalProfile]] composed
    * into detection: each sample is compared against ITS OWN hour-of-
    * day band (|v − mean(channel, hour)| > nSigma · std(channel,
    * hour)), which catches "3am value at a 3pm level" that a global
    * z-score ([[Rolling.zscore]], `healthReport`) averages away.
    * Output per channel: samples checked, anomalies, and the first
    * anomalous timestamp.
    *
    * Scale shape: the baseline is channels × 24 rows (broadcast into
    * the flagging join no matter the archive size); the flagging pass
    * is one shuffle-free scan. Determinism: band means and σ² are
    * quantized to the 6dp grid from exact DECIMAL moment sums BEFORE
    * the comparison, and the flag itself is evaluated on squared
    * terms (no sqrt — engines can differ in the last ulp of a
    * transcendental, never in multiplication of grid values).
    * Constant bands (σ = 0) flag nothing, matching `healthReport`.
    */
  def seasonalAnomalies(samples: DataFrame, nSigma: Double): DataFrame = {
    require(nSigma == math.rint(nSigma) && nSigma >= 1.0,
      "nSigma must be a small positive integer (the flag stays in " +
        "exact integer arithmetic)")
    val n2 = (nSigma * nSigma).toLong
    val hourNs = 3600L * 1000000000L
    val d = (c: Column) => c.cast("decimal(19,0)")
    val dd = (c: Column) => c.cast("decimal(38,0)")
    // the whole comparison runs on the 6dp integer grid (q = value·1e6
    // rounded): moment sums are exact DECIMAL integer sums, the band
    // mean and mean-square round back to longs, and EVERY squared term
    // (bmean², dev², the flag comparison) stays in DECIMAL(38,0) — a
    // q of 10⁹ squares to 10¹⁸ and a Long product would wrap right
    // where the oracle's HUGEINT doesn't
    val base = samples.where(col("value").isNotNull && !isnan(col("value")))
      .select(col("channel"), col("ts"),
        pmod(expr(s"ts div ${hourNs}L"), lit(24L)).cast("int").as("hour"),
        round(col("value") * lit(1e6)).cast("long").as("q"))
    val prof = base.groupBy("channel", "hour")
      .agg(count(lit(1)).as("bn"),
        sum(d(col("q"))).cast("double").as("sx"),
        sum(d(col("q")) * d(col("q"))).cast("double").as("sxx"))
      .select(col("channel"), col("hour"),
        round(col("sx") / col("bn").cast("double")).cast("long")
          .as("bmean_q"),
        round(col("sxx") / col("bn").cast("double")).cast("long")
          .as("bm2_q"))
      .withColumn("bvar_q",
        greatest(lit(0L).cast("decimal(38,0)"),
          dd(col("bm2_q")) - d(col("bmean_q")) * d(col("bmean_q"))))
    val flagged = base.join(broadcast(prof), Seq("channel", "hour"))
      .withColumn("dev_q", d(col("q")) - d(col("bmean_q")))
      .withColumn("is_anom",
        col("bvar_q") > 0L &&
          col("dev_q") * col("dev_q") > lit(n2) * col("bvar_q"))
    flagged.groupBy("channel")
      .agg(count(lit(1)).as("n_samples"),
        sum(when(col("is_anom"), lit(1L)).otherwise(lit(0L)))
          .as("n_anomalies"),
        min(when(col("is_anom"), col("ts"))).as("t_first_anomaly"))
  }

  /** Threshold-crossing report over [lo, hi) — the "how often did the
    * pressure trip 250 and for how long" question: per channel the
    * count of upward and downward crossings (previous sample strictly
    * below/at-or-above the threshold), the first and last upward
    * crossing timestamps, and the total nanoseconds spent at or above
    * the threshold under the same sample-and-hold validity the
    * decimator uses (each sample holds until the next, the last until
    * `hi`). All outputs are exact integers — no float drift possible.
    *
    * Scale shape: one per-channel lag/lead window (rides the channel
    * clustering every archive scan already has) + one partial-merge
    * aggregate; output is one row per channel.
    */
  def thresholdCrossings(samples: DataFrame, lo: Long, hi: Long,
                         threshold: Double): DataFrame = {
    val w = Window.partitionBy("channel").orderBy("ts")
    val t = lit(threshold)
    val up = col("pv") < t && col("value") >= t
    val down = col("pv") >= t && col("value") < t
    samples
      .where(col("ts") >= lo && col("ts") < hi && col("value").isNotNull)
      .select(col("channel"), col("ts"), col("value"))
      .withColumn("pv", lag("value", 1).over(w))
      .withColumn("dur", coalesce(lead("ts", 1).over(w), lit(hi)) - col("ts"))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_samples"),
        sum(when(up, lit(1L)).otherwise(lit(0L))).as("n_up"),
        sum(when(down, lit(1L)).otherwise(lit(0L))).as("n_down"),
        min(when(up, col("ts"))).as("t_first_up"),
        max(when(up, col("ts"))).as("t_last_up"),
        sum(when(col("value") >= t, col("dur")).otherwise(lit(0L)))
          .as("above_ns"))
  }

  /** Element-wise waveform statistics over the ARRAY-valued sample
    * types of the 21-type union (the reference archives EPICS array
    * PVs as opaque per-sample blobs,
    * ChannelAccessSampleValueAccess.java:180, and offers no cross-
    * sample view) — per (channel, array vtype, element index): sample
    * count, mean, min, max. "What does the average beam-profile
    * waveform look like" as one posexplode + one partial-merge
    * aggregate; output is channels × element-count rows no matter how
    * many samples the archive holds. Means route through DECIMAL sums
    * (order-free), 6dp scale-rounded at the edge.
    */
  def waveformStats(typed: DataFrame): DataFrame =
    typed
      .where(col("vtype").isin("array_double", "array_long", "array_float"))
      .select(col("channel"), col("vtype"),
        posexplode(col("arr_num")).as(Seq("idx", "v")))
      .groupBy("channel", "vtype", "idx")
      .agg(count(lit(1)).as("n"),
        (round((sum(col("v").cast("decimal(38,12)")).cast("double") /
            count(lit(1))) * lit(1e6)).cast("long").cast("double") / lit(1e6))
          .as("mean"),
        min("v").as("v_min"),
        max("v").as("v_max"))

  /** Top-k channels by absolute mean shift between the two halves of
    * [lo, hi) — the incident-triage "what changed the most" panel.
    * Per channel: the 6dp-quantized mean of each half and their exact
    * integer-grid delta; channels seen in only one half are excluded
    * (no shift is defined). One conditional aggregation (no join, no
    * pivot shuffle) + a top-k sort over one row per channel.
    *
    * Determinism: half means quantize to the 6dp long grid before the
    * delta, so the ranking key |Δq| is an exact integer; ties break on
    * channel name.
    */
  def topMovers(samples: DataFrame, lo: Long, hi: Long, k: Int): DataFrame = {
    val mid = lo + (hi - lo) / 2
    val inHalf = (c: Column) => when(c, col("value").cast("decimal(38,12)"))
    val firstHalf = col("ts") < mid
    val a = samples
      .where(col("ts") >= lo && col("ts") < hi && col("value").isNotNull)
      .select(col("channel"), col("ts"), col("value"))
      .groupBy("channel")
      .agg(
        count(when(firstHalf, lit(1))).as("n_a"),
        count(when(!firstHalf, lit(1))).as("n_b"),
        sum(inHalf(firstHalf)).cast("double").as("s_a"),
        sum(inHalf(!firstHalf)).cast("double").as("s_b"))
      .where(col("n_a") > 0 && col("n_b") > 0)
    val qa = round(col("s_a") / col("n_a").cast("double") * lit(1e6))
      .cast("long")
    val qb = round(col("s_b") / col("n_b").cast("double") * lit(1e6))
      .cast("long")
    a.select(col("channel"), col("n_a"), col("n_b"),
        (qa.cast("double") / lit(1e6)).as("mean_a"),
        (qb.cast("double") / lit(1e6)).as("mean_b"),
        ((qb - qa).cast("double") / lit(1e6)).as("delta"),
        abs(qb - qa).as("abs_q"))
      .orderBy(col("abs_q").desc, col("channel"))
      .limit(k)
      .drop("abs_q")
  }

  /** Phase-table size for [[spectrum]] — phases quantize to 1/256 of a
    * cycle, so both engines index the SAME 6dp-quantized cos/sin
    * constants with exact integer arithmetic and no transcendental is
    * ever evaluated inside a query.
    */
  val SpectrumTableSize: Int = 256

  /** cos(2πi/256) and sin(2πi/256) on the 6dp integer grid — generated
    * once here and embedded verbatim into BOTH the Spark plan (literal
    * array) and the DuckDB oracle SQL (list literal), so the two
    * engines multiply identical integers.
    */
  lazy val spectrumCosQ: Array[Long] = Array.tabulate(SpectrumTableSize)(
    i => math.round(math.cos(2.0 * math.Pi * i / SpectrumTableSize) * 1e6))
  lazy val spectrumSinQ: Array[Long] = Array.tabulate(SpectrumTableSize)(
    i => math.round(math.sin(2.0 * math.Pi * i / SpectrumTableSize) * 1e6))

  /** Discrete Fourier power at a grid of CANDIDATE periods — "is this
    * PV oscillating, and at what period": per (channel, period) the
    * demeaned cos/sin projection sums and the normalized spectral
    * power. The oscillation-hunting panel of accelerator diagnostics
    * (the reference archives the raw samples and offers nothing
    * cross-sample; this is what operators export them to MATLAB for).
    *
    * Built as a Goertzel-style direct projection, NOT an FFT: the
    * candidate list is small (operators probe known suspects — mains
    * harmonics, cooling cycles, day/night), samples are irregular so
    * an FFT grid would need resampling first, and the projection is
    * one scan × |periods| with a partial-merge aggregate — at 100 TB
    * it is |periods| map-side-combined sums, no shuffle beyond the
    * (channel, period) rollup, output channels × periods rows.
    *
    * Determinism: values quantize to the 6dp grid and demean against
    * the channel's grid mean (exact integers); the phase quantizes to
    * 1/256 of a cycle by integer division; each term is a Long product
    * of grid integers summed in DECIMAL(38,0) (order-free, exact);
    * `power` is then a fixed-order double expression over the exact
    * casts. The demean kills the DC term a raw projection would leak
    * into every candidate period.
    */
  def spectrum(samples: DataFrame, lo: Long, hi: Long,
               periods: Seq[Long]): DataFrame = {
    val base = cusumBase(samples, lo, hi)
    // channel grid means: one partial-merge aggregate, channels rows —
    // broadcast into the projection scan no matter the archive size
    val means = spectrumMeans(base)
    val d = (c: Column) => c.cast("decimal(38,0)")
    val g = spectrumTerms(base.join(broadcast(means), Seq("channel")),
        lo, periods)
      .groupBy("channel", "period")
      .agg(max(col("n")).as("n"),
        sum(d(col("qdc"))).as("sc_d"),
        sum(d(col("qds"))).as("ss_d"))
    spectrumPower(g)
  }

  /** Calibration aggregate for [[spectrum]]: per-channel 6dp-grid mean
    * and sample count — channels rows, broadcast-sized. Shared with
    * the streaming projection so both evaluate identical integers.
    */
  def spectrumMeans(base: DataFrame): DataFrame =
    base.groupBy("channel")
      .agg(round(sum(col("q").cast("decimal(19,0)")).cast("double") /
          count(lit(1)).cast("double")).cast("long").as("mq"),
        count(lit(1)).as("n"))

  /** The STATELESS projection stage of [[spectrum]] — input rows carry
    * (channel, ts, q, mq), output one row per (sample, period) with
    * the exact Long products qd·cos and qd·sin. Split out so the
    * streaming form can run the identical projection ahead of an
    * order-free streaming sum.
    */
  def spectrumTerms(withMeans: DataFrame, lo: Long,
                    periods: Seq[Long]): DataFrame = {
    require(periods.nonEmpty && periods.forall(_ > 0), "periods must be positive")
    // the output (and crossSpectrum's join) is keyed by
    // period_s = period div 1e9 — two candidates truncating to the
    // same second would collide into duplicate keys and wrong
    // cross-pairings, so the collision is refused HERE, not just at
    // the HTTP edge (which already enforces integer seconds)
    require(periods.map(_ / NsPerSec).distinct.size == periods.size,
      "periods must remain distinct after truncation to whole seconds " +
        "(period_s keys the spectrum output)")
    val tbl = SpectrumTableSize.toLong
    val qdRaw = col("q") - col("mq")
    withMeans
      // |qd| bound: the qd*cos/sin products below are Long multiplies
      // against 6dp table values (|c| <= 1e6); a demeaned magnitude
      // past ~9.2e12 on the grid (~9.2e6 in value units) would
      // overflow — refuse loudly per row, like gramMatrix's GramMaxQ
      .withColumn("qd",
        when(abs(qdRaw) > lit(MaxSpectrumQd), raise_error(concat(
          lit("spectrum: |value - mean| exceeds the Long-safe bound " +
            "of 9.2e6 for channel "), col("channel"))))
          .otherwise(qdRaw))
      .withColumn("period", explode(typedLit(periods)))
      .withColumn("idx",
        expr(s"((ts - ${lo}L) % period) * ${tbl}L div period"))
      .withColumn("c", element_at(typedLit(spectrumCosQ.toSeq),
        (col("idx") + 1).cast("int")))
      .withColumn("s", element_at(typedLit(spectrumSinQ.toSeq),
        (col("idx") + 1).cast("int")))
      .withColumn("qdc", col("qd") * col("c"))
      .withColumn("qds", col("qd") * col("s"))
  }

  /** Output stage of [[spectrum]]: exact DECIMAL projection sums →
    * fixed-order double power. Normalized power in value² units:
    * |projection|² / n² / (1e6·1e6)² — n² stays in doubles (a 100-TB
    * channel's count squared overflows a long).
    */
  def spectrumPower(g: DataFrame): DataFrame = {
    val nD = col("n").cast("double")
    g.select(col("channel"),
        expr(s"period div ${NsPerSec}L").as("period_s"),
        col("n"),
        col("sc_d").cast("double").as("sc"),
        col("ss_d").cast("double").as("ss"))
      .withColumn("power",
        (col("sc") * col("sc") + col("ss") * col("ss")) /
          (nD * nD) / lit(1e24))
  }

  private val NsPerSec: Long = 1000000000L

  /** 6dp-grid bound for [[spectrumTerms]]'s Long products: qd times a
    * 1e6-scaled table value must stay under 2⁶³ (9.2e12 × 1e6 ≈
    * 9.2e18), mirroring [[graft.pipeline.Similarity.GramMaxQ]].
    */
  val MaxSpectrumQd: Long = 9200000000000L

  /** Default candidate-period grid (ns): the suspects an operator
    * probes first — fast oscillation (10 min), cooling/regulation
    * cycles (30 min–2 h), shift structure (6/12 h), day/night.
    */
  val DefaultSpectrumPeriods: Seq[Long] =
    Seq(600L, 1800L, 3600L, 7200L, 21600L, 43200L, 86400L)
      .map(_ * NsPerSec)

  /** Default CUSUM tuning (value units): slack ≈ half a typical σ of
    * the corpus channels, threshold ≈ the smallest shift worth an
    * alarm sustained long enough to matter.
    */
  val DefaultCusumSlack: Double = 25.0
  val DefaultCusumThreshold: Double = 150.0

  /** The dominant candidate period per channel — [[spectrum]] reduced
    * to its per-channel argmax (ties break toward the shorter period).
    * One row per channel: the winning period and its share of the
    * total candidate power (an SNR-ish "is this peak real" figure).
    *
    * The share's numerator/denominator quantize to the 6dp grid first
    * so the cross-period total is an exact integer sum (a raw double
    * sum would depend on which period arrives first at the reducer).
    */
  def dominantPeriod(spec: DataFrame): DataFrame = {
    val w = Window.partitionBy("channel")
      .orderBy(col("power").desc, col("period_s").asc)
    val pq = round(col("power") * lit(1e6)).cast("long")
    spec
      .withColumn("pq", pq)
      .withColumn("total_q",
        sum(col("pq")).over(Window.partitionBy("channel")))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("channel"), col("period_s"), col("n"), col("power"),
        when(col("total_q") > 0L,
          col("pq").cast("double") / col("total_q").cast("double"))
          .otherwise(lit(0.0)).as("power_share"))
  }

  /** CUSUM calibration: per-channel baseline target on the 6dp grid —
    * the mean the detector monitors against. Split out so the
    * streaming detector ([[graft.streaming.StreamingCusum]]) can
    * calibrate on a baseline window and monitor the live stream with
    * the identical targets.
    */
  def cusumTargets(samples: DataFrame, lo: Long, hi: Long): DataFrame =
    cusumBase(samples, lo, hi).groupBy("channel")
      .agg(round(sum(col("q").cast("decimal(19,0)")).cast("double") /
          count(lit(1)).cast("double")).cast("long").as("mq"))

  /** Shared 6dp-grid base frame for the CUSUM and spectral families:
    * range-filtered, null/NaN-dropped, value quantized to the grid.
    */
  private[graft] def cusumBase(samples: DataFrame, lo: Long,
                               hi: Long): DataFrame =
    samples
      .where(col("ts") >= lo && col("ts") < hi &&
        col("value").isNotNull && !isnan(col("value")))
      .select(col("channel"), col("ts"),
        round(col("value") * lit(1e6)).cast("long").as("q"))

  /** Two-sided CUSUM mean-shift detection — "when did this PV's level
    * actually move": per channel the count of samples where the
    * cumulative sum of (value − target ∓ slack) exceeds the decision
    * threshold on the high/low side, the first excursion timestamps,
    * and the peak CUSUM statistics. Complements [[seasonalAnomalies]]
    * (point outliers) with the persistent-small-shift detector — a
    * 0.5σ drift never trips a 3σ band but accumulates here.
    *
    * The textbook recursion s_i = max(0, s_{i−1} + dev_i) is not a
    * window function, but its closed form is: s_i = p_i − min(0,
    * min_{j≤i} p_j) over the prefix sums p — so the whole detector is
    * two running-extremum window passes that ride the per-channel
    * clustering every archive scan already has (same shape as
    * [[thresholdCrossings]]; at 100 TB channels parallelize and a hot
    * channel's pass is linear).
    *
    * Determinism: target is the channel's 6dp-grid mean, deviations
    * are exact grid integers, prefix sums and extrema run in
    * DECIMAL(38,0) — every comparison and output is exact.
    */
  def cusumShifts(samples: DataFrame, lo: Long, hi: Long,
                  slack: Double, threshold: Double): DataFrame = {
    val slackQ = math.round(slack * 1e6)
    val hQ = math.round(threshold * 1e6)
    val d = (c: Column) => c.cast("decimal(38,0)")
    val base = cusumBase(samples, lo, hi)
    val means = cusumTargets(samples, lo, hi)
    val w = Window.partitionBy("channel").orderBy("ts")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val joined = base.join(broadcast(means), Seq("channel"))
      .withColumn("p_hi", sum(d(col("q") - col("mq") - lit(slackQ))).over(w))
      .withColumn("p_lo", sum(d(col("q") - col("mq") + lit(slackQ))).over(w))
      .withColumn("cusum_hi",
        col("p_hi") - least(lit(0L).cast("decimal(38,0)"),
          min(col("p_hi")).over(w)))
      .withColumn("cusum_lo",
        greatest(lit(0L).cast("decimal(38,0)"),
          max(col("p_lo")).over(w)) - col("p_lo"))
    cusumSummary(joined, hQ)
  }

  private def cusumSummary(flagged: DataFrame, hQ: Long): DataFrame =
    flagged.groupBy("channel")
      .agg(count(lit(1)).as("n_samples"),
        sum(when(col("cusum_hi") > hQ, lit(1L)).otherwise(lit(0L)))
          .as("n_hi"),
        sum(when(col("cusum_lo") > hQ, lit(1L)).otherwise(lit(0L)))
          .as("n_lo"),
        min(when(col("cusum_hi") > hQ, col("ts"))).as("t_first_hi"),
        min(when(col("cusum_lo") > hQ, col("ts"))).as("t_first_lo"),
        (max(col("cusum_hi")).cast("double") / lit(1e6)).as("peak_hi"),
        (max(col("cusum_lo")).cast("double") / lit(1e6)).as("peak_lo"))

  /** Cross-spectral scan against a probe channel — "which PVs
    * oscillate WITH this one, at which period, in or out of phase":
    * per (other channel, candidate period) the complex cross-spectral
    * density against the probe (re/im, normalized like [[spectrum]]'s
    * power) plus both auto-powers. Large |re| with matching sign =
    * in-phase oscillation at that period; negative re = anti-phase —
    * the frequency-domain sibling of [[lagCorrelation]].
    *
    * Scale shape: ONE [[spectrum]] pass (channels × periods rows) +
    * a broadcast self-join on the probe's period rows — probe-vs-all
    * is linear in channels, the all-pairs matrix is never built (the
    * [[correlatedChannels]] discipline). Determinism: the cross terms
    * are fixed-order double products of the exact projection casts.
    */
  def crossSpectrum(samples: DataFrame, lo: Long, hi: Long,
                    periods: Seq[Long], probe: String): DataFrame = {
    val spec = spectrum(samples, lo, hi, periods)
    val a = spec.where(col("channel") === probe)
      .select(col("period_s"), col("n").as("n_a"),
        col("sc").as("sc_a"), col("ss").as("ss_a"),
        col("power").as("power_a"))
    val b = spec.where(col("channel") =!= probe)
    val nn = col("n_a").cast("double") * col("n").cast("double")
    b.join(broadcast(a), Seq("period_s"))
      .select(col("channel"), col("period_s"),
        ((col("sc_a") * col("sc") + col("ss_a") * col("ss")) / nn /
          lit(1e24)).as("cross_re"),
        ((col("ss_a") * col("sc") - col("sc_a") * col("ss")) / nn /
          lit(1e24)).as("cross_im"),
        col("power_a"), col("power").as("power_b"))
  }

  /** Channel-staleness report as of `asOf` — the ops panel "which PVs
    * stopped updating": per channel the sample count, last timestamp,
    * the channel's MEDIAN inter-arrival gap (robust to bursts where a
    * mean cadence is not), the expected next arrival, and a stale flag
    * (overdue by more than `graceFactor` median gaps at `asOf`).
    * Channels with a single sample report no cadence and flag stale
    * only by absolute silence (no expectation can be formed).
    *
    * Scale shape: one per-channel lag window (rides the channel
    * clustering) + one partial-merge aggregate; output one row per
    * channel. Median gap interpolates on exact integer deltas (the
    * same Spark `percentile` ≡ DuckDB `quantile_cont` bridge as
    * [[valuePercentiles]]); the flag compares exact ns integers
    * (expected_next computed in longs, `graceFactor` an integer).
    */
  def stalenessReport(samples: DataFrame, asOf: Long,
                      graceFactor: Long = 3L): DataFrame = {
    require(graceFactor >= 1L, "graceFactor must be a positive integer")
    val w = Window.partitionBy("channel").orderBy("ts")
    val g = samples
      .where(col("ts") <= asOf)
      .select(col("channel"), col("ts"))
      .withColumn("gap", col("ts") - lag("ts", 1).over(w))
    val agg = g.groupBy("channel")
      .agg(count(lit(1)).as("n_samples"),
        max("ts").as("t_last"),
        // exact interpolated median over integer gaps: ties land on
        // x.5 exactly (representable), same contract both engines
        percentile(col("gap"), lit(0.5)).as("median_gap_d"))
    agg.select(col("channel"), col("n_samples"), col("t_last"),
        round(col("median_gap_d")).cast("long").as("median_gap_ns"))
      .withColumn("expected_next",
        when(col("median_gap_ns").isNotNull,
          col("t_last") + col("median_gap_ns")))
      .withColumn("stale",
        when(col("median_gap_ns").isNotNull,
          lit(asOf) > col("t_last") + lit(graceFactor) * col("median_gap_ns"))
          .otherwise(lit(true)))
  }
}
