package graft.archive

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.core.Samples

/** Output row of the rolling operators. */
case class RollOut(channel: String, ts: Long, roll_mean: Option[Double],
                   roll_min: Option[Double], roll_max: Option[Double],
                   roll_n: Long)

/** Output row of the z-score operators. */
case class ZOut(channel: String, ts: Long, value: Option[Double],
                zmean: Option[Double], zstd: Option[Double],
                zscore: Option[Double])

/** Trailing (sliding) time-window aggregates over the canonical sample
  * frame — the analytics companion to the tumbling decimation family
  * (SURVEY.md W1): for every sample, the mean/min/max/count of the
  * channel's samples in the trailing `windowSec` seconds, inclusive on
  * both ends (`[ts - W, ts]`).
  *
  * The reference serves only epoch-aligned tumbling levels
  * (ArchivedChannelDecimationLevel.java); a trailing window is the
  * "smoothed trend at full resolution" its users compute downstream of
  * the sample API.
  *
  * One implementation per operator: a linear-time walker over each
  * channel. Spark's bounded RANGE frame re-evaluates the aggregate per
  * row (`SlidingWindowFunctionFrame` has no retraction — O(n·frame)
  * on dense channels), so the walkers keep exact DECIMAL running sums
  * (decimal add/subtract is order-exact, so incremental ≡
  * re-aggregated) and monotonic min/max deques instead. The
  * declarative RANGE-frame forms live in the test tree as the
  * equivalence oracle; RollingSpec pins both walkers byte-identical to
  * them, nulls and ts ties included.
  *
  * Plan shape: ONE shuffle on channel, then a sort and one walk per
  * partition — no self-join, no Window node. A channel is one task,
  * so a hot channel is walked serially.
  */
object Rolling {

  /** One row per input sample: trailing-window mean/min/max/count of
    * `value` per channel. Marker rows (`value IS NULL`) pass through
    * the frame without contributing (count/avg skip nulls in Spark and
    * ANSI SQL alike).
    */
  def trailing(samples: DataFrame, windowSec: Long): DataFrame = {
    val spark = samples.sparkSession
    import spark.implicits._
    val w = windowSec * Samples.NS
    sorted(samples).mapPartitions(walk(_, w)).toDF()
  }

  /** Per-sample anomaly score against the channel's own trailing
    * window: z = (value − mean)/std over `[ts − W, ts]` — the
    * "deviation alarm" analytic an archiver's users run downstream of
    * the sample API. Mean and variance come from exact DECIMAL Σx / Σx²
    * running sums (order-exact across partition topologies and
    * engines), combined in one shared double parenthesization:
    *
    *   var = max( (Σx² − (Σx)²/n) / (n−1), 0 )    (sample variance,
    *   clamped — cancellation can leave a tiny negative)
    *
    * Degenerate frames are NULL, not garbage: n < 2 → no std, std = 0
    * (constant window) → no z. The current sample is part of its own
    * window (self-inclusive baseline — an isolated spike still scores,
    * capped near √n by construction).
    */
  def zscore(samples: DataFrame, windowSec: Long): DataFrame = {
    val spark = samples.sparkSession
    import spark.implicits._
    val w = windowSec * Samples.NS
    sorted(samples).mapPartitions(zwalk(_, w)).toDF()
  }

  /** The walkers' input: (channel, ts, value) hashed on channel and
    * sorted by (channel, ts) within each partition. */
  private def sorted(samples: DataFrame)
      : Dataset[(String, Long, Option[Double])] = {
    val spark = samples.sparkSession
    import spark.implicits._
    samples.select(col("channel"), col("ts"), col("value"))
      .as[(String, Long, Option[Double])]
      .repartition(col("channel"))
      .sortWithinPartitions(col("channel"), col("ts"))
  }

  /** The z-score walker over one sorted partition — the [[walk]]
    * shape carrying Σx AND Σx² as exact decimals (add/subtract
    * order-exact, so incremental ≡ the RANGE window's re-aggregated
    * sums bit for bit; each x² term is the double product cast to
    * DECIMAL(38,12) exactly as the declarative plan casts it). The
    * mean/variance double math repeats [[zscore]]'s parenthesization
    * verbatim, so the walker serves the reference's oracle bytes.
    */
  private def zwalk(it: Iterator[(String, Long, Option[Double])],
                    w: Long): Iterator[ZOut] = {
    val buf = it.buffered
    new Iterator[ZOut] {
      var ch: String = null
      val ring = scala.collection.mutable.ArrayDeque.empty[(Long, Option[Double])]
      var sx = java.math.BigDecimal.ZERO
      var sxx = java.math.BigDecimal.ZERO
      var cnt = 0L
      val pending = scala.collection.mutable.Queue.empty[ZOut]

      // non-finite x: the declarative plan's double→DECIMAL cast yields
      // NULL (non-ANSI), so sum() skips the term while count(value)
      // still counts the non-null double — mirror that here instead of
      // letting BigDecimal.valueOf throw on NaN/Infinity (the walkers
      // and the RANGE path are gated as byte-identical, so their
      // failure modes must match too)
      private def dec(x: Double): java.math.BigDecimal =
        if (java.lang.Double.isFinite(x))
          java.math.BigDecimal.valueOf(x)
            .setScale(12, java.math.RoundingMode.HALF_UP)
        else null

      private def add(acc: java.math.BigDecimal, d: java.math.BigDecimal) =
        if (d == null) acc else acc.add(d)
      private def sub(acc: java.math.BigDecimal, d: java.math.BigDecimal) =
        if (d == null) acc else acc.subtract(d)

      private def push(ts: Long, v: Option[Double]): Unit = {
        ring.append((ts, v))
        v.foreach { x =>
          sx = add(sx, dec(x)); sxx = add(sxx, dec(x * x)); cnt += 1
        }
      }

      private def evict(lo: Long): Unit =
        while (ring.nonEmpty && ring.head._1 < lo) {
          val (_, ev) = ring.removeHead()
          ev.foreach { x =>
            sx = sub(sx, dec(x)); sxx = sub(sxx, dec(x * x))
            cnt -= 1
          }
        }

      private def refill(): Unit = {
        if (buf.isEmpty) return
        val (c, ts, _) = buf.head
        if (c != ch) {
          ch = c; ring.clear()
          sx = java.math.BigDecimal.ZERO; sxx = java.math.BigDecimal.ZERO
          cnt = 0L
        }
        val peers = scala.collection.mutable.ArrayBuffer.empty[Option[Double]]
        while (buf.hasNext && buf.head._1 == ch && buf.head._2 == ts)
          peers += buf.next()._3
        peers.foreach(push(ts, _))
        evict(ts - w)
        // the zscore() parenthesization, verbatim
        val sxd = sx.doubleValue(); val sxxd = sxx.doubleValue()
        val mean = if (cnt == 0) None else Some(sxd / cnt)
        val std = if (cnt >= 2)
          Some(math.sqrt(math.max((sxxd - sxd * sxd / cnt) / (cnt - 1), 0.0)))
        else None
        peers.foreach { v =>
          val z = for (x <- v; s <- std if s > 0; m <- mean)
            yield (x - m) / s
          pending.enqueue(ZOut(ch, ts, v, mean, std, z))
        }
      }

      def hasNext: Boolean = {
        while (pending.isEmpty && buf.hasNext) refill()
        pending.nonEmpty
      }
      def next(): ZOut = { hasNext; pending.dequeue() }
    }
  }

  /** The trailing-window walker over one sorted partition of
    * (channel, ts, value) rows. State resets on channel change; an
    * exact DECIMAL running sum (decimal add/subtract is order-exact, so
    * incremental ≡ re-aggregated — the same reason the gated mean is
    * DECIMAL-routed) and monotonic deques for min/max give
    * amortized-O(1) maintenance. RANGE-frame peer semantics are
    * preserved: all rows sharing a ts enter the frame before any of
    * them emits.
    */
  private def walk(it: Iterator[(String, Long, Option[Double])],
                   w: Long): Iterator[RollOut] = {
    val buf = it.buffered
    new Iterator[RollOut] {
      var ch: String = null
      val ring = scala.collection.mutable.ArrayDeque.empty[(Long, Option[Double])]
      val minDq = scala.collection.mutable.ArrayDeque.empty[(Long, Double)]
      val maxDq = scala.collection.mutable.ArrayDeque.empty[(Long, Double)]
      var sum = java.math.BigDecimal.ZERO
      var cnt = 0L
      val pending = scala.collection.mutable.Queue.empty[RollOut]

      // cast double→DECIMAL(38,12), Spark's way — including the
      // non-ANSI NaN/Infinity → NULL rule (sum skips the term,
      // count(value) still counts it), so a non-finite sample degrades
      // identically to the declarative RANGE path instead of throwing
      private def dec(x: Double): java.math.BigDecimal =
        if (java.lang.Double.isFinite(x))
          java.math.BigDecimal.valueOf(x)
            .setScale(12, java.math.RoundingMode.HALF_UP)
        else null

      private def push(ts: Long, v: Option[Double]): Unit = {
        ring.append((ts, v))
        v.foreach { x =>
          val d = dec(x); if (d != null) sum = sum.add(d); cnt += 1
          // Double.compare ordering = Spark's: NaN greater than
          // everything (so a window holding a NaN reports max = NaN,
          // min = smallest finite, like the declarative min/max)
          while (minDq.nonEmpty &&
            java.lang.Double.compare(minDq.last._2, x) >= 0)
            minDq.removeLast()
          minDq.append((ts, x))
          while (maxDq.nonEmpty &&
            java.lang.Double.compare(maxDq.last._2, x) <= 0)
            maxDq.removeLast()
          maxDq.append((ts, x))
        }
      }

      private def evict(lo: Long): Unit = {
        while (ring.nonEmpty && ring.head._1 < lo) {
          val (_, ev) = ring.removeHead()
          ev.foreach { x =>
            val d = dec(x); if (d != null) sum = sum.subtract(d); cnt -= 1
          }
        }
        while (minDq.nonEmpty && minDq.head._1 < lo) minDq.removeHead()
        while (maxDq.nonEmpty && maxDq.head._1 < lo) maxDq.removeHead()
      }

      private def refill(): Unit = {
        if (buf.isEmpty) return
        val (c, ts, _) = buf.head
        if (c != ch) {
          ch = c; ring.clear(); minDq.clear(); maxDq.clear()
          sum = java.math.BigDecimal.ZERO; cnt = 0L
        }
        // absorb the whole ts-peer group before emitting any of it
        // (RANGE frames include peers on both sides of the order)
        var peers = 0
        while (buf.hasNext && buf.head._1 == ch && buf.head._2 == ts) {
          push(ts, buf.next()._3); peers += 1
        }
        evict(ts - w)
        val mean = if (cnt == 0) None else Some(sum.doubleValue() / cnt)
        val mn = minDq.headOption.map(_._2)
        val mx = maxDq.headOption.map(_._2)
        for (_ <- 0 until peers) pending.enqueue(RollOut(ch, ts, mean, mn, mx, cnt))
      }

      def hasNext: Boolean = {
        while (pending.isEmpty && buf.hasNext) refill()
        pending.nonEmpty
      }
      def next(): RollOut = { hasNext; pending.dequeue() }
    }
  }
}
