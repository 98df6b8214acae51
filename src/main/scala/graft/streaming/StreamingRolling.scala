package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.archive.RollOut
import StreamingDecimation.InSample

/** ST-side trailing-window analytics: the streaming form of
  * [[graft.archive.Rolling.trailing]]. Per-channel keyed state
  * holds the trailing `windowSec` span of samples (a ring bounded by
  * the densest window, the same bound as the batch walker's frame);
  * every arriving sample emits its trailing mean/min/max/count ONCE.
  *
  * Ordering contract matches [[StreamingDecimation.decimateStream]]:
  * samples replay in arrival (`seq`) order inside a micro-batch and
  * the persisted lastTs drops out-of-order/duplicate arrivals across
  * batches (F6) — so on a monotonic input the streamed output is
  * byte-identical to the batch operator (pinned in RollingSpec and
  * hash-gated by `stream_rolling_window` against the same DuckDB
  * oracle as the batch RANGE frame).
  *
  * Maintenance is the batch walker's, amortized O(1) per record: an
  * exact incremental DECIMAL(38,12) running sum (decimal add/subtract
  * is order-exact, so incremental ≡ the RANGE frame's re-aggregated
  * sum bit for bit) plus monotonic min/max deques. The persisted
  * state round-trips once per (channel, micro-batch): sequences and a
  * string-encoded unbounded decimal on the wire, mutable deques while
  * the group processes — per-record work never touches the encoder.
  */
object StreamingRolling {

  /** Persisted per-channel state. `sum` is the exact running
    * DECIMAL(38,12) sum as a plain string — unbounded precision (the
    * batch walker's BigDecimal), which Spark's Decimal(38,18) encoder
    * could overflow on a long-running hot channel. `minDq`/`maxDq`
    * are the monotonic deques, persisted as-is so re-hydration is
    * O(|deque|) copying, not a recompute.
    */
  case class RollState(lastTs: Long, ring: Seq[(Long, Option[Double])],
                       sum: String, cnt: Long,
                       minDq: Seq[(Long, Double)],
                       maxDq: Seq[(Long, Double)])

  // the batch walker's cast double→DECIMAL(38,12), including the
  // non-ANSI NaN/Infinity → NULL rule (sum skips, count still counts)
  private def dec(x: Double): java.math.BigDecimal =
    if (java.lang.Double.isFinite(x))
      java.math.BigDecimal.valueOf(x)
        .setScale(12, java.math.RoundingMode.HALF_UP)
    else null

  def processChannel(windowNs: Long)(
      channel: String, it: Iterator[InSample],
      state: GroupState[RollState]): Iterator[RollOut] = {
    val st = state.getOption.getOrElse(
      RollState(Long.MinValue, Nil, "0", 0L, Nil, Nil))
    // hydrate once per (channel, batch); per-record ops are O(1) amortized
    var lastTs = st.lastTs
    val ring = scala.collection.mutable.ArrayDeque.from(st.ring)
    val minDq = scala.collection.mutable.ArrayDeque.from(st.minDq)
    val maxDq = scala.collection.mutable.ArrayDeque.from(st.maxDq)
    var sum = new java.math.BigDecimal(st.sum)
    var cnt = st.cnt
    val out = scala.collection.mutable.ArrayBuffer.empty[RollOut]
    for (s <- it.toSeq.sortBy(_.seq)) {
      if (lastTs == Long.MinValue || s.ts > lastTs) { // F6
        lastTs = s.ts
        ring.append((s.ts, s.value))
        s.value.foreach { x =>
          val d = dec(x); if (d != null) sum = sum.add(d); cnt += 1
          while (minDq.nonEmpty &&
            java.lang.Double.compare(minDq.last._2, x) >= 0)
            minDq.removeLast()
          minDq.append((s.ts, x))
          while (maxDq.nonEmpty &&
            java.lang.Double.compare(maxDq.last._2, x) <= 0)
            maxDq.removeLast()
          maxDq.append((s.ts, x))
        }
        val lo = s.ts - windowNs
        while (ring.nonEmpty && ring.head._1 < lo) {
          val (_, ev) = ring.removeHead()
          ev.foreach { x =>
            val d = dec(x); if (d != null) sum = sum.subtract(d); cnt -= 1
          }
        }
        while (minDq.nonEmpty && minDq.head._1 < lo) minDq.removeHead()
        while (maxDq.nonEmpty && maxDq.head._1 < lo) maxDq.removeHead()
        val mean = if (cnt == 0) None else Some(sum.doubleValue() / cnt)
        out += RollOut(channel, s.ts, mean,
          minDq.headOption.map(_._2), maxDq.headOption.map(_._2), cnt)
      }
    }
    state.update(RollState(lastTs, ring.toSeq, sum.toPlainString, cnt,
      minDq.toSeq, maxDq.toSeq))
    out.iterator
  }

  /** One `flatMapGroupsWithState` over the channel key, Append mode —
    * emitted rows are final the moment their sample arrives.
    */
  def trailingStream(samples: Dataset[InSample], windowSec: Long)
                    (implicit spark: SparkSession): Dataset[RollOut] = {
    import spark.implicits._
    samples
      .groupByKey(_.channel)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(
        processChannel(windowSec * 1000000000L))
  }
}
