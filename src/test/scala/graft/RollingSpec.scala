package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.archive.Rolling

/** The linear-time walkers must be bit-identical to the declarative
  * RANGE-frame reference ([[RollingReference]]) — including null
  * markers, ts ties (RANGE peers), channel boundaries, and the
  * DECIMAL-routed mean.
  */
class RollingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.toString).toSeq.sorted

  private def compare(rows: Seq[(String, Long, Option[Double])],
                      windowSec: Long): Unit = {
    val df = rows.toDF("channel", "ts", "value")
    // multiset equality (ties make per-row order ambiguous); doubles
    // compared bitwise via toString of the full row
    val slow = sortedRows(RollingReference.trailing(df, windowSec))
    assert(slow == sortedRows(Rolling.trailing(df, windowSec)),
      s"windowSec=$windowSec")
    assert(slow.size == rows.size)
  }

  test("trailingFast equals trailing on a dense single channel") {
    val ns = 1000000000L
    val rows = (0 until 500).map(i =>
      ("c", i.toLong * 3 * ns, Some((i % 17) * 0.3 - 2.0)))
    compare(rows, windowSec = 60L)
  }

  test("trailingFast equals trailing with ties, nulls, and many channels") {
    val ns = 1000000000L
    val rnd = new scala.util.Random(42)
    val rows = (0 until 2000).map { i =>
      val ch = s"ch${rnd.nextInt(5)}"
      // quantized ts forces RANGE peers (equal ts within a channel)
      val ts = rnd.nextInt(300).toLong * 7 * ns
      val v = if (rnd.nextInt(10) == 0) None
        else Some(math.floor(rnd.nextDouble() * 1000) / 8.0)
      (ch, ts, v)
    }
    compare(rows, windowSec = 120L)
    compare(rows, windowSec = 1L)    // near-degenerate frame
    compare(rows, windowSec = 10000L) // frame spans everything
  }

  test("streamed trailing window equals batch across micro-batches") {
    implicit val s: SparkSession = spark
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.StreamingDecimation.InSample
    val ns = 1000000000L
    val rows = Seq(
      ("c", 5L, Some(1.0)), ("c", 40L, Some(3.0)), ("d", 10L, Some(9.0)),
      ("c", 70L, Some(5.0)), ("c", 71L, None), ("d", 200L, Some(2.0)),
      ("c", 130L, Some(7.0)), ("c", 131L, Some(2.0)))
      .map { case (ch, t, v) => (ch, t * ns, v) }
    val in = rows.zipWithIndex.map { case ((ch, t, v), i) =>
      InSample(ch, t, v, i.toLong)
    }
    val mem = MemoryStream[InSample]
    val q = graft.streaming.StreamingRolling.trailingStream(mem.toDS(), 60L)
      .writeStream.format("memory").queryName("sroll_spec")
      .outputMode("append").start()
    try {
      // split mid-frame to exercise state carry-over
      mem.addData(in.take(3)); q.processAllAvailable()
      mem.addData(in.drop(3)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("sroll_spec")
      .collect().map(_.toSeq.toString).sorted
    val batch = Rolling.trailing(
        rows.toDF("channel", "ts", "value"), 60L)
      .collect().map(_.toSeq.toString).sorted
    assert(streamed.toSeq == batch.toSeq)
  }

  test("zscore: spike scores, constant window and singleton frames are NULL") {
    val ns = 1000000000L
    val rows = Seq(
      ("c", 0L, Some(2.0)), ("c", 10 * ns, Some(2.0)),
      ("c", 20 * ns, Some(2.0)), ("c", 30 * ns, Some(8.0)), // spike
      ("d", 0L, Some(5.0))) // singleton frame
      .toDF("channel", "ts", "value")
    val out = Rolling.zscore(rows, 60L).orderBy("channel", "ts").collect()
    // first row: n=1 → no std, no z
    assert(out(0).isNullAt(4) && out(0).isNullAt(5))
    // constant window rows: std 0 → z NULL, never Inf/NaN
    assert(out(1).getDouble(4) == 0.0 && out(1).isNullAt(5))
    // the spike: mean (2+2+2+8)/4 = 3.5, sample std 3, z = 1.5
    assert(math.abs(out(3).getDouble(3) - 3.5) < 1e-12)
    assert(math.abs(out(3).getDouble(4) - 3.0) < 1e-12)
    assert(math.abs(out(3).getDouble(5) - 1.5) < 1e-12)
    // singleton channel: no std/z
    assert(out(4).isNullAt(4) && out(4).isNullAt(5))
  }

  test("zscoreFast equals the declarative zscore, bitwise") {
    val ns = 1000000000L
    val rnd = new scala.util.Random(7)
    val rows = (0 until 1500).map { i =>
      val ch = s"z${rnd.nextInt(4)}"
      val ts = rnd.nextInt(200).toLong * 9 * ns
      val v = if (rnd.nextInt(12) == 0) None
        else Some(math.floor(rnd.nextDouble() * 900) / 16.0)
      (ch, ts, v)
    }
    val df = rows.toDF("channel", "ts", "value")
    for (w <- Seq(1L, 90L, 100000L))
      assert(sortedRows(RollingReference.zscore(df, w)) ==
        sortedRows(Rolling.zscore(df, w)), s"windowSec=$w")
  }

  test("all-null frames yield null stats and zero count") {
    val ns = 1000000000L
    val rows = Seq(("c", 0L, None), ("c", 5 * ns, None),
      ("c", 100 * ns, Some(1.5)))
    compare(rows, windowSec = 10L)
    val out = Rolling.trailing(rows.toDF("channel", "ts", "value"), 10L)
      .orderBy("ts").collect()
    assert(out(0).isNullAt(2) && out(0).getLong(5) == 0L)
    assert(out(2).getDouble(2) == 1.5)
  }
}
