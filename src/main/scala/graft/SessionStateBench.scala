package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** ST7 state-growth probe at ROLL100X scale: drive the native
  * `session_window` streaming aggregation (graft.streaming.Sessionize
  * .sessionWindowAgg — the path the `stream_sessionize` gate drains)
  * with a time-ordered bounded corpus replayed as MANY micro-batches,
  * and record the state-store size curve from the per-batch progress
  * metrics.
  *
  * The scale claim under test: session state is O(open sessions), not
  * O(events) — the watermark must evict closed sessions as event time
  * advances, so `numRowsTotal` plateaus near the user count while
  * events processed grows 200× past it. A leaking state store (or a
  * watermark that never advances) shows up as a monotone numRowsTotal
  * ramp toward the event count.
  *
  * Workload: `users` concurrent users, one event per user per 60 s,
  * a 2 h silence after every 50 events (gap 30 min → 4 closed
  * sessions per user), time-sliced into `batches` parquet files
  * replayed with maxFilesPerTrigger=1 so the watermark advances
  * between slices.
  *
  * {{{ sbt -batch "runMain graft.SessionStateBench" }}} prints one
  * JSON line with the per-batch state-rows curve and writes
  * session_state_bench.json.
  */
object SessionStateBench {

  def main(args: Array[String]): Unit = {
    val rows = sys.env.getOrElse("SPARK_GRAFT_SESS_ROWS", "20000000").toLong
    val users = sys.env.getOrElse("SPARK_GRAFT_SESS_USERS", "100000").toLong
    val batches = sys.env.getOrElse("SPARK_GRAFT_SESS_BATCHES", "20").toInt
    // recentProgress retains only this many entries (default 100);
    // the curve and the honesty checks below sum over ALL batches,
    // so a SPARK_GRAFT_SESS_BATCHES >= ~100 run would silently
    // truncate the curve and spuriously fail the input-rows check.
    val spark = BenchSession("graft-session-state-bench",
      "spark.sql.streaming.numRecentProgressUpdates" -> (batches + 64).toString)
    import spark.implicits._

    val NS = 1000000000L
    val t0 = 1704067200L * NS
    // per-user event k: minute grid plus a 2 h hole between 50-event
    // runs — expr-side integer math only (Column `/` is double division)
    val ev = spark.range(rows).select(
      (col("id") % users).as("user_id"),
      (lit(t0) + expr(s"id div $users") * (60L * NS) +
        expr(s"(id div $users) div 50") * (7200L * NS)).as("ts"),
      (col("id") % 97).cast("double").as("value"))

    val dir = java.nio.file.Files.createTempDirectory("sessbench").toString
    val in = s"$dir/events"
    val span = ev.agg(max("ts"), min("ts")).head
    val (tMax, tMin) = (span.getLong(0), span.getLong(1))
    val slice = (tMax - tMin) / batches + 1
    // one file per time slice, written in order → the file source
    // replays them oldest-first and the watermark advances per batch.
    // FileStreamSource orders by MODIFICATION time, and sequential
    // coalesce(1) writes can tie on coarse filesystem timestamps — a
    // tie-reordered slice under a 0 s watermark would silently drop
    // its events and corrupt the state curve. Stamp every slice's
    // files with an explicit strictly-increasing mtime so the replay
    // order is pinned, not hoped for.
    val stamped = scala.collection.mutable.Set.empty[java.nio.file.Path]
    val mtimeBase = java.nio.file.Files
      .getLastModifiedTime(java.nio.file.Paths.get(dir)).toMillis
    (0 until batches).foreach { i =>
      ev.where(col("ts") >= tMin + i.toLong * slice &&
               col("ts") < tMin + (i + 1).toLong * slice)
        .coalesce(1).write.mode("append").parquet(in)
      val it = java.nio.file.Files.list(java.nio.file.Paths.get(in))
      try it.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("part-"))
        .filterNot(stamped.contains)
        .foreach { p =>
          java.nio.file.Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime.fromMillis(
              mtimeBase + i.toLong * 10000L))
          stamped += p
        }
      finally it.close()
    }

    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val wall0 = System.nanoTime()
    val q = graft.streaming.Sessionize
      .sessionWindowAgg(stream, gapSec = 1800L, watermark = Some("0 seconds"))
      .writeStream.format("noop").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val wallSec = (System.nanoTime() - wall0) / 1e9

    val curve = q.recentProgress.toSeq
      .filter(_.stateOperators.nonEmpty)
      .map(p => (p.stateOperators.head.numRowsTotal,
        p.stateOperators.head.memoryUsedBytes,
        Option(p.sources.headOption.map(_.numInputRows).getOrElse(0L))
          .getOrElse(0L)))
    val maxState = if (curve.isEmpty) 0L else curve.map(_._1).max
    // end-to-end honesty checks. (1) every generated event must have
    // been INPUT to the stream — a lost slice file shows up here.
    // (2) input alone can't catch tie-reordered slices: the file
    // source still READS (and counts) a late slice's rows, then the
    // 0 s watermark drops them inside the stateful operator — so also
    // require zero watermark-dropped rows, the metric that measures
    // exactly that failure.
    val inputRows = q.recentProgress.toSeq.map(_.numInputRows).sum
    require(inputRows == rows,
      s"stream consumed $inputRows of $rows generated events — " +
        "slice replay dropped data; the state curve is invalid")
    val droppedRows = q.recentProgress.toSeq
      .flatMap(_.stateOperators.toSeq)
      .map(_.numRowsDroppedByWatermark).sum
    require(droppedRows == 0L,
      s"$droppedRows rows dropped by the watermark — slice replay ran " +
        "out of order; the state curve is invalid")
    val line =
      s"""{"metric":"session_state_rows_max","value":$maxState,"unit":"rows","events":$rows,"users":$users,"batches":$batches,"input_rows":$inputRows,"wall_sec":$wallSec,"events_per_sec":${(rows / wallSec).toLong},"state_rows_curve":${curve.map(_._1).mkString("[", ",", "]")},"state_bytes_curve":${curve.map(_._2).mkString("[", ",", "]")}}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("session_state_bench.json"),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
    println(line)
  }
}
