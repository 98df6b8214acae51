package graft

import java.io.{BufferedWriter, OutputStreamWriter}
import java.net.ServerSocket
import java.nio.charset.StandardCharsets

/** Sustained network-ingest rate over a live TCP socket (BASELINE
  * INGEST row): a feeder thread pumps the line protocol through
  * [[graft.streaming.StreamingDecimation.socketSamples]] into the
  * exactly-once manifest sink, and the metric is end-to-end committed
  * rows/sec (socket read + parse + id-free commit), measured from
  * first byte to last row visible in the store — the shape of the
  * reference's ~100k samples/s/node live-CA ingest envelope
  * (ChannelAccessControlSystemSupport.java), minus the CA protocol
  * itself.
  *
  * {{{ sbt -batch "runMain graft.IngestBench" }}}
  */
object IngestBench {

  def main(args: Array[String]): Unit = {
    val rows = sys.env.getOrElse("SPARK_GRAFT_INGEST_ROWS", "2000000").toLong
    val channels =
      sys.env.getOrElse("SPARK_GRAFT_INGEST_CHANNELS", "1000").toInt
    // the drain check sums numInputRows over recentProgress — size
    // the ring so a many-batch run cannot silently truncate it
    val spark = BenchSession("graft-ingest-bench",
      "spark.sql.streaming.numRecentProgressUpdates" -> "10000")

    val t0 = 1704067200L * 1000000000L
    val server = new ServerSocket(0)
    val feeder = new Thread(() => {
      val sock = server.accept()
      val out = new BufferedWriter(new OutputStreamWriter(
        sock.getOutputStream, StandardCharsets.UTF_8), 1 << 20)
      var i = 0L
      while (i < rows) {
        out.write(s"ch${i % channels}\t${t0 + (i / channels) * 1000000000L}" +
          s"\t${(i % 1000).toDouble}\t$i\n")
        i += 1
      }
      out.flush()
      sock.close() // EOF ends the spool receiver cleanly
    })
    feeder.setDaemon(true)
    feeder.start()

    val dir = java.nio.file.Files.createTempDirectory("ingestbench").toString
    val store = s"$dir/store"; val ckpt = s"$dir/ckpt"
    val spool = s"$dir/spool"
    val start = System.nanoTime()
    // production transport: socket → write-ahead spool → file source
    // (graft.streaming.StreamingDecimation.spoolSocket docs — the
    // built-in TCP text source is a per-line-locked test transport
    // that caps around 10k lines/s; the spool publishes atomic chunk
    // files the file source scans at full rate, and is replayable)
    val receiver = graft.streaming.StreamingDecimation.spoolSocket(
      "localhost", server.getLocalPort, spool)
    val q = graft.streaming.StreamingDecimation.writeRawStreamManifest(
      graft.streaming.StreamingDecimation.spooledSamples(spark, spool),
      store, ckpt)
    receiver.join(1200000) // feeder EOF → every chunk published
    q.processAllAvailable()
    val sec = (System.nanoTime() - start) / 1e9
    q.stop()
    val n = graft.archive.ManifestStore.read(spark, store, 0L).count()
    val prog = q.recentProgress
    val batchRows = prog.map(_.numInputRows).filter(_ > 0)
    val line =
      s"""{"metric":"ingest_rows_per_sec","value":${(n / sec).toLong},"unit":"rows_per_sec","rows":$n,"requested":$rows,"channels":$channels,"sec":$sec,"batches":${prog.length},"nonempty_batches":${batchRows.length},"max_batch_rows":${if (batchRows.isEmpty) 0L else batchRows.max},"transport":"tcp_socket_spool","sink":"manifest_exactly_once"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("ingest_bench.json"),
      (line + "\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
    println(line)
  }
}
