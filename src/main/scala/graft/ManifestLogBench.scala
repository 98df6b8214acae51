package graft

import org.apache.spark.sql.types.StructType

import graft.archive.ManifestStore

/** MLOG — manifest-protocol throughput at streaming-sink commit rates:
  * N metadata-only commits (one file entry each, the micro-batch
  * shape), timed in windows. The round-9 whole-log-rewrite protocol
  * went super-linear past ~10⁴ entries (every commit re-serialized the
  * entire live file list); the delta log writes O(change) per commit
  * with a full checkpoint every [[ManifestStore.CheckpointInterval]]
  * versions, so the window times must stay FLAT. Also reports the
  * cold read (checkpoint + delta fold) and the post-vacuum log size.
  *
  * {{{ sbt -batch "runMain graft.ManifestLogBench" }}}
  * `SPARK_GRAFT_MLOG_COMMITS` overrides the 5000 default.
  */
object ManifestLogBench {

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_MLOG_COMMITS", "5000").toInt
    val spark = BenchSession("graft-mlog")
    val dir = java.nio.file.Files.createTempDirectory("mlog").toString
    val schema = StructType.fromDDL(
      "channel STRING, ts BIGINT, value DOUBLE")
    val window = 500
    val windowMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var w0 = System.nanoTime()
    for (i <- 0 until n) {
      ManifestStore.commitEntries(spark, dir, Seq(
        ManifestStore.FileEntry(s"data/f$i.parquet", 0L, "2024-01-01",
          i * 1000L, i * 1000L + 999L, 100L, 1000L,
          Some(s"ch${i % 97}"), Some(s"ch${i % 97}"))), schema)
      if ((i + 1) % window == 0) {
        windowMs += (System.nanoTime() - w0) / 1e6 / window
        w0 = System.nanoTime()
      }
    }
    // cold fold: checkpoint + up-to-interval deltas
    ManifestStore.clearAssembledMemo()
    val r0 = System.nanoTime()
    val m = ManifestStore.latestManifest(spark, dir).get
    val readMs = (System.nanoTime() - r0) / 1e6
    require(m.files.size == n, s"fold lost entries: ${m.files.size} != $n")
    val logDir = new java.io.File(s"$dir/_manifests")
    val logBytes = logDir.listFiles().map(_.length()).sum
    val logFiles = logDir.listFiles().length
    ManifestStore.vacuum(spark, dir, graceMs = 0L)
    val afterFiles = logDir.listFiles().length
    val flat =
      if (windowMs.size < 2) true
      else windowMs.last <= windowMs.take(2).max * 2.0
    def n3(x: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))
    val line =
      s"""{"metric":"manifest_commit_ms","commits":$n,"window":$window,""" +
        s""""window_ms":[${windowMs.map(n3).mkString(",")}],""" +
        s""""flat":$flat,"cold_read_ms":${
          String.format(java.util.Locale.ROOT, "%.1f", Double.box(readMs))},""" +
        s""""log_files":$logFiles,"log_bytes":$logBytes,""" +
        s""""log_files_after_vacuum":$afterFiles,""" +
        s""""checkpoint_interval":${ManifestStore.CheckpointInterval}}"""
    spark.stop()
    println(line)
  }
}
