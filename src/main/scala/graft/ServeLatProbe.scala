package graft

import graft.archive.{ArchiveReader, ChannelConfig, ConfigCommands,
  ConfiguredArchive, DirectServe, ManifestBackend, ManifestStore}

/** Phase-level latency probe for the direct serve path: where do the
  * milliseconds of a cold rotating-channel request go (config state,
  * manifest metadata, level-state walk, day-file decode)?
  */
object ServeLatProbe {
  def main(args: Array[String]): Unit = {
    val spark = BenchSession("graft-servelat")
    import org.apache.spark.sql.functions._

    val NS = 1000000000L
    val t0 = 1704067200L * NS
    val channels = 1000
    val rows = channels.toLong * 7L * 24L * 60L
    val dir = java.nio.file.Files.createTempDirectory("servelat").toString
    val cfg = s"$dir/config"; val store = s"$dir/store"
    (0 until channels).foreach(i =>
      ConfigCommands.addChannel(spark, cfg, ChannelConfig(s"ch$i", s"id$i",
        "ca", enabled = true, Map(), Map(3600L -> 0L))))
    val raw = spark.range(rows).select(
      concat(lit("ch"), col("id") % channels).as("channel"),
      (lit(t0) + expr(s"id div $channels") * (60L * NS)).as("ts"),
      (col("id") % 997).cast("double").as("value"),
      lit("").as("str_value"), lit(0).as("severity"), lit(0).as("status"),
      col("id").as("sample_id"))
    ConfiguredArchive.materialize(spark, cfg, store, raw)

    def time[A](f: => A): (A, Double) = {
      val s = System.nanoTime(); val a = f
      (a, (System.nanoTime() - s) / 1e6)
    }
    val W = Some(ArchiveReader.AtOrWidened)

    // phase probes
    val (_, tState) = time(ConfigCommands.state(spark, cfg))
    val (_, tState2) = time(ConfigCommands.state(spark, cfg))
    val (v, tVer) = time(ManifestStore.latestVersion(spark, store))
    val (_, tMan) = time(ManifestStore.readManifest(spark, store, v.get))

    // full request, rotating channels
    val times = (0 until 40).map { i =>
      val (r, t) = time(DirectServe.tryServe(spark, cfg, store, s"ch${i + 1}",
        t0 + 86400L * NS, t0 + 2L * 86400L * NS, None, ManifestBackend,
        W, W, refuseDisabled = false).map(_.length))
      require(r.exists(_ > 1000), s"unexpected ${r}")
      t
    }.sorted
    // same channel repeated (level states memoized, rows re-decoded)
    val times2 = (0 until 20).map { _ =>
      val (_, t) = time(DirectServe.tryServe(spark, cfg, store, "ch5",
        t0 + 86400L * NS, t0 + 2L * 86400L * NS, None, ManifestBackend,
        W, W, refuseDisabled = false).map(_.length))
      t
    }.sorted
    println(f"state cold ${tState}%.1f warm ${tState2}%.2f ver ${tVer}%.2f " +
      f"manifest ${tMan}%.1f")
    println(f"rotating p50 ${times(times.size / 2)}%.1f ms " +
      f"min ${times.head}%.1f max ${times.last}%.1f")
    println(f"same-ch p50 ${times2(times2.size / 2)}%.1f ms " +
      f"min ${times2.head}%.1f")
    spark.stop()
  }
}
