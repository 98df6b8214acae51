package graft

import java.net.{HttpURLConnection, URI}

import graft.archive.{ChannelConfig, ConfigCommands, ConfiguredArchive,
  HttpArchiveServer}

/** HTTP serving-edge latency probe (HTTPLAT): build a config-governed
  * manifest store (1000 channels × 1 week of 1-minute samples + a 1 h
  * level), start [[HttpArchiveServer]], and drive sequential
  * `GET /1/samples/<ch>?start&end[&count]` requests over a live
  * socket — the per-request cost of the full stack (config resolve →
  * one grouped levelStates job → planner → pruned range read + two
  * boundary probes → JSON stream). Reports mean/p50/p95 per request
  * shape as one JSON line.
  *
  * What this measures is REQUEST LATENCY on a warm session, not
  * throughput: every request is a handful of small Spark jobs, so the
  * floor is job-scheduling round trips — the number that matters for
  * an interactive archive-viewer UI in front of this edge.
  */
object HttpBench {

  def main(args: Array[String]): Unit = {
    val reqs = sys.env.getOrElse("SPARK_GRAFT_HTTP_REQS", "50").toInt
    val spark = BenchSession("graft-http-bench")
    import org.apache.spark.sql.functions._

    val NS = 1000000000L
    val t0 = 1704067200L * NS
    val channels = 1000
    val rows = channels.toLong * 7L * 24L * 60L // one week of 1-min samples
    val dir = java.nio.file.Files.createTempDirectory("httpbench").toString
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

    val running = HttpArchiveServer.start(spark, cfg, store)
    // keep-alive client (no disconnect()): a dashboard holds its
    // connections open, and tearing one down per request puts the JDK
    // server's per-accept dispatch (~40 ms, measured) under every
    // request — that cost is connection setup, not serving
    def get(url: String): Int = {
      val conn = URI.create(url).toURL.openConnection()
        .asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("GET")
      val code = conn.getResponseCode
      val in = conn.getInputStream
      var n = 0L
      val buf = new Array[Byte](65536)
      var r = in.read(buf)
      while (r >= 0) { n += r; r = in.read(buf) }
      in.close()
      if (code == 200) n.toInt else -code
    }
    def measure(mk: Int => String): Seq[Double] =
      (0 until reqs).map { i =>
        val u = mk(i)
        val s0 = System.nanoTime()
        require(get(u) > 0, s"request failed: $u")
        (System.nanoTime() - s0) / 1e9
      }
    def stats(xs: Seq[Double]): String = {
      val s = xs.sorted
      def n4(x: Double): String =
        String.format(java.util.Locale.ROOT, "%.4f", Double.box(x))
      s""""mean":${n4(xs.sum / xs.size)},"p50":${n4(s(s.size / 2))},""" +
        s""""p95":${n4(s((s.size * 95) / 100 min (s.size - 1)))}"""
    }

    val base = running.baseUrl
    // warm: first request compiles the serving plans
    get(s"$base/1/samples/ch0?start=${t0 + 86400L * NS}&end=${t0 + 2L * 86400L * NS}")
    // shape A: raw day window (widened bounds, ~1440 elements)
    val day = measure(i => s"$base/1/samples/ch${i % channels}" +
      s"?start=${t0 + 86400L * NS}&end=${t0 + 2L * 86400L * NS}")
    // shape B: count-driven decimated week (planner picks the 1 h level)
    val week = measure(i => s"$base/1/samples/ch${i % channels}" +
      s"?start=$t0&end=${t0 + 7L * 86400L * NS}&count=200")
    // shape C: channel listing (driver-side config walk, no Spark job)
    val list = measure(_ => s"$base/1/channels-by-pattern/ch1*")
    // shape B2: the chart-UI pattern — repeated requests for ONE
    // channel (pan/zoom on a chart): the per-(store version, channel)
    // levelStates memo serves availability from memory after the
    // first hit
    val oneCh = measure(_ => s"$base/1/samples/ch7" +
      s"?start=${t0 + 86400L * NS}&end=${t0 + 2L * 86400L * NS}")
    // shape E: chart downsampling over HTTP — the week window reduced
    // server-side to k points per request (rotating channels, so every
    // request pays its Spark jobs rather than the response cache);
    // m4 is the one-hash-aggregate envelope, lttb adds the anchor
    // broadcast + per-bucket top-1
    val m4 = measure(i => s"$base/1/samples/ch${i % channels}" +
      s"?start=$t0&end=${t0 + 7L * 86400L * NS}&m4=250")
    val lttb = measure(i => s"$base/1/samples/ch${i % channels}" +
      s"?start=$t0&end=${t0 + 7L * 86400L * NS}&lttb=1000")
    // shape F: ad-hoc derived channel — two channels held onto a 1 h
    // grid and subtracted server-side (rotating pairs; one as-of
    // union-merge + pointwise combine per request)
    val derived = measure(i => s"$base/1/derived/ch${i % channels}" +
      s"?other=ch${(i + 1) % channels}&op=sub" +
      s"&start=$t0&end=${t0 + 7L * 86400L * NS}&step=${3600L * NS}")
    // shape G: analytics panels over HTTP (rotating channels, so each
    // request pays its Spark jobs) — spectrum runs the 7-candidate
    // projection over the week, cusum the two prefix-scan windows
    val spectrum = measure(i => s"$base/1/spectrum/ch${i % channels}" +
      s"?start=$t0&end=${t0 + 7L * 86400L * NS}")
    val cusum = measure(i => s"$base/1/cusum/ch${i % channels}" +
      s"?start=$t0&end=${t0 + 7L * 86400L * NS}")
    // shape H: TYPED-union serving (the reference's only wire format,
    // and where EPICS migrations land) — rotating channels over a
    // second, typed store; the driver-side typed decode+serialize
    // path answers these
    val typedDir = java.nio.file.Files.createTempDirectory("httpbtyped")
      .toString
    val tCfg = s"$typedDir/config"; val tStore = s"$typedDir/store"
    val tChannels = 200
    (0 until tChannels).foreach(i =>
      ConfigCommands.addChannel(spark, tCfg, ChannelConfig(s"tpv$i",
        s"tid$i", "ca", enabled = true, Map(), Map())))
    val typedRaw = spark.range(tChannels.toLong * 1440L).select(
      concat(lit("tpv"), col("id") % tChannels).as("channel"),
      (lit(t0) + expr(s"id div $tChannels") * (60L * NS)).as("ts"),
      lit("scalar_double").as("vtype"),
      (col("id") % 997).cast("double").as("value"),
      lit(null).cast("string").as("str_value"),
      lit(null).cast("int").as("enum_value"),
      lit(null).cast("array<string>").as("labels"),
      lit(null).cast("array<double>").as("arr_num"),
      lit(null).cast("array<string>").as("arr_str"),
      lit(null).cast("double").as("agg_mean"),
      lit(null).cast("double").as("agg_std"),
      lit(null).cast("double").as("agg_min"),
      lit(null).cast("double").as("agg_max"),
      lit(null).cast("double").as("agg_cov"),
      (col("id") % 4).cast("int").as("severity"),
      (col("id") % 8).cast("int").as("status"),
      lit("mm").as("meta_units"), lit(2).as("meta_precision"),
      lit(-500.0).as("meta_display_low"), lit(500.0).as("meta_display_high"),
      lit(-100.0).as("meta_warn_low"), lit(100.0).as("meta_warn_high"),
      lit(-200.0).as("meta_alarm_low"), lit(200.0).as("meta_alarm_high"),
      lit(null).cast("double").as("meta_control_low"),
      lit(null).cast("double").as("meta_control_high"),
      col("id").as("sample_id"))
    graft.archive.ConfiguredArchive.materializeTyped(spark, tCfg, tStore,
      typedRaw)
    val typedRunning = HttpArchiveServer.start(spark, tCfg, tStore)
    val tBase = typedRunning.baseUrl
    get(s"$tBase/1/samples/tpv0?start=$t0&end=${t0 + 86400L * NS}")
    val typedDay = measure(i => s"$tBase/1/samples/tpv${i % tChannels}" +
      s"?start=$t0&end=${t0 + 86400L * NS}")
    typedRunning.stop()

    // shape D: CONCURRENT raw-day requests — 8 client threads, the
    // server's fixed pool interleaving their small Spark jobs; reports
    // aggregate requests/sec (the serving-throughput number, where the
    // sequential shapes report latency)
    val clients = 8
    val perClient = math.max(reqs / clients, 4)
    val c0 = System.nanoTime()
    val threads = (0 until clients).map { c =>
      val t = new Thread(() =>
        (0 until perClient).foreach { i =>
          val ch = (c * perClient + i) % channels
          require(get(s"$base/1/samples/ch$ch" +
            s"?start=${t0 + 86400L * NS}&end=${t0 + 2L * 86400L * NS}") > 0)
        })
      t.start(); t
    }
    threads.foreach(_.join())
    val concSec = (System.nanoTime() - c0) / 1e9
    val concRps = clients.toLong * perClient / concSec
    running.stop()

    val line =
      s"""{"metric":"http_request_sec","reqs":$reqs,"channels":$channels,"rows":$rows,"raw_day":{${stats(day)}},"raw_day_same_channel":{${stats(oneCh)}},"decimated_week_count200":{${stats(week)}},"channel_listing":{${stats(list)}},"m4_week_k250":{${stats(m4)}},"lttb_week_k1000":{${stats(lttb)}},"derived_week_1h":{${stats(derived)}},"spectrum_week_p7":{${stats(spectrum)}},"cusum_week":{${stats(cusum)}},"typed_raw_day":{${stats(typedDay)}},"concurrent_raw_day":{"clients":$clients,"total_reqs":${clients * perClient},"wall_sec":$concSec,"req_per_sec":$concRps}}"""
    spark.stop()
    println(line)
  }
}
