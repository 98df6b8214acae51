package graft.perfbench

import java.nio.charset.StandardCharsets

import graft.archive.{ArchiveReader, ConfigCommands, ConfiguredArchive,
  DirectServe, ManifestBackend, ManifestStore}

/** One dashboard request: its route label, URL suffix (after the
  * server's base URL) and, for `/1/samples`, the serve parameters. */
final case class Req(route: String, channel: String, start: Long, end: Long,
                     count: Option[Long] = None, m4: Option[Int] = None) {
  def isSamples: Boolean = route != "stats"
  def path: String = {
    val base = if (route == "stats") "/1/stats/" else "/1/samples/"
    s"$base$channel?start=$start&end=$end" +
      count.fold("")(c => s"&count=$c") + m4.fold("")(k => s"&m4=$k")
  }
}

/** The load side shared by both workloads: closed-loop reader threads
  * over HTTP, the traced in-process serve, and the byte-parity check
  * against the Spark serve path. */
final class Reader(ctx: RunCtx, cfg: String, store: String, baseUrl: String,
                   log: RequestLog) {
  private val spark = ctx.spark
  private val tr = ctx.trace
  /** In a traced run every `InProcessEvery`-th eligible `/1/samples`
    * request is served in-process under layer spans. */
  private val InProcessEvery = 8
  private val inProcCounter = new java.util.concurrent.atomic.AtomicLong()
  // in-process serves: (served by the direct path?, its ns)
  private val inProc = scala.collection.mutable.ArrayBuffer.empty[(Boolean, Long)]
  // every Spark-path serve: in-process declines and byte-parity checks
  private val engineNs = scala.collection.mutable.ArrayBuffer.empty[Long]

  /** Tracing is switched on for even half-second slices of the window
    * and off for odd ones, so one traced run compares client latency
    * with and without spans (`trace.overhead_pct`). */
  def sliceTraced(sentNs: Long): Boolean =
    tr.enabled && ((sentNs - tr.originNs) / 500000000L) % 2 == 0

  private def wire(elems: Iterator[String]): Array[Byte] =
    elems.mkString("[", ",", "]").getBytes(StandardCharsets.UTF_8)

  /** The engine (Spark) serve of a `/1/samples` request without
    * downsampling — the byte-parity reference. */
  def sparkBytes(r: Req): Array[Byte] = {
    val t = System.nanoTime()
    val b = wire(ConfiguredArchive.serveJsonSpark(spark, cfg, store, r.channel,
      r.start, r.end, r.count, ManifestBackend,
      Some(ArchiveReader.AtOrWidened), Some(ArchiveReader.AtOrWidened)))
    engineNs.synchronized { engineNs += System.nanoTime() - t }
    b
  }

  /** The direct (driver-side) serve of a `/1/samples` request without
    * downsampling, drained; None when the direct path declines. */
  def directBytes(r: Req): Option[Array[Byte]] =
    DirectServe.tryServe(spark, cfg, store, r.channel, r.start, r.end,
        r.count, ManifestBackend, Some(ArchiveReader.AtOrWidened),
        Some(ArchiveReader.AtOrWidened), refuseDisabled = false)
      .map(it => wire(it))

  private def serveInProcess(r: Req, key: String): Unit = {
    tr.span("config.state", key)(ConfigCommands.state(spark, cfg))
    val v = tr.span("manifest.latest_version", key)(
      ManifestStore.latestVersion(spark, store))
    v.foreach(x => tr.span("manifest.read", key)(
      ManifestStore.readManifest(spark, store, x)))
    val t0 = System.nanoTime()
    val direct = tr.span("direct.try_serve", key)(directBytes(r))
    inProc.synchronized { inProc += ((direct.isDefined, System.nanoTime() - t0)) }
    if (direct.isEmpty) tr.span("engine.serve_json", key)(sparkBytes(r))
  }

  /** Issue one request, timed from send to last byte. Returns the body
    * when it was served over HTTP with status 200. */
  def issue(r: Req, id: Long): Option[Array[Byte]] = {
    val sent = System.nanoTime()
    val traced = sliceTraced(sent)
    val key = s"req-$id"
    val inProcess = traced && r.isSamples && r.m4.isEmpty &&
      inProcCounter.incrementAndGet() % InProcessEvery == 0
    var body: Option[Array[Byte]] = None
    val ok =
      try tr.span("http", key) {
        if (inProcess) {
          JobLedger.group(spark.sparkContext, "req")(serveInProcess(r, key))
          true
        } else {
          val resp = Http.get(baseUrl + r.path)
          if (resp.code == 200) body = Some(resp.body)
          resp.code == 200 && (r.route == "stats" ||
            resp.body.nonEmpty && resp.body(0) == '['.toByte)
        }
      } catch { case _: java.io.IOException => false }
    if (!inProcess)
      log.add(log.Rec(r.route, sent, System.nanoTime() - sent, ok, traced))
    body
  }

  /** Run closed-loop clients until `deadlineNs`; `next` draws client
    * `c`'s next request from its own seeded stream, `onBody` sees every
    * HTTP-served body. */
  def closedLoop(clients: Int, deadlineNs: Long, thinkMs: Long,
                 next: (Int, java.util.Random) => Req,
                 onBody: (Req, Array[Byte]) => Unit): Unit = {
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        val rnd = new java.util.Random(ctx.seed * 1000003L + c)
        var i = 0L
        while (System.nanoTime() < deadlineNs) {
          val r = next(c, rnd)
          val b = issue(r, c.toLong << 32 | i)
          // the check draw happens for every request, so the request
          // stream does not depend on which requests succeeded
          val checkDraw = rnd.nextDouble()
          b.foreach(bytes => if (checkDraw < 0.05) onBody(r, bytes))
          i += 1
          if (thinkMs > 0) Thread.sleep(thinkMs)
        }
      }, s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
  }

  /** Latency metrics over the HTTP-served requests of the window. The
    * tail is p90: the live workload's two readers make about a hundred
    * requests a run, and p90 is the highest percentile with ten samples
    * beyond it there. */
  def latencyMetrics(windowNs: Long): Map[String, Metric] = {
    val recs = log.all
    val lat = recs.filter(_.ok).map(r => Stats.ms(r.latNs))
    Map(
      "serve_p50_ms" -> Metric(Stats.pct(lat, 50), "ms"),
      "serve_p90_ms" -> Metric(Stats.pct(lat, 90), "ms"),
      "serve_rps" -> Metric(recs.count(_.ok) / (windowNs / 1e9), "req/s"))
  }

  /** Per-route client latency, the in-process layer times, and the
    * traced-versus-untraced slice comparison. */
  def layerMetrics(routes: Seq[String]): Map[String, Metric] = {
    val recs = log.all.filter(_.ok)
    val perRoute = routes.flatMap { r =>
      val l = recs.filter(_.route == r).map(x => Stats.ms(x.latNs))
      Seq(s"http.route_ms.p50.$r" -> Metric(z(Stats.pct(l, 50)), "ms"),
        s"http.route_ms.p99.$r" -> Metric(z(Stats.pct(l, 99)), "ms"))
    }
    val on = recs.filter(_.traced).map(x => Stats.ms(x.latNs))
    val off = recs.filterNot(_.traced).map(x => Stats.ms(x.latNs))
    val overhead = 100.0 * (Stats.pct(on, 50) / Stats.pct(off, 50) - 1.0)
    val ip = inProc.synchronized { inProc.toList }
    val direct = ip.filter(_._1).map(x => Stats.ms(x._2))
    val engine = engineNs.synchronized { engineNs.toList }.map(Stats.ms)
    val self = tr.selfTimes
    def spanP50(n: String) = z(Stats.pct(self.getOrElse(n, Nil), 50))
    perRoute.toMap ++ Map(
      "serve_p99_ms" -> Metric(z(Stats.pct(recs.map(x => Stats.ms(x.latNs)), 99)), "ms"),
      "trace.overhead_pct" -> Metric(z(overhead), "%"),
      "direct.hit_ratio" -> Metric(
        if (ip.isEmpty) 0.0 else direct.size.toDouble / ip.size, "ratio"),
      "direct.serve_ms.p50" -> Metric(z(Stats.pct(direct, 50)), "ms"),
      "direct.serve_ms.p99" -> Metric(z(Stats.pct(direct, 99)), "ms"),
      "engine.serve_ms.p50" -> Metric(z(Stats.pct(engine, 50)), "ms"),
      "config.state_ms.p50" -> Metric(spanP50("config.state"), "ms"),
      "manifest.latest_version_ms.p50" ->
        Metric(spanP50("manifest.latest_version"), "ms"),
      "manifest.read_ms.p50" -> Metric(spanP50("manifest.read"), "ms"))
  }

  /** Not-exercised timings print 0 rather than a missing value. */
  private def z(d: Double): Double = if (d.isNaN) 0.0 else d
}
