package graft.perfbench

import scala.collection.mutable

import graft.archive.{ConfiguredArchive, HttpArchiveServer}

/** `serve_archive`: dashboard reads of a fixed archive. Closed loop,
  * four keep-alive clients, no think time; channels drawn Zipf(s=1);
  * windows on a 15-minute grid. No commits happen while it is timed,
  * so the response cache and the level-state memo stay valid and only
  * the key mix decides what they hold. */
object ServeArchive {
  val Channels = 100
  val Days = 3
  val Clients = 4
  val GridNs: Long = 15L * Store.MinuteNs
  val Routes = Seq("raw_zoom", "raw_day", "overview", "m4", "stats", "export")
  /** Byte-parity checks against the Spark serve path are capped: each
    * costs a few Spark jobs after the timed window. */
  val MaxChecks = 8
  val WarmupNs: Long = 6L * 1000000000L

  def run(ctx: RunCtx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.trace
    val cfg = s"${ctx.dir}/config"
    val store = s"${ctx.dir}/store"
    val ledger = new JobLedger
    spark.sparkContext.addSparkListener(ledger)

    ctx.phase("setup")
    val setup0 = System.nanoTime()
    val configMs = Stats.timeMs(tr.span("setup.config", "setup")(
      JobLedger.group(spark.sparkContext, "setup")(
        Store.configure(spark, cfg, 0 until Channels, Store.Levels))))
    val materializeMs = Stats.timeMs(tr.span("setup.materialize", "setup")(
      JobLedger.group(spark.sparkContext, "setup")(
        ConfiguredArchive.materialize(spark, cfg, store,
          Store.minuteSamples(spark, Channels, Store.T0, Days, ctx.seed)))))
    ctx.phase("server")
    val running = HttpArchiveServer.start(spark, cfg, store,
      threads = ctx.cores)
    val log = new RequestLog
    val reader = new Reader(ctx, cfg, store, running.baseUrl, log)
    // warm-up: the same traffic from independent random streams, served
    // in-process through the direct path, so the window starts with
    // compiled decode paths but an empty HTTP response cache; then each
    // route once over HTTP
    val zipf = new Zipf(Channels, 1.0)
    val warmEnd = System.nanoTime() + WarmupNs
    (0 until Clients).map { c =>
      val t = new Thread(() => {
        val rnd = new java.util.Random(~(ctx.seed * 1000003L + c))
        while (System.nanoTime() < warmEnd) {
          val r = request(pick(rnd), zipf.draw(rnd), rnd)
          if (r.isSamples && r.m4.isEmpty) reader.directBytes(r)
        }
      })
      t.start(); t
    }.foreach(_.join())
    Routes.foreach(r => Http.get(running.baseUrl +
      request(r, Channels - 1, new java.util.Random(ctx.seed)).path))
    val setupS = (System.nanoTime() - setup0) / 1e9
    ledger.settle()
    val setupJobs = ledger.jobs("setup")
    val setupTaskMs = ledger.taskMs("setup")

    ctx.phase("window")
    val checks = mutable.LinkedHashMap.empty[String, (Req, Array[Byte])]
    val hits0 = running.stats.responseCacheHits.get
    val samples0 = running.stats.samplesRequests.get
    val gc0 = Jvm.gcMs
    val jobs0 = ledger.jobs("") + ledger.jobs("req")
    val w0 = System.nanoTime()
    val deadline = w0 + ctx.seconds * 1000000000L
    reader.closedLoop(Clients, deadline, 0L,
      (_, rnd) => request(pick(rnd), zipf.draw(rnd), rnd),
      (r, body) => if (r.isSamples && r.m4.isEmpty) checks.synchronized {
        checks.getOrElseUpdate(r.path, (r, body)); ()
      })
    val windowNs = System.nanoTime() - w0
    // which picked URLs get checked must not depend on thread timing
    val picked = checks.values.toSeq.sortBy(c =>
      scala.util.hashing.MurmurHash3.stringHash(c._1.path, ctx.seed.toInt))
    val gcMs = Jvm.gcMs - gc0
    ledger.settle()
    val windowJobs = ledger.jobs("") + ledger.jobs("req") - jobs0
    val hits = running.stats.responseCacheHits.get - hits0
    val samplesReqs = running.stats.samplesRequests.get - samples0

    ctx.phase("checks")
    val problems = byteParity(ctx, reader, picked)
    val recs = log.all
    val failed = recs.count(!_.ok).toLong
    val (bytes, rawRows, files) = Store.footprint(spark, store)
    ledger.settle()
    val cachedRdds = spark.sparkContext.getPersistentRDDs.size
    running.stop()
    ctx.phase("heap")
    val heapMb = Jvm.heapLiveMb
    ctx.phase("done")

    val e2e = reader.latencyMetrics(windowNs) ++ Map(
      "setup_s" -> Metric(setupS, "s"),
      "bytes_per_sample" -> Metric(bytes.toDouble / rawRows, "B"))
    val layer =
      if (!ctx.traced) Map.empty[String, Metric]
      else reader.layerMetrics(Routes) ++
        Layers.setup(configMs, materializeMs, setupJobs, setupTaskMs,
          setupS, ctx.cores) ++
        Map(
          "http.resp_cache_hit_ratio" -> Metric(
            if (samplesReqs == 0) 0.0 else hits.toDouble / samplesReqs, "ratio"),
          "spark.jobs_per_req" -> Metric(
            windowJobs.toDouble / math.max(1, recs.size), "jobs"),
          "manifest.live_files" -> Metric(files, "count"),
          "heap_live_mb" -> Metric(heapMb, "MB"),
          "jvm.gc_ms" -> Metric(gcMs.toDouble, "ms"),
          "spark.cached_rdds_end" -> Metric(cachedRdds, "count"))
    Outcome(recs.size.toLong, failed, problems, e2e, layer)
  }

  /** The route mix: 40% raw 1-h zoom, 20% raw 1-day, 20% full-span
    * overview, 10% m4, 5% stats, 5% full-span raw export. */
  def pick(rnd: java.util.Random): String = {
    val u = rnd.nextDouble()
    if (u < 0.40) "raw_zoom" else if (u < 0.60) "raw_day"
    else if (u < 0.80) "overview" else if (u < 0.90) "m4"
    else if (u < 0.95) "stats" else "export"
  }

  /** Raw is kept one day and retention drops whole day buckets, so the
    * raw level holds the last two days; `materialize` applies it before
    * it cascades, so the levels hold the same two days. Zoom and day
    * windows stay inside them; the full-span shapes start a day
    * earlier. */
  def request(route: String, ch: Int, rnd: java.util.Random): Req = {
    val rawFrom = Store.T0 + Store.DayNs
    val spanEnd = Store.T0 + Days * Store.DayNs
    def gridStart(len: Long): Long =
      rawFrom + GridNs * rnd.nextInt(((spanEnd - len - rawFrom) / GridNs + 1).toInt)
    val name = Store.name(ch)
    route match {
      case "raw_zoom" =>
        val s = gridStart(3600L * Store.NS); Req(route, name, s, s + 3600L * Store.NS)
      case "raw_day" =>
        val s = gridStart(Store.DayNs); Req(route, name, s, s + Store.DayNs)
      case "stats" =>
        val s = gridStart(Store.DayNs); Req(route, name, s, s + Store.DayNs)
      case "overview" => Req(route, name, Store.T0, spanEnd, count = Some(200L))
      case "m4" => Req(route, name, Store.T0, spanEnd, m4 = Some(250))
      case "export" => Req(route, name, Store.T0, spanEnd)
    }
  }

  /** Served bytes of a seeded ~5% of the plain `/1/samples` requests
    * (distinct URLs, at most [[MaxChecks]]) must equal the Spark serve
    * path's bytes for the same parameters. */
  def byteParity(ctx: RunCtx, reader: Reader,
                 picked: Seq[(Req, Array[Byte])]): Seq[String] = {
    val todo = picked.take(MaxChecks)
    if (todo.isEmpty) return Seq("no request was picked for the byte-parity check")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cores)
    try {
      val fs = todo.map { case (r, body) =>
        pool.submit(new java.util.concurrent.Callable[Option[String]] {
          def call(): Option[String] = {
            val ref = JobLedger.group(ctx.spark.sparkContext, "check")(
              reader.sparkBytes(r))
            if (java.util.Arrays.equals(ref, body)) None
            else Some(s"byte mismatch on ${r.path}: served ${body.length} B, " +
              s"spark ${ref.length} B")
          }
        })
      }
      fs.flatMap(_.get())
    } finally pool.shutdown()
  }
}
