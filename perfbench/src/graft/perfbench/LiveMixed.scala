package graft.perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.net.ServerSocket
import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.archive.{ConfiguredArchive, HttpArchiveServer, Maintenance,
  ManifestStore}
import graft.streaming.StreamingDecimation

/** `live_mixed`: writes beside reads. An open-loop feeder sends 5,000
  * samples/s over a socket, flushing every 10 ms, through the spool,
  * the file source and the config-governed manifest sink; two readers
  * poll recent windows; the main thread runs the operator loop
  * (catch-up, then maintenance) every 15 s; an observer polls the
  * manifest version to time visibility. Every micro-batch commit bumps
  * the manifest version, so the version-keyed caches rarely hit. */
object LiveMixed {
  val Channels = 100
  val RatePerS = 5000
  val FlushMs = 10
  val LinesPerFlush: Int = RatePerS * FlushMs / 1000
  val Readers = 2
  val ThinkMs = 100L
  val CycleNs: Long = 15L * 1000000000L
  /** Longer than any run, so vacuum never deletes a file a reader holds. */
  val VacuumGraceMs: Long = 3600000L
  /** The engine's late-data tolerance, `StreamingDecimation.WatermarkDelay`. */
  val VisibleLimitNs: Long = 30L * 1000000000L
  val MarkerShare = 0.001
  val MalformedShare = 0.001
  val ParityChannels = 3
  val SampleIdBase = 1000000000000L
  val Routes = Seq("raw_zoom", "overview", "m4")

  def run(ctx: RunCtx): Outcome = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val tr = ctx.trace
    val cfg = s"${ctx.dir}/config"
    val store = s"${ctx.dir}/store"
    val spool = s"${ctx.dir}/spool"
    val ckpt = s"${ctx.dir}/ckpt"
    val ledger = new JobLedger
    sc.addSparkListener(ledger)
    val ingest = new IngestListener(tr)
    if (ctx.traced) spark.streams.addListener(ingest)

    ctx.phase("setup")
    val setup0 = System.nanoTime()
    val configMs = Stats.timeMs(tr.span("setup.config", "setup")(
      JobLedger.group(sc, "setup")(
        Store.configure(spark, cfg, 0 until Channels, Store.Levels))))
    val materializeMs = Stats.timeMs(tr.span("setup.materialize", "setup")(
      JobLedger.group(sc, "setup")(ConfiguredArchive.materialize(spark, cfg, store,
        Store.minuteSamples(spark, Channels, Store.T0 - Store.DayNs, 1,
          ctx.seed)))))
    // warm-up: one operator cycle on the quiescent store, so the timed
    // cycle does not pay the first catch-up's and compaction's code paths
    tr.span("setup.warmup_cycle", "setup")(JobLedger.group(sc, "setup") {
      ConfiguredArchive.catchUp(spark, cfg, store)
      Maintenance.runConfigured(spark, cfg, store, vacuumGraceMs = VacuumGraceMs)
    })
    ctx.phase("server")
    val running = HttpArchiveServer.start(spark, cfg, store, threads = ctx.cores)
    val picks = parityPicks(ctx.seed)
    val feeder = new Feeder(ctx.seed, picks.toSet)
    val receiver = StreamingDecimation.spoolSocket("localhost", feeder.port, spool)
    val query = StreamingDecimation.writeRawStreamConfigured(
      StreamingDecimation.spooledSamples(spark, spool), store, ckpt, cfg)
    // warm-up: the feeder first sends one sample per channel at T0,
    // which runs the query's first micro-batch before anything is timed
    // and closes every channel's last base-day window, so the first
    // catch-up cycle has windows to flush
    while (!new java.io.File(spool).list().exists(_.startsWith("spool-")))
      Thread.sleep(10)
    query.processAllAvailable()
    val log = new RequestLog
    val reader = new Reader(ctx, cfg, store, running.baseUrl, log)
    Routes.foreach(r => Http.get(running.baseUrl +
      request(r, Channels - 1, Store.T0).path))
    val setupS = (System.nanoTime() - setup0) / 1e9
    ledger.settle()
    val setupJobs = ledger.jobs("setup")
    val setupTaskMs = ledger.taskMs("setup")

    ctx.phase("window")
    val v0 = ManifestStore.latestVersion(spark, store).get
    val rows0 = Store.levelRows(spark, store)
    val hits0 = running.stats.responseCacheHits.get
    val samples0 = running.stats.samplesRequests.get
    val gc0 = Jvm.gcMs
    val jobs0 = ledger.jobs("") + ledger.jobs("req")
    val observer = new Observer(ctx, store)
    val w0 = System.nanoTime()
    val deadline = w0 + ctx.seconds * 1000000000L
    feeder.start(w0, deadline)
    val zipf = new Zipf(Channels, 1.0)
    @volatile var readersEnd = 0L
    val readers = new Thread(() => {
      reader.closedLoop(Readers, deadline, ThinkMs,
        (_, rnd) => request(pick(rnd), zipf.draw(rnd),
          Store.T0 + (System.nanoTime() - w0)),
        (_, _) => ())
      readersEnd = System.nanoTime()
    }, "perfbench-readers")
    readers.start()

    val cycles = ArrayBuffer.empty[Double]
    val maintMs = ArrayBuffer.empty[Double]
    var compacted = 0L
    def cycle(n: Int): Unit = {
      val key = s"cycle-$n"
      val c0 = System.nanoTime()
      tr.span("cascade.catchup", key)(JobLedger.group(sc, "cascade")(
        ConfiguredArchive.catchUp(spark, cfg, store)))
      val m0 = System.nanoTime()
      val rep = tr.span("maintenance.run", key)(JobLedger.group(sc, "maintenance")(
        Maintenance.runConfigured(spark, cfg, store, vacuumGraceMs = VacuumGraceMs)))
      val end = System.nanoTime()
      compacted += rep.compacted.map(_.files.toLong).sum
      maintMs += (end - m0) / 1e6
      cycles += (end - c0) / 1e6
    }
    var n = 0
    while (System.nanoTime() < deadline) {
      val due = w0 + n * CycleNs
      val wait = math.min(due, deadline) - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      if (System.nanoTime() < deadline) { cycle(n); n += 1 }
    }
    readers.join()
    feeder.join()
    val windowNs = readersEnd - w0
    val gcMs = Jvm.gcMs - gc0
    ledger.settle()
    val windowJobs = ledger.jobs("") + ledger.jobs("req") - jobs0
    val hits = running.stats.responseCacheHits.get - hits0
    val samplesReqs = running.stats.samplesRequests.get - samples0

    // drain: the spool receiver ends at the feeder's EOF; wait until
    // the last sample is visible, or the late-data limit has passed
    ctx.phase("drain")
    receiver.join(VisibleLimitNs / 1000000L)
    observer.awaitCovers(feeder.lastTs, feeder.lastDueNs + VisibleLimitNs)
    query.processAllAvailable()
    observer.stop()
    val progress = query.recentProgress
    query.stop()
    ctx.phase("checks")
    val v1 = ManifestStore.latestVersion(spark, store).get

    val vis = visibility(feeder, observer)
    val lateSamples = vis.count(_ >= VisibleLimitNs)
    val problems = ArrayBuffer.empty[String]
    val committed = exactlyOnce(ctx, store, feeder, problems)
    ctx.phase("parity")
    problems ++= catchUpParity(ctx, store, picks, feeder.kept.toSeq)
    val recs = log.all
    val failedReqs = recs.count(!_.ok).toLong

    val (bytes, rawRows, files) = Store.footprint(spark, store)
    val rows1 = Store.levelRows(spark, store)
    val (filesAdded, bytesAdded) = added(ctx, store, v0, v1)
    val lastVisibleNs = observer.firstCovering(feeder.lastTs)
      .getOrElse(feeder.lastDueNs + VisibleLimitNs)
    ledger.settle()
    val cachedRdds = sc.getPersistentRDDs.size
    running.stop()
    feeder.close()
    ctx.phase("heap")
    val heapMb = Jvm.heapLiveMb
    ctx.phase("done")

    val e2e = reader.latencyMetrics(windowNs) ++ Map(
      "setup_s" -> Metric(setupS, "s"),
      "bytes_per_sample" -> Metric(bytes.toDouble / rawRows, "B"))
    val layer =
      if (!ctx.traced) Map.empty[String, Metric]
      else {
        val batches = ingest.all
        def part(k: String, p: Double) =
          Stats.pct(batches.flatMap(_.durations.get(k).map(_.toDouble)), p)
        val inputRows = progress.map(_.numInputRows).sum
        val spoolFiles = new java.io.File(spool).list()
          .count(f => f.startsWith("spool-"))
        val visMs = vis.map(x => Stats.ms(x))
        reader.layerMetrics(Routes) ++
          Layers.cascade(ledger, cycles.toSeq, ctx.cores,
            rows1.map { case (l, r) => l -> (r - rows0.getOrElse(l, 0L)) }) ++
          Layers.setup(configMs, materializeMs, setupJobs, setupTaskMs,
            setupS, ctx.cores) ++ Map(
          "ingest_rows_per_s" -> Metric(committed / ((lastVisibleNs - w0) / 1e9), "rows/s"),
          "visible_p50_ms" -> Metric(Stats.pct(visMs, 50), "ms"),
          "visible_p99_ms" -> Metric(Stats.pct(visMs, 99), "ms"),
          "ingest.batches" -> Metric(batches.size, "count"),
          "ingest.rows_per_batch.p50" ->
            Metric(Stats.pct(batches.map(_.rows.toDouble), 50), "rows"),
          "ingest.trigger_ms.p50" -> Metric(part("triggerExecution", 50), "ms"),
          "ingest.trigger_ms.p99" -> Metric(part("triggerExecution", 99), "ms"),
          "ingest.get_batch_ms.p50" -> Metric(part("getBatch", 50), "ms"),
          "ingest.latest_offset_ms.p50" -> Metric(part("latestOffset", 50), "ms"),
          "ingest.add_batch_ms.p50" -> Metric(part("addBatch", 50), "ms"),
          "ingest.wal_commit_ms.p50" -> Metric(part("walCommit", 50), "ms"),
          "ingest.spool_files" -> Metric(spoolFiles, "count"),
          "ingest.lines_per_spool_file" ->
            Metric(feeder.linesSent.toDouble / math.max(1, spoolFiles), "lines"),
          "ingest.jobs_per_batch" -> Metric(
            ledger.jobs(query.runId.toString).toDouble / math.max(1, batches.size),
            "jobs"),
          "ingest.source_rows_per_committed_row" ->
            Metric(inputRows.toDouble / math.max(1L, committed), "ratio"),
          "ingest.feeder_late_ms.p99" -> Metric(Stats.pct(feeder.lateMs, 99), "ms"),
          "manifest.versions" -> Metric((v1 - v0).toDouble, "count"),
          "manifest.live_files" -> Metric(files, "count"),
          "manifest.files_added" -> Metric(filesAdded.toDouble, "count"),
          "manifest.write_amplification" -> Metric(bytesAdded.toDouble / bytes, "ratio"),
          "maintenance.run_ms.p50" -> Metric(Stats.pct(maintMs, 50), "ms"),
          "maintenance.files_compacted" -> Metric(compacted.toDouble, "count"),
          "http.resp_cache_hit_ratio" -> Metric(
            if (samplesReqs == 0) 0.0 else hits.toDouble / samplesReqs, "ratio"),
          "spark.jobs_per_req" -> Metric(
            windowJobs.toDouble / math.max(1, recs.size), "jobs"),
          "heap_live_mb" -> Metric(heapMb, "MB"),
          "jvm.gc_ms" -> Metric(gcMs.toDouble, "ms"),
          "spark.cached_rdds_end" -> Metric(cachedRdds, "count"))
      }
    Outcome(recs.size + feeder.samplesSent, failedReqs + lateSamples,
      problems.toSeq, e2e, layer)
  }

  /** 60% the last 10 min raw, 30% the last hour with `count=200`, 10%
    * `m4=250` over the last day — all ending at the feed's "now". */
  def pick(rnd: java.util.Random): String = {
    val u = rnd.nextDouble()
    if (u < 0.60) "raw_zoom" else if (u < 0.90) "overview" else "m4"
  }

  def request(route: String, ch: Int, nowTs: Long): Req = {
    val name = Store.name(ch)
    route match {
      case "raw_zoom" => Req(route, name, nowTs - 600L * Store.NS, nowTs)
      case "overview" =>
        Req(route, name, nowTs - 3600L * Store.NS, nowTs, count = Some(200L))
      case "m4" => Req(route, name, nowTs - Store.DayNs, nowTs, m4 = Some(250))
    }
  }

  /** The open-loop feed. After a warm-up sample per channel at T0, tick
    * `k` is due at `w0 + k·10 ms`, carries samples `50k … 50k+49` and
    * has archive timestamp `T0 + (k+1)·10 ms`; sample `j` belongs to
    * channel `j mod 100`. A seeded 0.1% of samples are markers (empty
    * value), and a seeded 5% of ticks carry one extra malformed line the
    * parser must drop (0.1% of lines). */
  final class Feeder(seed: Long, keep: Set[Int]) {
    private val server = new ServerSocket(0)
    def port: Int = server.getLocalPort
    @volatile private var w0 = 0L
    @volatile private var deadline = 0L
    private val go = new java.util.concurrent.CountDownLatch(1)
    @volatile var samplesSent = 0L
    @volatile var linesSent = 0L
    @volatile var markersSent = 0L
    @volatile var idSum = BigInt(0)
    @volatile var ticks = 0L
    val lateMs = ArrayBuffer.empty[Double]
    /** Every valid sample sent for a channel in `keep`:
      * (channel, ts, value or None for a marker, sample_id). */
    val kept = ArrayBuffer.empty[(Int, Long, Option[Double], Long)]
    def lastTs: Long = tsOfTick(ticks - 1)
    def lastDueNs: Long = dueOfTick(ticks - 1)
    def tsOfTick(k: Long): Long = Store.T0 + (k + 1) * FlushMs * 1000000L
    def dueOfTick(k: Long): Long = w0 + k * FlushMs * 1000000L

    private val thread = new Thread(() => {
      val sock = server.accept()
      val out = new BufferedWriter(new OutputStreamWriter(
        sock.getOutputStream, StandardCharsets.UTF_8), 1 << 16)
      val rnd = new java.util.Random(seed)
      val warm = new java.lang.StringBuilder
      (0 until Channels).foreach { i =>
        val (ch, ts, id) = (i, Store.T0, SampleIdBase - Channels + i)
        warm.append(Store.name(ch)).append('\t').append(ts).append("\t0.0\t")
          .append(id).append('\n')
        if (keep(ch)) kept += ((ch, ts, Some(0.0), id))
      }
      out.write(warm.toString); out.flush()
      go.await()
      var k = 0L
      var j = 0L
      var ids = BigInt(0)
      while (dueOfTick(k) < deadline) {
        val due = dueOfTick(k)
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        val ts = tsOfTick(k)
        val sb = new java.lang.StringBuilder(LinesPerFlush * 40)
        (0 until LinesPerFlush).foreach { _ =>
          val ch = (j % Channels).toInt
          val marker = rnd.nextDouble() < MarkerShare
          val v = rnd.nextInt(2001) - 1000
          val id = SampleIdBase + j
          sb.append(Store.name(ch)).append('\t').append(ts).append('\t')
          if (marker) markersSent += 1 else sb.append(v).append(".0")
          sb.append('\t').append(id).append('\n')
          if (keep(ch)) kept += ((ch, ts, if (marker) None else Some(v.toDouble), id))
          ids += id; j += 1; linesSent += 1
        }
        if (rnd.nextDouble() < MalformedShare * LinesPerFlush) {
          sb.append(if (k % 2 == 0) s"pv0000\tnot-a-time\t1.0\t${j}\n"
                    else "pv0001\t1.0\n")
          linesSent += 1
        }
        out.write(sb.toString)
        out.flush()
        lateMs += (System.nanoTime() - due) / 1e6
        samplesSent = j; idSum = ids
        k += 1; ticks = k
      }
      out.close(); sock.close() // EOF ends the spool receiver
    }, "perfbench-feeder")
    thread.setDaemon(true)
    thread.start()

    def start(from: Long, until: Long): Unit = {
      w0 = from; deadline = until; go.countDown()
    }
    def join(): Unit = thread.join()
    def close(): Unit = server.close()
  }

  /** Polls the latest manifest version; records when each new raw-level
    * maximum timestamp was first seen. */
  final class Observer(ctx: RunCtx, store: String) {
    private val seen = ArrayBuffer.empty[(Long, Long)] // (nanoTime, raw maxTs)
    @volatile private var running = true
    private val thread = new Thread(() => {
      var last = -1L
      while (running) {
        val v = ManifestStore.latestVersion(ctx.spark, store).getOrElse(-1L)
        if (v != last) {
          val now = System.nanoTime()
          val m = scala.util.Try(ManifestStore.readManifest(ctx.spark, store, v))
          m.foreach { mf =>
            val raw = mf.files.filter(_.levelSec == 0L)
            if (raw.nonEmpty) seen.synchronized { seen += ((now, raw.map(_.maxTs).max)) }
            last = v
          }
        }
        Thread.sleep(5)
      }
    }, "perfbench-observer")
    thread.setDaemon(true)
    thread.start()

    def snapshot: Seq[(Long, Long)] = seen.synchronized { seen.toList }

    /** First observation time at which the raw level covers `ts`. */
    def firstCovering(ts: Long): Option[Long] =
      snapshot.find(_._2 >= ts).map(_._1)

    def awaitCovers(ts: Long, untilNs: Long): Unit =
      while (firstCovering(ts).isEmpty && System.nanoTime() < untilNs)
        Thread.sleep(20)

    def stop(): Unit = { running = false; thread.join() }
  }

  /** Per sample: due time to the first observed version covering it,
    * capped at the late-data limit. All samples of one tick share their
    * timestamp, so the walk is per tick. */
  def visibility(f: Feeder, o: Observer): Seq[Long] = {
    val obs = o.snapshot.toArray
    val out = ArrayBuffer.empty[Long]
    var i = 0
    var k = 0L
    while (k < f.ticks) {
      val ts = f.tsOfTick(k)
      while (i < obs.length && obs(i)._2 < ts) i += 1
      val due = f.dueOfTick(k)
      val lat = if (i < obs.length) math.min(obs(i)._1 - due, VisibleLimitNs)
                else VisibleLimitNs
      (0 until LinesPerFlush).foreach(_ => out += math.max(0L, lat))
      k += 1
    }
    out.toSeq
  }

  /** Committed raw rows in the feed range must be exactly the valid
    * lines sent: same count, same `sample_id` sum, same marker count. */
  def exactlyOnce(ctx: RunCtx, store: String, f: Feeder,
                  problems: ArrayBuffer[String]): Long = {
    val r = ManifestStore.read(ctx.spark, store, 0L, loNs = Some(Store.T0))
      .where(col("ts") > Store.T0)
      .agg(count(lit(1)), sum(col("sample_id").cast("decimal(38,0)")),
        sum(when(col("value").isNull, 1L).otherwise(0L)))
      .head()
    val n = r.getLong(0)
    val ids = Option(r.getDecimal(1)).map(d => BigInt(d.toBigInteger)).getOrElse(BigInt(0))
    val markers = Option(r.get(2)).map(_.asInstanceOf[Long]).getOrElse(0L)
    if (n != f.samplesSent)
      problems += s"exactly-once: ${f.samplesSent} samples sent, $n committed"
    if (ids != f.idSum)
      problems += s"exactly-once: sample_id sum ${f.idSum} sent, $ids committed"
    if (markers != f.markersSent)
      problems += s"markers: ${f.markersSent} sent, $markers committed"
    n
  }

  def parityPicks(seed: Long): Seq[Int] = {
    val rnd = new java.util.Random(seed ^ 0x5eedL)
    Iterator.continually(rnd.nextInt(Channels)).distinct
      .take(ParityChannels).toSeq.sorted
  }

  /** The catch-up parity check: for a seeded sample of channels, the
    * 600 s and 3600 s windows the run's catch-up wrote must equal a
    * from-scratch [[ConfiguredArchive.materialize]] of the same raw rows
    * — the base day plus every valid line fed for those channels. */
  def catchUpParity(ctx: RunCtx, store: String, picks: Seq[Int],
                    fed: Seq[(Int, Long, Option[Double], Long)]): Seq[String] = {
    val spark = ctx.spark
    import spark.implicits._
    val ids = picks.map(Store.dataId)
    val cfg = s"${ctx.dir}/parity-config"
    val ref = s"${ctx.dir}/parity-store"
    JobLedger.group(spark.sparkContext, "check") {
      Store.configure(spark, cfg, picks, Store.Levels)
      val base = Store.minuteSamples(spark, Channels, Store.T0 - Store.DayNs, 1,
          ctx.seed)
        .where(col("channel").isin(picks.map(Store.name): _*))
      val streamed = fed.map { case (ch, ts, v, id) => (Store.name(ch), ts, v, id) }
        .toDF("channel", "ts", "value", "sample_id")
        .select(col("channel"), col("ts"), col("value"), lit("").as("str_value"),
          lit(0).as("severity"), lit(0).as("status"), col("sample_id"))
      ConfiguredArchive.materialize(spark, cfg, ref, base.unionByName(streamed))
      def windows(path: String): DataFrame =
        Seq(600L, 3600L).map(l => ManifestStore.read(spark, path, l)
            .where(col("channel").isin(ids: _*))
            .select(lit(l).as("level"), col("channel"), col("ts"), col("mean"),
              col("std"), col("min_value"), col("max_value"),
              col("covered_fraction"), col("n_samples")))
          .reduce(_ unionByName _)
      // windows up to each channel's catch-up frontier: later ones were
      // not yet caught up when the run's cycle read the raw level
      val live = windows(store)
      val frontier = live.groupBy("level", "channel").agg(max("ts").as("frontier"))
      val scratch = windows(ref).join(frontier, Seq("level", "channel"))
        .where(col("ts") <= col("frontier")).drop("frontier")
      val onlyLive = live.exceptAll(scratch).count()
      val onlyScratch = scratch.exceptAll(live).count()
      if (onlyLive == 0 && onlyScratch == 0) Nil
      else Seq(s"catch-up parity: $onlyLive windows only in the live store, " +
        s"$onlyScratch only in the from-scratch build")
    }
  }

  /** Files and bytes added by the versions committed in (v0, v1]. */
  def added(ctx: RunCtx, store: String, v0: Long, v1: Long): (Long, Long) = {
    val adds = (v0 + 1 to v1).flatMap(v =>
      scala.util.Try(ManifestStore.versionChanges(ctx.spark, store, v).adds)
        .getOrElse(Nil))
    (adds.size.toLong, adds.map(_.bytes).sum)
  }
}
