package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PROBE100X harness for the round-7 training-prep operators — the
  * 100×-the-gate synthetic workloads whose measured shapes go into
  * BASELINE.md (the SF-0.1 gates are too small to show scaling
  * hazards). One JSON line per probe on stdout.
  *
  * Corpus: 500k docs × 40 tokens (20M token windows — the same scale
  * the round-4 dedup probes used), built with expr-side integer math
  * only. Token distribution is Zipf-flavored: rank = hash²-skewed over
  * a 50k vocabulary plus one guaranteed stop word per doc, so the
  * inverted index probe actually HAS corpus-wide hot keys for the
  * maxDf band to kill.
  *
  * {{{ sbt -batch "runMain graft.Probe100x [inverted_index|interleave|chunks|pack|curriculum|lsh_skew|spectrum|all]" }}}
  */
object Probe100x {

  private def corpus(spark: SparkSession, docs: Long, toksPerDoc: Int,
                     vocab: Int): DataFrame = {
    // per-token id: squared-uniform → low ids are corpus-hot (a crude
    // Zipf); token 0 is additionally injected into EVERY doc
    val tok = (i: Int) => {
      val h = pmod(xxhash64(col("id") * lit(toksPerDoc) + lit(i)),
        lit(vocab.toLong * vocab.toLong)).cast("double")
      concat(lit("t"), sqrt(h).cast("long"))
    }
    spark.range(docs).select(
      col("id").as("doc_id"),
      concat_ws(" ", lit("t0") +: (1 until toksPerDoc).map(tok): _*)
        .as("text"),
      // 90% of docs in one mega-source, the rest spread over 10 — the
      // skew shape that breaks a global-sort interleaver
      when(pmod(col("id"), lit(100)) < 90, lit("s_mega"))
        .otherwise(concat(lit("s"), pmod(col("id"), lit(10))))
        .as("source"))
  }

  /** Warm min-of-2 (the bench convention): the first execution of the
    * first probe otherwise pays session-cold shuffle costs and the
    * comparison between variants becomes a run-order artifact.
    */
  private def time(f: => Unit): Double =
    (1 to 2).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }.min

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("all")
    val spark = BenchSession("graft-probe100x")

    val docs = corpus(spark, docs = 500000L, toksPerDoc = 40, vocab = 50000)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    docs.count() // materialize once; probes measure the operator

    def report(name: String, fields: (String, Any)*): Unit = {
      val body = fields.map {
        case (k, v: String) => s""""$k":"$v""""
        case (k, v) => s""""$k":$v"""
      }.mkString(",")
      println(s"""{"probe":"$name",$body}""")
    }

    if (mode == "inverted_index" || mode == "all") {
      // banded: the production shape (maxDf kills the hot keys)
      val banded = time(noop(
        graft.pipeline.Retrieval.invertedIndex(docs, minDf = 2L, maxDf = 1000L)))
      // uncapped: every stop word becomes a ~500k-id posting row —
      // measured so the cap's value is a number, not an assertion
      val uncapped = time(noop(
        graft.pipeline.Retrieval.invertedIndex(docs, minDf = 2L,
          maxDf = 1000000L)))
      report("inverted_index", "docs" -> 500000, "tokens" -> 20000000,
        "banded_maxdf1000_sec" -> banded, "uncapped_sec" -> uncapped)
    }

    if (mode == "interleave" || mode == "all") {
      val sec = time(noop(graft.pipeline.Sampling.interleave(docs)))
      report("interleave", "docs" -> 500000, "mega_source_frac" -> 0.9,
        "sec" -> sec)
    }

    if (mode == "chunks" || mode == "all") {
      val sec = time(noop(
        graft.pipeline.TextAnalysis.chunkDocs(docs, chunkTokens = 8,
          stride = 8)))
      report("chunks", "docs" -> 500000, "tokens" -> 20000000,
        "chunk_tokens" -> 8, "stride" -> 8, "sec" -> sec)
    }

    if (mode == "pack" || mode == "all") {
      // the prefix-sum shard packer over the full 20M-token corpus
      // (tokenize + per-source interleave windows + range shuffle +
      // seeded in-partition scan), 90%-skewed sources included
      val sec = time(noop(graft.pipeline.Sampling.packSequential(
        docs, budgetTokens = 8192L, parts = 64)))
      report("pack_sequential", "docs" -> 500000, "tokens" -> 20000000,
        "budget" -> 8192, "sec" -> sec)
    }

    if (mode == "curriculum" || mode == "all") {
      // the global-ordinal kernel at 20M rows (40× the sf0.1 gate),
      // synthetic scores with heavy 6dp ties (1000 distinct values →
      // ~20k docs per score, the worst case for the strict-key range
      // partitioner) vs the naive single-partition global window
      val scored = spark.range(20000000L).select(
          col("id").as("doc_id"),
          (pmod(xxhash64(col("id")), lit(1000L)).cast("double") /
            lit(1000.0)).as("quality_score"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      scored.count()
      val ranged = time(noop(
        graft.pipeline.Sampling.globalOrdinal(scored, parts = 64)))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("quality_score").desc, col("doc_id"))
      val naive = time(noop(scored.withColumn("position",
        row_number().over(w).cast("long"))))
      scored.unpersist()
      report("curriculum", "rows" -> 20000000,
        "range_offset_sec" -> ranged, "single_partition_window_sec" -> naive)
    }

    if (mode == "lsh_skew" || mode == "all") {
      // adversarial banding skew: 10% of docs are IDENTICAL
      // boilerplate, so they share every band key — the single
      // pathological bucket emits n²/2 candidate pairs per band
      // uncapped. The uncapped shape is measured at 20k docs (2k-doc
      // bucket → ~2M pairs × 16 bands of join output) because at 500k
      // it is ~1.25B pairs × 16 — exactly the explosion the guard
      // exists for; the capped run takes the FULL 500k corpus with
      // the same 10% hot fraction and stays flat.
      def skewed(n: Long) = spark.range(n).select(
        col("id").as("doc_id"),
        when(pmod(col("id"), lit(10)) === 0,
            lit("all work and no play makes a boilerplate document " +
              "that repeats across the whole crawl every single day"))
          .otherwise(concat_ws(" ", (0 until 14).map(i =>
            concat(lit("w"), pmod(xxhash64(col("id") * lit(31) + lit(i)),
              lit(100000L)))): _*))
          .as("text"))
      val small = skewed(20000L)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      small.count()
      val uncapped = time(noop(
        graft.pipeline.Dedup.minHashCandidates(small)))
      small.unpersist()
      val big = skewed(500000L)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      big.count()
      val capped = time(noop(
        graft.pipeline.Dedup.minHashCandidates(big, maxBandSize = Some(64))))
      big.unpersist()
      report("lsh_skew", "hot_frac" -> 0.1,
        "uncapped_docs" -> 20000, "uncapped_sec" -> uncapped,
        "capped_docs" -> 500000, "cap" -> 64, "capped_sec" -> capped)
    }

    if (mode == "spectrum" || mode == "all") {
      // spectral projection at 20M samples / 1000 channels: the probe
      // measures the |periods|× explode through ONE partial-merge
      // aggregate — 7 candidates (the serving default) and a dense
      // 64-period sweep (the "scan the whole suspect range" shape).
      // The CUSUM pass rides the same frame: two per-channel window
      // scans, the same shape as the rolling z-score (channels
      // parallelize; a single hot channel is the known straggler case
      // the rolling family solves with chunking).
      val n = 20000000L
      val samples = spark.range(n).select(
          concat(lit("ch"), pmod(col("id"), lit(1000L))).as("channel"),
          expr("(id div 1000) * 1000000000L").as("ts"),
          (sin(col("id").cast("double") / lit(97.0)) * lit(100.0) +
            lit(250.0)).as("value"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      samples.count()
      val hiTs = (n / 1000L) * 1000000000L
      val p7 = time(noop(graft.archive.Analytics.spectrum(
        samples, 0L, hiTs, graft.archive.Analytics.DefaultSpectrumPeriods)))
      val dense = (1 to 64).map(i => i * 300L * 1000000000L)
      val p64 = time(noop(graft.archive.Analytics.spectrum(
        samples, 0L, hiTs, dense)))
      val cusum = time(noop(graft.archive.Analytics.cusumShifts(
        samples, 0L, hiTs, graft.archive.Analytics.DefaultCusumSlack,
        graft.archive.Analytics.DefaultCusumThreshold)))
      samples.unpersist()
      report("spectrum", "rows" -> n, "channels" -> 1000,
        "p7_sec" -> p7, "p64_sec" -> p64, "cusum_sec" -> cusum)
    }

    if (mode == "stream_dedup" || mode == "all") {
      // streaming MinHash-LSH at 40× the sf0.1 gate corpus: 200k docs
      // with planted near-dup families (every 20th doc is a one-token
      // append of its predecessor) replayed through ~10 micro-batches.
      // Measures the three things that decide whether the operator
      // holds on an unbounded crawl: end-to-end rows/s, bucket-state
      // rows (8 band rows per doc — the state the stream carries
      // forever), and that the saturation guard keeps an adversarial
      // 10%-boilerplate stream linear (uncapped, its one hot bucket
      // would hold 20k members and emit ~200M pairs).
      def streamRun(df: DataFrame, name: String,
                    maxBucket: Int): (Double, Long, Long) = {
        val dir = s"/tmp/probe100x_sdup_$name"
        df.repartition(20).write.mode("overwrite").parquet(dir)
        val stream = spark.readStream.schema(df.schema)
          .option("maxFilesPerTrigger", 2).parquet(dir)
        val q = graft.streaming.StreamingDedup
          .minhashStream(stream, maxBucketSize = maxBucket)
          .writeStream.format("memory").queryName(s"sdup_$name")
          .outputMode("append").start()
        val t0 = System.nanoTime()
        q.processAllAvailable()
        val sec = (System.nanoTime() - t0) / 1e9
        val state = q.lastProgress.stateOperators.apply(0).numRowsTotal
        q.stop()
        val pairs = spark.table(s"sdup_$name").count()
        (sec, pairs, state)
      }
      val n = 200000L
      val effId = when(pmod(col("id"), lit(20)) === 1, col("id") - 1)
        .otherwise(col("id"))
      val ptok = (i: Int) => concat(lit("t"),
        pmod(xxhash64(effId * lit(30) + lit(i)), lit(50000L)))
      val ptext = concat_ws(" ", (0 until 30).map(ptok): _*)
      val planted = spark.range(n).select(col("id").as("doc_id"),
        when(pmod(col("id"), lit(20)) === 1, concat(ptext, lit(" zz")))
          .otherwise(ptext).as("text"))
      val (sec, pairs, state) = streamRun(planted, "planted", 4096)
      // same run on the RocksDB state store — the provider that holds
      // at 10⁹-row state (HDFSBacked keeps every partition's full map
      // on heap; RocksDB spills to native/disk and snapshots
      // incrementally)
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // finally, not post-hoc: a RocksDB init failure must not leak the
      // provider into the later probes of an `all` run
      val (rkSec, rkPairs, rkState) =
        try streamRun(planted, "planted_rk", 4096)
        finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      require(rkPairs == pairs, s"state-store parity: $rkPairs != $pairs")
      val boiler = spark.range(n).select(col("id").as("doc_id"),
        when(pmod(col("id"), lit(10)) === 0,
            lit("all work and no play makes a boilerplate document " +
              "that repeats across the whole crawl every single day"))
          .otherwise(ptext).as("text"))
      val (skSec, skPairs, skState) = streamRun(boiler, "boiler", 64)

      // the HORIZON-TTL form at 2× the stream (400k docs): plain band
      // state grows with every distinct doc forever (the `state` row
      // count above, linear in docs); the TTL keeps only one horizon
      // window. Chunks are written in event-time order with ascending
      // mod times so the file source replays ~time-ordered, and the
      // horizon spans two chunks — expected state ≈ 2-3 chunks' bands,
      // NOT the full stream's.
      val n2 = 2L * n
      val chunks = 20
      val perChunk = n2 / chunks
      val horizonSec = 2L * perChunk // seconds; event ts = doc_id s
      val effId2 = when(pmod(col("id"), lit(20)) === 1, col("id") - 1)
        .otherwise(col("id"))
      val ptok2 = (i: Int) => concat(lit("t"),
        pmod(xxhash64(effId2 * lit(30) + lit(i)), lit(50000L)))
      val ptext2 = concat_ws(" ", (0 until 30).map(ptok2): _*)
      val base2 = spark.range(n2).select(col("id").as("doc_id"),
        when(pmod(col("id"), lit(20)) === 1, concat(ptext2, lit(" zz")))
          .otherwise(ptext2).as("text"),
        timestamp_seconds(lit(1704067200L) + col("id")).as("event_time"))
      val dirT = "/tmp/probe100x_sdup_ttl"
      val fsT = new org.apache.hadoop.fs.Path(dirT)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fsT.delete(new org.apache.hadoop.fs.Path(dirT), true)
      for (c <- 0 until chunks)
        base2.where(col("doc_id") >= c * perChunk &&
            col("doc_id") < (c + 1) * perChunk)
          .coalesce(2)
          .write.mode(if (c == 0) "overwrite" else "append").parquet(dirT)
      val streamT = spark.readStream.schema(base2.schema)
        .option("maxFilesPerTrigger", 4).parquet(dirT)
      val qT = graft.streaming.StreamingDedup
        .minhashStreamTtl(streamT, horizonMs = horizonSec * 1000L)
        .writeStream.format("memory").queryName("sdup_ttl")
        .outputMode("append").start()
      val tT = System.nanoTime()
      qT.processAllAvailable()
      val ttlSec = (System.nanoTime() - tT) / 1e9
      val ttlState = qT.lastProgress.stateOperators.apply(0).numRowsTotal
      qT.stop()
      val ttlPairs = spark.table("sdup_ttl").count()

      report("stream_dedup", "docs" -> n,
        "sec" -> sec, "rows_per_sec" -> (n / sec).toLong,
        "pairs" -> pairs, "state_rows" -> state,
        "rocksdb_sec" -> rkSec, "rocksdb_rows_per_sec" -> (n / rkSec).toLong,
        "rocksdb_state_rows" -> rkState,
        "skew_hot_frac" -> 0.1, "skew_cap" -> 64, "skew_sec" -> skSec,
        "skew_pairs" -> skPairs, "skew_state_rows" -> skState,
        "ttl_docs" -> n2, "ttl_horizon_docs" -> (2L * perChunk),
        "ttl_sec" -> ttlSec, "ttl_rows_per_sec" -> (n2 / ttlSec).toLong,
        "ttl_pairs" -> ttlPairs, "ttl_state_rows" -> ttlState,
        "ttl_state_vs_plain_2x" -> String.format(java.util.Locale.ROOT,
          "%.3f", Double.box(ttlState.toDouble / (2.0 * state))))
    }

    if (mode == "ann" || mode == "all") {
      // the ANN ladder at 2000× the gate corpus: 1M synthetic 64-dim
      // vectors, 50 probes, top-10. Brute force is the recall oracle
      // and the bandwidth ceiling; IVF prunes postings by cluster
      // BEFORE any distance; IVF-PQ additionally scores candidates
      // from 4-byte codes and exact-reranks the shortlist — the shape
      // that holds at 10⁹ vectors. k=64 clusters / nProbe=4 keeps the
      // scan fraction ~6%.
      val vecs = spark.range(1000000L).select(
          col("id").as("vec_id"),
          expr("transform(sequence(0, 63), j -> " +
            "cast(pmod(xxhash64(id * 64 + j), 2000) as double) / 1000.0" +
            " - 1.0)").as("embedding"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      vecs.count()
      val probes = vecs.where(col("vec_id") < 50)
      val brute = time(noop(
        graft.pipeline.Similarity.bruteForceTopK(vecs, probes, 10)))
      val ivf = time(noop(
        graft.pipeline.Similarity.ivfSearch(vecs, probes, 10, k = 64,
          nProbe = 4)))
      val ivfpq = time(noop(
        graft.pipeline.Similarity.ivfPqSearch(vecs, probes, 10,
          nProbe = 4, shortK = 50, k = 64)))
      // the SERVING shape: the in-query builds above pay the full
      // corpus scan per query (assignment / PQ encoding) — production
      // builds ONCE and probes the persisted cluster-partitioned
      // postings, reading only nProbe/k of the corpus per query
      val idxDir = java.nio.file.Files.createTempDirectory("annidx")
        .toString
      val b0 = System.nanoTime()
      graft.pipeline.Similarity.ivfBuildIndex(vecs, idxDir, k = 64)
      val buildSec = (System.nanoTime() - b0) / 1e9
      val indexed = time(noop(
        graft.pipeline.Similarity.ivfSearchIndexed(spark, idxDir, probes,
          topK = 10, nProbe = 4)))
      vecs.unpersist()
      report("ann", "vectors" -> 1000000, "dims" -> 64, "probes" -> 50,
        "brute_sec" -> brute, "ivf_inquery_k64_nprobe4_sec" -> ivf,
        "ivfpq_inquery_k64_nprobe4_sec" -> ivfpq,
        "ivf_index_build_sec" -> buildSec,
        "ivf_indexed_probe_sec" -> indexed)
    }

    if (mode == "migrate" || mode == "all") {
      // the federation/migration story measured at 20M rows: build an
      // old store (first half of history) + a live store (second
      // half), read the full range through FederatedBackend vs a
      // single store holding everything, then retire the split with
      // the token-deduplicated migration and re-check
      import graft.archive.{FederatedBackend, ManifestBackend, ManifestStore,
        Maintenance}
      val n = 20000000L
      val t00 = 1704067200L * 1000000000L
      val mk = spark.range(n).select(
        concat(lit("pv"), pmod(col("id"), lit(100L))).as("channel"),
        (lit(t00) + expr("(id div 100) * 1000000000L")).as("ts"),
        (pmod(xxhash64(col("id")), lit(1000L)).cast("double") / lit(10.0))
          .as("value"),
        lit("").as("str_value"), lit(0).as("severity"), lit(0).as("status"),
        col("id").as("sample_id"))
      val cut = t00 + (n / 100L / 2L) * 1000000000L
      val root = java.nio.file.Files.createTempDirectory("migprobe").toString
      val one = s"$root/one"; val old = s"$root/old"; val live = s"$root/live"
      ManifestStore.commit(mk, one, levelSec = 0)
      ManifestStore.commit(mk.where(col("ts") < cut), old, levelSec = 0)
      ManifestStore.commit(mk.where(col("ts") >= cut), live, levelSec = 0)
      val fed = new FederatedBackend(ManifestBackend, old, cut)
      val singleSec = time(noop(
        ManifestStore.read(spark, one, 0, Some(t00), Some(cut * 2))))
      val fedSec = time(noop(
        fed.read(spark, live, 0, Some(t00), Some(cut * 2), None)))
      val m0 = System.nanoTime()
      val migrated = Maintenance.migrateStore(spark, ManifestBackend, old,
        ManifestBackend, live, cut)
      val migSec = (System.nanoTime() - m0) / 1e9
      val migRows = migrated.values.sum
      val after = ManifestStore.read(spark, live, 0).count()
      require(after == n, s"post-migration live store holds $after != $n")
      report("migrate", "rows" -> n,
        "single_read_sec" -> singleSec, "federated_read_sec" -> fedSec,
        "migrated_rows" -> migRows, "migrate_sec" -> migSec,
        "migrate_rows_per_sec" -> (migRows / migSec).toLong)
    }

    if (mode == "pack_sequences" || mode == "all") {
      // token-level sequence packing over the full corpus: 20M tokens
      // + 500k EOS sentinels cut into 2048-id sequences (~10k rows
      // out). The cost model: one vocab top-k, one tokenize+join scan,
      // the doc-level prefix sum (metadata-sized subtotals), then ONE
      // token-level groupBy(seq_id) whose groups are bounded at 2048
      // rows — the assembled-sequence sort is in-group, never global.
      val sec = time(noop(graft.pipeline.Sampling.packSequences(
        docs, vocabSize = 50000, seqLen = 2048L)))
      report("pack_sequences", "docs" -> 500000, "tokens" -> 20000000,
        "seq_len" -> 2048, "sec" -> sec,
        "tokens_per_sec" -> (20500000L / sec).toLong)
    }

    if (mode == "lttb" || mode == "all") {
      // the chart-serving shape at 1000× the gate: 20M samples over
      // 100 channels (200k samples/channel — a month of 12s data),
      // downsampled to 1000 points per channel. LTTB's cost model is
      // one scan + a (channels × k)-row broadcast + a per-bucket
      // top-1 that reuses the channel partitioning (no extra
      // exchange — WindowGroupLimit prunes the rank sort), so rows/s
      // should sit near raw-scan bandwidth.
      val n = 20000000L
      val samples = spark.range(n).select(
          concat(lit("pv"), pmod(col("id"), lit(100L))).as("channel"),
          expr("(id div 100) * 1000000000L").as("ts"),
          (pmod(xxhash64(col("id")), lit(1000L)).cast("double") /
            lit(10.0)).as("value"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      samples.count()
      val hi = n / 100L * 1000000000L
      val sec = time(noop(
        graft.archive.Analytics.lttb(samples, 0L, hi, k = 1000)))
      // M4 on the same corpus: no anchor broadcast, no top-1 window —
      // ONE map-side-combinable hash aggregate, so it should beat LTTB
      // and sit at raw aggregate-scan bandwidth
      val m4sec = time(noop(
        graft.archive.Analytics.m4(samples, 0L, hi, k = 1000)))
      samples.unpersist()
      report("lttb", "rows" -> n, "channels" -> 100, "k" -> 1000,
        "sec" -> sec, "rows_per_sec" -> (n / sec).toLong,
        "m4_sec" -> m4sec, "m4_rows_per_sec" -> (n / m4sec).toLong)
    }

    if (mode == "derived_stream" || mode == "all") {
      // the cross-channel streaming calc record at ~40× the gate: two
      // 2.5M-sample channels (1 s cadence) drained through a 10 s
      // derived grid in ~10 micro-batches. Measures end-to-end rows/s
      // and the state the stream carries — pending buffers bounded by
      // the SKEW between the sources, not by data size — in two
      // shapes: sources arriving in lockstep (pending ≈ one grid
      // step), and source B arriving a full quarter-corpus late
      // (pending peaks near the lag, then drains: the observed analog
      // of a watermarked stream-stream join buffer).
      val n = 2500000L
      val stepNs = 10L * 1000000000L
      def run(name: String, seqLagB: Long): (Double, Long, Long) = {
        val dir = s"/tmp/probe100x_der_$name"
        val df = spark.range(2L * n).select(
          when(pmod(col("id"), lit(2)) === 0, lit("a")).otherwise(lit("b"))
            .as("channel"),
          expr("(id div 2) * 1000000000L").as("ts"),
          (pmod(xxhash64(col("id")), lit(1000L)).cast("double") / lit(10.0))
            .as("value"),
          // arrival order: interleaved, except B lags by seqLagB slots
          (expr("id div 2") +
            when(pmod(col("id"), lit(2)) === 1, lit(seqLagB))
              .otherwise(lit(0L))).as("seq"))
        // ONE file per contiguous seq slice, written sequentially: the
        // file source replays oldest-modTime first, so per-source
        // arrival order survives the multi-batch split (a single
        // parallel write gives all parts the same modTime and the
        // replay order scrambles — 10% of rows then arrive "late" and
        // the ST5 drop eats them, caught by the emitted-count guard)
        val dfp = df.persist(org.apache.spark.storage.StorageLevel
          .MEMORY_AND_DISK)
        // seq = id div 2 (+ lag for B) → max is n−1+lag, NOT 2n: an
        // overestimate halves the data-bearing file count and the
        // replay runs in 5 double-width batches instead of ~10
        val maxSeq = (n - 1L) + seqLagB
        val slice = maxSeq / 20L + 1L
        (0 until 20).foreach { i =>
          dfp.where(col("seq") >= i * slice && col("seq") < (i + 1) * slice)
            .coalesce(1).write.mode("overwrite").parquet(f"$dir/f$i%02d")
        }
        dfp.unpersist()
        val stream = spark.readStream.schema(df.schema)
          .option("maxFilesPerTrigger", 2)
          .option("recursiveFileLookup", "true").parquet(dir)
          .as(org.apache.spark.sql.Encoders
            .product[graft.streaming.StreamingDecimation.InSample])
        implicit val s: SparkSession = spark
        val q = graft.streaming.StreamingDecimation
          .derivedStream(stream, "calc", "a", "b", "sub", stepNs)
          .writeStream.format("memory").queryName(s"der_$name")
          .outputMode("append").start()
        val t0 = System.nanoTime()
        q.processAllAvailable()
        val sec = (System.nanoTime() - t0) / 1e9
        val stateBytes = q.lastProgress.stateOperators.apply(0)
          .memoryUsedBytes
        q.stop()
        val emitted = spark.table(s"der_$name").count()
        (sec, emitted, stateBytes)
      }
      val expected = (n - 1L) * 1000000000L / stepNs + 1L // grid [0, floor]
      val (sec, emitted, stateB) = run("sync", 0L)
      require(emitted == expected, s"sync emitted $emitted != $expected")
      // B lags by 50k arrival slots (500 s of data): A's pending
      // buffer must carry the skew until B catches up each batch
      val lagSlots = 50000L
      val (lagSec, lagEmitted, lagStateB) = run("lag", lagSlots)
      require(lagEmitted == expected, s"lag emitted $lagEmitted != $expected")
      report("derived_stream", "rows" -> 2 * n, "step_s" -> 10,
        "grid_points" -> expected,
        "sec" -> sec, "rows_per_sec" -> (2 * n / sec).toLong,
        "state_bytes" -> stateB,
        "lag_slots" -> lagSlots, "lag_sec" -> lagSec,
        "lag_state_bytes" -> lagStateB)
    }

    docs.unpersist()
    spark.stop()
  }
}
