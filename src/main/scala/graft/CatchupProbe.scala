package graft

/** Attribution probe for the round-7 `arch_incremental_catchup` bench
  * regression (9.7 s → 41.65 s while its code did not change). The
  * suspect is the round-7 bench reorder: two 20M-row decimation
  * throughput probes (MEMORY_AND_DISK persists) now run BEFORE the
  * suite, and the catch-up gate — a manifest store built, appended,
  * and caught-up in-query with many small write jobs — is the suite's
  * most allocation-sensitive shape.
  *
  * Modes (SPARK_GRAFT_PROBE_MODE):
  *   - `alone`         — fresh JVM, gate only (the r1-r6 condition)
  *   - `after_probes`  — DecimationBench probes first, then the gate
  *                       (the r7 Bench condition)
  *   - `after_probes_gc` — probes, then clearCache + System.gc, then
  *                       the gate (the candidate fix)
  *
  * Each mode times the gate exactly like Bench: noop write, 2 runs,
  * clearCache between, report both runs and the min.
  */
object CatchupProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mode = sys.env.getOrElse("SPARK_GRAFT_PROBE_MODE", "alone")
    val gate = sys.env.getOrElse("SPARK_GRAFT_PROBE_GATE",
      "arch_incremental_catchup")
    val spark = BenchSession("graft-catchup-probe")

    // same warm-up as Bench
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .foreach(t => graft.core.Tables.read(spark, sfDir, t).count())
    SparkEntry.queries.get("q1_pricing_summary")
      .foreach(fn => fn(spark, sfDir).write.format("noop").mode("overwrite").save())

    if (mode.startsWith("after_probes")) {
      DecimationBench.measure(spark, rows = 2000000L, channels = 250, runs = 2)
      DecimationBench.measureRuns(spark, rows = 20000000L, channels = 1000,
        runs = 3)
      spark.catalog.clearCache()
      if (mode == "after_probes_gc") {
        System.gc()
        Thread.sleep(2000)
      }
    }

    // SPARK_GRAFT_PROBE_GATE accepts a comma-separated list: one JVM,
    // each gate timed like Bench (noop write, min-of-2, clearCache
    // between runs), one JSON line per gate
    val lines = gate.split(",").map(_.trim).filter(_.nonEmpty).map { g =>
      val fn = SparkEntry.queries(g)
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        sec
      }
      s"""{"metric":"catchup_probe","gate":"$g","mode":"$mode","run_secs":${times.mkString("[", ",", "]")},"min_sec":${times.min},"sf":"$sfDir"}"""
    }
    spark.stop()
    lines.foreach(println)
  }
}
