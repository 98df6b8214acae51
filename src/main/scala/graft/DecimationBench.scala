package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Pinned decimation-throughput benchmark: a FIXED synthetic workload
  * (rows, channels, 1 h windows), min-of-N warm runs, so throughput
  * claims compare the engine across rounds instead of suite noise.
  * Runs standalone against any master — the BASELINE.md scaling rows
  * (local[1] / local[32] / local-cluster[4,8]) come from here:
  *
  * {{{
  * SPARK_GRAFT_MASTER='local-cluster[4,8,4096]' \
  *   sbt -batch "runMain graft.DecimationBench"
  * }}}
  *
  * [[Bench]] embeds the same measurement in-suite via [[measure]].
  */
object DecimationBench {

  /** Build the fixed frame, decimate to 1 h windows through the noop
    * sink (full physical plan), return EVERY run's seconds (caller
    * takes the min for the headline; the full vector goes into the
    * artifact so storage-pressure outliers are visible instead of
    * silently poisoning the official number — the round-5 driver run
    * recorded an 11×-low reading exactly because a MEMORY_ONLY cache
    * was being evicted and every "warm" run silently recomputed the
    * 20M-row frame).
    *
    * MEMORY_AND_DISK: under memory pressure blocks spill instead of
    * evicting, so a re-run reads local disk (~stable) rather than
    * recomputing through the whole range/concat pipeline.
    */
  def measureRuns(spark: SparkSession, rows: Long, channels: Int,
                  runs: Int): Seq[Double] = {
    val base = 1704067200L * 1000000000L
    val frame = spark.range(rows).select(
        concat(lit("ch"), col("id") % channels).as("channel"),
        (lit(base) + (col("id") / channels).cast("long") * 1000000000L +
          col("id") % 7).as("ts"),
        (col("id") % 1000).cast("double").as("value"),
        lit("").as("str_value"), lit(0).as("severity"), lit(0).as("status"),
        col("id").as("sample_id"))
      .repartition(64)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    frame.count()
    val secs = (1 to runs).map { _ =>
      val t0 = System.nanoTime()
      graft.archive.Decimation.decimate(frame, 3600L * 1000000000L)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    frame.unpersist()
    secs
  }

  /** Headline number: min over [[measureRuns]]. */
  def measure(spark: SparkSession, rows: Long, channels: Int,
              runs: Int): Double =
    measureRuns(spark, rows, channels, runs).min

  def main(args: Array[String]): Unit = {
    val rows = sys.env.getOrElse("SPARK_GRAFT_TPUT_ROWS", "20000000").toLong
    val channels = sys.env.getOrElse("SPARK_GRAFT_TPUT_CHANNELS", "1000").toInt
    val spark = BenchSession("graft-decimation-bench")
    // same contention guard as [[Bench]]: a probe whose post-warmup
    // runs disagree by >2× measures the machine, not the engine —
    // retry up to 3 attempts and publish every vector + the flag
    var attempts = List.empty[Seq[Double]]
    var secs = Seq.empty[Double]
    var stable = false
    while (!stable && attempts.size < 3) {
      secs = measureRuns(spark, rows, channels, runs = 3)
      attempts = attempts :+ secs
      val warm = secs.drop(1)
      stable = warm.max / warm.min <= 2.0
    }
    val sec = attempts.flatten.min
    val attemptsJson =
      attempts.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
    val line =
      s"""{"metric":"decimate_rows_per_sec","value":${(rows / sec).toLong},"unit":"rows_per_sec","rows":$rows,"channels":$channels,"runs":3,"sec":$sec,"run_secs":${secs.mkString("[", ",", "]")},"attempts":$attemptsJson,"contended":${!stable},"master":"${BenchSession.master}"}"""
    println(line)
    java.nio.file.Files.write(java.nio.file.Paths.get("decim_bench.json"),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
