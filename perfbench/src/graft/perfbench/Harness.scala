package graft.perfbench

import java.net.{HttpURLConnection, URI}
import java.util.Locale

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.archive.{ChannelConfig, ConfigCommands, ManifestStore}

/** Everything one run needs: the session, the seed, the timed window,
  * whether tracing is on, and the run's private working directory. */
final class RunCtx(val spark: SparkSession, val seed: Long,
                   val seconds: Int, val trace: Tracer, val dir: String) {
  val cores: Int = Session.cores
  def traced: Boolean = trace.enabled
  /** Phase marks on stderr (kept in the run log by run.py). */
  def phase(name: String): Unit =
    System.err.println(f"perfbench: ${trace.now / 1e9}%8.2f s  $name")
}

/** The one SparkSession factory of the benchmark: `local[nproc]`,
  * shuffle partitions = nproc, AQE on, UI off, UTC, and every scratch
  * directory inside the run's own working directory. */
object Session {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  def create(dir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      // the traced run reads every progress event through a listener;
      // the ring only serves the drain check below, so keep it short
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** A metric as printed: value and unit. */
final case class Metric(value: Double, unit: String)

/** What a workload hands back to [[Main]]. `failed` counts failed
  * operations among `attempted`; `problems` lists correctness-check
  * mismatches (any entry makes the run incorrect). */
final case class Outcome(attempted: Long, failed: Long,
                         problems: Seq[String],
                         endToEnd: Map[String, Metric],
                         perLayer: Map[String, Metric])

object Stats {
  /** Nearest-rank percentile of an unsorted sample (NaN when empty). */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else s(math.min(s.length - 1,
      math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
  }

  def ms(ns: Long): Double = ns / 1e6

  /** Wall time of `f` in ms. */
  def timeMs(f: => Any): Double = {
    val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e6
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else String.format(Locale.ROOT, "%.6f", Double.box(d))
      .replaceAll("0+$", "").replaceAll("\\.$", ".0")

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def metricsJson(m: Map[String, Metric]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) =>
      s"${str(k)}:{\"value\":${num(v.value)},\"unit\":${str(v.unit)}}"
    }.mkString("{", ",", "}")
}

/** Seeded Zipf(s) sampler over ranks 0 until n. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  def draw(r: java.util.Random): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** A blocking keep-alive HTTP GET: the JDK client pools one persistent
  * connection per thread, so each load thread is one connection. */
object Http {
  final case class Resp(code: Int, body: Array[Byte])

  def get(url: String, timeoutMs: Int = 30000): Resp = {
    val conn = URI.create(url).toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(timeoutMs)
    conn.setReadTimeout(timeoutMs)
    val code = conn.getResponseCode
    val in = if (code < 400) conn.getInputStream else conn.getErrorStream
    val body =
      if (in == null) Array.emptyByteArray
      else try in.readAllBytes() finally in.close()
    Resp(code, body)
  }
}

/** The archive both workloads build: channels configured one by one
  * through [[ConfigCommands.addChannel]], 1-minute samples materialized
  * through `ConfiguredArchive.materialize`. The steady-state
  * configuration keeps raw one day and the 600 s and 3600 s levels
  * forever. */
object Store {
  val NS = 1000000000L
  val MinuteNs: Long = 60L * NS
  val DayNs: Long = 86400L * NS
  /** Archive time origin: 2024-01-02T00:00Z, day aligned. */
  val T0: Long = 1704153600L * NS
  val Levels: Map[Long, Long] = Map(0L -> 86400L, 600L -> 0L, 3600L -> 0L)

  def name(i: Int): String = f"pv$i%04d"
  def dataId(i: Int): String = f"id$i%04d"
  def config(i: Int, levels: Map[Long, Long]): ChannelConfig =
    ChannelConfig(name(i), dataId(i), "ca", enabled = true, Map(), levels)

  def configure(spark: SparkSession, cfg: String, channels: Seq[Int],
                levels: Map[Long, Long]): Unit =
    channels.foreach(i => ConfigCommands.addChannel(spark, cfg, config(i, levels)))

  /** `days` of 1-minute samples per channel starting at `fromNs`. The
    * value is a per-channel seeded walk of integers (exact in double),
    * so every level's statistics are reproducible from the seed. */
  def minuteSamples(spark: SparkSession, channels: Int, fromNs: Long,
                    days: Int, seed: Long): DataFrame = {
    val perCh = days.toLong * 1440L
    spark.range(channels.toLong * perCh).select(
        concat(lit("pv"), lpad((col("id") % channels).cast("string"), 4,
          "0")).as("channel"),
        (lit(fromNs) + expr(s"id div $channels") * MinuteNs).as("ts"),
        (pmod(xxhash64(col("id"), lit(seed)), lit(2001L)) - 1000L)
          .cast("double").as("value"),
        lit("").as("str_value"), lit(0).as("severity"), lit(0).as("status"),
        col("id").as("sample_id"))
  }

  /** Live rows per level in the latest manifest. */
  def levelRows(spark: SparkSession, store: String): Map[Long, Long] =
    ManifestStore.latestManifest(spark, store).get.files
      .groupBy(_.levelSec).map { case (l, fs) => l -> fs.map(_.rows).sum }

  /** Live parquet bytes over all levels and live raw rows in the
    * latest manifest. */
  def footprint(spark: SparkSession, store: String): (Long, Long, Int) = {
    val m = ManifestStore.latestManifest(spark, store).get
    (m.files.map(_.bytes).sum,
      m.files.filter(_.levelSec == 0L).map(_.rows).sum, m.files.size)
  }
}

/** Client-observed request log shared by the load threads. */
final class RequestLog {
  final case class Rec(route: String, sentNs: Long, latNs: Long, ok: Boolean,
                       traced: Boolean)
  private val recs = ArrayBuffer.empty[Rec]
  def add(r: Rec): Unit = synchronized { recs += r }
  def all: Seq[Rec] = synchronized { recs.toList }
}

object Jvm {
  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ >= 0).sum
  }

  def heapLiveMb: Double = {
    // repeated, so objects freed by cleaners after one collection are gone
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
