package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory spans of the traced run. A span is written when it ends;
  * nothing leaves memory until [[Main]] writes the trace file. When
  * tracing is off every call is a pass-through. Times are ns since the
  * run's origin. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
                        parent: Long, key: String)

  val originNs: Long = System.nanoTime()
  val originWallMs: Long = System.currentTimeMillis()
  private val nextId = new AtomicLong(0)
  private val spans = ArrayBuffer.empty[Span]
  private val current = new ThreadLocal[Long] { override def initialValue = 0L }

  def now: Long = System.nanoTime() - originNs

  /** Time `f` as a span named `name` under the calling thread's open
    * span; `key` is the request or batch id the span belongs to. */
  def span[A](name: String, key: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId.incrementAndGet()
      val parent = current.get
      current.set(id)
      val s = now
      try f
      finally {
        add(Span(id, name, s, now, parent, key))
        current.set(parent)
      }
    }

  /** A span observed after the fact (streaming progress events); returns
    * its id so children can point at it. */
  def record(name: String, startNs: Long, endNs: Long, parent: Long,
             key: String): Long = {
    val id = nextId.incrementAndGet()
    if (enabled) add(Span(id, name, startNs, endNs, parent, key))
    id
  }

  private def add(s: Span): Unit = spans.synchronized { spans += s }
  def all: Seq[Span] = spans.synchronized { spans.toList }

  /** Wall-clock epoch ms → run-relative ns. */
  def fromWallMs(ms: Long): Long = (ms - originWallMs) * 1000000L

  /** Per span name: (count, self-time sample in ms). Self time is the
    * span minus the union of its children's intervals. */
  def selfTimes: Map[String, Seq[Double]] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (n, group) =>
      n -> group.map { s =>
        val cs = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter(c => c._2 > c._1).sortBy(_._1)
        var covered = 0L; var hi = Long.MinValue
        cs.foreach { case (a, b) =>
          val from = math.max(a, hi)
          if (b > from) covered += b - from
          hi = math.max(hi, b)
        }
        (s.endNs - s.startNs - covered) / 1e6
      }
    }
  }

  def spansJson: String = all.sortBy(_.startNs).map { s =>
    s"""{"id":${s.id},"name":${Stats.str(s.name)},"start_ms":${Stats.num(s.startNs / 1e6)},""" +
      s""""end_ms":${Stats.num(s.endNs / 1e6)},"parent":${s.parent},"key":${Stats.str(s.key)}}"""
  }.mkString("[", ",\n", "]")
}

/** Sums Spark work per job group: the benchmark's own thread sets
  * `SparkContext.setJobGroup` around each call it times, and a
  * streaming query's jobs carry its run id as their group. */
final class JobLedger extends SparkListener {
  final class Acc {
    val jobs = new LongAdder; val tasks = new LongAdder
    val taskMs = new LongAdder; val shuffleWrite = new LongAdder
    val spill = new LongAdder
  }
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = new ConcurrentHashMap[String, Acc]()
  private val events = new LongAdder

  def acc(g: String): Acc = groups.computeIfAbsent(g, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty(JobLedger.GroupKey)))
      .getOrElse("")
    acc(g).jobs.increment()
    e.stageIds.foreach(stageGroup.put(_, g))
    events.increment()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageGroup.getOrDefault(e.stageId, ""))
    a.tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      a.taskMs.add(m.executorRunTime)
      a.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      a.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    events.increment()
  }

  /** Listener delivery is asynchronous: wait until no event has arrived
    * for `quietMs`, so totals read after a call include its jobs. */
  def settle(quietMs: Long = 300, maxMs: Long = 5000): Unit = {
    val t0 = System.currentTimeMillis()
    var last = events.sum; Thread.sleep(quietMs)
    while (events.sum != last && System.currentTimeMillis() - t0 < maxMs) {
      last = events.sum; Thread.sleep(quietMs)
    }
  }

  def jobs(g: String): Long = acc(g).jobs.sum
  def taskMs(g: String): Long = acc(g).taskMs.sum
}

object JobLedger {
  /** The local property `SparkContext.setJobGroup` sets. */
  val GroupKey = "spark.jobGroup.id"

  /** Run `f` with every job it submits from this thread counted under
    * `group`. */
  def group[A](sc: SparkContext, group: String)(f: => A): A = {
    sc.setJobGroup(group, group)
    try f finally sc.clearJobGroup()
  }
}

/** One `ingest.batch` span per streaming progress event, with the
  * `durationMs` parts laid out as child spans in execution order. */
final class IngestListener(tracer: Tracer) extends StreamingQueryListener {
  final case class Batch(batchId: Long, rows: Long, durations: Map[String, Long])
  private val batches = ArrayBuffer.empty[Batch]
  // constructNextBatch (latestOffset, walCommit), then runBatch
  private val order = Seq("latestOffset", "walCommit", "getBatch",
    "queryPlanning", "addBatch", "commitOffsets")

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    if (p.numInputRows > 0) {
      batches.synchronized { batches += Batch(p.batchId, p.numInputRows, d) }
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      val s = tracer.fromWallMs(startMs)
      val total = d.getOrElse("triggerExecution", 0L)
      val key = s"batch-${p.batchId}"
      val id = tracer.record("ingest.batch", s, s + total * 1000000L, 0L, key)
      var at = s
      order.foreach { part =>
        d.get(part).foreach { ms =>
          tracer.record(s"ingest.$part", at, at + ms * 1000000L, id, key)
          at += ms * 1000000L
        }
      }
    }
  }

  def all: Seq[Batch] = batches.synchronized { batches.toList }
}
