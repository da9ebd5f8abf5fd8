package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed call into a layer. Times are epoch nanoseconds; `parent`
  * is the id of the enclosing span on the same thread (0 = none) and
  * `req` the request it served (a query name or a probe id).
  */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int, req: String) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Wall clock with nanosecond resolution on one monotonic base, so
  * spans, listener events (epoch ms) and file times line up.
  */
object Clock {
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def nowNs: Long = baseEpochNs + (System.nanoTime() - baseNano)
}

/** In-memory span recorder. When disabled, `span` only runs its body. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)

  def span[T](name: String, req: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      stack.set(id :: outer)
      val t0 = Clock.nowNs
      try body
      finally {
        stack.set(outer)
        spans.add(Span(id, name, t0, Clock.nowNs, outer.headOption.getOrElse(0), req))
      }
    }

  /** Record a span timed elsewhere (one that crosses threads or calls). */
  def record(name: String, startNs: Long, endNs: Long, req: String = ""): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), name, startNs, endNs, 0, req))

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  def named(name: String): Seq[Span] = all.filter(_.name == name)

  def write(path: Path): Unit = {
    val lines = all.map { s =>
      Json.mapper.writeValueAsString(Map("id" -> s.id, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "parent" -> s.parent, "req" -> s.req))
    }
    Files.createDirectories(path.getParent)
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Spark job and task counters, by job, from a SparkListener. */
final class JobRecorder extends SparkListener {
  import JobRecorder._

  private val starts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]
  private val ends = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]
  private val tasks = new ConcurrentLinkedQueue[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = starts.put(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = ends.put(e.jobId, e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    tasks.add(Task(e.taskInfo.finishTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** Finished jobs that started inside `[fromMs, toMs)`. */
  def jobs(fromMs: Double, toMs: Double): Seq[Job] =
    starts.asScala.toSeq.flatMap { case (id, s) =>
      Option(ends.get(id)).map(e => Job(id, s.longValue, e.longValue))
    }.filter(j => j.startMs >= fromMs && j.startMs < toMs).sortBy(_.startMs)

  def tasks(fromMs: Double, toMs: Double): Seq[Task] =
    tasks.asScala.toSeq.filter(t => t.endMs >= fromMs && t.endMs < toMs)
}

object JobRecorder {
  final case class Job(id: Int, startMs: Long, endMs: Long)
  final case class Task(endMs: Long, shuffleWriteBytes: Long, spillBytes: Long)
}

/** Streaming progress reports, as the StreamingQueryListener sees them. */
final class ProgressRecorder extends StreamingQueryListener {
  private val seen = new ConcurrentLinkedQueue[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    seen.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** Progress of triggers that started inside `[fromMs, toMs)`. */
  def within(fromMs: Double, toMs: Double): Seq[StreamingQueryProgress] =
    seen.asScala.toSeq.filter { p =>
      val t = Progress.startMs(p)
      t >= fromMs && t < toMs
    }
}

/** Reading the phases out of a StreamingQueryProgress. */
object Progress {
  val Phases = Seq("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets",
    "triggerExecution")

  def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble

  def phaseMs(p: StreamingQueryProgress, phase: String): Option[Double] =
    Option(p.durationMs.get(phase)).map(_.doubleValue)

  /** Share of the trigger that its named phases account for. */
  def phaseShare(p: StreamingQueryProgress): Double = {
    val d = p.durationMs.asScala
    val total = d.getOrElse("triggerExecution", java.lang.Long.valueOf(0L)).doubleValue
    if (total <= 0) 1.0
    else d.collect { case (k, v) if k != "triggerExecution" => v.doubleValue }.sum / total
  }

  /** State-store commit time of the trigger, over its stateful operators. */
  def stateCommitMs(p: StreamingQueryProgress): Double =
    p.stateOperators.map(_.commitTimeMs.toDouble).sum

  def stateRows(p: StreamingQueryProgress): Long = p.stateOperators.map(_.numRowsTotal).sum

  /** Triggers that ran a micro-batch, not idle heartbeats. (Input rows
    * would miss a sink that never reads its batch, like `qmap_live`.)
    */
  def isBatch(p: StreamingQueryProgress): Boolean = p.durationMs.containsKey("addBatch")
}
