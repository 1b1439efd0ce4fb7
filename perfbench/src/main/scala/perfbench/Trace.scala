package perfbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory spans of a traced run: name, start, end, parent and
  * trace id, written as JSON at the end together with self times.
  * When tracing is off `span` only runs its body. */
object Trace {
  final case class Span(id: Long, parent: Long, name: String,
      startNs: Long, endNs: Long)

  @volatile var enabled = false
  var traceId = ""
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def current: Long = stack.get.headOption.getOrElse(0L)
  def nextId(): Long = ids.incrementAndGet()

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId()
      val parent = current
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        stack.set(stack.get.tail)
        spans.add(Span(id, parent, name, t0, System.nanoTime()))
      }
    }

  def add(id: Long, parent: Long, name: String, startNs: Long,
      endNs: Long): Unit =
    if (enabled) spans.add(Span(id, parent, name, startNs, endNs))

  /** Wall-clock millis (listener timestamps) to this JVM's nanoTime. */
  private val clockSkewNs =
    System.nanoTime() - System.currentTimeMillis() * 1000000L
  def msToNs(ms: Long): Long = ms * 1000000L + clockSkewNs

  def writeSpans(path: Path): Unit = {
    val all = spans.asScala.toVector.sortBy(_.startNs)
    val childTime = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    all.foreach(s => childTime(s.parent) += s.endNs - s.startNs)
    val t0 = all.headOption.map(_.startNs).getOrElse(0L)
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val rows = all.map { s =>
      val dur = s.endNs - s.startNs
      f"""{"trace": "${esc(traceId)}", "id": ${s.id}, "parent": ${s.parent}, """ +
        f""""name": "${esc(s.name)}", "start_ms": ${(s.startNs - t0) / 1e6}%.3f, """ +
        f""""end_ms": ${(s.endNs - t0) / 1e6}%.3f, "self_ms": ${math.max(0L, dur - childTime(s.id)) / 1e6}%.3f}"""
    }
    Main.writeString(path, rows.mkString("[\n", ",\n", "\n]\n"))
  }
}

/** Job, stage and task figures from Spark's listener bus, keyed by
  * the label set in the local property `perfbench.label` (a query's
  * module) or by the streaming batch id. Jobs become child spans of
  * the span that was open when they were submitted. */
final class JobStats extends SparkListener {
  final class Agg {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var shuffleWrite = 0L; var spill = 0L; var cpuNs = 0L
    var maxTaskMs = 0L
  }
  val byLabel = mutable.Map.empty[String, Agg]
  private val stageLabel = mutable.Map.empty[Int, String]
  private val jobInfo = mutable.Map.empty[Int, (String, Long, Long)]

  private def agg(l: String) = byLabel.getOrElseUpdate(l, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    val label = Option(p).flatMap(x => Option(x.getProperty("perfbench.label")))
      .orElse(Option(p).flatMap(x =>
        Option(x.getProperty("streaming.sql.batchId")).map(b =>
          s"batch-${x.getProperty("sql.streaming.queryId")}-$b")))
      .getOrElse("other")
    val parent = Option(p).flatMap(x => Option(x.getProperty("perfbench.span")))
      .map(_.toLong).getOrElse(0L)
    val a = agg(label)
    a.jobs += 1
    a.stages += e.stageIds.size
    e.stageIds.foreach(stageLabel(_) = label)
    jobInfo(e.jobId) = (label, parent, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobInfo.remove(e.jobId).foreach { case (label, parent, start) =>
      Trace.add(Trace.nextId(), parent, s"spark.job[$label]",
        Trace.msToNs(start), Trace.msToNs(e.time))
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageLabel.getOrElse(e.stageId, "other"))
    a.tasks += 1
    a.maxTaskMs = math.max(a.maxTaskMs, e.taskInfo.duration)
    val m = e.taskMetrics
    if (m != null) {
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.cpuNs += m.executorCpuTime
    }
  }
}

/** Micro-batch progress of one streaming query, plus its batch and
  * phase spans. */
final class ProgressLog(backlog: Long => Long) extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  val backlogs = new ConcurrentLinkedQueue[java.lang.Long]()
  val spanOf = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      batches.add(p)
      val end = p.sources.headOption.map(_.endOffset.replaceAll("[^0-9]", ""))
        .filter(_.nonEmpty).map(_.toLong).getOrElse(0L)
      backlogs.add(backlog(end))
      val endNs = Trace.msToNs(java.time.Instant.parse(p.timestamp).toEpochMilli) +
        p.batchDuration * 1000000L
      val id = Trace.nextId()
      spanOf.put(p.batchId, id)
      Trace.add(id, 0L, s"batch ${p.batchId}", endNs - p.batchDuration * 1000000L, endNs)
      var at = endNs - p.batchDuration * 1000000L
      Seq("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
        .foreach { k =>
          val d = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L) * 1000000L
          Trace.add(Trace.nextId(), id, k, at, at + d)
          at += d
        }
    }
  }
  def phaseP50(k: String): Double = Main.median(batches.asScala.map(p =>
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
}
