package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** The structural figures of one query run: rows its parquet scans
  * read and it returned, the jobs and stages it ran, the shuffle bytes they
  * wrote and read, and the bytes they spilled to disk. These do not
  * move with the host's load; `wallS` is reported beside them. */
final case class RunMetrics(inputRows: Long, outputRows: Long, jobs: Long,
    stages: Long, shuffleWriteBytes: Long, shuffleReadBytes: Long,
    spillBytes: Long, wallS: Double)

/** The one listener that counts what a query run costs Spark. Register
  * it with [[QueryMetrics.listening]], then [[measure]] each run. */
final class QueryMetrics private (spark: SparkSession) extends SparkListener {
  private val jobs, stages, inputRows, shuffleWrite, shuffleRead, spill =
    new AtomicLong
  private val counters =
    Seq(jobs, stages, inputRows, shuffleWrite, shuffleRead, spill)
  /** Accumulator ids of the parquet scans' output-row metrics. Input rows
    * come from these, not from the tasks' input metrics: those also count
    * reads of cached blocks, and whether a task reads a cached partition
    * or computes it varies from run to run. */
  private val scanRowIds = ConcurrentHashMap.newKeySet[Long]()

  private def addScans(p: SparkPlanInfo): Unit = {
    if (p.nodeName.startsWith("Scan parquet"))
      p.metrics.filter(_.name == "number of output rows")
        .foreach(m => scanRowIds.add(m.accumulatorId))
    p.children.foreach(addScans)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => addScans(s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate => addScans(u.sparkPlanInfo)
    case _ =>
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
    te.taskInfo.accumulables.foreach { a =>
      if (scanRowIds.contains(a.id))
        a.update.foreach(v => inputRows.addAndGet(v.asInstanceOf[Long]))
    }

  override def onJobStart(js: SparkListenerJobStart): Unit =
    jobs.incrementAndGet()

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    val m = sc.stageInfo.taskMetrics
    if (m != null) {
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead)
      spill.addAndGet(m.diskBytesSpilled)
    }
  }

  /** Builds `df` and counts its rows, with the bus drained before the
    * counters are zeroed and again before they are read, so the figures
    * hold this run's events and no other's. */
  def measure(df: => DataFrame): RunMetrics = {
    ListenerBusAccess.waitUntilEmpty(spark.sparkContext)
    counters.foreach(_.set(0L))
    scanRowIds.clear()
    val t0 = System.nanoTime()
    val rows = df.count()
    val wallS = (System.nanoTime() - t0) / 1e9
    ListenerBusAccess.waitUntilEmpty(spark.sparkContext)
    RunMetrics(inputRows.get, rows, jobs.get, stages.get, shuffleWrite.get,
      shuffleRead.get, spill.get, wallS)
  }
}

object QueryMetrics {
  /** Runs `body` with a [[QueryMetrics]] registered on `spark`'s context. */
  def listening[T](spark: SparkSession)(body: QueryMetrics => T): T = {
    val m = new QueryMetrics(spark)
    spark.sparkContext.addSparkListener(m)
    try body(m) finally spark.sparkContext.removeSparkListener(m)
  }
}
