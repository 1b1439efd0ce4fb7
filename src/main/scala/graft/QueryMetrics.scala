package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** The structural figures of one query run: rows its parquet scans
  * read (in all, and in its largest single scan) and it returned, the
  * jobs and stages it ran, the shuffle bytes they wrote and read, and
  * the bytes they spilled to disk. These do not move with the host's
  * load; `wallS` is reported beside them. */
final case class RunMetrics(inputRows: Long, largestScanRows: Long,
    outputRows: Long, jobs: Long, stages: Long, shuffleWriteBytes: Long,
    shuffleReadBytes: Long, spillBytes: Long, wallS: Double) {
  /** One JSON object of every figure, the form `graft.Bench` and
    * `graft.Profile` `time` and `scale` write. */
  def json: String =
    s"""{"input_rows":$inputRows,"largest_scan_rows":$largestScanRows,""" +
      s""""output_rows":$outputRows,"jobs":$jobs,"stages":$stages,""" +
      s""""shuffle_write_bytes":$shuffleWriteBytes,""" +
      s""""shuffle_read_bytes":$shuffleReadBytes,"spill_bytes":$spillBytes,""" +
      f""""wall_s":$wallS%.3f}"""
}

/** The one listener that counts what a query run costs Spark. Register
  * it with [[QueryMetrics.listening]], then [[measure]] each run. */
final class QueryMetrics private (spark: SparkSession) extends SparkListener {
  private val jobs, stages, shuffleWrite, shuffleRead, spill = new AtomicLong
  private val counters = Seq(jobs, stages, shuffleWrite, shuffleRead, spill)
  /** Output rows per parquet scan node, keyed by the accumulator id of
    * its `number of output rows` metric. Input rows come from these,
    * not from the tasks' input metrics: those also count reads of cached
    * blocks, and whether a task reads a cached partition or computes it
    * varies from run to run. */
  private val scanRows = new ConcurrentHashMap[Long, AtomicLong]()

  private def addScans(p: SparkPlanInfo): Unit = {
    if (p.nodeName.startsWith("Scan parquet"))
      p.metrics.filter(_.name == "number of output rows")
        .foreach(m => scanRows.putIfAbsent(m.accumulatorId, new AtomicLong))
    p.children.foreach(addScans)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => addScans(s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate => addScans(u.sparkPlanInfo)
    case _ =>
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
    te.taskInfo.accumulables.foreach { a =>
      val rows = scanRows.get(a.id)
      if (rows != null) a.update.foreach(v => rows.addAndGet(v.asInstanceOf[Long]))
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

  /** Builds `df` and runs it to the end, with the bus drained before the
    * counters are zeroed and again before they are read, so the figures
    * hold this run's events and no other's. Every row is deserialized
    * in one SQL execution (`foreachPartition`), so every output column
    * is computed: `count()` would let Catalyst prune the columns, and
    * with them whole join sides, the query's output does not need. */
  def measure(df: => DataFrame): RunMetrics = {
    ListenerBusAccess.waitUntilEmpty(spark.sparkContext)
    counters.foreach(_.set(0L))
    scanRows.clear()
    val rows = spark.sparkContext.longAccumulator("graft.measure.rows")
    val t0 = System.nanoTime()
    df.foreachPartition((it: Iterator[Row]) => rows.add(it.size.toLong))
    val wallS = (System.nanoTime() - t0) / 1e9
    ListenerBusAccess.waitUntilEmpty(spark.sparkContext)
    val scans = scanRows.values.toArray(Array.empty[AtomicLong]).map(_.get)
    RunMetrics(scans.sum, scans.maxOption.getOrElse(0L), rows.value, jobs.get,
      stages.get, shuffleWrite.get, shuffleRead.get, spill.get, wallS)
  }
}

object QueryMetrics {
  /** Runs `body` with a [[QueryMetrics]] registered on `spark`'s context. */
  def listening[T](spark: SparkSession)(body: QueryMetrics => T): T = {
    val m = new QueryMetrics(spark)
    spark.sparkContext.addSparkListener(m)
    try body(m) finally spark.sparkContext.removeSparkListener(m)
  }

  /** The dir a timed run of `sfDir` warms on first: its `sf0.001`
    * sibling, so the generated code and JIT profiles of the query's
    * stages are hot. None when there is no such sibling, or when it is
    * `sfDir` itself: a warm read of the measured files would prime the
    * OS page cache for the timed run. */
  def warmDir(sfDir: String): Option[String] = {
    val c = Paths.get(sfDir).toAbsolutePath.resolveSibling("sf0.001")
    Option.when(Files.isDirectory(c) && !Files.isSameFile(c, Paths.get(sfDir)))(
      c.toString)
  }
}
