package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{GraftConfig, GraftJob}
import graft.streaming.{KplAggregate, LocalFilePutClient, PutClient, ThrottlingException}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Every put of the run with its batch, start and return time. The
  * records are decoded after the run, not inside `put`. */
object PutLog {
  final case class Put(batch: Long, startNs: Long, endNs: Long, data: Array[Byte])
  val puts = new ConcurrentLinkedQueue[Put]()
  val retries = new AtomicLong()
  def reset(): Unit = { puts.clear(); retries.set(0) }
}

/** The job's own local put client, timed. */
final class RecordingPutClient(dir: String) extends PutClient {
  private val inner = new LocalFilePutClient(dir)
  private var batch = -1L
  override def beginBatch(b: Long): Unit = { batch = b; inner.beginBatch(b) }
  override def beginBatch(b: Long, lane: Int): Unit = {
    batch = b; inner.beginBatch(b, lane)
  }
  override def put(seq: Long, data: Array[Byte]): Unit = {
    val t0 = System.nanoTime()
    try inner.put(seq, data)
    catch { case e: ThrottlingException => PutLog.retries.incrementAndGet(); throw e }
    PutLog.puts.add(PutLog.Put(batch, t0, System.nanoTime(), data))
  }
  override def deliveredCount(): Long = inner.deliveredCount()
}

/** Polls `<wal>.feedback` and stamps each acked LSN when it appears. */
final class FeedbackWatcher(wal: Path) extends Thread("perfbench-feedback") {
  setDaemon(true)
  private val fb = Paths.get(wal.toString + ".feedback")
  val acks = mutable.ArrayBuffer.empty[(Long, Long)] // (ns, lsn)
  @volatile private var stopping = false
  @volatile var last = -1L
  @volatile var cpuS = 0.0
  override def run(): Unit = {
    var off = 0L
    while (!stopping) {
      if (Files.exists(fb) && Files.size(fb) > off) {
        val now = System.nanoTime()
        val bytes = Files.readAllBytes(fb)
        val text = new String(bytes, off.toInt, bytes.length - off.toInt,
          StandardCharsets.UTF_8)
        val complete = text.lastIndexOf('\n') + 1
        text.substring(0, complete).split("\n").filter(_.nonEmpty).foreach { l =>
          val lsn = l.trim.toLong
          acks.synchronized(acks += ((now, lsn)))
          last = lsn
        }
        off += text.substring(0, complete).getBytes(StandardCharsets.UTF_8).length
      }
      java.util.concurrent.locks.LockSupport.parkNanos(1000000L)
    }
    cpuS = Main.threadCpuS
  }
  def awaitAck(lsn: Long, timeoutS: Double): Boolean = {
    val until = System.nanoTime() + (timeoutS * 1e9).toLong
    while (last < lsn && System.nanoTime() < until) Thread.sleep(1)
    last >= lsn
  }
  def finish(): Unit = { stopping = true; join() }
  def snapshot: Vector[(Long, Long)] = acks.synchronized(acks.toVector)
}

/** One pass of the job over a WAL, with everything the checks and
  * metrics need afterwards. */
final case class JobRun(startNs: Long, endNs: Long, cpuS: Double,
    liveHeapMb: Double, puts: Vector[PutLog.Put], acks: Vector[(Long, Long)],
    ackedAll: Boolean, progress: ProgressLog, wal: Path, walLines: Long) {
  def secs: Double = (endNs - startNs) / 1e9
  /** (change seq, return time of the put that carried it). */
  lazy val deliveries: Vector[(Int, Long)] = puts.flatMap { p =>
    KplAggregate.decode(p.data).map { case (_, d) =>
      (CdcBench.seqIn(new String(d, StandardCharsets.UTF_8)), p.endNs) }
  }
}

object CdcBench {
  private val PkeyRe = "\"pkey\":\"([^\"]*)\"".r
  def seqIn(record: String): Int =
    PkeyRe.findFirstMatchIn(record).map(m =>
      scala.util.Try((if (m.group(1).startsWith("k")) m.group(1).substring(1)
        else m.group(1)).toInt).getOrElse(-1)).getOrElse(-1)

  /** Changes in the drain's backlog, and micro-batches it drains in. */
  val DrainChanges = 100000
  val DrainBatches = 5
  /** Tail: transactions appended per second, the job's trigger interval
    * (its send window) and how long the warm-up tail runs. The rate is
    * half the highest one the job held on 4 cores without its put
    * latency growing over a 15 s tail (12000/s; at 16000/s it grew). */
  val TailRate = 6000.0
  val TailWindowS = 1
  val TailWarmS = 5.0
  /** Input preparations in setup, of which `setup_s` takes the median. */
  val SetupReps = 3

  def cfg(wal: Path, dir: Path, plugin: String, maxPerTrigger: Long,
      windowSecs: Int) =
    GraftConfig(wal.toString, dir.resolve("sink").toString,
      dir.resolve("ckpt").toString, plugin = plugin,
      tablePat = CdcSchema.tablePat, operations = CdcSchema.allowedOps,
      formatter = "CSVPayload", sendWindowSecs = windowSecs,
      maxRecordsPerTrigger = maxPerTrigger, sinkLanes = 1)

  def catalog(spark: SparkSession): DataFrame =
    graft.catalog.PkCatalog.fromItems(spark, CdcSchema.catalogItems)

  private def wal2jsonFence(wal: Path): Unit =
    Files.write(wal, ("""{"xid": 1, "change": [{"kind": "insert", "schema": "audit", """ +
      """"table": "log", "columnnames": ["id"], "columntypes": ["integer"], """ +
      """"columnvalues": [0]}]}""" + "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.APPEND)

  /** Runs the job over `wal` until every backlog line is acked. A drain
    * starts on a full WAL; a tail starts `gen` once the query runs. The
    * source acks a batch only when the next batch starts, so the run
    * ends with transactions on a filtered table, appended until the
    * last generated line is acked. */
  def runJob(spark: SparkSession, cat: DataFrame, c: GraftConfig,
      wal: Path, tailFor: Option[(TestDecodingGen, Double)],
      backlogLines: Long): JobRun = {
    Main.deleteTree(Paths.get(c.sinkDir)); Main.deleteTree(Paths.get(c.checkpointDir))
    Files.deleteIfExists(Paths.get(wal.toString + ".feedback"))
    PutLog.reset()
    val progress = new ProgressLog(end => tailFor.map(_._1.lines)
      .getOrElse(backlogLines) - end)
    if (Trace.enabled) spark.streams.addListener(progress)
    val watcher = new FeedbackWatcher(wal)
    watcher.start()
    val t0 = System.nanoTime()
    val cpu0 = Main.cpuS - Main.jitCpuS
    val q = GraftJob.start(spark, c, cat,
      putClient = new RecordingPutClient(c.sinkDir))
    val (lines, acked) = try {
      q.processAllAvailable()
      val n = tailFor match {
        case Some((gen, secs)) =>
          gen.start()
          Thread.sleep((secs * 1000).toLong)
          gen.finish()
          gen.lines
        case None => backlogLines
      }
      val until = System.nanoTime() + 60000000000L
      var fences = 0
      while (!watcher.awaitAck(n, 0.05) && System.nanoTime() < until) {
        if (tailFor.isDefined) TestDecodingGen.fence(wal, 1L + fences)
        else wal2jsonFence(wal)
        fences += 1
        q.processAllAvailable()
      }
      (n, watcher.last >= n)
    } catch { case e: Throwable => q.stop(); watcher.finish(); throw e }
    val end = if (acked) watcher.snapshot.find(_._2 >= lines).get._1
      else System.nanoTime()
    val cpu = Main.cpuS - Main.jitCpuS - cpu0
    // taken while the query still holds its state, after the CPU figure
    // so the forced collections stay out of it
    val heap = Main.liveHeapMb
    q.stop()
    watcher.finish()
    spark.streams.removeListener(progress)
    // the job's CPU: neither the JIT compiler, whose work a short run
    // cannot amortize, nor the run's helper threads are part of it
    val jobCpu = cpu - watcher.cpuS - tailFor.map(_._1.cpuS).getOrElse(0.0)
    JobRun(t0, end, jobCpu, heap, PutLog.puts.asScala.toVector, watcher.snapshot, acked,
      progress, wal, lines)
  }

  /** Decodes every sink file and compares it with the independent
    * formatter: each expected change exactly once, in LSN order, keyed
    * by its xid, and the last backlog LSN acked. */
  def check(run: JobRun, sinkDir: Path, log: ChangeLog, upperOps: Boolean,
      out: Outcome): Unit = {
    val files = if (Files.exists(sinkDir)) {
      val s = Files.list(sinkDir)
      try s.iterator().asScala.toVector.sortBy(_.getFileName.toString)
      finally s.close()
    } else Vector.empty
    val seen = new Array[Int](log.size)
    var bad = 0L
    var disorder = 0L
    var prev = -1L
    files.foreach { f =>
      KplAggregate.decode(Files.readAllBytes(f)).foreach { case (key, d) =>
        val rec = new String(d, StandardCharsets.UTF_8)
        val i = seqIn(rec)
        if (i < 0 || i >= log.size || !log.delivered(i)) bad += 1
        else {
          val op = if (upperOps) log.op(i).toUpperCase else log.op(i)
          if (rec != log.expected(i, op) || key != log.xid(i).toString) bad += 1
          seen(i) += 1
          if (log.lsn(i) < prev) disorder += 1
          prev = log.lsn(i)
        }
      }
    }
    var expected = 0L
    var wrong = 0L
    var i = 0
    while (i < log.size) {
      if (log.delivered(i)) { expected += 1; if (seen(i) != 1) wrong += 1 }
      i += 1
    }
    out.count(expected, math.min(expected, wrong + bad),
      s"${run.wal}: $wrong changes not delivered exactly once, $bad wrong records")
    out.check(disorder == 0, s"${run.wal}: $disorder records out of LSN order")
    val acks = run.acks.map(_._2)
    val walLines = graft.sources.CdcFileSource.lineCount(run.wal.toString)
    out.check(run.ackedAll && acks.nonEmpty && acks.last >= run.walLines &&
      acks.last <= walLines &&
      acks.zip(acks.drop(1)).forall { case (x, y) => x <= y },
      s"${run.wal}: feedback ${acks.lastOption} does not ack line ${run.walLines} in order")
  }

  /** Per-window (by creation time) quantiles of a latency sample,
    * reported as the median over windows. */
  def windowed(xs: Seq[(Long, Double)], windowNs: Long, q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val t0 = xs.map(_._1).min
    val groups = xs.groupBy { case (t, _) => (t - t0) / windowNs }.values
      .filter(_.size >= 20)
    if (groups.isEmpty) Main.quantile(xs.map(_._2), q)
    else Main.median(groups.map(g => Main.quantile(g.map(_._2), q)))
  }

  // ------------------------------------------------------------------
  // cdc_drain
  // ------------------------------------------------------------------

  final class DrainBed(val spark: SparkSession, val a: Main.Args,
      val changes: Int = DrainChanges) {
    val dir = a.work.resolve("drain")
    val template = dir.resolve("backlog.jsonl")
    var log: ChangeLog = _
    var lines = 0L
    var cat: DataFrame = _
    /** Inputs: the PK catalog and the seeded backlog. */
    def prepare(): Unit = {
      Main.deleteTree(dir); Files.createDirectories(dir)
      cat = Trace.span("catalog.fromItems")(catalog(spark))
      log = new ChangeLog
      lines = Wal2JsonGen.write(template, a.seed, changes, 6, log)
    }
    /** Drains of another seed's full backlog, first in twice as many
      * micro-batches, so per-row and per-batch code paths both get hot.
      * With a single smaller warm-up the measured drains still got
      * cheaper one after another, by more when the host was busy. */
    def warmUp(): Unit = {
      val warm = dir.resolve("warm.jsonl")
      val wl = Wal2JsonGen.write(warm, a.seed + 1, changes, 6, new ChangeLog)
      for (batches <- Seq(2 * DrainBatches, DrainBatches))
        drainCopy(warm, s"warm$batches", math.max(1, wl / batches), wl)
    }
    def drainOnce(tag: String): JobRun =
      Trace.span(s"drain $tag")(drainCopy(template, tag, math.max(1, lines / DrainBatches), lines))
    /** Drains a copy of `backlog`: a run appends to the WAL it reads. */
    private def drainCopy(backlog: Path, tag: String, perTrigger: Long, n: Long): JobRun = {
      val wal = dir.resolve(s"wal-$tag.jsonl")
      Files.copy(backlog, wal, StandardCopyOption.REPLACE_EXISTING)
      runJob(spark, cat, cfg(wal, dir.resolve(tag), "wal2json", perTrigger, 0), wal, None, n)
    }
  }

  /** `setup_s`, in CPU seconds of this process: JVM and session start,
    * the median of `reps` input preparations, and the warm-up, run once
    * because a second one would find the JIT and codegen work done. */
  def setupCpuS(reps: Int)(prep: => Unit)(warm: => Unit): Double = {
    def cpu(f: => Unit) = { val c0 = Main.cpuS; f; Main.cpuS - c0 }
    val started = Main.cpuS
    started + Main.median((1 to reps).map(_ => cpu(prep))) + cpu(warm)
  }

  /** The CPU cost of a job run per generated change, in microseconds,
    * without JIT compilation. */
  def cpuPerChange(r: JobRun, log: ChangeLog): Double = r.cpuS / log.size * 1e6

  /** Wall-clock figures a user sees. Unlike CPU time they move with the
    * host's load, so they are reported, not bounded. A drain's changes
    * all exist when it starts, so its latencies count from job start. */
  def drainWall(runs: Seq[JobRun], log: ChangeLog): Seq[(String, Double)] = {
    def q(r: JobRun, xs: Seq[Long], p: Double) = Main.quantile(xs.map(t => (t - r.startNs) / 1e6), p)
    def acks(r: JobRun) = (0 until log.size).map(i => r.acks.find(_._2 > log.lsn(i)).map(_._1)
      .getOrElse(r.endNs))
    Seq("ops_per_s" -> Main.median(runs.map(r => log.size / r.secs)),
      "latency_p50_ms" -> Main.median(runs.map(r => q(r, r.deliveries.map(_._2), 0.5))),
      "latency_p99_ms" -> Main.median(runs.map(r => q(r, r.deliveries.map(_._2), 0.99))),
      "ack_lag_p50_ms" -> Main.median(runs.map(r => q(r, acks(r), 0.5))))
  }

  def drain(a: Main.Args): RunResult = {
    val spark = Main.session(a, 4)
    val bed = new DrainBed(spark, a)
    val setupS = setupCpuS(SetupReps)(bed.prepare())(bed.warmUp())
    val log = bed.log
    val out = new Outcome
    if (a.trace) return Layers.traced(a, spark, out, "cdc_drain", Some(bed))
    // fixed work, one drain per 5 s of the run: a count set by the time
    // each drain took would change with host speed, and with it how much
    // of the JIT's warm-up the median takes in
    val runs = (0 until math.max(1, a.seconds / 5)).map { i =>
      val r = bed.drainOnce(s"m$i")
      check(r, bed.dir.resolve(s"m$i").resolve("sink"), log, upperOps = false, out)
      r
    }
    val wall = drainWall(runs, log)
    System.err.println(f"perfbench: cdc_drain over ${runs.size} drains of ${log.size} " +
      f"changes (${bed.lines} lines): drain_changes_per_s=${wall(0)._2}%.0f " +
      f"put_latency_p50_ms=${wall(1)._2}%.0f put_latency_p99_ms=${wall(2)._2}%.0f " +
      f"ack_lag_p50_ms=${wall(3)._2}%.0f live_heap_mb=${runs.map(_.liveHeapMb).max}%.1f " +
      f"native_mb=${Main.nativePeakMb}%.1f cpu_us_per_change_each=" +
      runs.map(r => f"${cpuPerChange(r, log)}%.1f").mkString("/"))
    val m = Seq(("setup_s", setupS, "s"),
      ("cpu_us_per_change", Main.median(runs.map(cpuPerChange(_, log))), "us"),
      ("mem_mb", runs.map(_.liveHeapMb).max + Main.nativePeakMb, "MB"))
    spark.stop()
    RunResult(out, m)
  }

  // ------------------------------------------------------------------
  // cdc_tail
  // ------------------------------------------------------------------

  final class TailBed(val spark: SparkSession, val a: Main.Args) {
    val dir = a.work.resolve("tail")
    var cat: DataFrame = _
    def prepare(): Unit = {
      Main.deleteTree(dir); Files.createDirectories(dir)
      cat = Trace.span("catalog.fromItems")(catalog(spark))
    }
    def warmUp(): Unit = tailOnce("warm", a.seed + 1, TailWarmS)
    def tailOnce(tag: String, seed: Long, secs: Double): (JobRun, ChangeLog) = {
      val d = dir.resolve(tag)
      Files.createDirectories(d)
      val wal = d.resolve("wal.txt")
      Files.write(wal, Array.emptyByteArray)
      val gen = new TestDecodingGen(wal, seed, TailRate, new ChangeLog)
      val r = Trace.span(s"tail $tag")(runJob(spark, cat,
        cfg(wal, d, "test_decoding", Long.MaxValue, TailWindowS), wal,
        Some((gen, secs)), 0L))
      lateMaxMs = math.max(lateMaxMs, gen.lateMaxMs)
      (r, gen.log)
    }
    var lateMaxMs = 0.0
  }

  /** (creation, put latency ms) and (creation, ack lag ms) per change. */
  def tailSamples(r: JobRun, log: ChangeLog): (Seq[(Long, Double)], Seq[(Long, Double)]) = {
    val put = r.deliveries.filter(_._1 >= 0).map { case (i, t) =>
      (log.created(i), (t - log.created(i)) / 1e6) }
    val acks = r.acks
    val ack = mutable.ArrayBuffer.empty[(Long, Double)]
    var j = 0
    (0 until log.size).sortBy(log.lsn(_)).foreach { i =>
      while (j < acks.size && acks(j)._2 < log.lsn(i) + 1) j += 1
      if (j < acks.size) ack += ((log.created(i), (acks(j)._1 - log.created(i)) / 1e6))
    }
    (put, ack.toSeq)
  }

  val WindowNs = 2000000000L

  /** Wall-clock figures of a tail, each change timed from when its
    * transaction was due: medians over 2 s windows of creation time. */
  def tailWall(r: JobRun, log: ChangeLog): Seq[(String, Double)] = {
    val (put, ack) = tailSamples(r, log)
    val lastPut = r.puts.map(_.endNs).maxOption.getOrElse(r.endNs)
    Seq("ops_per_s" -> put.size / ((lastPut - log.created(0)) / 1e9),
      "latency_p50_ms" -> windowed(put, WindowNs, 0.5),
      "latency_p99_ms" -> windowed(put, WindowNs, 0.99),
      "ack_lag_p50_ms" -> windowed(ack, WindowNs, 0.5))
  }

  def tail(a: Main.Args): RunResult = {
    val spark = Main.session(a, 4)
    val bed = new TailBed(spark, a)
    val setupS = setupCpuS(SetupReps)(bed.prepare())(bed.warmUp())
    val out = new Outcome
    if (a.trace) return Layers.traced(a, spark, out, "cdc_tail", Some(bed))
    val (r, log) = bed.tailOnce("measured", a.seed, a.seconds)
    check(r, bed.dir.resolve("measured").resolve("sink"), log, upperOps = true, out)
    val wall = tailWall(r, log)
    System.err.println(f"perfbench: cdc_tail over ${log.size} changes: " +
      f"put_latency_p50_ms=${wall(1)._2}%.1f put_latency_p99_ms=${wall(2)._2}%.1f " +
      f"ack_lag_p50_ms=${wall(3)._2}%.1f changes_per_s=${wall(0)._2}%.0f " +
      f"gen_late_ms_max=${bed.lateMaxMs}%.1f live_heap_mb=${r.liveHeapMb}%.1f " +
      f"native_mb=${Main.nativePeakMb}%.1f")
    val m = Seq(("setup_s", setupS, "s"),
      ("cpu_us_per_change", cpuPerChange(r, log), "us"),
      ("mem_mb", r.liveHeapMb + Main.nativePeakMb, "MB"))
    spark.stop()
    RunResult(out, m)
  }
}
