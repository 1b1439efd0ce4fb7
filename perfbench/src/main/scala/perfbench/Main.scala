package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Entry point of one measured run. perfbench/run.py builds the
  * classpath, prepares the query data and calls
  *
  *   perfbench.Main --workload <cdc_drain|cdc_tail>
  *     --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *     [--data <dir> --queries <q,...>]
  *
  * The last stdout line is one JSON object: correct, attempted, failed
  * and the metrics of the run (end-to-end metrics with --trace 0,
  * per-layer metrics with --trace 1).
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, data: String, queries: Seq[String])

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      kv.getOrElse("data", ""),
      kv.getOrElse("queries", "").split(",").toSeq.filter(_.nonEmpty))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val res = a.workload match {
      case "cdc_drain" => CdcBench.drain(a)
      case "cdc_tail" => CdcBench.tail(a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (a.trace) Trace.writeSpans(a.work.resolve(s"spans-${a.workload}.json"))
    res.out.problems.foreach(p => System.err.println(s"perfbench: FAILED $p"))
    println(res.json)
  }

  /** CPU seconds this process has used. The kernel leaves out time a
    * virtual CPU was stolen by its host, so CPU figures move far less
    * than wall times with the load of other guests. */
  def cpuS: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** CPU seconds the JIT compiler threads have used, read from
    * /proc/self/task in clock ticks. run.py keeps their number fixed,
    * so none exits and takes its time with it. */
  def jitCpuS: Double = {
    val ticks = new java.io.File("/proc/self/task").listFiles().toSeq.map { t =>
      // a thread may exit between the listing and the read
      val stat = scala.util.Try(new String(Files.readAllBytes(t.toPath.resolve("stat")),
        StandardCharsets.UTF_8)).getOrElse("(gone) ")
      val comm = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
      if (!comm.matches("C[12] CompilerThre.*")) 0L
      else {
        // fields after the command: state is 3rd, utime 14th, stime 15th
        val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
        f(11).toLong + f(12).toLong
      }
    }
    ticks.sum / 100.0 // USER_HZ
  }

  /** CPU seconds of the calling thread. */
  def threadCpuS: Double =
    ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime / 1e9

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Heap in use right after a full collection, in MB: what the
    * program holds live, without the garbage of the moment. */
  def liveHeapMb: Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident memory outside the heap, in MB: run.py fixes the
    * heap's size and pre-touches it, so the peak resident set is the
    * whole committed heap plus this. */
  def nativePeakMb: Double = peakRssMb -
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1048576.0

  def session(a: Args, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.optimizer.excludedRules", graft.Tuning.excludedRules)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally s.close()
    }

  def writeString(p: Path, s: String): Unit =
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
}

/** Every correctness check of a run counts one attempted operation. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  def check(ok: Boolean, what: => String): Unit = count(1, if (ok) 0 else 1, what)
  def count(n: Long, bad: Long, what: => String): Unit = {
    attempted += n
    failed += bad
    if (bad > 0 && problems.size < 20) problems += what
  }
}

final case class RunResult(out: Outcome,
    metrics: Seq[(String, Double, String)]) {
  def json: String = {
    val ms = metrics.map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$n": {"value": $num, "unit": "$u"}""" }
    s"""{"correct": ${out.failed == 0}, "attempted": ${out.attempted}, """ +
      s""""failed": ${out.failed}, "metrics": {${ms.mkString(", ")}}}"""
  }
}
