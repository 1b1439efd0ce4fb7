package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Profiling main for declared queries, on a [[Tuning.localSession]]
  * of 32 cores:
  * `runMain graft.Profile <time|plan|exec-plan> <sfDir> <q1,q2,…> [n|outDir]`
  *
  *  - `time`: per query, one warm run on the `sf0.001` sibling of
  *    sfDir (when it exists), then `n` (default 2) timed runs, each
  *    after [[QueryCache.release]]. Each run prints its wall time, rows,
  *    and the jobs, stages and shuffle write/read bytes a listener
  *    counted, so structural claims are measured, not inferred.
  *  - `plan`: the formatted physical plan as built.
  *  - `exec-plan`: the AQE-final `executedPlan` after a collect. AQE
  *    settles (and reuses exchanges) only at execution, so the built
  *    plan can show exchanges the run does not have.
  *
  * Plans print to stdout, or go one file per query to
  * `outDir/<query>.txt`.
  */
object Profile {
  private val usage =
    "usage: graft.Profile <time|plan|exec-plan> <sfDir> <q1,q2,...> [n|outDir]"

  def main(args: Array[String]): Unit = {
    if (args.length < 3) { System.err.println(usage); sys.exit(2) }
    val spark = Tuning.localSession(32)
    try run(spark, args(0), args(1), args(2).split(",").map(_.trim).toSeq,
      args.lift(3))
    finally spark.stop()
  }

  /** The body of [[main]]; leaves the session running. */
  def run(spark: SparkSession, mode: String, sfDir: String,
      names: Seq[String], arg: Option[String]): Unit = mode match {
    case "time" => time(spark, sfDir, names, arg.fold(2)(_.toInt))
    case "plan" => plans(names, arg) { name =>
      SparkEntry.queries(name)(spark, sfDir).queryExecution
        .explainString(FormattedMode)
    }
    case "exec-plan" => plans(names, arg) { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    case other =>
      throw new IllegalArgumentException(s"unknown mode '$other'; $usage")
  }

  private def plans(names: Seq[String], outDir: Option[String])(
      plan: String => String): Unit = {
    outDir.foreach(d => Files.createDirectories(Paths.get(d)))
    names.foreach { name =>
      val txt = plan(name)
      outDir match {
        case Some(d) =>
          Files.write(Paths.get(d, s"$name.txt"), txt.getBytes("UTF-8"))
        case None => println(s"== $name ==\n$txt")
      }
    }
  }

  private def time(spark: SparkSession, sfDir: String, names: Seq[String],
      n: Int): Unit = {
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val shufWrite = new AtomicLong(0L)
    val shufRead = new AtomicLong(0L)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        val m = sc.stageInfo.taskMetrics
        if (m != null) {
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shufRead.addAndGet(m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead)
        }
      }
    }
    val warm = Paths.get(sfDir).resolveSibling("sf0.001")
    spark.sparkContext.addSparkListener(listener)
    try names.foreach { q =>
      val fn = SparkEntry.queries(q)
      if (Files.isDirectory(warm)) {
        QueryCache.release(spark)
        fn(spark, warm.toString).count()
      }
      (1 to n).foreach { r =>
        QueryCache.release(spark)
        Thread.sleep(500) // let listener events drain before zeroing
        jobs.set(0); stages.set(0); shufWrite.set(0); shufRead.set(0)
        val t0 = System.nanoTime()
        val rows = fn(spark, sfDir).count()
        val t = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500)
        println(f"$q%-24s r$r  $t%7.3f s  rows=$rows%8d  jobs=${jobs.get}%4d " +
          f"stages=${stages.get}%4d shufW=${shufWrite.get / 1024}%8d KiB " +
          f"shufR=${shufRead.get / 1024}%8d KiB")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
