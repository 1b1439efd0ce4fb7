package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: times every declared query against
  * SPARK_GRAFT_SF_DIR (default: the sf0.1 test data) on a
  * [[Tuning.localSession]] of SPARK_GRAFT_CPUS cores (default 32), and
  * prints two JSON lines, the full one and then a short summary
  * {"metric":"total","value":N,"unit":"sec",...}. The body is [[run]].
  *
  * Every timed run is one [[QueryMetrics.measure]] of a fresh build, so
  * each attempt pays its own full input scan and materialization (a
  * [[Shared]] table belongs to the plan that built it), computes every
  * output column, and brings its structural figures with it.
  *
  * Wall-clock discipline: the harness runs this under an external
  * timeout, and a bench that never prints is worth less than one that
  * prints slightly noisier numbers. So measurement runs under a budget
  * (SPARK_GRAFT_BENCH_BUDGET_S, default 420 s of measurement wall time)
  * and sheds protocol, never queries, as it fills, by pace:
  *   on pace (spent/budget ≤ queries-done/n) and < 90% spent:
  *     warm on [[QueryMetrics.warmDir]] + min of 2 attempts
  *   over pace: 1 attempt (self-balancing: shed queries pull the run
  *     back on pace, so shedding spreads across the tail)
  *   ≥ 85% spent: the warm run is dropped too
  * Every query runs at least once, and the JSON lines always print. Two
  * protocol steps are exempt from shedding because they are bounded and
  * make contended runs adjudicable: the q1_pricing calibration (stamps
  * the artifact with this box's speed factor against a clean run) and
  * the over-cap recheck (one extra attempt for cap violators only,
  * SPARK_GRAFT_BENCH_QUERY_CAP_S, default 20 s). The artifact also
  * stamps budget_exhausted when any query ran a shed protocol.
  */
object Bench {
  type Query = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark =
      Tuning.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val (full, summary) = run(spark, sfDir, SparkEntry.queries.toSeq.sortBy(_._1),
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "420").toDouble,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_QUERY_CAP_S", "20").toDouble)
    // silence Spark's shutdown logging and stop the session BEFORE
    // printing, so no stray WARN line interleaves with the result lines;
    // a shutdown race inside stop() must not eat them either
    spark.sparkContext.setLogLevel("OFF")
    try spark.stop() catch { case _: Throwable => () }
    println(full)
    println(summary)
  }

  /** q1_pricing's time under the calibration protocol below (session
    * start, after the plateau warm), measured on an idle box. It is not
    * the mid-alphabet bench_last number: a start-of-session JIT never
    * matches a 245-query-warm one. Re-pin when the protocol or the
    * clean-run regime moves. Box factor ≤ ~1.5 ⇒ clean box; ≥ ~2.5 ⇒
    * contended. It was 0.45 while runs were timed as `count()`, which
    * pruned q1_pricing's six exact-decimal sums; the full run takes
    * 7.9× as long under this protocol on one 4-vCPU box (0.61 → 4.83 s,
    * local[32], two runs each), hence 3.6. */
  val CalibCleanS = 3.6

  /** The body of [[main]]: times `queries` on `sfDir`, writes the full
    * result with every attempt and each query's kept-attempt
    * [[RunMetrics]] to `artifact`, and returns the two lines [[main]]
    * prints. Leaves the session running. */
  def run(spark: SparkSession, sfDir: String, queries: Seq[(String, Query)],
      budgetS: Double, capS: Double,
      artifact: Path = Paths.get("bench_last.json")): (String, String) =
    QueryMetrics.listening(spark) { metrics =>
      val warmDir = QueryMetrics.warmDir(sfDir)
      if (warmDir.isEmpty)
        System.err.println(s"bench: no warm dir for $sfDir; cold-start timings")
      val wall0 = System.nanoTime()
      def spent: Double = (System.nanoTime() - wall0) / 1e9
      // One timed attempt on sfDir. A query that throws must not pose as
      // a fast success: the attempt is None, and `onFail` sees why.
      def attempt(fn: Query, onFail: Throwable => Unit = _ => ()): Option[RunMetrics] =
        try Some(metrics.measure(fn(spark, sfDir)))
        catch { case t: Throwable => onFail(t); None }
      // Untimed run on the warm dir right before timing: the generated
      // code is the same at every scale factor, so this compiles and
      // JIT-profiles the query's stages and the timed attempts measure
      // the engine. A throw is left to the timed attempts to report.
      def warm(fn: Query): Unit = warmDir.foreach { w =>
        try metrics.measure(fn(spark, w)) catch { case _: Throwable => () }
      }
      def minOfTwo(fn: Query): Double =
        (1 to 2).flatMap(_ => attempt(fn)).map(_.wallS).minOption
          .getOrElse(Double.NaN)
      // Machine-speed calibration: time one fixed reference query first
      // and stamp the artifact with its ratio to CalibCleanS, so a flag
      // on a contended box reads as "box was Nx slow today", not "query
      // got slow". Full-scale warm runs come first, until the time
      // stops improving by 10% (at most 8 runs): mid-run queries see a
      // warm page cache and a JIT-compiled session, and a first-touch
      // read would bias the ratio toward disk and compile queues.
      val q1 = SparkEntry.queries("q1_pricing")
      try {
        Iterator.continually(metrics.measure(q1(spark, sfDir)).wallS).take(8)
          .sliding(2).takeWhile { case Seq(prev, t) => t < prev * 0.9 }
          .foreach(_ => ())
      } catch { case _: Throwable => () }
      val calibS = minOfTwo(q1)
      val calibRatio = calibS / CalibCleanS
      System.err.println(f"bench: calibration q1_pricing $calibS%.3f s " +
        f"(clean $CalibCleanS%.2f s, box factor $calibRatio%.2f)")
      // The pace baseline excludes calibration wall (the start and each
      // recalibration below): calibration work must not shed anyone's
      // attempt.
      var calibWall = spent
      // Every 50 queries q1_pricing is re-timed (min of 2) and appended
      // to box_factor_curve, so a contention window that opens mid-run
      // shows in the artifact. Mid-run readings on a clean box sit below
      // CalibCleanS (deep-warm JIT): the curve tells contention
      // (factor >> 1) from clean (about 0.5-1.1), not drift under 1.
      val calibCurve = scala.collection.mutable.ArrayBuffer((0, calibS, calibRatio))
      def recalibrate(afterN: Int): Unit = {
        val t0 = spent
        val t = minOfTwo(q1)
        if (!t.isNaN) {
          calibCurve += ((afterN, t, t / CalibCleanS))
          System.err.println(f"bench: recalibration after $afterN queries: " +
            f"q1_pricing $t%.3f s (box factor ${t / CalibCleanS}%.2f)")
        }
        calibWall += spent - t0
      }
      // Any query measured under a shed protocol (one attempt and/or no
      // warm) marks the run budget-degraded.
      var budgetShed = false
      val firstPass = queries.zipWithIndex.map { case ((name, fn), done) =>
        if (done > 0 && done % 50 == 0) recalibrate(done)
        val frac = spent / budgetS
        val onPace = (spent - calibWall) <=
          (budgetS - calibWall) * ((done + 1).toDouble / queries.size)
        val n = if (onPace && frac < 0.9) 2 else 1
        if (n == 1) budgetShed = true
        if (frac < 0.85) warm(fn)
        // min of two cancels one-off JVM pauses, never real engine work:
        // each attempt pays its own scan and materialization
        val runs = (1 to n).map(_ => attempt(fn, t =>
          System.err.println(s"bench: $name FAILED: ${t.getClass.getName}: ${t.getMessage}")))
        // a failed attempt records the query as -1
        val kept = if (runs.contains(None)) None else Some(runs.flatten.minBy(_.wallS))
        System.err.println(f"bench: $name%-26s ${kept.fold(-1.0)(_.wallS)}%9.3f s   " +
          f"[wall ${spent}%7.1f s, $n att]")
        (name, fn, runs, kept)
      }
      // Over-cap recheck: one noisy attempt must not flag a query with no
      // counter-evidence. Any query over the cap gets exactly one more
      // warm + attempt, keeps the faster, and logs both. Structural
      // slowness reproduces; a scheduler or page-cache hiccup clears.
      val results = firstPass.map {
        case (name, fn, runs, Some(k)) if k.wallS > capS =>
          warm(fn)
          val again = attempt(fn)
          val best = (k +: again.toSeq).minBy(_.wallS)
          System.err.println(f"bench: RECHECK $name first=${k.wallS}%.2f s " +
            f"again=${again.fold(Double.NaN)(_.wallS)}%.2f s -> keeping ${best.wallS}%.2f s")
          (name, runs :+ again, Some(best))
        case (name, _, runs, kept) => (name, runs, kept)
      }
      val secs = results.map { case (name, _, kept) => name -> kept.fold(-1.0)(_.wallS) }
      def obj[V](kv: Seq[(String, V)])(v: V => String): String =
        kv.map { case (k, x) => s""""$k":${v(x)}""" }.mkString("{", ",", "}")
      // 10 ms per-query precision keeps the printed line short enough
      // for log capture
      def sec(v: Double): String = f"$v%.2f"
      val failed = secs.collect { case (k, v) if v < 0 => s""""$k"""" }
        .mkString("[", ",", "]")
      // Any query still over the cap is flagged in both lines and on
      // stderr, so it cannot land unnoticed.
      val overCap = secs.filter { case (_, v) => v > capS }
      overCap.foreach { case (k, v) =>
        System.err.println(f"bench: OVER-CAP $k ${v}%.1f s > ${capS}%.0f s — " +
          "probe and fix before snapshot (see ARCHITECTURE.md probe rule)")
      }
      val total = secs.map(_._2).filter(_ >= 0).sum
      // box_factor and budget_exhausted let a reader judge a flag without
      // this box; n_shed counts the queries that ran one attempt, since
      // pace-based shedding sets budget_exhausted on clean runs too.
      val nShed = firstPass.count(_._3.size < 2)
      val curveJson = calibCurve.map { case (n, s, r) =>
        f"""{"after":$n,"sec":$s%.3f,"box_factor":$r%.2f}"""
      }.mkString("[", ",", "]")
      val head = s""""metric":"total","unit":"sec","sf":"$sfDir""""
      val calib =
        f""""calibration":{"query":"q1_pricing","sec":$calibS%.3f,"clean_ref_sec":$CalibCleanS%.2f,"box_factor":$calibRatio%.2f},""" +
          s""""box_factor_curve":$curveJson,"budget_exhausted":$budgetShed,"n_shed":$nShed"""
      val tail = s""""failed":$failed,"over_cap":${obj(overCap)(sec)},"value":$total}"""
      val full = s"""{$head,$calib,"queries":${obj(secs)(sec)},$tail"""
      // The artifact adds every raw attempt (the min alone can hide a
      // query that is slow half the time) and the kept attempt's
      // structural figures; they stay off the printed lines, which must
      // parse within the harness's bounded capture.
      val attempts = obj(results.map(r => r._1 -> r._2))(
        _.map(_.fold("-1")(m => sec(m.wallS))).mkString("[", ",", "]"))
      val figures = obj(results.collect { case (n, _, Some(k)) => n -> k })(_.json)
      try {
        Files.write(artifact, (s"""{$head,$calib,"queries":${obj(secs)(sec)},""" +
          s""""attempts":$attempts,"metrics":$figures,$tail""" + "\n").getBytes("UTF-8"))
      } catch { case t: Throwable =>
        System.err.println(s"bench: could not write $artifact: ${t.getMessage}")
      }
      // The harness keeps only the LAST 2000 chars of output, and the
      // per-query map alone is longer: the last line is a summary that
      // always fits (total, failures, 5 slowest).
      val slowest = obj(secs.filter(_._2 >= 0).sortBy(-_._2).take(5))(sec)
      (full, s"""{$head,"n_queries":${secs.size},$calib,"slowest":$slowest,""" +
        s""""queries_file":"$artifact",$tail""")
    }
}
