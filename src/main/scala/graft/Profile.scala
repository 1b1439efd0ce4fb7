package graft

import java.nio.file.{Files, Paths}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

/** Profiling main for declared queries, on a [[Tuning.localSession]]
  * of 32 cores:
  * `runMain graft.Profile <time|plan|exec-plan|scale> <sfDir> <q1,q2,…|all> [n|outDir|N]`
  * (`all` names every declared query).
  *
  *  - `time`: per query, one warm run on [[QueryMetrics.warmDir]] of
  *    sfDir (when there is one), then `n` (default 2) timed runs, each
  *    of a fresh build (so each materializes its own [[Shared]]
  *    tables). Each run prints one line, the query, the run and its
  *    [[RunMetrics]] JSON, so structural claims are measured, not
  *    inferred.
  *  - `plan`: the formatted physical plan as built.
  *  - `exec-plan`: the AQE-final `executedPlan` after a collect. AQE
  *    settles (and reuses exchanges) only at execution, so the built
  *    plan can show exchanges the run does not have.
  *  - `scale`: writes an `N`-times (default 10) copy of sfDir's tables
  *    to a temp dir (see [[replicateTables]]) and runs a fresh build of
  *    each query at 1× and N×. Prints one JSON object
  *    of both runs' [[RunMetrics]] per query, and flags a query whose
  *    shuffle bytes outgrow its rows (see [[flagged]]). The point is the
  *    ratio of structural figures, which do not move with the host's
  *    load: near-linear growth means the plan survives scale-up.
  *
  * Plans print to stdout, or go one file per query to
  * `outDir/<query>.txt`.
  */
object Profile {
  private val usage = "usage: graft.Profile <time|plan|exec-plan|scale> " +
    "<sfDir> <q1,q2,...|all> [n|outDir|N]"

  /** How much faster than its rows a query's shuffle bytes may grow
    * before `scale` flags it. */
  val Slack = 1.5

  def main(args: Array[String]): Unit = {
    if (args.length < 3) { System.err.println(usage); sys.exit(2) }
    val names =
      if (args(2) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(",").map(_.trim).toSeq
    val spark = Tuning.localSession(32)
    try run(spark, args(0), args(1), names, args.lift(3))
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
    case "scale" => scale(spark, sfDir, names, arg.fold(10)(_.toInt))
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
      n: Int): Unit =
    QueryMetrics.listening(spark) { metrics =>
      names.foreach { q =>
        val fn = SparkEntry.queries(q)
        QueryMetrics.warmDir(sfDir).foreach(w => metrics.measure(fn(spark, w)))
        (1 to n).foreach { r =>
          println(f"$q%-24s r$r  ${metrics.measure(fn(spark, sfDir)).json}")
        }
      }
    }

  /** True when the shuffle bytes grew from `base` to `scaled` by more
    * than [[Slack]] times the larger of the largest scan's row growth and
    * the output-rows growth: an all-pairs step, a skewed key or a plan
    * that changed with size. The largest scan stands for the corpus; a
    * sum over all scans would count fixed-size ones too, such as a probe
    * scan that row-group statistics prune to the first copy. Pair growth
    * that is reduced before any exchange (a pair sample folded into a
    * fixed histogram) does not show in shuffle bytes. */
  def flagged(base: RunMetrics, scaled: RunMetrics): Boolean = {
    def ratio(a: Long, b: Long): Double =
      if (a == 0) { if (b == 0) 1.0 else Double.PositiveInfinity }
      else b.toDouble / a
    ratio(base.shuffleWriteBytes, scaled.shuffleWriteBytes) > Slack *
      math.max(ratio(base.largestScanRows, scaled.largestScanRows),
        ratio(base.outputRows, scaled.outputRows))
  }

  private def scale(spark: SparkSession, sfDir: String, names: Seq[String],
      n: Int): Unit = {
    val tmp = Files.createTempDirectory("graft-scale").toString
    try {
      replicateTables(spark, sfDir, tmp, n)
      val runs = QueryMetrics.listening(spark) { metrics =>
        names.map { q =>
          def at(d: String): RunMetrics =
            metrics.measure(SparkEntry.queries(q)(spark, d))
          val (base, scaled) = (at(sfDir), at(tmp))
          System.err.println(f"[scale] $q: ${base.wallS}%.2f s -> " +
            f"${scaled.wallS}%.2f s")
          (q, base, scaled)
        }
      }
      val flags = runs.collect { case (q, b, s) if flagged(b, s) => s""""$q"""" }
      val queries = runs.map { case (q, b, s) =>
        s""""$q":{"base":${b.json},"scaled":${s.json},""" +
          s""""flagged":${flagged(b, s)}}"""
      }
      println(s"""{"scale":$n,"slack":$Slack,"flagged":""" +
        flags.mkString("[", ",", "]") + ""","queries":{""" + "\n" +
        queries.mkString(",\n") + "\n}}")
    } finally FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  /** Writes an `n`-times copy of every table in `d` to `out`, FK
    * consistent: every key column of copy i shifts by the same
    * `i * offset`, so copy i's lineitem joins copy i's orders, customer,
    * part and supplier and never copy j's. That gives an n-times corpus
    * with the same join selectivities. nation and region are fixed-size
    * dimensions and are copied once. */
  private[graft] def replicateTables(spark: SparkSession, d: String, out: String,
      n: Int): Unit = {
    def write(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
    write("documents", replicate(Tables.documents(spark, d), Seq("doc_id"), n,
      perturb = Some("text")))
    // copy i negates a seeded per-copy set of dimensions. Negation is
    // exact in float, so dots and norms within a copy stay exact, while a
    // vector and its copy-i twin become near orthogonal. Without it every
    // vector has n-1 exact clones, and the similarity queries' ratios
    // measure clone-pair blow-up, not scaling.
    val signFlip: (DataFrame, Int) => DataFrame = (df, i) =>
      df.withColumn("embedding", transform(col("embedding"), (x, j) =>
        when(pmod(xxhash64(lit(i), j), lit(2)) === 0, -x).otherwise(x)))
    write("embeddings", replicate(Tables.embeddings(spark, d), Seq("vec_id"), n,
      perturbRow = Some(signFlip)))
    write("lineitem", replicate(Tables.lineitem(spark, d),
      Seq("l_orderkey", "l_partkey", "l_suppkey"), n))
    write("orders", replicate(Tables.orders(spark, d),
      Seq("o_orderkey", "o_custkey"), n))
    write("customer", replicate(Tables.customer(spark, d), Seq("c_custkey"), n))
    write("part", replicate(Tables.part(spark, d), Seq("p_partkey"), n))
    write("supplier", replicate(Tables.supplier(spark, d), Seq("s_suppkey"), n))
    // copy i drops a week-and-copy-dependent hash slice of events (drop
    // rate ((wk * (1 + i%5) + i) % 7)/12, 0-50% by week), so each copy's
    // users carry different weekly-shape profiles. Without it the copies
    // are exact time-series clones of copy 0, and q_ts_similarity's
    // ratio would measure clone-pair output blowup, not scaling. pmod on
    // both sides: abs(Long.MinValue) % 12 is negative, and a pre-epoch
    // week would make a signed % 7 threshold negative (a vacuously true
    // filter that keeps clone rows).
    val weekShapeDrop: (DataFrame, Int) => DataFrame = (df, i) =>
      df.filter(expr("pmod(xxhash64(event_id), 12) >= " +
        "pmod(cast(datediff(cast(ts as date), date '1970-01-01') as bigint)" +
        s" div 7 * ${1 + i % 5} + $i, 7)"))
    write("events", replicate(Tables.events(spark, d),
      Seq("event_id", "user_id"), n, perturbRow = Some(weekShapeDrop)))
    write("nation", Tables.nation(spark, d))
    write("region", Tables.region(spark, d))
  }

  /** Per-copy key offset, shared by all tables so FK consistency holds. */
  private[graft] val offset = 10000000L

  /** `copies` copies of `df` with `idCols` shifted by `i * offset` in
    * copy i. Copies after the first rewrite the `perturb` text column
    * with a seeded per-copy permutation of the lowercase alphabet, or
    * pass through `perturbRow`. */
  private def replicate(df: DataFrame, idCols: Seq[String], copies: Int,
      perturb: Option[String] = None,
      perturbRow: Option[(DataFrame, Int) => DataFrame] = None): DataFrame = {
    // a key at or above the offset would make copies collide and corrupt
    // every ratio built on them; greatest() needs two or more arguments
    val maxes = df.agg(idCols.map(c => max(col(c).cast("long")))
      .reduce((a, b) => greatest(a, b))).head()
    require(maxes.isNullAt(0) || maxes.getLong(0) < offset,
      s"replicate: max(${idCols.mkString(",")}) = ${maxes.get(0)} >= " +
        s"$offset — copies would collide; raise the shared offset")
    (0 until copies).map { i =>
      val shifted = idCols.foldLeft(df) { (acc, c) =>
        acc.withColumn(c, col(c) + lit(i.toLong * offset))
      }
      perturb match {
        // A bijective character map keeps each copy's internal near-dup
        // structure exactly while making cross-copy shingle overlap
        // about zero; a suffix tag is not enough (cross-copy jaccard
        // stays about 0.94 and manufactures cliques). A seeded
        // permutation per copy index, unlike a cyclic rotation, does not
        // repeat beyond 25 copies; two distinct permutations agree on
        // about 1 of 26 characters, so overlap stays low at 50× and up.
        case Some(c) if i > 0 =>
          val src = "etaoinshrdlucmfwypvbgkqjxz"
          val perm = new scala.util.Random(0x5eed0000L + i)
            .shuffle(src.toList).mkString
          // the identity permutation would make copy i a clone of copy 0
          val dst = if (perm == src) perm.drop(1) + perm.take(1) else perm
          shifted.withColumn(c, translate(col(c), src, dst))
        case _ =>
          perturbRow match {
            case Some(f) if i > 0 => f(shifted, i)
            case _ => shifted
          }
      }
    }.reduce(_ unionByName _)
  }
}
