package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Shared
import graft.operators.SaxBlocking

/** Shared kernels for time-series similarity (q_ts_similarity) — the
  * Monitors.scala discipline: the INGEST side maintains the compact
  * per-(user, week) count table (a single streaming-compatible
  * Complete-mode aggregate at 100 TB — the only stage that ever scans
  * raw events), and the blocking + verify kernel runs over that
  * bounded table. Both the batch query and the streaming face
  * (StreamingTsSimilarityParitySpec) call THESE definitions, so a
  * blocking change lands on both faces or neither. */
object TimeSeries {

  /** Ingest-maintained kernel: per-(user_id, absolute-week) event
    * counts. Streaming-compatible: one groupBy aggregate, no joins. */
  def weeklyCounts(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"),
      expr("cast(datediff(cast(ts as date), date '1970-01-01')" +
        " as bigint) div 7").as("wk"))
      .agg(count(lit(1)).as("cnt"))

  /** Per-user feature table: the 6-week shape vector plus its exact
    * integer/decimal sufficient stats (sx, sxx, 6·var), constant users
    * (vx = 0) dropped. This is the ONE table every TS-similarity
    * consumer derives from — [[similarPairs]]' six downstream stages
    * AND [[saxWords]]' symbolization audit — so it is built here once
    * and shared through [[features]]' table. */
  def featureTable(weekly: DataFrame): DataFrame = {
    val minWk = weekly.agg(min(col("wk")).as("w0"))
    weekly.crossJoin(broadcast(minWk))
      .withColumn("i", col("wk") - col("w0"))
      .groupBy(col("user_id"))
      .agg(sum(when(col("i") === 0, col("cnt")).otherwise(0L)).as("w0"),
        (1 until 6).map(i =>
          sum(when(col("i") === i, col("cnt")).otherwise(0L))
            .as(s"w$i")): _*)
      .withColumn("sx", expr("w0+w1+w2+w3+w4+w5"))
      .withColumn("sxx", expr(
        "cast(w0 as decimal(38,0))*w0 + cast(w1 as decimal(38,0))*w1" +
          " + cast(w2 as decimal(38,0))*w2 + cast(w3 as decimal(38,0))*w3" +
          " + cast(w4 as decimal(38,0))*w4 + cast(w5 as decimal(38,0))*w5"))
      .withColumn("vx", expr("6 * sxx - cast(sx as decimal(38,0)) * sx"))
      .filter(col("vx") > 0)
  }

  /** The feature table over the weekly table, both [[graft.Shared]]:
    * the feature table's consumers read one materialization per run.
    * The weekly table is shared too: featureTable needs it twice
    * (global min week + the pivot), so an unshared build scans raw
    * events TWICE — with the |users|x|weeks|-bounded weekly table the
    * corpus is scanned exactly once per run. Shared, not
    * localCheckpoint: lazy (no build-time jobs — PlanAuditSpec's
    * no-eager rule holds) and ~3x faster end-to-end (the checkpoint's
    * materialization job + lost whole-stage fusion cost more than it
    * saved at bench SF). */
  private def features(weekly: DataFrame): DataFrame =
    Shared(featureTable(Shared(weekly)))

  /** Does nothing: builds leave no session state to reset. Kept only
    * because the benchmark harness (`perfbench/Queries.scala`) calls
    * it. */
  def resetMemo(): Unit = ()

  /** Corpus-adaptive SAX blocking + exact-Pearson verify over the
    * maintained weekly-count table. See the q_ts_similarity Scaladoc
    * (Relational.scala) and SaxBlocking for the blocking design; the
    * input here is |users|x|weeks|-bounded, never the raw corpus.
    *
    * @param bOverride pin the word alphabet to a fixed band count
    *                  instead of the corpus ladder (the shape-precision
    *                  knob; see also [[saxWords]] for the per-user
    *                  symbolization audit)
    * @param kOverride pin the volume-bucket count instead of
    *                  clamp(n/64, 1, 1024) */
  def similarPairs(weekly: DataFrame, bOverride: Option[Int] = None,
      kOverride: Option[Long] = None): DataFrame = {
    // The per-user feature table feeds SIX downstream consumers
    // (n-count, max, histogram cells, and the keyed a/b self-join
    // sides) — the shared table in [[features]] makes the raw-event
    // aggregation happen ONCE per run. Without it the executed plan
    // re-derives the whole aggregation per consumer (measured: 27
    // parquet scans of events at sf0.01); with the |users|-bounded
    // table the corpus is scanned once.
    val withStats = features(weekly)
    // ONE corpus-stats row (round 13): n_users and max(sx) used to be
    // two separate 1-row aggregates, each its own job + broadcast
    // build, crossJoined at four sites — at bench SF the serial
    // broadcast-stage latency of those scalars, not data, dominated
    // the query. Same values, one aggregate, one broadcast.
    val stats = withStats.agg(count(lit(1)).as("n_users"),
      max(col("sx")).as("mx"))
    // bounded pre-histogram -> equi-depth volume bucket map
    // (≤ 1024 rows end to end; the cumulative window is tiny)
    val cells = withStats.crossJoin(broadcast(stats))
      .select(expr(
        "cast(cast(sx as decimal(38,0)) * 1024 div (mx + 1) as bigint)")
        .as("cell"))
      .groupBy(col("cell")).agg(count(lit(1)).as("cnt"))
    val wCell = Window.orderBy(col("cell"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val kSql = kOverride.map(k => s"${k}L")
      .getOrElse("greatest(1L, least(1024L, n_users div 64))")
    val bSql = bOverride.map(_.toString)
      .getOrElse(SaxBlocking.bLadderSql("n_users"))
    val cellMap = cells.withColumn("cum", sum(col("cnt")).over(wCell))
      .crossJoin(broadcast(stats))
      .withColumn("k", expr(kSql))
      .select(col("cell"),
        expr("least(k - 1, (cum - cnt) * k div n_users)")
          .as("vol_bucket"))
    // round 14: the keyed table feeds BOTH self-join legs, and each
    // leg re-evaluates the generated SAX word CASE (the largest
    // expression in the engine) plus the stats/cellMap attach per
    // row. Share the |users|-bounded result so symbolization runs
    // once per run. A/B at sf0.1, 4 vCPU: unshared 40 jobs and 570
    // KiB shuffled, 7.7-8.6 s; shared 26 jobs and 283 KiB, 5.4-6.0 s.
    val keyed = Shared((0 until 6).foldLeft(
      withStats.crossJoin(broadcast(stats))) { (df, i) =>
        df.withColumn(s"d$i", expr(s"6 * w$i - sx"))
          .withColumn(s"q$i",
            expr(s"cast(d$i as decimal(38,0)) * d$i * 1000"))
      }
      .withColumn("b", expr(bSql))
      .withColumn("word", expr(SaxBlocking.wordSqlSpark("b",
        (0 until 6).map(i => s"d$i"), (0 until 6).map(i => s"q$i"),
        "vx")))
      .withColumn("cell", expr(
        "cast(cast(sx as decimal(38,0)) * 1024 div (mx + 1) as bigint)"))
      .join(broadcast(cellMap), Seq("cell")))
    val a = keyed.select(Seq(col("user_id").as("u1"), col("word"),
      col("vol_bucket")) ++
      (0 until 6).map(i => col(s"w$i").as(s"a$i")) ++
      Seq(col("sx").as("sxa"), col("vx").as("vxa")): _*)
    val b = keyed.select(Seq(col("user_id").as("u2"), col("word"),
      col("vol_bucket")) ++
      (0 until 6).map(i => col(s"w$i").as(s"b$i")) ++
      Seq(col("sx").as("sxb"), col("vx").as("vxb")): _*)
    a.join(b, Seq("word", "vol_bucket")).filter(col("u1") < col("u2"))
      .withColumn("sxy", expr(
        (0 until 6).map(i => s"cast(a$i as decimal(38,0)) * b$i")
          .mkString(" + ")))
      .withColumn("cov", expr(
        "6 * sxy - cast(sxa as decimal(38,0)) * sxb"))
      .withColumn("r2_signed_milli", expr(
        "case when cov < 0 then -(cov * cov * 1000 div (vxa * vxb))" +
          " else cov * cov * 1000 div (vxa * vxb) end"))
      .filter(col("r2_signed_milli") >= 950)
      .select(col("u1"), col("u2"), col("word"),
        expr("cast(r2_signed_milli as bigint)").as("r2_milli"))
      .orderBy(col("u1"), col("u2"))
  }

  /** Per-user SAX symbolization audit (q_sax_words): each user's
    * weekly-shape word at FIXED alphabets (the fine b > 1 arms of the
    * generated word SQL the corpus ladder never reaches at test
    * scale), byte-for-byte comparable across engines. The inspection
    * surface behind similarPairs — which symbols a user's weeks
    * quantize to, at each granularity. Pure per-user map over the
    * bounded feature table; never vacuous (one row per active user).
    * The b columns are string literals, so the engine constant-folds
    * each word CASE down to its single live arm. */
  def saxWords(weekly: DataFrame, bs: Seq[Int]): DataFrame = {
    // the same [[features]] tables as similarPairs: the shared weekly
    // table keeps the raw events scan to one
    val withD = (0 until 6).foldLeft(features(weekly)) { (df, i) =>
      df.withColumn(s"d$i", expr(s"6 * w$i - sx"))
        .withColumn(s"q$i",
          expr(s"cast(d$i as decimal(38,0)) * d$i * 1000"))
    }
    bs.foldLeft(withD) { (df, b) =>
      df.withColumn(s"word_b$b", expr(SaxBlocking.wordSqlSpark(
        b.toString, (0 until 6).map(i => s"d$i"),
        (0 until 6).map(i => s"q$i"), "vx")))
    }
      .select(col("user_id") +: col("sx") +:
        bs.map(b => col(s"word_b$b")): _*)
      .orderBy(col("user_id"))
  }
}
