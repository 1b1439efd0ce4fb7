package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Declared queries of the engine, one per operator module, run in the
  * traced sweep with a fixed-work protocol: caches and query memos are
  * cleared before each query, and the timed part is the builder call,
  * planning and full materialization (`collect`, so no column is pruned
  * away). Each result is written out for run.py's oracle check. */
object Queries {
  val Modules: Seq[(String, graft.QueryModule)] = Seq(
    "relational" -> graft.operators.Relational,
    "cdc_queries" -> graft.operators.CdcQueries,
    "dedup" -> graft.operators.Dedup,
    "similarity" -> graft.operators.Similarity,
    "text_analysis" -> graft.operators.TextAnalysis,
    "multimodal" -> graft.operators.Multimodal,
    "pipeline" -> graft.operators.Pipeline,
    "corpus" -> graft.operators.Corpus)

  def moduleOf(q: String): String =
    Modules.find(_._2.queries.contains(q)).map(_._1)
      .getOrElse(throw new IllegalArgumentException(s"unknown query $q"))

  final case class Timing(name: String, module: String, buildS: Double,
      planS: Double, execS: Double, cached: Int)

  def resetState(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    graft.operators.Pipeline.resetMemo()
    graft.functions.TimeSeries.resetMemo()
  }

  def runQuery(spark: SparkSession, name: String, dir: String)
      : (Timing, DataFrame, Array[Row]) = {
    resetState(spark)
    val module = moduleOf(name)
    val sc = spark.sparkContext
    sc.setLocalProperty("perfbench.label", module)
    try Trace.span(s"query $name") {
      val (df, b) = Main.time(Trace.span("build")(
        graft.SparkEntry.queries(name)(spark, dir)))
      val (_, p) = Main.time(Trace.span("plan")(df.queryExecution.executedPlan))
      val (rows, e) = Main.time(Trace.span("exec") {
        sc.setLocalProperty("perfbench.span", Trace.current.toString)
        df.collect()
      })
      val cached = sc.getPersistentRDDs.size
      (Timing(name, module, b, p, e, cached), df, rows)
    } finally {
      sc.setLocalProperty("perfbench.label", null)
      sc.setLocalProperty("perfbench.span", null)
    }
  }

  /** One pass in seed-shuffled order; writes each result for the
    * oracle check. */
  def pass(spark: SparkSession, a: Main.Args, qs: Seq[String],
      out: Outcome): Seq[Timing] = {
    val order = new scala.util.Random(a.seed).shuffle(qs)
    order.map { q =>
      try {
        val (t, df, rows) = runQuery(spark, q, a.data)
        spark.createDataFrame(rows.toList.asJava, df.schema)
          .coalesce(1).write.mode("overwrite")
          .parquet(a.work.resolve("results").resolve(q).toString)
        out.check(ok = true, "")
        t
      } catch {
        case e: Exception =>
          out.check(ok = false, s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}")
          Timing(q, moduleOf(q), 0, 0, 0, 0)
      }
    }
  }

  def writeOracleSql(a: Main.Args, qs: Seq[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\t' => "\\t"; case '\r' => "\\r"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }
    Main.writeString(a.work.resolve("oracle_sql.json"), qs.filter(sql.contains)
      .map(q => s""""$q": "${esc(sql(q))}"""").mkString("{\n", ",\n", "\n}\n"))
  }
}
