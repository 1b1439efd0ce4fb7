package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every QueryModule's declared queries and oracle SQL. Each
  * query key is one operator from SURVEY.md §2's inventory (or a
  * BASELINE.json-mandated addition); the driver runs Verify at sf0.01 and
  * hash-compares each result against the DuckDB oracle.
  */
object SparkEntry {
  private val modules: Seq[QueryModule] = Seq(
    operators.Relational,
    operators.CdcQueries,
    operators.Dedup,
    operators.Similarity,
    operators.TextAnalysis,
    operators.Multimodal,
    operators.Pipeline,
    operators.Corpus
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q5_region_revenue")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.flatMap(_.oracles).toMap
}
