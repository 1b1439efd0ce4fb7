package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare (tools/check.py).
  * A query that throws is recorded in failures.json, and the run exits
  * non-zero. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional dev filter: comma-separated query names (driver passes 2 args).
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // static conf: keep every generated class cached across the
      // whole declared-query surface (default 100 entries evicts mid-run)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.optimizer.excludedRules", Tuning.excludedRules)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Bounded query-level parallelism: most declared queries are small
    // sequential jobs whose wall cost is scheduling, not CPU, so
    // running a few concurrently nearly divides the wall time (the
    // Spark scheduler interleaves their stages). Queries are
    // independent; the one shared mutable (the CC cluster memo) is a
    // computeIfAbsent. Keep the pool small so heavyweight queries
    // can't starve each other's executors. SPARK_GRAFT_VERIFY_PAR=1
    // restores strictly sequential behavior.
    val par = sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "3").toInt
    val queries = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val status = dump(spark, queries, SparkEntry.oracleSql, sfDir, outDir, par)
    spark.stop()
    if (status != 0) sys.exit(status)
  }

  /** Write each query's result to `outDir/<name>` as parquet (`par`
    * queries at a time), then `oracle_sql.json`, then `failures.json`:
    * each failed query's exception by name. Returns the exit status,
    * non-zero iff a query failed. */
  def dump(spark: SparkSession,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      oracleSql: Map[String, String], sfDir: String, outDir: String,
      par: Int): Int = {
    new java.io.File(outDir).mkdirs()
    val failures = new java.util.concurrent.ConcurrentSkipListMap[String, String]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    val tasks = queries.map { case (name, fn) =>
      pool.submit(new Runnable {
        override def run(): Unit =
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            failures.put(name, e.toString)
          }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def obj(kv: Iterable[(String, String)]): String =
      kv.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), obj(oracleSql))
    import scala.jdk.CollectionConverters._
    Files.writeString(Paths.get(s"$outDir/failures.json"),
      obj(failures.asScala))
    if (failures.isEmpty) 0 else 1
  }
}
