package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared bounded-sketch kernels with BOTH a batch and a streaming
  * face — the same lineage is used by the oracle-checked declared
  * queries (q_hll_distinct, q_cms_users) and by their streaming
  * parity spec, so stream == batch == DuckDB closes by construction.
  *
  * Both kernels are plain groupBy aggregates over hash-derived
  * columns, which is exactly what makes them streamable: in complete
  * output mode Spark maintains the aggregate incrementally with state
  * bounded by the sketch dimensions (≤ m registers per key / d·w
  * counters), never by stream cardinality — the property that lets a
  * distinct-count or frequency summary survive an unbounded stream at
  * 100 TB where a groupBy(id) would grow state forever.
  */
object Sketches {

  /** HyperLogLog register table (Flajolet et al. 2007), relationalized:
    * one row per (key, bucket) with v = max over ids of the
    * lowest-set-bit VALUE of the hash remainder (2^tz — monotone in
    * the trailing-zero count tz, so max(2^tz) IS the classic max-rho
    * register with rho = tz+1, and stays integer-exact cross-engine).
    * m = 1024 buckets from the low 10 bits of a 60-bit md5 hash; the
    * all-zeros remainder maps to the 2^50 cap. Output is ≤ m rows per
    * key regardless of cardinality. */
  def hllRegisters(df: DataFrame, keyCol: String, idCol: String)
      : DataFrame =
    df.withColumn("w", expr(
        s"cast(conv(substring(md5(concat('hll'," +
          s" cast($idCol as string))), 1, 15), 16, 10) as bigint)"))
      .withColumn("bucket", col("w") % 1024)
      .withColumn("rest", expr("w div 1024"))
      .withColumn("lowbit", expr("CASE WHEN rest = 0" +
        " THEN 1125899906842624L ELSE rest & (0 - rest) END"))
      .groupBy(col(keyCol), col("bucket"))
      .agg(max(col("lowbit")).as("v"))

  /** The d = 4 (j, bucket) probe coordinates of one id under the
    * Count-Min hash family — shared between counter building and
    * estimate probing so the two can never drift. */
  val cmsProbesExpr: String =
    "transform(sequence(0, 3), j -> struct(j as j," +
      " cast(conv(substring(md5(concat('cms', cast(j as string)," +
      " cast(user_id as string))), 1, 8), 16, 10) as bigint) % 1024" +
      " as bucket))"

  /** Count-Min counter table (Cormode & Muthukrishnan 2005): the
    * bounded d×w = 4×1024 frequency summary — one count per (row j,
    * bucket) over the id stream. */
  def cmsCounters(df: DataFrame): DataFrame =
    df.select(explode(expr(cmsProbesExpr)).as("e"))
      .select(col("e.j").as("j"), col("e.bucket").as("bucket"))
      .groupBy(col("j"), col("bucket"))
      .agg(count(lit(1)).as("c"))
}
