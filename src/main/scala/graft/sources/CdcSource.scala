package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Transport selection for the CDC pipeline's raw stream. Both
  * transports expose the identical schema (payload, lsn, data_size,
  * begin_xid) and offset/commit/backpressure contract
  * (CdcSourceContractSpec), so everything downstream is
  * source-agnostic:
  *
  *  - `pg:<connection>` — the walsender-backed [[PgReplicationSource]]
  *    (`<connection>` names a registered [[ReplicationStream]] factory;
  *    the reference's `--pg-*` connection flags collapse into the
  *    factory's construction),
  *  - anything else — a path for the tailed-file source.
  */
object CdcSource {
  /** P3: the xid a test_decoding `BEGIN <xid>` message opens (reference
    * formatter.py:59-60). A malformed xid throws, which fails the
    * query. */
  def beginXid(begin: String): Long = begin.substring(6).trim.toLong

  def rawStream(spark: SparkSession, sourcePath: String,
      maxRecordsPerTrigger: Long = Long.MaxValue,
      peek: Boolean = false): DataFrame = {
    val raw =
      if (sourcePath.startsWith("pg:"))
        spark.readStream
          .format(classOf[PgReplicationSourceProvider].getName)
          .option("connection", sourcePath.stripPrefix("pg:"))
          .option("maxRecordsPerTrigger", maxRecordsPerTrigger.toString)
          .option("peek", peek.toString)
          .load()
      else
        spark.readStream
          .format(classOf[CdcFileSourceProvider].getName)
          .option("path", sourcePath)
          .option("maxRecordsPerTrigger", maxRecordsPerTrigger.toString)
          .option("peek", peek.toString)
          .load()
    // Raw-side counters for the reference's 10 s progress line
    // (__main__.py:88-93: EVERY consumed change ticks count and
    // data_size, before parsing or gating) — consumed by
    // streaming.CdcProgressListener from observedMetrics.
    import org.apache.spark.sql.functions.{count, lit, sum}
    raw.observe("cdc_raw_metrics",
      count(lit(1)).as("msg_count"),
      sum(org.apache.spark.sql.functions.col("data_size")).as("msg_bytes"))
  }
}
