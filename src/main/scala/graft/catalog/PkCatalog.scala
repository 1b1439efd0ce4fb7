package graft.catalog

import graft.core.PrimaryKeyMapItem
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Primary-key catalog (operator S2, reference slot.py:18-33, 79-94).
  *
  * The reference pushes a 3-way information_schema join down to
  * Postgres and materializes a dict keyed by "schema.table". Here the
  * same query rides `spark.read.jdbc` (predicate + join execute inside
  * Postgres, identical pushdown), and the result is a small DataFrame,
  * one row per table. Parse stages do not join against it: they carry
  * a [[graft.expressions.PkLookup]], which reads a driver-side
  * [[snapshot]] of it once per optimized plan — the reference's
  * per-record dict lookup, at the cost of one hash probe per change
  * and no Spark job per micro-batch.
  */
object PkCatalog {

  /** The reference's catalog SQL (slot.py:18-33), usable unchanged as a
    * JDBC `query` option so Postgres executes the joins server-side. */
  val PkSql: String =
    """SELECT concat_ws('.', tc.table_schema, tc.table_name) AS table_name,
      |       kcu.column_name AS col_name,
      |       c.data_type     AS col_type,
      |       kcu.ordinal_position AS col_ord_pos
      |FROM information_schema.table_constraints tc
      |JOIN information_schema.key_column_usage kcu
      |  USING (constraint_schema, constraint_name, table_schema, table_name)
      |JOIN information_schema.columns c
      |  ON c.table_schema = tc.table_schema
      | AND c.table_name = tc.table_name
      | AND c.column_name = kcu.column_name
      |WHERE tc.constraint_type = 'PRIMARY KEY'""".stripMargin

  /** Live JDBC path: catalog snapshot at stream start. */
  def fromJdbc(spark: SparkSession, url: String,
      props: java.util.Properties): DataFrame =
    collapse(spark.read.jdbc(url, s"($PkSql) pk", props))

  /** Static path for tests / local replay. */
  def fromItems(spark: SparkSession,
      items: Seq[PrimaryKeyMapItem]): DataFrame = {
    import spark.implicits._
    collapse(items.toDF())
  }

  /** File path for the CLI's local-replay mode: a parquet or JSON-lines
    * dump of [[PrimaryKeyMapItem]] rows (table_name, col_name,
    * col_type, col_ord_pos) — the catalog snapshot exported once from a
    * live database, replayed without a connection. */
  def fromFile(spark: SparkSession, path: String): DataFrame = {
    val schema = org.apache.spark.sql.Encoders.product[PrimaryKeyMapItem]
      .schema
    val raw =
      if (path.endsWith(".json") || path.endsWith(".jsonl"))
        spark.read.schema(schema).json(path)
      else spark.read.schema(schema).parquet(path)
    collapse(raw)
  }

  /** Composite-PK collapse: the reference's dict build keeps only the
    * LAST PK column by ordinal position (slot.py:88-94 — ORDER BY
    * ordinal_position feeding dict insertion; SURVEY.md §3.3 quirk).
    * Reproduced here as a max-ordinal row_number per table.
    */
  private def collapse(raw: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("table_name"))
      .orderBy(col("col_ord_pos").desc)
    raw.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("table_name"), col("col_name").as("pk_name"),
        col("col_type").as("pk_type"))
  }

  /** Wire a refresh trigger to SIGHUP where the JVM supports signal
    * handling (jdk.unsupported's sun.misc.Signal — present on the
    * JDKs Spark supports). Returns false when unavailable OR when HUP
    * can never be DELIVERED in this JVM; the trigger can still be
    * invoked programmatically. Reflection keeps the compile-time
    * surface free of the unsupported API.
    *
    * Registration succeeding is NOT deliverability: a JVM started
    * with SIGHUP=SIG_IGN (nohup, some supervisors) keeps the ignored
    * disposition — HotSpot never overrides SIG_IGN for HUP/INT/TERM
    * (CPython's `signal.signal`, which the reference would have used,
    * does override it) — so `Signal.handle` returns normally while
    * the handler can never fire. Returning true there is a lie the
    * operator acts on (believing the roadmap feature works). So after
    * registering, this self-tests end-to-end: raise HUP in-process
    * (through the OS, same path as an external `kill -HUP`) and wait
    * for the handler. Not fired ⇒ restore the previous handler, log
    * the fallback, return false. The self-test fires `trigger` once
    * at wiring time — the production trigger only marks the catalog
    * stale, and the catalog was not read yet or moments before. */
  def onSigHup(trigger: () => Unit): Boolean =
    try {
      val sigCls = Class.forName("sun.misc.Signal")
      val handlerCls = Class.forName("sun.misc.SignalHandler")
      val fired = new java.util.concurrent.atomic.AtomicInteger(0)
      val handler = java.lang.reflect.Proxy.newProxyInstance(
        handlerCls.getClassLoader, Array(handlerCls),
        (_, method, _) => {
          if (method.getName == "handle") {
            // trigger BEFORE signaling: the self-test below returns as
            // soon as `fired` ticks, and the caller may immediately
            // act on the trigger's effect (e.g. read the refreshed
            // catalog) — incrementing first would let wiring
            // return while the trigger is still mid-flight on this
            // handler thread
            trigger()
            fired.incrementAndGet()
          }
          null
        })
      val sig = sigCls.getConstructor(classOf[String])
        .newInstance("HUP").asInstanceOf[Object]
      val prev = sigCls.getMethod("handle", sigCls, handlerCls)
        .invoke(null, sig, handler)
      sigCls.getMethod("raise", sigCls).invoke(null, sig)
      val deadline = System.currentTimeMillis() + 3000
      while (fired.get() == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      if (fired.get() > 0) true
      else {
        // dead disposition: un-register (best effort) and say so
        try sigCls.getMethod("handle", sigCls, handlerCls)
          .invoke(null, sig, prev)
        catch { case _: Throwable => () }
        System.err.println("graft: SIGHUP ignored at JVM start (nohup?)" +
          " — HUP-triggered catalog refresh cannot fire; restart the job" +
          " to re-read the catalog")
        false
      }
    } catch { case _: Throwable => false }

  /** Production HUP wiring for a RUNNING streaming job: marks the
    * catalog's snapshot stale on SIGHUP (via [[onSigHup]], where the JVM
    * supports it). Plans carry the catalog as a
    * [[graft.expressions.PkLookup]], which each micro-batch's plan reads
    * [[snapshot]] through once, so the next batch re-reads the catalog
    * (the PK_SQL JDBC query, the catalog file) and the running one
    * keeps the snapshot it read.
    *
    * Returns the trigger so callers and specs can fire it directly.
    */
  def hupRefreshable(cat: DataFrame): () => Unit = {
    val trigger: () => Unit = () => snapshots(cat).generation.incrementAndGet()
    onSigHup(trigger)
    trigger
  }

  /** The snapshot state of one catalog DataFrame: its current table
    * and the refresh generation it was read at. It holds no reference
    * to the DataFrame, so the weak map below can drop the entry. */
  private final class Snapshots {
    val generation = new java.util.concurrent.atomic.AtomicLong
    var read: (Long, java.util.HashMap[UTF8String, InternalRow]) = (-1L, null)
  }

  private val byCatalog = new java.util.WeakHashMap[DataFrame, Snapshots]

  private def snapshots(cat: DataFrame): Snapshots = byCatalog.synchronized(
    byCatalog.computeIfAbsent(cat, _ => new Snapshots))

  /** The catalog's current snapshot, `(pk_name, pk_type)` rows by
    * table name: collected on the driver on first use and again after
    * each [[hupRefreshable]] trigger, else the map read before (never
    * mutated). A trigger that fires during a read leaves the next call
    * to read again. */
  def snapshot(cat: DataFrame): java.util.HashMap[UTF8String, InternalRow] = {
    val s = snapshots(cat)
    s.synchronized {
      val gen = s.generation.get()
      if (s.read._1 != gen) {
        val byName = new java.util.HashMap[UTF8String, InternalRow]()
        cat.select("table_name", "pk_name", "pk_type").collect().foreach { r =>
          byName.put(UTF8String.fromString(r.getString(0)),
            InternalRow(UTF8String.fromString(r.getString(1)),
              UTF8String.fromString(r.getString(2))))
        }
        s.read = (gen, byName)
      }
      s.read._2
    }
  }
}
