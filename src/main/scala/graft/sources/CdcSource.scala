package graft.sources

import java.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Transport selection for the CDC pipeline's raw stream. Both
  * transports expose the identical schema (payload, lsn, data_size,
  * begin_xid) and offset/commit/backpressure contract
  * (CdcSourceContractSpec), so everything downstream is
  * source-agnostic:
  *
  *  - `pg:<connection>` — the walsender transport
  *    ([[PgReplicationSource]]; `<connection>` names a registered
  *    [[ReplicationStream]] factory; the reference's `--pg-*`
  *    connection flags collapse into the factory's construction),
  *  - anything else — a path for the tailed-file transport
  *    ([[CdcFileSource]]).
  */
object CdcSource {
  /** P3: the xid a test_decoding `BEGIN <xid>` message opens (reference
    * formatter.py:59-60). A malformed xid throws, which fails the
    * query. */
  def beginXid(begin: String): Long = begin.substring(6).trim.toLong

  /** The reference's per-ack log line (__main__.py:103-104:
    * `logger.info('Flushed LSN: {}')`) — injectable so specs can
    * capture it; default goes to stderr like graft.Main's progress
    * lines. Volatile: the driver's commit thread and a spec's
    * assertion thread may race on the swap. */
  @volatile var logFlushed: Long => Unit =
    lsn => System.err.println(s"Flushed LSN: $lsn")

  /** Peek-mode counterpart: the LSN was consumed but deliberately NOT
    * acked (pg_logical_slot_peek_changes parity — the slot keeps its
    * restart pointer). Injectable like logFlushed. */
  @volatile var logPeeked: Long => Unit =
    lsn => System.err.println(s"Peeked LSN (not flushed): $lsn")

  /** Fail-fast on WAL regression (slot recreated / WAL file replaced
    * under a live checkpoint). Without this the source would sit on
    * empty batches until the NEW WAL grows past the old offset and
    * then silently skip its first `floor` records — data loss wearing
    * a clean progress log. The reference has the same failure mode
    * (a recreated slot restarts at a fresh restart_lsn and its
    * checkpointless client just follows); with a durable checkpoint
    * the only safe move is to halt and make the operator choose:
    * fresh checkpoint, or stop recreating slots under running jobs. */
  def regressed(detail: String): Nothing =
    throw new IllegalStateException(s"WAL position regressed: $detail — " +
      "the slot/WAL was dropped or recreated while this checkpoint " +
      "exists. Restart with a FRESH checkpoint to consume the recreated " +
      "slot from its new origin.")

  def rawStream(spark: SparkSession, sourcePath: String,
      maxRecordsPerTrigger: Long = Long.MaxValue,
      peek: Boolean = false): DataFrame = {
    val (key, value) =
      if (sourcePath.startsWith("pg:"))
        ("connection", sourcePath.stripPrefix("pg:"))
      else ("path", sourcePath)
    val raw = spark.readStream
      .format(classOf[CdcSourceProvider].getName)
      .option(key, value)
      .option("maxRecordsPerTrigger", maxRecordsPerTrigger.toString)
      .option("peek", peek.toString)
      .load()
    // Raw-side counters for the reference's 10 s progress line
    // (__main__.py:88-93: EVERY consumed change ticks count and
    // data_size, before parsing or gating) — consumed by
    // streaming.CdcProgressListener from observedMetrics.
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    raw.observe("cdc_raw_metrics",
      count(lit(1)).as("msg_count"), sum(col("data_size")).as("msg_bytes"))
  }
}

/** A WAL position and the test_decoding xid in effect there (-1 before
  * any BEGIN). */
case class LsnOffset(lsn: Long, xid: Long = -1L) extends Offset {
  override def json(): String = s"""{"lsn":$lsn,"xid":$xid}"""
}

object LsnOffset {
  private val Json = """\{"lsn":(\d+)(?:,"xid":(-?\d+))?\}""".r

  /** Parse [[LsnOffset.json]]; the xid is None in offsets written as
    * `{"lsn":N}`. */
  def parse(json: String): (Long, Option[Long]) = json.trim match {
    case Json(lsn, xid) => (lsn.toLong, Option(xid).map(_.toLong))
    case other => throw new IllegalArgumentException(s"not an LSN offset: $other")
  }
}

/** What the CDC stream needs of one ordered WAL transport: the file
  * tail ([[FileTransport]]) or a replication connection
  * ([[ReplicationTransport]]). Driver-side; the partitions it plans
  * carry what their readers need. */
trait CdcTransport {
  /** Names the WAL in the table name and in errors. */
  def name: String

  /** The WAL head: one past its last complete record. Every record
    * below `floor` was planned or checkpointed; a transport that
    * receives the WAL asynchronously waits for the resend of those at
    * or past `keepFrom`. No batch starts below `keepFrom` again. */
  def head(keepFrom: Long, floor: Long): Long

  /** The end of a batch from `start`: one past the last of at most
    * `cap` records, at most `head`. */
  def end(start: Long, cap: Long, head: Long): Long

  /** The xid in effect at `lsn`, given `known`, an offset at or below
    * it whose xid is right. */
  def xidAt(lsn: Long, known: LsnOffset): Long

  /** The records [start, end), start < end, as one input partition. */
  def partition(start: LsnOffset, end: Long): InputPartition

  def readerFactory: PartitionReaderFactory

  /** The flush ack: the slot may discard WAL below `lsn`. */
  def ack(lsn: Long): Unit

  /** Drop what the transport holds for positions below `lsn`; runs
    * under peek too, where nothing is acked. */
  def release(lsn: Long): Unit = ()

  def close(): Unit = ()
}

/** The one CDC DataSourceV2 provider. The option `path` picks the
  * tailed-file transport, `connection` the walsender transport; a load
  * must name exactly one. `maxRecordsPerTrigger` caps each micro-batch,
  * `peek` consumes without acking. */
class CdcSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CdcFileSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val cap = Option(properties.get("maxRecordsPerTrigger")).map(_.toLong)
      .getOrElse(Long.MaxValue)
    val transport: () => CdcTransport =
      (Option(properties.get("path")), Option(properties.get("connection"))) match {
        case (Some(path), None) => () => new FileTransport(path)
        case (None, Some(conn)) => () => new ReplicationTransport(conn, cap)
        case _ => throw new IllegalArgumentException(
          "the CDC source needs exactly one of the options path and connection")
      }
    new CdcTable(transport, cap,
      Option(properties.get("peek")).exists(_.toBoolean))
  }
  override def supportsExternalMetadata(): Boolean = true
}

/** Each stream gets its own transport: a stream's index or control
  * connection is never shared with another query. A transport opens
  * nothing until it is used. */
class CdcTable(transport: () => CdcTransport, maxPerTrigger: Long,
    peek: Boolean) extends Table with SupportsRead {
  override def name(): String = transport().name
  override def schema(): StructType = CdcFileSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = CdcFileSource.Schema
      override def toMicroBatchStream(checkpointLocation: String)
          : MicroBatchStream =
        new CdcMicroBatchStream(transport(), maxPerTrigger, peek)
    }
}

/** The CDC micro-batch stream, with the exact contract of the
  * reference's replication-slot source (S1/K2/K3, SURVEY.md §2.1) over
  * either transport:
  *
  *  - offsets are LSN ranges, `{"lsn":N,"xid":X}`: N is a position in
  *    one totally ordered, ever-growing WAL (a line number of the file,
  *    one past a record's LSN on a slot), X the test_decoding xid in
  *    effect at N. A partition starts its `begin_xid` carry from its
  *    start offset's X, so the checkpoint's offset log makes the carry
  *    exactly as durable as the position, and a micro-batch needs no
  *    state store. An offset written as `{"lsn":N}` restores with X
  *    recomputed from the WAL below N. Structured Streaming's
  *    checkpoint plays the role of the client-side restart position,
  *  - `commit(end)` — invoked by the engine only after the epoch is
  *    durably committed — acks the LSN: the analog of
  *    `send_feedback(flush_lsn=...)` (reference __main__.py:101-104).
  *    Crash before commit ⇒ replay ⇒ the same at-least-once contract
  *    (reference README.rst:15-18),
  *  - `maxRecordsPerTrigger` caps each micro-batch at that many
  *    records, whatever the LSN gaps between them (K3 backpressure:
  *    unread records simply stay in the slot),
  *  - one input partition per batch: a slot is a single totally
  *    ordered lane (the reference is equally single-lane); parallelism
  *    belongs to the transforms behind it, not the tail of the WAL.
  */
class CdcMicroBatchStream(transport: CdcTransport, maxPerTrigger: Long,
    peek: Boolean = false)
    extends MicroBatchStream with SupportsAdmissionControl {
  // The highest offset this stream instance has admitted or planned:
  // the WAL must still hold it (guardRegression).
  private var lastPlanned: Long = -1L
  // Highest offset restored from the checkpoint log (deserializeOffset
  // runs during recovery): the engine has durably planned/committed up
  // to here, so the WAL head may NEVER be below it.
  private var restoredFloor: Long = 0L

  private def guardRegression(head: Long, floor: Long): Unit =
    if (head < floor)
      CdcSource.regressed(s"head=$head < checkpointed/planned=$floor " +
        s"for ${transport.name}")

  override def initialOffset(): Offset = LsnOffset(0L)

  override def getDefaultReadLimit: ReadLimit =
    if (maxPerTrigger == Long.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxRows(maxPerTrigger)

  /** The engine calls the two-argument form; this one admits from the
    * initial offset (null while the WAL holds nothing). */
  override def latestOffset(): Offset =
    latestOffset(initialOffset(), getDefaultReadLimit)

  /** The engine passes the batch's start, which after a restart is the
    * checkpointed offset, so a capped first batch counts from there.
    * Null while nothing past the WAL's origin is admitted: with no
    * committed offset, `MicroBatchExecution.isNewDataAvailable` counts
    * any reported offset, even the initial one, as new data, so a fresh
    * query whose first trigger finds no records would plan an empty
    * batch 0. A null offset is no data. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start match {
      case o: LsnOffset => o
      case other => deserializeOffset(other.json).asInstanceOf[LsnOffset]
    }
    val base = from.lsn
    val cap = limit match {
      case m: ReadMaxRows => m.maxRows
      case _ => Long.MaxValue
    }
    val floor = math.max(math.max(base, lastPlanned), restoredFloor)
    val total = transport.head(keepFrom = floor, floor = floor)
    guardRegression(total, floor)
    val admitted = transport.end(base, cap, total)
    lastPlanned = math.max(lastPlanned, admitted)
    if (admitted == 0L) null
    else LsnOffset(admitted, transport.xidAt(admitted, from))
  }

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[LsnOffset]
    val s = from.lsn
    val e = end.asInstanceOf[LsnOffset].lsn
    // Restart-replan of a planned-but-uncommitted batch, or a start
    // restored from the checkpoint (either beyond anything THIS stream
    // instance planned): the WAL must still hold every record of it.
    // In steady state latestOffset just read and guarded the same head,
    // and a server round-trip must not be paid twice per trigger.
    val last = math.max(s, e)
    if (last > lastPlanned) {
      guardRegression(transport.head(keepFrom = s, floor = last), last)
      lastPlanned = last
    }
    if (e <= s) Array.empty else Array(transport.partition(from, e))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    transport.readerFactory

  /** The 2-phase-commit ack: only after the engine has durably
    * committed the epoch does the slot learn it may discard WAL.
    * The engine invokes this while constructing the NEXT batch, so
    * feedback trails the sink by one epoch — a conservative lag that
    * can only cause replay, never loss (at-least-once preserved, same
    * contract as the reference's post-put send_feedback). */
  override def commit(end: Offset): Unit = {
    val lsn = end.asInstanceOf[LsnOffset].lsn
    transport.release(lsn)
    // peek mode (pg_logical_slot_peek_changes parity): consume without
    // acking — the slot's restart pointer never advances, so a later
    // real run replays everything from the same position
    if (peek) { CdcSource.logPeeked(lsn); return }
    transport.ack(lsn)
    // reference __main__.py:103-104: every feedback ack logs its LSN
    CdcSource.logFlushed(lsn)
  }

  override def deserializeOffset(json: String): Offset = {
    val (lsn, xid) = LsnOffset.parse(json)
    // recovery path: remember the checkpoint's horizon for the
    // regression guard
    if (lsn > restoredFloor) restoredFloor = lsn
    LsnOffset(lsn, xid.getOrElse(transport.xidAt(lsn, LsnOffset(0L))))
  }

  override def stop(): Unit = transport.close()
}
