package graft.sources

import java.util
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** One WAL message as delivered by the walsender: position + payload
  * (psycopg2's ReplicationMessage / pgjdbc's buffer + getLastReceiveLSN). */
case class WalRecord(lsn: Long, payload: String)

/** The injected seam over a Postgres logical-replication connection —
  * a 1:1 projection of pgjdbc's public replication API
  * (`PGConnection.getReplicationAPI().replicationStream()
  * .logical().withSlotName(...)` → `PGReplicationStream`), which is
  * the JVM analog of the reference's psycopg2
  * `start_replication`/`consume_stream` loop (reference slot.py:47-53,
  * slot.py:122-129):
  *
  *  - [[headLsn]]  ≈ `getLastReceiveLSN` after a `readPending()` drain
  *    (server's available WAL head; drives micro-batch admission),
  *  - [[read]]     ≈ `readPending()` replay of the slot from its
  *    restart position, skipping below `start`, stopping at `end`
  *    (a slot replays from its confirmed LSN — range reads are
  *    expressed as replay-and-skip, which is exactly what a restarted
  *    reference process does),
  *  - [[flushed]]  ≈ `setFlushedLSN` + `forceUpdateStatus` — the
  *    standby status update / `send_feedback(flush_lsn=...)` ack
  *    (reference __main__.py:101-104, K2).
  *
  * The production adapter wrapping a real `PGReplicationStream` behind
  * this trait is `extras/pgjdbc-adapter/PgJdbcReplicationStream.scala`,
  * compiled by CI in the `adapters` subproject against API shims (the
  * sandbox has no Postgres driver or server to run it against); specs
  * fake the trait to prove the source honors the identical
  * offset/commit/backpressure contract as the file-backed source — the
  * contract suite (CdcSourceContractSpec) is shared between both.
  */
trait ReplicationStream extends AutoCloseable {
  def headLsn(): Long
  def read(start: Long, end: Long): Iterator[WalRecord]
  def flushed(lsn: Long): Unit
  override def close(): Unit = ()
}

/** "cdc-pg": the walsender-backed DataSourceV2 MicroBatchStream (S1
  * live transport). Identical contract to [[CdcFileSource]] — LSN-range
  * offsets, commit(end) → standby feedback, maxRecordsPerTrigger
  * admission — so everything downstream (parse → gate → format → KPL
  * sink) is source-agnostic. The test_decoding xid carry rides in the
  * offset as on the file source: the stream reads it off the admitted
  * records on its control connection. Once a batch is acked the slot
  * no longer holds the records below the ack, so only the offset can
  * carry the xid across a restart. One input partition per batch: a
  * replication slot is a single totally ordered lane (the reference is
  * equally single-lane); parallelism belongs to the transforms behind
  * it, not the tail of the WAL.
  *
  * Connections are resolved by name from a process-local registry (the
  * option map is string-typed): production registers a pgjdbc-backed
  * factory, specs register fakes. In local mode driver and executors
  * share the registry; a cluster deployment registers the factory in
  * an executor plugin from connection options.
  */
class PgReplicationSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CdcFileSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new PgReplicationTable(properties.get("connection"),
      Option(properties.get("maxRecordsPerTrigger")).map(_.toLong)
        .getOrElse(Long.MaxValue),
      Option(properties.get("peek")).exists(_.toBoolean))
  override def supportsExternalMetadata(): Boolean = true
}

object PgReplicationSource {
  private val registry =
    new ConcurrentHashMap[String, () => ReplicationStream]()

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

  /** Register a connection factory under a name referenced by the
    * `connection` option. */
  def registerConnection(name: String, f: () => ReplicationStream): Unit =
    registry.put(name, f)

  def connect(name: String): ReplicationStream = {
    val f = registry.get(name)
    require(f != null, s"no replication connection registered as '$name'")
    f()
  }

  /** The xid in effect after `r`, given the one in effect before it. */
  private[sources] def carry(xid: Long, r: WalRecord): Long =
    if (r.payload.startsWith("BEGIN ")) CdcSource.beginXid(r.payload) else xid
}

class PgReplicationTable(connection: String, maxPerTrigger: Long,
    peek: Boolean = false)
    extends Table with SupportsRead {
  override def name(): String = s"cdc-pg($connection)"
  override def schema(): StructType = CdcFileSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = CdcFileSource.Schema
      override def toMicroBatchStream(checkpointLocation: String)
          : MicroBatchStream =
        new PgReplicationMicroBatchStream(connection, maxPerTrigger, peek)
    }
}

class PgReplicationMicroBatchStream(connection: String,
    maxPerTrigger: Long, peek: Boolean = false)
    extends LsnAdmission(maxPerTrigger, s"connection '$connection'") {
  // driver-side control connection: admission (headLsn) + feedback
  private lazy val conn = PgReplicationSource.connect(connection)

  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) is called instead")

  /** The engine passes the batch's start, which after a restart is the
    * checkpointed offset, so a capped first batch counts from there. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start match {
      case o: LsnOffset => o
      case other => deserializeOffset(other.json).asInstanceOf[LsnOffset]
    }
    val admitted = admit(from.lsn, limit)(_ => conn.headLsn())
    LsnOffset(admitted, conn.read(from.lsn, admitted)
      .foldLeft(from.xid)(PgReplicationSource.carry))
  }

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[LsnOffset]
    val s = from.lsn
    val e = end.asInstanceOf[LsnOffset].lsn
    // Restart-replan of a planned-but-uncommitted batch (e beyond
    // anything THIS stream instance planned): the slot must still hold
    // every record of it. Checked ONLY on that path — steady state was
    // just guarded in latestOffset, and headLsn() is a server
    // round-trip the hot loop must not pay twice per trigger.
    if (e > lastPlanned) {
      guardRegression(conn.headLsn(), e)
      lastPlanned = e // checkpoint-restart replan
    }
    Array(PgReplicationPartition(connection, s, e, from.xid))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PgReplicationReaderFactory

  /** K2 2-phase ack: invoked by the engine only after the epoch is
    * durably committed; maps to the standby status update, so the
    * server may discard WAL below this point. Trails the sink by one
    * epoch (engine behavior) — replay-only lag, at-least-once kept. */
  override def commit(end: Offset): Unit = {
    val lsn = end.asInstanceOf[LsnOffset].lsn
    // peek mode: consume without standby feedback — the server keeps
    // WAL and the slot position (pg_logical_slot_peek_changes parity)
    if (peek) { PgReplicationSource.logPeeked(lsn); return }
    conn.flushed(lsn)
    // reference __main__.py:103-104: every feedback ack logs its LSN
    PgReplicationSource.logFlushed(lsn)
  }

  /** An offset written as `{"lsn":N}` restores its xid from what the
    * slot still holds below N. */
  override def deserializeOffset(json: String): Offset = {
    val (lsn, xid) = LsnOffset.parse(json)
    if (lsn > restoredFloor) restoredFloor = lsn // recovery horizon
    LsnOffset(lsn, xid.getOrElse(
      conn.read(0L, lsn).foldLeft(-1L)(PgReplicationSource.carry)))
  }

  override def stop(): Unit = conn.close()
}

/** Records [start, end); `startXid` is the xid in effect at `start`. */
case class PgReplicationPartition(connection: String, start: Long, end: Long,
    startXid: Long) extends InputPartition

class PgReplicationReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[PgReplicationPartition]
    val conn = PgReplicationSource.connect(p.connection)
    val it = conn.read(p.start, p.end)
    new PartitionReader[InternalRow] {
      private var cur: WalRecord = _
      private var xid = p.startXid
      override def next(): Boolean = {
        if (it.hasNext) {
          cur = it.next()
          xid = PgReplicationSource.carry(xid, cur)
          true
        } else false
      }
      override def get(): InternalRow = new GenericInternalRow(Array[Any](
        UTF8String.fromString(cur.payload), cur.lsn,
        cur.payload.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          .length.toLong, xid))
      override def close(): Unit = conn.close()
    }
  }
}
