package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
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

object PgReplicationSource {
  private val registry =
    new ConcurrentHashMap[String, () => ReplicationStream]()

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

/** The walsender transport (S1 live): records come from a connection
  * resolved by name from a process-local registry (the option map is
  * string-typed): production registers a pgjdbc-backed factory, specs
  * register fakes. In local mode driver and executors share the
  * registry; a cluster deployment registers the factory in an executor
  * plugin from connection options.
  *
  * The driver-side control connection serves admission (`headLsn`),
  * the xid carry and the ack. The xid in effect at an admitted offset
  * is read off the records since the batch's start offset: once a
  * batch is acked the slot no longer holds the records below the ack,
  * so only the offset can carry the xid across a restart.
  */
class ReplicationTransport(connection: String) extends CdcTransport {
  private lazy val conn = PgReplicationSource.connect(connection)

  override def name: String = s"cdc-pg($connection)"
  override def head(keepFrom: Long): Long = conn.headLsn()
  override def xidAt(lsn: Long, known: LsnOffset): Long =
    conn.read(known.lsn, lsn).foldLeft(known.xid)(PgReplicationSource.carry)
  override def partition(start: LsnOffset, end: Long): InputPartition =
    PgReplicationPartition(connection, start.lsn, end, start.xid)
  override def readerFactory: PartitionReaderFactory =
    new PgReplicationReaderFactory
  override def ack(lsn: Long): Unit = conn.flushed(lsn)
  override def close(): Unit = conn.close()
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
