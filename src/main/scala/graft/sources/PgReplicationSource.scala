package graft.sources

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.unsafe.types.UTF8String

/** One WAL message as delivered by the walsender: position + payload
  * (psycopg2's ReplicationMessage / pgjdbc's buffer + getLastReceiveLSN). */
case class WalRecord(lsn: Long, payload: String)

/** The injected seam over a Postgres logical-replication connection:
  * the two calls of pgjdbc's `PGReplicationStream` the transport makes,
  * the JVM analog of the reference's psycopg2
  * `start_replication`/`consume_stream` loop (reference slot.py:47-53,
  * slot.py:122-129):
  *
  *  - [[poll]]    ≈ one `readPending()`, with the LSN from
  *    `getLastReceiveLSN`; null when nothing is pending. Records come
  *    in LSN order; a new connection starts at the slot's confirmed
  *    flush LSN, so it resends what the last ack did not cover,
  *  - [[flushed]] ≈ `setFlushedLSN` + `forceUpdateStatus` — the
  *    standby status update / `send_feedback(flush_lsn=...)` ack
  *    (reference __main__.py:101-104, K2).
  *
  * The production adapter is
  * `extras/pgjdbc-adapter/PgJdbcReplicationStream.scala`, built and
  * tested by the `adapters` subproject against API shims (the build
  * has no Postgres driver or server); specs run the transport on a
  * walsender model (one stream per slot, sparse LSNs, asynchronous
  * delivery, resend on reconnect) through the contract suite
  * (CdcSourceContractSpec) the file transport runs too.
  */
trait ReplicationStream extends AutoCloseable {
  def poll(): WalRecord
  def flushed(lsn: Long): Unit
  override def close(): Unit = ()
}

object PgReplicationSource {
  private val registry =
    new ConcurrentHashMap[String, () => ReplicationStream]()

  /** How long a resend the checkpoint needs may go silent before the
    * stream fails. */
  private[sources] val ResendWaitMs = 10000L

  /** Register a connection factory under a name referenced by the
    * `connection` option. */
  def registerConnection(name: String, f: () => ReplicationStream): Unit =
    registry.put(name, f)

  def registered(name: String): Boolean = registry.containsKey(name)

  def connect(name: String): ReplicationStream = {
    val f = registry.get(name)
    require(f != null, s"no replication connection registered as '$name'")
    f()
  }

  /** The xid in effect after `r`, given the one in effect before it. */
  private[sources] def carry(xid: Long, r: WalRecord): Long =
    if (r.payload.startsWith("BEGIN ")) CdcSource.beginXid(r.payload) else xid
}

/** The walsender transport (S1 live): the one replication connection
  * of a stream, opened on the driver on first use from a factory
  * registered by name (the option map is string-typed): production
  * registers the pgjdbc adapter, specs a walsender model. Postgres
  * lets one walsender stream a slot at a time, so executors open
  * nothing: each partition carries its records.
  *
  * Each trigger polls the connection into an LSN-ordered buffer of
  * records and the xid in effect after each, until `maxPerTrigger`
  * records lie at or past the batch start (K3: the rest stays in the
  * slot) or nothing is pending. An offset is one past a record's LSN,
  * so the ack needs no mapping. `release` drops records below the
  * committed offset, including what the slot resends after a
  * reconnect; the buffer holds the planned batch plus at most
  * `maxPerTrigger` records. A checkpointed position the slot has to
  * resend is waited for while the slot keeps sending, for at most
  * [[PgReplicationSource.ResendWaitMs]] of silence.
  */
class ReplicationTransport(connection: String, maxPerTrigger: Long)
    extends CdcTransport {
  private case class Held(rec: WalRecord, xid: Long)

  private var conn: ReplicationStream = _
  private val held = mutable.ArrayDeque.empty[Held]
  private var released = 0L    // records below it are dropped
  private var releasedXid = -1L // in effect at `released`, if known
  private var received = 0L    // one past the last LSN polled, 0 before any
  private var xid = -1L        // in effect after the last record polled

  private def stream: ReplicationStream = {
    if (conn == null) conn = PgReplicationSource.connect(connection)
    conn
  }

  /** Poll one record; false when none is pending. */
  private def pollOne(): Boolean = {
    val r = stream.poll()
    if (r == null) return false
    xid = PgReplicationSource.carry(xid, r)
    received = r.lsn + 1
    if (r.lsn >= released) held.append(Held(r, xid)) else releasedXid = xid
    true
  }

  /** Poll until `received` reaches `lsn`, or the slot has sent nothing
    * for ResendWaitMs. */
  private def await(lsn: Long): Unit = {
    var quietSince = System.nanoTime()
    while (received < lsn)
      if (pollOne()) quietSince = System.nanoTime()
      else if (System.nanoTime() - quietSince >
          PgReplicationSource.ResendWaitMs * 1000000L) return
      else Thread.sleep(5)
  }

  /** Index of the first held record at or past `lsn`. */
  private def indexOf(lsn: Long): Int =
    held.search(Held(WalRecord(lsn, null), 0L))(
      Ordering.by[Held, Long](_.rec.lsn)).insertionPoint

  override def name: String = s"cdc-pg($connection)"

  /** Records below `floor` were planned or checkpointed. The slot must
    * resend those at or past `keepFrom` (a batch replanned after a
    * restart), and a resend that starts below `floor` must reach it;
    * a slot that stops short returns a head below `floor`. */
  override def head(keepFrom: Long, floor: Long): Long = {
    var past = held.length - indexOf(keepFrom)
    while (past < maxPerTrigger && pollOne())
      if (received > keepFrom) past += 1
    if (received > 0L || floor > keepFrom) await(floor)
    if (received == 0L) keepFrom else received
  }

  override def end(start: Long, cap: Long, head: Long): Long = {
    val from = indexOf(start)
    val n = math.min(cap, (held.length - from).toLong).toInt
    if (n == 0) start else held(from + n - 1).rec.lsn + 1
  }

  /** Read off the buffer; a restored offset first polls what the slot
    * has resent below it. -1 on the buffer means no BEGIN came on this
    * connection, so `known` holds. */
  override def xidAt(lsn: Long, known: LsnOffset): Long = {
    while (received < lsn && pollOne()) ()
    val i = indexOf(lsn)
    val x = if (i > 0) held(i - 1).xid
      else if (lsn >= released) releasedXid
      else -1L
    if (x != -1L) x else known.xid
  }

  override def partition(start: LsnOffset, end: Long): InputPartition = {
    val recs = held.slice(indexOf(start.lsn), indexOf(end)).map(_.rec).toArray
    if (recs.isEmpty || recs.last.lsn != end - 1)
      CdcSource.regressed(s"the slot resent ${recs.length} records of the " +
        s"planned batch [${start.lsn}, $end) for $name")
    PgReplicationPartition(recs, start.xid)
  }

  override def readerFactory: PartitionReaderFactory =
    new PgReplicationReaderFactory
  override def ack(lsn: Long): Unit = stream.flushed(lsn)

  override def release(lsn: Long): Unit = if (lsn > released) {
    val k = indexOf(lsn)
    if (k > 0) releasedXid = held(k - 1).xid
    held.dropInPlace(k)
    released = lsn
  }

  override def close(): Unit = if (conn != null) conn.close()
}

/** A batch's records; `startXid` is the xid in effect before the first. */
case class PgReplicationPartition(records: Array[WalRecord], startXid: Long)
    extends InputPartition

class PgReplicationReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[PgReplicationPartition]
    new PartitionReader[InternalRow] {
      private var i = -1
      private var xid = p.startXid
      override def next(): Boolean = {
        i += 1
        if (i < p.records.length) {
          xid = PgReplicationSource.carry(xid, p.records(i))
          true
        } else false
      }
      override def get(): InternalRow = {
        val r = p.records(i)
        val payload = UTF8String.fromString(r.payload)
        new GenericInternalRow(Array[Any](payload, r.lsn,
          payload.numBytes.toLong, xid))
      }
      override def close(): Unit = ()
    }
  }
}
