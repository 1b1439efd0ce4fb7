// Compiled by CI in the `adapters` subproject against compile-only
// shims of the pgjdbc replication API (extras/shims/ — the real
// org.postgresql:postgresql is unresolvable in this offline build; at
// deploy time swap the shims for the real driver jar, see README
// "Connecting to a real Postgres"). Everything it plugs into
// (ReplicationTransport, the LSN-offset/commit/backpressure contract,
// CdcSourceContractSpec) is compiled and tested in the main build;
// this file is only the transport.
package graft.sources

import java.nio.charset.StandardCharsets
import java.sql.DriverManager
import java.util.Properties
import java.util.concurrent.TimeUnit

import org.postgresql.PGConnection
import org.postgresql.PGProperty
import org.postgresql.replication.{LogSequenceNumber, PGReplicationStream}

/** Production [[ReplicationStream]] over pgjdbc's logical-replication
  * API — the JVM analog of the reference's psycopg2
  * `start_replication` / `consume_stream` loop (slot.py:47-53,
  * slot.py:122-129).
  *
  * Mapping onto the seam:
  *  - [[headLsn]]  — drain `readPending()` into an ordered buffer and
  *    report the last received LSN (drives micro-batch admission),
  *  - [[read]]     — serve buffered records in (start, end]; later
  *    records stay buffered for the next batch,
  *  - [[flushed]]  — `setFlushedLSN` + `forceUpdateStatus`, the
  *    standby status update the reference sends as
  *    `send_feedback(flush_lsn=...)` (__main__.py:101-104); also
  *    drops served records at or below the ack from the buffer.
  *
  * Single-threaded by contract: the CDC stream drives headLsn /
  * read / flushed from the driver; the one-partition reader uses a
  * separate connection made by the same factory (a slot is one totally
  * ordered lane — same constraint the reference lives with).
  *
  * @param url    plain JDBC url, e.g. jdbc:postgresql://host/db
  * @param user   role with REPLICATION
  * @param password password for `user`
  * @param slot   logical slot name (create via SlotAdmin, S3)
  * @param plugin output plugin: "wal2json" or "test_decoding" —
  *               graft.functions.Cdc parses both wire formats
  * @param slotOptions extra plugin options, e.g.
  *               Map("include-xids" -> "true") for wal2json
  */
class PgJdbcReplicationStream(
    url: String,
    user: String,
    password: String,
    slot: String,
    plugin: String = "wal2json",
    slotOptions: Map[String, String] = Map("include-xids" -> "true"),
    statusIntervalSeconds: Int = 10)
    extends ReplicationStream {

  private val conn = {
    val props = new Properties()
    PGProperty.USER.set(props, user)
    PGProperty.PASSWORD.set(props, password)
    // the three properties pgjdbc requires for a walsender connection
    PGProperty.ASSUME_MIN_SERVER_VERSION.set(props, "9.4")
    PGProperty.REPLICATION.set(props, "database")
    PGProperty.PREFER_QUERY_MODE.set(props, "simple")
    DriverManager.getConnection(url, props)
  }

  private val stream: PGReplicationStream = {
    var b = conn.unwrap(classOf[PGConnection])
      .getReplicationAPI
      .replicationStream()
      .logical()
      .withSlotName(slot)
      .withStatusInterval(statusIntervalSeconds, TimeUnit.SECONDS)
    slotOptions.foreach { case (k, v) => b = b.withSlotOption(k, v) }
    b.start()
  }

  /** Received-but-unserved WAL messages, ordered by LSN. Bounded by
    * the admission window: latestOffset admits at most
    * maxRecordsPerTrigger positions per trigger, and flushed() trims
    * after every committed epoch. */
  private val buffer = new java.util.TreeMap[Long, String]()

  private def drain(): Unit = {
    var buf = stream.readPending()
    while (buf != null) {
      val bytes = new Array[Byte](buf.remaining())
      buf.get(bytes)
      buffer.put(stream.getLastReceiveLSN.asLong(),
        new String(bytes, StandardCharsets.UTF_8))
      buf = stream.readPending()
    }
  }

  override def headLsn(): Long = {
    drain()
    if (buffer.isEmpty) stream.getLastReceiveLSN.asLong()
    else buffer.lastKey()
  }

  override def read(start: Long, end: Long): Iterator[WalRecord] = {
    drain()
    // (start, end] — same replay-and-skip semantics a restarted
    // reference process gets from the slot's confirmed position
    import scala.jdk.CollectionConverters._
    buffer.subMap(start, false, end, true).entrySet().asScala.iterator
      .map(e => WalRecord(e.getKey, e.getValue))
  }

  override def flushed(lsn: Long): Unit = {
    val ack = LogSequenceNumber.valueOf(lsn)
    stream.setFlushedLSN(ack)
    stream.setAppliedLSN(ack)
    stream.forceUpdateStatus()
    // committed epochs never re-read below the ack
    buffer.headMap(lsn, true).clear()
  }

  override def close(): Unit = {
    try stream.close() finally conn.close()
  }
}

object PgJdbcReplicationStream {
  /** Register a pgjdbc-backed factory so `spark.readStream
    * .format("graft.sources.CdcSourceProvider")
    * .option("connection", name)` resolves to live walsender
    * connections. In local mode one registration covers driver and
    * executors; on a cluster, call this from an executor plugin. */
  def register(name: String, url: String, user: String, password: String,
      slot: String, plugin: String = "wal2json"): Unit =
    PgReplicationSource.registerConnection(name,
      () => new PgJdbcReplicationStream(url, user, password, slot, plugin))
}
