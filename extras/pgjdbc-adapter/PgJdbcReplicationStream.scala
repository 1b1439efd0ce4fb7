// Built and tested by the `adapters` subproject against compile-only
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
  *  - [[poll]]    — one `readPending()`: the message's UTF-8 payload
  *    at `getLastReceiveLSN`, or null when nothing is pending,
  *  - [[flushed]] — `setFlushedLSN` + `forceUpdateStatus`, the
  *    standby status update the reference sends as
  *    `send_feedback(flush_lsn=...)` (__main__.py:101-104).
  *
  * It buffers nothing: unread messages stay in the socket and the slot.
  * `ReplicationTransport` is its only caller, on the driver, one
  * instance per stream (Postgres streams a slot to one walsender at a
  * time); it holds the planned batch plus at most
  * `maxRecordsPerTrigger` polled messages in driver heap.
  *
  * @param url    plain JDBC url, e.g. jdbc:postgresql://host/db
  * @param user   role with REPLICATION
  * @param password password for `user`
  * @param slot   logical slot name (create via SlotAdmin, S3), made
  *               with the output plugin graft.functions.Cdc parses
  *               (wal2json or test_decoding)
  * @param slotOptions extra plugin options, e.g.
  *               Map("include-xids" -> "true") for wal2json
  */
class PgJdbcReplicationStream(
    url: String,
    user: String,
    password: String,
    slot: String,
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

  // a slot another walsender streams refuses the start: close the
  // connection rather than leak it
  private val stream: PGReplicationStream = try {
    var b = conn.unwrap(classOf[PGConnection])
      .getReplicationAPI
      .replicationStream()
      .logical()
      .withSlotName(slot)
      .withStatusInterval(statusIntervalSeconds, TimeUnit.SECONDS)
    slotOptions.foreach { case (k, v) => b = b.withSlotOption(k, v) }
    b.start()
  } catch { case e: Throwable => conn.close(); throw e }

  override def poll(): WalRecord = {
    val buf = stream.readPending()
    if (buf == null) return null
    val bytes = new Array[Byte](buf.remaining())
    buf.get(bytes)
    WalRecord(stream.getLastReceiveLSN.asLong(),
      new String(bytes, StandardCharsets.UTF_8))
  }

  override def flushed(lsn: Long): Unit = {
    val ack = LogSequenceNumber.valueOf(lsn)
    stream.setFlushedLSN(ack)
    stream.setAppliedLSN(ack)
    stream.forceUpdateStatus()
  }

  override def close(): Unit = {
    try stream.close() finally conn.close()
  }
}

object PgJdbcReplicationStream {
  /** Register a pgjdbc-backed factory so `spark.readStream
    * .format("graft.sources.CdcSourceProvider")
    * .option("connection", name)` (or `graft.Main` without
    * `--source-path`, under the slot name) opens one walsender
    * connection per stream, on the driver. */
  def register(name: String, url: String, user: String, password: String,
      slot: String): Unit =
    PgReplicationSource.registerConnection(name,
      () => new PgJdbcReplicationStream(url, user, password, slot))
}
