package graft

import java.nio.charset.StandardCharsets

import scala.collection.mutable

import graft.sources.{ReplicationStream, WalRecord}

/** A Postgres walsender serving one logical slot, as a replication
  * client sees it through the [[ReplicationStream]] seam: the one test
  * double behind the walsender transport.
  *
  *  - One open stream per slot: a second [[open]] throws
  *    `replication slot "<slot>" is active`, as Postgres refuses a
  *    second START_REPLICATION on an active slot.
  *  - Sparse LSNs with gaps: each record advances the WAL position by
  *    a header plus its payload bytes, and every third by a further
  *    page, from an origin well above 0.
  *  - Asynchronous delivery: [[write]] appends to the WAL, and a stream
  *    sees records only once the model [[send]]s them, so `poll`
  *    returns null until then. With `autoSend` the model sends at
  *    once, on each write and on open.
  *  - On [[open]] a stream starts at the confirmed flush LSN, the
  *    highest `flushed` so far: it resends what no ack covered. As
  *    Postgres decodes a transaction whole and sends every one that
  *    commits past that LSN, a test_decoding transaction open there is
  *    resent from its `BEGIN` line.
  */
final class WalsenderModel(val slot: String = "graft",
    autoSend: Boolean = true) {
  private val wal = mutable.ArrayBuffer.empty[WalRecord]
  private var nextLsn = WalsenderModel.Origin
  private var confirmed = 0L
  private var active: Stream = _
  private var opened = 0
  private val flushes = mutable.ArrayBuffer.empty[Long]
  private val polled = mutable.ArrayBuffer.empty[(Int, Long)]

  /** Append records to the WAL; returns their LSNs. */
  def write(payloads: Seq[String]): Seq[Long] = synchronized {
    val lsns = payloads.map { p =>
      wal += WalRecord(nextLsn, p)
      nextLsn += 24 + p.getBytes(StandardCharsets.UTF_8).length +
        (if (wal.size % 3 == 0) 8192 else 0)
      wal.last.lsn
    }
    if (autoSend) send()
    lsns
  }

  /** Send the open stream every record written since its last send. */
  def send(): Unit = synchronized { if (active != null) active.sendAll() }

  def open(): ReplicationStream = synchronized {
    if (active != null)
      throw new java.sql.SQLException(
        s"""replication slot "$slot" is active for PID 4242""", "55006")
    opened += 1
    active = new Stream(opened)
    if (autoSend) send()
    active
  }

  /** Drop the slot and create it again on a WAL that holds only
    * `payloads`, its positions starting from the origin again. */
  def recreate(payloads: Seq[String]): Seq[Long] = synchronized {
    require(active == null, s"""replication slot "$slot" is active""")
    wal.clear()
    nextLsn = WalsenderModel.Origin
    confirmed = 0L
    write(payloads)
  }

  /** The LSN of every record written, in order. */
  def lsns: Seq[Long] = synchronized(wal.map(_.lsn).toSeq)
  /** Every LSN passed to `flushed`, in order. */
  def acked: Seq[Long] = synchronized(flushes.toSeq)
  /** Streams opened so far. */
  def connections: Int = synchronized(opened)
  def isActive: Boolean = synchronized(active != null)
  /** (stream number, LSN) of every record a `poll` returned. */
  def deliveries: Seq[(Int, Long)] = synchronized(polled.toSeq)

  private final class Stream(id: Int) extends ReplicationStream {
    private var next = {
      val i = wal.indexWhere(_.lsn >= confirmed) match {
        case -1 => wal.size
        case i => i
      }
      val open = wal.lastIndexWhere(r => r.payload.startsWith("BEGIN ") ||
        r.payload.startsWith("COMMIT"), i - 1)
      if (open >= 0 && wal(open).payload.startsWith("BEGIN ")) open else i
    }
    private val socket = mutable.Queue.empty[WalRecord]

    def sendAll(): Unit =
      while (next < wal.size) { socket += wal(next); next += 1 }

    override def poll(): WalRecord = WalsenderModel.this.synchronized {
      require(active eq this, "poll on a closed replication stream")
      if (socket.isEmpty) null
      else {
        val r = socket.dequeue()
        polled += ((id, r.lsn))
        r
      }
    }

    override def flushed(lsn: Long): Unit = WalsenderModel.this.synchronized {
      flushes += lsn
      confirmed = math.max(confirmed, lsn)
    }

    override def close(): Unit = WalsenderModel.this.synchronized {
      if (active eq this) active = null
    }
  }
}

object WalsenderModel {
  /** The first LSN of a fresh WAL (0/16B3748, where initdb leaves it). */
  val Origin: Long = 0x16B3748L

  /** A model registered as a replication connection; returns the
    * connection name. */
  def register(model: WalsenderModel): String = {
    val name = s"model-${java.util.UUID.randomUUID().toString.take(8)}"
    graft.sources.PgReplicationSource.registerConnection(name,
      () => model.open())
    name
  }
}
