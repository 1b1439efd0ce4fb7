package graft.sources

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo}
import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}

import scala.collection.mutable

import org.postgresql.PGConnection
import org.postgresql.replication.{LogSequenceNumber, PGReplicationConnection, PGReplicationStream}
import org.postgresql.replication.fluent.ChainedStreamBuilder
import org.postgresql.replication.fluent.logical.ChainedLogicalStreamBuilder
import org.scalatest.funsuite.AnyFunSuite

import graft.WalsenderModel

/** pgjdbc's replication API over a [[WalsenderModel]], recording the
  * calls the adapter makes. A message reaches `readPending` as the
  * payload part of a larger buffer, the XLogData header before it. */
final class ModelPgConnection(model: WalsenderModel) extends PGConnection {
  val calls = mutable.ArrayBuffer.empty[String]

  override def getReplicationAPI: PGReplicationConnection =
    new PGReplicationConnection {
      override def replicationStream(): ChainedStreamBuilder =
        new ChainedStreamBuilder {
          override def logical(): ChainedLogicalStreamBuilder = builder
        }
    }

  private val builder: ChainedLogicalStreamBuilder =
    new ChainedLogicalStreamBuilder {
      override def withSlotName(name: String): ChainedLogicalStreamBuilder = {
        calls += s"withSlotName($name)"
        this
      }
      override def withStatusInterval(interval: Int,
          unit: TimeUnit): ChainedLogicalStreamBuilder = this
      override def withSlotOption(key: String,
          value: String): ChainedLogicalStreamBuilder = {
        calls += s"withSlotOption($key=$value)"
        this
      }
      override def start(): PGReplicationStream = {
        val s = model.open()
        new PGReplicationStream {
          private var received = 0L
          private var flush = 0L
          override def readPending(): ByteBuffer = {
            val r = s.poll()
            if (r == null) return null
            received = r.lsn
            val header = new Array[Byte](25)
            val body = r.payload.getBytes(StandardCharsets.UTF_8)
            ByteBuffer.wrap(header ++ body, header.length, body.length)
          }
          override def getLastReceiveLSN: LogSequenceNumber =
            LogSequenceNumber.valueOf(received)
          override def setFlushedLSN(lsn: LogSequenceNumber): Unit = {
            calls += s"setFlushedLSN(${lsn.asLong()})"
            flush = lsn.asLong()
          }
          override def setAppliedLSN(lsn: LogSequenceNumber): Unit =
            calls += s"setAppliedLSN(${lsn.asLong()})"
          // the status update is what carries the flush LSN to the server
          override def forceUpdateStatus(): Unit = {
            calls += "forceUpdateStatus"
            s.flushed(flush)
          }
          override def close(): Unit = {
            calls += "close"
            s.close()
          }
        }
      }
    }
}

/** A JDBC driver for `jdbc:walsender-model:<name>` URLs: the connection
  * is a proxy that unwraps to the [[ModelPgConnection]] served under
  * that name, as pgjdbc's unwraps to its PGConnection. */
object ModelDriver extends Driver {
  private val served = new ConcurrentHashMap[String, ModelPgConnection]()
  val props: mutable.Buffer[Properties] = mutable.Buffer.empty
  private val Prefix = "jdbc:walsender-model:"
  DriverManager.registerDriver(this)

  def serve(name: String, model: WalsenderModel): ModelPgConnection = {
    val pg = new ModelPgConnection(model)
    served.put(name, pg)
    pg
  }

  override def connect(url: String, info: Properties): Connection = {
    if (!acceptsURL(url)) return null
    val pg = served.get(url.stripPrefix(Prefix))
    props.synchronized(props += info)
    val handler = new InvocationHandler {
      override def invoke(proxy: Any, m: Method, args: Array[AnyRef]): AnyRef =
        m.getName match {
          case "unwrap" if args(0) == classOf[PGConnection] => pg
          case "isWrapperFor" => Boolean.box(args(0) == classOf[PGConnection])
          case "close" => pg.calls += "Connection.close"; null
          case "toString" => url
          case other => throw new UnsupportedOperationException(other)
        }
    }
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[Connection]),
      handler).asInstanceOf[Connection]
  }
  override def acceptsURL(url: String): Boolean = url.startsWith(Prefix)
  override def getPropertyInfo(url: String,
      info: Properties): Array[DriverPropertyInfo] = Array.empty
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger: java.util.logging.Logger =
    java.util.logging.Logger.getGlobal
}

class PgJdbcReplicationStreamSpec extends AnyFunSuite {
  private val payloads = Seq("BEGIN 7",
    "table public.t: INSERT: id[integer]:1 v[text]:'é\nü'", "COMMIT 7")

  test("poll gives the model's LSN and UTF-8 payload; flushed sets the flush LSN, then sends the status") {
    val model = new WalsenderModel("graft_slot")
    val lsns = model.write(payloads)
    val pg = ModelDriver.serve("poll", model)
    val s = new PgJdbcReplicationStream("jdbc:walsender-model:poll",
      "replicator", "secret", "graft_slot")
    val p = ModelDriver.props.last
    assert(p.getProperty("user") == "replicator" &&
      p.getProperty("password") == "secret" &&
      p.getProperty("replication") == "database" &&
      p.getProperty("preferQueryMode") == "simple" &&
      p.getProperty("assumeMinServerVersion") == "9.4")
    assert(pg.calls.toSeq == Seq("withSlotName(graft_slot)",
      "withSlotOption(include-xids=true)"))
    val got = Iterator.continually(s.poll()).takeWhile(_ != null).toSeq
    assert(got == lsns.zip(payloads).map { case (l, v) => WalRecord(l, v) })
    assert(s.poll() == null)
    val ack = lsns(1) + 1
    s.flushed(ack)
    assert(pg.calls.drop(2) == Seq(s"setFlushedLSN($ack)",
      s"setAppliedLSN($ack)", "forceUpdateStatus"))
    assert(model.acked == Seq(ack))
    // Postgres streams a slot to one walsender at a time
    val e = intercept[java.sql.SQLException](new PgJdbcReplicationStream(
      "jdbc:walsender-model:poll", "replicator", "secret", "graft_slot"))
    assert(e.getMessage.contains("replication slot \"graft_slot\" is active"))
    assert(pg.calls.last == "Connection.close", "the refused connection is closed")
    s.close()
    // a new stream resends from the confirmed flush LSN: the
    // transaction open there, from its BEGIN
    val again = new PgJdbcReplicationStream("jdbc:walsender-model:poll",
      "replicator", "secret", "graft_slot")
    try assert(Iterator.continually(again.poll()).takeWhile(_ != null).toSeq == got)
    finally again.close()
  }

  test("a registered adapter feeds the CDC stream through one connection") {
    val model = new WalsenderModel("graft_slot")
    val lsns = model.write(payloads)
    ModelDriver.serve("stream", model)
    PgJdbcReplicationStream.register("adapter-stream",
      "jdbc:walsender-model:stream", "replicator", "secret", "graft_slot")
    val s = new CdcMicroBatchStream(
      new ReplicationTransport("adapter-stream", 2), 2)
    try {
      val start = s.initialOffset().asInstanceOf[LsnOffset]
      val end = s.latestOffset(start, s.getDefaultReadLimit)
        .asInstanceOf[LsnOffset]
      assert(end == LsnOffset(lsns(1) + 1, 7L))
      val rows = s.planInputPartitions(start, end).toSeq.flatMap { part =>
        val r = s.createReaderFactory().createReader(part)
        Iterator.continually(r).takeWhile(_.next()).map { r =>
          val row = r.get()
          (row.getLong(1), row.getUTF8String(0).toString, row.getLong(3))
        }.toList
      }
      assert(rows == Seq((lsns(0), payloads(0), 7L), (lsns(1), payloads(1), 7L)))
      s.commit(end)
      assert(model.acked == Seq(end.lsn))
      assert(model.connections == 1)
    } finally s.stop()
  }
}
