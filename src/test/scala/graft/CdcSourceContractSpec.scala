package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import graft.sources.{PgReplicationSource, ReplicationStream, WalRecord}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

/** THE source contract, proven identically for every CDC transport:
  * LSN-range offsets (k-th message has lsn k, head = message count),
  * at-least-once with exactly-once across a checkpoint resume,
  * maxRecordsPerTrigger admission, and commit(end) → transport ack
  * (feedback may trail by one epoch — engine behavior). The file
  * source and the walsender-backed pg source run the SAME suite, so a
  * job composed on one transport behaves identically on the other.
  */
trait CdcSourceFixture {
  def name: String
  /** Extend the WAL with payload messages (lsn = arrival index). */
  def append(payloads: Seq[String]): Unit
  /** Fresh readStream DataFrame over this transport. */
  def stream(maxPerTrigger: Long = Long.MaxValue): DataFrame
  /** LSNs the transport has been told are flushed (K2 acks). */
  def acked: Seq[Long]
  /** DROP-AND-RECREATE the slot under the consumer: the WAL restarts
    * from position 0 holding only `payloads` (the new slot's fresh
    * restart_lsn world). The regression-contract test uses this. */
  def reset(payloads: Seq[String]): Unit
}

abstract class CdcSourceContractSpec extends SparkSpec {
  def mkFixture(): CdcSourceFixture

  protected def tmpDir(): String =
    Files.createTempDirectory("graft-contract").toString

  /** Run to quiescence through foreachBatch, collecting (lsn, payload,
    * data_size) into `sink`; returns query progress row counts. */
  protected def drain(df: DataFrame, ckpt: String,
      sink: scala.collection.mutable.Buffer[(Long, String, Long)])
      : Seq[Long] = {
    val counts = scala.collection.mutable.Buffer.empty[Long]
    val q = df.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
          val rows = batch.collect()
          sink.synchronized {
            sink ++= rows.map(r => (r.getLong(1), r.getString(0), r.getLong(2)))
          }
          ()
      }
      .start()
    q.processAllAvailable()
    q.recentProgress.foreach(p => if (p.numInputRows > 0)
      counts += p.numInputRows)
    q.stop()
    counts.toSeq
  }

  test("contract: messages arrive exactly once, in LSN order, sized") {
    val f = mkFixture()
    val msgs = (0 until 25).map(i => s"""{"m": $i}""")
    f.append(msgs)
    val sink = scala.collection.mutable.Buffer.empty[(Long, String, Long)]
    drain(f.stream(), tmpDir() + "/ckpt", sink)
    val got = sink.sortBy(_._1)
    assert(got.map(_._1) == (0L until 25L))
    assert(got.map(_._2) == msgs)
    assert(got.forall { case (_, p, sz) =>
      sz == p.getBytes(StandardCharsets.UTF_8).length.toLong })
  }

  test("contract: maxRecordsPerTrigger bounds every micro-batch") {
    val f = mkFixture()
    f.append((0 until 20).map(i => s"m$i"))
    val sink = scala.collection.mutable.Buffer.empty[(Long, String, Long)]
    val counts = drain(f.stream(maxPerTrigger = 7), tmpDir() + "/ckpt", sink)
    assert(sink.size == 20)
    assert(counts.forall(_ <= 7), s"a batch exceeded the cap: $counts")
    assert(counts.size >= 3, s"expected >= ceil(20/7) batches: $counts")
  }

  test("contract: checkpoint resume processes appended messages exactly once") {
    val f = mkFixture()
    val ckpt = tmpDir() + "/ckpt"
    val sink = scala.collection.mutable.Buffer.empty[(Long, String, Long)]
    f.append((0 until 10).map(i => s"a$i"))
    drain(f.stream(), ckpt, sink)
    assert(sink.size == 10)
    f.append((0 until 10).map(i => s"b$i"))
    drain(f.stream(), ckpt, sink)
    val got = sink.sortBy(_._1)
    assert(got.size == 20, "resume must neither replay nor drop")
    assert(got.map(_._1) == (0L until 20L))
    assert(got.map(_._2) ==
      (0 until 10).map(i => s"a$i") ++ (0 until 10).map(i => s"b$i"))
  }

  test("contract: commits ack flushed LSNs to the transport, monotonically") {
    val f = mkFixture()
    val ckpt = tmpDir() + "/ckpt"
    val sink = scala.collection.mutable.Buffer.empty[(Long, String, Long)]
    f.append((0 until 6).map(i => s"x$i"))
    drain(f.stream(), ckpt, sink)
    // feedback trails by one epoch: run a second round so the first
    // round's epochs are certainly acked
    f.append((0 until 6).map(i => s"y$i"))
    drain(f.stream(), ckpt, sink)
    val acks = f.acked
    assert(acks.nonEmpty, "no feedback reached the transport")
    assert(acks == acks.sorted, s"feedback regressed: $acks")
    assert(acks.last >= 6L, s"first round never acked: $acks")
    assert(acks.last <= 12L, s"acked beyond delivered WAL: $acks")
  }

  test("contract: slot recreation under a live checkpoint fails fast, never replays from 0") {
    // The reference's --recreate-slot drops retained WAL and restarts
    // the slot at a fresh restart_lsn (slot.py:96-120). Its
    // checkpointless client just follows; THIS engine holds a durable
    // offset, and silently following would wait for the new WAL to
    // pass the old offset and then skip the recreated slot's first
    // records — data loss with a clean progress log. Contract: the
    // resumed query must HALT with the regression error; the operator
    // chooses a fresh checkpoint deliberately.
    val f = mkFixture()
    val ckpt = tmpDir() + "/ckpt"
    val sink = scala.collection.mutable.Buffer.empty[(Long, String, Long)]
    f.append((0 until 10).map(i => s"old$i"))
    drain(f.stream(), ckpt, sink)
    assert(sink.size == 10)
    // drop + recreate: the new WAL holds 3 messages at positions 0..2
    f.reset((0 until 3).map(i => s"new$i"))
    val e = intercept[Exception] {
      drain(f.stream(), ckpt, sink)
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage.contains("regressed")),
      s"expected the WAL-regression fail-fast, got: $e")
    assert(sink.size == 10,
      "no record of the recreated slot may be silently consumed or skipped")
    // a FRESH checkpoint consumes the recreated slot from its origin
    val sink2 = scala.collection.mutable.Buffer.empty[(Long, String, Long)]
    drain(f.stream(), tmpDir() + "/ckpt2", sink2)
    assert(sink2.sortBy(_._1).map(_._2) == (0 until 3).map(i => s"new$i"),
      "fresh checkpoint must see the new slot's WAL from position 0")
  }
}

/** File-backed transport (the tailed-file walsender stand-in). */
class CdcFileSourceContractSpec extends CdcSourceContractSpec {
  override def mkFixture(): CdcSourceFixture = new CdcSourceFixture {
    private val dir = Files.createTempDirectory("graft-file-src")
    private val path = dir.resolve("wal.jsonl")
    override def name: String = "cdc-file"
    override def append(payloads: Seq[String]): Unit =
      Files.write(path, payloads.mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    override def stream(maxPerTrigger: Long): DataFrame =
      spark.readStream
        .format(classOf[graft.sources.CdcFileSourceProvider].getName)
        .option("path", path.toString)
        .option("maxRecordsPerTrigger", maxPerTrigger.toString)
        .load()
    override def acked: Seq[Long] = {
      val fb = Paths.get(path.toString + ".feedback")
      if (!Files.exists(fb)) Seq.empty
      else new String(Files.readAllBytes(fb), StandardCharsets.UTF_8)
        .split("\n").filter(_.nonEmpty).map(_.toLong).toSeq
    }
    override def reset(payloads: Seq[String]): Unit =
      Files.write(path, payloads.mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }

  // ---- file transport edges: the byte-offset index and its reader ----

  import graft.sources.{CdcFileMicroBatchStream, CdcFileSource, LsnOffset}

  private def wal(): java.nio.file.Path =
    Files.createTempDirectory("graft-file-edge").resolve("wal.txt")

  private def write(p: java.nio.file.Path, text: String,
      mode: StandardOpenOption = StandardOpenOption.APPEND): Unit =
    Files.write(p, text.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, mode)

  /** Plan and read [start, end) on ONE live stream instance. */
  private def batch(s: CdcFileMicroBatchStream, start: Long, end: Long)
      : Seq[(Long, String, Long)] =
    s.planInputPartitions(LsnOffset(start), LsnOffset(end)).toSeq.flatMap {
      part =>
        val r = s.createReaderFactory().createReader(part)
        val out = scala.collection.mutable.Buffer.empty[(Long, String, Long)]
        try while (r.next()) {
          val row = r.get()
          out += ((row.getLong(1), row.getUTF8String(0).toString, row.getLong(2)))
        } finally r.close()
        out
    }

  private def head(s: CdcFileMicroBatchStream): Long =
    s.latestOffset().asInstanceOf[LsnOffset].lsn

  /** What BufferedReader.readLine makes of the same bytes. */
  private def readLines(p: java.nio.file.Path): Seq[String] = {
    val r = Files.newBufferedReader(p, StandardCharsets.UTF_8)
    try Iterator.continually(r.readLine()).takeWhile(_ != null).toSeq
    finally r.close()
  }

  test("file: a torn last line waits for its newline, then is read once, whole") {
    val p = wal()
    val s = new CdcFileMicroBatchStream(p.toString, Long.MaxValue)
    write(p, "a0\na1\n{\"torn\": ")
    assert(head(s) == 2L && CdcFileSource.lineCount(p.toString) == 2L)
    assert(batch(s, 0, 2).map(_._2) == Seq("a0", "a1"))
    assert(head(s) == 2L, "no newline yet: nothing more is admitted")
    write(p, "1}")
    assert(head(s) == 2L)
    write(p, "\na3\n")
    assert(head(s) == 4L)
    assert(batch(s, 2, 4) == Seq((2L, "{\"torn\": 1}", 11L), (3L, "a3", 2L)))
  }

  test("file: CRLF lines read as BufferedReader.readLine reads them") {
    val p = wal()
    write(p, "x\r\nyé\r\n\r\n\n{\"k\": \"v\"}\r\nz\n")
    val want = readLines(p)
    val s = new CdcFileMicroBatchStream(p.toString, Long.MaxValue)
    assert(head(s) == want.size.toLong)
    val got = batch(s, 0, want.size)
    assert(got.map(_._2) == want)
    assert(got.map(_._3) ==
      want.map(_.getBytes(StandardCharsets.UTF_8).length.toLong))
    val (it, h) = CdcFileSource.lineRange(p.toString, 1, 5)
    try assert(it.toSeq == want.slice(1, 5)) finally h.close()
  }

  test("file: resuming mid-file rebuilds the index, rows byte-identical") {
    val p = wal()
    val lines = (0 until 40).map(i => s"""{"n": $i, "s": "${"é" * (i % 5)}"}""")
    write(p, lines.take(17).map(_ + "\n").mkString)
    val ckpt = Files.createTempDirectory("graft-file-edge").toString
    def stream(cap: Long) = spark.readStream
      .format(classOf[graft.sources.CdcFileSourceProvider].getName)
      .option("path", p.toString)
      .option("maxRecordsPerTrigger", cap.toString).load()
    val got = scala.collection.mutable.Buffer.empty[(Long, String, Long)]
    drain(stream(6), ckpt, got)
    assert(got.size == 17)
    write(p, lines.drop(17).map(_ + "\r\n").mkString)
    drain(stream(5), ckpt, got) // a new stream instance: index rebuilt
    val fresh = scala.collection.mutable.Buffer.empty[(Long, String, Long)]
    drain(stream(Long.MaxValue), tmpDir() + "/ckpt", fresh)
    assert(got.sortBy(_._1) == fresh.sortBy(_._1))
    assert(fresh.sortBy(_._1).map(_._2) == lines)
  }

  test("file: a WAL truncated or replaced under a live stream fails fast") {
    def regressed(s: CdcFileMicroBatchStream): Unit = {
      val e = intercept[IllegalStateException](head(s))
      assert(e.getMessage.contains("regressed"), e.getMessage)
    }
    // truncated in place, then regrown past the indexed byte
    val p = wal()
    write(p, (0 until 10).map(i => s"old$i\n").mkString)
    val s = new CdcFileMicroBatchStream(p.toString, Long.MaxValue)
    assert(head(s) == 10L && batch(s, 0, 10).size == 10)
    write(p, "new0\n", StandardOpenOption.TRUNCATE_EXISTING)
    regressed(s)
    write(p, (1 until 30).map(i => s"new$i\n").mkString)
    assert(Files.size(p) > 50L)
    regressed(s)
    // replaced by a new file holding more than was indexed
    val q = wal()
    write(q, (0 until 10).map(i => s"old$i\n").mkString)
    val t = new CdcFileMicroBatchStream(q.toString, Long.MaxValue)
    assert(head(t) == 10L)
    val tmp = Files.createTempFile(q.getParent, "wal", ".tmp")
    write(tmp, (0 until 30).map(i => s"old$i\n").mkString,
      StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, q, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    regressed(t)
  }
}

/** Walsender-backed transport over a faked replication connection:
  * proves PgReplicationSource honors the identical contract without a
  * Postgres (the ReplicationStream seam is what a pgjdbc
  * PGReplicationStream adapter implements in production). */
class PgReplicationSourceContractSpec extends CdcSourceContractSpec {
  override def mkFixture(): CdcSourceFixture = new CdcSourceFixture {
    private val wal =
      new java.util.concurrent.CopyOnWriteArrayList[WalRecord]()
    private val flushes =
      new java.util.concurrent.CopyOnWriteArrayList[java.lang.Long]()
    private val connName =
      s"fake-${java.util.UUID.randomUUID().toString.take(8)}"
    PgReplicationSource.registerConnection(connName, () =>
      new ReplicationStream {
        override def headLsn(): Long = wal.size().toLong
        override def read(start: Long, end: Long): Iterator[WalRecord] = {
          import scala.jdk.CollectionConverters._
          // slot replay semantics: skip below start, stop at end
          wal.iterator().asScala.filter(r => r.lsn >= start && r.lsn < end)
        }
        override def flushed(lsn: Long): Unit = flushes.add(lsn)
      })
    override def name: String = "cdc-pg"
    override def append(payloads: Seq[String]): Unit =
      payloads.foreach(p => wal.add(WalRecord(wal.size().toLong, p)))
    override def stream(maxPerTrigger: Long): DataFrame =
      spark.readStream
        .format(classOf[graft.sources.PgReplicationSourceProvider].getName)
        .option("connection", connName)
        .option("maxRecordsPerTrigger", maxPerTrigger.toString)
        .load()
    override def acked: Seq[Long] = {
      import scala.jdk.CollectionConverters._
      flushes.iterator().asScala.map(_.toLong).toSeq
    }
    override def reset(payloads: Seq[String]): Unit = {
      wal.clear()
      append(payloads)
    }
  }
}
