package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.sources.{PgReplicationSource, ReplicationStream, WalRecord}
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** THE source contract, proven identically for every CDC transport:
  * LSN-range offsets (k-th message has lsn k, head = message count),
  * at-least-once with exactly-once across a checkpoint resume,
  * maxRecordsPerTrigger admission, and commit(end) → transport ack
  * (feedback may trail by one epoch — engine behavior), and the
  * test_decoding `begin_xid` carry across restarts. The file source and
  * the walsender-backed pg source run the SAME suite, so a job composed
  * on one transport behaves identically on the other.
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

  // ---- the test_decoding xid carry (begin_xid) ----

  /** A seeded test_decoding WAL: changes before any BEGIN, then
    * multi-change transactions over interleaved tables. */
  protected def carryWal(seed: Long, txs: Int): Seq[String] = {
    val r = new scala.util.Random(seed)
    val tables = Seq("public.a", "public.b", "audit.c")
    val ops = Seq("INSERT", "UPDATE", "DELETE")
    Seq("table public.a: INSERT: id[integer]:0", "COMMIT") ++
      (0 until txs).flatMap { t =>
        val xid = 700 + 3 * t + r.nextInt(3)
        (s"BEGIN $xid" +: (0 to r.nextInt(4)).map(c =>
          s"table ${tables(r.nextInt(3))}: ${ops(r.nextInt(3))}: " +
            s"id[integer]:${10 * t + c}")) :+ s"COMMIT $xid"
      }
  }

  /** (lsn, xid) of every message as `Cdc.parseTestDecoding` carries it:
    * `last(_xid_begin) OVER (ORDER BY lsn)`, -1 before any BEGIN. */
  protected def expectedCarry(wal: Seq[String]): Seq[(Long, Long)] = {
    import spark.implicits._
    val p = col("payload")
    val w = Window.orderBy(col("lsn"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wal.zipWithIndex.map { case (m, i) => (i.toLong, m) }
      .toDF("lsn", "payload")
      .withColumn("_xid_begin",
        when(p.startsWith("BEGIN "), split(p, " ").getItem(1).cast("long")))
      .select(col("lsn"),
        coalesce(last(col("_xid_begin"), ignoreNulls = true).over(w),
          lit(-1L)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
  }

  /** Run a new query from `ckpt` until `done`, keeping each batch's
    * (lsn, begin_xid) under its batch id, so a replayed batch
    * overwrites rather than duplicates. */
  protected def drainCarry(df: DataFrame, ckpt: String,
      sink: mutable.Map[Long, Seq[(Long, Long)]],
      trigger: Trigger = Trigger.ProcessingTime(0))(
      done: org.apache.spark.sql.streaming.StreamingQuery => Unit): Unit = {
    val q = df.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        val rows = batch.select("lsn", "begin_xid").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
        sink.synchronized { sink(id) = rows }
        ()
      }
      .start()
    try done(q) finally q.stop()
  }

  /** One micro-batch per query: the first trigger of an hourly trigger
    * runs at once, and the query stops when it has reported. */
  protected def oneBatchPerQuery(f: CdcSourceFixture, cap: Long, ckpt: String,
      lines: Int, sink: mutable.Map[Long, Seq[(Long, Long)]]): Int = {
    var queries = 0
    def delivered = sink.synchronized(sink.values.map(_.size).sum)
    while (delivered < lines) {
      assert(queries < 4 * lines, s"no progress after $queries queries")
      drainCarry(f.stream(cap), ckpt, sink,
        Trigger.ProcessingTime("1 hour")) { q =>
        val deadline = System.currentTimeMillis() + 60000
        while (q.isActive && q.recentProgress.isEmpty &&
          System.currentTimeMillis() < deadline) Thread.sleep(10)
        q.exception.foreach(e => throw e)
      }
      queries += 1
    }
    queries
  }

  protected def carried(sink: mutable.Map[Long, Seq[(Long, Long)]])
      : Seq[(Long, Long)] = sink.values.flatten.toSeq.sorted

  /** Drain `wal` with caps 1, 2 and 3, restarting after every batch;
    * every message arrives once, with the carry the batch parser
    * computes. */
  protected def assertCarryAcrossRestarts(fixture: () => CdcSourceFixture)
      : Unit = {
    val wal = carryWal(seed = 7, txs = 4)
    val want = expectedCarry(wal)
    assert(want.exists(_._2 == -1L) && want.map(_._2).distinct.size > 4)
    for (cap <- 1L to 3L) {
      val f = fixture()
      f.append(wal)
      val sink = mutable.Map.empty[Long, Seq[(Long, Long)]]
      val queries = oneBatchPerQuery(f, cap, tmpDir() + "/ckpt", wal.size, sink)
      assert(queries >= wal.size / cap, s"cap $cap: only $queries restarts")
      assert(carried(sink) == want, s"cap $cap")
    }
  }

  test("contract: begin_xid carries the last BEGIN across restarts, exactly once") {
    assertCarryAcrossRestarts(() => mkFixture())
  }

  test("contract: begin_xid restores from offsets written as {\"lsn\":N}") {
    val f = mkFixture()
    val wal = carryWal(seed = 11, txs = 4)
    // cut inside the third transaction, after its BEGIN and one change
    val cut = wal.indices.filter(i => wal(i).startsWith("BEGIN "))(2) + 2
    val ckpt = tmpDir() + "/ckpt"
    val sink = mutable.Map.empty[Long, Seq[(Long, Long)]]
    f.append(wal.take(cut))
    drainCarry(f.stream(2), ckpt, sink)(_.processAllAvailable())
    val offsets = {
      val l = Files.list(Paths.get(ckpt, "offsets"))
      try l.iterator().asScala.toSeq finally l.close()
    }
    var rewritten = 0
    offsets.foreach { o =>
      if (o.getFileName.toString.endsWith(".crc")) Files.delete(o)
      else {
        val text = new String(Files.readAllBytes(o), StandardCharsets.UTF_8)
        val old = text.replaceAll("\\{\"lsn\":(\\d+),\"xid\":-?\\d+\\}",
          "{\"lsn\":$1}")
        if (old != text) rewritten += 1
        Files.write(o, old.getBytes(StandardCharsets.UTF_8))
      }
    }
    assert(rewritten > 0, s"no offset rewritten in $offsets")
    f.append(wal.drop(cut))
    drainCarry(f.stream(2), ckpt, sink)(_.processAllAvailable())
    assert(carried(sink) == expectedCarry(wal))
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
        .format(classOf[graft.sources.CdcSourceProvider].getName)
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

  import graft.sources.{CdcFileSource, CdcMicroBatchStream, FileTransport, LsnOffset}

  private def wal(): java.nio.file.Path =
    Files.createTempDirectory("graft-file-edge").resolve("wal.txt")

  private def write(p: java.nio.file.Path, text: String,
      mode: StandardOpenOption = StandardOpenOption.APPEND): Unit =
    Files.write(p, text.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, mode)

  /** Plan and read [start, end) on ONE live stream instance. */
  private def batch(s: CdcMicroBatchStream, start: Long, end: Long)
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

  /** A stream over the file at `p`, outside any query. */
  private def fileStream(p: java.nio.file.Path): CdcMicroBatchStream =
    new CdcMicroBatchStream(new FileTransport(p.toString), Long.MaxValue)

  private def head(s: CdcMicroBatchStream): Long =
    s.latestOffset().asInstanceOf[LsnOffset].lsn

  /** What BufferedReader.readLine makes of the same bytes. */
  private def readLines(p: java.nio.file.Path): Seq[String] = {
    val r = Files.newBufferedReader(p, StandardCharsets.UTF_8)
    try Iterator.continually(r.readLine()).takeWhile(_ != null).toSeq
    finally r.close()
  }

  test("file: a torn last line waits for its newline, then is read once, whole") {
    val p = wal()
    val s = fileStream(p)
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
    val s = fileStream(p)
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
      .format(classOf[graft.sources.CdcSourceProvider].getName)
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
    def regressed(s: CdcMicroBatchStream): Unit = {
      val e = intercept[IllegalStateException](head(s))
      assert(e.getMessage.contains("regressed"), e.getMessage)
    }
    // truncated in place, then regrown past the indexed byte
    val p = wal()
    write(p, (0 until 10).map(i => s"old$i\n").mkString)
    val s = fileStream(p)
    assert(head(s) == 10L && batch(s, 0, 10).size == 10)
    write(p, "new0\n", StandardOpenOption.TRUNCATE_EXISTING)
    regressed(s)
    write(p, (1 until 30).map(i => s"new$i\n").mkString)
    assert(Files.size(p) > 50L)
    regressed(s)
    // replaced by a new file holding more than was indexed
    val q = wal()
    write(q, (0 until 10).map(i => s"old$i\n").mkString)
    val t = fileStream(q)
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
  override def mkFixture(): CdcSourceFixture = fixture(dropFlushed = false)

  /** `dropFlushed`: the slot no longer serves records an ack covers, as
    * the pgjdbc adapter trims its buffer at each `flushed`. */
  private def fixture(dropFlushed: Boolean) = new CdcSourceFixture {
    private val wal =
      new java.util.concurrent.CopyOnWriteArrayList[WalRecord]()
    private val flushes =
      new java.util.concurrent.CopyOnWriteArrayList[java.lang.Long]()
    @volatile private var floor = 0L
    private val connName =
      s"fake-${java.util.UUID.randomUUID().toString.take(8)}"
    PgReplicationSource.registerConnection(connName, () =>
      new ReplicationStream {
        override def headLsn(): Long = wal.size().toLong
        override def read(start: Long, end: Long): Iterator[WalRecord] = {
          import scala.jdk.CollectionConverters._
          // slot replay semantics: skip below start, stop at end
          val from = if (dropFlushed) math.max(start, floor) else start
          wal.iterator().asScala.filter(r => r.lsn >= from && r.lsn < end)
        }
        override def flushed(lsn: Long): Unit = {
          flushes.add(lsn)
          floor = math.max(floor, lsn)
        }
      })
    override def name: String = "cdc-pg"
    override def append(payloads: Seq[String]): Unit =
      payloads.foreach(p => wal.add(WalRecord(wal.size().toLong, p)))
    override def stream(maxPerTrigger: Long): DataFrame =
      spark.readStream
        .format(classOf[graft.sources.CdcSourceProvider].getName)
        .option("connection", connName)
        .option("maxRecordsPerTrigger", maxPerTrigger.toString)
        .load()
    override def acked: Seq[Long] = {
      import scala.jdk.CollectionConverters._
      flushes.iterator().asScala.map(_.toLong).toSeq
    }
    override def reset(payloads: Seq[String]): Unit = {
      wal.clear()
      floor = 0L
      append(payloads)
    }
  }

  test("pg: the carry comes from the offset once the slot drops acked records") {
    assertCarryAcrossRestarts(() => fixture(dropFlushed = true))
  }
}
