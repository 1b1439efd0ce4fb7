package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** THE source contract, proven identically for every CDC transport:
  * LSN-range offsets (each message at the LSN its transport assigned:
  * the line number of the file, a sparse byte position of the
  * walsender model), at-least-once with exactly-once across a checkpoint resume,
  * maxRecordsPerTrigger admission, and commit(end) → transport ack
  * (feedback may trail by one epoch — engine behavior), and the
  * test_decoding `begin_xid` carry across restarts. The file source and
  * the walsender-backed pg source run the SAME suite, so a job composed
  * on one transport behaves identically on the other.
  */
trait CdcSourceFixture {
  def name: String
  /** Extend the WAL with payload messages. */
  def append(payloads: Seq[String]): Unit
  /** The LSN of every message in the WAL, in order. */
  def lsns: Seq[Long]
  /** Fresh readStream DataFrame over this transport. */
  def stream(maxPerTrigger: Long = Long.MaxValue): DataFrame
  /** LSNs the transport has been told are flushed (K2 acks). */
  def acked: Seq[Long]
  /** DROP-AND-RECREATE the slot under the consumer: the WAL restarts
    * from its origin holding only `payloads` (the new slot's fresh
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
    assert(got.map(_._1) == f.lsns)
    assert(got.map(_._2) == msgs)
    assert(got.forall { case (_, p, sz) =>
      sz == p.getBytes(StandardCharsets.UTF_8).length.toLong })
  }

  test("contract: maxRecordsPerTrigger bounds every micro-batch") {
    val f = mkFixture()
    f.append((0 until 20).map(i => s"m$i"))
    val sink = scala.collection.mutable.Buffer.empty[(Long, String, Long)]
    val counts = drain(f.stream(maxPerTrigger = 7), tmpDir() + "/ckpt", sink)
    assert(sink.sortBy(_._1).map(_._1) == f.lsns)
    // the cap counts records, whatever the LSN gaps between them
    assert(counts == Seq(7L, 7L, 6L), s"batch sizes: $counts")
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
    assert(got.map(_._1) == f.lsns)
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
    // an offset is one past its last record's LSN
    assert(acks.last >= f.lsns(5) + 1, s"first round never acked: $acks")
    assert(acks.last <= f.lsns(11) + 1, s"acked beyond delivered WAL: $acks")
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
    * `last(_xid_begin) OVER (ORDER BY lsn)`, -1 before any BEGIN; the
    * messages sit at `lsns`. */
  protected def expectedCarry(wal: Seq[String], lsns: Seq[Long])
      : Seq[(Long, Long)] = {
    import spark.implicits._
    val p = col("payload")
    val w = Window.orderBy(col("lsn"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lsns.zip(wal).toDF("lsn", "payload")
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

  // A fresh stream reports no offset while the WAL is empty, so the
  // first trigger plans no batch and the first records land in batch 0.
  test("contract: a query started before the first append begins at batch 0, with records") {
    val f = mkFixture()
    val sink = mutable.Map.empty[Long, Seq[(Long, Long)]]
    drainCarry(f.stream(), tmpDir() + "/ckpt", sink) { q =>
      val deadline = System.currentTimeMillis() + 60000
      while (q.status.message != "Waiting for data to arrive" &&
        System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(q.status.message == "Waiting for data to arrive", q.status)
      f.append((0 until 5).map(i => s"late$i"))
      q.processAllAvailable()
      // an idle trigger reports progress too, without running a batch
      val ran = q.recentProgress.filter(_.durationMs.containsKey("addBatch"))
        .map(p => p.batchId -> p.numInputRows).toSeq
      assert(ran.headOption.exists { case (id, n) => id == 0 && n > 0 },
        s"batches run (id, input rows): $ran")
    }
    assert(sink.keys.min == 0L, s"batches: ${sink.keys.toSeq.sorted}")
    assert(sink.values.forall(_.nonEmpty), s"an empty batch: $sink")
    assert(carried(sink).map(_._1) == f.lsns)
  }

  // Drain a WAL with caps 1, 2 and 3, restarting after every batch:
  // every message arrives once, with the carry the batch parser
  // computes.
  test("contract: begin_xid carries the last BEGIN across restarts, exactly once") {
    val wal = carryWal(seed = 7, txs = 4)
    for (cap <- 1L to 3L) {
      val f = mkFixture()
      f.append(wal)
      val want = expectedCarry(wal, f.lsns)
      assert(want.exists(_._2 == -1L) && want.map(_._2).distinct.size > 4)
      val sink = mutable.Map.empty[Long, Seq[(Long, Long)]]
      val queries = oneBatchPerQuery(f, cap, tmpDir() + "/ckpt", wal.size, sink)
      assert(queries >= wal.size / cap, s"cap $cap: only $queries restarts")
      assert(carried(sink) == want, s"cap $cap")
    }
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
    assert(carried(sink) == expectedCarry(wal, f.lsns))
  }
}

/** File-backed transport (the tailed-file walsender stand-in). */
class CdcFileSourceContractSpec extends CdcSourceContractSpec {
  override def mkFixture(): CdcSourceFixture = new CdcSourceFixture {
    private val dir = Files.createTempDirectory("graft-file-src")
    private val path = dir.resolve("wal.jsonl")
    private var lines = 0
    override def name: String = "cdc-file"
    override def append(payloads: Seq[String]): Unit = {
      Files.write(path, payloads.mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      lines += payloads.size
    }
    override def lsns: Seq[Long] = (0L until lines.toLong)
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
    override def reset(payloads: Seq[String]): Unit = {
      Files.write(path, payloads.mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      lines = payloads.size
    }
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


/** The walsender transport over [[WalsenderModel]]: one stream per
  * slot, sparse LSNs, asynchronous delivery and resend from the
  * confirmed flush LSN, so the transport meets the same contract as
  * the file without a Postgres. */
class PgReplicationSourceContractSpec extends CdcSourceContractSpec {
  import graft.sources.{CdcMicroBatchStream, LsnOffset, PgReplicationPartition, ReplicationTransport}

  private def load(conn: String, maxPerTrigger: Long): DataFrame =
    spark.readStream
      .format(classOf[graft.sources.CdcSourceProvider].getName)
      .option("connection", conn)
      .option("maxRecordsPerTrigger", maxPerTrigger.toString)
      .load()

  override def mkFixture(): CdcSourceFixture = new CdcSourceFixture {
    private val model = new WalsenderModel()
    private val conn = WalsenderModel.register(model)
    override def name: String = "cdc-pg"
    override def append(payloads: Seq[String]): Unit = model.write(payloads)
    override def lsns: Seq[Long] = model.lsns
    // a query that failed may still be closing its stream: wait for the
    // slot to be released, as an operator restarting the job would
    override def stream(maxPerTrigger: Long): DataFrame = {
      val deadline = System.currentTimeMillis() + 10000
      while (model.isActive && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      load(conn, maxPerTrigger)
    }
    override def acked: Seq[Long] = model.acked
    override def reset(payloads: Seq[String]): Unit = model.recreate(payloads)
  }

  test("pg: a second stream on an active slot is refused") {
    val model = new WalsenderModel("busy")
    val s = model.open()
    val e = intercept[java.sql.SQLException](model.open())
    assert(e.getMessage.contains("replication slot \"busy\" is active"))
    s.close()
    model.open().close()
  }

  test("pg: one connection per stream, and each record is polled from it once") {
    val model = new WalsenderModel()
    val conn = WalsenderModel.register(model)
    // test_decoding prints text values raw: a payload may hold a newline
    val msgs = (0 until 17).map(i => s"table public.t: INSERT: v[text]:'a$i\nb'")
    model.write(msgs)
    val sink = scala.collection.mutable.Buffer.empty[(Long, String, Long)]
    val counts = drain(load(conn, 3), tmpDir() + "/ckpt", sink)
    assert(counts == Seq(3L, 3L, 3L, 3L, 3L, 2L), s"batch sizes: $counts")
    assert(sink.sortBy(_._1).map(r => (r._1, r._2)) == model.lsns.zip(msgs))
    assert(model.connections == 1)
    assert(model.deliveries == model.lsns.map(l => (1, l)),
      "every record polled once, in order, from the one connection")
  }

  /** A stream over `model` outside any query, capped at `cap`. */
  private def modelStream(model: WalsenderModel, cap: Long) =
    new CdcMicroBatchStream(
      new ReplicationTransport(WalsenderModel.register(model), cap), cap)

  private def records(s: CdcMicroBatchStream, start: LsnOffset,
      end: LsnOffset): Seq[Long] =
    s.planInputPartitions(start, end).toSeq.flatMap(
      _.asInstanceOf[PgReplicationPartition].records.map(_.lsn))

  test("pg: nothing is admitted until the walsender sends, and unread records stay in the slot") {
    val model = new WalsenderModel(autoSend = false)
    val s = modelStream(model, 4)
    try {
      val lsns = model.write((0 until 10).map(i => s"m$i"))
      val start = s.initialOffset().asInstanceOf[LsnOffset]
      assert(s.latestOffset(start, s.getDefaultReadLimit) == null)
      model.send()
      val end = s.latestOffset(start, s.getDefaultReadLimit)
        .asInstanceOf[LsnOffset]
      assert(end.lsn == lsns(3) + 1)
      assert(model.deliveries.size == 4, "polling stops at the cap")
      assert(records(s, start, end) == lsns.take(4))
    } finally s.stop()
  }

  test("pg: a batch replanned after a restart waits for the resend, and never plans fewer records") {
    val model = new WalsenderModel(autoSend = false)
    val lsns = model.write((0 until 10).map(i => s"r$i"))
    val start = LsnOffset(0L)
    // a first run admits [0, end) and stops before the commit
    val end = {
      val s = modelStream(model, 4)
      try {
        assert(s.latestOffset(start, s.getDefaultReadLimit) == null)
        model.send()
        s.latestOffset(start, s.getDefaultReadLimit).asInstanceOf[LsnOffset]
      } finally s.stop()
    }
    // the restarted stream replans the same batch; the slot resends late
    val s = modelStream(model, 4)
    val sender = new Thread(() => {
      while (!model.isActive) Thread.sleep(5)
      Thread.sleep(300)
      model.send()
    })
    try {
      s.deserializeOffset(end.json)
      sender.start()
      assert(records(s, start, end) == lsns.take(4))
    } finally { sender.join(); s.stop() }
    // a slot acked past the batch does not resend it: the replan fails
    val t = modelStream(model, 4)
    try t.commit(end) finally t.stop()
    val u = modelStream(model, 4)
    try {
      u.deserializeOffset(end.json)
      val e = intercept[IllegalStateException](records(u, start, end))
      assert(e.getMessage.contains("regressed"), e.getMessage)
    } finally u.stop()
  }
}
