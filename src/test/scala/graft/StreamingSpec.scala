package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.catalog.PkCatalog
import graft.core.PrimaryKeyMapItem
import org.apache.spark.sql.functions.{col, split}
import graft.streaming.{KplAggregate, LocalFilePutClient, PutClient}

/** End-to-end Structured Streaming specs for the CDC pipeline:
  * source offsets/commit, ordered sink, backpressure, checkpoint
  * resume, throttling retry, observed metrics.
  */
class StreamingSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-stream").toString

  private lazy val cat = PkCatalog.fromItems(spark, Seq(
    PrimaryKeyMapItem("public.species", "id", "integer", 1)))

  private def walLine(xid: Int, op: String, id: Int): String =
    s"""{"xid": $xid, "change": [{"kind": "$op", "schema": "public",""" +
      s""" "table": "species", "columnnames": ["id"],""" +
      s""" "columntypes": ["integer"], "columnvalues": [$id]}]}"""

  private def writeSource(dir: String, lines: Seq[String]): String = {
    val p = Paths.get(dir, "wal.jsonl")
    Files.write(p, lines.mkString("\n").concat("\n")
      .getBytes(StandardCharsets.UTF_8))
    p.toString
  }

  /** KCL-side view of the sink: deaggregate every put, in order. */
  private def sinkUserRecords(sinkDir: String): Seq[(String, String)] = {
    val d = Paths.get(sinkDir)
    if (!Files.exists(d)) return Seq.empty
    Files.list(d).iterator().asScala.toSeq.sortBy(_.getFileName.toString)
      .flatMap(f => KplAggregate.decode(Files.readAllBytes(f)))
      .map { case (pk, data) =>
        (pk, new String(data, StandardCharsets.UTF_8))
      }
  }

  private def sinkRecords(sinkDir: String): Seq[String] =
    sinkUserRecords(sinkDir).map(_._2)

  /** The wal2json job, operations `insert`, formatter CSVPayload. */
  private def startJob(src: String, dir: String,
      maxRecordsPerTrigger: Long = Long.MaxValue,
      putClient: PutClient = null) =
    GraftJob.start(spark, GraftConfig(src, s"$dir/sink", s"$dir/ckpt",
      formatter = "CSVPayload", operations = Seq("insert"),
      sendWindowSecs = 0, maxRecordsPerTrigger = maxRecordsPerTrigger),
      cat, putClient = putClient)

  test("end-to-end: parse, gate, format, ordered sink, LSN feedback") {
    val dir = tmp()
    val src = writeSource(dir,
      (0 until 20).map(i => walLine(100 + i,
        if (i % 2 == 0) "insert" else "delete", i)))
    val q = startJob(src, dir)
    q.processAllAvailable()
    val progress = q.lastProgress
    // the engine acks epoch N to the source only when batch N+1 runs —
    // feedback trails by one epoch (still at-least-once, like the
    // reference). Drive one more batch with a gated-out record.
    Files.write(Paths.get(src),
      (walLine(999, "update", 999) + "\n").getBytes(StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.APPEND)
    q.processAllAvailable()
    val fbPath = Paths.get(s"$src.feedback")
    val deadline = System.currentTimeMillis() + 10000
    while (!Files.exists(fbPath) && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    q.stop()

    val recs = sinkRecords(s"$dir/sink")
    // only the 10 inserts survive the gate, in LSN (= commit) order
    assert(recs.size == 10)
    assert(recs.head.startsWith("0,CDC,{\"xid\":100,"))
    val xids = recs.map(r => "\"xid\":(\\d+)".r.findFirstMatchIn(r).get
      .group(1).toInt)
    assert(xids == xids.sorted, s"sink records out of order: $xids")
    assert(recs.forall(_.contains("\"operation\":\"insert\"")))
    // feedback (slot ack) advanced to the final LSN
    val fb = new String(Files.readAllBytes(Paths.get(s"$src.feedback")),
      StandardCharsets.UTF_8).trim.split("\n").last.toLong
    assert(fb >= 20L, s"feedback LSN $fb has not reached epoch end 20")
    // observed running metrics (A3) surfaced on progress
    assert(progress.observedMetrics.containsKey("cdc_metrics"))
  }

  test("backpressure: maxRecordsPerTrigger splits into micro-batches") {
    val dir = tmp()
    val src = writeSource(dir,
      (0 until 20).map(i => walLine(i, "insert", i)))
    val q = startJob(src, dir, maxRecordsPerTrigger = 5)
    q.processAllAvailable()
    q.stop()
    assert(sinkRecords(s"$dir/sink").size == 20)
    // 20 lines / 5 per trigger => at least 4 committed epochs
    val commits = Files.list(Paths.get(s"$dir/ckpt/commits")).count()
    assert(commits >= 4, s"expected >=4 epochs, got $commits")
  }

  test("checkpoint resume: appended lines processed exactly once") {
    val dir = tmp()
    val src = writeSource(dir, (0 until 5).map(i => walLine(i, "insert", i)))
    val q1 = startJob(src, dir)
    q1.processAllAvailable(); q1.stop()
    assert(sinkRecords(s"$dir/sink").size == 5)
    // append 5 more lines, restart from the same checkpoint
    Files.write(Paths.get(src),
      ((5 until 10).map(i => walLine(i, "insert", i)).mkString("\n") + "\n")
        .getBytes(StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.APPEND)
    val q2 = startJob(src, dir)
    q2.processAllAvailable(); q2.stop()
    val recs = sinkRecords(s"$dir/sink")
    assert(recs.size == 10, s"expected 10 records, got ${recs.size}")
    val xids = recs.map(r => "\"xid\":(\\d+)".r.findFirstMatchIn(r).get
      .group(1).toInt)
    assert(xids.distinct.size == 10, "duplicate delivery after resume")
  }

  test("throttling: injected failures are retried with backoff") {
    val dir = tmp()
    val src = writeSource(dir,
      (0 until 6).map(i => walLine(i, "insert", i)))
    // tiny aggregate size => one put per record; every 2nd put throttles
    val client = new LocalFilePutClient(s"$dir/sink", failFirstAttemptEvery = 2)
    val q = startJob(src, dir, putClient = client)
    q.processAllAvailable()
    q.stop()
    assert(sinkRecords(s"$dir/sink").size == 6)
  }

  test("every feedback ack logs its LSN, like the reference") {
    // reference __main__.py:103-104: logger.info('Flushed LSN: {}') on
    // each send_feedback — the graft ack path (MicroBatchStream.commit
    // → flushed) emits the same line through the injectable hook
    import graft.sources.CdcSource
    val logged = new java.util.concurrent.CopyOnWriteArrayList[Long]()
    val orig = CdcSource.logFlushed
    CdcSource.logFlushed = lsn => { logged.add(lsn); () }
    try {
      val dir = tmp()
      val src = writeSource(dir,
        (0 until 4).map(i => walLine(800 + i, "insert", i)))
      val q = startJob(src, dir)
      q.processAllAvailable()
      // the ack trails by one epoch: append more WAL so a later batch
      // commits the earlier one (same at-least-once lag as production)
      Files.write(Paths.get(src),
        (4 until 6).map(i => walLine(800 + i, "insert", i))
          .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.APPEND)
      q.processAllAvailable(); q.stop()
      import scala.jdk.CollectionConverters._
      val acks = logged.iterator().asScala.toSeq
      assert(acks.nonEmpty, "no Flushed LSN lines")
      // the logged LSNs are exactly the feedback-file acks, in order
      val feedback = Files.readAllLines(Paths.get(s"$src.feedback"))
        .asScala.map(_.trim.toLong).toSeq
      assert(acks == feedback, s"log $acks != feedback $feedback")
    } finally CdcSource.logFlushed = orig
  }

  test("progress window reproduces the reference's 10 s log cadence") {
    // reference __main__.py:106-115: emit iff int_time % 10 == 0 AND
    // != the last emission's window; emission resets window counters,
    // never cumulative ones; xid carries the latest transaction seen.
    import graft.streaming.ProgressWindow
    val times = Iterator(9L, 10L, 10L, 11L, 20L, 23L, 33L)
    val w = new ProgressWindow(() => times.next())
    assert(w.record(700, 3, 1048576L).isEmpty, "t=9: gate closed")
    val l1 = w.record(701, 2, 1048576L)
    assert(l1.contains("xid:          701 win_count:         5 " +
      "win_size:    2.0000mb cum_count:         5 cum_size:    2.0000mb"),
      s"got $l1")
    assert(w.record(0, 1, 0).isEmpty, "t=10 twice: same window, no re-log")
    assert(w.record(0, 1, 0).isEmpty, "t=11: gate closed")
    val l2 = w.record(0, 0, 0)
    assert(l2.contains("xid:          701 win_count:         2 " +
      "win_size:    0.0000mb cum_count:         7 cum_size:    2.0000mb"),
      s"window must reset on emit, cum must not: $l2")
    // t=23: off-boundary completion inside the already-logged window
    // 20 — accumulates silently
    assert(w.record(0, 4, 0).isEmpty, "t=23: same window as t=20")
    // t=33: off-boundary completion, but the 30 s boundary has passed
    // since the last emission — a 13 s trigger whose batches land at
    // 13, 26, 39... must still log once per crossed window (the
    // reference evaluates its gate per message, so a flowing stream
    // never misses a boundary)
    val l3 = w.record(0, 1, 0)
    assert(l3.exists(_.contains("win_count:         5")),
      s"off-boundary batch after a crossed boundary must log: $l3")
  }

  test("progress listener logs the reference line from observed metrics") {
    val lines = new java.util.concurrent.CopyOnWriteArrayList[String]()
    var t = 0L
    // clock always lands on a fresh 10 s boundary => every batch logs
    val listener = new graft.streaming.CdcProgressListener(
      line => { lines.add(line); () },
      new graft.streaming.ProgressWindow(() => { t += 10; t }))
    spark.streams.addListener(listener)
    try {
      val dir = tmp()
      // two waves => two micro-batches: the first record() only anchors
      // the window (the reference never logs at startup), the second
      // crosses a boundary and emits.
      val src = writeSource(dir,
        (0 until 3).map(i => walLine(600 + i, "insert", i)))
      val q = startJob(src, dir)
      q.processAllAvailable()
      writeSource(dir, (0 until 5).map(i => walLine(600 + i, "insert", i)))
      q.processAllAvailable()
      // listener bus is async: wait for delivery
      val deadline = System.currentTimeMillis() + 15000
      while (lines.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      q.stop()
      import scala.jdk.CollectionConverters._
      val got = lines.iterator().asScala.toSeq
      assert(got.nonEmpty, "no progress line emitted")
      assert(got.forall(_.matches(
        "xid: +\\d+ win_count: +\\d+ win_size: +[\\d.]+mb" +
          " cum_count: +\\d+ cum_size: +[\\d.]+mb")), s"format drift: $got")
      assert(got.exists(l => l.contains("xid:          604") &&
        l.contains("cum_count:         5")),
        s"expected the 5 raw changes and last xid 604 to surface: $got")
    } finally spark.streams.removeListener(listener)
  }

  test("foreachBatch replay is idempotent on the local file client") {
    // A failed/restarted foreachBatch re-runs the SAME batchId with
    // the same (deterministically sorted) rows. The file client keys
    // deliveries on (batchId, position-in-batch), so the replay
    // overwrites the same paths with identical bytes — no duplicate
    // records. (The real-Kinesis path has no such key and stays
    // at-least-once, the reference's own contract.)
    import graft.streaming.OrderedAggregatingWriter
    import spark.implicits._
    val dir = tmp()
    val client = new LocalFilePutClient(s"$dir/sink")
    val writer = new OrderedAggregatingWriter(client, maxAggBytes = 64)
    val batch = (0 until 6).map(i =>
      (i.toLong, s"$i,CDC,${100 + i},public.t,insert,$i", (100 + i).toLong))
      .toDF("lsn", "fmt_msg", "xid")
    writer.writeBatch(batch, 7L)
    def shard(): Map[String, Seq[Byte]] = {
      val d = Paths.get(s"$dir/sink")
      Files.list(d).iterator().asScala.toSeq
        .map(f => f.getFileName.toString -> Files.readAllBytes(f).toSeq)
        .toMap
    }
    val first = shard()
    assert(first.nonEmpty)
    assert(first.keySet.forall(_.startsWith("rec-000000007-")),
      s"files must be batchId-keyed, got ${first.keySet}")
    writer.writeBatch(batch, 7L) // replay of the same epoch
    assert(shard() == first,
      "replaying batch 7 must leave the shard byte-identical")
    // a NEW batch id appends, it does not overwrite
    writer.writeBatch(batch.limit(2), 8L)
    assert(shard().size > first.size)
    assert(sinkRecords(s"$dir/sink").size == 8, "6 originals + 2 new")
  }

  test("a lanes=1 batch whose LSN decreases fails and names both LSNs") {
    // the ordered sink reads the batch in source order and does not
    // sort it: a decrease must fail the batch, never reach the shard
    import graft.streaming.OrderedAggregatingWriter
    import spark.implicits._
    val dir = tmp()
    val writer = new OrderedAggregatingWriter(
      new LocalFilePutClient(s"$dir/sink"))
    val batch = Seq((5L, "a", 1L), (9L, "b", 1L), (7L, "c", 2L), (8L, "d", 2L))
      .toDF("lsn", "fmt_msg", "xid")
    val e = intercept[Exception](writer.writeBatch(batch, 0L))
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    val ise = causes(e).collectFirst { case i: IllegalStateException => i }
      .getOrElse(fail(s"expected an IllegalStateException, got $e"))
    assert(ise.getMessage.contains("LSN 7") && ise.getMessage.contains("LSN 9"),
      ise.getMessage)
    assert(!Files.exists(Paths.get(s"$dir/sink")), "nothing may be delivered")
  }

  test("an ordered batch over 8 partitions delivers the aggregates of the LSN sort") {
    // the sink's source-order read against a coalesce(1) + LSN sort of
    // the same rows: byte-identical aggregates
    import graft.streaming.{OrderedAggregatingWriter, RecordAggregator}
    import org.apache.spark.sql.functions.{concat, lit, repeat, when}
    val dir = tmp()
    val batch = spark.range(0, 400, 1, 8).select(
      (col("id") * 3).as("lsn"),
      when(col("id") % 5 =!= 0, concat(lit("é,CDC,"), col("id").cast("string"),
        repeat(lit("x"), (col("id") % 13).cast("int")))).as("fmt_msg"),
      (col("id") / 7).cast("long").as("xid"))
    assert(batch.rdd.getNumPartitions == 8)
    new OrderedAggregatingWriter(new LocalFilePutClient(s"$dir/sink"),
      maxAggBytes = 200).writeBatch(batch, 4L)
    val agg = new RecordAggregator(200)
    val sorted = batch.coalesce(1).sortWithinPartitions("lsn").collect()
      .filter(!_.isNullAt(1))
      .flatMap(r => agg.add(r.getLong(2).toString,
        r.getString(1).getBytes(StandardCharsets.UTF_8)))
      .toSeq :+ agg.clearAndGet()
    val d = Paths.get(s"$dir/sink")
    val delivered = Files.list(d).iterator().asScala.toSeq
      .map(_.getFileName.toString).sorted
    assert(delivered == sorted.indices.map(i => f"rec-000000004-$i%06d"))
    assert(sorted.size > 10, s"want many aggregates, got ${sorted.size}")
    delivered.zip(sorted).foreach { case (name, want) =>
      assert(Files.readAllBytes(d.resolve(name)).sameElements(want), name)
    }
  }

  test("the local file client rejects a put before any beginBatch") {
    val dir = tmp()
    val client = new LocalFilePutClient(s"$dir/sink")
    val e = intercept[IllegalStateException](client.put(0L, Array[Byte](1)))
    assert(e.getMessage.contains("before beginBatch"), e.getMessage)
    assert(!Files.exists(Paths.get(s"$dir/sink")), "nothing may be written")
  }

  test("non-throughput sink errors re-raise immediately, no backoff retry") {
    // reference stream.py:67-69: only ProvisionedThroughputExceeded
    // enters the backoff loop; any other client error re-raises at
    // once — retrying an auth/validation failure 60 s deep would only
    // delay the halt the reference's contract promises
    import graft.streaming.{OrderedAggregatingWriter, PutClient}
    import spark.implicits._
    // static counter: the client is SERIALIZED into the task closure,
    // so an instance field would count on the task's copy only
    DeniedPutCounter.n.set(0)
    val denied = new PutClient {
      override def put(seq: Long, data: Array[Byte]): Unit = {
        DeniedPutCounter.n.incrementAndGet()
        throw new RuntimeException("AccessDeniedException (simulated)")
      }
      override def deliveredCount(): Long = 0L
    }
    val writer = new OrderedAggregatingWriter(denied,
      backoffBaseMs = 1000, backoffLimitMs = 60000)
    val batch = Seq((0L, "0,CDC,1,public.t,insert,1", 1L))
      .toDF("lsn", "fmt_msg", "xid")
    val t0 = System.nanoTime()
    intercept[Exception] { writer.writeBatch(batch, 0L) }
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    val attempts = DeniedPutCounter.n.get()
    assert(attempts == 1, s"non-throughput error was retried $attempts times")
    assert(elapsedMs < 30000, // far under even ONE 1000 ms backoff round-trip
      f"writeBatch took $elapsedMs%.0f ms — it slept in the backoff path")
  }

  test("throttling: backoff exhaustion hard-fails like the reference") {
    // reference stream.py:73-74: when the backoff budget is spent the
    // exception propagates and the job halts — delivery must never
    // silently drop a record
    import graft.streaming.{OrderedAggregatingWriter, PutClient, ThrottlingException}
    import spark.implicits._
    val alwaysThrottled = new PutClient {
      override def put(seq: Long, data: Array[Byte]): Unit =
        throw new ThrottlingException("permanent throttle")
      override def deliveredCount(): Long = 0L
    }
    val writer = new OrderedAggregatingWriter(alwaysThrottled,
      backoffBaseMs = 1, backoffLimitMs = 5)
    val batch = Seq((0L, "0,CDC,1,public.t,insert,1", 1L))
      .toDF("lsn", "fmt_msg", "xid")
    val e = intercept[Exception] { writer.writeBatch(batch, 0L) }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(e).exists(_.isInstanceOf[ThrottlingException]),
      s"expected ThrottlingException in cause chain, got $e")
  }

  test("test_decoding xid carry survives a micro-batch boundary") {
    val dir = tmp()
    val src = writeSource(dir, Seq(
      "BEGIN 500",
      "table public.species: UPDATE: id[integer]:1"))
    val t = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)
    val q = GraftJob.transform(spark, GraftConfig(src, s"$dir/sink",
        s"$dir/ckpt", plugin = "test_decoding", formatter = "CSV"), cat)
      .select(col("xid"),
        split(col("fmt_msg"), ",").getItem(4).as("operation"))
      .writeStream.format("memory").queryName("td_stream")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").trigger(t).start()
    q.processAllAvailable()
    // next micro-batch delivers MORE rows of xact 500 plus a new xact:
    // the carry must come from the source offset, not from anything in
    // this batch
    Files.write(Paths.get(src), Seq(
      "table public.species: UPDATE: id[integer]:2",
      "COMMIT", "BEGIN 501",
      "table public.species: DELETE: id[integer]:3")
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.APPEND)
    q.processAllAvailable()
    q.stop()
    assert(!Files.exists(Paths.get(s"$dir/ckpt/state")),
      "the carry needs no state store")
    val rows = spark.table("td_stream")
      .select("xid", "operation").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    assert(rows.toSeq == Seq((500L, "UPDATE"), (500L, "UPDATE"),
      (501L, "DELETE")), s"got ${rows.toSeq}")
  }

  test("aggregator packs multiple records per put under the size bound") {
    val dir = tmp()
    val src = writeSource(dir,
      (0 until 50).map(i => walLine(i, "insert", i)))
    val q = startJob(src, dir)
    q.processAllAvailable(); q.stop()
    val files = Files.list(Paths.get(s"$dir/sink")).count()
    // 50 small records easily fit one 1MB aggregate per micro-batch
    assert(files < 50, s"no aggregation happened: $files puts")
    val recs = sinkUserRecords(s"$dir/sink")
    assert(recs.size == 50)
    // per-record partition key is the xid, like the reference's
    // add_user_record(str(change.xid), data)
    assert(recs.map(_._1) == (0 until 50).map(_.toString))
  }

  test("KPL aggregate wire format round-trips and is md5-framed") {
    val records = Seq(("100", "alpha"), ("100", "beta"), ("200", "gamma"))
      .map { case (k, v) => (k, v.getBytes(StandardCharsets.UTF_8)) }
    val agg = KplAggregate.encode(records)
    // magic prefix per the published format
    assert(agg.take(4).sameElements(KplAggregate.Magic))
    val back = KplAggregate.decode(agg)
    assert(back.map(_._1) == Seq("100", "100", "200"))
    assert(back.map(r => new String(r._2, StandardCharsets.UTF_8)) ==
      Seq("alpha", "beta", "gamma"))
    // key table deduplicates shared partition keys
    assert(agg.length < records.map(r =>
      KplAggregate.recordOverhead(r._1, r._2.length)).sum + 20)
    // corrupting one payload byte must fail the md5 check
    val bad = agg.clone()
    bad(10) = (bad(10) ^ 1).toByte
    intercept[IllegalArgumentException](KplAggregate.decode(bad))
  }
}

/** In-JVM static for the non-throughput re-raise test: counts put()
  * attempts across the serialized task copy of the client. */
object DeniedPutCounter {
  val n = new java.util.concurrent.atomic.AtomicInteger(0)
}
