package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.functions.Cdc
import graft.streaming.{KplAggregate, LocalFilePutClient, OrderedAggregatingWriter}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The traced run: per-layer metrics of every layer, whichever
  * workload is named. The named workload runs at full size, once
  * untraced and once traced (their difference is the tracing
  * overhead); the other CDC workload and the declared queries run in a
  * smaller sweep, and each module's public functions are also timed by
  * direct calls. Spans cover every query phase, micro-batch phase, put
  * and direct call. */
object Layers {
  final class Metrics {
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    def update(name: String, v: Double): Unit = m(name) = (v, unitOf(name))
    def unitOf(n: String): String =
      if (n.endsWith("mb_per_s")) "MB/s"
      else if (n.endsWith("_per_s")) "1/s"
      else if (n.endsWith("_ms") || n.contains("_ms_")) "ms"
      else if (n.endsWith("_s")) "s"
      else if (n.endsWith("bytes")) "bytes"
      else if (n.endsWith("ratio") || n.endsWith("share") ||
        n.endsWith("speedup") || n.endsWith("overhead")) "ratio"
      else "count"
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Runs `f` untraced, traced, traced, untraced: comparing the sums
    * cancels a steady warm-up trend. Returns (untraced, traced). */
  def abba[T](f: String => T, traceOn: Boolean => Unit): (Seq[T], Seq[T]) = {
    val u0 = f("u0")
    val t = Seq(withTrace(traceOn, f("t0")), withTrace(traceOn, f("t1")))
    (Seq(u0, f("u1")), t)
  }

  def withTrace[T](traceOn: Boolean => Unit, body: => T): T = {
    traceOn(true)
    try body finally traceOn(false)
  }

  /** Median wall seconds of `reps` calls, one span each. */
  def timed(name: String, reps: Int = 3)(f: => Unit): Double =
    Main.median((1 to reps).map(_ => Main.time(Trace.span(name)(f))._2))

  def traced(a: Main.Args, spark0: SparkSession, out: Outcome,
      workload: String, ready: Option[AnyRef] = None): RunResult = {
    var spark = spark0
    val m = new Metrics
    val jobs = new JobStats
    Trace.traceId = s"$workload-seed${a.seed}"
    def traceOn(on: Boolean): Unit = {
      Trace.enabled = on
      if (on) spark.sparkContext.addSparkListener(jobs)
      else spark.sparkContext.removeSparkListener(jobs)
    }
    var overhead = 0.0

    // cdc_drain: wal2json through the whole job. The CDC workload the
    // run is not named after runs small and unwarmed.
    val drainBed = ready.collect { case b: CdcBench.DrainBed => b }.getOrElse {
      val b = new CdcBench.DrainBed(spark, a, CdcBench.DrainChanges / 4)
      b.prepare()
      b
    }
    def drainOnce(tag: String): JobRun = {
      val r = drainBed.drainOnce(tag)
      CdcBench.check(r, drainBed.dir.resolve(tag).resolve("sink"), drainBed.log,
        upperOps = false, out)
      r
    }
    val (plainDrains, drains) =
      if (workload == "cdc_drain") abba(drainOnce, traceOn)
      else (Seq(drainOnce("u0")), Seq(withTrace(traceOn, drainOnce("t0"))))
    val (plain4, drain) = (plainDrains.last, drains.last)
    if (workload == "cdc_drain") {
      overhead = drains.map(_.cpuS).sum / plainDrains.map(_.cpuS).sum - 1
      CdcBench.drainWall(plainDrains, drainBed.log).foreach { case (k, v) => m(s"wall.$k") = v }
    }

    // cdc_tail: test_decoding with the xid carry in keyed state
    val tailBed = ready.collect { case b: CdcBench.TailBed => b }.getOrElse {
      val b = new CdcBench.TailBed(spark, a)
      b.prepare()
      b
    }
    def tailOnce(tag: String): (JobRun, ChangeLog) = {
      val secs = if (workload == "cdc_tail") a.seconds / 6.0 else 3.0
      val (r, l) = tailBed.tailOnce(tag, a.seed, secs)
      CdcBench.check(r, tailBed.dir.resolve(tag).resolve("sink"), l, upperOps = true, out)
      (r, l)
    }
    val (plainTails, tails) =
      if (workload == "cdc_tail") abba(tailOnce, traceOn)
      else (Nil, Seq(withTrace(traceOn, tailOnce("t0"))))
    val (tail, tailLog) = tails.last
    if (workload == "cdc_tail") {
      overhead = tails.map(_._1.cpuS).sum / plainTails.map(_._1.cpuS).sum - 1
      plainTails.map { case (r, l) => CdcBench.tailWall(r, l) }.transpose.foreach { kvs =>
        m(s"wall.${kvs.head._1}") = Main.median(kvs.map(_._2)) }
    }

    // operators: one declared query per module, timed on its first run
    // (so build and plan include code generation) and checked against
    // the oracle by run.py
    val qs = a.queries
    Queries.writeOracleSql(a, qs)
    val pass = withTrace(traceOn, Queries.pass(spark, a, qs, out))

    // streaming layers, from the workload's own streaming query
    val stream = if (workload == "cdc_tail") tail else drain
    val pr = stream.progress.batches.asScala.toVector
    m("sources.latest_offset_ms_p50") = stream.progress.phaseP50("latestOffset")
    Trace.enabled = true
    val wal = stream.wal
    val walChanges = if (workload == "cdc_tail") tailLog.size else drainBed.log.size
    m("sources.line_count_ms") = 1e3 * timed("CdcFileSource.lineCount")(
      graft.sources.CdcFileSource.lineCount(wal.toString))
    m("sources.line_range_ms") = 1e3 * timed("CdcFileSource.lineRange") {
      val (it, h) = graft.sources.CdcFileSource.lineRange(wal.toString,
        stream.walLines / 2, stream.walLines)
      try it.foreach(_ => ()) finally h.close()
    }
    m("sources.read_changes_per_s") = walChanges / timed("CdcSource.rawStream", 1) {
      val d = a.work.resolve("read-ckpt")
      Main.deleteTree(d)
      graft.sources.CdcSource.rawStream(spark, wal.toString).writeStream
        .format("noop").option("checkpointLocation", d.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }
    m("sources.backlog_max") = stream.progress.backlogs.asScala.map(_.toDouble).maxOption.getOrElse(0.0)
    m("sources.rows_per_batch_p50") = Main.median(pr.map(_.numInputRows.toDouble))
    m("catalog.build_ms") = 1e3 * timed("PkCatalog.fromItems")(
      CdcBench.catalog(spark).collect())

    // functions: batch calls on the workload's own payloads
    val cat = drainBed.cat
    val payloads = spark.read.text(drain.wal.toString).withColumnRenamed("value", "payload")
    m("functions.parse_wal2json_s") = timed("Cdc.parseWal2Json")(
      noop(Cdc.parseWal2Json(payloads, "payload", cat, CdcSchema.tablePat)))
    val parsed = Cdc.parseWal2Json(payloads.withColumn("lsn", monotonically_increasing_id()),
      "payload", cat, CdcSchema.tablePat).persist(StorageLevel.MEMORY_ONLY)
    val nParsed = parsed.count()
    val formatted = parsed.select(col("lsn"), col("xid"), Cdc.operationGate(col("operation"),
      Cdc.formatterFor("CSVPayload")(col("xid"), col("table_name"), col("operation"),
        col("pkey")), CdcSchema.allowedOps).as("fmt_msg"))
    m("functions.format_gate_s") = timed("Cdc.formatterFor+operationGate")(noop(formatted))
    val tdLines = spark.read.text(tail.wal.toString)
      .filter(col("value").startsWith("table "))
      .select(regexp_extract(col("value"), "^table ([^:]+): (\\w+): (.*)$", 1).as("table_name"),
        regexp_extract(col("value"), "^table ([^:]+): (\\w+): (.*)$", 2).as("operation"),
        regexp_extract(col("value"), "^table ([^:]+): (\\w+): (.*)$", 3).as("body"))
      .filter(col("table_name").rlike(CdcSchema.tablePat))
      .persist(StorageLevel.MEMORY_ONLY)
    tdLines.count()
    m("functions.test_decoding_pkey_s") = timed("Cdc.testDecodingPkey")(
      noop(Cdc.testDecodingPkey(tdLines, "body", cat)))
    tdLines.unpersist()
    val delivered = drain.deliveries.size.toDouble
    m("functions.changes_in") = drainBed.log.size
    m("functions.table_filtered") = drainBed.log.size - nParsed
    m("functions.gated_null") = nParsed - delivered
    m("functions.delivered_ratio") = delivered / drainBed.log.size

    // streaming.state: the xid carry of the test_decoding job
    val st = tail.progress.batches.asScala.toVector.flatMap(_.stateOperators.headOption)
    m("streaming.state.commit_ms_p50") = Main.median(st.map(_.commitTimeMs.toDouble))
    m("streaming.state.rows") = st.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0)
    m("streaming.state.memory_bytes") = st.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0)

    // streaming.sink: the puts of the workload's job, then direct calls
    val puts = stream.puts
    puts.foreach(p => Trace.add(Trace.nextId(),
      stream.progress.spanOf.getOrDefault(p.batch, 0L), "put", p.startNs, p.endNs))
    val records = puts.map(p => KplAggregate.decode(p.data).size.toLong).sum
    m("streaming.sink.puts") = puts.size
    m("streaming.sink.records") = records
    m("streaming.sink.bytes") = puts.map(_.data.length.toLong).sum
    m("streaming.sink.records_per_put") = if (puts.isEmpty) 0.0 else records.toDouble / puts.size
    m("streaming.sink.put_ms_p50") = Main.median(puts.map(p => (p.endNs - p.startNs) / 1e6))
    m("streaming.sink.put_busy_s") = puts.map(p => (p.endNs - p.startNs) / 1e9).sum
    m("streaming.sink.retries") = PutLog.retries.get()
    val batch = formatted.persist(StorageLevel.MEMORY_ONLY)
    batch.count()
    for (lanes <- Seq(1, 4)) {
      val d = a.work.resolve(s"write-batch-$lanes")
      m(s"streaming.sink.write_batch_lanes${lanes}_s") =
        timed(s"OrderedAggregatingWriter.writeBatch lanes=$lanes") {
          Main.deleteTree(d)
          new OrderedAggregatingWriter(new LocalFilePutClient(d.toString), lanes = lanes)
            .writeBatch(batch, 0L)
        }
    }
    val msgs = batch.filter(col("fmt_msg").isNotNull).select("xid", "fmt_msg").collect()
      .map(r => (r.getLong(0).toString, r.getString(1).getBytes(StandardCharsets.UTF_8)))
    val chunks = msgs.grouped(2000).toVector
    val msgBytes = msgs.map(_._2.length.toLong).sum
    m("streaming.sink.kpl_encode_mb_per_s") = msgBytes / 1e6 /
      timed("KplAggregate.encode")(chunks.foreach(c => KplAggregate.encode(c.toSeq)))
    batch.unpersist(); parsed.unpersist()

    // spark: micro-batch phases and tasks of the workload's job
    m("spark.batches") = pr.size
    m("spark.trigger_ms_p50") = stream.progress.phaseP50("triggerExecution")
    m("spark.add_batch_ms_p50") = stream.progress.phaseP50("addBatch")
    m("spark.query_planning_ms_p50") = stream.progress.phaseP50("queryPlanning")
    m("spark.wal_commit_ms_p50") = stream.progress.phaseP50("walCommit")
    m("spark.commit_offsets_ms_p50") = stream.progress.phaseP50("commitOffsets")
    val perBatch = pr.flatMap(p => jobs.byLabel.get(s"batch-${p.id}-${p.batchId}").map(j => (p, j)))
    m("spark.tasks_per_batch") = Main.median(perBatch.map(_._2.tasks.toDouble))
    m("spark.longest_task_share") = Main.median(perBatch.map { case (p, j) =>
      j.maxTaskMs / math.max(1.0, p.durationMs.getOrDefault("addBatch", 1L).doubleValue) })

    // expressions: native kernels over documents, embeddings and WAL
    val docs = graft.Tables.documents(spark, a.data).persist(StorageLevel.MEMORY_ONLY)
    val embs = graft.Tables.embeddings(spark, a.data).persist(StorageLevel.MEMORY_ONLY)
    docs.count(); embs.count()
    import graft.expressions._
    m("expressions.shingle_hashes_s") = timed("ShingleHashes")(
      noop(docs.select(ShingleHashes.shingle_hashes(col("text"), 8))))
    val sets = docs.select(ShingleHashes.shingle_hashes(col("text"), 8).as("set"))
      .persist(StorageLevel.MEMORY_ONLY)
    sets.count()
    m("expressions.minhash_sig_s") = timed("MinHashSig")(
      noop(sets.select(MinHashSig.minhash_sig(col("set"), 48))))
    m("expressions.lsh_codes_s") = timed("LshCodes")(
      noop(embs.select(LshCodes.lsh_codes(col("embedding"), 8, 8))))
    m("expressions.float_dot_s") = timed("FloatDot")(
      noop(embs.select(FloatDot.float_dot(col("embedding"), col("embedding")))))
    m("expressions.full_change_rows_s") = timed("FullChangeRows")(
      noop(payloads.select(explode(FullChangeRows.full_change_rows(col("payload"))))))
    sets.unpersist(); docs.unpersist(); embs.unpersist()

    // operators and their Spark jobs, per module
    for ((mod, _) <- Queries.Modules) {
      val ts = pass.filter(_.module == mod)
      m(s"operators.$mod.build_s") = ts.map(_.buildS).sum
      m(s"operators.$mod.plan_s") = ts.map(_.planS).sum
      m(s"operators.$mod.exec_s") = ts.map(_.execS).sum
    }
    m("operators.cached_relations") = pass.map(_.cached).sum
    for ((mod, _) <- Queries.Modules) {
      val j = jobs.byLabel.getOrElse(mod, new jobs.Agg)
      m(s"spark.$mod.jobs") = j.jobs
      m(s"spark.$mod.stages") = j.stages
      m(s"spark.$mod.tasks") = j.tasks
      m(s"spark.$mod.shuffle_write_bytes") = j.shuffleWrite
      m(s"spark.$mod.spill_bytes") = j.spill
      m(s"spark.$mod.executor_cpu_s") = j.cpuNs / 1e9
    }
    Trace.enabled = false

    // single-thread baseline: the same drain at local[1]
    spark.stop()
    spark = Main.session(a, 1)
    val bed1 = new CdcBench.DrainBed(spark, a, drainBed.changes)
    bed1.prepare()
    val plain1 = bed1.drainOnce("local1")
    CdcBench.check(plain1, bed1.dir.resolve("local1").resolve("sink"), bed1.log,
      upperOps = false, out)
    m("spark.parallel_speedup") = plain1.secs / plain4.secs

    m("bench.gen_late_ms_max") = tailBed.lateMaxMs
    m("bench.tracing_overhead") = overhead
    spark.stop()
    RunResult(out, m.m.toSeq.map { case (k, (v, u)) => (k, v, u) })
  }
}
