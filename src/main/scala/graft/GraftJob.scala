package graft

import graft.functions.Cdc
import graft.streaming.{LocalCheckpointFileManager, OrderedAggregatingWriter, PutClient}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The reference's user-facing configuration surface (its CLI,
  * reference __main__.py:20-60) as a typed config. A pg2kinesis user
  * maps each flag one-to-one:
  *
  *   --slot-name      → slotName        --table-pat  → tablePat
  *   --plugin         → plugin          --operations → operations
  *   --message-formatter → formatter    --full-change → fullChange
  *   --create-slot    → createSlot      --recreate-slot → recreateSlot
  *   --stream-name    → sinkDir (put client)  send window (13 s) → trigger
  *
  * `operations = Seq("all")` expands to the reference's four-DML
  * allow-list (__main__.py:42-43).
  */
case class GraftConfig(
    sourcePath: String,
    sinkDir: String,
    checkpointDir: String,
    plugin: String = "wal2json",
    tablePat: String = Cdc.defaultTablePat,
    operations: Seq[String] = Seq("all"),
    formatter: String = "CSVPayload",
    fullChange: Boolean = false,
    sendWindowSecs: Int = 13,
    maxRecordsPerTrigger: Long = Long.MaxValue,
    slotName: String = "graft",
    createSlot: Boolean = false,
    recreateSlot: Boolean = false,
    dryRun: Boolean = false,
    // 1 = the reference's one-shard TOTAL order (stream.py:15-20);
    // > 1 = per-key ordered lanes (hash(xid)-routed, the horizontal
    // scale-out past the one-shard throughput cap — see
    // OrderedAggregatingWriter)
    sinkLanes: Int = 1) {
  def expandedOps: Seq[String] =
    // reference __main__.py:42-43: `if 'all' in operations` — 'all'
    // ANYWHERE in the multi-flag list expands to the four DMLs
    // (matching only the exact single-element list would allow-list
    // the literal nonexistent operation 'all' and silently null every
    // real DML when a user passes `--operations all --operations
    // insert`, a combination the multi-choice CLI accepts)
    if (operations.map(_.toLowerCase).contains("all"))
      Seq("insert", "update", "delete", "truncate")
    else operations
}

/** One front door wiring config → source → parse → gate → format →
  * ordered KPL sink, mirroring the reference's `main()` composition. */
object GraftJob {

  /** Reference __main__.py:45-47: --full-change asserts wal2json +
    * CSVPayload. */
  private def validate(cfg: GraftConfig): Unit = {
    require(!cfg.fullChange ||
      (cfg.plugin == "wal2json" &&
        cfg.formatter.equalsIgnoreCase("csvpayload")),
      "--full-change requires plugin=wal2json and formatter=CSVPayload")
    require(Seq("wal2json", "test_decoding").contains(cfg.plugin),
      s"unknown plugin: ${cfg.plugin}")
  }

  /** The transformed (unsunk) stream: lsn, xid, fmt_msg. */
  def transform(spark: SparkSession, cfg: GraftConfig,
      pkCatalog: DataFrame): DataFrame = {
    validate(cfg)
    val ops = cfg.expandedOps
    // transport chosen by path ("pg:<conn>" → walsender source)
    val raw = graft.sources.CdcSource.rawStream(spark, cfg.sourcePath,
      cfg.maxRecordsPerTrigger, cfg.dryRun)
    val out = cfg.plugin match {
      case "wal2json" =>
        // begin_xid is the test_decoding carry: not a pass-through here
        val rawJson = raw.drop("begin_xid")
        if (cfg.fullChange) {
          Cdc.parseWal2JsonFull(rawJson, "payload", cfg.tablePat)
            .withColumn("fmt_msg", Cdc.operationGate(col("operation"),
              Cdc.csvPayloadFull(col("xid"), col("change_json")), ops))
        } else {
          Cdc.parseWal2Json(rawJson, "payload", pkCatalog, cfg.tablePat)
            .withColumn("fmt_msg", Cdc.operationGate(col("operation"),
              Cdc.formatterFor(cfg.formatter)(col("xid"), col("table_name"),
                col("operation"), col("pkey")), ops))
        }
      case "test_decoding" =>
        // the source carries the BEGIN xid (P3 across micro-batches);
        // the PK extraction tail is shared with the batch parser
        val split = Cdc.splitTestDecoding(
            raw.select(col("lsn"), col("begin_xid").as("xid"), col("payload")),
            "payload")
          .filter(col("table_name").rlike(cfg.tablePat))
        Cdc.testDecodingPkey(split, "body", pkCatalog)
          .withColumn("fmt_msg", Cdc.operationGate(col("operation"),
            Cdc.formatterFor(cfg.formatter)(col("xid"), col("table_name"),
              col("operation"), col("pkey")), ops))
    }
    // the reference's formatter.cur_xact for the progress line (its
    // counts come from the raw stream's cdc_raw_metrics): the xid of
    // the LATEST change in WAL order (max_by lsn) — plain max(xid)
    // would report a high-xid transaction over a long-running
    // lower-xid one that commits after it, and xid wraparound would
    // pin it forever
    out.select(col("lsn"), col("xid"), col("fmt_msg"))
      .observe("cdc_metrics", max_by(col("xid"), col("lsn")).as("last_xid"))
  }

  /** Slot DDL dispatch at job start (reference __main__.py:56-60):
    * --recreate-slot wins (drop-if-exists then create), elif
    * --create-slot creates idempotently; no flag, no DDL. The admin is
    * injected (a JDBC-statement executor in production, a fake in
    * specs) — same seam as SlotAdmin itself. */
  def prepareSlot(cfg: GraftConfig,
      slotAdmin: graft.sources.SlotAdmin): Unit =
    if (slotAdmin != null) {
      if (cfg.recreateSlot) slotAdmin.recreateSlot(cfg.slotName, cfg.plugin)
      else if (cfg.createSlot) slotAdmin.createSlot(cfg.slotName, cfg.plugin)
    }

  /** Dry-run preview line writer — injectable so specs can capture
    * the peeked messages (default stderr, like the progress lines). */
  @volatile var dryRunOut: String => Unit =
    line => System.err.println(line)

  /** Per-batch preview cap for --dry-run: the peek surface is a human
    * diagnostic, so the driver-side take() is bounded by construction
    * (the pipeline itself still runs distributed end to end). */
  val DryRunPreviewRows = 100

  /** Start the full job (ordered KPL-format sink, LSN feedback via the
    * source's commit).
    *
    * With cfg.dryRun (the `pg_logical_slot_peek_changes` parity
    * surface): the FULL pipeline runs — source, parse, xact state,
    * gate, format — but (a) the source never acks (peek option: no
    * standby feedback / no .feedback append, so the slot position is
    * untouched), (b) nothing is put to the sink and the sink stream is
    * neither created nor awaited; each batch prints a WAL-ordered
    * bounded preview of what WOULD be put, (c) streaming progress
    * checkpoints under a fresh temp dir, so a later REAL run replays
    * from the slot exactly as if the peek never happened, and (d)
    * slot DDL flags are IGNORED with a warning — --recreate-slot under
    * a peek would discard the retained WAL that (a) just promised to
    * keep. */
  def start(spark: SparkSession, cfg: GraftConfig, pkCatalog: DataFrame,
      putClient: PutClient = null,
      slotAdmin: graft.sources.SlotAdmin = null,
      streamLifecycle: graft.streaming.StreamLifecycle = null)
      : StreamingQuery = {
    // Dry-run promises the slot position is UNTOUCHED (so a later
    // real run replays everything) — executing --create-slot /
    // --recreate-slot DDL under it would silently discard the
    // retained WAL. Peek semantics win: slot DDL is skipped with a
    // warning, not run.
    if (cfg.dryRun && (cfg.createSlot || cfg.recreateSlot))
      System.err.println("graft: --dry-run peeks the existing slot; " +
        "ignoring --create-slot/--recreate-slot (run without --dry-run " +
        "to apply slot DDL)")
    if (!cfg.dryRun) prepareSlot(cfg, slotAdmin)
    // offset and commit files through NIO, not Hadoop's forking local
    // file system
    spark.conf.set(LocalCheckpointFileManager.ConfKey,
      classOf[LocalCheckpointFileManager].getName)
    val (ckpt, sinkBatch): (String, (Dataset[Row], Long) => Unit) =
      if (cfg.dryRun)
        (java.nio.file.Files.createTempDirectory("graft-peek-ckpt").toString,
          (df, _) => df.filter(col("fmt_msg").isNotNull)
            .sort(col("lsn")).limit(DryRunPreviewRows).collect()
            .foreach(r => dryRunOut(
              s"DRY-RUN would put: ${r.getAs[String]("fmt_msg")}")))
      else {
        // S4 (reference stream.py:19-30): create-tolerate-exists, then
        // block until ACTIVE before the first put
        if (streamLifecycle != null)
          graft.streaming.StreamLifecycle.ensureActive(streamLifecycle,
            cfg.sinkDir)
        val client = if (putClient != null) putClient
          else new graft.streaming.LocalFilePutClient(cfg.sinkDir)
        (cfg.checkpointDir,
          new OrderedAggregatingWriter(client, lanes = cfg.sinkLanes).writeBatch)
      }
    transform(spark, cfg, pkCatalog)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(cfg.sendWindowSecs * 1000L))
      .foreachBatch(sinkBatch)
      .start()
  }
}
