package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.catalog.PkCatalog
import graft.core.PrimaryKeyMapItem
import graft.streaming.KplAggregate

/** The reference-CLI-equivalent front door: every config combination a
  * pg2kinesis user runs today, through the one GraftJob entrypoint. */
class GraftJobSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-job").toString

  private lazy val cat = PkCatalog.fromItems(spark, Seq(
    PrimaryKeyMapItem("public.species", "id", "integer", 1)))

  private def records(sinkDir: String): Seq[String] = {
    val d = Paths.get(sinkDir)
    if (!Files.exists(d)) return Seq.empty
    Files.list(d).iterator().asScala.toSeq.sortBy(_.getFileName.toString)
      .flatMap(f => KplAggregate.decode(Files.readAllBytes(f)))
      .map(r => new String(r._2, StandardCharsets.UTF_8))
  }

  private def run(cfg: GraftConfig): Unit = {
    val q = GraftJob.start(spark, cfg, cat)
    q.processAllAvailable(); q.stop()
  }

  test("wal2json + CSV formatter + operations=all") {
    val dir = tmp()
    val src = Paths.get(dir, "wal.jsonl")
    Files.write(src, (0 until 6).map(i =>
      s"""{"xid": $i, "change": [{"kind": "${if (i % 2 == 0) "insert" else "update"}",""" +
        s""" "schema": "public", "table": "species", "columnnames": ["id"],""" +
        s""" "columntypes": ["integer"], "columnvalues": [$i]}]}""")
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    run(GraftConfig(src.toString, s"$dir/sink", s"$dir/ckpt",
      formatter = "CSV", sendWindowSecs = 0))
    val recs = records(s"$dir/sink")
    assert(recs.size == 6) // operations=all keeps every DML
    assert(recs.head == "0,CDC,0,public.species,insert,0")
    assert(recs(1) == "0,CDC,1,public.species,update,1")
  }

  test("multi-lane sink end-to-end: per-xid order through the full pipeline") {
    // the --sink-lanes path through the FRONT DOOR (source → parse →
    // PK join → gate → format → lane-routed KPL sink): 4 transactions
    // interleaved in WAL order over 3 lanes; every xid's changes must
    // sink in LSN order on one lane, nothing lost, nothing reordered
    // within a key
    val dir = tmp()
    val src = Paths.get(dir, "wal.jsonl")
    val lines = for (round <- 0 until 5; x <- 0 until 4) yield
      s"""{"xid": ${700 + x}, "change": [{"kind": "insert",""" +
        s""" "schema": "public", "table": "species",""" +
        s""" "columnnames": ["id"], "columntypes": ["integer"],""" +
        s""" "columnvalues": [${round * 4 + x}]}]}"""
    Files.write(src, lines.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
    run(GraftConfig(src.toString, s"$dir/sink", s"$dir/ckpt",
      formatter = "CSV", sendWindowSecs = 0, sinkLanes = 3))
    // decode per lane, in (batch, lane, position) file order
    val perLane = Files.list(Paths.get(s"$dir/sink")).iterator().asScala
      .toSeq.sortBy(_.getFileName.toString)
      .map { f =>
        val m = "rec-\\d+-L(\\d+)-\\d+".r
          .findFirstMatchIn(f.getFileName.toString)
          .getOrElse(fail(s"not lane-keyed: ${f.getFileName}"))
        m.group(1).toInt -> KplAggregate.decode(Files.readAllBytes(f))
          .map { case (pk, data) =>
            (pk, new String(data, StandardCharsets.UTF_8)) }
      }
      .groupBy(_._1).view.mapValues(_.flatMap(_._2)).toMap
    val all = perLane.values.flatten.toSeq
    assert(all.size == 20, s"expected 20 records, got ${all.size}")
    // each xid on exactly one lane, ids (the per-xid payload sequence,
    // ascending with LSN) delivered in order
    for (x <- 0 until 4) {
      val lanesOfX = perLane.filter(_._2.exists(_._1 == s"${700 + x}")).keys
      assert(lanesOfX.size == 1, s"xid ${700 + x} split across $lanesOfX")
      val ids = perLane(lanesOfX.head).filter(_._1 == s"${700 + x}")
        .map(_._2.split(",").last.toInt)
      assert(ids == ids.sorted,
        s"xid ${700 + x} delivered out of WAL order: $ids")
      assert(ids.size == 5)
    }
  }

  test("test_decoding plugin end-to-end with PK extraction") {
    val dir = tmp()
    val src = Paths.get(dir, "wal.txt")
    Files.write(src, Seq(
      "BEGIN 700",
      "table public.species: UPDATE: id[integer]:41 name[character varying]:'Bling'",
      "COMMIT",
      "BEGIN 701",
      "table public.species: DELETE: id[integer]:42")
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    run(GraftConfig(src.toString, s"$dir/sink", s"$dir/ckpt",
      plugin = "test_decoding", formatter = "CSV", sendWindowSecs = 0))
    assert(records(s"$dir/sink") == Seq(
      "0,CDC,700,public.species,UPDATE,41",
      "0,CDC,701,public.species,DELETE,42"))
  }

  test("full-change mode emits whole change elements") {
    val dir = tmp()
    val src = Paths.get(dir, "wal.jsonl")
    Files.write(src,
      ("""{"xid": 9, "change": [{"kind": "insert", "schema": "public",""" +
        """ "table": "unknown_table", "columnnames": ["a"],""" +
        """ "columntypes": ["text"], "columnvalues": ["x"]}]}""" + "\n")
        .getBytes(StandardCharsets.UTF_8))
    run(GraftConfig(src.toString, s"$dir/sink", s"$dir/ckpt",
      fullChange = true, sendWindowSecs = 0))
    val recs = records(s"$dir/sink")
    // unknown table passes through untouched: no validation in this
    // mode; serialization matches json.dumps byte-for-byte
    assert(recs == Seq(
      """0,CDC,{"xid": 9, "change": {"kind": "insert", "schema": "public",""" +
        """ "table": "unknown_table", "columnnames": ["a"],""" +
        """ "columntypes": ["text"], "columnvalues": ["x"]}}"""))
  }

  test("slot options dispatch through config like the reference CLI") {
    // reference __main__.py:56-60: recreate wins (drop then create),
    // elif create; no flag, no DDL. Statements recorded via the
    // injected executor; idempotency SQLSTATE handling is SlotAdmin's
    // own spec.
    val stmts = scala.collection.mutable.ArrayBuffer.empty[String]
    val admin = new graft.sources.SlotAdmin(sql => stmts += sql)
    val base = GraftConfig("/s", "/k", "/c", slotName = "myslot")

    GraftJob.prepareSlot(base, admin)
    assert(stmts.isEmpty, "no flags must issue no DDL")

    GraftJob.prepareSlot(base.copy(createSlot = true), admin)
    assert(stmts.toSeq == Seq(
      "SELECT pg_create_logical_replication_slot('myslot', 'wal2json')"))

    stmts.clear()
    GraftJob.prepareSlot(
      base.copy(recreateSlot = true, plugin = "test_decoding"), admin)
    assert(stmts.toSeq == Seq(
      "SELECT pg_drop_replication_slot('myslot')",
      "SELECT pg_create_logical_replication_slot('myslot', 'test_decoding')"))

    stmts.clear()
    GraftJob.prepareSlot(
      base.copy(createSlot = true, recreateSlot = true), admin)
    assert(stmts.size == 2 && stmts.head.contains("drop"),
      "recreate must win when both flags are set (reference elif)")

    // null admin (no replication connection, e.g. file source): no-op
    GraftJob.prepareSlot(base.copy(recreateSlot = true), null)
  }

  test("walsender transport end-to-end through the front door (pg: path)") {
    val model = new WalsenderModel()
    model.write((0 until 4).map(i =>
      s"""{"xid": ${500 + i}, "change": [{"kind": "insert",""" +
        s""" "schema": "public", "table": "species",""" +
        s""" "columnnames": ["id"], "columntypes": ["integer"],""" +
        s""" "columnvalues": [$i]}]}"""))
    val connName = WalsenderModel.register(model)
    val dir = tmp()
    run(GraftConfig(s"pg:$connName", s"$dir/sink", s"$dir/ckpt",
      formatter = "CSV", sendWindowSecs = 0))
    assert(records(s"$dir/sink") == (0 until 4).map(i =>
      s"0,CDC,${500 + i},public.species,insert,$i"))
  }

  test("stream lifecycle: create-tolerate-exists then ACTIVE waiter") {
    import graft.streaming.{ResourceInUseException, StreamLifecycle}
    // fresh stream: created, becomes ACTIVE after two polls
    val calls = scala.collection.mutable.ArrayBuffer.empty[String]
    var polls = 0
    var describes = 0
    val fresh = new StreamLifecycle {
      override def createStream(name: String): Unit = calls += s"create:$name"
      override def streamStatus(name: String): Option[String] = {
        describes += 1
        Some(if (describes >= 3) "ACTIVE" else "CREATING")
      }
    }
    StreamLifecycle.ensureActive(fresh, "s1", sleep = _ => polls += 1)
    assert(calls.toSeq == Seq("create:s1"))
    assert(describes == 3 && polls == 2, "waiter must poll until ACTIVE")

    // existing stream: already-exists is tolerated (reference
    // stream.py:21-25), waiter still runs
    val existing = new StreamLifecycle {
      override def createStream(name: String): Unit =
        throw new ResourceInUseException("exists")
      override def streamStatus(name: String): Option[String] = Some("ACTIVE")
    }
    StreamLifecycle.ensureActive(existing, "s2", sleep = _ => ())

    // never-active: waiter gives up after maxAttempts (the 180 s bound)
    var sleptMs = 0L
    val stuck = new StreamLifecycle {
      override def createStream(name: String): Unit = ()
      override def streamStatus(name: String): Option[String] =
        Some("CREATING")
    }
    intercept[java.util.concurrent.TimeoutException] {
      StreamLifecycle.ensureActive(stuck, "s3", sleep = sleptMs += _)
    }
    assert(sleptMs == 10000L * 17, "boto3 waiter schedule: 18 x 10 s polls")
  }

  test("CLI: every reference flag parses one-to-one into GraftConfig") {
    val o = Main.parse(Seq(
      "--pg-dbname", "mydb", "-h", "db.example", "-p", "5433",
      "-u", "repl", "--pg-sslmode", "require",
      "-s", "myslot", "--pg-slot-output-plugin", "wal2json",
      "-k", "mystream", "-f", "CSV", "--table-pat", "public\\.sp.*",
      "--full-change", "--create-slot",
      "--operations", "insert", "--operations", "update",
      "--send-window-secs", "5", "--max-records-per-trigger", "100"))
      .fold(e => fail(e), identity)
    assert(o.pgDbname.contains("mydb") && o.pgHost == "db.example" &&
      o.pgPort == "5433" && o.pgUser.contains("repl") &&
      o.pgSslmode == "require")
    assert(o.jdbcUrl ==
      "jdbc:postgresql://db.example:5433/mydb?sslmode=require")
    val cfg = o.toConfig
    assert(cfg.slotName == "myslot" && cfg.plugin == "wal2json" &&
      cfg.sinkDir == "mystream" && cfg.formatter == "CSV" &&
      cfg.tablePat == "public\\.sp.*" && cfg.createSlot &&
      !cfg.recreateSlot && cfg.fullChange &&
      cfg.operations == Seq("insert", "update") &&
      cfg.sendWindowSecs == 5 && cfg.maxRecordsPerTrigger == 100L)
    // no --source-path: walsender transport under the slot's name
    assert(cfg.sourcePath == "pg:myslot")

    // reference defaults (__main__.py:21-40): slot+stream pg2kinesis,
    // plugin test_decoding, formatter CSVPayload, operations all
    val d = Main.parse(Seq.empty).fold(e => fail(e), identity).toConfig
    assert(d.slotName == "pg2kinesis" && d.sinkDir == "pg2kinesis" &&
      d.plugin == "test_decoding" && d.formatter == "CSVPayload" &&
      d.expandedOps == Seq("insert", "update", "delete", "truncate"))

    // --flag=value form and empty-host default (localhost)
    val e = Main.parse(Seq("--pg-dbname=db2", "--pg-port=6000"))
      .fold(e => fail(e), identity)
    assert(e.jdbcUrl == "jdbc:postgresql://localhost:6000/db2?sslmode=prefer")
  }

  test("CLI: click.Choice validation and unknown flags are rejected") {
    assert(Main.parse(Seq("--pg-slot-output-plugin", "pgoutput")).isLeft)
    assert(Main.parse(Seq("--message-formatter", "JSON")).isLeft)
    assert(Main.parse(Seq("--operations", "upsert")).isLeft)
    assert(Main.parse(Seq("--no-such-flag")).isLeft)
    assert(Main.parse(Seq("--pg-dbname")).isLeft, "missing value")
    assert(Main.parse(Seq("--send-window-secs", "ten")).isLeft,
      "non-numeric value must be a parse error, not an exception")
    assert(Main.parse(Seq("--max-records-per-trigger", "1e6")).isLeft)
    // slot DDL without a database would otherwise no-op silently —
    // the user asked for a slot and must get it or a diagnostic
    assert(Main.parse(Seq("--create-slot")).isLeft,
      "--create-slot without --pg-dbname must fail parse")
    assert(Main.parse(Seq("--recreate-slot")).isLeft)
    assert(Main.parse(Seq("--create-slot", "--pg-dbname", "db")).isRight)
    // reference __main__.py:42-43: 'all' ANYWHERE in the multi-flag
    // list expands — `--operations all --operations insert` must not
    // allow-list the literal 'all' (which would null every real DML)
    val mixed = Main.parse(Seq("--operations", "all",
      "--operations", "insert")).fold(e => fail(e), identity).toConfig
    assert(mixed.expandedOps ==
      Seq("insert", "update", "delete", "truncate"))
    // the --full-change assertion (reference __main__.py:45-47) fires
    // at job start on a parsed config, same message contract as the
    // direct-GraftConfig path
    val o = Main.parse(Seq("--full-change", "-f", "CSV",
      "--source-path", "/nope")).fold(e => fail(e), identity)
    intercept[IllegalArgumentException] { GraftJob.transform(spark, o.toConfig, cat) }
  }

  test("CLI: without --source-path or a registered connection, Main.start fails before the query starts") {
    val dir = tmp()
    val o = Main.parse(Seq(
      "--pg-slot-name", s"unregistered-${java.util.UUID.randomUUID()}",
      "--stream-name", s"$dir/sink", "--checkpoint-dir", s"$dir/ckpt"))
      .fold(e => fail(e), identity)
    val active = spark.streams.active.length
    val e = intercept[IllegalArgumentException](Main.start(spark, o))
    assert(e.getMessage.contains("--source-path") &&
      e.getMessage.contains("PgJdbcReplicationStream.register"), e.getMessage)
    assert(!Files.exists(Paths.get(dir, "ckpt")), "no checkpoint may be made")
    assert(spark.streams.active.length == active)
  }

  test("CLI: file-transport pipeline end-to-end from parsed args") {
    val dir = tmp()
    val src = Paths.get(dir, "wal.jsonl")
    Files.write(src, (0 until 4).map(i =>
      s"""{"xid": $i, "change": [{"kind": "insert", "schema": "public",""" +
        s""" "table": "species", "columnnames": ["id"],""" +
        s""" "columntypes": ["integer"], "columnvalues": [$i]}]}""")
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    // connectionless replay: PK catalog from a JSON-lines dump
    val pk = Paths.get(dir, "pk.jsonl")
    Files.write(pk,
      ("""{"table_name":"public.species","col_name":"id",""" +
        """"col_type":"integer","col_ord_pos":1}""" + "\n")
        .getBytes(StandardCharsets.UTF_8))
    val o = Main.parse(Seq(
      "--source-path", src.toString,
      "--stream-name", s"$dir/sink",
      "--checkpoint-dir", s"$dir/ckpt",
      "--pk-catalog", pk.toString,
      "--pg-slot-output-plugin", "wal2json",
      "--message-formatter", "CSV",
      "--operations", "insert",
      "--send-window-secs", "0", "--once")).fold(e => fail(e), identity)
    assert(o.once)
    val q = Main.start(spark, o)
    q.processAllAvailable(); q.stop()
    assert(records(s"$dir/sink") == (0 until 4).map(i =>
      s"0,CDC,$i,public.species,insert,$i"))
  }

  test("CLI: Main.start == GraftJob.start on the same dump" +
      " (CSVPayload, operations insert,update)") {
    // the front door must be the library path with flags, nothing more:
    // identical wire bytes from the same WAL dump
    def dump(dir: String): String = {
      val src = Paths.get(dir, "wal.jsonl")
      Files.write(src, (0 until 8).map { i =>
        val kind = Seq("insert", "update", "delete", "insert")(i % 4)
        s"""{"xid": ${900 + i}, "change": [{"kind": "$kind",""" +
          s""" "schema": "public", "table": "species", "columnnames": ["id"],""" +
          s""" "columntypes": ["integer"], "columnvalues": [$i]}]}"""
      }.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      src.toString
    }
    val cliDir = tmp()
    val pk = Paths.get(cliDir, "pk.jsonl")
    Files.write(pk,
      ("""{"table_name":"public.species","col_name":"id",""" +
        """"col_type":"integer","col_ord_pos":1}""" + "\n")
        .getBytes(StandardCharsets.UTF_8))
    val o = Main.parse(Seq(
      "--source-path", dump(cliDir),
      "--stream-name", s"$cliDir/sink",
      "--checkpoint-dir", s"$cliDir/ckpt",
      "--pk-catalog", pk.toString,
      "--pg-slot-output-plugin", "wal2json",
      "--message-formatter", "CSVPayload",
      "--operations", "insert", "--operations", "update",
      "--send-window-secs", "0", "--once")).fold(e => fail(e), identity)
    val q = Main.start(spark, o)
    q.processAllAvailable(); q.stop()

    val libDir = tmp()
    run(GraftConfig(dump(libDir), s"$libDir/sink", s"$libDir/ckpt",
      formatter = "CSVPayload", operations = Seq("insert", "update"),
      sendWindowSecs = 0))

    val cli = records(s"$cliDir/sink")
    val lib = records(s"$libDir/sink")
    assert(cli.nonEmpty && cli == lib,
      s"CLI sink must equal library sink: $cli vs $lib")
    // deletes are gated (not dropped): the gate nulls the message but
    // the delete rows still tick the batcher, so 8 raws -> 6 records
    assert(cli.size == 6, s"expected 6 gated records, got ${cli.size}")
  }

  test("--dry-run: full pipeline, preview only, slot position untouched") {
    // the pg_logical_slot_peek_changes parity surface: everything
    // runs — source, parse, gate, format — but the source never acks,
    // nothing is put, and a later REAL run replays from the start
    val dir = tmp()
    val src = Paths.get(dir, "wal.jsonl")
    Files.write(src, (0 until 5).map(i =>
      s"""{"xid": $i, "change": [{"kind": "insert", "schema": "public",""" +
        s""" "table": "species", "columnnames": ["id"],""" +
        s""" "columntypes": ["integer"], "columnvalues": [$i]}]}""")
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val pk = Paths.get(dir, "pk.jsonl")
    Files.write(pk,
      ("""{"table_name":"public.species","col_name":"id",""" +
        """"col_type":"integer","col_ord_pos":1}""" + "\n")
        .getBytes(StandardCharsets.UTF_8))
    val previews = scala.collection.mutable.ArrayBuffer.empty[String]
    val peekedLsns = scala.collection.mutable.ArrayBuffer.empty[Long]
    val oldOut = GraftJob.dryRunOut
    val oldPeek = graft.sources.CdcSource.logPeeked
    GraftJob.dryRunOut = line => previews.synchronized { previews += line }
    graft.sources.CdcSource.logPeeked =
      lsn => peekedLsns.synchronized { peekedLsns += lsn }
    try {
      val o = Main.parse(Seq(
        "--source-path", src.toString,
        "--stream-name", s"$dir/sink",
        "--pk-catalog", pk.toString,
        "--pg-slot-output-plugin", "wal2json",
        "--message-formatter", "CSV",
        "--send-window-secs", "0", "--dry-run", "--once"))
        .fold(e => fail(e), identity)
      assert(o.dryRun && o.toConfig.dryRun)
      val q = Main.start(spark, o)
      q.processAllAvailable()
      // the engine acks epoch N only while constructing batch N+1
      // (the documented trailing-epoch contract) — drive one more
      // batch, then wait for the peek-commit log
      Files.write(src,
        ("""{"xid": 5, "change": [{"kind": "insert", "schema":""" +
          """ "public", "table": "species", "columnnames": ["id"],""" +
          """ "columntypes": ["integer"], "columnvalues": [5]}]}""" + "\n")
          .getBytes(StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.APPEND)
      q.processAllAvailable()
      val deadline = System.currentTimeMillis() + 15000
      while (peekedLsns.synchronized(peekedLsns.isEmpty) &&
          System.currentTimeMillis() < deadline) Thread.sleep(50)
      q.stop()
    } finally {
      GraftJob.dryRunOut = oldOut
      graft.sources.CdcSource.logPeeked = oldPeek
    }
    assert(previews.toSeq == (0 until 6).map(i =>
      s"DRY-RUN would put: 0,CDC,$i,public.species,insert,$i"),
      s"preview lines: $previews")
    assert(peekedLsns.nonEmpty, "peek commits must still log the LSN")
    assert(!Files.exists(Paths.get(src.toString + ".feedback")),
      "peek must NOT append feedback — the slot position is untouched")
    assert(!Files.exists(Paths.get(s"$dir/sink")),
      "dry-run must not create or write the sink stream")
    // the same records remain fully replayable by a REAL run (ack
    // behavior of real runs is StreamingSpec/CdcSourceContractSpec's
    // business)
    run(GraftConfig(src.toString, s"$dir/sink", s"$dir/ckpt",
      formatter = "CSV", operations = Seq("insert"), sendWindowSecs = 0))
    assert(records(s"$dir/sink") == (0 until 6).map(i =>
      s"0,CDC,$i,public.species,insert,$i"),
      "real run after a peek must see every change from the start")
  }

  test("--dry-run over the walsender transport never sends standby feedback") {
    import graft.sources.CdcSource
    val model = new WalsenderModel()
    model.write((0 until 3).map(i =>
      s"""{"xid": ${800 + i}, "change": [{"kind": "insert",""" +
        s""" "schema": "public", "table": "species",""" +
        s""" "columnnames": ["id"], "columntypes": ["integer"],""" +
        s""" "columnvalues": [$i]}]}"""))
    val connName = WalsenderModel.register(model)
    val previews = scala.collection.mutable.ArrayBuffer.empty[String]
    val peeked = scala.collection.mutable.ArrayBuffer.empty[Long]
    val oldOut = GraftJob.dryRunOut
    val oldPeek = CdcSource.logPeeked
    GraftJob.dryRunOut = line => previews.synchronized { previews += line }
    CdcSource.logPeeked =
      lsn => peeked.synchronized { peeked += lsn }
    try {
      val dir = tmp()
      val q = GraftJob.start(spark, GraftConfig(s"pg:$connName",
        s"$dir/sink", s"$dir/ckpt", formatter = "CSV",
        sendWindowSecs = 0, dryRun = true), cat)
      q.processAllAvailable()
      // one more record drives the next batch so epoch 0's peek
      // commit fires (the trailing-epoch contract)
      model.write(Seq(
        """{"xid": 803, "change": [{"kind": "insert", "schema":""" +
          """ "public", "table": "species", "columnnames": ["id"],""" +
          """ "columntypes": ["integer"], "columnvalues": [3]}]}"""))
      q.processAllAvailable()
      val deadline = System.currentTimeMillis() + 15000
      while (peeked.synchronized(peeked.isEmpty) &&
          System.currentTimeMillis() < deadline) Thread.sleep(50)
      q.stop()
    } finally {
      GraftJob.dryRunOut = oldOut
      CdcSource.logPeeked = oldPeek
    }
    assert(previews.size == 4, s"previews: $previews")
    assert(peeked.nonEmpty, "peek commits must log")
    assert(model.acked.isEmpty,
      "dry-run must NEVER call ReplicationStream.flushed — the server" +
        " keeps WAL and the slot position")
  }

  test("full-change requires wal2json + CSVPayload, like the reference") {
    intercept[IllegalArgumentException] {
      GraftJob.transform(spark, GraftConfig("/nope", "/nope", "/nope",
        fullChange = true, formatter = "CSV"), cat)
    }
    intercept[IllegalArgumentException] {
      GraftJob.transform(spark, GraftConfig("/nope", "/nope", "/nope",
        plugin = "test_decoding", fullChange = true), cat)
    }
  }

  test("HUP refresh reaches a running job from the next micro-batch on, never mid-batch") {
    // Main.start's SIGHUP wiring on a RUNNING GraftJob, both plugins.
    // Stand-in for the JDBC PK_SQL relation: a read of a mutable file,
    // consulted each time the catalog is read, like a database query.
    import spark.implicits._
    for (plugin <- Seq("wal2json", "test_decoding")) {
      val dir = tmp()
      val pkFile = Paths.get(dir, "pk.txt")
      Files.writeString(pkFile, "id")
      val pkPath = pkFile.toString
      val cat = Seq(0).toDS().mapPartitions(_.map { _ =>
        ("public.species", Files.readString(Paths.get(pkPath)), "integer")
      }).toDF("table_name", "pk_name", "pk_type")
      val trigger = PkCatalog.hupRefreshable(cat)
      val wal = Paths.get(dir, "wal")
      Files.write(wal, Array.emptyByteArray)
      // change i has id i, code 100 + i and name 200 + i
      def append(from: Int): Unit = {
        val lines = (from until from + 2).flatMap { i =>
          if (plugin == "wal2json") Seq(
            s"""{"xid": $i, "change": [{"kind": "insert", "schema": "public",""" +
              """ "table": "species", "columnnames": ["id", "code", "name"],""" +
              """ "columntypes": ["integer", "integer", "integer"],""" +
              s""" "columnvalues": [$i, ${100 + i}, ${200 + i}]}]}""")
          else Seq(s"BEGIN $i", s"table public.species: INSERT: id[integer]:$i" +
            s" code[integer]:${100 + i} name[integer]:${200 + i}", "COMMIT")
        }
        Files.write(wal, lines.mkString("", "\n", "\n")
          .getBytes(StandardCharsets.UTF_8), java.nio.file.StandardOpenOption.APPEND)
      }
      val sink = s"$dir/sink"
      val q = GraftJob.start(spark, GraftConfig(wal.toString, sink,
        s"$dir/ckpt", plugin = plugin, formatter = "CSV", sendWindowSecs = 0),
        cat, putClient = new HookedPutClient(sink))
      var seen = 0
      def nextPkeys(from: Int): Seq[String] = {
        append(from)
        q.processAllAvailable()
        val recs = records(sink)
        val fresh = recs.drop(seen)
        seen = recs.size
        fresh.map(_.split(",").last)
      }
      try {
        assert(nextPkeys(0) == Seq("0", "1"), plugin)
        // catalog changed mid-stream: not visible before the trigger
        Files.writeString(pkFile, "code")
        assert(nextPkeys(2) == Seq("2", "3"), plugin)
        // after the trigger: from the next micro-batch on
        trigger()
        assert(nextPkeys(4) == Seq("104", "105"), plugin)
        // a trigger while a batch runs (its sink puts) reaches the next
        // batch, not the running one
        HookedPutClient.onBegin = () => {
          HookedPutClient.onBegin = () => ()
          Files.writeString(pkFile, "name")
          trigger()
        }
        assert(nextPkeys(6) == Seq("106", "107"), plugin)
        assert(nextPkeys(8) == Seq("208", "209"), plugin)
      } finally {
        HookedPutClient.onBegin = () => ()
        q.stop()
      }
    }
  }

  test("a micro-batch of either plugin runs one Spark job of one task, except where it reads the catalog") {
    // the PK catalog rides in the plan: no broadcast join, so no
    // catalog jobs or tasks next to the sink's single ordered lane. The
    // catalog is read on the driver by the first batch and by the first
    // batch after a HUP trigger; those batches add the read's jobs. The
    // walsender transport runs over a walsender model that is sent the
    // same lines as the file, and its sink holds the same bytes.
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Int)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add((String.valueOf(e.properties.getProperty("spark.jobGroup.id")),
          String.valueOf(e.properties.getProperty("streaming.sql.batchId")),
          e.stageInfos.map(_.numTasks).sum))
    }
    spark.sparkContext.addSparkListener(listener)
    val fileSinks = scala.collection.mutable.Map.empty[String, Seq[Seq[Byte]]]
    try for (plugin <- Seq("wal2json", "test_decoding"); pg <- Seq(false, true)) {
      val label = s"$plugin over ${if (pg) "pg" else "file"}"
      // a catalog no earlier test has read
      val cat = PkCatalog.fromItems(spark, Seq(
        PrimaryKeyMapItem("public.species", "id", "integer", 1)))
      val trigger = PkCatalog.hupRefreshable(cat)
      val dir = tmp()
      val wal = Paths.get(dir, "wal")
      val model = new WalsenderModel()
      def append(from: Int): Unit = {
        val lines = (from until from + 4).flatMap { i =>
          if (plugin == "wal2json") Seq(
            s"""{"xid": $i, "change": [{"kind": "insert", "schema": "public",""" +
              """ "table": "species", "columnnames": ["id"],""" +
              s""" "columntypes": ["integer"], "columnvalues": [$i]}]}""")
          else Seq(s"BEGIN $i", s"table public.species: INSERT: id[integer]:$i", "COMMIT")
        }
        Files.write(wal, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8),
          java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
        model.write(lines)
      }
      val source =
        if (pg) s"pg:${WalsenderModel.register(model)}" else wal.toString
      val q = GraftJob.start(spark, GraftConfig(source, s"$dir/sink",
        s"$dir/ckpt", plugin = plugin, formatter = "CSV", sendWindowSecs = 0,
        maxRecordsPerTrigger = 2), cat)
      def dataBatches: Seq[Long] =
        q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq.distinct
      val reads = try {
        append(0)
        q.processAllAvailable()
        val first = dataBatches
        trigger()
        append(4)
        q.processAllAvailable()
        Set(first.min, dataBatches.filterNot(first.contains).min).map(_.toString)
      } finally q.stop()
      val batches = dataBatches.map(_.toString).toSet
      assert(batches.size >= 4, s"$label: ${q.recentProgress.map(_.numInputRows).toSeq}")
      // the put files' bytes in put order; their names hold batch ids,
      // which an empty first batch (a trigger before the first append)
      // shifts on either transport
      val sink = Files.list(Paths.get(dir, "sink")).iterator().asScala.toSeq
        .sortBy(_.getFileName.toString).map(f => Files.readAllBytes(f).toSeq)
      if (!pg) fileSinks(plugin) = sink
      else assert(sink == fileSinks(plugin), s"$label: the sink differs from the file's")
      // jobs in start order, by batch
      def perBatch = jobs.asScala.toSeq.filter(_._1 == q.runId.toString)
        .groupBy(_._2).filter(b => batches(b._1))
      val deadline = System.currentTimeMillis() + 10000
      while (perBatch.size < batches.size && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(perBatch.keySet == batches, label)
      perBatch.foreach { case (b, js) =>
        // the sink's job starts last, after any catalog read
        assert(js.last._3 == 1, s"$label batch $b: tasks ${js.map(_._3)}")
        if (!reads(b))
          assert(js.size == 1, s"$label batch $b: ${js.size} jobs, tasks ${js.map(_._3)}")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

/** The job's local put client, calling [[HookedPutClient.onBegin]] as
  * each batch's sink task starts. The client is serialized into the
  * task; the hook is static, so a local-mode task reaches the spec's. */
class HookedPutClient(dir: String) extends graft.streaming.PutClient {
  private val inner = new graft.streaming.LocalFilePutClient(dir)
  override def beginBatch(b: Long): Unit = {
    HookedPutClient.onBegin()
    inner.beginBatch(b)
  }
  override def put(seq: Long, data: Array[Byte]): Unit = inner.put(seq, data)
  override def deliveredCount(): Long = inner.deliveredCount()
}

object HookedPutClient {
  @volatile var onBegin: () => Unit = () => ()
}
