package graft

import org.apache.spark.sql.SparkSession

import graft.catalog.PkCatalog
import graft.sources.{PgReplicationSource, SlotAdmin}

/** The executable front door — the reference's console script
  * (reference __main__.py:14-41, setup.py entry_points) re-expressed
  * over [[GraftConfig]]/[[GraftJob]]. Every reference flag parses
  * one-to-one, same names, same short aliases, same defaults, same
  * choice validation:
  *
  *   --pg-dbname/-d --pg-host/-h --pg-port/-p --pg-user/-u
  *   --pg-sslmode            → the JDBC url for the PK catalog (S2)
  *                             and slot DDL (S3) connections
  *   --pg-slot-name/-s       → slotName           (default pg2kinesis)
  *   --pg-slot-output-plugin → plugin        (default test_decoding)
  *   --stream-name/-k        → sink stream/dir    (default pg2kinesis)
  *   --message-formatter/-f  → formatter        (default CSVPayload)
  *   --table-pat             → tablePat (unset → match-all default)
  *   --full-change --create-slot --recreate-slot   flags
  *   --operations            multiple, choice of all/insert/update/
  *                           delete/truncate      (default all)
  *
  * Graft-specific extensions (the Spark runtime surface the reference
  * has no analog for):
  *
  *   --source-path PATH      replay transport: a WAL dump file to tail
  *                           (absent → the walsender transport `pg:` +
  *                           slot name; a [[graft.sources
  *                           .ReplicationStream]] factory must be
  *                           registered under that name — the
  *                           extras/pgjdbc adapter's `register` does
  *                           exactly this at deploy time — or
  *                           [[start]] fails before the query starts)
  *   --checkpoint-dir PATH   streaming checkpoint (exactly-once source
  *                           progress; default under java.io.tmpdir)
  *   --pk-catalog PATH       parquet/JSON dump of the PK catalog for
  *                           connectionless replay (absent + pg flags
  *                           → live information_schema query)
  *   --send-window-secs N    flush cadence (reference's 13 s timer)
  *   --max-records-per-trigger N   backpressure admission (K3)
  *   --once                  drain available input, then stop (smoke
  *                           runs and batch-replay; default: run until
  *                           terminated, like the reference)
  *   --dry-run               peek mode (pg_logical_slot_peek_changes
  *                           parity): the full pipeline runs but the
  *                           source never acks, nothing is put, and
  *                           each flush window prints a WAL-ordered
  *                           bounded preview of what WOULD be put —
  *                           the slot position is untouched, so a
  *                           later real run replays everything
  *                           (slot DDL flags are ignored under it)
  *   --sink-lanes N          per-key ordered delivery lanes (default 1
  *                           = the reference's one-shard TOTAL order;
  *                           N > 1 routes hash(xid) → lane and scales
  *                           past the per-shard wire cap with per-key
  *                           ordering — see OrderedAggregatingWriter)
  */
object Main {

  /** Parsed CLI state, pre-[[GraftConfig]]: keeps the pg-connection
    * flags (which GraftConfig deliberately does not model — they
    * construct the catalog/DDL JDBC url, not the stream). */
  case class CliOptions(
      pgDbname: Option[String] = None,
      pgHost: String = "",
      pgPort: String = "5432",
      pgUser: Option[String] = None,
      pgSslmode: String = "prefer",
      slotName: String = "pg2kinesis",
      plugin: String = "test_decoding",
      streamName: String = "pg2kinesis",
      formatter: String = "CSVPayload",
      tablePat: Option[String] = None,
      fullChange: Boolean = false,
      createSlot: Boolean = false,
      recreateSlot: Boolean = false,
      operations: Seq[String] = Seq.empty,
      sourcePath: Option[String] = None,
      checkpointDir: Option[String] = None,
      pkCatalogPath: Option[String] = None,
      sendWindowSecs: Int = 13,
      maxRecordsPerTrigger: Long = Long.MaxValue,
      once: Boolean = false,
      dryRun: Boolean = false,
      sinkLanes: Int = 1) {

    /** Reference slot.py:40-45: psycopg2 connect kwargs → JDBC url.
      * Host empty = localhost (the reference's own default). */
    def jdbcUrl: String = {
      val host = if (pgHost.isEmpty) "localhost" else pgHost
      val db = pgDbname.getOrElse("")
      s"jdbc:postgresql://$host:$pgPort/$db?sslmode=$pgSslmode"
    }

    def toConfig: GraftConfig = GraftConfig(
      sourcePath = sourcePath.getOrElse("pg:" + slotName),
      sinkDir = streamName,
      checkpointDir = checkpointDir.getOrElse(
        s"${System.getProperty("java.io.tmpdir")}/graft-ckpt-$slotName"),
      plugin = plugin,
      tablePat = tablePat.getOrElse(graft.functions.Cdc.defaultTablePat),
      operations = if (operations.isEmpty) Seq("all") else operations,
      formatter = formatter,
      fullChange = fullChange,
      sendWindowSecs = sendWindowSecs,
      maxRecordsPerTrigger = maxRecordsPerTrigger,
      slotName = slotName,
      createSlot = createSlot,
      recreateSlot = recreateSlot,
      dryRun = dryRun,
      sinkLanes = sinkLanes)
  }

  private val Operations =
    Seq("all", "insert", "update", "delete", "truncate")

  val usage: String =
    """usage: graft.Main [--pg-dbname DB] [--pg-host HOST] [--pg-port PORT]
      |  [--pg-user USER] [--pg-sslmode MODE] [--pg-slot-name NAME]
      |  [--pg-slot-output-plugin test_decoding|wal2json]
      |  [--stream-name NAME] [--message-formatter CSVPayload|CSV]
      |  [--table-pat REGEX] [--full-change] [--create-slot]
      |  [--recreate-slot] [--operations all|insert|update|delete|truncate]...
      |  [--source-path PATH] [--checkpoint-dir PATH] [--pk-catalog PATH]
      |  [--send-window-secs N] [--max-records-per-trigger N] [--once]
      |  [--dry-run] [--sink-lanes N]
      |""".stripMargin

  /** Pure argument parser (spec-driven; main() is a thin shell around
    * it). Accepts `--flag value`, `--flag=value`, and the reference's
    * short aliases. Returns Left(message) on unknown flags, missing
    * values, or out-of-choice values — the click.Choice validations
    * (reference __main__.py:24-25, 29-30, 39-40) reproduced. */
  def parse(args: Seq[String]): Either[String, CliOptions] = {
    // normalize --flag=value into --flag value
    val norm = args.flatMap { a =>
      if (a.startsWith("--") && a.contains('='))
        Seq(a.takeWhile(_ != '='), a.dropWhile(_ != '=').tail)
      else Seq(a)
    }
    def loop(rest: List[String],
        o: CliOptions): Either[String, CliOptions] = rest match {
      case Nil => Right(o)
      case flag :: tail =>
        def valued(f: (String, CliOptions) => Either[String, CliOptions])
            : Either[String, CliOptions] = tail match {
          case v :: t2 => f(v, o).flatMap(loop(t2, _))
          case Nil => Left(s"$flag requires a value")
        }
        flag match {
          case "--pg-dbname" | "-d" =>
            valued((v, o) => Right(o.copy(pgDbname = Some(v))))
          case "--pg-host" | "-h" =>
            valued((v, o) => Right(o.copy(pgHost = v)))
          case "--pg-port" | "-p" =>
            valued((v, o) => Right(o.copy(pgPort = v)))
          case "--pg-user" | "-u" =>
            valued((v, o) => Right(o.copy(pgUser = Some(v))))
          case "--pg-sslmode" =>
            valued((v, o) => Right(o.copy(pgSslmode = v)))
          case "--pg-slot-name" | "-s" =>
            valued((v, o) => Right(o.copy(slotName = v)))
          case "--pg-slot-output-plugin" =>
            valued((v, o) =>
              if (Seq("test_decoding", "wal2json").contains(v))
                Right(o.copy(plugin = v))
              else Left(s"invalid choice for $flag: $v"))
          case "--stream-name" | "-k" =>
            valued((v, o) => Right(o.copy(streamName = v)))
          case "--message-formatter" | "-f" =>
            valued((v, o) =>
              if (Seq("CSVPayload", "CSV").contains(v))
                Right(o.copy(formatter = v))
              else Left(s"invalid choice for $flag: $v"))
          case "--table-pat" =>
            valued((v, o) => Right(o.copy(tablePat = Some(v))))
          case "--operations" =>
            valued((v, o) =>
              if (Operations.contains(v))
                Right(o.copy(operations = o.operations :+ v))
              else Left(s"invalid choice for $flag: $v"))
          case "--full-change" => loop(tail, o.copy(fullChange = true))
          case "--create-slot" => loop(tail, o.copy(createSlot = true))
          case "--recreate-slot" => loop(tail, o.copy(recreateSlot = true))
          case "--once" => loop(tail, o.copy(once = true))
          case "--dry-run" => loop(tail, o.copy(dryRun = true))
          case "--source-path" =>
            valued((v, o) => Right(o.copy(sourcePath = Some(v))))
          case "--checkpoint-dir" =>
            valued((v, o) => Right(o.copy(checkpointDir = Some(v))))
          case "--pk-catalog" =>
            valued((v, o) => Right(o.copy(pkCatalogPath = Some(v))))
          case "--send-window-secs" =>
            valued((v, o) => v.toIntOption
              .map(n => o.copy(sendWindowSecs = n))
              .toRight(s"invalid integer for $flag: $v"))
          case "--max-records-per-trigger" =>
            valued((v, o) => v.toLongOption
              .map(n => o.copy(maxRecordsPerTrigger = n))
              .toRight(s"invalid integer for $flag: $v"))
          // engine extension (no reference analog — its one shard IS
          // the cap): per-key ordered delivery lanes, hash(xid)-routed
          case "--sink-lanes" =>
            valued((v, o) => v.toIntOption.filter(_ >= 1)
              .map(n => o.copy(sinkLanes = n))
              .toRight(s"invalid lane count for $flag: $v"))
          case other => Left(s"unknown flag: $other")
        }
    }
    loop(norm.toList, CliOptions()).flatMap { o =>
      // Slot DDL without a database is a no-op job that LOOKS like it
      // made a slot — fail the parse instead of silently skipping (the
      // reference always has a database: libpq defaults to localhost).
      if ((o.createSlot || o.recreateSlot) && o.pgDbname.isEmpty)
        Left("--create-slot/--recreate-slot require --pg-dbname" +
          " (slot DDL runs against the configured database)")
      else Right(o)
    }
  }

  /** JDBC connection properties for the catalog/DDL connections: user
    * from the flag, password from PGPASSWORD (the reference likewise
    * leans on libpq's environment/pgpass resolution — it never takes a
    * password flag). */
  private def jdbcProps(o: CliOptions): java.util.Properties = {
    val p = new java.util.Properties()
    o.pgUser.foreach(p.setProperty("user", _))
    sys.env.get("PGPASSWORD").foreach(p.setProperty("password", _))
    p
  }

  /** Everything main() does after arg parsing, callable from specs:
    * catalog resolution, slot-DDL wiring, job start. */
  def start(spark: SparkSession, o: CliOptions)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(o.sourcePath.nonEmpty || PgReplicationSource.registered(o.slotName),
      s"no --source-path, and no replication connection is registered as " +
        s"'${o.slotName}' (--pg-slot-name): pass --source-path <WAL dump> " +
        s"to replay a file, or call PgJdbcReplicationStream.register(" +
        s""""${o.slotName}", url, user, password, slot) before Main.start""")
    val cat = o.pkCatalogPath match {
      case Some(path) => PkCatalog.fromFile(spark, path)
      case None if o.pgDbname.isDefined =>
        PkCatalog.fromJdbc(spark, o.jdbcUrl, jdbcProps(o))
      case None => PkCatalog.fromItems(spark, Seq.empty)
    }
    // Reference roadmap README.rst:136-138 ("refresh primary key
    // cache on HUP"): arm SIGHUP to mark the catalog snapshot stale —
    // the next micro-batch re-runs the underlying JDBC/file read.
    // Harmless for the literal-items fallback (a refresh recomputes
    // the same literals).
    PkCatalog.hupRefreshable(cat)
    // Slot DDL needs a live statement executor; only wire one when a
    // DDL flag asks for it AND a database is configured (a JDBC driver
    // must be on the classpath at that point — same deploy-time
    // requirement as the walsender transport). Connection scope is ONE
    // STATEMENT: the DDL runs once at startup, and holding a
    // connection open for the life of a streaming job would pin a
    // server slot for days doing nothing.
    val admin =
      if ((o.createSlot || o.recreateSlot) && o.pgDbname.isDefined)
        new SlotAdmin(sql => {
          val conn = java.sql.DriverManager.getConnection(o.jdbcUrl,
            jdbcProps(o))
          try {
            val st = conn.createStatement()
            try { st.execute(sql); () } finally st.close()
          } finally conn.close()
        })
      else null
    GraftJob.start(spark, o.toConfig, cat, slotAdmin = admin)
  }

  def main(args: Array[String]): Unit =
    parse(args.toIndexedSeq) match {
      case Left(err) =>
        System.err.println(err)
        System.err.println(usage)
        sys.exit(2)
      case Right(o) =>
        val b = Tuning.builder().appName("pg2kinesis-graft")
          .config("spark.sql.shuffle.partitions",
            sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
        // spark-submit injects the master; bare `runMain` runs local
        val spark = (if (sys.props.contains("spark.master")) b
                     else b.master("local[*]")).getOrCreate()
        // the reference's 10 s progress log line (__main__.py:106-115)
        spark.streams.addListener(new graft.streaming.CdcProgressListener(
          line => System.err.println(line)))
        val q = start(spark, o)
        if (o.once) { q.processAllAvailable(); q.stop() }
        else q.awaitTermination()
    }
}
