package graft.operators

import graft.{QueryModule, Tables}
import graft.catalog.PkCatalog
import graft.core.PrimaryKeyMapItem
import graft.functions.Cdc
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's CDC dataflow exercised as batch queries with DuckDB
  * oracles. The round-trip queries are the strongest checks: each
  * events row is rendered to the exact wire format the reference
  * consumes (wal2json JSON / test_decoding text), pushed through the
  * full parse → xact-track → filter → PK-join pipeline, and the result
  * must equal a plain projection of the source table — the oracle is
  * the identity, so any parser deviation shows up as a hash mismatch.
  *
  * Covers SURVEY.md §2.1 operators P1-P4, F1-F3, J1, X1-X3 in batch
  * form (the streaming form of the same pipeline lives in
  * graft.streaming; Structured Streaming runs these identical column
  * expressions per micro-batch).
  */
object CdcQueries extends QueryModule {
  import Tables._

  /** Static stand-in for the information_schema snapshot (S2); the
    * live path is PkCatalog.fromJdbc with the same result shape. */
  private def catalog(s: SparkSession) = PkCatalog.fromItems(s, Seq(
    PrimaryKeyMapItem("public.events", "event_id", "bigint", 1)))

  /** Render events rows as wal2json messages — the synthetic
    * replication stream. xid is offset so a parser bug that confuses
    * xid with pkey cannot accidentally pass. */
  private def wal2jsonPayloads(s: SparkSession, d: String): DataFrame =
    events(s, d).select(to_json(struct(
      (col("event_id") + 1000000L).as("xid"),
      array(struct(
        lit("insert").as("kind"),
        lit("public").as("schema"),
        lit("events").as("table"),
        array(lit("user_id"), lit("event_id"), lit("event_type"))
          .as("columnnames"),
        array(lit("bigint"), lit("bigint"), lit("text"))
          .as("columntypes"),
        array(col("user_id").cast("string"),
          col("event_id").cast("string"),
          col("event_type")).as("columnvalues"))).as("change")))
      .as("payload"))

  /** Render events rows as test_decoding message triples
    * (BEGIN / table-change / COMMIT) with a monotonically increasing
    * LSN, exercising the order-dependent xact carry (P3). */
  private def testDecodingPayloads(s: SparkSession, d: String): DataFrame =
    events(s, d).select(
      posexplode(array(
        format_string("BEGIN %d", col("event_id") + 1000000L),
        format_string(
          "table public.events: INSERT: event_id[bigint]:%d user_id[bigint]:%d",
          col("event_id"), col("user_id")),
        lit("COMMIT"))).as(Seq("off", "payload")),
      col("event_id"))
      .select((col("event_id") * 3 + col("off")).as("lsn"), col("payload"))

  /** The synthesized change stream shared by cdc_apply and cdc_scd2:
    * updates for id%3==0 (value*2), deletes for id%3==1, inserts of
    * NEW keys for id%3==2 (negated-minus-one ids — disjoint from the
    * non-negative real id space by construction at every scale
    * factor), plus a SECOND later update (value+7) for id%9==0 so
    * per-key LSN ordering is actually exercised. */
  private def syntheticChanges(base: DataFrame): DataFrame =
    base
      .filter(col("event_id") % 3 === 0)
      .select(col("event_id"), lit("update").as("op"),
        (col("value") * 2).as("new_value"),
        (col("event_id") * 2).as("lsn"))
      .unionByName(base.filter(col("event_id") % 3 === 1)
        .select(col("event_id"), lit("delete").as("op"),
          lit(null).cast("double").as("new_value"),
          (col("event_id") * 2).as("lsn")))
      .unionByName(base.filter(col("event_id") % 3 === 2)
        .select((-col("event_id") - 1L).as("event_id"),
          lit("insert").as("op"), col("value").as("new_value"),
          (col("event_id") * 2).as("lsn")))
      .unionByName(base.filter(col("event_id") % 9 === 0)
        .select(col("event_id"), lit("update").as("op"),
          (col("value") + 7).as("new_value"),
          (col("event_id") * 2 + 1).as("lsn")))

  /** Body of a `changes` CTE over `base(event_id, value)`: the same
    * stream as [[syntheticChanges]]. */
  private val syntheticChangesSql =
    """(
      |  SELECT event_id, 'update' AS op, value * 2 AS new_value,
      |    event_id * 2 AS lsn
      |  FROM base WHERE event_id % 3 = 0
      |  UNION ALL
      |  SELECT event_id, 'delete', NULL, event_id * 2
      |  FROM base WHERE event_id % 3 = 1
      |  UNION ALL
      |  SELECT -event_id - 1, 'insert', value, event_id * 2
      |  FROM base WHERE event_id % 3 = 2
      |  UNION ALL
      |  SELECT event_id, 'update', value + 7, event_id * 2 + 1
      |  FROM base WHERE event_id % 9 = 0)""".stripMargin

  override def queries: Map[String, Q] = Map(
    // SCD2 history build: the change stream as validity INTERVALS —
    // every non-delete change opens a version at its LSN, the next
    // change on the same key (including a delete) closes it, and an
    // open valid_to marks the current version. The whole history is
    // one key-partitioned lead() window over base ∪ changes (the
    // base table rides along as a synthetic initial load at LSN -1):
    // one shuffle on the key, no self-join, the standard
    // history-preserving face of the cdc_apply merge (SCD1). A key
    // whose last change is a delete correctly ends with NO current
    // row.
    "cdc_scd2" -> ((s, d) => {
      val base = events(s, d).select(col("event_id"), col("value"))
      val versions = base
        .select(col("event_id"), lit("insert").as("op"),
          col("value").as("new_value"), lit(-1L).as("lsn"))
        .unionByName(syntheticChanges(base))
      val w = Window.partitionBy(col("event_id")).orderBy(col("lsn"))
      versions
        .withColumn("valid_to_lsn", lead(col("lsn"), 1).over(w))
        .filter(col("op") =!= "delete")
        .select(col("event_id"), col("new_value").as("value"),
          col("lsn").as("valid_from_lsn"), col("valid_to_lsn"),
          col("valid_to_lsn").isNull.cast("long").as("is_current"))
        .orderBy(col("event_id"), col("valid_from_lsn"))
    }),

    // Replication digest: per-operation accounting of the change
    // stream (volume, distinct keys touched, LSN span) — the
    // monitoring rollup a CDC consumer publishes per flush window
    // (the batch face of A3's running metrics). One groupBy over the
    // change feed; three report rows.
    "cdc_change_stats" -> ((s, d) => {
      val base = events(s, d).select(col("event_id"), col("value"))
      syntheticChanges(base)
        .groupBy(col("op"))
        .agg(count(lit(1)).as("n_changes"),
          countDistinct(col("event_id")).as("n_keys"),
          min(col("lsn")).as("min_lsn"),
          max(col("lsn")).as("max_lsn"))
        .orderBy(col("op"))
    }),

    // P2/P4/J1/F1: wal2json parse round-trip; oracle = identity.
    "cdc_wal2json_roundtrip" -> ((s, d) => {
      Cdc.parseWal2Json(wal2jsonPayloads(s, d), "payload", catalog(s))
        .orderBy(col("xid"))
    }),

    // P1/P3/F3/J1: test_decoding parse round-trip incl. BEGIN-xid
    // carry-forward; oracle = identity.
    "cdc_test_decoding_roundtrip" -> ((s, d) => {
      Cdc.parseTestDecoding(testDecodingPayloads(s, d), "payload", "lsn",
        catalog(s))
        .orderBy(col("lsn"))
    }),

    // X1: CSV formatter.
    "cdc_csv_format" -> ((s, d) => {
      events(s, d).select(col("event_id"),
        Cdc.csvLine(col("event_id"), lit("public.events"),
          col("event_type"), col("user_id").cast("string")).as("line"))
        .orderBy(col("event_id"))
    }),

    // X2: CSV+JSON formatter (exact wire bytes checked by the oracle).
    "cdc_csv_payload" -> ((s, d) => {
      events(s, d).select(col("event_id"),
        Cdc.csvPayload(col("event_id"), lit("public.events"),
          col("event_type"), col("user_id").cast("string")).as("line"))
        .orderBy(col("event_id"))
    }),

    // F2: operation allow-list that nulls instead of drops, preserving
    // the reference's flush/ack cadence (__main__.py:97-99).
    "cdc_operation_gate" -> ((s, d) => {
      events(s, d).select(col("event_id"),
        col("event_type").as("operation"),
        Cdc.operationGate(col("event_type"),
          Cdc.csvLine(col("event_id"), lit("public.events"),
            col("event_type"), col("user_id").cast("string")),
          Seq("click", "purchase")).as("fmt_msg"))
        .orderBy(col("event_id"))
    }),

    // P2 full-change mode round-trip (--full-change): the whole change
    // element passes through AS RAW JSON — no PK lookup, no validation,
    // no schema re-projection — and X2 serializes {xid, change}
    // byte-identically to the reference's json.dumps. The synthesized
    // stream cycles all three DML kinds, carries `oldkeys` on update/
    // delete (README.rst:107-117, tests/test_formatter.py:184-249) and
    // a NUMERIC columnvalue, so the oracle pins exactly the fidelity
    // the schema-projection formulation used to lose (dropped oldkeys,
    // numbers coerced to strings, compact whitespace).
    "cdc_full_change" -> ((s, d) => {
      val kind = element_at(
        array(lit("insert"), lit("update"), lit("delete")),
        (col("event_id") % 3 + 1).cast("int"))
      val oldkeys = when(col("event_id") % 3 === 0, lit(""))
        .otherwise(format_string(
          """, "oldkeys": {"keynames": ["event_id"],""" +
            """ "keytypes": ["bigint"], "keyvalues": [%d]}""",
          col("event_id")))
      val pay = events(s, d).select(format_string(
        """{"xid": %d, "change": [{"kind": "%s", "schema": "public",""" +
          """ "table": "events", "columnnames": ["event_id", "event_type"],""" +
          """ "columntypes": ["bigint", "text"],""" +
          """ "columnvalues": [%d, "%s"]%s}]}""",
        col("event_id"), kind, col("event_id"), col("event_type"),
        oldkeys).as("payload"))
      val parsed = Cdc.parseWal2JsonFull(pay, "payload")
      parsed.select(col("xid"), col("table_name"), col("operation"),
        Cdc.csvPayloadFull(col("xid"), col("change_json")).as("fmt_msg"))
        .orderBy(col("xid"))
    }),

    // Lenient-mode dead-lettering: every 5th payload references a
    // table missing from the PK catalog; strict mode would halt the
    // pipeline (reference semantics), lenient mode preserves the row
    // with a null pkey so it can be routed to a dead-letter sink
    // while the healthy flow continues.
    "cdc_dead_letter" -> ((s, d) => {
      val pay = events(s, d).select(to_json(struct(
        col("event_id").as("xid"),
        array(struct(
          lit("insert").as("kind"),
          lit("public").as("schema"),
          when(col("event_id") % 5 === 0, "mystery").otherwise("events")
            .as("table"),
          array(lit("event_id")).as("columnnames"),
          array(lit("bigint")).as("columntypes"),
          array(col("event_id").cast("string")).as("columnvalues")))
          .as("change"))).as("payload"))
      Cdc.parseWal2Json(pay, "payload", catalog(s), strict = false)
        .withColumn("status",
          when(col("pkey").isNull, "dead_letter").otherwise("ok"))
        .orderBy(col("xid"))
    }),

    // CDC APPLY (merge/upsert): materialize a change stream into table
    // state — the downstream operation every CDC consumer ultimately
    // runs, which the reference can only feed (it ships changes to
    // Kinesis and stops). Synthesized stream over the events base
    // table: an update (value*2) for id%3==0, a delete for id%3==1, a
    // fresh insert for id%3==2 (key -(id+1): negative, disjoint from
    // the non-negative real id space BY CONSTRUCTION at every scale
    // factor — an additive offset would collide once the table outgrew
    // it and silently stop exercising the insert path), plus a SECOND,
    // later update
    // (value+7) for id%9==0 — so last-change-per-key ordering by LSN is
    // actually exercised, not just single-change keys. The apply is one
    // window (latest change per key) + one full-outer merge: the
    // standard scalable MERGE shape — one shuffle on the key, no
    // row-at-a-time logic, identical whether the batch is a backfill or
    // a micro-batch in foreachBatch.
    "cdc_apply" -> ((s, d) => {
      val base = events(s, d).select(col("event_id"), col("value"))
      val changes = syntheticChanges(base)
      val w = Window.partitionBy(col("event_id")).orderBy(col("lsn").desc)
      val latest = changes
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("event_id"), col("op"), col("new_value"))
      base.join(latest, Seq("event_id"), "full_outer")
        .filter(coalesce(col("op"), lit("keep")) =!= "delete")
        .select(col("event_id"),
          when(col("op").isNull, col("value"))
            .otherwise(col("new_value")).as("value"))
        .orderBy(col("event_id"))
    }),

    // F1: table-name regex filter over a multi-table stream.
    "cdc_table_filter" -> ((s, d) => {
      events(s, d)
        .withColumn("table_name",
          concat(lit("public.t"), col("user_id") % 5))
        .filter(col("table_name").rlike("public\\.t[0-2]$"))
        .groupBy(col("table_name"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("table_name"))
    })
  )

  override def oracles: Map[String, String] = Map(
    "cdc_wal2json_roundtrip" ->
      """SELECT event_id + 1000000 AS xid, 'public.events' AS table_name,
        |  'insert' AS operation, CAST(event_id AS VARCHAR) AS pkey
        |FROM events ORDER BY xid""".stripMargin,

    "cdc_test_decoding_roundtrip" ->
      """SELECT event_id * 3 + 1 AS lsn, event_id + 1000000 AS xid,
        |  'public.events' AS table_name, 'INSERT' AS operation,
        |  CAST(event_id AS VARCHAR) AS pkey
        |FROM events ORDER BY lsn""".stripMargin,

    "cdc_csv_format" ->
      """SELECT event_id, '0,CDC,' || CAST(event_id AS VARCHAR) ||
        |  ',public.events,' || event_type || ',' ||
        |  CAST(user_id AS VARCHAR) AS line
        |FROM events ORDER BY event_id""".stripMargin,

    "cdc_csv_payload" ->
      """SELECT event_id, '0,CDC,{"xid":' || CAST(event_id AS VARCHAR) ||
        |  ',"table":"public.events","operation":"' || event_type ||
        |  '","pkey":"' || CAST(user_id AS VARCHAR) || '"}' AS line
        |FROM events ORDER BY event_id""".stripMargin,

    "cdc_operation_gate" ->
      """SELECT event_id, event_type AS operation,
        |  CASE WHEN event_type IN ('click', 'purchase')
        |    THEN '0,CDC,' || CAST(event_id AS VARCHAR) ||
        |      ',public.events,' || event_type || ',' ||
        |      CAST(user_id AS VARCHAR) END AS fmt_msg
        |FROM events ORDER BY event_id""".stripMargin,

    "cdc_full_change" ->
      """SELECT event_id AS xid, 'public.events' AS table_name,
        |  CASE event_id % 3 WHEN 0 THEN 'insert' WHEN 1 THEN 'update'
        |    ELSE 'delete' END AS operation,
        |  '0,CDC,{"xid": ' || CAST(event_id AS VARCHAR) ||
        |  ', "change": {"kind": "' ||
        |  CASE event_id % 3 WHEN 0 THEN 'insert' WHEN 1 THEN 'update'
        |    ELSE 'delete' END ||
        |  '", "schema": "public", "table": "events",' ||
        |  ' "columnnames": ["event_id", "event_type"],' ||
        |  ' "columntypes": ["bigint", "text"],' ||
        |  ' "columnvalues": [' || CAST(event_id AS VARCHAR) || ', "' ||
        |  event_type || '"]' ||
        |  CASE WHEN event_id % 3 = 0 THEN ''
        |    ELSE ', "oldkeys": {"keynames": ["event_id"],' ||
        |      ' "keytypes": ["bigint"], "keyvalues": [' ||
        |      CAST(event_id AS VARCHAR) || ']}' END ||
        |  '}}' AS fmt_msg
        |FROM events ORDER BY xid""".stripMargin,

    "cdc_dead_letter" ->
      """SELECT event_id AS xid,
        |  'public.' || CASE WHEN event_id % 5 = 0 THEN 'mystery'
        |    ELSE 'events' END AS table_name,
        |  'insert' AS operation,
        |  CASE WHEN event_id % 5 = 0 THEN NULL
        |    ELSE CAST(event_id AS VARCHAR) END AS pkey,
        |  CASE WHEN event_id % 5 = 0 THEN 'dead_letter'
        |    ELSE 'ok' END AS status
        |FROM events ORDER BY xid""".stripMargin,

    "cdc_scd2" ->
      s"""WITH base AS MATERIALIZED (SELECT event_id, value FROM events),
         |changes AS MATERIALIZED $syntheticChangesSql,
         |versions AS (
         |  SELECT event_id, 'insert' AS op, value AS new_value,
         |    CAST(-1 AS BIGINT) AS lsn
         |  FROM base
         |  UNION ALL SELECT * FROM changes),
         |v2 AS (
         |  SELECT event_id, op, new_value, lsn,
         |    LEAD(lsn) OVER (PARTITION BY event_id ORDER BY lsn)
         |      AS valid_to_lsn
         |  FROM versions)
         |SELECT event_id, new_value AS value, lsn AS valid_from_lsn,
         |  valid_to_lsn,
         |  CAST(CASE WHEN valid_to_lsn IS NULL THEN 1 ELSE 0 END
         |    AS BIGINT) AS is_current
         |FROM v2 WHERE op <> 'delete'
         |ORDER BY event_id, valid_from_lsn""".stripMargin,

    "cdc_change_stats" ->
      s"""WITH base AS (SELECT event_id, value FROM events),
         |changes AS $syntheticChangesSql
         |SELECT op, COUNT(*) AS n_changes,
         |  COUNT(DISTINCT event_id) AS n_keys,
         |  MIN(lsn) AS min_lsn, MAX(lsn) AS max_lsn
         |FROM changes GROUP BY op ORDER BY op""".stripMargin,

    "cdc_apply" ->
      s"""WITH base AS (SELECT event_id, value FROM events),
         |changes AS $syntheticChangesSql,
         |latest AS (
         |  SELECT event_id, op, new_value FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id
         |      ORDER BY lsn DESC) AS rn
         |    FROM changes) t WHERE rn = 1)
         |SELECT COALESCE(b.event_id, l.event_id) AS event_id,
         |  CASE WHEN l.op IS NULL THEN b.value ELSE l.new_value END AS value
         |FROM base b FULL OUTER JOIN latest l ON b.event_id = l.event_id
         |WHERE COALESCE(l.op, 'keep') <> 'delete'
         |ORDER BY event_id""".stripMargin,

    "cdc_table_filter" ->
      """SELECT 'public.t' || CAST(user_id % 5 AS VARCHAR) AS table_name,
        |  COUNT(*) AS n
        |FROM events
        |WHERE regexp_matches('public.t' || CAST(user_id % 5 AS VARCHAR),
        |  'public\.t[0-2]$')
        |GROUP BY 1 ORDER BY table_name""".stripMargin
  )
}
