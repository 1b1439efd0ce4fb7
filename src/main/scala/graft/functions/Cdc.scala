package graft.functions

import graft.expressions.CachedRegexpExtract.regexp_extract_cached
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's entire formatter surface (reference formatter.py) as
  * declarative Column/DataFrame transforms — operators P1-P4, F1-F3,
  * J1, X1-X3 of SURVEY.md §2.1.
  *
  * Where the reference runs a Python callback per WAL message, here the
  * same semantics are a whole-stage-codegen'd expression pipeline that
  * works identically on batch DataFrames and Structured Streaming
  * micro-batches: a one-walk wal2json extractor + `explode` + broadcast
  * catalog join + `regexp_extract`. Nothing here touches the driver;
  * every stage scales with input partitions.
  *
  * Error semantics: the reference raises on unknown tables / missing
  * PKs (formatter.py:20-21, 77, 134-137). `strict = true` reproduces
  * that with `raise_error`; `strict = false` yields a null pkey so bad
  * records can be dead-lettered downstream instead of halting the job.
  */
object Cdc {

  /** Match-all default, reference __main__.py:31 / formatter.py:35-36. */
  val defaultTablePat = "[\\w_\\.]+"

  // -------------------------------------------------------------------
  // P2/P4/F1/J1: wal2json payload → exploded Change rows.
  // -------------------------------------------------------------------

  /** Parse wal2json payloads (reference formatter.py:83-132).
    *
    * @param df dataframe holding `payloadCol` with raw JSON strings
    * @param pkCatalog broadcastable catalog: (table_name, pk_name)
    *                  as produced by graft.catalog.PkCatalog
    * @return columns: xid LONG, table_name STRING, operation STRING,
    *         pkey STRING (+ passthrough of other input columns)
    */
  def parseWal2Json(
      df: DataFrame, payloadCol: String,
      pkCatalog: DataFrame,
      tablePat: String = defaultTablePat,
      strict: Boolean = true): DataFrame = {
    val keep = df.columns.filter(_ != payloadCol).map(col).toSeq
    // one Jackson walk per message (FullChangeRows, PK mode) yields
    // each change element's routing fields and its columnnames /
    // columnvalues as text, the way from_json would read them; one
    // payload → 0..N changes, empty change arrays drop out (P4)
    val parsed = df
      .select((keep :+ explode(
        graft.expressions.FullChangeRows.change_rows(col(payloadCol)))
        .as("_c")): _*)
      .withColumn("table_name",
        concat(col("_c.schema"), lit("."), col("_c.table")))
      // F1: unanchored regex search, like the reference's re.search
      .filter(col("table_name").rlike(tablePat))
      // J1: broadcast lookup join against the PK catalog
      .join(broadcast(pkCatalog), Seq("table_name"), "left")
      .withColumn("_idx",
        array_position(col("_c.columnnames"), col("pk_name")).cast("int"))
    // strict checks live INSIDE the projected pkey expression — a
    // separate check column would be pruned away by Catalyst and never
    // evaluated, silently dropping the reference's halt-on-error
    // contract (formatter.py:134-137).
    val pkey =
      if (strict)
        when(col("pk_name").isNull,
          raise_error(concat(lit("Unable to locate table: "),
            col("table_name"))).cast("string"))
          .when(col("_idx").isNull || col("_idx") <= 0,
            raise_error(concat(
              lit("Unable to locate primary key for table "),
              col("table_name"))).cast("string"))
          .otherwise(element_at(col("_c.columnvalues"), col("_idx")))
      else when(col("_idx") > 0,
        element_at(col("_c.columnvalues"), col("_idx")))
    parsed.select((keep :+ col("_c.xid").as("xid") :+ col("table_name") :+
      col("_c.kind").as("operation") :+ pkey.as("pkey")): _*)
  }

  /** P2 full-change mode (reference `--full-change`): each change
    * element is kept WHOLE, as raw JSON text — no PK lookup, no
    * table/PK validation at all (reference formatter.py:117-118 skips
    * both; tests/test_formatter.py:184-249 pin the no-validation,
    * whole-dict passthrough semantics). Only the table-regex filter
    * (F1) still applies. Because the element is never re-projected
    * through a schema, update/delete `oldkeys` (README.rst:107-117)
    * and any other wal2json field survive verbatim, and numeric
    * columnvalues stay numbers. The reference asserts this mode
    * requires wal2json + CSVPayload (__main__.py:45-47); the matching
    * serializer is [[csvPayloadFull]].
    *
    * @return xid LONG, table_name STRING, operation STRING (=
    *         change.kind), change_json STRING (the full wal2json
    *         element, raw)
    */
  def parseWal2JsonFull(
      df: DataFrame, payloadCol: String,
      tablePat: String = defaultTablePat): DataFrame = {
    val keep = df.columns.filter(_ != payloadCol).map(col).toSeq
    // single-parse extraction (FullChangeRows): one Jackson walk per
    // message yields every change element's routing fields AND its
    // dumps-rendered raw text; explode is the 1→N flat-map (P4 —
    // empty/missing change arrays produce no rows)
    df.withColumn("_c", explode(
        graft.expressions.FullChangeRows.full_change_rows(col(payloadCol))))
      .withColumn("table_name",
        concat(col("_c.schema"), lit("."), col("_c.table")))
      .filter(col("table_name").rlike(tablePat))
      .select((keep :+ col("_c.xid").as("xid") :+ col("table_name") :+
        col("_c.kind").as("operation") :+
        col("_c.change_py").as("change_json")): _*)
  }

  /** X2 in full-change mode: `0,CDC,{json of {xid, change}}` — the
    * FullChange serialization, byte-identical to the reference
    * (formatter.py:158-163: `json.dumps(FullChange._asdict())` with
    * default `', '`/`': '` separators and ensure_ascii; README.rst:
    * 107-117). `changeJson` must already be dumps-rendered, as
    * [[parseWal2JsonFull]] emits (via FullChangeRows/PyJson — field
    * order, `oldkeys`, and numeric value tokens all survive); apply
    * [[graft.expressions.PyJson.py_json]] first for JSON from any
    * other source. */
  def csvPayloadFull(xid: Column, changeJson: Column): Column =
    concat(lit("0,CDC,{\"xid\": "), xid.cast("string"),
      lit(", \"change\": "), changeJson, lit("}"))

  // -------------------------------------------------------------------
  // P1/P3/F1/F3/J1: test_decoding text → Change rows with xact carry.
  // -------------------------------------------------------------------

  /** Parse test_decoding text payloads (reference formatter.py:45-81).
    *
    * The BEGIN-xid carry-forward (P3, reference's mutable cur_xact at
    * formatter.py:37,59-60) is an order-dependent scan over the LSN
    * order. Batch replay expresses it as `last(xid, ignoreNulls) OVER
    * (ORDER BY lsn)` — a single-partition window, which matches the
    * problem: a replication slot is one totally ordered stream (the
    * reference is equally single-lane). The streaming path instead
    * reads the carry off the source's `begin_xid` column: each source
    * partition starts from the xid its start offset holds and advances
    * it at each BEGIN line, so no shuffle and no state store appear
    * there (graft.sources.CdcFileSource).
    *
    * @param pkCatalog catalog with (table_name, pk_name, pk_type)
    * @return xid LONG, table_name, operation, pkey (+ lsn passthrough)
    */
  def parseTestDecoding(
      df: DataFrame, payloadCol: String, lsnCol: String,
      pkCatalog: DataFrame,
      tablePat: String = defaultTablePat,
      strict: Boolean = true): DataFrame = {
    val p = col(payloadCol)
    val w = Window.orderBy(col(lsnCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tagged = df
      .withColumn("_xid_begin",
        when(p.startsWith("BEGIN "),
          split(p, " ").getItem(1).cast("long")))
      .withColumn("xid", last(col("_xid_begin"), ignoreNulls = true).over(w))
    val changes = tagged
      // F3: BEGIN consumed as state above, COMMIT ignored
      .filter(p.startsWith("table "))
      .withColumn("table_name", regexp_extract(p, "^table ([^:]+):", 1))
      .withColumn("operation", regexp_extract(p, "^table [^:]+: (\\w+):", 1))
      .filter(col("table_name").rlike(tablePat))
      .join(broadcast(pkCatalog), Seq("table_name"), "left")
      // per-table PK pattern, reference template formatter.py:19:
      //   {col_name}\[{col_type}\]:'?([\w\-]+)'?
      // built as a column so one regexp_extract serves every table
      .withColumn("_pk_pat", concat(col("pk_name"), lit("\\["),
        col("pk_type"), lit("\\]:'?([\\w\\-]+)'?")))
      // regexp_extract with the per-table pattern column, one compiled
      // pattern kept per table (interleaved tables would recompile it)
      .withColumn("_pk_raw", regexp_extract_cached(p, col("_pk_pat"), 1))
    // strict checks inside the projected expression (see parseWal2Json)
    val pkey =
      if (strict)
        when(col("pk_name").isNull,
          raise_error(concat(lit("Unable to locate table: "),
            col("table_name"))).cast("string"))
          .when(col("_pk_raw") === "",
            raise_error(concat(
              lit("Unable to locate primary key for table "),
              col("table_name"))).cast("string"))
          .otherwise(col("_pk_raw"))
      else when(col("pk_name").isNotNull && col("_pk_raw") =!= "",
        col("_pk_raw"))
    changes.select(col(lsnCol), col("xid"), col("table_name"),
      col("operation"), pkey.as("pkey"))
  }

  /** The grammar of a test_decoding change line, `table <name>: <op>:
    * <body>`. `\z`, not `$`: `rlike`/`regexp_extract` search with
    * `find()`, whose `$` also matches before one trailing line
    * terminator; this pattern matches exactly the lines the whole-line
    * `matches()` of `^table ([^:]+): (\w+): (.*)$` matches, with the
    * same groups. */
  private val TestDecodingLine = "^table ([^:]+): (\\w+): (.*)\\z"

  /** Split test_decoding change lines into `table_name`, `operation`
    * and `body` (P1); BEGIN, COMMIT and noise lines drop out (F3). The
    * other input columns pass through. */
  def splitTestDecoding(df: DataFrame, payloadCol: String): DataFrame = {
    val p = col(payloadCol)
    val keep = df.columns.filter(_ != payloadCol).map(col).toSeq
    df.filter(p.rlike(TestDecodingLine)).select((keep ++ Seq(
      regexp_extract(p, TestDecodingLine, 1).as("table_name"),
      regexp_extract(p, TestDecodingLine, 2).as("operation"),
      regexp_extract(p, TestDecodingLine, 3).as("body"))): _*)
  }

  /** Per-table PK regex extraction for already-split test_decoding
    * rows (columns `table_name` + `bodyCol`) — the tail of
    * [[parseTestDecoding]] for callers that did the BEGIN-xid carry
    * elsewhere (the streaming path reads it from the source). Adds
    * `pkey`; strict mode reproduces the reference's halt-on-error. */
  def testDecodingPkey(df: DataFrame, bodyCol: String,
      pkCatalog: DataFrame, strict: Boolean = true): DataFrame = {
    val joined = df
      .join(broadcast(pkCatalog), Seq("table_name"), "left")
      .withColumn("_pk_pat", concat(col("pk_name"), lit("\\["),
        col("pk_type"), lit("\\]:'?([\\w\\-]+)'?")))
      .withColumn("_pk_raw",
        regexp_extract_cached(col(bodyCol), col("_pk_pat"), 1))
    val pkey =
      if (strict)
        when(col("pk_name").isNull,
          raise_error(concat(lit("Unable to locate table: "),
            col("table_name"))).cast("string"))
          .when(col("_pk_raw") === "",
            raise_error(concat(
              lit("Unable to locate primary key for table "),
              col("table_name"))).cast("string"))
          .otherwise(col("_pk_raw"))
      else when(col("pk_name").isNotNull && col("_pk_raw") =!= "",
        col("_pk_raw"))
    joined.withColumn("pkey", pkey)
      .drop("_pk_pat", "_pk_raw", "pk_name", "pk_type")
  }

  // -------------------------------------------------------------------
  // X1/X2: output formatters.
  // -------------------------------------------------------------------

  /** CSV line `0,CDC,{xid},{table},{operation},{pkey}` (reference
    * formatter.py:150-155; format spec README.rst:86-88). */
  def csvLine(xid: Column, table: Column, operation: Column,
      pkey: Column): Column =
    concat_ws(",", lit("0"), lit("CDC"), xid, table, operation, pkey)

  /** CSV+JSON payload `0,CDC,{json}` (reference formatter.py:158-163;
    * spec README.rst:90-117). Field order fixed by the struct. */
  def csvPayload(xid: Column, table: Column, operation: Column,
      pkey: Column): Column =
    concat(lit("0,CDC,"), to_json(struct(
      xid.as("xid"), table.as("table"),
      operation.as("operation"), pkey.as("pkey"))))

  /** X3: formatter dispatch by name (reference formatter.py:166-168
    * resolves `<Name>Formatter` reflectively; a closed match is the
    * idiomatic Scala shape for the same "format of your choosing"
    * extension point). */
  def formatterFor(name: String)
      : (Column, Column, Column, Column) => Column =
    name.toLowerCase match {
      case "csv" => csvLine
      case "csvpayload" => csvPayload
      case other =>
        throw new IllegalArgumentException(s"unknown formatter: $other")
    }

  /** F2: operation allow-list that NULLS the formatted message instead
    * of dropping the row (reference __main__.py:97-99) — filtered-out
    * messages still reach the sink batcher so flush/ack cadence is
    * preserved. Matching is case-insensitive on our side (the
    * reference is exact-match but receives plugin-cased ops). */
  def operationGate(operation: Column, fmtMsg: Column,
      ops: Seq[String]): Column =
    when(lower(operation).isin(ops.map(_.toLowerCase): _*), fmtMsg)
}
