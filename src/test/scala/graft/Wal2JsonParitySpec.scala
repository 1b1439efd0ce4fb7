package graft

import graft.catalog.PkCatalog
import graft.core.PrimaryKeyMapItem
import graft.functions.Cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `Cdc.parseWal2Json` (one Jackson walk per message) against the
  * formulation it replaced, `from_json` into the full wal2json struct +
  * `explode`, kept here as the reference. On an edge corpus both must
  * give the same `(xid, table_name, operation, pkey)` rows with
  * `strict = false`, and with `strict = true` the same rows or the same
  * `raise_error`. The corpus pins from_json's behaviour under Spark
  * 4.1's JSON defaults: partial results, re-rendered non-string values,
  * single quotes and NaN accepted.
  */
class Wal2JsonParitySpec extends SparkSpec {
  import spark.implicits._

  private lazy val cat = PkCatalog.fromItems(spark, Seq(
    PrimaryKeyMapItem("public.species", "id", "integer", 1),
    PrimaryKeyMapItem("public.gadgets", "uuid", "uuid", 1)))

  private val changeSchema = StructType(Seq(
    StructField("kind", StringType),
    StructField("schema", StringType),
    StructField("table", StringType),
    StructField("columnnames", ArrayType(StringType)),
    StructField("columntypes", ArrayType(StringType)),
    StructField("columnvalues", ArrayType(StringType))))
  private val messageSchema = StructType(Seq(
    StructField("xid", LongType),
    StructField("change", ArrayType(changeSchema))))

  /** The from_json formulation of parseWal2Json, as it was. */
  private def fromJson(df: DataFrame, strict: Boolean): DataFrame = {
    val keep = df.columns.filter(_ != "payload").map(col).toSeq
    val parsed = df
      .withColumn("_w", from_json(col("payload"), messageSchema))
      .select((keep :+ col("_w.xid").as("xid") :+
        explode(col("_w.change")).as("_c")): _*)
      .withColumn("table_name",
        concat(col("_c.schema"), lit("."), col("_c.table")))
      .filter(col("table_name").rlike(Cdc.defaultTablePat))
      .join(broadcast(cat), Seq("table_name"), "left")
      .withColumn("_idx",
        array_position(col("_c.columnnames"), col("pk_name")).cast("int"))
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
    parsed.select((keep :+ col("xid") :+ col("table_name") :+
      col("_c.kind").as("operation") :+ pkey.as("pkey")): _*)
  }

  private def walk(df: DataFrame, strict: Boolean): DataFrame =
    Cdc.parseWal2Json(df, "payload", cat, Cdc.defaultTablePat, strict)

  private def el(table: String, names: String, values: String,
      kind: String = "insert") =
    s"""{"kind": "$kind", "schema": "public", "table": "$table", """ +
      s""""columnnames": $names, "columntypes": ["integer", "text"], """ +
      s""""columnvalues": $values}"""
  private def msg(xid: String, elems: String*) =
    s"""{"xid": $xid, "change": [${elems.mkString(", ")}]}"""
  private def id(xid: String, value: String) =
    msg(xid, el("species", """["id"]""", s"[$value]"))
  private def bare(xid: Int, body: String) =
    msg(xid.toString, s"""{"schema": "public", $body}""")

  val corpus: Seq[String] = Seq(
    msg("1", el("species", """["id", "name"]""", """[1, "a"]""")),
    msg("2", el("species", """["id"]""", "[2]"),
      el("gadgets", """["uuid"]""", """["g"]""", kind = "delete")),
    // malformed JSON
    "{broken", "", "not json", "[1, 2]", "null", "5",
    id("3", "3") + " trailing",
    id("4", "4").dropRight(1),
    id("5", "5").replace("\"", "'"),
    id("6", "007"),
    msg("7", el("species", """["name", "id"]""", "[007, 7]")),
    id("8", "8 /* comment */"),
    id("9", "\"\\q\""),
    id("10", "\"a\tb\""),
    id("11", "tru"),
    msg("12", el("species", """["id"]""", "[12]"),
      """{kind: "insert", "table": "species"}"""),
    msg("13", el("species", """["id"]""", "[13]"),
      el("species", """["id"]""", "[14, }")),
    bare(15, """"table": "species", "columnnames": ["id"], """ +
      """"columntypes": [1, {"a": x}], "columnvalues": [15]"""),
    // missing or string xid
    """{"change": [""" + el("species", """["id"]""", "[16]") + "]}",
    id("\"17\"", "17"), id("\"\"", "18"), id("19.5", "19"),
    id("99999999999999999999", "20"), id("null", "21"), id("-22", "22"),
    """{"change": [""" + el("species", """["id"]""", "[23]") +
      """], "xid": 23}""",
    """{"xid": 24, "change": [""" + el("species", """["id"]""", "[24]") +
      """], "xid": "x"}""",
    // missing or empty change
    """{"xid": 25}""", """{"xid": 26, "change": []}""",
    """{"xid": 27, "change": null}""", """{"xid": 28, "change": "nope"}""",
    """{"xid": 29, "change": {}}""", msg("30", "{}"),
    msg("31", "1", el("species", """["id"]""", "[31]")),
    msg("32", "null", el("species", """["id"]""", "[32]")),
    """{"xid": 33, "change": [""" + el("species", """["id"]""", "[33]") +
      """], "change": 5}""",
    """{"xid": 34, "change": [""" + el("species", """["id"]""", "[1]") +
      """], "change": [""" + el("species", """["id"]""", "[34]") + "]}",
    // extra fields and oldkeys
    """{"xid": 35, "nextlsn": "0/1", "timestamp": "x", "change": [""" +
      """{"kind": "delete", "schema": "public", "table": "species", """ +
      """"oldkeys": {"keynames": ["id"], "keytypes": ["integer"], """ +
      """"keyvalues": [35]}}]}""",
    bare(36, """"kind": "update", "extra": {"a": [1]}, "table": "species", """ +
      """"columnnames": ["id"], "columnvalues": [36], """ +
      """"oldkeys": {"keynames": ["id"], "keyvalues": [35]}"""),
    bare(37, """"kind": "insert", "table": "species", "columnnames": ["id"], """ +
      """"columnvalues": [37], "kind": null"""),
    bare(38, """"kind": "insert", "table": "species", "columnnames": ["id"], """ +
      """"columnvalues": [38], "columnvalues": "x""""),
    bare(39, """"kind": 5, "table": "species", "columnnames": ["id"], """ +
      """"columnvalues": [39]"""),
    msg("40", """{"kind": "insert", "table": "species", "columnvalues": [40]}"""),
    bare(41, """"kind": "insert", "table": {"x": 1}, "columnnames": ["id"]"""),
    msg("42", el("nope", """["id"]""", "[42]")),
    // null and nested columnvalues, odd columnnames
    msg("43", el("species", """["id", "name"]""", "null")),
    msg("44", el("species", """["id", "name"]""", """{"a": [1, 2]}""")),
    msg("45", el("species", """["id", "name"]""",
      """[{"a": [1,  2], "b": "x"}, 1]""")),
    msg("46", el("species", """["id", "name"]""", "[[1, 2.50], 1]")),
    msg("47", el("species", """["id", "name"]""", "[null, 1]")),
    msg("48", el("species", """["id", "name"]""", "\"x\"")),
    id("49", "[]"), id("50", "{}"),
    msg("51", el("species", """["name", null, "id"]""", "[1, 2, 51]")),
    msg("52", el("species", """[1, "id"]""", "[1, 52]")),
    msg("53", el("species", "null", "[53]")),
    msg("54", el("species", """["id", "id"]""", "[54, 55]")),
    msg("56", el("species", """["name"]""", "[56]")),
    msg("57", el("species", """["id", "name"]""", "[57]")),
    // negative, decimal and exponent numbers
    id("59", "-5"), id("60", "1.50"), id("61", "1e3"), id("62", "1E-7"),
    id("63", "-0"), id("64", "12345678901234567890123"), id("65", "1.0e+2"),
    id("66", "-2.5e-3"), id("67", "0.1"), id("68", "1.7976931348623157E309"),
    id("69", "NaN"), id("70", "Infinity"), id("71", "-Infinity"),
    // booleans and \u escapes
    id("72", "true"), id("73", "false"),
    msg("74", el("gadgets", """["uuid"]""", """["café"]""")),
    msg("75", el("gadgets", """["uuid"]""", "[\"\\u00e9\\u0000 \\\"q\\\" \\n\"]")),
    msg("76", el("gadgets", """["uuid"]""", "[\"\\ud83d\\ude00\"]")),
    msg("77", el("gadgets", "[\"\\u0075uid\"]", """["  x  "]""")),
    // whitespace between tokens
    "\n  " + id("78", " 78 ").replace(", ", " ,\n\t")
  )

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def outcome(f: (DataFrame, Boolean) => DataFrame, payload: String,
      strict: Boolean): Either[String, Seq[String]] =
    try Right(rows(f(Seq((0, payload)).toDF("id", "payload"), strict)))
    catch { case e: Exception =>
      def root(t: Throwable): Throwable =
        if (t.getCause == null) t else root(t.getCause)
      // the first line: the rest names the call site
      Left(root(e).getMessage.linesIterator.next()) }

  private lazy val all =
    corpus.zipWithIndex.map(_.swap).toDF("id", "payload")
  // messages whose rows hold a null pkey: strict mode may raise on them
  private lazy val raising: Seq[Int] = fromJson(all, strict = false)
    .filter(col("pkey").isNull).select("id").distinct().as[Int]
    .collect().toSeq.sorted

  test("the corpus runs under Spark 4.1's JSON defaults") {
    assert(spark.version.startsWith("4.1"))
    // from_json keeps the fields that convert (partial results on).
    // Exact string parsing is on, but from_json reads through a
    // Reader, so non-string values are re-rendered (1.50 -> 1.5).
    assert(spark.conf.get("spark.sql.json.enablePartialResults") == "true")
    assert(spark.conf.get("spark.sql.json.enableExactStringParsing") == "true")
    assert(raising.nonEmpty && raising.size < corpus.size / 2)
  }

  test("non-strict: identical (xid, table_name, operation, pkey) rows") {
    val want = rows(fromJson(all, strict = false))
    assert(want.size > corpus.size / 2)
    assert(rows(walk(all, strict = false)) == want)
  }

  test("strict: identical rows, or the same raise_error") {
    val quiet = all.filter(!col("id").isin(raising: _*))
    assert(rows(walk(quiet, strict = true)) ==
      rows(fromJson(quiet, strict = true)))
    val errors = raising.map { i =>
      val want = outcome(fromJson, corpus(i), strict = true)
      assert(outcome(walk, corpus(i), strict = true) == want, corpus(i))
      want
    }
    // a pk position past the values fails the query (ANSI element_at)
    val short = msg("58", el("species", """["name", "id"]""", "[58]"))
    for (strict <- Seq(false, true)) {
      val want = outcome(fromJson, short, strict)
      assert(want.left.exists(_.contains("INVALID_ARRAY_INDEX_IN_ELEMENT_AT")))
      assert(outcome(walk, short, strict) == want)
    }
    val raised = errors.flatMap(_.left.toOption)
    assert(raised.exists(_.contains("Unable to locate table: public.nope")))
    assert(raised.exists(_.contains(
      "Unable to locate primary key for table public.species")))
  }
}
