package graft.expressions

import java.io.ByteArrayOutputStream

import com.fasterxml.jackson.core.{JsonEncoding, JsonFactory, JsonParser, JsonToken}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.json.JSONOptions
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** ONE-walk wal2json extraction: from a wal2json message, emit an
  * array of rows — one per change element — from a single pass over
  * the Jackson token stream of the message. Two output modes share
  * the walk:
  *
  *  - full (`full_change_rows`): `(xid, schema, table, kind,
  *    change_py)`, where `change_py` is the element re-serialized by
  *    the [[PyJson]] conventions (byte-identical to CPython
  *    json.dumps, `oldkeys` and numeric tokens preserved verbatim).
  *    Any malformed part drops the whole message.
  *  - PK (`change_rows`): `(xid, schema, table, kind, columnnames,
  *    columnvalues)`, every value as text; `columntypes` and any
  *    other field are skipped, not converted. Values and failures
  *    follow `from_json` into `{xid BIGINT, change ARRAY<STRUCT<kind,
  *    schema, table STRING, columnnames, columntypes, columnvalues
  *    ARRAY<STRING>>>}` under Spark's default JSON options (partial
  *    results on): a field that does not convert is null and the rest
  *    of the message survives; non-string scalars and nested values
  *    are re-rendered by a Jackson generator exactly as from_json
  *    renders them (`1.50` → `1.5`, `NaN` → `"NaN"`).
  *    Wal2JsonParitySpec pins the equivalence on an edge corpus.
  *
  * Exists for throughput: `from_json` builds and converts the whole
  * message (columntypes included) through generic converters, and the
  * composable full-change formulation (`json_array_length` +
  * per-index `get_json_object` + `py_json`) re-parses the payload ~6x
  * per change row. Returns null (→ explode drops the message) on input
  * that is not a JSON object.
  */
case class FullChangeRows(child: Expression, full: Boolean = true)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(
    if (full) FullChangeRows.rowType else FullChangeRows.pkRowType,
    containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"full_change_rows requires string, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    try FullChangeRows.parse(input.asInstanceOf[UTF8String].toString, full)
    catch { case scala.util.control.NonFatal(_) => null }

  override protected def withNewChildInternal(
      newChild: Expression): FullChangeRows = copy(child = newChild)
}

object FullChangeRows {
  val rowType: StructType = StructType(Seq(
    StructField("xid", LongType),
    StructField("schema", StringType),
    StructField("table", StringType),
    StructField("kind", StringType),
    StructField("change_py", StringType)))

  val pkRowType: StructType = StructType(Seq(
    StructField("xid", LongType),
    StructField("schema", StringType),
    StructField("table", StringType),
    StructField("kind", StringType),
    StructField("columnnames", ArrayType(StringType)),
    StructField("columnvalues", ArrayType(StringType))))

  private val factory = new JsonFactory()
  // the factory from_json parses with: Spark's default JSON options
  // (single quotes and NaN/Infinity accepted, Spark's read limits)
  private val sparkFactory =
    new JSONOptions(Map.empty[String, String], "UTC").buildJsonFactory()

  private[expressions] def parse(s: String,
      full: Boolean): GenericArrayData = {
    // a char-based parser, as from_json uses: Jackson's byte parser
    // recovers differently after a malformed token, and the PK mode
    // must keep what from_json keeps of a broken message
    val p = (if (full) factory else sparkFactory).createParser(s)
    try {
      if (p.nextToken() != JsonToken.START_OBJECT)
        throw new IllegalArgumentException("not an object")
      var xid: Any = null
      var rows = Array.empty[GenericInternalRow]
      while (more(p, JsonToken.END_OBJECT)) p.currentName() match {
        case "xid" => field(p, full) {
          p.nextToken() match {
            case JsonToken.VALUE_NUMBER_INT => xid = p.getLongValue
            case JsonToken.VALUE_NULL => xid = null
            case _ => p.skipChildren()
          }
        }
        case "change" => field(p, full) { rows = changes(p, full) }
        case _ => p.nextToken(); p.skipChildren()
      }
      rows.foreach(_.update(0, xid)) // xid may follow the change array
      new GenericArrayData(rows.asInstanceOf[Array[Any]])
    } finally p.close()
  }

  /** from_json's object loop: false at `stop` or end of input. */
  private def more(p: JsonParser, stop: JsonToken): Boolean = {
    val t = p.nextToken()
    t != null && t != stop
  }

  /** Convert one field. In PK mode a field that fails to convert is
    * left as it was and skipped, as from_json's partial results do;
    * in full mode the failure drops the message. */
  private def field(p: JsonParser, full: Boolean)(convert: => Unit): Unit =
    if (full) convert
    else try convert catch {
      case scala.util.control.NonFatal(_) => p.skipChildren()
    }

  private def changes(p: JsonParser,
      full: Boolean): Array[GenericInternalRow] = {
    p.nextToken() match {
      case JsonToken.START_ARRAY =>
      case JsonToken.VALUE_NULL if !full => return Array.empty
      case _ => throw new IllegalArgumentException("change is not an array")
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[GenericInternalRow]
    while (more(p, JsonToken.END_ARRAY)) p.currentToken() match {
      case JsonToken.START_OBJECT => out += (if (full) fullRow(p) else pkRow(p))
      case JsonToken.VALUE_NULL if !full => () // a null element has no table
      case _ => throw new IllegalArgumentException("change element not object")
    }
    out.toArray
  }

  private def fullRow(p: JsonParser): GenericInternalRow = {
    var schema: String = null
    var table: String = null
    var kind: String = null
    val sb = new java.lang.StringBuilder(128)
    sb.append('{')
    var first = true
    while (more(p, JsonToken.END_OBJECT)) {
      val name = p.currentName()
      if (!first) sb.append(", ")
      first = false
      PyJson.writeString(name, sb)
      sb.append(": ")
      p.nextToken()
      if (p.currentToken() == JsonToken.VALUE_STRING) name match {
        case "schema" => schema = p.getText
        case "table" => table = p.getText
        case "kind" => kind = p.getText
        case _ => ()
      }
      PyJson.writeValue(p, sb)
    }
    sb.append('}')
    new GenericInternalRow(Array[Any](null, utf8(schema), utf8(table),
      utf8(kind), UTF8String.fromString(sb.toString)))
  }

  private def pkRow(p: JsonParser): GenericInternalRow = {
    val row = new GenericInternalRow(6)
    def set(i: Int, value: => Any): Unit =
      field(p, full = false)(row.update(i, value))
    def nextText(): UTF8String = { p.nextToken(); text(p) }
    while (more(p, JsonToken.END_OBJECT)) p.currentName() match {
      case "schema" => set(1, nextText())
      case "table" => set(2, nextText())
      case "kind" => set(3, nextText())
      case "columnnames" => set(4, texts(p))
      case "columnvalues" => set(5, texts(p))
      case _ => p.nextToken(); p.skipChildren()
    }
    row
  }

  private def texts(p: JsonParser): GenericArrayData =
    p.nextToken() match {
      case JsonToken.START_ARRAY =>
        val out = scala.collection.mutable.ArrayBuffer.empty[Any]
        while (more(p, JsonToken.END_ARRAY)) out += text(p)
        new GenericArrayData(out.toArray)
      case JsonToken.VALUE_NULL => null
      case _ => throw new IllegalArgumentException("not an array")
    }

  /** The current value as text, as from_json reads it into a STRING. */
  private def text(p: JsonParser): UTF8String = p.currentToken() match {
    case JsonToken.VALUE_STRING => UTF8String.fromString(p.getText)
    case JsonToken.VALUE_NULL => null
    case JsonToken.VALUE_NUMBER_INT
        if p.getNumberType != JsonParser.NumberType.BIG_INTEGER =>
      UTF8String.fromString(java.lang.Long.toString(p.getLongValue))
    case _ =>
      val out = new ByteArrayOutputStream()
      val g = sparkFactory.createGenerator(out, JsonEncoding.UTF8)
      try g.copyCurrentStructure(p) finally g.close()
      UTF8String.fromBytes(out.toByteArray)
  }

  private def utf8(s: String): UTF8String =
    if (s == null) null else UTF8String.fromString(s)

  def full_change_rows(c: Column): Column =
    Bridge.column(FullChangeRows(Bridge.expression(c)))

  /** PK mode, the input of [[graft.functions.Cdc.parseWal2Json]]. */
  def change_rows(c: Column): Column =
    Bridge.column(FullChangeRows(Bridge.expression(c), full = false))
}
