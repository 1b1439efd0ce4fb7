package graft.expressions

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `test_decoding_split(line)`: the `(table_name, operation, body)` of
  * a test_decoding change line `table <name>: <op>: <body>`, as an
  * array of one struct, or null for any other line (BEGIN, COMMIT,
  * noise). `inline` turns it into zero or one row.
  *
  * The result is exactly that of [[TestDecodingSplit.Line]] under
  * `find()`, as `rlike` and `regexp_extract` apply it: the name runs
  * to the first `:`, which a space must follow; the operation is one
  * or more `[A-Za-z0-9_]`; the body holds no line terminator. An
  * all-ASCII line is matched in one scan of its bytes, with no
  * decoding; a line holding any byte >= 0x80 goes to the regex on the
  * decoded string, which keeps its verdict on U+0085, U+2028, U+2029
  * and malformed UTF-8. */
case class TestDecodingSplit(child: Expression) extends UnaryExpression {

  override def dataType: DataType = TestDecodingSplit.Type
  override def nullable: Boolean = true
  override def prettyName: String = "test_decoding_split"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"test_decoding_split requires string, got $other")
    }

  override protected def nullSafeEval(line: Any): Any =
    TestDecodingSplit.split(line.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"""${ev.value} = graft.expressions.TestDecodingSplit$$.MODULE$$.split($v);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(
      newChild: Expression): TestDecodingSplit = copy(child = newChild)
}

object TestDecodingSplit {
  /** The grammar. `\z`, not `$`: under `find()`, `$` also matches
    * before one trailing line terminator; with `\z` this matches
    * exactly the lines the whole-line `matches()` of `^table ([^:]+):
    * (\w+): (.*)$` matches, with the same groups. */
  val Line: Pattern = Pattern.compile("^table ([^:]+): (\\w+): (.*)\\z")

  val Type: ArrayType = ArrayType(StructType(Seq(
    StructField("table_name", StringType, nullable = false),
    StructField("operation", StringType, nullable = false),
    StructField("body", StringType, nullable = false))), containsNull = false)

  private def row(table: UTF8String, op: UTF8String,
      body: UTF8String): ArrayData =
    new GenericArrayData(Array[Any](
      new GenericInternalRow(Array[Any](table, op, body))))

  private def isWord(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
      (b >= '0' && b <= '9') || b == '_'

  /** One line's split, or null. A "no" reached before any byte >= 0x80
    * is the regex's: ASCII bytes decode one to one, and no char decoded
    * from other bytes is `:`, a space or a word char. */
  def split(s: UTF8String): ArrayData = {
    val n = s.numBytes
    if (n < 6 || s.getByte(0) != 't' || s.getByte(1) != 'a' ||
        s.getByte(2) != 'b' || s.getByte(3) != 'l' ||
        s.getByte(4) != 'e' || s.getByte(5) != ' ') return null
    // name: one or more bytes up to the first ':', then a space
    var i = 6
    while (i < n && s.getByte(i) != ':') {
      if (s.getByte(i) < 0) return viaRegex(s)
      i += 1
    }
    if (i == 6 || i + 1 >= n || s.getByte(i + 1) != ' ') return null
    // operation: one or more word bytes, then ": "
    var j = i + 2
    while (j < n && isWord(s.getByte(j))) j += 1
    if (j == i + 2 || j + 1 >= n || s.getByte(j) != ':' ||
        s.getByte(j + 1) != ' ') return null
    // body: the rest, with no '\n' or '\r'
    var k = j + 2
    while (k < n) {
      val b = s.getByte(k)
      if (b < 0) return viaRegex(s)
      if (b == '\n' || b == '\r') return null
      k += 1
    }
    row(s.copyUTF8String(6, i - 1), s.copyUTF8String(i + 2, j - 1),
      s.copyUTF8String(j + 2, n - 1))
  }

  private def viaRegex(s: UTF8String): ArrayData = {
    val m = Line.matcher(s.toString)
    if (!m.find()) null
    else row(UTF8String.fromString(m.group(1)),
      UTF8String.fromString(m.group(2)), UTF8String.fromString(m.group(3)))
  }

  def test_decoding_split(line: Column): Column =
    Bridge.column(TestDecodingSplit(Bridge.expression(line)))
}
