package graft.expressions

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, RegExpExtractBase, RegExpUtils}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `regexp_extract(subject, regexp, idx)` for a pattern that changes
  * from row to row but takes few values, like the per-table PK
  * patterns of test_decoding rows. Spark's RegExpExtract remembers only
  * the last pattern, so rows of interleaved tables recompile it at
  * every change of table; this keeps one compiled Pattern per distinct
  * pattern string (up to [[CachedRegexpExtract.MaxPatterns]], then
  * starts over). Everything else is RegExpExtract's: Spark compiles
  * each pattern (and raises its error on a bad one), the first match
  * counts, no match or an unmatched optional group gives "", a null
  * input gives null.
  */
case class CachedRegexpExtract(subject: Expression, regexp: Expression,
    idx: Int) extends BinaryExpression {

  override def left: Expression = subject
  override def right: Expression = regexp
  override def checkInputDataTypes(): TypeCheckResult =
    if (subject.dataType == StringType && regexp.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "regexp_extract_cached requires two strings")
  override def dataType: DataType = StringType

  @transient private lazy val patterns =
    new java.util.HashMap[UTF8String, Pattern]()

  override protected def nullSafeEval(s: Any, p: Any): Any =
    extract(s.asInstanceOf[UTF8String], p.asInstanceOf[UTF8String])

  // the generated code calls extract on this instance: its children
  // are generated, and the pattern cache is still one per deserialized
  // plan
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("regexpExtractCached", this)
    defineCodeGen(ctx, ev, (s, p) => s"$self.extract($s, $p)")
  }

  def extract(s: UTF8String, p: UTF8String): UTF8String = {
    var pattern = patterns.get(p)
    if (pattern == null) {
      if (patterns.size >= CachedRegexpExtract.MaxPatterns) patterns.clear()
      val (compiled, key) = RegExpUtils.getPatternAndLastRegex(p,
        "regexp_extract", StringType.collationId)
      patterns.put(key, compiled)
      pattern = compiled
    }
    val m = pattern.matcher(s.toString)
    if (!m.find) return UTF8String.EMPTY_UTF8
    val mr = m.toMatchResult
    RegExpExtractBase.checkGroupIndex("regexp_extract", mr.groupCount, idx)
    val group = mr.group(idx)
    if (group == null) UTF8String.EMPTY_UTF8 else UTF8String.fromString(group)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CachedRegexpExtract =
    copy(subject = newLeft, regexp = newRight)
}

object CachedRegexpExtract {
  val MaxPatterns = 1024

  def regexp_extract_cached(subject: Column, regexp: Column,
      idx: Int): Column = Bridge.column(CachedRegexpExtract(
    Bridge.expression(subject), Bridge.expression(regexp), idx))
}
