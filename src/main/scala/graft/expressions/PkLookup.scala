package graft.expressions

import graft.catalog.PkCatalog
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, RuntimeReplaceable, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `pk_lookup(table_name)`: the `(pk_name, pk_type)` struct a PK
  * catalog holds for a table, or null for a table it does not hold —
  * the reference's per-change dict lookup (slot.py:79-94) carried in
  * the plan. The catalog DataFrame stays on the driver: every
  * optimization of a plan holding this expression replaces it with a
  * [[PkLookupBound]] over a fresh [[PkBinding]], so each micro-batch
  * reads [[PkCatalog.snapshot]] once for itself, and a refresh marked
  * between batches reaches the next one, never a running one.
  */
case class PkLookup(child: Expression, catalog: DataFrame)
    extends RuntimeReplaceable with UnaryLike[Expression] {

  override def dataType: DataType = PkLookup.Type
  override def nullable: Boolean = true
  // CheckAnalysis also builds a replacement; its binding is never read
  override def replacement: Expression =
    PkLookupBound(child, new PkBinding(catalog))
  // the trait canonicalizes through the replacement, whose binding
  // differs per call
  override lazy val canonicalized: Expression = copy(child = child.canonicalized)
  override def prettyName: String = "pk_lookup"
  override protected def stringArgs: Iterator[Any] = Iterator(child)

  override protected def withNewChildInternal(newChild: Expression): PkLookup =
    copy(child = newChild)
}

object PkLookup {
  val Type: StructType = StructType(Seq(
    StructField("pk_name", StringType), StructField("pk_type", StringType)))

  def pk_lookup(tableName: Column, catalog: DataFrame): Column =
    Bridge.column(PkLookup(Bridge.expression(tableName), catalog))
}

/** One optimized plan's catalog: `(pk_name, pk_type)` rows by table
  * name, read from [[PkCatalog.snapshot]] the first time the plan uses
  * them — on the driver, when the plan is compiled or its tasks are
  * serialized — and fixed from then on. Equality is identity, so the
  * lookups of one plan share one read, and the plan prints no catalog
  * contents. */
final class PkBinding(@transient private val catalog: DataFrame)
    extends Serializable {
  lazy val byName: java.util.HashMap[UTF8String, InternalRow] =
    PkCatalog.snapshot(catalog)
  override def toString: String = "PkBinding"
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    byName
    out.defaultWriteObject()
  }
}

/** [[PkLookup]] bound to one plan's catalog: a hash-map probe per row. */
case class PkLookupBound(child: Expression, binding: PkBinding)
    extends UnaryExpression {

  override def dataType: DataType = PkLookup.Type
  override def nullable: Boolean = true
  override def prettyName: String = "pk_lookup"

  override protected def nullSafeEval(name: Any): Any = binding.byName.get(name)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val byName = ctx.addReferenceObj("pkTable", binding.byName,
      "java.util.HashMap")
    val row = ctx.freshName("pkRow")
    nullSafeCodeGen(ctx, ev, name =>
      s"""InternalRow $row = (InternalRow) $byName.get($name);
         |if ($row == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $row; }""".stripMargin)
  }

  override protected def withNewChildInternal(
      newChild: Expression): PkLookupBound = copy(child = newChild)
}
