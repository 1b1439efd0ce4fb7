package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ClassicConversions._
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.StructType

/** An iterative computation whose rounds run when the plan executes.
  * A value (a case class or object), so two builds over equal inputs
  * give equal plans. */
trait Fixpoint extends Product with Serializable {
  /** The columns [[run]] returns, in order. */
  def schema: StructType
  /** Runs the loop over the materialized inputs, one per child, and
    * returns its result. */
  def run(inputs: Seq[DataFrame]): DataFrame
}

/** The logical node of a [[Fixpoint]] over its inputs. Catalyst sees the
  * inputs as children and the result as new columns; the loop itself
  * stays out of the plan, so neither analysis nor a query build runs it.
  * Every input column is referenced, so column pruning leaves the inputs
  * whole. `session` is the one that built the query, and the loop's
  * rounds run under its conf (not in plan equality): a [[Shared]] plan
  * is planned in a clone without AQE's final-stage coalescing, under
  * which every round would run a task per shuffle partition. */
case class Iterate(fix: Fixpoint, output: Seq[Attribute],
    children: Seq[LogicalPlan])(val session: SparkSession) extends LogicalPlan {
  override def references: AttributeSet = inputSet
  override def producedAttributes: AttributeSet = outputSet
  override protected def otherCopyArgs: Seq[AnyRef] = session :: Nil
  override protected def withNewChildrenInternal(
      c: IndexedSeq[LogicalPlan]): Iterate = copy(children = c)(session)
}

object Iterate {
  /** A DataFrame over `fix` applied to `inputs`. Registers
    * [[IterateStrategy]] on the session, so a session built elsewhere
    * plans the node too. */
  def apply(fix: Fixpoint, inputs: DataFrame*): DataFrame = {
    val spark = inputs.head.sparkSession
    IterateStrategy.setup(spark)
    Bridge.ofRows(spark, Iterate(fix, DataTypeUtils.toAttributes(fix.schema),
      inputs.map(_.queryExecution.analyzed))(spark))
  }
}

/** Runs the loop on the driver the first time the plan executes: each
  * child's rows become a DataFrame (keeping the child's partitioning),
  * and the result's rows are this node's. */
case class IterateExec(fix: Fixpoint, output: Seq[Attribute],
    children: Seq[SparkPlan])(@transient val builder: SparkSession)
    extends SparkPlan {
  @transient private lazy val result: RDD[InternalRow] = {
    val inputs = children.map(c => Bridge.ofRows(builder,
      LogicalRDD(c.output, c.execute(), c.outputPartitioning)(builder)))
    val out = fix.run(inputs)
    require(out.schema.map(_.dataType) == output.map(_.dataType),
      s"$fix returned ${out.schema.simpleString}, declared ${fix.schema.simpleString}")
    out.queryExecution.toRdd
  }

  override def producedAttributes: AttributeSet = outputSet
  override protected def otherCopyArgs: Seq[AnyRef] = builder :: Nil
  override protected def doExecute(): RDD[InternalRow] = result
  override protected def withNewChildrenInternal(
      c: IndexedSeq[SparkPlan]): IterateExec = copy(children = c)(builder)
}

/** Plans [[Iterate]] to [[IterateExec]]. */
object IterateStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case i @ Iterate(fix, output, children) =>
      IterateExec(fix, output, children.map(planLater))(i.session) :: Nil
    case _ => Nil
  }

  /** Adds this strategy to `spark`'s planner unless it is there. */
  def setup(spark: SparkSession): Unit = synchronized {
    val exp = spark.experimental
    if (!exp.extraStrategies.contains(this))
      exp.extraStrategies = this +: exp.extraStrategies
  }
}

/** A table that several consumers of one query read. `Shared(df)` is a
  * DataFrame over `df` as an InMemoryRelation, built as Spark builds a
  * cached Dataset's (the default cache storage level, planned in
  * [[Bridge.cachedPlanSession]]) but registered nowhere, so the plan
  * that reads it owns it:
  *  - it is materialized once, the first time the query runs, for every
  *    consumer in that plan; a new build materializes its own;
  *  - Spark's ContextCleaner unpersists it once no plan reaches it
  *    (`RDD.persist` registers it for cleanup).
  * Building it runs no job and leaves the session as it was. Two calls
  * make two tables, so a query that reads one table in two places
  * calls this once and passes the result down. */
object Shared {
  def apply(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val planner = Bridge.cachedPlanSession(spark)
    val rel = Bridge.withActive(planner) {
      InMemoryRelation(spark.sessionState.conf.defaultCacheStorageLevel,
        planner.sessionState.executePlan(df.queryExecution.analyzed), None)
    }
    Bridge.ofRows(spark, rel)
  }
}
