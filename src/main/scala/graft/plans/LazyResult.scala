package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.StructType

/** A DataFrame whose computation is DEFERRED to first execution.
  *
  * Why (r11, driver-surface fix): the q359/q360/q361 gates are
  * driver-orchestrated (an adaptive multi-round search loop, a streaming
  * replay with `awaitTermination`) — their bodies necessarily run Spark
  * jobs. Declared as plain `(SparkSession, dir) => DataFrame` functions
  * they executed those jobs AT CONSTRUCTION, so `GateSchemaSpec`'s
  * schema-hygiene walk over every gate (construction only, `.schema`)
  * ran two ANN builds, a collect and a complete streaming job per suite
  * run — the r10 verdict's prime suspect for the driver's `sbt test`
  * timeout. This node restores the contract every other gate has:
  * construction is free (static schema, no jobs), and the body runs when
  * — and only when — an action executes the plan.
  *
  * Mechanics: a leaf logical node carrying the static output schema and
  * a thunk; the strategy plans it to a leaf exec node whose `doExecute`
  * invokes the thunk ON THE DRIVER (execution composes RDDs on the
  * action thread — nested job submission from there is the normal
  * subquery pattern) and returns the inner DataFrame's InternalRow RDD.
  * The thunk's result schema is asserted against the declared one, so a
  * drifting body fails loudly instead of mis-typing rows positionally.
  *
  * The strategy is registered with [[install]] at wrap time, so the
  * node plans on ANY session (Verify/Bench build theirs without
  * GraftExtensions).
  */
case class LazyResultPlan(output: Seq[Attribute], body: () => DataFrame)
    extends LeafNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  // unknown until executed; a small constant is fine — gates are never
  // join inputs, and a mis-broadcast would only change WHERE the tiny
  // result is shipped, not what it is
  override def computeStats(): Statistics =
    Statistics(sizeInBytes = BigInt(1) << 20)
}

object LazyResultStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case LazyResultPlan(out, body) => LazyResultExec(out, body) :: Nil
    case _ => Nil
  }
}

case class LazyResultExec(output: Seq[Attribute], body: () => DataFrame)
    extends LeafExecNode {
  override protected def doExecute(): RDD[InternalRow] = {
    val df = body()
    val got = df.schema
    require(got.length == output.length &&
      got.zip(output).forall { case (f, a) => f.dataType == a.dataType },
      s"lazy gate body schema ${got.simpleString} != declared " +
        s"${StructType(output.map(a =>
          org.apache.spark.sql.types.StructField(a.name, a.dataType,
            a.nullable))).simpleString}")
    Bridge.toInternalRdd(df)
  }
}

object LazyResult {
  /** Wrap `body` as a lazily-executed DataFrame with the given static
    * schema. `body` runs on first action (and per re-execution). */
  def apply(s: SparkSession, schema: StructType)(body: => DataFrame)
      : DataFrame = {
    install(s)
    val attrs: Seq[Attribute] = schema.map(f =>
      AttributeReference(f.name, f.dataType, f.nullable, f.metadata)())
    Bridge.ofRows(s, LazyResultPlan(attrs, () => body))
  }
}
