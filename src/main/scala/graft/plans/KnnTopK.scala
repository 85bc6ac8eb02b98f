package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, BinaryNode, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types._

/** Optimizer rewrite: the declarative knn idiom
  *
  * {{{
  *   Aggregate [qid], [qid, topk_by_distance(vector_distance(dv, qv, m), did, k)]
  *   +- (Filter NOT (did = qid))?
  *      +- Join Cross (docs(did, dv) × broadcast queries(qid, qv))
  * }}}
  *
  * becomes a single [[KnnTopK]] operator whose physical plan runs the
  * primitive block kernel (collect+broadcast the query side, per-partition
  * bounded heaps, heap-merge) — ~5× over evaluating the distance
  * expression per (doc, query) pair for Q ≳ 50, with identical results.
  * Output attributes are preserved (same exprIds), so downstream plans
  * resolve unchanged; if the pattern doesn't match exactly the rule
  * leaves the plan alone.
  *
  * Registered via GraftExtensions (injectOptimizerRule + the planner
  * strategy) — sessions without the extension keep the plain plan.
  */
object KnnRewriteRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(Seq(qidG: Attribute), aggExprs, child, None)
        if aggExprs.length == 2 =>
      (aggExprs(0), aggExprs(1), stripFilterJoin(child)) match {
        case (qidOut: Attribute,
              alias @ Alias(AggregateExpression(
                TopKByDistance(graft.functions.VectorDistance(
                  dv: Attribute, qv: Attribute, metric), did: Attribute, k, _, _),
                Complete, false, None, _), _),
              Some((left: LogicalPlan, right: LogicalPlan, selfPair)))
            if qidOut.exprId == qidG.exprId &&
               sidesMatch(left, right, did, dv, qidG, qv) &&
               selfPair.forall(p =>
                 Set(p._1.exprId, p._2.exprId) == Set(did.exprId, qidG.exprId)) =>
          KnnTopK(left, right, k, metric, excludeSelf = selfPair.isDefined,
            output = Seq(qidOut,
              AttributeReference(alias.name, alias.dataType, nullable = false)(
                exprId = alias.exprId)))
        case _ => agg
      }
  }

  /** Unwrap the join, with the exclude-self predicate either as a Filter
    * above it or (post predicate-pushdown) as the join condition. Returns
    * (docsSide, queriesSide, Some((a,b)) when a != b is present). */
  private def stripFilterJoin(p: LogicalPlan)
      : Option[(LogicalPlan, LogicalPlan, Option[(Attribute, Attribute)])] =
    p match {
      case Join(l, r, Cross | Inner, None, _) => Some((l, r, None))
      case Join(l, r, Cross | Inner,
          Some(Not(EqualTo(a: Attribute, b: Attribute))), _) =>
        Some((l, r, Some((a, b))))
      case Filter(Not(EqualTo(a: Attribute, b: Attribute)),
          Join(l, r, Cross | Inner, None, _)) => Some((l, r, Some((a, b))))
      case _ => None
    }

  /** docs side must produce (did, dv), queries side (qid, qv). */
  private def sidesMatch(left: LogicalPlan, right: LogicalPlan,
      did: Attribute, dv: Attribute, qid: Attribute, qv: Attribute): Boolean = {
    val lo = left.outputSet
    val ro = right.outputSet
    lo.contains(did) && lo.contains(dv) && ro.contains(qid) && ro.contains(qv) &&
      left.output.length == 2 && right.output.length == 2 &&
      left.output.head.exprId == did.exprId &&
      right.output.head.exprId == qid.exprId &&
      isVec(dv.dataType) && isVec(qv.dataType)
  }

  private def isVec(t: DataType): Boolean = t match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }
}

/** Logical: per-query bounded top-k over the doc side — the grouped form
  * (output (qid, array<struct<distance, value>>)), result-identical to the
  * Aggregate it replaces. */
case class KnnTopK(
    left: LogicalPlan,   // docs (id, vec)
    right: LogicalPlan,  // queries (id, vec) — small side
    k: Int,
    metric: String,
    excludeSelf: Boolean,
    override val output: Seq[Attribute]) extends BinaryNode {

  override def producedAttributes: AttributeSet = AttributeSet(output.drop(1))
  override def references: AttributeSet =
    AttributeSet(left.output ++ right.output)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): KnnTopK =
    copy(left = newLeft, right = newRight)
}

object KnnTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case KnnTopK(docs, queries, k, metric, excludeSelf, out) =>
      KnnTopKExec(planLater(docs), planLater(queries), k, metric, excludeSelf,
        out) :: Nil
    case _ => Nil
  }
}

case class KnnTopKExec(
    left: SparkPlan,
    right: SparkPlan,
    k: Int,
    metric: String,
    excludeSelf: Boolean,
    override val output: Seq[Attribute]) extends BinaryExecNode {

  override def producedAttributes: AttributeSet = AttributeSet(output)

  override protected def doExecute(): RDD[InternalRow] = {
    val docIdType = left.output.head.dataType
    val qIdType = right.output.head.dataType

    val qRows = right.executeCollect()
    val qIds: Array[Any] = qRows.map(r => InternalRow.copyValue(r.get(0, qIdType)))
    // array<float> with either element nullability reads as floats: a
    // Dataset of Array[Float] carries containsNull = false
    def isFloatVec(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    val qVecFloat = isFloatVec(right.output(1).dataType)
    val qVecs: Array[Array[Double]] = qRows.map { r =>
      val arr = r.getArray(1)
      if (qVecFloat) arr.toFloatArray().map(_.toDouble) else arr.toDoubleArray()
    }
    val bc = sparkContext.broadcast((qIds, qVecs))
    val m = metric
    val ex = excludeSelf
    val kk = k
    val docVecFloat = isFloatVec(left.output(1).dataType)

    val tieOrd = PayloadOrdering.forType(docIdType)
    val partials: RDD[(Int, TopKBuffer)] = left.execute().mapPartitions { rows =>
      val (ids, vecs) = bc.value
      val qNorms = vecs.map(KnnJoinExec.norm)
      val heaps = Array.fill(vecs.length)(new TopKBuffer(kk, tieOrd))
      var sawAny = false
      rows.foreach { row =>
        if (!row.isNullAt(1)) {
          sawAny = true
          val idVal = InternalRow.copyValue(row.get(0, docIdType))
          val arr = row.getArray(1)
          val v = if (docVecFloat) arr.toFloatArray().map(_.toDouble)
                  else arr.toDoubleArray()
          KnnJoinExec.scoreRow(m, v, idVal, vecs, qNorms, ids, heaps, ex)
        }
      }
      if (sawAny) heaps.iterator.zipWithIndex.map(_.swap) else Iterator.empty
    }

    partials
      .reduceByKey((a, b) => { b.sortedEntries.foreach { case (d, v) => a.insert(d, v) }; a },
        numPartitions = math.max(1, math.min(qIds.length,
          conf.numShufflePartitions))) // merge width follows the session conf
      .mapPartitions { it =>
        val proj = UnsafeProjection.create(output.map(_.dataType).toArray)
        val (ids, _) = bc.value
        it.map { case (qIdx, heap) =>
          val arr = new GenericArrayData(
            heap.sortedEntries.map { case (d, v) => InternalRow(d, v) })
          proj.apply(InternalRow(ids(qIdx), arr)).copy()
        }
      }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): KnnTopKExec =
    copy(left = newLeft, right = newRight)
}
