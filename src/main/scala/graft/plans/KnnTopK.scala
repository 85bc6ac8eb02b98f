package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types._

/** Exact knn as one Catalyst operator: per query, the bounded top-k of the
  * doc side (reference: docarray/array/storage/memory/find.py:17-181).
  * Built by [[graft.operators.Knn.bruteForce]]; [[KnnTopKStrategy]] plans
  * it to [[KnnTopKExec]], which collects and broadcasts the (small) query
  * side as primitive double[][], streams each doc partition through one
  * bounded heap per query, and heap-merges the partials.
  *
  * Contract: both children produce exactly (id, vec) columns, the vector
  * as array<float|double>. Output: (query_id, array<struct<distance,
  * value>>), the shape of the `topk_by_distance` aggregate it stands for.
  */
case class KnnTopK(
    left: LogicalPlan,   // docs (id, vec)
    right: LogicalPlan,  // queries (id, vec) — small side
    k: Int,
    metric: String,
    excludeSelf: Boolean,
    // in the constructor so exprIds stay stable across optimizer copies
    override val output: Seq[Attribute]) extends BinaryNode {

  override def producedAttributes: AttributeSet = AttributeSet(output)
  // the kernel consumes both (id, vec) columns of each child — declare them
  // so ColumnPruning doesn't strip the children to empty projections
  override def references: AttributeSet =
    AttributeSet(left.output ++ right.output)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): KnnTopK =
    copy(left = newLeft, right = newRight)
}

object KnnTopK {
  /** Build with fresh output attributes typed from the children:
    * `query_id` and `_topk`, the latter typed like `topk_by_distance`. */
  def create(docs: LogicalPlan, queries: LogicalPlan, k: Int, metric: String,
      excludeSelf: Boolean): KnnTopK =
    KnnTopK(docs, queries, k, metric, excludeSelf, Seq(
      AttributeReference("query_id", queries.output.head.dataType,
        queries.output.head.nullable)(),
      AttributeReference("_topk", ArrayType(StructType(Seq(
        StructField("distance", DoubleType, nullable = false),
        StructField("value", docs.output.head.dataType)))),
        nullable = false)()))
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
      val qNorms = vecs.map(KnnTopKExec.norm)
      val heaps = Array.fill(vecs.length)(new TopKBuffer(kk, tieOrd))
      var sawAny = false
      rows.foreach { row =>
        if (!row.isNullAt(1)) {
          sawAny = true
          val idVal = InternalRow.copyValue(row.get(0, docIdType))
          val arr = row.getArray(1)
          val v = if (docVecFloat) arr.toFloatArray().map(_.toDouble)
                  else arr.toDoubleArray()
          KnnTopKExec.scoreRow(m, v, idVal, vecs, qNorms, ids, heaps, ex)
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

/** The primitive distance kernels shared by [[KnnTopKExec]] and the ANN
  * blocked kernels in [[graft.operators.Ann]]. */
object KnnTopKExec {

  // r10 (guide §1.2 per-task work): every distance accumulation below is
  // a 4-chain stride-4 unroll with a sequential tail, combined as
  // (s0+s1)+(s2+s3). A single `acc +=` chain serializes on FP-add
  // latency (~4 cycles/element — measured 0.6 GFLOP/s/core on the knn
  // rows); four independent chains pipeline it. The SAME grouping is
  // used in VectorDistance (interpreted + codegen) and
  // VectorKernels.nearestCells so every kernel/expression pair that was
  // bit-consistent before stays bit-consistent now. Vectors shorter
  // than 4 take only the tail — bit-identical to the old sequential sum.

  @inline def dot4(a: Array[Double], b: Array[Double], n: Int): Double = {
    var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
    val k = n & ~3
    var i = 0
    while (i < k) {
      s0 += a(i) * b(i); s1 += a(i + 1) * b(i + 1)
      s2 += a(i + 2) * b(i + 2); s3 += a(i + 3) * b(i + 3)
      i += 4
    }
    while (i < n) { s0 += a(i) * b(i); i += 1 }
    (s0 + s1) + (s2 + s3)
  }

  @inline def sqeuclidean4(a: Array[Double], b: Array[Double], n: Int): Double = {
    var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
    val k = n & ~3
    var i = 0
    while (i < k) {
      val d0 = a(i) - b(i); s0 += d0 * d0
      val d1 = a(i + 1) - b(i + 1); s1 += d1 * d1
      val d2 = a(i + 2) - b(i + 2); s2 += d2 * d2
      val d3 = a(i + 3) - b(i + 3); s3 += d3 * d3
      i += 4
    }
    while (i < n) { val d = a(i) - b(i); s0 += d * d; i += 1 }
    (s0 + s1) + (s2 + s3)
  }

  @inline def normSq(v: Array[Double]): Double = dot4(v, v, v.length)

  @inline def norm(v: Array[Double]): Double = math.sqrt(normSq(v))

  /** Cosine distance of doc `v` to query `b`. Equal lengths take the
    * hoisted norms (doc norm `dn` once per doc, query norm precomputed) —
    * bit-identical to [[distOf]], whose independent chains give the same
    * sums. Unequal lengths go through [[distOf]], which, like
    * VectorDistance, takes both norms over the common prefix. */
  @inline private def cosine(v: Array[Double], dn: Double, b: Array[Double],
      bn: Double): Double =
    if (v.length == b.length) 1.0 - dot4(v, b, v.length) / (dn * bn)
    else distOf("cosine", v, b)

  /** Score one doc row against every query, updating the per-query heaps.
    * Cosine hoists the norms (see [[cosine]]): ~3× fewer multiplications
    * for Q > 1. */
  def scoreRow(metric: String, v: Array[Double], idVal: Any,
      vecs: Array[Array[Double]], qNorms: Array[Double], ids: Array[Any],
      heaps: Array[TopKBuffer], excludeSelf: Boolean): Unit = {
    val nq = vecs.length
    val isCos = metric == "cosine"
    val dn = if (isCos) norm(v) else 0.0
    var q = 0
    while (q < nq) {
      if (!(excludeSelf && idVal == ids(q))) {
        val d = if (isCos) cosine(v, dn, vecs(q), qNorms(q))
                else distOf(metric, v, vecs(q))
        if (!d.isNaN) heaps(q).insert(d, idVal)
      }
      q += 1
    }
  }

  /** [[scoreRow]] restricted to a query-index subset — the IVF
    * cell-pruned kernel: only the queries that probed this doc's cell
    * are scored. Same cosine math as scoreRow, so results are
    * bit-identical to the full-scan kernel on the scored subset. */
  def scoreRowSubset(metric: String, v: Array[Double], idVal: Any,
      vecs: Array[Array[Double]], qNorms: Array[Double],
      heaps: Array[TopKBuffer], qs: Array[Int]): Unit = {
    val isCos = metric == "cosine"
    val dn = if (isCos) norm(v) else 0.0
    var j = 0
    while (j < qs.length) {
      val q = qs(j)
      val d = if (isCos) cosine(v, dn, vecs(q), qNorms(q))
              else distOf(metric, v, vecs(q))
      if (!d.isNaN) heaps(q).insert(d, idVal)
      j += 1
    }
  }

  @inline def distOf(metric: String, a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    metric match {
      case "cosine" =>
        1.0 - dot4(a, b, n) /
          (math.sqrt(dot4(a, a, n)) * math.sqrt(dot4(b, b, n)))
      case "sqeuclidean" => sqeuclidean4(a, b, n)
      case "euclidean" => math.sqrt(sqeuclidean4(a, b, n))
      case "dot" | "inner_product" => -dot4(a, b, n)
      case other => throw new IllegalArgumentException(
        s"unknown metric '$other' (one of ${
          graft.functions.VectorDistance.metrics.mkString(", ")})")
    }
  }
}
