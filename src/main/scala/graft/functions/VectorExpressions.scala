package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst distance kernels over `array<float>` / `array<double>`
  * embedding columns, with whole-stage codegen (`doGenCode`) so the knn hot
  * loop stays inside Tungsten — the Spark counterpart of the reference's
  * numpy distance kernels
  * (reference: docarray/math/distance/__init__.py:23-121,
  * docarray/math/distance/numpy.py:9-90).
  *
  * Metrics: `cosine` (1 - a·b/(|a||b|)), `sqeuclidean`, `euclidean`, and
  * `inner_product` distance (-a·b, so smaller = more similar, making every
  * metric uniformly "ascending = best" like the reference's match ordering,
  * reference: storage/memory/find.py:176-179).
  *
  * All math is performed in double precision regardless of the input element
  * type, for bit-parity with the DuckDB/numpy oracles.
  */
object VectorDistance {
  val metrics: Set[String] = Set("cosine", "sqeuclidean", "euclidean", "inner_product", "dot")
}

case class VectorDistance(left: Expression, right: Expression, metric: String)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = s"${metric}_distance"

  private def elemType(e: Expression): DataType = e.dataType match {
    case ArrayType(et, _) => et
    case _ => NullType
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(e => elemType(e) == FloatType || elemType(e) == DoubleType)
    if (!VectorDistance.metrics.contains(metric))
      TypeCheckResult.TypeCheckFailure(
        s"unknown metric '$metric' (one of ${VectorDistance.metrics.mkString(", ")})")
    else if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"expects array<float|double> inputs, got ${left.dataType.sql}, ${right.dataType.sql}")
  }

  @inline private def get(a: ArrayData, i: Int, float: Boolean): Double =
    if (float) a.getFloat(i).toDouble else a.getDouble(i)

  // r10: 4-chain stride-4 accumulation with sequential tail, combined
  // (s0+s1)+(s2+s3) — one `acc +=` chain serializes on FP-add latency
  // (~4 cycles/element); four independent chains pipeline it. The SAME
  // grouping is generated in doGenCode and used by KnnTopKExec.dot4 /
  // sqeuclidean4 and VectorKernels.nearestCells, so expression and
  // blocked-kernel paths stay bit-consistent with each other. n < 4
  // takes only the tail — bit-identical to the old sequential sum.
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val af = elemType(left) == FloatType
    val bf = elemType(right) == FloatType
    val n = math.min(a.numElements(), b.numElements())
    val k = n & ~3
    metric match {
      case "cosine" =>
        var d0 = 0.0; var d1 = 0.0; var d2 = 0.0; var d3 = 0.0
        var na0 = 0.0; var na1 = 0.0; var na2 = 0.0; var na3 = 0.0
        var nb0 = 0.0; var nb1 = 0.0; var nb2 = 0.0; var nb3 = 0.0
        var i = 0
        while (i < k) {
          val x0 = get(a, i, af); val y0 = get(b, i, bf)
          val x1 = get(a, i + 1, af); val y1 = get(b, i + 1, bf)
          val x2 = get(a, i + 2, af); val y2 = get(b, i + 2, bf)
          val x3 = get(a, i + 3, af); val y3 = get(b, i + 3, bf)
          d0 += x0 * y0; na0 += x0 * x0; nb0 += y0 * y0
          d1 += x1 * y1; na1 += x1 * x1; nb1 += y1 * y1
          d2 += x2 * y2; na2 += x2 * x2; nb2 += y2 * y2
          d3 += x3 * y3; na3 += x3 * x3; nb3 += y3 * y3
          i += 4
        }
        while (i < n) {
          val x = get(a, i, af); val y = get(b, i, bf)
          d0 += x * y; na0 += x * x; nb0 += y * y; i += 1
        }
        val dot = (d0 + d1) + (d2 + d3)
        val na = (na0 + na1) + (na2 + na3)
        val nb = (nb0 + nb1) + (nb2 + nb3)
        1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
      case "sqeuclidean" | "euclidean" =>
        var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
        var i = 0
        while (i < k) {
          val e0 = get(a, i, af) - get(b, i, bf); s0 += e0 * e0
          val e1 = get(a, i + 1, af) - get(b, i + 1, bf); s1 += e1 * e1
          val e2 = get(a, i + 2, af) - get(b, i + 2, bf); s2 += e2 * e2
          val e3 = get(a, i + 3, af) - get(b, i + 3, bf); s3 += e3 * e3
          i += 4
        }
        while (i < n) {
          val e = get(a, i, af) - get(b, i, bf); s0 += e * e; i += 1
        }
        val s = (s0 + s1) + (s2 + s3)
        if (metric == "euclidean") math.sqrt(s) else s
      case _ => // inner_product / dot: negative dot product as a distance
        var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
        var i = 0
        while (i < k) {
          s0 += get(a, i, af) * get(b, i, bf)
          s1 += get(a, i + 1, af) * get(b, i + 1, bf)
          s2 += get(a, i + 2, af) * get(b, i + 2, bf)
          s3 += get(a, i + 3, af) * get(b, i + 3, bf)
          i += 4
        }
        while (i < n) { s0 += get(a, i, af) * get(b, i, bf); i += 1 }
        -((s0 + s1) + (s2 + s3))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aGet = if (elemType(left) == FloatType) "getFloat" else "getDouble"
    val bGet = if (elemType(right) == FloatType) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // generated code mirrors nullSafeEval's 4-chain stride-4 grouping
      // exactly — see the r10 comment there
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val kk = ctx.freshName("kk")
      def acc(p: String) = (0 to 3).map(j => ctx.freshName(p + j))
      val loop = metric match {
        case "cosine" =>
          val d = acc("d"); val na = acc("na"); val nb = acc("nb")
          val dotS = ctx.freshName("dotS"); val naS = ctx.freshName("naS")
          val nbS = ctx.freshName("nbS")
          val lanes = (0 to 3).map { j =>
            s"""double x$j = (double) $a.$aGet($i + $j);
               |double y$j = (double) $b.$bGet($i + $j);
               |${d(j)} += x$j * y$j; ${na(j)} += x$j * x$j; ${nb(j)} += y$j * y$j;""".stripMargin
          }.mkString("\n")
          s"""double ${d.map(_ + " = 0.0").mkString(", ")};
             |double ${na.map(_ + " = 0.0").mkString(", ")};
             |double ${nb.map(_ + " = 0.0").mkString(", ")};
             |int $i = 0;
             |for (; $i < $kk; $i += 4) {
             |$lanes
             |}
             |for (; $i < $n; $i++) {
             |  double x = (double) $a.$aGet($i);
             |  double y = (double) $b.$bGet($i);
             |  ${d(0)} += x * y; ${na(0)} += x * x; ${nb(0)} += y * y;
             |}
             |double $dotS = (${d(0)} + ${d(1)}) + (${d(2)} + ${d(3)});
             |double $naS = (${na(0)} + ${na(1)}) + (${na(2)} + ${na(3)});
             |double $nbS = (${nb(0)} + ${nb(1)}) + (${nb(2)} + ${nb(3)});
             |${ev.value} = 1.0 - $dotS / (java.lang.Math.sqrt($naS) * java.lang.Math.sqrt($nbS));
             |""".stripMargin
        case "sqeuclidean" | "euclidean" =>
          val s = acc("s")
          val lanes = (0 to 3).map { j =>
            s"""double e$j = (double) $a.$aGet($i + $j) - (double) $b.$bGet($i + $j);
               |${s(j)} += e$j * e$j;""".stripMargin
          }.mkString("\n")
          val fin = if (metric == "euclidean")
            s"${ev.value} = java.lang.Math.sqrt((${s(0)} + ${s(1)}) + (${s(2)} + ${s(3)}));"
          else s"${ev.value} = (${s(0)} + ${s(1)}) + (${s(2)} + ${s(3)});"
          s"""double ${s.map(_ + " = 0.0").mkString(", ")};
             |int $i = 0;
             |for (; $i < $kk; $i += 4) {
             |$lanes
             |}
             |for (; $i < $n; $i++) {
             |  double e = (double) $a.$aGet($i) - (double) $b.$bGet($i);
             |  ${s(0)} += e * e;
             |}
             |$fin
             |""".stripMargin
        case _ =>
          val s = acc("s")
          val lanes = (0 to 3).map { j =>
            s"${s(j)} += (double) $a.$aGet($i + $j) * (double) $b.$bGet($i + $j);"
          }.mkString("\n")
          s"""double ${s.map(_ + " = 0.0").mkString(", ")};
             |int $i = 0;
             |for (; $i < $kk; $i += 4) {
             |$lanes
             |}
             |for (; $i < $n; $i++) {
             |  ${s(0)} += (double) $a.$aGet($i) * (double) $b.$bGet($i);
             |}
             |${ev.value} = -((${s(0)} + ${s(1)}) + (${s(2)} + ${s(3)}));
             |""".stripMargin
      }
      s"""int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $kk = $n & ~3;
         |$loop""".stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** L2-normalize an embedding in one pass (useful to turn cosine knn into
  * dot-product knn so document norms are computed once, not per query). */
case class L2Normalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = child.nullable

  private def isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"expects array<float|double>, got ${t.sql}")
  }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    val out = new Array[Double](n)
    var norm = 0.0; var i = 0
    while (i < n) {
      val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      out(i) = x; norm += x * x; i += 1
    }
    val inv = if (norm == 0.0) 0.0 else 1.0 / math.sqrt(norm)
    i = 0
    while (i < n) { out(i) *= inv; i += 1 }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (isFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val out = ctx.freshName("out"); val norm = ctx.freshName("norm")
      val inv = ctx.freshName("inv")
      s"""int $n = $a.numElements();
         |double[] $out = new double[$n];
         |double $norm = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double x = (double) $a.$get($i);
         |  $out[$i] = x; $norm += x * x;
         |}
         |double $inv = $norm == 0.0 ? 0.0 : 1.0 / java.lang.Math.sqrt($norm);
         |for (int $i = 0; $i < $n; $i++) { $out[$i] *= $inv; }
         |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
         |""".stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 8-bit scalar quantization of an embedding: per-dimension affine code
  * `round((v - min_d) / delta_d)` clamped to [0, 255], packed as one byte
  * per dimension (4× smaller than float32, 8× smaller than float64).
  * The index-build-time encode pass of an IVF-SQ index (the classic
  * compressed-codes ANN layout — codes live in the index, originals stay
  * in the base table for the exact re-rank step). r8: full codegen via a
  * plan-reference kernel call — the 1M-row encode bench row rides
  * whole-stage codegen like every other scan expression. */
case class SqEncode(child: Expression, mins: Seq[Double], deltas: Seq[Double])
    extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = child.nullable

  private def isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      if (mins.length == deltas.length) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure("mins/deltas length mismatch")
    case t => TypeCheckResult.TypeCheckFailure(s"expects array<float|double>, got ${t.sql}")
  }

  override def nullSafeEval(v: Any): Any =
    kernel(v.asInstanceOf[ArrayData])
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("sqExpr", this, classOf[SqEncode].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
  }
  /** Public for the generated code (r8 plan-reference call). */
  def kernel(a: ArrayData): Array[Byte] = {
    val n = math.min(a.numElements(), mins.length)
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val d = deltas(i)
      val c = if (d == 0.0) 0.0 else math.rint((x - mins(i)) / d)
      out(i) = math.max(0.0, math.min(255.0, c)).toInt.toByte
      i += 1
    }
    out
  }

  override def prettyName: String = "sq_encode"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** pq_encode(vec) → binary: product-quantization codes, one byte per
  * subspace. The vector is split into `m = centroids.length` contiguous
  * sub-vectors of `subDim` dims; each sub-vector is replaced by the index
  * of its nearest (squared-euclidean, first-wins on ties) codeword in
  * that subspace's codebook. dim/8 compression at m = dim/8 — the scan
  * side of an IVF-PQ index. The codebook rides serialized inside the
  * expression (m × ≤256 × subDim doubles — plan-sized, not data-sized). */
case class PqEncode(child: Expression, subDim: Int,
    centroids: Seq[Seq[Seq[Double]]])
    extends UnaryExpression {
  require(subDim >= 1 && centroids.nonEmpty &&
    centroids.forall(cs => cs.nonEmpty && cs.length <= 256 &&
      cs.forall(_.length == subDim)),
    "codebook must be m × (1..256) × subDim")
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  private def isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  @transient private lazy val cents: Array[Array[Array[Double]]] =
    centroids.map(_.map(_.toArray).toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"expects array<float|double>, got ${t.sql}")
  }

  override def nullSafeEval(v: Any): Any =
    kernel(v.asInstanceOf[ArrayData])
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("pqExpr", this, classOf[PqEncode].getName)
    nullSafeCodeGen(ctx, ev, c => {
      val o = ctx.freshName("pqOut")
      s"""byte[] $o = $ref.kernel($c);
         |if ($o == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $o; }""".stripMargin
    })
  }
  /** Public for the generated code (r8 plan-reference call); null on a
    * dimension mismatch. */
  def kernel(a: ArrayData): Array[Byte] = {
    val m = cents.length
    // a dimension-mismatched vector encodes to null, not to a plausible-
    // looking code with zero-padded (or dropped) subspaces that would
    // silently corrupt the ADC ranking downstream
    if (a.numElements() != m * subDim) return null
    val out = new Array[Byte](m)
    val sub = new Array[Double](subDim)
    var j = 0
    while (j < m) {
      val base = j * subDim
      var i = 0
      while (i < subDim) {
        val p = base + i
        sub(i) = if (isFloat) a.getFloat(p).toDouble else a.getDouble(p)
        i += 1
      }
      val cs = cents(j)
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cs.length) {
        val cw = cs(c)
        var d = 0.0
        var i2 = 0
        while (i2 < subDim) { val t = sub(i2) - cw(i2); d += t * t; i2 += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(j) = best.toByte
      j += 1
    }
    out
  }

  override def prettyName: String = "pq_encode"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Map-only nearest-centroid assignment: the argmin cell id of a vector
  * against a small driver-collected centroid table, as ONE scalar kernel
  * instead of a crossJoin + groupBy argmin (which materializes N×k
  * full-width rows through a hash aggregate). The per-cell distance is the
  * identical left-fold of squared diffs used by the join-based argmin it
  * replaces (`aggregate(zip_with(v, c, (x,y) => (x-y)²), 0.0, _+_)`), and
  * ties break to the LOWEST cell id (cells are scanned ascending with a
  * strict `<` replace), so results are bit-identical to
  * `min(struct(dist, cell))` — the property [[graft.operators.Ann.kmeansLloyd]]'s
  * external-engine replay depends on. A dimension-mismatched vector yields
  * null rather than a plausible-looking cell. */
case class NearestCentroid(child: Expression, cells: Seq[Int],
    centers: Seq[Seq[Double]])
    extends UnaryExpression {
  require(cells.nonEmpty && cells.length == centers.length,
    "cells and centers must be non-empty and parallel")
  require(centers.forall(_.length == centers.head.length) && centers.head.nonEmpty,
    "centroids must share one non-zero dimensionality")

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_centroid"

  private def isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  // ascending cell order ⇒ the strict-< scan keeps the lowest cell on ties
  @transient private lazy val (cellIds, cents) = {
    val sorted = cells.zip(centers).sortBy(_._1)
    (sorted.map(_._1).toArray, sorted.map(_._2.toArray).toArray)
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"expects array<float|double>, got ${t.sql}")
  }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val dim = cents(0).length
    if (a.numElements() != dim) return null
    val flt = isFloat
    val x = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      x(i) = if (flt) a.getFloat(i).toDouble else a.getDouble(i); i += 1
    }
    var best = 0
    var bestD = Double.PositiveInfinity
    var c = 0
    while (c < cents.length) {
      val cw = cents(c)
      var d = 0.0
      var j = 0
      while (j < dim) { val t = x(j) - cw(j); d += t * t; j += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    cellIds(best)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (isFloat) "getFloat" else "getDouble"
    val centsRef = ctx.addReferenceObj("cents", cents, "double[][]")
    val cellsRef = ctx.addReferenceObj("cellIds", cellIds, "int[]")
    nullSafeCodeGen(ctx, ev, a => {
      val dim = ctx.freshName("dim"); val x = ctx.freshName("x")
      val best = ctx.freshName("best"); val bestD = ctx.freshName("bestD")
      val c = ctx.freshName("c"); val j = ctx.freshName("j")
      val cw = ctx.freshName("cw"); val d = ctx.freshName("d")
      val t = ctx.freshName("t")
      s"""int $dim = $centsRef[0].length;
         |if ($a.numElements() != $dim) {
         |  ${ev.isNull} = true;
         |} else {
         |  double[] $x = new double[$dim];
         |  for (int $j = 0; $j < $dim; $j++) $x[$j] = (double) $a.$get($j);
         |  int $best = 0; double $bestD = Double.POSITIVE_INFINITY;
         |  for (int $c = 0; $c < $centsRef.length; $c++) {
         |    double[] $cw = $centsRef[$c];
         |    double $d = 0.0;
         |    for (int $j = 0; $j < $dim; $j++) {
         |      double $t = $x[$j] - $cw[$j]; $d += $t * $t;
         |    }
         |    if ($d < $bestD) { $bestD = $d; $best = $c; }
         |  }
         |  ${ev.value} = $cellsRef[$best];
         |}""".stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Unsigned byte view of a binary column: `binary → array<int>` with each
  * element in [0, 255]. The introspection half of [[SqEncode]] (codes back
  * to comparable ints for oracles/debugging) and generally useful over
  * `blob` columns. Codegen'd — a straight per-byte loop. */
case class BytesToInts(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"expects binary, got ${t.sql}")
  }

  override def nullSafeEval(v: Any): Any = {
    val b = v.asInstanceOf[Array[Byte]]
    val out = new Array[Int](b.length)
    var i = 0
    while (i < b.length) { out(i) = b(i) & 0xff; i += 1 }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      s"""
         |int[] $out = new int[$b.length];
         |for (int $i = 0; $i < $b.length; $i++) { $out[$i] = $b[$i] & 0xff; }
         |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
       """.stripMargin
    })

  override def prettyName: String = "bytes_to_ints"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Integer sign-projection for the JL sketch: out_t = Σ_j signs(t)(j)·v_j
  * over an already-quantized `array<long>` vector. The ±1 sign matrix is a
  * pure function of (seed, outDim, d), precomputed ONCE on the driver and
  * shipped as a codegen reference object — the r6 plan fix: the previous
  * per-row splitmix fold re-derived every sign for every row
  * (rows × outDim × d interpreted hash evals; 2×10⁹ at 1M×128×16).
  * Exact long arithmetic, fixed left-to-right order — bit-identical on any
  * engine/layout, same contract as the fold it replaces. A vector whose
  * length differs from the sign matrix's d yields null (the
  * [[ProjectVector]] mismatch rule); a null element yields null (the old
  * fold's propagation). */
case class SignProjectLong(child: Expression, signs: Seq[Seq[Byte]])
    extends UnaryExpression {
  require(signs.nonEmpty, "signs must be non-empty")

  @transient private lazy val sgn: Array[Array[Byte]] =
    signs.map(_.toArray).toArray

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "sign_project_long"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"expects array<bigint>, got ${t.sql}")
  }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val d = sgn(0).length
    if (a.numElements() != d) return null
    var j = 0
    while (j < d) { if (a.isNullAt(j)) return null; j += 1 }
    val out = new Array[Long](sgn.length)
    var t = 0
    while (t < sgn.length) {
      val s = sgn(t)
      var acc = 0L
      var i = 0
      while (i < d) { acc += s(i) * a.getLong(i); i += 1 }
      out(t) = acc
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val signsRef = ctx.addReferenceObj("signs", sgn, "byte[][]")
    nullSafeCodeGen(ctx, ev, a => {
      val d = ctx.freshName("d"); val out = ctx.freshName("out")
      val t = ctx.freshName("t"); val j = ctx.freshName("j")
      val s = ctx.freshName("s"); val acc = ctx.freshName("acc")
      val bad = ctx.freshName("bad")
      s"""int $d = $signsRef[0].length;
         |boolean $bad = $a.numElements() != $d;
         |for (int $j = 0; !$bad && $j < $d; $j++) {
         |  if ($a.isNullAt($j)) $bad = true;
         |}
         |if ($bad) {
         |  ${ev.isNull} = true;
         |} else {
         |  long[] $out = new long[$signsRef.length];
         |  for (int $t = 0; $t < $signsRef.length; $t++) {
         |    byte[] $s = $signsRef[$t];
         |    long $acc = 0L;
         |    for (int $j = 0; $j < $d; $j++) { $acc += $s[$j] * $a.getLong($j); }
         |    $out[$t] = $acc;
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}""".stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Sign-bit pack of an embedding into 32-dims-per-long words (binary
  * quantization): bit j of word w is set iff component 32w+j clears
  * its per-dimension threshold — zeros-at-threshold, NaNs, and null
  * components contribute no bit. 32-bit lanes keep every word below
  * 2^32 so the packing replays in any engine's signed-64 arithmetic.
  *
  * Two threshold modes, both engine-replayable:
  *  - `threshQ` empty (raw): bit iff x > 0 — for embeddings already
  *    centered per dimension (the normalized-model case).
  *  - `threshQ` = per-dim Σ round(x·10⁶) over an n-row corpus
  *    (mean-centered): bit iff round(x·10⁶)·n > threshQ(i) — the
  *    integer cross-multiplied "x > mean_i" test, division-free and
  *    order-free so any engine computes the identical bit. A vector
  *    whose length differs from threshQ nulls out rather than packing
  *    wrong bits.
  *
  * Codegen'd: the 1M-row pack is a map at scan speed, the
  * [[HammingWords]] scan's producer. */
case class SignPackWords(child: Expression,
    threshQ: Seq[Long] = Nil, n: Long = 0L) extends UnaryExpression {
  require(threshQ.isEmpty || n > 0L,
    "centered packing needs the corpus row count n > 0")
  // |x_q|·n must stay inside long: x_q ≤ 10^6·|x|; guard the obvious
  // blowup (n beyond ~9·10^11 rows would need a wider grid anyway)
  require(n <= 900000000000L, s"n too large for the ppm grid: $n")

  @transient private lazy val thr: Array[Long] = threshQ.toArray

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "sign_pack_words"

  private def isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"expects array<float|double>, got ${t.sql}")
  }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val len = a.numElements()
    if (thr.nonEmpty && len != thr.length) return null
    val out = new Array[Long]((len + 31) / 32)
    var i = 0
    while (i < len) {
      if (!a.isNullAt(i)) {
        val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
        val hit =
          if (thr.isEmpty) x > 0.0
          else {
            // half-away-from-zero ppm quantization — the rule Spark's
            // round() and external engines' round() share (Math.round
            // would differ on negative halves)
            val xq = if (x >= 0) Math.floor(x * 1e6 + 0.5d).toLong
                     else Math.ceil(x * 1e6 - 0.5d).toLong
            xq * n > thr(i)
          }
        if (hit) out(i >> 5) |= 1L << (i & 31)
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (isFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, a => {
      val len = ctx.freshName("len"); val out = ctx.freshName("out")
      val i = ctx.freshName("i"); val x = ctx.freshName("x")
      val hit = ctx.freshName("hit")
      val (pre, test) =
        if (thr.isEmpty) ("", s"$x > 0.0")
        else {
          val tRef = ctx.addReferenceObj("threshQ", thr, "long[]")
          (s"""if ($len != $tRef.length) {
              |  ${ev.isNull} = true;
              |} else """.stripMargin,
            s"""($x >= 0
               | ? (long) java.lang.Math.floor($x * 1.0E6d + 0.5d)
               | : (long) java.lang.Math.ceil($x * 1.0E6d - 0.5d))
               | * ${n}L > $tRef[$i]""".stripMargin.replace("\n", ""))
        }
      s"""int $len = $a.numElements();
         |$pre{
         |  long[] $out = new long[($len + 31) / 32];
         |  for (int $i = 0; $i < $len; $i++) {
         |    if (!$a.isNullAt($i)) {
         |      double $x = (double) $a.$get($i);
         |      boolean $hit = $test;
         |      if ($hit) $out[$i >> 5] |= 1L << ($i & 31);
         |    }
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}""".stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Hamming distance between two [[SignPackWords]] signatures: Σ
  * popcount(a_w xor b_w) over the common word prefix. Codegen'd so the
  * candidate scan of the binary-quantized knn funnel stays inside
  * whole-stage codegen — xor+popcount per word, the cheapest distance
  * kernel there is. */
case class HammingWords(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "hamming_words"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"expects array<bigint> inputs, got ${left.dataType.sql}, ${right.dataType.sql}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i))
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      s"""int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value} += java.lang.Long.bitCount($a.getLong($i) ^ $b.getLong($i));
         |}
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Kernel body of [[NearestCells]] — a static method so the generated
  * code is ONE call with the centroid matrix as a codegen reference
  * object (the [[SignProjectLong]] / GopherAuxStats pattern). */
object VectorKernels {
  /** m nearest centroids (squared-euclidean, double math, first-index
    * wins ties) of `v`; returns the corresponding `ids` entries, null on
    * dim mismatch, null elements, or non-finite elements. The NaN/Inf
    * null is load-bearing: a NaN distance fails every `<` comparison, so
    * without the input check NO centroid would ever insert and the
    * kernel would fabricate m copies of ids(0) — an unindexable row must
    * DROP from the index, never land in an arbitrary cell. */
  def nearestCells(v: ArrayData, cents: Array[Array[Double]],
      ids: Array[Int], m: Int): ArrayData = {
    val d = cents(0).length
    if (v.numElements() != d) return null
    val vec = new Array[Double](d)
    var i = 0
    while (i < d) {
      if (v.isNullAt(i)) return null
      val x = v.getDouble(i)
      if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) return null
      vec(i) = x
      i += 1
    }
    val n = math.min(m, cents.length)
    val bestD = new Array[Double](n)
    val bestP = new Array[Int](n)
    java.util.Arrays.fill(bestD, Double.MaxValue)
    var c = 0
    while (c < cents.length) {
      val ctr = cents(c)
      // r10: 4-chain stride-4 unroll, (s0+s1)+(s2+s3) — the same
      // grouping as KnnTopKExec.sqeuclidean4 / VectorDistance, so
      // assignment order stays consistent with euclidean probe
      // ordering. The old per-element `acc < bound` abort serialized
      // the loop on a compare per FP-add (the add-latency chain was
      // the real cost, measured ~0.7 GFLOP/s/core on the 4k assign);
      // pruning now happens once per 32-element block — same flop
      // savings to first order, none of the per-element stalls.
      var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
      var j = 0
      val bound = bestD(n - 1)
      val k4 = d & ~3
      var alive = true
      while (alive && j < k4) {
        val blockEnd = math.min(j + 32, k4)
        while (j < blockEnd) {
          val t0 = vec(j) - ctr(j); s0 += t0 * t0
          val t1 = vec(j + 1) - ctr(j + 1); s1 += t1 * t1
          val t2 = vec(j + 2) - ctr(j + 2); s2 += t2 * t2
          val t3 = vec(j + 3) - ctr(j + 3); s3 += t3 * t3
          j += 4
        }
        if ((s0 + s1) + (s2 + s3) >= bound) alive = false
      }
      if (alive) {
        while (j < d) { val t = vec(j) - ctr(j); s0 += t * t; j += 1 }
        val acc = (s0 + s1) + (s2 + s3)
        if (acc < bestD(n - 1)) {
          var k = n - 1
          while (k > 0 && bestD(k - 1) > acc) {
            bestD(k) = bestD(k - 1); bestP(k) = bestP(k - 1); k -= 1
          }
          bestD(k) = acc; bestP(k) = c
        }
      }
      c += 1
    }
    // finite inputs can still square-overflow to Infinity in theory;
    // a slot that never filled must not masquerade as cell bestP(0)=0
    if (bestD(n - 1) == Double.MaxValue) return null
    val out = new Array[Int](n)
    var t = 0
    while (t < n) { out(t) = ids(bestP(t)); t += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** nearest_cells(vec) → array<int>: the `m` nearest centroid ids of a
  * double vector against a DRIVER-RESIDENT centroid matrix — the
  * map-only IVF assignment kernel. Exists because the declarative
  * multi-assign formulation (crossJoin(broadcast(centroids)) +
  * groupBy(doc) + top-k aggregate) materializes N×K joined rows and,
  * past the object-hash-agg group threshold, falls back to a SORT of
  * that product — the round-9 disk-spill incident at 1M×4096. One
  * compiled call per row, zero shuffle: the shape that holds at 100 TB
  * ingest. Ordering matches `vector_distance(…, "euclidean")` (same
  * double math; sqrt is monotone). */
case class NearestCells(child: Expression, centroids: Seq[Seq[Double]],
    cellIds: Seq[Int], m: Int) extends UnaryExpression {
  require(centroids.nonEmpty && m >= 1, "need centroids and m >= 1")
  require(centroids.size == cellIds.size, "centroids/cellIds length mismatch")

  @transient private lazy val cents: Array[Array[Double]] =
    centroids.map(_.toArray).toArray
  @transient private lazy val ids: Array[Int] = cellIds.toArray

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_cells"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"expects array<double>, got ${t.sql}")
  }

  override def nullSafeEval(v: Any): Any =
    VectorKernels.nearestCells(v.asInstanceOf[ArrayData], cents, ids, m)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("nearCents", cents, "double[][]")
    val idsRef = ctx.addReferenceObj("nearIds", ids, "int[]")
    nullSafeCodeGen(ctx, ev, v => {
      s"""
         |${ev.value} = graft.functions.VectorKernels.nearestCells(
         |  $v, $centsRef, $idsRef, $m);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
