package graft.plans

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k-by-distance aggregate: keeps the k smallest (distance,
  * payload) pairs per group in a size-capped binary heap, with map-side
  * partial aggregation and heap merge on shuffle — so a brute-force knn over
  * N docs × Q queries shuffles only O(partitions × Q × k) rows instead of
  * N × Q (a Window rank would shuffle-sort the full cross product).
  *
  * This is the Spark-native form of the reference's batched out-of-core knn
  * "running best table" merge
  * (reference: docarray/array/storage/memory/find.py:117-181,
  * docarray/math/helper.py:69-91 update_rows_x_mat_best) and its
  * argpartition top-k (reference: docarray/math/helper.py:40-66).
  *
  * Result: `array<struct<distance: double, value: payloadType>>`, ascending
  * by distance (the reference's match ordering, memory/find.py:176-179).
  */
case class TopKByDistance(
    distance: Expression,
    payload: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] {

  require(k > 0, s"topk k must be > 0, got $k")

  override def children: Seq[Expression] = Seq(distance, payload)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("distance", DoubleType, nullable = false),
    StructField("value", payload.dataType))))

  // Equal distances are broken by payload order (ascending), so the kth/k+1th
  // boundary on tied distances — common in dedup corpora with duplicate
  // vectors — is partition-invariant, matching the oracle's ORDER BY (dist, id).
  private def payloadOrd: PayloadOrdering = PayloadOrdering.forType(payload.dataType)

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k, payloadOrd)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val d = distance.eval(input)
    if (d != null) {
      val dist = d.asInstanceOf[Double]
      // NaN distances (e.g. cosine with a zero-norm vector) never rank
      if (!dist.isNaN && buf.wouldAccept(dist)) {
        val p = payload.eval(input)
        buf.insert(dist, InternalRow.copyValue(p))
      }
    }
    buf
  }

  override def merge(buf: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    var i = 0
    while (i < other.size) {
      buf.insert(other.dists(i), other.values(i))
      i += 1
    }
    buf
  }

  override def eval(buf: TopKBuffer): Any = {
    val arr = buf.sortedEntries.map { case (d, v) =>
      InternalRow(d, v)
    }
    new GenericArrayData(arr)
  }

  private lazy val rowProj =
    GenerateUnsafeProjection.generate(Seq(
      BoundReference(0, DoubleType, nullable = false),
      BoundReference(1, payload.dataType, nullable = true)))

  override def serialize(buf: TopKBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    var i = 0
    while (i < buf.size) {
      val row = rowProj.apply(InternalRow(buf.dists(i), buf.values(i)))
      val bytes = row.getBytes
      out.writeInt(bytes.length)
      out.write(bytes)
      i += 1
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val buf = new TopKBuffer(k, payloadOrd)
    val in = ByteBuffer.wrap(bytes)
    val n = in.getInt
    var i = 0
    val row = new UnsafeRow(2)
    while (i < n) {
      val len = in.getInt
      val arr = new Array[Byte](len)
      in.get(arr)
      row.pointTo(arr, len)
      buf.insert(row.getDouble(0),
        InternalRow.copyValue(row.get(1, payload.dataType)))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByDistance =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByDistance =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(distance = newChildren(0), payload = newChildren(1))
  override def prettyName: String = "topk_by_distance"
}

/** Serializable total order over Catalyst payload values, used to break
  * distance ties deterministically. Holds only the (serializable) DataType;
  * the interpreted ordering is rebuilt lazily on each JVM so the buffer can
  * ride Java-serialized RDD shuffles (KnnTopKExec's reduceByKey). */
final class PayloadOrdering(val dt: DataType) extends Ordering[Any] with Serializable {
  @transient private lazy val ord =
    org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(dt)
  override def compare(a: Any, b: Any): Int =
    if (a == null) (if (b == null) 0 else -1)
    else if (b == null) 1
    else ord.compare(a, b)
}

object PayloadOrdering {
  /** null when the type has no total order (e.g. contains a map) — the heap
    * then degrades to distance-only ties, as before. */
  def forType(dt: DataType): PayloadOrdering =
    if (org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(dt))
      new PayloadOrdering(dt)
    else null
}

/** Size-capped max-heap on (distance, payload); the root is the current worst
  * of the best-k, so accept/evict is O(log k) and `wouldAccept` lets callers
  * skip payload evaluation for rows that can't make the cut. Ties on distance
  * are broken by `ord` (ascending payload wins), making results independent
  * of partition arrival order. Serializable so it can ride RDD-level combine
  * (KnnTopKExec) as well as this aggregate. */
final class TopKBuffer(val k: Int, val ord: PayloadOrdering = null) extends Serializable {
  var dists: Array[Double] = new Array[Double](math.min(k, 16))
  var values: Array[Any] = new Array[Any](math.min(k, 16))
  var size: Int = 0

  /** May return true on a distance tie even if the payload ultimately loses —
    * `insert` does the exact check; this only gates payload evaluation. */
  def wouldAccept(d: Double): Boolean =
    size < k || d < dists(0) || (ord != null && d == dists(0))

  private def grow(): Unit = {
    if (size == dists.length && size < k) {
      val n = math.min(k, dists.length * 2)
      dists = java.util.Arrays.copyOf(dists, n)
      values = java.util.Arrays.copyOf(values.asInstanceOf[Array[AnyRef]], n)
        .asInstanceOf[Array[Any]]
    }
  }

  /** true when (d, v) orders strictly before entry i. */
  @inline private def beats(d: Double, v: Any, i: Int): Boolean =
    d < dists(i) || (d == dists(i) && ord != null && ord.compare(v, values(i)) < 0)

  def insert(d: Double, v: Any): Unit = {
    if (size < k) {
      grow()
      dists(size) = d; values(size) = v; size += 1
      siftUp(size - 1)
    } else if (beats(d, v, 0)) {
      dists(0) = d; values(0) = v
      siftDown(0)
    }
  }

  private def siftUp(i0: Int): Unit = {
    var i = i0
    while (i > 0) {
      val parent = (i - 1) / 2
      if (beats(dists(parent), values(parent), i)) { swap(parent, i); i = parent }
      else return
    }
  }

  private def siftDown(i0: Int): Unit = {
    var i = i0
    while (true) {
      val l = 2 * i + 1; val r = 2 * i + 2
      var largest = i
      if (l < size && beats(dists(largest), values(largest), l)) largest = l
      if (r < size && beats(dists(largest), values(largest), r)) largest = r
      if (largest == i) return
      swap(i, largest); i = largest
    }
  }

  @inline private def swap(i: Int, j: Int): Unit = {
    val td = dists(i); dists(i) = dists(j); dists(j) = td
    val tv = values(i); values(i) = values(j); values(j) = tv
  }

  /** Entries ascending by (distance, payload). */
  def sortedEntries: Array[(Double, Any)] = {
    val arr = new Array[(Double, Any)](size)
    var i = 0
    while (i < size) { arr(i) = (dists(i), values(i)); i += 1 }
    if (ord == null) arr.sortBy(_._1)
    else arr.sortWith { case ((d1, v1), (d2, v2)) =>
      d1 < d2 || (d1 == d2 && ord.compare(v1, v2) < 0)
    }
  }
}
