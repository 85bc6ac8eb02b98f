package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.operators.Knn

/** Exact knn over every vector column type a caller can hand in: element
  * nullability × {float, double}, with and without [[GraftExtensions]]
  * (the `KnnTopKExec` kernel plans on both), each against a plain-JVM
  * cosine scan. */
class KnnVectorTypesSpec extends SparkSuite {

  private val n = 64
  private val dim = 16
  private val k = 3
  private val vecs: Array[Array[Float]] = {
    val rng = new java.util.SplittableRandom(7L)
    Array.fill(n)(Array.fill(dim)(rng.nextDouble(-1.0, 1.0).toFloat))
  }

  private def cosineDist(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** (query, rank) → (id, distance), excluding each query itself. */
  private val expected: Map[(Long, Int), (Long, Double)] = {
    val d = vecs.map(_.map(_.toDouble))
    (0 until n).flatMap { q =>
      (0 until n).filter(_ != q).map(j => (j.toLong, cosineDist(d(q), d(j))))
        .sortBy { case (id, dist) => (dist, id) }.take(k)
        .zipWithIndex.map { case ((id, dist), r) => (q.toLong, r + 1) -> (id, dist) }
    }.toMap
  }

  private def docs(s: SparkSession, float: Boolean,
      containsNull: Boolean): DataFrame = {
    val elem = if (float) FloatType else DoubleType
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("embedding", ArrayType(elem, containsNull))))
    val rows = vecs.zipWithIndex.map { case (v, i) =>
      Row(i.toLong, if (float) v.toSeq else v.toSeq.map(_.toDouble))
    }
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  private def check(s: SparkSession, extensions: Boolean): Unit =
    for (float <- Seq(true, false); containsNull <- Seq(true, false)) {
      val df = docs(s, float, containsNull)
      val got = Knn.bruteForce(df, df, k, "cosine", excludeSelf = true)
      val what = s"float=$float containsNull=$containsNull extensions=$extensions"
      assert(KnnSpec.plansKernel(got), s"no KnnTopKExec: $what")
      val rows = got.select("query_id", "id", "distance", "rank").collect()
      assert(rows.length == n * k, what)
      rows.foreach { r =>
        val (id, dist) = expected((r.getLong(0), r.getInt(3)))
        assert(r.getLong(1) == id && math.abs(r.getDouble(2) - dist) < 1e-9,
          s"$what: query ${r.getLong(0)} rank ${r.getInt(3)} got " +
            s"(${r.getLong(1)}, ${r.getDouble(2)}), want ($id, $dist)")
      }
    }

  test("exact knn matches a JVM cosine scan for every vector type, extensions off") {
    check(spark, extensions = false)
  }

  test("exact knn matches a JVM cosine scan for every vector type, extensions on") {
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder().master("local[4]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      check(s2, extensions = true)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
