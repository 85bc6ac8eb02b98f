package graft

import org.apache.spark.sql.functions._
import graft.functions._
import graft.operators.{Ann, Knn}

/** knn semantics mirroring the reference's find/match tests
  * (reference: tests/unit/array/mixins/test_find.py:66-79 ordering,
  * test_match.py). */
class KnnSpec extends SparkSuite {

  test("marginPairs replays the ratio-margin formula exactly") {
    import spark.implicits._
    val av = Seq(0L -> Array(1.0f, 0.0f), 1L -> Array(0.6f, 0.8f))
    val bv = Seq(10L -> Array(0.8f, 0.6f), 11L -> Array(0.0f, 1.0f),
      12L -> Array(0.9f, 0.1f))
    val a = av.toDF("vec_id", "embedding")
    val b = bv.toDF("vec_id", "embedding")
    val out = graft.operators.Knn.marginPairs(a, b, k = 2,
        aId = "vec_id", bId = "vec_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5))).toMap

    // Scala-side replay: cosine, ppb rounding, top-2 by (dist, id)
    def cos(x: Array[Float], y: Array[Float]): Double = {
      var d = 0.0; var nx = 0.0; var ny = 0.0
      for (i <- x.indices) {
        d += x(i).toDouble * y(i); nx += x(i).toDouble * x(i)
        ny += y(i).toDouble * y(i)
      }
      d / (math.sqrt(nx) * math.sqrt(ny))
    }
    def ppb(c: Double): Long = math.round((1.0 - (1.0 - c)) * 1e9)
    val fwd = av.map { case (ai, x) =>
      ai -> bv.map { case (bi, y) => (bi, 1.0 - cos(x, y)) }
        .sortBy { case (bi, d) => (d, bi) }.take(2)
    }.toMap
    val bwd = bv.map { case (bi, y) =>
      bi -> av.map { case (ai, x) => (ai, 1.0 - cos(x, y)) }
        .sortBy { case (ai, d) => (d, ai) }.take(2)
    }.toMap
    val sA = fwd.view.mapValues(_.map(p => ppb(1.0 - p._2)).sum).toMap
    val sB = bwd.view.mapValues(_.map(p => ppb(1.0 - p._2)).sum).toMap
    for ((ai, nns) <- fwd) {
      val cands = nns.map { case (bi, d) =>
        val c = ppb(1.0 - d)
        (bi, c, (2.0 * 2 * c.toDouble) / (sA(ai) + sB(bi)).toDouble)
      }
      val (bi, c, m) = cands.minBy { case (bi2, _, m2) => (-m2, bi2) }
      val (gotB, gotC, gotSa, gotSb, gotM) = out(ai)
      assert(gotB === bi && gotC === c && gotM === m)
      assert(gotSa === sA(ai) && gotSb === sB(bi))
    }
  }
  import spark.implicits._

  // 2-D points with known neighbor structure
  private lazy val docs = Seq(
    (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)),
    (2L, Seq(1.0f, 0.1f)), (3L, Seq(0.1f, 1.0f)),
    (4L, Seq(-1.0f, 0.0f))
  ).toDF("id", "embedding")

  test("cosine knn returns ascending distances with correct neighbors") {
    val q = docs.where($"id" === 0)
    val hits = Knn.bruteForce(docs, q, 3, "cosine", excludeSelf = true)
      .orderBy("rank").collect()
    // sims: d2 = 1/sqrt(1.01) ≈ .995, d3 ≈ .0995, d1 = 0, d4 = -1
    assert(hits.map(_.getLong(1)).toSeq == Seq(2L, 3L, 1L))
    val dists = hits.map(_.getDouble(2)).toSeq
    assert(dists == dists.sorted)
    // float32 storage of 0.1 → compare at float precision
    assert(math.abs(dists.head - (1.0 - 1.0 / math.sqrt(1.01))) < 1e-7)
  }

  test("euclidean and sqeuclidean agree on ranking; sq = eu^2") {
    val q = docs.where($"id" === 1)
    val eu = Knn.bruteForce(docs, q, 4, "euclidean", excludeSelf = true)
      .orderBy("rank").collect()
    val sq = Knn.bruteForce(docs, q, 4, "sqeuclidean", excludeSelf = true)
      .orderBy("rank").collect()
    assert(eu.map(_.getLong(1)).toSeq == sq.map(_.getLong(1)).toSeq)
    eu.zip(sq).foreach { case (e, s) =>
      assert(math.abs(e.getDouble(2) * e.getDouble(2) - s.getDouble(2)) < 1e-9)
    }
  }

  test("topk aggregate is partition-invariant") {
    val many = spark.range(1000).select(
      col("id"), transform(sequence(lit(0), lit(7)),
        i => sin((col("id") + 1) * (i + 1)).cast("float")).as("embedding"))
    val q = many.where(col("id") < 3)
    def run(parts: Int) =
      Knn.bruteForce(many.repartition(parts), q, 10, "cosine", excludeSelf = true)
        .select("query_id", "id", "rank").orderBy("query_id", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(run(1) == run(13))
  }

  test("k larger than corpus returns all docs") {
    val q = docs.where($"id" === 0)
    assert(Knn.bruteForce(docs, q, 100, "cosine", excludeSelf = true).count() == 4)
  }

  test("normalization rescales to [a,b] over the full row (find.py:109-114)") {
    val q = docs.where($"id" === 0)
    val n = Knn.bruteForce(docs, q, 5, "cosine",
      normalization = Some((0.0, 1.0))).orderBy("rank").collect()
    // self included: min distance 0 → first normalized value 0; max → 1
    assert(math.abs(n.head.getDouble(2)) < 1e-12)
    assert(math.abs(n.last.getDouble(2) - 1.0) < 1e-12)
  }

  test("attachMatches writes ordered matches array (match.py:12-92)") {
    val left = docs.where($"id" < 2)
    val got = Knn.attachMatches(left, docs, 2, "cosine", excludeSelf = true)
    assert(got.columns.contains("matches"))
    val m = got.where($"id" === 0).select("matches").collect()(0)
      .getSeq[org.apache.spark.sql.Row](0)
    assert(m.map(_.getInt(0)).toSeq == Seq(1, 2)) // rank ascending
    assert(m.head.getLong(1) == 2L)               // nearest neighbor id
    // scores map carries the metric → NamedScore-ish struct (find.py:226)
    val scores = m.head.getMap[String, org.apache.spark.sql.Row](3)
    assert(scores("cosine").getDouble(0) == m.head.getDouble(2))
  }

  test("knn plan keeps map-side partial top-k (no full-sort shuffle)") {
    val q = docs.where($"id" === 0)
    val df = Knn.bruteForce(docs, q, 3, "cosine")
    // per-partition heaps inside KnnTopKExec, merged on a Q × k shuffle
    assert(KnnSpec.plansKernel(df), df.queryExecution.executedPlan.toString)
    assert(!df.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("blocked kernel returns identical results to expression path") {
    assert(KnnSpec.gridMismatches(spark).isEmpty,
      KnnSpec.gridMismatches(spark).mkString("\n"))
    // string ids too (internal UTF8String vs external String handling)
    val many = KnnSpec.gridDocs(spark)
    val sdocs = many.withColumn("id", concat(lit("d"), col("id")))
    val sq = sdocs.limit(3)
    assert(KnnSpec.rows(Knn.bruteForce(sdocs, sq, 4, "cosine", excludeSelf = true)) ==
      KnnSpec.rows(KnnSpec.expressionArm(sdocs, sq, 4, "cosine", excludeSelf = true)))
    assert(Knn.bruteForce(sdocs, sq, 4, "cosine", excludeSelf = true).count() == 12)
  }

  test("excludeSelf matches ids across id types: int queries, long docs") {
    val many = KnnSpec.gridDocs(spark)
    val q = many.where(col("id") < 5).withColumn("id", col("id").cast("int"))
    val got = Knn.bruteForce(many, q, 4, "cosine", excludeSelf = true)
    assert(KnnSpec.plansKernel(got))
    val rows = KnnSpec.rows(got)
    assert(rows.length == 20 && rows.forall(r => r._1 != r._2), rows)
    assert(rows == KnnSpec.rows(
      KnnSpec.expressionArm(many, q, 4, "cosine", excludeSelf = true)))
  }

  test("excludeSelf with string ids, null ids and a null query vector") {
    val sdocs = Seq(("a", Seq(1.0, 0.0)), ("b", Seq(0.9, 0.1)),
      ("c", Seq(0.0, 1.0)), (null, Seq(1.0, 0.01)))
      .toDF("id", "embedding")
    val sq = Seq(("a", Seq(1.0, 0.0)), ("c", null), (null, Seq(0.0, 1.0)))
      .toDF("id", "embedding")
    for (ex <- Seq(true, false)) {
      val got = KnnSpec.rows(Knn.bruteForce(sdocs, sq, 3, "cosine", excludeSelf = ex))
      assert(got == KnnSpec.rows(
        KnnSpec.expressionArm(sdocs, sq, 3, "cosine", excludeSelf = ex)), s"excludeSelf=$ex")
      if (ex) assert(got.map(r => (r._1, r._2)) ==
        Seq[(Any, Any)](("a", "b"), ("a", "c")), got)
    }
  }

  test("an unknown metric fails loudly on every exact and blocked path") {
    val many = KnnSpec.gridDocs(spark)
    val q = many.where(col("id") < 3)
    val e1 = intercept[IllegalArgumentException](Knn.bruteForce(many, q, 3, "l2"))
    assert(e1.getMessage.contains("'l2'"))
    val e2 = intercept[IllegalArgumentException](
      Knn.bruteForceLargeQ(many, q, 3, "l2", nBlocks = 2))
    assert(e2.getMessage.contains("'l2'"))
    val idx = Ann.ivfBuild(many, "id", "embedding", nCells = 4, seed = 3)
    val e3 = intercept[Exception](
      Ann.ivfSearchBlocked(idx, q, 3, metric = "l2").collect())
    val msgs = Iterator.iterate[Throwable](e3)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toList
    assert(msgs.exists(_.contains("unknown metric 'l2'")), msgs)
  }

  test("mismatched dimensions: kernel and expression arm agree on the common prefix") {
    val d4 = Seq((1L, Seq(1.0f, 0.0f, 0.0f, 5.0f)), (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Seq(1.0f, 0.1f, 0.0f, 0.0f))).toDF("id", "embedding")
    val q3 = Seq((0L, Seq(1.0f, 0.0f, 0.0f))).toDF("id", "embedding")
    for (m <- Seq("cosine", "euclidean", "sqeuclidean", "inner_product")) {
      val got = KnnSpec.rows(Knn.bruteForce(d4, q3, 3, m))
      assert(got == KnnSpec.rows(KnnSpec.expressionArm(d4, q3, 3, m)), m)
    }
    // cosine over the common prefix: doc 1 equals the query there
    val cos = KnnSpec.rows(Knn.bruteForce(d4, q3, 3, "cosine"))
    assert(cos.head == ((0L, 1L, 1, 0.0)), cos)
    assert(cos(1)._2 == 3L, cos)
  }

  test("large-Q block-split returns identical results to single broadcast") {
    val many = spark.range(300).select(
      col("id"), transform(sequence(lit(0), lit(7)),
        i => sin((col("id") + 1) * (i + 1)).cast("float")).as("embedding"))
    val q = many.where(col("id") < 40)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "id", "rank").orderBy("query_id", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(key(Knn.bruteForceLargeQ(many, q, 5, nBlocks = 4, excludeSelf = true))
      == key(Knn.bruteForce(many, q, 5, "cosine", excludeSelf = true)))
  }

  test("large-Q caches the doc projection: source scanned once, not per block") {
    val dir = java.nio.file.Files.createTempDirectory("graftlq").toString
    spark.range(2000).select(
      col("id"), transform(sequence(lit(0), lit(7)),
        i => sin((col("id") + 1) * (i + 1)).cast("float")).as("embedding"))
      .repartition(4).write.mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir)
    val q = docs.where(col("id") < 64)
    // local-FS byte counter: all tasks share this JVM in local mode
    def fileBytesRead(): Long = {
      import scala.jdk.CollectionConverters._
      org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
        .filter(_.getScheme == "file").map(_.getBytesRead).sum
    }
    spark.catalog.clearCache()
    val b0 = fileBytesRead()
    Knn.bruteForceLargeQ(docs, q, 5, nBlocks = 4).count()
    val cachedRead = fileBytesRead() - b0
    spark.catalog.clearCache()
    val b1 = fileBytesRead()
    Knn.bruteForceLargeQ(docs, q, 5, nBlocks = 4, cacheDocs = false).count()
    val uncachedRead = fileBytesRead() - b1
    // 4 blocks over an uncached side re-scan the parquet ~4×; the cached
    // path must come in well under that (one materializing scan)
    assert(cachedRead * 2 < uncachedRead,
      s"cached=$cachedRead uncached=$uncachedRead")
  }

  test("sparse ml-vector distances match dense math") {
    import org.apache.spark.ml.linalg.Vectors
    val rows = Seq(
      (1L, Vectors.sparse(6, Seq((0, 1.0), (3, 2.0))),
        Vectors.dense(1.0, 0.0, 0.0, 2.0, 0.0, 0.0)),
      (2L, Vectors.sparse(6, Seq((1, 3.0))), Vectors.dense(0.0, 0.0, 4.0, 0.0, 0.0, 0.0))
    ).toDF("id", "sv", "dv")
    val vals = rows.orderBy("id").select(
      ml_vector_distance($"sv", $"dv", "cosine"),
      ml_vector_distance($"sv", $"sv", "sqeuclidean")).collect()
    // row 1: sv == dv → cosine 0, self sqeuclidean 0
    assert(math.abs(vals(0).getDouble(0)) < 1e-12)
    assert(math.abs(vals(0).getDouble(1)) < 1e-12)
    // row 2: orthogonal → cosine distance 1
    assert(math.abs(vals(1).getDouble(0) - 1.0) < 1e-12)
  }

  test("custom metric callable inverts ordering (test_find.py:11-25)") {
    import graft.functions._
    val q = docs.where($"id" === 0)
    val normal = Knn.bruteForce(docs, q, 4, "cosine", excludeSelf = true)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    // inverse metric: negative cosine distance → farthest first
    val inverse = Knn.bruteForceCustom(docs, q, 4,
      (d, qv) => -cosine_distance(d, qv), excludeSelf = true)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(inverse == normal.reverse)
  }

  test("plain session plans KnnTopKExec: same results as the expression arm") {
    val many = spark.range(300).select(
      col("id"), transform(sequence(lit(0), lit(7)),
        i => sin((col("id") + 1) * (i + 1)).cast("float")).as("embedding"))
    val q = many.where(col("id") < 4)
    // the suite session is built without GraftExtensions
    val viaPlan = Knn.bruteForce(many, q, 6, "cosine", excludeSelf = true)
    assert(KnnSpec.plansKernel(viaPlan))
    assert(KnnSpec.rows(viaPlan) ==
      KnnSpec.rows(KnnSpec.expressionArm(many, q, 6, "cosine", excludeSelf = true)))
    // downstream composition over the custom node works
    assert(viaPlan.groupBy("query_id").count().count() == 4)
  }

  test("ivf search approximates exact knn on clustered data") {
    // three tight clusters → coarse quantizer separates them perfectly
    val pts = (0 until 300).map { i =>
      val c = i % 3
      val base = Array(c * 10.0f, c * -5.0f, c * 3.0f + 1f)
      (i.toLong, base.zipWithIndex.map { case (v, j) =>
        v + 0.01f * ((i * 31 + j * 7) % 10)
      }.toSeq)
    }
    val df = pts.toDF("id", "embedding")
    val idx = Ann.ivfBuild(df, "id", "embedding", nCells = 3, seed = 7)
    val q = df.where(col("id") < 10)
    val approx = Ann.ivfSearch(idx, q, 5, nProbe = 1)
    val exact = Knn.bruteForce(df, q, 5, "cosine")
    assert(Ann.recallAgainstExact(approx, exact) >= 0.99)
  }

  test("ivf blocked kernel equals the join-path ivf search") {
    // mixed geometry: clustered + noise, several queries, enough cells
    // that the probe sets differ per query
    val pts = (0 until 400).map { i =>
      val c = i % 5
      (i.toLong, Seq.tabulate(6)(j =>
        (c * 3.0 + math.sin(i * 0.61 + j * 0.9)).toFloat))
    }
    val df = pts.toDF("id", "embedding")
    val idx = Ann.ivfBuild(df, "id", "embedding", nCells = 5, seed = 13)
    val q = df.where(col("id") % 37 === 0)
    for (metric <- Seq("cosine", "euclidean", "sqeuclidean")) {
      val a = Ann.ivfSearch(idx, q, 5, metric = metric, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      val b = Ann.ivfSearchBlocked(idx, q, 5, metric = metric, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      assert(a == b, s"metric $metric")
    }
    // multiAssign indexes work since r9 (k·A partition heaps +
    // per-(query,doc) dedup): blocked equals the join path there too
    val ma = Ann.ivfBuild(df, "id", "embedding", nCells = 5, seed = 13,
      multiAssign = 2)
    val aMa = Ann.ivfSearch(ma, q, 5, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val bMa = Ann.ivfSearchBlocked(ma, q, 5, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(aMa == bMa)
  }

  test("ivf-sq8: lossless codes reproduce the float search exactly; " +
      "lossy codes + exact rerank recover it") {
    // grid-valued vectors (integers in [0,255]) with the identity codebook
    // → reconstruction is exact → code-scan distances bit-equal the float
    // kernel's
    val pts = (0 until 400).map { i =>
      (i.toLong, Seq.tabulate(6)(j => ((i * 31 + j * 57) % 256).toFloat))
    }
    val df = pts.toDF("id", "embedding")
    val idx = Ann.ivfBuild(df, "id", "embedding", nCells = 4, seed = 5)
    val q = df.where(col("id") % 41 === 0)
    def key(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet

    val lossless = Ann.sqAttach(idx,
      Ann.SqCodebook(Seq.fill(6)(0.0), Seq.fill(6)(1.0)))
    for (metric <- Seq("cosine", "euclidean")) {
      assert(key(Ann.ivfSearchSq(lossless, q, 5, metric = metric, nProbe = 2))
        == key(Ann.ivfSearchBlocked(idx, q, 5, metric = metric, nProbe = 2)),
        s"lossless $metric")
    }

    // trained (lossy) codebook: encode error ≤ delta/2 per dim
    val cb = Ann.sqTrain(df, "embedding")
    cb.deltas.foreach(d => assert(d > 0))
    val sq = Ann.sqAttach(idx, cb)
    val withRerank =
      Ann.ivfSearchSq(sq, q, 5, nProbe = 2, rerank = 15, docs = df)
    val exactBlocked = Ann.ivfSearchBlocked(idx, q, 5, nProbe = 2)
    // rerank re-scores exactly: any id shared with the float search must
    // carry the identical distance
    val exactD = exactBlocked.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val rr = withRerank.collect()
    assert(rr.nonEmpty)
    rr.foreach { r =>
      exactD.get((r.getLong(0), r.getLong(1))).foreach { d =>
        assert(r.getDouble(2) == d)
      }
    }
    // and the candidate funnel keeps recall high on this easy geometry
    val hit = rr.map(r => (r.getLong(0), r.getLong(1))).toSet
      .intersect(exactD.keySet).size
    assert(hit >= exactD.size * 9 / 10, s"$hit of ${exactD.size}")
  }

  test("ivf-sq8 on a multi-assigned index: dupes collapse, rerank >= corpus " +
      "equals the float blocked path") {
    val pts = (0 until 400).map { i =>
      (i.toLong, Seq.tabulate(6)(j => ((i * 31 + j * 57) % 256).toFloat))
    }
    val df = pts.toDF("id", "embedding")
    val idx = Ann.ivfBuild(df, "id", "embedding", nCells = 4, seed = 5,
      multiAssign = 2)
    val q = df.where(col("id") % 41 === 0)
    def key(d: org.apache.spark.sql.DataFrame) =
      d.select("query_id", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    // lossless codebook: code distances ARE float distances, so the coded
    // path must equal the float blocked kernel exactly — including the
    // per-(query, doc) collapse of multi-assign replicas
    val lossless = Ann.sqAttach(idx,
      Ann.SqCodebook(Seq.fill(6)(0.0), Seq.fill(6)(1.0)))
    assert(key(Ann.ivfSearchSq(lossless, q, 5, nProbe = 2))
      == key(Ann.ivfSearchBlocked(idx, q, 5, nProbe = 2)))
    // no id appears twice for a query
    val raw = Ann.ivfSearchSq(lossless, q, 7, nProbe = 2)
    assert(raw.groupBy("query_id", "id").count()
      .where(col("count") > 1).count() == 0)

    // lossy codebook + rerank >= corpus: the equal-candidate-set lock —
    // every probed doc survives the funnel and the exact rerank returns
    // the float truth of the probed set
    val sq = Ann.sqAttach(idx, Ann.sqTrain(df, "embedding"))
    assert(key(Ann.ivfSearchSq(sq, q, 5, nProbe = 2, rerank = 400,
      docs = df)) == key(Ann.ivfSearchBlocked(idx, q, 5, nProbe = 2)))

    // multi-assigned codes survive the persisted codes-only layout:
    // replica rows ride the _cell partitioning, meta restores
    // multiAssign, and the loaded search equals the in-memory one
    val dir = java.nio.file.Files.createTempDirectory("graftsqma").toString
    Ann.sqWriteIndex(sq, dir)
    val loaded = Ann.sqReadIndex(spark, dir)
    assert(loaded.ivf.multiAssign == 2)
    assert(key(Ann.ivfSearchSq(loaded, q, 5, nProbe = 2, rerank = 400,
      docs = df)) == key(Ann.ivfSearchSq(sq, q, 5, nProbe = 2,
      rerank = 400, docs = df)))
  }

  test("persisted ivf-sq8: codes-only layout round-trips, scan is cell-pruned") {
    val pts = (0 until 300).map { i =>
      val c = i % 3
      val base = Array(c * 10.0f, c * -5.0f, c * 3.0f + 1f)
      (i.toLong, base.zipWithIndex.map { case (v, j) =>
        v + 0.01f * ((i * 31 + j * 7) % 10)
      }.toSeq)
    }
    val df = pts.toDF("id", "embedding")
    val idx = Ann.ivfBuild(df, "id", "embedding", nCells = 3, seed = 7)
    val sq = Ann.sqAttach(idx, Ann.sqTrain(df, "embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graftsq").toString
    Ann.sqWriteIndex(sq, dir)
    val loaded = Ann.sqReadIndex(spark, dir)
    assert(loaded.ivf.nCells == 3 && loaded.ivf.normalized)
    assert(loaded.codebook == sq.codebook)

    val q = df.where(col("id") < 10)
    def key(d: org.apache.spark.sql.DataFrame) =
      d.select("query_id", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val fromDisk = Ann.ivfSearchSq(loaded, q, 5, nProbe = 1,
      rerank = 5, docs = df)
    assert(key(fromDisk) == key(
      Ann.ivfSearchSq(sq, q, 5, nProbe = 1, rerank = 5, docs = df)))

    // the scan side restricted to the probed cells carries a parquet
    // partition filter — unprobed cells are never read
    val pruned = Ann.prunedCoded(loaded, Seq(0))
    pruned.collect()
    val planStr = pruned.queryExecution.executedPlan.toString
    val scanLine = planStr.linesIterator
      .find(l => l.contains("/coded") && l.contains("FileScan"))
    assert(scanLine.isDefined, s"no coded scan found in:\n$planStr")
    // single-cell isin folds to an equality: [isnotnull(_cell), (_cell = 0)]
    assert("PartitionFilters: \\[[^\\]]*_cell".r.findFirstIn(scanLine.get).isDefined,
      s"coded scan not cell-pruned: ${scanLine.get}")
    // all-cells probe set skips the filter entirely
    assert(Ann.prunedCoded(loaded, Seq(0, 1, 2)) eq loaded.coded)
  }

  test("ivfAppend: incremental rows get argmin cells, become searchable") {
    val pts = (0 until 200).map { i =>
      (i.toLong, Seq.tabulate(8)(j => math.sin(i * 0.7 + j * 1.3).toFloat))
    }
    val df = pts.toDF("id", "embedding")
    val base = df.where(col("id") < 160)
    val extra = df.where(col("id") >= 160)
    val idx = Ann.ivfBuild(base, "id", "embedding", nCells = 4, seed = 3,
      center = true)
    val grown = Ann.ivfAppend(idx, extra)
    assert(grown.assigned.count() == 200)

    // every appended row landed in its true argmin cell (checked against
    // an independent Column-algebra argmin over the same centroid table)
    val want = extra
      .withColumn("_nvec", l2_normalize(zip_with(
        col("embedding").cast("array<double>"),
        typedLit(idx.center.get), (a, b) => a - b)))
      .crossJoin(broadcast(idx.centroids))
      .withColumn("_d", vector_distance(col("_nvec"), col("_center"), "euclidean"))
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")
          .orderBy(col("_d"), col("_cell"))))
      .where(col("_rn") === 1).select(col("id"), col("_cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val got = grown.assigned.where(col("id") >= 160)
      .select(col("id"), col("_cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(got == want)

    // an appended doc is now findable: querying with its own vector at
    // nProbe=1 returns itself at rank 1 (cosine distance 0)
    val q = extra.limit(3)
    val hits = Ann.ivfSearchBlocked(grown, q, 1, nProbe = 1).collect()
    assert(hits.nonEmpty)
    hits.foreach(r => assert(r.getLong(0) == r.getLong(1) && r.getInt(3) == 1))
  }

  test("centered ivf: balanced cells on a coned corpus, index round-trips") {
    // all-positive corpus: directions cone around the diagonal — the
    // uncentered quantizer puts most mass into few central cells (the
    // round-4 scanFraction finding); centering spreads it
    val pts = (0 until 600).map { i =>
      (i.toLong, Seq.tabulate(8)(j =>
        (5.0 + math.sin(i * 0.37 + j * 1.3)).toFloat))
    }
    val df = pts.toDF("id", "embedding")
    val cIdx = Ann.ivfBuild(df, "id", "embedding", nCells = 8, seed = 7,
      center = true)
    assert(cIdx.center.isDefined && cIdx.center.get.length == 8)
    val q = df.where(col("id") < 10)
    // centered cells stay balanced: scan fraction near nProbe/nCells
    // (the decisive centered-vs-uncentered gap needs the 1M coned corpus —
    // measured in Bench as ann_scanfrac_x1000: 0.496 vs 0.69 uncentered)
    val cFrac = Ann.scanFraction(cIdx, q, nProbe = 2)
    assert(cFrac < 0.5, s"centered scanFrac $cFrac")
    // the center survives write/read and the loaded index searches the same
    val dir = java.nio.file.Files.createTempDirectory("graftivfc").toString
    Ann.writeIndex(cIdx, dir)
    val loaded = Ann.readIndex(spark, dir)
    assert(loaded.center == cIdx.center)
    def key(d: org.apache.spark.sql.DataFrame) =
      d.select("query_id", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(key(Ann.ivfSearch(loaded, q, 5, nProbe = 2))
      == key(Ann.ivfSearch(cIdx, q, 5, nProbe = 2)))
  }

  test("persisted ivf index: pruned search reads only probed cells") {
    val pts = (0 until 300).map { i =>
      val c = i % 3
      val base = Array(c * 10.0f, c * -5.0f, c * 3.0f + 1f)
      (i.toLong, base.zipWithIndex.map { case (v, j) =>
        v + 0.01f * ((i * 31 + j * 7) % 10)
      }.toSeq)
    }
    val df = pts.toDF("id", "embedding")
    val idx = Ann.ivfBuild(df, "id", "embedding", nCells = 3, seed = 7)
    val dir = java.nio.file.Files.createTempDirectory("graftivf").toString
    Ann.writeIndex(idx, dir)
    val loaded = Ann.readIndex(spark, dir)
    assert(loaded.nCells == 3 && loaded.normalized)
    val q = df.where(col("id") < 10)
    val pruned = Ann.ivfSearchPruned(loaded, q, 5, nProbe = 1)
    def key(d: org.apache.spark.sql.DataFrame) =
      d.select("query_id", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(key(pruned) == key(Ann.ivfSearch(idx, q, 5, nProbe = 1)))
    // the scan over the partitioned index carries a _cell partition filter
    pruned.collect()
    val plan = pruned.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    // (string-matched: AQE query-stage wrappers hide the scan from collect)
    val planStr = plan.toString
    val scanLine = planStr.linesIterator
      .find(l => l.contains("/assigned") && l.contains("FileScan"))
    assert(scanLine.isDefined, s"no index scan found in:\n$planStr")
    assert(scanLine.get.contains("PartitionFilters: [_cell"),
      s"index scan not cell-pruned: ${scanLine.get}")
  }

  test("tied distances resolve by id, invariant under repartitioning") {
    // 12 distinct vectors, each duplicated ~17× under different ids → the
    // k / k+1 boundary always falls inside a tie group; without the payload
    // tiebreak the winner depends on partition arrival order.
    val dup = spark.range(200)
      .withColumn("embedding", transform(sequence(lit(0), lit(5)),
        i => cos((col("id") % 12 + 1) * (i + 1)).cast("float")))
      .select(
        concat(lit("doc_"), format_string("%04d", col("id"))).as("id"),
        col("embedding"))
    val q = dup.where(col("id") === "doc_0000")
    def run(f: (org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame,
        parts: Int) =
      f(dup.repartition(parts))
        .select("query_id", "id", "rank").orderBy("query_id", "rank")
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq
    // KnnTopKExec kernel
    def agg(d: org.apache.spark.sql.DataFrame) =
      Knn.bruteForce(d, q, 7, "cosine", excludeSelf = true)
    val ref = run(agg, 1)
    assert(run(agg, 7) == ref)
    assert(run(agg, 32) == ref)
    // expression arm
    def exprArm(d: org.apache.spark.sql.DataFrame) =
      KnnSpec.expressionArm(d, q, 7, "cosine", excludeSelf = true)
    assert(run(exprArm, 1) == ref)
    assert(run(exprArm, 7) == ref)
    assert(run(exprArm, 32) == ref)
    // and the tie order itself is ascending by id within equal distance
    ref.sliding(2).foreach { case Seq((_, id1, r1), (_, id2, r2)) =>
      assert(r1 < r2)
    }
  }

  test("tripletMine: hard positive shares the label, hard negative doesn't") {
    val df = Seq(
      (0L, Seq(1.0f, 0.0f), "x"), (1L, Seq(0.9f, 0.1f), "x"),
      (2L, Seq(0.0f, 1.0f), "y"), (3L, Seq(0.1f, 0.9f), "y"),
      (4L, Seq(-1.0f, 0.0f), "z")
    ).toDF("id", "embedding", "label")
    val t = Knn.tripletMine(df, "id", "embedding", "label", kCand = 10)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(t.size == 5)
    // anchor 0: pos = its only label-mate; neg = nearest of the rest (3)
    assert(t(0L).getLong(1) == 1L && t(0L).getLong(3) == 3L)
    // positives are strictly the same label, negatives never are
    assert(t(2L).getLong(1) == 3L && t(3L).getLong(1) == 2L)
    // a label singleton has no positive but still mines a negative
    assert(t(4L).isNullAt(1) && !t(4L).isNullAt(3))
    // mining is knn-source-agnostic: feeding bruteForce hits through
    // tripletsFromHits reproduces the composed operator
    val hits = Knn.bruteForce(df, df, 10, "cosine", docId = "id",
      docVec = "embedding", queryId = "id", queryVec = "embedding",
      excludeSelf = true)
    val via = Knn.tripletsFromHits(hits, df.select(col("id"), col("label")),
      "id", "label").collect().map(r => r.getLong(0) -> r).toMap
    assert(via.keySet == t.keySet &&
      via.forall { case (k, r) => r.toSeq == t(k).toSeq })
  }

  test("classify: majority vote, deterministic tie-break to the lowest label") {
    import spark.implicits._
    // labeled docs on a line; query at 0.35 has k=4 neighbors 2×A (0.3,
    // 0.4) and 2×B (0.2, 0.5) — a 2-2 tie → label A (smaller); query at
    // 10.1 is surrounded by 3×C
    val docs = Seq(
      (1L, Seq(0.2f), 2), (2L, Seq(0.3f), 1), (3L, Seq(0.4f), 1),
      (4L, Seq(0.5f), 2), (5L, Seq(10.0f), 3), (6L, Seq(10.2f), 3),
      (7L, Seq(10.3f), 3), (8L, Seq(99.0f), 9)
    ).toDF("id", "embedding", "label")
    val queries = Seq((100L, Seq(0.35f)), (200L, Seq(10.1f)))
      .toDF("id", "embedding")
    val got = Knn.classify(docs, queries, k = 4, metric = "euclidean")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(got(100L) == ((1, 2L))) // 2-2 tie → smallest label, votes 2
    assert(got(200L) == ((3, 3L))) // clear majority 3 of 4
  }

  test("mmrSelect: redundancy penalized — diverse doc outranks a near-clone") {
    import spark.implicits._
    // query along +x; doc 2 is nearly parallel to doc 1 (sim ~0.999)
    // while doc 3 sits on the other side of the axis (sim to 1 ~0.85
    // but rel ~0.95). Pure relevance order: 1, 2, 3. At lambda=0.5:
    // sc(2) = .5*.960 - .5*.999 < 0 < sc(3) = .5*.951 - .5*.848,
    // so MMR picks the diverse 3 before the clone 2.
    val docs = Seq(
      (1L, Seq(0.97f, 0.24f, 0.0f)),
      (2L, Seq(0.96f, 0.28f, 0.0f)),
      (3L, Seq(0.95f, -0.31f, 0.0f)),
      (4L, Seq(-1.0f, 0.0f, 0.0f))
    ).toDF("id", "embedding")
    val queries = Seq((0L, Seq(1.0f, 0.0f, 0.0f))).toDF("id", "embedding")
    val got = Knn.mmrSelect(docs, queries, k = 3, fetchK = 4, lambda = 0.5)
      .orderBy("rank").collect().map(_.getLong(2))
    assert(got.toSeq == Seq(1L, 3L, 2L))
    // pure relevance for contrast: the clone ranks second
    val rel = Knn.bruteForce(docs, queries, 3, "cosine")
      .orderBy("rank").collect().map(_.getLong(1))
    assert(rel.toSeq == Seq(1L, 2L, 3L))
  }

  test("mmrSelect: lambda=1 reduces to pure relevance ranking") {
    import spark.implicits._
    val docs = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.99f, 0.14f)),
      (3L, Seq(0.9f, 0.43f)), (4L, Seq(0.0f, 1.0f))
    ).toDF("id", "embedding")
    val queries = Seq((0L, Seq(1.0f, 0.0f))).toDF("id", "embedding")
    val mmr = Knn.mmrSelect(docs, queries, k = 4, fetchK = 4, lambda = 1.0)
      .orderBy("rank").collect().map(_.getLong(2))
    val rel = Knn.bruteForce(docs, queries, 4, "cosine")
      .orderBy("rank").collect().map(_.getLong(1))
    assert(mmr.toSeq == rel.toSeq)
  }

  test("outlierScores: kth distance and rank-ordered mean match the explicit computation; short rows drop") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val docs = (0L until 40L).map(i =>
      (i, Seq.fill(8)(rnd.nextFloat() * 2 - 1))).toDF("id", "embedding")
    val k = 5
    val hits = Knn.bruteForce(docs, docs, k, "euclidean", excludeSelf = true)
    val explicit = hits.collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        val ds = rows.sortBy(_.getInt(3)).map(_.getDouble(2))
        q -> ((ds(k - 1), ds.foldLeft(0.0)(_ + _) / k))
      }
    val got = Knn.outlierFromHits(hits, k).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(got == explicit)
    // a corpus smaller than k+1 yields no scores (D^k undefined)
    val tiny = docs.where(col("id") < 4)
    assert(Knn.outlierScores(tiny, k = 5, idCol = "id").count() == 0)
  }
}

object KnnSpec {
  import org.apache.spark.sql.{DataFrame, SparkSession}

  /** The expression arm of exact knn — cross join, `vector_distance` per
    * pair, `topk_by_distance` — as the independent reference. */
  def expressionArm(docs: DataFrame, queries: DataFrame, k: Int, m: String,
      excludeSelf: Boolean = false): DataFrame =
    Knn.bruteForceCustom(docs, queries, k, vector_distance(_, _, m),
      excludeSelf = excludeSelf)

  /** True when the executed plan (through AQE) runs the KnnTopKExec kernel. */
  def plansKernel(df: DataFrame): Boolean =
    new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .find(df.queryExecution.executedPlan)(
        _.isInstanceOf[graft.plans.KnnTopKExec]).isDefined

  /** (query_id, id, rank, distance), in (query_id, rank) order. */
  def rows(df: DataFrame): Seq[(Any, Any, Int, Double)] =
    df.select("query_id", "id", "rank", "distance").collect()
      .map(r => (r.get(0), r.get(1), r.getInt(2), r.getDouble(3))).toSeq
      .sortBy(r => (String.valueOf(r._1), r._3))

  def gridDocs(s: SparkSession): DataFrame =
    s.range(500).select(
      col("id"), transform(sequence(lit(0), lit(7)),
        i => sin((col("id") + 1) * (i + 1)).cast("float")).as("embedding"))

  /** Kernel against expression arm, row for row and bit for bit, over
    * metrics × excludeSelf × doc partition counts; one line per miss. */
  def gridMismatches(s: SparkSession): Seq[String] = {
    val many = gridDocs(s)
    val q = many.where(col("id") < 5)
    for (m <- Seq("cosine", "euclidean", "sqeuclidean", "inner_product");
         ex <- Seq(true, false); parts <- Seq(1, 7, 32);
         d = many.repartition(parts);
         kernel = Knn.bruteForce(d, q, 7, m, excludeSelf = ex);
         got = rows(kernel);
         want = rows(expressionArm(d, q, 7, m, excludeSelf = ex))
         if !plansKernel(kernel) || got.length != 35 || got != want)
      yield s"$m excludeSelf=$ex parts=$parts: kernel=${plansKernel(kernel)} " +
        s"got ${got.take(3)} want ${want.take(3)}"
  }
}
