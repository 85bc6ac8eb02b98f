package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Ann

/** `Ann.ivfBuild`'s driver-side quantizer fit: defined errors, a result
  * that does not depend on the input's layout, and a bounded job count. */
class IvfBuildSpec extends SparkSuite {
  import spark.implicits._

  /** 600 docs × 8-d around 6 all-positive centres (so centering shifts
    * them), hash-derived and so the same rows whatever the layout. */
  private lazy val corpus: DataFrame = spark.range(600).select(col("id"),
    transform(sequence(lit(0), lit(7)), j =>
      (pmod(col("id") + j * 3, lit(6)) + 1) * 0.5 +
        pmod(xxhash64(col("id"), j), lit(1000)) / 4000.0).as("embedding"))

  private def snapshot(idx: Ann.IvfIndex) = (
    idx.centroids.orderBy("_cell").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq,
    idx.assigned.select(col("id"), col("_cell"))
      .orderBy("id", "_cell").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq)

  test("fit and assignment are identical under any input layout") {
    val layouts = Seq(
      corpus.repartition(1),
      corpus.repartition(7, col("id")),
      corpus.orderBy(col("id").desc))
    for (init <- Seq("k-means++", "random"); center <- Seq(true, false)) {
      val builds = layouts.map(d => snapshot(Ann.ivfBuild(d, "id", "embedding",
        nCells = 6, maxIter = 10, fitSampleFraction = 0.5, multiAssign = 2,
        center = center, initMode = init)))
      assert(builds.head._1.length == 6 && builds.head._2.length == 1200)
      builds.tail.foreach(b => assert(b == builds.head, s"init=$init center=$center"))
    }
  }

  test("k-means++ seeding separates well-separated clusters") {
    // 4 tight clusters on the axes: each must become exactly one cell
    val docs = spark.range(400).select(col("id"),
      transform(sequence(lit(0), lit(3)), j =>
        when(j === pmod(col("id"), lit(4)), lit(1.0)).otherwise(lit(0.0)) +
          pmod(xxhash64(col("id"), j), lit(100)) / 1e5).as("embedding"))
    val idx = Ann.ivfBuild(docs, "id", "embedding", nCells = 4, maxIter = 5,
      normalize = false)
    val perCell = idx.assigned.groupBy("_cell")
      .agg(countDistinct(pmod(col("id"), lit(4))).as("clusters"),
        count(lit(1)).as("n")).collect()
    assert(perCell.length == 4)
    assert(perCell.forall(r => r.getLong(1) == 1L && r.getLong(2) == 100L))
  }

  test("the build runs at most 2 Spark jobs") {
    val sc = spark.sparkContext
    val tag = "ivfBuildJobCount"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("graft.test.call") == tag) jobs.incrementAndGet()
    }
    val docs = corpus.cache()
    docs.count()
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.test.call", tag)
      try Ann.ivfBuild(docs, "id", "embedding", nCells = 6, maxIter = 20,
          fitSampleFraction = 0.5, multiAssign = 2, center = true)
      finally sc.setLocalProperty("graft.test.call", null)
      org.apache.spark.graft.ListenerDrain(sc)
      assert(jobs.get >= 1 && jobs.get <= 2, s"ivfBuild ran ${jobs.get} jobs")
    } finally {
      sc.removeSparkListener(listener)
      docs.unpersist()
    }
  }

  test("nCells above the usable fit-sample rows fails a require naming both") {
    val docs = spark.range(100).select(col("id"),
      array(col("id").cast("double"), lit(1.0)).as("embedding"))
    val usable = docs.where(pmod(xxhash64(col("id"), lit(42L)), lit(1000000L))
      < 300000L).count()
    assert(usable < 40)
    val e = intercept[IllegalArgumentException] {
      Ann.ivfBuild(docs, "id", "embedding", nCells = 40, fitSampleFraction = 0.3)
    }
    assert(e.getMessage.contains(s"nCells = 40 exceeds the $usable usable"),
      e.getMessage)
  }

  test("nCells above the distinct fit-sample vectors fails a require naming both") {
    // 90 rows, 3 distinct directions: a 4th cell could never hold a point
    val docs = spark.range(90).select(col("id"),
      array(pmod(col("id"), lit(3)).cast("double"), lit(1.0)).as("embedding"))
    for (init <- Seq("k-means++", "random")) {
      val e = intercept[IllegalArgumentException] {
        Ann.ivfBuild(docs, "id", "embedding", nCells = 4, initMode = init)
      }
      assert(e.getMessage.contains("nCells = 4 exceeds the 3 distinct"),
        e.getMessage)
    }
  }

  test("fit-sample vectors of different dimensions fail a require") {
    val docs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)),
      (3L, Seq(1.0, 1.0, 1.0))).toDF("id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Ann.ivfBuild(docs, "id", "embedding", nCells = 2)
    }
    assert(e.getMessage.contains("dimension"), e.getMessage)
  }

  test("an unknown initMode fails a require") {
    val e = intercept[IllegalArgumentException] {
      Ann.ivfBuild(corpus, "id", "embedding", nCells = 2, initMode = "k-means||")
    }
    assert(e.getMessage.contains("initMode"), e.getMessage)
  }
}
