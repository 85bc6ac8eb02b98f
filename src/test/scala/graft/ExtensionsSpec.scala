package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Summary

class ExtensionsSpec extends SparkSuite {
  import spark.implicits._

  test("registerAll makes native functions callable from SQL") {
    graft.functions.registerAll(spark)
    val r = spark.sql(
      """SELECT cosine_distance(array(1.0d, 0.0d), array(0.0d, 1.0d)) AS d,
                simhash64(array('a','b')) AS s,
                l2_normalize(array(3.0d, 4.0d)) AS n""").collect()(0)
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getSeq[Double](2).zip(Seq(0.6, 0.8))
      .forall { case (a, b) => math.abs(a - b) < 1e-12 })
  }

  test("bytes_to_ints callable from SQL, matches the Column API") {
    graft.functions.registerAll(spark)
    val got = spark.sql(
      "SELECT bytes_to_ints(CAST('Az' AS BINARY)) AS v").head.getSeq[Int](0)
    assert(got == Seq(65, 122))
  }

  test("splitmix64_rank callable from SQL, matches the Column API") {
    graft.functions.registerAll(spark)
    spark.range(20).createOrReplaceTempView("sm_xs")
    val viaSql = spark.sql(
      "SELECT id, splitmix64_rank(id, 7) AS rk FROM sm_xs ORDER BY id")
      .collect().map(_.getLong(1)).toSeq
    val viaCol = spark.range(20).select(org.apache.spark.sql.functions.col("id"),
      graft.functions.splitmix64_rank(
        org.apache.spark.sql.functions.col("id"), 7L).as("rk"))
      .orderBy("id").collect().map(_.getLong(1)).toSeq
    assert(viaSql == viaCol)
  }

  test("topk_by_distance usable as SQL aggregate") {
    graft.functions.registerAll(spark)
    spark.range(100).createOrReplaceTempView("xs")
    val r = spark.sql(
      """SELECT topk_by_distance(cast(id AS double), id, 3) AS top
         FROM xs""").collect()(0)
    val top = r.getSeq[org.apache.spark.sql.Row](0)
    assert(top.map(_.getLong(1)).toSeq == Seq(0L, 1L, 2L))
  }

  test("round-5 stat/sketch functions usable from SQL") {
    graft.functions.registerAll(spark)
    // kmv_estimate: unsigned(2^63) → (k−1)·2^64/2^63 = 2(k−1)
    assert(spark.sql("SELECT kmv_estimate(-9223372036854775808, 5)")
      .head.getLong(0) == 8L)
    // kmv_sketch as a SQL aggregate: distinct bottom-2 in unsigned order
    spark.sql("SELECT * FROM VALUES (5), (5), (-1), (3), (9) t(h)")
      .createOrReplaceTempView("hs")
    val sk = spark.sql("SELECT kmv_sketch(cast(h AS bigint), 2) FROM hs")
      .head.getSeq[Long](0)
    assert(sk == Seq(3L, 5L)) // -1 is unsigned-huge; 3 < 5 < 9
    // co_moments as a SQL aggregate over pre-quantized vectors
    spark.sql("SELECT * FROM VALUES (array(1, 2)), (array(3, 4)) t(v)")
      .createOrReplaceTempView("vs")
    val cm = spark.sql(
      "SELECT co_moments(cast(v AS array<bigint>), 2) AS s FROM vs")
      .select("s.n", "s.sx", "s.sxy").head
    assert(cm.getLong(0) == 2L)
    assert(cm.getSeq[Long](1) == Seq(4L, 6L))   // 1+3, 2+4
    assert(cm.getSeq[Long](2) == Seq(10L, 14L, 20L)) // 1+9, 2+12, 4+16
  }

  test("lcs_length callable from SQL, matches the Column API") {
    graft.functions.registerAll(spark)
    val got = spark.sql(
      "SELECT lcs_length(array('a','x','b','y','c'), array('a','b','c'))")
      .head.getInt(0)
    assert(got == 3)
  }

  test("bit_length64 and hll_sketch usable from SQL") {
    graft.functions.registerAll(spark)
    val bl = spark.sql(
      "SELECT bit_length64(0L), bit_length64(1L), bit_length64(255L), bit_length64(-1L)")
      .head
    assert((0 until 4).map(bl.getInt) == Seq(0, 1, 8, 64))
    spark.sql("SELECT * FROM VALUES (0L), (-1L) t(h)")
      .createOrReplaceTempView("hh")
    val regs = spark.sql("SELECT hll_sketch(h, 4) FROM hh")
      .head.getSeq[Int](0)
    assert(regs.length == 16)
    // h=0 -> bucket 0, all-zero remainder -> rho = 64-4+1 = 61
    assert(regs.head == 61)
    // h=-1 -> bucket 15, remainder all-ones -> rho = 1
    assert(regs(15) == 1)
  }

  test("GraftExtensions injects functions at session build time") {
    // getOrCreate returns the suite session and would skip extensions;
    // clear default/active so a fresh session (same context) is built
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder().master("local[2]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val r = s2.sql(
        "SELECT size(text_ngrams('a b c', 2)) AS n, fnv64('x') AS h").collect()(0)
      assert(r.getInt(0) == 2)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("bruteForce plans KnnTopKExec under extensions, equal to the expression arm") {
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder().master("local[4]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      // the grid the plain-session KnnSpec runs: metrics × excludeSelf ×
      // doc partition counts, kernel against expression arm
      val misses = KnnSpec.gridMismatches(s2)
      assert(misses.isEmpty, misses.mkString("\n"))
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("TagPromotionRule: tags['k'] filter pushes down via the promoted column") {
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder().master("local[2]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      import org.apache.spark.sql.functions._
      val dir = java.nio.file.Files.createTempDirectory("promo").toString + "/t"
      val src = s2.range(100).select(col("id"),
        map(lit("i"), col("id").cast("string")).as("tags"))
      graft.operators.Promote.tags(src,
          Map("i" -> org.apache.spark.sql.types.IntegerType))
        .write.mode("overwrite").parquet(dir)

      val q = s2.read.parquet(dir)
        .where(col("tags").getItem("i").cast("int") >= 90)
        .select("id")
      val planStr = q.queryExecution.executedPlan.toString
      // the predicate reached the parquet scan on the PROMOTED column...
      assert(planStr.contains("GreaterThanOrEqual(tag_i,90)"), planStr)
      // ...and the map column dropped out of the read schema entirely
      assert(!planStr.contains("tags:map"), planStr)
      assert(q.count() == 10)

      // untyped string lookup rewrites too when the promotion is string
      val dir2 = java.nio.file.Files.createTempDirectory("promo").toString + "/s"
      graft.operators.Promote.tags(src,
          Map("i" -> org.apache.spark.sql.types.StringType))
        .write.mode("overwrite").parquet(dir2)
      val q2 = s2.read.parquet(dir2)
        .where(col("tags").getItem("i") === "42").select("id")
      val plan2 = q2.queryExecution.executedPlan.toString
      assert(plan2.contains("EqualTo(tag_i,42)"), plan2)
      assert(q2.count() == 1)

      // no promoted column → untouched semantics (rule must not fire)
      val dir3 = java.nio.file.Files.createTempDirectory("promo").toString + "/n"
      src.write.mode("overwrite").parquet(dir3)
      val q3 = s2.read.parquet(dir3)
        .where(col("tags").getItem("i").cast("int") >= 90)
      assert(q3.count() == 10)

      // cross-relation: tag_i from the OTHER join side must not capture the
      // lookup — right's tag_i is id+1, deliberately inconsistent with left's
      // tags['i']; a wrong rewrite would return ids 89..98 instead of 90..99
      val dir4 = java.nio.file.Files.createTempDirectory("promo").toString + "/j"
      s2.range(100).select(col("id"),
          (col("id") + 1).cast("int").as("tag_i"))
        .write.mode("overwrite").parquet(dir4)
      val left = s2.read.parquet(dir3)
      val right = s2.read.parquet(dir4)
      val q4 = left.join(right, "id")
        .where(col("tags").getItem("i").cast("int") >= 90)
        .select(left("id"))
      assert(q4.count() == 10)
      assert(q4.agg(min(left("id"))).head.getLong(0) == 90L)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("Summary.describe reports fill ratios and stats") {
    val df = Seq((1L, "ab", Seq(1.0f)), (2L, null.asInstanceOf[String], Seq(1.0f, 2.0f)))
      .toDF("id", "text", "embedding")
    val s = Summary.describe(df).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(s("id").getLong(2) == 2)
    assert(s("text").getDouble(3) == 0.5)
    assert(s("embedding").getDouble(6) == 1.5)
  }
}
