package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.operators.{Filters, Knn}

/** Optimization-round harness: dump `.explain("formatted")` for declared
  * queries (and the baseline-shaped bench rows) to
  * `plans/<round>/<name>_<suffix>.txt`, so plan claims in
  * OPTIMIZATION_*.md are checkable without running Spark.
  *
  * Usage: runMain graft.Plans <outDir> <suffix> <name> [<name> ...]
  *   name ∈ SparkEntry.queries keys, or one of the bench-row specials
  *   (create_1m, filter_1m, knn_exact_1m, knn_batch100). `all-headline`
  *   expands to the bench headline set.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val headline = Seq("q01_pricing_agg", "q02_filter_mongo",
      "q04_supplier_top_parts", "q07_vocabulary", "q09_dedup_exact",
      "q10_jaccard_pairs", "q11_knn_cosine", "q15_events_hourly",
      "q16_sessions", "q22_langid_fingerprint", "q23_minhash_lsh",
      "q24_simhash_pairs", "q28_multimodal", "q36_embedding_lsh",
      "q56_pack_blocks", "q59_sq_quantize", "q60_unigram_nll",
      "q61_source_mixing", "q62_bigram_nll")
    val baselineRows = Seq("create_1m", "filter_1m", "knn_exact_1m",
      "knn_batch100")
    val names = args.drop(2).flatMap {
      case "all-headline" => headline ++ baselineRows
      case n => Seq(n)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))

    // the baseline-shaped rows need the 1M benchmark parquet on disk
    lazy val stored = {
      val tmp = "/tmp/graft_plans/docs1m"
      if (!Files.exists(Paths.get(tmp, "_SUCCESS")))
        Bench.benchDocs(spark, 1000000L, 128).write.mode("overwrite")
          .option("compression", "none").parquet(tmp)
      spark.read.parquet(tmp)
    }
    lazy val queries1 = Bench.benchDocs(spark, 1L, 128)
    lazy val queries100 = Bench.benchDocs(spark, 100L, 128)

    names.foreach { name =>
      val df = name match {
        case "create_1m" => Bench.benchDocs(spark, 1000000L, 128)
        case "filter_1m" =>
          Filters.where(stored, """{"tags__i": {"$gte": 500}}""")
        case "knn_exact_1m" =>
          Knn.bruteForce(stored, queries1, 10, "cosine")
        case "knn_batch100" =>
          Knn.bruteForce(stored, queries100, 10, "cosine")
        case n => SparkEntry.queries(n)(spark, sfDir)
      }
      val plan = df.queryExecution.explainString(FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
      println(s"[plans] wrote $name ($suffix): ${plan.linesIterator.size} lines")
    }
    spark.stop()
  }
}
