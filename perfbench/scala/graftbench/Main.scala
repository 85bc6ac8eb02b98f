package graftbench

import java.time.Instant

import org.apache.spark.sql.SparkSession

/** One benchmark run: set-up, then timed rounds of the session until
  * `--seconds` have passed (a traced run starts with an untimed round). The
  * last line of standard output carries the result JSON after a tag (run.py
  * prints it bare). */
object Main {

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.math.BigDecimal.valueOf(x).toPlainString

  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def epochNs(): Long = {
    val i = Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val conf = Conf.all.getOrElse(opt("workload"),
      throw new IllegalArgumentException(s"unknown workload ${opt("workload")}"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val tmp = opt("tmp")
    val t0 = opt("t0-epoch-ns").toLong

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val tSpark = epochNs()
      val trace = new Trace(spark, traced)
      val corpus = new Corpus(conf, seed)
      val tGen = epochNs()
      val session = new Session(spark, corpus, tmp, cores, trace)
      session.load()
      val tEnd = epochNs()
      val setupS = (tEnd - t0) / 1e9
      val tPrep = System.nanoTime()
      session.prepare()
      println(f"setup: jvm+spark ${(tSpark - t0) / 1e9}%.2f s, generate ${(tGen - tSpark) / 1e9}%.2f s, " +
        f"cache ${(tEnd - tGen) / 1e9}%.2f s; independent answers ${(System.nanoTime() - tPrep) / 1e9}%.2f s")

      val start = System.nanoTime()
      var r = 0
      def runRound(timed: Boolean, traceIt: Boolean): Unit = {
        r += 1
        trace.startRound(traceIt)
        try session.round(r, timed) finally trace.endRound()
      }
      // a traced run first makes an untimed round, so that neither side of
      // the overhead carries the first calls, then alternates traced and
      // untraced rounds, measured on the same corpus in the same process
      if (traced) runRound(timed = false, traceIt = false)
      while ((System.nanoTime() - start) / 1e9 < seconds || (traced && r < 3))
        runRound(timed = true, traceIt = traced && r % 2 == 1)

      val s = session.samples
      def med(k: String) = median(s.getOrElse(k, Nil).toSeq)
      val metrics: Seq[(String, Double, String)] =
        if (!traced) Seq(
          ("setup_s", setupS, "s"),
          ("create_docs_per_s", med("create") match { case 0.0 => 0.0; case t => conf.nDocs / t }, "docs/s"),
          ("filter_find_s", med("filter_find"), "s"),
          ("get_by_id_s", med("get_by_id"), "s"),
          ("knn_single_s", med("knn_single"), "s"),
          ("knn_batch_qps", med("knn_batch"), "queries/s"),
          ("ann_build_s", med("ann_build"), "s"),
          ("ann_search_qps", med("ann_search"), "queries/s"),
          ("ann_recall_at_10", med("ann_recall"), "fraction"),
          ("dedup_docs_per_s", med("dedup"), "docs/s"),
          ("text_search_s", med("text_search"), "s"),
          ("churn_round_s", med("churn_round"), "s"),
          ("session_s", med("session"), "s"))
        else trace.metrics(cores)

      if (traced) {
        val on = med("session_traced")
        val off = med("session")
        val overhead = if (off > 0) on / off - 1 else 0.0
        val path = s"${opt("trace-dir")}/trace-${conf.name}-$seed.json"
        trace.write(path, Seq(
          "workload" -> jstr(conf.name), "seed" -> seed.toString,
          "session_s_traced" -> num(on), "session_s_untraced" -> num(off),
          "overhead" -> num(overhead)))
        println(f"trace: $path; traced session_s $on%.3f vs untraced $off%.3f (${overhead * 100}%+.1f%%)")
      }
      println(f"rounds: $r in ${(System.nanoTime() - start) / 1e9}%.1f s; samples: " +
        s.map { case (k, v) => s"$k=${v.size}" }.mkString(" "))
      val body = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      println("GRAFTBENCH_RESULT " +
        s"""{"correct": ${session.correct}, "attempted": ${session.attempted}, "failed": ${session.failed}, """ +
        s""""metrics": {${body.mkString(", ")}}}""")
    } finally spark.stop()
  }
}
