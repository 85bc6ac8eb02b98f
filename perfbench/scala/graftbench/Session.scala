package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.DocArray
import graft.operators.{Ann, Dedup, TextSearch}
import graft.sources.{Readers, Writers}

/** The benchmark's copy of the store under churn: what every read of the
  * mutated array must return. */
final class StoreModel(base: Array[Doc]) {
  val docs: mutable.HashMap[Long, Doc] = mutable.HashMap.from(base.iterator.map(d => d.id -> d))
  val live: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.from(base.iterator.map(_.id))
  var inserted = 0L
  var deleted = 0L

  /** Removes and returns `n` random live ids. */
  def take(n: Int, r: java.util.SplittableRandom): Seq[Long] = (0 until n).map { _ =>
    val i = r.nextInt(live.size)
    val id = live(i)
    live(i) = live.last
    live.dropRightInPlace(1)
    id
  }
}

/** One session of operations over graft's public API. Every call is timed,
  * checked against [[Checks]], and, in traced rounds, wrapped in spans and
  * tagged so [[Trace]] can attribute Spark's counts to it. */
final class Session(spark: SparkSession, corpus: Corpus, tmp: String, cores: Int,
    trace: Trace) {
  import spark.implicits._
  private val conf = corpus.conf
  private val K = Conf.K
  private val n = conf.nDocs

  var attempted = 0L
  var failed = 0L
  var correct = true

  /** Seconds per call of each operation, over timed rounds. */
  val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  private def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  private var timing = false      // a call whose time is recorded
  private var checkSeconds = 0.0  // time spent outside graft within the current round
  private var callNo = 0

  // ---- inputs ------------------------------------------------------------

  // the element type of graft's document schema (DocSchema.embedding):
  // nullable floats, where a Dataset of Array[Float] has non-null ones
  private def withDocSchema(ds: org.apache.spark.sql.Dataset[DocRow]): DataFrame =
    ds.withColumn("embedding", col("embedding").cast("array<float>"))

  /** Small document sets (churn inserts) travel inside the plan. */
  private def docsDf(docs: Seq[Doc]): DataFrame = withDocSchema(docs.map(Session.toRow).toDS())

  private def queryDf(qs: Seq[Array[Float]], firstId: Long): DataFrame =
    qs.zipWithIndex.map { case (v, i) => (firstId + i, v) }.toDF("id", "embedding")

  /** The corpus: executors read the generated documents from one broadcast
    * (tasks that carried their slice of rows would ship it again on every
    * scan of the cache), encoded to graft's document columns and cached. */
  val base: DataFrame = {
    val bc = spark.sparkContext.broadcast(corpus.docs)
    withDocSchema(spark.range(0, n, 1, cores).as[Long]
      .mapPartitions(_.map(i => Session.toRow(bc.value(i.toInt))))).cache()
  }
  // query sets are local relations: already in memory, nothing to cache
  private val batchDf = queryDf(corpus.batchQueries.toSeq, 0L)
  private val fullProbeDf = queryDf(corpus.batchQueries.take(Conf.FullProbeQueries).toSeq, 0L)
  private val singleDfs = corpus.singleQueries.zipWithIndex.map { case (q, i) =>
    queryDf(Seq(q), 1000000L + i) }

  /** Materializes the cached inputs; the end of set-up. */
  def load(): Unit = Checks.sameCount("setup", "cached corpus rows", base.count(), n)

  // ---- independent answers, computed once after set-up --------------------

  private lazy val docById: Map[Long, Doc] = corpus.docs.iterator.map(d => d.id -> d).toMap
  private lazy val exactBatch = Checks.exactTopKAll(corpus.batchQueries, corpus.docs, K)
  private lazy val exactSingle = Checks.exactTopKAll(corpus.singleQueries, corpus.docs, K)
  private lazy val bm25Want: Array[Map[Long, Double]] = {
    val model = new Checks.Bm25Model(corpus.docs.map(d => d.id -> d.text))
    corpus.textQueries.map(model.scores)
  }
  private val bigramCache = mutable.HashMap.empty[Long, Set[String]]
  private def bigramsOf(id: Long): Set[String] =
    bigramCache.getOrElseUpdate(id, Checks.bigrams(docById(id).text))
  private lazy val mustFind: Seq[(Long, Long)] = corpus.planted.toSeq.flatMap { case (a, b) =>
    val (x, y) = (corpus.docs(a).id, corpus.docs(b).id)
    val p = (math.min(x, y), math.max(x, y))
    if (p._1 != p._2 && Checks.jaccard(bigramsOf(p._1), bigramsOf(p._2)) >= Conf.PlantedMustFind) Some(p)
    else None
  }.distinct
  private lazy val nodeIds: Seq[Long] = corpus.docs.toSeq.map(_.id)

  def prepare(): Unit = { exactBatch; exactSingle; bm25Want; mustFind; nodeIds }

  // ---- call plumbing ---------------------------------------------------------

  /** One timed call of `op`: tagged for the listeners, spanned, timed; its
    * check runs after the clock stops. Returns the elapsed seconds, or None
    * when the call or its check failed. */
  private def call[T](op: String)(body: => T)(check: T => Unit): Option[Double] = {
    attempted += 1
    callNo += 1
    val label = s"$op#$callNo"
    try {
      val t0 = System.nanoTime()
      val out = trace.call(op, label)(body)
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"graftbench call: ${conf.nDocs} docs, $op $secs%.3f s")
      outside { trace.span("check")(check(out)) }
      Some(secs)
    } catch {
      case e: CheckFailed =>
        failed += 1
        correct = false
        println(s"CHECK FAILED [${conf.name} seed ${corpus.seed}] ${e.getMessage}")
        None
      case NonFatal(e) =>
        failed += 1
        println(s"OP FAILED [${conf.name} seed ${corpus.seed}] $op: $e")
        None
    }
  }

  /** Benchmark-side work inside a round (checks, trace-only counters): not
    * part of the session's time. */
  private def outside[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally checkSeconds += (System.nanoTime() - t0) / 1e9
  }

  private def record(name: String, v: Option[Double]): Unit = if (timing) v.foreach(sample(name, _))

  private var rep = 0
  private def nextRep(): Int = { rep += 1; rep }

  // ---- the session -----------------------------------------------------------

  /** One round of the session; timed rounds add to [[samples]], an untimed
    * one makes a single call of each operation. */
  def round(r: Int, timed: Boolean): Unit = {
    timing = timed
    checkSeconds = 0.0
    val t0 = System.nanoTime()
    trace.span(s"round $r") {
      // an operation a session repeats is timed after untimed settling calls
      // on the corpus: a first call pays class loading, plan code generation
      // and JIT compilation and ran two to three times as long as later
      // ones, and the next few were still getting faster. ann_build and
      // dedup, which a session runs once over its corpus, are timed on that
      // one call, first-call costs included
      def times(k: Int, settle: Int)(f: => Unit): Unit =
        if (!timed) f
        else {
          timing = false
          (1 to settle).foreach(_ => f)
          timing = true
          (1 to k).foreach(_ => f)
        }
      times(2, 1)(create(r))
      // every filter query once before timing: its literals compile into the plan's code
      times(Conf.Reps, corpus.filters.length)(filterFind(nextRep()))
      times(Conf.Reps, Conf.Settle)(getById(nextRep()))
      times(Conf.Reps, Conf.Settle)(knnSingle(nextRep()))
      times(3, 1)(knnBatch())
      val index = annBuild()
      index.foreach(i => times(3, 1)(annSearch(i)))
      dedup()
      times(3, 2)(textSearch(nextRep()))
      // churn settles on a one-round cycle; every cycle starts from the base array
      index.foreach { i =>
        if (timed) { timing = false; churn(i, 1); timing = true }
        churn(i, Conf.ChurnRounds)
      }
      index.foreach(_.assigned.unpersist())
    }
    val wall = (System.nanoTime() - t0) / 1e9 - checkSeconds
    if (timed) sample(if (trace.active) "session_traced" else "session", wall)
  }

  private def create(r: Int): Unit = {
    val path = s"$tmp/create-$r"
    val t = call("create") {
      trace.span("sources.Writers.toParquet")(Writers.toParquet(base, path))
      trace.span("sources.Readers.fromParquet.count")(Readers.fromParquet(spark, path).count())
    } { got => Checks.sameCount("create", "rows read back", got, n) }
    record("create", t)
    outside(org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path)))
  }

  private def filterFind(i: Int): Unit = {
    val (json, pred) = corpus.filters(i % corpus.filters.length)
    val t = call("filter_find") {
      trace.span("operators.Filters.where")(DocArray(base).find(json)).df.select("id").as[Long].collect()
    } { got =>
      Checks.sameIds("filter_find", json, got.toSeq,
        corpus.docs.iterator.filter(d => pred(d.cat, d.score)).map(_.id).toSeq)
    }
    record("filter_find", t)
  }

  private def getById(i: Int): Unit = {
    val ids = corpus.getBatches(i % corpus.getBatches.length)
    val t = call("get_by_id") {
      trace.span("operators.Items.byIds")(DocArray(base)(ids.toSeq)).df
        .select("id", "score", "tag_cat").as[(Long, Double, String)].collect()
    } { got =>
      Checks.sameIds("get_by_id", "ids fetched", got.map(_._1).toSeq, ids.filter(docById.contains))
      got.foreach { case (id, s, c) =>
        val d = docById(id)
        if (d.score != s || d.cat != c)
          Checks.fail("get_by_id", s"id $id has ($s, $c), model (${d.score}, ${d.cat})")
      }
    }
    record("get_by_id", t)
  }

  private def hitsDs(df: DataFrame) =
    df.select(col("query_id").cast("long"), col("id").cast("long"), col("distance"), col("rank"))
      .as[(Long, Long, Double, Int)]

  private def hits(df: DataFrame): Array[(Long, Long, Double, Int)] = hitsDs(df).collect()

  private def checkKnn(check: String, got: Array[(Long, Long, Double, Int)], queries: Array[Array[Float]],
      exact: Array[Checks.TopK], firstId: Long, count: Int, doc: Long => Doc = docById): Unit = {
    val byQ = got.groupBy(_._1)
    if (byQ.keySet != (0 until count).map(firstId + _).toSet)
      Checks.fail(check, s"answered queries ${byQ.keySet.toSeq.sorted.take(10)}, expected $count from $firstId")
    (0 until count).foreach { q =>
      Checks.knnMatches(check, q, byQ(firstId + q).toSeq.map(h => (h._2, h._3, h._4)), exact(q),
        id => Checks.cosine(queries(q), doc(id).vec))
    }
  }

  private def knnSingle(i: Int): Unit = {
    val q = i % singleDfs.length
    val t = call("knn_single") {
      hits(trace.span("operators.Knn.bruteForce")(DocArray(base).find(singleDfs(q), K)))
    } { got =>
      checkKnn("knn_single", got, Array(corpus.singleQueries(q)), Array(exactSingle(q)), 1000000L + q, 1)
    }
    record("knn_single", t)
  }

  private def knnBatch(): Unit = {
    var df: DataFrame = null
    val t = call("knn_batch") {
      val ds = hitsDs(trace.span("operators.Knn.bruteForce")(DocArray(base).find(batchDf, K)))
      df = ds.toDF()
      ds.collect()
    } { got => checkKnn("knn_batch", got, corpus.batchQueries, exactBatch, 0L, conf.batchQ) }
    record("knn_batch", t.map(conf.batchQ / _))
    if (trace.active && df != null) outside {
      trace.extra("knn_batch", "candidates_scored", Trace.candidatesScored(df, conf.batchQ))
    }
  }

  private def annBuild(): Option[Ann.IvfIndex] = {
    var index: Ann.IvfIndex = null
    val t = call("ann_build") {
      val t0 = System.nanoTime()
      val built = trace.span("operators.Ann.ivfBuild") {
        Ann.ivfBuild(base.select("id", "embedding"), "id", "embedding", conf.nCells, seed = corpus.seed,
          maxIter = Conf.KmIters, fitSampleFraction = conf.fitSample, multiAssign = Conf.MultiAssign,
          initMode = "random")
      }
      val t1 = System.nanoTime()
      index = built.copy(assigned = built.assigned.cache())
      val rows = trace.span("operators.Ann.assign")(index.assigned.count())
      trace.extra("ann_build", "fit_ms", (t1 - t0) / 1e6)
      trace.extra("ann_build", "assign_ms", (System.nanoTime() - t1) / 1e6)
      rows
    } { rows =>
      Checks.sameCount("ann_build", "assigned rows", rows, n.toLong * Conf.MultiAssign)
      // full probe (nProbe = nCells) must return the exact top-k
      val full = hits(Ann.ivfSearch(index, fullProbeDf, K, nProbe = conf.nCells))
      checkKnn("ann_full_probe", full, corpus.batchQueries, exactBatch, 0L, Conf.FullProbeQueries)
    }
    record("ann_build", t)
    if (t.isEmpty && index != null) { index.assigned.unpersist(); None } else Option(index)
  }

  private def annSearch(index: Ann.IvfIndex): Unit = {
    var recall = 0.0
    val t = call("ann_search") {
      hits(trace.span("operators.Ann.ivfSearch")(Ann.ivfSearch(index, batchDf, K, nProbe = Conf.NProbe)))
    } { got =>
      val byQ = got.groupBy(_._1)
      recall = (0 until conf.batchQ).map { q =>
        val hs = byQ.getOrElse(q.toLong, Array.empty).toSeq
        if (hs.size > K) Checks.fail("ann_search", s"query $q returned ${hs.size} hits")
        if (hs.map(_._4).sorted != (1 to hs.size)) Checks.fail("ann_search", s"query $q ranks ${hs.map(_._4)}")
        hs.foreach { h =>
          val want = Checks.cosine(corpus.batchQueries(q), docById(h._2).vec)
          if (math.abs(want - h._3) > Checks.DistEps)
            Checks.fail("ann_search", s"query $q id ${h._2} distance ${h._3}, independent $want")
        }
        Checks.recall(hs.map(_._2), exactBatch(q))
      }.sum / conf.batchQ
    }
    record("ann_search", t.map(conf.batchQ / _))
    if (timing) t.foreach(_ => sample("ann_recall", recall))
    if (trace.active) outside {
      trace.extra("ann_search", "scan_fraction", Ann.scanFraction(index, batchDf, nProbe = Conf.NProbe))
    }
  }

  private def dedup(): Unit = {
    var pairsDf: DataFrame = null
    var pairs: Seq[(Long, Long)] = Nil
    val tPairs = call("dedup_minhash") {
      pairsDf = trace.span("operators.Dedup.minhashLsh") {
        Dedup.minhashLsh(base, "id", "text", Conf.DedupThreshold,
          numHashes = Conf.MinhashHashes, bands = Conf.MinhashBands)
      }.cache()
      pairsDf.as[(Long, Long, Double)].collect().toSeq
    } { got =>
      Checks.minhashPairs(got, Conf.DedupThreshold, bigramsOf, mustFind)
      pairs = got.map(p => (p._1, p._2))
    }
    val tClusters = if (tPairs.isEmpty) None else call("dedup_clusters") {
      trace.span("operators.Dedup.clusters")(Dedup.clusters(pairsDf, base.select("id"), "id"))
        .as[(Long, Long)].collect().toSeq
    } { got =>
      Checks.clusters(got, nodeIds, pairs)
      System.err.println(s"graftbench dedup: ${pairs.size} pairs, ${got.map(_._2).distinct.size} clusters")
    }
    if (pairsDf != null) pairsDf.unpersist()
    record("dedup", for (a <- tPairs; b <- tClusters) yield n / (a + b))
  }

  private def textSearch(i: Int): Unit = {
    val q = i % corpus.textQueries.length
    val query = corpus.textQueries(q)
    var scored: DataFrame = null
    val t = call("text_search") {
      scored = trace.span("operators.TextSearch.bm25")(TextSearch.bm25(base, "id", "text", query))
      scored.orderBy(col("score").desc, col("id")).limit(K).as[(Long, Double)].collect().toSeq
    } { got => Checks.bm25TopK(query, got, bm25Want(q), K) }
    record("text_search", t)
    if (trace.active && scored != null) outside {
      trace.extra("text_search", "docs_scored", scored.count().toDouble)
    }
  }

  /** `rounds` rounds of update, delete and extend (and ivfAppend), each
    * followed by reads of the mutated array, starting from the base array. */
  private def churn(index0: Ann.IvfIndex, rounds: Int): Unit = {
    val model = new StoreModel(corpus.docs)
    var da = DocArray(base)
    var index = index0
    (1 to rounds).foreach { j =>
      val r = corpus.churnChoice(j)
      val upd = model.take(Conf.ChurnBatch, r).map(id => id -> r.nextInt(100000) / 100000.0)
      val del = model.take(Conf.ChurnBatch, r)
      val ins = corpus.inserts(j)
      model.live ++= upd.map(_._1)
      upd.foreach { case (id, s) => model.docs(id) = model.docs(id).copy(score = s) }
      del.foreach(model.docs.remove)
      ins.foreach { d => model.docs(d.id) = d; model.live += d.id }
      model.inserted += ins.length
      model.deleted += del.length

      val tw = call("churn_write") {
        val insDf = docsDf(ins.toSeq)
        da = trace.span("operators.Items.update")(da.update(upd.toDF("id", "score")))
        da = trace.span("operators.Items.delete")(da.delete(del))
        da = trace.span("operators.Items.extend")(da.extend(DocArray(insDf)))
        index = trace.span("operators.Ann.ivfAppend")(Ann.ivfAppend(index, insDf))
      } { _ => () }

      val (json, pred) = corpus.filters(j % corpus.filters.length)
      val probe: Seq[Long] = upd.take(20).map(_._1) ++ ins.take(20).map(_.id) ++ del.take(10) ++
        corpus.getBatches(j % corpus.getBatches.length).take(50)
      var findDf: DataFrame = null
      val tr = call("churn_read") {
        val live = da.df.select(count(lit(1))).as[Long].collect().head
        findDf = trace.span("operators.Filters.where")(da.find(json)).df.select("id")
        val found = findDf.as[Long].collect().toSeq
        val rows = trace.span("operators.Items.byIds")(da(probe)).df
          .select("id", "score").as[(Long, Double)].collect().toSeq
        (live, found, rows)
      } { case (live, found, rows) =>
        Checks.sameCount("churn_read", s"live rows after round $j", live, n + model.inserted - model.deleted)
        Checks.sameCount("churn_read", s"live rows in the model after round $j", model.docs.size.toLong, live)
        Checks.sameIds("churn_read", s"round $j $json", found,
          model.docs.valuesIterator.filter(d => pred(d.cat, d.score)).map(_.id).toSeq)
        Checks.sameIds("churn_read", s"round $j get-by-id", rows.map(_._1), probe.distinct.filter(model.docs.contains))
        rows.foreach { case (id, s) =>
          if (model.docs(id).score != s) Checks.fail("churn_read", s"round $j id $id score $s, model ${model.docs(id).score}")
        }
        if (j == rounds) Checks.sameCount("churn_read", s"indexed rows after round $j",
          index.assigned.count(), (n + model.inserted) * Conf.MultiAssign)
      }
      record("churn_round", for (a <- tw; b <- tr) yield a + b)
      if (trace.active && findDf != null) outside {
        trace.extra("churn_read", "plan_nodes", Trace.planNodes(findDf).toDouble)
      }
    }
  }
}

/** A document as graft's columns hold it. */
final case class DocRow(id: Long, text: String, tags: Map[String, String], tag_cat: String,
    score: Double, embedding: Array[Float])

object Session {
  def toRow(d: Doc): DocRow = DocRow(d.id, d.text, Map("cat" -> d.cat), d.cat, d.score, d.vec)
}
