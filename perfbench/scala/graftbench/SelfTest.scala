package graftbench

import java.util.SplittableRandom

/** The benchmark's own tests: every output check accepts a correct output
  * and rejects a deliberately corrupted one. No Spark involved. Exits 1 if
  * any case goes the wrong way. */
object SelfTest {
  private var bad = 0
  private var cases = 0

  private def passes(name: String)(body: => Unit): Unit = {
    cases += 1
    try { body; println(s"ok   accepts: $name") }
    catch { case e: CheckFailed => bad += 1; println(s"FAIL rejected a correct output: $name: ${e.getMessage}") }
  }

  private def rejects(name: String)(body: => Unit): Unit = {
    cases += 1
    try { body; bad += 1; println(s"FAIL accepted a corrupted output: $name") }
    catch { case e: CheckFailed => println(s"ok   rejects: $name (${e.getMessage})") }
  }

  def main(args: Array[String]): Unit = {
    val r = new SplittableRandom(7)
    val docs = Array.tabulate(300)(i =>
      Doc(i.toLong, "", "c0", 0.0, Array.fill(8)(r.nextGaussian().toFloat)))
    // two exact copies make an equal-distance tie at some rank
    val tieDocs = docs :+ docs(5).copy(id = 1000L)
    val q = Array.fill(8)(r.nextGaussian().toFloat)
    val k = 10
    val exact = Checks.exactTopK(q, docs, k)
    val dist: Long => Double = id => Checks.cosine(q, docs(id.toInt).vec)
    val good = exact.ids.zip(exact.dists).zipWithIndex.map { case ((id, d), i) => (id, d, i + 1) }.toSeq
    val outsider = docs.map(_.id).find(id => !exact.ids.contains(id)).get

    passes("knn top-k")(Checks.knnMatches("knn", 0, good, exact, dist))
    passes("knn top-k with rounding below 1e-9")(
      Checks.knnMatches("knn", 0, good.map(h => (h._1, h._2 + 3e-16, h._3)), exact, dist))
    rejects("knn with one id swapped for a farther doc")(
      Checks.knnMatches("knn", 0, good.updated(4, (outsider, good(4)._2, 5)), exact, dist))
    rejects("knn with one hit dropped")(Checks.knnMatches("knn", 0, good.dropRight(1), exact, dist))
    rejects("knn with a wrong distance")(
      Checks.knnMatches("knn", 0, good.updated(2, (good(2)._1, good(2)._2 + 1e-6, 3)), exact, dist))
    rejects("knn with ranks out of order")(
      Checks.knnMatches("knn", 0, good.updated(0, (good(0)._1, good(0)._2, 2)), exact, dist))
    // tie at the k-th place: doc 5 and its copy 1000 are equally near, so
    // either is a correct top-1
    val qTie = docs(5).vec.map(_ + 0.01f)
    val exactTie = Checks.exactTopK(qTie, tieDocs, 1)
    val other = Seq(5L, 1000L).filterNot(_ == exactTie.ids(0)).head
    val distTie: Long => Double = id => Checks.cosine(qTie, tieDocs.find(_.id == id).get.vec)
    passes("knn tie at the k-th place, the other copy")(
      Checks.knnMatches("knn", 0, Seq((other, distTie(other), 1)), exactTie, distTie))
    // minhash pairs and clusters
    val texts = Map(1L -> "a b c d e f g h", 2L -> "a b c d e f g x", 3L -> "a b c d e f y x",
      4L -> "p q r s t u v w", 5L -> "k l m n o p q r")
    val bg: Long => Set[String] = id => Checks.bigrams(texts(id))
    val j12 = Checks.jaccard(bg(1), bg(2))
    val j23 = Checks.jaccard(bg(2), bg(3))
    val pairs = Seq((1L, 2L, j12), (2L, 3L, j23))
    passes("minhash pairs")(Checks.minhashPairs(pairs, 0.5, bg, Seq((1L, 2L))))
    rejects("minhash with a planted pair dropped")(Checks.minhashPairs(pairs.tail, 0.5, bg, Seq((1L, 2L))))
    rejects("minhash with a wrong jaccard")(Checks.minhashPairs(Seq((1L, 2L, j12 + 0.01)), 0.5, bg, Nil))
    rejects("minhash with a pair below the threshold")(
      Checks.minhashPairs(Seq((1L, 4L, Checks.jaccard(bg(1), bg(4)))), 0.5, bg, Nil))
    rejects("minhash with a repeated pair")(Checks.minhashPairs(pairs :+ pairs.head, 0.5, bg, Nil))
    val nodes = texts.keys.toSeq.sorted
    val edges = pairs.map(p => (p._1, p._2))
    val labels = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L)
    passes("clusters")(Checks.clusters(labels, nodes, edges))
    rejects("clusters with a pair split")(Checks.clusters(labels.updated(2, 3L -> 3L), nodes, edges))
    rejects("clusters merged beyond the pairs")(Checks.clusters(labels.updated(4, 5L -> 4L), nodes, edges))
    rejects("clusters with a node missing")(Checks.clusters(labels.dropRight(1), nodes, edges))
    rejects("clusters labelled by a non-minimal id")(
      Checks.clusters(Seq(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 4L, 5L -> 5L), nodes, edges))

    // BM25: a hand-computed anchor, then the top-k check
    val corpus = Seq(1L -> "x y z", 2L -> "x x w", 3L -> "w w w w", 4L -> "z")
    val model = new Checks.Bm25Model(corpus)
    val avgdl = 11.0 / 4
    def idf(df: Double) = math.log((4 - df + 0.5) / (df + 0.5) + 1)
    def tfn(tf: Double, dl: Double) = tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    val want = Map(1L -> idf(2) * tfn(1, 3), 2L -> idf(2) * tfn(2, 3))
    passes("bm25 model equals the hand-computed formula")(model.scores("x").foreach { case (id, s) =>
      if (math.abs(s - want(id)) > 1e-12) Checks.fail("bm25 anchor", s"id $id $s vs ${want(id)}")
    })
    val ws = model.scores("x z w")
    val top = ws.toSeq.sortBy(p => (-p._2, p._1)).take(3)
    passes("bm25 top-k")(Checks.bm25TopK("x z w", top, ws, 3))
    rejects("bm25 with a wrong score")(Checks.bm25TopK("x z w", top.updated(1, (top(1)._1, top(1)._2 * 1.01)), ws, 3))
    rejects("bm25 with a doc swapped for a lower one")(Checks.bm25TopK("x z w",
      top.updated(2, ws.toSeq.sortBy(p => (-p._2, p._1)).last), ws, 3))

    // store model
    passes("ids")(Checks.sameIds("filter", "f", Seq(1L, 2L, 3L), Seq(3L, 2L, 1L)))
    rejects("ids with one dropped")(Checks.sameIds("filter", "f", Seq(1L, 2L), Seq(1L, 2L, 3L)))
    rejects("ids with one extra")(Checks.sameIds("filter", "f", Seq(1L, 2L, 3L, 4L), Seq(1L, 2L, 3L)))
    rejects("ids with a repeat")(Checks.sameIds("filter", "f", Seq(1L, 2L, 2L, 3L), Seq(1L, 2L, 3L)))
    rejects("a wrong live-row count")(Checks.sameCount("churn_read", "live rows", 999L, 1000L))

    println(s"selftest: $cases cases, $bad wrong")
    if (bad > 0) sys.exit(1)
  }
}
