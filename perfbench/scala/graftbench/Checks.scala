package graftbench

import scala.collection.mutable

/** Thrown by a check; the message names the check and the differing values. */
final class CheckFailed(msg: String) extends Exception(msg)

/** Output checks, each computed apart from graft's code (plain JVM loops
  * over the benchmark's own copy of the inputs) or tested against a property
  * the method must have. */
object Checks {
  val DistEps = 1e-9   // summation-order rounding of a cosine distance
  val ScoreEps = 1e-9  // relative rounding of a BM25 score sum

  def fail(check: String, detail: String): Nothing =
    throw new CheckFailed(s"$check: $detail")

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Exact top-k of one query by a full scan: (ids ascending by distance, distances). */
  final case class TopK(ids: Array[Long], dists: Array[Double]) {
    def kth: Double = dists.last
  }

  def exactTopK(query: Array[Float], docs: Array[Doc], k: Int): TopK = {
    // bounded max-heap of (distance, index)
    val heap = mutable.PriorityQueue.empty[(Double, Int)](Ordering.by[(Double, Int), Double](_._1))
    var i = 0
    while (i < docs.length) {
      val d = cosine(query, docs(i).vec)
      if (heap.size < k) heap.enqueue((d, i))
      else if (d < heap.head._1) { heap.dequeue(); heap.enqueue((d, i)) }
      i += 1
    }
    val sorted = heap.toArray.sortBy(_._1)
    TopK(sorted.map(p => docs(p._2).id), sorted.map(_._1))
  }

  def exactTopKAll(queries: Array[Array[Float]], docs: Array[Doc], k: Int): Array[TopK] =
    java.util.stream.IntStream.range(0, queries.length).parallel()
      .mapToObj[TopK](q => exactTopK(queries(q), docs, k))
      .toArray(n => new Array[TopK](n))

  /** graft's top-k of one query against the exact scan, allowing for
    * summation-order rounding and for equal-distance ties at the k-th place:
    * exactly k distinct ids ranked 1..k, each reported distance equal to the
    * independently computed one, ascending, no id beyond the exact k-th
    * distance, and every id strictly inside it present. */
  def knnMatches(check: String, q: Int, got: Seq[(Long, Double, Int)], exact: TopK,
      distOf: Long => Double): Unit = {
    val k = exact.ids.length
    if (got.size != k) fail(check, s"query $q returned ${got.size} hits, expected $k")
    val byRank = got.sortBy(_._3)
    if (byRank.map(_._3) != (1 to k)) fail(check, s"query $q ranks ${byRank.map(_._3)}")
    if (byRank.map(_._1).distinct.size != k) fail(check, s"query $q duplicate ids ${byRank.map(_._1)}")
    byRank.sliding(2).foreach {
      case Seq(a, b) if b._2 < a._2 - DistEps =>
        fail(check, s"query $q distances not ascending: ${a._2} then ${b._2}")
      case _ =>
    }
    byRank.foreach { case (id, d, rank) =>
      val want = distOf(id)
      if (math.abs(want - d) > DistEps)
        fail(check, s"query $q id $id rank $rank distance $d, independent $want")
      if (want > exact.kth + DistEps)
        fail(check, s"query $q id $id at distance $want lies beyond the exact k-th ${exact.kth}")
    }
    val gotIds = byRank.map(_._1).toSet
    exact.ids.zip(exact.dists).foreach { case (id, d) =>
      if (d < exact.kth - DistEps && !gotIds(id))
        fail(check, s"query $q misses id $id at distance $d (exact k-th ${exact.kth}); got ${byRank.map(_._1)}")
    }
  }

  def recall(got: Seq[Long], exact: TopK): Double =
    got.toSet.intersect(exact.ids.toSet).size.toDouble / exact.ids.length

  // ---- text ----------------------------------------------------------

  def tokens(text: String): Array[String] = text.split(' ').filter(_.nonEmpty)

  def bigrams(text: String): Set[String] =
    tokens(text).sliding(2).collect { case Array(a, b) => a + " " + b }.toSet

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b)
    inter.toDouble / (a.size + b.size - inter)
  }

  /** Every minhash pair: a < b, no repeats, `jaccard` equal to the
    * independent word-bigram Jaccard and at or above the threshold; every
    * planted pair in `mustFind` present. */
  def minhashPairs(got: Seq[(Long, Long, Double)], threshold: Double,
      bigramsOf: Long => Set[String], mustFind: Seq[(Long, Long)]): Unit = {
    val check = "dedup_minhash"
    val seen = mutable.HashSet.empty[(Long, Long)]
    got.foreach { case (a, b, j) =>
      if (a >= b) fail(check, s"pair ($a, $b) not ordered a < b")
      if (!seen.add((a, b))) fail(check, s"pair ($a, $b) repeated")
      val want = jaccard(bigramsOf(a), bigramsOf(b))
      if (math.abs(want - j) > 1e-12) fail(check, s"pair ($a, $b) jaccard $j, independent $want")
      if (j < threshold) fail(check, s"pair ($a, $b) jaccard $j below threshold $threshold")
    }
    mustFind.foreach { p =>
      if (!seen(p)) fail(check, s"planted pair $p with Jaccard >= ${Conf.PlantedMustFind} not found")
    }
  }

  /** Connected components by union-find over `pairs`; the label of a
    * component is its smallest id. */
  def components(nodes: Seq[Long], pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    nodes.foreach(n => parent(n) = n)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    nodes.map(n => n -> find(n)).toMap
  }

  /** `clusters` output: every node labelled once, both ends of every pair in
    * one cluster, the cluster count equal to an independent union-find's,
    * and each label the smallest id of its component. */
  def clusters(got: Seq[(Long, Long)], nodes: Seq[Long], pairs: Seq[(Long, Long)]): Unit = {
    val check = "dedup_clusters"
    val label = got.toMap
    if (label.size != got.size) fail(check, s"${got.size - label.size} ids labelled twice")
    if (label.size != nodes.size) fail(check, s"${label.size} ids labelled, corpus has ${nodes.size}")
    pairs.foreach { case (a, b) =>
      if (label.get(a) != label.get(b))
        fail(check, s"pair ($a, $b) split across clusters ${label.get(a)} and ${label.get(b)}")
    }
    val want = components(nodes, pairs)
    val nGot = label.values.toSet.size
    val nWant = want.values.toSet.size
    if (nGot != nWant) fail(check, s"$nGot clusters, independent union-find gives $nWant")
    nodes.foreach { n =>
      if (label(n) != want(n)) fail(check, s"id $n labelled ${label(n)}, smallest id of its component is ${want(n)}")
    }
  }

  /** Plain-Scala BM25 with the formula of graft's TextSearch: Lucene idf
    * ln((N - df + 0.5)/(df + 0.5) + 1), tf saturation with k1, length
    * normalisation with b over the mean document length. */
  final class Bm25Model(docs: Iterable[(Long, String)], k1: Double = 1.2, b: Double = 0.75) {
    private val lens = mutable.HashMap.empty[Long, Int]
    private val postings = mutable.HashMap.empty[String, mutable.HashMap[Long, Int]]
    docs.foreach { case (id, text) =>
      val t = tokens(text)
      if (t.nonEmpty) {
        lens(id) = t.length
        t.foreach(w => postings.getOrElseUpdate(w, mutable.HashMap.empty).updateWith(id) {
          case Some(c) => Some(c + 1); case None => Some(1) })
      }
    }
    private val n = lens.size.toDouble
    private val avgdl = lens.values.map(_.toDouble).sum / n

    def scores(query: String): Map[Long, Double] = {
      val terms = query.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).distinct
      val acc = mutable.HashMap.empty[Long, Double]
      terms.foreach { t =>
        postings.get(t).foreach { p =>
          val df = p.size.toDouble
          val idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
          p.foreach { case (id, tf) =>
            val s = idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * lens(id) / avgdl))
            acc(id) = acc.getOrElse(id, 0.0) + s
          }
        }
      }
      acc.toMap
    }
  }

  /** graft's BM25 top-k (id, score) against the independent scores: every
    * score equal, descending, none below the exact k-th, every doc strictly
    * above it present. */
  def bm25TopK(q: String, got: Seq[(Long, Double)], want: Map[Long, Double], k: Int): Unit = {
    val check = "text_search"
    val exact = want.toSeq.sortBy(p => (-p._2, p._1)).take(k)
    if (got.size != exact.size) fail(check, s"query '$q' returned ${got.size} docs, expected ${exact.size}")
    if (exact.isEmpty) return
    val kth = exact.last._2
    def eps(s: Double) = ScoreEps * math.max(1.0, math.abs(s))
    got.sliding(2).foreach {
      case Seq(a, b) if b._2 > a._2 + eps(a._2) => fail(check, s"query '$q' scores not descending: $a then $b")
      case _ =>
    }
    got.foreach { case (id, s) =>
      val w = want.getOrElse(id, fail(check, s"query '$q' id $id scored $s, independent: no query term"))
      if (math.abs(w - s) > eps(w)) fail(check, s"query '$q' id $id score $s, independent $w")
      if (w < kth - eps(kth)) fail(check, s"query '$q' id $id score $w below the exact k-th $kth")
    }
    val gotIds = got.map(_._1).toSet
    exact.foreach { case (id, s) =>
      if (s > kth + eps(kth) && !gotIds(id)) fail(check, s"query '$q' misses id $id score $s")
    }
  }

  // ---- store ---------------------------------------------------------

  def sameIds(check: String, what: String, got: Seq[Long], want: Iterable[Long]): Unit = {
    val g = got.toSet
    val w = want.toSet
    if (got.size != g.size) fail(check, s"$what: ${got.size - g.size} ids returned twice")
    if (g != w) {
      val extra = (g -- w).take(5)
      val missing = (w -- g).take(5)
      fail(check, s"$what: ${g.size} ids, model has ${w.size}; extra $extra, missing $missing")
    }
  }

  def sameCount(check: String, what: String, got: Long, want: Long): Unit =
    if (got != want) fail(check, s"$what: $got, model $want")
}
