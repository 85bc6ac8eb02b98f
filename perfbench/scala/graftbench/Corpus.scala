package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Size and shape of one workload. Every workload runs the same session of
  * operations; these numbers decide which layer does most of the work. */
final case class Conf(
    name: String,
    nDocs: Int,
    dim: Int,
    centers: Int,       // mixture components of the embedding corpus
    spread: Double,     // noise norm around a unit center (larger = looser clusters)
    words: Int,         // words per document
    vocab: Int,         // vocabulary size, Zipf-distributed
    zipf: Double,       // Zipf exponent of the vocabulary
    dupFraction: Double,// share of documents that are edited copies of earlier ones
    batchQ: Int,        // queries in the knn / ANN batch
    nCells: Int,        // IVF cells
    fitSample: Double)  // share of the corpus the k-means quantizer is fit on

object Conf {
  val K = 10                 // top-k of every knn, ANN and text query
  val MultiAssign = 2        // IVF cells each document is stored in
  val FullProbeQueries = 8   // queries of the full-probe IVF check
  val DedupThreshold = 0.5   // minhash Jaccard threshold
  val PlantedMustFind = 0.8  // planted pairs at or above this Jaccard must be found
  val Reps = 6               // timed calls per round of each cheap read
  val Settle = 3             // untimed settling calls before them
  val ChurnRounds = 2        // mutation rounds per churn cycle
  val ChurnBatch = 50        // ids updated, ids deleted and docs inserted per mutation round
  val GetBatch = 100         // ids per get-by-id call
  val NProbe = 2             // IVF cells probed per query
  val KmIters = 2            // k-means iterations of the IVF quantizer
  val MinhashHashes = 128
  val MinhashBands = 32

  val all: Map[String, Conf] = Seq(
    // vector layers do the most executor work: 128-d corpus of loose
    // clusters, short text with no planted duplicates. Twice as many
    // mixture components as IVF cells keep the cells about equally full,
    // so the share an nProbe search scans does not swing with the seed
    Conf("vector_search", nDocs = 6000, dim = 128, centers = 64, spread = 1.5,
      words = 6, vocab = 2000, zipf = 1.0, dupFraction = 0.0,
      batchQ = 100, nCells = 32, fitSample = 0.3),
    // text layers dominate: ~100-word documents, 10% planted near-duplicates, 16-d vectors
    Conf("text_dedup", nDocs = 2000, dim = 16, centers = 16, spread = 0.8,
      words = 100, vocab = 8000, zipf = 1.05, dupFraction = 0.1,
      batchQ = 50, nCells = 16, fitSample = 0.5)
  ).map(c => c.name -> c).toMap
}

/** A generated document: the benchmark's own copy, kept apart from Spark. */
final case class Doc(id: Long, text: String, cat: String, score: Double, vec: Array[Float])

/** Everything one run feeds graft, generated from the seed alone. */
final class Corpus(val conf: Conf, val seed: Long) {
  private val rng = new SplittableRandom(seed * 1000003L + conf.name.hashCode)

  val dim: Int = conf.dim
  private val centers: Array[Array[Double]] = Array.fill(conf.centers) {
    val c = Array.fill(dim)(rng.nextGaussian())
    val n = math.sqrt(c.map(x => x * x).sum)
    c.map(_ / n)
  }

  private def draw(r: SplittableRandom): Array[Float] = {
    val c = centers(r.nextInt(centers.length))
    val s = conf.spread / math.sqrt(dim)
    Array.tabulate(dim)(i => (c(i) + s * r.nextGaussian()).toFloat)
  }

  // Zipf-distributed vocabulary of lowercase letter words (one token each)
  private val cdf: Array[Double] = {
    val w = Array.tabulate(conf.vocab)(i => 1.0 / math.pow(i + 1, conf.zipf))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
  val vocabulary: Array[String] = Array.tabulate(conf.vocab)(Corpus.word)
  private def drawWord(r: SplittableRandom): String = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    vocabulary(math.min(conf.vocab - 1, if (i >= 0) i else -i - 1))
  }

  /** (base index, copy index) of every planted near-duplicate. */
  val planted: mutable.ArrayBuffer[(Int, Int)] = mutable.ArrayBuffer.empty

  /** Near-duplicates come in chains: an original, an edited copy of it and,
    * half the time, an edited copy of that copy. The depth is fixed so the
    * number of `clusters` rounds does not swing with the seed. */
  val docs: Array[Doc] = {
    val words = new Array[Array[String]](conf.nDocs)
    val isCopy = new Array[Boolean](conf.nDocs)
    def edit(from: Int, to: Int): Unit = {
      val rate = 0.02 + 0.12 * rng.nextDouble()
      words(to) = words(from).map(w => if (rng.nextDouble() < rate) drawWord(rng) else w)
      isCopy(to) = true
      planted += ((from, to))
    }
    (0 until conf.nDocs).foreach { i =>
      if (!isCopy(i)) words(i) = Array.fill(conf.words)(drawWord(rng))
      // an original starts a chain with probability dupFraction / 1.5 (1.5 copies per chain)
      if (!isCopy(i) && i + 2 < conf.nDocs && rng.nextDouble() < conf.dupFraction / 1.5) {
        val c1 = i + 1 + rng.nextInt(math.min(1000, conf.nDocs - i - 2))
        if (!isCopy(c1) && words(c1) == null) {
          edit(i, c1)
          if (rng.nextBoolean()) {
            val c2 = (c1 + 1 until math.min(conf.nDocs, c1 + 1000)).find(j => !isCopy(j) && words(j) == null)
            c2.foreach(edit(c1, _))
          }
        }
      }
    }
    Array.tabulate(conf.nDocs)(i => newDoc(i.toLong, words(i).mkString(" "), rng))
  }

  private def newDoc(id: Long, text: String, r: SplittableRandom): Doc =
    Doc(id, text, "c" + r.nextInt(16), r.nextInt(100000) / 100000.0, draw(r))

  /** Documents inserted by mutation round `round` of a churn cycle: the same
    * documents in every cycle, so every cycle does the same work. */
  def inserts(round: Int): Array[Doc] = {
    val r = new SplittableRandom(seed * 7919L + round)
    Array.tabulate(Conf.ChurnBatch) { j =>
      val id = conf.nDocs.toLong + round.toLong * Conf.ChurnBatch + j
      newDoc(id, Array.fill(conf.words)(drawWord(r)).mkString(" "), r)
    }
  }

  val batchQueries: Array[Array[Float]] = Array.fill(conf.batchQ)(draw(rng))
  val singleQueries: Array[Array[Float]] = Array.fill(4)(draw(rng))

  /** Filter-DSL queries and the same predicate over the benchmark's model.
    * Drawn from a generator of their own, so they depend on the seed alone. */
  val filters: Array[(String, (String, Double) => Boolean)] = {
    val r = new SplittableRandom(seed * 31L + 7)
    Array.tabulate(4) { _ =>
      val cat = "c" + r.nextInt(16)
      val lo = 0.25 * r.nextInt(3)
      val hi = lo + 0.375
      (s"""{"tags__cat": {"$$eq": "$cat"}, "score": {"$$gte": $lo, "$$lt": $hi}}""",
        (c: String, s: Double) => c == cat && s >= lo && s < hi)
    }
  }

  /** Three words of fixed frequency ranks per text query, so every seed
    * scores about as many documents. */
  val textQueries: Array[String] = Array.tabulate(4)(i =>
    Seq(30 + i, 90 + i, 400 + i).map(r => vocabulary(r % conf.vocab)).mkString(" "))

  /** Ids per get-by-id call: existing ids plus two that were never stored. */
  val getBatches: Array[Array[Long]] = Array.fill(4) {
    Array.fill(Conf.GetBatch - 2)(rng.nextInt(conf.nDocs).toLong).distinct ++
      Array(conf.nDocs + 5000000L, -1L)
  }

  /** Seeded per-round choice of ids to update and delete in a churn cycle. */
  def churnChoice(round: Int): SplittableRandom = new SplittableRandom(seed * 104729L + round)
}

object Corpus {
  def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i
    while ({ sb.append(('a' + x % 26).toChar); x /= 26; x > 0 }) ()
    sb.reverse.toString
  }
}
