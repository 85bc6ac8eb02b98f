package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

import graft.functions._

/** Brute-force exact k-nearest-neighbor search — the reference's
  * `da.find(query_embeddings)` / `da.match(other)` re-expressed as one
  * Spark plan (reference: docarray/array/mixins/find.py:88-249
  * dispatch, docarray/array/storage/memory/find.py:17-181 kernel,
  * docarray/array/mixins/match.py:12-92 writeback).
  *
  * Physical shape (the 100 TB-scale path): one [[graft.plans.KnnTopK]]
  * operator, planned as `KnnTopKExec` on every session — the (small)
  * query side is collected and broadcast as primitive double[][], each
  * doc partition streams its rows through one bounded heap per query,
  * and the per-partition heaps merge on a shuffle of
  * O(partitions × Q × k) rows. No Window sort over N×Q rows, no cross
  * product materialized.
  *
  * The expression arm — a broadcast nested-loop join, a distance
  * expression per pair and the `topk_by_distance` aggregate — serves
  * only what the kernel cannot: a user-supplied distance
  * ([[bruteForceCustom]]) and `normalization`, which needs the full
  * per-query distance row.
  */
object Knn {

  /** For each row of `queries`, the k nearest rows of `docs`.
    *
    * @return columns: `query_id` (original query id type), `id` (doc id
    *         type), `distance` (double), `rank` (1-based, ascending
    *         distance).
    * @param metric one of [[VectorDistance.metrics]]; vectors are
    *        array<float|double>.
    * @param excludeSelf drop hits whose id equals the query id
    *        (reference: find.py:174,237-243 — done there via limit+1 and
    *        trim; here an exclusion *before* the top-k, cleaner).
    * @param normalization optional (a,b) min-max rescale of distances,
    *        computed over the FULL per-query distance row, not just the
    *        top-k — matching reference memory/find.py:109-114.
    */
  def bruteForce(
      docs: DataFrame,
      queries: DataFrame,
      k: Int,
      metric: String = "cosine",
      docId: String = "id",
      docVec: String = "embedding",
      queryId: String = "id",
      queryVec: String = "embedding",
      excludeSelf: Boolean = false,
      normalization: Option[(Double, Double)] = None): DataFrame = {
    require(VectorDistance.metrics.contains(metric),
      s"unknown metric '$metric' (one of ${VectorDistance.metrics.mkString(", ")})")
    if (normalization.isDefined)
      expressionArm(docs, queries, k, vector_distance(_, _, metric),
        docId, docVec, queryId, queryVec, excludeSelf, normalization)
    else kernelArm(docs, queries, k, metric, docId, docVec, queryId,
      queryVec, excludeSelf)
  }

  /** [[bruteForce]] through the [[graft.plans.KnnTopK]] operator. */
  private def kernelArm(docs: DataFrame, queries: DataFrame, k: Int,
      metric: String, docId: String, docVec: String, queryId: String,
      queryVec: String, excludeSelf: Boolean): DataFrame = {
    require(k > 0, s"topk k must be > 0, got $k")
    var d = docs.select(col(docId).as("_did"), col(docVec).as("_dvec"))
    // a null query vector scores nothing, as in the expression arm
    var q = queries.select(col(queryId).as("query_id"), col(queryVec).as("_qvec"))
      .where(col("_qvec").isNotNull)
    // the expression arm's `_did != query_id` is null, so false, on a
    // null id: such rows never pair
    if (excludeSelf) {
      d = d.where(col("_did").isNotNull)
      q = q.where(col("query_id").isNotNull)
    }
    def isVec(t: DataType): Boolean = t match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    val (dt, qt) = (d.schema("_dvec").dataType, q.schema("_qvec").dataType)
    require(isVec(dt) && isVec(qt),
      s"expects array<float|double> vectors, got ${dt.sql}, ${qt.sql}")

    val spark = docs.sparkSession
    graft.plans.install(spark)
    Bridge.ofRows(spark, graft.plans.KnnTopK.create(
        Bridge.logicalPlan(d), Bridge.logicalPlan(q), k, metric, excludeSelf))
      .select(col("query_id"), posexplode(col("_topk")).as(Seq("_pos", "_hit")))
      .select(
        col("query_id"),
        col("_hit.value").as("id"),
        col("_hit.distance").as("distance"),
        (col("_pos") + 1).cast("int").as("rank"))
  }

  /** knn with a user-supplied distance: any `(docVec, queryVec) => Column`
    * (native expression composition or a UDF) runs through the broadcast
    * + bounded-heap expression plan — the reference's custom-metric
    * callable (reference: docarray/array/storage/memory/find.py:69-81). */
  def bruteForceCustom(
      docs: DataFrame,
      queries: DataFrame,
      k: Int,
      distance: (Column, Column) => Column,
      docId: String = "id",
      docVec: String = "embedding",
      queryId: String = "id",
      queryVec: String = "embedding",
      excludeSelf: Boolean = false): DataFrame =
    expressionArm(docs, queries, k, distance, docId, docVec, queryId,
      queryVec, excludeSelf, normalization = None)

  /** The expression arm: docs × broadcast queries, `distance` per pair,
    * then the `topk_by_distance` aggregate per query (map-side partial
    * per partition, heap-merge on shuffle). */
  private def expressionArm(
      docs: DataFrame,
      queries: DataFrame,
      k: Int,
      distance: (Column, Column) => Column,
      docId: String,
      docVec: String,
      queryId: String,
      queryVec: String,
      excludeSelf: Boolean,
      normalization: Option[(Double, Double)]): DataFrame = {
    val d = docs.select(col(docId).as("_did"), col(docVec).as("_dvec"))
    val q = queries.select(col(queryId).as("query_id"), col(queryVec).as("_qvec"))

    var pairs = d.crossJoin(broadcast(q))
    if (excludeSelf) pairs = pairs.where(col("_did") =!= col("query_id"))

    val dist = distance(col("_dvec"), col("_qvec"))

    val aggCols = Seq(topk_by_distance(dist, col("_did"), k).as("_topk")) ++
      (if (normalization.isDefined)
         Seq(min(dist).as("_dmin"), max(dist).as("_dmax"))
       else Nil)

    val grouped = pairs.groupBy("query_id").agg(aggCols.head, aggCols.tail: _*)

    val keep = if (normalization.isDefined) Seq("query_id", "_dmin", "_dmax")
               else Seq("query_id")
    val exploded = grouped.select(
      keep.map(col) :+ posexplode(col("_topk")).as(Seq("_pos", "_hit")): _*)

    val distOut = normalization match {
      case Some((a, b)) =>
        // min-max rescale to [a, b] over the full row (math/helper.py:6-37)
        lit(a) + (col("_hit.distance") - col("_dmin")) * (lit(b) - lit(a)) /
          (col("_dmax") - col("_dmin"))
      case None => col("_hit.distance")
    }

    exploded.select(
      col("query_id"),
      col("_hit.value").as("id"),
      distOut.as("distance"),
      (col("_pos") + 1).cast("int").as("rank"))
  }

  /** Large-Q regime: both sides too big for one broadcast. Queries are
    * hash-split into `nBlocks` groups; each block runs [[bruteForce]]
    * (its own broadcast), results union lazily — the full A.match(B) grid
    * with per-block memory bounded at |Q|/nBlocks × dim doubles. Pick
    * nBlocks so a block's query matrix is ~10-50 MB.
    *
    * The doc side is projected to (id, vec) and cached before the block
    * loop, so the source is scanned ONCE and every block reads the
    * in-memory columnar copy — without this, nBlocks blocks re-scan the
    * source nBlocks times (the round-3 shape). Callers that already hold
    * a cached/bucketed doc projection can pass `cacheDocs = false`. The
    * cache is left registered (Spark LRU evicts it); call
    * `spark.catalog.clearCache()` or unpersist through the returned
    * plan's children to drop it eagerly. */
  def bruteForceLargeQ(
      docs: DataFrame,
      queries: DataFrame,
      k: Int,
      metric: String = "cosine",
      docId: String = "id",
      docVec: String = "embedding",
      queryId: String = "id",
      queryVec: String = "embedding",
      excludeSelf: Boolean = false,
      nBlocks: Int = 8,
      cacheDocs: Boolean = true): DataFrame = {
    require(nBlocks >= 1)
    val side = {
      // prune to the two needed columns BEFORE caching: the cached copy
      // is O(rows × (id + dim)) no matter how wide the source table is
      val projected = docs.select(col(docId), col(docVec))
      if (cacheDocs && nBlocks > 1)
        projected.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else projected
    }
    (0 until nBlocks).map { b =>
      val block = queries.where(pmod(xxhash64(col(queryId)), lit(nBlocks)) === b)
      bruteForce(side, block, k, metric,
        docId, docVec, queryId, queryVec, excludeSelf)
    }.reduce(_.union(_))
  }

  /** knn + writeback: returns `left` with a `matches` column —
    * array<struct<id, distance, rank>> ascending by distance — the
    * reference's `da.match(darray)` (reference: match.py:12-92; ordering
    * memory/find.py:176-179). Old matches are replaced wholesale, like the
    * reference clearing before write (match.py:70-71). */
  def attachMatches(
      left: DataFrame,
      right: DataFrame,
      k: Int,
      metric: String = "cosine",
      leftId: String = "id",
      leftVec: String = "embedding",
      rightId: String = "id",
      rightVec: String = "embedding",
      excludeSelf: Boolean = false): DataFrame = {

    val hits = bruteForce(right, left, k, metric,
      docId = rightId, docVec = rightVec,
      queryId = leftId, queryVec = leftVec,
      excludeSelf = excludeSelf)

    val matches = hits
      .groupBy("query_id")
      .agg(array_sort(
        collect_list(struct(
          col("rank"), col("id"), col("distance"),
          // reference writes scores[metric] = NamedScore(dist) on each
          // match (find.py:226); keep the same addressable shape
          map(lit(metric), struct(col("distance").as("value"),
            lit("knn").as("op_name"))).as("scores"))),
        // structs holding maps aren't naturally orderable → rank comparator
        (a, b) => a.getField("rank") - b.getField("rank")).as("matches"))

    left.drop("matches").join(
      matches.withColumnRenamed("query_id", "_qid"),
      col(leftId) === col("_qid"), "left")
      .drop("_qid")
  }

  /** Hard-triplet mining over a labeled embedding table: for each anchor,
    * its nearest same-label neighbor (hard positive) and nearest
    * other-label neighbor (hard negative) — the batch-construction
    * primitive of metric learning (triplet/contrastive losses).
    *
    * Exact within the candidate depth `kCand` (self excluded): an anchor
    * whose whole top-`kCand` neighborhood is single-label gets a null on
    * the missing side. `kCand ≥ corpus size` makes the mining exact.
    *
    * SCALE: this convenience form broadcasts the WHOLE table as the
    * query side of [[bruteForce]] — `kCand` bounds only the per-anchor
    * heap, not that broadcast, so it stops at broadcast-sized corpora
    * (~millions of rows). Beyond that, run batches of anchors through
    * it, or produce hits with [[Ann.ivfSearchBlocked]]/[[Ann.ivfSearchPq]]
    * and feed them straight into [[tripletsFromHits]] — the selection
    * step is knn-source-agnostic. */
  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein, SIGIR
    * 1998): for each query, fetch the `fetchK` most-similar docs, then
    * greedily pick `k` of them maximizing
    * `lambda * rel(q,d) - (1-lambda) * max_{s in selected} sim(d,s)` —
    * relevance tempered by redundancy, the diversity-selection step of a
    * RAG retrieval stage. Both rel and sim are cosine (dot over
    * pre-normalized vectors).
    *
    * The greedy loop runs INSIDE one Catalyst `aggregate` fold per query
    * row over the collected candidate array — no driver loop, no UDF.
    * Per-query work is k·fetchK·dim-bounded; the only shuffle is the
    * Q×fetchK candidate groupBy. First pick (empty selected set) scores
    * `lambda * rel` — the pure-relevance argmax. Ties break to the
    * smaller doc id. With `lambda` dyadic (default 3/4) the float chain
    * is engine-portable.
    *
    * Output: (`query_id`, `rank` 1..k in selection order, `doc_id`,
    * `rel_r` = round-6 cosine relevance).
    */
  def mmrSelect(docs: DataFrame, queries: DataFrame, k: Int, fetchK: Int,
      lambda: Double = 0.75, docId: String = "id", docVec: String = "embedding",
      queryId: String = "id", queryVec: String = "embedding"): DataFrame = {
    require(fetchK >= k, s"fetchK ($fetchK) must be >= k ($k)")

    def dot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, _ * _), lit(0.0), _ + _)
    def normalize(v: Column): Column = {
      val vd = transform(v, _.cast("double"))
      transform(vd, x => x / sqrt(dot(vd, vd)))
    }

    val dn = docs.select(col(docId).as("_id"), normalize(col(docVec)).as("_vn"))
    val qn = queries.select(col(queryId).as("_qid"),
      normalize(col(queryVec)).as("_qvn"))

    // candidate stage: the standard broadcast + bounded-heap knn on the
    // dot metric over normalized vectors (distance = -cosine relevance)
    val cands = bruteForce(dn, qn, fetchK, metric = "dot",
      docId = "_id", docVec = "_vn", queryId = "_qid", queryVec = "_qvn")

    val withVec = cands
      .join(dn.withColumnRenamed("_id", "id"), "id")
      .select(col("query_id"), col("rank"),
        struct(col("id"), col("_vn").as("vn"),
          (-col("distance")).as("rel")).as("_c"))

    // rank already encodes (rel desc, id asc); sort_array restores it
    // after the unordered collect
    val collected = withVec.groupBy("query_id")
      .agg(transform(array_sort(collect_list(struct(col("rank"), col("_c")))),
        x => x.getField("_c")).as("_rem"))

    val lamRel = lit(lambda)
    val lamDiv = lit(1.0 - lambda)
    val emptySel = array().cast("array<struct<id:bigint,vn:array<double>,rel:double>>")

    val sel = aggregate(
      sequence(lit(1), lit(k)),
      struct(emptySel.as("sel"), col("_rem").as("rem")),
      (st, _) => {
        val rem = st.getField("rem")
        val selArr = st.getField("sel")
        val scored = transform(rem, c => struct(
          (lamRel * c.getField("rel") - lamDiv * coalesce(
            array_max(transform(selArr,
              s => dot(s.getField("vn"), c.getField("vn")))),
            lit(0.0))).as("sc"),
          (-c.getField("id")).as("nid"),
          c.as("c")))
        // list_reduce shape: first element is the init, fold the tail
        val best = aggregate(
          slice(scored, lit(2), greatest(size(scored) - 1, lit(0))),
          element_at(scored, 1),
          (a, b) => when(b.getField("sc") > a.getField("sc") ||
            (b.getField("sc") === a.getField("sc") &&
              b.getField("nid") > a.getField("nid")), b).otherwise(a))
        when(size(rem) > lit(0), struct(
          concat(selArr, array(best.getField("c"))).as("sel"),
          filter(rem, c => c.getField("id") =!=
            best.getField("c").getField("id")).as("rem")))
          .otherwise(st)
      }).getField("sel")

    collected.select(col("query_id"), posexplode(sel).as(Seq("_pos", "_s")))
      .select(col("query_id"),
        (col("_pos") + 1).cast("int").as("rank"),
        col("_s.id").as("doc_id"),
        round(col("_s.rel"), 6).as("rel_r"))
  }

  def tripletMine(docs: DataFrame, idCol: String, vecCol: String,
      labelCol: String, metric: String = "cosine",
      kCand: Int = 128): DataFrame = {
    val hits = bruteForce(docs, docs, kCand, metric,
      docId = idCol, docVec = vecCol, queryId = idCol, queryVec = vecCol,
      excludeSelf = true)
    tripletsFromHits(hits, docs.select(col(idCol), col(labelCol)),
      idCol, labelCol)
  }

  /** Label-aware triplet selection over any (query_id, id, distance,
    * rank) hit table: per anchor, the lowest-rank hit with the anchor's
    * label and the lowest-rank hit with a different label. One
    * broadcast-or-shuffle equi-join against the (id, label) table and
    * one partial-aggregated min(struct) per side — no windows. */
  def tripletsFromHits(hits: DataFrame, labels: DataFrame,
      idCol: String, labelCol: String): DataFrame = {
    val lab = labels.select(col(idCol).as("_lid"), col(labelCol).as("_lab"))
    val joined = hits
      .join(lab, col("id") === col("_lid"))
      .withColumnRenamed("_lab", "_hitLab").drop("_lid")
      .join(lab, col("query_id") === col("_lid"))
      .withColumnRenamed("_lab", "_ancLab").drop("_lid")
    def side(pred: Column, prefix: String): DataFrame =
      joined.where(pred)
        .groupBy(col("query_id"))
        .agg(min(struct(col("rank"), col("id"), col("distance"))).as("_m"))
        .select(col("query_id"),
          col("_m.id").as(s"${prefix}_id"),
          col("_m.distance").as(s"${prefix}_dist"))
    val pos = side(col("_hitLab") === col("_ancLab"), "pos")
    val neg = side(col("_hitLab") =!= col("_ancLab"), "neg")
    labels.select(col(idCol).as("anchor_id"))
      .join(pos.withColumnRenamed("query_id", "anchor_id"), Seq("anchor_id"), "left")
      .join(neg.withColumnRenamed("query_id", "anchor_id"), Seq("anchor_id"), "left")
  }

  /** knn-majority-vote classification (pseudo-labeling): each query takes
    * the most frequent label among its k nearest labeled docs, ties →
    * the smallest label (deterministic, engine-replayable). The semi-
    * supervised labeling step of training pipelines — label a small seed
    * set, propagate to the corpus. Works from [[bruteForce]] here;
    * at index scale feed [[classifyFromHits]] with `Ann` search hits
    * instead (the selection step is knn-source-agnostic, like
    * [[tripletsFromHits]]). Output: (query_id, label, votes). */
  def classify(docs: DataFrame, queries: DataFrame, k: Int,
      metric: String = "cosine", labelCol: String = "label",
      docId: String = "id", docVec: String = "embedding",
      queryId: String = "id", queryVec: String = "embedding"): DataFrame =
    classifyFromHits(
      bruteForce(docs, queries, k, metric, docId, docVec, queryId, queryVec),
      docs.select(col(docId).as("id"), col(labelCol).as("label")))

  /** Majority vote over any (query_id, id, …) hit table joined to an
    * (id, label) table: one equi-join + one partially-aggregated count +
    * one min(struct) argmax per query — no windows. */
  def classifyFromHits(hits: DataFrame, labels: DataFrame): DataFrame =
    hits.join(labels, Seq("id"))
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("votes"))
      .groupBy(col("query_id"))
      .agg(min(struct((-col("votes")).as("nv"), col("label").as("l"))).as("_w"))
      .select(col("query_id"), col("_w.l").as("label"),
        (-col("_w.nv")).as("votes"))

  /** Reciprocal (mutual) kNN pairs from any hit table (query_id, id,
    * distance, rank): keep (a, b) only when b is in a's top-k AND a is
    * in b's top-k. One-directional neighborhood evidence is what hub
    * points fake — a hub lands in thousands of top-k lists whose
    * members it does not reciprocate — so mutuality is the standard
    * cheap filter before near-dup clustering or bitext alignment (the
    * set-intersection cousin of [[marginPairs]]' ratio rule).
    *
    * Hit-table-agnostic like [[classifyFromHits]]: feed [[bruteForce]]
    * output at gate scale, `Ann` search hits at index scale. One
    * self-equi-join of the hit table on the swapped (id, query_id) key —
    * shuffle O(|hits|), never touches vectors. Output: (a, b, rank_ab,
    * rank_ba, distance) with a < b, distance from the a→b direction
    * (equal to b→a for the symmetric metrics). */
  def mutualPairsFromHits(hits: DataFrame): DataFrame = {
    val fwd = hits.select(col("query_id").as("a"), col("id").as("b"),
      col("rank").as("rank_ab"), col("distance"))
    val rev = hits.select(col("id").as("a"), col("query_id").as("b"),
      col("rank").as("rank_ba"))
    fwd.join(rev, Seq("a", "b"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"), col("rank_ab"), col("rank_ba"),
        col("distance"))
  }

  /** Margin-based pair mining (Artetxe & Schwenk 2019 — the LASER/
    * CCMatrix bitext-mining rule): for every row of `a`, its best `b`
    * candidate by the ratio margin
    *
    *   margin(x, y) = cos(x, y) / ((Σ_{z∈NNk(x)} cos(x,z)
    *                              + Σ_{z∈NNk(y)} cos(y,z)) / 2k)
    *
    * which penalizes hubs (y's close to everything) that plain cosine
    * top-1 would over-select. Candidates are x's forward top-k; the
    * backward top-k of every y supplies the y-side normalizer.
    *
    * Determinism: both directions ride the gated [[bruteForce]] kernel
    * (tie rule (dist, id)); per-neighbor cosines are ppb-rounded longs,
    * so the neighborhood sums are EXACT integers and the margin is one
    * fixed-order double expression over them; best-per-a breaks margin
    * ties toward the smallest b id. Returns (a_id, b_id, c_ppb, s_a,
    * s_b, margin) — the integer columns gate the whole chain.
    *
    * Scale: two knn passes (each the broadcast-query bounded-heap plan)
    * + two ≤|A|k-row aggregations + one broadcast-sized join; at index
    * scale feed [[graft.operators.Ann]] hits through the same shape. */
  def marginPairs(a: DataFrame, b: DataFrame, k: Int,
      aId: String = "id", bId: String = "id",
      vecCol: String = "embedding"): DataFrame = {
    def cosPpb = round((lit(1.0) - col("distance")) * lit(1e9)).cast("long")
    val fwd = bruteForce(b, a, k, "cosine", docId = bId, docVec = vecCol,
        queryId = aId, queryVec = vecCol)
      .select(col("query_id").as("a_id"), col("id").as("b_id"),
        cosPpb.as("c_ppb"))
    val bwd = bruteForce(a, b, k, "cosine", docId = aId, docVec = vecCol,
        queryId = bId, queryVec = vecCol)
      .select(col("query_id").as("b_id"), cosPpb.as("c_ppb"))
    val sA = fwd.groupBy("a_id").agg(sum("c_ppb").as("s_a"))
    val sB = bwd.groupBy("b_id").agg(sum("c_ppb").as("s_b"))
    val cand = fwd.join(sA, Seq("a_id")).join(sB, Seq("b_id"))
      .withColumn("margin",
        (lit(2.0 * k) * col("c_ppb").cast("double")) /
          (col("s_a") + col("s_b")).cast("double"))
    cand.groupBy("a_id")
      .agg(min(struct((-col("margin")).as("nm"), col("b_id").as("b"),
        col("c_ppb").as("c"), col("s_a").as("sa"), col("s_b").as("sb")))
        .as("_w"))
      .select(col("a_id"), col("_w.b").as("b_id"), col("_w.c").as("c_ppb"),
        col("_w.sa").as("s_a"), col("_w.sb").as("s_b"),
        (-col("_w.nm")).as("margin"))
  }

  /** kth-NN distance outlier scoring (Ramaswamy et al. 2000) over a
    * knn hit table — the embedding-space outlier-removal signal of
    * corpus curation (far-from-everything rows are mislabeled, corrupt,
    * or off-distribution). Scores: `kth_distance` (the classic D^k) and
    * `mean_distance` over ranks 1..k (the smoothed variant), the latter
    * summed in RANK order via a fold over the sorted hit array so the
    * float chain is fixed-order and engine-replayable. Rows with fewer
    * than k hits are dropped (their D^k is undefined).
    *
    * Hit-table-agnostic like [[classifyFromHits]]: feed [[bruteForce]]
    * output at gate scale or [[graft.operators.Ann]] search hits at
    * index scale — the scoring is one groupBy over O(Q·k) rows. */
  def outlierFromHits(hits: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val perQ = hits.where(col("rank") <= k)
      .groupBy("query_id")
      .agg(sort_array(collect_list(
        struct(col("rank"), col("distance")))).as("_h"))
      .where(size(col("_h")) === k)
    perQ.select(col("query_id"),
      element_at(col("_h"), k).getField("distance").as("kth_distance"),
      (aggregate(col("_h"), lit(0.0),
        (acc, x) => acc + x.getField("distance")) / k).as("mean_distance"))
  }

  /** Self-knn convenience for [[outlierFromHits]]: every doc scored
    * against the rest of the corpus. */
  def outlierScores(docs: DataFrame, k: Int, metric: String = "cosine",
      idCol: String = "id", vecCol: String = "embedding"): DataFrame =
    outlierFromHits(
      bruteForce(docs, docs, k, metric, docId = idCol, docVec = vecCol,
        queryId = idCol, queryVec = vecCol, excludeSelf = true), k)

  /** Local Outlier Factor (Breunig et al. 2000) from a self-knn hit
    * table (`query_id`, `doc_id`, `distance`, `rank`) — the DENSITY-
    * relative outlier score: LOF ≈ 1 means "as dense as my neighbors",
    * ≫ 1 means "locally sparse" — the complement of [[outlierFromHits]]'s
    * absolute kth-distance (which misses outliers near dense clusters).
    *
    * Kept engine-replayable by the quantize-once discipline:
    * reachability reach(p, o) = max(kdist(o), d(p, o)) is a max of
    * exact doubles, quantized ONCE to ppm; lrd(p) = k·10^15 div
    * Σreach_ppm(p) is one exact integer floor division; LOF's numerator
    * Σ lrd_ppb(o) is an exact long sum; the single float op is the final
    * ratio of two exact integers. Neighborhoods are the hit table's
    * rank ≤ k rows (the knn (distance, id) tie rule); nodes with fewer
    * than k neighbors drop (the [[outlierFromHits]] convention); a node
    * whose k neighbors are all at distance 0 (rsum = 0) gets null lrd/lof.
    *
    * Scale shape: hit-table-agnostic (feed [[Ann]] hits at corpus
    * scale) — two self-joins of the O(N·k) hit table on its id keys +
    * two partial-agg groupBys; no windows over data, no driver state.
    *
    * Returns (`query_id`, `rsum_ppm`, `lrd_ppb`, `lof_num`, `lof`). */
  def lofFromHits(hits: DataFrame, k: Int, docCol: String = "id"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val nbrs = hits.where(col("rank") <= k)
      .select(col("query_id").as("p"), col(docCol).as("o"),
        col("distance").as("d"))
    val kdist = hits.where(col("rank") === k)
      .select(col("query_id").as("o"), col("distance").as("kdist"))
    val rsum = nbrs.join(kdist, Seq("o"))
      .select(col("p"),
        round(greatest(col("kdist"), col("d")) * lit(1e6)).cast("long")
          .as("_r"))
      .groupBy("p")
      .agg(count(lit(1)).as("_n"), sum(col("_r")).as("rsum_ppm"))
      .where(col("_n") === k)
    val lrd = rsum.select(col("p"),
      col("rsum_ppm"),
      when(col("rsum_ppm") > 0L,
        expr(s"(CAST($k AS BIGINT) * 1000000000000000) div rsum_ppm"))
        .as("lrd_ppb"))
    // a neighbor with null lrd (duplicate-point rsum = 0) would silently
    // shrink the sum — exclude it so the _m = k completeness check
    // drops the affected node instead (documented convention)
    val lofNum = nbrs
      .join(lrd.where(col("lrd_ppb").isNotNull)
        .select(col("p").as("o"), col("lrd_ppb").as("_lo")), Seq("o"))
      .groupBy("p")
      .agg(count(lit(1)).as("_m"), sum(col("_lo")).as("lof_num"))
      .where(col("_m") === k)
    lrd.join(lofNum, Seq("p"), "left")
      .select(col("p").as("query_id"), col("rsum_ppm"), col("lrd_ppb"),
        col("lof_num"),
        when(col("lrd_ppb").isNotNull && col("lof_num").isNotNull,
          col("lof_num").cast("double") /
            (col("lrd_ppb") * k).cast("double")).as("lof"))
  }

  /** Self-knn convenience for [[lofFromHits]]. */
  def lofScores(docs: DataFrame, k: Int, metric: String = "cosine",
      idCol: String = "id", vecCol: String = "embedding"): DataFrame =
    lofFromHits(
      bruteForce(docs, docs, k, metric, docId = idCol, docVec = vecCol,
        queryId = idCol, queryVec = vecCol, excludeSelf = true), k)
}
