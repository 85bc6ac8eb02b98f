package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ranking / IR evaluation metrics over a binary-relevance array — the
  * reference's per-document metrics applied to `matches` vs ground truth
  * (reference: docarray/math/evaluation.py:14-168;
  * docarray/array/mixins/evaluation.py:15-87 zip-join + corpus mean).
  *
  * All metrics are pure Column expressions over `array<int>` (1 = relevant,
  * ordered by rank ascending) so they run inside whole-stage codegen, and
  * the corpus-level aggregate is a plain `avg`.
  */
object Evaluate {

  /** precision@k (reference: math/evaluation.py precision_at_k). */
  def precisionAtK(rel: Column, k: Int): Column =
    aggregate(slice(rel, 1, k), lit(0), _ + _).cast("double") / k

  /** r-precision: precision at R = number of relevant docs in the list
    * (reference: math/evaluation.py:14-31). */
  def rPrecision(rel: Column): Column = {
    val r = aggregate(rel, lit(0), _ + _)
    when(r === 0, lit(0.0))
      .otherwise(aggregate(slice(rel, lit(1), r), lit(0), _ + _).cast("double") / r)
  }

  /** hit@k: 1 if any of the first k is relevant. */
  def hitAtK(rel: Column, k: Int): Column =
    when(exists(slice(rel, 1, k), _ === 1), lit(1.0)).otherwise(lit(0.0))

  /** reciprocal rank of the first relevant hit (0 when none). */
  def reciprocalRank(rel: Column): Column = {
    val pos = array_position(rel, 1)
    when(pos === 0, lit(0.0)).otherwise(lit(1.0) / pos.cast("double"))
  }

  /** average precision over the list (reference: average_precision). */
  def averagePrecision(rel: Column): Column = {
    val n = size(rel)
    val hits = aggregate(rel, lit(0), _ + _)
    val summed = aggregate(
      sequence(lit(1), n, lit(1)),
      struct(lit(0).as("seen"), lit(0.0).as("ap")),
      (acc, i) => {
        val isRel = element_at(rel, i) === 1
        val seen = acc.getField("seen") + when(isRel, 1).otherwise(0)
        val ap = acc.getField("ap") +
          when(isRel, seen.cast("double") / i.cast("double")).otherwise(0.0)
        struct(seen.as("seen"), ap.as("ap"))
      },
      acc => acc.getField("ap"))
    when(hits === 0, lit(0.0)).otherwise(summed / hits.cast("double"))
  }

  /** recall@k given the total number of relevant docs for the query
    * (reference: recall_at_k(max_rel)). */
  def recallAtK(rel: Column, k: Int, totalRelevant: Column): Column =
    when(totalRelevant === 0, lit(0.0))
      .otherwise(aggregate(slice(rel, 1, k), lit(0), _ + _).cast("double") /
        totalRelevant.cast("double"))

  /** f1@k from precision@k and recall@k (reference: f1_score_at_k). */
  def f1AtK(rel: Column, k: Int, totalRelevant: Column): Column = {
    val p = precisionAtK(rel, k)
    val r = recallAtK(rel, k, totalRelevant)
    when(p + r === 0.0, lit(0.0)).otherwise(lit(2.0) * p * r / (p + r))
  }

  /** DCG@k with binary gains, log2 discount (reference: dcg_at_k). */
  def dcgAtK(rel: Column, k: Int): Column =
    aggregate(
      sequence(lit(1), least(lit(k), size(rel)), lit(1)),
      lit(0.0),
      (acc, i) => acc +
        element_at(rel, i).cast("double") /
          (log(i.cast("double") + 1.0) / log(lit(2.0))))

  /** NDCG@k: DCG normalized by the ideal (all relevant first). */
  def ndcgAtK(rel: Column, k: Int): Column = {
    val ideal = dcgAtK(array_sort(rel, (a, b) => b - a), k)
    when(ideal === 0.0, lit(0.0)).otherwise(dcgAtK(rel, k) / ideal)
  }

  /** Positional zip-join of a result set against ground truth by id
    * (reference: evaluation.py:40-64 alignment check + per-pair metric),
    * for DataFrames of (id, rel: array<int>). */
  def evaluate(results: DataFrame, idCol: String, relCol: String,
      metrics: Map[String, Column => Column]): DataFrame = {
    val cols = metrics.toSeq.map { case (name, fn) => fn(col(relCol)).as(name) }
    results.select(col(idCol) +: cols: _*)
  }

  /** `da.evaluate(groundtruth)`: align results to ground truth by id
    * (inner join — the reference asserts strict alignment,
    * evaluation.py:40-64) and turn each result's ranked match-id list into
    * a binary relevance array against the ground-truth match set. Feed the
    * result to the metric columns above; corpus mean = plain `avg`
    * (reference: evaluation.py:85-87). */
  def relevanceAgainst(results: DataFrame, groundTruth: DataFrame,
      idCol: String = "id", matchesCol: String = "matches"): DataFrame = {
    val gt = groundTruth.select(col(idCol).as("_gid"),
      col(matchesCol).as("_gt_matches"))
    results.select(col(idCol), col(matchesCol))
      .join(gt, col(idCol) === col("_gid"), "inner")
      .select(col(idCol),
        transform(col(matchesCol),
          m => when(array_contains(col("_gt_matches"), m), 1).otherwise(0))
          .as("rel"))
  }

  /** EXACT distributed ROC-AUC (Mann–Whitney rank-sum with average-rank
    * tie handling — the textbook definition, not a sampled estimate):
    * the probability that a uniformly random positive outscores a
    * uniformly random negative, with ties counting half. The classifier
    * eval for [[QualityClassifier]]-style keep rules at corpus scale.
    *
    * Scale shape: global rank positions come from
    * [[GroupOps.globalOrderIndex]] (range partition + zipWithIndex —
    * never a single-partition sort); tie groups collapse to one row per
    * DISTINCT score, and all rank arithmetic stays in integer
    * HALF-ranks (2·avgrank = 2·gmin + gcnt + 1), so the rank sums are
    * exact and summation-order-free — the single final division is the
    * only floating-point operation (exact while 2·P·N < 2^53), which
    * makes the whole statistic replayable bit-for-bit in an external
    * engine. Null scores/labels are dropped. Returns ONE row:
    * (n_pos, n_neg, auc — null when either class is empty). */
  def aucExact(df: DataFrame, score: Column, positive: Column): DataFrame = {
    val base = df.select(score.as("_sc"), positive.cast("boolean").as("_pos"))
      .where(col("_sc").isNotNull && col("_pos").isNotNull)
    val idx = GroupOps.globalOrderIndex(base, "_gi", col("_sc"))
    idx.groupBy("_sc")
      .agg(min("_gi").as("_gmin"), count(lit(1)).as("_gcnt"),
        sum(col("_pos").cast("long")).as("_gpos"))
      .agg(sum("_gpos").as("n_pos"),
        (sum("_gcnt") - sum("_gpos")).as("n_neg"),
        sum(col("_gpos") * (lit(2L) * col("_gmin") + col("_gcnt") + 1))
          .as("_r2"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          (col("_r2") - col("n_pos") * (col("n_pos") + 1)).cast("double") /
            (lit(2.0) * col("n_pos") * col("n_neg")))
          .as("auc"))
  }

  /** Calibration / reliability bins for a [0, 1]-ranged score against a
    * binary outcome: per bin (floor(score·nBins), clamped), the exact
    * integer n / positive count / ppm score sum, plus the derived mean
    * score and positive fraction (one division each). The reliability-
    * diagram input and ECE numerator at corpus scale — ONE groupBy over
    * ≤ nBins keys with map-side combine; every aggregate is an exact
    * integer, so the table is layout-invariant and replayable. Null
    * scores/labels are dropped. */
  def calibrationBins(df: DataFrame, score: Column, positive: Column,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    val base = df.select(score.as("_sc"), positive.cast("boolean").as("_pos"))
      .where(col("_sc").isNotNull && col("_pos").isNotNull)
    base
      .withColumn("bin", greatest(least(
        floor(col("_sc") * nBins).cast("int"), lit(nBins - 1)), lit(0)))
      .withColumn("_sppm", round(col("_sc") * 1e6).cast("long"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(col("_pos").cast("long")).as("n_pos"),
        sum("_sppm").as("score_ppm_sum"))
      .withColumn("mean_score",
        col("score_ppm_sum").cast("double") / (col("n").cast("double") * 1e6))
      .withColumn("frac_pos",
        col("n_pos").cast("double") / col("n").cast("double"))
  }

  /** Isotonic regression calibration — pool-adjacent-violators via the
    * closed-form MINIMAX identity (Robertson–Wright–Dykstra 1988, §1.2):
    *
    *   g(i) = max_{j ≤ i} min_{k ≥ i} ( Σ_{b=j..k} pos_b / Σ_{b=j..k} n_b )
    *
    * — the monotone fit that PAV's sequential pooling loop computes,
    * but with NO sequential state, so it distributes as plain joins and
    * replays exactly on any engine. The standard calibrator when the
    * reliability curve is non-monotone (Platt's sigmoid assumes a
    * shape; isotonic doesn't).
    *
    * Twin of [[isotonicCalibrate]] (one result, two altitudes): that
    * one bins with [[calibrationBins]] and runs
    * PAV's pooling loop DRIVER-side over ≤ nBins collected rows (the
    * guarded-driver-fit altitude); this one never collects — the whole
    * fit is plan-side, for callers that forbid driver state or want the
    * grid in the thousands. Same fitted values on the same binning
    * (spec-asserted: both equal the sequential-PAV reference).
    *
    * Scores quantize ONCE to `quantScale` fixed point. The 100 TB work
    * is the single groupBy collapsing the corpus to the bucket grid;
    * the minimax runs on the GRID (valve-bounded at `maxBuckets`,
    * refused loudly — calibration grids are small by construction), so
    * its windows are grid-bounded, never data-sized. Interval means
    * stay exact (num, den) rationals; ordering uses the IEEE quotient
    * (correctly rounded identically on both engines) with a
    * deterministic (interval-end, interval-start) tiebreak. Returns one
    * row per bucket, fit monotone non-decreasing:
    * (bucket, n, n_pos, fit_num, fit_den, fit). */
  def isotonicFit(df: DataFrame, score: Column, positive: Column,
      quantScale: Long = 100L, maxBuckets: Int = 256): DataFrame = {
    require(quantScale >= 1L, s"quantScale must be >= 1, got $quantScale")
    require(maxBuckets >= 2, s"maxBuckets must be >= 2, got $maxBuckets")
    val base = df.select(score.cast("double").as("_sc"),
        positive.cast("boolean").as("_p"))
      .where(col("_sc").isNotNull && col("_p").isNotNull)
      .select(round(col("_sc") * quantScale).cast("long").as("_b"),
        col("_p").cast("long").as("_y"))
    val grid0 = base.groupBy("_b")
      .agg(count(lit(1)).as("_n"), sum("_y").as("_k"))
    val sizeGuard = broadcast(grid0.agg(
      when(count(lit(1)) <= maxBuckets, count(lit(1)))
        .otherwise(raise_error(concat(lit(
          s"isotonicFit grid exceeds maxBuckets=$maxBuckets (coarsen " +
            "quantScale): "), count(lit(1)).cast("string")))).as("_nb")))
    // grid-bounded windows (≤ maxBuckets rows — the count-grid rule).
    // _bi consumes the guard column so column pruning cannot optimize
    // the raise_error away (it did — spec-caught).
    val w = org.apache.spark.sql.expressions.Window.orderBy("_b")
    val grid = grid0.crossJoin(sizeGuard)
      .withColumn("_bi",
        (row_number().over(w) + col("_nb") - col("_nb")).cast("int"))
      .withColumn("_cn", sum("_n").over(w))
      .withColumn("_ck", sum("_k").over(w))
    val j = grid.select(col("_bi").as("_jbi"),
      (col("_cn") - col("_n")).as("_njlo"), (col("_ck") - col("_k")).as("_kjlo"))
    val k = grid.select(col("_bi").as("_kbi"),
      col("_cn").as("_nkhi"), col("_ck").as("_kkhi"))
    val intervals = j.join(k, col("_jbi") <= col("_kbi"))
      .select(col("_jbi"), col("_kbi"),
        (col("_kkhi") - col("_kjlo")).as("_kk"),
        (col("_nkhi") - col("_njlo")).as("_nn"))
      .withColumn("_v", col("_kk").cast("double") / col("_nn").cast("double"))
    val i = grid.select(col("_bi").as("_ibi"), col("_b").as("bucket"),
      col("_n").as("n"), col("_k").as("n_pos"))
    val wMin = org.apache.spark.sql.expressions.Window
      .partitionBy("_jbi", "_ibi")
      .orderBy(col("_v").asc, col("_kbi").asc)
    val wMax = org.apache.spark.sql.expressions.Window
      .partitionBy("_ibi")
      .orderBy(col("_v").desc, col("_jbi").asc)
    intervals
      .join(i, col("_jbi") <= col("_ibi") && col("_ibi") <= col("_kbi"))
      .withColumn("_rmin", row_number().over(wMin))
      .where(col("_rmin") === 1)
      .withColumn("_rmax", row_number().over(wMax))
      .where(col("_rmax") === 1)
      .select(col("bucket"), col("n"), col("n_pos"),
        col("_kk").as("fit_num"), col("_nn").as("fit_den"),
        col("_v").as("fit"))
  }

  /** Exact tie-aware Spearman rank correlation between two per-row
    * signals — the signal-agreement QA check (does the model quality
    * score order docs like the heuristic? does length correlate with
    * perplexity?). Ranks use DOUBLED average ranks (2·gmin + gcnt + 1
    * per tie group — integers, the [[aucExact]] half-rank rule), so all
    * five moment sums are exact integers (exact while ~4n³ < 2⁶³, i.e.
    * n ≲ 1.2M rows — beyond that swap the sums to decimal); rho is the
    * Pearson formula over them with two sqrts and one division.
    *
    * Scale shape: each signal's rank table comes from
    * [[GroupOps.globalOrderIndex]] (range partition + zipWithIndex,
    * never a 1-partition sort) collapsed to one row per DISTINCT value,
    * joined back by value. Returns one row: (n, sx, sy, sxy, sxx, syy,
    * rho — null when either signal is constant). */
  def spearmanExact(df: DataFrame, x: Column, y: Column): DataFrame = {
    val base = df.select(x.as("_x"), y.as("_y"))
      .where(col("_x").isNotNull && col("_y").isNotNull)
    def rankTable(c: String): DataFrame =
      GroupOps.globalOrderIndex(base.select(col(c)), "_gi", col(c))
        .groupBy(c)
        .agg((lit(2L) * min("_gi") + count(lit(1)) + 1L).as(s"${c}r2"))
    val joined = base
      .join(rankTable("_x"), Seq("_x"))
      .join(rankTable("_y"), Seq("_y"))
    val agg = joined.agg(
      count(lit(1)).as("n"),
      sum("_xr2").as("sx"), sum("_yr2").as("sy"),
      sum(col("_xr2") * col("_yr2")).as("sxy"),
      sum(col("_xr2") * col("_xr2")).as("sxx"),
      sum(col("_yr2") * col("_yr2")).as("syy"))
    val varX = col("n") * col("sxx") - col("sx") * col("sx")
    val varY = col("n") * col("syy") - col("sy") * col("sy")
    agg.withColumn("rho",
      when(varX > 0L && varY > 0L,
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (sqrt(varX.cast("double")) * sqrt(varY.cast("double"))))
        .otherwise(lit(null).cast("double")))
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic over an integer
    * measure — the NUMERIC drift test complementing
    * [[LangModel.jsDivergencePairs]]'s categorical divergence (doc
    * length / token count / size distribution shift between crawls or
    * slices). D = max_v |F₁(v) − F₂(v)| is computed as the exact
    * integer max |cum₁·n₂ − cum₂·n₁| over the merged distinct values
    * (exact while n₁·n₂ < 2⁶³), so the statistic is layout-invariant
    * with ONE final division.
    *
    * Scale shape: per-side distinct-value count aggregations, a full
    * outer merge, then cumulative counts via the range-partition +
    * two-pass prefix sum ([[Pack.packBlocks]]'s pattern) — never a
    * single-partition window. Returns one row: (n1, n2, d_num, at_v =
    * the smallest value attaining the max, d). */
  def ksTest2(a: DataFrame, b: DataFrame, value: Column): DataFrame = {
    def side(df: DataFrame): DataFrame =
      df.select(value.cast("long").as("_v")).where(col("_v").isNotNull)
        .groupBy("_v").agg(count(lit(1)).as("_c"))
    ksTest2Counts(side(a), side(b), col("_v"), col("_c"))
  }

  /** [[ksTest2]] over PRE-AGGREGATED (value, count) distributions — the
    * entry point for histogram state that never materializes raw rows:
    * the [[graft.streaming.EventStream.streamingValueCounts]] live
    * distribution vs a frozen reference, or any two stored histograms.
    * Duplicate value rows (merged deltas) sum; non-positive counts
    * drop. Identical statistic, same exact-integer guarantees. */
  def ksTest2Counts(a: DataFrame, b: DataFrame, value: Column,
      cnt: Column): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = a.sparkSession
    def side(df: DataFrame, cName: String): DataFrame =
      df.select(value.cast("long").as("_v"), cnt.cast("long").as("_n"))
        .where(col("_v").isNotNull && col("_n") > 0L)
        .groupBy("_v").agg(sum("_n").as(cName))
    val merged = side(a, "_c1").join(side(b, "_c2"), Seq("_v"), "full_outer")
      .select(col("_v"), coalesce(col("_c1"), lit(0L)).as("_c1"),
        coalesce(col("_c2"), lit(0L)).as("_c2"))
    val parts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val sorted = merged.repartitionByRange(parts, col("_v"))
      .sortWithinPartitions("_v")
    // pass 1: per-partition (Σc1, Σc2) → exclusive offsets; the totals
    // n1/n2 fall out of the same scan
    val partSums = sorted.rdd.mapPartitionsWithIndex { case (i, it) =>
      var s1 = 0L; var s2 = 0L
      it.foreach { r => s1 += r.getLong(1); s2 += r.getLong(2) }
      Iterator((i, s1, s2))
    }.collect().sortBy(_._1)
    val off1 = partSums.map(_._2).scanLeft(0L)(_ + _)
    val off2 = partSums.map(_._3).scanLeft(0L)(_ + _)
    val n1 = off1.last; val n2 = off2.last
    val bc = spark.sparkContext.broadcast((off1, off2))
    // pass 2: partition-local inclusive cumsum seeded with the offsets
    val rows = sorted.rdd.mapPartitionsWithIndex { case (i, it) =>
      var c1 = bc.value._1(i); var c2 = bc.value._2(i)
      it.map { r =>
        c1 += r.getLong(1); c2 += r.getLong(2)
        Row(r.getLong(0), c1, c2)
      }
    }
    val cums = spark.createDataFrame(rows, StructType(Seq(
      StructField("_v", LongType), StructField("_cum1", LongType),
      StructField("_cum2", LongType))))
    cums
      .select(col("_v"),
        abs(col("_cum1") * n2 - col("_cum2") * n1).as("_dnum"))
      .agg(max(struct(col("_dnum"), (-col("_v")).as("_nv"))).as("_w"))
      .select(lit(n1).as("n1"), lit(n2).as("n2"),
        col("_w._dnum").as("d_num"), (-col("_w._nv")).as("at_v"))
      .withColumn("d",
        when(lit(n1) > 0L && lit(n2) > 0L,
          col("d_num").cast("double") /
            (lit(n1).cast("double") * lit(n2).cast("double")))
          .otherwise(lit(null).cast("double")))
  }

  /** Exact tie-corrected Mann–Whitney U (Wilcoxon rank-sum) over an
    * integer measure — the LOCATION companion of [[ksTest2]]: KS asks
    * "did the distribution change shape anywhere", rank-sum asks "did
    * one slice shift systematically higher" (is the new crawl's doc
    * length stochastically larger?), robust to outliers where a mean
    * test is not.
    *
    * All statistics are exact integers on the [[spearmanExact]] doubled
    * tie-average-rank rule (2·gmin + t + 1 per distinct value from
    * [[GroupOps.globalOrderIndex]] — range partition + zipWithIndex,
    * never a 1-partition sort): `r1x2` = 2·ΣR₁ (exact while ~2n² < 2⁶³,
    * n ≲ 2·10⁹), `u1x2` = 2·U₁ = r1x2 − n₁(n₁+1), and the tie term
    * Σ(t³−t) accumulates in Decimal(38,0) (a single hot value's t³
    * overflows a long past t ~ 2·10⁶). z is ONE fixed-order float
    * chain over the normal approximation with the tie-corrected
    * variance and NO continuity correction (document-don't-guess;
    * [[mannKendall]] is the continuity-corrected one): z = (2U₁ −
    * n₁n₂) / (2·σ), σ² = (n₁n₂/12)·((n+1) − Σ(t³−t)/(n(n−1))); null
    * when either side is empty or σ² ≤ 0 (all values tied).
    *
    * Returns one row: (n1, n2, r1x2, u1x2, tie_cube decimal, z). */
  def mannWhitneyU(a: DataFrame, b: DataFrame, value: Column): DataFrame = {
    def side(df: DataFrame): DataFrame =
      df.select(value.cast("long").as("_v")).where(col("_v").isNotNull)
        .groupBy("_v").agg(count(lit(1)).as("_c"))
    mannWhitneyUCounts(side(a), side(b), col("_v"), col("_c"))
  }

  /** [[mannWhitneyU]] over PRE-AGGREGATED (value, count) distributions
    * (the [[ksTest2Counts]] companion — histogram state from
    * [[graft.streaming.EventStream.streamingValueCounts]] vs a frozen
    * reference). The doubled tie-average rank comes straight from the
    * merged histogram: r2(v) = 2·cumBefore(v) + t(v) + 1 with cumBefore
    * the exclusive prefix of t = c₁+c₂ (range-partition + two-pass
    * prefix sum, never a 1-partition sort) — ALGEBRAICALLY the raw-row
    * formula (min global index over equal values IS cumBefore), so the
    * statistics are bit-identical to the raw-row path. Duplicate value
    * rows sum; non-positive counts drop. */
  def mannWhitneyUCounts(a: DataFrame, b: DataFrame, value: Column,
      cnt: Column): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = a.sparkSession
    def side(df: DataFrame, cName: String): DataFrame =
      df.select(value.cast("long").as("_v"), cnt.cast("long").as("_n"))
        .where(col("_v").isNotNull && col("_n") > 0L)
        .groupBy("_v").agg(sum("_n").as(cName))
    val merged = side(a, "_c1").join(side(b, "_c2"), Seq("_v"), "full_outer")
      .select(col("_v"), coalesce(col("_c1"), lit(0L)).as("_c1"),
        coalesce(col("_c2"), lit(0L)).as("_c2"))
    val parts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val sorted = merged.repartitionByRange(parts, col("_v"))
      .sortWithinPartitions("_v")
    val partSums = sorted.rdd.mapPartitionsWithIndex { case (i, it) =>
      var t = 0L
      it.foreach { r => t += r.getLong(1) + r.getLong(2) }
      Iterator((i, t))
    }.collect().sortBy(_._1)
    val offs = partSums.map(_._2).scanLeft(0L)(_ + _)
    val bc = spark.sparkContext.broadcast(offs)
    val rows = sorted.rdd.mapPartitionsWithIndex { case (i, it) =>
      var cum = bc.value(i)
      it.map { r =>
        val c1 = r.getLong(1); val c2 = r.getLong(2); val t = c1 + c2
        val r2 = 2L * cum + t + 1L
        cum += t
        Row(c1, c2, t, r2)
      }
    }
    val df = spark.createDataFrame(rows, StructType(
      Seq("_c1", "_c2", "_t", "_r2").map(n =>
        StructField(n, LongType, nullable = false))))
    val agg = df.agg(
      coalesce(sum("_c1"), lit(0L)).as("n1"),
      coalesce(sum("_c2"), lit(0L)).as("n2"),
      coalesce(sum(col("_c1") * col("_r2")), lit(0L)).as("r1x2"),
      coalesce(sum((col("_t") * col("_t") * col("_t") - col("_t"))
        .cast("decimal(38,0)")), lit(0L).cast("decimal(38,0)")).as("tie_cube"))
      .withColumn("u1x2", col("r1x2") - col("n1") * (col("n1") + 1L))
    val n1d = col("n1").cast("double"); val n2d = col("n2").cast("double")
    val nd = (col("n1") + col("n2")).cast("double")
    val sigma2 = (n1d * n2d / 12.0) *
      ((nd + 1.0) - col("tie_cube").cast("double") / (nd * (nd - 1.0)))
    agg.withColumn("z",
      when(col("n1") > 0L && col("n2") > 0L && sigma2 > 0.0,
        (col("u1x2").cast("double") - n1d * n2d) / (lit(2.0) * sqrt(sigma2)))
        .otherwise(lit(null).cast("double")))
  }

  /** Exact tie-corrected Kruskal–Wallis H over an integer measure —
    * [[mannWhitneyU]]'s k-sample extension (one test across ALL slices:
    * "does doc length differ by language", not k² pairwise tests; the
    * ordinal companion of [[LangModel.termClassChi2]]'s categorical
    * association).
    *
    * The data-sized work is exact-integer: pooled doubled tie-average
    * ranks ([[GroupOps.globalOrderIndex]]), per-(group, value) counts,
    * per-group 2·R_g sums (exact while ~2n² < 2⁶³), and the tie term
    * Σ(t³−t) in Decimal(38,0). The k per-group float contributions
    * R_g²/n_g are folded in SORTED group order over a collected k-row
    * array (k = #groups, bounded; the q201 deterministic-fold rule —
    * a plain groupBy sum of doubles is partial-agg-order-dependent at
    * the ulp), so H = 12/(n(n+1))·ΣR_g²/n_g − 3(n+1) and the
    * tie-corrected H_c = H/(1 − ΣT/(n³−n)) are layout-invariant and
    * engine-replayable. Null H_c when the correction denominator ≤ 0
    * (all values tied); null H when n = 0 or k < 2.
    *
    * Returns one row: (n, k, tie_cube decimal, h, h_c). */
  def kruskalWallis(df: DataFrame, group: Column, value: Column): DataFrame = {
    val base = df.select(group.as("_g"), value.cast("long").as("_v"))
      .where(col("_g").isNotNull && col("_v").isNotNull)
    val ranks = GroupOps.globalOrderIndex(base.select(col("_v")), "_gi",
        col("_v"))
      .groupBy("_v").agg(
        (lit(2L) * min("_gi") + count(lit(1)) + 1L).as("_r2"),
        count(lit(1)).as("_t"))
    val perG = base.groupBy("_g", "_v").agg(count(lit(1)).as("_c"))
      .join(ranks, Seq("_v"))
      .groupBy("_g").agg(sum("_c").as("_ng"),
        sum(col("_c") * col("_r2")).as("_r2g"))
    val tots = ranks.agg(
      coalesce(sum("_t"), lit(0L)).as("n"),
      coalesce(sum((col("_t") * col("_t") * col("_t") - col("_t"))
          .cast("decimal(38,0)")),
        lit(0L).cast("decimal(38,0)")).as("tie_cube"))
    val folded = perG.agg(
      sort_array(collect_list(struct(col("_g"), col("_r2g"), col("_ng"))))
        .as("_gs"))
    val nd = col("n").cast("double")
    val s = aggregate(col("_gs"), lit(0.0), (acc, x) =>
      acc + x.getField("_r2g").cast("double") *
        x.getField("_r2g").cast("double") /
        (lit(4.0) * x.getField("_ng").cast("double")))
    val h = lit(12.0) / (nd * (nd + 1.0)) * col("_s") - lit(3.0) * (nd + 1.0)
    val corr = lit(1.0) -
      col("tie_cube").cast("double") / (nd * nd * nd - nd)
    folded.crossJoin(tots)
      .withColumn("k", size(col("_gs")).cast("long"))
      .withColumn("_s", s)
      .withColumn("h",
        when(col("n") > 0L && col("k") >= 2L, h)
          .otherwise(lit(null).cast("double")))
      .withColumn("h_c",
        when(col("h").isNotNull && corr > 0.0, col("h") / corr)
          .otherwise(lit(null).cast("double")))
      .select(col("n"), col("k"), col("tie_cube"), col("h"), col("h_c"))
  }

  /** Cohen's kappa — chance-corrected agreement between two categorical
    * labelings of the same rows (annotator vs annotator, classifier vs
    * gold: "is the langID right beyond what marginal guessing earns").
    * FULLY exact: with S = Σ_c rowMarginal_c · colMarginal_c,
    * κ = (n·agree − S) / (n² − S) — numerator and denominator are exact
    * Decimal(38,0) integers (products reach n², past long at n ~ 3·10⁹),
    * κ is ONE division. Null rows drop; κ null when the denominator is 0
    * (both sides constant and equal — agreement is vacuous).
    *
    * Scale shape: one count agg + two marginal aggs + a category-keyed
    * join of two ≤|categories|-row frames — no windows, no collect.
    * Returns one row: (n, agree, kappa_num, kappa_den, kappa). */
  def cohensKappa(df: DataFrame, a: Column, b: Column): DataFrame = {
    val base = df.select(a.cast("string").as("_a"), b.cast("string").as("_b"))
      .where(col("_a").isNotNull && col("_b").isNotNull)
    val ra = base.groupBy(col("_a").as("_c")).agg(count(lit(1)).as("_ra"))
    val rb = base.groupBy(col("_b").as("_c")).agg(count(lit(1)).as("_rb"))
    val sm = ra.join(rb, Seq("_c")) // categories on one side only add 0
      .agg(coalesce(sum((col("_ra") * col("_rb")).cast("decimal(38,0)")),
        lit(0L).cast("decimal(38,0)")).as("_s"))
    val tot = base.agg(count(lit(1)).as("n"),
      coalesce(sum(when(col("_a") === col("_b"), 1L).otherwise(0L)), lit(0L))
        .as("agree"))
    tot.crossJoin(sm)
      .withColumn("kappa_num",
        col("n").cast("decimal(38,0)") * col("agree") - col("_s"))
      .withColumn("kappa_den",
        col("n").cast("decimal(38,0)") * col("n") - col("_s"))
      .withColumn("kappa",
        when(col("kappa_den") =!= 0L,
          col("kappa_num").cast("double") / col("kappa_den").cast("double"))
          .otherwise(lit(null).cast("double")))
      .select(col("n"), col("agree"), col("kappa_num"), col("kappa_den"),
        col("kappa"))
  }

  /** Per-group Gini coefficient over nonnegative integer weights — the
    * concentration diagnostic ("is this source's token mass spread over
    * its vocabulary or dominated by a few boilerplate terms"; works
    * equally for bytes-per-domain or docs-per-cluster). Exact: with
    * items ranked ascending by weight within the group (1-based rank
    * rn), G = (2·Σrn·x − (n+1)·Σx) / (n·Σx) — numerator and denominator
    * are exact Decimal(38,0) integers, G is ONE division. Tie order
    * inside an equal-weight block cannot change Σrn·x (the block
    * contributes x·Σpositions regardless of permutation), so the
    * statistic is deterministic; rows with null/negative weight drop.
    *
    * Scale contract: the rank is a window PARTITIONED by the group —
    * fine while one group's item count fits a partition (vocabulary
    * sized, ~10⁷); for a single global Gini over billions of items
    * rank via [[GroupOps.globalOrderIndex]] instead. G null when
    * Σx = 0. Returns (group…, n, sx, six, gini). */
  def giniByGroup(df: DataFrame, groupCols: Seq[String], item: Column,
      weight: Column): DataFrame = {
    val base = df.select(groupCols.map(col) :+ item.as("_i") :+
        weight.cast("long").as("_x"): _*)
      .where(col("_x").isNotNull && col("_x") >= 0L)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*).orderBy(col("_x"), col("_i"))
    base.withColumn("_rn", row_number().over(w).cast("long"))
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"), sum("_x").as("sx"),
        sum((col("_rn") * col("_x")).cast("decimal(38,0)")).as("six"))
      .withColumn("gini",
        when(col("sx") > 0L,
          (lit(2L) * col("six") -
            (col("n") + 1L).cast("decimal(38,0)") * col("sx"))
            .cast("double") /
            (col("n").cast("decimal(38,0)") * col("sx")).cast("double"))
          .otherwise(lit(null).cast("double")))
  }

  /** CUPED variance-reduced experiment readout (Deng et al., WSDM 2013
    * "Improving the Sensitivity of Online Controlled Experiments"):
    * adjust each unit's outcome by its PRE-period covariate,
    * y′ = y − θ·(x − x̄) with θ = cov(x,y)/var(x), then read the
    * treatment/control difference off the adjusted metric — same
    * expectation, variance shrunk by the covariate's R², so experiments
    * decide faster on the same traffic.
    *
    * Engine-portable shape: θ's numerator/denominator are exact
    * Decimal(38,0) sums over the integer (x, y) inputs (quantize the
    * raw metric to ppm upstream), θ and x̄ are each ONE division; the
    * per-unit adjustment is a fixed-order double chain immediately
    * rounded back to an integer (the q123 quantize-once rule), so the
    * per-arm sums Σy′ and Σy′² are exact again and the final
    * diff/SE are mirrored one-chain floats. θ defaults to 0 (no
    * adjustment) when var(x) = 0. Scale: two aggregations + a 1-row
    * broadcast — no windows, no collect. Returns ONE row always;
    * diff/se null when either arm has no units: (n_t, n_c, adj_sum_t,
    * adj_sum_c, theta, diff, se). */
  def cuped(df: DataFrame, x: Column, y: Column, treat: Column): DataFrame = {
    val base = df.select(x.cast("long").as("_x"), y.cast("long").as("_y"),
        treat.cast("boolean").as("_t"))
      .where(col("_x").isNotNull && col("_y").isNotNull &&
        col("_t").isNotNull)
    val st = base.agg(count(lit(1)).as("_n"),
        coalesce(sum("_x"), lit(0L)).as("_sx"),
        coalesce(sum("_y"), lit(0L)).as("_sy"),
        coalesce(sum(col("_x").cast("decimal(19,0)") * col("_y")),
          lit(0L).cast("decimal(38,0)")).as("_sxy"),
        coalesce(sum(col("_x").cast("decimal(19,0)") * col("_x")),
          lit(0L).cast("decimal(38,0)")).as("_sxx"))
      .withColumn("_num", col("_n").cast("decimal(38,0)") * col("_sxy") -
        col("_sx").cast("decimal(38,0)") * col("_sy"))
      .withColumn("_den", col("_n").cast("decimal(38,0)") * col("_sxx") -
        col("_sx").cast("decimal(38,0)") * col("_sx"))
      .withColumn("theta",
        when(col("_den") =!= 0L,
          col("_num").cast("double") / col("_den").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("_xbar", col("_sx").cast("double") / col("_n").cast("double"))
    val adj = base
      .crossJoin(broadcast(st.select(col("theta"), col("_xbar"))))
      .withColumn("_a", round(col("_y").cast("double") -
        col("theta") * (col("_x").cast("double") - col("_xbar")))
        .cast("long"))
    // ONE aggregation with per-arm conditional sums — a filter-per-arm
    // pivot would re-execute the whole upstream (base agg + adjustment)
    // once per arm; theta rides along via first() so nothing re-derives
    // the stats frame
    val out = adj.agg(
      coalesce(sum(when(col("_t"), 1L)), lit(0L)).as("n_t"),
      coalesce(sum(when(!col("_t"), 1L)), lit(0L)).as("n_c"),
      coalesce(sum(when(col("_t"), col("_a"))), lit(0L)).as("adj_sum_t"),
      coalesce(sum(when(!col("_t"), col("_a"))), lit(0L)).as("adj_sum_c"),
      sum(when(col("_t"), col("_a").cast("decimal(19,0)") * col("_a")))
        .as("_s2t"),
      sum(when(!col("_t"), col("_a").cast("decimal(19,0)") * col("_a")))
        .as("_s2c"),
      first("theta").as("theta"))
    def varNat(n: Column, s: Column, s2: Column): Column =
      (n.cast("decimal(38,0)") * s2 - s.cast("decimal(38,0)") * s)
        .cast("double") / (n.cast("double") * n.cast("double") * lit(1e12))
    val armed = col("n_t") > 0L && col("n_c") > 0L
    out
      .withColumn("diff", when(armed,
        (col("adj_sum_t").cast("double") / col("n_t").cast("double") -
          col("adj_sum_c").cast("double") / col("n_c").cast("double")) / 1e6))
      .withColumn("se", when(armed, sqrt(
        varNat(col("n_t"), col("adj_sum_t"), col("_s2t")) /
          col("n_t").cast("double") +
        varNat(col("n_c"), col("adj_sum_c"), col("_s2c")) /
          col("n_c").cast("double"))))
      .select(col("n_t"), col("n_c"), col("adj_sum_t"), col("adj_sum_c"),
        col("theta"), col("diff"), col("se"))
  }

  /** Per-group exact trimmed AND winsorized means over an integer
    * measure — outlier-robust metric readouts (session value, latency,
    * doc length: one whale user shouldn't move the experiment metric).
    * With k = ⌊n·trimPpm/10⁶⌋ per group: the trimmed mean drops the k
    * lowest and k highest rows; the winsorized mean clamps them to the
    * band boundaries (the values at ranks k+1 and n−k). Which duplicate
    * of a boundary-tied value is dropped/clamped cannot change any sum
    * (equal values), so both statistics are deterministic; all sums are
    * exact integers and each mean is ONE division. Null means when
    * 2k ≥ n (everything trimmed) — and k = 0 degenerates to the plain
    * mean, exactly.
    *
    * Scale contract: per-group rank via a group-partitioned window
    * (group member counts fit a partition; same contract as
    * [[giniByGroup]] — use [[GroupOps.globalOrderIndex]] for one global
    * band over billions of rows). Returns (group…, n, k, trim_sum,
    * wins_sum, trimmed_mean, winsorized_mean). */
  def trimmedMeans(df: DataFrame, groupCols: Seq[String], value: Column,
      trimPpm: Long): DataFrame = {
    require(trimPpm >= 0L && trimPpm < 500000L,
      s"trimPpm must be in [0, 500000), got $trimPpm")
    val base = df.select(groupCols.map(col) :+ value.cast("long").as("_v"): _*)
      .where(col("_v").isNotNull)
    val counts = base.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      // `div` (integer division): Column./ on longs is DOUBLE division
      .withColumn("k", expr(s"(n * ${trimPpm}L) div 1000000L"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*).orderBy(col("_v"))
    // broadcast the GROUPS-sized counts frame — without the hint Spark's
    // stats put the windowed (data-sized) side under the broadcast
    base.withColumn("_rn", row_number().over(w).cast("long"))
      .join(broadcast(counts), groupCols)
      .groupBy(groupCols.map(col): _*)
      .agg(first("n").as("n"), first("k").as("k"),
        coalesce(sum(when(col("_rn") > col("k") &&
          col("_rn") <= col("n") - col("k"), col("_v"))), lit(0L))
          .as("trim_sum"),
        max(when(col("_rn") === col("k") + 1L, col("_v"))).as("_lo"),
        max(when(col("_rn") === col("n") - col("k"), col("_v"))).as("_hi"))
      .withColumn("wins_sum",
        when(col("n") > col("k") * 2L,
          col("trim_sum") + col("k") * col("_lo") + col("k") * col("_hi")))
      .withColumn("trimmed_mean",
        when(col("n") > col("k") * 2L,
          col("trim_sum").cast("double") /
            (col("n") - col("k") * 2L).cast("double")))
      .withColumn("winsorized_mean",
        when(col("n") > col("k") * 2L,
          col("wins_sum").cast("double") / col("n").cast("double")))
      .select(groupCols.map(col) :+ col("n") :+ col("k") :+
        col("trim_sum") :+ col("wins_sum") :+ col("trimmed_mean") :+
        col("winsorized_mean"): _*)
  }

  /** Van Elteren's stratified rank-sum test — [[mannWhitneyU]] blocked
    * by a stratum ("is the new slice's doc length shifted, comparing
    * ONLY within each language"), the rank analog of a stratified
    * t-test: confounding by stratum composition cancels because ranks
    * never cross strata. Locally-best weights w_s = 1/(n_s+1):
    * z = Σ_s (U_s − μ_s)·w_s / √(Σ_s σ²_s·w_s²).
    *
    * Engine-portable shape: per-stratum 2U−2μ and Σ(t³−t) are exact
    * integers off the per-(stratum, value) histogram (doubled midranks
    * from a stratum-partitioned cumulative — vocabulary-scale groups,
    * the [[giniByGroup]] window contract); each stratum's weighted
    * numerator/variance contribution is a fixed double chain quantized
    * ONCE to ppm/ppb longs (the q123 rule), so the cross-stratum sums
    * are order-free exact integers and z is one final chain. Strata
    * with an empty side drop (no within-stratum information —
    * documented rule). Returns one row: (k_strata, n1, n2,
    * num_ppm_sum, var_ppb_sum, z — null when the variance sum ≤ 0). */
  def vanElteren(df: DataFrame, stratum: Column, inA: Column,
      value: Column): DataFrame = {
    val base = df.select(stratum.as("_g"), inA.cast("boolean").as("_t"),
        value.cast("long").as("_v"))
      .where(col("_g").isNotNull && col("_t").isNotNull &&
        col("_v").isNotNull)
    val gv = base.groupBy("_g", "_v").agg(count(lit(1)).as("_tc"),
      coalesce(sum(when(col("_t"), 1L)), lit(0L)).as("_c1"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_g")).orderBy(col("_v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val ranked = gv.withColumn("_cum", coalesce(sum("_tc").over(w), lit(0L)))
      .withColumn("_r2", lit(2L) * col("_cum") + col("_tc") + 1L)
    val perS = ranked.groupBy("_g").agg(
        coalesce(sum("_c1"), lit(0L)).as("_n1"),
        coalesce(sum(col("_tc") - col("_c1")), lit(0L)).as("_n2"),
        coalesce(sum(col("_c1") * col("_r2")), lit(0L)).as("_r1x2"),
        coalesce(sum((col("_tc") * col("_tc") * col("_tc") - col("_tc"))
          .cast("decimal(38,0)")), lit(0L).cast("decimal(38,0)")).as("_tie"))
      .where(col("_n1") > 0L && col("_n2") > 0L)
    val ns = col("_n1") + col("_n2")
    val num2 = col("_r1x2") - col("_n1") * (col("_n1") + 1L) -
      col("_n1") * col("_n2") // 2(U - mu), exact
    val nsd = ns.cast("double")
    val sig2 = (col("_n1").cast("double") * col("_n2").cast("double") / 12.0) *
      ((nsd + 1.0) - col("_tie").cast("double") / (nsd * (nsd - 1.0)))
    val contrib = perS
      .withColumn("_num_ppm", round(num2.cast("double") /
        (lit(2.0) * (nsd + 1.0)) * 1e6).cast("long"))
      .withColumn("_var_ppb", round(sig2 /
        ((nsd + 1.0) * (nsd + 1.0)) * 1e9).cast("long"))
    contrib.agg(count(lit(1)).as("k_strata"),
        coalesce(sum("_n1"), lit(0L)).as("n1"),
        coalesce(sum("_n2"), lit(0L)).as("n2"),
        coalesce(sum("_num_ppm"), lit(0L)).as("num_ppm_sum"),
        coalesce(sum("_var_ppb"), lit(0L)).as("var_ppb_sum"))
      .withColumn("z",
        when(col("var_ppb_sum") > 0L,
          (col("num_ppm_sum").cast("double") / 1e6) /
            sqrt(col("var_ppb_sum").cast("double") / 1e9))
          .otherwise(lit(null).cast("double")))
  }

  /** McNemar's test over two paired binary decisions — "do these two
    * filters disagree SYMMETRICALLY, or does one systematically keep
    * what the other drops" (quality filter A vs B on the same docs;
    * before/after a filter change on a frozen corpus). Only the
    * discordant cells carry signal: χ² = (n₁₀ − n₀₁)²/(n₁₀ + n₀₁),
    * ~χ²(1) under the null. All four contingency cells are exact
    * integer aggregations in ONE map-side-combined pass; χ² is one
    * float chain, NO continuity correction (document-don't-guess —
    * [[mannKendall]] carries the corrected variant's pattern). Null
    * χ² when there are no discordant pairs; null-flag rows drop.
    * Returns one row: (n, n11, n10, n01, n00, chi2). */
  def mcnemar(df: DataFrame, a: Column, b: Column): DataFrame = {
    val base = df.select(a.cast("boolean").as("_a"), b.cast("boolean").as("_b"))
      .where(col("_a").isNotNull && col("_b").isNotNull)
    def cell(pa: Boolean, pb: Boolean): Column =
      coalesce(sum(when(col("_a") === pa && col("_b") === pb, 1L)
        .otherwise(0L)), lit(0L))
    base.agg(count(lit(1)).as("n"),
        cell(true, true).as("n11"), cell(true, false).as("n10"),
        cell(false, true).as("n01"), cell(false, false).as("n00"))
      .withColumn("chi2",
        when(col("n10") + col("n01") > 0L,
          ((col("n10") - col("n01")) * (col("n10") - col("n01")))
            .cast("double") / (col("n10") + col("n01")).cast("double"))
          .otherwise(lit(null).cast("double")))
  }

  /** Exact two-sample 1-D Wasserstein (earth-mover) distance over an
    * integer measure — [[ksTest2]]'s integral twin: where KS reports the
    * WORST CDF gap, W₁ = ∫|F₁−F₂| dv reports the TOTAL transport cost,
    * the drift signal that notices a whole-distribution shift KS
    * underweights. Computed as Σ_v |cum₁(v)·n₂ − cum₂(v)·n₁| · gap(v)
    * over merged distinct values (gap = distance to the next value), an
    * exact integer accumulated in Decimal(38,0), with ONE final division
    * by n₁·n₂ — layout-invariant and bit-replayable.
    *
    * Scale shape: identical to [[ksTest2]] — per-side distinct-value
    * aggs, full-outer merge, range-partition + two-pass prefix sum; the
    * gap lookahead threads each partition's first value through the
    * pass-1 collect (O(partitions) driver data). The CDF cross-product
    * needs n₁·n₂ < 2⁶³ (same bound as [[ksTest2]]); the gap multiply
    * and the sum run in exact decimal. Returns (n1, n2, w1_num decimal,
    * w1 double). */
  def w1Test2(a: DataFrame, b: DataFrame, value: Column): DataFrame = {
    def side(df: DataFrame): DataFrame =
      df.select(value.cast("long").as("_v")).where(col("_v").isNotNull)
        .groupBy("_v").agg(count(lit(1)).as("_c"))
    w1Test2Counts(side(a), side(b), col("_v"), col("_c"))
  }

  /** [[w1Test2]] over PRE-AGGREGATED (value, count) distributions — the
    * [[ksTest2Counts]] companion for histogram state
    * ([[graft.streaming.EventStream.streamingValueCounts]] vs a frozen
    * reference). Duplicate value rows sum; non-positive counts drop. */
  def w1Test2Counts(a: DataFrame, b: DataFrame, value: Column,
      cnt: Column): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = a.sparkSession
    def side(df: DataFrame, cName: String): DataFrame =
      df.select(value.cast("long").as("_v"), cnt.cast("long").as("_n"))
        .where(col("_v").isNotNull && col("_n") > 0L)
        .groupBy("_v").agg(sum("_n").as(cName))
    val merged = side(a, "_c1").join(side(b, "_c2"), Seq("_v"), "full_outer")
      .select(col("_v"), coalesce(col("_c1"), lit(0L)).as("_c1"),
        coalesce(col("_c2"), lit(0L)).as("_c2"))
    val parts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val sorted = merged.repartitionByRange(parts, col("_v"))
      .sortWithinPartitions("_v")
    // pass 1: per-partition count sums + the partition's FIRST value
    // (the lookahead seed for the preceding partition's last row)
    val partSums = sorted.rdd.mapPartitionsWithIndex { case (i, it) =>
      var s1 = 0L; var s2 = 0L; var first: Option[Long] = None
      it.foreach { r =>
        if (first.isEmpty) first = Some(r.getLong(0))
        s1 += r.getLong(1); s2 += r.getLong(2)
      }
      Iterator((i, s1, s2, first))
    }.collect().sortBy(_._1)
    val off1 = partSums.map(_._2).scanLeft(0L)(_ + _)
    val off2 = partSums.map(_._3).scanLeft(0L)(_ + _)
    val n1 = off1.last; val n2 = off2.last
    // next non-empty partition's first value, per partition
    val firsts = partSums.map(_._4)
    val nextFirst = Array.tabulate(firsts.length) { i =>
      firsts.drop(i + 1).collectFirst { case Some(v) => v }
    }
    val bc = spark.sparkContext.broadcast((off1, off2, nextFirst))
    // pass 2: inclusive cumsums + in-partition lookahead for the gap
    val rows = sorted.rdd.mapPartitionsWithIndex { case (i, it) =>
      var c1 = bc.value._1(i); var c2 = bc.value._2(i)
      val nf = bc.value._3(i)
      new Iterator[Row] {
        private var cur: Row = if (it.hasNext) it.next() else null
        def hasNext: Boolean = cur != null
        def next(): Row = {
          val v = cur.getLong(0)
          c1 += cur.getLong(1); c2 += cur.getLong(2)
          val nxt: java.lang.Long =
            if (it.hasNext) { cur = it.next(); Long.box(cur.getLong(0)) }
            else { cur = null; nf.map(Long.box).orNull }
          Row(v, c1, c2, nxt)
        }
      }
    }
    val cums = spark.createDataFrame(rows, StructType(Seq(
      StructField("_v", LongType), StructField("_cum1", LongType),
      StructField("_cum2", LongType), StructField("_next", LongType))))
    // the global max value has cum1=n1, cum2=n2 -> dnum 0; its null gap
    // coalesces to 0 so the row contributes nothing either way.
    // cum·n is DECIMAL math (a long product would wrap silently past
    // n1·n2 > 2^63 — r7 overflow audit), and the summed w1_num is
    // null-guarded: with rows present, a null sum means Decimal(38,0)
    // overflow, which must raise, never read as "no drift".
    val contribAbs =
      abs(col("_cum1").cast("decimal(38,0)") * n2 -
        col("_cum2").cast("decimal(38,0)") * n1) *
        coalesce(col("_next") - col("_v"), lit(0L)).cast("decimal(38,0)")
    cums.agg(sum(contribAbs).as("_w1s"), count(lit(1)).as("_cnt"))
      .select(lit(n1).as("n1"), lit(n2).as("n2"),
        when(col("_cnt") === 0L, lit(0).cast("decimal(38,0)"))
          .when(col("_w1s").isNotNull, col("_w1s"))
          .otherwise(raise_error(lit(
            "driftW1 w1_num overflowed Decimal(38,0) — rescale the " +
              "value column upstream"))).as("w1_num"))
      .withColumn("w1",
        when(lit(n1) > 0L && lit(n2) > 0L,
          col("w1_num").cast("double") /
            (lit(n1).cast("double") * lit(n2).cast("double")))
          .otherwise(lit(null).cast("double")))
  }

  /** Split-conformal calibration (Papadopoulos et al. 2002; Vovk's
    * distribution-free coverage guarantee): the threshold is the r-th
    * smallest calibration nonconformity with r = ceil((n+1)(1−α)),
    * α = alphaNum/alphaDen kept RATIONAL so r is exact integer
    * arithmetic; eval-side coverage then lower-bounds 1−α in
    * expectation whatever the score distribution. When r > n the
    * threshold is +∞ (null thr, everything covered).
    *
    * Scores are integer-valued (cast to long — quantize floats to ppm
    * upstream, the q74 rule); the r-th smallest VALUE is well-defined
    * under ties, so no tiebreak column is needed. Scale: the selection
    * is [[GroupOps.globalOrderIndex]]'s range-partition + zipWithIndex
    * (never a single-partition sort); everything else is one-row
    * aggregates. Returns one row
    * (n_cal, r, thr, n_eval, n_covered, coverage). */
  def conformal(calib: DataFrame, eval: DataFrame, score: Column,
      alphaNum: Long, alphaDen: Long): DataFrame = {
    require(alphaNum > 0 && alphaDen > alphaNum,
      s"need 0 < alpha < 1, got $alphaNum/$alphaDen")
    val idx = GroupOps.globalOrderIndex(
      calib.select(score.cast("long").as("_s"))
        .where(col("_s").isNotNull), "_gi", col("_s"))
    val withR = calib.select(score.cast("long").as("_s"))
      .where(col("_s").isNotNull)
      .agg(count(lit(1)).as("n_cal"))
      .withColumn("r", expr(
        s"((n_cal + 1) * ${alphaDen - alphaNum}L + ${alphaDen - 1}L) " +
          s"div ${alphaDen}L"))
    // global aggregates always yield exactly one row, so the chain
    // below survives empty calibration / eval frames
    val thrAgg = idx.crossJoin(withR)
      .agg(min(when(col("_gi") === col("r") - 1, col("_s"))).as("thr"))
    val evAgg = eval.select(score.cast("long").as("_es"))
      .where(col("_es").isNotNull)
      .crossJoin(thrAgg)
      .agg(count(lit(1)).as("n_eval"),
        coalesce(sum(when(col("thr").isNull || col("_es") <= col("thr"),
          1L).otherwise(0L)), lit(0L)).as("n_covered"))
    withR.crossJoin(thrAgg).crossJoin(evAgg)
      .withColumn("coverage",
        when(col("n_eval") > 0L,
          col("n_covered").cast("double") / col("n_eval").cast("double"))
          .otherwise(lit(null).cast("double")))
      .select(col("n_cal"), col("r"), col("thr"), col("n_eval"),
        col("n_covered"), col("coverage"))
  }

  /** Two-sample proportion z-test — the A/B conversion comparison:
    * exact integer counts (n, successes) per side and the pooled
    * z statistic
    *
    *   z = (k₁/n₁ − k₂/n₂) / √(p̂(1−p̂)(1/n₁ + 1/n₂)),  p̂ = (k₁+k₂)/(n₁+n₂)
    *
    * as ONE fixed-order float chain over them (null when either side
    * is empty or p̂ is degenerate 0/1). Two 1-row aggregations — any
    * scale. Returns (n1, k1, n2, k2, z). */
  def proportionTest(a: DataFrame, b: DataFrame,
      success: Column): DataFrame = {
    def side(df: DataFrame, np: String, kp: String) =
      df.agg(count(lit(1)).as(np),
        coalesce(sum(when(success, 1L).otherwise(0L)), lit(0L)).as(kp))
    val agg = side(a, "n1", "k1").crossJoin(side(b, "n2", "k2"))
    val p1 = col("k1").cast("double") / col("n1").cast("double")
    val p2 = col("k2").cast("double") / col("n2").cast("double")
    val p = (col("k1") + col("k2")).cast("double") /
      (col("n1") + col("n2")).cast("double")
    agg.withColumn("z",
      when(col("n1") > 0L && col("n2") > 0L &&
        (col("k1") + col("k2")) > 0L &&
        (col("k1") + col("k2")) < (col("n1") + col("n2")),
        (p1 - p2) / sqrt(p * (lit(1.0) - p) *
          (lit(1.0) / col("n1").cast("double") +
           lit(1.0) / col("n2").cast("double"))))
        .otherwise(lit(null).cast("double")))
  }

  /** Exact sample autocorrelation of a bucketed count series at lags
    * 1..maxLag — the seasonality/periodicity probe next to
    * [[cusumChangepoint]] (level shifts) and [[robustAnomalies]]
    * (spikes): a weekly-traffic source shows a peak at lag 7.
    *
    *   r_l = Σ_{t=1..T−l} (x_t − x̄)(x_{t+l} − x̄) / Σ_t (x_t − x̄)²
    *
    * over the zero-filled dense grid. The mean is cleared by T-scaling:
    * dev_t = T·x_t − S_T is an exact integer, so numerator·T² and
    * denominator·T² are exact (summation-order-free) decimal sums and
    * `acf` is their single double division — layout-invariant and
    * engine-replayable. The lag pairing is an equi-join of the grid
    * with itself on (group, b + lag) after a 1..maxLag explode; the
    * grid is calendar-bounded (groups × T rows), so the join input is
    * ≤ groups·T·maxLag rows regardless of event volume. Lags with no
    * overlap (l >= T) are absent. Returns (group…, lag, num_t2,
    * den_t2, t_buckets, total, acf). */
  def autocorrelation(df: DataFrame, groupCols: Seq[String],
      bucket: Column, maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    import org.apache.spark.sql.expressions.Window
    val gw = Window.partitionBy(groupCols.map(col): _*)
    val g = denseGridCounts(df, groupCols, bucket)
      .withColumn("_t", max(col("_b") - col("_b0") + 1L).over(gw))
      .withColumn("_tot", sum("_x").over(gw))
      .withColumn("_dev",
        (col("_t") * col("_x") - col("_tot")).cast("decimal(38,0)"))
    val den = g.groupBy(groupCols.map(col): _*)
      .agg(sum(col("_dev") * col("_dev")).as("den_t2"),
        max("_t").as("t_buckets"), max("_tot").as("total"))
    val a = g.select(groupCols.map(col) :+ col("_b") :+
        col("_dev").as("_da"): _*)
      .withColumn("lag", explode(sequence(lit(1L), lit(maxLag.toLong))))
    val b = g.select(groupCols.map(c => col(c).as(s"_g_$c")) :+
      col("_b").as("_bb") :+ col("_dev").as("_db"): _*)
    val joinCond = groupCols.map(c => col(c) === col(s"_g_$c"))
      .reduce(_ && _) && col("_bb") === col("_b") + col("lag")
    a.join(b, joinCond)
      .groupBy(groupCols.map(col) :+ col("lag"): _*)
      .agg(sum(col("_da") * col("_db")).as("num_t2"))
      .join(den, groupCols)
      .withColumn("acf",
        when(col("den_t2") =!= lit(0),
          col("num_t2").cast("double") / col("den_t2").cast("double"))
          .otherwise(lit(null).cast("double")))
      .select(groupCols.map(col) :+ col("lag") :+ col("num_t2") :+
        col("den_t2") :+ col("t_buckets") :+ col("total") :+
        col("acf"): _*)
  }

  /** Seasonal index per phase — the periodicity DECOMPOSITION readout
    * (the [[autocorrelation]] peak tells you period 7 exists; this
    * tells you WHICH days are heavy and by how much): over the dense
    * grid, phase p = bucket mod period gets
    *
    *   index_ppm = (sum_p · T · 1e6) div (n_p · S)
    *
    * — the phase's mean as ppm of the overall mean, all exact integer
    * arithmetic (1e6 ppm == flat). Returns (group…, phase, n_buckets,
    * total, index_ppm). One grid pass + one ≤ period-keyed groupBy. */
  def seasonalIndex(df: DataFrame, groupCols: Seq[String], bucket: Column,
      period: Int): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    import org.apache.spark.sql.expressions.Window
    val gw = Window.partitionBy(groupCols.map(col): _*)
    denseGridCounts(df, groupCols, bucket)
      .withColumn("_t", max(col("_b") - col("_b0") + 1L).over(gw))
      .withColumn("_s", sum("_x").over(gw))
      .withColumn("phase", pmod(col("_b"), lit(period.toLong)))
      .groupBy(groupCols.map(col) :+ col("phase"): _*)
      .agg(count(lit(1)).as("n_buckets"), sum("_x").as("total"),
        max("_t").as("_tt"), max("_s").as("_ss"))
      .withColumn("index_ppm",
        when(col("_ss") > 0L, expr(
          "(total * _tt * 1000000) div (n_buckets * _ss)"))
          .otherwise(lit(null).cast("long")))
      .select(groupCols.map(col) :+ col("phase") :+ col("n_buckets") :+
        col("total") :+ col("index_ppm"): _*)
  }

  /** Mann–Kendall monotonic-trend test — the SIGNIFICANCE companion of
    * [[theilSen]]'s slope (is this drift real, or noise?): over the
    * dense grid,
    *
    *   S = Σ_{i<j} sign(x_j − x_i)
    *   Var·18 = n(n−1)(2n+5) − Σ_ties t(t−1)(2t+5)
    *   z = (S ∓ 1) / sqrt(Var)   (continuity-corrected, 0 when S = 0)
    *
    * S and the tie-corrected Var·18 are exact integers (the pair join
    * is the [[theilSen]] grid self-join, ≤ T²·groups rows); z is one
    * float chain. |z| > 1.96 ⇒ trend at 5%. Returns (group…, n, s,
    * var18, z). */
  def mannKendall(df: DataFrame, groupCols: Seq[String],
      bucket: Column): DataFrame = {
    val g = denseGridCounts(df, groupCols, bucket)
      .withColumn("_i", col("_b") - col("_b0"))
      .select(groupCols.map(col) :+ col("_i") :+ col("_x"): _*)
    val r = g.select(groupCols.map(c => col(c).as(s"_g_$c")) :+
      col("_i").as("_j") :+ col("_x").as("_y"): _*)
    val joinCond = groupCols.map(c => col(c) === col(s"_g_$c"))
      .reduce(_ && _) && col("_j") > col("_i")
    val sTab = g.join(r, joinCond)
      .groupBy(groupCols.map(col): _*)
      .agg(sum(signum(col("_y") - col("_x")).cast("long")).as("s"))
    val nTab = g.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
    val ties = g.groupBy(groupCols.map(col) :+ col("_x"): _*)
      .agg(count(lit(1)).as("_t"))
      .where(col("_t") > 1L)
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col("_t") * (col("_t") - 1L) * (lit(2L) * col("_t") + 5L))
        .as("_tie"))
    val base = sTab.join(nTab, groupCols)
      .join(ties, groupCols, "left")
      .withColumn("var18",
        col("n") * (col("n") - 1L) * (lit(2L) * col("n") + 5L) -
          coalesce(col("_tie"), lit(0L)))
    base.withColumn("z",
        when(col("var18") > 0L && col("s") > 0L,
          (col("s") - 1L).cast("double") /
            sqrt(col("var18").cast("double") / 18.0))
          .when(col("var18") > 0L && col("s") < 0L,
            (col("s") + 1L).cast("double") /
              sqrt(col("var18").cast("double") / 18.0))
          .when(col("var18") > 0L, lit(0.0))
          .otherwise(lit(null).cast("double")))
      .select(groupCols.map(col) :+ col("n") :+ col("s") :+
        col("var18") :+ col("z"): _*)
  }

  /** Exact OLS trend of a bucketed count series — the least-squares
    * complement of [[theilSen]] (robust median slope) and
    * [[holtForecast]] (recency-weighted): over the dense grid with
    * i = 0..T−1,
    *
    *   slope = (n·Σiy − Σi·Σy) / (n·Σi² − (Σi)²)
    *   intercept = (Σy − slope·Σi) / n
    *
    * with every sum an exact integer (one groupBy, map-side combined —
    * no windows at all) and two float divisions at the end. Returns
    * (group…, n, num, den, slope, intercept); constant-x degeneracy is
    * impossible on a grid with ≥ 2 buckets, T = 1 yields den 0 → null
    * slope. */
  def olsTrend(df: DataFrame, groupCols: Seq[String],
      bucket: Column): DataFrame =
    olsPoints(
      denseGridCounts(df, groupCols, bucket)
        .withColumn("_i", col("_b") - col("_b0")),
      groupCols, col("_i"), col("_x"))

  /** Exact OLS over ARBITRARY integer (x, y) points per group — the
    * generic regression [[olsTrend]] specializes to the dense grid.
    * Integer sums, two float divisions; null/degenerate x-variance →
    * null slope. Returns (group…, n, num, den, slope, intercept). */
  def olsPoints(df: DataFrame, groupCols: Seq[String], x: Column,
      y: Column): DataFrame = {
    val g = df.select(groupCols.map(col) :+ x.cast("long").as("_px") :+
        y.cast("long").as("_py"): _*)
      .where(col("_px").isNotNull && col("_py").isNotNull)
    g.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"), sum("_px").as("_si"),
        sum("_py").as("_sy"), sum(col("_px") * col("_py")).as("_sxy"),
        sum(col("_px") * col("_px")).as("_sxx"))
      .withColumn("num", col("n") * col("_sxy") - col("_si") * col("_sy"))
      .withColumn("den", col("n") * col("_sxx") - col("_si") * col("_si"))
      .withColumn("slope",
        when(col("den") =!= 0L,
          col("num").cast("double") / col("den").cast("double")))
      .withColumn("intercept",
        (col("_sy").cast("double") - col("slope") *
          col("_si").cast("double")) / col("n").cast("double"))
      .select(groupCols.map(col) :+ col("n") :+ col("num") :+
        col("den") :+ col("slope") :+ col("intercept"): _*)
  }

  /** OLS with a 0/1 covariate: y = b0 + b1·x + b2·f solved EXACTLY by
    * Cramer's rule over the 3×3 integer normal equations — the
    * "trend adjusted for a confounder" regression (weekend/holiday
    * dummies on volume series, treatment flags on metrics) that
    * [[olsPoints]]' single-feature fit can't express.
    *
    * Every matrix entry is an exact Decimal(38,0) sum; the determinant
    * and the three numerators are exact 3-factor products (bounded by
    * the in-plan |x| < 32768 guard — entries ≤ n·2³⁰, products ≤ 10³⁸
    * for n up to ~10⁶ rows per group), and each coefficient is ONE
    * float division — layout-invariant, HUGEINT-replayable. Center x
    * upstream (e.g. bucket − min) to satisfy the guard. Singular
    * groups (constant x, or f constant) yield null coefficients;
    * rows with flag outside {0, 1} or null inputs drop (by documented
    * rule). Returns (group…, n, det, nb0, nb1, nb2, b0, b1, b2). */
  def olsDummyPoints(df: DataFrame, groupCols: Seq[String], x: Column,
      flag: Column, y: Column): DataFrame = {
    val g = df.select(groupCols.map(col) :+ x.cast("long").as("_x") :+
        flag.cast("long").as("_f") :+ y.cast("long").as("_y"): _*)
      .where(col("_x").isNotNull && col("_f").isNotNull &&
        col("_y").isNotNull && col("_f").isin(0L, 1L))
      .select(groupCols.map(col) :+
        when(abs(col("_x")) >= 32768L,
          raise_error(concat(lit("olsDummyPoints needs |x| < 32768 " +
            "(center the bucket index upstream): "),
            col("_x").cast("string"))))
          .otherwise(col("_x")).as("_x") :+ col("_f") :+ col("_y"): _*)
    def d(c: Column) = c.cast("decimal(38,0)")
    val s = g.groupBy(groupCols.map(col): _*).agg(
      count(lit(1)).as("n"),
      d(sum("_x")).as("_sx"), d(sum("_f")).as("_sf"),
      d(sum(col("_x") * col("_x"))).as("_sxx"),
      d(sum(col("_x") * col("_f"))).as("_sxf"),
      d(sum(col("_f") * col("_f"))).as("_sff"),
      d(sum("_y")).as("_sy"), d(sum(col("_x") * col("_y"))).as("_sxy"),
      d(sum(col("_f") * col("_y"))).as("_sfy"))
    // Cramer over [[n,sx,sf],[sx,sxx,sxf],[sf,sxf,sff]] b = [sy,sxy,sfy]
    def det3(a: Column, b: Column, c: Column,
        p: Column, q: Column, r: Column,
        u: Column, v: Column, w: Column): Column =
      a * (q * w - r * v) - b * (p * w - r * u) + c * (p * v - q * u)
    val nn = d(col("n"))
    val det = det3(nn, col("_sx"), col("_sf"),
      col("_sx"), col("_sxx"), col("_sxf"),
      col("_sf"), col("_sxf"), col("_sff"))
    val nb0 = det3(col("_sy"), col("_sx"), col("_sf"),
      col("_sxy"), col("_sxx"), col("_sxf"),
      col("_sfy"), col("_sxf"), col("_sff"))
    val nb1 = det3(nn, col("_sy"), col("_sf"),
      col("_sx"), col("_sxy"), col("_sxf"),
      col("_sf"), col("_sfy"), col("_sff"))
    val nb2 = det3(nn, col("_sx"), col("_sy"),
      col("_sx"), col("_sxx"), col("_sxy"),
      col("_sf"), col("_sxf"), col("_sfy"))
    s.withColumn("det", det)
      .withColumn("nb0", nb0).withColumn("nb1", nb1).withColumn("nb2", nb2)
      .withColumn("b0", when(col("det") =!= 0,
        col("nb0").cast("double") / col("det").cast("double")))
      .withColumn("b1", when(col("det") =!= 0,
        col("nb1").cast("double") / col("det").cast("double")))
      .withColumn("b2", when(col("det") =!= 0,
        col("nb2").cast("double") / col("det").cast("double")))
      .select(groupCols.map(col) :+ col("n") :+ col("det") :+
        col("nb0") :+ col("nb1") :+ col("nb2") :+ col("b0") :+
        col("b1") :+ col("b2"): _*)
  }

  /** Theil–Sen robust trend of a bucketed count series: slope = the
    * MEDIAN of all pairwise slopes (y_j−y_i)/(x_j−x_i) over the dense
    * grid — outlier days move the Holt/OLS trend but barely move this
    * one (29% breakdown point). Intercept = median of (y_i − m·x_i).
    * Medians use the q175 row_number selection with (i, j) tie-breaks;
    * the pair slopes are single double divisions of exact integers, so
    * both engines sort the same values. Pairs are O(T²) per group —
    * the grid is calendar-bounded, so that's ≤ T²·groups rows, never
    * event-scale. Returns (group…, n_pairs, slope, intercept). */
  def theilSen(df: DataFrame, groupCols: Seq[String],
      bucket: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = denseGridCounts(df, groupCols, bucket)
      .withColumn("_i", col("_b") - col("_b0"))
      .select(groupCols.map(col) :+ col("_i") :+ col("_x"): _*)
    val r = g.select(groupCols.map(c => col(c).as(s"_g_$c")) :+
      col("_i").as("_j") :+ col("_x").as("_y"): _*)
    val joinCond = groupCols.map(c => col(c) === col(s"_g_$c"))
      .reduce(_ && _) && col("_j") > col("_i")
    val slopes = g.join(r, joinCond)
      .withColumn("_m", (col("_y") - col("_x")).cast("double") /
        (col("_j") - col("_i")).cast("double"))
    val sw = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("_m"), col("_i"), col("_j"))
    val slope = slopes
      .withColumn("_rk", row_number().over(sw).cast("long"))
      .withColumn("_n", count(lit(1)).over(
        Window.partitionBy(groupCols.map(col): _*)))
      .groupBy(groupCols.map(col): _*)
      .agg(max("_n").as("n_pairs"),
        (max(when(col("_rk") === expr("(_n + 1) div 2"), col("_m"))) / 2.0 +
         max(when(col("_rk") === expr("(_n + 2) div 2"), col("_m"))) / 2.0)
          .as("slope"))
    val iw = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("_r"), col("_i"))
    g.join(slope, groupCols)
      .withColumn("_r", col("_x").cast("double") -
        col("slope") * col("_i").cast("double"))
      .withColumn("_rk", row_number().over(iw).cast("long"))
      .withColumn("_t", count(lit(1)).over(
        Window.partitionBy(groupCols.map(col): _*)))
      .groupBy(groupCols.map(col): _*)
      .agg(max("n_pairs").as("n_pairs"), max("slope").as("slope"),
        (max(when(col("_rk") === expr("(_t + 1) div 2"), col("_r"))) / 2.0 +
         max(when(col("_rk") === expr("(_t + 2) div 2"), col("_r"))) / 2.0)
          .as("intercept"))
  }

  /** Holt double-exponential-smoothing forecast of a bucketed count
    * series — the capacity-planning / volume-projection readout next to
    * [[autocorrelation]] (seasonality) and [[cusumChangepoint]]
    * (shifts). Over the zero-filled dense grid x_1..x_T:
    *
    *   init   l = x_1, t = 0
    *   step   l' = α·x + (1−α)·(l + t);  t' = β·(l'−l) + (1−β)·t
    *   h-step forecast = l + h·t
    *
    * The fold runs INSIDE one codegen `aggregate` expression over the
    * per-group series array (collected from the calendar-bounded grid —
    * ≤ T values per group, the q157 contract), with every operation an
    * IEEE double in pinned order, so the final level/trend replay
    * bit-for-bit in an external engine's identical fold (DuckDB
    * list_reduce). One grid pass + one groupBy. Returns (group…,
    * t_buckets, level, trend, plus `fc_<h>` per requested horizon). */
  def holtForecast(df: DataFrame, groupCols: Seq[String], bucket: Column,
      alpha: Double = 0.5, beta: Double = 0.25,
      horizons: Seq[Int] = Seq(1, 7)): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")
    require(beta >= 0 && beta <= 1, s"beta must be in [0,1], got $beta")
    require(horizons.nonEmpty && horizons.forall(_ >= 1),
      s"horizons must be >= 1, got $horizons")
    val series = denseGridCounts(df, groupCols, bucket)
      .groupBy(groupCols.map(col): _*)
      .agg(sort_array(collect_list(struct(col("_b"), col("_x")))).as("_s"))
      .withColumn("_xs",
        transform(col("_s"), e => e.getField("_x").cast("double")))
      .drop("_s")
    def step(acc: Column, x: Column): Column = {
      val l2 = lit(alpha) * x + lit(1.0 - alpha) *
        (acc.getField("l") + acc.getField("t"))
      struct(l2.as("l"),
        (lit(beta) * (l2 - acc.getField("l")) +
          lit(1.0 - beta) * acc.getField("t")).as("t"))
    }
    val init = struct(element_at(col("_xs"), 1).as("l"), lit(0.0).as("t"))
    val folded = series
      .withColumn("_f", aggregate(
        slice(col("_xs"), lit(2), greatest(size(col("_xs")) - 1, lit(0))),
        init, step))
    val fcCols = horizons.map(h =>
      (col("_f.l") + lit(h.toDouble) * col("_f.t")).as(s"fc_$h"))
    folded.select(groupCols.map(col) ++ Seq(
      size(col("_xs")).cast("long").as("t_buckets"),
      col("_f.l").as("level"), col("_f.t").as("trend")) ++ fcCols: _*)
  }

  /** CUSUM changepoint scan per group over a bucketed count series —
    * the pipeline-monitoring "when did this source's volume shift"
    * probe. Over the dense bucket grid i = 0..T−1 (zero-count buckets
    * INCLUDED — the statistic can peak on a gap):
    *
    *   D_i = |S_i · T − (i+1) · S_T|,   S_i = cumulative count
    *
    * reported at its argmax (smallest bucket on ties) as the exact
    * integer `d_num` with the single normalized division
    * d = D / (T · S_T). The grid span is CALENDAR-bounded (days/hours),
    * so the per-group cumulative window runs over ≤ T rows per group —
    * never over the event data. Returns (group…, t_buckets, total,
    * best_bucket, d_num, d). */
  def cusumChangepoint(df: DataFrame, groupCols: Seq[String],
      bucket: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy("_b")
    val cum = denseGridCounts(df, groupCols, bucket)
      .withColumn("_s", sum("_x").over(w))
      .withColumn("_i", col("_b") - col("_b0") + 1L)
    val withTot = cum
      .withColumn("_t", max(col("_i")).over(
        Window.partitionBy(groupCols.map(col): _*)))
      .withColumn("_tot", max(col("_s")).over(
        Window.partitionBy(groupCols.map(col): _*)))
    withTot
      .withColumn("_d", abs(col("_s") * col("_t") - col("_i") * col("_tot")))
      .groupBy(groupCols.map(col): _*)
      .agg(max(col("_t")).as("t_buckets"), max(col("_tot")).as("total"),
        min(struct((-col("_d")).as("nd"), col("_b").as("b"))).as("_w"))
      .select(groupCols.map(col) :+ col("t_buckets") :+ col("total") :+
        col("_w.b").as("best_bucket") :+ (-col("_w.nd")).as("d_num"): _*)
      .withColumn("d",
        when(col("total") > 0L,
          col("d_num").cast("double") /
            (col("t_buckets").cast("double") * col("total").cast("double")))
          .otherwise(lit(null).cast("double")))
  }

  /** Dense per-group bucket count grid shared by [[cusumChangepoint]]
    * and [[robustAnomalies]]: every bucket of the GLOBAL [min, max]
    * span, per observed group, zero-filled — (group…, _b, _b0, _x).
    * The span is calendar-bounded, so downstream per-group windows run
    * over ≤ T rows, never over the event data. */
  private def denseGridCounts(df: DataFrame, groupCols: Seq[String],
      bucket: Column): DataFrame = {
    val ev = df.select(groupCols.map(col) :+
      bucket.cast("long").as("_b"): _*).where(col("_b").isNotNull)
    // refuse un-bucketed inputs loudly: a raw-ns "bucket" would ask
    // sequence() for a trillion-row grid. The guard rides INSIDE _b0
    // (a dropped check column would be pruned away by Catalyst).
    val span = ev.agg(min("_b").as("_b0"), max("_b").as("_b1"))
      .select(
        when(col("_b1") - col("_b0") < 10000000L, col("_b0"))
          .otherwise(raise_error(concat(lit(
            "bucket span too wide for a dense grid (did you pass " +
              "raw timestamps?): "),
            (col("_b1") - col("_b0")).cast("string"))))
          .as("_b0"),
        col("_b1"))
    val counts = ev.groupBy(groupCols.map(col) :+ col("_b"): _*)
      .agg(count(lit(1)).as("_c"))
    counts.select(groupCols.map(col): _*).distinct()
      .crossJoin(broadcast(span))
      .select(groupCols.map(col) :+
        explode(sequence(col("_b0"), col("_b1"))).as("_b") :+
        col("_b0"): _*)
      .join(counts, groupCols :+ "_b", "left")
      .withColumn("_x", coalesce(col("_c"), lit(0L)))
      .drop("_c")
  }

  /** Median/MAD robust anomaly flags per group over the dense bucket
    * count grid — the outlier-day detector that a mean/stddev z-score
    * gets wrong whenever the anomaly itself inflates the baseline.
    * `med` and `mad` are LOWER medians (the value at position
    * (T+1) div 2 of the value-sorted grid — exact integer selection),
    * and a bucket flags iff
    *
    *   10⁴·|x − med| > thrTenK · mad   and   mad > 0
    *
    * (thrTenK = 44478 ≈ 3·1.4826·10⁴, the "3 sigma" consistency
    * threshold in exact integer arithmetic; an all-flat series — mad
    * 0 — flags nothing by rule). Per-group windows run over the
    * calendar-bounded grid only. Returns (group…, bucket, n, med,
    * mad, anomaly). */
  def robustAnomalies(df: DataFrame, groupCols: Seq[String],
      bucket: Column, thrTenK: Long = 44478L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gc = groupCols.map(col)
    val g = denseGridCounts(df, groupCols, bucket)
    val t = Window.partitionBy(gc: _*)
    val wv = Window.partitionBy(gc: _*).orderBy(col("_x"), col("_b"))
    val med = g.withColumn("_rn", row_number().over(wv))
      .withColumn("_t", count(lit(1)).over(t))
      .where(col("_rn") === expr("(_t + 1) div 2"))
      .select(gc :+ col("_x").as("_med"): _*)
    val withMed = g.join(med, groupCols)
      .withColumn("_dev", abs(col("_x") - col("_med")))
    val wd = Window.partitionBy(gc: _*).orderBy(col("_dev"), col("_b"))
    val mad = withMed.withColumn("_rn", row_number().over(wd))
      .withColumn("_t", count(lit(1)).over(t))
      .where(col("_rn") === expr("(_t + 1) div 2"))
      .select(gc :+ col("_dev").as("_mad"): _*)
    withMed.join(mad, groupCols)
      .select(gc :+ col("_b").as("bucket") :+ col("_x").as("n") :+
        col("_med").as("med") :+ col("_mad").as("mad") :+
        (col("_mad") > 0L &&
          col("_dev") * 10000L > lit(thrTenK) * col("_mad"))
          .as("anomaly"): _*)
  }

  /** Decile lift / cumulative-gains table — the classifier-targeting
    * report (score the corpus, take the top decile, how much of the
    * positive mass did you capture?). Rows are ranked score-DESCENDING
    * under the deterministic (−score, key) total order via
    * [[GroupOps.globalOrderIndex]] (never a 1-partition sort), binned
    * by exact integer `(rank·nBins) div n`, then cumulated over the
    * ≤ nBins bin rows. All counts exact; gain/lift one float chain
    * each. Returns (bin, n, n_pos, cum_n, cum_pos, gain, lift). */
  def liftTable(df: DataFrame, score: Column, positive: Column,
      key: Column, nBins: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nBins >= 1, s"nBins must be >= 1, got $nBins")
    val base = df.select(score.cast("double").as("_s"),
        when(positive, 1L).otherwise(0L).as("_p"), key.as("_k"))
      .where(col("_s").isNotNull)
    val idx = GroupOps.globalOrderIndex(base, "_gi",
      (-col("_s")).as("_ns"), col("_k"))
    val n = base.agg(count(lit(1)).as("_n"))
    val bins = idx.crossJoin(broadcast(n))
      .withColumn("bin", expr(s"(_gi * $nBins) div _n").cast("int"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("_p").as("n_pos"))
    val w = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bins
      .withColumn("cum_n", sum("n").over(w))
      .withColumn("cum_pos", sum("n_pos").over(w))
      .crossJoin(broadcast(
        base.agg(count(lit(1)).as("_tn"), sum("_p").as("_tp"))))
      .withColumn("gain",
        when(col("_tp") > 0L,
          col("cum_pos").cast("double") / col("_tp").cast("double"))
          .otherwise(lit(null).cast("double")))
      .withColumn("lift",
        when(col("_tp") > 0L && col("cum_n") > 0L,
          (col("cum_pos").cast("double") / col("cum_n").cast("double")) /
            (col("_tp").cast("double") / col("_tn").cast("double")))
          .otherwise(lit(null).cast("double")))
      .select("bin", "n", "n_pos", "cum_n", "cum_pos", "gain", "lift")
  }

  /** Population Stability Index between two slices of a [0,1] score —
    * the industry-standard model/feature drift monitor. Bins are
    * clamped floor(score·nBins) (the [[calibrationBins]] rule); both
    * sides are Laplace-smoothed (+1 per bin over n+nBins) so empty
    * bins stay finite and deterministic; each bin's
    * (p−q)·ln(p/q) contribution is ONE fixed float chain rounded to a
    * ppb long (the q123 JS pattern — order-free exact sums, the whole
    * float chain gated through the integer column). Returns one row
    * per bin (bin, c1, c2, psi_ppb) — total PSI = Σ psi_ppb / 1e9. */
  def psiBins(a: DataFrame, b: DataFrame, score: Column,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 1, s"nBins must be >= 1, got $nBins")
    def binned(df: DataFrame, cName: String): DataFrame =
      df.select(score.cast("double").as("_s")).where(col("_s").isNotNull)
        .select(greatest(least(floor(col("_s") * nBins).cast("int"),
          lit(nBins - 1)), lit(0)).as("bin"))
        .groupBy("bin").agg(count(lit(1)).as(cName))
    val spark = a.sparkSession
    val allBins = spark.range(nBins).select(col("id").cast("int").as("bin"))
    val m = allBins
      .join(binned(a, "_c1"), Seq("bin"), "left")
      .join(binned(b, "_c2"), Seq("bin"), "left")
      .select(col("bin"), coalesce(col("_c1"), lit(0L)).as("c1"),
        coalesce(col("_c2"), lit(0L)).as("c2"))
    val tot = m.agg(sum("c1").as("_n1"), sum("c2").as("_n2"))
    m.crossJoin(broadcast(tot))
      .withColumn("_p", (col("c1") + 1L).cast("double") /
        (col("_n1") + nBins).cast("double"))
      .withColumn("_q", (col("c2") + 1L).cast("double") /
        (col("_n2") + nBins).cast("double"))
      .withColumn("psi_ppb",
        round((col("_p") - col("_q")) * log(col("_p") / col("_q")) * 1e9)
          .cast("long"))
      .select("bin", "c1", "c2", "psi_ppb")
  }

  /** Cramér's V association between two categorical columns (is `lang`
    * confounded with `source`?) via the observed-cells-only identity
    * χ² = n·(Σ o²/(r·c) − 1): each cell term is one float chain rounded
    * to a ppb long (order-free exact sum), V = √(χ²/(n·min(R−1,C−1))).
    * One contingency aggregation + two marginal aggs — any scale.
    * Returns one row (n, rows, cols, term_ppb_sum, chi2, v). */
  def cramersV(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val cells = df.select(aCol.as("_a"), bCol.as("_b"))
      .where(col("_a").isNotNull && col("_b").isNotNull)
      .groupBy("_a", "_b").agg(count(lit(1)).as("_o"))
    val ra = cells.groupBy("_a").agg(sum("_o").as("_r"))
    val cb = cells.groupBy("_b").agg(sum("_o").as("_c"))
    val terms = cells.join(ra, Seq("_a")).join(cb, Seq("_b"))
      .select(round((col("_o") * col("_o")).cast("double") /
        (col("_r") * col("_c")).cast("double") * 1e9).cast("long")
        .as("_t"))
    val agg = terms.agg(sum("_t").as("term_ppb_sum"))
      .crossJoin(broadcast(cells.agg(sum("_o").as("n"),
        countDistinct("_a").as("card_a"), countDistinct("_b").as("card_b"))))
    agg
      .withColumn("chi2",
        col("n").cast("double") *
          (col("term_ppb_sum").cast("double") / 1e9 - 1.0))
      .withColumn("v",
        when(col("card_a") > 1L && col("card_b") > 1L && col("n") > 0L,
          sqrt(greatest(col("chi2"), lit(0.0)) /
            (col("n").cast("double") *
              least(col("card_a") - 1L, col("card_b") - 1L).cast("double"))))
          .otherwise(lit(null).cast("double")))
      .select("n", "card_a", "card_b", "term_ppb_sum", "chi2", "v")
  }

  /** Expected Calibration Error over the [[calibrationBins]] grid —
    * and it reduces to an EXACT integer numerator: with per-bin
    * positives p_i and ppm score sums s_i,
    *
    *   ECE = Σ_i (n_i/n)·|p_i/n_i − s_i/(n_i·10⁶)|
    *       = Σ_i |p_i·10⁶ − s_i| / (n·10⁶)
    *
    * so the whole statistic is one order-free integer sum and ONE
    * division. Returns (n, ece_num, ece). */
  def ece(df: DataFrame, score: Column, positive: Column,
      nBins: Int = 10): DataFrame = {
    val bins = calibrationBins(df, score, positive, nBins)
    bins.agg(sum("n").as("n"),
        sum(abs(col("n_pos") * 1000000L - col("score_ppm_sum")))
          .as("ece_num"))
      .withColumn("ece",
        when(col("n") > 0L,
          col("ece_num").cast("double") / (col("n").cast("double") * 1e6))
          .otherwise(lit(null).cast("double")))
  }

  /** Word n-grams of a token array as joined strings (positions 1..len−n+1,
    * space-joined — tokens are the lowercased alnum runs, so the join is
    * unambiguous). Empty when the text is shorter than n. */
  def wordNgrams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Sentence-level BLEU-N (Papineni et al. 2002, no smoothing) of a
    * candidate text against a reference text, on pre-tokenized pairs —
    * the text-generation twin of the IR metric battery: per pair, each
    * order's CLIPPED n-gram matches (Σ min(count_cand, count_ref)) and
    * totals are exact integers, and the score
    * `BP · exp(Σ ln p_n / N)` (BP = min(1, e^(1−r/c)); 0 when any p_n
    * is 0) is a fixed-order float chain over those integers — so the
    * whole metric replays in an external engine.
    *
    * Scale shape: ONE n-gram explode per side (all orders at once) →
    * count aggregation keyed (id, n, gram) → one join of the two count
    * tables → per-pair re-aggregation. Shuffles are n-gram-count-sized
    * with map-side combine; nothing is per-pair quadratic. Returns
    * (id, c_len, r_len, match_1..N, total_1..N, bleu). */
  def bleu(pairs: DataFrame, idCol: String, candToks: Column,
      refToks: Column, maxN: Int = 4): DataFrame = {
    val empty = array().cast("array<string>")
    val base = pairs.select(col(idCol).as("_id"),
      coalesce(candToks, empty).as("_ct"), coalesce(refToks, empty).as("_rt"))
    def grams(side: Column): Column =
      flatten(array((1 to maxN).map(n =>
        transform(wordNgrams(side, n), g => struct(lit(n).as("_n"),
          g.as("_g")))): _*))
    def counts(side: String): DataFrame =
      base.select(col("_id"), explode(grams(col(if (side == "c") "_ct"
        else "_rt"))).as("_e"))
        .groupBy(col("_id"), col("_e._n").as("_n"), col("_e._g").as("_g"))
        .agg(count(lit(1)).as(s"_${side}cnt"))
    val matched = counts("c")
      .join(counts("r"), Seq("_id", "_n", "_g"), "left")
      .groupBy("_id", "_n")
      .agg(sum(least(col("_ccnt"), coalesce(col("_rcnt"), lit(0L))))
        .as("_match"))
    val lens = base.select(col("_id"),
      size(col("_ct")).cast("long").as("c_len"),
      size(col("_rt")).cast("long").as("r_len"))
    // totals are a pure function of c_len: max(c_len − n + 1, 0)
    val withM = lens.join(
      matched.groupBy("_id")
        .agg(map_from_entries(collect_list(struct(col("_n"), col("_match"))))
          .as("_mm")), Seq("_id"), "left")
    val cols = (1 to maxN).flatMap { n =>
      Seq(coalesce(element_at(col("_mm"), n), lit(0L)).as(s"match_$n"),
        greatest(col("c_len") - (n - 1), lit(0L)).as(s"total_$n"))
    }
    val out = withM.select(col("_id") +: col("c_len") +: col("r_len") +:
      cols: _*)
    // fixed-order float chain: ln p_1 + … + ln p_N, /N, exp, ×BP
    val anyZero = (1 to maxN).map(n =>
      col(s"match_$n") === 0L || col(s"total_$n") === 0L).reduce(_ || _)
    val lnSum = (1 to maxN).map(n =>
      log(col(s"match_$n").cast("double") / col(s"total_$n").cast("double")))
      .reduce(_ + _)
    val bp = when(col("c_len") >= col("r_len"), lit(1.0))
      .otherwise(exp(lit(1.0) -
        col("r_len").cast("double") / col("c_len").cast("double")))
    out.withColumn("bleu",
      when(col("c_len") === 0L || anyZero, lit(0.0))
        .otherwise(bp * exp(lnSum / lit(maxN.toDouble))))
      .withColumnRenamed("_id", idCol)
  }

  /** ROUGE-L (Lin 2004, β=1 F-measure) of candidate vs reference token
    * arrays: LCS-based — credits in-order (not necessarily contiguous)
    * token overlap, the standard summarization metric complementing
    * [[bleu]]'s contiguous n-grams. The LCS is an exact integer from
    * the native [[graft.functions.LcsLength]] DP kernel (map-only, one
    * codegen'd scan — no explode, no shuffle); precision/recall/F are
    * a fixed-order float chain over (lcs, c_len, r_len), replayable
    * externally (the oracle folds the identical DP table with
    * list_reduce). Returns (id, c_len, r_len, lcs, rouge_p, rouge_r,
    * rouge_f). */
  def rougeL(pairs: DataFrame, idCol: String, candToks: Column,
      refToks: Column): DataFrame = {
    val empty = array().cast("array<string>")
    val base = pairs.select(col(idCol).as("_id"),
      coalesce(candToks, empty).as("_ct"), coalesce(refToks, empty).as("_rt"))
    val withL = base.select(col("_id"),
      size(col("_ct")).cast("long").as("c_len"),
      size(col("_rt")).cast("long").as("r_len"),
      graft.functions.lcs_length(col("_ct"), col("_rt")).cast("long")
        .as("lcs"))
    val p = when(col("c_len") > 0L,
      col("lcs").cast("double") / col("c_len").cast("double")).otherwise(0.0)
    val r = when(col("r_len") > 0L,
      col("lcs").cast("double") / col("r_len").cast("double")).otherwise(0.0)
    withL
      .withColumn("rouge_p", p)
      .withColumn("rouge_r", r)
      .withColumn("rouge_f",
        when(col("rouge_p") + col("rouge_r") > 0.0,
          lit(2.0) * col("rouge_p") * col("rouge_r") /
            (col("rouge_p") + col("rouge_r")))
          .otherwise(0.0))
      .withColumnRenamed("_id", idCol)
  }
  /** Isotonic (monotone nondecreasing) calibration of a [0,1] score
    * against a binary outcome: pool-adjacent-violators over the
    * [[calibrationBins]] table. The distributed pass is the ≤-nBins-key
    * binning aggregation; the PAV fit runs driver-side over the collected
    * bin rows (the k-means-centroid pattern — O(nBins) state, bounded by
    * the `require` in calibrationBins' contract). Block merging compares
    * block means by exact integer CROSS-MULTIPLICATION (posᵃ·nᵇ vs
    * posᵇ·nᵃ) so no float enters the fit; each calibrated value is ONE
    * IEEE division of the block's exact (Σpos, Σn) — bit-equal to the
    * max-min-average (minimax) characterization an oracle replays
    * relationally. Weak violators (equal means) are NOT merged — the
    * fitted values are identical either way, so the output is invariant.
    *
    * Output: one row per PRESENT bin — (bin, n, n_pos, iso_num, iso_den,
    * iso) with iso nondecreasing in bin; iso_num/iso_den are the merged
    * block's exact sums (iso = iso_num/iso_den). Apply by broadcast-
    * joining on the binned score. Twin: [[isotonicFit]] computes the
    * same fit with ZERO driver state (minimax as plan-side joins) —
    * prefer it when the grid outgrows a driver fit. */
  def isotonicCalibrate(df: DataFrame, score: Column, positive: Column,
      nBins: Int = 10): DataFrame = {
    val spark = df.sparkSession
    val bins = calibrationBins(df, score, positive, nBins)
      .select(col("bin"), col("n"), col("n_pos"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    // PAV stack: (firstPos, n, pos); merge while the previous block's
    // mean exceeds the new one's (strict — ties stay split)
    val stack = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    bins.zipWithIndex.foreach { case ((_, n, pos), i) =>
      var cur = (i, n, pos)
      while (stack.nonEmpty &&
          stack.last._3 * cur._2 > cur._3 * stack.last._2) {
        val prev = stack.remove(stack.length - 1)
        cur = (prev._1, prev._2 + cur._2, prev._3 + cur._3)
      }
      stack += cur
    }
    val rows = stack.iterator.zipWithIndex.flatMap {
      case ((start, bn, bpos), bi) =>
        val end = if (bi + 1 < stack.length) stack(bi + 1)._1 else bins.length
        (start until end).map { i =>
          val (bin, n, pos) = bins(i)
          (bin, n, pos, bpos, bn, bpos.toDouble / bn.toDouble)
        }
    }.toSeq
    import spark.implicits._
    rows.toDF("bin", "n", "n_pos", "iso_num", "iso_den", "iso")
  }

  /** Delete-one-block jackknife standard error of a mean (Quenouille /
    * Tukey — the block variant used for metric uncertainty at corpus
    * scale, where i.i.d. resampling is unaffordable and rows within a
    * block are correlated anyway). `value` must be an exact integer
    * quantity (cents, tokens); `bucket` a deterministic block key the
    * caller controls (e.g. `orderkey % B`), so the whole statistic is
    * layout-invariant: per-block (n_b, s_b) integer partials collapse
    * map-side, the ≤ B leave-one-block-out means m_b = (S−s_b)/(N−n_b)
    * are each ONE float division of exact integers, and the two
    * summary folds (Σm_b, Σ(m_b−m̄)²) run in fixed ascending-block
    * order over an in-row array — replayable list_reduce-style in an
    * external engine. var_jack = (B−1)/B · Σ(m_b − m̄)². Output one
    * row: exact n / sum / blocks plus mean, m_dot, se_jack. */
  def jackknifeMean(df: DataFrame, value: Column, bucket: Column): DataFrame = {
    val per = df
      .select(bucket.cast("long").as("b"), value.cast("long").as("v"))
      .groupBy("b").agg(count(lit(1)).as("n_b"), sum("v").as("s_b"))
    val tot = per.agg(sum("n_b").as("n"), sum("s_b").as("s"),
      count(lit(1)).as("b_used"))
    val loo = per.crossJoin(broadcast(tot))
      .where(col("n") > col("n_b")) // a block owning every row has no LOO mean
      .select(col("b"), col("n"), col("s"), col("b_used"),
        ((col("s") - col("s_b")).cast("double") /
          (col("n") - col("n_b")).cast("double")).as("m_loo"))
    loo.groupBy("n", "s", "b_used")
      .agg(transform(sort_array(collect_list(struct(col("b"), col("m_loo")))),
        p => p.getField("m_loo")).as("ms"))
      .withColumn("m_dot",
        aggregate(col("ms"), lit(0.0), (acc, m) => acc + m) / col("b_used"))
      .withColumn("ss", aggregate(col("ms"), lit(0.0),
        (acc, m) => acc + (m - col("m_dot")) * (m - col("m_dot"))))
      .select(col("n"), col("s"), col("b_used"),
        (col("s").cast("double") / col("n").cast("double")).as("mean"),
        col("m_dot"),
        sqrt(col("ss") * (col("b_used") - 1).cast("double") /
          col("b_used").cast("double")).as("se_jack"))
  }

  /** Poisson(1) cumulative distribution quantized to ppb — the
    * deterministic inverse-CDF table for [[poissonBootstrap]]. Weight =
    * number of thresholds <= the ppb draw (capped at the table length;
    * P(w > 10) < 10⁻⁸ per draw). */
  private val poissonPpbCdf: Seq[Long] = Seq(
    367879441L, 735758882L, 919698603L, 981011843L, 996340153L,
    999405815L, 999916759L, 999989751L, 999998875L, 999999889L)

  /** Poisson bootstrap (the distributed bootstrap — Chamandy et al.,
    * "Estimating Uncertainty for Massive Data Streams"): instead of
    * resampling n rows with replacement (which needs global
    * coordination), every row gets an INDEPENDENT Poisson(1) weight per
    * replicate — the multinomial's scale-free limit. One map-only
    * `reps`-way explode + one partial-aggregated groupBy; no shuffle of
    * the data by anything but the `reps` tiny keys.
    *
    * Determinism: the weight is the exact inverse-CDF of Poisson(1) at
    * u = pmod(splitmix64(key·reps + rep + seed), 10⁹) against the ppb
    * threshold table — all integers, engine-replayable (the q75 draw
    * rule). `value` is expected pre-quantized (ppm ints); per-replicate
    * Σw and Σw·v are exact order-free integer sums, the replicate mean
    * the ONLY division.
    *
    * Key contract: `key` must be a unique non-negative integral id with
    * key ≤ Long.Max/reps (guarded in-plan, loudly) so key·reps+rep is
    * collision-free. Returns one row per replicate:
    * (rep, n_src, n_eff, wsum) exact + mean (wsum/n_eff, null when the
    * replicate drew no rows). Feed to [[bootstrapSe]] for the SE. */
  def poissonBootstrap(df: DataFrame, key: Column, value: Column,
      reps: Int, seed: Long = 0L): DataFrame = {
    require(reps >= 2 && reps <= (1 << 20),
      s"reps must be in [2, 2^20], got $reps")
    val maxKey = Long.MaxValue / reps - reps
    val src = df
      .select(key.cast("long").as("_key"), value.cast("long").as("_v"))
      .where(col("_key").isNotNull && col("_v").isNotNull)
      .select(when(col("_key") < 0 || col("_key") > maxKey,
          raise_error(concat(lit("poissonBootstrap key out of range: "),
            col("_key").cast("string"))))
          .otherwise(col("_key")).as("_key"),
        col("_v"))
    val drawn = src
      .select(col("_key"), col("_v"),
        explode(sequence(lit(0L), lit(reps - 1L))).as("rep"))
      .withColumn("_u", pmod(graft.functions.splitmix64_rank(
          col("_key") * reps + col("rep"), seed), lit(1000000000L)))
      .withColumn("_w", poissonPpbCdf
        .map(t => when(col("_u") >= t, 1L).otherwise(0L))
        .reduce((a, b) => a + b))
    drawn.groupBy("rep")
      .agg(count(lit(1)).as("n_src"), sum("_w").as("n_eff"),
        sum(col("_w") * col("_v")).as("wsum"))
      .withColumn("mean", when(col("n_eff") > 0,
        col("wsum").cast("double") / col("n_eff").cast("double")))
  }

  /** Fold a [[poissonBootstrap]] replicate table (B rows — tiny) into
    * the bootstrap SE of the mean: sd of the replicate means in fixed
    * ascending-rep order (the [[jackknifeMean]] summary-fold rule).
    * One row: (b_used, grand_mean, se_boot). */
  def bootstrapSe(repTable: DataFrame): DataFrame = {
    val m = repTable.where(col("mean").isNotNull)
    m.agg(transform(sort_array(collect_list(struct(col("rep"), col("mean")))),
        p => p.getField("mean")).as("ms"))
      .select(size(col("ms")).cast("long").as("b_used"), col("ms"))
      .withColumn("grand_mean", when(col("b_used") > 0,
        aggregate(col("ms"), lit(0.0), (acc, x) => acc + x) / col("b_used")))
      .withColumn("ss", aggregate(col("ms"), lit(0.0),
        (acc, x) => acc + (x - col("grand_mean")) * (x - col("grand_mean"))))
      .select(col("b_used"), col("grand_mean"),
        when(col("b_used") > 1,
          sqrt(col("ss") / (col("b_used") - 1).cast("double")))
          .as("se_boot"))
  }

  /** Kaplan–Meier survival curves per group — time-to-event with
    * censoring (time to purchase/churn/error, censored at last
    * observation), THE estimator under right-censoring where a naive
    * mean of observed durations is biased. At each distinct duration
    * t (ascending): d_t events, c_t censorings, n_t at risk
    * (everything not yet removed), and
    *
    *   S(t) = Π_{t' <= t} (n_{t'} − d_{t'}) / n_{t'}
    *
    * Exactness: d/c/n are exact integers (n via prefix sums inside the
    * per-group array — no window); the survival product is the ONLY
    * float chain, a fixed ascending-time left fold of exactly-derived
    * doubles — bit-replayable as a list_reduce prefix fold (the q96
    * rule; scalar accumulator, so the DuckDB struct-fold bug q201
    * documents is not in play).
    *
    * Scale contract: one groupBy collapses to distinct durations, then
    * per-group arrays of that size (quantize durations — days, not ns —
    * upstream; the q157 bounded-grid rule). `event` must be 0
    * (censored) or 1; negative/null durations AND events outside
    * {0, 1} drop (by documented rule — validate upstream if a bad
    * event flag should be an error). Returns one row per
    * (group…, t): n_risk, d, c, surv. */
  def kaplanMeier(df: DataFrame, groupCols: Seq[String], duration: Column,
      event: Column): DataFrame = {
    val base = df.select(groupCols.map(col) :+
        duration.cast("long").as("_t") :+ event.cast("long").as("_e"): _*)
      .where(col("_t").isNotNull && col("_t") >= 0 &&
        col("_e").isin(0L, 1L))
    val byT = base.groupBy(groupCols.map(col) :+ col("_t"): _*)
      .agg(sum("_e").as("_d"), sum(lit(1L) - col("_e")).as("_c"))
    val arr = byT.groupBy(groupCols.map(col): _*)
      .agg(sort_array(collect_list(
        struct(col("_t"), col("_d"), col("_c")))).as("_s"))
    val rows = arr
      .withColumn("_n0", aggregate(col("_s"), lit(0L),
        (a, e) => a + e.getField("_d") + e.getField("_c")))
      .withColumn("_narr", transform(sequence(lit(1), size(col("_s"))),
        i => col("_n0") - aggregate(
          slice(col("_s"), lit(1), i - lit(1)), lit(0L),
          (a, e) => a + e.getField("_d") + e.getField("_c"))))
      .withColumn("_farr", transform(sequence(lit(1), size(col("_s"))),
        i => (element_at(col("_narr"), i) -
            element_at(col("_s"), i).getField("_d")).cast("double") /
          element_at(col("_narr"), i).cast("double")))
      .withColumn("_r", explode(transform(sequence(lit(1), size(col("_s"))),
        i => struct(
          element_at(col("_s"), i).getField("_t").as("t"),
          element_at(col("_narr"), i).as("n_risk"),
          element_at(col("_s"), i).getField("_d").as("d"),
          element_at(col("_s"), i).getField("_c").as("c"),
          aggregate(slice(col("_farr"), lit(1), i), lit(1.0),
            (a, x) => a * x).as("surv")))))
    rows.select(groupCols.map(col) :+ col("_r.t").as("t") :+
      col("_r.n_risk").as("n_risk") :+ col("_r.d").as("d") :+
      col("_r.c").as("c") :+ col("_r.surv").as("surv"): _*)
  }

  /** Nelson–Aalen cumulative hazard per group — [[kaplanMeier]]'s
    * additive twin (H(t) = Σ_{t'≤t} d_{t'}/n_{t'}; S ≈ e^{−H}), and the
    * estimator of choice when hazard INCREMENTS matter (competing-risk
    * extensions, piecewise-exponential fits). Unlike the KM product,
    * the sum is FULLY integer-exact here: each time's increment is
    * h_ppb = (d·10⁹) div n_risk (floor, documented) and the cumulative
    * hazard is a plain integer prefix sum — no float chain at all.
    * Same input conventions as [[kaplanMeier]] (event 0/1, negative/
    * null durations and bad flags drop) and the same bounded-distinct-
    * duration scale contract: the windows are group-partitioned over
    * ≤T grid rows, never global. Returns one row per (group…, t):
    * (n_risk, d, c, h_ppb, chaz_ppb). */
  def nelsonAalen(df: DataFrame, groupCols: Seq[String],
      duration: Column, event: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(groupCols.map(col) :+
        duration.cast("long").as("_t") :+ event.cast("long").as("_e"): _*)
      .where(col("_t").isNotNull && col("_t") >= 0 &&
        col("_e").isin(0L, 1L))
    val byT = base.groupBy(groupCols.map(col) :+ col("_t"): _*)
      .agg(sum("_e").as("d"), sum(lit(1L) - col("_e")).as("c"))
    val wAll = Window.partitionBy(groupCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wPrev = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("_t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("_t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byT
      .withColumn("n_risk", sum(col("d") + col("c")).over(wAll) -
        coalesce(sum(col("d") + col("c")).over(wPrev), lit(0L)))
      .withColumn("h_ppb", expr("(d * 1000000000L) div n_risk"))
      .withColumn("chaz_ppb", sum("h_ppb").over(wCum))
      .select(groupCols.map(col) :+ col("_t").as("t") :+ col("n_risk") :+
        col("d") :+ col("c") :+ col("h_ppb") :+ col("chaz_ppb"): _*)
  }

  /** Restricted mean survival time — the scalar summary of a
    * [[kaplanMeier]] curve clinicians and retention teams actually
    * report: the area under S(t) up to horizon τ = expected
    * event-free time within the window ("average retained days in the
    * first 30"), valid under censoring where a naive mean of observed
    * durations is not. The step function holds S = 1 on [0, t₁) and
    * S(tᵢ) on [tᵢ, tᵢ₊₁); each interval's contribution is
    * round(10⁹·S)·span — the survival double quantized ONCE to ppb
    * (the EWMA discipline; the KM fold itself is bit-replayable per
    * [[kaplanMeier]]), the span exact integer clamped to τ — so the
    * cross-interval sum is EXACT Decimal and order-free. One
    * group-partitioned lead window over the bounded KM grid. Returns
    * one row per group: (group…, tau, rmst_ppb decimal, rmst). */
  def rmst(df: DataFrame, groupCols: Seq[String], duration: Column,
      event: Column, tau: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tau > 0L, s"tau must be positive, got $tau")
    val km = kaplanMeier(df, groupCols, duration, event)
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy("t")
    val terms = km
      .withColumn("_nt", coalesce(lead("t", 1).over(w), lit(tau)))
      .withColumn("_rn", row_number().over(w))
      .withColumn("_sppb", round(col("surv") * 1e9).cast("long"))
      .withColumn("_span", greatest(lit(0L),
        least(col("_nt"), lit(tau)) - least(col("t"), lit(tau))))
      .withColumn("_term",
        col("_sppb").cast("decimal(38,0)") *
          col("_span").cast("decimal(38,0)") +
        when(col("_rn") === 1,
          lit(1000000000L).cast("decimal(38,0)") *
            least(col("t"), lit(tau)).cast("decimal(38,0)"))
          .otherwise(lit(0L).cast("decimal(38,0)")))
    terms.groupBy(groupCols.map(col): _*)
      .agg(sum("_term").as("rmst_ppb"))
      .withColumn("tau", lit(tau))
      .withColumn("rmst", col("rmst_ppb").cast("double") / 1e9)
  }

  /** Granger lag-1 causality F-test on two bucketed series — "do
    * yesterday's x counts help predict today's y counts beyond
    * yesterday's y?" The nested-OLS comparison: restricted
    * y_t ~ (1, y_{t−1}) vs unrestricted y_t ~ (1, y_{t−1}, x_{t−1}),
    * F = (RSS_r − RSS_u)·(n−3)/RSS_u with both fits CLOSED-FORM from
    * nine raw moments (Cramer on the 2-predictor normal equations) —
    * no gradient, no iteration. Only CONSECUTIVE bucket pairs enter
    * (t−1 present on the grid; gaps drop, documented — zero-fill
    * upstream via the dense-grid ops if absence means 0). The
    * data-sized work is ONE groupBy onto the bucket grid; the lag and
    * the moments run over the bounded grid (the q157 scale contract),
    * raw moments accumulate in exact Decimal(38,0), and every derived
    * quantity is one fixed float chain off those integers. Null f when
    * n ≤ 3 or any variance/determinant/RSS_u is ≤ 0 (constant series,
    * collinear lags). Returns one row: (n_pairs, sy/syl/sxl exact,
    * syy/syyl/syxl/syl2/sxl2/sylxl decimal, rss_r, rss_u, f). */
  def grangerLag1(df: DataFrame, bucket: Column, x: Column,
      y: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grid = df.select(bucket.cast("long").as("_b"),
        coalesce(x.cast("long"), lit(0L)).as("_x"),
        coalesce(y.cast("long"), lit(0L)).as("_y"))
      .where(col("_b").isNotNull)
      .groupBy("_b").agg(sum("_x").as("_xs"), sum("_y").as("_ys"))
    val w = Window.orderBy("_b")
    val pairs = grid
      .withColumn("_pb", lag(col("_b"), 1).over(w))
      .withColumn("_yl", lag(col("_ys"), 1).over(w))
      .withColumn("_xl", lag(col("_xs"), 1).over(w))
      .where(col("_pb") === col("_b") - 1L)
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val m = pairs.agg(
      count(lit(1)).as("n_pairs"),
      sum("_ys").as("sy"), sum("_yl").as("syl"), sum("_xl").as("sxl"),
      sum(dec(col("_ys")) * dec(col("_ys"))).as("syy"),
      sum(dec(col("_ys")) * dec(col("_yl"))).as("syyl"),
      sum(dec(col("_ys")) * dec(col("_xl"))).as("syxl"),
      sum(dec(col("_yl")) * dec(col("_yl"))).as("syl2"),
      sum(dec(col("_xl")) * dec(col("_xl"))).as("sxl2"),
      sum(dec(col("_yl")) * dec(col("_xl"))).as("sylxl"))
    val nD = col("n_pairs").cast("double")
    def d(name: String): Column = col(name).cast("double")
    val syD = col("sy").cast("double"); val sylD = col("syl").cast("double")
    val sxlD = col("sxl").cast("double")
    val s11 = d("syl2") - sylD * sylD / nD
    val s22 = d("sxl2") - sxlD * sxlD / nD
    val s12 = d("sylxl") - sylD * sxlD / nD
    val sy1 = d("syyl") - syD * sylD / nD
    val sy2 = d("syxl") - syD * sxlD / nD
    val syyC = d("syy") - syD * syD / nD
    val det = s11 * s22 - s12 * s12
    val rssR = syyC - sy1 * sy1 / s11
    val rssU = syyC -
      (sy1 * sy1 * s22 - sy1 * sy2 * s12 * 2.0 + sy2 * sy2 * s11) / det
    m.withColumn("rss_r",
        when(col("n_pairs") > 3L && s11 > 0.0, rssR))
      .withColumn("rss_u",
        when(col("n_pairs") > 3L && s11 > 0.0 && det > 0.0, rssU))
      .withColumn("f",
        when(col("rss_u").isNotNull && col("rss_u") > 0.0,
          (col("rss_r") - col("rss_u")) *
            (col("n_pairs") - 3L).cast("double") / col("rss_u")))
  }

  /** Caliper nearest-neighbor propensity matching (with replacement) —
    * the estimator between [[strataAte]]'s coarse strata and a full
    * model: each treated unit is matched to the NEAREST control on the
    * quantized propensity axis, unmatched past the caliper, and the
    * ATT is the mean treated-minus-matched-control outcome. Matching
    * happens at the SCORE-VALUE level (all controls at the matched
    * score are equally near, so the match outcome is their floor-div
    * mean ybar_ppm = (Σy·10⁶) div n — deterministic, no tie lottery;
    * documented). Nearest = min(backward, forward) distance with ties
    * to backward. Scores arrive as exact quantized longs (the
    * [[isotonicFit]]/[[conformalSplit]] contract), so the carry
    * windows run over the bounded score GRID, never data rows; the ATT
    * numerator Σ(Σy_t·10⁶ − n_t·ybar_match) is exact Decimal, one
    * division at the end. Returns one row: (n_treated, n_matched,
    * n_unmatched, att_num decimal, att). */
  def caliperMatchAtt(df: DataFrame, scorePpm: Column, treated: Column,
      y: Column, caliper: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(caliper >= 0L, s"caliper must be >= 0, got $caliper")
    val base = df.select(scorePpm.cast("long").as("_s"),
        treated.cast("boolean").as("_t"), y.cast("long").as("_y"))
      .where(col("_s").isNotNull && col("_t").isNotNull &&
        col("_y").isNotNull)
    val grid = base.groupBy("_s").agg(
      sum(when(col("_t"), 1L).otherwise(0L)).as("n_t"),
      sum(when(col("_t"), col("_y")).otherwise(0L)).as("sy_t"),
      sum(when(!col("_t"), 1L).otherwise(0L)).as("n_c"),
      sum(when(!col("_t"), col("_y")).otherwise(0L)).as("sy_c"))
    val cS = when(col("n_c") > 0L, col("_s"))
    // truncating integer division toward zero — Spark `div` and
    // DuckDB `//` share the convention (verified on negatives), so a
    // negative-y control mean replays exactly
    val cY = when(col("n_c") > 0L, expr("(sy_c * 1000000L) div n_c"))
    val wB = Window.orderBy(col("_s").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.orderBy(col("_s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = grid
      .withColumn("_bs", last(cS, ignoreNulls = true).over(wB))
      .withColumn("_by", last(cY, ignoreNulls = true).over(wB))
      .withColumn("_fs", last(cS, ignoreNulls = true).over(wF))
      .withColumn("_fy", last(cY, ignoreNulls = true).over(wF))
    val db = col("_s") - col("_bs")
    val dfw = col("_fs") - col("_s")
    val pickB = col("_bs").isNotNull &&
      (col("_fs").isNull || db <= dfw)
    val matched = carried.where(col("n_t") > 0L)
      .withColumn("_md", when(pickB, db)
        .when(col("_fs").isNotNull, dfw))
      .withColumn("_my", when(pickB, col("_by"))
        .when(col("_fs").isNotNull, col("_fy")))
      .withColumn("_ok", col("_md").isNotNull && col("_md") <= caliper)
    matched.agg(
        coalesce(sum("n_t"), lit(0L)).as("n_treated"),
        coalesce(sum(when(col("_ok"), col("n_t")).otherwise(0L)), lit(0L))
          .as("n_matched"),
        coalesce(sum(when(!col("_ok"), col("n_t")).otherwise(0L)),
          lit(0L)).as("n_unmatched"),
        coalesce(sum(when(col("_ok"),
          col("sy_t").cast("decimal(38,0)") * 1000000L -
            col("n_t").cast("decimal(38,0)") * col("_my"))
          .otherwise(lit(0L).cast("decimal(38,0)"))),
          lit(0L).cast("decimal(38,0)")).as("att_num"))
      .withColumn("att", when(col("n_matched") > 0L,
        col("att_num").cast("double") /
          (col("n_matched").cast("double") * 1e6)))
  }

  /** Trailing rolling-window aggregates over the dense zero-filled
    * bucket grid — the moving-average volume monitor (`window`-bucket
    * trailing sum / mean per group; gap buckets count 0, exactly like
    * [[cusumChangepoint]]'s grid). The window is partitioned per group
    * over <= T grid rows — never a global sort (the q157 scale
    * contract). Counts are exact integers; win_avg is ONE division.
    * Returns (groupCols..., bucket, cnt, win_n, win_sum, win_avg). */
  def rollingCounts(df: DataFrame, groupCols: Seq[String], bucket: Column,
      window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    import org.apache.spark.sql.expressions.Window
    val g = denseGridCounts(df, groupCols, bucket)
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(col("_b"))
      .rowsBetween(-(window - 1), 0)
    g.select(groupCols.map(col) :+ col("_b").as("bucket") :+
        col("_x").as("cnt") :+
        count(lit(1)).over(w).as("win_n") :+
        sum("_x").over(w).as("win_sum"): _*)
      .withColumn("win_avg",
        col("win_sum").cast("double") / col("win_n").cast("double"))
  }

  /** Two-group log-rank test over right-censored durations — the
    * significance companion to [[kaplanMeier]] ("do the two survival
    * curves differ", e.g. user retention under treatment vs control,
    * document lifetime before takedown by source). At each distinct
    * event time t the 2×2 table (group × event) contributes an
    * observed-minus-expected term d₁ₜ − dₜ·n₁ₜ/nₜ and a hypergeometric
    * variance dₜ·(n₁ₜ/nₜ)(1−n₁ₜ/nₜ)(nₜ−dₜ)/(nₜ−1); z = Σnum/√Σvar.
    *
    * Exactness contract (the [[vanElteren]] pattern): per-time counts
    * are exact integers from ONE (cell, t) aggregation; at-risk counts
    * come from a cell-partitioned cumulative window over ≤T distinct
    * times (never a global sort); each time's num is quantized to ppm
    * and var to ppb BEFORE the cross-time integer sum, so the fold is
    * order-free and engine-replayable. Censored-at-t subjects stay at
    * risk AT t (standard convention: events precede censorings at the
    * same time). Cells missing a group (n1=0 or n2=0) return null z.
    * Returns per cell: (groupCols..., n1, n2, o1, k_times,
    * num_ppm_sum, var_ppb_sum, z). */
  def logRank(df: DataFrame, groupCols: Seq[String], duration: Column,
      event: Column, inA: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(groupCols.map(col) :+
        duration.cast("long").as("_t") :+ event.cast("long").as("_e") :+
        inA.cast("boolean").as("_a"): _*)
      .where(col("_t").isNotNull && col("_t") >= 0L &&
        col("_e").isin(0L, 1L) && col("_a").isNotNull)
    val byT = base.groupBy(groupCols.map(col) :+ col("_t"): _*)
      .agg(count(lit(1)).as("_tot"),
        coalesce(sum(when(col("_a"), 1L)), lit(0L)).as("_tot1"),
        coalesce(sum("_e"), lit(0L)).as("_d"),
        coalesce(sum(when(col("_a"), col("_e"))), lit(0L)).as("_d1"))
    val wCum = Window.partitionBy(groupCols.map(col): _*).orderBy(col("_t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(groupCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val risked = byT
      .withColumn("_n", sum("_tot").over(wAll) -
        coalesce(sum("_tot").over(wCum), lit(0L)))
      .withColumn("_n1", sum("_tot1").over(wAll) -
        coalesce(sum("_tot1").over(wCum), lit(0L)))
      .where(col("_d") > 0L)
    val nD = col("_n").cast("double")
    val p1 = col("_n1").cast("double") / nD
    val contrib = risked
      .withColumn("_num_ppm", round((col("_d1").cast("double") -
        col("_d").cast("double") * p1) * 1e6).cast("long"))
      .withColumn("_var_ppb", when(col("_n") > 1L,
        round(col("_d").cast("double") * p1 * (lit(1.0) - p1) *
          (nD - col("_d").cast("double")) / (nD - 1.0) * 1e9).cast("long"))
        .otherwise(lit(0L)))
    val totals = base.groupBy(groupCols.map(col): _*)
      .agg(coalesce(sum(when(col("_a"), 1L)), lit(0L)).as("n1"),
        coalesce(sum(when(!col("_a"), 1L)), lit(0L)).as("n2"))
    val agg = contrib.groupBy(groupCols.map(col): _*)
      .agg(coalesce(sum("_d1"), lit(0L)).as("o1"),
        count(lit(1)).as("k_times"),
        coalesce(sum("_num_ppm"), lit(0L)).as("num_ppm_sum"),
        coalesce(sum("_var_ppb"), lit(0L)).as("var_ppb_sum"))
    val joined =
      if (groupCols.isEmpty) totals.crossJoin(agg)
      else totals.join(agg, groupCols, "left")
    joined.withColumn("z",
      when(col("n1") > 0L && col("n2") > 0L && col("var_ppb_sum") > 0L,
        (col("num_ppm_sum").cast("double") / 1e6) /
          sqrt(col("var_ppb_sum").cast("double") / 1e9))
        .otherwise(lit(null).cast("double")))
  }

  /** Cochran–Mantel–Haenszel test over stratified 2×2 tables — "is the
    * binary outcome associated with the binary exposure after
    * controlling for the stratum" (does the quality filter pass rate
    * differ by pipeline arm within each source; [[vanElteren]]'s binary-
    * outcome sibling). Per stratum: num = n₁₁ − r₁c₁/N, var =
    * r₁(N−r₁)c₁(N−c₁)/(N²(N−1)); χ² = (Σnum)²/Σvar (NO continuity
    * correction — [[mcnemar]]'s documented convention), z carries the
    * sign of the pooled association. Per-stratum num quantized to ppm
    * and var to ppb before the integer cross-stratum sum (order-free,
    * engine-replayable); single-row and single-class strata (var 0)
    * contribute nothing, degenerate N≤1 strata drop. Returns one row:
    * (k_strata, n, o_sum, num_ppm_sum, var_ppb_sum, chi2, z). */
  def cmhTest(df: DataFrame, stratum: Column, exposed: Column,
      outcome: Column): DataFrame = {
    val base = df.select(stratum.as("_g"), exposed.cast("boolean").as("_x"),
        outcome.cast("boolean").as("_y"))
      .where(col("_g").isNotNull && col("_x").isNotNull &&
        col("_y").isNotNull)
    val perS = base.groupBy("_g").agg(count(lit(1)).as("_n"),
        coalesce(sum(when(col("_x") && col("_y"), 1L)), lit(0L)).as("_n11"),
        coalesce(sum(when(col("_x"), 1L)), lit(0L)).as("_r1"),
        coalesce(sum(when(col("_y"), 1L)), lit(0L)).as("_c1"))
      .where(col("_n") > 1L)
    val nD = col("_n").cast("double")
    val contrib = perS
      .withColumn("_num_ppm", round((col("_n11").cast("double") -
        col("_r1").cast("double") * col("_c1").cast("double") / nD) * 1e6)
        .cast("long"))
      .withColumn("_var_ppb", round(
        col("_r1").cast("double") * (nD - col("_r1").cast("double")) *
          col("_c1").cast("double") * (nD - col("_c1").cast("double")) /
          (nD * nD * (nD - 1.0)) * 1e9).cast("long"))
    contrib.agg(count(lit(1)).as("k_strata"),
        coalesce(sum("_n"), lit(0L)).as("n"),
        coalesce(sum("_n11"), lit(0L)).as("o_sum"),
        coalesce(sum("_num_ppm"), lit(0L)).as("num_ppm_sum"),
        coalesce(sum("_var_ppb"), lit(0L)).as("var_ppb_sum"))
      .withColumn("chi2", when(col("var_ppb_sum") > 0L,
        (col("num_ppm_sum").cast("double") / 1e6) *
          (col("num_ppm_sum").cast("double") / 1e6) /
          (col("var_ppb_sum").cast("double") / 1e9))
        .otherwise(lit(null).cast("double")))
      .withColumn("z", when(col("var_ppb_sum") > 0L,
        (col("num_ppm_sum").cast("double") / 1e6) /
          sqrt(col("var_ppb_sum").cast("double") / 1e9))
        .otherwise(lit(null).cast("double")))
  }

  /** One-way ANOVA F over integer values — "does the group mean differ
    * across k groups" (mean document length by source, mean order value
    * by segment); the parametric companion to [[kruskalWallis]]. Exact
    * integer skeleton: per-group n and Σv (longs), global Σv² in
    * Decimal(38,0); the only rationals are the k per-group S²/n terms,
    * each quantized to ppm BEFORE the cross-group sum (the
    * [[vanElteren]] fold rule), and S²/N. SSB = ΣS_g²/n_g − S²/N,
    * SSW = Σv² − ΣS_g²/n_g, F = (SSB/(k−1))/(SSW/(N−k)); null when
    * k < 2, N ≤ k, or SSW ≤ 0. A cross-group fold order is NOT needed —
    * the quantized ppm terms sum as integers, and the final ssb/ssw/f
    * doubles are one deterministic float chain off those integers.
    * Returns one row: (k, n, ssb, ssw, f). */
  def anovaF(df: DataFrame, group: Column, value: Column): DataFrame = {
    val base = df.select(group.as("_g"), value.cast("long").as("_v"))
      .where(col("_g").isNotNull && col("_v").isNotNull)
    val perG = base.groupBy("_g").agg(count(lit(1)).as("_n"),
      coalesce(sum("_v"), lit(0L)).as("_s"),
      coalesce(sum((col("_v") * col("_v")).cast("decimal(38,0)")),
        lit(0L).cast("decimal(38,0)")).as("_v2"))
    val withTerm = perG.withColumn("_sq_ppm",
      round(col("_s").cast("double") * col("_s").cast("double") /
        col("_n").cast("double") * 1e6).cast("decimal(38,0)"))
    val tot = withTerm.agg(count(lit(1)).as("k"),
      coalesce(sum("_n"), lit(0L)).as("n"),
      coalesce(sum("_s"), lit(0L)).as("s"),
      coalesce(sum("_v2"), lit(0L).cast("decimal(38,0)")).as("v2"),
      coalesce(sum("_sq_ppm"), lit(0L).cast("decimal(38,0)")).as("sq_ppm"))
    val grandPpm = round(col("s").cast("double") * col("s").cast("double") /
      col("n").cast("double") * 1e6).cast("decimal(38,0)")
    tot
      .withColumn("ssb", (col("sq_ppm") - grandPpm).cast("double") / 1e6)
      .withColumn("ssw",
        col("v2").cast("double") - col("sq_ppm").cast("double") / 1e6)
      .withColumn("f",
        when(col("k") >= 2L && col("n") > col("k") && col("ssw") > 0.0,
          (col("ssb") / (col("k") - 1L).cast("double")) /
            (col("ssw") / (col("n") - col("k")).cast("double")))
          .otherwise(lit(null).cast("double")))
      .select("k", "n", "ssb", "ssw", "f")
  }

  /** Brown–Forsythe robust variance-homogeneity test — "does the SPREAD
    * differ across groups" (is length variance higher for crawl sources
    * than curated ones), Levene's test with the group MEDIAN center
    * (robust to the heavy tails that break the mean-centered variant).
    * Deviations are kept exactly integral by doubling: z = |2v − med2_g|
    * where med2 = lower-middle + upper-middle of the group's sorted
    * values (odd n: twice the median), from ONE group-partitioned
    * row_number window (never global); the F statistic is [[anovaF]]
    * over z. Returns one row: (k, n, ssb_ppm, ssw_ppm, f). */
  def brownForsythe(df: DataFrame, group: Column, value: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(group.as("_g"), value.cast("long").as("_v"))
      .where(col("_g").isNotNull && col("_v").isNotNull)
    val w = Window.partitionBy(col("_g")).orderBy(col("_v"))
    val wAll = Window.partitionBy(col("_g"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = base.withColumn("_rn", row_number().over(w))
      .withColumn("_cnt", count(lit(1)).over(wAll))
    // lo == hi for odd n: the conditional sums then BOTH pick the same
    // row, so med2 = 2·median exactly. floor() because Column./ on
    // longs is DOUBLE division (the olsDummy compile-time catch).
    val lo = floor((col("_cnt") + 1L) / 2L).cast("long")
    val hi = floor(col("_cnt") / 2L).cast("long") + 1L
    val med = ranked.groupBy("_g").agg(
      (coalesce(sum(when(col("_rn") === lo, col("_v"))), lit(0L)) +
        coalesce(sum(when(col("_rn") === hi, col("_v"))), lit(0L)))
        .as("_med2"))
    val dev = base.join(med, "_g")
      .select(col("_g"), abs(lit(2L) * col("_v") - col("_med2")).as("_z"))
    anovaF(dev, col("_g"), col("_z"))
  }

  /** Welch's unequal-variance two-sample t-test — "do the two arm means
    * differ" without the equal-variance assumption Student's t needs
    * (A/B revenue per user where treatment also changes the variance).
    * Per arm ONE exact pass: n (long), Σv (long), Σv² (Decimal(38,0));
    * s²ᵢ = (nΣv² − (Σv)²)/(n(n−1)) exact-integer numerator, then the
    * t/df chain is one float computation: t = (m₁−m₂)/√(s₁²/n₁+s₂²/n₂),
    * df = Welch–Satterthwaite. Null t/df when either arm has n < 2 or
    * both variances are 0. Returns one row:
    * (n1, n2, mean1, mean2, var1, var2, t, df_w). */
  def welchT(df: DataFrame, inA: Column, value: Column): DataFrame = {
    val base = df.select(inA.cast("boolean").as("_a"),
        value.cast("long").as("_v"))
      .where(col("_a").isNotNull && col("_v").isNotNull)
    def side(a: Boolean, p: String): Seq[Column] = Seq(
      coalesce(sum(when(col("_a") === a, 1L)), lit(0L)).as(s"n$p"),
      coalesce(sum(when(col("_a") === a, col("_v"))), lit(0L)).as(s"_s$p"),
      coalesce(sum(when(col("_a") === a,
          (col("_v") * col("_v")).cast("decimal(38,0)"))),
        lit(0L).cast("decimal(38,0)")).as(s"_v2$p"))
    def varNat(n: String, s: String, v2: String): Column =
      when(col(n) >= 2L,
        (col(v2).cast("double") * col(n).cast("double") -
          col(s).cast("double") * col(s).cast("double")) /
          (col(n).cast("double") * (col(n) - 1L).cast("double")))
    val cols = side(true, "1") ++ side(false, "2")
    val j = base.agg(cols.head, cols.tail: _*) // ONE conditional-sum pass
      .withColumn("mean1", when(col("n1") > 0L,
        col("_s1").cast("double") / col("n1").cast("double")))
      .withColumn("mean2", when(col("n2") > 0L,
        col("_s2").cast("double") / col("n2").cast("double")))
      .withColumn("var1", varNat("n1", "_s1", "_v21"))
      .withColumn("var2", varNat("n2", "_s2", "_v22"))
    val a = col("var1") / col("n1").cast("double")
    val b = col("var2") / col("n2").cast("double")
    j.withColumn("t",
        when(col("var1").isNotNull && col("var2").isNotNull && (a + b) > 0.0,
          (col("mean1") - col("mean2")) / sqrt(a + b)))
      .withColumn("df_w",
        when(col("var1").isNotNull && col("var2").isNotNull && (a + b) > 0.0,
          (a + b) * (a + b) /
            (a * a / (col("n1") - 1L).cast("double") +
              b * b / (col("n2") - 1L).cast("double"))))
      .select("n1", "n2", "mean1", "mean2", "var1", "var2", "t", "df_w")
  }

  /** Cochran's Q over k paired binary decisions — [[mcnemar]]'s
    * k-treatment extension: "do the k quality filters keep DIFFERENT
    * fractions of the same corpus" (Gopher vs C4 vs classifier on
    * identical docs). Input is long format (subject, treatment, kept);
    * only complete blocks count (subjects missing any treatment drop —
    * the standard complete-block requirement; duplicate
    * (subject, treatment) rows are rejected by an exact count check).
    * Q = (k−1)·[k·ΣC_j² − (ΣC_j)²] / (k·ΣR_i − ΣR_i²) is EXACT integer
    * arithmetic end to end with one final division — no quantization
    * needed anywhere. ~χ²(k−1) under the null. Null Q when the
    * denominator is 0 (all-identical rows). Returns one row:
    * (k, n_subjects, num, den, q). */
  /** Jonckheere–Terpstra ordered-alternative trend test — "does the
    * value INCREASE across the ordered groups" (doc quality across
    * curation tiers, order value across priority classes): strictly
    * more powerful than [[kruskalWallis]] when the alternative is
    * monotone, the ordered-group sibling of [[mannKendall]]'s
    * time-trend. J = Σ_{i<j} U_ij over ordered group pairs, kept exact
    * by doubling (ties count twice-half): for each (group, value) cell,
    * 2J gains c·(2A + B) where A = elements of EARLIER groups with
    * smaller value and B = earlier-group ties — both from two windows
    * over the DENSE group×value count grid (G·V rows, the
    * [[kruskalWallis]] bounded-distinct scale contract; never a window
    * over raw rows). E[2J] = (N² − Σn_i²)/2 exactly; the tie-corrected
    * variance is the standard three-term formula, every numerator an
    * exact Decimal(38,0) integer, the final var/z ONE float chain.
    * Null z when < 2 groups or var = 0 (all values tied). Returns one
    * row: (k, n, j2, e2, var_j, z). */
  def jonckheere(df: DataFrame, groupOrder: Column, value: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(groupOrder.cast("long").as("_g"),
        value.cast("long").as("_v"))
      .where(col("_g").isNotNull && col("_v").isNotNull)
    val gv = base.groupBy("_g", "_v").agg(count(lit(1)).as("_c"))
    val grid = gv.select("_g").distinct()
      .crossJoin(gv.select("_v").distinct())
      .join(gv, Seq("_g", "_v"), "left")
      .withColumn("_c", coalesce(col("_c"), lit(0L)))
    val wInG = Window.partitionBy(col("_g")).orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAtV = Window.partitionBy(col("_v")).orderBy(col("_g"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cells = grid
      .withColumn("_cumv", coalesce(sum("_c").over(wInG), lit(0L)))
      .withColumn("_a", coalesce(sum("_cumv").over(wAtV), lit(0L)))
      .withColumn("_b", coalesce(sum("_c").over(wAtV), lit(0L)))
    val j2 = cells.agg(coalesce(sum(
      (col("_c") * (lit(2L) * col("_a") + col("_b"))).cast("decimal(38,0)")),
      lit(0L).cast("decimal(38,0)")).as("j2"))
    def d(c: Column) = c.cast("decimal(38,0)")
    val perG = base.groupBy("_g").agg(count(lit(1)).as("_n"))
      .agg(count(lit(1)).as("k"),
        coalesce(sum("_n"), lit(0L)).as("n"),
        coalesce(sum(d(col("_n") * col("_n"))), d(lit(0L))).as("_sn2"),
        coalesce(sum(d(col("_n")) * d(col("_n") - 1L) *
          d(lit(2L) * col("_n") + 5L)), d(lit(0L))).as("_g225"),
        coalesce(sum(d(col("_n")) * d(col("_n") - 1L) *
          d(col("_n") - 2L)), d(lit(0L))).as("_g12"),
        coalesce(sum(d(col("_n")) * d(col("_n") - 1L)), d(lit(0L)))
          .as("_g1"))
    val ties = base.groupBy("_v").agg(count(lit(1)).as("_t"))
      .agg(coalesce(sum(d(col("_t")) * d(col("_t") - 1L) *
          d(lit(2L) * col("_t") + 5L)), d(lit(0L))).as("_t225"),
        coalesce(sum(d(col("_t")) * d(col("_t") - 1L) *
          d(col("_t") - 2L)), d(lit(0L))).as("_t12"),
        coalesce(sum(d(col("_t")) * d(col("_t") - 1L)), d(lit(0L)))
          .as("_t1"))
    val joined = j2.crossJoin(perG).crossJoin(ties)
    val nD = col("n").cast("double")
    val e2 = (d(col("n")) * d(col("n")) - col("_sn2"))
    val term1 = (d(col("n")) * d(col("n") - 1L) *
      d(lit(2L) * col("n") + 5L) - col("_g225") - col("_t225"))
      .cast("double") / 72.0
    val term2 = when(col("n") >= 3L,
      col("_g12").cast("double") * col("_t12").cast("double") /
        (lit(36.0) * (nD * (nD - 1.0) * (nD - 2.0)))).otherwise(lit(0.0))
    val term3 = col("_g1").cast("double") * col("_t1").cast("double") /
      (lit(8.0) * (nD * (nD - 1.0)))
    joined
      .withColumn("j2", col("j2").cast("long"))
      .withColumn("e2", (e2 / d(lit(2L))).cast("long"))
      .withColumn("var_j", when(col("n") >= 2L, term1 + term2 + term3))
      .withColumn("z", when(col("k") >= 2L && col("var_j") > 0.0,
        ((col("j2") - col("e2")).cast("double") / 2.0) / sqrt(col("var_j"))))
      .select("k", "n", "j2", "e2", "var_j", "z")
  }

  /** Dense-grid linear interpolation (gap fill) — the time-series
    * resample every monitoring/forecast pipeline needs before a model
    * sees the series: per group, every bucket in [first, last observed]
    * gets a value — observed buckets keep their exact sum, gaps get the
    * linear interpolation between the surrounding observations
    * (v_p·(b_n−b) + v_n·(b−b_p))/(b_n−b_p), no extrapolation outside
    * the observed span by construction. ONE (group, bucket) aggregate,
    * a per-group sequence explode over the bounded grid (the
    * [[rollingCounts]]/denseGridCounts contract, ≤10M-bucket guard),
    * and four group-partitioned IGNORE-NULLS carry windows — never
    * global. Output value quantized once to ppm (engine-replayable).
    * Returns (groupCols..., bucket, observed, v_ppm). */
  def interpolateLinear(df: DataFrame, groupCols: Seq[String],
      bucket: Column, value: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val obs0 = df.select(groupCols.map(col) :+
        bucket.cast("long").as("_b") :+ value.cast("double").as("_v"): _*)
      .where(col("_b").isNotNull && col("_v").isNotNull)
    val obs = obs0.groupBy(groupCols.map(col) :+ col("_b"): _*)
      .agg(sum("_v").as("_v"))
    val span = obs.groupBy(groupCols.map(col): _*)
      .agg(min("_b").as("_b0"), max("_b").as("_b1"))
      .withColumn("_b0",
        when(col("_b1") - col("_b0") < 10000000L, col("_b0"))
          .otherwise(raise_error(concat(lit(
            "bucket span too wide for a dense grid: "),
            (col("_b1") - col("_b0")).cast("string")))))
    val grid = span.select(groupCols.map(col) :+
        explode(sequence(col("_b0"), col("_b1"))).as("_b"): _*)
      .join(obs, groupCols :+ "_b", "left")
    val wPrev = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("_b")).rowsBetween(Window.unboundedPreceding, 0)
    val wNext = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("_b")).rowsBetween(0, Window.unboundedFollowing)
    val marked = grid
      .withColumn("_pb", last(when(col("_v").isNotNull, col("_b")),
        ignoreNulls = true).over(wPrev))
      .withColumn("_pv", last(col("_v"), ignoreNulls = true).over(wPrev))
      .withColumn("_nb", first(when(col("_v").isNotNull, col("_b")),
        ignoreNulls = true).over(wNext))
      .withColumn("_nv", first(col("_v"), ignoreNulls = true).over(wNext))
    val interp = when(col("_v").isNotNull, col("_v")).otherwise(
      (col("_pv") * (col("_nb") - col("_b")).cast("double") +
        col("_nv") * (col("_b") - col("_pb")).cast("double")) /
        (col("_nb") - col("_pb")).cast("double"))
    marked.select(groupCols.map(col) :+ col("_b").as("bucket") :+
      col("_v").isNotNull.as("observed") :+
      round(interp * 1e6).cast("long").as("v_ppm"): _*)
  }

  /** EWMA over the dense zero-filled bucket grid — the exponentially
    * weighted monitoring smoother beside [[rollingCounts]]' flat
    * window: s_k = α·v_k + (1−α)·s_{k−1}, seeded s_1 = v_1, gap
    * buckets count 0 (a silent day decays the average — exactly the
    * alerting semantic). The recurrence is a per-bucket prefix LEFT
    * FOLD over the group's collected grid array (the [[kaplanMeier]]
    * survival-product pattern — bounded-distinct scale contract,
    * O(T²) array ops per group, never a cross-row window recurrence),
    * replayed fold-for-fold by list_reduce; 1−α is computed at runtime
    * from the same α literal on BOTH engines (the decimal literal
    * "0.7" is NOT the double 1.0−0.3). Values and smoothed values
    * quantized once to ppm. Returns (groupCols..., bucket, v_ppm,
    * ewma_ppm). */
  def ewma(df: DataFrame, groupCols: Seq[String], bucket: Column,
      value: Column, alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0,1], got $alpha")
    val obs0 = df.select(groupCols.map(col) :+
        bucket.cast("long").as("_b") :+ value.cast("double").as("_v"): _*)
      .where(col("_b").isNotNull && col("_v").isNotNull)
    // per-bucket sums quantized to 1e-3 BEFORE the fold: a double sum's
    // accumulation order differs across engines/layouts at ~1e-14
    // relative, and the fold would otherwise smear that all the way to
    // the ppm outputs — quantize-then-fold makes every fold input the
    // identical double on both sides
    val obs = obs0.groupBy(groupCols.map(col) :+ col("_b"): _*)
      .agg((round(sum("_v") * 1e3) / 1e3).as("_v"))
    val span = obs.groupBy(groupCols.map(col): _*)
      .agg(min("_b").as("_b0"), max("_b").as("_b1"))
      .withColumn("_b0",
        when(col("_b1") - col("_b0") < 10000000L, col("_b0"))
          .otherwise(raise_error(concat(lit(
            "bucket span too wide for a dense grid: "),
            (col("_b1") - col("_b0")).cast("string")))))
    val grid = span.select(groupCols.map(col) :+
        explode(sequence(col("_b0"), col("_b1"))).as("_b"): _*)
      .join(obs, groupCols :+ "_b", "left")
      .withColumn("_v", coalesce(col("_v"), lit(0.0)))
    val arr = grid.groupBy(groupCols.map(col): _*)
      .agg(sort_array(collect_list(struct(col("_b"), col("_v")))).as("_s"))
      .withColumn("_varr", transform(col("_s"), e => e.getField("_v")))
    val a = lit(alpha); val oneMinusA = lit(1.0) - lit(alpha)
    val rows = arr.withColumn("_r",
      explode(transform(sequence(lit(1), size(col("_s"))), i => struct(
        element_at(col("_s"), i).getField("_b").as("b"),
        element_at(col("_varr"), i).as("v"),
        aggregate(slice(col("_varr"), lit(2), i - 1),
          element_at(col("_varr"), 1),
          (acc, x) => a * x + oneMinusA * acc).as("s")))))
    rows.select(groupCols.map(col) :+ col("_r.b").as("bucket") :+
      round(col("_r.v") * 1e6).cast("long").as("v_ppm") :+
      round(col("_r.s") * 1e6).cast("long").as("ewma_ppm"): _*)
  }

  /** Lagged cross-correlation between two bucketed signals per group —
    * "does x LEAD y by k buckets" (do clicks lead purchases by two
    * days; does crawl volume lead dedup load), the cross-signal
    * extension of [[autocorrelation]]: for every lag in [−maxLag,
    * maxLag], Pearson r between x_b and y_{b+lag} over the overlapping
    * buckets of the zero-filled dense grid. Per-bucket sums quantized
    * to 1e-3 and kept as ×1000 INTEGERS (the q264 rule, then exact),
    * so all five sufficient statistics per (group, lag) are exact
    * Decimal sums off ONE self-join of the grid shifted by the
    * exploded lag column; r is one float chain. Degenerate (constant
    * either side or n < 2) lags → null r. Returns
    * (groupCols..., lag, n, r). */
  def crossCorrelation(df: DataFrame, groupCols: Seq[String],
      bucket: Column, x: Column, y: Column, maxLag: Int): DataFrame = {
    require(maxLag >= 0, s"maxLag must be >= 0, got $maxLag")
    val obs0 = df.select(groupCols.map(col) :+
        bucket.cast("long").as("_b") :+ x.cast("double").as("_x") :+
        y.cast("double").as("_y"): _*)
      .where(col("_b").isNotNull)
    val obs = obs0.groupBy(groupCols.map(col) :+ col("_b"): _*)
      .agg(round(sum(coalesce(col("_x"), lit(0.0))) * 1e3).cast("long")
          .as("_xi"),
        round(sum(coalesce(col("_y"), lit(0.0))) * 1e3).cast("long")
          .as("_yi"))
    val span = obs.groupBy(groupCols.map(col): _*)
      .agg(min("_b").as("_b0"), max("_b").as("_b1"))
      .withColumn("_b0",
        when(col("_b1") - col("_b0") < 10000000L, col("_b0"))
          .otherwise(raise_error(concat(lit(
            "bucket span too wide for a dense grid: "),
            (col("_b1") - col("_b0")).cast("string")))))
    val grid = span.select(groupCols.map(col) :+
        explode(sequence(col("_b0"), col("_b1"))).as("_b"): _*)
      .join(obs, groupCols :+ "_b", "left")
      .withColumn("_xi", coalesce(col("_xi"), lit(0L)))
      .withColumn("_yi", coalesce(col("_yi"), lit(0L)))
    val lags = (-maxLag to maxLag).map(_.toLong)
    val left = grid.select(groupCols.map(col) :+ col("_b") :+
        col("_xi"): _*)
      .withColumn("lag", explode(array(lags.map(lit): _*)))
      .withColumn("_b2", col("_b") + col("lag"))
    val right = grid.select((groupCols.map(col) :+ col("_b").as("_b2") :+
      col("_yi")): _*)
    def d(c: Column) = c.cast("decimal(38,0)")
    val stats = left.join(right, groupCols :+ "_b2")
      .groupBy(groupCols.map(col) :+ col("lag"): _*)
      .agg(count(lit(1)).as("n"),
        coalesce(sum(d(col("_xi"))), d(lit(0L))).as("_sx"),
        coalesce(sum(d(col("_yi"))), d(lit(0L))).as("_sy"),
        coalesce(sum(d(col("_xi")) * d(col("_xi"))), d(lit(0L))).as("_sxx"),
        coalesce(sum(d(col("_yi")) * d(col("_yi"))), d(lit(0L))).as("_syy"),
        coalesce(sum(d(col("_xi")) * d(col("_yi"))), d(lit(0L))).as("_sxy"))
    val nD = col("n").cast("double")
    val num = nD * col("_sxy").cast("double") -
      col("_sx").cast("double") * col("_sy").cast("double")
    val vx = nD * col("_sxx").cast("double") -
      col("_sx").cast("double") * col("_sx").cast("double")
    val vy = nD * col("_syy").cast("double") -
      col("_sy").cast("double") * col("_sy").cast("double")
    stats.withColumn("r",
        when(col("n") >= 2L && vx > 0.0 && vy > 0.0, num / sqrt(vx * vy)))
      .select(groupCols.map(col) :+ col("lag") :+ col("n") :+ col("r"): _*)
  }

  /** Kendall's τ-b + Somers' D — ordinal↔ordinal association with full
    * tie correction ("does the quality tier track the curation tier";
    * the rank-correlation complement to [[spearmanExact]], and the
    * asymmetric Somers' D_yx is the ordinal effect size of x on y).
    * Concordant/discordant pair counts come EXACTLY off the
    * [[jonckheere]] grid machinery: per dense-grid cell, C gains
    * c·T (T = both-strictly-smaller prefix) and D gains
    * c·(colBefore − T − E) (E = earlier-x same-y ties), each pair
    * counted once at its larger-x cell; tie terms Σt(t−1) stay doubled
    * integers. τ-b = (C−D)/√(((n₂−tx₂)/2)·((n₂−ty₂)/2)) and
    * D_yx = (C−D)/((n₂−tx₂)/2) are each ONE float chain
    * (n₂ = n(n−1)). Bounded-distinct scale contract: the grid is
    * X·Y cells — bucket continuous values first. Null statistics when
    * either margin is constant. Returns one row:
    * (n, conc, disc, tx2, ty2, tau_b, somers_yx). */
  def kendallTauB(df: DataFrame, x: Column, y: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(x.cast("long").as("_x"), y.cast("long").as("_y"))
      .where(col("_x").isNotNull && col("_y").isNotNull)
    val gv = base.groupBy("_x", "_y").agg(count(lit(1)).as("_c"))
    val grid = gv.select("_x").distinct()
      .crossJoin(gv.select("_y").distinct())
      .join(gv, Seq("_x", "_y"), "left")
      .withColumn("_c", coalesce(col("_c"), lit(0L)))
    val wInX = Window.partitionBy(col("_x")).orderBy(col("_y"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAtY = Window.partitionBy(col("_y")).orderBy(col("_x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cells = grid
      .withColumn("_cumy", coalesce(sum("_c").over(wInX), lit(0L)))
      .withColumn("_t", coalesce(sum("_cumy").over(wAtY), lit(0L)))
      .withColumn("_e", coalesce(sum("_c").over(wAtY), lit(0L)))
    val perX = base.groupBy("_x").agg(count(lit(1)).as("_nx"))
    val wX = Window.orderBy(col("_x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val colBefore = perX
      .withColumn("_before", coalesce(sum("_nx").over(wX), lit(0L)))
      .select(col("_x"), col("_before"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val cd = cells.join(broadcast(colBefore), "_x")
      .agg( // cast BEFORE multiply: c·(pair counts) is N²-scale
        coalesce(sum(dec(col("_c")) * dec(col("_t"))), dec(lit(0L)))
          .as("conc"),
        coalesce(sum(dec(col("_c")) *
          dec(col("_before") - col("_t") - col("_e"))), dec(lit(0L)))
          .as("disc"))
    val tx = perX.agg(coalesce(sum(col("_nx") * (col("_nx") - 1L)),
      lit(0L)).as("tx2"), coalesce(sum("_nx"), lit(0L)).as("n"))
    val ty = base.groupBy("_y").agg(count(lit(1)).as("_ny"))
      .agg(coalesce(sum(col("_ny") * (col("_ny") - 1L)), lit(0L)).as("ty2"))
    val j = cd.crossJoin(tx).crossJoin(ty)
    val n2 = col("n").cast("double") * (col("n") - 1L).cast("double")
    val dx = (n2 - col("tx2").cast("double")) / 2.0
    val dy = (n2 - col("ty2").cast("double")) / 2.0
    val num = col("conc").cast("double") - col("disc").cast("double")
    j.withColumn("tau_b", when(dx > 0.0 && dy > 0.0, num / sqrt(dx * dy)))
      .withColumn("somers_yx", when(dx > 0.0, num / dx))
      .select(col("n"), col("conc").cast("long").as("conc"),
        col("disc").cast("long").as("disc"), col("tx2"), col("ty2"),
        col("tau_b"), col("somers_yx"))
  }

  /** Mutual information (nats) between two categorical columns — "how
    * much does knowing the source tell you about the language"; the
    * information-theoretic complement to [[cramersV]]'s χ²-based
    * association, and the standard leakage probe between a metadata
    * column and a label. Each occupied cell contributes
    * (c/N)·ln(cN/(r·s)), quantized ONCE to ppb (the q225 LLR rule —
    * negative cells round away from zero identically on both engines)
    * and summed as integers; the margin entropies H(x), H(y) get the
    * same treatment, so NMI = MI/√(H(x)H(y)) is one float chain over
    * three exact integers. Empty cells contribute nothing (0·ln0 = 0).
    * Returns one row: (n, cells, mi_ppb, hx_ppb, hy_ppb, nmi). */
  def mutualInfo(df: DataFrame, x: Column, y: Column): DataFrame = {
    val base = df.select(x.as("_x"), y.as("_y"))
      .where(col("_x").isNotNull && col("_y").isNotNull)
    val cells = base.groupBy("_x", "_y").agg(count(lit(1)).as("_c"))
    val rx = base.groupBy("_x").agg(count(lit(1)).as("_r"))
    val ry = base.groupBy("_y").agg(count(lit(1)).as("_s"))
    val n = base.agg(count(lit(1)).as("n"))
    val withM = cells.join(broadcast(rx), "_x").join(broadcast(ry), "_y")
      .crossJoin(broadcast(n))
    val cD = col("_c").cast("double"); val nD = col("n").cast("double")
    val mi = withM
      .withColumn("_term_ppb", round((cD / nD) *
        log(cD * nD / (col("_r").cast("double") * col("_s").cast("double")))
        * 1e9).cast("long"))
      .agg(first(col("n")).as("n"), count(lit(1)).as("cells"),
        coalesce(sum("_term_ppb"), lit(0L)).as("mi_ppb"))
    def entropyPpb(cnt: String): Column = {
      val p = col(cnt).cast("double") / col("_n").cast("double")
      round(-(p * log(p)) * 1e9).cast("long")
    }
    val hx = rx.crossJoin(broadcast(n.select(col("n").as("_n"))))
      .select(entropyPpb("_r").as("_h"))
      .agg(coalesce(sum("_h"), lit(0L)).as("hx_ppb"))
    val hy = ry.crossJoin(broadcast(n.select(col("n").as("_n"))))
      .select(entropyPpb("_s").as("_h"))
      .agg(coalesce(sum("_h"), lit(0L)).as("hy_ppb"))
    mi.crossJoin(hx).crossJoin(hy)
      .withColumn("nmi", when(col("hx_ppb") > 0L && col("hy_ppb") > 0L,
        (col("mi_ppb").cast("double") / 1e9) /
          sqrt((col("hx_ppb").cast("double") / 1e9) *
            (col("hy_ppb").cast("double") / 1e9))))
      .select("n", "cells", "mi_ppb", "hx_ppb", "hy_ppb", "nmi")
  }

  def cochranQ(df: DataFrame, subject: Column, treatment: Column,
      kept: Column): DataFrame = {
    val base = df.select(subject.as("_s"), treatment.as("_j"),
        kept.cast("boolean").as("_y"))
      .where(col("_s").isNotNull && col("_j").isNotNull &&
        col("_y").isNotNull)
    val k = base.select(countDistinct("_j")).first().getLong(0)
    require(k >= 2, s"cochranQ needs >= 2 treatments, got $k")
    val rows = base.groupBy("_s").agg(count(lit(1)).as("_cnt"),
        countDistinct("_j").as("_dj"),
        coalesce(sum(when(col("_y"), 1L)), lit(0L)).as("_r"))
    val dupes = rows.where(col("_cnt") =!= col("_dj")).limit(1).count()
    require(dupes == 0L, "cochranQ: duplicate (subject, treatment) rows")
    val complete = rows.where(col("_dj") === k)
    val rowAgg = complete.agg(count(lit(1)).as("n_subjects"),
      coalesce(sum("_r"), lit(0L)).as("_sumR"),
      coalesce(sum(col("_r") * col("_r")), lit(0L)).as("_sumR2"))
    val colAgg = base.join(complete.select("_s"), "_s")
      .groupBy("_j").agg(coalesce(sum(when(col("_y"), 1L)), lit(0L)).as("_c"))
      .agg(coalesce(sum(col("_c") * col("_c")), lit(0L)).as("_sumC2"),
        coalesce(sum("_c"), lit(0L)).as("_sumC"))
    rowAgg.crossJoin(colAgg)
      .withColumn("k", lit(k))
      .withColumn("num", (lit(k) - 1L) *
        (lit(k) * col("_sumC2") - col("_sumC") * col("_sumC")))
      .withColumn("den", lit(k) * col("_sumR") - col("_sumR2"))
      .withColumn("q", when(col("den") > 0L,
        col("num").cast("double") / col("den").cast("double")))
      .select("k", "n_subjects", "num", "den", "q")
  }

  /** Fleiss' kappa (Fleiss 1971): chance-corrected agreement of r
    * raters assigning N subjects to k categories — [[cohensKappa]]'s
    * many-rater generalization, the label-quality readout when several
    * heuristic annotators (or model versions) tag the same corpus.
    * Exact rational arithmetic end to end: with n_ij = raters putting
    * subject i in category j, S2 = Σ_ij n_ij² and C_j = Σ_i n_ij,
    *
    *   κ = [(S2 − Nr)·Nr − ΣC_j²·(r−1)] / [((Nr)² − ΣC_j²)·(r−1)]
    *
    * — numerator and denominator are exact Decimal(38,0) integers
    * (overflow-free at any corpus size), κ the ONE float at the end.
    * Every subject must be rated exactly once by each of the r raters
    * (loud require, the [[cochranQ]] completeness contract).
    *
    * Scale shape: one (subject, category) groupBy count of O(N·r)
    * rows partial-agg'd map-side, one ≤k-row category rollup, one
    * subject-completeness check — no windows, no driver data beyond
    * the bounded requires. Returns one row
    * (n_subjects, r, k_cats, s2, sum_c2, kappa_num, kappa_den, kappa). */
  def fleissKappa(df: DataFrame, subject: Column, rater: Column,
      category: Column): DataFrame = {
    val base = df.select(subject.as("_s"), rater.as("_r"),
        category.as("_j"))
      .where(col("_s").isNotNull && col("_r").isNotNull &&
        col("_j").isNotNull)
    val r = base.select(countDistinct("_r")).first().getLong(0)
    require(r >= 2, s"fleissKappa needs >= 2 raters, got $r")
    val perSubject = base.groupBy("_s").agg(count(lit(1)).as("_cnt"),
      countDistinct("_r").as("_dr"))
    val bad = perSubject
      .where(col("_cnt") =!= r || col("_dr") =!= r).limit(1).count()
    require(bad == 0L,
      s"fleissKappa: every subject needs exactly one rating from each of $r raters")
    val nij = base.groupBy("_s", "_j").agg(count(lit(1)).as("_nij"))
    val s2agg = nij.agg(count(lit(1)).as("_cells"),
      coalesce(sum(col("_nij") * col("_nij")), lit(0L)).as("s2"),
      countDistinct("_s").as("n_subjects"))
    val cats = nij.groupBy("_j")
      .agg(coalesce(sum("_nij"), lit(0L)).as("_c"))
      .agg(count(lit(1)).as("k_cats"),
        coalesce(sum(col("_c").cast("decimal(38,0)") * col("_c")),
          lit(0L).cast("decimal(38,0)")).as("sum_c2"))
    val nr = col("n_subjects").cast("decimal(38,0)") * lit(r)
    s2agg.crossJoin(cats)
      .withColumn("r", lit(r))
      .withColumn("kappa_num",
        ((col("s2").cast("decimal(38,0)") - nr) * nr -
          col("sum_c2") * lit(r - 1L)).cast("decimal(38,0)"))
      .withColumn("kappa_den",
        ((nr * nr - col("sum_c2")) * lit(r - 1L)).cast("decimal(38,0)"))
      .withColumn("kappa", when(col("kappa_den") =!= lit(0L),
        col("kappa_num").cast("double") / col("kappa_den").cast("double")))
      .select("n_subjects", "r", "k_cats", "s2", "sum_c2",
        "kappa_num", "kappa_den", "kappa")
  }

  /** Best single-feature split (the CART/XGBoost histogram split
    * finder, one decision stump): per group, the threshold on an
    * integer feature `x` that maximizes the variance-reduction
    * surrogate S_l²/n_l + S_r²/n_r over an integer target `y` —
    * feature-importance / leakage screening for training pipelines.
    *
    * Kept engine-exact: per candidate boundary (the gaps between
    * consecutive DISTINCT x values), n/Σy on each side are exact
    * integers off two prefix windows over the per-(group, x) pre-agg;
    * the gain is quantized ONCE as (S_l² div n_l) + (S_r² div n_r) —
    * two exact integer floor divisions summed in Decimal(38,0), no
    * float anywhere (each floor loses < 1 on an integer-valued scale,
    * a deterministic, documented statistic) — and the argmax tie rule
    * is (gain desc, split asc). An in-plan sum(|y|) ≤ 3·10⁹ guard
    * keeps every S² inside a long; rescale the target upstream.
    *
    * Scale contract: windows run over the DISTINCT-x grid per group
    * (bounded by contract — bucketize a continuous feature upstream,
    * the q253 rule). Returns one row per group: (group…, split_x =
    * the largest x routed LEFT, n_l, n_r, sum_l, sum_r, gain);
    * groups with one distinct x yield no row. */
  def bestSplit(df: DataFrame, groupCols: Seq[String], x: Column,
      y: Column): DataFrame = {
    val base = df.select(groupCols.map(col) :+ x.cast("long").as("_x") :+
        y.cast("long").as("_y"): _*)
      .where(col("_x").isNotNull && col("_y").isNotNull)
    val grid = base.groupBy(groupCols.map(col) :+ col("_x"): _*)
      .agg(count(lit(1)).as("_c"), sum("_y").as("_s"),
        sum(abs(col("_y"))).as("_sa"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*).orderBy(col("_x"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
    val wBest = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(col("gain").desc, col("split_x").asc)
    grid
      // |Σ|y|| ≤ 3·10⁹ per group keeps every S² inside a long
      .withColumn("_satot", sum("_sa").over(wAll))
      .withColumn("_nl", when(col("_satot") <= 3000000000L, sum("_c").over(w))
        .otherwise(raise_error(concat(
          lit("bestSplit needs sum(|y|) <= 3e9 per group " +
            "(rescale the target upstream): "),
          col("_satot").cast("string")))))
      .withColumn("_sl", sum("_s").over(w))
      .withColumn("_n", sum("_c").over(wAll))
      .withColumn("_st", sum("_s").over(wAll))
      .where(col("_nl") < col("_n")) // the top x has no right side
      .select(groupCols.map(col) :+ col("_x").as("split_x") :+
        col("_nl").as("n_l") :+ (col("_n") - col("_nl")).as("n_r") :+
        col("_sl").as("sum_l") :+ (col("_st") - col("_sl")).as("sum_r"): _*)
      .withColumn("gain",
        expr("(sum_l * sum_l) div n_l").cast("decimal(38,0)") +
          expr("(sum_r * sum_r) div n_r").cast("decimal(38,0)"))
      .withColumn("_rn", row_number().over(wBest))
      .where(col("_rn") === 1)
      .drop("_rn")
  }

  /** Best single-feature split for a CATEGORICAL target (the Gini
    * split finder — [[bestSplit]]'s classification sibling): per
    * group, the threshold maximizing Σ_c cum_c²/n_l + Σ_c (tot_c −
    * cum_c)²/n_r (equivalently minimizing weighted Gini impurity).
    *
    * Exactness: per-class cumulative counts ride the DENSE
    * (distinct-x × label) grid (absent cells joined in as 0 — a class
    * missing at a boundary must carry its stale cumulative, not
    * vanish), A_l/A_r are exact Decimal sums of squares, the gain is
    * quantized ONCE as (A_l·10⁶ div n_l) + (A_r·10⁶ div n_r) — floor
    * divisions, no float — with the (gain desc, split asc) tie rule.
    * An in-plan n ≤ 2³¹ per-group guard keeps A·10⁶ div n inside a
    * long. Windows run over the bounded grid, never data rows.
    *
    * Returns one row per group: (group…, split_x, n_l, n_r, a_l, a_r,
    * gain); single-distinct-x groups yield no row. */
  def bestSplitGini(df: DataFrame, groupCols: Seq[String], x: Column,
      label: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val base = df.select(groupCols.map(col) :+ x.cast("long").as("_x") :+
        label.cast("string").as("_l"): _*)
      .where(col("_x").isNotNull && col("_l").isNotNull)
    val cells = base.groupBy(groupCols.map(col) :+ col("_x") :+ col("_l"): _*)
      .agg(count(lit(1)).as("_c"))
    val xs = cells.select(groupCols.map(col) :+ col("_x"): _*).distinct()
    val ls = cells.select(groupCols.map(col) :+ col("_l"): _*).distinct()
    val grid = xs.join(ls, groupCols)
      .join(cells, groupCols :+ "_x" :+ "_l", "left")
      .withColumn("_c0", coalesce(col("_c"), lit(0L)))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy((groupCols :+ "_l").map(col): _*).orderBy(col("_x"))
    val wLbl = org.apache.spark.sql.expressions.Window
      .partitionBy((groupCols :+ "_l").map(col): _*)
    val wBest = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(col("gain").desc, col("split_x").asc)
    grid
      .withColumn("_cum", sum("_c0").over(wCum))
      .withColumn("_tot", sum("_c0").over(wLbl))
      .groupBy(groupCols.map(col) :+ col("_x"): _*)
      .agg(sum("_cum").as("n_l"),
        sum(dec(col("_cum")) * col("_cum")).as("a_l"),
        sum("_tot").as("_n"),
        sum(dec(col("_tot") - col("_cum")) * (col("_tot") - col("_cum")))
          .as("a_r"))
      .withColumn("_guard", when(col("_n") <= (1L << 31),
          col("_n"))
        .otherwise(raise_error(concat(
          lit("bestSplitGini needs n <= 2^31 per group: "),
          col("_n").cast("string")))))
      .where(col("n_l") < col("_guard")) // the top x has no right side
      .select(groupCols.map(col) :+ col("_x").as("split_x") :+
        col("n_l") :+ (col("_n") - col("n_l")).as("n_r") :+
        col("a_l") :+ col("a_r"): _*)
      .withColumn("gain",
        expr("((a_l * 1000000) div n_l)").cast("decimal(38,0)") +
          expr("((a_r * 1000000) div n_r)").cast("decimal(38,0)"))
      .withColumn("_rn", row_number().over(wBest))
      .where(col("_rn") === 1)
      .drop("_rn")
  }

  /** Average precision (the PR-curve summary, exact): rank rows by
    * (`score` desc, `id` asc — deterministic), AP = (1/P)·Σ over
    * positive rows of precision@k. Each precision term is quantized
    * ONCE as (cum_pos·10⁹) div k — an exact integer floor division —
    * so `ap_num` (their sum) and `n_pos` gate exactly and the single
    * float op is the final ap_num / (n_pos·10⁹). The threshold-free
    * companion of the exact AUC (aucExact) for imbalanced eval.
    *
    * The global rank is ONE total order — computed via a single
    * window here (ranking-eval scale: score tables, not raw corpora);
    * feed a pre-ranked frame at larger scale. Returns one row:
    * (n, n_pos, ap_num, ap). */
  def averagePrecision(df: DataFrame, id: Column, score: Column,
      positive: Column): DataFrame = {
    val base = df.select(id.as("_id"), score.as("_sc"),
        positive.cast("boolean").as("_p"))
      .where(col("_sc").isNotNull && col("_p").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("_sc").desc, col("_id").asc)
    base
      .withColumn("_k", row_number().over(w))
      .withColumn("_cum", sum(col("_p").cast("long")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .agg(count(lit(1)).as("n"),
        sum(col("_p").cast("long")).as("n_pos"),
        coalesce(sum(when(col("_p"),
          expr("(_cum * 1000000000) div _k"))), lit(0L)).as("ap_num"))
      .withColumn("ap", when(col("n_pos") > 0L,
        col("ap_num").cast("double") /
          (col("n_pos").cast("double") * lit(1e9))))
  }

  /** Classification confusion statistics at a score threshold: exact
    * tp/fp/fn/tn in ONE conditional-sum pass, precision/recall/F1 each
    * a single division of exact integers (F1 = 2tp/(2tp+fp+fn) — no
    * harmonic-mean float chain). Null metrics when their denominator
    * is 0. The fixed-operating-point companion of the threshold-free
    * AUC (aucExact) / AP (averagePrecision). Rows with a null score or
    * label drop. Returns one row: (tp, fp, fn, tn, precision, recall,
    * f1). */
  def confusionStats(df: DataFrame, score: Column, positive: Column,
      threshold: Double): DataFrame = {
    val base = df.select(score.as("_sc"), positive.cast("boolean").as("_p"))
      .where(col("_sc").isNotNull && col("_p").isNotNull)
      .select((col("_sc") >= threshold).as("_pred"), col("_p"))
    base.agg(
        sum(when(col("_pred") && col("_p"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("_pred") && !col("_p"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("_pred") && col("_p"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("_pred") && !col("_p"), 1L).otherwise(0L)).as("tn"))
      .withColumn("precision", when(col("tp") + col("fp") > 0L,
        col("tp").cast("double") / (col("tp") + col("fp")).cast("double")))
      .withColumn("recall", when(col("tp") + col("fn") > 0L,
        col("tp").cast("double") / (col("tp") + col("fn")).cast("double")))
      .withColumn("f1", when(lit(2L) * col("tp") + col("fp") + col("fn") > 0L,
        (lit(2L) * col("tp")).cast("double") /
          (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double")))
  }

  /** Multi-class per-label confusion statistics: for every label
    * appearing as truth or prediction, exact (tp, n_true, n_pred) off
    * three bounded count aggregations — fp = n_pred − tp and
    * fn = n_true − tp follow — plus per-label precision/recall/F1,
    * each ONE division of exact integers. Macro-average downstream by
    * taking the mean of the per-label rows. Rows with a null truth or
    * prediction drop. Returns one row per label. */
  def multiClassStats(df: DataFrame, truth: Column, pred: Column): DataFrame = {
    val base = df.select(truth.as("_t"), pred.as("_p"))
      .where(col("_t").isNotNull && col("_p").isNotNull)
    val tp = base.where(col("_t") === col("_p"))
      .groupBy(col("_t").as("label")).agg(count(lit(1)).as("tp"))
    val nt = base.groupBy(col("_t").as("label")).agg(count(lit(1)).as("n_true"))
    val np = base.groupBy(col("_p").as("label")).agg(count(lit(1)).as("n_pred"))
    nt.join(np, Seq("label"), "full_outer")
      .join(tp, Seq("label"), "left")
      .select(col("label"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .withColumn("fp", col("n_pred") - col("tp"))
      .withColumn("fn", col("n_true") - col("tp"))
      .withColumn("precision", when(col("n_pred") > 0L,
        col("tp").cast("double") / col("n_pred").cast("double")))
      .withColumn("recall", when(col("n_true") > 0L,
        col("tp").cast("double") / col("n_true").cast("double")))
      .withColumn("f1", when(lit(2L) * col("tp") + col("fp") + col("fn") > 0L,
        (lit(2L) * col("tp")).cast("double") /
          (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double")))
  }

  /** Per-dimension embedding-distribution drift between two corpus
    * slices — the embedding-space monitor beside the scalar drift
    * battery (KS/W1/PSI): each float component is quantized ONCE to
    * ppm, then per dimension both slices report exact integer
    * (n, Σv_ppm) and exact Decimal Σv_ppm² — layout-invariant,
    * mergeable, replayable — plus the mean difference in ppm as the
    * single float chain. One posexplode + one (dim) aggregation per
    * side; output is dim-sized. Returns (dim, n_a, n_b, sum_a_ppm,
    * sum_b_ppm, ss_a, ss_b, mean_diff_ppm). */
  def embeddingDrift(a: DataFrame, b: DataFrame, vecCol: String): DataFrame = {
    def side(df: DataFrame, p: String) = df
      .select(posexplode(col(vecCol)).as(Seq("dim", "_v")))
      .select(col("dim"),
        round(col("_v").cast("double") * lit(1e6)).cast("long").as("_q"))
      .groupBy("dim")
      .agg(count(lit(1)).as(s"n_$p"), sum("_q").as(s"sum_${p}_ppm"),
        sum(col("_q").cast("decimal(38,0)") * col("_q")).as(s"ss_$p"))
    side(a, "a").join(side(b, "b"), Seq("dim"))
      .withColumn("mean_diff_ppm",
        col("sum_a_ppm").cast("double") / col("n_a").cast("double") -
          col("sum_b_ppm").cast("double") / col("n_b").cast("double"))
  }

  /** Pairwise Pearson correlation matrix over integer-castable
    * measures — the profiling screen "which features are redundant /
    * leaking". ONE pass computes every sufficient statistic (n, Σx,
    * Σx² and all K(K−1)/2 cross products — exact Decimal(38,0) sums),
    * then each pair's r is ONE float chain over exact integers.
    * Output bounded by K², never data-sized. Rows with ANY null
    * measure drop (listwise deletion — the statistic must share one n
    * across pairs to be a matrix). Returns (col_a, col_b, n, r). */
  def correlationMatrix(df: DataFrame, measures: Seq[String]): DataFrame = {
    require(measures.size >= 2, "need at least two measures")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    // r7 overflow audit: with |x| ≤ 2^31 and n ≤ 4·10⁹ every statistic
    // in the chain provably fits Decimal(38,0) (n·Σx² ≤ n²·M² ≤ 9.3e37;
    // (Σx)² same bound) — without the guards a 100×-scale input nulls
    // the Decimal sums silently (ansi=false) and r reads as null
    val bound = 2147483647L
    def guarded(m: String): Column =
      when(abs(col(m).cast("long")) <= bound, col(m).cast("long"))
        .otherwise(raise_error(concat(
          lit(s"correlationMatrix needs |$m| <= 2^31 (quantize coarser " +
            "upstream): "), col(m).cast("string")))).as(m)
    val base = df.select(measures.map(guarded): _*)
      .where(measures.map(col(_).isNotNull).reduce(_ && _))
    val aggs = Seq(
      when(count(lit(1)) <= 4000000000L, count(lit(1)))
        .otherwise(raise_error(lit(
          "correlationMatrix needs n <= 4e9 rows (pre-aggregate or " +
            "sample upstream)"))).as("_n")) ++
      measures.map(m => sum(col(m)).as(s"_s_$m")) ++
      measures.map(m => sum(dec(col(m)) * col(m)).as(s"_ss_$m")) ++
      (for {
        i <- measures.indices; j <- measures.indices if i < j
      } yield sum(dec(col(measures(i))) * col(measures(j)))
        .as(s"_x_${measures(i)}_${measures(j)}"))
    val stats = base.agg(aggs.head, aggs.tail: _*)
    val pairRows = for {
      i <- measures.indices; j <- measures.indices if i < j
    } yield {
      val (a, b) = (measures(i), measures(j))
      val n = col("_n").cast("decimal(38,0)")
      val cov = n * col(s"_x_${a}_$b") - dec(col(s"_s_$a")) * col(s"_s_$b")
      val va = n * col(s"_ss_$a") - dec(col(s"_s_$a")) * col(s"_s_$a")
      val vb = n * col(s"_ss_$b") - dec(col(s"_s_$b")) * col(s"_s_$b")
      stats.select(lit(a).as("col_a"), lit(b).as("col_b"),
        col("_n").as("n"),
        when(va > 0 && vb > 0,
          cov.cast("double") /
            (sqrt(va.cast("double")) * sqrt(vb.cast("double")))).as("r"))
    }
    pairRows.reduce(_.unionByName(_))
  }

  /** Brier score (the proper scoring rule for probabilistic
    * predictions — calibration AND refinement in one number, beside
    * ECE q167's calibration-only readout): predictions quantized ONCE
    * to ppm, so the numerator Σ(p_ppm − y·10⁶)² is an exact
    * Decimal(38,0) sum and the score is ONE division by n·10¹².
    * Returns (n, brier_num, brier). */
  def brierScore(df: DataFrame, score: Column, positive: Column): DataFrame = {
    val base = df.select(score.cast("double").as("_sc"),
        positive.cast("boolean").as("_p"))
      .where(col("_sc").isNotNull && col("_p").isNotNull)
      .select((round(col("_sc") * lit(1e6)).cast("long") -
        when(col("_p"), lit(1000000L)).otherwise(lit(0L))).as("_e"))
    base.agg(count(lit(1)).as("n"),
        coalesce(sum(col("_e").cast("decimal(38,0)") * col("_e")),
          lit(0L).cast("decimal(38,0)")).as("brier_num"))
      .withColumn("brier", when(col("n") > 0L,
        col("brier_num").cast("double") /
          (col("n").cast("double") * lit(1e12))))
  }

  /** Log-loss (cross-entropy) — [[brierScore]]'s sharper sibling:
    * per-row −(y·ln p + (1−y)·ln(1−p)) with p clamped to
    * [10⁻⁶, 1−10⁻⁶] (the standard guard against infinite loss),
    * quantized ONCE to ppb per row and summed exactly; the mean is
    * ONE division. Returns (n, loss_ppb_sum, logloss). */
  def logLoss(df: DataFrame, score: Column, positive: Column): DataFrame = {
    val base = df.select(score.cast("double").as("_sc"),
        positive.cast("boolean").as("_p"))
      .where(col("_sc").isNotNull && col("_p").isNotNull)
      .select(least(greatest(col("_sc"), lit(1e-6)), lit(1.0 - 1e-6))
        .as("_pc"), col("_p"))
      .select(round(-when(col("_p"), log(col("_pc")))
        .otherwise(log(lit(1.0) - col("_pc"))) * lit(1e9))
        .cast("long").as("_t"))
    // accumulate in Decimal(38,0) like brierScore — per-row terms reach
    // ~1.38e10 ppb at the clamp, so a plain long sum would wrap silently
    // around 7e8 rows; the output column stays a GUARDED long (r7
    // ADVICE fix; the gate convention bans raw Decimal outputs)
    base.agg(count(lit(1)).as("n"),
        coalesce(sum(col("_t").cast("decimal(38,0)")),
          lit(0L).cast("decimal(38,0)")).as("_ds"))
      .withColumn("loss_ppb_sum",
        when(col("_ds") >= lit(Long.MinValue) &&
            col("_ds") <= lit(Long.MaxValue), col("_ds").cast("long"))
          .otherwise(raise_error(concat(
            lit("logLoss loss_ppb_sum exceeds int64 (report means per "),
            lit("shard upstream): "), col("_ds").cast("string")))))
      .withColumn("logloss", when(col("n") > 0L,
        col("loss_ppb_sum").cast("double") /
          (col("n").cast("double") * lit(1e9))))
      .drop("_ds")
  }

  /** Precision@k table over a (score desc, id asc) ranking — the
    * eyeballable companion of [[averagePrecision]]: for each cutoff,
    * exact (k_actual, hits) integers and ONE division. Cutoffs beyond
    * the row count report the shrunken k_actual (honest, not padded).
    * Returns one row per cutoff: (k, k_actual, hits, p_at_k). */
  def precisionAtK(df: DataFrame, id: Column, score: Column,
      positive: Column, ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), s"bad cutoffs $ks")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("_sc").desc, col("_id").asc)
    val ranked = df.select(id.as("_id"), score.as("_sc"),
        positive.cast("boolean").as("_p"))
      .where(col("_sc").isNotNull && col("_p").isNotNull)
      .withColumn("_k", row_number().over(w))
    val cuts = ks.map(k =>
      ranked.where(col("_k") <= k)
        .agg(lit(k).as("k"), count(lit(1)).as("k_actual"),
          coalesce(sum(col("_p").cast("long")), lit(0L)).as("hits")))
    cuts.reduce(_.unionByName(_))
      .withColumn("p_at_k", when(col("k_actual") > 0L,
        col("hits").cast("double") / col("k_actual").cast("double")))
  }

  /** Per-depth RBO weights (1−p)·p^(d−1)/d quantized ONCE to ppt
    * (10⁻¹²) as SUFFIX sums W_m = Σ_{d=m..D} w_d — exposed so an
    * external replay embeds the IDENTICAL literals (the fsWeightsPpb
    * rule). An id whose worse rank is m contributes to every depth
    * d ≥ m, so its total weight is exactly W_m. */
  def rboSuffixWeightsPpt(depth: Int, p: Double): Seq[Long] = {
    require(depth >= 1 && depth <= 1000, s"depth in [1, 1000], got $depth")
    require(p > 0.0 && p < 1.0, s"p in (0, 1), got $p")
    val w = (1 to depth).map(d =>
      math.round((1.0 - p) * math.pow(p, d - 1) / d * 1e12))
    w.scanRight(0L)(_ + _).init
  }

  /** Truncated rank-biased overlap (Webber et al. 2010) between two
    * top-`depth` rankings — "how similar are these two retrieval /
    * prioritization runs", top-weighted by p (p = 0.9 ⇒ ~86% of the
    * weight in the first 10 ranks). RBO@D = (1−p)·Σ_{d≤D} p^(d−1)·X_d/d
    * with X_d the size of the rank-d prefix intersection.
    *
    * Exact by construction: X_d never materializes — each shared id
    * with worse-rank m = max(r_a, r_b) adds the precomputed suffix
    * weight W_m ([[rboSuffixWeightsPpt]] ppt longs) to `rbo_num`, an
    * exact integer sum; `rbo` is the single final division by 10¹².
    * ONE equi-join of two ≤ depth-row frames — trivially broadcast.
    *
    * `a`/`b` carry (idCol, rankCol) with ranks 1..depth (build them
    * with a deterministic row_number). Returns one row:
    * (n_a, n_b, n_shared, rbo_num, rbo). */
  /** Benjamini–Hochberg FDR control over a table of hypothesis tests —
    * the multiplicity correction the per-test battery (chi-square,
    * Cochran, Welch, log-rank, …) needs the moment you run it per
    * segment: at α=0.05 over 1000 segments, ~50 "discoveries" are
    * noise. Input is ONE ROW PER HYPOTHESIS (analysis-bounded — never
    * data rows), p-values as exact ppb longs (empirical/permutation
    * p-values are exact rationals; CDF-derived ones arrive already
    * quantized). Ranks are the deterministic (p asc, id asc) total
    * order; the rejection test is the division-free cross-multiply
    * p_(k)·m ≤ k·α (all longs, in-plan guarded against overflow), and
    * BH's step-up rule — reject i iff ANY k ≥ i passes — is one suffix
    * max. The adjusted q-value is the textbook suffix min of
    * p_(k)·m/k, floor-quantized ONCE to ppb before the min (the
    * quantized-once rule: both engines take min over identical
    * integers), capped at 10⁹.
    *
    * Scale shape: two windows over the m-row test table (m = number of
    * hypotheses, not corpus rows) — global by design and bounded by
    * design, like [[averagePrecision]]'s ranking. Returns one row per
    * test: (test_id, p_ppb, rank, m, q_ppb, reject). */
  def bhAdjust(tests: DataFrame, testId: Column, pPpb: Column,
      alphaPpb: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(alphaPpb > 0L && alphaPpb < 1000000000L,
      s"alphaPpb must be in (0, 1e9), got $alphaPpb")
    val base = tests.select(testId.as("test_id"),
        pPpb.cast("long").as("p_ppb"))
      .where(col("p_ppb").isNotNull)
      // p outside [0, 1] is a caller bug; m > 1e9 would overflow the
      // cross-multiply (p·m ≤ 1e9·1e9 = 1e18 < 2^63 when both hold).
      .withColumn("p_ppb", when(
        col("p_ppb") >= 0L && col("p_ppb") <= 1000000000L, col("p_ppb"))
        .otherwise(raise_error(concat(
          lit("bhAdjust: p_ppb outside [0, 1e9]: "),
          col("p_ppb").cast("string")))))
    // m ≤ 1e9 keeps p·m ≤ 1e18 < 2^63 (and a billion hypotheses means
    // the caller fed data rows, not tests — refuse loudly).
    val m = base.agg(
      when(count(lit(1)) <= 1000000000L, count(lit(1)))
        .otherwise(raise_error(concat(
          lit("bhAdjust: more than 1e9 hypotheses: "),
          count(lit(1)).cast("string")))).as("m"))
    val w = Window.orderBy(col("p_ppb").asc, col("test_id").asc)
    val ranked = base.crossJoin(broadcast(m))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("_pass",
        when(col("p_ppb") * col("m") <= col("rank") * lit(alphaPpb), 1)
          .otherwise(0))
      .withColumn("_qraw",
        least(expr("(p_ppb * m) div rank"), lit(1000000000L)))
    val wSuf = Window.orderBy(col("rank").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    ranked
      .withColumn("q_ppb", min(col("_qraw")).over(wSuf))
      .withColumn("reject", max(col("_pass")).over(wSuf) === 1)
      .select("test_id", "p_ppb", "rank", "m", "q_ppb", "reject")
  }

  /** Difference-in-differences — the 2×2 (treated × post) causal
    * contrast for a natural experiment: did the treated group's
    * outcome move MORE than the control's across the event?
    * did = (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre). All four cell
    * (n, Σ) pairs come from ONE conditional-sum pass of exact longs
    * (the [[confusionStats]] shape); the estimate is one fixed float
    * chain of four IEEE divisions — deterministic on both engines.
    * Null did when any cell is empty (a missing cell means the design
    * is broken, not that the effect is 0). Returns one row:
    * (n_t1/s_t1 … n_c0/s_c0, did). */
  def diffInDiff(df: DataFrame, treated: Column, post: Column,
      value: Column): DataFrame = {
    val base = df.select(treated.cast("boolean").as("_t"),
        post.cast("boolean").as("_p"), value.cast("long").as("_v"))
      .where(col("_t").isNotNull && col("_p").isNotNull &&
        col("_v").isNotNull)
    def cell(t: Boolean, p: Boolean, suffix: String): Seq[Column] = {
      val in = (if (t) col("_t") else !col("_t")) &&
        (if (p) col("_p") else !col("_p"))
      Seq(sum(when(in, 1L).otherwise(0L)).as(s"n_$suffix"),
        sum(when(in, col("_v")).otherwise(0L)).as(s"s_$suffix"))
    }
    val aggs = cell(true, true, "t1") ++ cell(true, false, "t0") ++
      cell(false, true, "c1") ++ cell(false, false, "c0")
    base.agg(aggs.head, aggs.tail: _*)
      .withColumn("did", when(
        col("n_t1") > 0L && col("n_t0") > 0L &&
          col("n_c1") > 0L && col("n_c0") > 0L,
        (col("s_t1").cast("double") / col("n_t1").cast("double") -
          col("s_t0").cast("double") / col("n_t0").cast("double")) -
          (col("s_c1").cast("double") / col("n_c1").cast("double") -
            col("s_c0").cast("double") / col("n_c0").cast("double"))))
  }

  /** Uplift (Qini) bin table — the evaluation report for incremental
    * targeting: rank everyone by the model's uplift score, and ask per
    * score bin whether TREATED units convert more than CONTROL units
    * (a response model's lift table can't tell you that — it confounds
    * "would buy anyway"). Ranking is the deterministic (−score, key)
    * total order via [[GroupOps.globalOrderIndex]] (range-partitioned,
    * never a 1-partition sort); bins are exact integer
    * (rank·nBins) div n; per-bin treated/control counts and positives
    * are exact longs; uplift = p_t − p_c and the Qini value
    * cum_pos_t − cum_pos_c·(cum_n_t/cum_n_c) are one float chain each,
    * null while a side is still empty. Cumulation runs over ≤ nBins
    * bin rows. Returns (bin, n_t, n_c, pos_t, pos_c, cum_n_t, cum_n_c,
    * cum_pos_t, cum_pos_c, uplift, qini). */
  def upliftBins(df: DataFrame, score: Column, treated: Column,
      positive: Column, key: Column, nBins: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nBins >= 1, s"nBins must be >= 1, got $nBins")
    val base = df.select(score.cast("double").as("_s"),
        treated.cast("boolean").as("_t"),
        when(positive, 1L).otherwise(0L).as("_p"), key.as("_k"))
      .where(col("_s").isNotNull && col("_t").isNotNull)
    val idx = GroupOps.globalOrderIndex(base, "_gi",
      (-col("_s")).as("_ns"), col("_k"))
    val n = base.agg(count(lit(1)).as("_n"))
    val bins = idx.crossJoin(broadcast(n))
      .withColumn("bin", expr(s"(_gi * $nBins) div _n").cast("int"))
      .groupBy("bin")
      .agg(sum(when(col("_t"), 1L).otherwise(0L)).as("n_t"),
        sum(when(!col("_t"), 1L).otherwise(0L)).as("n_c"),
        sum(when(col("_t"), col("_p")).otherwise(0L)).as("pos_t"),
        sum(when(!col("_t"), col("_p")).otherwise(0L)).as("pos_c"))
    val w = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bins
      .withColumn("cum_n_t", sum("n_t").over(w))
      .withColumn("cum_n_c", sum("n_c").over(w))
      .withColumn("cum_pos_t", sum("pos_t").over(w))
      .withColumn("cum_pos_c", sum("pos_c").over(w))
      .withColumn("uplift", when(col("n_t") > 0L && col("n_c") > 0L,
        col("pos_t").cast("double") / col("n_t").cast("double") -
          col("pos_c").cast("double") / col("n_c").cast("double")))
      .withColumn("qini", when(col("cum_n_c") > 0L,
        col("cum_pos_t").cast("double") -
          col("cum_pos_c").cast("double") *
            (col("cum_n_t").cast("double") / col("cum_n_c").cast("double"))))
  }

  /** Split-conformal calibration: the finite-sample-valid prediction
    * threshold. On the calibration slice take the k-th smallest
    * nonconformity score with k = ⌈(n_cal+1)(1−α)⌉ (exact ceil by
    * integer arithmetic, α in ppm); any eval point with score ≤ that
    * threshold is covered with probability ≥ 1−α regardless of the
    * model. Selection runs over the per-VALUE count grid (the
    * winsorize discipline — a cumulative window over distinct score
    * values, never data rows); coverage on the eval slice is exact
    * integers + one division. k > n_cal (tiny calibration set at small
    * α) → null threshold, coverage 1 by convention (the infinite
    * threshold covers everything). Scores arrive as exact longs —
    * quantize upstream (the [[isotonicFit]] contract). Returns one
    * row: (n_cal, k, threshold, n_eval, covered, coverage). */
  def conformalSplit(df: DataFrame, score: Column, isCal: Column,
      alphaPpm: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(alphaPpm > 0L && alphaPpm < 1000000L,
      s"alphaPpm must be in (0, 1e6), got $alphaPpm")
    val base = df.select(score.cast("long").as("_s"),
        isCal.cast("boolean").as("_cal"))
      .where(col("_s").isNotNull && col("_cal").isNotNull)
    val calN = base.where(col("_cal")).agg(count(lit(1)).as("n_cal"))
      .withColumn("k",
        expr(s"((n_cal + 1) * ${1000000L - alphaPpm} + 999999) div 1000000"))
    val grid = base.where(col("_cal"))
      .groupBy("_s").agg(count(lit(1)).as("_c"))
    val w = Window.orderBy("_s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thr = grid.withColumn("_cum", sum("_c").over(w))
      .crossJoin(broadcast(calN))
      .where(col("_cum") >= col("k"))
      .agg(min("_s").as("threshold"))
    val ev = base.where(!col("_cal"))
      .crossJoin(broadcast(thr))
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("threshold").isNotNull &&
          col("_s") <= col("threshold"), 1L)
          .when(col("threshold").isNull, 1L)
          .otherwise(0L)).as("covered"))
    calN.crossJoin(broadcast(thr)).crossJoin(broadcast(ev))
      .withColumn("coverage", when(col("n_eval") > 0L,
        col("covered").cast("double") / col("n_eval").cast("double")))
      .select("n_cal", "k", "threshold", "n_eval", "covered", "coverage")
  }

  /** Weight-of-evidence / information-value table — the credit-scoring
    * feature screen: per category, how differently do positives and
    * negatives distribute, and how much separation does the whole
    * feature carry (IV < 0.02 useless, > 0.5 suspicious)? Both sides
    * are Laplace-smoothed (+1 per category over total+K, the
    * [[psiBins]] rule) so one-sided categories stay finite and
    * deterministic; woe_ppb = round(ln(p/q)·10⁹) and
    * iv_ppb = round((p−q)·ln(p/q)·10⁹) are each ONE fixed float chain
    * over exact integers, rounded once (order-free — the per-category
    * rows are independent; total IV = Σ iv_ppb / 10⁹ downstream). One
    * contingency aggregation, any scale. Returns one row per category:
    * (bucket, n, n_pos, n_neg, woe_ppb, iv_ppb). */
  def woeIv(df: DataFrame, bucket: Column, positive: Column): DataFrame = {
    val cells = df.select(bucket.as("bucket"),
        positive.cast("boolean").as("_p"))
      .where(col("bucket").isNotNull && col("_p").isNotNull)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        sum(when(col("_p"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(!col("_p"), 1L).otherwise(0L)).as("n_neg"))
    val tot = cells.agg(sum("n_pos").as("_g"), sum("n_neg").as("_b"),
      count(lit(1)).as("_k"))
    cells.crossJoin(broadcast(tot))
      .withColumn("_pp", (col("n_pos") + 1L).cast("double") /
        (col("_g") + col("_k")).cast("double"))
      .withColumn("_qq", (col("n_neg") + 1L).cast("double") /
        (col("_b") + col("_k")).cast("double"))
      .withColumn("woe_ppb",
        round(log(col("_pp") / col("_qq")) * 1e9).cast("long"))
      .withColumn("iv_ppb",
        round((col("_pp") - col("_qq")) * log(col("_pp") / col("_qq")) * 1e9)
          .cast("long"))
      .select("bucket", "n", "n_pos", "n_neg", "woe_ppb", "iv_ppb")
  }

  /** Wilcoxon signed-rank test — [[mannWhitneyU]]'s PAIRED twin: the
    * same subjects measured before/after (two filters on the same
    * docs, a model swap on the same queries), "did the distribution of
    * within-subject differences shift?" without assuming normality.
    * d = after − before as exact longs; zero differences DROP (the
    * classic Wilcoxon convention, documented — n below is the nonzero
    * count); |d| gets the doubled tie-average rank off the per-value
    * count grid with the SAME range-partition + two-pass prefix sum as
    * [[mannWhitneyUCounts]] (never a 1-partition sort), and
    * `wp_x2` = 2·W⁺ = Σ_{d>0} r2 is exact while ~2n² < 2⁶³. The tie
    * term Σ(t³−t) accumulates in Decimal(38,0). z is ONE fixed float
    * chain over the normal approximation, NO continuity correction
    * (the [[mannWhitneyU]] rule): z = (W⁺ − n(n+1)/4)/σ with
    * σ² = n(n+1)(2n+1)/24 − Σ(t³−t)/48; null when n = 0 or σ² ≤ 0
    * (all |d| tied at one value with one sign… degenerate designs).
    *
    * Returns one row: (n, n_zero, wp_x2, tie_cube decimal, z) —
    * gate-cast tie_cube to BIGINT downstream (the q234 rule). */
  def wilcoxonSignedRank(df: DataFrame, before: Column,
      after: Column): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = df.sparkSession
    val d = df.select((after.cast("long") - before.cast("long")).as("_d"))
      .where(col("_d").isNotNull)
    val nZero = d.agg(
      sum(when(col("_d") === 0L, 1L).otherwise(0L)).as("n_zero"))
    val grid = d.where(col("_d") =!= 0L)
      .select(abs(col("_d")).as("_ad"),
        when(col("_d") > 0L, 1L).otherwise(0L).as("_pos"))
      .groupBy("_ad")
      .agg(sum("_pos").as("_cp"),
        sum(lit(1L) - col("_pos")).as("_cn"))
    val parts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val sorted = grid.repartitionByRange(parts, col("_ad"))
      .sortWithinPartitions("_ad")
    val partSums = sorted.rdd.mapPartitionsWithIndex { case (i, it) =>
      var t = 0L
      it.foreach { r => t += r.getLong(1) + r.getLong(2) }
      Iterator((i, t))
    }.collect().sortBy(_._1)
    val offs = partSums.map(_._2).scanLeft(0L)(_ + _)
    val bc = spark.sparkContext.broadcast(offs)
    val rows = sorted.rdd.mapPartitionsWithIndex { case (i, it) =>
      var cum = bc.value(i)
      it.map { r =>
        val cp = r.getLong(1); val cn = r.getLong(2); val t = cp + cn
        val r2 = 2L * cum + t + 1L
        cum += t
        Row(cp, t, r2)
      }
    }
    val ranked = spark.createDataFrame(rows, StructType(
      Seq("_cp", "_t", "_r2").map(n =>
        StructField(n, LongType, nullable = false))))
    val agg = ranked.agg(
      coalesce(sum("_t"), lit(0L)).as("n"),
      coalesce(sum(col("_cp") * col("_r2")), lit(0L)).as("wp_x2"),
      coalesce(sum((col("_t") * col("_t") * col("_t") - col("_t"))
        .cast("decimal(38,0)")), lit(0L).cast("decimal(38,0)"))
        .as("tie_cube"))
      .crossJoin(broadcast(nZero))
      .withColumn("n_zero", coalesce(col("n_zero"), lit(0L)))
    val nd = col("n").cast("double")
    val sigma2 = nd * (nd + 1.0) * (nd * 2.0 + 1.0) / 24.0 -
      col("tie_cube").cast("double") / 48.0
    agg.withColumn("z",
        when(col("n") > 0L && sigma2 > 0.0,
          (col("wp_x2").cast("double") / 2.0 -
            nd * (nd + 1.0) / 4.0) / sqrt(sigma2))
          .otherwise(lit(null).cast("double")))
      .select("n", "n_zero", "wp_x2", "tie_cube", "z")
  }

  /** Friedman test — [[cochranQ]]'s ordinal sibling and
    * [[kruskalWallis]]'s BLOCKED twin: k treatments measured on the
    * same n blocks (k prompts scored on the same documents), ranks
    * taken WITHIN each block so between-block level differences cancel
    * by construction. Duplicate (block, treatment) rows are a caller
    * bug → in-plan raise_error (the cochranQ discipline); incomplete
    * blocks (fewer than k treatments present) DROP and are counted.
    * Within-block doubled tie-average ranks come from one
    * block-partitioned rank window + an equal-count window
    * (r2 = 2·rank_min + t − 1, partitioned — never a global sort);
    * per-treatment Σr2 are exact longs and both square sums accumulate
    * in Decimal(38,0). The tie-robust statistic (Conover's form,
    * reduces to the classic 12/(nk(k+1))·ΣR_j² − 3n(k+1) when tie-free)
    * is ONE division over exact integers, ×4-scaled to stay in doubled
    * units: χ² = (k−1)·(ΣR2_j² − n²k(k+1)²)/(A2 − nk(k+1)²) with
    * A2 = ΣΣ r2². Null χ² when n = 0, k < 2, or the denominator ≤ 0
    * (every block fully tied). k is bounded (treatment arms), so the
    * per-treatment fold is over k rows.
    *
    * Returns one row: (n_blocks, k, n_dropped, rsq decimal,
    * a2 decimal, chi2). */
  def friedman(df: DataFrame, block: Column, treatment: Column,
      value: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(block.as("_b"), treatment.as("_tr"),
        value.cast("long").as("_v"))
      .where(col("_b").isNotNull && col("_tr").isNotNull &&
        col("_v").isNotNull)
      .groupBy("_b", "_tr")
      .agg(when(count(lit(1)) === 1L, first(col("_v")))
        .otherwise(raise_error(concat(
          lit("friedman: duplicate (block, treatment) rows for block "),
          col("_b").cast("string")))).as("_v"))
    val k = base.agg(countDistinct(col("_tr")).as("k"))
    val sizes = base.groupBy("_b").agg(count(lit(1)).as("_sz"))
    val dropped = sizes.crossJoin(broadcast(k))
      .agg(sum(when(col("_sz") < col("k"), 1L).otherwise(0L))
        .as("n_dropped"))
    val complete = base.join(
      sizes.crossJoin(broadcast(k)).where(col("_sz") === col("k"))
        .select("_b"), Seq("_b"), "left_semi")
    val wRank = Window.partitionBy("_b").orderBy("_v")
    val wEq = Window.partitionBy("_b", "_v")
    val ranked = complete
      .withColumn("_r2", lit(2L) * rank().over(wRank) +
        count(lit(1)).over(wEq) - 1L)
    val perTr = ranked.groupBy("_tr")
      .agg(sum("_r2").as("_R2"), count(lit(1)).as("_n"),
        sum((col("_r2") * col("_r2")).cast("decimal(38,0)")).as("_a2"))
    val agg = perTr.agg(
        coalesce(max("_n"), lit(0L)).as("n_blocks"),
        count(lit(1)).as("k_present"),
        coalesce(sum(col("_R2").cast("decimal(38,0)") *
          col("_R2").cast("decimal(38,0)")), lit(0L).cast("decimal(38,0)"))
          .as("rsq"),
        coalesce(sum("_a2"), lit(0L).cast("decimal(38,0)")).as("a2"))
      .crossJoin(broadcast(k)).crossJoin(broadcast(dropped))
      .withColumn("n_dropped", coalesce(col("n_dropped"), lit(0L)))
    val nD = col("n_blocks").cast("decimal(38,0)")
    val kD = col("k").cast("decimal(38,0)")
    val kp1 = (col("k") + 1L).cast("decimal(38,0)")
    val num = col("rsq") - nD * nD * kD * kp1 * kp1
    val den = col("a2") - nD * kD * kp1 * kp1
    agg.withColumn("chi2",
        when(col("n_blocks") > 0L && col("k") >= 2L &&
          den.cast("double") > 0.0,
          (col("k") - 1L).cast("double") * num.cast("double") /
            den.cast("double"))
          .otherwise(lit(null).cast("double")))
      .select("n_blocks", "k", "n_dropped", "rsq", "a2", "chi2")
  }

  /** Stratified ATE — the adjustment [[diffInDiff]] can't give when
    * there is no pre-period: within each stratum of a confounder the
    * treated/control contrast is fair, and the average treatment
    * effect reweights those contrasts by stratum size. ALGEBRAICALLY
    * the inverse-propensity-weighted (IPW) estimator with the exact
    * within-stratum propensity e_s = n_{t,s}/n_s — documented so
    * callers don't build IPW twice. Per-stratum cells (n_t, Σy_t, n_c,
    * Σy_c) are exact longs from ONE contingency aggregation; strata
    * missing an arm DROP (no fair contrast exists there) and are
    * counted. The per-stratum float contributions n_s·(ȳ_t − ȳ_c) fold
    * in SORTED stratum order over a collected array (the q201
    * deterministic-fold rule — stratum cardinality is bounded by
    * design, like [[kruskalWallis]]'s k), then ONE division by the
    * complete-strata N. Returns one row: (n_strata, n_complete,
    * n_used, ate). */
  def strataAte(df: DataFrame, stratum: Column, treated: Column,
      value: Column): DataFrame = {
    val cells = df.select(stratum.as("_s"),
        treated.cast("boolean").as("_t"), value.cast("long").as("_v"))
      .where(col("_s").isNotNull && col("_t").isNotNull &&
        col("_v").isNotNull)
      .groupBy("_s")
      .agg(sum(when(col("_t"), 1L).otherwise(0L)).as("_nt"),
        sum(when(col("_t"), col("_v")).otherwise(0L)).as("_st"),
        sum(when(!col("_t"), 1L).otherwise(0L)).as("_nc"),
        sum(when(!col("_t"), col("_v")).otherwise(0L)).as("_sc"))
    val complete = col("_nt") > 0L && col("_nc") > 0L
    val contrib = (col("_nt") + col("_nc")).cast("double") *
      (col("_st").cast("double") / col("_nt").cast("double") -
        col("_sc").cast("double") / col("_nc").cast("double"))
    cells.agg(
        count(lit(1)).as("n_strata"),
        sum(when(complete, 1L).otherwise(0L)).as("n_complete"),
        sum(when(complete, col("_nt") + col("_nc")).otherwise(0L))
          .as("n_used"),
        sort_array(collect_list(when(complete,
          struct(col("_s").cast("string").as("s"),
            contrib.as("c"))))).as("_cs"))
      .withColumn("ate", when(col("n_used") > 0L,
        aggregate(col("_cs"), lit(0.0), (acc, x) => acc + x("c")) /
          col("n_used").cast("double")))
      .select("n_strata", "n_complete", "n_used", "ate")
  }

  /** Quantile treatment effects — what [[strataAte]]'s mean hides:
    * an intervention can leave the average flat while moving the tails
    * (compression at the top, expansion at the bottom). Per requested
    * quantile q (ppm), the treated and control order statistics at
    * rank ⌈q·n/10⁶⌉ (percentile_disc convention, rank floor 1) and
    * their difference — ALL exact integers, no float anywhere.
    * Selection runs over the per-(arm, value) count grid with
    * arm-partitioned cumulative windows (the [[conformalSplit]]
    * winsorize discipline — quantize y upstream if its distinct count
    * is unbounded). Returns one row per quantile:
    * (q_ppm, n_t, n_c, y_t, y_c, qte). Empty arms yield null sides. */
  def quantileTreatmentEffect(df: DataFrame, treated: Column, y: Column,
      qPpms: Seq[Long] = Seq(100000L, 250000L, 500000L, 750000L,
        900000L)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(qPpms.nonEmpty && qPpms.forall(q => q > 0L && q <= 1000000L),
      s"quantiles must be in (0, 1e6] ppm, got $qPpms")
    val base = df.select(treated.cast("boolean").as("_t"),
        y.cast("long").as("_y"))
      .where(col("_t").isNotNull && col("_y").isNotNull)
    val grid = base.groupBy("_t", "_y").agg(count(lit(1)).as("_c"))
    val w = Window.partitionBy("_t").orderBy("_y")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("_t")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = grid.withColumn("_cum", sum("_c").over(w))
      .withColumn("_n", sum("_c").over(wAll))
    val qs = qPpms.map(lit(_))
    val picked = cum
      .crossJoin(broadcast(base.sparkSession.range(1).select(
        explode(array(qs: _*)).as("q_ppm"))))
      .withColumn("_k", greatest(lit(1L),
        expr("(_n * q_ppm + 999999L) div 1000000L")))
      .where(col("_cum") >= col("_k"))
      .groupBy("q_ppm", "_t")
      .agg(min("_y").as("_v"), max(col("_n")).as("_nn"))
    picked.groupBy("q_ppm")
      .agg(max(when(col("_t"), col("_nn"))).as("n_t"),
        max(when(!col("_t"), col("_nn"))).as("n_c"),
        max(when(col("_t"), col("_v"))).as("y_t"),
        max(when(!col("_t"), col("_v"))).as("y_c"))
      .withColumn("qte", col("y_t") - col("y_c"))
  }

  /** Sequential probability ratio test (Wald's SPRT) on a Bernoulli
    * stream — the always-valid A/B stopping rule: walk the
    * observations in a DETERMINISTIC key order accumulating the
    * log-likelihood ratio of H₁: p = p₁ vs H₀: p = p₀, stop the first
    * time it leaves (ln(β/(1−α)), ln((1−β)/α)). The per-observation
    * increments take only TWO values, quantized ONCE to ppb longs
    * driver-side (inc₁ = round(10⁹·ln(p₁/p₀)), inc₀ over the
    * complements — both engines replay the identical fixed chain), so
    * the running LLR is EXACT integer arithmetic:
    * llr(k) = cum₁(k)·inc₁ + (k − cum₁(k))·inc₀ off the same
    * range-partition + two-pass prefix sum as [[mannWhitneyUCounts]]
    * (never a 1-partition window over data rows). Rows with a null
    * outcome or null orderKey DROP (they carry no Bernoulli
    * observation; compare `n` against the caller's row count for the
    * accounting). The decision row is
    * one min_by over the crossing indices. Returns one row: (n, n_pos,
    * inc1_ppb, inc0_ppb, a_ppb, b_ppb, n_decision, llr_at_decision,
    * llr_final, decision ∈ accept_h1/accept_h0/continue). */
  def sprtBinary(df: DataFrame, outcome: Column, orderKey: Column,
      p0Ppm: Long, p1Ppm: Long, alphaPpm: Long,
      betaPpm: Long): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    require(p0Ppm > 0L && p0Ppm < 1000000L && p1Ppm > 0L &&
      p1Ppm < 1000000L && p0Ppm != p1Ppm,
      s"p0/p1 must be distinct in (0, 1e6) ppm, got $p0Ppm, $p1Ppm")
    require(alphaPpm > 0L && alphaPpm < 1000000L &&
      betaPpm > 0L && betaPpm < 1000000L,
      s"alpha/beta must be in (0, 1e6) ppm, got $alphaPpm, $betaPpm")
    val inc1 = math.round(1e9 * math.log(p1Ppm.toDouble / p0Ppm))
    val inc0 = math.round(1e9 * math.log(
      (1000000L - p1Ppm).toDouble / (1000000L - p0Ppm)))
    val aPpb = math.round(1e9 * math.log(
      (1000000L - betaPpm).toDouble / alphaPpm))
    val bPpb = math.round(1e9 * math.log(
      betaPpm.toDouble / (1000000L - alphaPpm)))
    val spark = df.sparkSession
    // null outcome rows DROP, exactly like null orderKey rows (r8 —
    // mapping null to 0 silently biased the LLR toward H0 on dirty
    // data, unlike the neighboring wilcoxon/friedman which drop)
    val base = df.select(orderKey.as("_k"),
        when(outcome, 1L).when(!outcome, 0L).as("_x"))
      .where(col("_k").isNotNull && col("_x").isNotNull)
    val parts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val sorted = base.repartitionByRange(parts, col("_k"))
      .sortWithinPartitions("_k")
    val xi = sorted.schema.fieldIndex("_x")
    val partSums = sorted.rdd.mapPartitionsWithIndex { case (i, it) =>
      var n = 0L; var s = 0L
      it.foreach { r => n += 1L; s += r.getLong(xi) }
      Iterator((i, n, s))
    }.collect().sortBy(_._1)
    val offN = partSums.map(_._2).scanLeft(0L)(_ + _)
    val offS = partSums.map(_._3).scanLeft(0L)(_ + _)
    val bc = spark.sparkContext.broadcast((offN, offS))
    val rows = sorted.rdd.mapPartitionsWithIndex { case (i, it) =>
      var n = bc.value._1(i); var s = bc.value._2(i)
      it.map { r =>
        n += 1L; s += r.getLong(xi)
        Row(n, s, s * inc1 + (n - s) * inc0)
      }
    }
    val cum = spark.createDataFrame(rows, StructType(
      Seq("_i", "_c1", "_llr").map(n =>
        StructField(n, LongType, nullable = false))))
    val crossed = col("_llr") >= aPpb || col("_llr") <= bPpb
    cum.agg(
        coalesce(max("_i"), lit(0L)).as("n"),
        coalesce(max("_c1"), lit(0L)).as("n_pos"),
        min(when(crossed, col("_i"))).as("n_decision"),
        min_by(col("_llr"), when(crossed, col("_i")))
          .as("llr_at_decision"),
        max_by(col("_llr"), col("_i")).as("llr_final"))
      .withColumn("inc1_ppb", lit(inc1))
      .withColumn("inc0_ppb", lit(inc0))
      .withColumn("a_ppb", lit(aPpb))
      .withColumn("b_ppb", lit(bPpb))
      .withColumn("decision",
        when(col("n_decision").isNull, lit("continue"))
          .when(col("llr_at_decision") >= aPpb, lit("accept_h1"))
          .otherwise(lit("accept_h0")))
      .select("n", "n_pos", "inc1_ppb", "inc0_ppb", "a_ppb", "b_ppb",
        "n_decision", "llr_at_decision", "llr_final", "decision")
  }

  def rankBiasedOverlap(a: DataFrame, b: DataFrame, idCol: String,
      rankCol: String, depth: Int, p: Double): DataFrame = {
    val ws = rboSuffixWeightsPpt(depth, p)
    val wLit = array(ws.map(lit): _*)
    val aa = a.select(col(idCol).as("_id"), col(rankCol).as("_ra"))
      .where(col("_ra") >= 1 && col("_ra") <= depth)
    val bb = b.select(col(idCol).as("_id"), col(rankCol).as("_rb"))
      .where(col("_rb") >= 1 && col("_rb") <= depth)
    val na = aa.agg(count(lit(1)).as("n_a"))
    val nb = bb.agg(count(lit(1)).as("n_b"))
    aa.join(bb, Seq("_id"))
      .select(element_at(wLit,
        greatest(col("_ra"), col("_rb")).cast("int")).as("_w"))
      .agg(count(lit(1)).as("n_shared"),
        coalesce(sum(col("_w")), lit(0L)).as("rbo_num"))
      .crossJoin(broadcast(na)).crossJoin(broadcast(nb))
      .select(col("n_a"), col("n_b"), col("n_shared"), col("rbo_num"),
        (col("rbo_num").cast("double") / lit(1e12)).as("rbo"))
  }
}
