package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.VectorSearch.{scoreCol, scoreF32}

/** IVF (inverted-file) approximate nearest neighbour — the clustering
  * counterpart to the LSH path in [[VectorSearch.annTopK]], mirroring the
  * recall/latency knob of the reference's ANN index (`numCandidates`,
  * reference README.md:364,368): corpus vectors are partitioned into
  * `nList` Voronoi cells around k-means centroids; each query probes only
  * the `nProbe` nearest cells, so exact scoring touches ~|C|*nProbe/nList
  * candidates instead of the full corpus.
  *
  * Scale shape (the 100 TB posture):
  *  - training: `iters` Lloyd rounds; each is one narrow map over the
  *    corpus (centroids broadcast) + one tiny aggregation. Per-dimension
  *    sums use integer arithmetic (round(v*1e7) accumulated as LONG), so
  *    centroid means are bit-identical regardless of partitioning —
  *    floating-point partial-sum order can never flip an assignment.
  *  - index: the corpus gains a `cell` column — at rest this would be a
  *    partition/bucket column, so a probe prunes file-level partitions.
  *  - query: queries explode to nProbe (query, cell) pairs and equi-join
  *    the celled corpus on `cell` — a shuffle join on a low-cardinality
  *    key (AQE handles the skew of popular cells), never a cross product.
  */
/** Drift report for one online append against a persisted IVF/IVF-PQ
  * index ([[IvfSearch.appendToIndex]] / [[IvfPqIndex.appendToIndex]]).
  * Appended vectors are assigned to STORED centroids, so a sustained
  * distribution shift silently degrades recall: residuals grow (vectors
  * sit far from every trained centroid) and occupancy concentrates (new
  * mass crowds a few cells, defeating probe pruning). Both are measured
  * per batch against the baseline recorded at `writeIndex` time;
  * `retrainRecommended` fires when either leaves the trained regime —
  * the signal to schedule the offline retrain leg of the
  * online-append/offline-retrain split.
  *
  * `occupancySkew` is maxCellShare × nList: 1.0 = perfectly uniform,
  * nList = everything in one cell. Baselines are NaN (and the signal
  * stays quiet) for a pre-stats index.
  */
case class AppendStats(
    rows: Long,
    meanResidual: Double,
    occupancySkew: Double,
    baselineMeanResidual: Double,
    baselineOccupancySkew: Double,
    retrainRecommended: Boolean)

object IvfSearch extends CelledStore {

  private[graft] def storedCol: String = "vec"
  val reservedCols: Set[String] = Set("id", "vec", "cell", "epoch")
  protected def storeId(id: Column): Column = id.as("id")
  protected def codecAt(spark: org.apache.spark.sql.SparkSession, path: String,
      centroids: Array[Array[Float]]): CellCodec = RawCodec

  /** Raw vectors: stored as-is, decoded as-is; no model to persist. */
  private object RawCodec extends CellCodec {
    def encode(v: Column, cell: Column): Column = v
    def decode(stored: Column, cell: Column): Column = stored
    def save(spark: org.apache.spark.sql.SparkSession, path: String): Unit = ()
  }

  private[graft] def buildIndex(corpus: DataFrame, cId: String, cVec: String,
      path: String, nList: Int, dim: => Int, payload: Seq[String]): Unit =
    writeIndex(corpus, cId, cVec, path, nList = nList, payload = payload)

  /** Drift thresholds: a batch whose mean assigned-centroid distance
    * exceeds 1.5× the training baseline, or whose occupancy skew
    * exceeds 2× the training skew, is out of the trained regime.
    */
  val ResidualDriftFactor = 1.5
  val OccupancyDriftFactor = 2.0

  /** Deterministic k-means centroids over `ARRAY<FLOAT>` vectors. */
  def trainCentroids(
      corpus: DataFrame, cVec: String, cId: String,
      nList: Int, iters: Int = 2, dim: Int = 64): Array[Array[Float]] = {
    // init: first nList vectors by id — deterministic and cheap; Lloyd
    // rounds wash out the arbitrary start.
    var centroids: Array[Array[Float]] = corpus
      .orderBy(col(cId)).limit(nList).select(cVec).collect()
      .map(_.getSeq[Float](0).toArray)
    // centroids take the corpus' own width (`dim` only sizes an empty
    // corpus): a wider `dim` would zero-pad them and make every probe's
    // width check refuse the very vectors they were trained on
    val width = centroids.headOption.map(_.length).getOrElse(dim)
    val scale = 1e7
    (1 to iters).foreach { _ =>
      val assigned = corpus.select(
        nearestCell(centroids)(col(cVec)).as("cell"),
        posexplode(col(cVec)).as(Seq("dim", "v")))
      val sums = assigned
        .groupBy("cell", "dim")
        .agg(sum(round(col("v") * scale).cast("long")).as("s"), count(lit(1)).as("n"))
        .collect()
      val acc = Array.fill(nList)(new Array[Float](width))
      val counts = new Array[Long](nList)
      sums.foreach { r =>
        val cell = r.getInt(0); val d = r.getInt(1)
        acc(cell)(d) = (r.getLong(2).toDouble / scale / r.getLong(3)).toFloat
        counts(cell) = r.getLong(3)
      }
      // empty cells keep their previous centroid
      centroids = centroids.zipWithIndex.map { case (old, i) =>
        if (counts(i) > 0) acc(i) else old
      }
    }
    centroids
  }

  /** A vector whose width differs from the centroids' would be scored
    * over the common prefix only and land in a wrong cell — refuse it.
    */
  private def requireWidth(q: Array[Float], cs: Array[Array[Float]]): Unit =
    if (cs.nonEmpty && q.length != cs(0).length)
      throw new IllegalArgumentException(s"vector has ${q.length} dims, " +
        s"the index's centroids have ${cs(0).length}")

  /** Column: index of the nearest centroid (L2), ties to the lower id. */
  def nearestCell(centroids: Array[Array[Float]])(vec: Column): Column = {
    val cs = centroids
    udf((v: Seq[Float]) => {
      val q = v.toArray
      requireWidth(q, cs)
      var best = 0; var bestD = Double.MaxValue
      var i = 0
      while (i < cs.length) {
        val d = scoreF32("l2", q, cs(i))
        if (d < bestD) { bestD = d; best = i }
        i += 1
      }
      best
    }).apply(vec)
  }

  /** Column: indices of the `nProbe` nearest centroids, best first. */
  def nearestCells(centroids: Array[Array[Float]], nProbe: Int)(vec: Column): Column = {
    val cs = centroids
    udf((v: Seq[Float]) => probeCells(cs, v.toArray, nProbe)).apply(vec)
  }

  /** The `nProbe` nearest centroids of `q` (L2, ties to the lower id). */
  private[operators] def probeCells(cs: Array[Array[Float]], q: Array[Float],
      nProbe: Int): Array[Int] = {
    requireWidth(q, cs)
    cs.indices
      .map(i => (i, scoreF32("l2", q, cs(i))))
      .sortBy { case (i, d) => (d, i) }
      .take(nProbe).map(_._1).toArray
  }

  /** IVF top-k: train (or reuse) centroids, cell-partition the corpus,
    * probe nProbe cells per query, exact top-k within candidates.
    * Output: (qId, match_id, score, rank), rank 1 = best.
    */
  def ivfTopK(
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      k: Int, metric: String = "dot",
      nList: Int = 16, nProbe: Int = 4, iters: Int = 2,
      dim: Int = 64): DataFrame = {
    val centroids = trainCentroids(corpus, cVec, cId, nList, iters, dim)
    val celled = corpus.select(col(cId).as("match_id"), col(cVec).as("__cvec"),
      nearestCell(centroids)(col(cVec)).as("cell"))
    val probed = queries.select(col(qId), col(qVec),
      explode(nearestCells(centroids, nProbe)(col(qVec))).as("cell"))
    ranked(cellTopK(probed, celled, qId, qVec, k, metric), qId)
  }

  /** Exact top-k per query over the (query, probed cell) ⋈ celled
    * (match_id, __cvec, cell) pairs: qId → matches[, candidates_scanned].
    */
  private def cellTopK(probed: DataFrame, celled: DataFrame, qId: String,
      qVec: String, k: Int, metric: String, counted: Boolean = false): DataFrame = {
    val topK = graft.functions.TopKByScore
      .topK(col("match_id"), col("score"), k, metric == "l2").as("matches")
    val scored = probed.join(celled, "cell")
      .withColumn("score", scoreCol(metric)(col(qVec), col("__cvec")))
      .groupBy(col(qId))
    if (counted) scored.agg(topK, count(lit(1)).as("candidates_scanned"))
    else scored.agg(topK)
  }

  /** (qId, match_id, score, rank) rows of a matches array, rank 1 = best. */
  private def ranked(matches: DataFrame, qId: String): DataFrame =
    matches.select(col(qId), posexplode(col("matches")).as(Seq("rank0", "m")))
      .select(col(qId), col("m.id").as("match_id"), col("m.score").as("score"),
        (col("rank0") + 1).cast("int").as("rank"))

  /** [[ivfTopK]] tuned from a `numCandidates` budget — the reference's
    * ANN knob (README.md:364,368) instead of raw nProbe: candidates per
    * query are ~|C| * nProbe / nList, so nProbe is the largest probe
    * count that keeps the pool within the budget (≥1 so a query always
    * probes its own cell).
    */
  def ivfTopKCandidates(
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      k: Int, metric: String = "dot",
      numCandidates: Int = 10000, nList: Int = 16, iters: Int = 2,
      dim: Int = 64, corpusRows: Option[Long] = None): DataFrame = {
    VectorSearch.requireNumCandidates(numCandidates)
    require(k <= numCandidates, s"k=$k exceeds numCandidates=$numCandidates")
    // statistics-based (no scan) unless the caller knows the cardinality —
    // see VectorSearch.estimatedRows for why a count job is unaffordable
    val n = corpusRows.getOrElse(VectorSearch.estimatedRows(corpus, dim))
    ivfTopK(queries, qId, qVec, corpus, cId, cVec, k, metric, nList,
      probesForBudget(n, nList, numCandidates), iters, dim)
  }

  /** nProbe from a candidate budget: the largest probe count keeping the
    * expected pool (~n * nProbe / nList) within budget; ≥1 so a query
    * always probes its own cell.
    */
  def probesForBudget(n: Long, nList: Int, numCandidates: Int): Int =
    math.max(1, math.min(nList,
      (numCandidates.toLong * nList / math.max(1L, n)).toInt))

  // --- at-rest index: cell as a PARTITION column -------------------------

  /** Materialize the IVF index on disk: the celled corpus partitioned BY
    * `cell` (so a probe prunes whole partition directories at file-listing
    * time — the at-rest layout the Scaladoc above promises), plus the
    * trained centroids for reload. Index once, search many.
    */
  def writeIndex(
      corpus: DataFrame, cId: String, cVec: String, path: String,
      nList: Int = 16, iters: Int = 2, dim: Int = 64,
      payload: Seq[String] = Nil): Unit =
    writeCoded(corpus, cId, cVec, path, nList, iters, dim, payload)((_, _) => RawCodec)

  /** Distance of a vector to its ASSIGNED centroid — the same L2 the
    * assignment minimized, so drift is measured in assignment units.
    */
  private[operators] def cellDist(
      centroids: Array[Array[Float]])(vec: Column, cell: Column): Column = {
    val cs = centroids
    udf((v: Seq[Float], c: Int) => scoreF32("l2", v.toArray, cs(c))).apply(vec, cell)
  }

  /** (rows, mean assigned-centroid distance, occupancy skew) of a celled
    * frame carrying a `__dist` column — ONE aggregation job (per-cell
    * partials, ≤ nList rows to the driver).
    */
  private[operators] def celledStats(
      celled: DataFrame, nList: Int): (Long, Double, Double) = {
    val perCell = celled.groupBy("cell")
      .agg(count(lit(1)).as("n"), sum(col("__dist")).as("s")).collect()
    if (perCell.isEmpty) return (0L, 0.0, 0.0)
    val n = perCell.map(_.getLong(1)).sum
    val mean = perCell.map(_.getDouble(2)).sum / n
    val skew = perCell.map(_.getLong(1)).max.toDouble * nList / n
    (n, mean, skew)
  }

  private[operators] def writeStats(
      spark: org.apache.spark.sql.SparkSession, path: String,
      stats: (Long, Double, Double)): Unit = {
    import spark.implicits._
    Seq((stats._2, stats._3)).toDF("mean_residual", "occupancy_skew")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/stats")
  }

  /** Baseline recorded at writeIndex time; None for a pre-stats index. */
  private[operators] def loadStats(
      spark: org.apache.spark.sql.SparkSession, path: String): Option[(Double, Double)] =
    if (!FsUtil.exists(spark, s"$path/stats")) None
    else FsUtil.readStore(spark, s"$path/stats").collect().headOption
      .map(r => (r.getDouble(0), r.getDouble(1)))

  /** Compare one batch's stats to the stored baseline. The occupancy
    * clause only judges batches of at least 8×nList rows: a tiny
    * micro-batch is maximally skewed by construction (2 rows in 2 cells
    * of 16 reads as skew 8) and would false-fire on every small
    * in-distribution append — exactly the streaming path the signal
    * serves. Residual distance has no such size floor.
    */
  private[operators] def driftVerdict(
      batch: (Long, Double, Double), nList: Int,
      baseline: Option[(Double, Double)]): AppendStats = baseline match {
    case Some((bm, bs)) =>
      AppendStats(batch._1, batch._2, batch._3, bm, bs,
        retrainRecommended = batch._1 > 0 &&
          (batch._2 > ResidualDriftFactor * bm + 1e-12 ||
            (batch._1 >= 8L * nList && batch._3 > OccupancyDriftFactor * bs)))
    case None =>
      AppendStats(batch._1, batch._2, batch._3, Double.NaN, Double.NaN,
        retrainRecommended = false)
  }

  /** Fixed-radius probe of a persisted index — FAISS `range_search` on
    * IVFFlat: `nProbe` cells per query from the stored centroids, EXACT
    * scoring of only the probed cells' vectors (the same partition-dir
    * pruning as [[searchIndex]]), true-threshold cut. Precision is 1.0
    * by construction (every emitted pair genuinely clears `threshold`);
    * recall is bounded by cell coverage — matches living in unprobed
    * cells are unseen, so a WIDE radius wants a high `nProbe` while a
    * near-dup radius (the common curation case) concentrates in the
    * query's own cells. [[VectorSearch.radiusRecallContract]] pins what
    * a setting achieves. `filter` rides the pruned scan like
    * [[searchIndex]]'s. Output (qId, match_id, score), UNranked set
    * semantics; an id re-appended across epochs collapses to its best
    * score.
    */
  def radiusIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qId: String, qVec: String,
      threshold: Double, metric: String = "cosine", nProbe: Int = 4,
      filter: Column = lit(true)): DataFrame =
    radiusScan(spark, path, queries, qId, qVec, threshold, metric, nProbe,
      margin = 0.0, filter, exact = None)

  /** Probe a persisted index. The union of probed cells across the query
    * batch (a driver-side collect bounded by nList — small by
    * construction) becomes an IN filter on the PARTITION column, so the
    * corpus scan lists only the probed cells' directories; unprobed
    * partitions are never opened. Semantics identical to [[ivfTopK]]
    * run with the stored centroids.
    *
    * `filter` (over the store's payload columns — see [[writeIndex]])
    * turns the probe into a FILTERED search: the predicate evaluates
    * inside the same pruned scan (a parquet `PushedFilter` stacked on
    * the partition pruning — no join back to the source corpus), and
    * only admitted vectors compete for the top-k. Pre-filtering keeps
    * results exact w.r.t. the probed cells at any selectivity, but a
    * selective predicate thins each probed cell's pool — raise `nProbe`
    * roughly by 1/selectivity to keep the effective candidate count,
    * the same budget arithmetic as [[probesForBudget]].
    */
  def searchIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qId: String, qVec: String,
      k: Int, metric: String = "dot", nProbe: Int = 4,
      filter: Column = lit(true)): DataFrame = {
    val (_, probed, live) = probeLive(spark, path, queries, qId, qVec, nProbe, filter)
    ranked(cellTopK(probed, liveVectors(live), qId, qVec, k, metric), qId)
  }

  def serveRanked(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      k: Int, metric: String, nProbe: Int, numCandidates: Int,
      maxQueries: Int, filter: Column): DataFrame =
    searchIndex(spark, path, queries, qId, qVec, k, metric, nProbe, filter)

  def serveRadius(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      threshold: Double, metric: String, nProbe: Int,
      filter: Column): DataFrame =
    radiusIndex(spark, path, queries, qId, qVec, threshold, metric, nProbe,
      filter)

  private def liveVectors(live: DataFrame): DataFrame =
    live.select(col("id").as("match_id"), col("vec").as("__cvec"), col("cell"))

  /** [[searchIndex]] with serve-time OBSERVABILITY — the vector-side
    * analogue of the BM25 scoreDetails frame (Atlas $vectorSearch's
    * explain/searchMeta shape): the same probe and the same scan, plus
    * the per-query counters the serve actually saw. `cells_probed` is
    * the planner stat (the declared probe budget — every query probes
    * exactly nProbe cells); `candidates_scanned` is the executor stat
    * (live rows in the query's probed cells that competed for the
    * top-k, post-tombstone, post-filter). Counts are deterministic
    * functions of (store, query batch, knobs) — under a FULL probe
    * `candidates_scanned` is exactly the store's live row count, which
    * puts the whole frame under an external hash oracle. One extra
    * `count` in the existing aggregation: observability costs no second
    * scan.
    */
  def explainProbe(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qId: String, qVec: String,
      k: Int, metric: String = "dot", nProbe: Int = 4,
      filter: Column = lit(true)): DataFrame = {
    val (centroids, probed, live) =
      probeLive(spark, path, queries, qId, qVec, nProbe, filter)
    val agg = cellTopK(probed, liveVectors(live), qId, qVec, k, metric,
      counted = true)
    // left-join back onto the query frame: a query whose probed cells
    // yield ZERO candidates (everything tombstoned or filtered out) must
    // surface with candidates_scanned = 0 and a null match row — the
    // queries that most need explaining must not vanish from the frame
    queries.select(col(qId)).distinct()
      .join(agg, Seq(qId), "left")
      .select(col(qId),
        coalesce(col("candidates_scanned"), lit(0L)).as("candidates_scanned"),
        posexplode_outer(col("matches")).as(Seq("rank0", "m")))
      .select(col(qId), col("m.id").as("match_id"),
        (col("rank0") + 1).cast("int").as("rank"),
        // the probe caps at the store's cell count: with nProbe > nList
        // the declared budget would over-report what was actually probed
        lit(math.min(nProbe, centroids.length)).cast("int").as("cells_probed"),
        col("candidates_scanned"))
  }
}
