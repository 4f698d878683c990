package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TopKHeap
import graft.operators.VectorSearch.scoreCol

/** A celled store's vector codec, bound to one store's trained model:
  * how a raw vector becomes the stored value column, how a stored value
  * decodes back to floats for a radius threshold, and how the model
  * persists beside the store. Raw IVF stores the vector itself and
  * trains nothing; IVF-PQ stores residual PQ codes, IVF-SQ SQ8 codes.
  */
private[operators] trait CellCodec {
  /** The stored value of raw vector `v` assigned to `cell`. */
  def encode(v: Column, cell: Column): Column
  /** A stored value as ARRAY<FLOAT> (exact for raw vectors). */
  def decode(stored: Column, cell: Column): Column
  /** Persist the trained model beside the store at `path`. */
  def save(spark: SparkSession, path: String): Unit
}

/** The scoring half of a quantized codec over codes of type `C`: all
  * the one quantized scan ([[CodeScan.topK]]) needs. The kernels live
  * next to their models: PQ ADC ([[PqSearch.Adc]]), SQ8 affine
  * ([[SqSearch.Affine]]) and BQ hamming ([[BqSearch.Hamming]]).
  */
private[operators] trait CodeKernel[C] {
  /** The vector width the model encodes. */
  def width: Int
  /** Whether a LOWER approximate score is better under `metric`. */
  def ascending(metric: String): Boolean = metric == "l2"
  /** Per-(query, probed cell) scoring state for one query batch, built
    * once before the scan; the returned kernel scores a stored code row
    * for one query inside the scan.
    */
  def prepare(qVecs: Array[Array[Float]], probes: Array[Array[Int]],
      metric: String): RowKernel[C]
}

private[operators] trait RowKernel[C] extends Serializable {
  def score(qi: Int, cell: Int, code: C): Double
}

/** A compressed celled store's codec: stored codes that score through
  * a [[CodeKernel]].
  */
private[operators] trait CodeScan[C] extends CellCodec with CodeKernel[C]

/** The one quantized shortlist (Jégou et al.'s IVFADC scan, TPAMI 2011,
  * whose exhaustive ADC scan is its one-list case): every quantized
  * serve — in-flight PQ, SQ and BQ, and the IVF-PQ / IVF-SQ stores —
  * collects the query batch, builds the kernel's per-query state once,
  * scans the code rows into one bounded heap per query and re-ranks the
  * `numCandidates` survivors exactly.
  */
private[operators] object CodeScan {

  /** Top-k over the code rows `scan(cells)` yields, (id, code, cell),
    * for the union of the cells `probe` picks per query; a row scores
    * only for the queries that probed its cell. `kernel` is built after
    * the argument checks; a query whose width differs from the model's
    * fails. Output (qId, match_id, score, rank), rank 1 best; heaps keep
    * the better score, then the lower id.
    */
  def topK[C](kernel: => CodeKernel[C], queries: DataFrame, qId: String,
      qVec: String, corpus: DataFrame, cId: String, cVec: String, k: Int,
      metric: String, numCandidates: Int, maxQueries: Int, who: String)(
      probe: Array[Float] => Array[Int],
      scan: Array[Int] => Dataset[(Long, C, Int)]): DataFrame = {
    VectorSearch.requireNumCandidates(numCandidates)
    require(k <= numCandidates, s"k=$k exceeds numCandidates=$numCandidates")
    val codec = kernel
    val (qIds, qVecs) = collectQueries(queries, qId, qVec, maxQueries,
      numCandidates, who).unzip
    qVecs.foreach(q => require(q.length == codec.width,
      s"$who: query vector has ${q.length} dims, the model expects ${codec.width}"))
    val probes = qVecs.map(probe)
    val cells = probes.flatten.distinct.sorted
    // probersOf(cell): the positions of the queries that probe `cell`
    val byCell = probes.indices.flatMap(qi => probes(qi).map(_ -> qi))
      .groupMap(_._1)(_._2)
    val probersOf = Array.tabulate(cells.lastOption.fold(0)(_ + 1))(cell =>
      byCell.get(cell).fold(Array.emptyIntArray)(_.toArray))
    val spark = queries.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(
      (qIds, codec.prepare(qVecs, probes, metric), probersOf))
    val cand = numCandidates; val asc = codec.ascending(metric)

    val candidates = scan(cells).mapPartitions { it =>
      val (ids, rows, probers) = bc.value
      val heaps = new Array[TopKHeap](ids.length)
      it.foreach { case (mid, code, cell) =>
        val qis = probers(cell)
        var j = 0
        while (j < qis.length) {
          val qi = qis(j)
          if (heaps(qi) == null) heaps(qi) = new TopKHeap(cand, asc)
          heaps(qi).insert(mid, rows.score(qi, cell, code))
          j += 1
        }
      }
      heaps.iterator.zipWithIndex.filter(_._1 != null).flatMap { case (h, qi) =>
        (0 until h.n).map(i => (ids(qi), h.ids(i), h.scores(i)))
      }
    }.toDF(qId, "match_id", "__approx")

    cutAndRerank(candidates, queries, qId, qVec, corpus, cId, cVec,
      k, metric, numCandidates, asc)
  }

  /** [[topK]] over an uncelled coded corpus (match_id, codes): the
    * one-cell case, where every query probes cell 0 and it holds every
    * row.
    */
  def flatTopK[C](kernel: CodeKernel[C], coded: DataFrame, queries: DataFrame,
      qId: String, qVec: String, corpus: DataFrame, cId: String, cVec: String,
      k: Int, metric: String, numCandidates: Int, maxQueries: Int, who: String)(
      implicit rows: Encoder[(Long, C, Int)]): DataFrame =
    topK(kernel, queries, qId, qVec, corpus, cId, cVec, k, metric,
      numCandidates, maxQueries, who)(_ => Array(0),
      _ => coded.select(col("match_id"), col("codes"), lit(0)).as(rows))

  /** The (id, vector) query batch, bounded by `maxQueries` and by
    * |queries| × numCandidates — per-task heap memory is |Q| ×
    * numCandidates × 16 B, so the PRODUCT is bounded, not just the
    * factors (10k × 10k would be 1.6 GB per task).
    */
  private def collectQueries(queries: DataFrame, qId: String,
      qVec: String, maxQueries: Int, numCandidates: Int,
      who: String): Array[(Long, Array[Float])] = {
    val qRows = PqSearch.collectBatch(queries, qId, qVec, maxQueries, who)
    require(qRows.length.toLong * numCandidates <= 10000000L,
      s"$who: |queries|*numCandidates = ${qRows.length.toLong * numCandidates} " +
        "exceeds 10M (per-task heap bound) — split the batch or narrow the budget")
    qRows
  }

  /** Cut the per-partition survivors to the global `numCandidates` best
    * per query BY APPROXIMATE SCORE, then re-rank exactly on the true
    * metric over full vectors (numCandidates rows per query — a
    * point-lookup join at scale). Output (qId, match_id, score, rank),
    * rank 1 best.
    */
  private def cutAndRerank(
      candidates: DataFrame, queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      k: Int, metric: String, numCandidates: Int, asc: Boolean): DataFrame = {
    val globalCand = candidates
      .groupBy(col(qId))
      .agg(graft.functions.TopKByScore.topK(col("match_id"), col("__approx"),
        numCandidates, asc).as("cs"))
      .select(col(qId), explode(col("cs")).as("c"))
      .select(col(qId), col("c.id").as("match_id"))
    globalCand
      .join(corpus.select(col(cId).cast("long").as("match_id"),
        col(cVec).as("__cvec")), "match_id")
      .join(broadcast(queries.select(col(qId).cast("long").as(qId),
        col(qVec).as("__qvec"))), qId)
      .withColumn("score", scoreCol(metric)(col("__qvec"), col("__cvec")))
      .groupBy(col(qId))
      .agg(graft.functions.TopKByScore.topK(col("match_id"), col("score"), k,
        metric == "l2").as("matches"))
      .select(col(qId), posexplode(col("matches")).as(Seq("rank0", "mt")))
      .select(col(qId), col("mt.id").as("match_id"), col("mt.score").as("score"),
        (col("rank0") + 1).cast("int").as("rank"))
  }
}

/** The persisted IVF layout shared by [[IvfSearch]], [[IvfPqIndex]] and
  * [[IvfSqIndex]]: `corpus/` holds (id, stored value, payload…) rows
  * partitioned by (cell, epoch), beside the trained `centroids/`, the
  * drift baseline `stats/` and the codec's own model. The families
  * differ only in the codec ([[CellCodec]]), so append, delete,
  * compaction, the probe-and-live-scan prefix and the radius search
  * exist once, here.
  */
trait CelledStore extends MaintainedStore[AppendStats] {

  /** The stored value column: "vec" (raw) or "codes" (compressed). */
  private[graft] def storedCol: String
  /** Store column names a payload column may not take. */
  def reservedCols: Set[String]
  /** The store's `id` column from a source id column. */
  protected def storeId(id: Column): Column
  /** The codec of the store at `path` (loads the codec's model). */
  protected def codecAt(spark: SparkSession, path: String,
      centroids: Array[Array[Float]]): CellCodec

  /** Build the store at `path` with `nList` cells (the SQL registry's
    * build-once entry point); `dim` is the corpus' vector width, read
    * only by codecs that need it.
    */
  private[graft] def buildIndex(corpus: DataFrame, cId: String, cVec: String,
      path: String, nList: Int, dim: => Int, payload: Seq[String]): Unit

  /** The ranked serve all celled stores share: (qId, match_id, score,
    * rank), rank 1 = best.
    * A compressed store re-ranks its `numCandidates` survivors exactly
    * against `corpus`; raw IVF reads neither.
    */
  def serveRanked(spark: SparkSession, path: String,
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      k: Int, metric: String, nProbe: Int, numCandidates: Int,
      maxQueries: Int, filter: Column): DataFrame

  /** The radius serve all celled stores share (see [[radiusScan]]). */
  def serveRadius(spark: SparkSession, path: String,
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      threshold: Double, metric: String, nProbe: Int,
      filter: Column): DataFrame

  def upsertTombstones: Boolean = true
  def append(df: DataFrame, idCol: String, valueCol: String, path: String,
      epoch: Long): AppendStats = appendToIndex(df, idCol, valueCol, path, epoch)
  def delete(spark: SparkSession, path: String, ids: DataFrame, idCol: String,
      epoch: Long): Unit = deleteFromIndex(spark, path, ids, idCol, Some(epoch))
  def compact(spark: SparkSession, path: String, excludeEpoch: Long): (Long, Long) =
    compactIndex(spark, path, excludeEpoch)

  /** The trained centroids in cell order: one collect, sorted on the
    * driver (there are nList rows).
    */
  def loadCentroids(spark: SparkSession, path: String): Array[Array[Float]] =
    FsUtil.readStore(spark, s"$path/centroids").select("cell", "centroid")
      .collect().sortBy(_.getInt(0)).map(_.getSeq[Float](1).toArray)

  protected def saveCentroids(spark: SparkSession, path: String,
      centroids: Array[Array[Float]]): Unit = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Payload columns ride alongside the stored values (the
    * filtered-search layout: a metadata predicate evaluates inside the
    * partition-pruned probe scan as a parquet PushedFilter, instead of
    * joining back to the source corpus per query batch), so they cannot
    * take a reserved store column's name.
    */
  protected def requirePayload(payload: Seq[String]): Unit =
    payload.foreach(p => require(!reservedCols(p),
      s"payload column '$p' collides with a reserved store column ($reservedCols)"))

  /** Append newly arrived vectors to a persisted index WITHOUT
    * retraining: cells come from the STORED centroids, values from the
    * stored codec model, rows land in their cell's partition directory
    * (dynamic-partition append). This is the continuous-ingestion path —
    * the at-rest analog of the reference's perpetual INSERT keeping its
    * collection searchable as new embeddings arrive (README.md:432-445):
    * index once, append forever, probe pruning unchanged. The model
    * drifts only at the next full `writeIndex` — the standard IVF split
    * of offline retrain / online append. Returns the batch's
    * [[AppendStats]]: sustained distribution drift against stored
    * centroids silently degrades recall (doubly so for a codebook
    * trained on a different residual distribution), so every append
    * measures itself against the training baseline and recommends the
    * retrain when it leaves the regime. A vector whose width differs
    * from the centroids' fails the append.
    */
  def appendToIndex(df: DataFrame, cId: String, cVec: String, path: String,
      epoch: Long = -1L): AppendStats = {
    val spark = df.sparkSession
    val centroids = loadCentroids(spark, path)
    val codec = codecAt(spark, path, centroids)
    // a payload store's appends MUST carry the same payload columns at
    // the same TYPES — an epoch written without them would serve NULL
    // under a filtered probe, and a mixed-type column fails the whole
    // store at compaction. The store's own schema (not caller memory)
    // is the contract ([[IndexMaintenance.requirePayloadCompatible]]).
    val storeSchema = FsUtil.readStore(spark, s"$path/corpus").schema
    val payloadCols = storeSchema.fieldNames
      .filterNot(Set("id", storedCol, "cell", "epoch")).toSeq
    IndexMaintenance.requirePayloadCompatible(storeSchema, df.schema,
      payloadCols, path)
    // assign cells once; the partition write and the drift aggregation
    // both read the materialized assignment
    val celled = df.select(storeId(col(cId)) +: col(cVec).as("__v") +:
        IvfSearch.nearestCell(centroids)(col(cVec)).as("cell") +:
        payloadCols.map(col): _*)
      .localCheckpoint()
    // epoch >= 0: IDEMPOTENT append — a replayed micro-batch overwrites
    // its own (cell, epoch) partitions instead of duplicating vectors
    // (the streaming fronts always tag; ad-hoc batch appends default to
    // the plain append into the base segment). The write runs under the
    // store lease with swap recovery FIRST: a bare write after a
    // compactor crashed mid-swap would CREATE a fresh corpus dir holding
    // only this epoch, and the next compaction's recovery would then
    // discard the real store as debris.
    try {
      val rows = celled.select(col("id") +:
          codec.encode(col("__v"), col("cell")).as(storedCol) +: col("cell") +:
          payloadCols.map(col): _*)
        .withColumn("epoch", lit(epoch))
      IndexMaintenance.withStoreLock(spark, path) {
        IndexMaintenance.recoverSwap(spark, s"$path/corpus")
        IndexMaintenance.epochWrite(rows, Seq("cell", "epoch"), epoch,
          s"$path/corpus")
      }
      IvfSearch.driftVerdict(
        IvfSearch.celledStats(celled.withColumn("__dist",
          IvfSearch.cellDist(centroids)(col("__v"), col("cell"))), centroids.length),
        centroids.length, IvfSearch.loadStats(spark, path))
      // per-batch caller (the maintenance streams): release this batch's
      // checkpoint blocks in the finally, not at a future GC — even when
      // the write or the drift aggregation throws
    } finally IndexMaintenance.unpersistCheckpoint(celled)
  }

  /** Delete `ids` from a persisted index WITHOUT rewriting it: a
    * tombstone epoch lands under the store lock and the rows die at
    * serve time immediately (every probe scan filters them); the next
    * [[compactIndex]] removes them physically and retires the
    * tombstone. Default epoch = the store's newest segment epoch
    * ("delete what's here now"): every current row of the id dies, a
    * LATER append of the same id out-lives the delete — the
    * last-writer-wins order appends already follow. Returns the
    * tombstone epoch used.
    */
  def deleteFromIndex(spark: SparkSession, path: String,
      ids: DataFrame, idCol: String, epoch: Option[Long] = None): Long = {
    require(FsUtil.exists(spark, s"$path/centroids"),
      s"index at '$path' does not exist or is unreachable")
    Tombstones.deleteUnderLock(spark, path, "corpus", ids, idCol, epoch)
  }

  /** Compact the celled corpus to one file per (cell, epoch-segment) —
    * cures the per-append small-file decay (see [[IndexMaintenance]];
    * crash recovery of an interrupted swap runs first); probe pruning
    * and results are unchanged (same rows, same `cell=` partition
    * values; asserted in IvfSpec). All CLOSED epochs merge into the
    * base segment; `excludeEpoch` (a stream's in-flight epoch) keeps
    * its own partitions so its at-least-once replay can still
    * overwrite itself. Returns (data files before, after).
    */
  def compactIndex(spark: SparkSession, path: String,
      excludeEpoch: Long = Long.MinValue): (Long, Long) = {
    require(FsUtil.exists(spark, s"$path/centroids"),
      s"index at '$path' does not exist or is unreachable")
    IndexMaintenance.withStoreLock(spark, path) {
      IndexMaintenance.recoverSwap(spark, s"$path/corpus")
      // deletes heal here, before the closed-epoch remap
      val res = IndexMaintenance.compactPartitionedDir(spark, s"$path/corpus",
        Seq("cell", "epoch"), loadCentroids(spark, path).length * 2,
        (Tombstones.applyToClosed(spark, path, excludeEpoch) _)
          .andThen(IndexMaintenance.closedEpochsToBase(excludeEpoch)))
      Tombstones.clearApplied(spark, path, excludeEpoch)
      res
    }
  }

  /** Extra columns materialized with the celled rows for training. */
  protected def trainingCols(centroids: Array[Array[Float]]): Seq[Column] = Nil

  /** The one celled build: `nList` trained centroids assign cells,
    * `train` fits the codec over the celled rows (id, cell, `__v` the
    * raw vector, payload…, [[trainingCols]]; raw IVF trains nothing) —
    * materialized once, because training, the encode pass
    * and the drift-baseline aggregation all read them — and the stored
    * values land partitioned by (cell, epoch -1) next to the codec
    * model and the centroids. The base build is epoch -1; streamed
    * appends land as dynamic overwrites of their own epoch dirs
    * ([[appendToIndex]]). The drift-baseline stats are written LAST,
    * so their `_SUCCESS` implies a complete index.
    */
  protected def writeCoded(corpus: DataFrame, cId: String, cVec: String,
      path: String, nList: Int, iters: Int, dim: Int, payload: Seq[String])(
      train: (DataFrame, Array[Array[Float]]) => CellCodec): Unit = {
    val spark = corpus.sparkSession
    requirePayload(payload)
    val centroids = IvfSearch.trainCentroids(corpus, cVec, cId, nList, iters, dim)
    val celled = corpus.select((storeId(col(cId)) +:
        IvfSearch.nearestCell(centroids)(col(cVec)).as("cell") +:
        col(cVec).as("__v") +: payload.map(col)) ++ trainingCols(centroids): _*)
      .localCheckpoint()
    // finally: a failed training pass, parquet write, or drift
    // aggregation must not pin the checkpointed blocks for the session
    // lifetime (the [[Tombstones.write]] rule)
    try {
      val codec = train(celled, centroids)
      celled.select(col("id") +: codec.encode(col("__v"), col("cell")).as(storedCol) +:
          col("cell") +: payload.map(col): _*)
        .withColumn("epoch", lit(-1L))
        .write.partitionBy("cell", "epoch").mode("overwrite")
        .parquet(s"$path/corpus")
      codec.save(spark, path)
      saveCentroids(spark, path, centroids)
      IvfSearch.writeStats(spark, path, IvfSearch.celledStats(
        celled.withColumn("__dist",
          IvfSearch.cellDist(centroids)(col("__v"), col("cell"))), nList))
    } finally IndexMaintenance.unpersistCheckpoint(celled)
  }

  /** The live rows of the probed `cells`: the IN filter on the
    * PARTITION column lists only those cells' directories (unprobed
    * partitions are never opened), `filter` rides the same scan as a
    * parquet PushedFilter over the payload columns, and tombstoned rows
    * die before any scoring — a deleted id must not occupy a top-k slot
    * even transiently.
    */
  private[operators] def liveCells(spark: SparkSession, path: String,
      cells: Seq[Int], filter: Column): DataFrame =
    Tombstones.filterLive(spark, path,
      FsUtil.readStore(spark, s"$path/corpus")
        .filter(col("cell").isin(cells.map(Int.box): _*))
        .filter(filter),
      "id", "epoch")

  /** The probe prefix every distributed serve shares: (centroids, the
    * queries exploded to their `nProbe` nearest cells, the live rows of
    * the union of probed cells — a collect bounded by nList).
    */
  private[operators] def probeLive(spark: SparkSession, path: String,
      queries: DataFrame, qId: String, qVec: String, nProbe: Int,
      filter: Column): (Array[Array[Float]], DataFrame, DataFrame) = {
    val centroids = loadCentroids(spark, path)
    val probed = queries.select(col(qId), col(qVec),
      explode(IvfSearch.nearestCells(centroids, nProbe)(col(qVec))).as("cell"))
    val cells = probed.select("cell").distinct().collect().map(_.getInt(0))
    (centroids, probed, liveCells(spark, path, cells.toIndexedSeq, filter))
  }

  /** Fixed-radius probe — FAISS `range_search`: `nProbe` cells per query
    * from the stored centroids, every scanned row decoded once by the
    * codec and scored. With `exact` = None (raw vectors) the decoded
    * score is exact and cuts at `threshold` directly. A compressed
    * store passes its source (corpus, id, vector): rows are admitted at
    * a RELAXED threshold (`margin` absorbs the codec's error) and the
    * admitted pairs are re-scored EXACTLY against it and cut at the
    * true threshold. Precision is 1.0 by construction; recall is
    * bounded by cell coverage. Output (qId, match_id, score), UNranked
    * set semantics; an id re-appended across epochs collapses to its
    * best score.
    */
  protected def radiusScan(spark: SparkSession, path: String,
      queries: DataFrame, qId: String, qVec: String, threshold: Double,
      metric: String, nProbe: Int, margin: Double, filter: Column,
      exact: Option[(DataFrame, String, String)]): DataFrame = {
    require(margin >= 0, s"radiusIndex: margin must be >= 0, got $margin")
    val (centroids, probed, live) =
      probeLive(spark, path, queries, qId, qVec, nProbe, filter)
    val codec = codecAt(spark, path, centroids)
    val scored = probed.join(live.select(col("id").as("match_id"),
        codec.decode(col(storedCol), col("cell")).as("__dvec"), col("cell")), "cell")
      .withColumn("score", scoreCol(metric)(col(qVec), col("__dvec")))
    val kept = exact match {
      case None => scored.filter(VectorSearch.radiusPred(metric, threshold))
      case Some((corpus, cId, cVec)) =>
        val relaxed = threshold + (if (metric == "l2") margin else -margin)
        scored.filter(VectorSearch.radiusPred(metric, relaxed))
          .select(col(qId), col(qVec), col("match_id"))
          .join(corpus.select(col(cId).cast("long").as("match_id"),
            col(cVec).cast("array<float>").as("__cvec")), "match_id")
          .withColumn("score", scoreCol(metric)(col(qVec), col("__cvec")))
          .filter(VectorSearch.radiusPred(metric, threshold))
    }
    kept.groupBy(col(qId), col("match_id"))
      .agg((if (metric == "l2") min(col("score")) else max(col("score")))
        .as("score"))
  }
}

/** The compressed celled stores ([[IvfPqIndex]], [[IvfSqIndex]]): codes
  * of type `C` replace the raw vectors, so search scans codes on the
  * executors with a broadcast per-query state and re-ranks the
  * `numCandidates` survivors exactly against the source corpus.
  */
trait CompressedCelledStore[C] extends CelledStore {
  private[graft] def storedCol: String = "codes"
  protected def storeId(id: Column): Column = id.cast("long").as("id")
  protected def codecAt(spark: SparkSession, path: String,
      centroids: Array[Array[Float]]): CodeScan[C]
  /** Decoder of a scanned (id, codes, cell) row. */
  protected def codeRow: Encoder[(Long, C, Int)]
  /** Default radius admission margin: the codec's worst-case error. */
  protected def radiusMargin: Double

  /** RADIUS search from the persisted compressed store (FAISS
    * `range_search` posture): probe cells, DECODE each scanned code row
    * once, admit at a threshold relaxed by `margin`, then re-score the
    * admitted pairs EXACTLY against `corpus` by id and cut at the true
    * threshold — precision 1.0 by construction. Widening `margin` only
    * grows the exact re-score's input, never breaks precision. `filter`
    * rides the pruned scan (payload pushdown).
    */
  def radiusIndex(
      spark: SparkSession, path: String,
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      threshold: Double, metric: String = "cosine", nProbe: Int = 4,
      margin: Double = radiusMargin, filter: Column = lit(true)): DataFrame =
    radiusScan(spark, path, queries, qId, qVec, threshold, metric, nProbe,
      margin, filter, Some((corpus, cId, cVec)))

  def serveRadius(spark: SparkSession, path: String,
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      threshold: Double, metric: String, nProbe: Int,
      filter: Column): DataFrame =
    radiusIndex(spark, path, queries, qId, qVec, corpus, cId, cVec,
      threshold, metric, nProbe, filter = filter)

  def serveRanked(spark: SparkSession, path: String,
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      k: Int, metric: String, nProbe: Int, numCandidates: Int,
      maxQueries: Int, filter: Column): DataFrame =
    searchIndex(spark, path, queries, qId, qVec, corpus, cId, cVec, k,
      metric, nProbe, numCandidates, maxQueries, filter)

  /** Probe the store. The probed-cell union becomes an IN filter on the
    * partition column (directory pruning); the scan reads ONLY (id,
    * codes, cell) — no float vector is read — and scores each row for
    * the queries that probed its cell with the codec's kernel into a
    * per-query bounded heap; `corpus` supplies full vectors for the
    * exact re-rank of the `numCandidates` survivors. `filter` (over the
    * store's payload columns) evaluates inside the same pruned scan, so
    * a FILTERED probe admits only matching rows into the shortlist — no
    * join back to the source corpus; tombstoned rows die first. A query
    * whose width differs from the model's fails.
    */
  def searchIndex(
      spark: SparkSession, path: String,
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      k: Int, metric: String = "dot", nProbe: Int = 4,
      numCandidates: Int = 100, maxQueries: Int = 10000,
      filter: Column = lit(true)): DataFrame = {
    // shape comes from the persisted model, never from the caller
    lazy val centroids = loadCentroids(spark, path)
    CodeScan.topK(codecAt(spark, path, centroids), queries, qId, qVec,
      corpus, cId, cVec, k, metric, numCandidates, maxQueries, "searchIndex")(
      IvfSearch.probeCells(centroids, _, nProbe),
      cells => liveCells(spark, path, cells.toIndexedSeq, filter)
        .select(col("id"), col("codes"), col("cell")).as(codeRow))
  }
}
