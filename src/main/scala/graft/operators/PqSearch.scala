package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TopKHeap
import graft.operators.VectorSearch.{scoreCol, scoreF32}

/** Product-quantization ANN (Jégou, Douze, Schmid: "Product Quantization
  * for Nearest Neighbor Search", IEEE TPAMI 2011) — the third index
  * family next to LSH ([[VectorSearch.annTopK]]) and IVF
  * ([[IvfSearch]]), covering the axis those two don't: MEMORY. The
  * vector dimension is split into `m` subspaces; each subspace gets a
  * `kCodes`-entry codebook; a vector is stored as `m` small codes. At
  * 64-dim float32 with m=8, kCodes=16 that is 256 bytes -> 8 half-byte
  * codes (~4 bytes at rest) per vector — a 100 TB embedding corpus
  * compresses to the point where the scan is CPU-bound, not IO-bound.
  *
  * Query path is ADC (asymmetric distance computation): per query, one
  * `m x kCodes` lookup table of partial scores against the codebooks;
  * each candidate's approximate score is then `m` table lookups — no
  * float vector is touched until the exact re-rank of the surviving
  * `numCandidates`.
  *
  * Scale shape:
  *  - training: per-subspace Lloyd rounds, all `m` subspaces in ONE
  *    aggregation pass per round (explode by dimension, integer-sum
  *    accumulation exactly like [[IvfSearch.trainCentroids]] — means are
  *    bit-identical regardless of partitioning).
  *  - encode: one narrow map over the corpus (codebooks broadcast).
  *  - search: the query batch (bounded, like the reference's worksheet
  *    searches) broadcasts WITH precomputed LUTs; a mapPartitions scan
  *    over the coded corpus keeps one bounded heap per query — the
  *    |Q|x|C| relation never materializes, and the corpus side only
  *    ships (id, codes). Exact re-rank joins the numCandidates
  *    survivors back to their full vectors.
  */
object PqSearch {

  /** `books(s)(c)` = sub-centroid `c` of subspace `s` (dsub floats). */
  final case class Codebooks(m: Int, kCodes: Int, dsub: Int,
      books: Array[Array[Array[Float]]])

  /** Lifetime count of [[trainCodebooks]] invocations in this JVM —
    * observability for the train-once/serve-many contract: specs assert
    * it does NOT move across a repeat search over the same corpus.
    */
  val trainInvocations = new java.util.concurrent.atomic.AtomicLong(0)

  /** In-process codebook cache backing [[cachedCodebooks]], keyed by
    * corpus identity tag.
    */
  private val cbCache = new ModelCache[Codebooks]()

  /** Train-once/serve-many codebooks for the corpus identified by
    * `tag`: trained at most once per JVM (in-process cache) and, when
    * `persist`, written content-addressed under the JVM tmpdir so a
    * fresh JVM over the same corpus RELOADS instead of retraining.
    * Pass `persist = false` when `tag` is only unique per registration
    * (not derived from the data's content) — a persisted artifact under
    * a non-content tag could outlive the data it was trained on.
    *
    * This is the one sanctioned route from a query body to codebooks:
    * the reference's PQ index is prebuilt at declaration time
    * (README.md:370-382), so no per-statement path may pay training.
    */
  def cachedCodebooks(
      corpus: DataFrame, cId: String, cVec: String, tag: String,
      m: Int = 8, kCodes: Int = 16, iters: Int = 2, dim: Int = 64,
      persist: Boolean = true): Codebooks =
    // hyperparameters are part of the identity: the same corpus tag
    // under a different PQ shape must train (and persist) separately,
    // never serve mismatched codebooks. Registration-scoped tags
    // (persist=false) are never reused, so a long-lived session would
    // otherwise grow one dead Codebooks per re-registration: the
    // bounded [[ModelCache]] evicts LRU entries only (persisted
    // entries reload from disk; the rest retrain at most once more).
    cbCache.getOrElseUpdate(s"${tag}_m${m}_k${kCodes}_i${iters}_d$dim") {
      val key = s"${tag}_m${m}_k${kCodes}_i${iters}_d$dim"
      if (persist) {
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_pq_cb_$key"
        if (!FsUtil.exists(corpus.sparkSession, s"$path/_SUCCESS"))
          saveCodebooks(corpus.sparkSession, path,
            trainCodebooks(corpus, cId, cVec, m, kCodes, iters, dim))
        loadCodebooks(corpus.sparkSession, path)
      } else trainCodebooks(corpus, cId, cVec, m, kCodes, iters, dim)
    }

  /** Deterministic per-subspace k-means. Init: the first `kCodes`
    * vectors by id donate their subvectors (arbitrary but stable; Lloyd
    * rounds wash it out). Each round re-estimates ALL subspace means in
    * one integer-sum aggregation, so results do not depend on
    * partitioning or float summation order.
    */
  def trainCodebooks(
      corpus: DataFrame, cId: String, cVec: String,
      m: Int = 8, kCodes: Int = 16, iters: Int = 2, dim: Int = 64): Codebooks = {
    trainInvocations.incrementAndGet()
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val seed = corpus.orderBy(col(cId)).limit(kCodes).select(cVec).collect()
      .map(_.getSeq[Float](0).toArray)
    require(seed.nonEmpty, "trainCodebooks: empty corpus")
    seed.foreach(v => require(v.length == dim,
      s"trainCodebooks: corpus vector has ${v.length} dims, declared dim=$dim"))
    var books: Array[Array[Array[Float]]] =
      Array.tabulate(m, kCodes) { (s, c) =>
        val v = seed(c % seed.length)
        java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub)
      }
    val scale = 1e7
    (1 to iters).foreach { _ =>
      val codes = encodeUdf(Codebooks(m, kCodes, dsub, books))
      // (subspace, code, dim-within-subspace) integer sums in one pass
      val sums = corpus
        .select(codes(col(cVec)).as("codes"), posexplode(col(cVec)).as(Seq("d", "v")))
        .select((col("d") / dsub).cast("int").as("s"),
          (col("d") % dsub).cast("int").as("sd"),
          element_at(col("codes"), (col("d") / dsub).cast("int") + 1).as("c"),
          col("v"))
        .groupBy("s", "c", "sd")
        .agg(sum(round(col("v") * scale).cast("long")).as("acc"), count(lit(1)).as("n"))
        .collect()
      val next = books.map(_.map(_.clone()))
      sums.foreach { r =>
        val s = r.getInt(0); val c = r.getInt(1); val sd = r.getInt(2)
        next(s)(c)(sd) = (r.getLong(3).toDouble / scale / r.getLong(4)).toFloat
      }
      books = next
    }
    Codebooks(m, kCodes, dsub, books)
  }

  /** Column UDF: vector -> `m` codes (nearest sub-centroid per subspace,
    * L2, ties to the lower code — same rule as [[IvfSearch.nearestCell]]).
    */
  def encodeUdf(cb: Codebooks): org.apache.spark.sql.Column => org.apache.spark.sql.Column = {
    val local = cb
    val f = udf((v: Seq[Float]) => {
      val q = v.toArray
      // fail fast instead of zero-padding: copyOfRange would silently
      // pad a too-short vector and degrade recall without any signal
      require(q.length == local.m * local.dsub,
        s"encode: vector has ${q.length} dims, codebooks expect ${local.m * local.dsub}")
      Array.tabulate(local.m) { s =>
        val sub = java.util.Arrays.copyOfRange(q, s * local.dsub, (s + 1) * local.dsub)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < local.kCodes) {
          val d = scoreF32("l2", sub, local.books(s)(c))
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        best
      }
    })
    (vec: org.apache.spark.sql.Column) => f(vec)
  }

  /** Persist trained codebooks as (s, c, centroid) parquet — the same
    * layout [[IvfPqIndex.writeIndex]] embeds under `path/codebooks`, so
    * one loader serves both. Train offline, serve many: at 100 TB the
    * codebooks are a model artifact, not a per-query byproduct.
    */
  def saveCodebooks(spark: SparkSession, path: String, cb: Codebooks): Unit = {
    import spark.implicits._
    cb.books.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (v, c) => (s, c, v.toSeq) }
    }.toSeq.toDF("s", "c", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Codebook shape (m, kCodes, dsub) is DERIVED from the persisted
    * rows, never trusted from caller parameters — a mismatch with the
    * write-time values would silently shift every flattened LUT index.
    */
  def loadCodebooks(spark: SparkSession, path: String): Codebooks = {
    val rows = spark.read.parquet(path).collect()
    require(rows.nonEmpty, s"loadCodebooks: no codebooks at $path")
    val m = rows.map(_.getInt(0)).max + 1
    val kCodes = rows.map(_.getInt(1)).max + 1
    val dsub = rows.head.getSeq[Float](2).length
    val books = Array.ofDim[Array[Float]](m, kCodes)
    rows.foreach { r => books(r.getInt(0))(r.getInt(1)) = r.getSeq[Float](2).toArray }
    require(books.forall(_.forall(_ != null)),
      s"loadCodebooks: incomplete codebook grid at $path (expected $m x $kCodes)")
    Codebooks(m, kCodes, dsub, books)
  }

  /** The coded corpus: (match_id, codes ARRAY<INT>). At rest the codes
    * pack to `m * ceil(log2(kCodes)/8)` bytes in a BINARY column; the
    * relational shape here keeps the demo oracle-friendly.
    */
  def encode(corpus: DataFrame, cId: String, cVec: String, cb: Codebooks): DataFrame =
    corpus.select(col(cId).cast("long").as("match_id"),
      encodeUdf(cb)(col(cVec)).as("codes"))

  /** PQ top-k with exact re-rank. `metric` "dot" or "l2" drive the ADC
    * tables directly (both decompose additively over subspaces);
    * "cosine" approximates with dot for candidate selection (sensible
    * for the near-unit-norm embeddings the reference's models emit) and
    * re-ranks exactly with true cosine.
    *
    * The query batch is collected and broadcast with its LUTs — bounded
    * by `maxQueries` exactly like [[VectorSearch.topKBroadcast]] bounds
    * its corpus collect; the corpus side stays fully distributed.
    */
  def pqTopK(
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      k: Int, metric: String = "dot",
      m: Int = 8, kCodes: Int = 16, iters: Int = 2, dim: Int = 64,
      numCandidates: Int = 100, maxQueries: Int = 10000): DataFrame =
    pqTopK(queries, qId, qVec, corpus, cId, cVec, k,
      trainCodebooks(corpus, cId, cVec, m, kCodes, iters, dim),
      metric, numCandidates, maxQueries)

  /** Serve-only overload: the codebooks arrive pre-trained (offline
    * training, [[saveCodebooks]]/[[loadCodebooks]], or a cache keyed by
    * corpus content) — the query body does no training passes. This is
    * the 100 TB shape: train once on a sample, encode/serve many.
    */
  def pqTopK(
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      k: Int, cb: Codebooks, metric: String,
      numCandidates: Int, maxQueries: Int): DataFrame = {
    VectorSearch.requireNumCandidates(numCandidates)
    require(k <= numCandidates, s"k=$k exceeds numCandidates=$numCandidates")
    val spark = queries.sparkSession
    import spark.implicits._
    val m = cb.m; val kCodes = cb.kCodes

    val coded = encode(corpus, cId, cVec, cb)

    val qRows = collectQueries(queries, qId, qVec, maxQueries, numCandidates,
      "pqTopK")
    val adcMetric = if (metric == "l2") "l2" else "dot"
    val asc = adcMetric == "l2"
    val luts = qRows.map { case (id, q) =>
      require(q.length == m * cb.dsub,
        s"pqTopK: query vector has ${q.length} dims, codebooks expect ${m * cb.dsub}")
      (id, adcLut(q, cb, adcMetric))
    }
    val bc = spark.sparkContext.broadcast(luts)
    val mm = m; val kk = kCodes; val cand = numCandidates

    // ADC scan: per partition, one bounded heap per query; only
    // (query_id, match_id, approx) survivors leave the partition
    val candidates = coded.as[(Long, Seq[Int])].mapPartitions { it =>
      val qs = bc.value
      val heaps = qs.map { case (id, _) => (id, new TopKHeap(cand, asc)) }
      it.foreach { case (mid, codesSeq) =>
        val codes = codesSeq.toArray
        var qi = 0
        while (qi < qs.length) {
          heaps(qi)._2.insert(mid, adcScore(qs(qi)._2, 0.0, codes, mm, kk))
          qi += 1
        }
      }
      heaps.iterator.flatMap { case (qid, h) =>
        (0 until h.n).map(i => (qid, h.ids(i), h.scores(i)))
      }
    }.toDF(qId, "match_id", "__approx")

    cutAndRerank(candidates, queries, qId, qVec, corpus, cId, cVec,
      k, metric, numCandidates, asc)
  }

  /** Shared head of every broadcast code scan: the (id, vector) query
    * batch, bounded by `maxQueries` and by |queries| × numCandidates —
    * per-task heap memory is |Q| × numCandidates × 16 B, so the PRODUCT
    * is bounded, not just the factors (10k × 10k would be 1.6 GB per
    * task).
    */
  private[operators] def collectQueries(queries: DataFrame, qId: String,
      qVec: String, maxQueries: Int, numCandidates: Int,
      who: String): Array[(Long, Array[Float])] = {
    val qRows = collectBatch(queries, qId, qVec, maxQueries, who)
    require(qRows.length.toLong * numCandidates <= 10000000L,
      s"$who: |queries|*numCandidates = ${qRows.length.toLong * numCandidates} " +
        "exceeds 10M (per-task heap bound) — split the batch or narrow the budget")
    qRows
  }

  /** The non-null (id, vector) rows of a query batch, refused past
    * `maxQueries`: the rows `limit(maxQueries + 1).collect()` returns, in
    * the same order, from ONE Spark job — each partition keeps its first
    * maxQueries + 1 rows and the driver keeps the first maxQueries + 1 in
    * partition order. (CollectLimit's incremental take scans one
    * partition, then the rest: two jobs on every multi-file micro-batch.)
    */
  private[operators] def collectBatch(queries: DataFrame, qId: String,
      qVec: String, maxQueries: Int, who: String): Array[(Long, Array[Float])] = {
    val slim = queries
      .select(col(qId).cast("long"), col(qVec).cast("array<float>"))
      .filter(col(qId).isNotNull && col(qVec).isNotNull)
    val n = maxQueries + 1
    val qRows = slim.mapPartitions(_.take(n))(
      org.apache.spark.sql.Encoders.row(slim.schema)).collect().take(n)
    require(qRows.length <= maxQueries,
      s"$who: query batch exceeds maxQueries=$maxQueries — split the batch")
    qRows.map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
  }

  /** The ADC lookup table of query `q`: lut(s * kCodes + c) = partial
    * score of the query's subspace-s slice against codebook entry c.
    */
  private[operators] def adcLut(q: Array[Float], cb: Codebooks,
      adcMetric: String): Array[Double] = {
    val lut = new Array[Double](cb.m * cb.kCodes)
    var s = 0
    while (s < cb.m) {
      val sub = java.util.Arrays.copyOfRange(q, s * cb.dsub, (s + 1) * cb.dsub)
      var c = 0
      while (c < cb.kCodes) {
        lut(s * cb.kCodes + c) = scoreF32(adcMetric, sub, cb.books(s)(c))
        c += 1
      }
      s += 1
    }
    lut
  }

  /** The ADC approximate score of one code row: `const` plus the code's
    * LUT entry per subspace.
    */
  private[operators] def adcScore(lut: Array[Double], const: Double,
      codes: Array[Int], m: Int, kCodes: Int): Double = {
    var approx = const
    var s = 0
    while (s < m) { approx += lut(s * kCodes + codes(s)); s += 1 }
    approx
  }

  /** Shared tail of every ADC scan ([[pqTopK]], [[IvfPqIndex
    * .searchIndex]]): cut the per-partition survivors to the global
    * `numCandidates` best per query BY APPROXIMATE SCORE, then re-rank
    * exactly on the true metric over full vectors (numCandidates rows
    * per query — a point-lookup join at scale). Output
    * (qId, match_id, score, rank), rank 1 best.
    */
  private[operators] def cutAndRerank(
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
