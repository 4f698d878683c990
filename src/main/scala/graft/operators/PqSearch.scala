package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.VectorSearch.scoreF32

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
  *  - search: the one quantized scan ([[CodeScan.topK]]) with the
  *    [[Adc]] kernel — the query batch (bounded, like the reference's
  *    worksheet searches) broadcasts WITH precomputed LUTs, the scan
  *    over the coded corpus keeps one bounded heap per query (the
  *    |Q|x|C| relation never materializes, and the corpus side only
  *    ships (id, codes)), and exact re-rank joins the numCandidates
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

  private val cbCache = new ModelCache[Codebooks]()

  /** Train-once/serve-many codebooks for the corpus identified by
    * `tag` ([[ModelCache.trainOnce]], which also holds the `persist`
    * contract).
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
    // never serve mismatched codebooks
    cbCache.trainOnce(corpus.sparkSession,
      s"pq_cb_${tag}_m${m}_k${kCodes}_i${iters}_d$dim", persist,
      saveCodebooks, loadCodebooks)(
      trainCodebooks(corpus, cId, cVec, m, kCodes, iters, dim))

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
    val spark = queries.sparkSession
    import spark.implicits._
    CodeScan.flatTopK(new Adc(cb, Array.empty), encode(corpus, cId, cVec, cb),
      queries, qId, qVec, corpus, cId, cVec, k, metric, numCandidates,
      maxQueries, "pqTopK")
  }

  /** The non-null (id, vector) rows of a query batch, refused past
    * `maxQueries`: the rows `limit(maxQueries + 1).collect()` returns, in
    * the same order, from ONE Spark job — each partition keeps its first
    * maxQueries + 1 rows and the driver keeps the first maxQueries + 1 in
    * partition order. (CollectLimit's incremental take scans one
    * partition, then the rest: two jobs on every multi-file micro-batch.)
    * A null ELEMENT inside a vector is refused: unboxed, it would read
    * as 0 and score silently wrong.
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
    qRows.map { r =>
      val v = r.getSeq[java.lang.Float](1)
      val bad = v.indexOf(null)
      require(bad < 0,
        s"$who: query ${r.getLong(0)} has a null vector element at index $bad")
      (r.getLong(0), v.map(_.floatValue).toArray)
    }
  }

  /** The ADC scan kernel of codebooks `cb`: per (query, probed cell)
    * one `m x kCodes` lookup table of partial scores, then `m` table
    * lookups per code row. "dot" and "l2" decompose additively over
    * subspaces; "cosine" scans as dot. With coarse `centroids` (IVF-PQ)
    * the codes are RESIDUALS against their cell's centroid: an l2
    * table is built from the query's residual, and dot(q, c + r) =
    * dot(q, c) + dot(q, r) adds a per-cell constant, so scores stay
    * comparable ACROSS cells. With none (in-flight PQ) there is one
    * cell and no constant.
    */
  private[operators] class Adc(cb: Codebooks, centroids: Array[Array[Float]])
      extends CodeKernel[Array[Int]] {
    def width: Int = centroids.headOption.map(_.length).getOrElse(cb.m * cb.dsub)
    def prepare(qVecs: Array[Array[Float]], probes: Array[Array[Int]],
        metric: String): RowKernel[Array[Int]] = {
      val adcMetric = if (metric == "l2") "l2" else "dot"
      val luts = qVecs.indices.toArray.map { qi =>
        val q = qVecs(qi)
        probes(qi).map { cell =>
          lut(if (adcMetric == "l2" && centroids.nonEmpty)
            Array.tabulate(width)(i => q(i) - centroids(cell)(i)) else q, adcMetric)
        }
      }
      val consts = qVecs.indices.toArray.map { qi =>
        probes(qi).map { cell =>
          if (adcMetric == "dot" && centroids.nonEmpty)
            scoreF32("dot", qVecs(qi), centroids(cell))
          else 0.0
        }
      }
      new AdcRows(probes, luts, consts, cb.m, cb.kCodes)
    }

    /** lut(s * kCodes + c) = partial score of `q`'s subspace-s slice
      * against codebook entry c.
      */
    private def lut(q: Array[Float], adcMetric: String): Array[Double] = {
      val out = new Array[Double](cb.m * cb.kCodes)
      var s = 0
      while (s < cb.m) {
        val sub = java.util.Arrays.copyOfRange(q, s * cb.dsub, (s + 1) * cb.dsub)
        var c = 0
        while (c < cb.kCodes) {
          out(s * cb.kCodes + c) = scoreF32(adcMetric, sub, cb.books(s)(c))
          c += 1
        }
        s += 1
      }
      out
    }
  }

  /** A code row's ADC score for query `qi` in `cell`: the cell's
    * constant plus the code's table entry per subspace.
    */
  private final class AdcRows(probes: Array[Array[Int]],
      luts: Array[Array[Array[Double]]], consts: Array[Array[Double]], m: Int,
      kCodes: Int) extends RowKernel[Array[Int]] {
    def score(qi: Int, cell: Int, codes: Array[Int]): Double = {
      val cells = probes(qi)
      var j = 0
      while (cells(j) != cell) j += 1
      val lut = luts(qi)(j)
      var approx = consts(qi)(j)
      var s = 0
      while (s < m) { approx += lut(s * kCodes + codes(s)); s += 1 }
      approx
    }
  }
}
