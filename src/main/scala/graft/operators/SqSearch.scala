package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TopKHeap
import graft.operators.VectorSearch.scoreF32

/** Scalar-quantization ANN (the SQ8 index family of FAISS; the uniform
  * per-dimension quantizer goes back to Gray & Neuhoff, "Quantization",
  * IEEE IT 1998): each dimension is affinely mapped to one unsigned
  * byte against corpus-trained per-dimension [min, max] bounds, so a
  * float32 vector stores as `dim` bytes — an exact 4× cut with NO
  * codebook lookup in the scan (unlike PQ's ADC), which makes it the
  * family of choice when memory is the constraint but recall must stay
  * near-exact (SQ8's per-dim resolution is 1/255 of the value range vs
  * PQ's kCodes cells per whole subspace).
  *
  * This completes the index-family axis next to LSH
  * ([[VectorSearch.annTopK]] — probe cost), IVF ([[IvfSearch]] —
  * partition pruning), PQ ([[PqSearch]] — extreme compression), and
  * IVF-PQ ([[IvfPqIndex]] — both): the reference declares its external
  * vector indexes by family at table-DDL time, and SQ8 is the standard
  * "compressed flat" rung of that ladder.
  *
  * Scale shape:
  *  - training: ONE aggregation pass (per-dimension min/max after a
  *    posexplode — slim (d, v) rows, partial-agg map-side); the model
  *    is 2·dim floats, a broadcast-sized artifact like the PQ
  *    codebooks, persisted/loaded the same way.
  *  - encode: one narrow map (model broadcast); codes are a BINARY
  *    column, `dim` bytes per vector at rest.
  *  - search: asymmetric — the float query is NOT quantized. For the
  *    dot metric the approximate score decomposes affinely,
  *    `Σ_d q_d·(lo_d + code_d·Δ_d) = Σ_d q_d·lo_d + Σ_d (q_d·Δ_d)·code_d`,
  *    so each query precomputes a constant plus `dim` scaled weights
  *    and the scan is a pure int-byte dot product. The query batch
  *    broadcasts with those weights; a mapPartitions scan keeps one
  *    bounded heap per query (same contract as [[PqSearch.pqTopK]]);
  *    survivors re-rank exactly via the shared
  *    [[PqSearch.cutAndRerank]] tail.
  */
object SqSearch {

  /** Per-dimension affine bounds: `code = round((v-lo)/Δ·255)` with
    * `Δ = (hi-lo)`; degenerate dimensions (hi == lo) encode as 0 and
    * decode exactly to `lo`.
    */
  final case class SqModel(lo: Array[Float], hi: Array[Float]) {
    def dim: Int = lo.length
  }

  /** Lifetime count of [[trainModel]] invocations in this JVM — the
    * train-once/serve-many observability hook, mirroring
    * [[PqSearch.trainInvocations]].
    */
  val trainInvocations = new java.util.concurrent.atomic.AtomicLong(0)

  private val modelCache = new ModelCache[SqModel]()

  /** Train-once/serve-many bounds for the corpus identified by `tag` —
    * the [[PqSearch.cachedCodebooks]] contract: at most one training
    * pass per JVM per (tag, dim), persisted content-addressed under the
    * JVM tmpdir so a fresh JVM over the same corpus reloads instead of
    * retraining.
    */
  def cachedModel(corpus: DataFrame, cId: String, cVec: String,
      tag: String, dim: Int = 64, persist: Boolean = true): SqModel =
    modelCache.getOrElseUpdate(s"${tag}_d$dim") {
      val key = s"${tag}_d$dim"
      if (persist) {
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_sq_model_$key"
        if (!FsUtil.exists(corpus.sparkSession, s"$path/_SUCCESS"))
          saveModel(corpus.sparkSession, path,
            trainModel(corpus, cVec, dim))
        loadModel(corpus.sparkSession, path)
      } else trainModel(corpus, cVec, dim)
    }

  /** Per-dimension [min, max] in ONE partial-agg pass over slim (d, v)
    * rows. min/max are order- and partition-independent, so the model is
    * deterministic by construction (no integer-sum trick needed).
    */
  def trainModel(corpus: DataFrame, cVec: String, dim: Int): SqModel = {
    trainInvocations.incrementAndGet()
    val rows = corpus
      .select(posexplode(col(cVec)).as(Seq("d", "v")))
      .groupBy("d")
      .agg(min("v").as("lo"), max("v").as("hi"))
      .collect()
    require(rows.nonEmpty, "trainModel: empty corpus")
    require(rows.length == dim,
      s"trainModel: corpus vectors have ${rows.length} dims, declared dim=$dim")
    val lo = new Array[Float](dim); val hi = new Array[Float](dim)
    rows.foreach { r =>
      lo(r.getInt(0)) = r.getFloat(1); hi(r.getInt(0)) = r.getFloat(2)
    }
    SqModel(lo, hi)
  }

  /** Persist as one (d, lo, hi) parquet row per dimension — the model
    * is an offline artifact like the PQ codebooks.
    */
  def saveModel(spark: SparkSession, path: String, m: SqModel): Unit = {
    import spark.implicits._
    m.lo.indices.map(d => (d, m.lo(d), m.hi(d))).toDF("d", "lo", "hi")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Dimension is derived from the persisted rows, never trusted from
    * caller parameters (the [[PqSearch.loadCodebooks]] rule).
    */
  def loadModel(spark: SparkSession, path: String): SqModel = {
    val rows = spark.read.parquet(path).collect()
    require(rows.nonEmpty, s"loadModel: no SQ model at $path")
    val dim = rows.map(_.getInt(0)).max + 1
    require(rows.length == dim, s"loadModel: sparse SQ model at $path")
    val lo = new Array[Float](dim); val hi = new Array[Float](dim)
    rows.foreach { r =>
      lo(r.getInt(0)) = r.getFloat(1); hi(r.getInt(0)) = r.getFloat(2)
    }
    SqModel(lo, hi)
  }

  /** Quantize one vector to `dim` unsigned bytes (stored in signed JVM
    * bytes; the scan masks back). Values outside the trained bounds —
    * possible when encoding vectors the trainer never saw — clamp to
    * the range edge, the standard SQ saturation rule.
    */
  def encodeVec(m: SqModel, v: Array[Float]): Array[Byte] = {
    require(v.length == m.dim,
      s"encode: vector has ${v.length} dims, model expects ${m.dim}")
    val out = new Array[Byte](m.dim)
    var d = 0
    while (d < m.dim) {
      val delta = m.hi(d) - m.lo(d)
      val c =
        if (delta <= 0f) 0
        else math.max(0, math.min(255,
          math.round((v(d) - m.lo(d)) / delta * 255f)))
      out(d) = c.toByte
      d += 1
    }
    out
  }

  /** Column-level encoder over a trained model — the store-side twin of
    * [[encodeVec]] ([[PqSearch.encodeUdf]]'s shape), shared by the scan
    * path here and [[IvfSqIndex]]'s celled store.
    */
  def encodeUdfOf(m: SqModel)
      : org.apache.spark.sql.Column => org.apache.spark.sql.Column = {
    val local = m
    val f = udf((v: Seq[Float]) => encodeVec(local, v.toArray))
    (c: org.apache.spark.sql.Column) => f(c)
  }

  /** Dequantize a code row back to its (near-exact) float vector —
    * `v(d) ≈ lo(d) + Δ(d)·code/255`, the inverse of [[encodeVec]] up to
    * the half-step quantization error. Serving paths that need a
    * GEOMETRIC view of a code (radius thresholds on cosine/l2, where
    * the raw-dot affine decomposition can't bound the metric) decode
    * once per scanned row and score the decoded vector.
    */
  def decodeVec(m: SqModel, codes: Array[Byte]): Array[Float] = {
    require(codes.length == m.dim,
      s"decode: code row has ${codes.length} bytes, model expects ${m.dim}")
    val out = new Array[Float](m.dim)
    var d = 0
    while (d < m.dim) {
      val delta = m.hi(d) - m.lo(d)
      out(d) = m.lo(d) + (if (delta <= 0f) 0f
        else delta * (codes(d) & 0xff) / 255f)
      d += 1
    }
    out
  }

  /** Column-level decoder — [[decodeVec]] as [[encodeUdfOf]]'s inverse. */
  def decodeUdfOf(m: SqModel)
      : org.apache.spark.sql.Column => org.apache.spark.sql.Column = {
    val local = m
    val f = udf((codes: Array[Byte]) => decodeVec(local, codes))
    (c: org.apache.spark.sql.Column) => f(c)
  }

  /** The coded corpus: (match_id, codes BINARY) — `dim` bytes per
    * vector at rest, the 4× cut the family exists for.
    */
  def encode(corpus: DataFrame, cId: String, cVec: String,
      m: SqModel): DataFrame =
    corpus.select(col(cId).cast("long").as("match_id"),
      encodeUdfOf(m)(col(cVec)).as("codes"))

  /** SQ8 top-k with exact re-rank. `metric` "dot" drives the scan
    * natively (affine decomposition); "cosine" selects candidates by
    * dot (the near-unit-norm embedding argument of [[PqSearch.pqTopK]])
    * and re-ranks with true cosine; "l2" scans on dequantized L2.
    * The query batch collects and broadcasts with per-query scan
    * weights, bounded exactly like the PQ path; the corpus side stays
    * fully distributed and ships only (id, codes).
    */
  /** Per-query scan state: for dot, (const = Σ q·lo, w_d = q_d·Δ_d/255)
    * so approx = const + Σ w_d·code_d; for l2, (0, q) and the dequantized
    * value lo_d + code_d·Δ_d/255 is compared directly.
    */
  private[operators] def affinePrep(q: Array[Float], m: SqModel,
      l2: Boolean): (Double, Array[Double]) =
    if (l2) (0.0, q.map(_.toDouble))
    else {
      var const = 0.0
      val w = new Array[Double](m.dim)
      var d = 0
      while (d < m.dim) {
        const += q(d).toDouble * m.lo(d)
        w(d) = q(d).toDouble * (m.hi(d) - m.lo(d)) / 255.0
        d += 1
      }
      (const, w)
    }

  /** The approximate score of one code row under [[affinePrep]]'s state
    * (l2: squared distance to the dequantized row).
    */
  private[operators] def affineScore(prep: (Double, Array[Double]),
      codes: Array[Byte], m: SqModel, l2: Boolean): Double = {
    val (const, w) = prep
    var approx = const
    var d = 0
    if (l2) {
      while (d < codes.length) {
        val c = codes(d) & 0xff
        val delta = m.hi(d) - m.lo(d)
        val dv = m.lo(d) + c * delta / 255.0
        val diff = w(d) - dv
        approx += diff * diff
        d += 1
      }
    } else {
      while (d < codes.length) {
        approx += w(d) * (codes(d) & 0xff)
        d += 1
      }
    }
    approx
  }

  def sqTopK(
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      k: Int, model: SqModel, metric: String = "dot",
      numCandidates: Int = 100, maxQueries: Int = 10000): DataFrame = {
    VectorSearch.requireNumCandidates(numCandidates)
    require(k <= numCandidates, s"k=$k exceeds numCandidates=$numCandidates")
    val spark = queries.sparkSession
    import spark.implicits._
    val dim = model.dim

    val coded = encode(corpus, cId, cVec, model)

    val l2 = metric == "l2"
    val prepped = PqSearch.collectQueries(queries, qId, qVec, maxQueries,
        numCandidates, "sqTopK").map { case (id, q) =>
      require(q.length == dim,
        s"sqTopK: query vector has ${q.length} dims, model expects $dim")
      (id, affinePrep(q, model, l2))
    }
    val bcQ = spark.sparkContext.broadcast(prepped)
    val bcM = spark.sparkContext.broadcast(model)
    val cand = numCandidates

    val candidates = coded.as[(Long, Array[Byte])].mapPartitions { it =>
      val qs = bcQ.value
      val m = bcM.value
      val heaps = qs.map { case (id, _) => (id, new TopKHeap(cand, l2)) }
      it.foreach { case (mid, codes) =>
        var qi = 0
        while (qi < qs.length) {
          heaps(qi)._2.insert(mid, affineScore(qs(qi)._2, codes, m, l2))
          qi += 1
        }
      }
      heaps.iterator.flatMap { case (qid, h) =>
        (0 until h.n).map(i => (qid, h.ids(i), h.scores(i)))
      }
    }.toDF(qId, "match_id", "__approx")

    PqSearch.cutAndRerank(candidates, queries, qId, qVec, corpus, cId, cVec,
      k, metric, numCandidates, l2)
  }
}
