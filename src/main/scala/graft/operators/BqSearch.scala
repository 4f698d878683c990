package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Binary-quantization ANN (the 1-bit-per-dimension rung below SQ8 —
  * FAISS's `IndexBinaryFlat` over sign codes; the sign-threshold form
  * of Charikar's SimHash, STOC 2002): each dimension stores ONE bit
  * (`v_d > thr_d`), so a float32 vector compresses 32× and candidate
  * scanning is XOR + popcount on machine words — the cheapest scan of
  * the whole family ladder (LSH probe cost / IVF partition pruning /
  * PQ ADC / SQ8 byte dot / BQ bit Hamming), completing it at the
  * memory-extreme end.
  *
  * Thresholds are per-dimension MIDRANGE `(min+max)/2` from one
  * partial-agg pass — min/max are order- and partition-independent, so
  * the model is deterministic by construction (the [[SqSearch
  * .trainModel]] rule; a mean would depend on float summation order).
  *
  * Scale shape:
  *  - train: one partial-agg over slim (d, v) rows; the model is `dim`
  *    floats (broadcast-sized), persisted like the PQ codebooks.
  *  - encode: one narrow map; codes are ONE long per 64 dims at rest.
  *  - search: the query batch (bounded by `maxQueries`) broadcasts
  *    with its codes into the one quantized scan ([[CodeScan.topK]]);
  *    the kernel is XOR + popcount per word ([[Hamming]]) into one
  *    bounded heap per query, and the survivors re-rank exactly. The
  *    corpus side stays fully distributed and ships only (id, codes).
  */
object BqSearch {

  /** Per-dimension sign thresholds. */
  final case class BqModel(thr: Array[Float]) {
    def dim: Int = thr.length
    def words: Int = (dim + 63) / 64
  }

  /** Lifetime count of [[trainModel]] invocations in this JVM — the
    * train-once/serve-many observability hook, mirroring
    * [[PqSearch.trainInvocations]].
    */
  val trainInvocations = new java.util.concurrent.atomic.AtomicLong(0)

  private val modelCache = new ModelCache[BqModel]()

  /** Train-once/serve-many thresholds for the corpus identified by
    * `tag` ([[ModelCache.trainOnce]]): at most one training pass per JVM
    * per (tag, dim).
    */
  def cachedModel(corpus: DataFrame, cVec: String,
      tag: String, dim: Int = 64, persist: Boolean = true): BqModel =
    modelCache.trainOnce(corpus.sparkSession, s"bq_model_${tag}_d$dim",
      persist, saveModel, loadModel)(trainModel(corpus, cVec, dim))

  /** Per-dimension midrange threshold in ONE partial-agg pass. */
  def trainModel(corpus: DataFrame, cVec: String, dim: Int): BqModel = {
    trainInvocations.incrementAndGet()
    val rows = corpus
      .select(posexplode(col(cVec)).as(Seq("d", "v")))
      .groupBy("d")
      .agg(min("v").as("lo"), max("v").as("hi"))
      .collect()
    require(rows.nonEmpty, "trainModel: empty corpus")
    require(rows.length == dim,
      s"trainModel: corpus vectors have ${rows.length} dims, declared dim=$dim")
    val thr = new Array[Float](dim)
    rows.foreach { r =>
      thr(r.getInt(0)) = (r.getFloat(1) + r.getFloat(2)) / 2f
    }
    BqModel(thr)
  }

  /** Persist as one (d, thr) parquet row per dimension. */
  def saveModel(spark: SparkSession, path: String, m: BqModel): Unit = {
    import spark.implicits._
    m.thr.indices.map(d => (d, m.thr(d))).toDF("d", "thr")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Dimension derived from the persisted rows, never trusted from
    * caller parameters (the [[PqSearch.loadCodebooks]] rule).
    */
  def loadModel(spark: SparkSession, path: String): BqModel = {
    val rows = spark.read.parquet(path).collect()
    require(rows.nonEmpty, s"loadModel: no BQ model at $path")
    val dim = rows.map(_.getInt(0)).max + 1
    require(rows.length == dim, s"loadModel: sparse BQ model at $path")
    val thr = new Array[Float](dim)
    rows.foreach(r => thr(r.getInt(0)) = r.getFloat(1))
    BqModel(thr)
  }

  /** Sign-encode one vector into packed 64-bit words (bit `d` of word
    * `d/64` set iff `v_d > thr_d`).
    */
  def encodeVec(m: BqModel, v: Array[Float]): Array[Long] = {
    require(v.length == m.dim,
      s"encode: vector has ${v.length} dims, model expects ${m.dim}")
    val out = new Array[Long](m.words)
    var d = 0
    while (d < m.dim) {
      if (v(d) > m.thr(d)) out(d / 64) |= 1L << (d % 64)
      d += 1
    }
    out
  }

  /** The coded corpus: (match_id, codes ARRAY<BIGINT>), one long per
    * 64 dims.
    */
  def encode(corpus: DataFrame, cId: String, cVec: String,
      m: BqModel): DataFrame = {
    val local = m
    val enc = udf((v: Seq[Float]) => encodeVec(local, v.toArray))
    corpus.select(col(cId).cast("long").as("match_id"), enc(col(cVec)).as("codes"))
  }

  /** BQ top-k with exact re-rank: candidates are the `numCandidates`
    * lowest-Hamming codes per query (ties by lower id), re-ranked
    * exactly on the true `metric` over full vectors — the
    * [[SqSearch.sqTopK]] contract at 1 bit per dimension. Output
    * (qId, match_id, score, rank), rank 1 best.
    */
  def bqTopK(
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      k: Int, model: BqModel, metric: String = "dot",
      numCandidates: Int = 100, maxQueries: Int = 10000): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    CodeScan.flatTopK(new Hamming(model), encode(corpus, cId, cVec, model),
      queries, qId, qVec, corpus, cId, cVec, k, metric, numCandidates,
      maxQueries, "bqTopK")
  }

  /** The XOR-popcount scan kernel: a code row's approximate score is
    * its Hamming distance to the query's sign code, lower is better
    * under every metric.
    */
  private[operators] class Hamming(m: BqModel) extends CodeKernel[Array[Long]] {
    def width: Int = m.dim
    override def ascending(metric: String): Boolean = true
    def prepare(qVecs: Array[Array[Float]], probes: Array[Array[Int]],
        metric: String): RowKernel[Array[Long]] =
      new HammingRows(qVecs.map(encodeVec(m, _)))
  }

  private final class HammingRows(qCodes: Array[Array[Long]])
      extends RowKernel[Array[Long]] {
    def score(qi: Int, cell: Int, code: Array[Long]): Double = {
      val q = qCodes(qi)
      var bits = 0
      var w = 0
      while (w < q.length) { bits += java.lang.Long.bitCount(code(w) ^ q(w)); w += 1 }
      bits.toDouble
    }
  }
}
