package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Binary-quantization ANN (the 1-bit-per-dimension rung below SQ8 —
  * FAISS's `IndexBinaryFlat` over sign codes; the sign-threshold form
  * of Charikar's SimHash, STOC 2002): each dimension stores ONE bit
  * (`v_d > thr_d`), so a float32 vector compresses 32× and candidate
  * scanning is XOR + popcount on machine words — the cheapest scan of
  * the whole family ladder (LSH probe cost / IVF partition pruning /
  * PQ ADC / SQ8 byte dot / BQ bit hamming), completing it at the
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
  *    with its codes; the scan is `bit_count(code XOR qcode)` — a pure
  *    codegen expression for dim ≤ 64 (single-long fast path) — into
  *    the bounded per-query heap ([[graft.functions.TopKByScore]]);
  *    survivors re-rank exactly via the shared
  *    [[PqSearch.cutAndRerank]] tail. The corpus side stays fully
  *    distributed and ships only (id, code).
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
    * `tag` — the [[PqSearch.cachedCodebooks]] contract: at most one
    * training pass per JVM per (tag, dim), persisted content-addressed
    * under the JVM tmpdir so a fresh JVM over the same corpus reloads
    * instead of retraining. Overflow evicts LRU entries only
    * ([[ModelCache]]), never unrelated tags' hot models.
    */
  def cachedModel(corpus: DataFrame, cVec: String,
      tag: String, dim: Int = 64, persist: Boolean = true): BqModel =
    modelCache.getOrElseUpdate(s"${tag}_d$dim") {
      val key = s"${tag}_d$dim"
      if (persist) {
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_bq_model_$key"
        if (!FsUtil.exists(corpus.sparkSession, s"$path/_SUCCESS"))
          saveModel(corpus.sparkSession, path, trainModel(corpus, cVec, dim))
        loadModel(corpus.sparkSession, path)
      } else trainModel(corpus, cVec, dim)
    }

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

  /** The coded corpus: (match_id, code) — one BIGINT for dim ≤ 64 (the
    * codegen fast path), ARRAY<BIGINT> beyond.
    */
  def encode(corpus: DataFrame, cId: String, cVec: String,
      m: BqModel): DataFrame = {
    val local = m
    if (m.words == 1) {
      val enc = udf((v: Seq[Float]) => encodeVec(local, v.toArray)(0))
      corpus.select(col(cId).cast("long").as("match_id"), enc(col(cVec)).as("code"))
    } else {
      val enc = udf((v: Seq[Float]) => encodeVec(local, v.toArray))
      corpus.select(col(cId).cast("long").as("match_id"), enc(col(cVec)).as("code"))
    }
  }

  private def hamming(words: Int)(code: Column, qcode: Column): Column =
    if (words == 1) bit_count(code.bitwiseXOR(qcode)).cast("double")
    else aggregate(zip_with(code, qcode, (a, b) => bit_count(a.bitwiseXOR(b))),
      lit(0), (acc, x) => acc + x).cast("double")

  /** BQ top-k with exact re-rank: candidates are the `numCandidates`
    * lowest-hamming codes per query (ties by lower id), re-ranked
    * exactly on the true `metric` over full vectors — the
    * [[SqSearch.sqTopK]] contract at 1 bit per dimension. Output
    * (qId, match_id, score, rank), rank 1 best.
    */
  def bqTopK(
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      k: Int, model: BqModel, metric: String = "dot",
      numCandidates: Int = 100, maxQueries: Int = 10000): DataFrame = {
    VectorSearch.requireNumCandidates(numCandidates)
    require(k <= numCandidates, s"k=$k exceeds numCandidates=$numCandidates")
    val spark = queries.sparkSession
    import spark.implicits._

    val coded = encode(corpus, cId, cVec, model)

    val qRows = PqSearch.collectQueries(queries, qId, qVec, maxQueries,
      numCandidates, "bqTopK").toSeq
    val qCoded =
      if (model.words == 1)
        qRows.map { case (id, q) => (id, encodeVec(model, q)(0)) }.toDF(qId, "__qcode")
      else
        qRows.map { case (id, q) => (id, encodeVec(model, q)) }.toDF(qId, "__qcode")

    val candidates = coded
      .crossJoin(broadcast(qCoded))
      .withColumn("__approx", hamming(model.words)(col("code"), col("__qcode")))
      .select(col(qId), col("match_id"), col("__approx"))

    PqSearch.cutAndRerank(candidates, queries, qId, qVec, corpus, cId, cVec,
      k, metric, numCandidates, asc = true)
  }
}
