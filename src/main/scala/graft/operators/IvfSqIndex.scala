package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-SQ: the celled at-rest layout with SCALAR-quantized codes —
  * FAISS's `IVFx,SQ8` (Jégou's coarse pruning + an 8-bit per-dimension
  * affine code instead of PQ's subspace centroids). The middle point of
  * the at-rest memory/accuracy ladder: 4× smaller than raw float32 and
  * near-exact (per-dimension quantization error only), where IVF-PQ is
  * ~32× smaller and lossy. Same `corpus/cell=/epoch=` layout as
  * [[IvfSearch]]/[[IvfPqIndex]], so compaction, deletion (tombstones),
  * and payload-filtered serving are the SHARED machinery, not copies.
  *
  * Codes quantize the RAW vectors against one global per-dimension
  * [lo, hi] model (FAISS `by_residual=false`): one model serves every
  * cell, appends encode with zero training, and the dot-metric scan
  * decomposes affinely — approx(q, code) = Σ q·lo + Σ (q·Δ/255)·code —
  * so serving never dequantizes into floats.
  */
object IvfSqIndex extends CompressedCelledStore[Array[Byte]] {

  val reservedCols: Set[String] = Set("id", "vec", "cell", "epoch", "codes", "v")
  protected def codeRow: Encoder[(Long, Array[Byte], Int)] =
    Encoders.product[(Long, Array[Byte], Int)]
  /** Absorbs the SQ8 half-step quantization error, so near-boundary
    * vectors aren't lost to rounding in the radius pre-pass.
    */
  protected def radiusMargin: Double = 0.05
  protected def codecAt(spark: SparkSession, path: String,
      centroids: Array[Array[Float]]): CodeScan[Array[Byte]] =
    SqCodec(SqSearch.loadModel(spark, s"$path/sqmodel"))

  private[graft] def buildIndex(corpus: DataFrame, cId: String, cVec: String,
      path: String, nList: Int, dim: => Int, payload: Seq[String]): Unit =
    writeIndex(corpus, cId, cVec, path, nList = nList, dim = dim,
      payload = payload)

  /** SQ8 codes over the raw vector (out-of-range values saturate — the
    * SQ clamp rule). Decoding dequantizes ([[SqSearch.decodeVec]] — the
    * affine raw-dot decomposition can't bound cosine/l2 thresholds); the
    * scan is [[SqSearch.sqTopK]]'s per-query affine kernel: dot ->
    * (const, w), l2 compares against the dequantized value directly.
    *
    * Metric contract (the [[SqSearch.sqTopK]] family rule): "cosine"
    * SELECTS candidates by raw dot over the affine codes and re-ranks
    * the survivors with true cosine — on an UNNORMALIZED corpus the
    * shortlist is biased toward large-norm vectors, so either normalize
    * stored/query vectors or widen `numCandidates`. Only "l2" switches
    * the scan itself; every other metric scans affinely on dot.
    */
  private final case class SqCodec(m: SqSearch.SqModel)
      extends CodeScan[Array[Byte]] {
    def width: Int = m.dim
    def encode(v: Column, cell: Column): Column = SqSearch.encodeUdfOf(m)(v)
    def decode(codes: Column, cell: Column): Column = SqSearch.decodeUdfOf(m)(codes)
    def prepare(qVecs: Array[Array[Float]], probes: Array[Array[Int]],
        metric: String): RowKernel[Array[Byte]] =
      new AffineKernel(qVecs.map(SqSearch.affinePrep(_, m, metric == "l2")), m,
        metric == "l2")
    def save(spark: SparkSession, path: String): Unit =
      SqSearch.saveModel(spark, s"$path/sqmodel", m)
  }

  private final class AffineKernel(qs: Array[(Double, Array[Double])],
      model: SqSearch.SqModel, l2: Boolean) extends RowKernel[Array[Byte]] {
    def score(qi: Int, cell: Int, codes: Array[Byte]): Double =
      SqSearch.affineScore(qs(qi), codes, model, l2)
  }

  /** Build + persist: `path/corpus` is (id, codes BINARY[, payload])
    * parquet partitioned by (cell, epoch); `path/centroids` and
    * `path/sqmodel` hold the trained coarse cells and the per-dimension
    * bounds. Stats are written LAST (build-complete marker, the
    * [[IvfPqIndex.writeIndex]] rule).
    */
  def writeIndex(
      corpus: DataFrame, cId: String, cVec: String, path: String,
      nList: Int = 16, iters: Int = 2, dim: Int = 64,
      payload: Seq[String] = Nil): Unit =
    writeCoded(corpus, cId, cVec, path, nList, iters, dim, payload) {
      (celled, _) => SqCodec(SqSearch.trainModel(celled, "v", dim))
    }
}
