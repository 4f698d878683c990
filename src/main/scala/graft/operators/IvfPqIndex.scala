package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.VectorSearch.scoreF32

/** IVF-PQ: the composed at-rest ANN layout for corpora where BOTH scan
  * pruning and memory compression matter (Jégou 2011 §V; the layout
  * FAISS calls `IVFx,PQy`). Coarse IVF centroids split the corpus into
  * `nList` cells — a partition column on disk, so a probe prunes whole
  * directories at file-listing time ([[IvfSearch.writeIndex]]'s trick) —
  * and within each cell vectors are stored ONLY as PQ codes of their
  * RESIDUAL against the cell centroid (residuals are tighter clustered
  * than raw vectors, so the same codebook budget quantizes them with
  * less error). 100 TB of float32 embeddings becomes ~1.5 TB of codes.
  *
  * Query: probe nProbe cells; per (query, probed cell) one ADC lookup
  * table built from the query's residual; scan only the probed cells'
  * codes (no float vector is read); exact re-rank of the surviving
  * `numCandidates` joins the source corpus by id — at scale a
  * point-lookup join against the primary store.
  */
object IvfPqIndex extends CompressedCelledStore[Array[Int]] {

  val reservedCols: Set[String] =
    Set("id", "vec", "cell", "epoch", "codes", "v", "rv")
  protected def codeRow: Encoder[(Long, Array[Int], Int)] =
    Encoders.product[(Long, Array[Int], Int)]
  /** PQ is LOSSY (unlike SQ8's half-step error), so the radius margin
    * defaults wide.
    */
  protected def radiusMargin: Double = 0.2
  protected def codecAt(spark: SparkSession, path: String,
      centroids: Array[Array[Float]]): CodeScan[Array[Int]] =
    PqCodec(loadCodebooks(spark, path), centroids)

  private[graft] def buildIndex(corpus: DataFrame, cId: String, cVec: String,
      path: String, nList: Int, dim: => Int, payload: Seq[String]): Unit =
    writeIndex(corpus, cId, cVec, path, nList = nList, payload = payload)

  /** Residual PQ codes: a vector is coded as the PQ codes of its
    * residual against its cell centroid; decoding reconstructs centroid +
    * residual sub-centroids; the scan scores codes through one ADC lookup
    * table per (query, probed cell), built from the query's residual
    * (l2 decomposes over residual subspaces; dot(q, c + r) =
    * dot(q, c) + dot(q, r) — the LUT on q against the residual books plus
    * a per-cell constant, so scores stay comparable ACROSS cells).
    */
  private final case class PqCodec(cb: PqSearch.Codebooks,
      centroids: Array[Array[Float]]) extends CodeScan[Array[Int]] {
    def width: Int = centroids.headOption.map(_.length).getOrElse(cb.m * cb.dsub)
    def encode(v: Column, cell: Column): Column =
      PqSearch.encodeUdf(cb)(residualUdf(centroids)(v, cell))
    def decode(codes: Column, cell: Column): Column = {
      val cs = centroids; val books = cb
      udf((codes: Seq[Int], cell: Int) => {
        val base = cs(cell)
        val out = java.util.Arrays.copyOf(base, base.length)
        var s = 0
        while (s < books.m) {
          val book = books.books(s)(codes(s))
          var j = 0
          while (j < books.dsub) { out(s * books.dsub + j) += book(j); j += 1 }
          s += 1
        }
        out
      }).apply(codes, cell)
    }
    def prepare(qVecs: Array[Array[Float]], probes: Array[Array[Int]],
        metric: String): RowKernel[Array[Int]] = {
      val m = cb.m; val kCodes = cb.kCodes
      val adcMetric = if (metric == "l2") "l2" else "dot"
      val lutOf = new scala.collection.mutable.HashMap[(Int, Int), (Array[Double], Double)]
      for (qi <- qVecs.indices; cell <- probes(qi)) {
        val q = qVecs(qi)
        val base = if (adcMetric == "l2")
          Array.tabulate(width)(i => q(i) - centroids(cell)(i)) else q
        val lut = PqSearch.adcLut(base, cb, adcMetric)
        val const = if (adcMetric == "dot") scoreF32("dot", q, centroids(cell)) else 0.0
        lutOf((qi, cell)) = (lut, const)
      }
      new AdcKernel(lutOf.toMap, m, kCodes)
    }
    def save(spark: SparkSession, path: String): Unit =
      PqSearch.saveCodebooks(spark, s"$path/codebooks", cb)
  }

  private final class AdcKernel(luts: Map[(Int, Int), (Array[Double], Double)],
      m: Int, kCodes: Int) extends RowKernel[Array[Int]] {
    def score(qi: Int, cell: Int, codes: Array[Int]): Double = {
      val (lut, const) = luts((qi, cell))
      PqSearch.adcScore(lut, const, codes, m, kCodes)
    }
  }

  /** Build + persist: `path/corpus` is (id, codes) parquet partitioned
    * by `cell`; `path/centroids` and `path/codebooks` hold the trained
    * model. Codebooks train on residuals (vector − its cell centroid).
    * Stats are written LAST so their _SUCCESS implies a complete index.
    */
  def writeIndex(
      corpus: DataFrame, cId: String, cVec: String, path: String,
      nList: Int = 16, m: Int = 8, kCodes: Int = 16, iters: Int = 2,
      dim: Int = 64, payload: Seq[String] = Nil): Unit =
    writeCoded(corpus, cId, cVec, path, nList, iters, dim, payload) {
      (celled, centroids) => PqCodec(PqSearch.trainCodebooks(
        celled.select(col("id"), col("rv")), "id", "rv", m, kCodes, iters, dim),
        centroids)
    }

  /** Codebooks train on residuals: materialized with the celled rows,
    * since training scans them `iters` times.
    */
  override protected def trainingCols(centroids: Array[Array[Float]]): Seq[Column] =
    Seq(residualUdf(centroids)(col("v"), col("cell")).as("rv"))

  private def residualUdf(centroids: Array[Array[Float]]) = {
    val cs = centroids
    udf((v: Seq[Float], cell: Int) => {
      val c = cs(cell)
      Array.tabulate(v.length)(i => v(i) - c(i))
    })
  }

  /** Codebook shape is derived from the persisted rows — see
    * [[PqSearch.loadCodebooks]] (one loader for both index families).
    */
  def loadCodebooks(spark: SparkSession, path: String): PqSearch.Codebooks =
    PqSearch.loadCodebooks(spark, s"$path/codebooks")
}
