package graft.operators

import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.operators.VectorSearch.scoreF32

/** The one quantized shortlist ([[CodeScan.topK]]) against a driver-side
  * brute force, for every family that serves through it: in-flight PQ,
  * SQ and BQ, and IVF-PQ / IVF-SQ probing every cell. The reference
  * applies the codec's kernel to every code row, orders by (score, id)
  * and cuts at `numCandidates`, then re-ranks exactly and cuts at k.
  * Generated corpora repeat their vectors on a coarse grid, so both the
  * approximate and the exact scores tie and the lower id must win; the
  * widths cross 64, so BQ codes span one, two and three words.
  */
class ShortlistParitySpec extends SparkSpec {
  import spark.implicits._

  private def sample[T](g: Gen[T], seed: Long): T =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  /** Vectors on a nonzero grid of quarters: exact float arithmetic, and
    * no zero vector (cosine stays defined).
    */
  private def vecGen(dim: Int): Gen[Seq[Float]] =
    Gen.listOfN(dim, Gen.oneOf((-4 to 4).filter(_ != 0)).map(_ / 4f))

  private final case class Case(dim: Int, metric: String, k: Int,
      numCandidates: Int, corpus: Seq[(Long, Seq[Float])],
      queries: Seq[(Long, Seq[Float])])

  /** `n` rows drawn from n/4 distinct vectors under shuffled ids, and
    * four queries: two copies of corpus vectors, two fresh.
    */
  private def caseGen(dim: Int, metric: String): Gen[Case] = for {
    n <- Gen.choose(60, 100)
    distinct <- Gen.listOfN(n / 4, vecGen(dim))
    picks <- Gen.listOfN(n, Gen.choose(0, n / 4 - 1))
    ids <- Gen.pick(n, 0L until 1000L)
      .map(xs => new scala.util.Random(xs.sum).shuffle(xs.toSeq))
    fresh <- Gen.listOfN(2, vecGen(dim))
    k <- Gen.choose(1, 5)
    numCandidates <- Gen.choose(k + 1, n / 2)
  } yield {
    val corpus = ids.zip(picks.map(distinct))
    Case(dim, metric, k, numCandidates, corpus,
      (Seq(corpus.head._2, corpus.last._2) ++ fresh).zipWithIndex
        .map { case (v, i) => (100L + i, v) })
  }

  /** TopKHeap's order: the better score, then the lower id. */
  private def best(xs: Seq[(Long, Double)], asc: Boolean, n: Int): Seq[(Long, Double)] =
    xs.sortWith { case ((i1, s1), (i2, s2)) =>
      if (s1 != s2) { if (asc) s1 < s2 else s1 > s2 } else i1 < i2
    }.take(n)

  private def bruteForce[C](c: Case, kernel: CodeKernel[C],
      rows: Seq[(Long, C, Int)], cells: Array[Int]): Seq[(Long, Long, Double, Int)] = {
    val qVecs = c.queries.map(_._2.toArray).toArray
    val probes = Array.fill(qVecs.length)(cells)
    val rowKernel = kernel.prepare(qVecs, probes, c.metric)
    val vecs = c.corpus.map { case (id, v) => id -> v.toArray }.toMap
    c.queries.zipWithIndex.flatMap { case ((qid, _), qi) =>
      val approx = rows.map { case (id, code, cell) =>
        (id, rowKernel.score(qi, cell, code)) }
      val shortlist = best(approx, kernel.ascending(c.metric), c.numCandidates)
      val exact = shortlist.map { case (id, _) =>
        (id, scoreF32(c.metric, qVecs(qi), vecs(id))) }
      best(exact, c.metric == "l2", c.k).zipWithIndex.map { case ((id, s), r) =>
        (qid, id, s, r + 1) }
    }.sortBy(r => (r._1, r._4))
  }

  private def served(df: DataFrame): Seq[(Long, Long, Double, Int)] =
    df.select("qid", "match_id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq.sortBy(r => (r._1, r._4))

  private val cases = Seq((16, "dot", 11L), (72, "l2", 12L), (136, "cosine", 13L))

  for ((dim, metric, seed) <- cases)
    test(s"served top-k equals the brute-force shortlist: dim $dim, $metric") {
      val c = sample(caseGen(dim, metric), seed)
      val corpus = c.corpus.toDF("id", "v")
      val queries = c.queries.toDF("qid", "qv")
      def check[C](family: String, serve: DataFrame, kernel: CodeKernel[C],
          rows: Seq[(Long, C, Int)], cells: Array[Int]): Unit =
        assert(served(serve) == bruteForce(c, kernel, rows, cells),
          s"$family diverged from the brute force (k=${c.k}, " +
            s"numCandidates=${c.numCandidates})")

      val cb = PqSearch.trainCodebooks(corpus, "id", "v", m = 8, kCodes = 8,
        iters = 1, dim = dim)
      check("pq", PqSearch.pqTopK(queries, "qid", "qv", corpus, "id", "v", c.k,
          cb, metric, c.numCandidates, 100),
        new PqSearch.Adc(cb, Array.empty),
        PqSearch.encode(corpus, "id", "v", cb).as[(Long, Array[Int])].collect()
          .toSeq.map { case (id, code) => (id, code, 0) }, Array(0))

      val sq = SqSearch.trainModel(corpus, "v", dim)
      check("sq", SqSearch.sqTopK(queries, "qid", "qv", corpus, "id", "v", c.k,
          sq, metric, c.numCandidates, 100),
        new SqSearch.Affine(sq),
        c.corpus.map { case (id, v) => (id, SqSearch.encodeVec(sq, v.toArray), 0) },
        Array(0))

      val bq = BqSearch.trainModel(corpus, "v", dim)
      check("bq", BqSearch.bqTopK(queries, "qid", "qv", corpus, "id", "v", c.k,
          bq, metric, c.numCandidates, 100),
        new BqSearch.Hamming(bq),
        c.corpus.map { case (id, v) => (id, BqSearch.encodeVec(bq, v.toArray), 0) },
        Array(0))

      val nList = 4
      val all = (0 until nList).toArray
      val pqPath = java.nio.file.Files.createTempDirectory("graft_parity_pq").toString
      IvfPqIndex.writeIndex(corpus, "id", "v", pqPath, nList = nList, m = 8,
        kCodes = 8, iters = 1, dim = dim)
      check("ivfpq", IvfPqIndex.searchIndex(spark, pqPath, queries, "qid", "qv",
          corpus, "id", "v", c.k, metric, nProbe = nList,
          numCandidates = c.numCandidates),
        new PqSearch.Adc(IvfPqIndex.loadCodebooks(spark, pqPath),
          IvfPqIndex.loadCentroids(spark, pqPath)),
        FsUtil.readStore(spark, s"$pqPath/corpus").select("id", "codes", "cell")
          .as[(Long, Array[Int], Int)].collect().toSeq, all)

      val sqPath = java.nio.file.Files.createTempDirectory("graft_parity_sq").toString
      IvfSqIndex.writeIndex(corpus, "id", "v", sqPath, nList = nList, iters = 1,
        dim = dim)
      check("ivfsq", IvfSqIndex.searchIndex(spark, sqPath, queries, "qid", "qv",
          corpus, "id", "v", c.k, metric, nProbe = nList,
          numCandidates = c.numCandidates),
        new SqSearch.Affine(SqSearch.loadModel(spark, s"$sqPath/sqmodel")),
        FsUtil.readStore(spark, s"$sqPath/corpus").select("id", "codes", "cell")
          .as[(Long, Array[Byte], Int)].collect().toSeq, all)
    }
}
