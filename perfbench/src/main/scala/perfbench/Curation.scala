package perfbench

import scala.util.Random

import org.apache.spark.sql.functions.{col, sum}

import graft.Tables
import graft.functions.TextOps
import graft.operators.{Corpus, Dedup}

/** The ingest half of `maintain_cdc`: a seeded `documents.parquet` with
  * planted exact duplicates, near duplicates, benchmark contamination and
  * low-quality documents goes through one batch curation job — load
  * through `graft.Tables`, quality gate, repetition and token-count gates,
  * exact and MinHash dedup, n-gram decontamination, and a parquet write of
  * the survivors, which become the searched corpus.
  */
final class Curation(ctx: Ctx) {
  import Curation._
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private val originals = ctx.size(150, 800)
  private val r = new Random(ctx.seed * 17 + 3)
  val vocab: Vector[String] = Gen.vocabulary(r, 600)

  /** The generated corpus and what was planted in it. */
  private val (docs, evalDocs, planted, junk, kept) = {
    val base = (0 until originals).map(i => (i.toLong, Gen.document(r, vocab, 40 + r.nextInt(40))))
    val evalSet = (0 until EvalDocs).map(i => (100000L + i, Gen.document(r, vocab, 40)))
    var id = originals.toLong
    def fresh() = { id += 1; id - 1 }
    val share = (s: Double) => math.max(1, (originals * s).toInt)
    val origIds = r.shuffle(base.map(_._1))
    val (exactSrc, rest) = origIds.splitAt(share(ExactShare))
    val nearSrc = rest.take(share(NearShare))
    val text = base.toMap
    val exactCopies = exactSrc.map(s => (fresh(), "  " + text(s).toUpperCase + " "))
    val nearCopies = nearSrc.map(s => (fresh(), Gen.nearCopy(r, text(s), vocab, 2)))
    // a contaminated document carries a 12-word span of a benchmark item
    val contaminated = (0 until share(ContaminatedShare)).map { _ =>
      val e = evalSet(r.nextInt(evalSet.size))._2.split(" ")
      val at = r.nextInt(e.length - 12)
      (fresh(), Gen.document(r, vocab, 30) + " " + e.slice(at, at + 12).mkString(" "))
    }
    val junkDocs = (0 until share(JunkShare)).map(_ => (fresh(), Gen.junk(r, vocab)))
    (r.shuffle(base ++ exactCopies ++ nearCopies ++ contaminated ++ junkDocs), evalSet,
      (exactCopies ++ nearCopies ++ contaminated).map(_._1).toSet,
      junkDocs.map(_._1).toSet, base.map(_._1).toSet)
  }
  val text: Map[Long, String] = docs.toMap

  private var dir: String = _
  var scanPartitions = 0.0

  private def output = s"$dir/curated.parquet"

  /** Writes the inputs, runs the job and returns the surviving ids. */
  def run(): Set[Long] = {
    dir = ctx.freshDir("documents")
    tr.span("tables.write") {
      spark.createDataFrame(docs).toDF("doc_id", "text").coalesce(1)
        .write.parquet(s"$dir/documents.parquet")
      spark.createDataFrame(evalDocs).toDF("doc_id", "text").coalesce(1)
        .write.parquet(s"$dir/benchmark.parquet")
    }
    val loaded = tr.span("tables.scan")(Tables(spark, dir, "documents"))
    scanPartitions = loaded.rdd.getNumPartitions.toDouble
    val gated = tr.span("curation.gate")(
      loaded.filter(TextOps.curationGate(col("text"))).localCheckpoint())
    val repOk = tr.span("curation.repetition") {
      val rep = Corpus.ngramRepetition(gated, "doc_id", "text", ns = Seq(2))
        .filter((col("total") - col("n_distinct")) * 25 <= col("total") * 2)
        .select(col("id"))
      val tokens = Corpus.docTokenCounts(gated, "doc_id", "text")
        .groupBy("id").agg(sum(col("cnt")).as("n_tok"))
        .filter(col("n_tok") >= MinTokens).select(col("id"))
      gated.join(rep.join(tokens, "id").withColumnRenamed("id", "doc_id"), "doc_id")
        .localCheckpoint()
    }
    val deduped = tr.span("curation.dedup") {
      val exact = Dedup.exact(repOk, "doc_id", "text")
      val near = Dedup.minhashPairs(exact, "doc_id", "text", threshold = NearThreshold)
        .select(col("id2").as("doc_id")).distinct()
      exact.join(near, Seq("doc_id"), "left_anti").localCheckpoint()
    }
    tr.span("curation.decontam") {
      val bench = spark.read.parquet(s"$dir/benchmark.parquet")
      val flagged = Corpus.contamination(deduped, bench, "doc_id", "text", n = 4, minShared = 1)
        .select(col("id").as("doc_id"))
      deduped.join(flagged, Seq("doc_id"), "left_anti").select("doc_id", "text")
        .write.parquet(output)
    }
    survivors()
  }

  /** The ids the job must keep: every original, and nothing planted. */
  def expected: Set[Long] = kept

  def survivors(): Set[Long] =
    spark.read.parquet(output).select("doc_id").collect().map(_.getLong(0)).toSet

  /** No planted copy, contaminated or low-quality document survived, and every original did. */
  def check(): Seq[String] = {
    val alive = survivors()
    Checks.noneSurvive("planted duplicate or contaminated document(s)", alive, planted) ++
      Checks.noneSurvive("low-quality document(s)", alive, junk) ++
      Checks.allSurvive("original document(s)", alive, kept)
  }

  def corrupt(): Unit =
    spark.createDataFrame(Seq((planted.min, "forged"))).toDF("doc_id", "text")
      .write.mode("append").parquet(output)

  def delete(): Unit = if (dir != null) Workload.deleteRecursively(new java.io.File(dir))
}

object Curation {
  val EvalDocs = 40
  val ExactShare = 0.05
  val NearShare = 0.05
  val ContaminatedShare = 0.03
  val JunkShare = 0.05
  val MinTokens = 20
  val NearThreshold = 0.7
}
