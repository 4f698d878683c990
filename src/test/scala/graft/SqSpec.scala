package graft

import org.apache.spark.sql.functions._
import graft.operators.{SqSearch, VectorSearch}

class SqSpec extends SparkSpec {

  private lazy val emb = Tables(spark, sf, "embeddings")
  private lazy val queries = emb.filter(col("vec_id") % 10 === 0)
    .select(col("vec_id").as("qid"), col("embedding").as("qv"))

  test("sq returns k matches per query, self-match first") {
    val model = SqSearch.trainModel(emb, "embedding", dim = 64)
    val got = SqSearch.sqTopK(queries, "qid", "qv", emb, "vec_id", "embedding",
      k = 3, model = model, metric = "dot", numCandidates = 100)
      .collect()
    val byQuery = got.groupBy(_.getLong(0))
    assert(byQuery.nonEmpty)
    byQuery.foreach { case (q, rows) =>
      assert(rows.length == 3, s"query $q should have 3 matches")
      // a vector quantizes within half a step of itself per dimension,
      // so its own code tops the scan and the exact re-rank confirms it
      val rank1 = rows.minBy(_.getInt(3))
      assert(rank1.getLong(1) == q, s"query $q rank1=${rank1.getLong(1)}")
    }
  }

  test("sq recall vs exact top-k is high (byte resolution, flat scan)") {
    val model = SqSearch.trainModel(emb, "embedding", dim = 64)
    val exact = VectorSearch.topKFlat(queries, "qid", "qv", emb, "vec_id",
        "embedding", k = 3, metric = "dot")
      .select("qid", "match_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = SqSearch.sqTopK(queries, "qid", "qv", emb, "vec_id", "embedding",
        k = 3, model = model, metric = "dot", numCandidates = 100)
      .select("qid", "match_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    // SQ8 resolves each dim to 1/255 of its range — far finer than PQ's
    // 16 cells per 8-dim subspace — so flat-scan recall should be
    // near-exact, not merely "reasonable"
    assert(recall >= 0.9, s"recall $recall too low for SQ8")
  }

  test("training is deterministic across partitionings; encode round-trips bounds") {
    val a = SqSearch.trainModel(emb, "embedding", dim = 64)
    val b = SqSearch.trainModel(emb.repartition(7), "embedding", dim = 64)
    assert(a.lo.sameElements(b.lo) && a.hi.sameElements(b.hi))
    // corpus extremes encode to the range edges exactly
    val v = a.lo.clone()
    assert(SqSearch.encodeVec(a, v).forall(_ == 0))
    val hiCodes = SqSearch.encodeVec(a, a.hi.clone())
    hiCodes.indices.foreach { d =>
      // degenerate dims (hi == lo) encode 0 by contract; others saturate
      val want = if (a.hi(d) == a.lo(d)) 0 else 255
      assert((hiCodes(d) & 0xff) == want, s"dim $d: ${hiCodes(d) & 0xff}")
    }
    // out-of-bounds values clamp, never wrap
    val overCodes = SqSearch.encodeVec(a, a.hi.map(_ + 10f))
    overCodes.indices.foreach { d =>
      val want = if (a.hi(d) == a.lo(d)) 0 else 255
      assert((overCodes(d) & 0xff) == want)
    }
    val under = a.lo.map(_ - 10f)
    assert(SqSearch.encodeVec(a, under).forall(_ == 0))
  }

  test("save/load round-trips the model; shape derived from rows") {
    val m = SqSearch.trainModel(emb, "embedding", dim = 64)
    val dir = java.nio.file.Files.createTempDirectory("sq_model").toString
    SqSearch.saveModel(spark, s"$dir/m", m)
    val r = SqSearch.loadModel(spark, s"$dir/m")
    assert(r.dim == 64)
    assert(r.lo.sameElements(m.lo) && r.hi.sameElements(m.hi))
  }

  test("cachedModel trains once per tag (train-once/serve-many)") {
    val before = SqSearch.trainInvocations.get()
    val tag = s"sqspec_${System.nanoTime()}"
    val a = SqSearch.cachedModel(emb, "vec_id", "embedding", tag, persist = false)
    val mid = SqSearch.trainInvocations.get()
    assert(mid == before + 1)
    val b = SqSearch.cachedModel(emb, "vec_id", "embedding", tag, persist = false)
    assert(SqSearch.trainInvocations.get() == mid, "second lookup must not retrain")
    assert(a.lo.sameElements(b.lo))
  }

  test("coded corpus is bytes: dim bytes per vector at rest") {
    val m = SqSearch.trainModel(emb, "embedding", dim = 64)
    val coded = SqSearch.encode(emb, "vec_id", "embedding", m)
    assert(coded.schema("codes").dataType ==
      org.apache.spark.sql.types.BinaryType)
    val row = coded.head()
    assert(row.getAs[Array[Byte]]("codes").length == 64)
  }

  test("l2 metric scans on dequantized distance and re-ranks exactly") {
    val model = SqSearch.trainModel(emb, "embedding", dim = 64)
    val got = SqSearch.sqTopK(queries.limit(5), "qid", "qv", emb, "vec_id",
      "embedding", k = 3, model = model, metric = "l2", numCandidates = 100)
      .collect()
    got.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      val rank1 = rows.minBy(_.getInt(3))
      assert(rank1.getLong(1) == q, s"l2 self-match failed for query $q")
      assert(rank1.getDouble(2) == 0.0, "self L2 distance must be exactly 0")
    }
  }

  test("ivf-sq persisted index: recall-sound probe, partition-pruned, " +
      "payload filter and tombstones honored, appends searchable") {
    import spark.implicits._
    import graft.operators.IvfSqIndex
    val corpus = emb.filter(col("vec_id") < 300)
    val path = java.nio.file.Files.createTempDirectory("graft_ivfsq").toString
    IvfSqIndex.writeIndex(corpus.filter(col("vec_id") < 200),
      "vec_id", "embedding", path, nList = 4, payload = Seq("label"))
    val qs = corpus.filter(col("vec_id") % 20 === 0 && col("vec_id") < 200)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    // full probe + generous candidates: the exact re-rank makes the
    // serve equal the exact top-k (SQ8 is near-exact, the shortlist
    // covers the true neighbors)
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "match_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val got = hits(IvfSqIndex.searchIndex(spark, path, qs, "qid", "qv",
      corpus, "vec_id", "embedding", k = 3, metric = "dot",
      nProbe = 4, numCandidates = 200))
    val exact = hits(VectorSearch.topKFlat(qs, "qid", "qv",
      corpus.filter(col("vec_id") < 200), "vec_id", "embedding",
      k = 3, metric = "dot"))
    assert(got == exact && exact.nonEmpty,
      "full-probe ivf-sq serve diverged from the exact top-k")
    // partition pruning: a 1-cell probe lists one cell directory
    val plan = IvfSqIndex.searchIndex(spark, path,
      qs.limit(1), "qid", "qv", corpus, "vec_id", "embedding",
      k = 1, metric = "dot", nProbe = 1, numCandidates = 50)
    val scan = plan.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.requiredSchema.fieldNames.contains("codes") => f
    }.head
    assert(scan.selectedPartitions.partitionCount == 1,
      s"probe pruning lost: ${scan.selectedPartitions.partitionCount}")
    // payload filter: only admitted ids may serve
    val admitted = corpus.filter(col("vec_id") < 200 && col("label") % 4 === 1)
      .select("vec_id").as[Long].collect().toSet
    hits(IvfSqIndex.searchIndex(spark, path, qs, "qid", "qv",
      corpus, "vec_id", "embedding", k = 3, metric = "dot",
      nProbe = 4, numCandidates = 200, filter = col("label") % 4 === 1))
      .values.flatten.foreach(m =>
        assert(admitted(m), s"non-admitted id $m served"))
    // append (payload contract enforced) + delete + compaction heal
    intercept[IllegalArgumentException] {
      IvfSqIndex.appendToIndex(
        corpus.filter(col("vec_id") >= 200).select("vec_id", "embedding"),
        "vec_id", "embedding", path, epoch = 1L)
    }
    IvfSqIndex.appendToIndex(
      corpus.filter(col("vec_id") >= 200).select("vec_id", "embedding", "label"),
      "vec_id", "embedding", path, epoch = 1L)
    val q210 = corpus.filter(col("vec_id") === 210)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    assert(hits(IvfSqIndex.searchIndex(spark, path, q210, "qid", "qv",
      corpus, "vec_id", "embedding", k = 1, metric = "cosine",
      nProbe = 4, numCandidates = 50)) == Map(210L -> Set(210L)),
      "appended vector not searchable")
    IvfSqIndex.deleteFromIndex(spark, path,
      Seq(210L).toDF("vec_id"), "vec_id")
    assert(hits(IvfSqIndex.searchIndex(spark, path, q210, "qid", "qv",
      corpus, "vec_id", "embedding", k = 1, metric = "cosine",
      nProbe = 4, numCandidates = 50)) != Map(210L -> Set(210L)),
      "tombstoned id still serves")
    IvfSqIndex.compactIndex(spark, path)
    assert(!graft.operators.Tombstones.exists(spark, path))
    assert(!spark.read.parquet(s"$path/corpus").select("id")
      .as[Long].collect().contains(210L), "dead row survived compaction")
  }

  test("ivfSqCdcStream: delete + payload-carrying upsert, serve follows") {
    import spark.implicits._
    import graft.operators.IvfSqIndex
    val path = java.nio.file.Files.createTempDirectory("graft_ivfsq_cdc").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft_ivfsq_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ivfsq_ck").toString
    IvfSqIndex.writeIndex(emb.filter(col("vec_id") < 100),
      "vec_id", "embedding", path, nList = 4, payload = Seq("label"))
    val schema = emb.select(col("vec_id"), col("embedding"), col("label")).schema
    emb.filter(col("vec_id") === 0)
      .select(col("vec_id"),
        lit(null).cast(schema("embedding").dataType).as("embedding"),
        lit(null).cast(schema("label").dataType).as("label"))
      .unionByName(emb.filter(col("vec_id") === 300)
        .select(lit(50L).as("vec_id"), col("embedding"),
          lit(999).cast(schema("label").dataType).as("label")))
      .write.mode("overwrite").parquet(srcDir)
    graft.streaming.Streams.cdcStream(graft.operators.IvfSqIndex,
      graft.streaming.Streams.fileStream(spark, srcDir, schema),
      "vec_id", "embedding", path, ckpt).awaitTermination()
    def serve(qid: Long, vecOf: Long, f: org.apache.spark.sql.Column): Seq[Long] =
      IvfSqIndex.searchIndex(spark, path,
          emb.filter(col("vec_id") === vecOf)
            .select(lit(qid).as("qid"), col("embedding").as("qv")),
          "qid", "qv", emb, "vec_id", "embedding", k = 1,
          metric = "cosine", nProbe = 4, numCandidates = 50, filter = f)
        .select("match_id").as[Long].collect().toSeq
    assert(serve(0L, 0L, lit(true)) != Seq(0L), "tombstoned id still serves")
    assert(serve(50L, 300L, col("label") === 999L) == Seq(50L),
      "upsert's vector+payload did not reach the filtered serve")
  }
}
