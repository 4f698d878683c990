package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.pipeline.Rag
import graft.streaming.Streams

class StreamingSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("streaming rag (availableNow) equals the batch pipeline") {
    val src = tmp("graft_q_src")
    val out = tmp("graft_q_out")
    val ckpt = tmp("graft_q_ckpt")
    // "produce to the topic": two parquet files arriving
    val questions = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text").as("content"))
    questions.filter(col("doc_id") % 2 === 0).write.parquet(s"$src/f0")
    questions.filter(col("doc_id") % 2 === 1).write.parquet(s"$src/f1")

    val corpus = Tables(spark, sf, "embeddings")
    val q = Streams.ragStream(spark, s"$src/*", questions.schema, corpus, out, ckpt)
    q.awaitTermination(120000)

    val streamed = spark.read.parquet(out)
      .select("doc_id", "content", "prompt", "json_response")
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val batch = Rag.e2e(spark, sf)
      .select("doc_id", "content", "prompt", "json_response")
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming hybrid search (availableNow) equals batch hybridTopK") {
    val src = tmp("graft_hy_src")
    val out = tmp("graft_hy_out")
    val ckpt = tmp("graft_hy_ckpt")
    val questions = Tables(spark, sf, "documents")
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text").as("content"))
    // arrive in two files across micro-batches
    questions.filter(col("doc_id") % 20 === 0).write.parquet(s"$src/f0")
    questions.filter(col("doc_id") % 20 =!= 0).write.parquet(s"$src/f1")

    val registry = graft.model.Models.default()
    val corpus = Tables(spark, sf, "documents")
      .select(col("doc_id").as("cid"), col("text").as("ctext"))
      .withColumn("cvec", registry.mlPredict(
        graft.model.Models.VectorEncoding, col("ctext")))
    val q = Streams.hybridSearchStream(spark, s"$src/*", questions.schema,
      corpus, "cid", "cvec", "ctext", out, ckpt)
    q.awaitTermination(120000)

    val streamed = spark.read.parquet(out)
      .select("query_id", "match_id", "rrf_rank")
      .orderBy("query_id", "rrf_rank").collect().map(_.toString).toSeq
    val batch = graft.operators.Lexical.hybridTopK(
        Rag.embedQuestions(questions, "content"), "doc_id", "vector",
        "content", corpus, "cid", "cvec", "ctext", Rag.K, metric = "dot")
      .orderBy("query_id", "rrf_rank").collect().map(_.toString).toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming retrieval eval (availableNow) equals batch metrics") {
    val src = tmp("graft_re_src")
    val out = tmp("graft_re_out")
    val ckpt = tmp("graft_re_ckpt")
    val emb = Tables(spark, sf, "embeddings")
    val queries = emb.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("label").as("qlab"))
    queries.filter(col("query_id") % 50 === 0).write.parquet(s"$src/f0")
    queries.filter(col("query_id") % 50 =!= 0).write.parquet(s"$src/f1")

    val q = Streams.retrievalEvalStream(spark, s"$src/*", queries.schema,
      emb, "vec_id", "embedding", "label", out, ckpt)
    q.awaitTermination(120000)

    val cols = Seq("query_id", "n_rel_at_k", "prec_at_k", "recall_at_k",
      "mrr", "ndcg")
    val streamed = spark.read.parquet(out)
      .select(cols.map(col): _*)
      .orderBy("query_id").collect().map(_.toString).toSeq
    val batch = graft.operators.RetrievalEval.evalLabelRetrieval(queries,
        "query_id", "qv", "qlab", emb, "vec_id", "embedding", "label", 10)
      .select(cols.map(col): _*)
      .orderBy("query_id").collect().map(_.toString).toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming tumbling counts (complete mode) equal batch aggregation") {
    val events = Tables(spark, sf, "events")
    val src = tmp("graft_ev_src")
    events.write.parquet(s"$src/all")

    val stream = Streams.tumblingCounts(
      Streams.fileStream(spark, s"$src/*", events.schema))
    val q = stream.writeStream
      .format("memory").queryName("tumbling_test").outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("tumbling_test")
      .orderBy("hour", "event_type").collect().map(_.toString).toSeq
    val batch = Streams.tumblingCounts(events)
      .orderBy("hour", "event_type").collect().map(_.toString).toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming sessionization (complete mode) equals batch session windows") {
    val events = Tables(spark, sf, "events")
    val src = tmp("graft_se_src")
    events.write.parquet(s"$src/all")

    val stream = Streams.sessionCounts(
      Streams.fileStream(spark, s"$src/*", events.schema))
    val q = stream.writeStream
      .format("memory").queryName("session_test").outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("session_test")
      .orderBy("user_id", "session_start").collect().map(_.toString).toSeq
    val batch = Streams.sessionCounts(events)
      .orderBy("user_id", "session_start").collect().map(_.toString).toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("stream-stream interval join (append) equals the batch twin") {
    val events = Tables(spark, sf, "events")
    val src = tmp("graft_ssj_src")
    events.write.parquet(s"$src/all")
    def left(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("event_type") === "purchase")
    def right(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("event_type") === "view")

    val stream = Streams.intervalJoinStream(
      left(Streams.fileStream(spark, s"$src/*", events.schema)),
      right(Streams.fileStream(spark, s"$src/*", events.schema)),
      "user_id")
    val q = stream.writeStream
      .format("memory").queryName("ssj_test").outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("ssj_test")
      .orderBy("left_id", "right_id").collect().map(_.toString).toSeq
    // batch twin: same join condition on static frames
    val l = left(events).select(col("user_id").as("k"),
      col("ts").as("lts"), col("event_id").as("left_id"))
    val r = right(events).select(col("user_id").as("rk"),
      col("ts").as("rts"), col("event_id").as("right_id"))
    val batch = l.join(r, col("k") === col("rk") &&
        col("rts") >= col("lts") - expr("INTERVAL 30 minutes") &&
        col("rts") <= col("lts"))
      .select(col("k").as("user_id"), col("left_id"), col("right_id"),
        col("lts"), col("rts"))
      .orderBy("left_id", "right_id").collect().map(_.toString).toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming sliding windows (complete mode) equal batch aggregation") {
    val events = Tables(spark, sf, "events")
    val src = tmp("graft_slide_src")
    events.write.parquet(s"$src/all")

    val stream = Streams.slidingCounts(
      Streams.fileStream(spark, s"$src/*", events.schema))
    val q = stream.writeStream
      .format("memory").queryName("sliding_test").outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("sliding_test")
      .orderBy("win_start", "event_type").collect().map(_.toString).toSeq
    val batch = Streams.slidingCounts(events)
      .orderBy("win_start", "event_type").collect().map(_.toString).toSeq
    assert(streamed == batch)
    // each event lands in size/slide = 4 overlapping windows: more rows
    // than the tumbling form over the same data
    assert(streamed.nonEmpty)
  }

  test("watermark drops late data in append mode (the retention bound)") {
    import java.sql.Timestamp
    import spark.implicits._
    val src = tmp("graft_late_src")
    def ts(s: String) = Timestamp.valueOf(s)
    // batch 1: on-time events 10:00-12:30 -> watermark advances to 11:30
    val ckpt = tmp("graft_late_ckpt")
    val outDir = tmp("graft_late_out") + "/out"
    // two separate availableNow RUNS over one checkpoint: the watermark
    // from run 1 is restored for run 2, so batch composition can't race
    // (file sink, not memory — memory can't recover from a checkpoint)
    def runOnce(): Unit = {
      val schema = spark.read.parquet(s"$src/a").schema
      val stream = spark.readStream.schema(schema).parquet(s"$src/*")
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").cast("long").as("hour"), col("n"))
      val q = stream.writeStream
        .format("parquet").outputMode("append")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    // run 1: on-time events 10:00-12:30 -> watermark persists at 11:30
    Seq((1L, ts("2024-01-01 10:10:00"), 1.0),
      (2L, ts("2024-01-01 10:20:00"), 1.0),
      (3L, ts("2024-01-01 12:30:00"), 1.0))
      .toDF("event_id", "ts", "value").coalesce(1).write.parquet(s"$src/a")
    runOnce()
    // run 2: a LATE event at 10:15 — beyond the restored watermark, dropped
    Seq((4L, ts("2024-01-01 10:15:00"), 1.0))
      .toDF("event_id", "ts", "value").coalesce(1).write.parquet(s"$src/b")
    runOnce()

    val got = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val hour10 = java.time.LocalDateTime.parse("2024-01-01T10:00:00")
      .toEpochSecond(java.time.ZoneOffset.UTC)
    // the 10:00 window finalized with 2 events; the late 4th never counted
    assert(got(hour10) == 2L, s"got=$got")
  }

  test("curation transforms run unchanged on a stream (one impl, two drivers)") {
    import graft.functions.TextOps
    import graft.operators.Corpus
    val docs = Tables(spark, sf, "documents")
    val src = tmp("graft_cur_src")
    docs.write.parquet(s"$src/all")
    // the same narrow-map pipeline: quality score + PII redact + hash sample
    def curate(df: org.apache.spark.sql.DataFrame) =
      Corpus.stratifiedSample(df, "doc_id", "source",
        rates = Map("src0" -> 1.0), defaultRate = 0.5)
        .select(col("doc_id"),
          TextOps.qualityScore(col("text")).as("quality"),
          Corpus.redactPii(col("text")).as("clean"))
    val q = curate(Streams.fileStream(spark, s"$src/*", docs.schema))
      .writeStream
      .format("memory").queryName("curation_test").outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("curation_test")
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val batch = curate(docs).orderBy("doc_id").collect().map(_.toString).toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming curation filter: gate + cross-epoch exact dedup") {
    import spark.implicits._
    val src = tmp("graft_cur_src")
    val out = tmp("graft_cur_out")
    val store = tmp("graft_cur_store")
    val ckpt = tmp("graft_cur_ckpt")
    // 25 words with stopword hits and 3-10 mean word length → passes the
    // gate; `tag` differentiates documents
    def good(tag: String): String =
      s"the quick fox is $tag " + (1 to 20).map(i => s"word$i").mkString(" ")
    def schema = spark.read.parquet(s"$src/a").schema
    def runOnce(): Unit = {
      val q = Streams.curationFilterStream(spark, s"$src/*", schema,
        "id", "text", out, store, ckpt, minWords = 20)
      q.awaitTermination(120000)
    }
    // epoch 1: two clean docs + a too-short doc + an in-batch exact dup
    Seq((1L, good("alpha")), (2L, good("beta")),
      (3L, "too short to pass the gate"),
      (4L, good("alpha").toUpperCase)) // case-insensitive dup of 1
      .toDF("id", "text").coalesce(1).write.parquet(s"$src/a")
    runOnce()
    // epoch 2: re-ingest of an admitted doc (whitespace-mangled) + fresh
    Seq((5L, "  " + good("beta").replace(" ", "  ")), (6L, good("gamma")))
      .toDF("id", "text").coalesce(1).write.parquet(s"$src/b")
    runOnce()
    val admitted = spark.read.parquet(out).select("id").as[Long].collect().toSet
    assert(admitted == Set(1L, 2L, 6L), s"admitted: $admitted")
    // the store never holds text — 8-byte hashes only
    val storeSchema = spark.read.parquet(s"$store/epoch=0").schema
    assert(storeSchema.fieldNames.toSeq == Seq("h"))
  }

  test("lexicalIndexStream: postings/stats appended per epoch equal the batch index") {
    import spark.implicits._
    import graft.operators.{Lexical, LexicalIndex}
    val src = tmp("graft_lex_src")
    val idx = tmp("graft_lex_idx")
    val ckpt = tmp("graft_lex_ckpt")
    val docs = Tables(spark, sf, "documents")
      .filter(col("doc_id") < 60).select(col("doc_id"), col("text"))
    // the store must exist before any append — index once, append forever
    LexicalIndex.writeIndex(docs.filter(col("doc_id") < 20), "doc_id", "text", idx)
    def runOnce(): Unit = {
      val q = Streams.indexStream(graft.operators.LexicalIndex,
        Streams.fileStream(spark, s"$src/*", docs.schema),
        "doc_id", "text", idx, ckpt)
      q.awaitTermination(120000)
    }
    // two ingestion epochs of NEW documents
    docs.filter(col("doc_id") >= 20 && col("doc_id") < 40).write.parquet(s"$src/a")
    runOnce()
    docs.filter(col("doc_id") >= 40).write.parquet(s"$src/b")
    runOnce()
    // postings ≡ batch postings over the full corpus, regardless of batching
    val served = LexicalIndex.postings(spark, idx)
      .orderBy("id", "tok").collect().map(_.toString).toSeq
    val batch = Lexical.postings(docs, "doc_id", "text")
      .orderBy("id", "tok").collect().map(_.toString).toSeq
    assert(served == batch && served.nonEmpty)
    // stats partials sum to the exact batch (n, avgdl)
    assert(LexicalIndex.corpusStats(spark, idx).collect()(0) ==
      Lexical.corpusStats(docs, "text").collect()(0))
    // df twin matches too
    val servedDf = LexicalIndex.termDf(spark, idx)
      .orderBy("term").collect().map(_.toString).toSeq
    val batchDf = Lexical.termDf(docs.select(col("doc_id").as("__did0"),
        col("text").as("__t0")), "__did0", "__t0")
      .orderBy("term").collect().map(_.toString).toSeq
    assert(servedDf == batchDf)
    // BM25 served ENTIRELY from the streamed artifacts (docs = null:
    // scoring never touches the corpus) equals direct BM25 over the docs
    val queries = Seq((1L, "the"), (1L, "customer"), (2L, "regular")).toDF("qid", "term")
    val fromIndex = Lexical.bm25TopK(queries, "qid", "term", null, "id", "text",
        k = 5, post = LexicalIndex.postings(spark, idx),
        stats = LexicalIndex.corpusStats(spark, idx))
      .orderBy("query_id", "rank").collect().map(_.toString).toSeq
    val direct = Lexical.bm25TopK(queries, "qid", "term", docs, "doc_id", "text", k = 5)
      .orderBy("query_id", "rank").collect().map(_.toString).toSeq
    assert(fromIndex == direct && fromIndex.nonEmpty)
    // the bucket-pruned scan serves the same rows for a driver-known term set
    val pruned = LexicalIndex.postingsForTerms(spark, idx, Seq("the", "customer"))
      .filter(col("tok").isin("the", "customer"))
      .orderBy("id", "tok").collect().map(_.toString).toSeq
    val full = LexicalIndex.postings(spark, idx)
      .filter(col("tok").isin("the", "customer"))
      .orderBy("id", "tok").collect().map(_.toString).toSeq
    assert(pruned == full && pruned.nonEmpty)
    // appending to a missing store fails loudly, never creates it silently
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Streams.indexStream(graft.operators.LexicalIndex,
        Streams.fileStream(spark, s"$src/*", docs.schema),
        "doc_id", "text", tmp("graft_lex_missing") + "/nope",
        tmp("graft_lex_ckpt2")).awaitTermination(120000)
    }
    def msgs(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("writeIndex first")), s"got: ${msgs(e)}")
  }

  test("compactIndex: serve-identical postings/stats/scores, small files collapsed") {
    import spark.implicits._
    import graft.operators.{Lexical, LexicalIndex}
    val idx = tmp("graft_lex_compact")
    val docs = Tables(spark, sf, "documents")
      .filter(col("doc_id") < 80).select(col("doc_id"), col("text"))
    LexicalIndex.writeIndex(docs.filter(col("doc_id") < 20), "doc_id", "text", idx)
    // three appends: each leaves its own files per touched bucket plus a
    // 1-row stats partial — the small-file decay compaction exists for
    for (lo <- Seq(20L, 40L, 60L))
      LexicalIndex.appendToIndex(
        docs.filter(col("doc_id") >= lo && col("doc_id") < lo + 20),
        "doc_id", "text", idx)
    val queries = Seq((1L, "the"), (1L, "customer"), (2L, "regular")).toDF("qid", "term")
    def serve() = Lexical.bm25TopK(queries, "qid", "term", null, "id", "text",
        k = 5, post = LexicalIndex.postings(spark, idx),
        stats = LexicalIndex.corpusStats(spark, idx))
      .orderBy("query_id", "rank").collect().map(_.toString).toSeq
    val preScores = serve()
    val preStats = LexicalIndex.corpusStats(spark, idx).collect()(0)
    val prePostings = LexicalIndex.postings(spark, idx)
      .orderBy("id", "tok").collect().map(_.toString).toSeq
    val (before, after) = LexicalIndex.compactIndex(spark, idx)
    assert(after < before, s"no consolidation: $before -> $after")
    assert(after <= LexicalIndex.NBuckets, s"more than one file per bucket: $after")
    // serve-identical: rows, exact summed stats, and BM25 scores
    assert(LexicalIndex.postings(spark, idx)
      .orderBy("id", "tok").collect().map(_.toString).toSeq == prePostings)
    assert(LexicalIndex.corpusStats(spark, idx).collect()(0) == preStats)
    assert(serve() == preScores && preScores.nonEmpty)
    // stats partials really collapsed to one pre-summed row
    assert(spark.read.parquet(s"$idx/stats").count() == 1)
    // bucket-pruned scan unaffected (partition values preserved)
    val pruned = LexicalIndex.postingsForTerms(spark, idx, Seq("the"))
      .filter(col("tok") === "the").orderBy("id").collect().map(_.toString).toSeq
    val full = LexicalIndex.postings(spark, idx)
      .filter(col("tok") === "the").orderBy("id").collect().map(_.toString).toSeq
    assert(pruned == full && pruned.nonEmpty)
    // the store remains appendable after the swap
    LexicalIndex.appendToIndex(
      Tables(spark, sf, "documents")
        .filter(col("doc_id") >= 80 && col("doc_id") < 90)
        .select(col("doc_id"), col("text")), "doc_id", "text", idx)
    assert(LexicalIndex.corpusStats(spark, idx).collect()(0) !=  preStats)
  }

  test("hybridIndexStream: one stream serves vector AND keyword retrieval") {
    import spark.implicits._
    import graft.operators.{Corpus, IvfSearch, Lexical, LexicalIndex}
    import graft.functions.HashEmbedder
    val src = tmp("graft_hyb_src")
    val vidx = tmp("graft_hyb_vidx")
    val lidx = tmp("graft_hyb_lidx")
    val ckpt = tmp("graft_hyb_ck")
    val docs = Tables(spark, sf, "documents")
      .filter(col("doc_id") < 60).select(col("doc_id"), col("text"))
    def chunksOf(d: org.apache.spark.sql.DataFrame) =
      Corpus.chunkTokens(d, "doc_id", "text", 32, 8)
        .withColumn("chunk_uid", col("id") * 1000000L + col("chunk_id"))
        .withColumn("emb", HashEmbedder.embedCol(col("chunk_text")))
    // offline build on the head; the stream ingests the tail
    IvfSearch.writeIndex(chunksOf(docs.filter(col("doc_id") < 30)),
      "chunk_uid", "emb", vidx, nList = 8, iters = 2)
    LexicalIndex.writeIndex(docs.filter(col("doc_id") < 30), "doc_id", "text", lidx)
    val late = docs.filter(col("doc_id") >= 30)
    late.write.parquet(s"$src/a")
    Streams.hybridIndexStream(
      Streams.fileStream(spark, s"$src/*", late.schema),
      "doc_id", "text", vidx, lidx, ckpt).awaitTermination(120000)
    // vector side: a late chunk retrieves a byte-identical chunk text
    val lateChunks = chunksOf(late).localCheckpoint()
    val probe = lateChunks.orderBy("chunk_uid").limit(2)
      .select(col("chunk_uid").as("qid"), col("emb").as("qv"))
    val texts = chunksOf(docs).select("chunk_uid", "chunk_text")
      .as[(Long, String)].collect().toMap
    IvfSearch.searchIndex(spark, vidx, probe, "qid", "qv",
        k = 1, metric = "cosine", nProbe = 8).collect()
      .foreach { r => assert(texts(r.getLong(0)) == texts(r.getLong(1))) }
    // lexical side: index-served BM25 over the SAME stream equals the
    // direct batch over the unioned corpus
    val queries = Seq((1L, "the"), (2L, "customer")).toDF("qid", "term")
    val served = Lexical.bm25TopK(queries, "qid", "term", null, "id", "text",
        k = 5, post = LexicalIndex.postings(spark, lidx),
        stats = LexicalIndex.corpusStats(spark, lidx))
      .orderBy("query_id", "rank").collect().map(_.toString).toSeq
    val direct = Lexical.bm25TopK(queries, "qid", "term", docs, "doc_id", "text",
        k = 5).orderBy("query_id", "rank").collect().map(_.toString).toSeq
    assert(served == direct && served.nonEmpty)
  }

  test("a second stream on a claimed store is REFUSED at construction; " +
      "one checkpoint ingesting the same sources serves correctly") {
    // namespaced epochs order by checkpoint hash, not logical time, so
    // two checkpoints cannot delete/supersede each other's rows
    // coherently — the claim turns the documented contract into a loud
    // refusal. The blessed shape for two sources is ONE stream (glob
    // source / union), proven below to serve identically to the batch.
    import spark.implicits._
    import graft.operators.{Lexical, LexicalIndex}
    val idx = tmp("graft_lex_twock")
    val docs = Tables(spark, sf, "documents")
      .filter(col("doc_id") < 60).select(col("doc_id"), col("text"))
    LexicalIndex.writeIndex(docs.filter(col("doc_id") < 20), "doc_id", "text", idx)
    val src = tmp("graft_lex_srcA")
    docs.filter(col("doc_id") >= 20 && col("doc_id") < 40).write.parquet(s"$src/a")
    docs.filter(col("doc_id") >= 40).write.parquet(s"$src/b")
    Streams.indexStream(graft.operators.LexicalIndex,
      Streams.fileStream(spark, s"$src/*", docs.schema),
      "doc_id", "text", idx, tmp("graft_lex_ckA")).awaitTermination(120000)
    // the second checkpoint is refused BEFORE any epoch lands
    val e = intercept[IllegalStateException] {
      Streams.indexStream(graft.operators.LexicalIndex,
        Streams.fileStream(spark, s"$src/*", docs.schema),
        "doc_id", "text", idx, tmp("graft_lex_ckB"))
    }
    assert(e.getMessage.contains("owned by writer namespace"), e.getMessage)
    val queries = Seq((1L, "the"), (2L, "customer")).toDF("qid", "term")
    val served = Lexical.bm25TopK(queries, "qid", "term", null, "id", "text",
        k = 5, post = LexicalIndex.postings(spark, idx),
        stats = LexicalIndex.corpusStats(spark, idx))
      .orderBy("query_id", "rank").collect().map(_.toString).toSeq
    val direct = Lexical.bm25TopK(queries, "qid", "term", docs, "doc_id", "text",
        k = 5).orderBy("query_id", "rank").collect().map(_.toString).toSeq
    assert(served == direct && served.nonEmpty,
      "one-checkpoint ingestion must serve identically to the batch index")
  }

  test("epoch-tagged appends are idempotent: a replayed micro-batch never double-counts") {
    import spark.implicits._
    import graft.operators.{Lexical, LexicalIndex}
    val idx = tmp("graft_lex_replay")
    val docs = Tables(spark, sf, "documents")
      .filter(col("doc_id") < 40).select(col("doc_id"), col("text"))
    LexicalIndex.writeIndex(docs.filter(col("doc_id") < 20), "doc_id", "text", idx)
    val batch = docs.filter(col("doc_id") >= 20)
    // the at-least-once scenario: the same (batch, epoch) applied twice
    LexicalIndex.appendToIndex(batch, "doc_id", "text", idx, epoch = 7)
    val once = LexicalIndex.postings(spark, idx)
      .orderBy("id", "tok").collect().map(_.toString).toSeq
    val statsOnce = LexicalIndex.corpusStats(spark, idx).collect()(0)
    LexicalIndex.appendToIndex(batch, "doc_id", "text", idx, epoch = 7)
    assert(LexicalIndex.postings(spark, idx)
      .orderBy("id", "tok").collect().map(_.toString).toSeq == once,
      "replay duplicated postings")
    assert(LexicalIndex.corpusStats(spark, idx).collect()(0) == statsOnce,
      "replay double-counted stats")
    // ...and the stats equal the batch form over the union (incl. n/avgdl)
    assert(statsOnce == Lexical.corpusStats(docs, "text").collect()(0))
    // the ivf family has the same guarantee
    val emb = Tables(spark, sf, "embeddings")
    val vidx = tmp("graft_ivf_replay")
    graft.operators.IvfSearch.writeIndex(emb.filter(col("vec_id") < 200),
      "vec_id", "embedding", vidx, nList = 4, iters = 1)
    val vbatch = emb.filter(col("vec_id") >= 200 && col("vec_id") < 300)
    graft.operators.IvfSearch.appendToIndex(vbatch, "vec_id", "embedding",
      vidx, epoch = 3)
    val n1 = spark.read.parquet(s"$vidx/corpus").count()
    graft.operators.IvfSearch.appendToIndex(vbatch, "vec_id", "embedding",
      vidx, epoch = 3)
    assert(spark.read.parquet(s"$vidx/corpus").count() == n1,
      "ivf replay duplicated vectors")
  }

  test("lexicalIndexStream compactEvery: in-stream maintenance keeps files bounded") {
    import spark.implicits._
    import graft.operators.{Lexical, LexicalIndex}
    val src = tmp("graft_lexce_src")
    val idx = tmp("graft_lexce_idx")
    val ckpt = tmp("graft_lexce_ck")
    val docs = Tables(spark, sf, "documents")
      .filter(col("doc_id") < 60).select(col("doc_id"), col("text"))
    LexicalIndex.writeIndex(docs.filter(col("doc_id") < 20), "doc_id", "text", idx)
    docs.filter(col("doc_id") >= 20 && col("doc_id") < 40).write.parquet(s"$src/a")
    Streams.indexStream(graft.operators.LexicalIndex,
      Streams.fileStream(spark, s"$src/*", docs.schema),
      "doc_id", "text", idx, ckpt, compactEvery = 1).awaitTermination(120000)
    docs.filter(col("doc_id") >= 40).write.parquet(s"$src/b")
    Streams.indexStream(graft.operators.LexicalIndex,
      Streams.fileStream(spark, s"$src/*", docs.schema),
      "doc_id", "text", idx, ckpt, compactEvery = 1).awaitTermination(120000)
    // every epoch compacted: at most one file per (bucket, segment) with
    // two live segments (base + the excluded in-flight epoch), and at
    // most one stats partial per segment
    assert(graft.operators.IndexMaintenance.dataFiles(spark, s"$idx/postings")
      <= LexicalIndex.NBuckets * 2)
    assert(spark.read.parquet(s"$idx/stats").count() <= 2)
    // and the maintained store still serves the exact batch scores
    val queries = Seq((1L, "the"), (2L, "customer")).toDF("qid", "term")
    val served = Lexical.bm25TopK(queries, "qid", "term", null, "id", "text",
        k = 5, post = LexicalIndex.postings(spark, idx),
        stats = LexicalIndex.corpusStats(spark, idx))
      .orderBy("query_id", "rank").collect().map(_.toString).toSeq
    val direct = Lexical.bm25TopK(queries, "qid", "term", docs, "doc_id", "text", k = 5)
      .orderBy("query_id", "rank").collect().map(_.toString).toSeq
    assert(served == direct && served.nonEmpty)
  }

  test("bloomDecontamStream: streamed survivors equal the batch anti-join") {
    import graft.operators.{Bloom, Corpus}
    val src = tmp("graft_bloomdc_src")
    val out = tmp("graft_bloomdc_out")
    val ckpt = tmp("graft_bloomdc_ck")
    val docs = Tables(spark, sf, "documents")
      .filter(col("doc_id") < 120).select(col("doc_id"), col("text"))
    val cand = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
    val bench = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
    val filt = Bloom.buildGramBloom(bench, "doc_id", "text", 4, 1L << 20, 1L << 24)
    // two arrival epochs
    cand.filter(col("doc_id") < 60).write.parquet(s"$src/a")
    Streams.bloomDecontamStream(
      Streams.fileStream(spark, s"$src/*", cand.schema),
      "doc_id", "text", filt, out, ckpt).awaitTermination(120000)
    cand.filter(col("doc_id") >= 60).write.parquet(s"$src/b")
    Streams.bloomDecontamStream(
      Streams.fileStream(spark, s"$src/*", cand.schema),
      "doc_id", "text", filt, out, ckpt).awaitTermination(120000)
    val streamed = spark.read.parquet(out).select("doc_id")
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    // batch reference: survivors of the exact anti-join (FP-free at the
    // designed filter size — the PipelineSpec-asserted equality)
    val contaminated = Corpus.contamination(cand, bench, "doc_id", "text", 4)
      .select(col("id").as("__c"))
    val expected = cand.join(contaminated, cand("doc_id") === col("__c"), "left_anti")
      .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().toSet
    assert(streamed == expected && expected.nonEmpty)
    assert(streamed.size < cand.count(), "vacuous: nothing was flagged")
  }

  test("unreachable cross-epoch store fails the stream loudly, never reads as empty") {
    import spark.implicits._
    // silent-empty is the worst dedup-store failure mode: a store that
    // cannot be reached must error out of the micro-batch (surfaced as a
    // StreamingQueryException), not admit re-ingested duplicates. An
    // unresolvable filesystem scheme stands in for the unreachable
    // HDFS/S3 store.
    val src = tmp("graft_badstore_src")
    Seq((1L, "the quick fox is here " + (1 to 40).map(i => s"w$i").mkString(" ")))
      .toDF("id", "text").coalesce(1).write.parquet(s"$src/a")
    val schema = spark.read.parquet(s"$src/a").schema
    val q = Streams.curationFilterStream(spark, s"$src/*", schema,
      "id", "text", tmp("graft_badstore_out"),
      "nosuchfs://nowhere/store", tmp("graft_badstore_ckpt"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination(120000)
    }
    def msgs(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ++ msgs(t.getCause)
    assert(msgs(e).exists(_.toLowerCase.contains("nosuchfs")),
      s"expected a filesystem error naming the scheme, got: ${msgs(e)}")
  }

  test("composed streaming curation (gate + exact + near-dup) equals the batch recipe") {
    import spark.implicits._
    val src = tmp("graft_cnd_src")
    val out = tmp("graft_cnd_out")
    val store = tmp("graft_cnd_store")
    val ckpt = tmp("graft_cnd_ckpt")
    // 80 words, stopword-bearing prefix → passes the gate; `mutate`
    // swaps the first n content words for tag-specific ones (near-dup
    // when small, disjoint doc when large)
    def doc(tag: String, mutate: Int): String =
      "the quick fox is here " + (1 to 75)
        .map(i => if (i <= mutate) s"${tag}x$i" else s"word$i").mkString(" ")
    // a second base disjoint from doc(): near-dup pairs within it never
    // connect to the doc() family
    def doc2(tag: String, mutate: Int): String =
      "the other fox is here " + (1 to 75)
        .map(i => if (i <= mutate) s"${tag}x$i" else s"sbase$i").mkString(" ")
    def fresh(tag: String): String =
      s"the $tag fox is here " + (1 to 75).map(i => s"$tag$i").mkString(" ")
    def schema = spark.read.parquet(s"$src/a").schema
    def runOnce(): Unit = {
      val q = Streams.curationNearDupFilterStream(spark, s"$src/*", schema,
        "id", "text", out, store, ckpt, minWords = 20, threshold = 0.7)
      q.awaitTermination(120000)
    }
    val e0 = Seq((1L, doc("a", 0)), (2L, fresh("other")),
      (3L, "too short to pass the gate"))
    val e1 = Seq((4L, doc("b", 2)), // near-dup of admitted 1
      (5L, "  " + fresh("other").replace(" ", "  ")), // exact re-ingest of 2
      (6L, fresh("gamma")),
      (7L, doc2("w", 0)), (8L, doc2("v", 2))) // in-batch near-dup pair (7 wins)
    val e2 = Seq((9L, doc("c", 2)), // near-dup of 1 two epochs later
      (10L, fresh("delta")))
    e0.toDF("id", "text").coalesce(1).write.parquet(s"$src/a"); runOnce()
    e1.toDF("id", "text").coalesce(1).write.parquet(s"$src/b"); runOnce()
    e2.toDF("id", "text").coalesce(1).write.parquet(s"$src/c"); runOnce()
    val streamed = spark.read.parquet(out).select("id").as[Long].collect().toSet

    // the batch recipe over the union of every epoch: ids are assigned
    // in arrival order, so min-id-wins == first-seen-wins
    val union = (e0 ++ e1 ++ e2).toDF("id", "text")
    val gated = union.filter(
      graft.functions.TextOps.curationGate(col("text"), 20))
    val batch = operators.Dedup.dedupPipeline(gated, "id", "text",
      minhashThreshold = 0.7).select("id").as[Long].collect().toSet
    assert(streamed == batch, s"stream $streamed != batch $batch")
    // and the composition actually exercised every stage
    assert(streamed == Set(1L, 2L, 6L, 7L, 10L), s"admitted: $streamed")
    // two stores, neither holding text
    assert(spark.read.parquet(s"$store/hash/epoch=0").schema.fieldNames.toSeq
      == Seq("h"))
    assert(spark.read.parquet(s"$store/sig/epoch=0").schema.fieldNames.toSeq
      == Seq("id", "sig"))
  }

  test("streaming stop-line filter: boilerplate scrubs from its discovery epoch on") {
    import spark.implicits._
    val src = tmp("graft_sl_src")
    val out = tmp("graft_sl_out")
    val store = tmp("graft_sl_store")
    val ckpt = tmp("graft_sl_ckpt")
    def schema = spark.read.parquet(s"$src/a").schema
    def runOnce(): Unit = {
      val q = Streams.stopLineFilterStream(spark, s"$src/*", schema,
        "id", "text", out, store, ckpt, minDocFreq = 3)
      q.awaitTermination(120000)
    }
    // epoch 0: the boilerplate line appears in 2 docs — UNDER the
    // threshold, so nothing is scrubbed yet
    Seq((1L, "all rights reserved\ncontent one"),
      (2L, "All Rights Reserved\ncontent two"))
      .toDF("id", "text").coalesce(1).write.parquet(s"$src/a")
    runOnce()
    val e0 = spark.read.parquet(s"$out/epoch=0")
      .select("id", "clean_text").as[(Long, String)].collect().toMap
    assert(e0(1L) == "all rights reserved\ncontent one", s"e0: $e0")
    assert(e0(2L) == "All Rights Reserved\ncontent two", s"e0: $e0")
    // epoch 1: a third occurrence crosses minDocFreq = 3 cumulatively —
    // the line scrubs from THIS epoch's docs (case-folded), including
    // docs that also carry fresh content and an in-epoch-only line
    Seq((3L, "ALL RIGHTS RESERVED\ncontent three"),
      (4L, "all rights reserved\ncontent four"))
      .toDF("id", "text").coalesce(1).write.parquet(s"$src/b")
    runOnce()
    val e1 = spark.read.parquet(s"$out/epoch=1")
      .select("id", "n_lines", "n_kept", "clean_text")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(e1(3L) == ((2L, 1L, "content three")), s"e1: $e1")
    assert(e1(4L) == ((2L, 1L, "content four")), s"e1: $e1")
    // epoch-0 output is immutable — discovery never rewrites the past
    val e0Again = spark.read.parquet(s"$out/epoch=0")
      .select("id", "clean_text").as[(Long, String)].collect().toMap
    assert(e0Again(1L).contains("all rights reserved"))
    // the store never holds text — (kh, n) hashed frequencies only
    assert(spark.read.parquet(s"$store/epoch=0").schema.fieldNames.toSeq
      == Seq("kh", "n"))
  }

  test("streaming near-dup filter: later epochs drop near-dups of admitted docs") {
    import spark.implicits._
    val src = tmp("graft_nd_src")
    val out = tmp("graft_nd_out")
    val store = tmp("graft_nd_store")
    val ckpt = tmp("graft_nd_ckpt")
    def doc(seed: Int, mutate: Int): String =
      (1 to 80).map(i => if (i <= mutate) s"mut${seed}x$i" else s"word$i").mkString(" ")
    def schema = spark.read.parquet(s"$src/a").schema
    def runOnce(): Unit = {
      val q = Streams.nearDupFilterStream(spark, s"$src/*", schema,
        "id", "text", out, store, ckpt, threshold = 0.7)
      q.awaitTermination(120000)
    }
    // batch 1: an original + an unrelated doc
    Seq((1L, doc(1, 0)), (2L, (1 to 80).map(i => s"other$i").mkString(" ")))
      .toDF("id", "text").coalesce(1).write.parquet(s"$src/a")
    runOnce()
    // batch 2: a near-dup of doc 1 (2 tokens changed) + a fresh doc
    Seq((3L, doc(3, 2)), (4L, (1 to 80).map(i => s"fresh$i").mkString(" ")))
      .toDF("id", "text").coalesce(1).write.parquet(s"$src/b")
    runOnce()
    // batch 3: exact resend of the already-rejected near-dup + dup of 4
    Seq((5L, doc(5, 2)), (6L, (1 to 80).map(i => s"fresh$i").mkString(" ")))
      .toDF("id", "text").coalesce(1).write.parquet(s"$src/c")
    runOnce()

    val admitted = spark.read.parquet(out).select("id").as[Long].collect().toSet
    assert(admitted.contains(1L) && admitted.contains(2L), s"batch 1 all admitted: $admitted")
    assert(!admitted.contains(3L), "near-dup of admitted doc 1 dropped")
    assert(admitted.contains(4L), "fresh doc admitted")
    assert(!admitted.contains(5L), "near-dup of doc 1 still dropped in epoch 3")
    assert(!admitted.contains(6L), "exact dup of admitted doc 4 dropped")
  }

  test("flatMapGroupsWithState emits a session only when its timeout fires") {
    import java.sql.Timestamp
    import spark.implicits._
    val src = tmp("graft_sess_src")
    val ckpt = tmp("graft_sess_ckpt")
    val outDir = tmp("graft_sess_out") + "/out"
    def ts(s: String) = Timestamp.valueOf(s)
    def runOnce(): Unit = {
      val schema = spark.read.parquet(s"$src/a").schema
      val stream = Streams.expiringSessions(
        spark.readStream.schema(schema).parquet(s"$src/*"),
        gapMs = 30 * 60 * 1000L, watermark = "1 minute")
      val q = stream.writeStream
        .format("parquet").outputMode("append")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    // run 1: user 1's session (2 events) + a later event pinning the watermark
    Seq((1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 10:05:00")),
      (99L, ts("2024-01-01 10:06:00")))
      .toDF("user_id", "ts").coalesce(1).write.parquet(s"$src/a")
    runOnce()
    // run 2: watermark advances well past user 1's gap; run 3 gives the
    // restored watermark a batch to evaluate timeouts against
    Seq((2L, ts("2024-01-01 12:00:00")))
      .toDF("user_id", "ts").coalesce(1).write.parquet(s"$src/b")
    runOnce()
    Seq((3L, ts("2024-01-01 12:30:00")))
      .toDF("user_id", "ts").coalesce(1).write.parquet(s"$src/c")
    runOnce()

    val out = spark.read.parquet(outDir)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    def ms(s: String) = ts(s).getTime
    assert(out.contains(1L), s"user 1's closed session should have emitted: $out")
    assert(out(1L) == ((ms("2024-01-01 10:00:00"), ms("2024-01-01 10:05:00"), 2L)))
    assert(!out.contains(3L), "user 3's session is still open — nothing emitted")
  }

  test("topic json stream: records produced to a TopicCatalog arrive via readStream") {
    import org.apache.spark.sql.types._
    val c = new graft.sources.TopicCatalog(spark, tmp("graft_topic_stream"))
    val schema = StructType(Seq(
      StructField("role", StringType), StructField("content", StringType),
      StructField("sessionid", StringType)))
    c.create("questions_stream", schema)
    c.produceJson("questions_stream", Seq(
      """{"role":"user","content":"q1","sessionid":"s1"}""",
      """{"role":"user","content":"q2","sessionid":"s2"}"""))
    val q = c.stream("questions_stream").writeStream
      .format("memory").queryName("topic_stream_test").outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("topic_stream_test").orderBy("sessionid")
      .collect().map(_.getAs[String]("content")).toSeq
    assert(got == Seq("q1", "q2"))
  }

  test("json topic decode: schemaless string -> typed columns") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val raw = Seq(
      """{"role":"user","content":"find shoes","sessionid":"s1"}""",
      """{"role":"user","content":"blue shirt","sessionid":"s2"}""").toDF("value")
    val schema = StructType(Seq(
      StructField("role", StringType), StructField("content", StringType),
      StructField("sessionid", StringType)))
    val decoded = Streams.decodeJsonTopic(raw, "value", schema).collect()
    assert(decoded.map(_.getString(1)).toSeq == Seq("find shoes", "blue shirt"))
  }
}
