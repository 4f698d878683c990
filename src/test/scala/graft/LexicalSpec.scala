package graft

import org.apache.spark.sql.functions._

import graft.operators.{Lexical, VectorSearch}

/** BM25 / RRF / MMR — the lexical+hybrid retrieval family. */
class LexicalSpec extends SparkSpec {
  import spark.implicits._

  // --- BM25 ----------------------------------------------------------------

  test("index-served BM25 plans zero corpus work: no tokenize, only index scans") {
    // the at-rest contract: with postings + stats both supplied from the
    // persisted LexicalIndex, scoring NEVER touches the corpus — not
    // even for N/avgdl (the stats artifact carries them). Proven two
    // ways: the corpus handle passed is null (a fallback re-derivation
    // would NPE), and the plan holds no tokenizer and no non-index scan.
    import graft.operators.LexicalIndex
    val docs = Tables(spark, sf, "documents")
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_lex_planidx_" +
      java.util.UUID.randomUUID().toString.take(8)
    LexicalIndex.writeIndex(docs, "doc_id", "text", path)
    val post = LexicalIndex.postings(spark, path)
    val terms = post.select(col("tok")).distinct().orderBy("tok")
      .limit(2).as[String].collect()
    val q = terms.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toSeq.toDF("query_id", "term")
    val served = Lexical.bm25TopK(q, "query_id", "term",
      null, "doc_id", "text", k = 5,
      post = post, stats = LexicalIndex.corpusStats(spark, path))
    val plan = served.queryExecution.optimizedPlan.toString
    assert(!plan.contains("split(lower(trim"),
      s"tokenizer in the indexed serve plan:\n$plan")
    val scans = served.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.flatten
    assert(scans.nonEmpty && scans.forall(_.contains(new java.io.File(path).getName)),
      s"scan outside the index store: $scans")
    assert(served.count() > 0, "vacuous: no matches for in-corpus terms")
  }

  test("bm25 matches a hand-computed score on a 3-doc corpus") {
    // corpus: N=3, dls 2/3/2, avgdl = 7/3
    val docs = Seq(
      (1L, "apple banana"),
      (2L, "apple apple cherry"),
      (3L, "cherry durian")).toDF("id", "text")
    val q = Seq((0L, "apple")).toDF("query_id", "term")
    val got = Lexical.bm25ScoresImpl(q, "query_id", "term", docs, "id", "text",
        k1 = 1.2, b = 0.75, rounded = false)
      .as[(Long, Long, Double)].collect().map(r => r._2 -> r._3).toMap
    assert(got.keySet == Set(1L, 2L), "only docs containing 'apple' score")
    val n = 3.0; val df = 2.0; val avgdl = 7.0 / 3.0
    val idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
    def tfNorm(tf: Double, dl: Double) =
      tf * (1.2 + 1.0) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    assert(math.abs(got(1L) - idf * tfNorm(1, 2)) < 1e-12)
    assert(math.abs(got(2L) - idf * tfNorm(2, 3)) < 1e-12)
    // tf=2 in a slightly longer doc still beats tf=1 here
    assert(got(2L) > got(1L))
  }

  test("bm25: rarer terms carry more weight at equal tf") {
    val docs = Seq(
      (1L, "common rare"), (2L, "common x"), (3L, "common y"),
      (4L, "common z")).toDF("id", "text")
    val q = Seq((0L, "common"), (1L, "rare")).toDF("query_id", "term")
    val s = Lexical.bm25Scores(q, "query_id", "term", docs, "id", "text")
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // doc 1 has both terms at tf=1, dl=2: the rare-term query scores it
    // strictly higher than the common-term query does
    assert(s((1L, 1L)) > s((0L, 1L)))
  }

  test("bm25TopK ranks by rounded score desc with id tie-break") {
    // docs 2 and 3 are identical -> identical scores -> id order
    val docs = Seq(
      (1L, "term term other"), (2L, "term pad"), (3L, "term pad"),
      (4L, "unrelated text")).toDF("id", "text")
    val q = Seq((7L, "term")).toDF("query_id", "term")
    val top = Lexical.bm25TopK(q, "query_id", "term", docs, "id", "text", k = 3)
      .select("match_id", "rank").as[(Long, Int)].collect().sortBy(_._2)
    assert(top.map(_._1).toSeq == Seq(1L, 2L, 3L),
      s"expected tf-2 doc first then the id tie-break, got ${top.toSeq}")
  }

  test("bm25 query terms are deduplicated (binary query-side tf)") {
    val docs = Seq((1L, "apple pie")).toDF("id", "text")
    val q1 = Seq((0L, "apple")).toDF("query_id", "term")
    val q2 = Seq((0L, "apple"), (0L, "apple")).toDF("query_id", "term")
    val a = Lexical.bm25Scores(q1, "query_id", "term", docs, "id", "text")
      .as[(Long, Long, Double)].collect().head._3
    val b = Lexical.bm25Scores(q2, "query_id", "term", docs, "id", "text")
      .as[(Long, Long, Double)].collect().head._3
    assert(a == b)
  }

  test("rounding margins: no bm25 gate-corpus score sits near a 1e-4 boundary") {
    // Same discipline as CorpusSpec's xent/dsir margins: the oracle
    // ranks over round(score, 4), so every UNROUNDED score must sit far
    // from a k+0.5 boundary relative to cross-engine divergence
    // (libm ulps + sum order over <= 3 terms ~ 1e-13). Asserted on the
    // sf0.01 gate corpus the driver's DuckDB compare actually runs.
    def boundaryDist(v: Double): Double = {
      val scaled = v * 1e4
      math.abs(scaled - math.floor(scaled) - 0.5) * 1e-4
    }
    val gateDir = "/root/testdata/sf0.01"
    assume(new java.io.File(gateDir).isDirectory)
    val docs = Tables(spark, gateDir, "documents")
    val q = Seq((0L, "sort"), (0L, "merge"), (0L, "join"),
      (1L, "window"), (1L, "agg"),
      (2L, "stream"), (2L, "batch"), (2L, "dup")).toDF("query_id", "term")
    val m = Lexical.bm25ScoresImpl(q, "query_id", "term", docs, "doc_id",
        "text", k1 = 1.2, b = 0.75, rounded = false)
      .select("score").as[Double].collect().map(boundaryDist).min
    assert(m >= 1e-9,
      f"bm25 score within $m%.2e of a 1e-4 rounding boundary — the corpus " +
        "generator churned; re-measure margins before the hash gate flips")
  }

  test("prf expansion mines co-occurring terms and excludes originals") {
    // fb docs for query "alpha" all contain "beta"; doc 9 has only
    // "beta" and is unreachable by the original query but reachable
    // after expansion
    val docs = Seq(
      (1L, "alpha beta x"), (2L, "alpha beta y"), (3L, "alpha beta z"),
      (4L, "alpha beta w"), (5L, "alpha beta v"),
      (9L, "beta beta beta")).toDF("id", "text")
    val q = Seq((0L, "alpha")).toDF("query_id", "term")
    val expanded = Lexical.prfExpandTerms(q, "query_id", "term",
        docs, "id", "text", fbDocs = 5, fbTerms = 2)
      .as[(Long, String)].collect().map(_._2).toSet
    assert(expanded.contains("alpha"), "original terms kept")
    assert(expanded.contains("beta"), s"co-occurring term mined: $expanded")
    assert(expanded.size <= 3, s"fbTerms cap: $expanded") // 1 original + <= 2 mined
    val ranked = Lexical.bm25PrfTopK(q, "query_id", "term",
        docs, "id", "text", k = 10, fbDocs = 5, fbTerms = 2)
      .select("match_id").as[Long].collect().toSet
    assert(ranked.contains(9L),
      "expansion must reach the beta-only document")
    val unexpanded = Lexical.bm25TopK(q, "query_id", "term",
        docs, "id", "text", k = 10)
      .select("match_id").as[Long].collect().toSet
    assert(!unexpanded.contains(9L))
  }

  test("rounding margins hold for the PRF-expanded gate queries too") {
    def boundaryDist(v: Double): Double = {
      val scaled = v * 1e4
      math.abs(scaled - math.floor(scaled) - 0.5) * 1e-4
    }
    val gateDir = "/root/testdata/sf0.01"
    assume(new java.io.File(gateDir).isDirectory)
    val docs = Tables(spark, gateDir, "documents")
    val q = Seq((0L, "sort"), (0L, "merge"), (0L, "join"),
      (1L, "window"), (1L, "agg"),
      (2L, "stream"), (2L, "batch"), (2L, "dup")).toDF("query_id", "term")
    val expanded = Lexical.prfExpandTerms(q, "query_id", "term",
      docs, "doc_id", "text", fbDocs = 5, fbTerms = 3)
    val m = Lexical.bm25ScoresImpl(expanded, "query_id", "term", docs,
        "doc_id", "text", k1 = 1.2, b = 0.75, rounded = false)
      .select("score").as[Double].collect().map(boundaryDist).min
    assert(m >= 1e-9,
      f"PRF-expanded bm25 score within $m%.2e of a 1e-4 boundary")
  }

  // --- RRF -----------------------------------------------------------------

  test("rrf fuses two rankings; a missing side contributes exactly 0") {
    val a = Seq((0L, 10L, 1), (0L, 11L, 2)).toDF("q", "id", "r")
    val b = Seq((0L, 11L, 1), (0L, 12L, 2)).toDF("q", "id", "r")
    val fused = Lexical.rrfFuse(a, b, "q", "id", "r", k = 3, kConst = 60)
      .as[(Long, Long, Int)].collect().sortBy(_._3)
    // 11: 1/62 + 1/61 (top); 10: 1/61; 12: 1/62
    assert(fused.map(_._2).toSeq == Seq(11L, 10L, 12L))
  }

  test("rrf ties break by lower id") {
    // 10 ranked 1 only in a; 20 ranked 1 only in b -> equal rrf scores
    val a = Seq((0L, 20L, 1)).toDF("q", "id", "r")
    val b = Seq((0L, 10L, 1)).toDF("q", "id", "r")
    val fused = Lexical.rrfFuse(a, b, "q", "id", "r", k = 2)
      .as[(Long, Long, Int)].collect().sortBy(_._3)
    assert(fused.map(_._2).toSeq == Seq(10L, 20L))
  }

  test("rrf k cut keeps the top fused items per query independently") {
    val a = Seq((0L, 1L, 1), (0L, 2L, 2), (1L, 5L, 1)).toDF("q", "id", "r")
    val b = Seq((0L, 1L, 1), (1L, 6L, 1), (1L, 5L, 2)).toDF("q", "id", "r")
    val fused = Lexical.rrfFuse(a, b, "q", "id", "r", k = 1)
      .as[(Long, Long, Int)].collect()
    assert(fused.toSet == Set((0L, 1L, 1), (1L, 5L, 1)),
      s"got ${fused.toSeq}")
  }

  // --- hybrid term selection ----------------------------------------------

  test("hybridTopK maxQueryTerms keeps the rarest IN-CORPUS terms; OOV terms never consume the cap") {
    // corpus: "rare" df=1, "mid" df=2, "common" df=3; the query holds
    // all three plus an out-of-corpus term ("ghost", df 0). OOV terms
    // match nothing, so they are dropped BEFORE the rarest-first cap —
    // with 2 terms the selection is rare + mid, never ghost.
    val corpus = Seq(
      (0L, "rare mid common", Array(1.0f, 0.0f)),
      (1L, "mid common x", Array(0.9f, 0.1f)),
      (2L, "common y z", Array(0.0f, 1.0f))).toDF("cid", "ctext", "cvec")
    val q = Seq((7L, "rare mid common ghost", Array(1.0f, 0.0f)))
      .toDF("query_id", "qtext", "qv")
    val fused = Lexical.hybridTopK(q, "query_id", "qv", "qtext",
        corpus, "cid", "cvec", "ctext", k = 3, maxQueryTerms = 2)
      .as[(Long, Long, Int)].collect().sortBy(_._3)
    assert(fused.head._2 == 0L, s"got ${fused.toSeq}")
    // mid made the cap (ghost didn't), so doc 1 has a lexical ranking
    // and appears in the fused list even though its vector rank alone
    // would not need it
    assert(fused.map(_._2).contains(1L), s"got ${fused.toSeq}")
    // a capped run with ONLY OOV query terms has no lexical side at
    // all but still returns the vector ranking
    val qOov = Seq((8L, "ghost phantom", Array(1.0f, 0.0f)))
      .toDF("query_id", "qtext", "qv")
    val oovFused = Lexical.hybridTopK(qOov, "query_id", "qv", "qtext",
        corpus, "cid", "cvec", "ctext", k = 2, maxQueryTerms = 2)
      .as[(Long, Long, Int)].collect().sortBy(_._3)
    assert(oovFused.head._2 == 0L, s"got ${oovFused.toSeq}")
    // unrestricted run still works and ranks doc 0 first
    val full = Lexical.hybridTopK(q, "query_id", "qv", "qtext",
        corpus, "cid", "cvec", "ctext", k = 3)
      .as[(Long, Long, Int)].collect().sortBy(_._3)
    assert(full.head._2 == 0L)
  }

  test("persisted index artifacts (postings + stats) reproduce direct BM25/PRF exactly") {
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
    val q = Seq((0L, "market"), (0L, "price"), (1L, "government"),
      (1L, "policy")).toDF("query_id", "term")
    // the offline artifacts, materialized once like a deployment would
    val post = Lexical.postings(docs, "doc_id", "text").localCheckpoint()
    val stats = Lexical.corpusStats(docs, "text").localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect().map(_.toString).toSeq
    assert(rows(Lexical.bm25TopK(q, "query_id", "term", docs, "doc_id",
        "text", k = 5, post = post, stats = stats)) ==
      rows(Lexical.bm25TopK(q, "query_id", "term", docs, "doc_id",
        "text", k = 5)))
    assert(rows(Lexical.bm25PrfTopK(q, "query_id", "term", docs, "doc_id",
        "text", k = 5, fbDocs = 3, fbTerms = 2, post = post, stats = stats)) ==
      rows(Lexical.bm25PrfTopK(q, "query_id", "term", docs, "doc_id",
        "text", k = 5, fbDocs = 3, fbTerms = 2)))
  }

  // --- MMR -----------------------------------------------------------------

  /** Reference greedy MMR over an in-memory candidate list. */
  private def bruteMmr(cands: Seq[(Long, Double, Array[Float])],
      k: Int, lambda: Double): Seq[Long] = {
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0f; var aa = 0.0f; var bb = 0.0f
      var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); aa += a(i) * a(i); bb += b(i) * b(i); i += 1
      }
      val c = dot / (math.sqrt(aa).toFloat * math.sqrt(bb).toFloat)
      (if (c > 1.0f) 1.0f else if (c < -1.0f) -1.0f else c).toDouble
    }
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
    while (selected.length < k) {
      val remaining = cands.filterNot(c => selected.exists(_._1 == c._1))
      val best = remaining.minBy { case (id, rel, v) =>
        val maxSim = if (selected.isEmpty) 0.0
          else selected.map(s => cos(v, s._2)).max
        val score = if (selected.isEmpty) rel
          else lambda * rel - (1 - lambda) * maxSim
        (-score, id)
      }
      selected += ((best._1, best._3))
    }
    selected.map(_._1).toSeq
  }

  test("mmrRerank matches brute-force greedy MMR on the sf corpus") {
    val emb = Tables(spark, sf, "embeddings")
    val q = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val got = Lexical.mmrRerank(q, "query_id", "qv", emb, "vec_id",
        "embedding", candN = 10, selectK = 3, lambda = 0.5)
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap

    // reference: exact top-10 per query then greedy selection
    val cand = VectorSearch.topKFlat(q, "query_id", "qv", emb, "vec_id",
        "embedding", k = 10, metric = "cosine")
      .join(emb.select(col("vec_id").as("match_id"), col("embedding")), "match_id")
      .select(col("query_id"), col("match_id"), col("score"), col("embedding"))
      .as[(Long, Long, Double, Array[Float])].collect()
      .groupBy(_._1)
    assert(got.nonEmpty && got.keySet == cand.keySet)
    cand.foreach { case (qid, cs) =>
      val want = bruteMmr(cs.map(c => (c._2, c._3, c._4)).toSeq, 3, 0.5)
      assert(got(qid) == want, s"query $qid: got ${got(qid)}, want $want")
    }
  }

  test("mmr second pick trades relevance for diversity (lambda sensitivity)") {
    // query q; candidate A nearly duplicates the top pick T; candidate B
    // is less relevant but diverse from T. Pure relevance picks A second
    // (rel 0.97 > 0.8); MMR at lambda=0.5 must pick B:
    //   A: 0.5*0.97 - 0.5*cos(A,T)=~0.999 -> ~ -0.015
    //   B: 0.5*0.80 - 0.5*cos(B,T)=~0.784 -> ~ +0.008
    // (T must NOT equal the query: a self-identical top pick makes every
    // candidate's max-sim equal its relevance and all marginals tie at 0)
    val emb = Seq(
      (0L, Array(0.98f, 0.199f, 0.0f)),       // T: top relevance
      (1L, Array(0.97f, 0.243f, 0.0f)),       // A: near-dup of T
      (2L, Array(0.8f, 0.0f, 0.6f))           // B: diverse
    ).toDF("vec_id", "embedding")
    val q = Seq((0L, Array(1.0f, 0.0f, 0.0f))).toDF("query_id", "qv")
    val got = Lexical.mmrRerank(q, "query_id", "qv", emb, "vec_id",
        "embedding", candN = 3, selectK = 2, lambda = 0.5)
      .as[(Long, Int, Long)].collect().sortBy(_._2).map(_._3).toSeq
    assert(got == Seq(0L, 2L), s"got $got")
  }

  test("lexical deleteFromIndex: deleted docs unretrievable, BM25 scores " +
      "equal a from-scratch index over the survivors, compaction heals") {
    import graft.operators.LexicalIndex
    val docs = Tables(spark, sf, "documents").filter(col("doc_id") < 200)
    val path = java.nio.file.Files.createTempDirectory("graft_lex_del").toString
    LexicalIndex.writeIndex(docs, "doc_id", "text", path)
    val victims = docs.filter(col("doc_id") % 10 === 0).select("doc_id")
    val victimIds = victims.as[Long].collect().toSet
    LexicalIndex.deleteFromIndex(spark, path, victims, "doc_id")
    val terms = Seq((0L, "sort"), (0L, "merge"), (1L, "stream"), (1L, "dup"))
      .toDF("query_id", "term")
    def serve(p: String): Set[(Long, Long, Double)] =
      Lexical.bm25TopK(terms, "query_id", "term", null, "doc_id", "text",
          k = 10, post = LexicalIndex.postings(spark, p),
          stats = LexicalIndex.corpusStats(spark, p))
        .select("query_id", "match_id", "score")
        .as[(Long, Long, Double)].collect().toSet
    val afterDelete = serve(path)
    afterDelete.foreach { case (_, d, _) => assert(!victimIds(d),
      s"deleted doc $d retrievable") }
    // the strong law: serve from the deleted index == serve from an
    // index REBUILT over the surviving corpus — membership AND scores
    // (the negative stats partial must land n and avgdl exactly)
    val rebuilt = java.nio.file.Files.createTempDirectory("graft_lex_rb").toString
    LexicalIndex.writeIndex(docs.filter(col("doc_id") % 10 =!= 0),
      "doc_id", "text", rebuilt)
    assert(afterDelete == serve(rebuilt),
      "post-delete BM25 diverges from a from-scratch survivor index")
    // LWW: re-appending one victim restores it with survivor-corpus stats
    LexicalIndex.appendToIndex(docs.filter(col("doc_id") === 0),
      "doc_id", "text", path, epoch = 1L)
    val revived = serve(path)
    // compaction: physical removal + tombstone retirement, serve-stable
    LexicalIndex.compactIndex(spark, path)
    assert(!graft.operators.Tombstones.exists(spark, path))
    val deadRows = spark.read.parquet(s"$path/postings")
      .filter(col("id").isin(victimIds.filter(_ != 0L).toSeq.map(Long.box): _*))
    assert(deadRows.isEmpty, "dead posting rows survived compaction")
    assert(serve(path) == revived, "compaction changed BM25 results")
    // double-delete is a no-op on the stats partials: n stays the
    // survivor count (+ the revived doc), not double-subtracted
    val nBefore = LexicalIndex.corpusStats(spark, path)
      .select("n").as[Double].head()
    LexicalIndex.deleteFromIndex(spark, path, victims, "doc_id")
    LexicalIndex.deleteFromIndex(spark, path, victims, "doc_id")
    val nAfter = LexicalIndex.corpusStats(spark, path)
      .select("n").as[Double].head()
    assert(nAfter == nBefore - 1.0,
      s"double-delete corrupted stats: $nBefore -> $nAfter")
  }

  test("lexCdcStream: tombstones delete with exact stats healing, " +
      "upserts replace without double postings, serve matches a rebuild") {
    import graft.operators.LexicalIndex
    val docs = Tables(spark, sf, "documents").filter(col("doc_id") < 150)
    val path = java.nio.file.Files.createTempDirectory("graft_lex_cdc_idx").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft_lex_cdc_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_lex_cdc_ck").toString
    LexicalIndex.writeIndex(docs, "doc_id", "text", path)
    // one drain: delete doc 0, REPLACE doc 10's text with doc 300's
    val donor = Tables(spark, sf, "documents").filter(col("doc_id") === 300)
    val changes = docs.filter(col("doc_id") === 0)
      .select(col("doc_id"), lit(null).cast("string").as("text"))
      .unionByName(donor.select(lit(10L).as("doc_id"), col("text")))
    changes.write.mode("overwrite").parquet(srcDir)
    graft.streaming.Streams.cdcStream(graft.operators.LexicalIndex,
      graft.streaming.Streams.fileStream(spark, srcDir, changes.schema),
      "doc_id", "text", path, ckpt).awaitTermination()
    val terms = Seq((0L, "sort"), (0L, "merge"), (1L, "stream"), (1L, "dup"))
      .toDF("query_id", "term")
    def serve(p: String): Set[(Long, Long, Double)] =
      Lexical.bm25TopK(terms, "query_id", "term", null, "doc_id", "text",
          k = 10, post = LexicalIndex.postings(spark, p),
          stats = LexicalIndex.corpusStats(spark, p))
        .select("query_id", "match_id", "score")
        .as[(Long, Long, Double)].collect().toSet
    // ground truth: a from-scratch index over the POST-CDC corpus
    val want = docs.filter(col("doc_id") =!= 0 && col("doc_id") =!= 10)
      .unionByName(donor.select(lit(10L).as("doc_id"), col("text"))
        .select(docs.columns.map {
          case "doc_id" => col("doc_id"); case "text" => col("text")
          case c => lit(null).cast(docs.schema(c).dataType).as(c) }: _*))
    val rebuilt = java.nio.file.Files.createTempDirectory("graft_lex_cdc_rb").toString
    LexicalIndex.writeIndex(want, "doc_id", "text", rebuilt)
    assert(serve(path) == serve(rebuilt),
      "post-CDC BM25 diverges from a from-scratch rebuild of the changed corpus")
    // compaction cadence keeps serving the same answers
    LexicalIndex.compactIndex(spark, path)
    assert(serve(path) == serve(rebuilt))
  }

  test("bm25Explain: per-term contributions sum to the bm25 score exactly") {
    val docs = Tables(spark, sf, "documents").filter(col("doc_id") < 150)
    val terms = Seq((0L, "sort"), (0L, "merge"), (1L, "stream"), (1L, "dup"))
      .toDF("query_id", "term")
    // UNROUNDED factor product summed per (query, doc) must reproduce
    // the unrounded score bit-for-bit modulo summation grouping — pin
    // through the rounded surface both sides share (round(sum(raw), 4))
    val explained = Lexical.bm25Explain(terms, "query_id", "term",
      docs, "doc_id", "text")
    val statsRow = Lexical.corpusStats(docs, "text").collect()(0)
    val (nDocs, avgdl) = (statsRow.getDouble(0), statsRow.getDouble(1))
    val reSummed = explained
      .groupBy("query_id", "match_id")
      // idf/tf_norm are ROUNDED in the frame; re-derive raw from the
      // primitives it carries to prove the frame is self-sufficient
      .agg(round(sum(
        log(lit(1.0) + (lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * 2.2 / (col("tf") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dl") / lit(avgdl))))), 4)
        .as("score"))
      .select(col("query_id"), col("match_id").as("id"), col("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val scores = Lexical.bm25Scores(terms, "query_id", "term",
        docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(scores.nonEmpty && reSummed == scores,
      "per-term contributions do not reconstruct the bm25 score")
    // and the emitted rounded contribution matches its factors' product
    explained.select("idf", "tf_norm", "contribution").collect().foreach { r =>
      assert(math.abs(r.getDouble(0) * r.getDouble(1) - r.getDouble(2)) < 2e-4,
        s"contribution inconsistent with its factors: $r") }
  }

  test("bm25TopKFiltered: global stats, restricted candidates — a doc's " +
      "score never shifts with the filter") {
    val docs = Tables(spark, sf, "documents").filter(col("doc_id") < 200)
    val terms = Seq((0L, "sort"), (0L, "merge"), (1L, "stream"), (1L, "dup"))
      .toDF("query_id", "term")
    val allowed = docs.filter(col("n_chars") > 300)
    val allowedIds = allowed.select("doc_id").as[Long].collect().toSet
    val filtered = Lexical.bm25TopKFiltered(terms, "query_id", "term",
        docs, "doc_id", "text", allowed, "doc_id", k = 10)
      .select("query_id", "match_id", "score")
      .as[(Long, Long, Double)].collect()
    assert(filtered.nonEmpty)
    filtered.foreach { case (_, m, _) =>
      assert(allowedIds(m), s"non-admitted doc $m retrieved") }
    // the Lucene filtered-query law: scores come from the GLOBAL stats,
    // so each admitted doc carries exactly its unfiltered score
    val unfiltered = Lexical.bm25TopK(terms, "query_id", "term",
        docs, "doc_id", "text", k = 1000)
      .select("query_id", "match_id", "score")
      .as[(Long, Long, Double)].collect()
      .map { case (q, m, sc) => (q, m) -> sc }.toMap
    filtered.foreach { case (q, m, sc) =>
      assert(unfiltered((q, m)) == sc,
        s"filtered score shifted for ($q, $m): $sc vs ${unfiltered((q, m))}") }
    // ...and the filtered ranking is the unfiltered ranking restricted
    // to admitted docs (no re-scoring reshuffle)
    val wantIds = unfiltered.toSeq
      .filter { case ((_, m), _) => allowedIds(m) }
      .groupBy(_._1._1).view.mapValues(
        _.sortBy { case ((_, m), sc) => (-sc, m) }.take(10).map(_._1._2)).toMap
    val gotIds = filtered.groupBy(_._1).view.mapValues(
      _.sortBy(r => (-r._3, r._2)).map(_._2).toSeq).toMap
    gotIds.foreach { case (q, ids) => assert(ids == wantIds(q),
      s"query $q: filtered ranking diverged from restricted unfiltered ranking") }
  }

  test("delete replay AFTER the upsert's re-append subtracts nothing: " +
      "stats partials stay exact for still-served documents") {
    // the at-least-once hazard inside cdcStream's sub-epoch dance: a
    // crash after the 2e+1 append replays the batch, and the re-run
    // delete (tombstone epoch 2e) must NOT treat the just-appended live
    // rows (epoch 2e+1, which OUT-LIVE the tombstone) as victims — a
    // second negative stats partial for a document still served would
    // undercount n/avgdl permanently (compaction sums partials, so it
    // would never heal)
    import graft.operators.LexicalIndex
    val docs = Tables(spark, sf, "documents").filter(col("doc_id") < 60)
    val path = java.nio.file.Files.createTempDirectory("graft_lex_rpl").toString
    LexicalIndex.writeIndex(docs, "doc_id", "text", path)
    val changed = docs.filter(col("doc_id") === 10).select("doc_id")
    // the CDC batch, step by step: tombstone at 2e, re-append at 2e+1
    LexicalIndex.deleteFromIndex(spark, path, changed, "doc_id", Some(20L))
    LexicalIndex.appendToIndex(docs.filter(col("doc_id") === 10),
      "doc_id", "text", path, epoch = 21L)
    val statsOnce = LexicalIndex.corpusStats(spark, path).collect()(0)
    val postOnce = LexicalIndex.postings(spark, path)
      .orderBy("id", "tok").collect().map(_.toString).toSeq
    // the crash-replay: the SAME delete re-runs after the re-append
    LexicalIndex.deleteFromIndex(spark, path, changed, "doc_id", Some(20L))
    assert(LexicalIndex.corpusStats(spark, path).collect()(0) == statsOnce,
      "replayed delete subtracted stats for rows that out-live the tombstone")
    assert(LexicalIndex.postings(spark, path)
      .orderBy("id", "tok").collect().map(_.toString).toSeq == postOnce,
      "replayed delete changed served postings")
    // ...and the stats still equal the batch form over the same corpus
    assert(statsOnce == Lexical.corpusStats(docs, "text").collect()(0))
  }

  test("hybridTopK: a caller-provided vRank leg is cut by `allowed` " +
      "STRUCTURALLY — an unfiltered vector leg cannot leak excluded docs") {
    // the invariant used to be held by convention (the one caller
    // pre-restricted its ladder ranking); a second caller passing an
    // UNFILTERED ranking alongside a predicate must still never fuse
    // an excluded document through the vector leg
    val docs = Tables(spark, sf, "documents").limit(200)
      .select(col("doc_id"), col("text"),
        graft.functions.HashEmbedder.embedCol(col("text")).as("vec"))
    val qs = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("qid"), col("vec").as("qv"),
        col("text").as("qtext"))
    val allowed = docs.filter(col("doc_id") % 2 === 0)
    val allowedIds = allowed.select("doc_id").as[Long].collect().toSet
    // deliberately UNFILTERED exact vector ranking (violates the
    // documented caller contract)
    val unfilteredVRank = VectorSearch.topKAgg(qs, "qid", "qv",
        docs, "doc_id", "vec", 10, "dot")
      .select(col("qid"), posexplode(col("matches")).as(Seq("p", "m")))
      .select(col("qid"), col("m.id").as("match_id"),
        (col("p") + 1).cast("int").as("rank"))
    val fused = Lexical.hybridTopK(qs, "qid", "qv", "qtext",
      docs, "doc_id", "vec", "text", k = 5,
      allowed = allowed, allowedId = "doc_id", vRank = unfilteredVRank)
    val hits = fused.select("match_id").as[Long].collect()
    assert(hits.nonEmpty, "vacuous: fusion returned nothing")
    hits.foreach(m => assert(allowedIds(m),
      s"excluded doc $m leaked through the caller's unfiltered vRank leg"))
    // ...and the cut leg's ranks RE-DENSIFY, so the fusion matches the
    // caller having cut its own ranking first (gapped post-cut ranks
    // would weight RRF differently than the store-served pushdown
    // routes, where excluded rows never ranked at all)
    val preCut = unfilteredVRank
      .filter(col("match_id").isin(allowedIds.toSeq: _*))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(col("rank"), col("match_id"))))
    val fusedPreCut = Lexical.hybridTopK(qs, "qid", "qv", "qtext",
      docs, "doc_id", "vec", "text", k = 5,
      allowed = allowed, allowedId = "doc_id", vRank = preCut)
    assert(fused.orderBy("query_id", "rrf_rank").collect().toSeq ==
      fusedPreCut.orderBy("query_id", "rrf_rank").collect().toSeq,
      "fusing a violating caller's ranking diverged from the same " +
        "ranking pre-cut by the caller")
  }
}
