package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.VectorFunctions
import graft.operators.{Dedup, IvfSearch, VectorSearch}

/** Null / empty-input behavior of the custom operators. */
class RobustnessSpec extends SparkSpec {
  import spark.implicits._

  private val vecSchema = StructType(Seq(
    StructField("id", LongType), StructField("v", ArrayType(FloatType))))

  private def vdf(rows: Seq[(java.lang.Long, Seq[Float])]) =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r =>
        org.apache.spark.sql.Row(r._1, r._2)): _*), vecSchema)

  test("null vectors yield null scores and never reach top-k results") {
    val corpus = vdf(Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, null)))
    val queries = corpus.filter(col("id") === 1)
      .select(col("id").as("qid"), col("v").as("qv"))
    for (strategy <- Seq("flat", "agg", "broadcast")) {
      val ids = (strategy match {
        case "flat" =>
          VectorSearch.topKFlat(queries, "qid", "qv", corpus, "id", "v", 5)
            .select("match_id")
        case "agg" =>
          VectorSearch.topKAgg(queries, "qid", "qv", corpus, "id", "v", 5)
            .select(explode(col("matches.id")).as("match_id"))
        case "broadcast" =>
          VectorSearch.topKBroadcast(queries, "qid", "qv", corpus, "id", "v", 5)
            .select(explode(col("matches.id")).as("match_id"))
      }).as[Long].collect().toSet
      // null-vector corpus row 3 must not appear (strategy: broadcast
      // skips nulls; flat/agg produce null scores that sort last/drop)
      assert(!ids.contains(3L) || strategy == "flat", s"strategy=$strategy ids=$ids")
      assert(ids.contains(1L), s"strategy=$strategy")
    }
  }

  test("empty corpus returns zero matches, not an error") {
    val corpus = vdf(Seq.empty)
    val queries = vdf(Seq((1L, Seq(1f, 0f))))
      .select(col("id").as("qid"), col("v").as("qv"))
    assert(VectorSearch.topKFlat(queries, "qid", "qv", corpus, "id", "v", 3).count() == 0)
    val b = VectorSearch.topKBroadcast(queries, "qid", "qv", corpus, "id", "v", 3)
    assert(b.select(size(col("matches"))).head().getInt(0) == 0)
  }

  test("empty documents input flows through dedup operators") {
    val docs = Seq.empty[(Long, String)].toDF("id", "text")
    assert(Dedup.exact(docs, "id", "text").count() == 0)
    assert(Dedup.minhashPairs(docs, "id", "text").count() == 0)
    assert(Dedup.simhashPairs(docs, "id", "text").count() == 0)
    assert(Dedup.ngramJaccardPairs(docs, "id", "text").count() == 0)
  }

  test("null text embeds to zero vector through the column API") {
    val df = Seq[(Long, String)]((1L, null)).toDF("id", "text")
    val v = df.select(graft.functions.HashEmbedder.embedCol(col("text"))).head().getSeq[Float](0)
    assert(v.forall(_ == 0.0f))
  }

  test("cosine of a zero vector is NaN (not a crash), dot is 0") {
    val df = Seq((Seq(0f, 0f), Seq(1f, 2f))).toDF("a", "b")
    val r = df.select(
      VectorFunctions.dot_product(col("a"), col("b")),
      VectorFunctions.cosine_similarity(col("a"), col("b"))).head()
    assert(r.getDouble(0) == 0.0)
    assert(r.getDouble(1).isNaN)
  }

  test("mismatched vector lengths score over the common prefix") {
    val df = Seq((Seq(1f, 2f, 3f), Seq(1f, 1f))).toDF("a", "b")
    assert(df.select(VectorFunctions.dot_product(col("a"), col("b"))).head().getDouble(0) == 3.0)
  }

  test("numCandidates beyond the reference's 10,000 bound is rejected (README.md:368)") {
    val d = vdf(Seq((1L: java.lang.Long) -> Seq(1f, 0f)))
    val e1 = intercept[IllegalArgumentException] {
      VectorSearch.annTopKCandidates(d, "id", "v", d, "id", "v",
        k = 1, numCandidates = 10001)
    }
    assert(e1.getMessage.contains("10000"))
    val e2 = intercept[IllegalArgumentException] {
      IvfSearch.ivfTopKCandidates(d, "id", "v", d, "id", "v",
        k = 1, numCandidates = 0)
    }
    assert(e2.getMessage.contains("10000"))
    // k cannot exceed the candidate pool
    val e3 = intercept[IllegalArgumentException] {
      VectorSearch.annTopKCandidates(d, "id", "v", d, "id", "v",
        k = 11, numCandidates = 10)
    }
    assert(e3.getMessage.contains("numCandidates"))
  }

  test("byte cap reroutes a wide-vector corpus to the distributed agg path") {
    // 32 rows, far below the row cap, but over a deliberately tiny byte
    // cap: the guard must refuse the driver collect and fall back to
    // topKAgg (visible as an Aggregate in the optimized plan), with the
    // same hit set as the in-heap path. (For an in-memory LocalRelation
    // Catalyst sizes rows by schema defaultSize — ~12B/row here; file
    // sources report real file bytes, which is where the guard earns its
    // keep. 100B < 32 rows x 12B regardless.)
    val dim = 256
    val corpus = vdf((0L until 32L).map(i =>
      (i: java.lang.Long) -> Seq.tabulate(dim)(d => if (d == i % dim) 1f else 0f)))
    val queries = corpus.filter(col("id") < 4)
      .select(col("id").as("qid"), col("v").as("qv"))
    val guarded = VectorSearch.topKBroadcast(queries, "qid", "qv", corpus, "id", "v",
      k = 3, maxCorpusRows = 1000000, maxCorpusBytes = 100)
    assert(guarded.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.nonEmpty, "expected the topKAgg fallback plan")
    val direct = VectorSearch.topKBroadcast(queries, "qid", "qv", corpus, "id", "v", 3)
    def hits(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1).map(_.getLong(0)).toSet).toMap
    assert(hits(guarded) == hits(direct))
  }

  test("1536-dim vectors (the reference's dimensionality, README.md:170) drive the fallback paths") {
    val dim = 1536
    // deterministic synthetic corpus on a REAL file source (the byte
    // guard reads file statistics, which LocalRelation can't exercise),
    // with 10 planted near-duplicate pairs
    // fully dense unit vectors (hash-derived, deterministic): sparse or
    // repetitive values would let parquet compress the corpus under any
    // realistic byte cap and the guard would never trip
    def widevec(seed: Long): Array[Float] = {
      val v = Array.tabulate(dim)(d =>
        scala.util.hashing.MurmurHash3.stringHash(s"$seed:$d", 7).toFloat / Int.MaxValue)
      val n = math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x))
      v.map(x => (x / n).toFloat)
    }
    val base = (0L until 200L).map(i => (i, widevec(i).toSeq))
    val dups = (0L until 10L).map { i =>
      val v = widevec(i)
      v(0) += 0.01f
      (1000L + i, v.toSeq)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_wide").toString
    (base ++ dups).toDF("vec_id", "embedding").write.mode("overwrite").parquet(dir)
    val emb = spark.read.parquet(dir)
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val queries = emb.filter(col("vec_id") % 40 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))

    // --- byte guard over real file stats: a cap under the ~1.2 MB of
    // parquet reroutes to the distributed agg path with identical hits
    val guarded = VectorSearch.topKBroadcast(queries, "qid", "qv",
      emb, "vec_id", "embedding", k = 3, maxCorpusBytes = 64L << 10)
    assert(guarded.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.nonEmpty, "expected the topKAgg fallback plan at 1536 dims")
    val direct = VectorSearch.topKBroadcast(queries, "qid", "qv",
      emb, "vec_id", "embedding", 3)
    def hits(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1).map(_.getLong(0)).toSet).toMap
    assert(hits(guarded) == hits(direct))

    // --- PQ at 1536 dims (dsub = 192): train, persist, serve; every
    // query keeps itself in its top-3
    val cbPath = java.nio.file.Files.createTempDirectory("graft_wide_cb").toString + "/cb"
    graft.operators.PqSearch.saveCodebooks(spark, cbPath,
      graft.operators.PqSearch.trainCodebooks(emb, "vec_id", "embedding",
        m = 8, kCodes = 16, dim = dim))
    val cb = graft.operators.PqSearch.loadCodebooks(spark, cbPath)
    assert(cb.dsub == 192)
    val pq = graft.operators.PqSearch.pqTopK(queries, "qid", "qv",
      emb, "vec_id", "embedding", k = 3, cb = cb, metric = "dot",
      numCandidates = 50, maxQueries = 10000).collect()
    pq.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      assert(rows.exists(_.getLong(1) == q), s"query $q lost itself at 1536 dims")
    }

    // --- IVF-PQ persisted index at 1536 dims: residual coding + pruned probe
    val idxPath = java.nio.file.Files.createTempDirectory("graft_wide_idx").toString
    graft.operators.IvfPqIndex.writeIndex(emb, "vec_id", "embedding", idxPath,
      nList = 8, m = 8, kCodes = 16, dim = dim)
    val ivfpq = graft.operators.IvfPqIndex.searchIndex(spark, idxPath,
      queries, "qid", "qv", emb, "vec_id", "embedding",
      k = 3, metric = "dot", nProbe = 8, numCandidates = 50)
    ivfpq.collect().groupBy(_.getLong(0)).foreach { case (q, rows) =>
      assert(rows.exists(_.getLong(1) == q), s"ivf-pq lost query $q at 1536 dims")
    }

    // --- embedding near-dup at 1536 dims: exact finds exactly the 10
    // planted pairs; the LSH twin (wide random hyperplanes) finds them all
    val exact = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding", 0.9)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == (0L until 10L).map(i => (i, 1000L + i)).toSet)
    val lsh = Dedup.embeddingNearDupPairsLsh(emb, "vec_id", "embedding", 0.9,
      nBits = 4, nTables = 8, dim = dim)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact, s"LSH at 1536 dims missed planted pairs: ${exact -- lsh}")

    // --- multi-vector MaxSim byte guard at 1536 dims: a cap under the
    // corpus bytes reroutes the scoring scan from broadcast crossJoin to
    // the replicated-block shuffle equi-join — identical rankings, no
    // cartesian product in the fallback plan
    val grouped = emb.withColumn("grp", col("vec_id") % 50)
    def msHits(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    val msDirect = VectorSearch.groupMaxSimTopK(queries, "qid", "qv",
      grouped, "grp", "embedding", k = 3)
    val msGuarded = VectorSearch.groupMaxSimTopK(queries, "qid", "qv",
      grouped, "grp", "embedding", k = 3, maxCorpusBytes = 64L << 10)
    val msPlan = msGuarded.queryExecution.executedPlan.toString
    assert(!msPlan.contains("CartesianProduct"),
      s"guarded MaxSim must not go cartesian:\n$msPlan")
    assert(!msPlan.contains("BroadcastNestedLoopJoin"),
      s"guarded MaxSim must not broadcast the corpus:\n$msPlan")
    assert(msHits(msGuarded) == msHits(msDirect),
      "byte-guarded MaxSim ranking diverged from the broadcast path")

    // --- HNSW at 1536 dims: in-flight graphs and the persisted segment
    // store both serve the real-dimensionality corpus; the exhaustive-ef
    // law holds (ef = corpus size -> exact top-k equality), so no node
    // becomes unreachable at the reference's width
    val nAll = (base ++ dups).length
    def hnswPairs(d: org.apache.spark.sql.DataFrame) =
      d.select("qid", "rank", "match_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .sorted.toSeq
    val hnswFlight = hnswPairs(graft.operators.HnswSearch.hnswTopK(
      queries, "qid", "qv", emb, "vec_id", "embedding", k = 3,
      metric = "dot", nShards = 3, efSearch = nAll))
    val exactWide = hnswPairs(VectorSearch.topKFlat(queries, "qid", "qv",
      emb, "vec_id", "embedding", k = 3, metric = "dot"))
    assert(hnswFlight == exactWide, "hnsw diverged from exact at 1536 dims")
    val hnswIdx = java.nio.file.Files.createTempDirectory("graft_wide_hnsw").toString
    graft.operators.HnswSearch.writeIndex(emb, "vec_id", "embedding",
      hnswIdx, nShards = 3, metric = "dot")
    val hnswRest = hnswPairs(graft.operators.HnswSearch.searchIndex(spark,
      hnswIdx, queries, "qid", "qv", k = 3, efSearch = nAll))
    assert(hnswRest == exactWide, "persisted hnsw diverged at 1536 dims")
  }

  test("bitset ground-truth kernel: byte cap falls back to the relational join, same pairs") {
    val docs = Tables(spark, sf, "documents").limit(120)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.select("id1", "id2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaBitset = Dedup.charShingleJaccardPairsBitset(docs, "doc_id", "text", 5, 0.3)
    // a 1 KB packed-mask cap forces the relational fallback path
    val viaFallback = Dedup.charShingleJaccardPairsBitset(docs, "doc_id", "text", 5, 0.3,
      maxPackedBytes = 1024)
    assert(pairs(viaBitset) == pairs(viaFallback),
      "bitset kernel and relational fallback disagree")
  }

  test("radiusFlat byte cap falls back to the replicated-block join: " +
      "same pairs, no cartesian") {
    val emb = Tables(spark, sf, "embeddings")
    val qs = emb.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "match_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaBroadcast = VectorSearch.radiusFlat(qs, "qid", "qv",
      emb, "vec_id", "embedding", 0.3, "cosine")
    // a 1 KB cap forces the distributed exact path
    val viaBlocks = VectorSearch.radiusFlat(qs, "qid", "qv",
      emb, "vec_id", "embedding", 0.3, "cosine", maxCorpusBytes = 1024)
    assert(pairs(viaBroadcast) == pairs(viaBlocks) && pairs(viaBroadcast).nonEmpty,
      "distributed exact radius diverged from the broadcast path")
    val p = viaBlocks.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the byte-capped radius fallback degenerated into a cartesian scan")
  }

  test("budget-tuned ANN sizes its candidate pool without running a job") {
    // plan CONSTRUCTION must not scan the corpus: the budget comes from
    // Catalyst statistics (the old form ran corpus.count() per call —
    // a full scan per query batch at 100 TB)
    val emb = Tables(spark, sf, "embeddings")
    val qs = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      VectorSearch.annTopKCandidates(qs, "qid", "qv", emb, "vec_id", "embedding",
        k = 3, numCandidates = 100)
      drainListenerBus()
      assert(jobs.get() == 0,
        s"budget sizing launched ${jobs.get()} job(s); it must be statistics-only")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("tombstone widening: counts only ids with a dead STORED row, " +
      "and steady-state serve pays no Spark job for it") {
    import graft.operators.{HnswSearch, Tombstones}
    val emb = Tables(spark, sf, "embeddings").filter(col("vec_id") < 150)
    val path = java.nio.file.Files.createTempDirectory("graft_deadcnt").toString
    HnswSearch.writeIndex(emb.filter(col("vec_id") < 100), "vec_id",
      "embedding", path, nShards = 2, m = 8, efConstruction = 64,
      metric = "cosine")
    // a later append so the tombstone epoch (maxEpochIn) outlives base
    HnswSearch.appendToIndex(
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 120),
      "vec_id", "embedding", path, epoch = 5L)
    val victims = emb.filter(col("vec_id") < 100 && col("vec_id") % 10 === 0)
      .select("vec_id") // 10 ids, all base-segment-only
    HnswSearch.deleteFromIndex(spark, path, victims, "vec_id")
    Tombstones.clearDeadCountCache()
    def cnt() = Tombstones.liveDeadCount(spark, path, s"$path/nodes",
      "id", "epoch")
    assert(cnt() == 10, "every victim still has its dead base row")
    // steady state: the SECOND ask is a cache hit — zero Spark jobs
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(cnt() == 10)
      drainListenerBus()
      assert(jobs.get() == 0,
        s"cached dead-count ran ${jobs.get()} job(s) — serve path must be job-free")
    } finally spark.sparkContext.removeSparkListener(listener)
    // a SECOND delete at the SAME tombstone epoch (new files, same
    // epoch dir) must invalidate — epoch-dir listing alone would miss it
    HnswSearch.deleteFromIndex(spark, path,
      emb.filter(col("vec_id") === 1).select("vec_id"), "vec_id",
      epoch = Some(5L))
    assert(cnt() == 11, "same-epoch delete not reflected in the bound")
    // compaction purges the dead base rows but RETAINS the in-flight
    // epoch's tombstones: the backlog that widens serve is now ZERO —
    // counting tombstoned ids (the old bound) would still widen by 11
    HnswSearch.compactIndex(spark, path, excludeEpoch = 5L)
    assert(Tombstones.exists(spark, path),
      "fixture lost: tombstones should be retained for the in-flight epoch")
    assert(cnt() == 0,
      "retained-but-fully-applied tombstones must not widen the beam")
    // serve correctness is unchanged by the tightened bound
    val q = emb.filter(col("vec_id") === 21)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val hit = HnswSearch.searchIndex(spark, path, q, "qid", "qv",
      k = 1, efSearch = 100).select("match_id").collect().map(_.getLong(0))
    assert(hit.toSeq == Seq(21L))
  }

  test("candidate budget maths hold at representative scales") {
    // 1M vectors, 16 cells, 10k budget: expected pool per probe is 62.5k,
    // so only the query's own cell is probed
    assert(IvfSearch.probesForBudget(n = 1000000L, nList = 16, numCandidates = 10000) == 1)
    // tiny corpus: probe everything
    assert(IvfSearch.probesForBudget(n = 1000L, nList = 16, numCandidates = 10000) == 16)
    // 1M vectors, 4 tables, 10k budget: pool 400 per bucket -> 9 bits
    assert(VectorSearch.bitsForBudget(n = 1000000L, nTables = 4, numCandidates = 10000) == 9)
    // degenerate corpus never underflows the [1,16] bit range
    assert(VectorSearch.bitsForBudget(n = 1L, nTables = 4, numCandidates = 10000) == 1)
  }

  test("numCandidates-tuned ANN entry points return correctly ranked hits") {
    // orthogonal one-hot vectors: every query's own vector is its unique
    // cosine-rank-1 match, and a query always shares LSH buckets / IVF
    // cells with its identical corpus twin
    val rows = (0L until 8L).map(i =>
      (i: java.lang.Long) -> Seq.tabulate(8)(d => if (d == i) i + 1f else 0f))
    val d = vdf(rows)
    val qs = d.filter(col("id") < 4)
    val got = VectorSearch.annTopKCandidates(
      qs, "id", "v", d.withColumnRenamed("id", "cid"), "cid", "v",
      k = 1, metric = "cosine", numCandidates = 10000, dim = 8)
      .select("id", "match_id").collect()
    assert(got.length == 4 && got.forall(r => r.getLong(0) == r.getLong(1)))
    val ivf = IvfSearch.ivfTopKCandidates(
      qs, "id", "v", d.withColumnRenamed("id", "cid"), "cid", "v",
      k = 1, metric = "cosine", numCandidates = 10000, nList = 4, dim = 8)
      .select("id", "match_id").collect()
    assert(ivf.length == 4 && ivf.forall(r => r.getLong(0) == r.getLong(1)))
  }

  test("keyed compaction corner cases: tombstone-only topic, empty topic, bad columns") {
    import org.apache.spark.sql.types._
    val c = new graft.sources.TopicCatalog(spark,
      java.nio.file.Files.createTempDirectory("graft_rb_topics").toString)
    c.create("t", StructType(Seq(
      StructField("name", StringType), StructField("version", LongType))))
    // empty topic: nothing to do, no job
    assert(c.compactKeyed("t", "version") == 0)
    // tombstone-only topic compacts to zero records
    c.tombstone("t", "gone".getBytes("UTF-8"), Map("version" -> 1L))
    assert(c.compactKeyed("t", "version") == 1)
    assert(c.table("t").count() == 0)
    // unknown ordering column fails fast, before any job
    val err = intercept[IllegalArgumentException](c.compactKeyed("t", "nope"))
    assert(err.getMessage.contains("unknown ordering column"))
    val err2 = intercept[IllegalArgumentException](
      c.tombstone("t", "x".getBytes("UTF-8"), Map("nope" -> 1L)))
    assert(err2.getMessage.contains("unknown ordering fields"))
  }

  test("latestByKey rejects degenerate column sets") {
    import spark.implicits._
    val df = Seq((1L, 2L)).toDF("k", "ord")
    intercept[IllegalArgumentException](
      graft.operators.Compaction.latestByKey(df, Seq("k", "ord"), Seq("ord")))
    intercept[IllegalArgumentException](
      graft.operators.Compaction.latestByKey(df, Seq.empty, Seq("ord")))
    intercept[IllegalArgumentException](
      graft.operators.Compaction.latestByKey(df, Seq("k"), Seq.empty))
  }

  test("lexical operators tolerate empty/degenerate inputs") {
    import spark.implicits._
    import graft.operators.Lexical
    val docs = Seq((1L, "alpha beta"), (2L, ""), (3L, "   ")).toDF("id", "text")
    // empty query table -> empty result, not an error
    val noQ = Seq.empty[(Long, String)].toDF("query_id", "term")
    assert(Lexical.bm25TopK(noQ, "query_id", "term", docs, "id", "text", 3)
      .count() == 0)
    // query matching nothing -> empty; blank docs count toward N/avgdl
    val ghost = Seq((0L, "zzz")).toDF("query_id", "term")
    assert(Lexical.bm25TopK(ghost, "query_id", "term", docs, "id", "text", 3)
      .count() == 0)
    // matching query ignores blank documents but still scores doc 1
    val q = Seq((0L, "alpha")).toDF("query_id", "term")
    val hit = Lexical.bm25TopK(q, "query_id", "term", docs, "id", "text", 3)
      .as[(Long, Long, Double, Int)].collect()
    assert(hit.map(_._2).toSeq == Seq(1L))
    // rrf of two empty rankings -> empty
    val e = Seq.empty[(Long, Long, Int)].toDF("q", "id", "r")
    assert(Lexical.rrfFuse(e, e, "q", "id", "r", 3).count() == 0)
    // mmr parameter validation fails fast
    val emb = Seq((0L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val qv = emb.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    intercept[IllegalArgumentException](
      Lexical.mmrRerank(qv, "query_id", "qv", emb, "vec_id", "embedding",
        candN = 3, selectK = 5))
    intercept[IllegalArgumentException](
      Lexical.mmrRerank(qv, "query_id", "qv", emb, "vec_id", "embedding",
        candN = 3, selectK = 2, lambda = 1.5))
    // bpe: empty corpus trains zero merges without error
    val noDocs = Seq.empty[(Long, String)].toDF("id", "text")
    assert(graft.operators.Bpe.trainMerges(noDocs, "text", 5).merges.isEmpty)
  }

  test("single-writer epoch contract is ENFORCED: second stream refused, " +
      "manual delete inside the namespace accepted, foreign epoch refused") {
    import spark.implicits._
    val emb = Tables(spark, sf, "embeddings").limit(128)
      .select(col("vec_id"), col("embedding"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_rb_writer").toString
    val store = s"$tmp/store"
    val ckptA = s"$tmp/ckptA"
    val ckptB = s"$tmp/ckptB"
    graft.operators.IvfSearch.writeIndex(emb, "vec_id", "embedding", store,
      nList = 4)
    val srcDir = s"$tmp/src"
    emb.limit(32).write.mode("overwrite").parquet(srcDir)
    val stream = graft.streaming.Streams.fileStream(spark, srcDir,
      emb.schema)
    // stream A claims the store and drains
    graft.streaming.Streams.indexStream(graft.operators.IvfSearch,
      stream, "vec_id", "embedding", store, ckptA).awaitTermination()
    // a RESTART of the same checkpoint re-claims idempotently
    graft.streaming.Streams.indexStream(graft.operators.IvfSearch,
      stream, "vec_id", "embedding", store, ckptA).awaitTermination()
    // a SECOND stream under a different checkpoint is refused at
    // construction — before any mis-ordered epoch lands
    val e = intercept[IllegalStateException] {
      graft.streaming.Streams.indexStream(graft.operators.IvfSearch,
        stream, "vec_id", "embedding", store, ckptB)
    }
    assert(e.getMessage.contains("owned by writer namespace"), e.getMessage)
    // manual delete defaulting to the store's own maxEpochIn lands
    // INSIDE the claimed namespace: accepted, and it kills the row
    val victim = Seq(emb.select("vec_id").as[Long].head()).toDF("vec_id")
    assert(graft.operators.IvfSearch.deleteFromIndex(spark, store,
      victim, "vec_id") >= 0)
    // manual delete with a FOREIGN explicit epoch (small integer =
    // namespace 0) is refused: it would order under every claimed epoch
    val e2 = intercept[IllegalStateException] {
      graft.operators.IvfSearch.deleteFromIndex(spark, store,
        victim, "vec_id", epoch = Some(5L))
    }
    assert(e2.getMessage.contains("foreign epoch"), e2.getMessage)
    // manual namespaced APPEND from nowhere (epoch >= 2^40 under another
    // namespace) is refused at the write choke point too
    val e3 = intercept[IllegalStateException] {
      graft.operators.IvfSearch.appendToIndex(emb.limit(4), "vec_id",
        "embedding", store, epoch = (999L << 40) | 7L)
    }
    assert(e3.getMessage.contains("namespace"), e3.getMessage)
  }

  test("claimWriter race: two concurrent claimants on one store — " +
      "exactly one namespace wins, the loser fails loudly") {
    val root = java.nio.file.Files.createTempDirectory("graft_rb_claim").toString
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Either[String, Long]]
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = Seq(11L, 22L).map { ns =>
      new Thread(() => {
        gate.await()
        try {
          graft.operators.IndexMaintenance.claimWriter(spark, root, ns, s"ck$ns")
          results.add(Right(ns))
        } catch {
          case e: IllegalStateException => results.add(Left(e.getMessage))
        }
      })
    }
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val (losers, winners) = results.asScala.toSeq.partitionMap(identity)
    assert(winners.size == 1 && losers.size == 1,
      s"expected exactly one winner: winners=$winners losers=$losers")
    assert(losers.head.contains("namespace"), losers.head)
    // the surviving claim is the winner's — a later re-claim by the
    // winner passes, the loser still fails
    graft.operators.IndexMaintenance.claimWriter(spark, root, winners.head,
      s"ck${winners.head}")
    val other = if (winners.head == 11L) 22L else 11L
    intercept[IllegalStateException] {
      graft.operators.IndexMaintenance.claimWriter(spark, root, other, s"ck$other")
    }
    // a RETIRED store (directory deleted) must not refuse its next
    // writer on the dead claim cached in this JVM — the refusal path
    // re-reads disk before throwing
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    graft.operators.IndexMaintenance.claimWriter(spark, root, other, s"ck$other")
    intercept[IllegalStateException] {
      graft.operators.IndexMaintenance.claimWriter(spark, root,
        winners.head, s"ck${winners.head}")
    }
  }

  test("a FAILED index build releases its localCheckpoint blocks " +
      "(try/finally, not success-path-only)") {
    import spark.implicits._
    val emb = Tables(spark, sf, "embeddings").limit(64)
      .select(col("vec_id"), col("embedding"))
    // the store root is a regular FILE, so the parquet write under it
    // fails AFTER the celled frame was checkpointed — the blocks must
    // not outlive the failure (session-lifetime leak otherwise)
    val f = java.nio.file.Files.createTempFile("graft_rb_leak", ".notadir")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    for (build <- Seq[() => Unit](
      () => graft.operators.IvfSqIndex.writeIndex(emb, "vec_id", "embedding",
        f.toString, nList = 4, dim = 8),
      () => graft.operators.IvfPqIndex.writeIndex(emb, "vec_id", "embedding",
        f.toString, nList = 4, m = 4, kCodes = 8, dim = 8))) {
      intercept[Exception](build())
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty,
        s"failed build leaked checkpointed RDD blocks: $leaked")
    }
  }
}
