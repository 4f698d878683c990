package graft

import org.apache.spark.sql.functions._

import graft.operators.{HnswSearch, VectorSearch}

class HnswSpec extends SparkSpec {
  import spark.implicits._

  private def queries = Tables(spark, sf, "embeddings")
    .filter(col("vec_id") % 20 === 0)
    .select(col("vec_id").as("query_id"), col("embedding").as("qv"))

  test("recall vs exact top-k on the embeddings corpus (the contract law)") {
    val emb = Tables(spark, sf, "embeddings")
    val q = queries
    val exact = VectorSearch.topKFlat(q, "query_id", "qv",
      emb, "vec_id", "embedding", k = 3, metric = "dot")
    val approx = HnswSearch.hnswTopK(q, "query_id", "qv",
      emb, "vec_id", "embedding", k = 3, metric = "dot",
      m = 8, efConstruction = 64, efSearch = 32, nShards = 4)
    val rows = VectorSearch.recallContract(approx, exact, q,
      "query_id", "match_id", 1)
      .as[(Long, Boolean)].collect()
    assert(rows.nonEmpty)
    val bad = rows.filter(!_._2)
    assert(bad.isEmpty, s"recall misses: ${bad.take(5).mkString(",")}")
  }

  test("result is deterministic under input partitioning") {
    val emb = Tables(spark, sf, "embeddings")
    val q = queries
    def run(c: org.apache.spark.sql.DataFrame) =
      HnswSearch.hnswTopK(q, "query_id", "qv", c, "vec_id", "embedding",
        k = 3, metric = "dot", nShards = 4)
        .select("query_id", "rank", "match_id")
        .as[(Long, Int, Long)].collect().sorted.toSeq
    assert(run(emb) == run(emb.repartition(13)))
  }

  test("output shape: contiguous ranks, metric-monotone scores per query") {
    val emb = Tables(spark, sf, "embeddings")
    val got = HnswSearch.hnswTopK(queries, "query_id", "qv",
      emb, "vec_id", "embedding", k = 3, metric = "dot", nShards = 4)
      .select("query_id", "rank", "score")
      .as[(Long, Int, Double)].collect()
      .groupBy(_._1)
    got.foreach { case (qid, rs) =>
      val byRank = rs.sortBy(_._2)
      assert(byRank.map(_._2).toSeq == (1 to rs.length).toSeq,
        s"query $qid ranks: ${byRank.map(_._2).mkString(",")}")
      assert(byRank.map(_._3).toSeq == byRank.map(_._3).sortBy(-_).toSeq,
        s"query $qid scores not descending")
    }
  }

  test("cosine self-retrieval: a corpus member finds itself") {
    val emb = Tables(spark, sf, "embeddings")
    val q = queries
    val got = HnswSearch.hnswTopK(q, "query_id", "qv",
      emb, "vec_id", "embedding", k = 3, metric = "cosine",
      m = 8, efConstruction = 64, efSearch = 64, nShards = 2)
      .filter(col("query_id") === col("match_id"))
      .select("query_id").as[Long].collect().toSet
    val want = q.select("query_id").as[Long].collect().toSet
    assert(got == want,
      s"${(want -- got).size} queries missed their own vector")
  }

  test("l2 metric: ascending ranking, self at distance 0") {
    val emb = Tables(spark, sf, "embeddings").limit(200)
    val q = emb.limit(5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val got = HnswSearch.hnswTopK(q, "query_id", "qv",
      emb, "vec_id", "embedding", k = 2, metric = "l2",
      efSearch = 200, nShards = 1)
      .select("query_id", "rank", "match_id", "score")
      .as[(Long, Int, Long, Double)].collect()
    got.filter(_._2 == 1).foreach { case (qid, _, mid, s) =>
      assert(mid == qid && s == 0.0, s"query $qid rank-1 = ($mid, $s)")
    }
    got.groupBy(_._1).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_._2).map(_._4)
      assert(sorted.toSeq == sorted.sorted.toSeq, "l2 scores not ascending")
    }
  }

  test("persisted index: searchIndex equals the in-flight hnswTopK exactly") {
    val emb = Tables(spark, sf, "embeddings")
    val q = queries
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_hnsw_spec_idx"
    graft.operators.HnswSearch.writeIndex(emb, "vec_id", "embedding", path,
      nShards = 4, m = 8, efConstruction = 64, metric = "dot")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "match_id", "score")
        .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    val flight = rows(HnswSearch.hnswTopK(q, "query_id", "qv",
      emb, "vec_id", "embedding", k = 3, metric = "dot",
      m = 8, efConstruction = 64, efSearch = 32, nShards = 4))
    val atRest = rows(graft.operators.HnswSearch.searchIndex(spark, path,
      q, "query_id", "qv", k = 3, efSearch = 32))
    assert(atRest == flight)
    // a second probe of the same stored index replays identically
    val again = rows(graft.operators.HnswSearch.searchIndex(spark, path,
      q, "query_id", "qv", k = 3, efSearch = 32))
    assert(again == atRest)
  }

  test("connectivity repair: every node reachable — exhaustive ef finds all") {
    // Adversarial shape for simple-variant pruning: dense clusters
    // saturate hub neighbor lists at a tiny degree bound (m=2), the
    // classic way an outlier loses its only in-edge. With the layer-0
    // repair, an ef = corpus-size beam must reach EVERY node, so each
    // vector retrieves itself as its own cosine top-1 (id tie-break).
    val n = 240
    val pts = (0L until n.toLong).map { i =>
      val cluster = (i % 3).toInt
      val base = Array.fill(8)(0.05f)
      base(cluster) = 10f  // tight pile per cluster...
      base(3 + cluster) = (i / 3).toFloat * 0.05f // ...fanned enough that
      // self-cosine (exactly 1) beats any neighbor in float32
      (i, base.toSeq)
    }
    val df = pts.toDF("vec_id", "embedding")
    val q = df.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"))
    // An ef = n beam from a fully-connected layer 0 sees EVERY node, so
    // the result must EQUAL the exact top-1 under the same bit-parity
    // scoring (float32 can round a near-parallel neighbor's cosine to
    // exactly 1.0 while self rounds below — so the law is equality with
    // the exact twin, not literal self-retrieval)
    def pairs(df0: org.apache.spark.sql.DataFrame) =
      df0.filter(col("rank") === 1).select("query_id", "match_id")
        .as[(Long, Long)].collect().sorted.toSeq
    val got = pairs(HnswSearch.hnswTopK(q, "query_id", "qv",
      df, "vec_id", "embedding", k = 1, metric = "cosine",
      m = 2, efConstruction = 4, efSearch = n, nShards = 1))
    val exact = pairs(VectorSearch.topKFlat(q, "query_id", "qv",
      df, "vec_id", "embedding", k = 1, metric = "cosine"))
    assert(got.length == n)
    val misses = got.zip(exact).filter { case (g, e) => g != e }
    assert(misses.isEmpty,
      s"${misses.length} nodes unreachable: ${misses.take(5).mkString(",")}")
  }

  test("segment appends: idempotent replay, exhaustive-ef exactness, compaction merge") {
    val emb = Tables(spark, sf, "embeddings")
    val n = emb.count().toInt
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_hnsw_seg_idx"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    graft.operators.HnswSearch.writeIndex(
      emb.filter(col("vec_id") % 3 === 0), "vec_id", "embedding", path,
      nShards = 2, m = 8, efConstruction = 64, metric = "dot")
    // two append epochs — each builds its own segment graphs
    val (r1, s1) = graft.operators.HnswSearch.appendToIndex(
      emb.filter(col("vec_id") % 3 === 1), "vec_id", "embedding", path,
      epoch = 5L)
    assert(r1 > 0 && s1 >= 1)
    graft.operators.HnswSearch.appendToIndex(
      emb.filter(col("vec_id") % 3 === 2), "vec_id", "embedding", path,
      epoch = 6L)
    val q = queries
    // ef = corpus size: every segment beam is exhaustive, so the union
    // + exact re-rank must EQUAL the exact top-k over the full corpus
    def got() = graft.operators.HnswSearch.searchIndex(spark, path,
      q, "query_id", "qv", k = 3, efSearch = n)
      .select("query_id", "rank", "match_id")
      .as[(Long, Int, Long)].collect().sorted.toSeq
    val exact = VectorSearch.topKFlat(q, "query_id", "qv",
      emb, "vec_id", "embedding", k = 3, metric = "dot")
      .select("query_id", "rank", "match_id")
      .as[(Long, Int, Long)].collect().sorted.toSeq
    val afterAppend = got()
    assert(afterAppend == exact, "segmented index diverges from exact top-k")
    // at-least-once replay of epoch 5 overwrites itself — no duplicates
    graft.operators.HnswSearch.appendToIndex(
      emb.filter(col("vec_id") % 3 === 1), "vec_id", "embedding", path,
      epoch = 5L)
    assert(got() == exact, "replayed epoch changed results")
    // compaction merges the closed epochs into rebuilt base graphs
    val (before, after) = graft.operators.HnswSearch.compactIndex(spark, path)
    assert(before > 0 && after > 0)
    val epochs = spark.read.parquet(s"$path/nodes")
      .select("epoch").distinct().as[Long].collect().toSet
    assert(epochs == Set(-1L), s"epochs not merged: $epochs")
    assert(got() == exact, "compaction changed results")
  }

  test("append guards: mandatory epoch, duplicate-id rejection, last-writer-wins compaction") {
    val emb = Tables(spark, sf, "embeddings").filter(col("vec_id") < 100)
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_hnsw_guard_idx"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    graft.operators.HnswSearch.writeIndex(emb, "vec_id", "embedding", path,
      nShards = 2)
    // a plain epoch<0 append would merge disjoint graphs into one
    // segment — rejected up front
    val e1 = intercept[IllegalArgumentException] {
      graft.operators.HnswSearch.appendToIndex(emb, "vec_id", "embedding",
        path, epoch = -1L)
    }
    assert(e1.getMessage.contains("epoch"), e1.getMessage)
    // duplicate ids inside one batch make neighbor resolution ambiguous
    val e2 = intercept[Exception] {
      graft.operators.HnswSearch.appendToIndex(
        emb.union(emb), "vec_id", "embedding", path, epoch = 3L)
    }
    assert(e2.toString.contains("duplicate vector id") ||
      (e2.getCause != null && e2.getCause.getMessage.contains("duplicate vector id")),
      s"unexpected: $e2")
    // re-ingesting an id in a later epoch supersedes it at compaction
    val shifted = emb.filter(col("vec_id") === 5)
      .select(col("vec_id"),
        transform(col("embedding"), x => x + lit(1.0f)).as("embedding"))
    val (r, s) = graft.operators.HnswSearch.appendToIndex(
      shifted, "vec_id", "embedding", path, epoch = 7L)
    assert(r == 1 && s == 1, s"append stats ($r, $s)")
    // serve-time last-writer-wins BEFORE compaction: id 5 must score by
    // its NEW vector even though the base segment still holds the old
    // one — serve results agree with post-compaction results
    val origVec = emb.filter(col("vec_id") === 5)
      .select("embedding").as[Seq[Float]].head().toArray
    val newVec = origVec.map(_ + 1.0f)
    val q5 = emb.filter(col("vec_id") === 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    def score5() = graft.operators.HnswSearch.searchIndex(spark, path, q5,
      "query_id", "qv", k = 100, efSearch = 200)
      .filter(col("match_id") === 5).select("score").as[Double].head()
    val want = graft.operators.VectorSearch.scoreF32("dot", origVec, newVec)
    assert(score5() == want, "pre-compaction serve used the stale vector")
    graft.operators.HnswSearch.compactIndex(spark, path)
    assert(score5() == want, "compaction changed the served score")
    val rows5 = spark.read.parquet(s"$path/nodes")
      .filter(col("id") === 5).select("vec")
      .as[Seq[Float]].collect()
    assert(rows5.length == 1, s"id 5 appears ${rows5.length} times after compaction")
    val orig = emb.filter(col("vec_id") === 5)
      .select("embedding").as[Seq[Float]].head()
    assert(rows5.head == orig.map(_ + 1.0f), "later epoch's vector did not win")
  }

  test("last-writer-wins holds when the newest segment's top-k OMITS the re-ingested id") {
    // the hard LWW case: id 5 is re-ingested with a vector FAR from the
    // query, inside an append segment that also holds fillers closer to
    // the query than far-5 — so the newest segment's own per-segment
    // top-k never surfaces id 5, and only the STALE base row would reach
    // the rerank. Survivor-level max_by(score, epoch) cannot see the
    // replacement here; the per-id max-epoch filter must drop the stale
    // row by RANK. Ground truth: post-compaction serve (compaction
    // resolves LWW structurally) — pre-compaction serve must equal it.
    val emb = Tables(spark, sf, "embeddings").filter(col("vec_id") < 100)
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_hnsw_lww_idx"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    graft.operators.HnswSearch.writeIndex(emb, "vec_id", "embedding", path,
      nShards = 2)
    val far5 = emb.filter(col("vec_id") === 5)
      .select(col("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
    val fillers = Tables(spark, sf, "embeddings")
      .filter(col("vec_id") >= 100 && col("vec_id") < 120)
      .select((col("vec_id") + 9000L).as("vec_id"), col("embedding"))
    graft.operators.HnswSearch.appendToIndex(
      far5.unionByName(fillers), "vec_id", "embedding", path, epoch = 4L)
    // query = id 5's ORIGINAL vector: the stale base row would self-match
    // at the maximum score and outrank everything
    val q5 = emb.filter(col("vec_id") === 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    def serve() = graft.operators.HnswSearch.searchIndex(spark, path, q5,
      "query_id", "qv", k = 3, efSearch = 16)
      .select("query_id", "rank", "match_id", "score")
      .as[(Long, Int, Long, Double)].collect().sorted.toSeq
    val pre = serve()
    val staleScore = {
      val v = emb.filter(col("vec_id") === 5)
        .select("embedding").as[Seq[Float]].head().toArray
      graft.operators.VectorSearch.scoreF32("dot", v, v)
    }
    assert(!pre.exists(r => r._3 == 5L && r._4 == staleScore),
      s"stale superseded vector surfaced: $pre")
    graft.operators.HnswSearch.compactIndex(spark, path)
    assert(serve() == pre,
      "pre-compaction serve diverges from post-compaction (LWW broken)")
  }

  test("per-segment ef budget: oversized efSearch equals ef = segment size") {
    // the explicit serve budget: a segment's beam is capped at its own
    // row count, so any efSearch at or beyond the largest segment yields
    // identical (exhaustive) beams — serve cost after heavy append
    // traffic is Σ min(ef, segment rows), never segments × ef
    val emb = Tables(spark, sf, "embeddings").filter(col("vec_id") < 150)
    val n = emb.count().toInt
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_hnsw_efb_idx"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    graft.operators.HnswSearch.writeIndex(
      emb.filter(col("vec_id") < 100), "vec_id", "embedding", path, nShards = 2)
    graft.operators.HnswSearch.appendToIndex(
      emb.filter(col("vec_id") >= 100), "vec_id", "embedding", path, epoch = 1L)
    def serve(ef: Int) = graft.operators.HnswSearch.searchIndex(spark, path,
      queries, "query_id", "qv", k = 3, efSearch = ef)
      .select("query_id", "rank", "match_id")
      .as[(Long, Int, Long)].collect().sorted.toSeq
    val atN = serve(n)
    assert(atN == serve(100 * n), "capped beam diverges from oversized ef")
    val exact = VectorSearch.topKFlat(queries, "query_id", "qv",
      emb, "vec_id", "embedding", k = 3, metric = "dot")
      .select("query_id", "rank", "match_id")
      .as[(Long, Int, Long)].collect().sorted.toSeq
    assert(atN == exact, "exhaustive beams diverge from exact top-k")
  }

  test("interrupted compaction swap self-heals on the next append (both crash states)") {
    val emb = Tables(spark, sf, "embeddings").filter(col("vec_id") < 200)
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_hnsw_swap_idx"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    graft.operators.HnswSearch.writeIndex(
      emb.filter(col("vec_id") < 150), "vec_id", "embedding", path,
      nShards = 2)
    val live = new java.io.File(s"$path/nodes")
    def rowsInStore() = spark.read.parquet(s"$path/nodes").count()
    val baseRows = rowsInStore()
    // crash state A: compactor retired the live dir and died before
    // promoting the staged rewrite — the staged dir holds the new store
    assert(live.renameTo(new java.io.File(s"$path/.nodes-compact")))
    graft.operators.HnswSearch.appendToIndex(
      emb.filter(col("vec_id") >= 150 && col("vec_id") < 170),
      "vec_id", "embedding", path, epoch = 11L)
    assert(live.exists(), "staged store not promoted")
    assert(rowsInStore() == baseRows + 20)
    // crash state B: compactor died between retiring live and deleting
    // the retired copy — recovery must restore it, never read-as-empty
    assert(live.renameTo(new java.io.File(s"$path/.nodes-retired")))
    graft.operators.HnswSearch.appendToIndex(
      emb.filter(col("vec_id") >= 170), "vec_id", "embedding", path,
      epoch = 12L)
    assert(live.exists(), "retired store not restored")
    assert(rowsInStore() == baseRows + 50)
    // the healed, appended store still serves the exhaustive-ef law
    val q = emb.filter(col("vec_id") % 40 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val got = graft.operators.HnswSearch.searchIndex(spark, path,
      q, "query_id", "qv", k = 3, efSearch = 200)
      .select("query_id", "rank", "match_id")
      .as[(Long, Int, Long)].collect().sorted.toSeq
    val exact = VectorSearch.topKFlat(q, "query_id", "qv",
      emb, "vec_id", "embedding", k = 3, metric = "dot")
      .select("query_id", "rank", "match_id")
      .as[(Long, Int, Long)].collect().sorted.toSeq
    assert(got == exact)
  }

  test("hnswIndexStream: streamed vectors become searchable (with compaction cadence)") {
    val emb = Tables(spark, sf, "embeddings")
    val n = emb.count().toInt
    val path = java.nio.file.Files.createTempDirectory("graft_hnsw_stream_idx").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft_hnsw_stream_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_hnsw_stream_ck").toString
    graft.operators.HnswSearch.writeIndex(emb.filter(col("vec_id") < 400),
      "vec_id", "embedding", path, nShards = 2)
    val late = emb.filter(col("vec_id") >= 400)
    late.write.mode("overwrite").parquet(srcDir)
    var appended = List.empty[(Long, Int)]
    graft.streaming.Streams.indexStream(graft.operators.HnswSearch,
      graft.streaming.Streams.fileStream(spark, srcDir, late.schema),
      "vec_id", "embedding", path, ckpt,
      onAppend = (s: (Long, Int)) => appended ::= s, compactEvery = 1)
      .awaitTermination()
    assert(appended.nonEmpty && appended.map(_._1).sum == late.count(),
      s"append stats wrong: $appended")
    // exhaustive-ef law over the streamed store
    val q = queries
    val got = graft.operators.HnswSearch.searchIndex(spark, path,
      q, "query_id", "qv", k = 3, efSearch = n)
      .select("query_id", "rank", "match_id")
      .as[(Long, Int, Long)].collect().sorted.toSeq
    val exact = VectorSearch.topKFlat(q, "query_id", "qv",
      emb, "vec_id", "embedding", k = 3, metric = "dot")
      .select("query_id", "rank", "match_id")
      .as[(Long, Int, Long)].collect().sorted.toSeq
    assert(got == exact)
  }

  test("shard overflow fails loudly instead of densifying") {
    val emb = Tables(spark, sf, "embeddings")
    val e = intercept[Exception] {
      HnswSearch.hnswTopK(queries, "query_id", "qv",
        emb, "vec_id", "embedding", k = 3, nShards = 1, maxShardRows = 10)
        .count()
    }
    assert(e.getMessage != null && e.getMessage.contains("maxShardRows") ||
      e.getCause != null && e.getCause.getMessage.contains("maxShardRows"),
      s"unexpected error: $e")
  }

  test("searchIndexFiltered: only allowed ids, equals exact filtered " +
      "top-k when the over-fetch covers the corpus") {
    import spark.implicits._
    val emb = Tables(spark, sf, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft_hnsw_filt").toString
    HnswSearch.writeIndex(emb, "vec_id", "embedding", path,
      nShards = 2, m = 8, efConstruction = 64, metric = "dot")
    val pred = col("label") % 4 === 1
    val allowed = emb.filter(pred).select("vec_id")
    val n = emb.count().toInt
    // overFetch*k >= corpus and a beam as wide as the corpus: the probe
    // is exhaustive, so post-filtering must reproduce the exact filtered
    // ladder with NO recall slack
    val got = HnswSearch.searchIndexFiltered(spark, path, queries,
        "query_id", "qv", allowed, "vec_id",
        k = 3, efSearch = n, overFetch = (n + 2) / 3)
      .select("query_id", "match_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val want = VectorSearch.topKFlat(queries, "query_id", "qv",
        emb.filter(pred), "vec_id", "embedding", 3, "dot")
      .select("query_id", "match_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(got == want)
    assert(got.nonEmpty)
    // a modest over-fetch still returns ONLY allowed ids (the semi-join
    // is the guarantee; recall is what the driver contract measures)
    val admitted = allowed.as[Long].collect().toSet
    HnswSearch.searchIndexFiltered(spark, path, queries, "query_id", "qv",
        allowed, "vec_id", k = 3, efSearch = 32, overFetch = 8)
      .select("match_id").as[Long].collect()
      .foreach(m => assert(admitted(m), s"disallowed id $m served"))
  }

  test("deleteFromIndex: candidates die at serve, re-ingest revives, " +
      "compaction rebuilds graphs without the dead and retires tombstones") {
    val emb = Tables(spark, sf, "embeddings").filter(col("vec_id") < 200)
    val path = java.nio.file.Files.createTempDirectory("graft_hnsw_del").toString
    HnswSearch.writeIndex(emb, "vec_id", "embedding", path,
      nShards = 2, m = 8, efConstruction = 64, metric = "cosine")
    val victims = emb.filter(col("vec_id") % 10 === 0).select("vec_id")
    val victimIds = victims.as[Long].collect().toSet
    val e = HnswSearch.deleteFromIndex(spark, path, victims, "vec_id")
    assert(e == -1L)
    def serve(): Map[Long, Seq[Long]] =
      HnswSearch.searchIndex(spark, path,
          emb.select(col("vec_id").as("qid"), col("embedding").as("qv")),
          "qid", "qv", k = 1, efSearch = 200)
        .select("qid", "match_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val afterDelete = serve()
    afterDelete.values.flatten.foreach(m => assert(!victimIds(m),
      s"deleted id $m served"))
    assert(afterDelete(0L) != Seq(0L),
      "a deleted id queried by its own vector must not self-match")
    // LWW: one victim re-ingested as a later epoch segment serves again
    HnswSearch.appendToIndex(emb.filter(col("vec_id") === 0), "vec_id",
      "embedding", path, epoch = 1L)
    val afterRevive = serve()
    assert(afterRevive(0L) == Seq(0L))
    // compaction: graphs rebuild WITHOUT the dead ids, tombstones retire
    HnswSearch.compactIndex(spark, path)
    assert(!graft.operators.Tombstones.exists(spark, path))
    val stored = spark.read.parquet(s"$path/nodes").select("id")
      .as[Long].collect().toSet
    victimIds.filter(_ != 0L).foreach(v =>
      assert(!stored(v), s"dead id $v survived the graph rebuild"))
    assert(stored(0L))
    val afterCompact = serve()
    assert(afterCompact == afterRevive, "compaction changed serve results")
  }

  test("hnswCdcStream: tombstones delete, upserts supersede via LWW, " +
      "delete backlog stays at true-delete size") {
    import spark.implicits._
    val emb = Tables(spark, sf, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft_hnsw_cdc_idx").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft_hnsw_cdc_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_hnsw_cdc_ck").toString
    HnswSearch.writeIndex(emb.filter(col("vec_id") < 100), "vec_id",
      "embedding", path, nShards = 2, m = 8, efConstruction = 64,
      metric = "cosine")
    val schema = emb.select(col("vec_id"), col("embedding")).schema
    // one drain: delete id 0, upsert id 50 with id 300's vector
    emb.filter(col("vec_id") === 0)
      .select(col("vec_id"), lit(null).cast(schema("embedding").dataType).as("embedding"))
      .unionByName(emb.filter(col("vec_id") === 300)
        .select(lit(50L).as("vec_id"), col("embedding")))
      .write.mode("overwrite").parquet(srcDir)
    graft.streaming.Streams.cdcStream(graft.operators.HnswSearch,
      graft.streaming.Streams.fileStream(spark, srcDir, schema),
      "vec_id", "embedding", path, ckpt).awaitTermination()
    // upserts carry NO tombstone on this store family: the backlog that
    // widens the serve beam is exactly the one true delete
    assert(graft.operators.Tombstones.maxPerId(spark, path).count() == 1L)
    def serveSelf(id: Long): Seq[Long] = {
      val q = emb.filter(col("vec_id") === id)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      HnswSearch.searchIndex(spark, path, q, "qid", "qv", k = 1,
        efSearch = 100).select("match_id").as[Long].collect().toSeq
    }
    assert(serveSelf(0L) != Seq(0L), "tombstoned id still serves")
    assert(serveSelf(50L) != Seq(50L), "upserted id's OLD vector must lose LWW")
    val q300 = emb.filter(col("vec_id") === 300)
      .select(lit(50L).as("qid"), col("embedding").as("qv"))
    val hits = HnswSearch.searchIndex(spark, path, q300, "qid", "qv",
        k = 1, efSearch = 100).select("match_id").as[Long].collect().toSeq
    assert(hits == Seq(50L), s"replaced vector must serve the id: $hits")
    // offline compaction retires the tombstone, results unchanged
    HnswSearch.compactIndex(spark, path)
    assert(!graft.operators.Tombstones.exists(spark, path))
    assert(serveSelf(0L) != Seq(0L))
    assert(HnswSearch.searchIndex(spark, path, q300, "qid", "qv", k = 1,
      efSearch = 100).select("match_id").as[Long].collect().toSeq == Seq(50L))
  }

  test("normalize-at-build closes the norm-skew radius caveat: a " +
      "deliberately skewed corpus serves the full cosine ball") {
    // cosine is scale-invariant, so scaling members by 0.01x/100x
    // changes NOTHING about the true radius result — but the hnsw graph
    // ranks its beam by its build metric (dot), where the 100x members
    // crowd out small-norm ball members (the README norm-skew caveat).
    // normalize=true stores unit-norm vectors: dot ≡ cosine and the
    // caveat closes STRUCTURALLY. The beam here is exhaustive
    // (numCandidates ≥ corpus), so the contract is the exact cosine
    // ball with an epsilon band for the float rescale at the boundary.
    val emb = Tables(spark, sf, "embeddings")
    val scale = when(col("vec_id") % 2 === 0, lit(0.01d)).otherwise(lit(100.0d))
    val skewed = emb.select(col("vec_id"),
      transform(col("embedding"),
        x => (x.cast("double") * scale).cast("float")).as("embedding"))
    val g = new graft.sql.GraftSql(spark, new graft.sources.TopicCatalog(
      spark, java.nio.file.Files.createTempDirectory("graft_hnsw_norm").toString))
    g.registerSearchCorpus("hnsw_normed",
      skewed.select(col("vec_id").cast("string").as("content"),
        col("embedding").as("vector")),
      "content", "vector", maxRows = 0, numCandidates = 1000,
      indexType = "hnsw", normalize = true)
    val qs = queries
    qs.createOrReplaceTempView("hnsw_norm_qs")
    val served = g.execute("""SELECT query_id, search_results FROM hnsw_norm_qs,
LATERAL TABLE(RADIUS_SEARCH('hnsw_normed', 0.3, qv));""")
      .select(col("query_id"),
        expr("transform(coalesce(search_results, array()), m -> CAST(m.content AS BIGINT))")
          .as("hits"))
      .as[(Long, Seq[Long])].collect().toMap
    val cos = qs.crossJoin(emb.select(col("vec_id").as("mid"),
        col("embedding").as("cv")))
      .withColumn("c", graft.functions.VectorFunctions.cosine_similarity(
        col("qv"), col("cv")))
      .select(col("query_id"), col("mid"), col("c"))
      .as[(Long, Long, Double)].collect()
    val mustHave = cos.filter(_._3 >= 0.3 + 1e-4)
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val allowedBall = cos.filter(_._3 >= 0.3 - 1e-4)
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    mustHave.foreach { case (q, ms) =>
      val got = served.getOrElse(q, Seq.empty).toSet
      val missed = ms -- got
      assert(missed.isEmpty,
        s"query $q: cosine-ball members ${missed.take(5)} starved out of " +
          "the normalized graph serve")
      // the starvation victims were specifically the SMALL-norm members
      val smallMissed = missed.filter(_ % 2 == 0)
      assert(smallMissed.isEmpty, s"small-norm members missed: $smallMissed")
    }
    served.foreach { case (q, got) =>
      val ok = allowedBall.getOrElse(q, Set.empty)
      val extra = got.filterNot(ok)
      assert(extra.isEmpty, s"query $q served outside the ball: $extra")
    }
    g.execute("DROP SEARCH CORPUS hnsw_normed;").collect()
  }

  test("resident segments: every serve over a seeded build/append/delete/" +
      "compact/re-register history equals a cold restore, an unchanged " +
      "store serves without reading nodes/ or _meta/, DROP releases every " +
      "persisted RDD") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    val emb = Tables(spark, sf, "embeddings")
    val rng = new scala.util.Random(9)
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_hnsw_resident_idx"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val q = queries
    // every SQL execution's physical plan, through the (asynchronous)
    // listener bus; a marker query's arrival flushes what ran before it
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = plans.add(qe.executedPlan)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    object Aqe extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    def storeScans(): Seq[String] = {
      val tag = s"flush_${System.nanoTime()}"
      spark.range(1).select(lit(tag)).collect()
      val deadline = System.nanoTime() + 30000000000L
      while (!plans.asScala.exists(_.toString.contains(tag)) &&
          System.nanoTime() < deadline) Thread.sleep(10)
      val seen = plans.asScala.toSeq
      plans.clear()
      seen.flatMap(p => Aqe.collect(p) { case s: FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.toUri.getPath) }.flatten)
        .filter(r => r.startsWith(s"$path/nodes") || r.startsWith(s"$path/_meta"))
    }
    def serve(): Seq[(Long, Int, Long, Double)] = HnswSearch.searchIndex(spark,
        path, q, "query_id", "qv", k = 5, efSearch = 24)
      .select("query_id", "rank", "match_id", "score")
      .as[(Long, Int, Long, Double)].collect().sorted.toSeq
    def check(step: String): Unit = {
      val warm = serve()
      assert(warm.nonEmpty, s"$step: empty serve")
      assert(spark.sparkContext.getRDDStorageInfo.exists(i =>
        i.name == s"hnsw segments $path" && i.numCachedPartitions == i.numPartitions),
        s"$step: the segments are not resident after a serve")
      storeScans()
      assert(serve() == warm, s"$step: a second serve diverged")
      val scans = storeScans()
      assert(scans.isEmpty, s"$step: an unchanged store was read again: $scans")
      HnswSearch.clearResident()
      assert(serve() == warm, s"$step: the resident serve differs from a cold restore")
    }
    def subset(mod: Int, r: Int) = emb.filter(col("vec_id") % mod === r)
    spark.listenerManager.register(listener)
    try {
      HnswSearch.writeIndex(subset(3, 0).union(subset(3, 1)), "vec_id",
        "embedding", path, nShards = 2)
      check("build")
      HnswSearch.appendToIndex(subset(3, 2), "vec_id", "embedding", path,
        epoch = rng.nextInt(5).toLong)
      check("append epoch")
      val victims = rng.shuffle((0 until 200).toList).take(12).map(_.toLong)
      HnswSearch.deleteFromIndex(spark, path, victims.toDF("id"), "id")
      check("delete")
      HnswSearch.compactIndex(spark, path)
      check("compact")
      HnswSearch.writeIndex(subset(2, rng.nextInt(2)), "vec_id", "embedding",
        path, nShards = 3)
      check("re-register")
    } finally spark.listenerManager.unregister(listener)

    // the SQL facade: a build-once registration keeps its canonical
    // frame and graphs resident; re-registration and DROP release them
    val g = new graft.sql.GraftSql(spark, new graft.sources.TopicCatalog(
      spark, java.nio.file.Files.createTempDirectory("graft_hnsw_res").toString))
    // RDD ids, not a count: the context holds persisted RDDs weakly, so
    // an unrelated, unreachable one may leave the map at any time
    def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted()
    def register(c: org.apache.spark.sql.DataFrame): Unit =
      g.registerSearchCorpus("hnsw_resident", c.select(
          col("vec_id").cast("string").as("content"), col("embedding").as("vector")),
        "content", "vector", maxRows = 0, numCandidates = 50, indexType = "hnsw")
    q.createOrReplaceTempView("hnsw_resident_qs")
    def fed(): Seq[(Long, Seq[String])] = g.execute("""SELECT query_id, search_results
FROM hnsw_resident_qs, LATERAL TABLE(FEDERATED_SEARCH('hnsw_resident', 3, qv))""")
      .select(col("query_id"), col("search_results.content"))
      .as[(Long, Seq[String])].collect().sortBy(_._1).toSeq
    register(subset(2, 0))
    val first = fed()
    assert(first.forall(_._2.forall(_.toLong % 2 == 0)))
    assert(fed() == first)
    assert((persisted() -- before).nonEmpty, "nothing stayed resident")
    register(subset(2, 1))
    val again = fed()
    assert(again.forall(_._2.forall(_.toLong % 2 == 1)),
      "a re-registered corpus served the previous registration's frame")
    HnswSearch.clearResident()
    assert(fed() == again)
    g.execute("DROP SEARCH CORPUS hnsw_resident;").collect()
    val left = persisted() -- before
    assert(left.isEmpty, s"DROP SEARCH CORPUS left persisted RDDs $left behind")
  }
}
