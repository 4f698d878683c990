package graft

import org.apache.spark.sql.functions._
import graft.operators.{IvfSearch, VectorSearch}

class IvfSpec extends SparkSpec {

  private lazy val emb = Tables(spark, sf, "embeddings")
  private lazy val queries = emb.filter(col("vec_id") % 10 === 0)
    .select(col("vec_id").as("qid"), col("embedding").as("qv"))

  test("ivf returns k matches per query, self-match first (cosine-friendly data)") {
    val got = IvfSearch.ivfTopK(queries, "qid", "qv", emb, "vec_id", "embedding",
      k = 3, metric = "dot", nList = 8, nProbe = 2)
      .collect()
    val byQuery = got.groupBy(_.getLong(0))
    assert(byQuery.nonEmpty)
    byQuery.foreach { case (q, rows) =>
      assert(rows.length == 3, s"query $q should have 3 matches")
      // rank-1 row is the query itself: it always lands in its own probe cell
      val rank1 = rows.minBy(_.getInt(3))
      assert(rank1.getLong(1) == q)
    }
  }

  test("ivf recall vs exact top-k is reasonable at nProbe=half") {
    val exact = VectorSearch.topKFlat(queries, "qid", "qv", emb, "vec_id", "embedding",
      k = 3, metric = "dot")
      .select("qid", "match_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = IvfSearch.ivfTopK(queries, "qid", "qv", emb, "vec_id", "embedding",
      k = 3, metric = "dot", nList = 8, nProbe = 4)
      .select("qid", "match_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall too low")
  }

  test("centroid training is deterministic across runs") {
    val a = IvfSearch.trainCentroids(emb, "embedding", "vec_id", nList = 4, iters = 2)
    val b = IvfSearch.trainCentroids(emb, "embedding", "vec_id", nList = 4, iters = 2)
    assert(a.length == 4)
    a.zip(b).foreach { case (x, y) => assert(x.sameElements(y)) }
  }

  test("probing more cells never lowers recall") {
    def hits(nProbe: Int) =
      IvfSearch.ivfTopK(queries, "qid", "qv", emb, "vec_id", "embedding",
        k = 3, metric = "dot", nList = 8, nProbe = nProbe)
        .select("qid", "match_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = VectorSearch.topKFlat(queries, "qid", "qv", emb, "vec_id", "embedding",
      k = 3, metric = "dot")
      .select("qid", "match_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val r2 = exact.intersect(hits(2)).size
    val r8 = exact.intersect(hits(8)).size
    assert(r8 >= r2)
    assert(hits(8) == exact) // probing ALL cells = exact search
  }

  test("appendToIndex: appended vectors are searchable, pruning intact") {
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_append").toString
    // index the even half, then append the odd half without retraining
    IvfSearch.writeIndex(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", path, nList = 8, iters = 2)
    IvfSearch.appendToIndex(emb.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", path)
    // an appended vector finds ITSELF at rank 1 (cosine self-sim = 1;
    // a query always probes its own stored cell because assignment uses
    // the same stored centroids)
    val q = emb.filter(col("vec_id") === 61)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val got = IvfSearch.searchIndex(spark, path, q, "qid", "qv",
      k = 1, metric = "cosine", nProbe = 1).collect()
    assert(got.length == 1 && got.head.getLong(1) == 61L)
    // probe pruning still lists only the probed partitions
    val plan = IvfSearch.searchIndex(spark, path, q, "qid", "qv",
      k = 1, metric = "cosine", nProbe = 1)
    val scan = plan.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.requiredSchema.fieldNames.contains("vec") => f
    }.head
    assert(scan.selectedPartitions.partitionCount == 1)
    // full corpus present: index rows = even + odd halves
    assert(spark.read.parquet(s"$path/corpus").count() == emb.count())
  }

  test("append drift metric: quiet on in-distribution batches, fires on a drifted batch") {
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_drift").toString
    IvfSearch.writeIndex(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", path, nList = 8, iters = 2)
    // in-distribution: the held-out half of the SAME corpus
    val ok = IvfSearch.appendToIndex(emb.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", path)
    assert(ok.rows > 0 && !ok.retrainRecommended,
      s"in-distribution append flagged retrain: $ok")
    assert(ok.baselineMeanResidual > 0 && ok.meanResidual > 0)
    // drifted: a constant offset pushes every vector far from every
    // trained centroid — residuals blow past the baseline
    val shifted = emb.filter(col("vec_id") % 2 === 1)
      .select((col("vec_id") + 10000).as("vec_id"),
        transform(col("embedding"), x => x + lit(5.0f)).as("embedding"))
    val bad = IvfSearch.appendToIndex(shifted, "vec_id", "embedding", path)
    assert(bad.retrainRecommended, s"drifted append not flagged: $bad")
    assert(bad.meanResidual > IvfSearch.ResidualDriftFactor * bad.baselineMeanResidual)
    // a tiny in-distribution micro-batch is maximally skewed by
    // construction (2 rows in ≤2 cells) — the occupancy clause must not
    // false-fire on it
    val tiny = IvfSearch.appendToIndex(
      emb.filter(col("vec_id").isin(3L, 5L))
        .select((col("vec_id") + 20000).as("vec_id"), col("embedding")),
      "vec_id", "embedding", path)
    assert(tiny.rows == 2 && !tiny.retrainRecommended,
      s"tiny in-distribution append flagged retrain: $tiny")
  }

  test("ivfIndexStream: stream-ingested vectors become searchable") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_stream_idx").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft_ivf_stream_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ivf_stream_ck").toString
    IvfSearch.writeIndex(emb.filter(col("vec_id") < 400),
      "vec_id", "embedding", path, nList = 8, iters = 2)
    // late vectors arrive as files on a stream
    val late = emb.filter(col("vec_id") >= 400)
    late.write.mode("overwrite").parquet(srcDir)
    val stream = graft.streaming.Streams.fileStream(spark, srcDir, late.schema)
    graft.streaming.Streams.indexStream(graft.operators.IvfSearch,
      stream, "vec_id", "embedding", path, ckpt)
      .awaitTermination()
    val q = emb.filter(col("vec_id") === 460)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val got = IvfSearch.searchIndex(spark, path, q, "qid", "qv",
      k = 1, metric = "cosine", nProbe = 1).collect()
    assert(got.length == 1 && got.head.getLong(1) == 460L)
  }

  test("chunkIndexStream: streamed documents' chunks become searchable") {
    import spark.implicits._
    import graft.operators.Corpus
    import graft.functions.HashEmbedder
    val docs = Tables(spark, sf, "documents")
    val path = java.nio.file.Files.createTempDirectory("graft_chunk_idx").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft_chunk_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_chunk_ck").toString
    def chunksOf(d: org.apache.spark.sql.DataFrame) =
      Corpus.chunkTokens(d, "doc_id", "text", 32, 8)
        .withColumn("chunk_uid", col("id") * 1000000L + col("chunk_id"))
        .withColumn("emb", HashEmbedder.embedCol(col("chunk_text")))
    // index seeded from the first docs' chunks (the offline train leg)
    IvfSearch.writeIndex(chunksOf(docs.filter(col("doc_id") < 40)),
      "chunk_uid", "emb", path, nList = 8, iters = 2)
    // late documents arrive on the stream — chunked + embedded + appended
    val late = docs.filter(col("doc_id") >= 40)
    late.write.mode("overwrite").parquet(srcDir)
    var stats = List.empty[graft.operators.AppendStats]
    graft.streaming.Streams.chunkIndexStream(
      graft.streaming.Streams.fileStream(spark, srcDir, late.schema),
      "doc_id", "text", path, ckpt, onStats = s => stats ::= s)
      .awaitTermination()
    assert(stats.nonEmpty && stats.map(_.rows).sum > 0, "no chunks appended")
    // a late chunk queried by its own embedding retrieves a chunk with
    // IDENTICAL text (itself, or a byte-identical chunk that ties at 1.0)
    val lateChunks = chunksOf(late).localCheckpoint()
    val probe = lateChunks.orderBy("chunk_uid").limit(3)
      .select(col("chunk_uid").as("qid"), col("emb").as("qv"))
    val texts = chunksOf(docs).select("chunk_uid", "chunk_text")
      .as[(Long, String)].collect().toMap
    val hits = IvfSearch.searchIndex(spark, path, probe, "qid", "qv",
      k = 1, metric = "cosine", nProbe = 8).collect()
    assert(hits.length == 3)
    hits.foreach { r =>
      val qid = r.getLong(0); val mid = r.getLong(1)
      assert(texts(qid) == texts(mid),
        s"query chunk $qid retrieved $mid with different text")
    }
  }

  test("compactIndex: probe-identical after append-decay consolidation") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_cmp").toString
    IvfSearch.writeIndex(emb.filter(col("vec_id") < 200),
      "vec_id", "embedding", path, nList = 8, iters = 2)
    // three appends: each lands its own file in every touched cell dir
    for (lo <- Seq(200, 300, 400))
      IvfSearch.appendToIndex(
        emb.filter(col("vec_id") >= lo && col("vec_id") < lo + 100),
        "vec_id", "embedding", path)
    val q = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    def probe() = IvfSearch.searchIndex(spark, path, q, "qid", "qv",
        k = 3, metric = "dot", nProbe = 3)
      .orderBy("qid", "rank").collect().map(_.toString).toSeq
    val pre = probe()
    val (before, after) = IvfSearch.compactIndex(spark, path)
    assert(after < before, s"no consolidation: $before -> $after")
    assert(after <= 8, s"more than one file per cell: $after")
    assert(probe() == pre && pre.nonEmpty)
    // pruning still applies: a 2-cell probe lists exactly 2 partitions
    val one = emb.filter(col("vec_id") === 60)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val planned = IvfSearch.searchIndex(spark, path, one, "qid", "qv",
      k = 3, metric = "dot", nProbe = 2)
    val scan = planned.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.requiredSchema.fieldNames.contains("vec") => f
    }.head
    assert(scan.selectedPartitions.partitionCount == 2)
    // the store remains appendable after the swap
    IvfSearch.appendToIndex(emb.limit(0), "vec_id", "embedding", path)
  }

  test("concurrent in-process compactors serialize on the store monitor") {
    // two threads compacting the same store must run one-after-another
    // (the monitor), not race the rename swap; both succeed and the
    // store stays probe-identical
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_conc").toString
    IvfSearch.writeIndex(emb.filter(col("vec_id") < 200),
      "vec_id", "embedding", path, nList = 4, iters = 1)
    IvfSearch.appendToIndex(emb.filter(col("vec_id") >= 200 && col("vec_id") < 300),
      "vec_id", "embedding", path)
    val q = emb.filter(col("vec_id") === 60)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    def probe() = IvfSearch.searchIndex(spark, path, q, "qid", "qv",
        k = 3, metric = "dot", nProbe = 4).collect().map(_.toString).toSeq
    val pre = probe()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val runs = Seq.fill(2)(Future(IvfSearch.compactIndex(spark, path)))
    val results = Await.result(Future.sequence(runs), 300.seconds)
    assert(results.length == 2, "both compactors must complete")
    assert(probe() == pre && pre.nonEmpty)
    assert(!new java.io.File(path, ".compact.lock").exists())
  }

  test("compactIndex: single active compactor enforced via the on-disk lease") {
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_lock").toString
    IvfSearch.writeIndex(emb.filter(col("vec_id") < 100),
      "vec_id", "embedding", path, nList = 4, iters = 1)
    // a LIVE lock (fresh mtime) in another process fails this one fast
    val lock = new java.io.File(path, ".compact.lock")
    assert(lock.createNewFile())
    val e = intercept[IllegalStateException] {
      IvfSearch.compactIndex(spark, path)
    }
    assert(e.getMessage.contains("compaction already in progress"))
    // a STALE lock is a crashed compactor's leftover — taken over
    assert(lock.setLastModified(System.currentTimeMillis() -
      graft.operators.IndexMaintenance.CompactionLeaseMillis - 60000))
    IvfSearch.compactIndex(spark, path) // succeeds
    assert(!lock.exists(), "lease not released after compaction")
    // and the atomic rename-takeover leaves no tombstone debris behind
    val debris = new java.io.File(path).listFiles()
      .map(_.getName).filter(_.startsWith(".compact.lock"))
    assert(debris.isEmpty, s"lock debris after takeover: ${debris.mkString(",")}")
  }

  test("store lock: a usurped holder fails loudly and never deletes the usurper's lock") {
    // lease overrun: a body that runs past CompactionLeaseMillis gets
    // legitimately taken over by another process. The overrun holder's
    // release must not delete the usurper's lock (that would cascade the
    // broken-lease state), and completing the body must FAIL — its
    // writes may have raced the takeover's.
    val root = java.nio.file.Files.createTempDirectory("graft_lock_usurp").toString
    val lock = new java.io.File(root, ".compact.lock")
    val e = intercept[IllegalStateException] {
      graft.operators.IndexMaintenance.withStoreLock(spark, root) {
        // another process deems our lease stale and takes over mid-body
        assert(lock.delete())
        java.nio.file.Files.write(lock.toPath, "intruder-token".getBytes("UTF-8"))
      }
    }
    assert(e.getMessage.contains("usurped"), e.getMessage)
    assert(lock.exists, "usurper's lock must survive the overrun holder's release")
    assert(new String(java.nio.file.Files.readAllBytes(lock.toPath), "UTF-8")
      == "intruder-token", "usurper's lock content must be untouched")
  }

  test("persisted index: partition-pruned probe equals in-memory search") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString
    IvfSearch.writeIndex(emb, "vec_id", "embedding", path, nList = 8, iters = 2)
    // a specific row, not limit(1): an unordered limit may pick a
    // different row on each of the two evaluations below
    val oneQuery = emb.filter(col("vec_id") === 60)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val fromIndex = IvfSearch.searchIndex(spark, path, oneQuery, "qid", "qv",
      k = 3, metric = "dot", nProbe = 2)
    // the corpus scan lists ONLY the probed cells' partition directories
    val scan = fromIndex.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.requiredSchema.fieldNames.contains("vec") => f
    }.head
    assert(scan.selectedPartitions.partitionCount == 2,
      s"expected 2 probed partitions, got ${scan.selectedPartitions.partitionCount}")
    // identical results to the in-memory path with the same centroids
    val centroids = IvfSearch.loadCentroids(spark, path)
    val celled = emb.select(col("vec_id").as("match_id"), col("embedding").as("__cvec"),
      IvfSearch.nearestCell(centroids)(col("embedding")).as("cell"))
    val probed = oneQuery.select(col("qid"), col("qv"),
      explode(IvfSearch.nearestCells(centroids, 2)(col("qv"))).as("cell"))
    val expected = probed.join(celled, "cell")
      .withColumn("score", graft.functions.VectorFunctions.dot_product(col("qv"), col("__cvec")))
      .orderBy(col("score").desc, col("match_id")).limit(3)
      .select("match_id").as[Long].collect().toSeq
    val got = fromIndex.orderBy("rank").select("match_id").as[Long].collect().toSeq
    assert(got == expected, s"got=$got expected=$expected")
  }

  test("payload store: filtered searchIndex pre-filters inside the pruned " +
      "scan and equals the filtered exact result at a full probe") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_filt").toString
    val pred = col("label") % 4 === 1
    IvfSearch.writeIndex(emb, "vec_id", "embedding", path,
      nList = 4, payload = Seq("label"))
    // nProbe = nList: every cell probed, so the filtered serve must agree
    // with the exact filtered ground truth EXACTLY (no recall slack)
    val got = IvfSearch.searchIndex(spark, path, queries, "qid", "qv",
        k = 3, metric = "dot", nProbe = 4, filter = pred)
      .select("qid", "match_id", "rank").as[(Long, Long, Int)].collect().toSet
    val want = VectorSearch.topKFiltered(queries, "qid", "qv",
        emb.filter(pred), "vec_id", "embedding", lit(true), 3, "dot")
      .select("qid", "match_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(got == want)
    assert(got.nonEmpty)
    // the predicate is enforced in the store, not post-hoc: no returned id
    // may be outside the admitted subset
    val admitted = emb.filter(pred).select("vec_id").as[Long].collect().toSet
    got.foreach { case (_, m, _) => assert(admitted(m)) }
    // and the predicate reaches the parquet reader as a pushed filter on
    // the payload column (stacked on the cell partition pruning)
    val plan = IvfSearch.searchIndex(spark, path, queries, "qid", "qv",
        k = 3, metric = "dot", nProbe = 2, filter = pred)
      .queryExecution.sparkPlan
    val scan = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.requiredSchema.fieldNames.contains("vec") => f
    }.head
    assert(scan.metadata("PushedFilters").contains("label"),
      s"label predicate not pushed: ${scan.metadata("PushedFilters")}")
    assert(scan.selectedPartitions.partitionCount <= 2 * 2,
      "partition pruning lost under the payload filter")
  }

  test("payload columns may not shadow reserved store columns") {
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_resv").toString
    val e = intercept[IllegalArgumentException] {
      IvfSearch.writeIndex(emb.withColumn("cell", lit(1)), "vec_id",
        "embedding", path, nList = 4, payload = Seq("cell"))
    }
    assert(e.getMessage.contains("reserved"))
  }

  test("payload store appends: payload rides along; a payload-less batch " +
      "fails loudly instead of serving NULLs under the filter") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_fappend").toString
    val pred = col("label") % 4 === 1
    IvfSearch.writeIndex(emb.filter(col("vec_id") < 300), "vec_id", "embedding",
      path, nList = 4, payload = Seq("label"))
    // an admitted vector beyond the base build, appended WITH its payload
    val extra = emb.filter(col("vec_id") >= 300 && pred)
    IvfSearch.appendToIndex(extra, "vec_id", "embedding", path, epoch = 1L)
    val apId = extra.select("vec_id").as[Long].collect().head
    val oneQuery = emb.filter(col("vec_id") === apId)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val got = IvfSearch.searchIndex(spark, path, oneQuery, "qid", "qv",
        k = 1, metric = "cosine", nProbe = 4, filter = pred)
      .select("match_id").as[Long].collect()
    assert(got.sameElements(Array(apId)),
      s"appended admitted vector not served under the filter: ${got.toSeq}")
    // and a batch WITHOUT the payload column is rejected by the store
    val e = intercept[IllegalArgumentException] {
      IvfSearch.appendToIndex(
        emb.filter(col("vec_id") >= 300).select("vec_id", "embedding"),
        "vec_id", "embedding", path, epoch = 2L)
    }
    assert(e.getMessage.contains("payload"))
    // ...as is a batch whose payload column carries a DIFFERENT TYPE:
    // mixed-type parquet files serve only while column pruning hides
    // them, then fail the whole store at compaction or under a payload
    // predicate — the append is the only gate that can refuse in time
    val e2 = intercept[IllegalArgumentException] {
      IvfSearch.appendToIndex(
        emb.filter(col("vec_id") >= 300)
          .withColumn("label", col("label").cast("long")),
        "vec_id", "embedding", path, epoch = 2L)
    }
    assert(e2.getMessage.contains("diverge"), e2.getMessage)
  }

  test("deleteFromIndex lifecycle: serve-time death, LWW re-ingest, " +
      "physical removal + tombstone retirement at compaction") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_del").toString
    val base = emb.filter(col("vec_id") < 200)
    IvfSearch.writeIndex(base, "vec_id", "embedding", path, nList = 4)
    val victims = base.filter(col("vec_id") % 10 === 0).select("vec_id")
    val victimIds = victims.as[Long].collect().toSet
    val e = IvfSearch.deleteFromIndex(spark, path, victims, "vec_id")
    assert(e == -1L, s"base-only store's newest epoch is -1, got $e")
    // full probe = exact: no victim may occupy any slot, even queried
    // with its OWN vector
    def serve(): Map[Long, Seq[Long]] =
      IvfSearch.searchIndex(spark, path,
          base.select(col("vec_id").as("qid"), col("embedding").as("qv")),
          "qid", "qv", k = 1, metric = "cosine", nProbe = 4)
        .select("qid", "match_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val afterDelete = serve()
    afterDelete.values.flatten.foreach(m => assert(!victimIds(m),
      s"deleted id $m served"))
    // a deleted id queried by its own vector no longer self-matches
    assert(afterDelete(0L) != Seq(0L))
    // LWW: re-ingesting ONE victim at a later epoch revives exactly it
    IvfSearch.appendToIndex(emb.filter(col("vec_id") === 0), "vec_id",
      "embedding", path, epoch = 1L)
    val afterRevive = serve()
    assert(afterRevive(0L) == Seq(0L), "re-ingested id must serve again")
    afterRevive.values.flatten.foreach(m =>
      assert(!victimIds(m) || m == 0L, s"still-dead id $m served"))
    // compaction: victims leave the store physically, tombstones retire
    IvfSearch.compactIndex(spark, path)
    assert(!graft.operators.Tombstones.exists(spark, path),
      "fully-applied tombstones must retire at compaction")
    val stored = spark.read.parquet(s"$path/corpus").select("id")
      .as[Long].collect().toSet
    victimIds.filter(_ != 0L).foreach(v =>
      assert(!stored(v), s"dead id $v still in the compacted store"))
    assert(stored(0L))
    assert(serve() == afterRevive, "compaction changed serve results")
  }

  test("deleteFromIndex + in-flight epoch: compaction retains the live " +
      "tombstone so a replayed micro-batch cannot resurrect dead rows") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_del_if").toString
    IvfSearch.writeIndex(emb.filter(col("vec_id") < 100), "vec_id",
      "embedding", path, nList = 4)
    // in-flight epoch 7 lands, then its ids are deleted (tomb epoch 7)
    val inflight = emb.filter(col("vec_id") >= 100 && col("vec_id") < 110)
    IvfSearch.appendToIndex(inflight, "vec_id", "embedding", path, epoch = 7L)
    IvfSearch.deleteFromIndex(spark, path,
      inflight.select("vec_id"), "vec_id", epoch = Some(7L))
    // compact around the in-flight epoch: tombstone must SURVIVE
    IvfSearch.compactIndex(spark, path, excludeEpoch = 7L)
    assert(graft.operators.Tombstones.exists(spark, path),
      "tombstone covering the in-flight epoch must be retained")
    // the replay rewrites epoch 7 (at-least-once) — rows come back on
    // disk, but the retained tombstone keeps them dead at serve time
    IvfSearch.appendToIndex(inflight, "vec_id", "embedding", path, epoch = 7L)
    val served = IvfSearch.searchIndex(spark, path,
        inflight.select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid", "qv", k = 1, metric = "cosine", nProbe = 4)
      .select("match_id").as[Long].collect().toSet
    val dead = inflight.select("vec_id").as[Long].collect().toSet
    assert(served.intersect(dead).isEmpty,
      s"replayed dead rows served: ${served.intersect(dead)}")
    // final full compaction retires everything
    IvfSearch.compactIndex(spark, path)
    assert(!graft.operators.Tombstones.exists(spark, path))
  }

  test("ivfCdcStream: tombstones delete, upserts replace (no duplicate " +
      "rows), later drains keep winning, compaction cadence heals") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_cdc_idx").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft_ivf_cdc_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ivf_cdc_ck").toString
    IvfSearch.writeIndex(emb.filter(col("vec_id") < 100),
      "vec_id", "embedding", path, nList = 4)
    val schema = emb.select(col("vec_id"), col("embedding")).schema
    def serveSelf(id: Long): Seq[Long] = {
      val q = emb.filter(col("vec_id") === id)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      IvfSearch.searchIndex(spark, path, q, "qid", "qv",
        k = 1, metric = "cosine", nProbe = 4)
        .select("match_id").as[Long].collect().toSeq
    }
    // drain 1: delete id 0 (tombstone = null vector), upsert id 50 with
    // id 300's vector (a REPLACE — the old self-vector must die with it)
    emb.filter(col("vec_id") === 0)
      .select(col("vec_id"), lit(null).cast(schema("embedding").dataType).as("embedding"))
      .unionByName(emb.filter(col("vec_id") === 300)
        .select(lit(50L).as("vec_id"), col("embedding")))
      .write.mode("overwrite").parquet(srcDir)
    val stream = graft.streaming.Streams.fileStream(spark, srcDir, schema)
    graft.streaming.Streams.cdcStream(graft.operators.IvfSearch,
      stream, "vec_id", "embedding", path, ckpt).awaitTermination()
    assert(serveSelf(0L) != Seq(0L), "tombstoned id still serves")
    // id 50 now carries id 300's vector: querying WITH that vector
    // self-matches 50 exactly once; querying with 50's OLD vector no
    // longer finds 50 first
    val q300 = emb.filter(col("vec_id") === 300)
      .select(lit(50L).as("qid"), col("embedding").as("qv"))
    val hits = IvfSearch.searchIndex(spark, path, q300, "qid", "qv",
        k = 2, metric = "cosine", nProbe = 4)
      .select("match_id").as[Long].collect().toSeq
    assert(hits.head == 50L, s"replaced vector must serve the id: $hits")
    assert(serveSelf(50L) != Seq(50L), "the OLD vector of an upserted id must be dead")
    // drain 2 over the same checkpoint: re-insert id 0 — LWW revives it
    emb.filter(col("vec_id") === 0).select("vec_id", "embedding")
      .write.mode("overwrite").parquet(srcDir)
    graft.streaming.Streams.cdcStream(graft.operators.IvfSearch,
      graft.streaming.Streams.fileStream(spark, srcDir, schema),
      "vec_id", "embedding", path, ckpt, compactEvery = 1).awaitTermination()
    assert(serveSelf(0L) == Seq(0L), "re-inserted id must serve again")
    // the in-flight epoch's tombstones survive the cadence compaction;
    // a final offline compaction retires everything
    IvfSearch.compactIndex(spark, path)
    assert(!graft.operators.Tombstones.exists(spark, path))
    assert(serveSelf(0L) == Seq(0L))
    assert(serveSelf(50L) != Seq(50L))
  }

  test("ivfCdcStream: unordered multi-change batches are rejected; seqCol resolves them") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_cdc2_idx").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft_ivf_cdc2_src").toString
    IvfSearch.writeIndex(emb.filter(col("vec_id") < 100),
      "vec_id", "embedding", path, nList = 4)
    val vec0 = emb.filter(col("vec_id") === 0)
      .select(col("vec_id"), col("embedding"), lit(1L).as("seq"))
    val tomb0 = emb.filter(col("vec_id") === 0)
      .select(col("vec_id"),
        lit(null).cast(vec0.schema("embedding").dataType).as("embedding"),
        lit(2L).as("seq"))
    val both = vec0.unionByName(tomb0)
    both.write.mode("overwrite").parquet(srcDir)
    val schema = both.schema
    // unordered: ambiguous -> the micro-batch fails loudly
    val ckpt1 = java.nio.file.Files.createTempDirectory("graft_ivf_cdc2_ck1").toString
    val q1 = graft.streaming.Streams.cdcStream(graft.operators.IvfSearch,
      graft.streaming.Streams.fileStream(spark, srcDir, schema)
        .select("vec_id", "embedding"),
      "vec_id", "embedding", path, ckpt1)
    val e = intercept[Exception] { q1.awaitTermination() }
    assert(e.getMessage != null && e.getMessage.contains("seqCol") ||
      e.getCause != null && e.getCause.getMessage.contains("seqCol"))
    // with seqCol, the latest change (the tombstone) wins. The retry
    // RESTARTS the SAME checkpoint (batch 0 never committed, so it
    // replays under the fixed config) — the single-writer claim makes a
    // fresh checkpoint on an already-claimed store a refusal, and
    // restarting the owning checkpoint is the blessed remediation
    graft.streaming.Streams.cdcStream(graft.operators.IvfSearch,
      graft.streaming.Streams.fileStream(spark, srcDir, schema),
      "vec_id", "embedding", path, ckpt1, seqCol = Some("seq"))
      .awaitTermination()
    val q = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val got = IvfSearch.searchIndex(spark, path, q, "qid", "qv",
      k = 1, metric = "cosine", nProbe = 4).select("match_id").as[Long].collect()
    assert(!got.contains(0L), "seq-resolved tombstone must delete the id")
  }

  test("deleting an empty id set is a no-op, never a schema trap") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_del0").toString
    IvfSearch.writeIndex(emb.filter(col("vec_id") < 100), "vec_id",
      "embedding", path, nList = 4)
    IvfSearch.deleteFromIndex(spark, path,
      emb.filter(col("vec_id") < 0).select("vec_id"), "vec_id")
    assert(!graft.operators.Tombstones.exists(spark, path),
      "empty delete left a tombstones dir behind")
    // serve still works (an empty-file tombstones dir would kill the
    // schema inference of every later probe)
    val q = emb.filter(col("vec_id") === 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val got = IvfSearch.searchIndex(spark, path, q, "qid", "qv",
      k = 1, metric = "cosine", nProbe = 4).select("match_id").as[Long].collect()
    assert(got.sameElements(Array(10L)))
  }

  test("ivfCdcStream feeds a PAYLOAD (filtered-search) store: upserts " +
      "carry their metadata into the filtered serve") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_cdcp_idx").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft_ivf_cdcp_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ivf_cdcp_ck").toString
    IvfSearch.writeIndex(emb.filter(col("vec_id") < 100),
      "vec_id", "embedding", path, nList = 4, payload = Seq("label"))
    val oldLabel50 = emb.filter(col("vec_id") === 50)
      .select(col("label").cast("long")).as[Long].head()
    // one drain, no seqCol: delete id 0; upsert id 50 with id 300's
    // vector and a FRESH label (999) — the payload must ride the upsert
    val schema = emb.select(col("vec_id"), col("embedding"), col("label")).schema
    emb.filter(col("vec_id") === 0)
      .select(col("vec_id"),
        lit(null).cast(schema("embedding").dataType).as("embedding"),
        lit(null).cast(schema("label").dataType).as("label"))
      .unionByName(emb.filter(col("vec_id") === 300)
        .select(lit(50L).as("vec_id"), col("embedding"),
          lit(999).cast(schema("label").dataType).as("label")))
      .write.mode("overwrite").parquet(srcDir)
    graft.streaming.Streams.cdcStream(graft.operators.IvfSearch,
      graft.streaming.Streams.fileStream(spark, srcDir, schema),
      "vec_id", "embedding", path, ckpt).awaitTermination()
    val q300 = emb.filter(col("vec_id") === 300)
      .select(lit(50L).as("qid"), col("embedding").as("qv"))
    def serveUnder(f: org.apache.spark.sql.Column): Seq[Long] =
      IvfSearch.searchIndex(spark, path, q300, "qid", "qv", k = 1,
          metric = "cosine", nProbe = 4, filter = f)
        .select("match_id").as[Long].collect().toSeq
    assert(serveUnder(col("label") === 999L) == Seq(50L),
      "upserted payload not visible to the filtered serve")
    assert(serveUnder(col("label") === oldLabel50) != Seq(50L),
      "the upserted id still serves under its OLD payload")
    // the seqCol path preserves payload too: a SECOND drain of the SAME
    // stream (one checkpoint owns the store's epoch order) delivers two
    // ordered changes to id 50 in one batch — the latest (label 1000)
    // wins whole, vector and payload together
    val srcDir2 = java.nio.file.Files.createTempDirectory("graft_ivf_cdcp_src2").toString
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft_ivf_cdcp_store2").toString
    val path2 = ckpt2 // fresh store for the seq scenario, one writer
    IvfSearch.writeIndex(emb.filter(col("vec_id") < 100),
      "vec_id", "embedding", s"$path2/idx", nList = 4, payload = Seq("label"))
    emb.filter(col("vec_id") === 300)
      .select(lit(50L).as("vec_id"), col("embedding"),
        lit(999).cast(schema("label").dataType).as("label"), lit(1L).as("seq"))
      .unionByName(emb.filter(col("vec_id") === 300)
        .select(lit(50L).as("vec_id"), col("embedding"),
          lit(1000).cast(schema("label").dataType).as("label"), lit(2L).as("seq")))
      .write.mode("overwrite").parquet(srcDir2)
    val schema2 = org.apache.spark.sql.types.StructType(schema.fields :+
      org.apache.spark.sql.types.StructField("seq",
        org.apache.spark.sql.types.LongType))
    graft.streaming.Streams.cdcStream(graft.operators.IvfSearch,
      graft.streaming.Streams.fileStream(spark, srcDir2, schema2),
      "vec_id", "embedding", s"$path2/idx",
      java.nio.file.Files.createTempDirectory("graft_ivf_cdcp_ck2").toString,
      seqCol = Some("seq")).awaitTermination()
    def serveUnder2(f: org.apache.spark.sql.Column): Seq[Long] =
      IvfSearch.searchIndex(spark, s"$path2/idx", q300, "qid", "qv", k = 1,
          metric = "cosine", nProbe = 4, filter = f)
        .select("match_id").as[Long].collect().toSeq
    assert(serveUnder2(col("label") === 1000L) == Seq(50L),
      "seq-resolved upsert lost its payload")
    assert(serveUnder2(col("label") === 999L) != Seq(50L))
  }

  test("radiusIndex: precision 1.0, full probe equals the exact radius, " +
      "tombstones and payload filters honored") {
    import spark.implicits._
    val corpus = emb.filter(col("vec_id") < 300)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_rad").toString
    IvfSearch.writeIndex(corpus, "vec_id", "embedding", path, nList = 8,
      payload = Seq("label"))
    val qs = corpus.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "match_id").as[(Long, Long)].collect().toSet
    val exact = pairs(graft.operators.VectorSearch.radiusFlat(qs, "qid", "qv",
      corpus, "vec_id", "embedding", 0.3, "cosine"))
    // pruned probe: every emitted pair genuinely clears the threshold
    // (subset of exact — precision 1.0 by construction)
    val pruned = pairs(IvfSearch.radiusIndex(spark, path, qs, "qid", "qv",
      0.3, "cosine", nProbe = 2))
    assert(pruned.nonEmpty && pruned.subsetOf(exact))
    // probing EVERY cell is the exact radius
    val full = pairs(IvfSearch.radiusIndex(spark, path, qs, "qid", "qv",
      0.3, "cosine", nProbe = 8))
    assert(full == exact, "full-probe radius diverged from radiusFlat")
    // payload filter: admitted pairs only, exact over the admitted set
    val fullFiltered = pairs(IvfSearch.radiusIndex(spark, path, qs, "qid",
      "qv", 0.3, "cosine", nProbe = 8, filter = col("label") % 4 === 1))
    val admitted = corpus.filter(col("label") % 4 === 1)
      .select("vec_id").as[Long].collect().toSet
    assert(fullFiltered == exact.filter { case (_, m) => admitted(m) })
    // a deleted match vanishes from the ball immediately
    val victim = exact.head._2
    IvfSearch.deleteFromIndex(spark, path,
      Seq(victim).toDF("vec_id"), "vec_id")
    val afterDelete = pairs(IvfSearch.radiusIndex(spark, path, qs, "qid",
      "qv", 0.3, "cosine", nProbe = 8))
    assert(afterDelete == exact.filter(_._2 != victim),
      "tombstoned id still inside the radius ball")
  }

  test("explainProbe: counters match an independent recount at pruned " +
      "probes; ranks equal searchIndex's") {
    import spark.implicits._
    val corpus = emb.filter(col("vec_id") < 300)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_expl").toString
    IvfSearch.writeIndex(corpus, "vec_id", "embedding", path, nList = 8)
    val qs = corpus.filter(col("vec_id") % 40 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val expl = IvfSearch.explainProbe(spark, path, qs, "qid", "qv",
      k = 3, metric = "dot", nProbe = 2).collect()
    assert(expl.nonEmpty && expl.forall(_.getInt(3) == 2), "cells_probed")
    // executor stat: candidates_scanned == live rows in the query's own
    // probed cells, recounted independently from the store
    val centroids = IvfSearch.loadCentroids(spark, path)
    val stored = spark.read.parquet(s"$path/corpus")
      .groupBy("cell").count().as[(Int, Long)].collect().toMap
    val qcells = qs.select(col("qid"),
        IvfSearch.nearestCells(centroids, 2)(col("qv")).as("cells"))
      .as[(Long, Seq[Int])].collect().toMap
    expl.foreach { r =>
      val want = qcells(r.getLong(0)).map(c => stored.getOrElse(c, 0L)).sum
      assert(r.getLong(4) == want,
        s"query ${r.getLong(0)}: candidates_scanned ${r.getLong(4)} != recount $want")
    }
    // the frame's (id, rank) pairs are searchIndex's own
    val plain = IvfSearch.searchIndex(spark, path, qs, "qid", "qv",
        k = 3, metric = "dot", nProbe = 2)
      .select("qid", "match_id", "rank").collect().map(_.toString).sorted.toSeq
    assert(expl.map(r => org.apache.spark.sql.Row(
      r.getLong(0), r.getLong(1), r.getInt(2)).toString).sorted.toSeq == plain)
    // cells_probed reflects REALITY, not the declared budget: a probe
    // beyond the store's cell count clamps to nList
    val over = IvfSearch.explainProbe(spark, path, qs, "qid", "qv",
      k = 3, metric = "dot", nProbe = 99).collect()
    assert(over.nonEmpty && over.forall(_.getInt(3) == 8),
      "cells_probed must clamp at the store's cell count")
    // a query whose probed cells yield ZERO candidates must stay in the
    // frame (candidates_scanned = 0, null match) — the queries that most
    // need explaining must not vanish
    val none = IvfSearch.explainProbe(spark, path, qs, "qid", "qv",
      k = 3, metric = "dot", nProbe = 2,
      filter = org.apache.spark.sql.functions.lit(false)).collect()
    val qids = qs.select("qid").collect().map(_.getLong(0)).toSet
    assert(none.map(_.getLong(0)).toSet == qids, "every query present")
    assert(none.forall(r => r.getLong(4) == 0L && r.isNullAt(1)),
      "zero-candidate queries must show candidates_scanned = 0")
  }

  test("IvfSqIndex.radiusIndex: exact re-score gives precision 1.0; " +
      "full probe + margin recovers the exact radius on SQ8 codes") {
    import spark.implicits._
    val corpus = emb.filter(col("vec_id") < 300)
    val path = java.nio.file.Files.createTempDirectory("graft_ivfsq_rad").toString
    graft.operators.IvfSqIndex.writeIndex(corpus, "vec_id", "embedding",
      path, nList = 8, payload = Seq("label"))
    val qs = corpus.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "match_id").as[(Long, Long)].collect().toSet
    val exact = pairs(graft.operators.VectorSearch.radiusFlat(qs, "qid", "qv",
      corpus, "vec_id", "embedding", 0.3, "cosine"))
    // pruned probe: subset of exact (the re-score cuts at the TRUE
    // threshold, so quantization can only lose candidates, never admit
    // a pair outside the ball)
    val pruned = pairs(graft.operators.IvfSqIndex.radiusIndex(spark, path,
      qs, "qid", "qv", corpus, "vec_id", "embedding", 0.3, "cosine",
      nProbe = 2))
    assert(pruned.nonEmpty && pruned.subsetOf(exact))
    // full probe: the default margin absorbs the SQ8 half-step error, so
    // the relaxed pre-pass admits every true member — exact radius back
    val full = pairs(graft.operators.IvfSqIndex.radiusIndex(spark, path,
      qs, "qid", "qv", corpus, "vec_id", "embedding", 0.3, "cosine",
      nProbe = 8))
    assert(full == exact, "full-probe SQ8 radius diverged from radiusFlat")
    // payload pushdown on the compressed radius scan
    val fullFiltered = pairs(graft.operators.IvfSqIndex.radiusIndex(spark,
      path, qs, "qid", "qv", corpus, "vec_id", "embedding", 0.3, "cosine",
      nProbe = 8, filter = col("label") % 4 === 1))
    val admitted = corpus.filter(col("label") % 4 === 1)
      .select("vec_id").as[Long].collect().toSet
    assert(fullFiltered == exact.filter { case (_, m) => admitted(m) })
    // decode is encode's inverse up to the half-step error
    val m = graft.operators.SqSearch.loadModel(spark, s"$path/sqmodel")
    val v = corpus.select(col("embedding")).head().getSeq[Float](0).toArray
    val rt = graft.operators.SqSearch.decodeVec(m,
      graft.operators.SqSearch.encodeVec(m, v))
    v.indices.foreach { d =>
      val step = math.max((m.hi(d) - m.lo(d)) / 255f, 1e-6f)
      assert(math.abs(rt(d) - v(d)) <= step,
        s"dim $d: round-trip error ${math.abs(rt(d) - v(d))} > step $step")
    }
  }
}
