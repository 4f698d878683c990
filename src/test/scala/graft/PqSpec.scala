package graft

import org.apache.spark.sql.functions._
import graft.operators.{PqSearch, VectorSearch}

class PqSpec extends SparkSpec {

  private lazy val emb = Tables(spark, sf, "embeddings")
  private lazy val queries = emb.filter(col("vec_id") % 10 === 0)
    .select(col("vec_id").as("qid"), col("embedding").as("qv"))

  test("pq returns k matches per query, self-match first") {
    val got = PqSearch.pqTopK(queries, "qid", "qv", emb, "vec_id", "embedding",
      k = 3, metric = "dot", m = 8, kCodes = 16, numCandidates = 100)
      .collect()
    val byQuery = got.groupBy(_.getLong(0))
    assert(byQuery.nonEmpty)
    byQuery.foreach { case (q, rows) =>
      assert(rows.length == 3, s"query $q should have 3 matches")
      // the query's own vector shares every code with itself, so it tops
      // the ADC scan and the exact re-rank confirms it at rank 1
      val rank1 = rows.minBy(_.getInt(3))
      assert(rank1.getLong(1) == q, s"query $q rank1=${rank1.getLong(1)}")
    }
  }

  test("pq recall vs exact top-k is reasonable at numCandidates=100") {
    val exact = VectorSearch.topKFlat(queries, "qid", "qv", emb, "vec_id", "embedding",
      k = 3, metric = "dot")
      .select("qid", "match_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = PqSearch.pqTopK(queries, "qid", "qv", emb, "vec_id", "embedding",
      k = 3, metric = "dot", m = 8, kCodes = 16, numCandidates = 100)
      .select("qid", "match_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall too low")
  }

  test("codebook training is deterministic across runs and partitionings") {
    val a = PqSearch.trainCodebooks(emb, "vec_id", "embedding", m = 4, kCodes = 8)
    val b = PqSearch.trainCodebooks(emb.repartition(7), "vec_id", "embedding",
      m = 4, kCodes = 8)
    assert(a.m == 4 && a.kCodes == 8 && a.dsub == 16)
    for (s <- 0 until a.m; c <- 0 until a.kCodes)
      assert(a.books(s)(c).sameElements(b.books(s)(c)), s"book($s)($c) differs")
  }

  test("encode emits m codes in [0, kCodes) and is stable") {
    val cb = PqSearch.trainCodebooks(emb, "vec_id", "embedding", m = 8, kCodes = 16)
    val coded = PqSearch.encode(emb, "vec_id", "embedding", cb)
    val rows = coded.collect()
    assert(rows.length == emb.count())
    rows.foreach { r =>
      val codes = r.getSeq[Int](1)
      assert(codes.length == 8)
      assert(codes.forall(c => c >= 0 && c < 16))
    }
    val again = PqSearch.encode(emb, "vec_id", "embedding", cb).collect()
    assert(rows.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("widening the candidate budget never lowers recall") {
    val exact = VectorSearch.topKFlat(queries, "qid", "qv", emb, "vec_id", "embedding",
      k = 3, metric = "dot")
      .select("qid", "match_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def hits(cand: Int) =
      PqSearch.pqTopK(queries, "qid", "qv", emb, "vec_id", "embedding",
        k = 3, metric = "dot", m = 8, kCodes = 16, numCandidates = cand)
        .select("qid", "match_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val narrow = exact.intersect(hits(10)).size
    val wide = exact.intersect(hits(500)).size
    assert(wide >= narrow, s"recall shrank: cand=10 -> $narrow, cand=500 -> $wide")
  }

  test("ivf-pq persisted index: probe is recall-sound and partition-pruned") {
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    graft.operators.IvfPqIndex.writeIndex(emb, "vec_id", "embedding", path,
      nList = 8, m = 8, kCodes = 16)
    val approx = graft.operators.IvfPqIndex.searchIndex(spark, path,
      queries, "qid", "qv", emb, "vec_id", "embedding",
      k = 3, metric = "dot", nProbe = 4, numCandidates = 200)
    val got = approx.collect()
    val byQuery = got.groupBy(_.getLong(0))
    assert(byQuery.nonEmpty)
    // self-match survives: a vector's residual quantizes to its own codes,
    // so its ADC score tops its cell's scan and re-rank confirms rank 1
    byQuery.foreach { case (q, rows) =>
      assert(rows.minBy(_.getInt(3)).getLong(1) == q)
    }
    val exact = VectorSearch.topKFlat(queries, "qid", "qv", emb, "vec_id",
      "embedding", k = 3, metric = "dot")
      .select("qid", "match_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approxSet = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approxSet).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall too low")
    // the code scan reads only (id, codes, cell) — never a float vector —
    // and partition-prunes to the probed cells
    val one = queries.limit(1)
    val probe = graft.operators.IvfPqIndex.searchIndex(spark, path,
      one, "qid", "qv", emb, "vec_id", "embedding",
      k = 3, metric = "dot", nProbe = 2, numCandidates = 50)
    val scans = probe.queryExecution.sparkPlan.collectWithSubqueries {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("graft_ivfpq")) => f
    }
    assert(scans.nonEmpty)
    scans.foreach { f =>
      assert(!f.requiredSchema.fieldNames.contains("vec"),
        f.requiredSchema.fieldNames.mkString(","))
      assert(f.partitionFilters.nonEmpty, "probe scan not partition-pruned")
    }
  }

  test("ivf-pq residual coding beats raw-vector pq at equal budget (or ties)") {
    // same m/kCodes/candidates; residuals are tighter clustered, so the
    // composed index should not do WORSE than global-codebook PQ
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq_cmp").toString
    graft.operators.IvfPqIndex.writeIndex(emb, "vec_id", "embedding", path,
      nList = 8, m = 8, kCodes = 16)
    val exact = VectorSearch.topKFlat(queries, "qid", "qv", emb, "vec_id",
      "embedding", k = 3, metric = "dot")
      .select("qid", "match_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpq = graft.operators.IvfPqIndex.searchIndex(spark, path,
      queries, "qid", "qv", emb, "vec_id", "embedding",
      k = 3, metric = "dot", nProbe = 8, numCandidates = 100)
      .select("qid", "match_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val flat = PqSearch.pqTopK(queries, "qid", "qv", emb, "vec_id", "embedding",
      k = 3, metric = "dot", m = 8, kCodes = 16, numCandidates = 100)
      .select("qid", "match_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rIvfPq = exact.intersect(ivfpq).size
    val rFlat = exact.intersect(flat).size
    assert(rIvfPq >= rFlat - 2, // small slack: nProbe=8 of 8 cells probes all
      s"ivf-pq recall $rIvfPq much worse than flat pq $rFlat")
  }

  test("ivf-pq append path: new vectors are searchable without retraining") {
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq_app").toString
    val base = emb.filter(col("vec_id") < 400)
    val late = emb.filter(col("vec_id") >= 400)
    graft.operators.IvfPqIndex.writeIndex(base, "vec_id", "embedding", path,
      nList = 8, m = 8, kCodes = 16)
    graft.operators.IvfPqIndex.appendToIndex(late, "vec_id", "embedding", path)
    // a late vector queries for itself: the appended codes must surface it
    val lateQ = late.limit(5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val got = graft.operators.IvfPqIndex.searchIndex(spark, path,
      lateQ, "qid", "qv", emb, "vec_id", "embedding",
      k = 3, metric = "dot", nProbe = 8, numCandidates = 100)
      .collect()
    val byQuery = got.groupBy(_.getLong(0))
    assert(byQuery.size == 5)
    byQuery.foreach { case (q, rows) =>
      assert(rows.minBy(_.getInt(3)).getLong(1) == q, s"late vector $q not found")
    }
  }

  test("ivf-pq append drift metric mirrors the IVF one (shared baseline protocol)") {
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq_drift").toString
    graft.operators.IvfPqIndex.writeIndex(emb.filter(col("vec_id") < 400),
      "vec_id", "embedding", path, nList = 8, m = 8, kCodes = 16)
    val ok = graft.operators.IvfPqIndex.appendToIndex(
      emb.filter(col("vec_id") >= 400), "vec_id", "embedding", path)
    assert(ok.rows > 0 && !ok.retrainRecommended,
      s"in-distribution append flagged retrain: $ok")
    val shifted = emb.filter(col("vec_id") >= 400)
      .select((col("vec_id") + 10000).as("vec_id"),
        transform(col("embedding"), x => x + lit(5.0f)).as("embedding"))
    val bad = graft.operators.IvfPqIndex.appendToIndex(
      shifted, "vec_id", "embedding", path)
    assert(bad.retrainRecommended, s"drifted append not flagged: $bad")
  }

  test("serve overload with pre-trained codebooks matches train-in-body") {
    val cb = PqSearch.trainCodebooks(emb, "vec_id", "embedding", m = 8, kCodes = 16)
    val served = PqSearch.pqTopK(queries, "qid", "qv", emb, "vec_id", "embedding",
      k = 3, cb = cb, metric = "dot", numCandidates = 100, maxQueries = 10000)
      .collect().map(_.toString).sorted
    val trained = PqSearch.pqTopK(queries, "qid", "qv", emb, "vec_id", "embedding",
      k = 3, metric = "dot", m = 8, kCodes = 16, numCandidates = 100)
      .collect().map(_.toString).sorted
    assert(served.sameElements(trained))
  }

  test("codebooks roundtrip through parquet save/load") {
    val cb = PqSearch.trainCodebooks(emb, "vec_id", "embedding", m = 4, kCodes = 8)
    val path = java.nio.file.Files.createTempDirectory("graft_pq_cb").toString + "/cb"
    PqSearch.saveCodebooks(spark, path, cb)
    val loaded = PqSearch.loadCodebooks(spark, path)
    assert(loaded.m == cb.m && loaded.kCodes == cb.kCodes && loaded.dsub == cb.dsub)
    for (s <- 0 until cb.m; c <- 0 until cb.kCodes)
      assert(loaded.books(s)(c).sameElements(cb.books(s)(c)))
  }

  test("short vectors fail fast instead of silently zero-padding") {
    val bad = emb.select(col("vec_id"), slice(col("embedding"), 1, 32).as("embedding"))
    intercept[IllegalArgumentException](
      PqSearch.trainCodebooks(bad, "vec_id", "embedding"))
    val cb = PqSearch.trainCodebooks(emb, "vec_id", "embedding", m = 8, kCodes = 16)
    intercept[Exception](
      PqSearch.encode(bad, "vec_id", "embedding", cb).collect())
  }

  test("ivfPqIndexStream: stream-ingested vectors searchable without retrain") {
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq_stream").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft_ivfpq_stream_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ivfpq_stream_ck").toString
    graft.operators.IvfPqIndex.writeIndex(emb.filter(col("vec_id") < 400),
      "vec_id", "embedding", path, nList = 8, m = 8, kCodes = 16)
    val modelBefore = spark.read.parquet(s"$path/codebooks").collect()
      .map(_.toString).sorted
    // late vectors arrive as files on a stream; the index ingests them
    // incrementally with the STORED model — no retrain in the stream
    val late = emb.filter(col("vec_id") >= 400)
    late.write.mode("overwrite").parquet(srcDir)
    val stream = graft.streaming.Streams.fileStream(spark, srcDir, late.schema)
    graft.streaming.Streams.indexStream(graft.operators.IvfPqIndex,
      stream, "vec_id", "embedding", path, ckpt)
      .awaitTermination()
    val modelAfter = spark.read.parquet(s"$path/codebooks").collect()
      .map(_.toString).sorted
    assert(modelBefore.sameElements(modelAfter), "stream append must not retrain")
    // every late vector finds itself through the persisted probe
    val lateQ = late.limit(5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val got = graft.operators.IvfPqIndex.searchIndex(spark, path,
      lateQ, "qid", "qv", emb, "vec_id", "embedding",
      k = 3, metric = "dot", nProbe = 8, numCandidates = 100).collect()
    val byQuery = got.groupBy(_.getLong(0))
    assert(byQuery.size == 5)
    byQuery.foreach { case (q, rows) =>
      assert(rows.minBy(_.getInt(3)).getLong(1) == q, s"streamed vector $q not found")
    }
    // and the probe over the grown index still partition-prunes
    val probe = graft.operators.IvfPqIndex.searchIndex(spark, path,
      lateQ.limit(1), "qid", "qv", emb, "vec_id", "embedding",
      k = 3, metric = "dot", nProbe = 2, numCandidates = 50)
    val scans = probe.queryExecution.sparkPlan.collectWithSubqueries {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("graft_ivfpq_stream")) => f
    }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      "probe over the appended index lost partition pruning")
  }

  test("budget and batch bounds are enforced") {
    intercept[IllegalArgumentException](
      PqSearch.pqTopK(queries, "qid", "qv", emb, "vec_id", "embedding",
        k = 3, numCandidates = 10001))
    intercept[IllegalArgumentException](
      PqSearch.pqTopK(queries, "qid", "qv", emb, "vec_id", "embedding",
        k = 30, numCandidates = 10))
    intercept[IllegalArgumentException](
      PqSearch.pqTopK(queries, "qid", "qv", emb, "vec_id", "embedding",
        k = 3, numCandidates = 100, maxQueries = 1))
  }

  test("ivf-pq serve honors tombstones (delete protocol shared with IVF)") {
    import spark.implicits._
    val emb = Tables(spark, sf, "embeddings").filter(col("vec_id") < 200)
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq_del").toString
    graft.operators.IvfPqIndex.writeIndex(emb, "vec_id", "embedding", path,
      nList = 4, m = 8, kCodes = 16)
    val victims = emb.filter(col("vec_id") % 10 === 0).select("vec_id")
    val victimIds = victims.as[Long].collect().toSet
    graft.operators.IvfSearch.deleteFromIndex(spark, path, victims, "vec_id")
    val served = graft.operators.IvfPqIndex.searchIndex(spark, path,
        emb.select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid", "qv", emb, "vec_id", "embedding",
        k = 1, metric = "cosine", nProbe = 4, numCandidates = 50)
      .select("match_id").as[Long].collect().toSet
    assert(served.intersect(victimIds).isEmpty,
      s"deleted ids served from the PQ store: ${served.intersect(victimIds)}")
    // compaction heals the code store physically through the shared path
    graft.operators.IvfPqIndex.compactIndex(spark, path)
    assert(!graft.operators.Tombstones.exists(spark, path))
    val stored = spark.read.parquet(s"$path/corpus").select("id")
      .as[Long].collect().toSet
    assert(stored.intersect(victimIds).isEmpty)
  }

  test("ivf-pq filtered serve: payload predicate admits only matching ids; " +
      "appends must carry the payload columns") {
    import spark.implicits._
    val emb = Tables(spark, sf, "embeddings").filter(col("vec_id") < 300)
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq_flt").toString
    graft.operators.IvfPqIndex.writeIndex(emb.filter(col("vec_id") < 200),
      "vec_id", "embedding", path, nList = 4, m = 8, kCodes = 16,
      payload = Seq("label"))
    val qs = emb.filter(col("vec_id") % 20 === 0 && col("vec_id") < 200)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val admitted = emb.filter(col("vec_id") < 200 && col("label") % 4 === 1)
      .select("vec_id").as[Long].collect().toSet
    def serve() = graft.operators.IvfPqIndex.searchIndex(spark, path, qs,
        "qid", "qv", emb, "vec_id", "embedding", k = 3, metric = "dot",
        nProbe = 4, numCandidates = 100, filter = col("label") % 4 === 1)
      .select("qid", "match_id").as[(Long, Long)].collect()
    val hits = serve()
    assert(hits.nonEmpty)
    hits.foreach { case (_, m) =>
      assert(admitted(m), s"non-admitted id $m served from the filtered probe") }
    // full probe (= every cell) makes the filtered ADC shortlist cover
    // the admitted set, so the exact re-rank equals exact filtered top-k
    val full = graft.operators.IvfPqIndex.searchIndex(spark, path, qs,
        "qid", "qv", emb, "vec_id", "embedding", k = 3, metric = "dot",
        nProbe = 4, numCandidates = 200, filter = col("label") % 4 === 1)
      .select("qid", "match_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = VectorSearch.topKFiltered(qs, "qid", "qv",
        emb.filter(col("vec_id") < 200), "vec_id", "embedding",
        col("label") % 4 === 1, k = 3, metric = "dot")
      .select("qid", "match_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(full == exact, "full-probe filtered ivf-pq diverged from exact filtered top-k")
    // an append missing the payload column fails loudly (NULL-payload
    // epochs would silently vanish from every filtered result)
    val e = intercept[IllegalArgumentException] {
      graft.operators.IvfPqIndex.appendToIndex(
        emb.filter(col("vec_id") >= 200).select("vec_id", "embedding"),
        "vec_id", "embedding", path, epoch = 1L)
    }
    assert(e.getMessage.contains("payload columns"))
    // a compliant append serves under the filter immediately
    graft.operators.IvfPqIndex.appendToIndex(
      emb.filter(col("vec_id") >= 200).select("vec_id", "embedding", "label"),
      "vec_id", "embedding", path, epoch = 1L)
    val lateAdmitted = emb.filter(col("vec_id") >= 200 && col("label") % 4 === 1)
      .select("vec_id").as[Long].collect().toSet
    val lateQs = emb.filter(col("vec_id") >= 200)
      .join(emb.filter(col("label") % 4 === 1 && col("vec_id") >= 200)
        .select(col("vec_id").as("__a")), col("vec_id") === col("__a"), "left_semi")
      .limit(2).select(col("vec_id").as("qid"), col("embedding").as("qv"))
    graft.operators.IvfPqIndex.searchIndex(spark, path, lateQs,
        "qid", "qv", emb, "vec_id", "embedding", k = 1, metric = "dot",
        nProbe = 4, numCandidates = 100, filter = col("label") % 4 === 1)
      .select("qid", "match_id").as[(Long, Long)].collect()
      .foreach { case (q, m) => assert(m == q && lateAdmitted(m),
        s"appended admitted id $q did not self-retrieve under the filter (got $m)") }
  }

  test("ivfPqCdcStream: tombstones delete, upserts replace without " +
      "duplicates, later drains win, compaction cadence heals") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq_cdc_idx").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft_ivfpq_cdc_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ivfpq_cdc_ck").toString
    graft.operators.IvfPqIndex.writeIndex(emb.filter(col("vec_id") < 100),
      "vec_id", "embedding", path, nList = 4, m = 8, kCodes = 16)
    val schema = emb.select(col("vec_id"), col("embedding")).schema
    // the exact re-rank joins full vectors BY ID from the primary store
    // (searchIndex's contract: the code store never holds raw vectors) —
    // after a CDC drain the primary store reflects the changes, so the
    // re-rank corpus must too: id 50 carries id 300's vector post-upsert
    val postCdc = emb.filter(col("vec_id") =!= 50)
      .select(col("vec_id"), col("embedding"))
      .unionByName(emb.filter(col("vec_id") === 300)
        .select(lit(50L).as("vec_id"), col("embedding")))
    def serveWith(qid: Long, qVecOf: Long, k: Int = 1): Seq[Long] = {
      val q = emb.filter(col("vec_id") === qVecOf)
        .select(lit(qid).as("qid"), col("embedding").as("qv"))
      graft.operators.IvfPqIndex.searchIndex(spark, path, q, "qid", "qv",
          postCdc, "vec_id", "embedding", k = k, metric = "cosine",
          nProbe = 4, numCandidates = 50)
        .orderBy("rank").select("match_id").as[Long].collect().toSeq
    }
    // drain 1: delete id 0 (null-vector tombstone), upsert id 50 with
    // id 300's vector — the REPLACE must kill 50's old codes with it
    emb.filter(col("vec_id") === 0)
      .select(col("vec_id"),
        lit(null).cast(schema("embedding").dataType).as("embedding"))
      .unionByName(emb.filter(col("vec_id") === 300)
        .select(lit(50L).as("vec_id"), col("embedding")))
      .write.mode("overwrite").parquet(srcDir)
    graft.streaming.Streams.cdcStream(graft.operators.IvfPqIndex,
      graft.streaming.Streams.fileStream(spark, srcDir, schema),
      "vec_id", "embedding", path, ckpt).awaitTermination()
    assert(serveWith(0L, qVecOf = 0L) != Seq(0L), "tombstoned id still serves")
    assert(serveWith(50L, qVecOf = 50L) != Seq(50L),
      "the OLD codes of an upserted id must be dead")
    val hits = serveWith(50L, qVecOf = 300L, k = 2)
    assert(hits.head == 50L, s"replaced vector must serve the id: $hits")
    assert(hits.count(_ == 50L) == 1, s"duplicate rows for the upserted id: $hits")
    // drain 2 over the same checkpoint: re-insert id 0 — LWW revives it
    emb.filter(col("vec_id") === 0).select("vec_id", "embedding")
      .write.mode("overwrite").parquet(srcDir)
    graft.streaming.Streams.cdcStream(graft.operators.IvfPqIndex,
      graft.streaming.Streams.fileStream(spark, srcDir, schema),
      "vec_id", "embedding", path, ckpt, compactEvery = 1).awaitTermination()
    assert(serveWith(0L, qVecOf = 0L) == Seq(0L), "re-inserted id must serve again")
    // cadence compaction kept the in-flight epoch's tombstones; offline
    // compaction retires everything, serve is stable
    graft.operators.IvfPqIndex.compactIndex(spark, path)
    assert(!graft.operators.Tombstones.exists(spark, path))
    assert(serveWith(0L, qVecOf = 0L) == Seq(0L))
    assert(serveWith(50L, qVecOf = 50L) != Seq(50L))
  }

  test("ivfPqCdcStream: ambiguous multi-change batches are rejected; seqCol resolves") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq_cdc2_idx").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft_ivfpq_cdc2_src").toString
    graft.operators.IvfPqIndex.writeIndex(emb.filter(col("vec_id") < 100),
      "vec_id", "embedding", path, nList = 4, m = 8, kCodes = 16)
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
    val ckpt1 = java.nio.file.Files.createTempDirectory("graft_ivfpq_cdc2_ck1").toString
    val q1 = graft.streaming.Streams.cdcStream(graft.operators.IvfPqIndex,
      graft.streaming.Streams.fileStream(spark, srcDir, schema)
        .select("vec_id", "embedding"),
      "vec_id", "embedding", path, ckpt1)
    val e = intercept[Exception] { q1.awaitTermination() }
    assert(e.getMessage != null && e.getMessage.contains("seqCol") ||
      e.getCause != null && e.getCause.getMessage.contains("seqCol"))
    // with seqCol the LATEST record wins: seq 2 is the tombstone. The
    // retry restarts the SAME checkpoint (the single-writer claim
    // refuses a fresh one; the failed batch never committed, so it
    // replays under the fixed config)
    graft.streaming.Streams.cdcStream(graft.operators.IvfPqIndex,
      graft.streaming.Streams.fileStream(spark, srcDir, schema),
      "vec_id", "embedding", path, ckpt1, seqCol = Some("seq"))
      .awaitTermination()
    val q = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val served = graft.operators.IvfPqIndex.searchIndex(spark, path, q,
        "qid", "qv", emb, "vec_id", "embedding",
        k = 1, metric = "cosine", nProbe = 4, numCandidates = 50)
      .select("match_id").as[Long].collect().toSeq
    assert(served != Seq(0L), "seq-resolved tombstone must win the batch")
  }

  test("IvfPqIndex.radiusIndex: exact re-score gives precision 1.0; " +
      "reconstruction pre-pass keeps recall; payload filter honored") {
    import spark.implicits._
    val corpus = emb.filter(col("vec_id") < 300)
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq_rad").toString
    graft.operators.IvfPqIndex.writeIndex(corpus, "vec_id", "embedding",
      path, nList = 8, m = 8, kCodes = 16, payload = Seq("label"))
    val qs = corpus.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "match_id").as[(Long, Long)].collect().toSet
    val exact = pairs(graft.operators.VectorSearch.radiusFlat(qs, "qid", "qv",
      corpus, "vec_id", "embedding", 0.3, "cosine"))
    // full probe: subset ALWAYS (the re-score cuts at the true
    // threshold); recall bounded below — PQ reconstruction is lossy, so
    // exact equality is NOT the contract, a ≥80% overall recall is
    val full = pairs(graft.operators.IvfPqIndex.radiusIndex(spark, path,
      qs, "qid", "qv", corpus, "vec_id", "embedding", 0.3, "cosine",
      nProbe = 8))
    assert(full.subsetOf(exact) && exact.nonEmpty)
    assert(full.size >= exact.size * 0.8,
      s"reconstruction pre-pass lost too much: ${full.size}/${exact.size}")
    // a WIDER margin can only help recall, never break precision
    val wider = pairs(graft.operators.IvfPqIndex.radiusIndex(spark, path,
      qs, "qid", "qv", corpus, "vec_id", "embedding", 0.3, "cosine",
      nProbe = 8, margin = 1.0))
    assert(full.subsetOf(wider) && wider.subsetOf(exact))
    assert(wider == exact,
      "an all-admitting margin must recover the exact radius")
    // payload pushdown on the compressed radius scan
    val filtered = pairs(graft.operators.IvfPqIndex.radiusIndex(spark, path,
      qs, "qid", "qv", corpus, "vec_id", "embedding", 0.3, "cosine",
      nProbe = 8, margin = 1.0, filter = col("label") % 4 === 1))
    val admitted = corpus.filter(col("label") % 4 === 1)
      .select("vec_id").as[Long].collect().toSet
    assert(filtered == exact.filter { case (_, m) => admitted(m) })
  }
}
