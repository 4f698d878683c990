package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.pipeline.Rag

/** Structured Streaming drivers for the reference's continuous pipeline
  * semantics (SURVEY §2.9 ST1: `INSERT INTO ... SELECT` "will run forever
  * ... as they are submitted", reference README.md:435).
  *
  * Design: one implementation, two drivers — every transform is the
  * *batch* operator from the rest of the engine, lifted into a stream
  * either natively (narrow maps and windowed aggregations run unchanged
  * on a streaming DataFrame) or via `foreachBatch` (for multi-stage
  * pipelines like RAG that include broadcast joins + top-k). Micro-batch
  * execution is Spark's scalable path: state is bounded by watermarks,
  * sinks are transactional per epoch.
  *
  * The file source stands in for the reference's Kafka topics (same
  * append-only, replayable contract; swap `.format("kafka")` in
  * deployment — the transforms don't change).
  */
object Streams {

  /** Open a streaming view of a directory of parquet files ("the topic"). */
  def fileStream(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "8").parquet(dir)

  /** Namespace a stream's micro-batch id into the shared epoch space of
    * an index store by the stream's CHECKPOINT identity — the identity
    * Structured Streaming itself keys replay on. Micro-batch ids restart
    * at 0 for every new checkpoint, so a SECOND stream appending to the
    * same store would otherwise dynamic-overwrite the first stream's
    * `epoch=0,1,…` partitions (silent data loss); namespaced, each
    * checkpoint owns a disjoint epoch range while a RESTART of the same
    * checkpoint keeps its ids (replay idempotency preserved). 22
    * namespace bits x 40 epoch bits, sign bit clear (epoch >= 0 is the
    * replace-mode contract); MurmurHash3 of the path is stable across
    * JVMs. Collisions need two colliding checkpoints writing the SAME
    * store (~k²/2²³ for k co-writing streams — and co-writing streams
    * should be one stream anyway).
    *
    * SINGLE-WRITER CONTRACT (stronger than the overwrite note above):
    * the tombstone rule (a row dies iff its epoch ≤ the tombstone's)
    * and serve-time LWW compare epochs NUMERICALLY, and namespaced
    * epochs order by namespace HASH first, not logical time. Two
    * writers with different namespaces therefore cannot delete or
    * supersede each other's rows coherently: a delete issued under a
    * lower-hash namespace (including a manual `deleteFromIndex`
    * defaulting to `maxEpochIn`, which lands INSIDE whatever namespace
    * currently holds the max) never kills a higher-hash writer's older
    * rows, and can kill logically newer ones. Exactly ONE writer — one
    * stream checkpoint, or one manual append/delete cadence — may own a
    * store's epoch order; [[cdcStream]] enforces its own ordering
    * within one checkpoint via sub-epochs (2e / 2e+1) for this reason.
    */
  private[streaming] def epochNamespace(checkpointDir: String): Long =
    scala.util.hashing.MurmurHash3.stringHash(checkpointDir).toLong & 0x3FFFFFL

  private def epochKey(checkpointDir: String, epoch: Long): Long =
    (epochNamespace(checkpointDir) << 40) | (epoch & 0xFFFFFFFFFFL)

  /** ENFORCE the single-writer contract at stream construction: the
    * first index-writing stream claims the store for its checkpoint's
    * namespace ([[graft.operators.IndexMaintenance.claimWriter]]); a
    * second stream under a different checkpoint fails HERE, before a
    * single mis-ordered epoch lands. Restarts of the same checkpoint
    * re-claim idempotently. Manual batch appends/deletes against a
    * claimed store are policed at the write choke points
    * (epochWrite / Tombstones.write) — a delete defaulting to the
    * store's own maxEpochIn stays inside the claimed namespace and is
    * accepted; a foreign explicit epoch is refused.
    */
  private def claimStore(df: DataFrame, indexPath: String,
      checkpointDir: String): Unit =
    graft.operators.IndexMaintenance.claimWriter(df.sparkSession, indexPath,
      epochNamespace(checkpointDir), checkpointDir)

  /** The chunk+embed projection shared by [[chunkIndexStream]] and
    * [[hybridIndexStream]]. chunk_uid = doc_id * 1_000_000 + chunk_id —
    * collision-free while documents stay under a million chunks and ids
    * under ~9.2e12; `searchIndex` hits map back by div/mod. ONE place,
    * because the uid contract is load-bearing for retrieval.
    */
  private def chunkEmbed(batch: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, overlap: Int): DataFrame =
    graft.operators.Corpus
      .chunkTokens(batch, idCol, textCol, chunkSize, overlap)
      .withColumn("chunk_uid", col("id") * 1000000L + col("chunk_id"))
      .withColumn("emb",
        graft.functions.HashEmbedder.embedCol(col("chunk_text")))

  /** Prior-epoch subdirectories of a cross-epoch dedup store, via the
    * Hadoop FileSystem API so the store may live on ANY supported
    * filesystem (HDFS, S3A, local). `java.io.File.listFiles` would
    * silently read a remote store as EMPTY — for a dedup store the
    * worst possible failure mode (re-ingested duplicates admitted
    * without any error). A nonexistent store dir is the legitimate
    * first-epoch state and returns empty; any other access problem
    * (permissions, transient FS fault) throws out of the micro-batch,
    * which Structured Streaming surfaces as a query failure instead of
    * quietly skipping cross-epoch dedup.
    */
  private def storeEpochDirs(spark: SparkSession, storeDir: String,
      excludeEpoch: Long): Seq[String] = {
    val path = new org.apache.hadoop.fs.Path(storeDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq
      .filter(st => st.isDirectory && st.getPath.getName != s"epoch=$excludeEpoch")
      .map(_.getPath.toString)
  }

  /** The reference's schemaless-topic retrofit (SURVEY §1.2): a stream of
    * raw JSON strings decoded by an explicit schema at read time —
    * `from_json` over the value column, exactly Flink's
    * schema-registry-attach step (reference README.md:223-252).
    */
  def decodeJsonTopic(raw: DataFrame, valueCol: String, schema: StructType): DataFrame =
    raw.withColumn("__rec", from_json(col(valueCol), schema)).select("__rec.*")

  /** ST1 for the full RAG slice: every micro-batch of arriving questions
    * is embedded, searched against the corpus, and answered using the
    * *batch* operators (foreachBatch = the Flink perpetual INSERT).
    * Output parquet is partitioned by micro-batch epoch for exactly-once
    * replay semantics.
    */
  def ragStream(
      spark: SparkSession,
      questionsDir: String,
      questionSchema: StructType,
      corpus: DataFrame,
      outDir: String,
      checkpointDir: String,
      k: Int = Rag.K): StreamingQuery = {
    val questions = fileStream(spark, questionsDir, questionSchema)
    questions.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val withVec = Rag.embedQuestions(batch, "content")
        val retrieved = Rag.retrieve(withVec, "doc_id", corpus, k)
        // overwrite keyed by epoch: a retried micro-batch replaces any
        // partial write from the failed attempt instead of appending
        // duplicates — the standard foreachBatch exactly-once pattern
        Rag.respond(retrieved, "content")
          .select("doc_id", "content", "products", "prompt", "json_response")
          .write.mode("overwrite").parquet(s"$outDir/epoch=$epoch")
        ()
      }
      .start()
  }

  /** Streaming hybrid retrieval: every micro-batch of arriving
    * questions runs [[graft.operators.Lexical.hybridTopK]] — RRF fusion
    * of vector and BM25 rankings — against the static corpus, the
    * [[ragStream]] shape with the fused retriever. The corpus is STATIC
    * for the stream's lifetime (the ragStream contract), so the
    * corpus-side BM25 artifacts — postings and N/avgdl — derive ONCE at
    * stream start (lazily checkpointed, materialized by the first
    * batch) and every micro-batch joins them instead of re-tokenizing
    * the corpus. Stream output ≡ batch output untouched: they are the
    * SAME artifacts a direct batch call would derive (proved in
    * StreamingSpec).
    */
  def hybridSearchStream(
      spark: SparkSession,
      questionsDir: String,
      questionSchema: StructType,
      corpus: DataFrame, cId: String, cVec: String, cText: String,
      outDir: String,
      checkpointDir: String,
      k: Int = Rag.K): StreamingQuery = {
    val questions = fileStream(spark, questionsDir, questionSchema)
    val post = graft.operators.Lexical.postings(corpus, cId, cText)
      .localCheckpoint(false)
    val stats = graft.operators.Lexical.corpusStats(corpus, cText)
      .localCheckpoint(false)
    questions.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val withVec = Rag.embedQuestions(batch, "content")
        graft.operators.Lexical.hybridTopK(withVec, "doc_id", "vector",
            "content", corpus, cId, cVec, cText, k, metric = "dot",
            post = post, stats = stats)
          .write.mode("overwrite").parquet(s"$outDir/epoch=$epoch")
        ()
      }
      .start()
  }

  /** Continuous retrieval-quality monitoring: each micro-batch of
    * arriving labeled queries is evaluated against the static corpus
    * with [[graft.operators.RetrievalEval.evalLabelRetrieval]]
    * (precision@k / recall@k / MRR / nDCG per query) — the live dashboard feed a
    * production retrieval deployment runs next to serving. Per-query
    * metrics depend only on the query and the corpus, so stream output
    * ≡ batch output regardless of batching (proved in StreamingSpec).
    */
  def retrievalEvalStream(
      spark: SparkSession,
      queriesDir: String,
      querySchema: StructType,
      corpus: DataFrame, cId: String, cVec: String, cLab: String,
      outDir: String,
      checkpointDir: String,
      k: Int = 10): StreamingQuery = {
    val queries = fileStream(spark, queriesDir, querySchema)
    queries.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        graft.operators.RetrievalEval.evalLabelRetrieval(batch,
            "query_id", "qv", "qlab", corpus, cId, cVec, cLab, k)
          .write.mode("overwrite").parquet(s"$outDir/epoch=$epoch")
        ()
      }
      .start()
  }

  /** Whether micro-batch `epoch` ends a compaction cycle: the in-stream
    * maintenance cadence that keeps file counts bounded by N×partitions
    * instead of growing with ingestion history. Safe by construction:
    * `foreachBatch` serializes the compaction with the stream's own
    * appends, the in-flight epoch is excluded so its replay stays
    * idempotent, and the store lease
    * ([[graft.operators.IndexMaintenance.withStoreLock]]) makes any
    * OTHER process's compactor fail fast rather than race the swap.
    */
  private def compactsAfter(epoch: Long, compactEvery: Long): Boolean =
    compactEvery > 0 && epoch % compactEvery == compactEvery - 1

  /** Continuous indexing: every micro-batch of arriving rows appends to
    * a persisted `store` — the reference's perpetual embed→index
    * pipeline (README.md:432-445) in at-rest form. The celled stores
    * assign cells (and codes) from the STORED model, so new vectors
    * become searchable through the partition-pruned probe without any
    * retraining in the stream (offline `writeIndex` retrains on its own
    * cadence — the online-append/offline-retrain split); hnsw builds
    * each batch its OWN segment graphs (the Lucene posture: existing
    * graphs are never mutated); the lexical index appends postings and a
    * stats partial, so stream ≡ batch by construction (postings are
    * per-document rows and the partials sum exactly). New-ids contract:
    * front with [[dedupStream]]/the curation fronts.
    *
    * Epoch-tagged: an at-least-once replay of a micro-batch overwrites
    * its own epoch partitions instead of duplicating rows (exactly-once
    * through the idempotent-sink pattern). `onAppend` receives the
    * store's per-batch report (the celled stores' drift
    * [[graft.operators.AppendStats]] — the caller's hook for alerting /
    * scheduling the offline retrain; hnsw's (rows appended, segments
    * built); the lexical index's documents appended). `compactEvery` > 0
    * compacts after every Nth batch (see [[compactsAfter]]) — for hnsw
    * the rebuild IS the segment merge.
    */
  def indexStream[S](store: graft.operators.MaintainedStore[S],
      rows: DataFrame, idCol: String, valueCol: String,
      indexPath: String, checkpointDir: String,
      onAppend: S => Unit = (_: S) => (),
      compactEvery: Long = 0): StreamingQuery = {
    claimStore(rows, indexPath, checkpointDir)
    rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val e = epochKey(checkpointDir, epoch)
        onAppend(store.append(batch, idCol, valueCol, indexPath, e))
        if (compactsAfter(epoch, compactEvery))
          store.compact(batch.sparkSession, indexPath, excludeEpoch = e)
        ()
      }
      .start()
  }

  /** In-batch CDC resolution: with `seqCol`, the per-id LATEST record
    * wins (proper change ordering); without it, per-id uniqueness inside
    * a micro-batch is the caller's contract and is ENFORCED — two
    * unordered changes to one id are ambiguous, and picking one silently
    * would be a wrong-answer machine. (A per-id tombstone + upsert pair
    * counts as two changes; provide seqCol to express "replace".)
    * localCheckpoint: the resolved set feeds both the tombstone write
    * and the append.
    */
  private def resolveCdc(batch: DataFrame, idCol: String,
      seqCol: Option[String]): DataFrame =
    (seqCol match {
      case Some(sc) =>
        // per-id LATEST record, ALL columns — not just the value: a
        // filtered-search store carries payload columns next to its
        // vectors, and an upsert that dropped them could never append
        // (the store-schema payload contract would reject the batch)
        val others = batch.columns.filter(c => c != idCol && c != sc).toSeq
        batch.groupBy(col(idCol))
          .agg(max_by(struct(others.map(col): _*), col(sc)).as("__rec"))
          .select(col(idCol) +: others.map(c => col(s"__rec.`$c`").as(c)): _*)
      case None =>
        val dup = batch.groupBy(col(idCol))
          .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
        require(dup.isEmpty,
          s"CDC batch carries multiple unordered changes for some ids " +
            s"(e.g. ${dup.select(idCol).take(3).mkString(", ")}) — pass " +
            "seqCol so the latest change per id is well-defined")
        batch
    }).localCheckpoint()

  /** CDC upsert/delete propagation into a persisted `store` — the
    * missing half of [[indexStream]]'s append-only posture: a keyed
    * change stream (Kafka compacted-topic convention — a NULL value is a
    * tombstone deleting the id, see [[graft.sources.TopicCatalog]]'s
    * `tombstone`) keeps the index in step with its source of truth,
    * deletes included.
    *
    * Per micro-batch e, TWO sub-epochs make upsert a first-class
    * operation: the ids to tombstone land at sub-epoch 2e and the live
    * rows at 2e+1, so an upsert's new value out-lives its own tombstone
    * while every OLDER row of the id (and every plainly-deleted id) dies
    * under the [[graft.operators.Tombstones]] rule. Which ids tombstone
    * is the store's fact ([[graft.operators.MaintainedStore]]
    * `upsertTombstones`): every CHANGED id on a store whose serve has no
    * per-id versioning, only the true deletes on a last-writer-wins
    * store. At-least-once replays overwrite their own 2e+1 partitions
    * and re-append equivalent 2e tombstones: idempotent. In-batch
    * ordering: [[resolveCdc]] — with `seqCol` the per-id latest record
    * wins, without it multiple changes to one id inside a batch are
    * rejected as ambiguous.
    *
    * The live-tombstone table between compactions is CDC-traffic sized,
    * not index-sized; `compactEvery` applies it physically and retires
    * it on a cadence (excluding the in-flight append epoch so its replay
    * stays idempotent). Trigger: AvailableNow by default (drain-and-stop
    * — the spec/board cadence); a ProcessingTime trigger turns the front
    * into the reference's run-forever maintenance (the store stays in
    * step with the topic until the stream is stopped).
    */
  def cdcStream[S](store: graft.operators.MaintainedStore[S],
      records: DataFrame, idCol: String, valueCol: String,
      indexPath: String, checkpointDir: String,
      seqCol: Option[String] = None,
      onAppend: S => Unit = (_: S) => (),
      compactEvery: Long = 0,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    claimStore(records, indexPath, checkpointDir)
    records.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val spark = batch.sparkSession
        val resolved = resolveCdc(batch, idCol, seqCol)
        try {
          // resolveCdc leaves ONE record per id, so the null split is total
          val victims =
            if (store.upsertTombstones) resolved.select(idCol).distinct()
            else resolved.filter(col(valueCol).isNull).select(idCol)
          val live = resolved.filter(col(valueCol).isNotNull)
          val anyVictims = !victims.isEmpty
          if (anyVictims)
            store.delete(spark, indexPath, victims, idCol,
              epochKey(checkpointDir, 2 * epoch))
          // with upsert tombstones every live id is a victim too: no
          // victims means nothing to append
          if ((anyVictims || !store.upsertTombstones) && !live.isEmpty)
            onAppend(store.append(live, idCol, valueCol, indexPath,
              epochKey(checkpointDir, 2 * epoch + 1)))
          if (compactsAfter(epoch, compactEvery))
            store.compact(spark, indexPath,
              excludeEpoch = epochKey(checkpointDir, 2 * epoch + 1))
          // a run-forever stream checkpoints EVERY batch: release this
          // batch's blocks now, not at some future GC
        } finally graft.operators.IndexMaintenance.unpersistCheckpoint(resolved)
        ()
      }
      .start()
  }

  /** Continuous RAG ingestion — the full document→searchable pipeline
    * as one stream: every micro-batch of arriving DOCUMENTS is chunked
    * ([[graft.operators.Corpus.chunkTokens]] — sliding token windows
    * with overlap), each chunk embedded
    * ([[graft.functions.HashEmbedder]], the session's registered
    * embedding model), and appended to a persisted IVF index with cells
    * assigned from the STORED centroids — searchers see new documents'
    * chunks on their next probe, no retraining in the stream. This is
    * the streaming form of the reference's embed→store flow
    * (README.md:266-283) with the chunking step long documents need.
    *
    * Chunk ids are `doc_id * 1_000_000 + chunk_id` — collision-free
    * while documents stay under a million chunks (24M tokens at the
    * default stride) and ids under ~9.2e12; `searchIndex` hits map back
    * to (doc, chunk) by div/mod.
    *
    * Per-batch work is the batch operators unchanged: narrow
    * chunk+embed maps, then [[graft.operators.IvfSearch.appendToIndex]]
    * (one partition-layout write + drift stats vs the training
    * baseline, surfaced through `onStats` for the offline-retrain
    * scheduler).
    */
  def chunkIndexStream(
      docs: DataFrame, idCol: String, textCol: String,
      indexPath: String, checkpointDir: String,
      chunkSize: Int = 32, overlap: Int = 8,
      onStats: graft.operators.AppendStats => Unit = _ => ()): StreamingQuery =
    // chunk+embed are narrow maps, so they run on the stream itself
    indexStream(graft.operators.IvfSearch,
      chunkEmbed(docs, idCol, textCol, chunkSize, overlap), "chunk_uid", "emb",
      indexPath, checkpointDir, onAppend = onStats)

  /** Continuous HYBRID ingestion — [[chunkIndexStream]] and
    * a lexical [[indexStream]] fused into ONE stream: each micro-batch of
    * arriving documents is chunked+embedded into the persisted IVF
    * index AND posted into the persisted lexical index, so the corpus
    * serves vector, keyword, and fused (RRF) retrieval from the moment
    * a document lands — the complete streaming back-end of
    * `HYBRID_SEARCH`. One source, one checkpoint, one epoch sequence:
    * both appends are epoch-tagged against the SAME epoch, so a replay
    * overwrites both sides coherently (a crash between the two appends
    * replays into two idempotent overwrites — neither side can
    * double-count and neither side can permanently miss the batch).
    * `compactEvery` maintains both stores, excluding the in-flight
    * epoch on each.
    */
  def hybridIndexStream(
      docs: DataFrame, idCol: String, textCol: String,
      vectorIndexPath: String, lexicalIndexPath: String,
      checkpointDir: String,
      chunkSize: Int = 32, overlap: Int = 8,
      onStats: graft.operators.AppendStats => Unit = _ => (),
      compactEvery: Long = 0): StreamingQuery = {
    claimStore(docs, vectorIndexPath, checkpointDir)
    claimStore(docs, lexicalIndexPath, checkpointDir)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        // one pass over the batch feeds both sides: materialize it so
        // the chunk+embed subtree and the tokenize subtree don't each
        // re-read the source
        val b = batch.localCheckpoint()
        val ek = epochKey(checkpointDir, epoch)
        val chunks = chunkEmbed(b, idCol, textCol, chunkSize, overlap)
        onStats(graft.operators.IvfSearch.append(
          chunks, "chunk_uid", "emb", vectorIndexPath, ek))
        graft.operators.LexicalIndex.append(b, idCol, textCol, lexicalIndexPath, ek)
        if (compactsAfter(epoch, compactEvery))
          Seq(graft.operators.IvfSearch -> vectorIndexPath,
            graft.operators.LexicalIndex -> lexicalIndexPath).foreach {
            case (store, path) => store.compact(b.sparkSession, path, ek) }
        ()
      }
      .start()
  }

  /** Continuous tumbling-window counts over an event stream; watermark
    * bounds state (late data beyond `watermark` is dropped — the
    * retention knob the reference sets on its topics, README.md:102).
    * Runs unchanged in batch: same expression on a static DataFrame.
    */
  def tumblingCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(round(col("value") * 100)) / 100.0).as("sum_value"))
      .select(col("w.start").cast("long").as("hour"), col("event_type"),
        col("n"), col("sum_value"))

  /** Streaming exact deduplication: drop re-deliveries of the same id
    * within the watermark horizon (state holds ids only as long as a
    * duplicate could still arrive — the bounded-state form of
    * dropDuplicates, SURVEY §2.9). Keyed on id alone — a re-delivery
    * stamped with a *different* ts is still dropped, which
    * `dropDuplicates(id, ts)` would let through.
    */
  def dedupStream(events: DataFrame, idCol: String,
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(idCol)

  /** Running per-user event count and value total via explicit keyed
    * state — the `mapGroupsWithState` form of custom stateful streaming
    * (the mechanism the reference's `sessionid` affinity would use for
    * true conversation state, SURVEY §2.9 ST3). Each micro-batch folds
    * its events into the per-user [[UserState]] and emits the updated
    * running totals (use outputMode("update")). State lives in the state
    * store, partitioned by key — per-user, not per-history, memory.
    */
  def runningUserTotals(events: DataFrame): DataFrame = {
    implicit val stateEnc = Encoders.product[UserState]
    implicit val outEnc = Encoders.product[UserTotals]
    implicit val keyEnc = Encoders.scalaLong
    implicit val rowEnc = Encoders.product[UserEvent]
    events.select(col("user_id").cast("long").as("user_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .as[UserEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserState, UserTotals](GroupStateTimeout.NoTimeout) {
        (uid, batch, state) =>
          var n = 0L; var cents = 0L
          batch.foreach { e => n += 1; cents += e.cents }
          val prev = state.getOption.getOrElse(UserState(0L, 0L))
          val next = UserState(prev.n + n, prev.cents + cents)
          state.update(next)
          UserTotals(uid, next.n, next.cents / 100.0)
      }
      .toDF()
  }

  /** Continuous sessionization: 30-minute-gap session windows per user.
    * Same operator as the batch `q_sessionize` first stage.
    */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("sw.start").cast("long").as("session_start"), col("n"))

  /** Streaming NEAR-duplicate filtering — the incremental-ingest form of
    * the batch MinHash pipeline: every micro-batch of documents is
    * (1) deduplicated within itself (banded candidates + transitive
    * closure, keep-lowest), (2) checked against the accumulated
    * signature STORE of previously admitted documents
    * ([[graft.operators.Dedup.minhashDupsAgainst]] — banded equi-join,
    * never batch × store), and (3) survivors land in the sink while
    * their signatures append to the store. Both writes are
    * overwrite-by-epoch, so a retried micro-batch replaces its partial
    * output — exactly-once without a transactional store.
    *
    * At 100 TB the store is the big side: the join ships only slim
    * (band, bh) rows and the per-epoch store layout keeps appends
    * cheap (no compaction in the hot path; compact offline).
    */
  def nearDupFilterStream(
      spark: SparkSession,
      docsDir: String, schema: StructType,
      idCol: String, textCol: String,
      outDir: String, storeDir: String, checkpointDir: String,
      threshold: Double = 0.7): StreamingQuery = {
    fileStream(spark, docsDir, schema).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        // within-batch exact dedup first (the dedupPipeline order),
        // materialized once: the near-dup pair join and the closure's
        // anti-join both read it
        val exactDone = graft.operators.Dedup
          .exactScalable(batch, idCol, textCol).localCheckpoint()
        val (admitted, sigs) = nearDupStage(spark, exactDone, idCol,
          textCol, storeDir, epoch, threshold)
        // the survivors DAG (dedup closure + store scan + banded join)
        // feeds BOTH writes below — persist so the store scan and
        // candidate join run once per epoch, not twice
        val survivors = admitted.persist()
        try {
          survivors.write.mode("overwrite").parquet(s"$outDir/epoch=$epoch")
          sigs.join(survivors.select(col(idCol).as("id")), "id")
            .write.mode("overwrite").parquet(s"$storeDir/epoch=$epoch")
        } finally survivors.unpersist()
        ()
      }
      .start()
  }

  /** The exact stage of the curation fronts: min-id per
    * xxhash64(normText) key within the batch (the skew-proof groupBy +
    * semi-join of Dedup.exact — never a window, even within a batch: a
    * boilerplate flood arrives as ONE batch), then an anti-join against
    * the hash store's prior epochs. The key `__h` is hashed once and
    * kept for the hash-store write.
    */
  private def exactStage(spark: SparkSession, docs: DataFrame,
      idCol: String, textCol: String, storeDir: String,
      epoch: Long): DataFrame = {
    val hashed = docs.withColumn("__h",
      xxhash64(graft.operators.Dedup.normText(col(textCol))))
    val keep = hashed.groupBy("__h").agg(min(col(idCol)).as("__keep"))
    val inBatch = hashed.join(keep.select("__keep"),
      hashed(idCol) === col("__keep"), "left_semi")
    val storeEpochs = storeEpochDirs(spark, storeDir, epoch)
    if (storeEpochs.isEmpty) inBatch
    else inBatch.join(spark.read.parquet(storeEpochs: _*)
      .select(col("h").as("__h")).distinct(), Seq("__h"), "left_anti")
  }

  /** The near-dup stage of the dedup fronts: the within-batch MinHash
    * closure (keep-lowest), then the check against the signature store's
    * prior epochs (banded equi-join, never batch × store). Returns
    * (survivors, in-batch survivors' signatures).
    */
  private def nearDupStage(spark: SparkSession, docs: DataFrame,
      idCol: String, textCol: String, storeDir: String, epoch: Long,
      threshold: Double): (DataFrame, DataFrame) = {
    import graft.operators.Dedup
    val pairs = Dedup.minhashPairs(docs, idCol, textCol, threshold = threshold)
    val removed = Dedup.clusterLabels(pairs)
      .filter(col("id") =!= col("label")).select("id")
    val inBatch = docs.join(removed.withColumnRenamed("id", idCol),
      Seq(idCol), "left_anti")
    val sigs = inBatch.select(col(idCol).as("id"),
      graft.functions.TextOps.minhash(col(textCol)).as("sig"))
    val storeEpochs = storeEpochDirs(spark, storeDir, epoch)
    val survivors =
      if (storeEpochs.isEmpty) inBatch
      else inBatch.join(Dedup.minhashDupsAgainst(sigs,
          spark.read.parquet(storeEpochs: _*), threshold = threshold)
        .withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
    (survivors, sigs)
  }

  /** Streaming front-end of the curation recipe (the batch composition
    * is q_curation_pipeline): per micro-batch, the STATELESS
    * Gopher-style quality gate filters first (narrow, no state), then
    * exact dedup runs within the batch and against the store of every
    * prior epoch's admitted documents — a re-ingested or boilerplate
    * document never reaches the training corpus twice. The store holds
    * 8-byte xxhash64(normText) keys only (never text), so cross-epoch
    * state grows with distinct ADMITTED documents, not corpus bytes —
    * the shape that keeps a year of 100 TB ingest inside a key-value
    * footprint. Same epoch-dir store/retry contract as
    * [[nearDupFilterStream]].
    */
  def curationFilterStream(
      spark: SparkSession,
      docsDir: String, schema: StructType,
      idCol: String, textCol: String,
      outDir: String, storeDir: String, checkpointDir: String,
      minWords: Int = 20): StreamingQuery = {
    fileStream(spark, docsDir, schema).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val gated = batch.filter(
          graft.functions.TextOps.curationGate(col(textCol), minWords))
        val survivors = exactStage(spark, gated, idCol, textCol, storeDir,
          epoch).persist()
        try {
          survivors.drop("__h")
            .write.mode("overwrite").parquet(s"$outDir/epoch=$epoch")
          survivors.select(col("__h").as("h"))
            .write.mode("overwrite").parquet(s"$storeDir/epoch=$epoch")
        } finally survivors.unpersist()
        ()
      }
      .start()
  }

  /** Streaming decontamination guard: per micro-batch, drop every
    * document whose distinct word `n`-grams hit the benchmark's Bloom
    * filter at least `minShared` times — the streaming twin of
    * [[graft.operators.Bloom.contaminationBloom]]. STATELESS by
    * construction: the filter bytes are fixed at stream start (a
    * bounded artifact like the stored IVF centroids), so each batch is
    * one narrow codegen'd probe pass + a slim per-id count — no
    * cross-epoch store, no shuffle against the benchmark at any
    * benchmark size. A new benchmark release is an offline event that
    * rebuilds the filter and restarts the guard — the same
    * offline-retrain / online-serve split as the index family. Error
    * is one-sided: a contaminated document can NEVER slip through; a
    * false positive costs one clean document (the safe direction).
    */
  def bloomDecontamStream(docs: DataFrame, idCol: String, textCol: String,
      bloomBytes: Array[Byte], outDir: String, checkpointDir: String,
      n: Int = 4, minShared: Long = 1): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val flagged = graft.operators.Bloom
          .contaminationBloom(batch, idCol, textCol, bloomBytes, n, minShared)
          .select(col("id").as("__flag"))
        batch.join(flagged, batch(idCol) === col("__flag"), "left_anti")
          .write.mode("overwrite").parquet(s"$outDir/epoch=$epoch")
        ()
      }
      .start()

  /** The FULLY-COMPOSED streaming curation front-end — the streaming
    * twin of the batch `gate → dedupPipeline` composition: per
    * micro-batch, (1) the stateless Gopher-style quality gate, (2)
    * exact dedup within the batch and against the cross-epoch hash
    * store (`storeDir/hash`, 8-byte xxhash64 keys), (3) MinHash
    * near-dup — the within-batch banded closure (keep-lowest) AND the
    * cross-epoch check against the signature store of previously
    * ADMITTED documents (`storeDir/sig`, the [[nearDupFilterStream]]
    * banded equi-join, never batch × store). Survivors land in the
    * sink; their hashes and signatures append to the two stores,
    * overwrite-by-epoch (idempotent retry).
    *
    * Equivalence contract (StreamingSpec proves it over three epochs):
    * when ids are assigned in arrival order, the admitted set equals
    * the batch `filter(curationGate) → dedupPipeline` over the union
    * of all epochs — first-seen-wins IS min-id-wins. The one inherent
    * divergence is transitive chains SPLIT ACROSS epochs: batch
    * closure can connect A–C through a B it also drops, while the
    * stream never stores a rejected document's signature; chains
    * within one epoch close identically.
    *
    * At 100 TB both stores grow with distinct ADMITTED documents
    * (8 B/doc hashes + numHashes·8 B/doc signatures), not corpus
    * bytes; every cross-epoch check ships slim (band, bh) or hash
    * rows. Stores compact offline by merging epoch dirs.
    */
  def curationNearDupFilterStream(
      spark: SparkSession,
      docsDir: String, schema: StructType,
      idCol: String, textCol: String,
      outDir: String, storeDir: String, checkpointDir: String,
      minWords: Int = 20, threshold: Double = 0.7): StreamingQuery = {
    fileStream(spark, docsDir, schema).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val gated = batch.filter(
          graft.functions.TextOps.curationGate(col(textCol), minWords))
        // feeds the within-batch pair join (twice via banding), the
        // cross-epoch join, and the final write — materialize once
        val afterExact = exactStage(spark, gated, idCol, textCol,
          s"$storeDir/hash", epoch).persist()
        try {
          val (admitted, sigs) = nearDupStage(spark, afterExact, idCol,
            textCol, s"$storeDir/sig", epoch, threshold)
          val survivors = admitted.persist()
          try {
            survivors.drop("__h")
              .write.mode("overwrite").parquet(s"$outDir/epoch=$epoch")
            survivors.select(col("__h").as("h"))
              .write.mode("overwrite").parquet(s"$storeDir/hash/epoch=$epoch")
            sigs.join(survivors.select(col(idCol).as("id")), "id")
              .write.mode("overwrite").parquet(s"$storeDir/sig/epoch=$epoch")
          } finally survivors.unpersist()
        } finally afterExact.unpersist()
        ()
      }
      .start()
  }

  /** Streaming stop-line (boilerplate) filter — the streaming form of
    * [[graft.operators.Dedup.stopLineFilter]]. Boilerplate only
    * emerges CORPUS-wide, so the mine accumulates across epochs: the
    * store holds per-epoch (kh, n) line frequencies (8-byte hashed
    * keys, never text — 16 bytes per distinct line). Each micro-batch
    * (1) mines its own normalized-line doc frequencies, (2) sums them
    * with every prior epoch's and takes keys whose CUMULATIVE count
    * reaches `minDocFreq` as the stop set (per-epoch distinct-doc
    * counts add exactly — a document never spans epochs), (3) scrubs
    * those lines from the batch via the broadcast anti-join, and (4)
    * appends its own frequencies overwrite-by-epoch (idempotent retry,
    * the [[nearDupFilterStream]] store contract).
    *
    * Inherent streaming/batch divergence, by design: a batch run sees
    * global counts, so a boilerplate line is scrubbed EVERYWHERE; a
    * stream can only scrub from the epoch where the cumulative count
    * crosses the threshold — text admitted before discovery is
    * immutable (re-filter offline when that matters). At 100 TB the
    * stop set (lines at `minDocFreq`+) is boilerplate-sized and
    * broadcastable; the store grows with distinct lines — compact
    * offline by merging epochs (sums are associative).
    */
  def stopLineFilterStream(
      spark: SparkSession,
      docsDir: String, schema: StructType,
      idCol: String, textCol: String,
      outDir: String, storeDir: String, checkpointDir: String,
      minDocFreq: Long = 3): StreamingQuery = {
    import graft.operators.Dedup
    fileStream(spark, docsDir, schema).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        // the mine feeds both the stop-set union and the store write
        val mine = Dedup.boilerplateLinesHashed(batch, idCol, textCol,
          minDocFreq = 1).persist()
        try {
          val storeEpochs = storeEpochDirs(spark, storeDir, epoch)
          val cumulative =
            (if (storeEpochs.nonEmpty)
              mine.unionByName(spark.read.parquet(storeEpochs: _*))
            else mine)
              .groupBy("kh").agg(sum(col("n")).as("n"))
          val stops = cumulative.filter(col("n") >= minDocFreq).select("kh")
          Dedup.stopLineFilterHashed(batch, idCol, textCol, stops)
            .withColumnRenamed("id", idCol)
            .write.mode("overwrite").parquet(s"$outDir/epoch=$epoch")
          mine.write.mode("overwrite").parquet(s"$storeDir/epoch=$epoch")
        } finally mine.unpersist()
        ()
      }
      .start()
  }

  /** Timeout-driven session emission via `flatMapGroupsWithState`: per
    * user, events accumulate in keyed state; when the event-time timeout
    * fires (no activity for `gap` past the watermark), the COMPLETED
    * session is emitted and state cleared. Unlike `mapGroupsWithState`
    * (exactly one output per invocation), flatMap emits zero rows while
    * a session is open and one when it closes — the emission contract
    * session analytics needs. State per user is O(1) (count + bounds).
    */
  def expiringSessions(events: DataFrame, gapMs: Long = 30 * 60 * 1000L,
      watermark: String = "2 hours"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, OutputMode}
    implicit val stateEnc = Encoders.product[SessionState]
    implicit val outEnc = Encoders.product[SessionOut]
    implicit val keyEnc = Encoders.scalaLong
    implicit val rowEnc = Encoders.product[SessionEvent]
    events
      .select(col("user_id").cast("long").as("user_id"),
        col("ts").cast("timestamp").as("ts"))
      .withWatermark("ts", watermark)
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, batch: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(uid, s.start, s.end, s.n))
          } else {
            var s = state.getOption.getOrElse(SessionState(Long.MaxValue, Long.MinValue, 0L))
            batch.foreach { e =>
              val t = e.ts.getTime
              s = SessionState(math.min(s.start, t), math.max(s.end, t), s.n + 1)
            }
            state.update(s)
            // close the session once the watermark passes last-event + gap
            state.setTimeoutTimestamp(s.end + gapMs)
            Iterator.empty
          }
      }
      .toDF()
  }

  /** Continuously-maintained latest-per-key snapshot — the streaming
    * twin of [[graft.operators.Compaction.latestByKey]] and the
    * changelog→table duality Kafka Streams calls a KTable: each
    * micro-batch folds its records into O(1) keyed state (the current
    * winner's ordering + payload) and, in Update output mode, emits one
    * refreshed snapshot row per key TOUCHED in the batch. Ties on the
    * ordering keep the incumbent (first-writer-wins, matching
    * `max_by`'s tie behavior under a unique tiebreak column folded into
    * `ord`). State never grows with changelog length — only with
    * distinct keys, the same bound the batch compaction's shuffle has.
    *
    * Input columns: (k LONG, ord LONG, payload STRING).
    */
  def latestByKeyStream(records: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.GroupState
    implicit val stateEnc = Encoders.product[WinnerState]
    implicit val keyEnc = Encoders.scalaLong
    implicit val rowEnc = Encoders.product[ChangeRec]
    records
      .select(col("k").cast("long").as("k"), col("ord").cast("long").as("ord"),
        col("payload").cast("string").as("payload"))
      .as[ChangeRec]
      .groupByKey(_.k)
      .mapGroupsWithState[WinnerState, ChangeRec](GroupStateTimeout.NoTimeout()) {
        (k: Long, batch: Iterator[ChangeRec], state: GroupState[WinnerState]) =>
          // explicit `has` flag, NOT an ord sentinel: a real record with
          // ord == Long.MinValue must still win an empty state
          var w = state.getOption.getOrElse(WinnerState(0L, null, has = false))
          batch.foreach { r =>
            if (!w.has || r.ord > w.ord) w = WinnerState(r.ord, r.payload, has = true)
          }
          state.update(w)
          ChangeRec(k, w.ord, w.payload)
      }
      .toDF()
  }

  /** Stream-stream interval join: each left event joins right events of
    * the same key whose timestamp falls within `[lts - before, lts]`.
    * Both sides carry watermarks and the join condition time-bounds BOTH
    * event times, so Spark derives a state-eviction horizon for each
    * side — state is bounded, the join runs forever (the streaming form
    * of the batch interval join, SURVEY §2.3/§2.9).
    */
  def intervalJoinStream(
      left: DataFrame, right: DataFrame, keyCol: String,
      before: String = "30 minutes", watermark: String = "1 hour",
      tsCol: String = "ts", idCol: String = "event_id"): DataFrame = {
    val l = left.withWatermark(tsCol, watermark)
      .select(col(keyCol).as("k"), col(tsCol).as("lts"),
        col(idCol).as("left_id"))
    val r = right.withWatermark(tsCol, watermark)
      .select(col(keyCol).as("rk"), col(tsCol).as("rts"),
        col(idCol).as("right_id"))
    l.join(r,
      col("k") === col("rk") &&
        col("rts") >= col("lts") - expr(s"INTERVAL $before") &&
        col("rts") <= col("lts"))
      .select(col("k").as(keyCol), col("left_id"), col("right_id"),
        col("lts"), col("rts"))
  }

  /** Sliding-window aggregation: overlapping windows (`size` long, one
    * every `slide`) — each event contributes to size/slide windows.
    * Watermark-bounded state like [[tumblingCounts]]; identical results
    * on a static DataFrame (batch twin).
    */
  def slidingCounts(events: DataFrame, size: String = "1 hour",
      slide: String = "15 minutes", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), size, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").cast("long").as("win_start"), col("event_type"), col("n"))
}

/** Keyed-state records for [[Streams.runningUserTotals]]. */
case class UserEvent(user_id: Long, cents: Long)
case class UserState(n: Long, cents: Long)
case class UserTotals(user_id: Long, n_events: Long, total_value: Double)

/** Changelog record / keyed state for [[Streams.latestByKeyStream]]. */
case class ChangeRec(k: Long, ord: Long, payload: String)
case class WinnerState(ord: Long, payload: String, has: Boolean)

/** Keyed-state records for [[Streams.expiringSessions]]. */
case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)
case class SessionState(start: Long, end: Long, n: Long)
case class SessionOut(user_id: Long, session_start: Long, session_end: Long, n_events: Long)
