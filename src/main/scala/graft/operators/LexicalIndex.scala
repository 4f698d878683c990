package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** At-rest lexical index: the persisted, APPEND-ONLY form of the three
  * offline BM25 artifacts ([[Lexical.postings]], [[Lexical.corpusStats]],
  * [[Lexical.termDf]]) — the lexical twin of the persisted vector
  * indexes ([[IvfSearch.writeIndex]] / appendToIndex), so a
  * continuously-ingested corpus can serve HYBRID retrieval without a
  * batch re-index: the vector side appends through the IVF family, the
  * lexical side appends here, and [[Lexical.hybridTopK]] reads both as
  * supplied artifacts.
  *
  * Layout under `path`:
  *  - `postings/` — (id, dl, tok, tf) parquet, partitioned by
  *    `bucket = pmod(xxhash64(tok), NBuckets)` and then by the append
  *    `epoch`: a serve path whose query term set is driver-known
  *    ([[postingsForTerms]]) prunes unprobed bucket directories at
  *    file-listing time, exactly like the IVF probe's cell pruning —
  *    the 100 TB posture for a handful of query terms against a
  *    corpus-sized posting store. The inner epoch level exists for
  *    EXACTLY-ONCE streaming: an epoch-tagged append lands as a
  *    dynamic-partition overwrite of its own `epoch=` directories, so
  *    an at-least-once `foreachBatch` replay REPLACES the failed
  *    attempt's rows instead of duplicating them (the overwrite-by-
  *    epoch sink pattern, applied inside a partitioned store).
  *  - `stats/` — one (n, ndl, sumdl) partial row per segment,
  *    partitioned by the same `epoch`. Reading sums the partials:
  *    counts and integer-valued double sums are exact under addition
  *    (≤ 2^53), so the derived (n, avgdl = sumdl/ndl) is bit-identical
  *    to the batch [[Lexical.corpusStats]] over the unioned corpus
  *    regardless of how ingestion was batched. `ndl` (docs with
  *    non-null text) is stored separately from `n` because the batch
  *    form's `avg` EXCLUDES null-text documents from its denominator
  *    while still counting them in `n` — a single stored count cannot
  *    reproduce both.
  *
  * df per term is DERIVED from the posting store ((id, tok) rows are
  * distinct by construction), never stored — a stored df would need
  * read-modify-write per append; the derived one is append-free and the
  * aggregation is Zipf-bounded (vocabulary-sized).
  *
  * Contract: append batches carry documents whose ids are NOT already in
  * the index (the same new-rows contract as the vector appendToIndex
  * family) — re-ingesting a document would double its postings. The
  * streaming front-ends pair this with the cross-epoch dedup stores.
  */
object LexicalIndex extends MaintainedStore[Long] {

  /** An upsert re-ingests a live id, which the append contract forbids
    * (it would double the postings and the stats partial): every changed
    * id tombstones first — which also writes the NEGATIVE stats partial
    * for the dying rows, so n/avgdl heal in the same breath — and the
    * live document lands at a later epoch with its own positive partial.
    */
  def upsertTombstones: Boolean = true
  def append(df: DataFrame, idCol: String, valueCol: String, path: String,
      epoch: Long): Long = appendToIndex(df, idCol, valueCol, path, epoch)
  def delete(spark: SparkSession, path: String, ids: DataFrame, idCol: String,
      epoch: Long): Unit = deleteFromIndex(spark, path, ids, idCol, Some(epoch))
  def compact(spark: SparkSession, path: String, excludeEpoch: Long): (Long, Long) =
    compactIndex(spark, path, excludeEpoch)

  /** Posting-store partition fan-out. 64 directories keeps listing cheap
    * while a 3-term query prunes ~95% of a corpus-sized store.
    */
  val NBuckets = 64

  /** The epoch partition value of the offline-built base segment (and of
    * compacted-together history).
    */
  val BaseEpoch = -1L

  private def bucketed(posts: DataFrame): DataFrame =
    posts
      // int, not long: partition-directory values infer back as int, and
      // the serve-time IN filter must hit the inferred type exactly for
      // the pruning to happen at file-listing time (a cast around a
      // partition column defeats pruning)
      .withColumn("bucket", pmod(xxhash64(col("tok")), lit(NBuckets)).cast("int"))

  /** The (n, ndl, sumdl) aggregates over [[Lexical.tokenized]] rows: n
    * counts every document, ndl those with a non-null text (a null text
    * tokenizes to null) — precisely the denominator the batch
    * `avg(size(toks(text)))` uses — and sumdl their tokens. A token-less
    * document adds the 0 it adds to the batch sum.
    */
  private val docStats: Seq[Column] = Seq(count(lit(1)), count(col("__tk")),
    sum(when(col("__tk").isNotNull, size(col("__tk")))))

  private def statsOf(r: Row): (Long, Long, Double) =
    (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) 0.0 else r.getLong(2).toDouble)

  private def writeStatsRow(spark: SparkSession, path: String,
      n: Long, ndl: Long, sumdl: Double, epoch: Long, replace: Boolean): Unit = {
    import spark.implicits._
    IndexMaintenance.epochWrite(
      Seq((n, ndl, sumdl, epoch)).toDF("n", "ndl", "sumdl", "epoch").coalesce(1),
      Seq("epoch"), if (replace) epoch else -1L, s"$path/stats")
  }

  /** Build (or rebuild) the index from a corpus — the offline "index
    * once" half; [[appendToIndex]] is the online "append forever" half.
    * The stats come from one aggregate over the tokenized corpus. Stats
    * are written LAST, so their `_SUCCESS` implies the whole index
    * landed.
    */
  def writeIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String): Unit = {
    val spark = docs.sparkSession
    val tokens = Lexical.tokenized(docs, idCol, textCol)
    bucketed(Lexical.postingsOf(tokens)).withColumn("epoch", lit(BaseEpoch))
      .write.partitionBy("bucket", "epoch").mode("overwrite")
      .parquet(s"$path/postings")
    val (n, ndl, sumdl) = statsOf(tokens.agg(docStats.head, docStats.tail: _*).head())
    // fresh build: drop any previous stats dir wholesale
    val statsPath = new org.apache.hadoop.fs.Path(s"$path/stats")
    statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(statsPath, true)
    writeStatsRow(spark, path, n, ndl, sumdl, BaseEpoch, replace = false)
  }

  /** Append one batch of NEW documents. Fails loudly on a missing or
    * unreachable store (Hadoop-FS probe): an absent index must never be
    * silently (re)created mid-stream — that is the silent-empty failure
    * mode the cross-epoch stores were hardened against.
    *
    * `epoch >= 0` makes the append IDEMPOTENT: postings and the stats
    * partial land as dynamic-partition overwrites of that epoch's own
    * directories, so re-running the same (batch, epoch) — an
    * at-least-once foreachBatch replay, or a crash between the postings
    * and stats writes — REPLACES the previous attempt instead of
    * double-counting it. The default `epoch = -1` is a plain ad-hoc
    * append into the base segment (no replay protection — automated
    * ingestion should always tag epochs). Returns documents appended.
    */
  def appendToIndex(batch: DataFrame, idCol: String, textCol: String,
      path: String, epoch: Long = BaseEpoch): Long = {
    val spark = batch.sparkSession
    // tokenize ONCE (outside the lock — pure compute): the checkpoint
    // job also takes the stats partial, and the posting write reads the
    // materialized tokens, so nothing re-scans the text
    val (tokens, stats) = IndexMaintenance.checkpointObserved(
      Lexical.tokenized(batch, idCol, textCol), docStats: _*)
    val (n, ndl, sumdl) = statsOf(stats)
    // writes run under the store lease, and swap recovery runs FIRST:
    // a replayed append after a compactor crashed mid-swap must restore
    // the retired/staged store before writing — a bare write would
    // CREATE a fresh dir holding only this epoch, and the next
    // compaction's recovery would then discard the real store as debris
    try IndexMaintenance.withStoreLock(spark, path) {
      IndexMaintenance.recoverSwap(spark, s"$path/postings")
      IndexMaintenance.recoverSwap(spark, s"$path/stats")
      require(FsUtil.exists(spark, s"$path/stats"),
        s"lexical index at '$path' does not exist or is unreachable — " +
          "writeIndex first (appending to a missing store would serve empty postings)")
      IndexMaintenance.epochWrite(
        bucketed(Lexical.postingsOf(tokens)).withColumn("epoch", lit(epoch)),
        Seq("bucket", "epoch"), epoch, s"$path/postings")
      writeStatsRow(spark, path, n, ndl, sumdl, epoch, replace = epoch >= 0)
    } finally IndexMaintenance.unpersistCheckpoint(tokens)
    n
  }

  /** The full posting list, shaped for the `post` parameter of
    * [[Lexical.bm25Scores]]/[[Lexical.bm25TopK]]/[[Lexical.hybridTopK]].
    * Tombstoned documents' rows die here (see [[deleteFromIndex]]), so
    * every consumer — scoring, [[termDf]]'s document frequencies —
    * serves the post-delete corpus.
    */
  def postings(spark: SparkSession, path: String): DataFrame =
    Tombstones.filterLive(spark, path,
      FsUtil.readStore(spark, s"$path/postings"), "id", "epoch")
      .select("id", "dl", "tok", "tf")

  /** Delete documents from a persisted lexical index without rewriting
    * it — the text-store twin of [[IvfSearch.deleteFromIndex]] (one
    * [[Tombstones]] protocol across every at-rest index family): the
    * tombstone kills the documents' posting rows at serve time
    * immediately, a LATER re-append of the same id out-lives it, and
    * the next [[compactIndex]] removes the rows physically.
    *
    * BM25's GLOBAL constants heal too: the deleted documents' (count,
    * Σdl) — aggregated from their still-alive posting rows, so a
    * double-delete subtracts nothing twice — land as a NEGATIVE stats
    * partial under the same summed-partials contract appends use;
    * `corpusStats` is correct from the moment the delete commits.
    * Documents whose text tokenized to nothing have no posting rows and
    * keep their +1 in `n` (they are unretrievable either way — the
    * residue affects only the idf constant and clears at the next full
    * [[writeIndex]]). `ids` is read twice, by the correction's posting
    * scan and by the tombstone write, so pass a frame that is cheap and
    * deterministic to re-read (the maintenance front passes its
    * checkpointed batch). Returns the tombstone epoch used.
    */
  def deleteFromIndex(spark: SparkSession, path: String,
      ids: DataFrame, idCol: String, epoch: Option[Long] = None): Long = {
    require(FsUtil.exists(spark, s"$path/stats"),
      s"lexical index at '$path' does not exist or is unreachable")
    IndexMaintenance.withStoreLock(spark, path) {
      IndexMaintenance.recoverSwap(spark, s"$path/postings")
      IndexMaintenance.recoverSwap(spark, s"$path/stats")
      val e = epoch.getOrElse(Tombstones.maxEpochIn(spark, s"$path/postings"))
      val victims = ids.select(col(idCol).cast("long").as("__del"))
      val alive = Tombstones.filterLive(spark, path,
          FsUtil.readStore(spark, s"$path/postings"), "id", "epoch")
        // only rows the tombstone at epoch e actually kills: rows with a
        // LATER epoch out-live it (LWW), so subtracting their stats here
        // would undercount n/avgdl — and a replayed delete that lands
        // after a re-append (CDC sub-epoch 2e+1) would subtract a second
        // partial for documents that are still served, permanently
        .filter(col("epoch").cast("long") <= e)
      // one (id, epoch) unit per append that counted the doc — the exact
      // quantum the positive partials were written in
      val perDoc = alive
        .join(victims, alive("id") === victims("__del"), "left_semi")
        .groupBy(col("id"), col("epoch")).agg(first(col("dl")).as("__dl"))
      val r = perDoc.agg(count(lit(1)), sum(col("__dl")).cast("double")).head()
      val nDel = r.getLong(0)
      if (nDel > 0) {
        // tombstone FIRST, correction second: a crash between the two
        // leaves the rows dead and the stats conservatively overcounted
        // (a retry then finds no alive victims and subtracts nothing) —
        // the reverse order would subtract AGAIN on every retry. The
        // residue is the same bounded idf-constant class as the
        // tokenless-doc note above and clears at the next writeIndex.
        Tombstones.write(spark, path, victims, "__del", e)
        writeStatsRow(spark, path, -nDel, -nDel, -r.getDouble(1), e,
          replace = false)
      }
      e
    }
  }

  /** Compact the store — see [[IndexMaintenance]] for the decay this
    * cures and the swap discipline (including crash recovery of an
    * interrupted swap, which runs first). Postings collapse to one file
    * per (bucket, epoch-segment); all CLOSED epochs merge into the
    * [[BaseEpoch]] segment, while `excludeEpoch` (the stream's
    * in-flight epoch) keeps its own partitions so an at-least-once
    * replay of it can still overwrite itself — pass it from
    * `foreachBatch`; offline compaction omits it and everything merges.
    * Serve-identical: same rows, same `bucket=` partition values (so
    * [[postingsForTerms]] pruning is untouched); the per-append stats
    * partials collapse to one pre-summed row per segment — exact,
    * because the partials are counts and integer-valued sums under an
    * associative `sum`. Asserted end-to-end on BM25 scores in
    * StreamingSpec. Returns (posting files before, after).
    */
  def compactIndex(spark: SparkSession, path: String,
      excludeEpoch: Long = Long.MinValue): (Long, Long) =
    IndexMaintenance.withStoreLock(spark, path) {
      // recovery BEFORE the existence check: a compactor that crashed
      // mid-swap leaves the live dir missing with a complete staged or
      // retired copy beside it — requiring existence first would wedge
      // the store until a manual rename
      IndexMaintenance.recoverSwap(spark, s"$path/postings")
      IndexMaintenance.recoverSwap(spark, s"$path/stats")
      require(FsUtil.exists(spark, s"$path/stats"),
        s"lexical index at '$path' does not exist or is unreachable")
      // deletes heal here (see deleteFromIndex) before the epoch remap.
      // The stats rewrite needs no delete logic — the negative partials
      // the delete wrote merge into the summed segments like any other row.
      val counts = IndexMaintenance.compactPartitionedDir(
        spark, s"$path/postings", Seq("bucket", "epoch"), NBuckets * 2,
        (Tombstones.applyToClosed(spark, path, excludeEpoch) _)
          .andThen(IndexMaintenance.closedEpochsToBase(excludeEpoch)))
      IndexMaintenance.rewriteDir(spark, s"$path/stats",
        partitionCols = Seq("epoch")) { df =>
        IndexMaintenance.closedEpochsToBase(excludeEpoch)(df)
          .groupBy("epoch")
          .agg(sum(col("n")).as("n"), sum(col("ndl")).as("ndl"),
            sum(col("sumdl")).as("sumdl"))
          .select("n", "ndl", "sumdl", "epoch")
          .coalesce(1)
      }
      Tombstones.clearApplied(spark, path, excludeEpoch)
      counts
    }

  /** Bucket-pruned posting scan for a DRIVER-KNOWN term set: the IN
    * filter on the partition column lists only the terms' bucket
    * directories (cf. the IVF probe). Semantics identical to filtering
    * [[postings]] — callers still equi-join on the term.
    */
  def postingsForTerms(spark: SparkSession, path: String,
      terms: Seq[String]): DataFrame = {
    import spark.implicits._
    // derive the buckets with the SAME expression that partitioned the
    // store (a local-relation job over the driver-known term list) —
    // hand-rolling the hash here would silently desync on a seed change
    val buckets = terms.toDF("t")
      .select(pmod(xxhash64(col("t")), lit(NBuckets)).cast("int")).distinct()
      .collect().map(r => r.getInt(0): Any).toSeq
    Tombstones.filterLive(spark, path,
        FsUtil.readStore(spark, s"$path/postings")
          .filter(col("bucket").isin(buckets: _*)),
        "id", "epoch")
      .select("id", "dl", "tok", "tf")
  }

  /** The (n, avgdl) artifact, shaped for the `stats` parameter of the
    * BM25 family — summed over every segment's partial row. avgdl
    * divides by `ndl` (non-null-text docs), the batch `avg`'s exact
    * denominator.
    */
  def corpusStats(spark: SparkSession, path: String): DataFrame =
    FsUtil.readStore(spark, s"$path/stats")
      .agg(sum(col("n")).cast("double").as("n"),
        (sum(col("sumdl")) / sum(col("ndl"))).as("avgdl"))

  /** df per term, shaped for the `dfTable` parameter of
    * [[Lexical.hybridTopK]] — derived from the posting store.
    */
  def termDf(spark: SparkSession, path: String): DataFrame =
    postings(spark, path).groupBy(col("tok"))
      .agg(count(lit(1)).as("__df"))
      .select(col("tok").as("term"), col("__df"))
}
