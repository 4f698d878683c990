package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deletion support for the at-rest vector index stores (IVF / IVF-PQ /
  * HNSW) — the right-to-be-forgotten path a training-data corpus needs:
  * removing a document's vectors from a 100 TB index cannot mean
  * rewriting the index, so deletes land as TOMBSTONE epochs and the
  * store heals physically at its next compaction (exactly how the
  * reference's ecosystem handles deletes: Kafka compacted topics write
  * null-value tombstones, Lucene/Atlas segment indexes mark live-docs
  * and purge on merge — see [[graft.sources.TopicCatalog]]'s tombstone
  * twin for keyed topics).
  *
  * Protocol (shared by every store family):
  *
  *  - `$root/tombstones/epoch=T/` holds the deleted ids, written under
  *    the store lock. A row DIES iff its segment epoch ≤ the id's
  *    newest tombstone epoch; a LATER re-ingest of the same id
  *    out-lives the tombstone — the same last-writer-wins order the
  *    epoch machinery already gives appends, extended to deletes.
  *  - Serve-time: the per-id max tombstone epoch joins against the
  *    candidate rows (the tombstone side is a deduplicated id set —
  *    deletes are small relative to the corpus, AQE broadcasts it; no
  *    forced-broadcast byte hazard).
  *  - Compaction: the same rule applies PHYSICALLY to closed segments,
  *    then fully-applied tombstone epochs are dropped (a partition-dir
  *    delete — metadata only). Tombstones at or above a stream's
  *    in-flight epoch are RETAINED: the in-flight segment's
  *    at-least-once replay may re-write rows the tombstone already
  *    killed, and only the surviving tombstone keeps them dead at
  *    serve time until the next compaction.
  */
object Tombstones {

  private def dir(root: String) = s"$root/tombstones"

  def exists(spark: SparkSession, root: String): Boolean =
    FsUtil.exists(spark, dir(root))

  /** Record `ids` as deleted at `epoch`. Caller holds the store lock
    * (the write is an append of a fresh epoch partition — idempotent
    * re-delete of the same ids at the same epoch is harmless but the
    * lock serializes it against compaction's swap). One job: the ids
    * land as given (a repeated id only repeats a row [[maxPerId]]
    * groups away), and an empty delete stays a no-op — its zero-row
    * write adds no `epoch=` partition, and a tombstones dir left
    * without one is removed.
    */
  def write(spark: SparkSession, root: String, ids: DataFrame,
      idCol: String, epoch: Long): Unit = {
    // deletes are writes in the epoch order: a foreign-namespace
    // tombstone on a claimed store cannot kill/spare coherently
    IndexMaintenance.validateEpochNamespace(spark, root, epoch,
      s"delete from $root")
    ids.select(col(idCol).cast("long").as("id"), lit(epoch).as("epoch"))
      .write.partitionBy("epoch").mode("append").parquet(dir(root))
    dropIfNoEpochs(spark, root)
  }

  /** Remove a tombstones dir that holds no `epoch=` partition: with no
    * tombstones dir a serve stays join-free, and a dir without data
    * files could not be read.
    */
  private def dropIfNoEpochs(spark: SparkSession, root: String): Unit = {
    val p = new Path(dir(root))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.listStatus(p).forall(s =>
      !(s.isDirectory && s.getPath.getName.startsWith("epoch="))))
      fs.delete(p, true)
  }

  // (root, metadata fingerprint) -> count; LRU-bounded. Serve-time
  // widening (HnswSearch) asks this on EVERY query batch — the cache
  // turns steady-state serving into a driver FS listing with no Spark
  // job; any delete / append / compaction changes the fingerprint and
  // recounts once.
  private val deadCountCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, String), java.lang.Integer](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), java.lang.Integer])
        : Boolean = size > 64
    })

  private[graft] def clearDeadCountCache(): Unit = deadCountCache.clear()

  // metadata-only change detector: tombstone DATA FILES (name/len/mtime —
  // a second delete at the SAME epoch appends files, so epoch dirs alone
  // would miss it) plus the store's epoch partition dirs (a re-ingest
  // that revives an id lands as a NEW epoch; an in-flight replay
  // overwrites existing partitions with identical content, so missing it
  // is harmless)
  private def fingerprint(spark: SparkSession, root: String,
      storeDir: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val sb = new StringBuilder
    val tp = new Path(dir(root))
    val tfs = tp.getFileSystem(conf)
    // listing order is NOT guaranteed stable across calls on every
    // FileSystem — an unsorted key would make identical store state miss
    // the cache (spurious recount jobs), so entries are collected and
    // sorted into one canonical key
    val tEntries = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = tfs.listFiles(tp, true)
    while (it.hasNext) {
      val st = it.next()
      tEntries += s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}"
    }
    sb.append(tEntries.sorted.mkString(";")).append(';')
    val sp = new Path(storeDir)
    val sfs = sp.getFileSystem(conf)
    val sEntries = scala.collection.mutable.ArrayBuffer.empty[String]
    // full paths, not bare dir names: sorting a flat name list would
    // conflate different (cell, epoch) nestings that share names
    def walk(d: Path): Unit = sfs.listStatus(d).foreach { st =>
      if (st.isDirectory) {
        if (st.getPath.getName.contains("=")) sEntries += st.getPath.toUri.getPath
        walk(st.getPath)
      }
    }
    if (sfs.exists(sp)) walk(sp)
    sb.append(sEntries.sorted.mkString("|"))
    // the raw (sorted) listing IS the key (LRU holds ≤64 of them): a
    // hash here could collide into a stale — possibly too-small —
    // widening bound
    sb.toString
  }

  /** Tombstoned ids that still have a DEAD row (row epoch ≤ the id's
    * newest tombstone epoch) under `storeDir` — the exact displacement
    * bound serve-time over-fetch widening needs. Counting ALL tombstoned
    * ids over-widens: ids already re-ingested (alive again — no slot
    * displaced) and ids whose rows compaction already purged but whose
    * tombstone is retained for the in-flight epoch contribute nothing.
    * The tombstone side is delete-backlog-sized; the store side is a
    * two-column pruned scan, semi-joined FROM the tombstone side so the
    * output never exceeds the backlog. Cached against a metadata
    * fingerprint — steady-state serving pays no Spark job.
    */
  def liveDeadCount(spark: SparkSession, root: String, storeDir: String,
      idCol: String, epochCol: String): Int = {
    if (!exists(spark, root)) return 0
    val key = (root, fingerprint(spark, root, storeDir))
    val hit = deadCountCache.get(key)
    if (hit != null) return hit.intValue()
    val tomb = maxPerId(spark, root)
    val rows = FsUtil.readStore(spark, storeDir)
      .select(col(idCol).cast("long").as("__sid"),
        col(epochCol).cast("long").as("__sep"))
    val n = math.min(
      tomb.join(rows, tomb("id") === rows("__sid") &&
        rows("__sep") <= tomb("__tomb_epoch"), "left_semi").count(),
      (Int.MaxValue / 4).toLong).toInt
    deadCountCache.put(key, n)
    n
  }

  /** The per-id newest tombstone epoch — the one table every consumer
    * joins against: `(id, __tomb_epoch)`.
    */
  def maxPerId(spark: SparkSession, root: String): DataFrame =
    FsUtil.readStore(spark, dir(root))
      .groupBy(col("id"))
      .agg(max(col("epoch").cast("long")).as("__tomb_epoch"))

  /** Drop dead rows from `df`: survivors either carry an id with no
    * tombstone or out-live the id's newest tombstone
    * (`epochCol > __tomb_epoch`). No-op when the store has no
    * tombstones dir.
    */
  def filterLive(spark: SparkSession, root: String, df: DataFrame,
      idCol: String, epochCol: String): DataFrame =
    if (!exists(spark, root)) df
    else {
      // renamed join key: the consumer's frame usually has its own `id`
      val tomb = maxPerId(spark, root)
        .select(col("id").as("__tomb_id"), col("__tomb_epoch"))
      df.join(tomb, df(idCol) === tomb("__tomb_id"), "left")
        .filter(col("__tomb_epoch").isNull ||
          col(epochCol).cast("long") > col("__tomb_epoch"))
        .drop("__tomb_id", "__tomb_epoch")
    }

  /** Delete `ids` from the store at `root` whose rows live under
    * `root/dataDir`: the tombstone lands under the store lock, after
    * swap recovery, at `epoch` — by default the newest segment epoch
    * ("delete what's here now": every current row of the id dies, a
    * LATER append of it out-lives the delete). Returns the epoch used.
    */
  def deleteUnderLock(spark: SparkSession, root: String, dataDir: String,
      ids: DataFrame, idCol: String, epoch: Option[Long]): Long =
    IndexMaintenance.withStoreLock(spark, root) {
      IndexMaintenance.recoverSwap(spark, s"$root/$dataDir")
      val e = epoch.getOrElse(maxEpochIn(spark, s"$root/$dataDir"))
      write(spark, root, ids, idCol, e)
      e
    }

  /** The compaction half of the rule over a store's (id, epoch) rows:
    * tombstoned rows drop PHYSICALLY from closed segments, while the
    * in-flight `excludeEpoch` stays untouched — its at-least-once replay
    * must be able to overwrite itself, and the retained tombstone keeps
    * its dead rows filtered at serve time. Reads ORIGINAL epochs, so it
    * runs before any closed-epoch remap.
    */
  def applyToClosed(spark: SparkSession, root: String,
      excludeEpoch: Long)(df: DataFrame): DataFrame =
    if (!exists(spark, root)) df
    else filterLive(spark, root, df.filter(col("epoch") =!= excludeEpoch),
        "id", "epoch")
      .unionByName(df.filter(col("epoch") === excludeEpoch))

  /** After compaction physically applied the rule to all CLOSED
    * segments: drop fully-applied tombstone epochs, keep those that can
    * still affect the in-flight epoch's replays (epoch ≥
    * `excludeEpoch`). With no in-flight epoch the whole dir goes. Pure
    * partition-directory deletes — no data read.
    */
  def clearApplied(spark: SparkSession, root: String,
      excludeEpoch: Long = Long.MinValue): Unit = {
    if (!exists(spark, root)) return
    val p = new Path(dir(root))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (excludeEpoch == Long.MinValue) { fs.delete(p, true); return }
    fs.listStatus(p).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("epoch=") &&
        n.stripPrefix("epoch=").toLong < excludeEpoch)
        fs.delete(st.getPath, true)
    }
    dropIfNoEpochs(spark, root)
  }

  /** Newest segment epoch present under a partitioned store dir (any
    * nesting — `cell=/epoch=` or `shard=/epoch=`), via directory
    * listing only. The default delete epoch: "delete what the store
    * holds NOW" — every current row dies, any future append out-lives
    * it.
    */
  def maxEpochIn(spark: SparkSession, storeDir: String): Long = {
    val p = new Path(storeDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(d: Path): Iterator[Long] =
      fs.listStatus(d).iterator.filter(_.isDirectory).flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("epoch=")) Iterator.single(n.stripPrefix("epoch=").toLong)
        else if (n.contains("=")) walk(st.getPath)
        else Iterator.empty
      }
    val es = walk(p)
    require(es.hasNext, s"no epoch partitions under '$storeDir' — not an " +
      "epoch-partitioned index store")
    es.max
  }
}
