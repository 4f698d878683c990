package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file compaction for persisted index stores — the maintenance
  * half of the "index once, append forever" contract shared by the
  * vector indexes ([[IvfSearch.appendToIndex]] /
  * [[IvfPqIndex.appendToIndex]]) and the lexical index
  * ([[LexicalIndex.appendToIndex]]).
  *
  * Continuous ingestion appends one parquet file per micro-batch per
  * touched partition directory, so an index that has been streaming for
  * days pays file-listing and footer-open costs proportional to its
  * INGESTION HISTORY, not its data size — the classic small-file decay
  * every long-lived partitioned store hits (the index analog of Kafka
  * log compaction, which [[graft.sources.TopicCatalog.compactByPolicy]]
  * already runs for topics). Compaction rewrites each partition's rows
  * into one file and swaps the rewrite in. Row-identical by
  * construction: same rows, same schema, same partition values — so
  * probe-time partition pruning (IVF cells, lexical term buckets) is
  * untouched. Asserted serve-identical end-to-end in StreamingSpec
  * (BM25 scores) and IvfSpec (probe results).
  *
  * Swap discipline: the rewrite lands in a dot-prefixed sibling staging
  * dir (never read by anyone), then swaps in via two renames. Rename is
  * atomic on HDFS and local filesystems; compaction is a SINGLE-WRITER
  * maintenance step enforced by [[withStoreLock]]. A crash between the
  * two renames leaves the live path missing with a complete staged copy
  * beside it — [[recoverSwap]] heals every such intermediate state and
  * runs at the start of each compaction. Readers are not excluded: a
  * serve that lists the dir inside the (microseconds-wide) rename
  * window can fail transiently and should simply retry; on rename-less
  * object stores (S3) compact to a fresh index path and flip the
  * serving pointer instead.
  */
object IndexMaintenance {

  /** Lease age beyond which an existing lock is a crashed compactor's
    * leftover (same policy as `TopicCatalog.CompactionLeaseMillis`).
    */
  val CompactionLeaseMillis: Long = 10L * 60 * 1000

  private val monitors =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  /** Outcome of reading the lock's owner token. VANISHED
    * (FileNotFoundException — nothing left to release) is deliberately
    * distinct from UNREADABLE (checksum mismatch after an out-of-band
    * rewrite, or a transient IO failure) — only the former proves the
    * lock is gone; the latter may be a usurper's lock and must never be
    * deleted on that evidence.
    */
  sealed private trait LockRead
  private final case class TokenIs(token: String) extends LockRead
  private case object LockVanished extends LockRead
  private case object LockUnreadable extends LockRead

  /** Enforce ONE active compactor per index store — the same protocol
    * the topic compactor uses: in-process compactions serialize on a
    * per-store monitor, and an on-disk `.compact.lock` lease (atomic
    * no-overwrite create through the Hadoop FS, stale after
    * [[CompactionLeaseMillis]]) makes a compactor in another process
    * fail fast instead of racing the rename swap. Dot-prefixed, so
    * readers never see it.
    *
    * Cross-process discipline the lease file itself must honor:
    *  - the lock file carries a per-acquisition OWNER TOKEN, and release
    *    deletes the lock only while the token still matches — a holder
    *    that overran its lease and was legitimately usurped must not
    *    delete the usurper's lock (that would cascade the broken-lease
    *    state the takeover just repaired). An overrun-and-usurped body
    *    that completes fails LOUDLY instead of returning, because its
    *    writes may have raced the takeover's.
    *  - stale-lock takeover is a RENAME of the stale lock to a
    *    contender-unique tombstone, not delete-then-create: rename
    *    succeeds for exactly one contender under HDFS/posix semantics,
    *    where interleaved deletes let two contenders both create "their"
    *    lock and both proceed into the rename swap.
    */
  def withStoreLock[T](spark: SparkSession, root: String)(body: => T): T =
    monitors.getOrElseUpdate(new Path(root).toString, new Object).synchronized {
      val lock = new Path(root, ".compact.lock")
      val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val token = java.util.UUID.randomUUID().toString
      def tryCreate(): Boolean =
        try {
          val out = fs.create(lock, false)
          out.write(token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          out.close()
          true
        } catch { case _: java.io.IOException => false }
      def lockToken(): LockRead =
        try {
          val in = fs.open(lock)
          try {
            // read to EOF: a single read() is not guaranteed to fill the
            // buffer on every filesystem, and a partial token must not
            // masquerade as a foreign one
            val bos = new java.io.ByteArrayOutputStream()
            val buf = new Array[Byte](128)
            var n = in.read(buf)
            while (n > 0) { bos.write(buf, 0, n); n = in.read(buf) }
            TokenIs(new String(bos.toByteArray,
              java.nio.charset.StandardCharsets.UTF_8))
          } finally in.close()
        } catch {
          case _: java.io.FileNotFoundException => LockVanished
          case _: java.io.IOException           => LockUnreadable
        }
      if (!tryCreate()) {
        val age = try
          System.currentTimeMillis() - fs.getFileStatus(lock).getModificationTime
        catch { case _: java.io.IOException => Long.MaxValue } // vanished: stale
        if (age < CompactionLeaseMillis)
          throw new IllegalStateException(
            s"compaction already in progress on index store $root " +
              s"(lock $lock, age ${age / 1000}s < lease ${CompactionLeaseMillis / 1000}s)")
        // stale: crashed compactor. Exactly one contender wins the rename
        // of the old lock to its own tombstone; losers fall through to the
        // no-overwrite create, which the winner has already claimed.
        val tomb = new Path(root, s".compact.lock.stale-$token")
        val wonTakeover =
          try fs.rename(lock, tomb) catch { case _: java.io.IOException => false }
        if (wonTakeover) fs.delete(tomb, false)
        if (!tryCreate())
          throw new IllegalStateException(
            s"lost the compaction-lock race on index store $root")
      }
      val t0 = System.currentTimeMillis()
      var stillOwned = true
      val result =
        try body
        finally {
          // ownership on release: ONLY a matching token means ours. A
          // FOREIGN token means a takeover (or a protocol violator)
          // holds the store — leave its lock alone. An UNREADABLE token
          // is retried a bounded number of times (that covers a genuine
          // transient IO hiccup), but one that STAYS unreadable is
          // treated as foreign and never deleted: on checksummed
          // filesystems a usurper's out-of-band rewrite makes the
          // holder's read fail with a checksum mismatch, and deleting on
          // that signal would cascade the exact broken-lease state the
          // takeover repaired. A conservatively orphaned lock self-heals
          // through the mtime-staleness takeover above. A VANISHED lock
          // has nothing left to release and is equally not ours.
          var read = lockToken()
          var retries = 0
          while (read == LockUnreadable && retries < 3) {
            Thread.sleep(25L << retries)
            read = lockToken()
            retries += 1
          }
          stillOwned = read == TokenIs(token)
          if (stillOwned) fs.delete(lock, false)
        }
      if (!stillOwned)
        throw new IllegalStateException(
          s"compaction on index store $root held the lease for " +
            s"${(System.currentTimeMillis() - t0) / 1000}s (lease " +
            s"${CompactionLeaseMillis / 1000}s) and was usurped by another " +
            "compactor — its writes may have raced the takeover; verify the " +
            "store (recoverSwap heals interrupted swaps) before serving")
      result
    }

  /** Heal a dir whose previous swap was interrupted. States and cures:
    *  - live present: any leftover staged/retired dirs are a PRE-swap
    *    crash's debris (staged is only promoted after live is retired)
    *    — discard them;
    *  - live missing, staged present: crash between the two renames —
    *    the staged copy is complete (it is fully written before any
    *    rename), promote it;
    *  - live missing, only retired present: crash right after retiring
    *    — restore the retired original.
    * Returns true when a missing live dir was restored. Call under
    * [[withStoreLock]] (compaction does, first thing).
    */
  def recoverSwap(spark: SparkSession, dir: String): Boolean = {
    val live = new Path(dir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = new Path(stagingFor(dir))
    val retired = new Path(live.getParent, s".${live.getName}-retired")
    if (fs.exists(live)) {
      fs.delete(staged, true)
      fs.delete(retired, true)
      false
    } else if (fs.exists(staged)) {
      require(fs.rename(staged, live), s"recover: cannot promote $staged")
      fs.delete(retired, true)
      true
    } else if (fs.exists(retired)) {
      require(fs.rename(retired, live), s"recover: cannot restore $retired")
      true
    } else false
  }

  /** The ONE epoch-disciplined writer every index append goes through:
    * `epoch >= 0` lands as a dynamic-partition OVERWRITE of the frame's
    * own partitions (idempotent replay — the exactly-once contract);
    * `epoch < 0` is a plain append into the base segment. Centralized
    * so the overwrite discipline can never silently diverge between the
    * lexical and vector stores — and so the single-writer epoch
    * contract is ENFORCED here, not merely documented: a namespaced
    * epoch from a namespace other than the store's claimed writer is
    * refused before any bytes land ([[claimWriter]]).
    *
    * A write keyed by more than the epoch (`bucket`, `cell`, `shard`)
    * is hash-spread over `spark.sql.shuffle.partitions` tasks on its
    * non-epoch partition columns: every partition dir's rows land in
    * one task, so each dir still gets exactly one file per epoch, and
    * the explicit partition count keeps AQE from coalescing the write
    * back into a single task that opens every file in turn. A write
    * keyed by the epoch alone has one dir to fill and stays as it is.
    */
  def epochWrite(df: DataFrame, partitionCols: Seq[String], epoch: Long,
      dir: String): Unit = {
    validateEpochNamespace(df.sparkSession,
      new Path(dir).getParent.toString, epoch, s"append to $dir")
    val spread = partitionCols.filterNot(_ == "epoch")
    val w = (if (spread.isEmpty) df
      else df.repartition(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
        spread.map(col): _*))
      .write.partitionBy(partitionCols: _*)
    (if (epoch >= 0)
       w.option("partitionOverwriteMode", "dynamic").mode("overwrite")
     else w.mode("append")).parquet(dir)
  }

  // --- single-writer epoch contract (see Streams.epochKey) ---------------
  // Namespaced epochs (22 namespace bits << 40) order by namespace HASH,
  // not logical time, so the tombstone rule and serve-time LWW are only
  // coherent while ONE namespace owns a store's epoch order. The first
  // namespaced write claims the store in a `_writer/namespace` sidecar;
  // any later namespaced write or delete under a DIFFERENT namespace
  // fails loudly instead of silently corrupting LWW. Epochs < 2^40
  // (manual batch appends, base segments, deletes defaulting to the
  // store's own maxEpochIn) carry namespace 0 / -1 and stay unrestricted
  // on unclaimed stores: the manual cadence IS a legitimate single
  // writer — but once a stream has claimed the store, a foreign
  // small-integer epoch is refused too (it would land UNDER every
  // claimed epoch and un-kill / mis-order against the stream's rows).

  /** Namespace bits of an epoch: -1 for base-segment epochs (< 0),
    * otherwise the top 22 bits (0 for plain small-integer epochs).
    */
  def epochNamespaceOf(epoch: Long): Long =
    if (epoch < 0) -1L else (epoch >>> 40) & 0x3FFFFFL

  private def writerSidecar(root: String) = new Path(root, "_writer/namespace")

  // positive claims are immutable for the store's lifetime — cache them
  // so steady-state appends pay zero FS probes; absence is NOT cached
  // (another process may claim between batches)
  private val writerCache =
    scala.collection.concurrent.TrieMap.empty[String, (Long, String)]

  private def readClaimDisk(spark: SparkSession, root: String): Option[(Long, String)] = {
    val p = writerSidecar(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // malformed content is retried briefly: a racing winner's claim can
    // exist momentarily before its bytes land (exclusive create, then
    // write) — a claim that STAYS malformed is an error, never a
    // silently-unclaimed store
    var attempt = 0
    while (true) {
      if (!fs.exists(p)) return None
      val in = fs.open(p)
      val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val parsed = raw.split("\n", 2) match {
        case Array(ns, who) if ns.trim.matches("-?[0-9]+") =>
          Some((ns.trim.toLong, who.trim))
        case Array(ns) if ns.trim.matches("-?[0-9]+") =>
          Some((ns.trim.toLong, ""))
        case _ => None
      }
      parsed match {
        case Some(claim) =>
          writerCache.put(root, claim)
          return Some(claim)
        case None if attempt < 20 =>
          attempt += 1; Thread.sleep(25)
        case None => throw new IllegalStateException(
          s"writer claim at '$p' is unreadable (content: '${raw.take(80)}') — " +
            "likely a claimant crashed between the exclusive create and " +
            "writing its bytes. Recovery: verify no live writer is streaming " +
            s"into this store, then delete the sidecar file '$p' and restart " +
            "the intended writer (it will re-claim cleanly)")
      }
    }
    None // unreachable
  }

  private def readClaim(spark: SparkSession, root: String): Option[(Long, String)] =
    writerCache.get(root).orElse(readClaimDisk(spark, root))

  /** The store's current writer claim, if any — (namespace, owner). A
    * retirement path (DROP SEARCH CORPUS, re-registration GC) checks
    * this before deleting at-rest bytes: deleting a store a stream
    * still claims would strand the stream's checkpointed writer mid-
    * epoch. Re-read from DISK, not the cache: a refusal must be based
    * on the live sidecar (same rule as [[confirmedClaim]]).
    */
  def currentClaim(spark: SparkSession, root: String): Option[(Long, String)] =
    confirmedClaim(spark, root)

  /** A cached claim that is about to REFUSE a caller must be re-read
    * from disk first: a store retired (deleted) and recreated at the
    * same path in one JVM would otherwise refuse its new writer on the
    * dead store's cached claim forever — a false refusal is almost as
    * bad as a missed one.
    */
  private def confirmedClaim(spark: SparkSession, root: String): Option[(Long, String)] = {
    writerCache.remove(root)
    readClaimDisk(spark, root)
  }

  /** Claim exclusive epoch-order ownership of the store at `root` for
    * `namespace` (idempotent per namespace — a RESTART of the same
    * checkpoint re-claims harmlessly). A store already claimed by a
    * different namespace refuses loudly: two stream checkpoints writing
    * one index store is the silent-LWW-corruption class this engine
    * refuses everywhere else. `owner` is a human-readable identity for
    * the error message (the checkpoint path).
    */
  def claimWriter(spark: SparkSession, root: String, namespace: Long,
      owner: String): Unit = {
    require(namespace >= 0, s"claimWriter: namespace must be >= 0, got $namespace")
    readClaim(spark, root) match {
      case Some((ns, _)) if ns != namespace =>
        confirmedClaim(spark, root) match {
          case Some((ns2, who2)) if ns2 != namespace =>
            throw new IllegalStateException(
              s"index store at '$root' is owned by writer namespace $ns2 " +
                s"('$who2'); a second writer (namespace $namespace, '$owner') " +
                "would corrupt the store's epoch order — stream through the " +
                "owning checkpoint, or retire the store")
          case Some(_) => () // disk agrees with the caller after all
          case None =>
            // the store was retired; claim fresh
            claimWriter(spark, root, namespace, owner)
        }
      case Some(_) => ()
      case None =>
        val p = writerSidecar(root)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.mkdirs(p.getParent)
        // exclusive CREATE arbitrates the race (rename cannot: Hadoop's
        // LocalFileSystem rename overwrites an existing destination, so
        // two renamers would both "win"); the tiny window where the
        // winner's claim exists but is not yet fully written is covered
        // by the reader's bounded malformed-content retry in
        // [[readClaimDisk]]
        val won =
          try {
            val out = fs.create(p, false) // fail, don't clobber, on a race
            try out.write(s"$namespace\n$owner".getBytes("UTF-8"))
            finally out.close()
            true
          } catch { case _: java.io.IOException => false }
        if (won) writerCache.put(root, (namespace, owner))
        else {
          // lost the race — re-read and hold the winner to the contract
          writerCache.remove(root)
          readClaim(spark, root) match {
            case Some((ns, who)) if ns != namespace =>
              throw new IllegalStateException(
                s"index store at '$root' was claimed concurrently by " +
                  s"namespace $ns ('$who') — second writer refused")
            case Some(_) => ()
            case None => throw new IllegalStateException(
              s"cannot persist writer claim under '$root'")
          }
        }
    }
  }

  /** Refuse a namespaced epoch that violates the store's claim. No-op
    * for unclaimed stores (the manual batch cadence) and for
    * base-segment epochs (< 0 — they order below every namespaced row,
    * which LWW and the tombstone rule handle coherently).
    */
  def validateEpochNamespace(spark: SparkSession, root: String, epoch: Long,
      what: String): Unit = {
    if (epoch < 0) return
    readClaim(spark, root).foreach { case (ns, _) =>
      val ens = epochNamespaceOf(epoch)
      if (ens != ns) confirmedClaim(spark, root).foreach { case (ns2, who2) =>
        if (ens != ns2) throw new IllegalStateException(
          s"$what: epoch $epoch carries writer namespace $ens, but the " +
            s"store at '$root' is owned by namespace $ns2 ('$who2') — a " +
            "foreign epoch cannot order coherently against the owner's " +
            "rows (LWW and tombstones compare epochs numerically)")
      }
    }
  }

  /** THE payload append-schema contract, shared by every
    * payload-carrying store's appendToIndex and the hnsw docs-sidecar
    * CDC front: the batch must carry every payload column the store's
    * parquet schema declares, AT the store's types. Names alone are not
    * enough — a batch column of a different type (a BIGINT topic column
    * next to an int32 source column) lands mixed-type parquet files
    * that serve only while column pruning hides them; the first
    * compaction or payload predicate then reads every column and fails
    * on the WHOLE store. Refuse the batch instead, naming the cast.
    */
  def requirePayloadCompatible(store: org.apache.spark.sql.types.StructType,
      batch: org.apache.spark.sql.types.StructType,
      payloadCols: Seq[String], path: String): Unit = {
    val missing = payloadCols.filterNot(batch.fieldNames.contains)
    require(missing.isEmpty,
      s"index store at '$path' carries payload columns " +
        s"${payloadCols.mkString("[", ", ", "]")} (filtered-search layout); " +
        s"append batch lacks ${missing.mkString("[", ", ", "]")} — supply " +
        "them or rebuild the store without payload")
    val mismatched = store.fields.filter(f => payloadCols.contains(f.name))
      .flatMap { f =>
        batch.fields.find(_.name == f.name)
          .filter(_.dataType != f.dataType)
          .map(b => s"${f.name} (store ${f.dataType.simpleString}, " +
            s"batch ${b.dataType.simpleString})")
      }
    require(mismatched.isEmpty,
      s"index store at '$path': append batch payload column type(s) " +
        s"diverge from the store schema — ${mismatched.mkString("; ")}. " +
        "Mixed-type payload files would serve only until compaction or a " +
        "payload predicate reads them and fails the whole store; cast the " +
        "batch to the store's types before appending")
  }

  /** Compaction's closed-epoch remap: every epoch except the stream's
    * in-flight `excludeEpoch` merges into base segment `-1` (see the
    * compactIndex docs for why the in-flight epoch must survive).
    */
  def closedEpochsToBase(excludeEpoch: Long)(df: DataFrame): DataFrame =
    df.withColumn("epoch",
      when(col("epoch") === excludeEpoch, col("epoch")).otherwise(lit(-1L)))

  /** Rewrite a partitioned parquet dir to ONE file per partition value
    * combination (`repartition` on the partition keys hashes each
    * combination to exactly one task, and the dynamic-partition write
    * emits one file per combination per task), then swap it in.
    * `transform` runs between read and rewrite (e.g. remapping closed
    * epoch segments). Returns (data files before, after).
    */
  def compactPartitionedDir(spark: SparkSession, dir: String,
      partitionCols: Seq[String], fanout: Int,
      transform: DataFrame => DataFrame = identity): (Long, Long) = {
    require(FsUtil.exists(spark, dir), s"compact: no store at '$dir'")
    val before = dataFiles(spark, dir)
    val staged = stagingFor(dir)
    transform(FsUtil.readStore(spark, dir))
      .repartition(math.max(fanout, 1), partitionCols.map(col): _*)
      .write.partitionBy(partitionCols: _*).mode("overwrite").parquet(staged)
    swapIn(spark, dir, staged)
    (before, dataFiles(spark, dir))
  }

  /** Single-partition-column convenience form. */
  def compactPartitionedDir(spark: SparkSession, dir: String,
      partitionCol: String, fanout: Int): (Long, Long) =
    compactPartitionedDir(spark, dir, Seq(partitionCol), fanout)

  /** Rewrite a dir through `rewrite` (e.g. collapse append-time stats
    * partials into exactly-pre-aggregated rows), then swap it in.
    */
  def rewriteDir(spark: SparkSession, dir: String,
      partitionCols: Seq[String] = Nil)(
      rewrite: DataFrame => DataFrame): Unit = {
    require(FsUtil.exists(spark, dir), s"compact: no store at '$dir'")
    val staged = stagingFor(dir)
    val w = rewrite(FsUtil.readStore(spark, dir)).write.mode("overwrite")
    (if (partitionCols.isEmpty) w else w.partitionBy(partitionCols: _*))
      .parquet(staged)
    swapIn(spark, dir, staged)
  }

  private def stagingFor(dir: String): String = {
    val p = new Path(dir)
    new Path(p.getParent, s".${p.getName}-compact").toString
  }

  private def swapIn(spark: SparkSession, live: String, staged: String): Unit = {
    val livePath = new Path(live)
    val fs = livePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val retired = new Path(livePath.getParent, s".${livePath.getName}-retired")
    fs.delete(retired, true)
    require(fs.rename(livePath, retired), s"compact: cannot retire $livePath")
    require(fs.rename(new Path(staged), livePath),
      s"compact: cannot promote $staged")
    fs.delete(retired, true)
  }

  /** Release a localCheckpoint's persisted blocks NOW instead of waiting
    * on driver GC + ContextCleaner — the lexArtifacts eviction rule
    * (GraftSql) as a shared utility: long-lived callers that checkpoint
    * per iteration (a CDC stream's per-batch resolution, repeated
    * deletes) would otherwise pin every iteration's blocks in executor
    * storage until the JVM happens to collect. A never-materialized
    * lazy checkpoint unpersists as a no-op.
    */
  def unpersistCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        org.apache.spark.sql.graftshim.Shim.releaseBlocks(lr.rdd)
      case _ => ()
    }

  /** `df` eagerly localCheckpointed, plus the aggregate `metrics` over
    * its rows, taken by the checkpoint job itself (`observe`) instead of
    * a second job over the blocks. The metrics sit at the top of the
    * plan, in the job's result stage, whose accumulator updates count
    * once per partition even when a task is retried. Release the
    * checkpoint with [[unpersistCheckpoint]].
    */
  def checkpointObserved(df: DataFrame, metrics: Column*): (DataFrame, Row) = {
    val name = s"checkpoint_${java.util.UUID.randomUUID()}"
    val observed = df.observe(name, metrics.head, metrics.tail: _*)
    val checkpointed = observed.localCheckpoint()
    (checkpointed, observed.queryExecution.observedMetrics(name))
  }

  /** Recursive `.parquet` data-file count under `dir` — the decay metric
    * compaction manages (and what callers alert on).
    */
  def dataFiles(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listFiles(p, true)
    var n = 0L
    while (it.hasNext) {
      if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    }
    n
  }
}
