package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.operators.VectorSearch.scoreF32

/** HNSW approximate nearest-neighbor search (Malkov & Yashunin, TPAMI
  * 2018) — the graph-index family completing the ladder next to LSH,
  * IVF, PQ, IVF-PQ, SQ8 and BQ. This is the index the reference's
  * managed vector store actually runs under the hood (Atlas
  * `$vectorSearch` is Lucene-HNSW-backed), so the family was the one
  * conspicuous gap in the FAISS-style lineup.
  *
  * Distributed form: SHARDED small-world graphs — the Lucene-segment /
  * FAISS-shard posture. The corpus hash-repartitions by id into
  * `nShards` shards; each task builds an in-memory HNSW over ITS shard
  * only and greedy-searches it for the whole broadcast query batch;
  * per-query-per-shard top-k survivors union and an exact re-rank
  * window (slim: queries × nShards × k rows) cuts the global top-k.
  * Build is embarrassingly parallel and never needs a global graph;
  * search cost is `nShards × ef` score evaluations per query — the
  * standard sharded-HNSW trade (every shard must be probed, unlike
  * IVF's pruned cells; in exchange, recall per candidate is the best
  * of any family and the build has no training step).
  *
  * Determinism (the oracle discipline): the graph is a pure function
  * of (shard content, parameters) — shard assignment is the
  * deterministic hash partitioning on the UNIQUE id, insertion order
  * is id-sorted within the shard, the level of node `id` derives from
  * splitmix64(id) (no RNG state), and every in-graph comparison
  * tie-breaks on the internal index. Scores that leave the operator
  * are [[VectorSearch.scoreF32]] — bit-identical to the Catalyst
  * expressions and DuckDB — so the result is exactly reproducible and
  * the recall contract (q_hnsw_recall) hash-gates it.
  *
  * Memory bound: one shard's vectors + adjacency must fit the task
  * heap (the Lucene segment rule). The build fails loudly past
  * `maxShardRows` instead of densifying into an OOM — size `nShards`
  * so shards stay under it (at 100 TB: shards of ~1-2M vectors, i.e.
  * nShards in the tens of thousands, each an independent task).
  */
object HnswSearch extends MaintainedStore[(Long, Int)] {

  /** Graph-only stores need no self-tombstone on upsert: serve-time
    * last-writer-wins ([[searchIndex]]) lets a later epoch's vector
    * supersede the id, so tombstones carry ONLY true deletes — keeping
    * the live-tombstone count (which widens the serve beam) at
    * actual-delete traffic, not upsert traffic.
    */
  def upsertTombstones: Boolean = false
  def append(df: DataFrame, idCol: String, valueCol: String, path: String,
      epoch: Long): (Long, Int) = appendToIndex(df, idCol, valueCol, path, epoch)
  def delete(spark: org.apache.spark.sql.SparkSession, path: String,
      ids: DataFrame, idCol: String, epoch: Long): Unit =
    deleteFromIndex(spark, path, ids, idCol, Some(epoch))
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      excludeEpoch: Long): (Long, Long) = compactIndex(spark, path, excludeEpoch)

  /** An HNSW store that also keeps a `corpus/` docs SIDECAR (id →
    * content plus every payload column, epoch-partitioned next to the
    * graphs), so a maintained registration resolves hits WITHOUT the
    * original source frame (the SQL facade's cdc=true contract). UNLIKE
    * the graph-only store, EVERY changed id tombstones — not only true
    * deletes — because the sidecar has no serve-time LWW: an upsert must
    * kill its old sidecar row the way the celled stores do, so a
    * tombstone-filtered scan of `corpus/` is exactly the live corpus
    * with no per-statement LWW aggregate (the 100 TB posture: resolution
    * joins a pruned scan, never a full-corpus group-by). Rent: upsert
    * traffic widens the graph serve beam like delete traffic until the
    * next [[compactIndex]], which is sidecar-aware (it applies the
    * tombstone rule to `corpus/` in the same lease), so dead sidecar
    * rows cannot resurrect past a compaction.
    */
  object WithDocs extends MaintainedStore[(Long, Int)] {
    def upsertTombstones: Boolean = true
    def delete(spark: org.apache.spark.sql.SparkSession, path: String,
        ids: DataFrame, idCol: String, epoch: Long): Unit =
      HnswSearch.delete(spark, path, ids, idCol, epoch)
    def compact(spark: org.apache.spark.sql.SparkSession, path: String,
        excludeEpoch: Long): (Long, Long) = compactIndex(spark, path, excludeEpoch)

    /** The graph append, then the sidecar rows at the SAME epoch: same
      * columns as the base corpus (id + payload) AT the base types, the
      * vector re-cast exactly as the base write cast it. The sidecar
      * append is schema-checked against the base corpus LOUDLY — a
      * change record missing a payload column would otherwise strand
      * half a row. An at-least-once replay overwrites its own epoch
      * partition (epochWrite's dynamic-overwrite contract), so the pair
      * stays idempotent.
      */
    def append(df: DataFrame, idCol: String, valueCol: String, path: String,
        epoch: Long): (Long, Int) = {
      val appended = appendToIndex(df, idCol, valueCol, path, epoch)
      val baseSchema = df.sparkSession.read.parquet(s"$path/corpus").schema
      val base = baseSchema.fieldNames.filterNot(_ == "epoch").toSeq
      IndexMaintenance.requirePayloadCompatible(baseSchema, df.schema,
        base.filterNot(c => c == "id" || c == valueCol), path)
      val docs = df.select(base.map {
        case "id" => col(idCol).cast("long").as("id")
        case c if c == valueCol => col(valueCol).cast("array<float>").as(c)
        case c => col(c)
      }: _*).withColumn("epoch", lit(epoch))
      IndexMaintenance.epochWrite(docs, Seq("epoch"), epoch, s"$path/corpus")
      appended
    }
  }

  /** splitmix64-derived node level: floor(-ln(u) * mL), u in (0,1] from
    * the id's hash — no RNG state, so the level of a node is a pure
    * function of (id, m) and never needs storing.
    */
  private[operators] def levelOf(id: Long, mL: Double): Int = {
    var z = id + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    // top 53 bits -> u in (0,1]; 0 maps to 1.0
    val u = ((z >>> 11) + 1).toDouble / (1L << 53).toDouble
    math.min(30, (-math.log(u) * mL).toInt)
  }

  /** In-memory single-shard HNSW graph over id-sorted rows. Neighbor
    * selection is the paper's Algorithm 4 heuristic (directional
    * diversity with pruned-connection backfill); layer-0 degree bound
    * is 2M, upper layers M (the standard setting).
    */
  private[operators] final class Graph(
      val ids: Array[Long], val vecs: Array[Array[Float]],
      m: Int, efC: Int, metric: String) {

    private val n = ids.length
    private val mL = 1.0 / math.log(m.toDouble)
    // similarity: larger = closer (l2 negated for in-graph ordering)
    @inline private def sim(q: Array[Float], i: Int): Double = {
      val s = scoreF32(metric, q, vecs(i))
      if (metric == "l2") -s else s
    }

    private[operators] val levels: Array[Int] =
      Array.tabulate(n)(i => HnswSearch.levelOf(ids(i), mL))
    // links(node)(layer) = neighbor internal indices
    private[operators] val links: Array[Array[Array[Int]]] =
      Array.tabulate(n)(i => Array.fill(levels(i) + 1)(Array.empty[Int]))
    private var entry: Int = -1
    private var maxLevel: Int = -1

    /** Restore a built graph from stored adjacency (the persisted-index
      * load path): levels are a pure function of (id, m) so only the
      * neighbor lists need storing; entry point / max level recompute
      * to exactly what [[build]] would have chosen (id-sorted insertion
      * makes it the smallest internal index at the top level).
      */
    private[operators] def restore(adj: Array[Array[Array[Int]]]): Graph = {
      require(adj.length == n, s"restore: ${adj.length} rows for $n nodes")
      var i = 0
      while (i < n) {
        require(adj(i).length == levels(i) + 1,
          s"restore: node $i has ${adj(i).length} layers, level ${levels(i)} " +
            "— was the index written with a different m?")
        links(i) = adj(i); i += 1
      }
      maxLevel = -1
      i = 0
      while (i < n) {
        if (levels(i) > maxLevel) { maxLevel = levels(i); entry = i }
        i += 1
      }
      this
    }

    /** ef-bounded best-first search on one layer from the seed nodes.
      * Returns up to `ef` internal indices, best-first, deterministic
      * (similarity then internal-index tie-break).
      */
    private def searchLayer(q: Array[Float], eps: Array[Int], ef: Int,
        layer: Int): Array[Int] = {
      // flat visited flags, not a hash set: the innermost loop of every
      // query × segment probe — no boxing, no hashing
      val visited = new Array[Boolean](n)
      // candidates: best-first; results: worst-first bounded at ef
      // PriorityQueue dequeues the MAX under its ordering: ordBest puts
      // the highest similarity first, ties to the smaller internal index
      val ordBest = Ordering.by[(Double, Int), (Double, Double)] {
        case (s, i) => (s, -i.toDouble)
      }
      val cand = scala.collection.mutable.PriorityQueue.empty[(Double, Int)](ordBest)
      val ordWorst = ordBest.reverse
      val res = scala.collection.mutable.PriorityQueue.empty[(Double, Int)](ordWorst)
      eps.foreach { ep =>
        if (!visited(ep)) {
          visited(ep) = true
          val s0 = sim(q, ep)
          cand.enqueue((s0, ep)); res.enqueue((s0, ep))
          if (res.size > ef) res.dequeue()
        }
      }
      while (cand.nonEmpty) {
        val (cs, c) = cand.dequeue()
        val worst = res.head._1
        if (cs < worst && res.size >= ef) { cand.clear() }
        else {
          val nbrs = links(c)(layer)
          var j = 0
          while (j < nbrs.length) {
            val e = nbrs(j)
            if (!visited(e)) {
              visited(e) = true
              val es = sim(q, e)
              if (res.size < ef || es > res.head._1 ||
                  (es == res.head._1 && e < res.head._2)) {
                cand.enqueue((es, e)); res.enqueue((es, e))
                if (res.size > ef) res.dequeue()
              }
            }
            j += 1
          }
        }
      }
      val drained: Seq[(Double, Int)] = res.dequeueAll
      drained.reverseIterator.map(_._2).toArray
    }

    /** Greedy single-step descent on upper layers. */
    private def greedy(q: Array[Float], ep0: Int, layer: Int): Int = {
      var ep = ep0
      var eps = sim(q, ep)
      var improved = true
      while (improved) {
        improved = false
        val nbrs = links(ep)(layer)
        var j = 0
        while (j < nbrs.length) {
          val e = nbrs(j)
          val es = sim(q, e)
          if (es > eps || (es == eps && e < ep)) {
            ep = e; eps = es; improved = true
          }
          j += 1
        }
      }
      ep
    }

    /** The paper's Algorithm 4 (select-neighbors-heuristic): scan
      * candidates in proximity order and keep one iff it is closer to
      * the base point than to every already-kept neighbor — selected
      * edges span diverse DIRECTIONS instead of piling into the
      * nearest cluster, which is what keeps small-world graphs
      * navigable on clustered data. Survivors short of `bound`
      * backfill with the closest discarded candidates
      * (keepPrunedConnections). Deterministic: proximity order with
      * index tie-break, fixed scan order, `>=` on the tie.
      */
    private def selectNeighbors(q: Array[Float], cands: Array[Int],
        bound: Int): Array[Int] = {
      val sorted = cands.sortBy(i => (-sim(q, i), i))
      val kept = scala.collection.mutable.ArrayBuffer.empty[Int]
      val discarded = scala.collection.mutable.ArrayBuffer.empty[Int]
      var i = 0
      while (i < sorted.length && kept.length < bound) {
        val e = sorted(i)
        val sq = sim(q, e)
        var ok = true
        var j = 0
        while (ok && j < kept.length) {
          if (sim(vecs(e), kept(j)) >= sq) ok = false
          j += 1
        }
        if (ok) kept += e else discarded += e
        i += 1
      }
      var d = 0
      while (kept.length < bound && d < discarded.length) {
        kept += discarded(d); d += 1
      }
      kept.toArray
    }

    private def insert(i: Int): Unit = {
      val lvl = levels(i)
      if (entry < 0) { entry = i; maxLevel = lvl; return }
      var ep = entry
      var l = maxLevel
      while (l > lvl) { ep = greedy(vecs(i), ep, l); l -= 1 }
      l = math.min(lvl, maxLevel)
      while (l >= 0) {
        val w = searchLayer(vecs(i), Array(ep), efC, l)
        val bound = if (l == 0) 2 * m else m
        val sel = selectNeighbors(vecs(i), w, m)
        links(i)(l) = sel
        var j = 0
        while (j < sel.length) {
          val e = sel(j)
          val merged = links(e)(l) :+ i
          links(e)(l) =
            if (merged.length <= bound) merged
            else selectNeighbors(vecs(e), merged, bound)
          j += 1
        }
        if (w.nonEmpty) ep = w(0)
        l -= 1
      }
      if (lvl > maxLevel) { entry = i; maxLevel = lvl }
    }

    /** Build by id-sorted insertion order (the caller pre-sorts), then
      * repair layer-0 connectivity.
      */
    def build(): Graph = {
      var i = 0
      while (i < n) { insert(i); i += 1 }
      repairConnectivity()
      this
    }

    /** Backlink pruning can strand a node: when a hub's list
      * overflows, [[selectNeighbors]] may evict the only IN-edge a
      * distant node had, making it unreachable from the entry at ANY
      * ef (rarer under the diversity heuristic than simple closest-M,
      * but still possible).
      * Repair: one BFS over layer-0 out-edges from the entry, then every
      * unreachable node gets an in-edge from its nearest REACHABLE node
      * (linear scan, index tie-break — deterministic), which makes it
      * and everything it reaches reachable, so one round suffices. The
      * repair edge may overflow the 2M degree bound by one — a soft
      * bound; stranded nodes are empirically rare, so the extra scan
      * cost is U × n with U ≈ 0. Guarantees: ef = n search visits every
      * node, so exact self-retrieval holds (HnswSpec pins it on
      * adversarially clustered data).
      */
    private def repairConnectivity(): Unit = {
      if (n == 0 || entry < 0) return
      val seen = new Array[Boolean](n)
      val stack = new java.util.ArrayDeque[Integer]()
      seen(entry) = true; stack.push(entry)
      var nSeen = 1
      while (!stack.isEmpty) {
        val c = stack.pop()
        val nbrs = links(c)(0)
        var j = 0
        while (j < nbrs.length) {
          val e = nbrs(j)
          if (!seen(e)) { seen(e) = true; nSeen += 1; stack.push(e) }
          j += 1
        }
      }
      if (nSeen == n) return
      var u = 0
      while (u < n) {
        if (!seen(u)) {
          var best = -1
          var bestSim = Double.NegativeInfinity
          var r = 0
          while (r < n) {
            if (seen(r)) {
              val s = sim(vecs(u), r)
              if (s > bestSim || (s == bestSim && r < best)) {
                best = r; bestSim = s
              }
            }
            r += 1
          }
          // NaN sims (zero vectors under cosine) compare false
          // everywhere — fall back to the entry point
          if (best < 0) best = entry
          links(best)(0) = links(best)(0) :+ u
        }
        u += 1
      }
    }

    /** Top-`k` internal indices for a query (ef-bounded beam at layer
      * 0 after the greedy descent), best-first.
      */
    def search(q: Array[Float], k: Int, ef: Int): Array[Int] = {
      if (entry < 0) return Array.empty
      var ep = entry
      var l = maxLevel
      while (l > 0) { ep = greedy(q, ep, l); l -= 1 }
      // seed the layer-0 beam with BOTH the descended ep and the entry
      // point: connectivity repair guarantees every node reachable FROM
      // the entry, so an entry-seeded exhaustive beam visits all of
      // them even when ep's own forward component is a sink
      val seeds = if (ep == entry) Array(ep) else Array(ep, entry)
      searchLayer(q, seeds, math.max(ef, k), 0).take(k)
    }
  }

  /** Collect + bound + broadcast the query batch (shared by the
    * in-flight and at-rest entry points).
    */
  private def collectQueryBatch(
      queries: DataFrame, qId: String, qVec: String, maxQueries: Int,
      who: String): org.apache.spark.broadcast.Broadcast[Array[(Long, Array[Float])]] = {
    val qRows = queries
      .select(col(qId).cast("long"), col(qVec).cast("array<float>"))
      .filter(col(qId).isNotNull && col(qVec).isNotNull)
      .limit(maxQueries + 1).collect()
    require(qRows.length <= maxQueries,
      s"$who: query batch exceeds maxQueries=$maxQueries — split the batch")
    queries.sparkSession.sparkContext.broadcast(
      qRows.map(r => (r.getLong(0), r.getSeq[Float](1).toArray)))
  }

  /** Slim (id, vec) corpus hash-repartitioned into `nShards` shards —
    * the deterministic shard assignment shared by build paths.
    */
  private def shardedCorpus(corpus: DataFrame, cId: String, cVec: String,
      nShards: Int): DataFrame =
    corpus
      .select(col(cId).cast("long"), col(cVec).cast("array<float>"))
      .filter(col(cId).isNotNull && col(cVec).isNotNull)
      .repartition(nShards, col(cId))

  /** Bound-check + id-sort one shard's rows (build preamble). Rejects
    * duplicate ids loudly: a graph's stored neighbor references resolve
    * by id binary-search at restore, so a duplicated id would make
    * resolution ambiguous and silently strand one twin.
    */
  private def sortedShard(rows: Array[(Long, Array[Float])], maxRows: Int,
      who: String): Array[(Long, Array[Float])] = {
    require(rows.length <= maxRows,
      s"$who: shard of ${rows.length} rows exceeds maxShardRows=$maxRows " +
        "— raise nShards (the shard must fit the task heap)")
    java.util.Arrays.sort(rows, Ordering.by[(Long, Array[Float]), Long](_._1))
    var i = 1
    while (i < rows.length) {
      require(rows(i)._1 != rows(i - 1)._1,
        s"$who: duplicate vector id ${rows(i)._1} in one segment — ids " +
          "must be unique (dedup upstream, or let compaction last-writer-win)")
      i += 1
    }
    rows
  }

  /** Serve the broadcast batch from one shard graph: per-query top-k
    * (qid, match id, bit-parity score) survivors.
    */
  private def serveShard(g: Graph, qs: Array[(Long, Array[Float])],
      k: Int, ef: Int, metric: String): Iterator[(Long, Long, Double)] =
    qs.iterator.flatMap { case (qid, qv) =>
      g.search(qv, k, ef).iterator.map { idx =>
        (qid, g.ids(idx), scoreF32(metric, qv, g.vecs(idx)))
      }
    }

  /** Sharded HNSW top-k: per-shard graphs + broadcast query batch +
    * exact re-rank of the slim shard-survivor union. Output: (qId,
    * match_id, score, rank) — the [[VectorSearch.annTopK]] shape, with
    * scores from the bit-parity [[scoreF32]].
    */
  def hnswTopK(
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      k: Int, metric: String = "dot",
      m: Int = 8, efConstruction: Int = 64, efSearch: Int = 32,
      nShards: Int = 4, maxQueries: Int = 10000,
      maxShardRows: Int = 2000000): DataFrame = {
    require(k >= 1, s"hnswTopK: k=$k")
    require(m >= 2 && efConstruction >= m && efSearch >= 1 && nShards >= 1,
      s"hnswTopK: bad params m=$m efC=$efConstruction efS=$efSearch nShards=$nShards")
    val spark = queries.sparkSession
    import spark.implicits._

    val bc = collectQueryBatch(queries, qId, qVec, maxQueries, "hnswTopK")
    val (mm, efc, efs, kk, met, maxRows) =
      (m, efConstruction, efSearch, k, metric, maxShardRows)

    val candidates = shardedCorpus(corpus, cId, cVec, nShards)
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val rows = sortedShard(
          it.map { case (id, v) => (id, v.toArray) }.toArray,
          maxRows, "hnswTopK")
        if (rows.isEmpty) Iterator.empty
        else {
          val g = new Graph(rows.map(_._1), rows.map(_._2), mm, efc, met).build()
          serveShard(g, bc.value, kk, efs, met)
        }
      }.toDF(qId, "match_id", "score")

    // exact re-rank of the shard-survivor union: queries × nShards × k
    // rows — slim by construction, so the per-query window is bounded
    rerank(candidates, qId, metric, k)
  }

  private def rerank(candidates: DataFrame, qId: String, metric: String,
      k: Int): DataFrame = {
    val ord =
      if (metric == "l2") Seq(col("score").asc, col("match_id").asc)
      else Seq(col("score").desc, col("match_id").asc)
    val w = Window.partitionBy(col(qId)).orderBy(ord: _*)
    candidates.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  // --- persisted index (index once, search many — the at-rest form) -------

  /** Per-segment node rows for `corpus` under `epoch`: each hash shard
    * builds its graph and serializes one row per node — (shard, epoch,
    * id, vec, links ARRAY<ARRAY<BIGINT>> of neighbor IDS per layer).
    * The shared build pass behind [[writeIndex]], [[appendToIndex]] and
    * [[compactIndex]]'s rebuild.
    */
  private def buildNodes(
      corpus: DataFrame, cId: String, cVec: String, nShards: Int,
      m: Int, efConstruction: Int, metric: String, maxShardRows: Int,
      epoch: Long, who: String): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (mm, efc, met, maxRows) = (m, efConstruction, metric, maxShardRows)
    shardedCorpus(corpus, cId, cVec, nShards)
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val shard = org.apache.spark.TaskContext.getPartitionId()
        val rows = sortedShard(
          it.map { case (id, v) => (id, v.toArray) }.toArray, maxRows, who)
        if (rows.isEmpty) Iterator.empty
        else {
          val g = new Graph(rows.map(_._1), rows.map(_._2), mm, efc, met)
            .build()
          rows.indices.iterator.map { i =>
            val nbrIds: Seq[Seq[Long]] =
              g.links(i).toSeq.map(_.toSeq.map(j => rows(j)._1))
            (shard, rows(i)._1, rows(i)._2.toSeq, nbrIds)
          }
        }
      }.toDF("shard", "id", "vec", "links")
      .withColumn("epoch", lit(epoch))
  }

  /** Shard count targeting ~`targetRows` vectors per segment graph —
    * the ONE shard-sizing policy (the SQL facade calls it too).
    */
  private[graft] def shardsFor(n: Long, targetRows: Long = 1000000L): Int =
    math.max(1L, (n + targetRows - 1) / targetRows).toInt

  /** Write a sharded HNSW index to `path`: per-shard graphs serialized
    * as one parquet row per node under `shard=`/`epoch=` partition
    * directories (base segments carry epoch `-1`), plus a 1-row
    * `_meta` table (m, efConstruction, metric, nShards) written LAST —
    * its `_SUCCESS` implies the whole index landed. Levels and the
    * entry point are pure functions of (id, m), so only adjacency is
    * stored; [[searchIndex]] restores graphs bit-exactly (HnswSpec
    * pins searchIndex ≡ hnswTopK).
    *
    * Build cost is the same embarrassingly-parallel per-shard pass as
    * the in-flight form — writing it down amortizes the build across
    * query batches, the [[IvfSearch.writeIndex]] posture; continuous
    * growth rides [[appendToIndex]] + [[compactIndex]].
    */
  def writeIndex(
      corpus: DataFrame, cId: String, cVec: String, path: String,
      nShards: Int = 4, m: Int = 8, efConstruction: Int = 64,
      metric: String = "dot", maxShardRows: Int = 2000000): Unit = {
    require(m >= 2 && efConstruction >= m && nShards >= 1,
      s"writeIndex: bad params m=$m efC=$efConstruction nShards=$nShards")
    val spark = corpus.sparkSession
    import spark.implicits._
    buildNodes(corpus, cId, cVec, nShards, m, efConstruction, metric,
      maxShardRows, epoch = -1L, who = "writeIndex")
      .write.mode("overwrite").partitionBy("shard", "epoch")
      .parquet(s"$path/nodes")
    Seq((m, efConstruction, metric, nShards))
      .toDF("m", "ef_construction", "metric", "n_shards")
      .write.mode("overwrite").parquet(s"$path/_meta")
  }

  /** Append a batch of vectors as NEW segment graphs (the Lucene
    * posture: existing graphs are never mutated; the batch builds its
    * own shard graphs under its epoch and searchers probe every
    * segment). `epoch >= 0` lands as a dynamic-partition overwrite of
    * its own (shard, epoch) partitions — idempotent under
    * at-least-once replay, the [[IvfSearch.appendToIndex]] contract —
    * and the write runs under the store lease with swap recovery
    * first. Returns (rows appended, segment graphs built).
    */
  def appendToIndex(df: DataFrame, cId: String, cVec: String, path: String,
      epoch: Long, maxShardRows: Int = 2000000): (Long, Int) = {
    // UNLIKE the IVF twin, a plain epoch<0 append would land new node
    // rows inside the existing base partitions — merging two disjoint
    // graphs into one "segment" whose non-entry component is
    // unreachable at any ef. HNSW appends must always be their own
    // segments, so the epoch is mandatory and non-negative.
    require(epoch >= 0,
      s"appendToIndex: epoch must be >= 0 (got $epoch) — an HNSW append " +
        "is always its own segment; epoch -1 is reserved for base graphs")
    val spark = df.sparkSession
    val meta = spark.read.parquet(s"$path/_meta").head()
    val (m, efc, metric) =
      (meta.getAs[Int]("m"), meta.getAs[Int]("ef_construction"),
        meta.getAs[String]("metric"))
    val slim = df.select(col(cId).cast("long").as("id"),
        col(cVec).cast("array<float>").as("vec"))
      .filter(col("id").isNotNull && col("vec").isNotNull)
      .localCheckpoint()
    val n = slim.count()
    val shards = shardsFor(n, targetRows = math.max(1, maxShardRows / 2))
    // materialize the expensive graph build BEFORE taking the store
    // lease (the IvfSearch.appendToIndex discipline) — the lock must
    // cover only the write, not an O(n·efC) build that could outlive
    // the lease and let another writer break it
    val nodes = buildNodes(slim, "id", "vec", shards, m, efc, metric,
      maxShardRows, epoch, who = "appendToIndex")
      .localCheckpoint()
    // reads the just-checkpointed blocks (no graph rebuild) — the stat
    // must count shards actually WRITTEN, not requested (hash shards
    // can be empty)
    val built = nodes.select("shard").distinct().count().toInt
    IndexMaintenance.withStoreLock(spark, path) {
      IndexMaintenance.recoverSwap(spark, s"$path/nodes")
      IndexMaintenance.epochWrite(nodes, Seq("shard", "epoch"), epoch,
        s"$path/nodes")
    }
    // per-batch caller (the maintenance streams): this batch's
    // checkpoint blocks release now, not at a future GC
    IndexMaintenance.unpersistCheckpoint(slim)
    IndexMaintenance.unpersistCheckpoint(nodes)
    (n, built)
  }

  /** Merge all CLOSED epoch segments into freshly rebuilt base graphs
    * (epoch `-1`) — the Lucene segment merge: many small append-time
    * graphs decay search cost (every segment probes), so compaction
    * re-shards their (id, vec) rows to ~target size and REBUILDS the
    * graphs (adjacency is derived state; the rebuild IS the merge).
    * `excludeEpoch` (a stream's in-flight epoch) keeps its partitions
    * so its at-least-once replay can still overwrite itself. Runs
    * under the store lease with crash-safe staging + swap. Returns
    * (data files before, after).
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      excludeEpoch: Long = Long.MinValue,
      maxShardRows: Int = 2000000): (Long, Long) = {
    require(FsUtil.exists(spark, s"$path/_meta"),
      s"hnsw index at '$path' does not exist or is unreachable")
    val meta = spark.read.parquet(s"$path/_meta").head()
    val (m, efc, metric) =
      (meta.getAs[Int]("m"), meta.getAs[Int]("ef_construction"),
        meta.getAs[String]("metric"))
    IndexMaintenance.withStoreLock(spark, path) {
      IndexMaintenance.recoverSwap(spark, s"$path/nodes")
      val before = IndexMaintenance.dataFiles(spark, s"$path/nodes")
      IndexMaintenance.rewriteDir(spark, s"$path/nodes",
        Seq("shard", "epoch")) { df =>
        // last-writer-wins across epochs: an id re-ingested in a later
        // epoch supersedes its earlier vector — ONE row per id enters
        // the rebuild (a duplicated id inside one graph would make
        // restore's id->index resolution ambiguous; sortedShard rejects
        // it loudly, this is the path that resolves it). Tombstoned
        // rows drop FIRST (original epochs — the rule predates the
        // rebuild's epoch=-1 remap), so deleted vectors leave the
        // graphs physically here.
        val closed = Tombstones.filterLive(spark, path,
            df.filter(col("epoch") =!= excludeEpoch), "id", "epoch")
          .groupBy("id")
          .agg(max_by(col("vec"), col("epoch")).as("vec"))
          .localCheckpoint()
        val kept = df.filter(col("epoch") === excludeEpoch)
          .select("shard", "id", "vec", "links", "epoch")
        val shards = shardsFor(closed.count(),
          targetRows = math.max(1, maxShardRows / 2))
        buildNodes(closed, "id", "vec", shards, m, efc, metric,
          maxShardRows, epoch = -1L, who = "compactIndex")
          .select("shard", "id", "vec", "links", "epoch")
          .unionByName(kept)
      }
      // a docs SIDECAR (`corpus/` — the SQL facade's CDC-maintained
      // registrations keep id→content+payload next to the graphs)
      // compacts in the SAME lease: apply the tombstone rule physically
      // and collapse closed epochs to the base partition BEFORE
      // clearApplied retires tombstones the sidecar's dead rows still
      // depend on — graph-only compaction would resurrect deleted
      // sidecar rows. Serve-style LWW per id is applied defensively:
      // the payload CDC front self-tombstones every change (≤ 1 live
      // row per id), but a foreign append cadence may not have.
      if (FsUtil.exists(spark, s"$path/corpus"))
        IndexMaintenance.rewriteDir(spark, s"$path/corpus",
          Seq("epoch")) { df =>
          val closed = Tombstones.filterLive(spark, path,
            df.filter(col("epoch") =!= excludeEpoch), "id", "epoch")
          val others = closed.columns
            .filterNot(c => c == "id" || c == "epoch").toSeq
          closed.groupBy(col("id"))
            .agg(max_by(struct(others.map(col): _*), col("epoch")).as("__r"))
            .select(col("id") +: others.map(c => col(s"__r.`$c`").as(c)): _*)
            .withColumn("epoch", lit(-1L))
            .unionByName(df.filter(col("epoch") === excludeEpoch))
        }
      Tombstones.clearApplied(spark, path, excludeEpoch)
      (before, IndexMaintenance.dataFiles(spark, s"$path/nodes"))
    }
  }

  /** Delete `ids` from a persisted HNSW index: a tombstone epoch lands
    * under the store lock, [[searchIndex]] filters the dead rows from
    * every candidate set immediately, and the next [[compactIndex]]
    * rebuilds the graphs without them (same protocol as
    * [[IvfSearch.deleteFromIndex]] — see [[Tombstones]]). Default
    * epoch = the newest segment epoch: everything currently stored for
    * the id dies, a later re-ingest serves again. Returns the tombstone
    * epoch used.
    */
  def deleteFromIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      ids: DataFrame, idCol: String, epoch: Option[Long] = None): Long = {
    require(FsUtil.exists(spark, s"$path/_meta"),
      s"hnsw index at '$path' does not exist or is unreachable")
    Tombstones.deleteUnderLock(spark, path, "nodes", ids, idCol, epoch)
  }

  /** Search a persisted index: graphs restore per shard from stored
    * adjacency (no re-insertion — levels/entry recompute from ids) and
    * serve the broadcast query batch; the same slim exact re-rank cuts
    * the global top-k. Build parameters and metric come from the
    * index's `_meta`, so a query cannot silently probe under a
    * different geometry than the graphs were built for.
    */
  def searchIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qId: String, qVec: String,
      k: Int, efSearch: Int = 32, maxQueries: Int = 10000): DataFrame = {
    import spark.implicits._
    val meta = spark.read.parquet(s"$path/_meta").head()
    val (m, efc, metric) =
      (meta.getAs[Int]("m"), meta.getAs[Int]("ef_construction"),
        meta.getAs[String]("metric"))
    val bc = collectQueryBatch(queries, qId, qVec, maxQueries, "searchIndex")
    // live tombstones occupy result slots the post-filter then empties —
    // a segment's top-k could be ALL dead and the true alive neighbors
    // never surface (the same displacement problem the LWW filter
    // solves for superseded rows). Widening the per-segment fetch and
    // beam by the live tombstone count restores the guarantee: T dead
    // ids can displace at most T slots, so the alive top-k sits inside
    // the top-(k+T). Serve cost therefore grows with the UNAPPLIED
    // delete backlog — per-segment min(·, rows) caps it at exhaustive —
    // and compactIndex restores the un-widened budget. T counts only
    // tombstoned ids that still HAVE a dead row in the node store
    // (re-ingested ids and already-compacted rows displace nothing),
    // and the count is fingerprint-cached in [[Tombstones]], so
    // steady-state serving runs NO Spark job for it.
    val deadLive: Int =
      Tombstones.liveDeadCount(spark, path, s"$path/nodes", "id", "epoch")
    val (mm, efs, kk, met) = (m, efSearch + deadLive, k + deadLive, metric)

    // every SEGMENT — a (shard, epoch) pair: base graphs plus any
    // append-time epoch graphs — restores and probes independently
    val candidates = spark.read.parquet(s"$path/nodes")
      .select(col("shard").cast("int"), col("epoch").cast("long"),
        col("id").cast("long"), col("vec").cast("array<float>"),
        col("links").cast("array<array<bigint>>"))
      .repartition(col("shard"), col("epoch"))
      .sortWithinPartitions("shard", "epoch")
      .as[(Int, Long, Long, Seq[Float], Seq[Seq[Long]])]
      .mapPartitions { it =>
        // a task may hold several segments after the repartition; rows
        // arrive segment-contiguous (the within-partition sort), so
        // materialize ONE segment at a time — task heap stays at
        // single-build-task scale no matter how many small append
        // epochs accumulated since the last compaction
        val buf = it.buffered
        new Iterator[Iterator[(Long, Long, Double, Long)]] {
          def hasNext: Boolean = buf.hasNext
          def next(): Iterator[(Long, Long, Double, Long)] = {
            val key = (buf.head._1, buf.head._2)
            val seg = scala.collection.mutable.ArrayBuffer
              .empty[(Long, Array[Float], Seq[Seq[Long]])]
            while (buf.hasNext && (buf.head._1, buf.head._2) == key) {
              val r = buf.next()
              seg += ((r._3, r._4.toArray, r._5))
            }
            val rows = seg.toArray
            java.util.Arrays.sort(rows,
              Ordering.by[(Long, Array[Float], Seq[Seq[Long]]), Long](_._1))
            val ids = rows.map(_._1)
            val adj: Array[Array[Array[Int]]] = rows.map(_._3.map(layer =>
              layer.map { nid =>
                val idx = java.util.Arrays.binarySearch(ids, nid)
                require(idx >= 0, s"searchIndex: dangling neighbor id $nid")
                idx
              }.toArray).toArray)
            val g = new Graph(ids, rows.map(_._2), mm, efc, met).restore(adj)
            val segEpoch = key._2
            // explicit per-segment ef budget: a small append-epoch
            // segment cannot hold more than its own row count in the
            // search beam, so after heavy append traffic (many small
            // epochs before compaction) total serve cost is Σ min(ef,
            // segment rows), not segments × ef. Identical results — a
            // beam as wide as the segment already visits every node —
            // floored at k so the segment can still fill its top-k.
            val segEf = math.max(kk, math.min(efs, rows.length))
            serveShard(g, bc.value, kk, segEf, met)
              .map { case (q, mId, s) => (q, mId, s, segEpoch) }
          }
        }.flatten
      }.toDF(qId, "match_id", "score", "epoch")

    // an id re-ingested across epochs supersedes its older vectors: the
    // LATEST epoch wins (the same last-writer-wins rule compactIndex
    // applies), so serve-time results agree with post-compaction results
    // and a superseded vector's score can never outrank its replacement.
    // Picking max_by(score, epoch) over the SURVIVORS is not enough —
    // when the re-ingested vector is far from a query, the newest
    // segment's own top-k omits the id and only the stale row surfaces —
    // so superseded rows are filtered against the store's per-id max
    // epoch. That table comes from a scan of the node store pruned to
    // the id column (epoch is a partition value, vec/links never read)
    // and restricted to ids appearing in >1 epoch, so it is
    // append-churn-sized; single-epoch stores (every base-only or
    // freshly compacted index) skip the join entirely on the
    // partition-listing check, keeping searchIndex ≡ hnswTopK there.
    // epoch is a partition DIRECTORY (nodes/shard=S/epoch=E/), so the
    // single-vs-multi-epoch question is answered by listing those
    // directories through the Hadoop FS — pure driver-side metadata, no
    // Spark job per query batch (a DataFrame distinct over the epoch
    // column would pay a scan-job even though it reads no data columns)
    val nodesRoot = new Path(s"$path/nodes")
    val nodesFs =
      nodesRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val epochDirs = nodesFs.listStatus(nodesRoot).iterator
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("shard="))
      .flatMap(sh => nodesFs.listStatus(sh.getPath).iterator
        .filter(e => e.isDirectory && e.getPath.getName.startsWith("epoch=")))
      .map(_.getPath.getName)
      .toSet
    val multiEpoch = epochDirs.size > 1
    lazy val nodesSlim = spark.read.parquet(s"$path/nodes")
      .select(col("id").cast("long").as("match_id"),
        col("epoch").cast("long").as("__node_epoch"))
    // tombstoned candidates die first (see [[Tombstones]]): a deleted
    // id may still live in stored graphs until the next compaction, but
    // must never fill a top-k slot; survivors are rows NEWER than their
    // id's newest tombstone (LWW re-ingest after delete serves again)
    val alive = Tombstones.filterLive(spark, path, candidates,
      "match_id", "epoch")
    val lww =
      if (!multiEpoch) alive
      else {
        // checkpointed: the slim survivor set (queries × segments × k)
        // feeds BOTH the candidate-id restriction and the filter join —
        // without it the whole probe subtree would evaluate twice
        val cand = alive.localCheckpoint(false)
        // restrict the max-epoch aggregation to candidate-TOUCHED ids
        // (a semi-join keeps every epoch row of those ids): the shuffle
        // is candidate-sized, not index-sized — the id column scan is
        // the only full-store pass, and it is column-pruned
        val superseded = nodesSlim
          .join(cand.select("match_id").distinct(), Seq("match_id"), "left_semi")
          .groupBy("match_id")
          .agg(max(col("__node_epoch")).as("__max_epoch"),
            count(lit(1)).as("__n_epochs"))
          .filter(col("__n_epochs") > 1)
          .select("match_id", "__max_epoch")
        cand.join(superseded, Seq("match_id"), "left")
          .filter(col("__max_epoch").isNull || col("epoch") === col("__max_epoch"))
      }
    // after the filter every surviving (query, id) group holds rows of
    // one epoch — one hash shard per id per epoch — so max is a plain
    // dedup, deterministic by construction
    rerank(lww.groupBy(col(qId), col("match_id"))
      .agg(max(col("score")).as("score")), qId, metric, k)
  }

  /** FILTERED serve over a persisted index: only ids present in
    * `allowed` may fill the top-k. A graph walk cannot pre-filter
    * without breaking its navigability (links route through excluded
    * nodes), so this is the standard post-filter-with-over-fetch
    * strategy (Lucene/Atlas filtered kNN): probe for `k * overFetch`
    * candidates with a beam at least that wide, drop disallowed ids
    * with a LEFT SEMI join (candidate-sized — queries × overFetch × k
    * rows against the allowed-id set, never index-sized on the probe
    * side), and re-rank the survivors to k. Recall degrades when a
    * query's true filtered top-k sits beyond its overFetch·k nearest
    * overall — at admit-rate s, overFetch ≳ c/s keeps the expected
    * admitted pool at c·k; the recall contract pins what a given
    * setting actually achieves. Filters too selective for over-fetch
    * belong on the pre-filtering exact path
    * ([[VectorSearch.topKFiltered]]) or a payload-filtered IVF store
    * ([[IvfSearch.searchIndex]]).
    */
  def searchIndexFiltered(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qId: String, qVec: String,
      allowed: DataFrame, allowedId: String,
      k: Int, efSearch: Int = 32, overFetch: Int = 4,
      maxQueries: Int = 10000): DataFrame = {
    require(overFetch >= 1, s"overFetch must be >= 1, got $overFetch")
    val metric = spark.read.parquet(s"$path/_meta").head()
      .getAs[String]("metric")
    // the beam must carry the whole over-fetched pool per segment or
    // the widened k is a no-op at the graph layer
    val wide = searchIndex(spark, path, queries, qId, qVec,
      k * overFetch, math.max(efSearch, k * overFetch), maxQueries)
    val ids = allowed
      .select(col(allowedId).cast("long").as("match_id")).distinct()
    rerank(
      wide.join(ids, Seq("match_id"), "left_semi")
        .select(col(qId), col("match_id"), col("score")),
      qId, metric, k)
  }
}
