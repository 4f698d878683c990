package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{TextOps, VectorFunctions}

/** Deduplication operators for training-data pipelines, over a corpus
  * DataFrame with a unique id column and a text (or embedding) column.
  *
  * Scale notes (the 100 TB posture):
  *  - exact: one hash-shuffle on the normalized-text hash; map-side
  *    partial min keeps the shuffle tiny.
  *  - MinHash-LSH: band signatures -> explode to (band, bandHash) keys ->
  *    self-equi-join per bucket. Work is proportional to bucket collision
  *    mass, never |D|^2. Skewed buckets (boilerplate docs) are the known
  *    hazard; cap bucket size before pairing.
  *  - SimHash: 64-bit fingerprint, banded into 4x16-bit sub-keys (Manku
  *    et al. WWW'07): candidate pairs share a sub-key, then exact Hamming
  *    filter ≤ maxDist.
  *  - n-gram Jaccard: explode distinct shingles, equi-join on shingle,
  *    count common per pair, Jaccard from per-doc distinct counts. Built
  *    entirely from relational ops so it's oracle-checkable.
  *  - embedding cosine: exact pairwise above threshold via broadcast
  *    nested-loop (small corpora) — the LSH variant in [[VectorSearch]]
  *    is the scale path.
  */
object Dedup {

  /** Normalization used for exact dedup: lowercase, collapse whitespace. */
  def normText(c: Column): Column = regexp_replace(lower(trim(c)), "\\s+", " ")

  /** Exact duplicates removed: keeps the lowest id per normalized text.
    *
    * Shape: partial-agg `groupBy(key).agg(min(id))` + equi-join-back on
    * the id — NEVER a window over the content key. A window partition is
    * an unsplittable sort group, so the Zipf-head duplicate (the empty
    * page, the boilerplate 404 body — exactly what web-scale dedup sees
    * most) would serialize onto one task and AQE could not split it. The
    * groupBy's map-side combine reduces each partition to one row per
    * distinct key before the shuffle, and the join-back keys on the
    * UNIQUE id — unskewed by construction, AQE-splittable.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    joinBackKeepers(df, idCol,
      df.groupBy(normText(col(textCol)).as("__k"))
        .agg(min(col(idCol)).as("__keep")))

  /** Exact dedup, 100 TB form: the group key is xxhash64(normText)
    * instead of the full normalized text, so the combine carries 8 bytes
    * per row instead of the document body. 64-bit collisions are
    * negligible for dedup (birthday bound ~2^32 docs); the oracle-paired
    * [[exact]] keeps the full-text key for bit-exact checkability. Same
    * skew-proof groupBy + join-back shape as [[exact]].
    */
  def exactScalable(df: DataFrame, idCol: String, textCol: String): DataFrame =
    joinBackKeepers(df, idCol,
      df.groupBy(xxhash64(normText(col(textCol))).as("__k"))
        .agg(min(col(idCol)).as("__keep")))

  /** Semi-join `df` against a (…, __keep) keeper-id table: survivors are
    * the rows whose id appears in `keepers.__keep`. Ids are unique, so
    * the join key is unskewed and AQE-splittable; Catalyst broadcasts
    * the keeper side when it fits.
    */
  private def joinBackKeepers(df: DataFrame, idCol: String,
      keepers: DataFrame): DataFrame =
    df.join(keepers.select(col("__keep")),
      df(idCol) === col("__keep"), "left_semi")

  /** MinHash+LSH candidate duplicate pairs (id1 < id2). Banding: split
    * the `numHashes` signature into `bands` bands of `numHashes/bands`
    * rows; docs colliding in ≥1 band become candidates; then the exact
    * estimated Jaccard (fraction of matching minhashes) filters by
    * `threshold`.
    */
  def minhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16, shingleLen: Int = 5,
      threshold: Double = 0.7, maxBucket: Int = 1000): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // Materialize signatures ONCE: sig feeds three subtrees (banding +
    // both candidate join-backs), and un-materialized each would re-run
    // the minhash UDF over every document — shingles x numHashes work,
    // measured as ~2/3 of this operator's cost at sf0.1. localCheckpoint
    // (not persist) also cuts lineage, and its blocks are plain RDD
    // partitions: numDocs x ~0.5 KB, negligible next to the corpus.
    val sig = df.select(
      col(idCol).as("id"),
      TextOps.minhash(col(textCol), numHashes, shingleLen).as("sig"))
      .localCheckpoint()
    // a checkpointed plan reports UNKNOWN size statistics, so Catalyst
    // would sort-merge every join against it. Below a byte bound the
    // bucket-size table gets an explicit broadcast hint and candidate
    // scoring takes the broadcast-map path; a beyond-bound corpus keeps
    // the shuffle joins, which are the correct plan at that size anyway.
    val nDocs = sig.count()
    val sigBytes = nDocs * (16L + 8L * numHashes)
    def hinted(d: DataFrame): DataFrame =
      if (sigBytes <= (256L << 20)) broadcast(d) else d
    // Candidate generation runs on SLIM rows (id, band, bh) only — the
    // 64-long signatures never enter the bucket join or the pair dedup
    // shuffle; they are re-attached afterwards via two joins against the
    // small cached signature table.
    val banded = bandRows(sig, numHashes, bands)
    // cap pathological buckets (boilerplate): drop (band,bh) groups with
    // more than maxBucket members — bounded quadratic work per bucket
    val sizes = banded.groupBy("band", "bh").agg(count(lit(1)).as("__bn"))
    val bucketed = banded.join(hinted(sizes.filter(col("__bn") <= maxBucket)),
      Seq("band", "bh"))
    val l = bucketed.select(col("band"), col("bh"), col("id").as("id1"))
    val r = bucketed.select(col("band"), col("bh"), col("id").as("id2"))
    // duplicates (pairs colliding in several bands, factor <= bands) ride
    // through to the post-threshold dedup below: scoring a few duplicate
    // candidates is a cheap map, whereas deduplicating the full
    // candidate set here would shuffle EVERY candidate before the filter
    // throws almost all of them away. The self-join's right side is
    // nDocs x bands slim rows — broadcast it under the same byte cap
    // (checkpoint-derived stats are UNKNOWN, so Catalyst would otherwise
    // shuffle+sort both sides).
    val cand = l.join(hinted(r), Seq("band", "bh"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2")
    // the broadcast-map fast path encodes ids as Long; any other id type
    // keeps the type-generic relational path (same rule as the
    // clusterLabels driver fast path)
    val longIds = sig.schema("id").dataType ==
      org.apache.spark.sql.types.LongType
    if (longIds && sigBytes <= (256L << 20)) {
      // Bounded corpus (same byte cap as the join hints): score
      // candidates against a BROADCAST primitive-array signature map in
      // one narrow pass. The relational form below pays two join-backs
      // plus a Seq[Long] UDF — per candidate that converts two
      // UnsafeArrayData to boxed seqs (2 x numHashes boxed longs);
      // measured at sf0.1 (190k candidates) the scoring tail was ~70% of
      // the operator. The map is the same data the broadcast hash join
      // ships, minus the boxing.
      val spark = df.sparkSession
      import spark.implicits._
      val sigMap = sig.as[(Long, Array[Long])].collect().toMap
      val bc = spark.sparkContext.broadcast(sigMap)
      val nh = numHashes; val th = threshold
      cand.as[(Long, Long)].mapPartitions { it =>
        val m = bc.value
        it.flatMap { case (a, b) =>
          val sa = m(a); val sb = m(b)
          var eq = 0; var i = 0
          val n = math.min(sa.length, sb.length)
          while (i < n) { if (sa(i) == sb(i)) eq += 1; i += 1 }
          val est = eq.toDouble / nh
          if (est >= th) Some((a, b, est)) else None
        }
      }.toDF("id1", "id2", "est_raw")
        // Spark round (HALF_UP) — bit-identical to the relational path
        .select(col("id1"), col("id2"), round(col("est_raw"), 4).as("est_jaccard"))
        // band-collision duplicates carry identical estimates, so keeping
        // an arbitrary one is deterministic
        .dropDuplicates("id1", "id2")
    } else {
      // Beyond-cap scale path (and the generic path for non-long ids):
      // re-attach signatures relationally (the joins shuffle on id —
      // correct at this size) and score with a tight primitive loop;
      // zip_with / filter / size higher-order functions evaluate
      // interpreted and were measured slower still.
      val estJaccard = udf { (a: Seq[Long], b: Seq[Long]) =>
        var eq = 0; var i = 0
        val n = math.min(a.length, b.length)
        while (i < n) { if (a(i) == b(i)) eq += 1; i += 1 }
        eq.toDouble / numHashes.toDouble
      }
      cand
        .join(sig.select(col("id").as("id1"), col("sig").as("sig1")), "id1")
        .join(sig.select(col("id").as("id2"), col("sig").as("sig2")), "id2")
        .withColumn("est_jaccard", estJaccard(col("sig1"), col("sig2")))
        .filter(col("est_jaccard") >= threshold)
        .select(col("id1"), col("id2"), round(col("est_jaccard"), 4).as("est_jaccard"))
        .dropDuplicates("id1", "id2")
    }
  }

  /** (id, sig) → slim (id, band, bh) LSH-band rows. */
  def bandRows(sig: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    sig.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
        hash(slice(col("sig"), b * rows + 1, lit(rows)), b))).as(Seq("band", "bh")))
  }

  /** Ids from `newSigs` that are MinHash near-duplicates of anything in
    * `storeSigs` (both (id, sig) relations): banded-bucket equi-join for
    * candidates, exact estimated-jaccard filter. The cross-set form of
    * [[minhashPairs]] — the building block for INCREMENTAL dedup, where
    * each new slice of a corpus is checked against the accumulated
    * signature store without re-pairing the store against itself.
    */
  def minhashDupsAgainst(
      newSigs: DataFrame, storeSigs: DataFrame,
      numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.7, maxBucket: Int = 1000): DataFrame = {
    val l0 = bandRows(newSigs, numHashes, bands)
    val r0 = bandRows(storeSigs, numHashes, bands)
      .withColumnRenamed("id", "store_id")
    // Same pathological-bucket cap as minhashPairs, counted across BOTH
    // sides: a boilerplate (band,bh) bucket in the accumulated store would
    // otherwise make the candidate join quadratic in the stream path.
    val sizes = l0.select(col("band"), col("bh"))
      .unionAll(r0.select(col("band"), col("bh")))
      .groupBy("band", "bh").agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") <= maxBucket)
    val l = l0.join(sizes.select("band", "bh"), Seq("band", "bh"))
    val r = r0.join(sizes.select("band", "bh"), Seq("band", "bh"))
    // same late-dedup trade as minhashPairs: the final `.distinct()` on
    // the flagged ids dedups after the threshold filter, so the full
    // candidate set never shuffles
    val cand = l.join(r, Seq("band", "bh"))
      .select("id", "store_id")
    val estJaccard = udf { (a: Seq[Long], b: Seq[Long]) =>
      var eq = 0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { if (a(i) == b(i)) eq += 1; i += 1 }
      eq.toDouble / numHashes.toDouble
    }
    cand
      .join(newSigs.select(col("id"), col("sig").as("sig1")), "id")
      .join(storeSigs.select(col("id").as("store_id"), col("sig").as("sig2")), "store_id")
      .filter(estJaccard(col("sig1"), col("sig2")) >= threshold)
      .select("id").distinct()
  }

  /** SimHash near-dup pairs: Hamming distance ≤ maxDist on 64-bit
    * fingerprints, candidates via 4x16-bit band collisions.
    */
  def simhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3): DataFrame = {
    val fp = df.select(col(idCol).as("id"), TextOps.simhash(col(textCol)).as("fp"))
    // band index carried alongside the 16-bit slice so different slice
    // positions never collide with each other
    val banded2 = fp.select(col("id"), col("fp"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("fp"), b * 16).bitwiseAND(lit(0xFFFFL))): _*)).as(Seq("band", "bh")))
    val l = banded2.select(col("band"), col("bh"), col("id").as("id1"), col("fp").as("fp1"))
    val r = banded2.select(col("band"), col("bh"), col("id").as("id2"), col("fp").as("fp2"))
    l.join(r, Seq("band", "bh"))
      .filter(col("id1") < col("id2"))
      .dropDuplicates("id1", "id2")
      .withColumn("hamming", bit_count(col("fp1").bitwiseXOR(col("fp2"))))
      .filter(col("hamming") <= maxDist)
      .select("id1", "id2", "hamming")
  }

  /** Word n-gram Jaccard similarity pairs ≥ threshold. Pure relational
    * composition (split/explode/join/group) — oracle-expressible.
    */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      filter(split(lower(trim(col(textCol))), "\\s+"), t => length(t) > 0).as("toks"))
    // materialized once: three subtrees consume the distinct gram set
    // (per-doc counts + both sides of the self-join), and their differing
    // output aliases defeat ReusedExchange — unmaterialized, the
    // tokenize + explode + distinct shuffle ran three times (slim
    // (id, gram) rows, the same trade as minhashPairs' signatures)
    val grams = toks
      .withColumn("gram",
        explode(transform(sequence(lit(0), greatest(size(col("toks")) - n, lit(0)) ),
          i => array_join(slice(col("toks"), i + 1, lit(n)), " "))))
      .filter(size(col("toks")) >= n)
      .select("id", "gram").distinct()
      .localCheckpoint()
    val counts = grams.groupBy("id").agg(count(lit(1)).as("n_grams"))
    val l = grams.select(col("id").as("id1"), col("gram"))
    val r = grams.select(col("id").as("id2"), col("gram"))
    val common = l.join(r, "gram").filter(col("id1") < col("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("common"))
    common
      .join(counts.withColumnRenamed("id", "id1").withColumnRenamed("n_grams", "n1"), "id1")
      .join(counts.withColumnRenamed("id", "id2").withColumnRenamed("n_grams", "n2"), "id2")
      // raw IEEE division, no rounding: bit-identical to the DuckDB oracle's
      // CAST(common AS DOUBLE) / CAST(n1 + n2 - common AS DOUBLE)
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("n1") + col("n2") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** Exact character-shingle Jaccard pairs ≥ threshold over the SAME
    * normalization minhashSignature uses (lowercase tokens joined by a
    * single space — [[graft.functions.HashEmbedder.tokens]]). Pure
    * relational composition (split/transform/explode/join/group), so a
    * SQL oracle can recompute it independently — this is the ground
    * truth the MinHash / SimHash accuracy contracts are keyed on.
    *
    * O(collision mass) like [[ngramJaccardPairs]]; intended for contract
    * checking and small corpora, not as the scale dedup path.
    */
  def charShingleJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 5, threshold: Double = 0.8): DataFrame = {
    val norm = df.select(col(idCol).as("id"),
      array_join(
        filter(split(lower(col(textCol)), "[^\\p{L}\\p{N}]+"), t => length(t) > 0),
        " ").as("nm"))
    val sh = norm.filter(length(col("nm")) >= shingleLen)
      .select(col("id"), explode(array_distinct(transform(
        sequence(lit(1), length(col("nm")) - (shingleLen - 1)),
        i => col("nm").substr(i, lit(shingleLen))))).as("sh"))
    val counts = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val l = sh.select(col("id").as("id1"), col("sh"))
    val r = sh.select(col("id").as("id2"), col("sh"))
    val common = l.join(r, "sh").filter(col("id1") < col("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("common"))
    common
      .join(counts.select(col("id").as("id1"), col("n").as("n1")), "id1")
      .join(counts.select(col("id").as("id2"), col("n").as("n2")), "id2")
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("n1") + col("n2") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** [[charShingleJaccardPairs]] computed by BITSET intersection instead
    * of a shingle equi-join — value-identical output (same distinct-
    * shingle counts, same integer `common`, hence bit-identical IEEE
    * jaccard), picked when the corpus' distinct-shingle vocabulary is
    * small enough to index.
    *
    * Why: the equi-join's cost is the collision mass Σ df(shingle)² —
    * measured 1.5e9 joined rows for 5k docs sharing a 2k-shingle
    * vocabulary (stop-shingles dominate). Here each document's shingle
    * set becomes a `⌈|V|/64⌉`-long bitmask via a broadcast vocabulary
    * index, and |A∩B| is a popcount loop over an all-pairs broadcast
    * nested-loop join: 12.5M pairs × 32 longs beats 1.5e9 shuffled rows
    * by ~20x. Still O(n²) pairs — like the equi-join form, this is the
    * exact GROUND-TRUTH twin for contract checking, not the scale dedup
    * path (the sketches are). Falls back to the relational form when the
    * vocabulary exceeds `maxVocab` (the bounded driver collect stays
    * ≤ maxVocab strings).
    */
  def charShingleJaccardPairsBitset(
      df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 5, threshold: Double = 0.8,
      maxVocab: Int = 1 << 16, maxPackedBytes: Long = 256L << 20): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val norm = df.select(col(idCol).as("id"),
      array_join(
        filter(split(lower(col(textCol)), "[^\\p{L}\\p{N}]+"), t => length(t) > 0),
        " ").as("nm"))
    val shSets = norm.filter(length(col("nm")) >= shingleLen)
      .select(col("id"), array_distinct(transform(
        sequence(lit(1), length(col("nm")) - (shingleLen - 1)),
        i => col("nm").substr(i, lit(shingleLen)))).as("shs"))
      // shingle extraction is interpreted (HOF chain); it feeds four jobs
      // below (vocab count, vocab collect, mask build x2), so pin it for
      // the duration of the build
      .persist()
    try {
      val vocabDf = shSets.select(explode(col("shs")).as("sh")).distinct()
      // count-then-collect, NOT distinct().limit(cap).collect(): a limit
      // above the aggregate executes via CollectLimit's incremental
      // partition retries, each replaying the whole upstream (measured
      // 23s vs 2s for this corpus); both jobs here are single full
      // parallel passes and the collect stays bounded by the count check
      val vocabCount = vocabDf.count()
      val nWords = math.max(1L, (vocabCount + 63) >>> 6).toInt
      // bound the packed-mask broadcast by BYTES (docs x mask width), not
      // rows — 200k docs of 1024-word masks would be 1.6 GB
      if (vocabCount > maxVocab ||
          shSets.count() * (24L + 8L * nWords) > maxPackedBytes)
        return charShingleJaccardPairs(df, idCol, textCol, shingleLen, threshold)
      val vocab = vocabDf.collect().map(_.getString(0))
      val bidx = spark.sparkContext.broadcast(vocab.zipWithIndex.toMap)
      val maskOf = udf { (shs: Seq[String]) =>
        val m = new Array[Long](nWords)
        val idx = bidx.value
        shs.foreach { s => val i = idx(s); m(i >>> 6) |= 1L << (i & 63) }
        m
      }
      val masks = shSets.select(col("id"), size(col("shs")).as("n"),
        maskOf(col("shs")).as("mask"))
      // all-pairs popcount kernel: one broadcast of the packed masks
      // (maxDocs * ~(8B + |V|/8) bounded above), then a primitive loop per
      // left row. mapPartitions rather than a join + scoring expression:
      // BroadcastNestedLoopJoin materializes every joined row (~600B x
      // n^2/2) and a ScalaUDF boxes both long arrays per call — measured
      // 31.7s vs ~1s for this kernel on 12.5M pairs.
      val packed = masks.as[(Long, Int, Seq[Long])].collect()
        .map { case (id, n, m) => (id, n, m.toArray) }
      val bc = spark.sparkContext.broadcast(packed)
      val thr = threshold
      // repartition before the kernel: the masks inherit the scan's
      // partitioning (often ONE task for a single-split parquet file),
      // which would run the O(n^2) popcount serially AND leave the
      // multi-million-row pair output in one partition, serializing
      // every downstream consumer of the memoized ground truth
      masks.repartition(spark.sparkContext.defaultParallelism)
        .as[(Long, Int, Seq[Long])]
        .mapPartitions { it =>
          val right = bc.value
          it.flatMap { case (id1, n1, m1s) =>
            val m1 = m1s.toArray
            right.iterator.flatMap { case (id2, n2, m2) =>
              if (id2 <= id1) None
              else {
                var c = 0; var i = 0
                while (i < m1.length) {
                  c += java.lang.Long.bitCount(m1(i) & m2(i)); i += 1
                }
                // c > 0 mirrors the equi-join form, which only ever emits
                // pairs sharing at least one shingle; same Int arithmetic
                // and IEEE division as the relational jaccard column
                if (c > 0 && c.toDouble / (n1 + n2 - c).toDouble >= thr)
                  Some((id1, id2, c.toDouble / (n1 + n2 - c).toDouble))
                else None
              }
            }
          }
        }
        .toDF("id1", "id2", "jaccard")
        // the checkpoint both materializes the pairs while shSets is
        // still pinned and cuts the plan above them, so consumers joining
        // the ground truth several times never replay the kernel
        .localCheckpoint()
    } finally shSets.unpersist()
  }

  /** Connected components over near-dup candidate pairs by iterative
    * min-label propagation: every member converges to its cluster's
    * minimum id. Rounds = cluster diameter (near-dup clusters are
    * star/clique shaped in practice, so 2-3 rounds); each round is one
    * equi-join + partial-min aggregation on slim (long, long) rows, and
    * `localCheckpoint` truncates the growing lineage so round N's plan
    * doesn't replay rounds 1..N-1.
    *
    * `maxDriverEdges` bounds the driver union-find fast path; a value
    * >= Int.MaxValue DISABLES it (the probe is a `limit(cap+1).collect`,
    * and a >2G-row driver collect is never sane) and every graph takes
    * the distributed label-propagation path.
    *
    * Output: (id, label) for every id that appears in a pair.
    */
  def clusterLabels(pairs: DataFrame, maxRounds: Int = 50,
      maxDriverEdges: Long = 1L << 22): DataFrame = {
    // materialize the pair plan ONCE: the symmetric-edge union references
    // it twice, and a union's branches do not share work — an expensive
    // upstream (the banded-LSH candidate pipeline) would run per branch
    val p = pairs.select(col("id1"), col("id2")).localCheckpoint()
    // Near-dup graphs are SPARSE relative to the corpus (edge count ~
    // duplicate mass, not |D|): below the bound, a driver union-find
    // labels components in one pass over the collected edges — replacing
    // 2-4 iterative rounds of join+aggregate+count jobs with
    // microseconds. 4M edges x 16 B = 64 MB, comfortably in-heap; a
    // denser graph stays on the distributed label-propagation path,
    // which is the correct plan at that size. Numeric ids only (every
    // pipeline here keys on a numeric doc id); other id types keep the
    // generic path.
    val numericIds = p.schema.fields.forall(f => f.dataType match {
      case _: org.apache.spark.sql.types.LongType => true
      case _: org.apache.spark.sql.types.IntegerType => true
      case _: org.apache.spark.sql.types.ShortType => true
      case _ => false
    })
    // the size gate is folded into the bounded collect itself: one
    // limit(cap+1) job replaces a count pre-pass + collect (two scans of
    // the checkpointed pairs). cap+1 rows back means over-cap — fall
    // through to the distributed path having fetched ≤64 MB once.
    if (numericIds && maxDriverEdges < Int.MaxValue) {
      val probe = p.limit(maxDriverEdges.toInt + 1).collect()
      if (probe.length <= maxDriverEdges)
        return clusterLabelsDriver(probe, p.sparkSession)
    }
    val edges = p.select(col("id1").as("a"), col("id2").as("b"))
      .union(p.select(col("id2").as("a"), col("id1").as("b")))
      .persist()
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint()
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxRounds) {
      val neighborMin = edges
        .join(labels.select(col("id").as("b"), col("label").as("blabel")), "b")
        .groupBy("a").agg(min(col("blabel")).as("nmin"))
        .withColumnRenamed("a", "id")
      val next = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
        .localCheckpoint()
      changed = next.join(labels.withColumnRenamed("label", "__old"), "id")
        .filter(col("label") < col("__old")).count()
      labels = next
      round += 1
    }
    edges.unpersist()
    // a >maxRounds-diameter chain means the closure is incomplete —
    // surface it (silently admitting duplicates is the worst failure
    // mode a dedup pipeline can have)
    if (changed > 0)
      throw new IllegalStateException(
        s"clusterLabels did not converge in $maxRounds rounds " +
          s"($changed labels still changing) — raise maxRounds for this graph")
    labels
  }

  /** Driver union-find over a bounded, materialized (id1, id2) edge
    * list: each id labels with the MINIMUM id of its connected component
    * — exactly the fixpoint the distributed label propagation converges
    * to, without per-round jobs. Path-compressed; the min id is kept as
    * each set's root, so label assignment is deterministic.
    */
  private def clusterLabelsDriver(
      rows: Array[org.apache.spark.sql.Row],
      spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      while (parent.get(x) != x) {
        parent.put(x, parent.get(parent.get(x))) // path halving
        x = parent.get(x)
      }
      x
    }
    rows.foreach { r =>
      val a = r.get(0).asInstanceOf[Number].longValue
      val b = r.get(1).asInstanceOf[Number].longValue
      parent.putIfAbsent(a, a)
      parent.putIfAbsent(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        // attach the larger root under the smaller: the component min
        // stays the root
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
    parent.keySet.forEach(id => out += ((id, find(id))))
    out.toSeq.toDF("id", "label")
  }

  /** The full training-data dedup recipe, composed: (1) drop exact
    * duplicates (normalized text), then (2) drop near-duplicates found
    * by MinHash-LSH, keeping the lowest id of each near-dup cluster.
    * Cluster membership is the TRANSITIVE closure of the candidate
    * pairs ([[clusterLabels]] fixpoint) — a member whose only link to
    * the cluster minimum is through a chain (A~B~C with A≁C) is still
    * deduplicated against it.
    */
  def dedupPipeline(
      df: DataFrame, idCol: String, textCol: String,
      minhashThreshold: Double = 0.7): DataFrame = {
    // hash-keyed exact stage: the shuffle carries 8-byte keys instead of
    // full normalized text (the 100 TB default; DedupSpec proves it
    // selects the identical survivor set as the text-keyed twin)
    // materialized once: exactDone feeds the near-dup stage AND the final
    // anti-join — unmaterialized, the exact-dedup window would run twice
    val exactDone = exactScalable(df, idCol, textCol).localCheckpoint()
    val pairs = minhashPairs(exactDone, idCol, textCol, threshold = minhashThreshold)
    val victims = clusterLabels(pairs)
      .filter(col("label") =!= col("id"))
      .select(col("id").as("__victim"))
    exactDone.join(victims, exactDone(idCol) === victims("__victim"), "left_anti")
  }

  /** Exact dedup keeping the BEST-quality member per normalized-text
    * group (quality desc, id asc tie-break) — the survivor choice a
    * training-data pipeline actually wants: among byte-different copies
    * of the same content, keep the cleanest rendering, not the lowest
    * id. Same skew-proof shape as [[exact]]: one partial-agg groupBy on
    * the 8-byte hashed key + the id-keyed semi-join back. The (quality
    * desc, id asc) survivor choice is a single `min(struct(-quality,
    * id))` aggregate — struct min is lexicographic, so negating the
    * (numeric) quality gives quality-descending with the id ascending
    * tie-break, with full map-side combining (a window's per-group sort
    * would serialize the Zipf-head duplicate group onto one task).
    */
  /** Keeper sort key: `min(struct(...))` over it emulates ORDER BY
    * (quality DESC NULLS LAST, id ASC) exactly — the leading isNull
    * boolean (false < true) makes every scored row beat every unscored
    * row, matching the window form this replaced (desc puts nulls
    * last); a bare `-quality` would instead let a NULL-quality row WIN
    * the group (struct ordering puts a null field first), keeping the
    * one member with no quality signal. The cast to double also keeps
    * ANSI negate from overflowing on integral Int.MinValue qualities.
    */
  private[graft] def keeperKey(quality: Column, id: Column): Column =
    struct(quality.isNull.as("__qn"),
      negate(quality.cast("double")).as("__nq"), id.as("__i"))

  def exactKeepBest(
      df: DataFrame, idCol: String, textCol: String, qualityCol: String): DataFrame =
    joinBackKeepers(df, idCol,
      df.groupBy(xxhash64(normText(col(textCol))).as("__k"))
        .agg(min(keeperKey(col(qualityCol), col(idCol))).as("__b"))
        .select(col("__b.__i").as("__keep")))

  /** [[dedupPipeline]] with quality-aware survivor selection in BOTH
    * stages: exact groups keep their best-quality member, and each
    * MinHash near-dup cluster (transitive closure) keeps its best-quality
    * member instead of its minimum id. The cluster stage adds one slim
    * (id, label, quality) shuffle on top of the closure.
    *
    * The CLUSTER STRUCTURE is identical to [[dedupPipeline]]'s on any
    * input where exact-duplicate copies agree on the minhash-normalized
    * token sequence (normText-equal texts always do — they differ only
    * in case/whitespace): the chosen exact survivors then carry identical
    * signatures, so the candidate graph is isomorphic and the two
    * pipelines keep the same NUMBER of documents, differing only in
    * WHICH member represents each cluster (DedupSpec pins both).
    */
  def dedupPipelineKeepBest(
      df: DataFrame, idCol: String, textCol: String, qualityCol: String,
      minhashThreshold: Double = 0.7): DataFrame = {
    // materialized once: three subtrees consume it (near-dup pairs, the
    // quality lookup, the final anti-join)
    val exactDone = exactKeepBest(df, idCol, textCol, qualityCol).localCheckpoint()
    val pairs = minhashPairs(exactDone, idCol, textCol, threshold = minhashThreshold)
    val q = exactDone.select(col(idCol).as("id"), col(qualityCol).as("__q"))
    // keeper per cluster = best quality, ties lowest id — the same
    // min-struct partial agg as [[exactKeepBest]], NEVER a row_number
    // window over the cluster label: a boilerplate mega-cluster is a hot
    // label, and a window partition is an unsplittable sort group.
    // labeled is referenced twice (keeper agg + anti-join) — materialize.
    val labeled = clusterLabels(pairs).join(q, "id").localCheckpoint()
    val keepers = labeled.groupBy("label")
      .agg(min(keeperKey(col("__q"), col("id"))).as("__b"))
      .select(col("__b.__i").as("__keep"))
    val victims = labeled
      .join(keepers, labeled("id") === col("__keep"), "left_anti")
      .select(col("id").as("__victim"))
    exactDone.join(victims, exactDone(idCol) === victims("__victim"), "left_anti")
  }

  /** Embedding near-duplicate pairs: cosine ≥ threshold, exact pairwise
    * over a broadcast corpus (bit-compatible with DuckDB's
    * list_cosine_similarity, so the oracle hash-matches).
    *
    * O(n²) scoring — this is the ORACLE twin for small corpora;
    * [[embeddingNearDupPairsLsh]] is the default at scale.
    */
  def embeddingNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val a = df.select(col(idCol).as("id1"), col(vecCol).as("v1"))
    val b = broadcast(df.select(col(idCol).as("id2"), col(vecCol).as("v2")))
    a.join(b, col("id1") < col("id2"))
      .withColumn("cosine", VectorFunctions.cosine_similarity(col("v1"), col("v2")))
      .filter(col("cosine") >= threshold)
      .select("id1", "id2", "cosine")
  }

  /** Embedding near-dup pairs, 100 TB form: sign-random-projection LSH
    * buckets ([[Lsh]], Charikar STOC'02) replace the cross product with
    * `nTables` bucket-equi-joins — work scales with bucket collision
    * mass, never |D|². High-cosine pairs land in the same bucket with
    * probability (1 - θ/π)^nBits per table; raise `nTables` for recall
    * (candidates are exact-scored, so precision is 1 vs the exact twin).
    * Candidate dedup runs on slim (id1, id2) rows; vectors re-attach via
    * two joins afterwards, so the wide embedding columns never enter the
    * pair-dedup shuffle.
    */
  def embeddingNearDupPairsLsh(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nBits: Int = 8, nTables: Int = 6,
      dim: Int = 64, maxBucket: Int = 10000): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    // all tables' buckets from ONE corpus pass (union branches don't
    // share work — the per-table union form re-scanned the corpus and
    // re-projected the vector nTables times)
    val bucketed = base.select(col("id"),
      posexplode(Lsh.bucketsCol(col("v"), nBits, nTables, dim))
        .as(Seq("tbl", "bh")))
    // cap pathological buckets (e.g. an all-zeros embedding cluster):
    // bounded quadratic work per (table, bucket)
    val sizes = bucketed.groupBy("tbl", "bh").agg(count(lit(1)).as("__bn"))
    val capped = bucketed.join(sizes.filter(col("__bn") <= maxBucket), Seq("tbl", "bh"))
    val l = capped.select(col("tbl"), col("bh"), col("id").as("id1"))
    val r = capped.select(col("tbl"), col("bh"), col("id").as("id2"))
    val cand = l.join(r, Seq("tbl", "bh"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2")
      .dropDuplicates("id1", "id2")
    cand
      .join(base.select(col("id").as("id1"), col("v").as("v1")), "id1")
      .join(base.select(col("id").as("id2"), col("v").as("v2")), "id2")
      .withColumn("cosine", VectorFunctions.cosine_similarity(col("v1"), col("v2")))
      .filter(col("cosine") >= threshold)
      .select("id1", "id2", "cosine")
  }

  /** Duplicated token-span detection — the exact-substring dedup signal
    * of Lee et al. 2021 ("Deduplicating Training Data Makes Language
    * Models Better"), expressed relationally instead of with a suffix
    * array: every `n`-token sliding window is keyed by its joined text;
    * a window whose key appears in at least `minDocs` distinct documents
    * is a cross-document duplicated span.
    *
    * Output: one row per occurrence of a duplicated span —
    * (id, pos [1-based token offset], n_docs carrying that span).
    *
    * Scale shape: the only shuffle is the group-by on the span key; rows
    * into it are slim (key, doc, pos) triples, partial-aggregated
    * map-side. Span keys are text here for oracle parity — a 100 TB run
    * swaps the key for `xxhash64(gram)` (8-byte shuffle rows, same
    * result modulo an astronomically unlikely collision), which
    * [[duplicateSpansHashed]] provides.
    */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minDocs: Int = 2): DataFrame =
    spansAtLeast(spanGrams(df, idCol, textCol, n), "gram", minDocs)

  /** [[duplicateSpans]] with the 8-byte hashed span key — the 100 TB
    * form (the shuffle never carries gram text).
    */
  def duplicateSpansHashed(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minDocs: Int = 2): DataFrame =
    spansAtLeast(spanGrams(df, idCol, textCol, n)
      .select(col("id"), col("pos"), xxhash64(col("gram")).as("gh")), "gh",
      minDocs)

  /** Attach n_docs = count(DISTINCT id) per span key and keep keys seen
    * in at least `minDocs` docs — as a partial-agg groupBy on the key
    * plus an equi-join back, NOT a window over the key: gram/line keys
    * are Zipf-distributed, and `Window.partitionBy(key)` would put every
    * occurrence of a corpus-wide boilerplate span on ONE task (an
    * unsplittable sort partition). The groupBy is skew-safe twice over —
    * `count_distinct` plans as a two-phase aggregate whose first shuffle
    * keys on (key, id) (the doc id fans a hot key across reducers) and
    * the second phase partial-aggregates map-side — and the join back is
    * an equi-join AQE can skew-split, which a window partition never can.
    *
    * The gram stream (the expensive tokenize+explode) is still built
    * once: a LAZY local checkpoint materializes it at first execution
    * and both the stats side and the probe side read the same blocks
    * (released when the plan is GC'd, via Spark's context cleaner).
    */
  private def spansAtLeast(grams: DataFrame, keyCol: String,
      minDocs: Int): DataFrame = {
    val g = grams.localCheckpoint(false)
    val dup = g.groupBy(keyCol)
      .agg(count_distinct(col("id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
    g.join(dup, keyCol).select("id", "pos", "n_docs")
  }

  /** (id, pos, gram): all `n`-token sliding windows over lowercased
    * whitespace tokens; `pos` is the 1-based token offset (the spelling
    * DuckDB's 1-based list slicing reproduces verbatim).
    */
  private def spanGrams(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    // explicit [ \t\n\f\r]+ = RE2's \s (Java's \s also admits \x0B):
    // keeps gram text and positions byte-identical to the DuckDB oracle
    val toks = filter(split(lower(trim(col(textCol))), "[ \\t\\n\\f\\r]+"),
      t => length(t) > 0)
    df.select(col(idCol).as("id"), toks.as("tk"))
      .filter(size(col("tk")) >= n)
      .select(col("id"), posexplode(transform(
        sequence(lit(1), size(col("tk")) - (n - 1)),
        i => array_join(slice(col("tk"), i, lit(n)), " "))).as(Seq("p0", "gram")))
      .select(col("id"), (col("p0") + 1).as("pos"), col("gram"))
  }

  /** Duplicated-span REMOVAL — the second half of Lee et al. 2021's
    * exact-substring recipe ([[duplicateSpans]] detects; this scrubs):
    * every token covered by an `n`-token span whose key appears in at
    * least `minDocs` distinct documents is removed from every document
    * EXCEPT the span's keeper (minimum id per span key), and each
    * document is rebuilt from its kept tokens in order. Overlapping
    * duplicated spans merge naturally (coverage positions union).
    * Output: (id, n_tok, n_removed, clean_text) — clean_text is the
    * normalized (lowercased, whitespace-joined) token stream, the same
    * normalization the span keys use. Token-less documents disappear.
    *
    * Scale shape: span keys shuffle as 8-byte xxhash64 values; the
    * (key → n_docs, keeper) stats come from the skew-safe partial-agg
    * groupBy ([[spansAtLeast]]'s shape) and join back as an
    * AQE-skew-splittable equi-join. Coverage explodes n rows per
    * duplicated OCCURRENCE — bounded by duplicate mass, never corpus
    * size — and the rebuild groups on the doc id. The tokenized base
    * materializes once (lazy local checkpoint) for the token and gram
    * branches.
    */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minDocs: Int = 2): DataFrame = {
    require(n >= 1, s"span length must be positive, got $n")
    val toksCol = filter(split(lower(trim(col(textCol))), "[ \\t\\n\\f\\r]+"),
      t => length(t) > 0)
    val base = df.select(col(idCol).as("id"), toksCol.as("tk"))
      .filter(size(col("tk")) > 0)
      .localCheckpoint(false)
    val tokens = base
      .select(col("id"), posexplode(col("tk")).as(Seq("p0", "tok")))
      .select(col("id"), (col("p0") + 1).as("p"), col("tok"))
    val grams = base.filter(size(col("tk")) >= n)
      .select(col("id"), posexplode(transform(
        sequence(lit(1), size(col("tk")) - (n - 1)),
        i => array_join(slice(col("tk"), i, lit(n)), " "))).as(Seq("p0", "g")))
      .select(col("id"), (col("p0") + 1).as("pos"), xxhash64(col("g")).as("gh"))
      .localCheckpoint(false)
    val dup = grams.groupBy("gh")
      .agg(count_distinct(col("id")).as("__nd"), min(col("id")).as("__keeper"))
      .filter(col("__nd") >= minDocs)
    val covered = grams.join(dup, "gh")
      .filter(col("id") =!= col("__keeper"))
      .select(col("id"), explode(sequence(col("pos"),
        col("pos") + (n - 1))).as("p"))
      .distinct()
      .withColumn("__c", lit(true))
    tokens.join(covered, Seq("id", "p"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_tok"),
        count(col("__c")).as("n_removed"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("__c").isNull,
            struct(col("p"), col("tok"))))),
          x => x.getField("tok"))).as("clean_text"))
  }

  /** Cross-document line-level deduplication — the line-dedup stage of
    * C4 (Raffel et al. 2020) and RefinedWeb (Penedo et al. 2023):
    * a normalized (lowercased, trimmed) line occurring in at least
    * `minDocs` distinct documents is removed from every document except
    * the one with the minimum id, and each document's text is
    * reconstructed from its kept lines in original order. Blank lines
    * never count as duplicates. A document whose every line is removed
    * disappears (it was all boilerplate — exactly what the C4 recipe
    * drops).
    *
    * Output: (id, n_lines, n_kept, clean_text).
    *
    * Scale shape: one explode to slim (id, pos, line) rows, then
    * (key → n_docs, keeper) via a partial-agg groupBy and an equi-join
    * back — never a window over the line key. Line frequencies are
    * Zipf-distributed ("all rights reserved" across a web corpus), and
    * a key window would sort every occurrence of a hot line on one
    * task; the groupBy combines map-side (count_distinct's first phase
    * shuffles on (key, id), fanning hot keys across reducers) and the
    * join back is AQE-skew-splittable. The dup-key table carries ONLY
    * keys at `minDocs`+ — a corpus-size-independent boilerplate set
    * that AQE broadcasts when it fits. The line stream materializes
    * once via a lazy local checkpoint read by all three consumers.
    * [[stopLineFilter]] composes upstream when a corpus is
    * boilerplate-dominated enough that even the dup-key join is heavy.
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
      minDocs: Int = 2): DataFrame = {
    val lines = df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("key", lower(trim(col("line"))))
      .localCheckpoint(false)
    // blank lines never count as duplicates, so they never enter the
    // stats agg; a left-join miss (__nd null) below marks a line as
    // blank-or-under-threshold — kept in every document
    val dupKeys = lines.filter(length(col("key")) > 0)
      .groupBy("key")
      .agg(count_distinct(col("id")).as("__nd"), min(col("id")).as("__keeper"))
      .filter(col("__nd") >= minDocs)
    val docSizes = lines.groupBy("id").agg(count(lit(1)).as("n_lines"))
    lines.join(dupKeys, Seq("key"), "left")
      .filter(col("__nd").isNull || col("id") === col("__keeper"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws("\n",
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x.getField("line"))).as("clean_text"))
      .join(docSizes, "id")
      .select(col("id"), col("n_lines"), col("n_kept"), col("clean_text"))
  }

  /** Boilerplate line mining — the corpus-wide list a C4/RefinedWeb
    * stop-line filter is seeded from: every normalized (lowercased,
    * trimmed, non-blank) line with document frequency >= `minDocFreq`.
    * Returns (key, doc_freq) ordered nowhere (callers top-k or join).
    *
    * Scale shape: one explode to slim (id, key) rows and a
    * count-distinct groupBy on the line key — two-phase (first shuffle
    * keys on (key, id), fanning hot boilerplate keys across reducers;
    * second phase partial-aggregates map-side), so Zipf-heavy lines
    * never concentrate on one task.
    */
  def boilerplateLines(df: DataFrame, idCol: String, textCol: String,
      minDocFreq: Long = 2): DataFrame =
    normLines(df, idCol, textCol)
      .groupBy("key").agg(count_distinct(col("id")).as("doc_freq"))
      .filter(col("doc_freq") >= minDocFreq)

  /** [[boilerplateLines]] computed SKETCH-FIRST — the bounded-memory
    * mine for corpora whose distinct-line space is itself corpus-sized
    * (every page of a 100 TB crawl contributes near-unique lines; the
    * exact groupBy must shuffle them all even though only the Zipf head
    * matters). Two passes:
    *
    *  1. candidates: per-document DISTINCT line keys (derived narrowly
    *     inside the row — `array_distinct` over the same
    *     normalize+blank rule as [[boilerplateLines]]) feed a
    *     [[graft.functions.FreqItemsSketch]] heavy-hitter aggregate on
    *     the 8-byte line hash. Fixed `maxMapSize` entries per
    *     partition, associative partial merge, one merged sketch — the
    *     unique-line tail never reaches a shuffle. NO_FALSE_NEGATIVES
    *     makes the candidate set a guaranteed SUPERSET of every line
    *     with true doc-frequency ≥ `minDocFreq`, PROVIDED the sketch's
    *     maximum error stays below the threshold — asserted loudly
    *     (raise `maxMapSize` when a corpus outgrows it), never a
    *     silent recall loss.
    *  2. verify: the ≤ maxMapSize candidates broadcast back and ONLY
    *     their lines take the exact count-distinct path.
    *
    * The composed result is therefore EXACT — byte-equal to
    * [[boilerplateLines]] (q_stopline_sketch proves it under the
    * verbatim stop-line oracle) — with memory and shuffle bytes
    * independent of the distinct-line count.
    */
  def boilerplateLinesSketch(df: DataFrame, idCol: String, textCol: String,
      minDocFreq: Long = 2, maxMapSize: Int = 1 << 14): DataFrame = {
    require(minDocFreq >= 1, s"boilerplateLinesSketch: minDocFreq=$minDocFreq")
    require(maxMapSize >= 8 && (maxMapSize & (maxMapSize - 1)) == 0,
      s"boilerplateLinesSketch: maxMapSize must be a power of 2 >= 8, got $maxMapSize")
    // per-doc distinct keys, narrowly: same element-wise normalize+blank
    // rule as normLines, then array_distinct inside the row — no wide
    // (id, key) distinct is ever needed for CANDIDATE generation
    val docKeys = df.select(explode(array_distinct(
      filter(transform(split(col(textCol), "\n"), l => lower(trim(l))),
        k => length(k) > 0))).as("key"))
    val arr = docKeys
      .agg(graft.functions.FreqItemsSketch.freqItems(
        xxhash64(col("key")), minDocFreq, maxMapSize).as("hh"))
      .head().getSeq[org.apache.spark.sql.Row](0)
    // POSITIONAL sentinel contract: eval appends the error-accounting
    // row LAST — matching on the item value would mis-classify a real
    // heavy hitter whose hash happens to equal the sentinel marker
    val sentinel = arr.last
    val items = arr.init
    val maxError = sentinel.getLong(1)
    require(maxError < minDocFreq,
      s"boilerplateLinesSketch: sketch maximum error $maxError >= " +
        s"minDocFreq $minDocFreq — the no-false-negative guarantee is " +
        s"vacuous at this size; raise maxMapSize (now $maxMapSize)")
    val spark = df.sparkSession
    import spark.implicits._
    val cands = broadcast(items.map(_.getLong(0)).toDF("kh"))
    normLines(df, idCol, textCol)
      .join(cands, xxhash64(col("key")) === col("kh"), "left_semi")
      .groupBy("key").agg(count_distinct(col("id")).as("doc_freq"))
      .filter(col("doc_freq") >= minDocFreq)
  }

  /** [[boilerplateLines]] with 8-byte xxhash64 line keys — the
    * cross-epoch streaming-store form (state never holds text; 16
    * bytes per distinct line). Output: (kh, n).
    */
  def boilerplateLinesHashed(df: DataFrame, idCol: String, textCol: String,
      minDocFreq: Long = 2): DataFrame =
    normLines(df, idCol, textCol)
      .groupBy(xxhash64(col("key")).as("kh"))
      .agg(count_distinct(col("id")).as("n"))
      .filter(col("n") >= minDocFreq)

  /** Shared (id, key) projection of both mines: one normalization +
    * blank rule, so the text-keyed and hashed-store forms can never
    * silently diverge.
    */
  private def normLines(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        explode(split(col(textCol), "\n")).as("line"))
      .select(col("id"), lower(trim(col("line"))).as("key"))
      .filter(length(col("key")) > 0)

  /** Stop-line filter — the consumer of [[boilerplateLines]] (or any
    * curated list): every line whose normalized form appears in
    * `stopLines` (first column, normalized on entry) is removed from
    * EVERY document, and each document's text is rebuilt from its kept
    * lines in original order. Unlike [[lineDedup]] no copy is kept —
    * a mined stop line is boilerplate everywhere, which is exactly the
    * pre-filter lineDedup wants upstream in a boilerplate-dominated
    * corpus. A document whose every line is a stop line disappears.
    * Output: (id, n_lines, n_kept, clean_text).
    *
    * Scale shape: the stop list is top-k-mined or curated — small by
    * construction — so it broadcasts and the filter is a map-side
    * anti-join; no shuffle touches the line key at all. The rebuild
    * groups on the doc id (bounded groups).
    */
  def stopLineFilter(df: DataFrame, idCol: String, textCol: String,
      stopLines: DataFrame): DataFrame =
    stopLineFilterHashed(df, idCol, textCol,
      stopLines
        .select(lower(trim(col(stopLines.columns.head))).as("key"))
        .filter(length(col("key")) > 0).distinct()
        .select(xxhash64(col("key")).as("kh")))

  /** [[stopLineFilter]] keyed on 8-byte xxhash64(normalized line)
    * values (first column of `stopHashes`) — the form the streaming
    * store feeds directly, and the internal spelling of the text
    * entry point (the anti-probe broadcasts 8-byte keys instead of
    * line text; a 64-bit collision admitting a stray removal is the
    * same astronomically-unlikely trade every hashed dedup key here
    * makes). Blank lines never match: the mine never emits a blank
    * key, so the blank hash is never in the stop set.
    */
  def stopLineFilterHashed(df: DataFrame, idCol: String, textCol: String,
      stopHashes: DataFrame): DataFrame = {
    val stops = broadcast(stopHashes
      .select(col(stopHashes.columns.head).as("__kh")).distinct())
    val lines = df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("__kh", xxhash64(lower(trim(col("line")))))
      .localCheckpoint(false)
    val docSizes = lines.groupBy("id").agg(count(lit(1)).as("n_lines"))
    lines.join(stops, Seq("__kh"), "left_anti")
      .groupBy("id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws("\n",
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x.getField("line"))).as("clean_text"))
      .join(docSizes, "id")
      .select(col("id"), col("n_lines"), col("n_kept"), col("clean_text"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication that bounds the quadratic cosine comparison INSIDE
    * k-means clusters. Vectors are assigned to `nClusters` cells
    * ([[IvfSearch.trainCentroids]], the deterministic trainer the IVF
    * index family already uses); candidate pairs are the within-cell
    * pairs at `threshold`; each near-dup component keeps its minimum id
    * ([[clusterLabels]] closure, so chains dedup transitively).
    *
    * Returns survivors (id, cell). Work scales with sum(cell_i²), never
    * |D|²: at 100 TB, nClusters grows with the corpus so cells stay
    * bounded — the executable rule is [[suggestedClusters]]
    * (`ceil(|D| / targetCell)`), asserted in DedupSpec rather than left
    * as prose — and the pairwise step is an equi-join on the cell id
    * (one shuffle of slim rows) — the published recipe for
    * embedding-level dedup at web scale.
    *
    * Cells are additionally HARD-BOUNDED at `maxCell` members: k-means
    * puts no ceiling on a cell, and one dense region (near-identical
    * boilerplate embeddings — the exact thing a dedup corpus is full
    * of) would otherwise make the within-cell join quadratic. Oversized
    * cells are recursively re-clustered (the Abbas '23 recipe) by
    * [[assignCellsBounded]]; a cell still oversized after `maxDepth`
    * rounds — only possible when the vectors are genuinely
    * (near-)identical, which no clustering can split — is processed
    * anyway with a surfaced warning, since silently skipping the
    * densest region is the one failure a dedup pipeline must not have.
    */
  /** The [[semDedup]] nClusters scaling rule, executable: enough cells
    * that the MEAN cell holds ~`targetCell` vectors (`ceil(n /
    * targetCell)`), so within-cell pair work stays ~`n · targetCell`
    * (linear in the corpus for a fixed target) and the `maxCell` hard
    * cap only fires on genuinely dense regions, not on average-sized
    * cells. `targetCell` should sit well under `maxCell` (the default
    * pairs 2048 with the 8192 cap — 4× headroom before re-clustering).
    * Clamped to [1, 2^20]: beyond ~1M centroids the assignment scan
    * itself (n · k distance evaluations) dominates and a coarse-first
    * hierarchical pass is the right tool instead.
    */
  def suggestedClusters(n: Long, targetCell: Int = 2048): Int = {
    require(targetCell > 0, s"targetCell must be positive, got $targetCell")
    // ceil without the (n + target - 1) overflow at Long.MaxValue
    val ceil = n / targetCell + (if (n % targetCell > 0) 1L else 0L)
    math.min(1L << 20, math.max(1L, ceil)).toInt
  }

  def semDedup(df: DataFrame, idCol: String, vecCol: String,
      nClusters: Int, threshold: Double, iters: Int = 3,
      dim: Int = 64, maxCell: Int = 8192): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    // every round inside assignCellsBounded is already checkpointed, so
    // both sides of the pair join read cached blocks — a second
    // checkpoint here would double-materialize the widest rows in the
    // system (id, vector, cell) for no sharing gain
    val celled = assignCellsBounded(base, nClusters, iters, dim, maxCell)
    val l = celled.select(col("cell"), col("id").as("id1"), col("v").as("v1"))
    val r = celled.select(col("cell"), col("id").as("id2"), col("v").as("v2"))
    val pairs = l.join(r, Seq("cell"))
      .filter(col("id1") < col("id2"))
      .filter(VectorFunctions.cosine_similarity(col("v1"), col("v2")) >= threshold)
      .select("id1", "id2")
    val removed = clusterLabels(pairs)
      .filter(col("id") =!= col("label")).select("id")
    celled.select("id", "cell").join(removed, Seq("id"), "left_anti")
  }

  /** K-means cell assignment with a hard per-cell size bound: round r
    * trains [[IvfSearch.trainCentroids]] over the rows still unbounded,
    * labels them `r*nClusters + local` (rounds never collide, and round
    * 0 with no oversized cell emits the plain 0..nClusters-1 labels),
    * keeps the cells at or under `maxCell`, and re-clusters the members
    * of oversized cells in the next round — dense regions get their own
    * centroids and split. The recursion is bounded at `maxDepth`; the
    * one population that can survive it is (near-)identical vectors,
    * which NO partitioning can separate — those keep their last cells
    * and a warning names the residual cell sizes. Each round is one
    * train + one size aggregate over only the still-oversized subset,
    * so the extra cost is proportional to the dense mass, not the
    * corpus.
    */
  private def assignCellsBounded(base: DataFrame, nClusters: Int,
      iters: Int, dim: Int, maxCell: Int, maxDepth: Int = 3): DataFrame = {
    require(maxCell > 0, s"maxCell must be positive, got $maxCell")
    var pending = base
    var depth = 0
    var parts = List.empty[DataFrame]
    var result: DataFrame = null
    while (result == null) {
      val centroids = IvfSearch.trainCentroids(pending, "v", "id",
        nClusters, iters, dim)
      val celled = pending
        .withColumn("cell",
          IvfSearch.nearestCell(centroids)(col("v")) + lit(depth * nClusters))
        // sizes pass + the split below both read this round's assignment
        .localCheckpoint()
      val over = celled.groupBy("cell").agg(count(lit(1)).as("__n"))
        .filter(col("__n") > maxCell)
        .collect().map(r => r.getInt(0) -> r.getLong(1))
      if (over.isEmpty)
        result = (celled :: parts).reduce(_ unionByName _)
      else if (depth == maxDepth - 1) {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"semDedup: ${over.length} cell(s) still over maxCell=$maxCell " +
            s"after $maxDepth re-cluster rounds (sizes: " +
            s"${over.map(_._2).sorted.reverse.take(5).mkString(", ")}) — " +
            "members are near-identical; processing the quadratic cell(s)")
        result = (celled :: parts).reduce(_ unionByName _)
      } else {
        val overIds = over.map(_._1).toSeq
        parts ::= celled.filter(!col("cell").isin(overIds: _*))
        pending = celled.filter(col("cell").isin(overIds: _*)).select("id", "v")
        depth += 1
      }
    }
    result
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS algorithm): over the normalized character
    * stream (lowercased, non-alphanumerics stripped), every `w`-window
    * of character `k`-grams contributes its MINIMUM gram, ties broken
    * by LEFTMOST position. The classic guarantees hold for any fixed
    * total order on grams; this implementation orders grams
    * LEXICOGRAPHICALLY (instead of by a hash) so a SQL oracle replays
    * the selection exactly — encode each gram as `gram ++ zero-padded
    * position` (grams are fixed-length, so string order == (gram, pos)
    * order) and take the plain `min` over the window frame:
    *  - any shared substring of length ≥ w + k − 1 yields a shared
    *    fingerprint (the matching guarantee);
    *  - consecutive selected positions gap by ≤ w (the density bound).
    *
    * Output: (id, pos [1-based in the normalized stream], gram),
    * distinct per document.
    *
    * Scale shape: one narrow gram explode, one window partitioned by
    * DOCUMENT id (bounded by document length — not a Zipf content
    * key), one distinct. Fingerprint count ≈ 2·len/w per doc.
    */
  def winnow(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4): DataFrame = {
    require(k > 0, s"winnow: k=$k")
    require(w > 0, s"winnow: w=$w")
    val gramsDf = df
      .select(col(idCol).as("id"),
        regexp_replace(lower(col(textCol)), "[^a-z0-9]", "").as("__s"))
      .filter(length(col("__s")) >= k + w - 1)
      .select(col("id"), col("__s"), expr(
        s"posexplode(transform(sequence(1, length(__s) - ${k - 1}), " +
          s"i -> substring(__s, i, $k)))").as(Seq("__p0", "gram")))
      .select(col("id"), (col("__p0") + 1).as("pos"), col("gram"),
        (length(col("__s")) - (k - 1)).as("__ngrams"))
    // sortable (gram, pos) encoding: fixed-length grams ++ 10-digit pos
    val enc = concat(col("gram"), lpad(col("pos").cast("string"), 10, "0"))
    val win = Window.partitionBy("id").orderBy("pos")
      .rowsBetween(0, w - 1)
    gramsDf
      .withColumn("__win_min", min(enc).over(win))
      // only FULL windows select (window starts 1 .. ngrams - w + 1)
      .filter(col("pos") <= col("__ngrams") - (w - 1))
      .select(col("id"), col("__win_min")).distinct()
      .select(col("id"),
        substring(col("__win_min"), k + 1, 10).cast("long").as("pos"),
        substring(col("__win_min"), 1, k).as("gram"))
  }

  /** Near-dup candidate pairs from shared [[winnow]] fingerprints — the
    * MOSS matching step: documents pair when they share at least
    * `minShared` fingerprint GRAMS, with grams held by more than
    * `maxBucket` documents dropped first (corpus-wide boilerplate grams
    * would otherwise quadratically pair everything — the
    * [[minhashDups]] `maxBucket` rule; the drop is deterministic, so
    * the SQL oracle replays it). Output: (id1 < id2, n_shared).
    *
    * Scale shape: fingerprints ≈ 2·len/w per doc; the pair join runs
    * on the CAPPED gram buckets only, so work ∝ Σ bucket² bounded by
    * maxBucket² per gram.
    */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4, minShared: Int = 2,
      maxBucket: Int = 20): DataFrame = {
    require(minShared > 0, s"winnowPairs: minShared=$minShared")
    require(maxBucket > 1, s"winnowPairs: maxBucket=$maxBucket")
    val fp = winnow(df, idCol, textCol, k, w).select("id", "gram").distinct()
    val sized = fp.groupBy("gram").agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucket).select("gram")
    val kept = fp.join(sized, "gram")
    val a = kept.select(col("gram"), col("id").as("id1"))
    val b = kept.select(col("gram"), col("id").as("id2"))
    a.join(b, Seq("gram"))
      .filter(col("id1") < col("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
