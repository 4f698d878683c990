package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators._
import graft.streaming.Streams

/** One seeded change history driven through [[Streams.cdcStream]] into
  * every [[MaintainedStore]] family: after each drain the store serves
  * exactly what an in-memory model of the surviving rows says, a
  * compaction in the middle and a forced replay of the last micro-batch
  * change nothing, and an unordered multi-change batch is refused.
  */
class MaintainedStoreSpec extends SparkSpec {

  private val Dim = 16
  private val Vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi")

  /** id → (vector, text); a change with no value deletes the id. */
  private type Model = Map[Long, (Array[Float], String)]
  private case class Change(id: Long, seq: Long, value: Option[(Array[Float], String)])

  private val recordSchema = StructType(Seq(
    StructField("id", LongType), StructField("seq", LongType),
    StructField("vec", ArrayType(FloatType)), StructField("text", StringType)))

  private def value(rnd: scala.util.Random): (Array[Float], String) =
    (Array.fill(Dim)(rnd.nextGaussian().toFloat),
      Seq.fill(4 + rnd.nextInt(6))(Vocab(rnd.nextInt(Vocab.size))).mkString(" "))

  private def records(changes: Seq[Change]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(changes.map { c =>
        Row(c.id, c.seq, c.value.map(_._1.toSeq).orNull, c.value.map(_._2).orNull)
      }, 1),
      recordSchema)

  /** The per-id latest change wins — the seqCol resolution rule. */
  private def applyTo(model: Model, changes: Seq[Change]): Model =
    changes.groupBy(_.id).values.map(_.maxBy(_.seq)).foldLeft(model) {
      case (m, Change(id, _, Some(v))) => m.updated(id, v)
      case (m, Change(id, _, None)) => m - id
    }

  /** Batches of 10 changes, 60/20/20 upsert/delete/insert, with some ids
    * changed twice inside one batch (only seqCol orders them).
    */
  private def history(base: Model, batches: Int, seed: Int): Seq[Seq[Change]] = {
    val rnd = new scala.util.Random(seed)
    var next = base.keys.max + 1
    var seq = 0L
    var live = base.keys.toVector
    (1 to batches).map { _ =>
      val batch = (1 to 10).map { _ =>
        seq += 1
        val r = rnd.nextDouble()
        if (r < 0.2) { next += 1; Change(next - 1, seq, Some(value(rnd))) }
        else {
          val id = live(rnd.nextInt(live.size))
          Change(id, seq, if (r < 0.8) Some(value(rnd)) else None)
        }
      }
      live = (live ++ batch.map(_.id)).distinct
      batch
    }
  }

  private val queries: Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(99)
    (0L until 6L).map(q => q -> Array.fill(Dim)(rnd.nextGaussian().toFloat))
  }
  private val terms = Seq((0L, "alpha"), (0L, "beta"), (1L, "gamma"),
    (2L, "delta"), (2L, "xi"))

  /** A store family under test: how to build it from the base rows, which
    * columns its change records carry, and what it serves.
    */
  private case class Family(name: String, store: MaintainedStore[_],
      valueCol: String, build: (DataFrame, String) => Unit,
      recordCols: Seq[org.apache.spark.sql.Column],
      serve: (String, Model) => Unit)

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private def qFrame: DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      queries.map { case (q, v) => Row(q, v.toSeq) }, 1),
      StructType(Seq(StructField("qid", LongType),
        StructField("qv", ArrayType(FloatType)))))

  /** Exact dot top-k over the model, as (query, [(id, score)]). */
  private def exactTopK(model: Model, k: Int): Map[Long, Seq[(Long, Double)]] =
    queries.map { case (q, v) =>
      q -> model.toSeq.map { case (id, (vec, _)) =>
        id -> VectorSearch.scoreF32("dot", v, vec) }
        .sortBy { case (id, s) => (-s, id) }.take(k)
    }.toMap

  private def assertServes(family: String, got: DataFrame, model: Model): Unit = {
    val served = got.select(col("qid").cast("long"), col("match_id").cast("long"),
        col("score").cast("double")).collect()
      .groupBy(_.getLong(0)).map { case (q, rows) =>
        q -> rows.toSeq.map(r => r.getLong(1) -> r.getDouble(2)).sortBy(-_._2) }
    val want = exactTopK(model, 5)
    queries.foreach { case (q, _) =>
      val g = served.getOrElse(q, Nil)
      assert(g.map(_._1) == want(q).map(_._1),
        s"$family query $q served ${g.map(_._1)}, model top-5 ${want(q).map(_._1)}")
      g.zip(want(q)).foreach { case ((_, a), (_, b)) =>
        assert(math.abs(a - b) < 1e-4, s"$family query $q score $a vs $b") }
    }
  }

  /** The live (tombstone-filtered) rows of a store dir, one per id. */
  private def liveRows(path: String, dir: String, vecCol: String): Map[Long, Seq[Float]] = {
    val rows = Tombstones.filterLive(spark, path,
        spark.read.parquet(s"$path/$dir"), "id", "epoch")
      .select(col("id").cast("long"), col(vecCol)).collect()
    assert(rows.map(_.getLong(0)).distinct.length == rows.length,
      s"$path/$dir holds more than one live row for some id")
    rows.map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
  }

  private def assertLive(family: String, live: Map[Long, Seq[Float]],
      model: Model): Unit = {
    assert(live.keySet == model.keySet,
      s"$family live ids differ: extra ${live.keySet -- model.keySet}, " +
        s"missing ${model.keySet -- live.keySet}")
    model.foreach { case (id, (v, _)) =>
      assert(live(id) == v.toSeq, s"$family id $id holds a stale vector") }
  }

  private def compressed(name: String, s: CompressedCelledStore[_],
      write: (DataFrame, String) => Unit) =
    Family(name, s, "vec", write,
      Seq(col("id"), col("seq"), col("vec"), col("vec").as("raw")),
      (path, model) => {
        val live = Tombstones.filterLive(spark, path,
          spark.read.parquet(s"$path/corpus"), "id", "epoch")
        assertLive(name, liveRows(path, "corpus", "raw"), model)
        assertServes(name, s.searchIndex(spark, path, qFrame, "qid", "qv",
          live, "id", "raw", k = 5, metric = "dot", nProbe = 4,
          numCandidates = 500), model)
      })

  private val families: Seq[Family] = Seq(
    Family("ivf", IvfSearch, "vec",
      (base, path) => IvfSearch.writeIndex(base, "id", "vec", path, nList = 4,
        dim = Dim),
      Seq(col("id"), col("seq"), col("vec")),
      (path, model) => {
        assertLive("ivf", liveRows(path, "corpus", "vec"), model)
        assertServes("ivf", IvfSearch.searchIndex(spark, path, qFrame, "qid",
          "qv", k = 5, metric = "dot", nProbe = 4), model)
      }),
    compressed("ivfpq", IvfPqIndex, (base, path) =>
      IvfPqIndex.writeIndex(base.withColumn("raw", col("vec")), "id", "vec",
        path, nList = 4, m = 4, kCodes = 8, dim = Dim, payload = Seq("raw"))),
    compressed("ivfsq", IvfSqIndex, (base, path) =>
      IvfSqIndex.writeIndex(base.withColumn("raw", col("vec")), "id", "vec",
        path, nList = 4, dim = Dim, payload = Seq("raw"))),
    Family("hnsw+docs", HnswSearch.WithDocs, "vec",
      (base, path) => {
        base.select(col("id"), col("vec"), lit(-1L).as("epoch"))
          .write.partitionBy("epoch").parquet(s"$path/corpus")
        HnswSearch.writeIndex(base, "id", "vec", path, nShards = 2)
      },
      Seq(col("id"), col("seq"), col("vec")),
      (path, model) => {
        assertLive("hnsw docs", liveRows(path, "corpus", "vec"), model)
        assertServes("hnsw", HnswSearch.searchIndex(spark, path, qFrame, "qid",
          "qv", k = 5, efSearch = 500), model)
      }),
    Family("lex", LexicalIndex, "text",
      (base, path) => LexicalIndex.writeIndex(base, "id", "text", path),
      Seq(col("id"), col("seq"), col("text")),
      (path, model) => {
        import spark.implicits._
        val t = terms.toDF("query_id", "term")
        def scores(df: DataFrame) = df.select("query_id", "match_id", "score")
          .as[(Long, Long, Double)].collect().toSet
        val docs = model.toSeq.map { case (id, (_, text)) => (id, text) }
          .toDF("id", "text")
        assert(scores(Lexical.bm25TopK(t, "query_id", "term", null, "id", "text",
            k = 1000, post = LexicalIndex.postings(spark, path),
            stats = LexicalIndex.corpusStats(spark, path))) ==
          scores(Lexical.bm25TopK(t, "query_id", "term", docs, "id", "text",
            k = 1000)), "lex BM25 serve diverges from the model corpus")
        assert(LexicalIndex.corpusStats(spark, path).select("n").as[Double]
          .head() == model.size.toDouble, "lex document count drifted")
      }))

  test("every maintained store tracks a seeded CDC history through cdcStream: " +
      "exact serves, mid-history compaction, idempotent replay, ambiguity refused") {
    val rnd = new scala.util.Random(2024)
    val base: Model = (0L until 32L).map(_ -> value(rnd)).toMap
    val batches = history(base, batches = 3, seed = 7)
    val baseRows = records(base.toSeq.map { case (id, v) => Change(id, 0L, Some(v)) })
      .drop("seq")
    val ambiguous = Some(value(rnd))
    // the families are independent stores with their own checkpoints:
    // run them side by side (each micro-batch is a few tiny jobs)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(families.size)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try families.map(f => scala.concurrent.Future {
      val path = tmp(s"graft_ms_${f.name}_idx")
      val src = tmp(s"graft_ms_${f.name}_src")
      val ckpt = tmp(s"graft_ms_${f.name}_ck")
      f.build(baseRows, path)
      def drain(seqCol: Option[String]) =
        Streams.cdcStream(f.store,
          Streams.fileStream(spark, src, recordSchema).select(f.recordCols: _*),
          "id", f.valueCol, path, ckpt, seqCol = seqCol, compactEvery = 2)
      var model = base
      batches.foreach { b =>
        records(b).write.mode("append").parquet(src)
        drain(Some("seq")).awaitTermination()
        model = applyTo(model, b)
        f.serve(path, model)
      }
      // forced replay of the last micro-batch (it ran the compaction
      // cadence too): drop its commit, restart the same checkpoint
      val last = batches.size - 1
      Seq(s"commits/$last", s"commits/.$last.crc").foreach { p =>
        Files.deleteIfExists(java.nio.file.Paths.get(ckpt, p)) }
      drain(Some("seq")).awaitTermination()
      f.serve(path, model)
      // without seqCol, two changes to one id in a batch are ambiguous
      val id = model.keys.min
      records(Seq(Change(id, 100L, None), Change(id, 101L, ambiguous)))
        .write.mode("append").parquet(src)
      val e = intercept[Exception](drain(None).awaitTermination())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(t => t.getMessage != null && t.getMessage.contains("seqCol")),
        s"${f.name}: ambiguous batch not refused: $e")
    }).foreach(scala.concurrent.Await.result(_, scala.concurrent.duration.Duration.Inf))
    finally pool.shutdown()
  }

  /** A base corpus wide enough to touch every lexical bucket and every
    * one of 16 cells, and 40 changes on it (upserts, deletes, inserts).
    */
  private def wideBase(rnd: scala.util.Random): Model = {
    val words = (0 until 400).map(i => s"w$i")
    (0L until 200L).map { id =>
      id -> (Array.fill(Dim)(rnd.nextGaussian().toFloat),
        Seq.fill(12)(words(rnd.nextInt(words.size))).mkString(" "))
    }.toMap
  }

  private def wideChanges(base: Model, from: Long, seq0: Long,
      rnd: scala.util.Random): Seq[Change] = (0 until 40).map { i =>
    val v = (Array.fill(Dim)(rnd.nextGaussian().toFloat),
      Seq.fill(12)(s"w${rnd.nextInt(400)}").mkString(" "))
    if (i % 5 == 0) Change(from + i, seq0 + i, Some(v))
    else Change(base.keys.toSeq.sorted.apply(rnd.nextInt(base.size)), seq0 + i,
      if (i % 5 == 1) None else Some(v))
  }

  test("a steady-state cdcStream micro-batch stays within its job budget, " +
      "and no job of it runs more tasks than the shuffle partitions") {
    val rnd = new scala.util.Random(31)
    val base = wideBase(rnd)
    val baseRows = records(base.toSeq.map { case (id, v) => Change(id, 0L, Some(v)) })
      .drop("seq")
    val ivf = tmp("graft_budget_ivf")
    val lex = tmp("graft_budget_lex")
    IvfSearch.writeIndex(baseRows, "id", "vec", ivf, nList = 16, dim = Dim)
    LexicalIndex.writeIndex(baseRows, "id", "text", lex)
    val src = tmp("graft_budget_src")
    // per job: (stream, batch) and tasks run
    val jobOf = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val tasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p =>
          Option(p.getProperty("streaming.sql.batchId")).map(b =>
            (p.getProperty("sql.streaming.queryId"), b.toLong)))
          .foreach { qb =>
            jobOf.put(js.jobId, qb)
            js.stageIds.foreach(stageJob.put(_, js.jobId))
          }
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(stageJob.get(te.stageId)).foreach(j => tasks.merge(j, 1, _ + _))
    }
    val streams = Seq(
      ("ivf", IvfSearch, "vec", Seq(col("id"), col("seq"), col("vec")), ivf, 11),
      ("lex", LexicalIndex, "text", Seq(col("id"), col("seq"), col("text")), lex, 16))
    val queryIds = scala.collection.mutable.Map.empty[String, String]
    spark.sparkContext.addSparkListener(listener)
    try {
      // the third batch is the steady state: the second compacted the
      // stores, sparing its own epoch, so tombstones and an append epoch
      // are in the stores (as between the compactions of a maintained
      // registration), and the code paths are warm
      (0 until 3).foreach { b =>
        records(wideChanges(base, 1000L + 100 * b, 100L * b, rnd))
          .write.mode("append").parquet(src)
        streams.foreach { case (name, store, valueCol, cols, path, _) =>
          val q = Streams.cdcStream(store,
            Streams.fileStream(spark, src, recordSchema).select(cols: _*),
            "id", valueCol, path, s"$path-ck", seqCol = Some("seq"),
            compactEvery = 2)
          q.awaitTermination()
          queryIds(name) = q.id.toString
        }
      }
      drainListenerBus()
    } finally spark.sparkContext.removeSparkListener(listener)
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    import scala.jdk.CollectionConverters._
    streams.foreach { case (name, _, _, _, _, budget) =>
      val jobs = jobOf.asScala.filter(_._2 == (queryIds(name), 2L)).keys.toSeq
      assert(jobs.nonEmpty, s"$name: no job of batch 2 seen")
      assert(jobs.size <= budget,
        s"$name: a steady-state micro-batch ran ${jobs.size} jobs (budget $budget)")
      jobs.foreach { j =>
        val n = tasks.getOrDefault(j, 0)
        assert(n <= shufflePartitions,
          s"$name: job $j ran $n tasks (> $shufflePartitions shuffle partitions) — " +
            "a parallel listing job is back")
      }
    }
  }

  test("epochWrite spreads a bucket/cell append over tasks: one data file " +
      "per touched partition dir per epoch, a replay replaces them, rows " +
      "and serves unchanged") {
    val rnd = new scala.util.Random(37)
    val base = wideBase(rnd)
    val rows = (m: Model) =>
      records(m.toSeq.map { case (id, v) => Change(id, 0L, Some(v)) }).drop("seq")
    val batch = rows((1000L until 1200L).map(_ -> value(rnd)).toMap
      .map { case (id, (v, _)) =>
        id -> (v, Seq.fill(12)(s"w${rnd.nextInt(400)}").mkString(" ")) })
    val ivf = tmp("graft_spread_ivf")
    val lex = tmp("graft_spread_lex")
    IvfSearch.writeIndex(rows(base), "id", "vec", ivf, nList = 16, dim = Dim)
    LexicalIndex.writeIndex(rows(base), "id", "text", lex)
    val epoch = 7L
    /** The epoch's data files, by partition dir. */
    def epochFiles(dir: String): Map[String, Seq[String]] = {
      val it = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration).listFiles(
        new org.apache.hadoop.fs.Path(dir), true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
        .filter(p => p.getName.endsWith(".parquet") &&
          p.getParent.getName == s"epoch=$epoch")
        .toSeq.groupBy(_.getParent.getParent.getName)
        .map { case (d, ps) => d -> ps.map(_.getName) }
    }
    def lexServe(): Set[(Long, Long, Double)] = {
      import spark.implicits._
      Lexical.bm25TopK(Seq((0L, "w1"), (0L, "w2"), (1L, "w3")).toDF("q", "term"),
          "q", "term", null, "id", "text", k = 50,
          post = LexicalIndex.postings(spark, lex),
          stats = LexicalIndex.corpusStats(spark, lex))
        .select(col("query_id").cast("long"), col("match_id").cast("long"), col("score"))
        .as[(Long, Long, Double)].collect().toSet
    }
    def ivfServe(): Set[(Long, Long, Double)] = {
      import spark.implicits._
      IvfSearch.searchIndex(spark, ivf, qFrame, "qid", "qv", k = 5,
          metric = "dot", nProbe = 16)
        .select(col("qid").cast("long"), col("match_id").cast("long"),
          col("score").cast("double"))
        .as[(Long, Long, Double)].collect().toSet
    }
    val stores = Seq[(String, String, String, () => Any)](
      ("lex", s"$lex/postings", "bucket",
        () => LexicalIndex.appendToIndex(batch, "id", "text", lex, epoch)),
      ("ivf", s"$ivf/corpus", "cell",
        () => IvfSearch.appendToIndex(batch, "id", "vec", ivf, epoch)))
    stores.foreach { case (name, dir, partCol, append) =>
      def count() = spark.read.parquet(dir).count()
      append()
      val first = epochFiles(dir)
      val touched = spark.read.parquet(dir).filter(col("epoch") === epoch)
        .select(partCol).distinct().count()
      assert(first.size == touched && touched >= 12,
        s"$name: ${first.size} partition dirs hold the epoch's files, " +
          s"$touched $partCol values hold its rows")
      assert(first.values.forall(_.size == 1),
        s"$name: a partition dir holds more than one file for the epoch: $first")
      // Spark names a file after its write task: more than one task wrote
      assert(first.values.flatten.map(_.split("-")(1)).toSet.size > 1,
        s"$name: one task wrote every partition dir")
      val (rowsBefore, serveBefore) =
        (count(), if (name == "lex") lexServe() else ivfServe())
      append() // an at-least-once replay of the same epoch
      val replayed = epochFiles(dir)
      assert(replayed.keySet == first.keySet && replayed.values.forall(_.size == 1),
        s"$name: the replay left $replayed")
      assert(replayed.values.flatten.toSet.intersect(first.values.flatten.toSet).isEmpty,
        s"$name: the replay did not replace the epoch's files")
      assert(count() == rowsBefore, s"$name: the replay changed the row count")
      assert((if (name == "lex") lexServe() else ivfServe()) == serveBefore,
        s"$name: the replay changed the serve")
    }
  }

  test("celled stores refuse wrong-width appends and queries, naming both widths") {
    val rnd = new scala.util.Random(5)
    def vecs(n: Int, dim: Int, from: Long) = spark.createDataFrame(
      spark.sparkContext.parallelize((0 until n).map(i =>
        Row(from + i, Seq.fill(dim)(rnd.nextGaussian().toFloat))), 1),
      StructType(Seq(StructField("id", LongType),
        StructField("vec", ArrayType(FloatType)))))
    val base = vecs(40, Dim, 0L)
    val narrow = vecs(3, Dim - 1, 100L)
    def refused(what: String)(body: => Any): Unit = {
      val e = intercept[Exception](body)
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .flatMap(t => Option(t.getMessage)).toSeq
      assert(msgs.exists(m => m.contains(s"${Dim - 1} dims") && m.contains(s"$Dim")),
        s"$what: no width message in ${msgs.mkString(" | ")}")
    }
    val stores: Seq[(String, String => Unit, String => Any)] = Seq(
      ("ivf", p => IvfSearch.writeIndex(base, "id", "vec", p, nList = 4, dim = Dim),
        p => IvfSearch.searchIndex(spark, p, narrow, "id", "vec", k = 3).collect()),
      ("ivfpq", p => IvfPqIndex.writeIndex(base, "id", "vec", p, nList = 4, m = 4,
          kCodes = 8, dim = Dim),
        p => IvfPqIndex.searchIndex(spark, p, narrow, "id", "vec", base, "id",
          "vec", k = 3).collect()),
      ("ivfsq", p => IvfSqIndex.writeIndex(base, "id", "vec", p, nList = 4, dim = Dim),
        p => IvfSqIndex.searchIndex(spark, p, narrow, "id", "vec", base, "id",
          "vec", k = 3).collect()))
    stores.foreach { case (name, build, search) =>
      val path = tmp(s"graft_width_$name")
      build(path)
      val store = celledStores(name)
      refused(s"$name append")(store.appendToIndex(narrow, "id", "vec", path))
      refused(s"$name search")(search(path))
    }
  }

  private val celledStores: Map[String, CelledStore] =
    Map("ivf" -> IvfSearch, "ivfpq" -> IvfPqIndex, "ivfsq" -> IvfSqIndex)
}
