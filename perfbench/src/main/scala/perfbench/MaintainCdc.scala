package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sql.GraftSql
import graft.sources.TopicCatalog

/** `maintain_cdc`: a curated document corpus (see [[Curation]]) is
  * registered under ivf with a lexical index, cdc=true, and kept current
  * by run-forever MAINTAIN SEARCH CORPUS streams (the vector store's and
  * the lexical index's) over one keyed change topic. Changes arrive in
  * batches: upserts, deletes and inserts, with Zipf-skewed keys so hot
  * documents are rewritten and tombstoned again and again. One serve runs
  * between batches, cycling through FEDERATED, FILTERED (a payload
  * predicate admitting 1/[[Tags]]) and HYBRID searches, and every
  * [[CompactEvery]] batches COMPACT SEARCH CORPUS runs. Reads and writes
  * share the stores, so a read gain paid for in writes or space shows here.
  *
  * Only traced runs (and the self-test) run the curation job; the others
  * register its known survivors directly, so their set-up is the
  * registration and store builds alone. Set-up ends with one untimed
  * batch and serve, so the first timed batch does not run on cold code.
  */
final class MaintainCdc(ctx: Ctx) extends Workload {
  import MaintainCdc._
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private val batchChanges = ctx.size(20, 100)
  private val queries = ctx.size(8, 16)
  private val curation = new Curation(ctx)
  private val rng = new Random(ctx.seed)
  private val centres = Gen.centres(rng, 16, 64)
  private val queryVecs = Array.fill(queries)(Gen.clustered(rng, centres, 0.4))
  private val queryTexts = Array.fill(queries)(Seq.fill(2)(curation.vocab(rng.nextInt(curation.vocab.size))).mkString(" "))
  /** Zipf rank -> key over the curated corpus, so the hot keys are spread out. */
  private var hotKeys = Vector.empty[Long]
  private var zipf: Gen.Zipf = _

  /** The benchmark's own model of the surviving corpus: content -> (vector, tag). */
  private val live = mutable.Map.empty[String, (Array[Float], Int)]
  private var nextKey = FreshKeys
  private var seq = 0L
  private var batch = 0

  private var g: GraftSql = _
  private var topicRoot: String = _
  private val drainMs = mutable.Map.empty[String, ArrayBuffer[Double]]
  private val compactMs = mutable.Map.empty[String, ArrayBuffer[Double]]
  private val compactFiles = mutable.Map.empty[String, (Double, Double)]
  private val serveMs = mutable.Map.empty[String, ArrayBuffer[Double]]
  /** Maintenance streams of the current phase: (label, query, last batch id before the phase). */
  private val maintained = ArrayBuffer.empty[(String, StreamingQuery, Long)]
  private var running = Seq.empty[(String, StreamingQuery)]
  private val serveFailures = ArrayBuffer.empty[String]

  /** A key's content: a curated document, or a new one for an inserted key. */
  private def content(key: Long): String =
    curation.text.getOrElse(key, Gen.document(new Random(key), curation.vocab, 50))

  def setup(): Unit = {
    val corpusKeys = (if (ctx.curate) curation.run() else curation.expected).toVector.sorted
    hotKeys = new Random(ctx.seed + 1).shuffle(corpusKeys)
    zipf = new Gen.Zipf(corpusKeys.size, ZipfS)
    topicRoot = ctx.freshDir("topics")
    g = new GraftSql(spark, new TopicCatalog(spark, topicRoot))
    live.clear()
    val r = new Random(ctx.seed + 2)
    corpusKeys.foreach(k => live(content(k)) = (Gen.clustered(r, centres, 0.4), r.nextInt(Tags)))
    val corpus = spark.createDataFrame(live.toSeq.map { case (c, (v, t)) => (c, v, t) })
      .toDF("content", "vector", "tag")
    Regs.foreach { case (fam, name) =>
      tr.span(s"sql.register.$fam") {
        g.registerSearchCorpus(name, corpus, "content", "vector", maxRows = 0,
          numCandidates = 10000, indexType = fam, lexicalIndex = fam == "ivf", cdc = true)
      }
    }
    tr.span("sql.execute")(g.execute(
      """CREATE TABLE `cdc_changes` (
    `content` STRING, `vector` ARRAY<FLOAT>, `tag` INT, `seq` BIGINT
) WITH ('value.format' = 'json-registry');"""))
    spark.createDataFrame(queryVecs.indices.map(i => (i.toLong, queryVecs(i), queryTexts(i))))
      .toDF("qid", "qv", "qtext").createOrReplaceTempView(Queries)
    // the first serve per registration builds its store (the hybrid
    // serve builds the lexical one)
    Regs.foreach { case (fam, name) =>
      tr.span(s"sql.store_build.$fam")(federated(name).collect())
    }
    tr.span("sql.store_build.lex")(hybrid().collect())
    // run-forever maintenance, as the reference runs its statements
    tr.span("sql.execute")(g.execute("SET 'execution.trigger' = '0 seconds'"))
    startMaintenance()
    val warm = produceAndDrain(nextBatch())
    require(warm.isEmpty, s"the warm-up batch failed: ${warm.mkString("; ")}")
    serveAndCheck(ServeMix.head, "warm")
  }

  private def federated(name: String) = tr.span("sql.execute")(g.execute(
    s"SELECT qid, search_results FROM $Queries, LATERAL TABLE(FEDERATED_SEARCH('$name', 3, qv))"))
  private def filtered(name: String) = tr.span("sql.execute")(g.execute(
    s"SELECT qid, search_results FROM $Queries, " +
      s"LATERAL TABLE(FILTERED_SEARCH('$name', 3, qv, 'tag = 0'))"))
  private def hybrid() = tr.span("sql.execute")(g.execute(
    s"SELECT qid, search_results FROM $Queries, " +
      s"LATERAL TABLE(HYBRID_SEARCH('cdc_ivf', 3, qv, qtext))"))

  /** The next batch of changes as topic records, applied to the model. */
  private def nextBatch(): Seq[String] = (0 until batchChanges).map { _ =>
    seq += 1
    val u = rng.nextDouble()
    val key = if (u < InsertShare) { nextKey += 1; nextKey - 1 } else hotKeys(zipf.sample(rng))
    val c = content(key)
    if (u >= InsertShare && u < InsertShare + DeleteShare) {
      live.remove(c)
      s"""{"content":${Json.str(c)},"vector":null,"tag":null,"seq":$seq}"""
    } else {
      val v = Gen.clustered(rng, centres, 0.4)
      val t = rng.nextInt(Tags)
      live(c) = (v, t)
      s"""{"content":${Json.str(c)},"vector":[${v.mkString(",")}],"tag":$t,"seq":$seq}"""
    }
  }

  /** Starts the run-forever MAINTAIN streams of every registration. */
  private def startMaintenance(): Unit = {
    running = Regs.flatMap { case (fam, name) =>
      val before = g.activeStreams.toSet
      tr.span("sql.execute")(g.execute(s"MAINTAIN SEARCH CORPUS $name FROM TOPIC cdc_changes SEQ seq"))
      g.activeStreams.filterNot(before).zip(Seq(fam, "lex")).map { case (q, label) => label -> q }
    }
    maintained ++= running.map { case (l, q) => (l, q, -1L) }
  }

  private def stopMaintenance(): Unit = { running.foreach(_._2.stop()); running = Nil }

  /** Rows the stream has read so far, by its progress reports. */
  private def rowsRead(q: StreamingQuery): Long =
    q.recentProgress.groupBy(_.batchId).values.map(_.map(_.numInputRows).max).sum

  /** Produces `recs` and waits until every stream has committed them;
    * returns the failures and records each stream's drain time.
    */
  private def produceAndDrain(recs: Seq[String]): Seq[String] = {
    val marks = running.map { case (l, q) => l -> rowsRead(q) }.toMap
    val t0 = System.nanoTime()
    tr.span("sources.produce")(g.topics.produceJson("cdc_changes", recs))
    val doneAt = mutable.Map.empty[String, Long]
    val until = t0 + DrainDeadlineNs
    while (doneAt.size < running.size && System.nanoTime() < until && running.forall(_._2.isActive)) {
      running.foreach { case (l, q) =>
        if (!doneAt.contains(l) && rowsRead(q) - marks(l) >= recs.size) doneAt(l) = System.nanoTime() }
      if (doneAt.size < running.size) Thread.sleep(2)
    }
    doneAt.foreach { case (l, t) => drainMs.getOrElseUpdate(l, ArrayBuffer.empty) += (t - t0) / 1e6 }
    running.flatMap { case (l, q) =>
      q.exception.map(e => s"maintain $l failed: ${e.getMessage}")
        .orElse(if (doneAt.contains(l)) None else Some(s"maintain $l missed its drain deadline"))
    }
  }

  /** COMPACT SEARCH CORPUS on every registration: the streams stop for
    * it and start again after, from their checkpoints.
    */
  private def compactAll(): Unit = {
    stopMaintenance()
    Regs.foreach { case (fam, name) =>
      val (msg, ms) = Workload.timedMs(tr.span(s"maintenance.compact.$fam")(
        g.execute(s"COMPACT SEARCH CORPUS $name").head().getString(0)))
      compactMs.getOrElseUpdate(fam, ArrayBuffer.empty) += ms
      CompactedRe.findAllMatchIn(msg).foreach(m =>
        compactFiles(m.group(1)) = (m.group(2).toDouble, m.group(3).toDouble))
    }
    startMaintenance()
  }

  def measure(seconds: Double, ph: Phase, whole: Boolean): Unit = {
    Seq(drainMs, compactMs, serveMs).foreach(_.clear())
    maintained.clear()
    maintained ++= running.map { case (l, q) => (l, q, Option(q.lastProgress).map(_.batchId).getOrElse(-1L)) }
    // a fixed number of whole compaction cycles (finishing the current
    // one), so the host's speed cannot change the work or the mix of
    // drains and compactions a phase measures; or a single batch
    val cycles = math.max(1L, math.round(seconds / CycleSeconds))
    val end = if (whole) (batch / CompactEvery + cycles) * CompactEvery else batch + 1L
    while (batch < end) {
      tr.request(s"batch-$batch") {
        val recs = nextBatch()
        val t0 = System.nanoTime()
        val failures = tr.span("maintenance.drain")(produceAndDrain(recs))
        // the latency is the drain alone, the same work in every batch; the
        // serves differ by kind, so their time counts in the throughput
        val drained = (System.nanoTime() - t0) / 1e6
        ph.sameOpMs += drained
        ph.latencyMs += drained
        // then one search, whose answer must reflect the batch: kinds and
        // families follow a fixed sequence, so every run serves the same
        // mix, and the vector serves must equal the model's exact top-3
        serveAndCheck(ServeMix(batch % ServeMix.size), batch.toString)
        if ((batch + 1) % CompactEvery == 0) compactAll()
        ph.items += recs.size
        ph.busySec += (System.nanoTime() - t0) / 1e9
        ph.requests += 1
        ph.attempted += 1
        if (failures.nonEmpty) { ph.failed += 1; failures.foreach(f => System.err.println(s"[perfbench] $f")) }
      }
      batch += 1
    }
  }

  /** One serve between batches, of `kind` on the `fam` registration, after
    * batch `at`; a vector serve must equal the model's exact top-3.
    */
  private def serveAndCheck(kindAndFam: (String, String), at: String): Unit = {
    val (kind, fam) = kindAndFam
    val name = s"cdc_$fam"
    val label = if (kind == "HYBRID") "hybrid" else fam
    val (serve, want) = kind match {
      case "FEDERATED" => (() => federated(name), Some(() => exact(_ => true)))
      case "FILTERED" => (() => filtered(name), Some(() => exact(_ == 0)))
      case _ => (() => hybrid(), None)
    }
    val (got, ms) = Workload.timedMs(tr.request(s"serve-$label-$at")(
      tr.span(s"operators.$label")(served(serve()))))
    serveMs.getOrElseUpdate(label, ArrayBuffer.empty) += ms
    want.foreach(w => serveFailures ++= Checks.sameResults(
      s"batch $at ${kind}_SEARCH on $fam vs the model's exact top-3", got, w()))
  }

  /** Exact top-3 by dot product over the model's surviving corpus. */
  private def exact(admit: Int => Boolean): Map[Long, Seq[String]] = {
    val rows = live.toSeq.filter { case (_, (_, t)) => admit(t) }
    queryVecs.indices.map { q =>
      val v = queryVecs(q)
      q.toLong -> rows.map { case (c, (w, _)) =>
        (c, v.indices.foldLeft(0.0f)((s, j) => s + v(j) * w(j)))
      }.sortBy { case (c, s) => (-s, c) }.take(3).map(_._1)
    }.toMap
  }

  private def served(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[String]] =
    df.select(col("qid"), col("search_results.content")).collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[String](1)).getOrElse(Nil)).toMap

  /** The curation's survivors, the serves checked between batches (before
    * compaction), and a final FEDERATED serve per registration against the
    * model after a compaction.
    */
  def check(): Checked = {
    if (batch % CompactEvery != 0) compactAll()
    stopMaintenance()
    val all = exact(_ => true)
    val after = Regs.map { case (fam, name) => fam -> served(federated(name)) }
    val failures = (if (ctx.curate) curation.check() else Nil) ++ serveFailures.toSeq ++
      after.flatMap { case (f, got) => Checks.sameResults(s"compacted $f FEDERATED_SEARCH vs the model's exact top-3", got, all) }
    val bytes = StorePrefixes.map(p => Workload.storeUsage(p)._1).sum
    Checked(failures, checks = 3 + (if (ctx.curate) 1 else 0) + Regs.size, after.map { case (_, got) => Checks.recall(got, all) }.min,
      bytes.toDouble / math.max(1, live.size))
  }

  /** Applies `recs` to the stores only: the model never sees them. */
  private def unseenChanges(recs: Seq[String]): Unit = {
    startMaintenance()
    produceAndDrain(recs)
    stopMaintenance()
  }

  def corruptions: Seq[Corruption] = Seq(
    Corruption("a planted duplicate in the curated corpus", "planted duplicate",
      () => curation.corrupt()),
    Corruption("a tag change the model never saw, then a FILTERED serve", "FILTERED_SEARCH", { () =>
      val victim = exact(_ == 0)(0L).head
      seq += 1
      unseenChanges(Seq(s"""{"content":${Json.str(victim)},"vector":[${live(victim)._1.mkString(",")}],""" +
        s""""tag":1,"seq":$seq}"""))
      serveAndCheck("FILTERED" -> "ivf", "corrupt")
    }),
    Corruption("a delete the model never saw", "compacted", { () =>
      val victim = exact(_ => true)(0L).head
      seq += 1
      unseenChanges(Seq(s"""{"content":${Json.str(victim)},"vector":null,"tag":null,"seq":$seq}"""))
    }))

  def teardown(): Unit = {
    stopMaintenance()
    Regs.foreach { case (_, name) =>
      g.releaseCorpusWriterClaims(name)
      g.execute(s"DROP SEARCH CORPUS $name").collect()
    }
    spark.catalog.dropTempView(Queries)
    Workload.deleteRecursively(new java.io.File(topicRoot))
    curation.delete()
  }

  def layerMetrics: Map[String, Double] = {
    val byLabel = maintained.groupBy(_._1).view.mapValues(_.flatMap { case (_, q, from) =>
      StreamProgress.since(q, from) }.toSeq).toMap
    val fams = Regs.map(_._1) :+ "lex"
    fams.flatMap { f =>
      val (bytes, files) = Workload.storeUsage(s"graft_sql_${f}_")
      StreamProgress.metrics(s"streaming.maintain.$f", byLabel.getOrElse(f, Nil)) ++ Map(
        s"maintenance.$f.drain_ms" -> Stats.mean(drainMs.getOrElse(f, Nil).toSeq),
        s"maintenance.$f.files_before" -> compactFiles.get(f).map(_._1).getOrElse(0.0),
        s"maintenance.$f.files_after" -> compactFiles.get(f).map(_._2).getOrElse(0.0),
        s"maintenance.$f.store_bytes" -> bytes.toDouble,
        s"maintenance.$f.store_files" -> files.toDouble)
    }.toMap ++ Regs.map { case (f, _) => s"maintenance.$f.compact_ms" -> Stats.mean(compactMs.getOrElse(f, Nil).toSeq) } ++
      (Regs.map(_._1) :+ "hybrid").flatMap { f =>
        val scanned = tr.counts.toSeq.flatMap(_.snapshot).collect {
          case (k, c) if k.startsWith(s"serve-$f-") => c.inputRecords }.sum
        val serves = serveMs.getOrElse(f, Nil).size
        Seq(s"operators.$f.serve_ms" -> Stats.mean(serveMs.getOrElse(f, Nil).toSeq),
          s"operators.$f.rows_scanned_per_question" ->
            (if (serves == 0) 0.0 else scanned.toDouble / (serves * queries)))
      } ++
      Map("tables.scan_partitions" -> curation.scanPartitions, "sources.topic_files" -> Option(new java.io.File(topicRoot, "cdc_changes").list())
        .map(_.count(_.startsWith("produce-")).toDouble).getOrElse(0.0))
  }
}

object MaintainCdc {
  val Regs: Seq[(String, String)] = Metrics.CdcFamilies.map(f => f -> s"cdc_$f")
  val StorePrefixes: Seq[String] = (Regs.map(_._1) :+ "lex").map(f => s"graft_sql_${f}_")
  val Queries = "cdc_queries"
  /** Mutation mix: the rest of the changes are upserts of existing keys. */
  val InsertShare = 0.2
  val DeleteShare = 0.2
  val ZipfS = 1.1
  /** Tags are uniform over 0 until Tags; the filter `tag = 0` admits 1/Tags. */
  val Tags = 4
  val CompactEvery = 3
  /** Roughly what one compaction cycle takes on a 4-core host: a measured
    * phase of `seconds` runs `seconds / CycleSeconds` cycles, at least one.
    */
  val CycleSeconds = 20.0
  /** The serve after each batch, in order: (kind, family); one of each per
    * compaction cycle.
    */
  val ServeMix: Seq[(String, String)] = Seq("FEDERATED" -> "ivf", "FILTERED" -> "ivf", "HYBRID" -> "ivf")
  /** Keys of inserted documents start here, above every curated document id. */
  val FreshKeys = 1000000L
  val DrainDeadlineNs = 30000000000L
  private val CompactedRe = """(\w+) (\d+)->(\d+) files""".r
}
