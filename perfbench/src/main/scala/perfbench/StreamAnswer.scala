package perfbench

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.functions.HashEmbedder
import graft.sql.GraftSql
import graft.sources.TopicCatalog

/** Records when each answer becomes readable in the answer topic: it
  * lists the topic directory (the engine commits each micro-batch's
  * output as whole files) and stamps every session id on first sight.
  */
final class AnswerWatcher(dir: File) extends Thread("perfbench-answer-watcher") {
  setDaemon(true)
  val firstSeenNs = new ConcurrentHashMap[String, java.lang.Long]
  private val read = scala.collection.mutable.Set.empty[String]
  private val Sid = "\"sessionid\":\"([^\"]+)\"".r
  @volatile private var running = true

  override def run(): Unit =
    while (running) { scan(); LockSupport.parkNanos(5000000L) }

  private def scan(): Unit =
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && !read(f.getName)).foreach { f =>
        val now = System.nanoTime()
        read += f.getName
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().foreach(l =>
          Sid.findFirstMatchIn(l).foreach(m => firstSeenNs.putIfAbsent(m.group(1), now)))
        finally src.close()
      }

  def finish(): Unit = { running = false; join() }
}

/** `stream_answer`: the reference's perpetual pipeline under an open-loop
  * question stream. Questions go one record at a time into
  * `user_questions`; the reference's three INSERT statements run verbatim
  * as run-forever streams (embed, FEDERATED_SEARCH on an hnsw
  * registration with numCandidates 20, json_object + LLM answer) chained
  * through topics. Each micro-batch carries a few questions, so the fixed
  * per-batch cost dominates the answer latency.
  *
  * Each statement runs on its own facade over its own session (shared
  * SparkContext and topics), as each perpetual statement is its own job
  * in the reference. The client that produces questions and reads answers
  * is a fourth facade. Streams sharing one facade race on its temp-view
  * namespace: a stage's insert re-binds the view the next stage has just
  * shadowed with its micro-batch, and that stage then re-reads the whole
  * topic, answering questions twice.
  */
final class StreamAnswer(ctx: Ctx) extends Workload {
  import StreamAnswer._
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private val corpusRows = ctx.size(200, 2000)
  private val ratePerSec = ctx.rate
  /** After the open loop, closed-loop bursts: [[burstSize]] questions
    * produced at once, the next burst once the last is answered. The
    * median of their answers per second is the rate the engine sustains
    * with a backlog; the open loop before them has warmed the stages, and
    * the median discards a slow first burst. Traced runs send no bursts:
    * they feed only
    * `throughput_per_s`, and the per-layer figures describe the open loop.
    */
  private val burstSize = ctx.size(10, 50)
  private val bursts = if (ctx.traced) 0 else 4
  /** Questions sent at the same rate before the timed ones, so the timed
    * window does not start on cold code; they are answered and checked.
    * The per-batch cost falls for the first 10-15 s of the open loop as
    * the code warms (the median latency of 5-s windows fell from ~3.0 s
    * to ~2.2 s, then held), so the ramp outlasts that.
    */
  private val rampSeconds = 14.0
  private val deadlineMs = 15000.0

  private val corpusTexts = {
    val r = new Random(ctx.seed)
    (0 until corpusRows).map(Gen.product(r, _))
  }
  private val questionRng = new Random(ctx.seed * 31 + 7)

  /** The client facade, then one facade per statement. */
  private var g: GraftSql = _
  private var stages = Seq.empty[(SparkSession, GraftSql)]
  private var topicRoot: String = _
  private var streams = Seq.empty[(String, StreamingQuery)]
  private var watcher: AnswerWatcher = _
  private var nextQ = 0
  private val sent = ArrayBuffer.empty[String]
  private val lagMs = ArrayBuffer.empty[Double]
  private var progressFrom = Map.empty[String, Long]
  private var topicFiles = 0.0

  private def produce(questions: Seq[(String, String)]): Unit =
    tr.span("sources.produce") {
      g.topics.produceJson("user_questions", questions.map { case (sid, text) =>
        s"""{"role":"user","content":${Json.str(text)},"sessionid":"$sid"}""" })
    }

  private def produce(sid: String, text: String): Unit = produce(Seq(sid -> text))

  private def streamsFailed: Boolean = streams.exists(_._2.exception.nonEmpty)

  /** Waits until every id is answered, `untilNs` passes or a stream fails. */
  private def awaitAnswers(ids: Seq[String], untilNs: Long): Unit =
    while (ids.exists(id => !watcher.firstSeenNs.containsKey(id)) && System.nanoTime() < untilNs &&
        !streamsFailed)
      Thread.sleep(2)

  def setup(): Unit = {
    sent.clear()
    topicRoot = ctx.freshDir("topics")
    val ckpt = ctx.freshDir("checkpoints")
    def facade(s: SparkSession) = {
      val f = new GraftSql(s, new TopicCatalog(s, topicRoot))
      Ddl.foreach(d => tr.span("sql.execute")(f.execute(d)))
      f
    }
    g = facade(spark)
    stages = Statements.map { _ => val s = spark.newSession(); (s, facade(s)) }
    val (searchSession, search) = stages(1)
    val corpus = searchSession.createDataFrame(corpusTexts.map(Tuple1(_))).toDF("content")
      .select(col("content"),
        search.registry.mlPredict("vector_encoding", col("content")).as("vector"))
    tr.span("sql.register.hnsw") {
      search.registerSearchCorpus(Corpus, corpus, "content", "vector",
        maxRows = 0, numCandidates = 20, indexType = "hnsw")
    }
    // the first search against the registration builds its store
    tr.span("sql.store_build.hnsw") {
      searchSession.createDataFrame(Seq(Tuple1(HashEmbedder.embed("warm up", 64))))
        .toDF("vector").createOrReplaceTempView("perfbench_warm")
      ctx.drain(search.execute(s"SELECT search_results FROM perfbench_warm, " +
        s"LATERAL TABLE(FEDERATED_SEARCH('$Corpus', 3, vector))"))
    }
    streams = Statements.zip(stages).map { case ((label, stmt), (_, f)) =>
      label -> tr.span("sql.execute")(
        f.executeStreaming(stmt, s"$ckpt/$label", trigger = Trigger.ProcessingTime(0)))
    }
    val answers = new File(topicRoot, "llm_answers")
    watcher = new AnswerWatcher(answers)
    watcher.start()
    // one question through all three streams warms every stage
    val sid = "warm"
    sent += sid
    produce(sid, "I am looking for warm winter gloves")
    val until = System.nanoTime() + 120000000000L
    while (!watcher.firstSeenNs.containsKey(sid) && System.nanoTime() < until) {
      streams.foreach { case (l, q) =>
        q.exception.foreach(e => throw new IllegalStateException(s"stream $l failed", e)) }
      Thread.sleep(5)
    }
    require(watcher.firstSeenNs.containsKey(sid), "the warm-up question was never answered")
  }

  /** Produces `ids` at once and waits for their answers: returns how many
    * were answered within the deadline and the seconds until the last was.
    */
  private def burst(ids: Seq[String]): (Int, Double) = {
    sent ++= ids
    val t0 = System.nanoTime()
    tr.request(s"burst-${ids.head}")(produce(ids.map(_ -> Gen.question(questionRng))))
    awaitAnswers(ids, t0 + (deadlineMs * 1e6).toLong)
    val answered = ids.flatMap(id => Option(watcher.firstSeenNs.get(id)).map(_.longValue))
      .filter(_ - t0 <= deadlineMs * 1e6)
    (answered.size, (answered.maxOption.getOrElse(System.nanoTime()) - t0) / 1e9)
  }

  def measure(seconds: Double, ph: Phase, whole: Boolean): Unit = {
    lagMs.clear()
    progressFrom = streams.map { case (l, q) =>
      l -> Option(q.lastProgress).map(_.batchId).getOrElse(-1L) }.toMap
    val ramp = if (nextQ == 0) (ratePerSec * rampSeconds).toInt else 0
    val n = math.max(1, (ratePerSec * seconds).toInt)
    val start = System.nanoTime() + 20000000L
    val allDue = Array.tabulate(ramp + n)(i => start + (i * 1e9 / ratePerSec).toLong)
    val allIds = (0 until ramp + n).map(i => s"q${nextQ + i}")
    nextQ += ramp + n
    for (i <- allDue.indices) {
      val wait = allDue(i) - System.nanoTime()
      if (wait > 0) LockSupport.parkNanos(wait)
      if (i >= ramp) lagMs += (System.nanoTime() - allDue(i)) / 1e6
      sent += allIds(i)
      tr.request(allIds(i))(produce(allIds(i), Gen.question(questionRng)))
    }
    val (due, ids) = (allDue.drop(ramp), allIds.drop(ramp))
    awaitAnswers(allIds, due.last + (deadlineMs * 1e6).toLong)
    val seen = ids.indices.flatMap(i => Option(watcher.firstSeenNs.get(ids(i)))
      .map(t => (t.longValue - due(i)) / 1e6).filter(_ <= deadlineMs))
    ph.latencyMs ++= seen
    ph.sameOpMs ++= seen
    ph.requests += n
    ph.attempted += n
    ph.failed += n - seen.size
    for (b <- 0 until bursts) {
      val ids = (0 until burstSize).map(i => s"q${nextQ + i}")
      nextQ += burstSize
      val (answered, sec) = burst(ids)
      System.err.println(f"[perfbench] burst $b: $answered answers in $sec%.3f s")
      ph.rates += answered / sec
      ph.requests += burstSize
      ph.attempted += burstSize
      ph.failed += burstSize - answered
    }
    topicFiles = Option(new File(topicRoot).listFiles()).toSeq.flatten
      .map(d => Option(d.list()).map(_.count(_.startsWith("part-"))).getOrElse(0)).sum
  }

  def check(): Checked = {
    streams.foreach(_._2.stop())
    val failures = ArrayBuffer.empty[String]
    streams.foreach { case (l, q) => q.exception.foreach(e => failures += s"stream $l failed: ${e.getMessage}") }
    val streamed = g.topics.table("llm_answers").select("sessionid", "json_response")
      .collect().map(r => (r.getString(0), r.getString(1)))
    failures ++= Checks.oneAnswerEach(sent.toSeq, streamed.map(_._1).toSeq)
    // the same three statements, batch-style over every question sent:
    // each stage's SELECT runs once over the whole previous stage
    val (batchAnswers, products) = batchStyle()
    failures ++= Checks.sameResults("streamed vs batch-style answers",
      streamed.toMap, batchAnswers)
    val recall = recallAt3(products)
    val (bytes, _) = Workload.storeUsage("graft_sql_hnsw_")
    Checked(failures.toSeq, checks = 3, recall, bytes.toDouble / corpusRows)
  }

  /** The three statements' SELECTs run batch-style, each over the whole
    * output of the previous one: returns the answers by session and the
    * products each question retrieved.
    */
  private def batchStyle(): (Map[String, String], Map[String, (String, Seq[String])]) = {
    def select(stmt: String) = stmt.substring(stmt.toLowerCase.indexOf("select"))
    val Seq((_, embed), (s2, search), (s3, answer)) = stages
    embed.topics.refreshView("user_questions")
    val vectors = embed.execute(select(Statements(0)._2)).localCheckpoint()
    s2.createDataFrame(vectors.rdd, vectors.schema).createOrReplaceTempView("user_questions_vector")
    val prompts = search.execute(select(Statements(1)._2)).localCheckpoint()
    s3.createDataFrame(prompts.rdd, prompts.schema).createOrReplaceTempView("user_prompts")
    val answers = answer.execute(select(Statements(2)._2)).select("sessionid", "json_response")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    search.topics.refreshView("user_questions_vector")
    answer.topics.refreshView("user_prompts")
    val products = prompts.select(col("sessionid"), col("content"), col("products.content"))
      .collect().map(r => r.getString(0) ->
        (r.getString(1), Option(r.getSeq[String](2)).getOrElse(Nil))).toMap
    (answers, products)
  }

  /** The hnsw route against an exact top-3 by dot product over the corpus. */
  private def recallAt3(products: Map[String, (String, Seq[String])]): Double = {
    val docVecs = corpusTexts.map(t => HashEmbedder.embed(t, 64)).toArray
    val docIndex = corpusTexts.zipWithIndex.toMap
    val qv = products.map { case (sid, (q, _)) => sid -> HashEmbedder.embed(q, 64) }
    def dot(q: Array[Float], d: Array[Float]): Double = {
      var s = 0.0
      var j = 0
      while (j < q.length) { s += q(j) * d(j).toDouble; j += 1 }
      s
    }
    def score(sid: String, doc: String): Double =
      docIndex.get(doc).map(i => dot(qv(sid), docVecs(i))).getOrElse(Double.NegativeInfinity)
    val exact = qv.map { case (sid, q) =>
      sid -> docVecs.indices.sortBy(i => -dot(q, docVecs(i))).take(3).map(corpusTexts)
    }
    Checks.recall(products.map { case (sid, (_, p)) => sid -> p }, exact, Some(score _))
  }

  /** The committed answer file that holds `sid`'s answer. */
  private def answerFile(sid: String): File =
    Option(new File(topicRoot, "llm_answers").listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("part-"))
      .find(f => Files.readString(f.toPath).contains(sidField(sid)))
      .getOrElse(throw new IllegalStateException(s"no answer file holds $sid"))

  /** Edits the answer file holding `sid`'s answer behind the engine's
    * back; its checksum file goes, so the file still reads.
    */
  private def editAnswers(sid: String)(edit: Seq[String] => Seq[String]): Unit = {
    val f = answerFile(sid)
    new File(f.getParentFile, s".${f.getName}.crc").delete()
    Files.write(f.toPath, edit(Files.readAllLines(f.toPath).asScala.toSeq).asJava)
  }

  def corruptions: Seq[Corruption] = Seq(
    Corruption("one answer changed in place", "streamed vs batch-style", () =>
      editAnswers(sent(1))(_.map(l => if (!l.contains(sidField(sent(1)))) l
        else JsonResponse.replaceFirstIn(l, "\"json_response\":\"altered\"")))),
    Corruption("one answer dropped", "unanswered", () =>
      editAnswers(sent(2))(_.filterNot(_.contains(sidField(sent(2)))))),
    Corruption("a second answer to one question", "answered twice", () =>
      g.topics.produceJson("llm_answers", Seq(s"""{"role":"user","content":"forged",""" +
        s""""sessionid":"${sent.last}","json_response":"forged"}"""))))

  def teardown(): Unit = {
    if (watcher != null) watcher.finish()
    streams.foreach(_._2.stop())
    val search = stages(1)._2
    search.releaseCorpusWriterClaims(Corpus)
    search.execute(s"DROP SEARCH CORPUS $Corpus").collect()
    Workload.deleteRecursively(new File(topicRoot))
  }

  def layerMetrics: Map[String, Double] =
    Map("loadgen.lag_p90_ms" -> Stats.quantile(lagMs.toSeq, 0.9),
      "sources.topic_files" -> topicFiles) ++
      streams.flatMap { case (l, q) =>
        StreamProgress.metrics(s"streaming.$l", StreamProgress.since(q, progressFrom(l))) }
}

object StreamAnswer {
  val Corpus = "mongodb_vector_search"
  /** The open-loop rate, questions per second (see the README for how it
    * relates to the measured capacity).
    */
  val RatePerSec = 5.0
  private def sidField(sid: String) = s""""sessionid":"$sid""""
  private val JsonResponse = "\"json_response\":\"(?:[^\"\\\\]|\\\\.)*\"".r

  /** The reference's DDL (models and topics), verbatim. */
  val Ddl: Seq[String] = Seq(
    """CREATE MODEL `vector_encoding`
INPUT (input STRING) OUTPUT (vector ARRAY<FLOAT>)
WITH('TASK' = 'embedding', 'PROVIDER' = 'openai',
  'OPENAI.CONNECTION' = 'openai-vector-connection');""",
    """CREATE MODEL `retail_assistant`
INPUT (prompts STRING) OUTPUT (json_response STRING)
WITH ('provider' = 'openai', 'task' = 'chat',
  'openai.connection' = 'openai-llm-connection',
  'openai.system_prompt' = 'You are a retail assistant helping people find clothing items.');""",
    """CREATE TABLE `user_questions` (
    `role` STRING, `content` STRING, `sessionid` STRING
) WITH ('value.format' = 'json-registry');""",
    """CREATE TABLE `user_questions_vector` (
    `role` STRING, `content` STRING, `sessionid` STRING, `vector` ARRAY<FLOAT>
) WITH ('value.format' = 'json-registry');""",
    """CREATE TABLE `user_prompts` (
    `role` STRING, `content` STRING, `sessionid` STRING,
    `products` ARRAY<ROW<`content` STRING>>
) WITH ('value.format' = 'json-registry');""",
    """CREATE TABLE `llm_answers` (
    `role` STRING, `content` STRING, `sessionid` STRING, `json_response` STRING
) WITH ('value.format' = 'json-registry');""")

  /** The reference's three perpetual statements, verbatim. */
  val Statements: Seq[(String, String)] = Seq(
    "embed" -> """insert into `user_questions_vector` select `role`, `content`, `sessionid`, `vector` from `user_questions`,
lateral table (ml_predict('vector_encoding', content));""",
    "search" -> s"""Insert into user_prompts (role, content, sessionid, products)
SELECT user_questions_vector.role, user_questions_vector.content,
  user_questions_vector.sessionid, search_results as products
FROM user_questions_vector,
LATERAL TABLE(FEDERATED_SEARCH('$Corpus', 3, vector));""",
    "answer" -> """insert into llm_answers (role, content, sessionid, json_response)
SELECT role, content, sessionid, json_response FROM user_prompts,
LATERAL TABLE(ML_PREDICT('retail_assistant', json_object(
      'role' VALUE role, 'content' VALUE content,
      'products' VALUE cast(products as string))));""")
}

/** Per-trigger phases of micro-batches with data, read from the streams'
  * public `StreamingQueryProgress`.
  */
object StreamProgress {
  val Fields: Seq[String] =
    Seq("trigger_ms", "add_batch_ms", "query_planning_ms", "wal_commit_ms", "batches", "rows_per_batch")

  /** The progress of `q`'s data batches after batch `fromBatch`. */
  def since(q: StreamingQuery, fromBatch: Long): Seq[StreamingQueryProgress] =
    q.recentProgress.filter(p => p.batchId > fromBatch && p.numInputRows > 0)
      .groupBy(_.batchId).values.map(_.last).toSeq

  def metrics(prefix: String, ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    def phase(k: String) = Stats.mean(ps.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    Map(
      s"$prefix.trigger_ms" -> phase("triggerExecution"),
      s"$prefix.add_batch_ms" -> phase("addBatch"),
      s"$prefix.query_planning_ms" -> phase("queryPlanning"),
      s"$prefix.wal_commit_ms" -> phase("walCommit"),
      s"$prefix.batches" -> ps.size.toDouble,
      s"$prefix.rows_per_batch" -> Stats.mean(ps.map(_.numInputRows.toDouble)))
  }
}
