package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.sql.GraftSql
import graft.sources.TopicCatalog

/** Command-line options; `run.py` passes them through. */
final case class Opts(workload: String = "", seed: Long = 1, seconds: Double = 10,
    trace: Boolean = false, cores: Int = 4, tiny: Boolean = false,
    runDir: File = new File(".bench_run"), outDir: File = new File(".bench_out"),
    selfTest: Boolean = false, rate: Double = StreamAnswer.RatePerSec)

/** What one run prints as its last line. Metrics are left out when an
  * output check failed: a wrong output gets no number.
  */
final case class Result(correct: Boolean, attempted: Int, failed: Int,
    metrics: Seq[(String, String, Double)]) {
  def json: String = Json.obj(Seq(
    "correct" -> correct.toString,
    "attempted" -> attempted.toString,
    "failed" -> failed.toString,
    "metrics" -> Json.obj(if (!correct) Nil else metrics.map { case (n, u, v) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })))
}

object Main {
  def main(args: Array[String]): Unit = {
    val o = parse(args.toList, Opts())
    val code =
      if (o.selfTest) SelfTest.run(o)
      else {
        val r = run(o)
        println(r.json)
        if (r.correct) 0 else 1
      }
    System.out.flush()
    sys.exit(code)
  }

  private def parse(args: List[String], o: Opts): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--cores" :: v :: t => parse(t, o.copy(cores = v.toInt))
    case "--tiny" :: t => parse(t, o.copy(tiny = true))
    case "--run-dir" :: v :: t => parse(t, o.copy(runDir = new File(v)))
    case "--out-dir" :: v :: t => parse(t, o.copy(outDir = new File(v)))
    case "--selftest" :: t => parse(t, o.copy(selfTest = true))
    case "--rate" :: v :: t => parse(t, o.copy(rate = v.toDouble))
    case Nil =>
      require(o.selfTest || Workload.Names.contains(o.workload),
        s"--workload must be one of ${Workload.Names.mkString(", ")}")
      o
    case other => throw new IllegalArgumentException(s"unknown argument ${other.head}")
  }

  def session(cores: Int, runDir: File): SparkSession = {
    val s = graft.GraftSession.builder(s"local[$cores]", cores.toString)
      .appName("perfbench")
      .config("spark.local.dir", new File(runDir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(runDir, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Engine store paths left under the JVM tmpdir. */
  def leftovers(): Seq[String] =
    Option(new File(System.getProperty("java.io.tmpdir")).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith("graft_sql_"))

  /** One run: set up, measure, check the outputs, tear down, and check
    * that nothing is left behind. A traced run measures untraced, then
    * traced (the tracing overhead compares the two), then sets up again on
    * one core and measures once more for the speed-up.
    */
  def run(o: Opts): Result = {
    o.runDir.mkdirs()
    var (spark, sessionMs) = Workload.timedMs(session(o.cores, o.runDir))
    val tracer = new Tracer(spark.sparkContext)
    val ctx = new Ctx(spark, o.runDir, tracer, o.seed, o.tiny, o.rate, o.trace, curate = o.trace)
    val wl = Workload(o.workload, ctx)
    val failures = ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    def note(fs: Seq[String], checks: Int): Unit = {
      attempted += checks
      failed += math.min(checks, fs.size)
      failures ++= fs
      fs.foreach(f => System.err.println(s"[perfbench] check failed: $f"))
    }
    var set = false
    try {
      if (o.trace) tracer.start()
      val (_, setupMs) = Workload.timedMs(wl.setup())
      tracer.stop()
      set = true
      System.err.println(f"[perfbench] set-up: ${setupMs / 1e3}%.2f s")
      val ph = new Phase
      val untraced = new Phase
      var host = Map.empty[String, Double]
      var layers = Map.empty[String, Double]
      var phaseStart = 0L
      var phaseMs = 0.0
      if (!o.trace) {
        val probe = new HostProbe
        wl.measure(o.seconds, ph)
        host = probe.readings()
      } else {
        wl.measure(o.seconds * 0.4, untraced, whole = false)
        tracer.start()
        phaseStart = System.nanoTime()
        val probe = new HostProbe
        wl.measure(o.seconds * 0.4, ph)
        host = probe.readings()
        phaseMs = (System.nanoTime() - phaseStart) / 1e6
        tracer.stop()
        layers = wl.layerMetrics
      }
      System.err.println("[perfbench] host " + host.toSeq.sorted.map { case (k, v) => f"$k=$v%.3f" }.mkString(" "))
      System.err.println(s"[perfbench] measured ${ph.requests} request(s), latency p50 " +
        s"${Stats.median(ph.latencyMs.toSeq)} ms, throughput ${ph.throughput}/s")
      attempted += ph.attempted + untraced.attempted
      failed += ph.failed + untraced.failed
      val (checked, checkMs) = Workload.timedMs(wl.check())
      note(checked.failures, checked.checks)
      set = false
      val (_, teardownMs) = Workload.timedMs(wl.teardown())
      System.err.println(f"[perfbench] check: ${checkMs / 1e3}%.2f s, teardown: ${teardownMs / 1e3}%.2f s")
      note(Checks.noLeak(leftovers()), 1)
      if (!o.trace) {
        Result(failures.isEmpty, attempted, failed, Metrics.EndToEnd.map { case (n, u) =>
          (n, u, n match {
            case "setup_s" => (sessionMs + setupMs) / 1e3
            case "latency_p50_ms" => Stats.quantile(ph.latencyMs.toSeq, 0.5)
            case "latency_p90_ms" => Stats.quantile(ph.latencyMs.toSeq, 0.9)
            case "throughput_per_s" => ph.throughput
            case "recall_at_3" => checked.recallAt3
            case "bytes_per_row" => checked.bytesPerRow
          })
        })
      } else {
        val models = modelTimings(ctx)
        spark.stop()
        // the same workload on one core, for the speed-up
        spark = session(1, o.runDir)
        val one = new Phase
        val ctx1 = new Ctx(spark, o.runDir, new Tracer(spark.sparkContext), o.seed, o.tiny, o.rate, o.trace)
        val wl1 = Workload(o.workload, ctx1)
        wl1.setup()
        wl1.measure(o.seconds * 0.2, one, whole = false)
        attempted += one.attempted
        failed += one.failed
        val checked1 = wl1.check()
        note(checked1.failures, checked1.checks)
        wl1.teardown()
        note(Checks.noLeak(leftovers()), 1)
        val speedup = Stats.median(one.sameOpMs.toSeq) / Stats.median((untraced.sameOpMs ++ ph.sameOpMs).toSeq)
        val overhead = 100.0 * (Stats.median(ph.sameOpMs.toSeq) / Stats.median(untraced.sameOpMs.toSeq) - 1)
        val spans = tracer.all
        val derived = spanMetrics(spans, phaseStart, ph, tracer, o.cores, phaseMs)
        val values = derived ++ layers ++ models ++ host ++ Map(
          "spark.speedup_vs_1cpu" -> speedup, "trace.overhead_pct" -> overhead,
          "trace.spans" -> spans.size.toDouble)
        writeTrace(o, spans, tracer, values, overhead)
        Result(failures.isEmpty, attempted, failed,
          Metrics.PerLayer.map { case (n, u) => (n, u, values.getOrElse(n, 0.0)) })
      }
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] run failed: $e")
        e.printStackTrace()
        if (set) try wl.teardown() catch { case t: Throwable => System.err.println(s"[perfbench] teardown failed: $t") }
        Result(correct = false, math.max(1, attempted), failed + 1, Nil)
    } finally spark.stop()
  }

  /** Per-layer metrics derived from the spans and Spark counts of the
    * traced phase (and, for registration and store builds, of the traced
    * set-up).
    */
  private def spanMetrics(spans: Seq[Span], from: Long, ph: Phase, tracer: Tracer,
      cores: Int, phaseMs: Double): Map[String, Double] = {
    def meanOf(name: String, all: Boolean = false) =
      Stats.mean(spans.filter(s => s.name == name && (all || s.startNs >= from)).map(_.ms))
    val total = tracer.counts.map(_.total).getOrElse(new SparkCounts)
    val reqs = math.max(1, ph.requests).toDouble
    Map(
      "sources.produce_ms" -> meanOf("sources.produce"),
      "sql.execute_ms" -> meanOf("sql.execute"),
      "spark.jobs_per_request" -> total.jobs / reqs,
      "spark.stages_per_request" -> total.stages / reqs,
      "spark.tasks_per_request" -> total.tasks / reqs,
      "spark.task_overhead_ms_per_request" -> (total.taskMs - total.runMs) / reqs,
      "spark.shuffle_bytes_per_request" -> total.shuffleBytes / reqs,
      "spark.busy_ratio" -> total.runMs / (cores * math.max(1.0, phaseMs))) ++
      (Metrics.Registered :+ "lex").flatMap(f => Seq(
        s"sql.register_ms.$f" -> meanOf(s"sql.register.$f", all = true),
        s"sql.store_build_ms.$f" -> meanOf(s"sql.store_build.$f", all = true))) ++
      Seq("gate", "repetition", "dedup", "decontam").map(s => s"curation.${s}_ms" -> meanOf(s"curation.$s", all = true))
  }

  /** Stand-alone `mlPredict` actions over 1k question texts, per model. */
  private def modelTimings(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    val g = new GraftSql(spark, new TopicCatalog(spark, ctx.freshDir("models")))
    StreamAnswer.Ddl.take(2).foreach(g.execute)
    val r = new Random(ctx.seed)
    val texts = spark.createDataFrame((0 until 1000).map(_ => Tuple1(Gen.question(r)))).toDF("content").cache()
    texts.count()
    def time(model: String) = Stats.median((1 to 3).map { _ =>
      Workload.timedMs(ctx.tracer.span(s"model.$model")(
        ctx.drain(texts.select(g.registry.mlPredict(model, col("content"))))))._2
    })
    val out = Map("model.embed_ms_per_1k" -> time("vector_encoding"),
      "model.answer_ms_per_1k" -> time("retail_assistant"))
    texts.unpersist()
    out
  }

  /** The trace file: every span with its parent link, self time per
    * layer, Spark counts per request key and the per-layer metrics.
    */
  private def writeTrace(o: Opts, spans: Seq[Span], tracer: Tracer,
      values: Map[String, Double], overhead: Double): Unit = {
    o.outDir.mkdirs()
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val counts = tracer.counts.map(_.snapshot).getOrElse(Map.empty)
    val w = new PrintWriter(new File(o.outDir, s"trace-${o.workload}-seed${o.seed}.json"), "UTF-8")
    try w.println(Json.obj(Seq(
      "workload" -> Json.str(o.workload),
      "seed" -> o.seed.toString,
      "tracing_overhead_pct" -> Json.num(overhead),
      "self_time_ms" -> Json.obj(Tracer.selfTimeMs(spans).toSeq.sorted.map { case (k, v) => k -> Json.num(v) }),
      "spark_by_request" -> Json.obj(counts.toSeq.sortBy(_._1).map { case (k, c) =>
        k -> Json.obj(Seq("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
          "task_ms" -> c.taskMs, "run_ms" -> c.runMs, "shuffle_bytes" -> c.shuffleBytes,
          "input_records" -> c.inputRecords).map { case (n, v) => n -> v.toString })
      }),
      "metrics" -> Json.obj(values.toSeq.sorted.map { case (k, v) => k -> Json.num(v) }),
      "spans" -> spans.map(s => Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "request" -> Json.str(s.request), "name" -> Json.str(s.name),
        "start_ms" -> Json.num((s.startNs - t0) / 1e6), "end_ms" -> Json.num((s.endNs - t0) / 1e6))))
        .mkString("[", ",\n", "]"))))
    finally w.close()
  }
}
