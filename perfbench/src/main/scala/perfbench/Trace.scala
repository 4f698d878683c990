package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call from the benchmark into an engine layer. `parent` is
  * the enclosing span on the same thread (0 at the top); spans of one
  * request share `request`.
  */
final case class Span(id: Long, parent: Long, request: String, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
  /** The layer is the span name's module prefix, e.g. `sql` of `sql.execute`. */
  def layer: String = name.takeWhile(_ != '.')
}

/** Spark work attributed to one request key: a benchmark request (its job
  * group) or a streaming micro-batch (`stream:<query>:<batch>`).
  */
final class SparkCounts {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskMs = 0L; var runMs = 0L; var shuffleBytes = 0L; var inputRecords = 0L
  def add(o: SparkCounts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    runMs += o.runMs; shuffleBytes += o.shuffleBytes; inputRecords += o.inputRecords
  }
}

/** Counts jobs, stages and tasks from the public listener events and
  * attributes each to the request that caused it.
  */
final class SparkAttribution extends SparkListener {
  private val byKey = new ConcurrentHashMap[String, SparkCounts]
  private val stageKey = new ConcurrentHashMap[Int, String]
  private val started = new AtomicLong
  private val ended = new AtomicLong

  private def acc(key: String) = byKey.computeIfAbsent(key, _ => new SparkCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    def prop(k: String) = Option(if (p == null) null else p.getProperty(k))
    val key = prop("sql.streaming.queryId")
      .map(q => s"stream:$q:${prop("streaming.sql.batchId").getOrElse("?")}")
      .orElse(prop("spark.jobGroup.id"))
      .getOrElse("unattributed")
    e.stageIds.foreach(s => stageKey.put(s, key))
    val a = acc(key)
    a.synchronized(a.jobs += 1)
    started.incrementAndGet()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val a = acc(stageKey.getOrDefault(e.stageInfo.stageId, "unattributed"))
    a.synchronized(a.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageKey.getOrDefault(e.stageId, "unattributed"))
    val m = e.taskMetrics
    a.synchronized {
      a.tasks += 1
      a.taskMs += e.taskInfo.duration
      if (m != null) {
        a.runMs += m.executorRunTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  /** Waits (bounded) until every started job has ended and its events
    * have been delivered, so totals read after a phase are complete.
    */
  def settle(): Unit = {
    val until = System.nanoTime() + 3000000000L
    while (ended.get() < started.get() && System.nanoTime() < until) Thread.sleep(10)
    Thread.sleep(150)
  }

  def snapshot: Map[String, SparkCounts] = byKey.asScala.toMap
  def total: SparkCounts = { val t = new SparkCounts; byKey.values.asScala.foreach(t.add); t }
}

/** The benchmark's span recorder. Off, it only runs the wrapped call; on,
  * it keeps a span per call in memory, tags the calling thread's Spark
  * jobs with the current request id, and listens for the Spark work each
  * request causes.
  */
final class Tracer(sc: SparkContext) {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong
  private val stack = new ThreadLocal[List[Long]] { override def initialValue = Nil }
  private val current = new ThreadLocal[String] { override def initialValue = "" }
  @volatile private var recording = false
  private var listener: Option[SparkAttribution] = None

  def on: Boolean = recording
  /** Spark work counted by the latest recording. */
  def counts: Option[SparkAttribution] = listener

  /** Starts recording; Spark counts start again from zero, spans accumulate. */
  def start(): Unit = {
    stop()
    val l = new SparkAttribution
    sc.addSparkListener(l)
    listener = Some(l)
    recording = true
  }

  /** Stops recording and detaches the listener; what was recorded stays readable. */
  def stop(): Unit = if (recording) {
    recording = false
    listener.foreach { l => l.settle(); sc.removeSparkListener(l) }
  }

  /** Runs `body` as request `id`: its spans and Spark jobs carry the id. */
  def request[A](id: String)(body: => A): A =
    if (!on) body
    else {
      val prev = current.get()
      current.set(id)
      sc.setJobGroup(id, id, interruptOnCancel = false)
      try body
      finally {
        current.set(prev)
        if (prev.isEmpty) sc.clearJobGroup() else sc.setJobGroup(prev, prev, interruptOnCancel = false)
      }
    }

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0L), current.get(), name,
          t0, System.nanoTime()))
        stack.set(parents)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
}

object Tracer {
  /** Self time per layer: each span's duration minus the part of it its
    * child spans cover, summed by layer.
    */
  def selfTimeMs(spans: Seq[Span]): Map[String, Double] = {
    val childMs = spans.groupBy(_.parent).view.mapValues(_.map(_.ms).sum).toMap
    spans.groupBy(_.layer).view
      .mapValues(_.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum).toMap
  }
}
