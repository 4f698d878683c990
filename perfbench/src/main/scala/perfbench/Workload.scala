package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one run shares with its workload: the session, the run's own
  * directory (the JVM's `java.io.tmpdir` lives inside it), the tracer,
  * the seed, whether the run is the tiny self-test size, the open-loop
  * question rate, whether the run is a traced one (which prints only
  * per-layer metrics), and whether `maintain_cdc` runs its curation job
  * (only traced runs and the self-test do; see [[MaintainCdc]]).
  */
final class Ctx(val spark: SparkSession, val runDir: File, val tracer: Tracer,
    val seed: Long, val tiny: Boolean, val rate: Double = StreamAnswer.RatePerSec,
    val traced: Boolean = false, val curate: Boolean = false) {
  private var dirs = 0
  /** A fresh, empty directory under the run directory. */
  def freshDir(prefix: String): String = synchronized {
    dirs += 1
    val d = new File(runDir, s"$prefix-$dirs")
    d.mkdirs()
    d.getAbsolutePath
  }
  def size(tinyValue: Int, fullValue: Int): Int = if (tiny) tinyValue else fullValue

  /** Runs an action to completion without collecting its rows. */
  def drain(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** Samples of one measured phase. `requests` are the workload's timed
  * requests; `items` the unit its throughput counts (answers or changes)
  * and `busySec` the time they took.
  */
final class Phase {
  val latencyMs = ArrayBuffer.empty[Double]
  /** The part of each request that is the same operation in every request
    * (an answer; a batch's drain), which the tracing overhead compares.
    */
  val sameOpMs = ArrayBuffer.empty[Double]
  var items = 0L
  var busySec = 0.0
  /** Per-request rates, when the throughput is their median rather than
    * `items / busySec`.
    */
  val rates = ArrayBuffer.empty[Double]
  var attempted = 0
  var failed = 0
  var requests = 0
  def throughput: Double =
    if (rates.nonEmpty) Stats.median(rates.toSeq) else if (busySec > 0) items / busySec else 0.0
}

/** The quality half of a run's result: failures found by the output
  * checks, and the two end-to-end numbers that come from the outputs.
  */
final case class Checked(failures: Seq[String], checks: Int, recallAt3: Double,
    bytesPerRow: Double)

/** One deliberate damage to a run's output: `caughtBy` is text that the
  * failure reported by the targeted checker contains.
  */
final case class Corruption(what: String, caughtBy: String, damage: () => Unit)

trait Workload {
  /** Everything up to the first timed request. */
  def setup(): Unit
  /** Sends timed requests for `seconds`, adding samples to `ph`. With
    * `whole` false, a workload that measures in cycles sends one request
    * instead (the traced run's comparison phases).
    */
  def measure(seconds: Double, ph: Phase, whole: Boolean = true): Unit
  /** Checks every output the run produced so far; called after measuring. */
  def check(): Checked
  /** Stops what setup started and deletes what it wrote. */
  def teardown(): Unit
  /** Ways to damage the run's output as a defect would; after each,
    * [[check]] must report a new failure from the checker the damage
    * targets. Only the self-test applies them, in order.
    */
  def corruptions: Seq[Corruption]
  /** Per-layer readings only the workload can take (store sizes,
    * compaction file counts, stream progress), from the traced phase.
    */
  def layerMetrics: Map[String, Double]
}

object Workload {
  val Names: Seq[String] = Seq("stream_answer", "maintain_cdc")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "stream_answer" => new StreamAnswer(ctx)
    case "maintain_cdc" => new MaintainCdc(ctx)
  }

  /** Bytes and files under the JVM tmpdir's engine stores whose name
    * starts with `prefix` (the engine writes `graft_sql_<family>_*`).
    */
  def storeUsage(prefix: String): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val roots = Option(new File(System.getProperty("java.io.tmpdir"))
      .listFiles()).toSeq.flatten.filter(_.getName.startsWith(prefix))
    val files = roots.flatMap(walk).filter(_.isFile)
    (files.map(_.length).sum, files.size.toLong)
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }

  def timedMs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e6)
  }
}
