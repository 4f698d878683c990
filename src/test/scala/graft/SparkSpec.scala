package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide SparkSession keeps the
  * suite runtime dominated by actual work, not session startup).
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", "4").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val Sf = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  // lazy val (not def): a stable identifier, so `import spark.implicits._`
  // works in subclasses.
  lazy val spark: SparkSession = SparkSpec.spark
  def sf: String = SparkSpec.Sf

  /** Flush pending SparkListener events so job-count assertions are
    * deterministic (reflective: LiveListenerBus.waitUntilEmpty is
    * private[spark]); falls back to a grace sleep.
    */
  def drainListenerBus(): Unit = try {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus")
      .invoke(spark.sparkContext)
    bus.getClass.getMethods
      .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
      .get.invoke(bus)
    ()
  } catch { case scala.util.control.NonFatal(_) => Thread.sleep(1500) }
}
