package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

/** The benchmark's self-test, at the tiny input size: every workload runs
  * untraced and traced and prints its result (the caller compares the
  * metric names and units with `BENCHMARK.json`), then every workload's
  * check must pass on its real output, and after each corruption the
  * checker that corruption targets must report a new failure. The leak
  * check must catch a store left behind.
  */
object SelfTest {
  def run(o: Opts): Int = {
    val problems = ArrayBuffer.empty[String]
    for (w <- Workload.Names; trace <- Seq(false, true)) {
      val r = Main.run(o.copy(workload = w, trace = trace, tiny = true, seconds = 3,
        runDir = new File(o.runDir, s"$w-$trace")))
      println(s"SELFTEST-RESULT $w ${if (trace) 1 else 0} ${r.json}")
      if (!r.correct) problems += s"$w (trace=$trace): a check failed on uncorrupted output"
    }
    for (w <- Workload.Names) {
      val dir = new File(o.runDir, s"$w-corrupt")
      dir.mkdirs()
      val spark = Main.session(o.cores, dir)
      try {
        val ctx = new Ctx(spark, dir, new Tracer(spark.sparkContext), o.seed, tiny = true, curate = true)
        val wl = Workload(w, ctx)
        wl.setup()
        wl.measure(1.0, new Phase)
        var seen = wl.check().failures.toSet
        if (seen.nonEmpty) problems += s"$w: check failed before corruption: ${seen.head}"
        wl.corruptions.foreach { c =>
          c.damage()
          val fresh = wl.check().failures.toSet -- seen
          fresh.find(_.contains(c.caughtBy)) match {
            case Some(f) => println(s"SELFTEST-REJECTED $w, ${c.what}: $f")
            case None => problems += s"$w: the check for '${c.caughtBy}' accepted ${c.what}" +
              fresh.headOption.fold("")(f => s" (another check reported: $f)")
          }
          seen ++= fresh
        }
        wl.teardown()
      } finally spark.stop()
    }
    val planted = new File(System.getProperty("java.io.tmpdir"), "graft_sql_ivf_planted")
    planted.mkdirs()
    if (Checks.noLeak(Main.leftovers()).isEmpty) problems += "the leak check missed a store left behind"
    else println("SELFTEST-REJECTED leak: a planted store path")
    planted.delete()
    problems.foreach(p => println(s"SELFTEST-PROBLEM $p"))
    if (problems.isEmpty) 0 else 1
  }
}
