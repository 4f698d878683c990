package graft.operators

import org.apache.spark.sql.SparkSession

/** The serve-model cache contract behind [[PqSearch.cachedCodebooks]],
  * [[SqSearch.cachedModel]], [[BqSearch.cachedModel]] and
  * [[QualityClassifier.cachedModel]]: overflow in a long-lived session
  * (many registration-scoped tags) evicts ONLY the least-recently-used
  * entry — never the whole map, which would dump every other corpus's
  * hot model and force a retrain storm; a persisted model reloads in a
  * fresh cache instead of retraining.
  */
class ModelCacheSpec extends graft.SparkSpec {

  test("inserting the 65th model keeps the 64 hottest; only the LRU entry leaves") {
    val c = new ModelCache[Int](maxEntries = 64)
    (1 to 64).foreach(i => c.getOrElseUpdate(s"k$i")(i))
    // touch k2..k64 so k1 is the least recently used
    (2 to 64).foreach(i => assert(c.getOrElseUpdate(s"k$i")(-1) == i))
    c.getOrElseUpdate("k65")(65)
    assert(!c.contains("k1"), "the LRU entry must be the one evicted")
    (2 to 65).foreach(i =>
      assert(c.contains(s"k$i"), s"hot entry k$i evicted by overflow"))
    assert(c.size == 64)
  }

  test("a cached key never re-runs its trainer; an evicted key re-runs it once") {
    val c = new ModelCache[Int](maxEntries = 2)
    var runs = 0
    def train(v: Int): Int = { runs += 1; v }
    assert(c.getOrElseUpdate("a")(train(1)) == 1)
    assert(c.getOrElseUpdate("a")(train(99)) == 1)
    assert(runs == 1, "cached key retrained")
    c.getOrElseUpdate("b")(train(2))
    c.getOrElseUpdate("c")(train(3)) // evicts "a" only
    assert(runs == 3)
    assert(c.contains("b") && c.contains("c"))
    assert(c.getOrElseUpdate("a")(train(4)) == 4, "evicted key must retrain")
    assert(runs == 4)
  }

  test("trainOnce: a persisted model reloads in a fresh cache; persist = false writes nothing") {
    import spark.implicits._
    var runs = 0
    def train(v: Double): Double = { runs += 1; v }
    def save(s: SparkSession, path: String, v: Double): Unit =
      Seq(v).toDF("w").write.mode("overwrite").parquet(path)
    def load(s: SparkSession, path: String): Double =
      s.read.parquet(path).head().getDouble(0)
    val name = s"spec_model_${java.util.UUID.randomUUID()}"
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"), s"graft_$name")
    try {
      assert(new ModelCache[Double]().trainOnce(spark, name, persist = true,
        save, load)(train(2.5)) == 2.5)
      assert(runs == 1 && new java.io.File(dir, "_SUCCESS").exists,
        "a persisted model must land complete under the JVM tmpdir")
      // a fresh cache stands for a fresh JVM: it reloads, never retrains
      assert(new ModelCache[Double]().trainOnce(spark, name, persist = true,
        save, load)(train(-1.0)) == 2.5)
      assert(runs == 1, "a persisted model was retrained")
      val transient = s"${name}_transient"
      assert(new ModelCache[Double]().trainOnce(spark, transient,
        persist = false, save, load)(train(4.0)) == 4.0)
      assert(runs == 2)
      assert(!new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_$transient").exists, "persist = false must write no artifact")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }
}
