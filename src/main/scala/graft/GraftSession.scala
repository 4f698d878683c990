package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's required configs in one place, so
  * Verify, Bench, tests, and user code agree.
  */
object GraftSession {
  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // TypedImperativeAggregate (TopKByScore) runs in ObjectHashAggregate,
      // which falls back to sort-based aggregation after this many distinct
      // keys per task (default 128!) — with thousands of query groups that
      // would sort-spill the whole scored cross product. Buffers are tiny
      // (k ids+scores), so a large in-memory map is the right trade.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "10000000")
      // Shuffle/spill files on tmpfs when available: this host's disk has
      // high iowait variance, and sf0.1 shuffle volumes (<2 GB) fit RAM
      // comfortably. On a real cluster leave spark.local.dir to the
      // cluster manager's fast local volumes.
      .config("spark.local.dir",
        if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/spark-local" else "/tmp")
      // Spark 4 routes lower()/upper() through ICU case mapping by
      // default (spark.sql.icu.caseMappings.enabled) — measured 10-20x
      // slower on hot paths (thread dumps show all 32 workers inside
      // CollationSupport$Lower.execBinaryICU). JVM semantics match the
      // DuckDB oracle for the engine's normalization (ASCII + simple
      // unicode); full ICU collation is not part of this engine's
      // contract.
      .config("spark.sql.icu.caseMappings.enabled", "false")
      // A session running many heterogeneous queries generates far more
      // than 100 distinct codegen classes (the default cache bound);
      // eviction means multi-second driver-side Janino recompiles on
      // every re-plan — executor threads sit idle meanwhile.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // testdata events.ts is parquet TIMESTAMP(NANOS); Spark has no ns
      // timestamp — read as Long, converted at the scan edge (Tables).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // BloomFilterAggregate silently clamps to these ceilings (defaults
      // 2^26 bits / 4M items — sized for AQE's runtime join filters, not
      // for decontamination artifacts over large benchmarks). Raise them
      // so Bloom.buildGramBloomSized's measured sizing holds to ~10^8
      // grams (2^33 bits = a 1 GiB driver-held artifact at the extreme);
      // Bloom.build fails loudly rather than letting the clamp bite.
      .config("spark.sql.optimizer.runtime.bloomFilter.maxNumBits",
        (1L << 33).toString)
      .config("spark.sql.optimizer.runtime.bloomFilter.maxNumItems",
        (1L << 29).toString)
      // Partition discovery lists a level of more than 32 directories
      // (the default threshold) as a Spark job with one task per
      // directory, and that job holds every core. The engine's stores
      // fan out wider than that at one level (64 lexical `bucket=` dirs,
      // nList `cell=` dirs), and a maintenance micro-batch reads them
      // every batch; listing a few hundred directories on the driver
      // takes milliseconds.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      // local files and dirs get their permissions without a `chmod`
      // process each (see NioLocalFileSystem)
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)

  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)): SparkSession = {
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
