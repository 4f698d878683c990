package perfbench

/** Every metric the benchmark prints, by name and unit. A run with
  * `--trace 0` prints exactly [[EndToEnd]]; one with `--trace 1` exactly
  * [[PerLayer]]. `BENCHMARK.json` lists the same names and units.
  */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "latency_p50_ms" -> "ms",
    "latency_p90_ms" -> "ms",
    "throughput_per_s" -> "1/s",
    "recall_at_3" -> "ratio",
    "bytes_per_row" -> "B")

  /** The maintained registrations' families; `lex` is the lexical
    * store next to the ivf one.
    */
  val CdcFamilies: Seq[String] = Seq("ivf")
  /** Families registered by some workload: `maintain_cdc`'s, and
    * `stream_answer`'s hnsw.
    */
  val Registered: Seq[String] = CdcFamilies :+ "hnsw"
  val Streams: Seq[String] = Seq("embed", "search", "answer") ++
    (CdcFamilies :+ "lex").map(f => s"maintain.$f")
  private val streamUnits = Map("batches" -> "count", "rows_per_batch" -> "count")

  val PerLayer: Seq[(String, String)] = Seq(
    "loadgen.lag_p90_ms" -> "ms",
    "sources.produce_ms" -> "ms",
    "sources.topic_files" -> "count",
    "sql.execute_ms" -> "ms") ++
    Registered.map(f => s"sql.register_ms.$f" -> "ms") ++
    (Registered :+ "lex").map(f => s"sql.store_build_ms.$f" -> "ms") ++
    Streams.flatMap(s => StreamProgress.Fields.map(f => s"streaming.$s.$f" -> streamUnits.getOrElse(f, "ms"))) ++
    Seq("model.embed_ms_per_1k" -> "ms", "model.answer_ms_per_1k" -> "ms") ++
    (CdcFamilies :+ "hybrid").map(f => s"operators.$f.serve_ms" -> "ms") ++
    (CdcFamilies :+ "hybrid").map(f => s"operators.$f.rows_scanned_per_question" -> "count") ++
    (CdcFamilies :+ "lex").map(f => s"maintenance.$f.drain_ms" -> "ms") ++
    CdcFamilies.map(f => s"maintenance.$f.compact_ms" -> "ms") ++
    (CdcFamilies :+ "lex").flatMap(f => Seq(
      s"maintenance.$f.files_before" -> "count", s"maintenance.$f.files_after" -> "count",
      s"maintenance.$f.store_bytes" -> "B", s"maintenance.$f.store_files" -> "count")) ++
    Seq("tables.scan_partitions" -> "count") ++
    Seq("gate", "repetition", "dedup", "decontam").map(s => s"curation.${s}_ms" -> "ms") ++
    Seq(
      "spark.jobs_per_request" -> "count",
      "spark.stages_per_request" -> "count",
      "spark.tasks_per_request" -> "count",
      "spark.task_overhead_ms_per_request" -> "ms",
      "spark.shuffle_bytes_per_request" -> "B",
      "spark.busy_ratio" -> "ratio",
      "spark.speedup_vs_1cpu" -> "ratio",
      "jvm.gc_ms" -> "ms",
      "jvm.heap_peak_mb" -> "MB",
      "host.steal_pct" -> "%",
      "host.load1" -> "count",
      "host.cpu_wall" -> "ratio",
      "trace.overhead_pct" -> "%",
      "trace.spans" -> "count")
}
