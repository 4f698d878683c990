package graft.sources

import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** In-engine equivalent of the reference's topic-backed dynamic tables
  * (SURVEY §1.1, §2.1): a named, schema-registered, append-only table of
  * JSON records.
  *
  * Mapping from the reference:
  *  - `CREATE TABLE ... WITH ('value.format'='json-registry')`
  *    (README.md:266-274) -> [[TopicCatalog.create]]: registers the
  *    schema, creates the backing directory ("the topic"), exposes a
  *    temp view.
  *  - Implicit `key BYTES ... BUCKET KEY` first column on every topic
  *    table (README.md:551) -> every scan/describe carries a leading
  *    nullable `key BINARY`; records produced without a key read null.
  *  - UI/manual produce of one JSON record (README.md:187-195) ->
  *    [[TopicCatalog.produceJson]].
  *  - `INSERT INTO ... SELECT` (README.md:286-288, 438-446) ->
  *    [[TopicCatalog.insertInto]] (batch) — the streaming form is
  *    graft.streaming.Streams over [[TopicCatalog.stream]].
  *  - `INSERT INTO ... VALUES` with `ARRAY[ROW(...)]` literals
  *    (README.md:616-623) -> [[TopicCatalog.insertValues]] or plain
  *    `spark.sql("INSERT INTO ... VALUES (named_struct(...))")`.
  *  - `DESCRIBE table` (README.md:543-556) -> [[TopicCatalog.describe]]
  *    (col_name, data_type, nullable, extras — `BUCKET KEY` on key).
  *  - Schema-mismatch INSERT fails at submit time, like the reference's
  *    sink/query mismatch error (README.md:586-594).
  *  - Degenerate `ROW<>` (a JSON "object" column modeled with no fields)
  *    is rejected at CREATE time: in the reference it poisons every
  *    INSERT with an unfixable sink-mismatch (README.md:586-598) and the
  *    fix is to model the fields (README.md:600-608) — fail fast instead.
  *  - Schema evolution: the reference auto-updates the Flink table when
  *    the registry schema evolves (README.md:610-612) ->
  *    [[TopicCatalog.evolve]] (append-only: existing fields keep name and
  *    type; new nullable fields appear on the next scan; old records read
  *    them as null).
  *
  * Records are JSON lines on disk — the same row-oriented, schema-on-read
  * contract as JSON-on-Kafka (README.md:190,272). At scale the backing
  * store would be Kafka or an object store; every reader goes through the
  * same `spark.read.schema(...).json(dir)` path either way, so Catalyst
  * sees an ordinary datasource with pushdown and pruning.
  */
class TopicCatalog(spark: SparkSession, root: String) {

  /** Declared (value) schema per topic; scans prepend [[TopicCatalog.KeyField]]. */
  private val registry = scala.collection.concurrent.TrieMap.empty[String, StructType]

  /** Per-topic configs (Kafka topic-config shape: `cleanup.policy`,
    * `compaction.ordering`, retention knobs — free-form strings).
    */
  private val configs =
    scala.collection.concurrent.TrieMap.empty[String, Map[String, String]]

  private def dir(name: String) = s"$root/$name"

  /** CREATE TABLE (S2): register schema + create the topic dir + view.
    * `props` carries topic configs; `'cleanup.policy'='compact'` marks
    * the topic keyed-compacted (with `'compaction.ordering'='col[,col…]'`
    * naming the winner ordering), mirroring Kafka's topic-level config.
    */
  def create(name: String, schema: StructType,
      props: Map[String, String] = Map.empty): Unit = {
    require(!registry.contains(name), s"topic $name already exists")
    require(!schema.fieldNames.contains(TopicCatalog.KeyField.name),
      s"column '${TopicCatalog.KeyField.name}' is implicit on every topic table")
    TopicCatalog.rejectDegenerateRows(name, schema)
    validateConfigs(name, schema, props)
    registry(name) = schema
    configs(name) = props
    Files.createDirectories(Paths.get(dir(name)))
    refreshView(name)
  }

  private def validateConfigs(name: String, schema: StructType,
      props: Map[String, String]): Unit = {
    if (props.get("cleanup.policy").contains("compact")) {
      val ordering = compactionOrdering(props)
      require(ordering.nonEmpty,
        s"topic $name: cleanup.policy=compact requires 'compaction.ordering'")
      ordering.foreach(c => require(schema.fieldNames.contains(c),
        s"topic $name: compaction.ordering column '$c' not in schema"))
    }
    props.get("validation").foreach { v =>
      require(v == "strict" || v == "permissive",
        s"topic $name: 'validation' must be 'strict' or 'permissive', got '$v'")
    }
    props.get("partition.by").foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"topic $name: partition.by column '$c' not in schema"))
      require(f.dataType == TimestampType || f.dataType == DateType,
        s"topic $name: partition.by column '$c' must be TIMESTAMP or DATE, " +
          s"got ${f.dataType.simpleString}")
      require(!schema.fieldNames.contains(TopicCatalog.PartitionDirField),
        s"topic $name: column name '${TopicCatalog.PartitionDirField}' is " +
          "reserved for the partition directory of a partitioned topic")
    }
  }

  /** The declared ingest-time partition column, if the topic is
    * partitioned (`'partition.by'='<ts col>'`). Records land in
    * `ingest_dt=YYYY-MM-DD/` subdirectories derived from it — the
    * at-rest layout that lets retention and date-bounded scans prune
    * whole directories at file-listing time instead of reading 100 TB
    * to filter it (Kafka's segment-level retention; a warehouse's date
    * partitions).
    */
  def partitionFieldOf(name: String): Option[String] =
    configsOf(name).get("partition.by")

  private def withPartitionDir(name: String, df: DataFrame): DataFrame =
    partitionFieldOf(name) match {
      case Some(ts) => df.withColumn(TopicCatalog.PartitionDirField,
        date_format(col(ts), "yyyy-MM-dd"))
      case None => df
    }

  /** Declared topic configs (empty map for pre-config topics). */
  def configsOf(name: String): Map[String, String] =
    configs.getOrElse(name, Map.empty)

  /** Replace the topic's configs (the config half of a re-issued CREATE
    * TABLE — the schema half is [[evolve]]); validated like create.
    */
  def updateConfigs(name: String, props: Map[String, String]): Unit = {
    validateConfigs(name, valueSchemaOf(name), props)
    configs(name) = props
  }

  private def compactionOrdering(props: Map[String, String]): Seq[String] =
    props.getOrElse("compaction.ordering", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** Run the topic's declared maintenance: keyed compaction when
    * `cleanup.policy=compact` (latest per key by the declared ordering,
    * tombstones applied), small-file consolidation otherwise. Returns
    * files removed.
    */
  def compactByPolicy(name: String): Int = {
    val props = configsOf(name)
    // Kafka's time-retention knob: on a PARTITIONED topic, expired
    // `ingest_dt=` directories drop at listing time before any rewrite —
    // a 100 TB topic retains by deleting directories, never by reading
    // records. (cleanup.policy=delete is Kafka's default; retention on
    // an unpartitioned topic would need a record-level rewrite, which
    // COMPACT deliberately doesn't do — declare 'partition.by' instead.)
    val expired = (props.get("retention.ms"), partitionFieldOf(name)) match {
      case (Some(ms), Some(_)) =>
        // the cutoff date must be derived in the SAME zone that named the
        // `ingest_dt=` dirs (date_format uses spark.sql.session.timeZone)
        // — a UTC cutoff against non-UTC dir dates could delete a
        // partition still inside retention.ms
        val zone = java.time.ZoneId.of(
          spark.conf.get("spark.sql.session.timeZone"))
        val cutoff = java.time.Instant.now().minusMillis(ms.trim.toLong)
          .atZone(zone).toLocalDate.toString
        expirePartitions(name, cutoff)
      case _ => 0
    }
    val rewritten =
      if (props.get("cleanup.policy").contains("compact")) {
        val ordering = compactionOrdering(props)
        compactKeyed(name, ordering.head, ordering.tail)
      } else compact(name)
    expired + rewritten
  }

  /** Schema evolution (reference README.md:610-612): the table definition
    * follows the registry. Append-only compatibility — every existing
    * field must survive with an identical type; added fields read as null
    * from pre-evolution records (PERMISSIVE schema-on-read).
    */
  def evolve(name: String, newSchema: StructType): Unit = {
    val old = valueSchemaOf(name)
    TopicCatalog.rejectDegenerateRows(name, newSchema)
    require(!newSchema.fieldNames.contains(TopicCatalog.KeyField.name),
      s"column '${TopicCatalog.KeyField.name}' is implicit on every topic table")
    old.fields.foreach { f =>
      val kept = newSchema.fields.find(_.name == f.name).getOrElse(
        throw new IllegalArgumentException(
          s"evolve $name: incompatible evolution drops field '${f.name}'"))
      if (kept.dataType != f.dataType)
        throw new IllegalArgumentException(
          s"evolve $name: incompatible type change for '${f.name}' " +
            s"(${f.dataType.simpleString} -> ${kept.dataType.simpleString})")
    }
    validateConfigs(name, newSchema, configsOf(name))
    registry(name) = newSchema
    refreshView(name)
  }

  /** Declared value schema (what CREATE registered). */
  def valueSchemaOf(name: String): StructType =
    registry.getOrElse(name, throw new IllegalArgumentException(s"unknown topic $name"))

  /** Whether `name` is a registered topic (drives the SQL facade's
    * create-vs-evolve routing for re-issued CREATE TABLE).
    */
  def exists(name: String): Boolean = registry.contains(name)

  /** Read schema: implicit bucket-key column + declared fields. */
  def schemaOf(name: String): StructType =
    StructType(TopicCatalog.KeyField +: valueSchemaOf(name).fields)

  /** Schema-on-read scan of the topic (schemaless bytes + registered
    * schema, SURVEY §1.2). PERMISSIVE like Flink's registry decode:
    * fields absent from a record read as null; extra fields are ignored.
    * recursiveFileLookup reaches into `ingest_dt=` partition dirs
    * without partition-column inference (the partition value is derived
    * pruning metadata — every record keeps its full payload in-file).
    */
  def table(name: String): DataFrame =
    spark.read.schema(schemaOf(name))
      .option("recursiveFileLookup", "true").json(dir(name))

  /** Streaming scan — the "dynamic" in dynamic table (ST1). */
  def stream(name: String): DataFrame =
    spark.readStream.schema(schemaOf(name))
      .option("recursiveFileLookup", "true").json(dir(name))

  /** Date-bounded scan of a partitioned topic that PRUNES AT LISTING
    * TIME: only `ingest_dt=` directories inside [fromDate, toDate]
    * (inclusive, `yyyy-MM-dd`) are handed to the reader — plus any
    * unpartitioned stragglers for correctness — and the declared
    * partition column's predicate is re-applied, so the slice is exact
    * even for records whose file placement predates partitioning. At
    * 100 TB this is the difference between statting three directories
    * and statting the topic.
    */
  def tableSlice(name: String, fromDate: String, toDate: String): DataFrame = {
    val ts = partitionFieldOf(name).getOrElse(throw new IllegalArgumentException(
      s"tableSlice $name: topic has no 'partition.by' config"))
    val topicDir = Paths.get(dir(name))
    val matching = listDir(topicDir).filter { p =>
      val n = p.getFileName.toString
      Files.isDirectory(p) && n.startsWith(TopicCatalog.PartitionDirPrefix) && {
        val v = n.stripPrefix(TopicCatalog.PartitionDirPrefix)
        v >= fromDate && v <= toDate
      }
    }
    // top-level stragglers (records written before the topic was
    // partitioned) can hold any date — include them, the filter decides
    val loose = listDir(topicDir).filter(p =>
      !Files.isDirectory(p) && p.getFileName.toString.endsWith(".json"))
    val files = (matching.flatMap(d => listJsonUnder(d)) ++ loose).map(_.toString)
    val slice =
      if (files.isEmpty)
        spark.createDataFrame(new java.util.ArrayList[Row](), schemaOf(name))
      else spark.read.schema(schemaOf(name)).json(files: _*)
    slice.filter(date_format(col(ts), "yyyy-MM-dd").between(fromDate, toDate))
  }

  /** Kafka-style time retention for a partitioned topic: drop whole
    * `ingest_dt=` directories strictly before `beforeDate` WITHOUT
    * reading a record. Returns the number of partitions removed.
    *
    * Runs under the compaction monitor + lease: an unserialized expiry
    * could race a compaction that already snapshotted the expired files
    * — its commit would resurrect the expired records, and its
    * originals-delete would race the recursive delete. Pending staged
    * work is resolved (rolled back/forward) before anything is deleted,
    * so a crashed compactor's manifest can't replay expired data later.
    */
  def expirePartitions(name: String, beforeDate: String): Int = {
    partitionFieldOf(name).getOrElse(throw new IllegalArgumentException(
      s"expirePartitions $name: topic has no 'partition.by' config"))
    val topicDir = Paths.get(dir(name))
    withCompactionLock(topicDir) {
      recoverCompactions(topicDir)
      val expired = listDir(topicDir).filter { p =>
        val n = p.getFileName.toString
        Files.isDirectory(p) && n.startsWith(TopicCatalog.PartitionDirPrefix) &&
          n.stripPrefix(TopicCatalog.PartitionDirPrefix) < beforeDate
      }
      expired.foreach(deleteRecursively)
      refreshView(name)
      expired.size
    }
  }

  /** The SQL temp view snapshots the file listing at registration time;
    * re-register after every produce/insert so `spark.sql` over the view
    * always sees the latest records. Public so streaming drivers can
    * restore the full view after shadowing it with a micro-batch slice.
    * Runs under [[viewMonitor]].
    */
  def refreshView(name: String): Unit = viewMonitor.synchronized {
    table(name).createOrReplaceTempView(name)
  }

  /** Guards this catalog's topic views: [[refreshView]] re-binds under
    * it, and a streaming micro-batch that shadows a view with its slice
    * holds it until the view is restored, so no produce or insert
    * re-binds a shadowed view mid-batch.
    */
  val viewMonitor = new Object

  /** Manual produce (S5): append RAW JSON records (one per line) — on
    * every topic shape. Partitioning must not change schema-on-read
    * semantics: re-serializing through the declared schema would
    * silently and permanently drop fields the schema doesn't know yet,
    * whereas the raw bytes keep them on disk for later evolution
    * (evolve + PERMISSIVE read). On a partitioned topic the records are
    * grouped into their `ingest_dt=` directories by parsing ONLY the
    * declared partition column (Spark's own parser + session timezone,
    * so placement matches [[withPartitionDir]]); records whose
    * partition column is null/unparseable land at the topic root, where
    * [[tableSlice]] already includes loose files on both sides of the
    * date filter.
    *
    * With `'validation'='strict'` in the topic configs, each record is
    * checked against the declared schema BEFORE anything touches disk —
    * the Schema Registry `additionalProperties: false` contract at
    * produce time (reference README.md:228-252): a record carrying a
    * field the schema doesn't declare (at any nesting depth) is rejected
    * with the registry's error, and the whole produce call fails
    * atomically (no partial append). The default stays the raw-append
    * evolution posture documented above.
    */
  def produceJson(name: String, records: Seq[String]): Unit = {
    valueSchemaOf(name) // existence check
    if (configsOf(name).get("validation").contains("strict"))
      records.foreach(r => TopicCatalog.strictValidate(name, r, schemaOf(name)))
    val topicDir = Paths.get(dir(name))
    def append(dir: java.nio.file.Path, lines: Seq[String]): Unit = {
      Files.createDirectories(dir)
      Files.write(dir.resolve(s"produce-${System.nanoTime()}.json"),
        lines.mkString("", "\n", "\n").getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }
    partitionFieldOf(name) match {
      case Some(_) =>
        import spark.implicits._
        val dated = withPartitionDir(name,
          spark.read.schema(schemaOf(name)).json(spark.createDataset(records)))
          .select(col(TopicCatalog.PartitionDirField)).collect()
          .map(r => Option(r.getString(0)))
        require(dated.length == records.length,
          s"produce $name: ${records.length} records parsed to ${dated.length} rows")
        records.zip(dated).groupBy(_._2).foreach { case (dt, rs) =>
          val target = dt.fold(topicDir)(d =>
            topicDir.resolve(s"${TopicCatalog.PartitionDirPrefix}$d"))
          append(target, rs.map(_._1))
        }
      case None => append(topicDir, records)
    }
    refreshView(name)
  }

  /** INSERT INTO ... VALUES (S7): typed rows against the declared value
    * schema, incl. complex values (the key is produced null, like an
    * unkeyed Kafka record).
    */
  def insertValues(name: String, rows: Row*): Unit =
    insertInto(name, spark.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(rows: _*)), valueSchemaOf(name)))

  /** INSERT INTO ... SELECT (S6, batch): columns are matched by NAME
    * against the registered schema; a mismatch fails at submit time
    * exactly like the reference's sink-schema error (README.md:586-594).
    * The implicit key column may be supplied or omitted (reads null).
    */
  def insertInto(name: String, df: DataFrame): Unit = {
    val target = valueSchemaOf(name)
    val withKey = df.schema.fieldNames.contains(TopicCatalog.KeyField.name)
    val targetNames =
      if (withKey) TopicCatalog.KeyField.name +: target.fieldNames.toSeq
      else target.fieldNames.toSeq
    val missing = target.fieldNames.toSet -- df.schema.fieldNames.toSet
    val extra = df.schema.fieldNames.toSet -- targetNames.toSet
    if (missing.nonEmpty || extra.nonEmpty)
      throw new IllegalArgumentException(
        s"insert into $name: schema mismatch (missing=$missing, unexpected=$extra)")
    val out = withPartitionDir(name, df.select(targetNames.map(col): _*))
    val writer = partitionFieldOf(name) match {
      case Some(_) => out.write.partitionBy(TopicCatalog.PartitionDirField)
      case None => out.write
    }
    writer.option("timestampFormat", TopicCatalog.TsWriteFormat)
      .mode("append").json(dir(name))
    refreshView(name)
  }

  /** DESCRIBE (P5): one row per column with the reference transcript's
    * shape (README.md:543-556) — the implicit key leads with extras
    * `BUCKET KEY`.
    */
  def describe(name: String): DataFrame = {
    import spark.implicits._
    schemaOf(name).fields.map { f =>
      val extras = if (f.name == TopicCatalog.KeyField.name) "BUCKET KEY" else ""
      (f.name, f.dataType.simpleString, f.nullable, extras)
    }.toSeq.toDF("col_name", "data_type", "nullable", "extras")
  }

  /** Compact a topic's accumulated small files. Append-only topics gain
    * one file per produce/insert; at scale the file LISTING becomes the
    * scan bottleneck long before the bytes do (every reader stats every
    * file). Rewrites the current snapshot into `targetFiles`
    * consolidated files, then removes the snapshot's originals.
    *
    * Crash contract (write-ahead MANIFEST, shared with [[compactKeyed]]
    * via [[runCompaction]]): the staged directory (hidden from readers —
    * Spark's file index skips dot-prefixed paths) fills with the
    * consolidated parts, then a MANIFEST naming the originals commits
    * the compaction; only then do parts move in and originals move out.
    * A crash BEFORE the manifest rolls back (staging is discarded,
    * originals untouched); a crash AFTER it rolls FORWARD on the next
    * compaction (remaining moves and deletes complete first), so
    * duplicates are only ever visible between a crash and the next
    * compact — never baked into a converged snapshot. The snapshot reads
    * the LISTED originals explicitly, so records produced concurrently
    * with the compaction are neither copied twice nor lost.
    *
    * Returns the number of original files removed.
    */
  def compact(name: String, targetFiles: Int = 1): Int =
    runCompaction(name, identity, targetFiles)

  /** List the topic's record files — top level plus `ingest_dt=`
    * partition dirs; dot-prefixed staging stays invisible.
    */
  private def listJson(topicDir: java.nio.file.Path): Vector[java.nio.file.Path] =
    listJsonUnder(topicDir)

  private def listJsonUnder(d: java.nio.file.Path): Vector[java.nio.file.Path] =
    listDir(d).flatMap { p =>
      val n = p.getFileName.toString
      if (Files.isDirectory(p))
        if (n.startsWith(".")) Vector.empty else listJsonUnder(p)
      else if (n.endsWith(".json")) Vector(p)
      else Vector.empty
    }

  private def listDir(d: java.nio.file.Path): Vector[java.nio.file.Path] = {
    val s = Files.list(d)
    try s.iterator().asScala.toVector finally s.close()
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }

  /** Complete or discard compactions interrupted by a crash: a staging
    * dir WITHOUT a MANIFEST never became visible — delete it (roll
    * back); one WITH a MANIFEST is committed — finish moving its parts
    * in, delete the originals it names, and remove it (roll forward).
    */
  private def recoverCompactions(topicDir: java.nio.file.Path): Unit =
    listDir(topicDir)
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith(".compact-"))
      .foreach { staged =>
        val manifest = staged.resolve("MANIFEST")
        if (!Files.exists(manifest)) {
          deleteRecursively(staged)
        } else {
          // manifest lines are topic-dir-RELATIVE paths (plain files at
          // the top level, `ingest_dt=.../file` under partitioning)
          val originals = Files.readAllLines(manifest).asScala
          commitCompaction(topicDir, staged, originals.toVector.map(topicDir.resolve(_)))
        }
      }

  /** The commit phase: move staged parts in (deterministic per-part
    * names, so a re-run after a partial commit is idempotent), delete
    * the manifested originals, drop staging. Safe to re-run. A
    * partitioned rewrite's parts sit under `ingest_dt=` subdirectories
    * in staging and keep that placement in the topic, so compaction
    * preserves the pruning layout.
    */
  private def commitCompaction(topicDir: java.nio.file.Path,
      staged: java.nio.file.Path, originals: Seq[java.nio.file.Path]): Unit = {
    val tag = staged.getFileName.toString.stripPrefix(".compact-")
    def moveParts(d: java.nio.file.Path): Unit = listDir(d).foreach { p =>
      val n = p.getFileName.toString
      if (Files.isDirectory(p)) moveParts(p)
      else if (n.startsWith("part-")) {
        val destDir = topicDir.resolve(staged.relativize(p.getParent))
        Files.createDirectories(destDir)
        Files.move(p, destDir.resolve(s"compact-$tag-$n.json"))
      }
    }
    moveParts(staged)
    originals.foreach(Files.deleteIfExists(_))
    // drop partition dirs the deletes emptied (a keyed rewrite can
    // concentrate all keys into fewer dates)
    listDir(topicDir).filter(p => Files.isDirectory(p) &&
      p.getFileName.toString.startsWith(TopicCatalog.PartitionDirPrefix) &&
      listDir(p).isEmpty).foreach(Files.deleteIfExists(_))
    deleteRecursively(staged)
  }

  /** Shared compaction protocol: recover pending work, snapshot the
    * LISTED originals through `transform`, stage, commit (see
    * [[compact]] for the crash contract).
    *
    * SINGLE ACTIVE COMPACTOR per topic, enforced — not assumed. Two
    * concurrent compactions would each treat the other's live
    * (pre-MANIFEST) staging dir as crashed and roll it back, and both
    * could commit full snapshots of the same originals, permanently
    * duplicating every record of a plain compaction. Serialization is
    * two-level: a JVM-wide monitor keyed by the topic directory (all
    * catalog instances in one process queue up), plus an on-disk
    * `.compact.lock` lease (atomic no-overwrite create; dot-prefixed so
    * readers skip it) that makes a compactor in ANOTHER process fail
    * fast instead of corrupting ([[withCompactionLock]]). A crashed
    * compactor's lock expires after
    * [[graft.operators.IndexMaintenance.CompactionLeaseMillis]] and is
    * taken over; its
    * staging is then rolled back/forward by [[recoverCompactions]],
    * which only ever runs with the lock held — so an un-manifested
    * staging dir seen there is always dead, never a live peer's.
    */
  private def runCompaction(name: String, transform: DataFrame => DataFrame,
      targetFiles: Int): Int = {
    val readSchema = schemaOf(name) // existence check
    val topicDir = Paths.get(dir(name))
    withCompactionLock(topicDir) {
      recoverCompactions(topicDir)
      val originals = listJson(topicDir)
      if (originals.isEmpty) { refreshView(name); 0 }
      else {
        // snapshot ONLY the listed files: concurrent produces stay untouched
        val snap = spark.read.schema(readSchema)
          .json(originals.map(_.toString): _*)
        val staged = Files.createTempDirectory(topicDir, ".compact-")
        try {
          val rewritten = withPartitionDir(name, transform(snap)).coalesce(targetFiles)
          val writer = partitionFieldOf(name) match {
            case Some(_) => rewritten.write.partitionBy(TopicCatalog.PartitionDirField)
            case None => rewritten.write
          }
          writer.option("timestampFormat", TopicCatalog.TsWriteFormat)
            .mode("overwrite").json(staged.toString)
          // the MANIFEST is the commit point, so it must APPEAR atomically:
          // write to a temp name, then rename (atomic on one filesystem) — a
          // torn manifest would otherwise roll forward with a partial
          // originals list and bake the unlisted ones in as duplicates
          val tmp = staged.resolve("MANIFEST.tmp")
          Files.write(tmp,
            originals.map(p => topicDir.relativize(p).toString)
              .mkString("\n").getBytes("UTF-8"))
          Files.move(tmp, staged.resolve("MANIFEST"),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        } catch {
          case e: Throwable =>
            // failed before the commit point: roll back NOW rather than
            // leaving staging for the next compaction's recovery
            if (!Files.exists(staged.resolve("MANIFEST")))
              deleteRecursively(staged)
            throw e
        }
        commitCompaction(topicDir, staged, originals)
        refreshView(name)
        originals.size
      }
    }
  }

  /** The single-writer protocol shared by compaction AND partition
    * expiry (both delete topic files): the index stores' lease
    * ([[graft.operators.IndexMaintenance.withStoreLock]] — a JVM-wide
    * monitor keyed by the topic directory, plus the on-disk
    * `.compact.lock` lease against writers in other processes, taken
    * over from a crashed holder by rename and released only by its
    * owner). Topics are local directories, so the lease is a `file:` path.
    */
  private def withCompactionLock[T](topicDir: java.nio.file.Path)(body: => T): T =
    graft.operators.IndexMaintenance.withStoreLock(spark,
      s"file:${topicDir.toAbsolutePath.normalize}")(body)

  /** Produce a CDC-style tombstone: the record that deletes `key` under
    * keyed compaction. Kafka's tombstone is key + null value; a delete
    * in a changelog additionally carries its ordering position (a CDC
    * delete event ships its commit timestamp), so the tombstone here is
    * key + the `orderVals` fields + every other value field null. Until
    * [[compactKeyed]] runs, scans see it as an ordinary (mostly-null)
    * record — exactly a compacted Kafka topic's read behavior before
    * the cleaner has processed the segment.
    */
  def tombstone(name: String, key: Array[Byte], orderVals: Map[String, Any]): Unit = {
    val schema = valueSchemaOf(name)
    val unknown = orderVals.keySet -- schema.fieldNames.toSet
    require(unknown.isEmpty, s"tombstone $name: unknown ordering fields $unknown")
    val full = StructType(TopicCatalog.KeyField +: schema.fields)
    val row = Row.fromSeq(key +: schema.fields.toSeq.map(f => orderVals.get(f.name).orNull))
    // through insertInto so a partitioned topic's tombstone lands in its
    // ingest_dt directory like any other record
    insertInto(name, spark.createDataFrame(java.util.Arrays.asList(row), full))
  }

  /** Keyed (Kafka `cleanup.policy=compact`) compaction: rewrite the
    * topic keeping only the LATEST record per key, ordered by
    * `orderCol` (+ `tiebreaks` — include a unique one for determinism),
    * and dropping keys whose winner is a tombstone (every value field
    * null apart from the ordering columns). Records must all carry a
    * key: Kafka rejects unkeyed produce to compacted topics, enforced
    * here at compact time.
    *
    * Same MANIFEST crash contract as [[compact]] (shared
    * [[runCompaction]] protocol; duplicates visible only between a
    * crash and the next compaction). The winner computation is
    * [[graft.operators.Compaction.latestByKey]] — one shuffle with
    * map-side partial aggregation. `targetFiles` sizes the rewritten
    * snapshot (1 suits local topics; a production compaction would size
    * by bytes-per-file instead).
    *
    * Returns the number of original files removed.
    */
  def compactKeyed(name: String, orderCol: String,
      tiebreaks: Seq[String] = Nil, targetFiles: Int = 1): Int = {
    val schema = valueSchemaOf(name)
    (orderCol +: tiebreaks).foreach(c => require(schema.fieldNames.contains(c),
      s"compactKeyed $name: unknown ordering column '$c'"))
    runCompaction(name, { snap =>
      if (snap.filter(col(TopicCatalog.KeyField.name).isNull).limit(1).count() > 0)
        throw new IllegalStateException(
          s"compactKeyed $name: unkeyed record present — compacted topics require a key")
      val winners = graft.operators.Compaction.latestByKey(
        snap, Seq(TopicCatalog.KeyField.name), orderCol +: tiebreaks)
      val orderSet = (orderCol +: tiebreaks).toSet
      val deadCols = schema.fieldNames.toSeq.filterNot(orderSet.contains)
      if (deadCols.isEmpty) winners
      else winners.filter(!deadCols.map(col(_).isNull).reduce(_ && _))
    }, targetFiles)
  }

  def drop(name: String): Unit = {
    registry.remove(name)
    spark.catalog.dropTempView(name)
  }
}

object TopicCatalog {
  /** The implicit Kafka record key on every topic table (README.md:551). */
  val KeyField: StructField = StructField("key", BinaryType, nullable = true)

  /** Derived partition-directory column of a partitioned topic (never in
    * the value schema; `partitionBy` consumes it at write time). The dir
    * prefix deliberately avoids a leading underscore/dot — Spark's file
    * listing would treat such paths as hidden.
    */
  val PartitionDirField: String = "ingest_dt"
  val PartitionDirPrefix: String = s"$PartitionDirField="

  /** JSON write format for timestamp fields: full microsecond precision.
    * Spark's default JSON `timestampFormat` truncates to milliseconds on
    * WRITE; reads keep the default (its fallback parser accepts both the
    * milli and micro forms, so manually-produced records stay readable).
    */
  val TsWriteFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  /** Produce-time strict validation (`'validation'='strict'`): the
    * Schema Registry `additionalProperties: false` contract (reference
    * README.md:228-252). Parses the record with Jackson (Spark's own
    * JSON machinery — no new dependency) and walks it against the
    * declared read schema: an object field not declared at that nesting
    * level, array elements of struct type, and nested ROWs are all
    * checked; MAP columns accept arbitrary keys by definition; scalar
    * TYPE coercion stays the PERMISSIVE reader's business (the registry
    * gate is about unknown FIELDS silently vanishing from reads, not
    * about lexical number formats). Malformed JSON is rejected outright
    * — strict mode exists to fail at produce, not at first scan.
    */
  private[sources] def strictValidate(
      topic: String, record: String, schema: StructType): Unit = {
    import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
    val root: JsonNode =
      try new ObjectMapper().readTree(record)
      catch { case e: Exception => throw new IllegalArgumentException(
        s"produce $topic: strict validation rejected malformed JSON " +
          s"(${e.getMessage}) in record: ${record.take(120)}") }
    if (root == null || !root.isObject)
      throw new IllegalArgumentException(
        s"produce $topic: strict validation requires a JSON object record, " +
          s"got: ${record.take(120)}")
    def walk(node: JsonNode, dt: DataType, path: String): Unit = dt match {
      case st: StructType if node.isObject =>
        val declared = st.fields.map(f => f.name -> f.dataType).toMap
        node.properties().asScala.foreach { e =>
          declared.get(e.getKey) match {
            case None => throw new IllegalArgumentException(
              s"produce $topic: strict validation rejected record — field " +
                s"'$path${e.getKey}' is not in the declared schema " +
                "(additionalProperties=false)")
            case Some(d) => walk(e.getValue, d, s"$path${e.getKey}.")
          }
        }
      case at: ArrayType if node.isArray =>
        node.elements().asScala.foreach(el => walk(el, at.elementType, path))
      case mt: MapType if node.isObject =>
        // MAP keys are free-form by definition, but the VALUES still
        // carry the declared value type — an undeclared field inside a
        // map-valued struct would otherwise vanish on read, the exact
        // failure strict mode exists to stop
        node.properties().asScala.foreach(e =>
          walk(e.getValue, mt.valueType, s"$path${e.getKey}."))
      case _ => () // scalars coerce on read
    }
    walk(root, schema, "")
  }

  /** Analysis-time rejection of degenerate `ROW<>` anywhere in the schema
    * (fields, array elements, map values) — SURVEY §1.5 / README.md:586-598.
    */
  private[sources] def rejectDegenerateRows(topic: String, schema: StructType): Unit = {
    def check(path: String, dt: DataType): Unit = dt match {
      case s: StructType if s.fields.isEmpty =>
        throw new IllegalArgumentException(
          s"topic $topic: column '$path' is a degenerate ROW<> — JSON object " +
            "columns must model their fields (reference README.md:586-608)")
      case s: StructType => s.fields.foreach(f => check(s"$path.${f.name}", f.dataType))
      case a: ArrayType => check(s"$path[]", a.elementType)
      case m: MapType => check(s"$path{}", m.valueType)
      case _ => ()
    }
    schema.fields.foreach(f => check(f.name, f.dataType))
  }
}
