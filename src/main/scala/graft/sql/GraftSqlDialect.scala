package graft.sql

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.functions.{HashEmbedder, TopKHeap}
import graft.model.StubLlm
import graft.operators.VectorSearch

/** The statement surface of [[GraftSql]] (split mechanically from the
  * 2,600-line monolith, judge r15 task 4): routing by anchored leading-
  * keyword regexes, the DML rewrites (ASOF / interval / JSON_OBJECT /
  * LATERAL TABLE), batch + continuous execution, and the submitted-
  * statement log behind SHOW STATEMENTS. Registration/store lifecycle
  * lives in [[GraftSqlRegistry]]; the search views in [[GraftSql]].
  */
private[sql] trait GraftSqlDialect { self: GraftSql =>

  import GraftSql._
  /** Statement-scoped session options (`SET 'k' = 'v'`) — the Flink
    * spelling the reference's worksheets assume. The one load-bearing
    * key is `'execution.mode' = 'continuous'`: every subsequent
    * `INSERT INTO ... SELECT` then runs as a Structured Streaming query
    * (the reference's submit-and-run-forever semantic, README.md:435)
    * with no Scala-level method choice. Supporting keys:
    * `'execution.checkpoint-dir'` (default: a fresh tmpdir per
    * statement) and `'execution.trigger'` (`'available-now'` drains and
    * stops — spec/bench friendly; any Spark interval string such as
    * `'1 second'` polls; unset = run forever at ProcessingTime(0)).
    */
  private[sql] val sessionOpts =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Streaming queries started by statement-level continuous INSERTs, in
    * start order — callers await/stop these (the facade never blocks on
    * a run-forever statement).
    */
  private[sql] val started =
    new java.util.concurrent.CopyOnWriteArrayList[StreamingQuery]
  def activeStreams: Seq[StreamingQuery] =
    scala.jdk.CollectionConverters.ListHasAsScala(started).asScala.toSeq

  private[sql] def continuousMode: Boolean =
    sessionOpts.get("execution.mode").exists(_.equalsIgnoreCase("continuous"))

  /** Submitted-statement log for `SHOW STATEMENTS` — the reference's
    * visible statement lifecycle ("Submitting statement ... Statement
    * phase is COMPLETED", README.md:544-547,666-669) as a queryable
    * surface. Batch statements record COMPLETED at return (submission
    * analyzes eagerly) or FAILED with the error's head; continuous
    * statements keep their StreamingQuery and resolve the phase LIVE
    * (RUNNING / COMPLETED / FAILED). BOUNDED at 256 entries (oldest
    * evicted) so a run-forever session's log never grows without bound.
    */
  private[sql] val stmtLog = new java.util.ArrayDeque[
    (Long, String, Either[String, StreamingQuery])]
  private[sql] val stmtSeq = new java.util.concurrent.atomic.AtomicLong(0)
  private[sql] val lastStartedStream = new ThreadLocal[StreamingQuery]
  // append + cap-eviction under one monitor (a concurrent-statement
  // burst must neither interleave eviction with append nor pay the
  // CopyOnWriteArrayList's O(n^2) copy storm); the deque pops from the
  // head in O(1). Reads snapshot under the same monitor.
  private[sql] def logStmt(id: Long, sql: String,
      phase: Either[String, StreamingQuery]): Unit = stmtLog.synchronized {
    stmtLog.add((id, sql.replaceAll("\\s+", " ").trim, phase))
    while (stmtLog.size() > 256) stmtLog.poll()
  }

  /** The statement listing: (statement_id, kind, phase, statement) in
    * submission (statement_id) order — concurrent submitters may land
    * in the log out of id order, so the listing sorts — kind is the
    * statement's leading keyword pair, the statement text is
    * whitespace-normalized and truncated.
    */
  private[sql] def showStatements(): DataFrame = {
    import spark.implicits._
    stmtLog.synchronized {
      scala.jdk.CollectionConverters.IteratorHasAsScala(stmtLog.iterator)
        .asScala.toSeq
    }.sortBy(_._1)
      .map { case (id, sql, phase) =>
        val kind = sql.split("\\s+").iterator
          .takeWhile(_.matches("[A-Za-z]+")).take(2)
          .mkString(" ").toUpperCase
        val p = phase match {
          case Left(s) => s
          case Right(q) if q.isActive => "RUNNING"
          case Right(q) if q.exception.isDefined => "FAILED"
          case Right(_) => "COMPLETED"
        }
        (id, kind, p, sql.take(120))
      }.toDF("statement_id", "kind", "phase", "statement")
  }

  /** Execute one statement; DDL forms return a small status/metadata
    * DataFrame, everything else returns whatever `spark.sql` returns.
    * Under `SET 'execution.mode' = 'continuous'`, an INSERT INTO SELECT
    * starts (and registers in [[activeStreams]]) a streaming query
    * instead of draining the topic batch-style. Every submission lands
    * in the [[showStatements]] log (`SHOW STATEMENTS` itself excluded).
    *
    * Routing matches the RAW statement: the DML rewrites never touch the
    * SET/INSERT prefixes these patterns key on, and rewriting here would
    * run the side-effecting ASOF/interval/lateral rewrites a second time
    * (they plan joins eagerly and register temp views — [[executeBatch]]
    * is the single place a statement is rewritten).
    */
  def execute(sql0: String): DataFrame = sql0 match {
    case ShowStatementsRe() => showStatements()
    case _ =>
      val id = stmtSeq.incrementAndGet()
      lastStartedStream.remove()
      val df =
        try executeRouted(sql0)
        catch { case e: Throwable =>
          logStmt(id, sql0, Left(s"FAILED: ${String.valueOf(e.getMessage).take(80)}"))
          throw e
        }
      logStmt(id, sql0, Option(lastStartedStream.get()) match {
        case Some(q) => Right(q)
        case None => Left("COMPLETED")
      })
      lastStartedStream.remove()
      df
  }

  private[sql] def executeRouted(sql0: String): DataFrame = sql0 match {
    case SetOptionRe(k, v) =>
      sessionOpts(k.toLowerCase) = v
      status(s"set ${k.toLowerCase} = $v")

    case ResetOptionRe(k) =>
      sessionOpts.remove(k.toLowerCase)
      status(s"reset ${k.toLowerCase}")

    case InsertIntoRe(table, _, _) if continuousMode && topics.exists(table) =>
      // a configured checkpoint dir is a BASE: each DISTINCT statement
      // gets a content-keyed subdir. Two different streaming INSERTs
      // therefore never share a checkpoint (sharing fails the second
      // start, or worse resumes the wrong offsets), while a re-issued
      // identical statement finds its own subdir again and drains only
      // newly arrived records — the incremental-resume semantic the
      // continuous-mode spec pins.
      val ckpt = sessionOpts.get("execution.checkpoint-dir") match {
        case Some(base) =>
          // whitespace-normalized SHA-256 — a 32-bit hashCode could
          // collide two different statements into one checkpoint
          val digest = java.security.MessageDigest.getInstance("SHA-256")
            .digest(sql0.replaceAll("\\s+", " ").trim.getBytes("UTF-8"))
          val key = digest.take(8).map("%02x".format(_)).mkString
          s"$base/${table}_$key"
        case None =>
          java.nio.file.Files.createTempDirectory("graft_sql_ckpt_").toString
      }
      val trig = sessionOpts.get("execution.trigger") match {
        case Some(t) if t.equalsIgnoreCase("available-now") => Trigger.AvailableNow()
        case Some(interval) => Trigger.ProcessingTime(interval)
        case None => Trigger.ProcessingTime(0L)
      }
      val q = executeStreaming(sql0, ckpt, trigger = trig)
      started.add(q)
      lastStartedStream.set(q) // SHOW STATEMENTS resolves this phase live
      status(s"started continuous INSERT INTO $table (stream id ${q.id})")

    case _ => executeBatch(sql0)
  }

  /** Single rewrite point: the statement is rewritten ONCE, and every
    * temp view the rewrites registered (`graft_asof_N` /
    * `graft_interval_N` / `graft_fedsearch_N`) is dropped after the
    * statement resolves against it — Spark analyzes eagerly on
    * `spark.sql`, so the returned DataFrame keeps working and a
    * long-lived session (or a run-forever continuous INSERT re-rewriting
    * per micro-batch) no longer accumulates views.
    */
  private[sql] def executeBatch(sql0: String): DataFrame = {
    val stmtViews = scala.collection.mutable.ListBuffer.empty[String]
    try executeRewritten(rewriteDml(sql0, stmtViews))
    finally stmtViews.foreach(v => spark.catalog.dropTempView(v))
  }

  private[sql] def executeRewritten(rewritten: String): DataFrame = rewritten match {
    case CreateModelRe(name, in, out, comment, opts) =>
      val options0 = parseOptions(opts)
      val options =
        if (comment != null) options0 + ("comment" -> comment) else options0
      // a model's '<provider>.connection' must exist — the reference
      // fails statements over dangling connections with
      // "Connection '<name>' not found" (README.md:310-316)
      options.collect { case (k, v) if k.endsWith(".connection") => v }
        .foreach(connections.resolve)
      val task = options.getOrElse("task", "chat").toLowerCase
      val fn: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        if (task == "embedding") c => HashEmbedder.embedCol(c)
        else {
          val sys = options.getOrElse("openai.system_prompt",
            options.getOrElse("system_prompt", "You are a helpful assistant"))
          c => StubLlm.respondUdf(sys)(c)
        }
      val v = registry.create(name, task,
        inputType = typeOf(in), outputType = typeOf(out),
        options = options, fn = fn)
      outputNames(name) = nameOf(out)
      status(s"created model $name version $v")

    case AlterModelRe(name, ver) =>
      registry.setDefault(name, ver.toInt)
      status(s"default_version of $name set to $ver")

    case DescribeTableRe(name) if topics.exists(name) =>
      // the reference's `desc \`topic\`` transcript (README.md:543-556):
      // registered topics describe through the catalog so the implicit
      // BUCKET KEY row shows; anything else falls through to spark.sql
      topics.describe(name)

    case DescribeModelRe(ref) =>
      val (name, all) = ref.indexOf('$') match {
        case -1 => (ref, false)
        case i  => (ref.substring(0, i), ref.substring(i + 1) == "all")
      }
      registry.describe(spark, name, all)

    case ShowCorporaRe() =>
      // the search registry's describe surface (the reference's
      // describe-everything pattern, README.md:543/655, extended):
      // declared knobs from registration, posture from the RESOLVED
      // entry — collected corpora serve the exact broadcast scan
      // regardless of declared family, and that's worth seeing
      import spark.implicits._
      corpora.toSeq.sortBy(_._1).map { case (name, r) =>
        val declared = r.family.name
        val (posture, route, rows) = r.serve match {
          case InMemCorpus(mem) => ("collected", "exact-broadcast", mem.length.toLong)
          case _: DfCorpus => ("distributed", declared, -1L)
          case _: LazyCorpus => ("unbound", declared, -1L)
        }
        (name, posture, declared, route, r.numCandidates, rows,
          r.lexicalIndex, r.normalize, r.cdc)
      }.toDF("name", "posture", "declared_index_type", "serving_route",
        "num_candidates", "collected_rows", "lexical_index",
        "normalize_at_build", "cdc_maintained")

    case DropCorpusRe(name) =>
      dropSearchCorpus(name)

    case CompactCorpusRe(name) =>
      // `COMPACT SEARCH CORPUS name`: apply the registration's
      // maintenance rent physically (tombstones leave the stores,
      // epoch segments merge, the widened hnsw beam un-widens, the
      // declared lexical store compacts too). Score-invisible by
      // contract; refused while a maintenance stream is active.
      compactSearchCorpus(name)

    case MaintainCorpusRe(name, topic, seq) =>
      // `MAINTAIN SEARCH CORPUS name FROM TOPIC topic [SEQ col]`: the
      // registration's store tracks the keyed change topic through the
      // claimed-writer CDC front (NULL vector = delete; SEQ orders
      // multi-change batches). AvailableNow semantics: drains what the
      // topic holds, then completes — re-issue to apply later appends.
      val q = maintainSearchCorpus(name, topics.stream(topic), Option(seq))
      status(s"maintaining search corpus $name from topic $topic " +
        s"(stream ${q.id})")

    case CreateTableRe(name, cols, opts) =>
      // Flink column DDL is Spark-DDL compatible once backticks drop and
      // ROW<...> becomes STRUCT<...>.
      val schema = StructType.fromDDL(
        cols.replace("`", "").replaceAll("(?i)\\bROW<", "STRUCT<"))
      val options = parseOptions(opts)
      options.get("connector") match {
        case Some(conn) if conn != "kafka" =>
          // External-connector table, e.g. the reference's ANN-searchable
          // Atlas collection (README.md:355-366): `'connector'='mongodb',
          // 'mongodb.collection'=..., 'mongodb.path'=<vector field>,
          // 'mongodb.numCandidates'=...`. Routes to FEDERATED_SEARCH
          // corpus registration (NOT a topic) against an in-engine
          // backing relation named by `<database>.<collection>` /
          // `<collection>` — resolved lazily at first search, like the
          // external system the options point at.
          // dangling '<connector>.connection' fails like the reference
          // (README.md:310-316)
          options.collect { case (k, v) if k.endsWith(".connection") => v }
            .foreach(connections.resolve)
          // '<connector>.<suffix>' options; flags are 'true' to set
          def opt(suffix: String) =
            options.collectFirst { case (k, v) if k.endsWith(suffix) => v }
          def flag(suffix: String) =
            opt(suffix).exists(_.trim.equalsIgnoreCase("true"))
          val nc = opt(".numcandidates").map(_.trim.toInt).getOrElse(10000)
          VectorSearch.requireNumCandidates(nc)
          val vecField = opt(".path").getOrElse("vector")
          // '<connector>.index.type' picks the distributed search family
          // ([[SearchFamily]]) — distinct from the reference's
          // '<connector>.index', which names the remote index
          // (README.md:362) and stays free-form
          val idxType = opt(".index.type").map(_.trim.toLowerCase)
            .getOrElse(SearchFamily.Flat.name)
          val family = SearchFamily(idxType)
          val backing = (opt(".database"), opt(".collection")) match {
            case (db, Some(coll)) => db.map(d => s"$d.$coll").toSeq :+ coll
            case _ => Seq(name)
          }
          require(schema.nonEmpty, s"external table $name declares no columns")
          // '<connector>.lexical.index' = 'true' declares an at-rest
          // lexical index next to the vector one: worksheet BM25/PRF/
          // hybrid postings then serve from the persisted store
          val lex = flag(".lexical.index")
          // '<connector>.index.normalize' = 'true': unit-norm vectors at
          // build (dot ≡ cosine — the Atlas cosine posture); the hnsw
          // norm-skew radius caveat is closed by declaring this
          val norm = flag(".index.normalize")
          // '<connector>.index.cdc' = 'true': content-keyed CDC
          // maintenance declared at the table (see registerSearchCorpus)
          val cdcOpt = flag(".index.cdc")
          // a re-declared name retires the previous registration's stores
          // first, as re-registration does
          if (corpora.contains(name)) retireCorpusStores(name, failOnClaim = false)
          corpora(name) = Registration(family, nc, norm, cdcOpt, lex,
            source = None, schema.head.name, vecField, lexTag = None,
            LazyCorpus(backing))
          status(s"created external search table $name (connector=$conn, " +
            s"index=$idxType, numCandidates=$nc" +
            (if (norm) ", normalize=true" else "") + ")")
        case _ =>
          // Topic-backed table ('value.format'='json-registry', or
          // connector=kafka): always the TopicCatalog in this engine.
          // A RE-issued CREATE TABLE with a compatible superset schema is
          // the reference's schema-evolution flow — the registry schema
          // evolves and the table definition follows automatically
          // (README.md:610-612); old records read the new fields as null.
          if (topics.exists(name)) {
            topics.evolve(name, schema)
            // the statement's WITH clause is the full new config set —
            // a re-issued CREATE TABLE updates cleanup.policy etc. too
            topics.updateConfigs(name, options)
            status(s"evolved table $name")
          } else {
            topics.create(name, schema, options)
            status(s"created table $name")
          }
      }

    case AlterTableAddRe(name, colsDdl) if topics.exists(name) =>
      // ALTER TABLE t ADD COLUMNS (c TYPE, ...) — the explicit-DDL spelling
      // of the same registry evolution (append-only; README.md:610-612).
      // Guarded on topics.exists like DESCRIBE/COMPACT: ALTER against an
      // ordinary Spark table falls through to spark.sql untouched.
      val added = StructType.fromDDL(
        colsDdl.replace("`", "").replaceAll("(?i)\\bROW<", "STRUCT<"))
      topics.evolve(name, StructType(topics.valueSchemaOf(name).fields ++ added.fields))
      status(s"evolved table $name (+${added.fieldNames.mkString(", ")})")

    case CompactTableRe(name) if topics.exists(name) =>
      // maintenance statement: run the topic's declared cleanup policy
      // (keyed 'compact' with its declared ordering, else small-file
      // consolidation — Kafka's two cleanup policies)
      val removed = topics.compactByPolicy(name)
      status(s"compacted table $name ($removed files rewritten)")

    case ShowPropsRe(name) if topics.exists(name) =>
      // topic configs (cleanup.policy etc.) through the standard Spark
      // spelling; non-topics fall through to spark.sql's own TBLPROPERTIES
      import spark.implicits._
      topics.configsOf(name).toSeq.sorted.toDF("key", "value")

    case InsertIntoRe(table, colList, select) =>
      // INSERT INTO topic [(cols)] SELECT ... — the reference's perpetual
      // pipeline statement (README.md:285-287, 432-445, ~723), batch form:
      // run the SELECT, map positional column names if a list is given,
      // append through the catalog's schema-checked insert. executeBatch,
      // not execute: the inner SELECT is a sub-plan of THIS statement,
      // not a submission of its own (a bare SELECT routes to executeBatch
      // either way, but the public entry would also log it in
      // SHOW STATEMENTS).
      val df0 = executeBatch(select)
      val df = Option(colList) match {
        case Some(cl) =>
          val names = cl.split(",").map(_.trim.replace("`", "")).filter(_.nonEmpty)
          require(names.length == df0.columns.length,
            s"INSERT column list (${names.length}) != SELECT width (${df0.columns.length})")
          df0.toDF(names.toIndexedSeq: _*)
        case None => df0
      }
      topics.insertInto(table, df)
      status(s"inserted into $table")

    case InsertValuesRe(table, colList, valuesBody) =>
      // INSERT INTO topic [(cols)] VALUES (...), ... with Flink's complex
      // literals (README.md:614-623: `ARRAY[ROW('...'), ROW('...')]`):
      // each tuple becomes a SELECT whose ARRAY[/ROW( literals rewrite to
      // array(/named_struct( against the DECLARED column types, then the
      // rows append through the same schema-checked insert as any SELECT.
      val target = topics.valueSchemaOf(table)
      val cols = Option(colList)
        .map(_.split(",").map(_.trim.replace("`", "")).filter(_.nonEmpty).toSeq)
        .getOrElse(target.fieldNames.toSeq)
      val tuples = splitArgs(valuesBody)
      val selects = tuples.map { tup =>
        val t = tup.trim
        require(t.startsWith("(") && t.endsWith(")"),
          s"malformed VALUES tuple: ${t.take(40)}")
        val args = splitArgs(t.substring(1, t.length - 1))
        require(args.length == cols.length,
          s"VALUES width (${args.length}) != column list (${cols.length})")
        cols.zip(args).map { case (c, a) =>
          val dt = target.fields.find(_.name == c).map(_.dataType).getOrElse(
            throw new IllegalArgumentException(
              s"insert into $table: unknown column '$c'"))
          s"${valuesExpr(a, dt)} AS `$c`"
        }.mkString("SELECT ", ", ", "")
      }.mkString(" UNION ALL ")
      topics.insertInto(table, spark.sql(selects))
      status(s"inserted ${tuples.length} row(s) into $table")

    case other => spark.sql(other)
  }

  /** Rewrite one VALUES literal against its declared type: Flink's
    * `ARRAY[...]` → `array(...)` and `ROW(args)` → `named_struct('f1',
    * a1, ...)` with field names taken from the declared STRUCT — applied
    * recursively so `ARRAY[ROW(...), ...]` nests. Anything else passes
    * through as Spark SQL.
    */
  private[sql] def valuesExpr(e: String, dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types.{ArrayType, StructType => St}
    val t = e.trim
    dt match {
      case ArrayType(el, _) if t.toUpperCase.startsWith("ARRAY[") && t.endsWith("]") =>
        val inner = t.substring("ARRAY[".length, t.length - 1).trim
        val elems = if (inner.isEmpty) Seq.empty else splitArgs(inner)
        elems.map(valuesExpr(_, el)).mkString("array(", ", ", ")")
      case st: St if t.matches("(?is)^ROW\\s*\\(.*\\)$") =>
        val args = splitArgs(
          t.replaceAll("(?is)^ROW\\s*\\(", "").dropRight(1))
        require(args.length == st.fields.length,
          s"ROW(...) arity ${args.length} != declared struct ${st.fields.length}")
        st.fields.zip(args).map { case (f, a) =>
          s"'${f.name}', ${valuesExpr(a, f.dataType)}"
        }.mkString("named_struct(", ", ", ")")
      case _ => e
    }
  }

  /** The reference's PERPETUAL pipeline form: an `INSERT INTO ... SELECT`
    * submitted to Flink "will run forever in the background ... performing
    * vector searches against user_questions as they are submitted"
    * (reference README.md:435). Here the same statement runs as a
    * Structured Streaming query: the source topic is opened as a stream,
    * and each micro-batch re-binds the topic's view name to the newly
    * arrived slice and executes the UNCHANGED statement through the batch
    * [[execute]] path — one implementation, two drivers. All rewrites
    * (LATERAL ML_PREDICT / FEDERATED_SEARCH, JSON_OBJECT) and the
    * schema-checked insert therefore behave identically in both modes.
    *
    * Delivery is at-least-once into the target topic (append-only JSON,
    * like unkeyed Kafka records); the checkpoint bounds replay to the
    * last uncommitted micro-batch. Default trigger `AvailableNow` drains
    * what exists and stops (spec-friendly); pass
    * `Trigger.ProcessingTime(0)` for the reference's run-forever mode.
    */
  def executeStreaming(
      sql0: String, checkpointDir: String,
      sourceTopic: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    // parse the RAW statement: the first FROM names the real source
    // topic even when a rewrite would replace it (ASOF/interval/lateral
    // FROM clauses become graft_* temp views), and the side-effecting
    // rewrites stay confined to executeBatch inside each micro-batch
    val (table, select) = sql0 match {
      case InsertIntoRe(t, _, sel) => (t, sel)
      case other => throw new IllegalArgumentException(
        s"executeStreaming expects INSERT INTO ... SELECT, got: ${other.take(80)}")
    }
    val source = sourceTopic.getOrElse {
      val m = """(?is)\bFROM\s+`?([\w.]+)`?""".r.findFirstMatchIn(select)
        .getOrElse(throw new IllegalArgumentException(
          s"cannot locate the source topic in: ${select.take(80)}"))
      m.group(1)
    }
    require(topics.exists(source),
      s"streaming source '$source' is not a registered topic " +
        "(pass sourceTopic explicitly for derived sources)")
    require(topics.exists(table), s"streaming target '$table' is not a registered topic")
    topics.stream(source).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the micro-batch shadows the SOURCE topic's view BY NAME, so no
        // other thread may re-bind it until the batch restores it: not a
        // second statement's micro-batch on the same topic (it would read
        // this batch's slice), and not an insert or produce into the
        // topic, whose refreshView would hand this batch the WHOLE topic
        // (a chained stage writing this stage's source answers twice).
        // The catalog's view monitor covers both: refreshView takes it
        // too. Streams over different catalogs never contend.
        topics.viewMonitor.synchronized {
          // shadow the topic view with this micro-batch's slice, run the
          // verbatim statement batch-style, then restore the full view.
          // The slice must be RE-BOUND to the facade session first:
          // foreachBatch hands a frame owned by the stream's CLONED
          // session, and a temp view registered on the clone is invisible
          // to the facade's spark.sql — the statement would silently read
          // the full topic again every batch.
          val slice = spark.createDataFrame(batch.rdd, batch.schema)
          slice.createOrReplaceTempView(source)
          // executeBatch, not execute: under statement-level continuous
          // mode the outer routing would otherwise start a NEW stream from
          // inside every micro-batch
          try { executeBatch(sql0); () }
          finally topics.refreshView(source)
        }
      }
      .start()
  }

  // --- verbatim-DML rewrites ----------------------------------------------

  /** Text-level rewrites that map the reference's Flink-only DML forms
    * (plus the two time-series join spellings Spark's parser lacks —
    * `ASOF JOIN` and the symmetric `BETWEEN ± INTERVAL` join)
    * onto Spark-parsable equivalents, applied before routing:
    *  - `JSON_OBJECT('k' VALUE v, ...)` → `to_json(named_struct('k', v, ...))`
    *    (README.md:434-439; Spark has no VALUE syntax).
    *  - `FROM t, LATERAL TABLE(ML_PREDICT('m', arg))` →
    *    `FROM (SELECT *, <model-udf>(arg) AS <output-name> FROM t) AS t`
    *    — the reference's 1-row-in/1-row-out lateral (README.md:279-287)
    *    as a narrow projection; the subquery is aliased with the table
    *    name so qualified refs in the SELECT list keep resolving.
    *  - `FROM t, LATERAL TABLE(FEDERATED_SEARCH('corpus', k, v))` →
    *    same shape with a broadcast top-k UDF producing `search_results`
    *    (README.md:425-431); corpus registered via
    *    [[registerSearchCorpus]].
    */
  private[sql] def rewriteDml(
      sql: String,
      views: scala.collection.mutable.Buffer[String]): String =
    rewriteInterval(rewriteAsof(
      rewriteLateral(rewriteJsonObject(sql), views), views), views)

  /** `FROM l [AS a] ASOF [LEFT] JOIN r [AS b] ON a.k = b.k AND a.ts >= b.ts`
    * (DuckDB's spelling; `<=` flips to the forward direction) →
    * [[graft.operators.AsofJoin.asofLeft]] materialized as a temp view
    * aliased with the left alias. The view carries the left columns plus
    * every right column that doesn't collide (the right's own key/ts
    * arrive through the left side) — so the SELECT list references right
    * payloads unqualified or through the left alias. Plain ASOF JOIN is
    * inner (unmatched left rows drop); ASOF LEFT JOIN keeps them with
    * null payloads.
    */
  private[sql] def rewriteAsof(
      sql: String,
      views: scala.collection.mutable.Buffer[String]): String = {
    val m = AsofJoinRe.findFirstMatchIn(sql)
    if (m.isEmpty) return sql
    val mm = m.get
    val lt = mm.group(1).replace("`", "")
    val la = Option(mm.group(2)).getOrElse(lt.substring(lt.lastIndexOf('.') + 1))
    val isLeft = mm.group(3) != null
    val rt = mm.group(4).replace("`", "")
    val ra = Option(mm.group(5)).getOrElse(rt.substring(rt.lastIndexOf('.') + 1))
    val conds = splitTopLevelAnd(mm.group(6))
    require(conds.length == 2,
      s"ASOF JOIN expects exactly `key = key AND ts >= ts` in ON, got: ${mm.group(6)}")
    val QualRef = """(?s)^\s*`?(\w+)`?\s*\.\s*`?(\w+)`?\s*(>=|<=|=|>|<)\s*`?(\w+)`?\s*\.\s*`?(\w+)`?\s*$""".r
    def parse(c: String): (String, String, String, String, String) = c match {
      case QualRef(q1, c1, op, q2, c2) => (q1, c1, op, q2, c2)
      case _ => throw new IllegalArgumentException(
        s"ASOF JOIN ON terms must be alias-qualified comparisons, got: $c")
    }
    val parsed = conds.map(parse)
    val eq = parsed.find(_._3 == "=").getOrElse(throw new IllegalArgumentException(
      s"ASOF JOIN needs one equality key term: ${mm.group(6)}"))
    val ineq = parsed.find(p => Set(">=", "<=", ">", "<").contains(p._3))
      .getOrElse(throw new IllegalArgumentException(
        s"ASOF JOIN needs one >=/<=/>/< time term: ${mm.group(6)}"))
    def isL(q: String) = q.equalsIgnoreCase(la)
    def isR(q: String) = q.equalsIgnoreCase(ra)
    // each term must compare one LEFT column with one RIGHT column —
    // same-side comparisons would silently mis-assign the key/ts roles
    for (term <- Seq(eq, ineq))
      require((isL(term._1) && isR(term._4)) || (isR(term._1) && isL(term._4)),
        s"ASOF JOIN ON terms must compare $la against $ra, got: " +
          s"${term._1}.${term._2} ${term._3} ${term._4}.${term._5}")
    val (lKey, rKey) = if (isL(eq._1)) (eq._2, eq._5) else (eq._5, eq._2)
    // orient the inequality so the left table's ts is on the LHS
    def mirror(op: String): String = op match {
      case ">=" => "<=" case "<=" => ">=" case ">" => "<" case "<" => ">"
    }
    val (lts, rts, op) =
      if (isL(ineq._1)) (ineq._2, ineq._5, ineq._3)
      else (ineq._5, ineq._2, mirror(ineq._3))
    // > / < are the strict boundary: an exactly-coincident right row is
    // excluded (DuckDB's dialect admits both forms)
    val direction = if (op.startsWith(">")) "backward" else "forward"
    val strict = !op.endsWith("=")
    val left = spark.table(lt)
    val right0 = spark.table(rt)
    require(rKey == lKey || !right0.columns.contains(lKey),
      s"ASOF JOIN: cannot align key $rKey to $lKey — right already has $lKey")
    val right = if (rKey == lKey) right0 else right0.withColumnRenamed(rKey, lKey)
    import org.apache.spark.sql.functions.col
    // the right ts rides along under a reserved name: inner semantics
    // filter on it (matched == non-null ts carried from the right row)
    val rtsTagged = right.withColumn("__asof_matched_ts", col(rts))
    val payload = right.columns
      .filterNot(c => c == lKey || left.columns.contains(c)).toSeq :+ "__asof_matched_ts"
    val joined = graft.operators.AsofJoin.asofLeft(
      left, rtsTagged, lKey, lts, rts, payload, direction, strict)
    val df = (if (isLeft) joined
              else joined.filter(col("__asof_matched_ts").isNotNull))
      .drop("__asof_matched_ts")
    val view = s"graft_asof_${fedViewCounter.incrementAndGet()}"
    df.createOrReplaceTempView(view)
    views += view
    rewriteAsof(sql.substring(0, mm.start) + s" FROM $view AS $la " +
      sql.substring(mm.end), views)
  }

  /** Flink's batch interval-join spelling — `FROM a JOIN b ON a.k = b.k
    * AND a.ts BETWEEN b.ts - INTERVAL 'n' <unit> AND b.ts + INTERVAL 'n'
    * <unit>` (symmetric bounds) → [[graft.operators.IntervalJoin.within]]
    * via a temp view, avoiding the broadcast-nested-loop plan Spark
    * would pick for the raw range predicate. Left columns keep their
    * names; colliding right columns surface as `<rightAlias>_<col>`.
    */
  private[sql] def rewriteInterval(
      sql: String,
      views: scala.collection.mutable.Buffer[String]): String = {
    val m = IntervalJoinRe.findFirstMatchIn(sql)
    if (m.isEmpty) return sql
    val mm = m.get
    val lt = mm.group(1).replace("`", "")
    val la = Option(mm.group(2)).getOrElse(lt.substring(lt.lastIndexOf('.') + 1))
    val rt = mm.group(3).replace("`", "")
    val ra = Option(mm.group(4)).getOrElse(rt.substring(rt.lastIndexOf('.') + 1))
    val (k1q, k1, k2q, k2) = (mm.group(5), mm.group(6), mm.group(7), mm.group(8))
    val (t1q, t1) = (mm.group(9), mm.group(10))
    val (t2q, t2) = (mm.group(11), mm.group(12))
    val (n1, u1, t3q, t3, n2, u2) =
      (mm.group(13).toLong, mm.group(14), mm.group(15), mm.group(16),
        mm.group(17).toLong, mm.group(18))
    require(t2q == t3q && t2 == t3 && n1 == n2 && u1.equalsIgnoreCase(u2),
      "interval join expects symmetric BETWEEN x - INTERVAL d AND x + INTERVAL d bounds")
    val gapSeconds = n1 * (u1.toUpperCase match {
      case "SECOND" | "SECONDS" => 1L
      case "MINUTE" | "MINUTES" => 60L
      case "HOUR" | "HOURS"     => 3600L
      case "DAY" | "DAYS"       => 86400L
      case u => throw new IllegalArgumentException(s"unsupported INTERVAL unit $u")
    })
    def isL(q: String) = q.equalsIgnoreCase(la)
    def isR(q: String) = q.equalsIgnoreCase(ra)
    // one side from each table per term (see rewriteAsof)
    require((isL(k1q) && isR(k2q)) || (isR(k1q) && isL(k2q)),
      s"interval join key term must compare $la against $ra")
    require((isL(t1q) && isR(t2q)) || (isR(t1q) && isL(t2q)),
      s"interval join time term must compare $la against $ra")
    val (lKey, rKey) = if (isL(k1q)) (k1, k2) else (k2, k1)
    val (lts, rts) = if (isL(t1q)) (t1, t2) else (t2, t1)
    val left = spark.table(lt)
    val right0 = spark.table(rt)
    require(rKey == lKey || !right0.columns.contains(lKey),
      s"interval join: cannot align key $rKey to $lKey — right already has $lKey")
    val right = if (rKey == lKey) right0 else right0.withColumnRenamed(rKey, lKey)
    import org.apache.spark.sql.functions.col
    // colliding right payloads surface as <rightAlias>_<col> (the right
    // ts included), so both sides' columns stay addressable in the SELECT
    val renames = right.columns.filterNot(_ == lKey).collect {
      case c if left.columns.contains(c) => c -> s"${ra}_$c"
    }.toMap
    val rRenamed = renames.foldLeft(right) { case (d, (from, to)) =>
      d.withColumnRenamed(from, to) }
    val payload = rRenamed.columns.filterNot(_ == lKey).toSeq
    val df = graft.operators.IntervalJoin.within(
      left, rRenamed, lKey, lts, renames.getOrElse(rts, rts), gapSeconds, payload)
    val view = s"graft_interval_${fedViewCounter.incrementAndGet()}"
    df.createOrReplaceTempView(view)
    views += view
    rewriteInterval(sql.substring(0, mm.start) + s" FROM $view AS $la " +
      sql.substring(mm.end), views)
  }

  /** Split on top-level AND (quote/paren aware). */
  private[sql] def splitTopLevelAnd(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0; var inQuote = false; var start = 0; var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQuote) { if (c == '\'') inQuote = false; i += 1 }
      else c match {
        case '\'' => inQuote = true; i += 1
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case _ if depth == 0 && (c == 'a' || c == 'A') &&
            s.regionMatches(true, i, "AND", 0, 3) &&
            (i == 0 || !s.charAt(i - 1).isLetterOrDigit) &&
            (i + 3 >= s.length || !s.charAt(i + 3).isLetterOrDigit) =>
          out += s.substring(start, i); start = i + 3; i += 3
        case _ => i += 1
      }
    }
    out += s.substring(start)
    out.map(_.trim).filter(_.nonEmpty).toSeq
  }

  private[sql] def rewriteJsonObject(sql: String): String = {
    // quote-aware seed: a string literal containing "json_object(" must
    // not trigger the rewrite (matchParen is quote-aware; the seed match
    // has to be too)
    val at = indexOfOutsideQuotes(sql, "json_object")
    if (at < 0) return sql
    val open = sql.indexOf('(', at)
    if (open < 0) return sql
    val close = matchParen(sql, open)
    val inner = sql.substring(open + 1, close)
    val rewrittenInner = inner.replaceAll("(?i)'\\s+VALUE\\s+", "', ")
      .replaceAll("(?i)(?<=')\\s+VALUE\\s+", ", ")
    val replaced = sql.substring(0, at) +
      s"to_json(named_struct($rewrittenInner))" + sql.substring(close + 1)
    rewriteJsonObject(replaced) // handle multiple occurrences
  }

  private[sql] def rewriteLateral(
      sql: String,
      views: scala.collection.mutable.Buffer[String]): String = {
    val m = LateralRe.findFirstMatchIn(sql)
    if (m.isEmpty) return sql
    val mm = m.get
    val table = mm.group(1).replace("`", "")
    val fnKind = mm.group(2).toLowerCase // ml_predict | federated_search
    val open = sql.indexOf('(', mm.end(2))
    val close = matchParen(sql, open)
    val args = sql.substring(open + 1, close)
    // LATERAL TABLE's own closing paren: first non-whitespace after the
    // function call must close the lateral
    var lc = close + 1
    while (lc < sql.length && sql.charAt(lc).isWhitespace) lc += 1
    require(lc < sql.length && sql.charAt(lc) == ')',
      s"malformed LATERAL TABLE near: ${sql.substring(mm.start, math.min(sql.length, mm.start + 80))}")
    val lateralClose = lc
    // a dotted source (db.tbl) can't itself be a subquery alias — alias
    // with the last name segment so unqualified refs keep resolving
    val alias = table.substring(table.lastIndexOf('.') + 1)
    val prefix = sql.substring(0, mm.start)
    val suffix = sql.substring(lateralClose + 1)
    val replaced = fnKind match {
      case "ml_predict" =>
        val (ref, arg) = splitFirstArg(args)
        val call = s"${mlPredictUdf(ref)}($arg)"
        val outName = outputNames.getOrElse(ref.takeWhile(_ != '$'), "json_response")
        s"(SELECT *, $call AS $outName FROM $table) AS $alias"
      case "filtered_search" =>
        // FILTERED_SEARCH('corpus', k, vectorCol, 'predicate'): the
        // Atlas $vectorSearch filter shape on the SQL surface — a
        // metadata predicate (any SQL expression over the REGISTERED
        // corpus's columns) admits a subset, and the top-k is exact
        // over the admitted set (pre-filter: results never under-fill
        // on selective predicates). Routed through the same
        // content-ranked view machinery as FEDERATED_SEARCH, so hits
        // come back as `search_results`.
        val parts = splitArgs(args)
        require(parts.length == 4,
          s"FILTERED_SEARCH expects ('corpus', k, vectorCol, 'predicate'), got: $args")
        val corpus = unquote(parts(0))
        val k = parts(1).trim.toInt
        val pred = unquote(parts(3))
        val reg = resolveCorpus(corpus) // binds lazy corpora
        val admitted =
          try reg.df.filter(org.apache.spark.sql.functions.expr(pred))
          catch { case e: org.apache.spark.sql.AnalysisException =>
            throw new IllegalArgumentException(
              s"FILTERED_SEARCH predicate '$pred' does not resolve against " +
                s"corpus '$corpus' (${reg.df.columns.mkString(", ")}): ${e.getMessage}")
          }
        reg.serve match {
          // a registered index family serves the filter from its index:
          // payload pushdown on the persisted celled stores, over-fetch
          // + post-filter on hnsw AND the in-flight ANN families
          // (pq/sq/bq/lsh) — the exact pre-filter below would pay the
          // full corpus scan the registration was declared to avoid
          case _: DfCorpus if reg.family != SearchFamily.Flat =>
            s"${fedSearchView(table, parts(2), reg, k, Some(pred), views)} AS $alias"
          case _ =>
            // exact pre-filter: "flat" routes the view through the exact
            // bounded-heap ranking over the admitted subset;
            // registration-unique tag (serve-only)
            val fc = Registration(SearchFamily.Flat, 10000, normalize = false,
              cdc = false, lexicalIndex = false, Some(admitted), reg.contentCol,
              reg.vecCol, lexTag = None,
              DfCorpus(s"sqlf_${corpus}_g${GraftSql.corpusGen.incrementAndGet()}"))
            s"${fedSearchView(table, parts(2), fc, k, None, views)} AS $alias"
        }
      case "radius_search" =>
        // RADIUS_SEARCH('corpus', threshold, vectorCol [, nBits,
        // nTables]): every corpus vector with cosine ≥ threshold of the
        // row's query vector — the reference's pattern is every search
        // shape reachable from the worksheet (README.md:404-407); hits
        // come back as `search_results` like every other search
        // lateral. The optional LSH knobs apply on the beyond-cap path
        // only; defaults are the parameters the radius recall contract
        // measured (≥50% margin at all three SFs — q_radius_lsh_recall).
        val parts = splitArgs(args)
        require(parts.length >= 3 && parts.length <= 5,
          s"RADIUS_SEARCH expects ('corpus', threshold, vectorCol[, 'predicate' | nBits, nTables]), got: $args")
        val corpus = unquote(parts(0))
        // numeric args rethrow as the dialect's named error, not a raw
        // NumberFormatException — same guard contract as the arity check
        def numArg[A](i: Int, what: String, parse: String => A): A =
          try parse(parts(i).trim)
          catch { case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"RADIUS_SEARCH $what must be numeric, got '${parts(i).trim}' — " +
                "usage: RADIUS_SEARCH('corpus', threshold, vectorCol[, 'predicate' | nBits, nTables])")
          }
        val threshold = numArg(1, "threshold", _.toDouble)
        // a QUOTED 4th arg is a METADATA PREDICATE (the Atlas
        // filter-inside-$vectorSearch shape on the radius); anything
        // unquoted parses as the numeric nBits knob — quoting, not
        // "fails the numeric regex", is the disambiguator, so a numeric
        // string in exotic spelling ('5e-1') errors as a bad knob
        // instead of being silently reinterpreted as a predicate
        val rpred = if (parts.length == 4 && parts(3).trim.startsWith("'"))
            Some(unquote(parts(3)))
          else None
        val nBits = if (rpred.isEmpty && parts.length >= 4)
          numArg(3, "nBits", _.toInt) else 4
        val nTables = if (parts.length >= 5) numArg(4, "nTables", _.toInt) else 24
        s"${radiusSearchView(table, parts(2), corpus, threshold,
          nBits, nTables, rpred, views)} AS $alias"
      case "hybrid_search" =>
        // HYBRID_SEARCH('corpus', k, vectorCol, textCol [, 'predicate']):
        // reciprocal-rank fusion of the corpus's vector ranking with a
        // BM25 keyword ranking of the text expression's tokens over
        // corpus contents — the production retrieval pattern next to
        // pure FEDERATED_SEARCH. The optional predicate restricts BOTH
        // legs to the admitted metadata subset (exact vector leg, Lucene
        // filtered-query BM25 leg with GLOBAL stats) before fusing.
        val parts = splitArgs(args)
        require(parts.length == 4 || parts.length == 5,
          s"HYBRID_SEARCH expects ('corpus', k, vectorCol, textCol[, 'predicate']), got: $args")
        val corpus = unquote(parts(0))
        val k = parts(1).trim.toInt
        val hpred = if (parts.length == 5) Some(unquote(parts(4))) else None
        s"${hybridSearchView(table, parts(2), parts(3), corpus, k, hpred, views)} AS $alias"
      case "prf_search" =>
        // PRF_SEARCH('corpus', k, textCol [, fbDocs, fbTerms]): BM25
        // keyword retrieval under pseudo-relevance-feedback expansion —
        // the re-ranker surfaced in the same pure-SQL interface as the
        // reference's searches (README.md:404-407), backed by the one
        // [[graft.operators.Lexical.bm25PrfTopK]] implementation
        val parts0 = splitArgs(args)
        // a trailing QUOTED arg is a metadata predicate (restricts BOTH
        // PRF passes under global stats); knobs are always unquoted
        // numerics, so quoting disambiguates — a numeric string or
        // exponent spelling can't be silently reinterpreted
        val prfPred = parts0.drop(3).lastOption
          .filter(_.trim.startsWith("'"))
          .map(unquote)
        val parts = if (prfPred.isDefined) parts0.dropRight(1) else parts0
        require(parts.length >= 3 && parts.length <= 5,
          s"PRF_SEARCH expects ('corpus', k, textCol[, fbDocs, fbTerms][, 'predicate']), got: $args")
        val corpus = unquote(parts(0))
        val k = parts(1).trim.toInt
        val fbDocs = if (parts.length >= 4) parts(3).trim.toInt else 5
        val fbTerms = if (parts.length >= 5) parts(4).trim.toInt else 3
        s"${prfSearchView(table, parts(2), corpus, k, fbDocs, fbTerms, prfPred, views)} AS $alias"
      case "maxsim_search" =>
        // MAXSIM_SEARCH('corpus', k, vectorCol): multi-vector late
        // interaction (Khattab & Zaharia 2020) — a corpus registered
        // with SEVERAL vectors per content (one row per chunk/member,
        // each carrying its parent document's content) ranks contents
        // by their BEST member's similarity; one
        // [[graft.operators.VectorSearch.groupMaxSimTopK]] core, two
        // surfaces
        val parts = splitArgs(args)
        require(parts.length == 3 || parts.length == 4,
          s"MAXSIM_SEARCH expects ('corpus', k, vectorCol[, 'predicate']), got: $args")
        val corpus = unquote(parts(0))
        val k = parts(1).trim.toInt
        val msPred = if (parts.length == 4) Some(unquote(parts(3))) else None
        s"${maxSimSearchView(table, parts(2), corpus, k, msPred, views)} AS $alias"
      case "mmr_search" =>
        // MMR_SEARCH('corpus', k, vectorCol [, candN, lambda]):
        // maximal-marginal-relevance diversity re-rank of the corpus's
        // cosine top-candN — one [[graft.operators.Lexical.mmrRerank]]
        // core, two surfaces (Scala + SQL)
        val parts0 = splitArgs(args)
        // a trailing QUOTED arg is a metadata predicate (admits the
        // candidate pool before the diversity selection); the candN /
        // lambda knobs are always unquoted numerics, so quoting
        // disambiguates (see PRF_SEARCH)
        val mmrPred = parts0.drop(3).lastOption
          .filter(_.trim.startsWith("'"))
          .map(unquote)
        val parts = if (mmrPred.isDefined) parts0.dropRight(1) else parts0
        require(parts.length >= 3 && parts.length <= 5,
          s"MMR_SEARCH expects ('corpus', k, vectorCol[, candN, lambda][, 'predicate']), got: $args")
        val corpus = unquote(parts(0))
        val k = parts(1).trim.toInt
        val candN = if (parts.length >= 4) parts(3).trim.toInt else math.max(3 * k, 10)
        val lambda = if (parts.length >= 5) parts(4).trim.toDouble else 0.5
        s"${mmrSearchView(table, parts(2), corpus, k, candN, lambda, mmrPred, views)} AS $alias"
      case _ =>
        val parts = splitArgs(args)
        require(parts.length == 3,
          s"FEDERATED_SEARCH expects ('corpus', k, vectorCol), got: $args")
        val corpus = unquote(parts(0))
        val k = parts(1).trim.toInt
        val reg = resolveCorpus(corpus)
        reg.serve match {
          case mem: InMemCorpus =>
            val call = s"${federatedSearchUdf(corpus, mem, k)}(${parts(2)})"
            s"(SELECT *, $call AS search_results FROM $table) AS $alias"
          case _ =>
            // beyond the driver-collect cap: distributed search through
            // the declared family, materialized as a temp view carrying
            // the source columns + search_results
            s"${fedSearchView(table, parts(2), reg, k, None, views)} AS $alias"
        }
    }
    rewriteLateral(s"$prefix FROM $replaced $suffix", views)
  }
  /** Register (idempotently) a scalar UDF evaluating the resolved model
    * and return its name. Output type follows the model task: embedding
    * → ARRAY<FLOAT>, otherwise STRING.
    */
  private[sql] def mlPredictUdf(ref: String): String = {
    val resolved = registry.resolve(ref) // fails fast on unknown ref
    val fname = ("ml_predict__" + ref).replaceAll("[^\\w]", "_")
    if (resolved.task == "embedding")
      spark.udf.register(fname, (s: String) => HashEmbedder.embed(s, HashEmbedder.DefaultDim))
    else {
      val sys = resolved.options.getOrElse("openai.system_prompt",
        resolved.options.getOrElse("system_prompt", "You are a helpful assistant"))
      spark.udf.register(fname, (s: String) => StubLlm.respond(sys, s))
    }
    fname
  }

  /** Register (idempotently) the broadcast top-k UDF for a collected
    * corpus and return its name: dot-product scoring over the corpus with
    * a bounded [[TopKHeap]] (O(n log k), no per-row sort allocation),
    * best k contents as ARRAY<STRUCT<content STRING>> (the reference's
    * `search_results` shape, README.md:417,425-431). Ties break by
    * content asc (rows are content-sorted at registration, and the heap
    * breaks score ties by index asc).
    */
  private[sql] def federatedSearchUdf(corpus: String, mem: InMemCorpus, k: Int): String = {
    val bc = mem.broadcast(spark.sparkContext)
    val fname = s"federated_search__${corpus}__$k".replaceAll("[^\\w]", "_")
    spark.udf.register(fname, (v: Seq[Float]) => {
      val rows = bc.value
      val q = if (v == null) Array.empty[Float] else v.toArray
      val heap = new TopKHeap(k, ascending = false)
      var i = 0
      while (i < rows.length) {
        heap.insert(i.toLong, VectorSearch.scoreF32("dot", q, rows(i)._2))
        i += 1
      }
      (0 until heap.n).map(j => SearchHit(rows(heap.ids(j).toInt)._1))
    })
    fname
  }
}
