package graft.exec

import graft.catalog.{ChangelogMode, InMemoryCatalog, TableMeta}
import graft.ddl.StatementPreprocessor
import graft.ddl.StatementPreprocessor._
import graft.exec.StreamingStatementRunner.{Driver, RegularShape, Route, Term}
import graft.operators.ChangelogOps
import graft.sources.{Fs, TopicConf, Topics}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Streaming execution of the reference's statement dialect: every
  * `INSERT INTO` becomes a LONG-RUNNING StreamingQuery, exactly as a
  * `confluent_flink_statement` INSERT is a never-terminating job
  * (SURVEY.md §3.1 "The INSERT statements are long-running").
  *
  * Every table is topic-backed (`graft.sources.Topics`): INSERT sinks
  * encode each micro-batch into Kafka-shaped records and append them to
  * the target's topic with a fully DISTRIBUTED write — no rows ever
  * funnel through the driver. The visible table view is a
  * materialization over the topic read-back:
  *
  *  - upsert (PRIMARY KEY): compacted-topic contract — key = PK JSON,
  *    value = rest; visible state = latest record per key by offset
  *    (`ChangelogOps.latestByKey`, sort-free).
  *  - append/retract: the value carries the whole row (plus the `__op`
  *    tag for retract); visible state = every record in offset order.
  *
  * Source tables registered via `registerTopicSource` expose the two
  * system columns the reference exposes (SURVEY.md §1.4): `key` — raw
  * message key bytes, retyped AT SCAN by `ALTER TABLE ... MODIFY (key
  * STRING)` (S7/S8, `terraform/lab-joins/main.tf:465,498`) — and
  * `$rowtime` — the record timestamp, the watermark column (S9/S10).
  *
  * Join execution: an INSERT whose select references ONE streaming
  * table plus materialized (batch) views runs as a per-micro-batch
  * snapshot join — the micro-batch shadows the streaming view's name,
  * the select is re-resolved FRESH so dimension tables join at their
  * CURRENT upsert state (the Flink regular join against a versioned
  * table's latest state). Pure-streaming selects run natively.
  *
  * Table-to-table continuous INSERT (Flink's everyday statement shape
  * beyond the reference's corpus): a select with NO streaming source
  * in FROM promotes its first runner-created topic-backed ref to a
  * changelog stream of that table's topic ([[changelogStream]] — every
  * upsert revision flows as its own record) and drives the statement
  * with it; remaining refs snapshot-join as above. The promoted
  * table's own view keeps serving materialized STATE to every other
  * consumer.
  */
final class StreamingStatementRunner(spark: SparkSession,
                                     val catalog: InMemoryCatalog = new InMemoryCatalog,
                                     topicConf: Option[TopicConf] = None) {

  /** Without a `TopicConf`, a temp topic root that is deleted at JVM exit. */
  val conf: TopicConf = topicConf.getOrElse(
    TopicConf(Fs.tempDirDeletedAtExit("graft-topics")))

  /** Checkpoint root for the long-running INSERT queries — lives under
    * the topic root (dot-prefixed: invisible to file listings), so a
    * RESTARTED runner on the same `TopicConf` resumes every INSERT
    * from its committed offsets instead of replaying the whole source.
    * Restart contract: re-run the SAME script in the SAME statement
    * order — each INSERT's checkpoint dir and epoch namespace key on
    * its position among the script's INSERTs (`insertSeq`), which a
    * faithful re-run reproduces (exactly how the reference re-applies
    * its Terraform statement set against durable Flink jobs). */
  private def checkpointRoot: String = s"${conf.root}/.checkpoints"

  /** Per-statement execution session. KEEPS AQE's parallelism-first
    * partition coalescing regardless of the session-global setting
    * (round 21): a statement's per-micro-batch frames are deliberately
    * small (the statePartitions narrowing) and its jobs are
    * drain-latency-bound, and advisory-size coalescing decides from an
    * exchange's INPUT bytes — it cannot see a join's output fan-out,
    * so it folded q249's self-join pair explosion onto ONE task
    * (A/B at sf0.1: 14.1 s → 20.0 s min-of-3). The session-global
    * advisory-size coalescing (`graft.SessionTuning`) stays in force
    * for batch analytics, where input bytes do predict work. */
  private def microBatchSession(): SparkSession = {
    val s = org.apache.spark.sql.GraftSqlBridge.cloneSession(spark)
    s.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
    s
  }

  private val queries = scala.collection.mutable.ArrayBuffer.empty[StreamingQuery]
  /** Regular-join operator state directories by QUERY NAME — one entry
    * per state-owning side: (real table, state dir, appendOnly). What
    * [[progressSummary]] sizes into [[StatementProgress.joinState]]
    * (VERDICT r18 item 6: a silently growing fact log is the first
    * thing a production operator asks about). */
  private val joinStateDirs =
    scala.collection.mutable.Map.empty[String, Seq[(String, String, Boolean)]]
  /** Statement index among this runner's INSERTs, in run order —
    * restart-stable (same script ⇒ same index), unlike a timestamp or
    * a global counter surviving only one process. Partitions the
    * 23-bit epoch space BATCH-MAJOR: epoch = batchId·2^4 + insertSeq,
    * so (a) two INSERTs into one topic can never collide epochs, (b) a
    * replayed micro-batch (same batchId) lands on the SAME epoch —
    * which `Topics.appendJson` then overwrites, not duplicates — and
    * (c) upsert latest-by-offset order across writers follows batch
    * PROGRESSION (≈ arrival time), not statement position: were the
    * statement id the high bits, the later statement's rows would win
    * a key forever regardless of when they arrived. Budget: ≤16
    * INSERTs per runner, ≤2^19 micro-batches per statement (a hard,
    * LOUD bound of the files-transport offset packing — the Kafka
    * transport has broker-assigned offsets and no such bound). */
  private val insertSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  /** Qualified tables consumed by a PROMOTED (table-to-table) INSERT;
    * a later INSERT targeting one of them means the DAG is declared
    * out of topological order and the drain needs multiple passes. */
  private val promotedDrivers = scala.collection.mutable.Set.empty[String]
  /** Qualified upsert tables that already have an INSERT writer — a
    * second writer would interleave epochs nondeterministically (see
    * the guard in [[run]]). */
  private val upsertWriters = scala.collection.mutable.Set.empty[String]
  @volatile private var outOfOrderChain = false
  /** decoded (pre-cast, pre-watermark) topic sources by table name */
  private val sources = scala.collection.mutable.Map.empty[String, DataFrame]
  /** qualified table name → physical topic name. Externally-registered
    * sources keep their given topic; runner-created targets get a
    * SCOPED topic (qualified name, sanitized), so two same-named tables
    * in different catalog/database scopes never share a log. */
  private val topicOf = scala.collection.mutable.Map.empty[String, String]

  private def targetTopic(name: String): String = synchronized {
    topicOf.getOrElseUpdate(catalog.qualify(name),
      catalog.qualify(name).replaceAll("[^\\w]", "_"))
  }

  /** A target's identity, RESOLVED at statement-run time: `USE` mid-
    * stream must not re-route a running INSERT's micro-batches — the
    * scoped view and topic are captured here, not re-qualified per
    * batch. Temp views are a flat namespace, so each scoped table gets
    * a fully-qualified shadow view (`cat__db__table`, non-word
    * characters sanitized: the reference's environment ids are
    * hyphenated, and a hyphen in a temp-view name is a ParseException)
    * and the BARE name is a binding of the CURRENT scope. */
  private final case class TargetBinding(bare: String, qualified: String,
                                         scoped: String, topic: String)

  private def bind(bare: String): TargetBinding = synchronized {
    val q = catalog.qualify(bare)
    TargetBinding(bare, q, q.replace(".", "__").replaceAll("[^\\w]", "_"),
      targetTopic(bare))
  }

  /** True when `b`'s table is what the CURRENT scope resolves its bare
    * name to — only then may a view refresh touch the bare binding. */
  private def inCurrentScope(b: TargetBinding): Boolean =
    catalog.qualify(b.bare) == b.qualified

  /** Re-point bare-name bindings on USE:
    * unbind the old scope's runner-created views, switch, rebind the
    * new scope's from their scoped shadows. Externally-registered
    * sources (no shadow view) are left alone. */
  private def switchScope(switch: () => Unit): Unit = synchronized {
    def shadowOf(bare: String): String =
      catalog.qualify(bare).replace(".", "__").replaceAll("[^\\w]", "_")
    catalog.inScope.foreach { bare =>
      if (spark.catalog.tableExists(shadowOf(bare)))
        spark.catalog.dropTempView(bare)
    }
    switch()
    catalog.inScope.foreach { bare =>
      if (spark.catalog.tableExists(shadowOf(bare)))
        spark.table(shadowOf(bare)).createOrReplaceTempView(bare)
    }
  }

  def activeQueries: Seq[StreamingQuery] = queries.toSeq

  def runScript(script: String): Unit =
    StatementPreprocessor.splitScript(script).foreach(run)

  /** Register a topic-backed source table: unbounded scan of the topic's
    * records, JSON values decoded to `valueSchema` (+ `keySchema` fields
    * for compacted topics), with `key`/`$rowtime` system columns. The
    * reference's analog is catalog auto-registration of every topic via
    * Schema Registry (SURVEY.md §1.1 — no CREATE TABLE exists for the
    * datagen tables, yet statements query them). */
  def registerTopicSource(name: String, valueSchema: StructType,
                          keySchema: Option[StructType] = None): Unit = {
    Topics.ensureTopic(spark, conf, name)
    val records = Topics.readStreamRecords(spark, name, conf)
    sources(name) = Topics.decodeJson(records, valueSchema, keySchema).drop("__offset")
    catalog.getOrCreate(name)
    topicOf(catalog.qualify(name)) = name // external topic keeps its name
    refreshSourceView(name)
  }

  /** (Re)bind a topic source's view applying the CURRENT catalog state:
    * ALTER MODIFY column casts act at scan (S7/S8 key retype), the
    * watermark (S9/S10) applies to its declared column. */
  private def refreshSourceView(name: String): Unit = sources.get(name).foreach { base =>
    val meta = catalog.getOrCreate(name)
    val casted = meta.columnCasts.foldLeft(base) { case (df, (c, t)) =>
      if (df.columns.contains(c)) df.withColumn(c, col(c).cast(t)) else df
    }
    val watermarked = meta.watermarkCol match {
      case Some(wc) if casted.columns.contains(wc) =>
        // backtick-quote: `$rowtime` would otherwise be parsed
        casted.withWatermark(s"`$wc`", meta.watermarkDelay)
      case _ => casted
    }
    watermarked.createOrReplaceTempView(name)
  }

  def run(stmt: String): Option[StreamingQuery] = StatementPreprocessor.parse(stmt) match {

    case ct: CreateTable =>
      val ddl = ct.columns
        .map { case (n, t) => s"`$n` ${StatementPreprocessor.toSparkType(t)}" }
        .mkString(", ")
      val schema = org.apache.spark.sql.types.StructType.fromDDL(ddl)
      catalog.register(TableMeta(ct.name,
        schema = Some(schema),
        primaryKey = ct.primaryKey,
        buckets = ct.buckets, changelogMode = ct.changelogMode, options = ct.options))
      val b = bind(ct.name)
      Topics.ensureTopic(spark, conf, b.topic)
      // materialize the view NOW from the topic read-back (scoped
      // shadow + bare binding) so later statements in the same script
      // can be analyzed before the INSERT's first micro-batch refreshes
      // it (the reference's depends_on DAG only orders creation, not
      // data arrival). On a FRESH topic this is the empty frame of the
      // declared schema; on a RESTART the topic already holds prior
      // epochs and the view hydrates to the pre-crash state — without
      // this, a restarted runner with no new input would serve an
      // empty table until the next micro-batch.
      val meta = catalog.getOrCreate(ct.name)
      refreshTargetView(spark, b, meta, sunkSchema(meta, schema))
      None

    case insert @ InsertInto(target, _, _) =>
      val meta = catalog.getOrCreate(target)
      val binding = bind(target)
      // an earlier statement promoted-consumes this target → the DAG
      // is declared out of topological order; widen the drain
      if (promotedDrivers.contains(binding.qualified)) outOfOrderChain = true
      // ONE writer per upsert target: the epoch packing orders a
      // topic's records per STATEMENT (batchId·2^4 + insertSeq), so a
      // second writer's latest-by-offset would follow each statement's
      // own batch progression, not arrival time — an older revision
      // from the statement with the larger batchId would beat a newer
      // one from the other, silently and forever. The slot is claimed
      // ATOMICALLY here and RELEASED if routing or the query start
      // throws (ADVICE r14: the old check-then-act pair raced
      // across two synchronized blocks, and a failed start leaked the
      // claim forever). It is deliberately NOT released on stopAll: a
      // re-declared statement would draw a fresh stmtId whose epochs
      // restart at batchId 0 and sort BELOW the predecessor's high
      // batches — latest-per-key would resurrect old values. Restart
      // the RUNNER on the same script instead (same stmtIds, same
      // checkpoints — the supported restart contract). Append targets
      // interleave harmlessly (records are facts).
      if (meta.isUpsert) synchronized {
        require(!upsertWriters.contains(binding.qualified),
          s"INSERT INTO $target: a second INSERT statement into upsert table " +
            s"${binding.qualified} — two writers' epochs interleave by batch " +
            "progression, not arrival, making latest-per-key nondeterministic. " +
            "UNION the feeds into one INSERT, or target separate tables.")
        upsertWriters += binding.qualified
      }
      val q = try start(insert, binding, meta, route(insert)) catch {
        case t: Throwable =>
          if (meta.isUpsert) synchronized { upsertWriters -= binding.qualified }
          throw t
      }
      queries += q
      Some(q)

    case AlterModifyColumn(table, column, newType) =>
      catalog.update(table)(m => m.copy(
        columnCasts = m.columnCasts + (column -> StatementPreprocessor.toSparkType(newType))))
      refreshSourceView(table)
      None

    case AlterModifyWatermark(table, column, expr) =>
      val delay = StatementPreprocessor.parseWatermarkDelay(column, expr)
      catalog.update(table)(_.copy(watermarkCol = Some(column), watermarkDelay = delay))
      refreshSourceView(table)
      None

    case UseCatalog(name) =>
      switchScope(() => catalog.currentCatalog = name)
      None

    case UseDatabase(name) =>
      switchScope(() => catalog.currentDatabase = name)
      None

    case Passthrough(sql) =>
      spark.sql(sql)
      None
  }

  /** An INSERT's route, decided once at submission from its parsed
    * select and the catalog. Pure: it builds no stream, starts no
    * query and changes no runner state; it raises the statement's
    * routing rejections.
    *
    * The DRIVER is the select's one streaming ref; with none, its first
    * runner-created topic table, PROMOTED to a changelog stream of that
    * table's topic (Flink's everyday table-to-table INSERT: the
    * promoted table's own view keeps serving materialized state to
    * every other consumer); with several, the select streams as is.
    * Then one table over the driver's aggregate contexts (`shape`,
    * scoped to the driver: a dim-only subquery/CTE aggregate is
    * re-evaluated per batch by the snapshot re-resolution and needs no
    * folding, ADVICE r14), the ref count, whether the driver's
    * revisions retract (a promoted upsert or retract table), and the
    * regular-join shape — first match wins:
    *
    *  1. an aggregate with no native streaming form (exact DISTINCT;
    *     first/last, which fold by arrival order — an EXTERNAL stream
    *     carries none, and the merge path rejects that loudly, ADVICE
    *     r15; listagg/collect), an aggregate over a join, or an order
    *     statistic over retracting revisions → [[Route.MergeAgg]];
    *  2. any other aggregate over retracting revisions →
    *     [[Route.RetractAgg]] (ChangelogNormalize/the `__op` tag give
    *     the sign, RetractAggRewrite folds it);
    *  3. any other aggregate (one ref, insert-only rows) →
    *     [[Route.Direct]]: Spark's native streaming aggregation;
    *  4. a retract target and at least one upsert dim among the FROM
    *     and subquery refs (an EXISTS blocklist is a dim though it
    *     never appears in FROM) → [[Route.RegularJoin]]: dim revisions
    *     retract and re-emit past enrichments;
    *  5. several refs → [[Route.SnapshotJoin]]: the dims join at their
    *     current state, past enrichments freeze;
    *  6. otherwise [[Route.Direct]].
    *
    * Both aggregate routes only take a top-level GROUP BY: a
    * subquery-hidden or nested aggregate would see raw per-batch rows
    * or revisions, so it is rejected here. */
  private[graft] def route(insert: InsertInto): Route = {
    val InsertInto(target, _, select) = insert
    val refs = tableRefs(select)
    val streams = refs.filter(r => spark.catalog.tableExists(r) && spark.table(r).isStreaming)
    if (streams.size > 1) return Route.Direct(None)
    val driver = streams.headOption.map(Driver(_, promoted = false)).getOrElse {
      val promotable = refs.filter(isTopicTable)
      require(promotable.nonEmpty,
        s"INSERT INTO $target: select references no streaming source " +
          "and no topic-backed table — a continuous INSERT needs a " +
          "changelog to drive it; run a one-off query as a plain SELECT")
      Driver(promotable.head, promoted = true)
    }
    val retracts = driver.promoted && catalog.get(driver.table).exists(m =>
      m.isUpsert || m.changelogMode == ChangelogMode.Retract)
    val shape = aggregateContexts(select, Some(driver.table))
    val agg = shape.contexts > 0
    def foldable(over: String): Unit =
      require(shape.topIsAggregate && shape.contexts == 1,
        s"INSERT INTO $target: an aggregate hidden in a subquery, CTE, or " +
          s"nested under other operators over $over would see raw " +
          "per-batch rows — only a top-level GROUP BY select folds " +
          "continuously on this path.")
    if (shape.hasDistinctAgg || shape.hasArrivalAgg || shape.hasCollectAgg ||
        agg && (refs.size > 1 || retracts && shape.needsMultiset)) {
      foldable(driver.table)
      Route.MergeAgg(driver, mayRetract = retracts, needProvenance = shape.hasArrivalAgg)
    } else if (agg && retracts) {
      foldable(s"changelog table ${driver.table}")
      Route.RetractAgg(driver.table)
    } else if (agg) Route.Direct(Some(driver))
    else regularJoin(target, select, driver.table).getOrElse(
      if (refs.size > 1) Route.SnapshotJoin(driver) else Route.Direct(Some(driver)))
  }

  /** Rule 4 of [[route]]: the regular join over the select's
    * OCCURRENCE view names (round 18: a multi-use table contributes one
    * side per FROM site), when the target is retract-mode and a dim is
    * an upsert topic table. RETRACT-mode refs are excluded ON EITHER
    * SIDE: a retract table's `__op` tag rides its records as DATA
    * through chained joins (the r13 contract, RetractAggSpec "chained
    * JOIN" — every revision record crosses the join once, tag intact),
    * so its sign channel cannot double as regular-join content. */
  private def regularJoin(target: String, select: String,
                          driver: String): Option[Route.RegularJoin] =
    if (!catalog.get(target).exists(_.changelogMode == ChangelogMode.Retract)) None
    else StreamingStatementRunner.regularJoinShape(
        spark.sessionState.sqlParser, select).flatMap { shape =>
      val all = (shape.sideOrder ++ shape.subRefs.toSeq.sorted).distinct
      val tables = all.map(shape.realOf).distinct.filter(isTopicTable)
        .flatMap(r => catalog.get(r).map(r -> _))
      if (all.size > 1 && !tables.exists(_._2.changelogMode == ChangelogMode.Retract) &&
          tables.exists { case (r, m) => r != driver && m.isUpsert })
        Some(Route.RegularJoin(all, shape))
      else None
    }

  /** Start the query `route` names: the executor half of an INSERT,
    * owning every side effect routing leaves out — the promoted
    * driver's changelog (tombstone probe included) and its
    * out-of-order-chain bookkeeping, the signed streams the aggregate
    * routes fold. */
  private def start(insert: InsertInto, target: TargetBinding, meta: TableMeta,
                    route: Route): StreamingQuery = {
    val InsertInto(_, cols, select) = insert
    def promote(table: String): Unit = promotedDrivers += catalog.qualify(table)
    // a promoted driver's view reads its changelog while the plan is built
    def overDriver(d: Driver)(body: => StreamingQuery): StreamingQuery =
      if (!d.promoted) body
      else {
        promote(d.table)
        withViewShadow(d.table, changelogStream(d.table, warnTombstones = true))(body)
      }
    route match {
      case Route.Direct(None) => startDirect(target, meta, cols, select)
      case Route.Direct(Some(d)) => overDriver(d)(startDirect(target, meta, cols, select))
      case Route.SnapshotJoin(d) =>
        overDriver(d)(startSnapshotJoin(target, meta, cols, select, d.table))
      case Route.RegularJoin(sides, shape) =>
        startRegularJoin(target, meta, cols, select, sides, shape)
      case Route.RetractAgg(d) =>
        promote(d)
        startRetractAgg(target, meta, cols, select, d, catalog.getOrCreate(d))
      case Route.MergeAgg(d, mayRetract, needProvenance) if d.promoted =>
        promote(d.table)
        startMergeAgg(target, meta, cols, select, d.table,
          signedChangelogStream(d.table, catalog.getOrCreate(d.table), needProvenance),
          mayRetract = mayRetract)
      case Route.MergeAgg(d, _, _) =>
        // an external stream is insert-only: every row adds
        val orig = spark.table(d.table)
        startMergeAgg(target, meta, cols, select, d.table,
          orig.withColumn(RetractAggRewrite.SignCol, lit(1)), restoreTo = orig)
    }
  }

  private def isTopicTable(ref: String): Boolean =
    synchronized { topicOf.contains(catalog.qualify(ref)) }

  /** Table names a select references (pre-analysis, so shadowing views
    * per micro-batch is possible before resolution). CTE aliases are
    * NOT references — counting them would misroute a pure single-stream
    * select with a WITH clause onto the snapshot-join path. */
  private[graft] def tableRefs(select: String): Seq[String] = {
    val plan = spark.sessionState.sqlParser.parsePlan(select)
    // CTE definition plans are NOT in `children` — collect them
    // explicitly, both to traverse the real relations inside them and
    // to exclude the aliases themselves from the reference list
    val ctes = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
        w.cteRelations
    }.flatten
    val cteNames = ctes.map(_._1).toSet
    (plan +: ctes.map(_._2: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan))
      .flatMap(_.collect {
        case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
          r.multipartIdentifier.last
      })
      .distinct.filterNot(cteNames.contains)
  }

  /** Classify a select's AGGREGATE CONTEXTS on the PARSED plan. A
    * context = a `GROUP BY` Aggregate node, a `SELECT DISTINCT`
    * Distinct node, or any OTHER node whose expressions call an
    * aggregate function (a global `SELECT count(*)` parses as a
    * Project until ResolveFunctions runs). Detection must stay
    * PRE-analysis: the analyzed plan inlines the topic-backed views,
    * whose latest-by-key materialization is itself an Aggregate and
    * would false-positive every select over an upsert table.
    *
    * `driver`: when given, contexts confined to a SUBQUERY or CTE
    * whose plan never references the driver are EXCLUDED — a
    * scalar/IN aggregate over batch dims is re-evaluated per
    * micro-batch by the snapshot-join re-resolution and needs no
    * folding (ADVICE r14). CTE definition plans are traversed
    * explicitly (they are NOT plan children — `collectWithSubqueries`
    * never reaches them), so an aggregate hidden in a WITH clause over
    * the driver is detected — and rejected loudly by the
    * foldable-shape guard — instead of silently aggregating raw
    * revisions (round-15 hole closure). */
  private[graft] def aggregateContexts(select: String,
                                       driver: Option[String] = None): AggShape = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedFunction, UnresolvedHaving, UnresolvedRelation}
    import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate => LAggregate, Distinct => LDistinct, LogicalPlan, UnresolvedWith}
    val parsed = spark.sessionState.sqlParser.parsePlan(select)
    val reg = spark.sessionState.functionRegistry
    def isAggFunc(f: UnresolvedFunction): Boolean =
      f.nameParts.size == 1 && {
        val ident = org.apache.spark.sql.catalyst.FunctionIdentifier(
          f.nameParts.head.toLowerCase(java.util.Locale.ROOT))
        reg.lookupFunction(ident).exists { info =>
          info.getGroup == "agg_funcs" ||
            // a session-registered UDAF carries a null/blank group —
            // probe the BUILDER with the call's own arguments: over a
            // changelog driver a UDAF misread as scalar would silently
            // aggregate revisions (ADVICE r14). Groupless AND
            // unbuildable counts as an aggregate: a loud wrong-path
            // rejection beats a silent wrong result.
            ((info.getGroup == null || info.getGroup.isEmpty) &&
              scala.util.Try(reg.lookupFunctionBuilder(ident)
                .map(_(f.arguments)).exists {
                  case _: AggregateExpression => true
                  case e => e.isInstanceOf[AggregateFunction]
                }).getOrElse(true))
        }
      }
    def fname(f: UnresolvedFunction): String =
      if (f.nameParts.size == 1) f.nameParts.head.toLowerCase(java.util.Locale.ROOT)
      else ""
    // order statistics, argmax, arrival-ordered, and DISTINCT
    // aggregates fold only through the value-multiset merge path
    // (native streaming state can't retract them; Spark has no
    // streaming distinct aggregation at all)
    val multisetNames = Set("min", "max", "min_by", "max_by",
      "first", "last", "first_value", "last_value",
      "bool_and", "bool_or", "every", "some", "any", "listagg", "string_agg",
      "collect_set", "collect_list", "array_agg",
      "percentile", "median", "percentile_cont", "percentile_disc")
    // first/last fold by ARRIVAL order — even over insert-only
    // drivers they need the offset-ordered merge path (native
    // streaming first/last is shuffle-order nondeterministic)
    val arrivalNames = Set("first", "last", "first_value", "last_value")
    // listagg/collect_set/collect_list have NO native streaming form
    // (Collect-based) — they need the multiset merge path on every
    // driver mode (round 16: collect_* emit the multiset's live values
    // as a value-sorted array — Flink's retractable COLLECT state)
    val collectNames = Set("listagg", "string_agg",
      "collect_set", "collect_list", "array_agg")
    def needsMultisetF(f: UnresolvedFunction): Boolean =
      f.isDistinct || multisetNames.contains(fname(f))
    // relation names `p` references, subquery expressions and nested
    // CTE definition plans included
    def plainRefs(p: LogicalPlan): Set[String] = {
      val out = scala.collection.mutable.Set.empty[String]
      def go(q: LogicalPlan): Unit = q.foreach { node =>
        node match {
          case r: UnresolvedRelation => out += r.multipartIdentifier.last
          case w: UnresolvedWith =>
            w.cteRelations.foreach { case (_, cte, _) => go(cte) }
          case _ =>
        }
        node.expressions.foreach(_.foreach {
          case sq: SubqueryExpression => go(sq.plan)
          case _ =>
        })
      }
      go(p)
      out.toSet
    }
    // CTE definitions anywhere in the statement (cteRelations are not
    // plan children — recurse explicitly), for TRANSITIVE driver
    // reachability: in `WITH a AS (... FROM drv), b AS (... FROM a)`
    // CTE b reaches the driver THROUGH a, so an aggregate inside b
    // must scope as driver-referencing (ADVICE r15 — a direct-name
    // check routed such a shape to the raw-revision path)
    val cteDefs = scala.collection.mutable.ArrayBuffer.empty[(String, LogicalPlan)]
    def collectCtes(p: LogicalPlan): Unit = p.foreach { node =>
      node match {
        case w: UnresolvedWith =>
          w.cteRelations.foreach { case (n, cte, _) =>
            cteDefs += ((n, cte)); collectCtes(cte)
          }
        case _ =>
      }
      node.expressions.foreach(_.foreach {
        case sq: SubqueryExpression => collectCtes(sq.plan)
        case _ =>
      })
    }
    collectCtes(parsed)
    // driver-equivalent names: the driver plus every CTE that reaches
    // it through ANY chain of CTE references (fixpoint over cteDefs)
    val driverish: Set[String] = driver match {
      case None => Set.empty
      case Some(d) =>
        var names = Set(d)
        var grew = true
        while (grew) {
          grew = false
          cteDefs.foreach { case (n, p) =>
            if (!names.contains(n) && plainRefs(p).exists(names.contains)) {
              names += n; grew = true
            }
          }
        }
        names
    }
    // does plan `p` (subqueries + CTEs included) reference the driver,
    // directly or through a CTE-name chain?
    def refsDriver(p: LogicalPlan): Boolean = driver match {
      case None => true
      case Some(_) => plainRefs(p).exists(driverish.contains)
    }
    var contexts = 0
    var topIsAgg = false
    var multiset = false
    var distinctAgg = false
    var arrival = false
    var collectAgg = false
    def scanExprs(p: LogicalPlan): Boolean = {
      var calls = false
      p.expressions.foreach(_.foreach {
        case f: UnresolvedFunction if isAggFunc(f) =>
          calls = true
          if (needsMultisetF(f)) multiset = true
          if (f.isDistinct) distinctAgg = true
          if (arrivalNames.contains(fname(f))) arrival = true
          if (collectNames.contains(fname(f))) collectAgg = true
        // the parser builds FIRST/LAST (and a few others) as direct
        // AggregateExpressions, never UnresolvedFunction — match the
        // function class too or first/last misroutes to the
        // sum-decomposable path
        case ae: AggregateExpression =>
          calls = true
          ae.aggregateFunction match {
            case _: org.apache.spark.sql.catalyst.expressions.aggregate.First |
                 _: org.apache.spark.sql.catalyst.expressions.aggregate.Last =>
              multiset = true; arrival = true
            case _: org.apache.spark.sql.catalyst.expressions.aggregate.Min |
                 _: org.apache.spark.sql.catalyst.expressions.aggregate.Max |
                 _: org.apache.spark.sql.catalyst.expressions.aggregate.MaxBy |
                 _: org.apache.spark.sql.catalyst.expressions.aggregate.MinBy |
                 _: org.apache.spark.sql.catalyst.expressions.aggregate.BoolAnd |
                 _: org.apache.spark.sql.catalyst.expressions.aggregate.BoolOr =>
              multiset = true
            case _: org.apache.spark.sql.catalyst.expressions.aggregate.ListAgg =>
              multiset = true; collectAgg = true
            case _ =>
          }
          if (ae.isDistinct) distinctAgg = true
        case _ =>
      })
      calls
    }
    // walk one UNIT: a plan without descending into subquery/CTE
    // plans — those are their own units, walked only when they
    // reference the driver (or no driver scoping was requested)
    def walkUnit(root: LogicalPlan): Unit = root.foreach { node =>
      node match {
        case w: UnresolvedWith =>
          w.cteRelations.foreach { case (_, cte, _) =>
            if (refsDriver(cte)) walkUnit(cte)
          }
        case a: LAggregate =>
          contexts += 1; scanExprs(a); if (a eq parsed) topIsAgg = true
        case _: LDistinct =>
          contexts += 1 // DISTINCT is never foldable here
        case h: UnresolvedHaving =>
          // HAVING belongs to its child Aggregate's context (its
          // condition may name aggregates — they are not a second
          // context); a top-level GROUP BY ... HAVING is foldable
          scanExprs(h) // classify min/max/distinct inside the condition
          if (h eq parsed) topIsAgg = true
        case other =>
          if (scanExprs(other)) {
            contexts += 1
            if (other eq parsed) topIsAgg = true // global agg: analyzer lifts to Aggregate
          }
      }
      node.expressions.foreach(_.foreach {
        case sq: SubqueryExpression => if (refsDriver(sq.plan)) walkUnit(sq.plan)
        case _ =>
      })
    }
    walkUnit(parsed)
    AggShape(contexts, topIsAgg, multiset, distinctAgg, arrival, collectAgg)
  }

  /** The record schema [[sinkBatch]] writes for a table: the declared
    * columns, plus the `__op` tag a retract-mode sink carries. Used to
    * hydrate the visible view from the topic BEFORE any micro-batch of
    * this process has run (CREATE TABLE on a restart). */
  private def sunkSchema(meta: TableMeta, declared: StructType): StructType =
    if (meta.changelogMode == ChangelogMode.Retract && !declared.fieldNames.contains("__op"))
      StructType(declared.fields :+ StructField(
        "__op", org.apache.spark.sql.types.StringType))
    else declared

  /** Positional mapping to the declared target columns (reference:
    * `id` → `customer_id` via INSERT order, lab-aggregations :431). */
  private def renameTo(meta: TableMeta, targetCols: Seq[String], df: DataFrame): DataFrame =
    if (targetCols.nonEmpty) df.toDF(targetCols: _*)
    else meta.schema match {
      case Some(sc) => df.toDF(sc.fieldNames.take(df.columns.length).toIndexedSeq: _*)
      case None => df
    }

  /** Pure-streaming INSERT: the select streams end-to-end; each
    * micro-batch sinks to the target topic.
    *
    * Output mode: `update` for upsert-keyed targets — each micro-batch
    * carries the CHANGED rows, which the upsert topic folds by primary
    * key. That is exactly Flink's update-mode aggregation (the S1–S6
    * keyed-table pipeline's semantics, SURVEY.md §2.3): a streaming
    * `GROUP BY k` INSERT INTO a PRIMARY KEY table continuously revises
    * per-key aggregates. For non-aggregating selects `update` emits the
    * same rows `append` would, so the mode is safe across the board;
    * append/retract targets keep `append` (every record is a fact). */
  private def startDirect(target: TargetBinding, meta: TableMeta, targetCols: Seq[String],
                          select: String): StreamingQuery = {
    // analyze BEFORE claiming a statement id: a rejected select must
    // not burn one of the 16 epoch slots (ADVICE r14 discipline)
    val renamed = renameTo(meta, targetCols, spark.sql(select))
    launch(target, renamed, if (meta.isUpsert) "update" else "append") { stmtId =>
      (batch, batchId) => sinkBatch(target, meta, batch, stmtId, batchId)
    }
  }

  /** Stream-to-snapshot INSERT (Flink's PROCESSING-TIME TEMPORAL join
    * against a versioned table's latest state, SURVEY.md §3.2): the
    * single streaming ref drives; per micro-batch its name is shadowed
    * by the batch data and the select re-resolves FRESH, so
    * materialized dimension views join at their CURRENT state. Past
    * enrichments FREEZE — a later dim revision does not revisit them.
    * A RETRACT-mode target instead routes to [[startRegularJoin]],
    * Flink's regular join, which retracts and re-emits them. */
  private def startSnapshotJoin(target: TargetBinding, meta: TableMeta, targetCols: Seq[String],
                                select: String, driverRef: String): StreamingQuery = {
    val dimRefs = tableRefs(select).filterNot(_ == driverRef)
    // per-statement execution session (round 17): shadows and analysis
    // live in this statement's OWN clone, so independent statements'
    // micro-batches no longer serialize on the runner lock; dim
    // freshness is PULLED from topic state before each analysis
    val sess = microBatchSession()
    launch(target, spark.table(driverRef), "append") { stmtId => (batch, batchId) =>
      refreshTableRefViews(sess, dimRefs)
      // `batch` is bound to the stream's internal session — re-home
      // it (distributed, no collect) onto the statement session the
      // select resolves against; the shadow persists harmlessly
      // between batches (nothing else reads this session)
      org.apache.spark.sql.GraftSqlBridge.toSession(sess, batch)
        .createOrReplaceTempView(driverRef)
      val result = renameTo(meta, targetCols, sess.sql(select))
      sinkBatch(target, meta, result, stmtId, batchId)
    }
  }

  /** Flink REGULAR-JOIN INSERT — a non-aggregating join whose target
    * is RETRACT-mode and whose dimensions are changelog tables (the
    * reference's S6: `shoe_orders_enriched` is declared
    * `changelog.mode = 'retract'` at `lab-aggregations/main.tf:530`
    * PRECISELY because Flink's regular join, `:563`, RETRACTS and
    * RE-EMITS previously-joined rows when a dimension row revises —
    * unlike the snapshot/temporal form, which freezes past
    * enrichments at their arrival-time dim state).
    *
    * Execution: every topic-backed ref becomes a signed delta SIDE
    * (append facts sign +1; retract dims carry their `__op` sign); the
    * sides' encoded records UNION into one stateless driving stream,
    * and per micro-batch the exact telescoped delta rule applies:
    *
    *   Δ(S₀⋈…⋈Sₖ) = Σᵢ PRE₀ ⋈ … ⋈ PREᵢ₋₁ ⋈ Δᵢ ⋈ POSTᵢ₊₁ ⋈ … ⋈ POSTₖ
    *
    * Each term re-analyzes the ORIGINAL select with the side views
    * shadowed (arbitrary projections/filters/join conditions apply
    * verbatim); the delta side's sign rides a hidden column injected
    * into the top-level projection, so every output row is signed by
    * its provenance. Term outputs NET per content; net>0 sinks that
    * many `+I` records, net<0 that many `-D` — the retract changelog
    * downstream consumers (retract-fold aggregates, FIFO first/last)
    * already understand.
    *
    * Upsert (PRIMARY KEY) dims ride the union as RAW revisions and
    * normalize per batch against the side's own JoinState snapshot:
    * the latest record per key adds (+1), the key's pre-snapshot row
    * retracts (−1), so a no-op revision or a tombstone for an absent
    * key emits nothing. The snapshot already holds each key's current
    * row, so the dim keeps ONE state and the query no Spark state-store
    * operator (only the aggregate routes, which keep no row snapshot,
    * use [[graft.streaming.ChangelogNormalize]]). The normalized delta is
    * computed once per batch and reused by the terms, the post fold
    * and the snapshot write; a crash-replayed batch re-reads the same
    * pre-snapshot generation and so rebuilds the same delta. A
    * checkpoint written while upsert dims still went through the
    * state-store normalizer does NOT resume: Spark rejects the plan's
    * removed stateful operators at its first micro-batch
    * (`STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA`) —
    * restart such a pipeline on a fresh checkpoint/topic root.
    *
    * State ([[graft.streaming.JoinState]]): insert-only sides keep an
    * append-only per-batch parquet log (O(Δ) writes); changelog sides
    * keep a folded `(payload, cnt)` snapshot generation written only
    * on batches that touch them. Both live under the statement's
    * checkpoint dir and replay idempotently (overwrite-by-batch-id),
    * so the restart contract matches every other INSERT path. The
    * fact log is unbounded BY THE SEMANTICS (Flink's regular join
    * keeps both sides' state too and bounds it with state TTL) — the
    * topic-retention contract is the operational bound, and a
    * dim-delta batch's `Δdim ⋈ factLog` term is a broadcast-able hash
    * join over a columnar scan, never a shuffle of the log.
    *
    * Term generation is the per-side BRACKET engine (rounds 17–18):
    * for touched side i the exact bracket S(pre₍<i₎, postᵢ, post₍>i₎) −
    * S(pre₍<i₎, preᵢ, post₍>i₎) is the side's list of [[Term]]s, each
    * built by [[composedTerm]], expanded from the side's k
    * null-dominating join nodes:
    *
    *  - k = 0 (base of a LEFT chain, any INNER side, the preserved side
    *    of a RIGHT OUTER): ONE evaluation of the VERBATIM select over
    *    the signed delta — outer joins intact, so the delta's own pad
    *    rows (null-padded unmatched facts) ride along already signed.
    *  - k = 1 (a LEFT JOIN's dim, either side of a single FULL OUTER):
    *    out = inner + pad AT THAT NODE, everything above and below
    *    verbatim — an inner-flip delta term + the node's
    *    other-side-preserving pad evaluated at post(+1) / pre(−1): two
    *    anti-joins over the preserved state, Flink's outer-join state
    *    view, where a pad row retracts the moment a match appears and
    *    REAPPEARS when the last match is deleted. FULL OUTER adds the
    *    side's OWN preserved pad over its delta (linear there). That
    *    is the top-down expansion at k = 1; every further node nests
    *    one more level (2k+1 evaluations for k LEFT/RIGHT nodes).
    *  - a subquery dim: the brute pre/post pair — its change
    *    invalidates every row's predicate verdict at once; exact for
    *    any subquery plan, and unchanged rows net away in the fold.
    *
    * Because the brackets telescope (side i's terms see j<i at pre,
    * j>i at post), the batch's summed terms equal S(post…) − S(pre…)
    * EXACTLY for any mix of touched sides. */
  private def startRegularJoin(target: TargetBinding, meta: TableMeta,
                               targetCols: Seq[String], select: String,
                               refs: Seq[String],
                               shape: RegularShape): StreamingQuery = {
    import graft.streaming.JoinState
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.types.TimestampType
    require(meta.changelogMode == ChangelogMode.Retract,
      s"INSERT INTO ${target.qualified}: the regular join emits a retract " +
        "changelog — the target must declare changelog.mode = 'retract'")
    val SG = "__jsign"
    // the session every term evaluation resolves against: the MAIN
    // session during statement-time validation, this statement's OWN
    // clone once the query runs (round 17 statement concurrency —
    // shadowing in a per-statement session removes the runner-wide
    // lock; set once, before .start())
    var evalSession: SparkSession = spark

    /** A participating side: signed delta stream + state representation.
      * `ref` is the side's OCCURRENCE view name (term evaluations bind
      * shadows under it); `src` the real table behind it — they differ
      * only for the k ≥ 2 sites of a multi-use relation (round 18),
      * whose sides each read the same underlying stream but carry their
      * own `__side` tag, shadow view, and state directory. `restore` is
      * the steady binding for refs [[restoreRefView]] cannot re-derive
      * (external MemoryStream views). */
    case class Side(ref: String, src: String, viewSchema: StructType,
                    signed: DataFrame, appendOnly: Boolean, restore: DataFrame,
                    upsertKey: Seq[String] = Nil)
    // synthetic occurrence views of STATIC refs (a self-join site of a
    // batch table): bound in the main session only for statement-time
    // validation, then dropped with the side views and re-bound per
    // batch in the statement session (ADVICE r18 — a once-bound main-
    // session view leaked across statements and could silently pin a
    // plan older than the real name's resolution, joining two versions
    // of one table)
    val staticOccViews = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val sides: Seq[Side] = refs.flatMap { r =>
      val src = shape.realOf(r)
      if (synchronized { sources.contains(src) }) {
        // registered topic source: an insert-only record stream (the
        // view applies ALTER casts/watermark; key/$rowtime ride along)
        val v = spark.table(src)
        Some(Side(r, src, v.schema, v.withColumn(RetractAggRewrite.SignCol, lit(1)),
          appendOnly = true, restore = v))
      } else if (isTopicTable(src)) {
        val m = catalog.getOrCreate(src)
        val declared = m.schema.getOrElse(throw new IllegalArgumentException(
          s"INSERT INTO ${target.qualified}: regular-join side $src has no declared schema"))
        val viewSchema = StructType(sunkSchema(m, declared).fields
          .filter(f => declared.fieldNames.contains(f.name)))
        synchronized { promotedDrivers += catalog.qualify(src) }
        if (m.isUpsert) {
          // raw revisions: normalized per batch against the side's own
          // JoinState snapshot, so the stream itself keeps no state
          val revisions = upsertRevisionStream(src, m)
          Some(Side(r, src, viewSchema, revisions, appendOnly = false,
            restore = revisions, upsertKey = m.primaryKey))
        } else {
          val signed = signedChangelogStream(src, m).select(
            (viewSchema.fieldNames.map(c => col(s"`$c`")) :+
              col(RetractAggRewrite.SignCol)).toIndexedSeq: _*)
          Some(Side(r, src, viewSchema, signed,
            appendOnly = m.changelogMode != ChangelogMode.Retract,
            restore = signed))
        }
      } else if (spark.catalog.tableExists(src) && spark.table(src).isStreaming) {
        val v = spark.table(src) // external stream view (e.g. MemoryStream)
        Some(Side(r, src, v.schema, v.withColumn(RetractAggRewrite.SignCol, lit(1)),
          appendOnly = true, restore = v))
      } else {
        // static batch view: joins at its constant state, no delta. A
        // SYNTHETIC occurrence of a static ref still needs its view
        // name to resolve — bind it for validation, re-bound per batch
        // in the statement session so both sites of the self-join
        // always resolve the same snapshot
        if (r != src && spark.catalog.tableExists(src)) {
          spark.table(src).createOrReplaceTempView(r)
          staticOccViews += (r -> src)
        }
        None
      }
    }
    require(sides.nonEmpty, s"INSERT INTO ${target.qualified}: regular join " +
      "needs at least one topic-backed or streaming side")

    // ── payload codec: canonical JSON of the side's VIEW columns, so
    //    content equality is exact string equality; timestamps ride as
    //    epoch-micros (JSON doubles/strings round-trip losslessly) ──
    def encSchema(s: StructType): StructType = StructType(s.fields.map { f =>
      f.dataType match { case TimestampType => f.copy(dataType = LongType); case _ => f }
    })
    def encodeCols(fields: Seq[StructField]): Seq[org.apache.spark.sql.Column] =
      fields.map { f =>
        f.dataType match {
          case TimestampType => unix_micros(col(s"`${f.name}`")).as(f.name)
          case _ => col(s"`${f.name}`")
        }
      }
    def keySchemaOf(side: Side): StructType =
      StructType(side.viewSchema.fields.filter(f => side.upsertKey.contains(f.name)))
    // every side carries (__key, __ord): an upsert side's encoded
    // primary key and record offset (its payload is null for a
    // tombstone); null for signed sides, whose `__sign` is final
    def encodeSide(side: Side, idx: Int): DataFrame = {
      val payload = to_json(struct(encodeCols(side.viewSchema.fields.toIndexedSeq): _*))
      if (side.upsertKey.nonEmpty)
        side.signed.select(lit(idx).as("__side"),
          when(col("__tomb"), lit(null).cast("string")).otherwise(payload).as("__payload"),
          lit(1).as("__sign"),
          to_json(struct(encodeCols(keySchemaOf(side).fields.toIndexedSeq): _*)).as("__key"),
          col("__ord"))
      else
        side.signed.select(lit(idx).as("__side"), payload.as("__payload"),
          col(RetractAggRewrite.SignCol).cast("int").as("__sign"),
          lit(null).cast("string").as("__key"), lit(null).cast(LongType).as("__ord"))
    }
    /** An upsert side's batch revisions as its signed delta against the
      * pre-snapshot: per key the LATEST record (by offset) adds (+1)
      * and the key's pre-state row retracts (−1). A no-op revision, or
      * a tombstone for an absent key, emits nothing. */
    def normalizeUpsert(rows: DataFrame, preFolded: DataFrame, side: Side): DataFrame = {
      val latest = rows.groupBy("__key")
        .agg(max(struct(col("__ord"), col("__payload"))).getField("__payload").as("__new"))
      val prior = preFolded.where(col("__cnt") > 0L).select(
        to_json(from_json(col("__payload"), encSchema(keySchemaOf(side)))).as("__key"),
        col("__payload").as("__old"))
      latest.join(prior, Seq("__key"), "left")
        .where(!(col("__old") <=> col("__new")))
        .select(explode(array(
          struct(col("__old").as("__payload"), lit(-1).as("__sign")),
          struct(col("__new").as("__payload"), lit(1).as("__sign")))).as("__d"))
        .select("__d.*").where(col("__payload").isNotNull)
    }
    def decodeCols(side: Side): Seq[org.apache.spark.sql.Column] =
      side.viewSchema.fields.toIndexedSeq.map { f =>
        f.dataType match {
          case TimestampType => timestamp_micros(col(s"__v.`${f.name}`")).as(f.name)
          case _ => col(s"__v.`${f.name}`").as(f.name)
        }
      }
    def decode(payloads: DataFrame, side: Side): DataFrame =
      payloads.select(from_json(col("__payload"), encSchema(side.viewSchema)).as("__v"))
        .select(decodeCols(side): _*)
    def decodeDelta(rows: DataFrame, side: Side): DataFrame =
      rows.select(from_json(col("__payload"), encSchema(side.viewSchema)).as("__v"),
          col("__sign"))
        .select(decodeCols(side) :+ col("__sign").as(SG): _*)

    // ── the ANALYZED join-tree index: every Join node in PRE-ORDER,
    //    stopping at resolved temp-view boundaries (a shadow view's
    //    STORED plan never carries a user join; a static view that
    //    wraps its own join must not shift ordinals) — mirrors the
    //    parsed-plan walk that built `shape`, and must MATCH it: the
    //    guard keeps any desynchronization loud, not silently wrong ──
    def spineJoins(analyzed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : IndexedSeq[org.apache.spark.sql.catalyst.plans.logical.Join] = {
      import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, View}
      def joinsOf(p: LogicalPlan): Seq[Join] = p match {
        case _: View => Nil
        case j: Join => j +: j.children.flatMap(joinsOf)
        case other => other.children.flatMap(joinsOf)
      }
      val buf = joinsOf(analyzed).toIndexedSeq
      require(buf.size == shape.spineKinds.size &&
          buf.map(_.joinType) == shape.spineKinds,
        s"INSERT INTO ${target.qualified}: the analyzed join tree " +
          s"(${buf.map(_.joinType).mkString(",")}) does not match the parsed " +
          s"shape (${shape.spineKinds.mkString(",")}) — a regular-join side " +
          "view must not wrap its own join")
      buf
    }

    // ── CTE inlining on the ANALYZED plan (round 17): the analyzer
    //    keeps WITH as WithCTE + CTERelationRef (inlining is an
    //    optimizer rule), which would hide the join spine and the top
    //    projection — substitute each definition at its reference
    //    sites (subquery plans included; single-use guaranteed by the
    //    parsed-side guard), re-keying the definition's output to the
    //    reference's attribute ids so ancestor references stay bound ──
    def inlineAnalyzedCtes(plan0: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = plan0 match {
      case w: org.apache.spark.sql.catalyst.plans.logical.WithCTE =>
        import org.apache.spark.sql.catalyst.expressions.Alias
        import org.apache.spark.sql.catalyst.plans.logical.{CTERelationRef, LogicalPlan, Project}
        val defs = w.cteDefs.map(d => d.id -> d).toMap
        def subst(p: LogicalPlan): LogicalPlan = p.transformUpWithSubqueries {
          case ref: CTERelationRef =>
            val d = defs.getOrElse(ref.cteId, throw new IllegalStateException(
              s"INSERT INTO ${target.qualified}: dangling CTE reference ${ref.cteId}"))
            val child = subst(d.child)
            Project(ref.output.zip(child.output).map { case (refA, chA) =>
              Alias(chA, refA.name)(exprId = refA.exprId)
            }, child)
        }
        subst(w.plan)
      case other => other
    }
    // ── sign threading: a CTE body's (or inlining-inserted) PROJECTION
    //    between the join and the root drops the hidden sign column —
    //    re-expose it through every intermediate Project whose child
    //    carries it, so the root injection finds it. The ROOT
    //    projection is left alone (composedTerm appends there). ──
    def exposeSign(plan0: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
      import org.apache.spark.sql.catalyst.plans.logical.Project
      plan0 match {
        case root: Project =>
          root.copy(child = root.child.transformUp {
            case p: Project if p.child.output.exists(_.name == SG) &&
                !p.output.exists(_.name == SG) =>
              Project(p.projectList :+ p.child.output.find(_.name == SG).get, p.child)
          })
        case other => other
      }
    }
    /** The analyzed, CTE-inlined, sign-threaded plan every term
      * evaluation starts from. */
    def prep(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
      exposeSign(inlineAnalyzedCtes(GraftSqlBridge.analyzedPlan(df)))

    // ── the term builder: apply a [[Term]]'s node actions in one
    //    rebuild — `flips` evaluate their node's INNER component,
    //    `pads` its LeftAnti pad preserving the given side (children
    //    swapped for a right-preserved pad; Spark has LeftAnti only).
    //    All actioned nodes nest along the side's root path, so null
    //    sets accumulate bottom-up: every node ABOVE a pad sees the
    //    pad's dropped attributes replaced by null literals (the
    //    null-semantics the real outer join gives a pad row), while
    //    the pad's own condition still evaluates its real children.
    //    Unactioned joins stay VERBATIM — an upper LEFT join pads a
    //    flipped or padded result again, the chain's pad-of-pad row. A
    //    term without actions is the verbatim select: no join walk, no
    //    rebuild. The top projection then gains the hidden sign — the
    //    `sign` literal for a state (bracket) evaluation, None for the
    //    delta side's own __jsign — so each output row is signed by
    //    provenance without touching the user's SQL. ──
    def composedTerm(df: DataFrame, t: Term, sign: Option[Int]): DataFrame = {
      import org.apache.spark.sql.catalyst.expressions.{
        Alias, AttributeReference, AttributeSet, Expression, Literal, NamedExpression}
      import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Project}
      import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti}
      val analyzed = prep(df)
      val actioned = if (t.flips.isEmpty && t.pads.isEmpty) analyzed else {
        val joins = spineJoins(analyzed)
        val flipNodes = t.flips.map(joins(_))
        val padNodes = t.pads.map { case (idx, pl) => (joins(idx), pl) }
        def rebuild(p: LogicalPlan): (LogicalPlan, AttributeSet) = {
          def nullifyIn(below: AttributeSet)(e: Expression): Expression =
            if (below.isEmpty) e
            else e.transform {
              case a: AttributeReference if below.contains(a) =>
                Literal(null, a.dataType)
            }
          p match {
            case j: Join if flipNodes.exists(_ eq j) =>
              val (lp, ln) = rebuild(j.left)
              val (rp, rn) = rebuild(j.right)
              val below = ln ++ rn
              (j.copy(left = lp, right = rp, joinType = Inner,
                condition = j.condition.map(nullifyIn(below))), below)
            case j: Join if padNodes.exists(_._1 eq j) =>
              val preservedIsLeft = padNodes.find(_._1 eq j).get._2
              val (lp, ln) = rebuild(j.left)
              val (rp, rn) = rebuild(j.right)
              val below = ln ++ rn
              val newNull = if (preservedIsLeft) j.right.outputSet else j.left.outputSet
              val joined =
                if (preservedIsLeft)
                  Join(lp, rp, LeftAnti, j.condition.map(nullifyIn(below)), j.hint)
                else Join(rp, lp, LeftAnti, j.condition.map(nullifyIn(below)), j.hint)
              (joined, below ++ newNull)
            case pr: Project =>
              val (c, below) = rebuild(pr.child)
              (Project(pr.projectList.map { ne =>
                nullifyIn(below)(ne) match {
                  case n: NamedExpression => n
                  case other => Alias(other, ne.name)()
                }
              }, c), below)
            case other =>
              val rebuilt = other.children.map(rebuild)
              val below = rebuilt.map(_._2)
                .foldLeft(AttributeSet.empty)(_ ++ _)
              val p2 = other.withNewChildren(rebuilt.map(_._1))
              (if (below.isEmpty) p2 else p2.transformExpressions {
                case a: AttributeReference if below.contains(a) =>
                  Literal(null, a.dataType)
              }, below)
          }
        }
        rebuild(analyzed)._1
      }
      actioned match {
        case p: Project =>
          val sg = sign.map(Literal(_)).getOrElse(p.child.output.find(_.name == SG).getOrElse(
            throw new IllegalArgumentException(
              s"INSERT INTO ${target.qualified}: the regular join needs every " +
                "changelog side's rows joined DIRECTLY — a derived table " +
                "re-projecting a side's columns hides its revision channel")))
          GraftSqlBridge.ofRows(evalSession,
            Project(p.projectList :+ Alias(sg, SG)(), p.child))
        case _ => throw new IllegalArgumentException(
          s"INSERT INTO ${target.qualified}: a retract-target regular join " +
            "must be a plain top-level SELECT over the join (no DISTINCT/" +
            "set-op/aggregate head)")
      }
    }

    // ── term evaluation source. Un-renamed statements evaluate the
    //    SQL text (a fresh parse per call, exactly the r17 behavior).
    //    RENAMED statements (multi-use relations, round 18) must
    //    evaluate the transformed plan — the text still names the
    //    shared relation at every site — but a parsed tree REUSED
    //    across analyses shares its parse-time ExprIds (every Alias,
    //    ScalarSubquery/Exists/ListQuery carries one from its
    //    constructor), and two term plans sharing subquery ids
    //    desynchronize when unioned and planned together (observed:
    //    the brute pre/post bracket's neg term silently evaluating
    //    the wrong state). Regenerate those ids per evaluation. ──
    def freshIds(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
      import org.apache.spark.sql.catalyst.expressions.{
        Alias, Exists, ListQuery, NamedExpression, ScalarSubquery}
      p.transformUpWithSubqueries {
        case n => n.transformExpressionsUp {
          case a: Alias =>
            Alias(a.child, a.name)(NamedExpression.newExprId, a.qualifier,
              a.explicitMetadata, a.nonInheritableMetadataKeys)
          case s: ScalarSubquery => s.copy(exprId = NamedExpression.newExprId)
          case e: Exists => e.copy(exprId = NamedExpression.newExprId)
          case l: ListQuery => l.copy(exprId = NamedExpression.newExprId)
        }
      }
    }
    def evalSelect(sess: SparkSession): DataFrame =
      if (shape.occBase.isEmpty) sess.sql(select)
      else GraftSqlBridge.ofRows(sess, freshIds(shape.evalPlan))

    // ── statement-time validation (Flink rejects at submission):
    //    every term each side's bracket can emit must type-check and
    //    keep the sign channel visible, BEFORE the query starts ──
    def emptyOf(s: StructType): DataFrame =
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
    val outArity = synchronized {
      try {
        sides.foreach(s => emptyOf(s.viewSchema).createOrReplaceTempView(s.ref))
        val n = evalSelect(spark).columns.length
        // arity must hold with the delta side's hidden sign column
        // riding its view too: a `SELECT *` expands the sign into the
        // user columns and would only fail mid-stream with a confusing
        // toDF count error (ADVICE r16) — reject at submission instead
        def checkArity(df: DataFrame): Unit = {
          val signedArity = df.columns.length
          require(signedArity == n + 1,
            s"INSERT INTO ${target.qualified}: the select's column list " +
              s"changes arity ($n vs ${signedArity - 1}) when a side view " +
              "carries the hidden sign column — star expansion (SELECT *) " +
              "over the joined sides is not supported on the regular-join " +
              "path; name the output columns explicitly")
        }
        // every term each side's bracket can emit: a delta term over
        // a self-signed view (the sign channel must stay visible and
        // the arity hold), a bracket term over literal-signed state (a
        // subquery dim's columns never surface in the outer plan)
        sides.indices.foreach { i =>
          shape.plans(sides(i).ref).foreach { t =>
            sides.zipWithIndex.foreach { case (sj, j) =>
              val base = emptyOf(sj.viewSchema)
              (if (j == i && !t.bracket) base.withColumn(SG, lit(1)) else base)
                .createOrReplaceTempView(sj.ref)
            }
            if (t.bracket) composedTerm(evalSelect(spark), t, Some(1))
            else checkArity(composedTerm(evalSelect(spark), t, None))
          }
        }
        n
      } finally {
        sides.foreach { s =>
          // synthetic occurrence views must not linger in the MAIN
          // session (the statement's clone re-binds its own per batch)
          if (s.ref != s.src) spark.catalog.dropTempView(s.ref)
          restoreRefView(s.src, s.restore)
        }
        staticOccViews.foreach { case (r, _) => spark.catalog.dropTempView(r) }
      }
    }
    val outNames: Seq[String] =
      if (targetCols.nonEmpty) targetCols
      else meta.schema.map(_.fieldNames.take(outArity).toSeq)
        .getOrElse(throw new IllegalArgumentException(
          s"INSERT INTO ${target.qualified}: no declared schema to name the " +
            "join's output columns"))
    require(outNames.size == outArity,
      s"INSERT INTO ${target.qualified}: select emits $outArity columns; " +
        s"target names ${outNames.size}")
    require(!outNames.contains("__op"),
      s"INSERT INTO ${target.qualified}: the regular join derives the " +
        "__op tag from its signed delta algebra — name the data columns " +
        "with an INSERT column list that excludes __op")

    // state TTL (the target's 'join.state.ttl' WITH option — Flink's
    // table.exec.state.ttl): bounds the append log, the join's
    // unbounded side; expired facts stop participating in re-emission
    val ttlMs: Option[Long] =
      meta.options.get("join.state.ttl").map(JoinState.parseTtlMs)
    // fact-log compaction threshold ('join.state.compact.threshold'):
    // fold committed per-batch dirs into a log generation once their
    // count passes it — at production uptime the un-compacted listing
    // would dominate every micro-batch (VERDICT r16 watch item 1)
    val compactThreshold: Int =
      meta.options.get("join.state.compact.threshold").map(_.trim.toInt)
        .getOrElse(64)
    // occurrences of the SAME table share ONE state directory (round
    // 18): their deltas are the same stream, so the per-occurrence
    // pre/post frames read identical content — writing per occurrence
    // would double the log/snapshot IO for a self-join (and race the
    // snapshot generation pruning against itself). Only the FIRST
    // occurrence of each source performs the state writes.
    val firstIdxOfSrc: Map[String, Int] =
      sides.zipWithIndex.groupBy(_._1.src).map { case (src, xs) =>
        src -> xs.map(_._2).min
      }
    val union = sides.zipWithIndex.map { case (s, i) => encodeSide(s, i) }
      .reduce(_ unionByName _)
    // per-statement execution session (round 17): state reads, view
    // shadows, and term analysis all live in this statement's clone
    val stmtSession = microBatchSession()
    launch(target, union, "append") { stmtId =>
      val stateRoot = s"${checkpointDir(target, stmtId)}/graft-join-state"
      // register the state-owning dirs for progressSummary sizing —
      // occurrence sides share their owner's directory, so only owners
      synchronized {
        joinStateDirs(queryDisplayName(target, stmtId)) =
          sides.zipWithIndex.collect {
            case (s, i) if firstIdxOfSrc(s.src) == i =>
              (s.src, s"$stateRoot/s$i", s.appendOnly)
          }
      }
      (batch0, batchId) => {
        evalSession = stmtSession
        // re-bind static synthetic occurrence views in THIS
        // statement's session each batch: the real name and the
        // occurrence name then always resolve the same snapshot
        staticOccViews.foreach { case (r, src) =>
          // fail loudly (ADVICE r19): a silent skip leaves r unbound
          // (or stale from a prior batch) and the statement later
          // dies with an unresolved-relation error naming the
          // SYNTHETIC occurrence, hiding the real missing table
          if (!stmtSession.catalog.tableExists(src))
            throw new IllegalStateException(
              s"static occurrence view '$r' cannot re-bind: source " +
              s"table '$src' is missing from the statement session")
          stmtSession.table(src).createOrReplaceTempView(r)
        }
        val batch = GraftSqlBridge.toSession(stmtSession, batch0).persist()
        // upsert sides' normalized deltas, computed once per batch
        val normalized = scala.collection.mutable.Map.empty[Int, DataFrame]
        try {
          // one shuffle-free pass: fills the cache, returns side ids
          val touched = StreamingStatementRunner.sideIds(batch)
          if (touched.nonEmpty) {
            val deltaRows = scala.collection.mutable.Map.empty[Int, DataFrame] ++
              touched.map(i => i -> batch.where(col("__side") === i))
            // per-side PRE/POST frames + pending state writes
            val pre = new Array[DataFrame](sides.size)
            val post = new Array[DataFrame](sides.size)
            val writes = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
            // TTL cutoff fixed ONCE per micro-batch (ADVICE r18): a
            // self-join's occurrence sides read the shared state dir
            // through separate readLog calls — re-sampling the clock
            // per call let pre(i)/pre(j) disagree on a row whose age
            // crossed the boundary between them, so the folded batch
            // state matched no single snapshot of the table
            val ttlCutoff: Option[Long] =
              ttlMs.map(System.currentTimeMillis() - _)
            sides.zipWithIndex.foreach { case (s, i) =>
              val owner = firstIdxOfSrc(s.src)
              val dir = s"$stateRoot/s$owner"
              val ownsState = owner == i
              if (s.appendOnly) {
                if (ownsState) ttlMs.foreach(t => JoinState.pruneLog(stmtSession, dir, t))
                val logPre = JoinState.readLog(stmtSession, dir, batchId, ttlCutoff)
                pre(i) = decode(logPre, s)
                post(i) = deltaRows.get(i) match {
                  case Some(d) =>
                    if (ownsState) writes += { () =>
                      JoinState.writeLog(d.select("__payload"), dir, batchId)
                      graft.streaming.FaultInjection.point("log-written")
                      // amortized: folds only every `threshold` batches
                      JoinState.maybeCompact(stmtSession, dir, batchId, compactThreshold, ttlCutoff)
                    }
                    pre(i).unionByName(decode(d, s))
                  case None => pre(i)
                }
              } else {
                val (preExpl, preFolded, readGen) = JoinState.readSnapshot(stmtSession, dir, batchId)
                pre(i) = decode(preExpl, s)
                // an upsert side's raw revisions become its signed
                // delta here; occurrences of one table share it
                if (s.upsertKey.nonEmpty) deltaRows.get(i).foreach { rows =>
                  deltaRows(i) = normalized.getOrElseUpdate(owner,
                    normalizeUpsert(rows, preFolded, s).persist())
                }
                post(i) = deltaRows.get(i) match {
                  case Some(d) =>
                    val folded = JoinState.foldSnapshot(preFolded, d)
                    if (ownsState)
                      writes += (() => JoinState.writeSnapshot(folded, dir, batchId, readGen))
                    decode(JoinState.explodeCnt(folded), s)
                  case None => pre(i)
                }
              }
            }
            // per-side BRACKET terms under the telescoping view
            // discipline: side i's terms see sides j<i at PRE, j>i
            // at POST, and side i itself at its signed delta (a delta
            // term) or at pre(−1)/post(+1) (a bracket term) — the
            // summed brackets equal S(post…) − S(pre…) exactly
            val terms = sides.indices.filter(touched.contains).flatMap { i =>
              def at(self: DataFrame, t: Term, sign: Option[Int]): DataFrame = {
                sides.zipWithIndex.foreach { case (sj, j) =>
                  (if (j == i) self else if (j < i) pre(j) else post(j))
                    .createOrReplaceTempView(sj.ref)
                }
                composedTerm(evalSelect(stmtSession), t, sign)
                  .toDF((outNames :+ SG).toIndexedSeq: _*)
              }
              shape.plans(sides(i).ref).flatMap { t =>
                if (t.bracket) Seq(at(pre(i), t, Some(-1)), at(post(i), t, Some(1)))
                else Seq(at(decodeDelta(deltaRows(i), sides(i)), t, None))
              }
            }
            val netted = terms.reduce(_ unionByName _)
              .groupBy(outNames.map(c => col(s"`$c`")).toIndexedSeq: _*)
              .agg(sum(col(SG)).as("__net")).where(col("__net") =!= 0L)
            val recs = netted
              .withColumn("__op", when(col("__net") > 0, lit("+I")).otherwise(lit("-D")))
              .withColumn("__copy",
                explode(sequence(lit(1L), abs(col("__net")))))
              .select((outNames.map(c => col(s"`$c`")) :+ col("__op")).toIndexedSeq: _*)
            graft.streaming.FaultInjection.point("join-pre-sink")
            sinkBatch(target, meta, recs, stmtId, batchId)
            graft.streaming.FaultInjection.point("join-post-sink")
            writes.foreach { w =>
              w(); graft.streaming.FaultInjection.point("join-post-write")
            }
            graft.streaming.FaultInjection.point("join-pre-commit")
          }
        } finally {
          // every term shadows all sides before it resolves, so the
          // views need not outlive the batch; left bound, they pin
          // its plans (and each scan's Hadoop conf) until the next one
          sides.foreach(s => stmtSession.catalog.dropTempView(s.ref))
          normalized.values.foreach(_.unpersist())
          batch.unpersist()
        }
      }
    }
  }

  /** A runner-created table's topic read back as a CHANGELOG STREAM —
    * the source of a promoted table-to-table INSERT. Records decode
    * per the table's declared schema: upsert tables as the
    * compacted-topic form (key json = PK, value json = rest;
    * TOMBSTONES DROPPED — an append consumer has no retraction
    * channel), append/retract tables as whole-row values (retract's
    * `__op` tag rides along). Semantics caveat (Flink's upsert-kafka
    * raw-record contract): every upsert REVISION flows as its own
    * record — a non-aggregating select sees the changelog exactly
    * once. Aggregates never ride this stream raw: the runner routes
    * them to [[startRetractAgg]] (changelog drivers) or native
    * streaming aggregation (append drivers).
    *
    * `warnTombstones`: tombstone drops on this path are NOT silent —
    * a startup probe warns if the topic already holds tombstones, and
    * an `observe` metric (`graft_tombstones_dropped_<topic>`) counts
    * drops at runtime, surfaced per statement in [[progressSummary]]
    * (`tombstonesDropped`). A DELETE on the driver never reaches the
    * downstream table — it retains the key's last value — so the
    * operator watching progress sees the skew the moment it starts. */
  private def changelogStream(bare: String, warnTombstones: Boolean = false,
                              keepOrd: Boolean = false): DataFrame = {
    val meta = catalog.getOrCreate(bare)
    val b = bind(bare)
    val decoded =
      if (meta.isUpsert) {
        val (keySchema, valueSchema) = keyValueSchemas(bare, meta)
        // a merge-aggregate writer's __keep=false record IS a delete
        // to a changelog consumer (the group left the visible table) —
        // normalize it to a tombstone BEFORE the drop/observe
        val records = withKeepAsTombstone(
          Topics.readStreamRecords(spark, b.topic, conf))
        if (warnTombstones &&
            withKeepAsTombstone(Topics.readBatchRecords(spark, b.topic, conf))
              .where(col("value").isNull).take(1).nonEmpty)
          System.err.println(
            s"[graft] WARN: promoting upsert table $bare whose topic already " +
              "holds TOMBSTONES — deletes do not flow to an append consumer; " +
              "downstream tables keep each deleted key's last value")
        val observed =
          if (warnTombstones)
            records.observe(s"graft_tombstones_dropped_${b.topic}",
              sum(when(col("value").isNull, 1L).otherwise(0L)).as("dropped"))
          else records
        Topics.decodeJson(observed.where(col("value").isNotNull), valueSchema, Some(keySchema))
      } else Topics.decodeJson(
        Topics.readStreamRecords(spark, b.topic, conf), sunkSchema(meta, declaredSchema(bare, meta)))
    if (keepOrd) decoded.withColumnRenamed("__offset", RetractAggRewrite.OrdCol)
    else decoded.drop("__offset")
  }

  private def declaredSchema(bare: String, meta: TableMeta): StructType =
    meta.schema.getOrElse(throw new IllegalArgumentException(
      s"table $bare: no declared schema to decode its changelog"))

  /** An upsert table's declared columns as its topic's key (PRIMARY
    * KEY) and value record schemas. */
  private def keyValueSchemas(bare: String, meta: TableMeta): (StructType, StructType) = {
    val (key, value) = declaredSchema(bare, meta).fields.partition(f => meta.primaryKey.contains(f.name))
    (StructType(key), StructType(value))
  }

  /** Merge-aggregate targets store a HAVING-failing group's STATE with
    * `__keep = false` riding the value (visible-row delete, state
    * retained — see [[mergeSink]]): to any CHANGELOG CONSUMER such a
    * record IS a tombstone — the group left the visible table, and a
    * downstream aggregate must retract it exactly as the batch view's
    * `__keep` filter hides it. Records from every other writer lack
    * the field and pass through unchanged. */
  private def withKeepAsTombstone(records: DataFrame): DataFrame =
    records.withColumn("value",
      when(get_json_object(col("value").cast("string"),
          s"$$.${RetractAggRewrite.KeepCol}") === "false",
        lit(null).cast("binary")).otherwise(col("value")))

  /** An upsert table's topic as RAW revision records for the regular
    * join, which normalizes them per micro-batch against its own
    * JoinState snapshot: the declared columns decoded from key + value,
    * `__tomb` (a tombstone, a `__keep=false` record included) and
    * `__ord` (the record offset, latest wins per key). A stateless
    * projection of the file scan. */
  private def upsertRevisionStream(bare: String, meta: TableMeta): DataFrame = {
    val (keySchema, valueSchema) = keyValueSchemas(bare, meta)
    withKeepAsTombstone(Topics.readStreamRecords(spark, bind(bare).topic, conf))
      .select(from_json(col("key").cast("string"), keySchema).as("__k"),
        from_json(col("value").cast("string"), valueSchema).as("__v"),
        col("value").isNull.as("__tomb"), col("offset").as("__ord"))
      .select(col("__k.*"), col("__v.*"), col("__tomb"), col("__ord"))
  }

  /** A changelog driver's topic as a SIGNED revision stream (`__sign`
    * ∈ {+1, −1}) — the input [[startRetractAgg]] and the merge
    * aggregates fold. Upsert drivers go through
    * [[graft.streaming.ChangelogNormalize]] (per-key state expands each
    * revision into retract-prior + add-new; tombstones retract alone);
    * retract drivers already carry the sign as their `__op` tag. The
    * regular join reads upsert dims through [[upsertRevisionStream]]
    * instead: its JoinState snapshot already holds each key's row. */
  private def signedChangelogStream(bare: String, meta: TableMeta,
                                    needProvenance: Boolean = false): DataFrame = {
    if (meta.isUpsert) {
      val b = bind(bare)
      val (keySchema, valueSchema) = keyValueSchemas(bare, meta)
      // __keep=false state records (merge-aggregate HAVING deletes)
      // normalize to tombstones: the downstream aggregate retracts the
      // group exactly as the batch view hides it (round 15 — the
      // multi-level continuous-aggregate contract)
      graft.streaming.ChangelogNormalize
        .normalizeUpsert(withKeepAsTombstone(
          Topics.readStreamRecords(spark, b.topic, conf)))
        .toDF()
        .select(
          from_json(col("k"), keySchema).as("__k"),
          from_json(col("v"), valueSchema).as("__v"),
          col("sign").as(RetractAggRewrite.SignCol),
          timestamp_micros(col("tsUs")).as("$rowtime"),
          col("ord").as(RetractAggRewrite.OrdCol))
        .select(col("__k.*"), col("__v.*"),
          col(RetractAggRewrite.SignCol), col("$rowtime"),
          col(RetractAggRewrite.OrdCol))
    } else if (meta.changelogMode == ChangelogMode.Retract) {
      if (!needProvenance)
        // sum-decomposable consumers need only the sign — no state
        changelogStream(bare).withColumn(RetractAggRewrite.SignCol,
          when(col("__op").isin("-U", "-D"), lit(-1)).otherwise(lit(1)))
      else {
        // arrival-ordered aggregates (first/last) need ADD-PROVENANCE,
        // which a -U does not carry — recover it with the FIFO
        // content-keyed normalizer (Flink's retractable
        // FIRST_VALUE/LAST_VALUE keep the same per-value order lists)
        val decoded = changelogStream(bare, keepOrd = true)
        val dataCols = decoded.columns.filterNot(c =>
          c == "__op" || c == RetractAggRewrite.OrdCol || c == "key" || c == "$rowtime")
        val contentSchema = StructType(
          decoded.schema.fields.filter(f => dataCols.contains(f.name)))
        val spark0 = spark
        import spark0.implicits._
        val rows = decoded.select(
          to_json(struct(dataCols.map(c => col(s"`$c`")): _*)).as("content"),
          col("__op").as("op"),
          col(RetractAggRewrite.OrdCol).as("offset"),
          unix_micros(col("`$rowtime`")).as("tsUs"))
          .as[graft.streaming.ChangelogNormalize.RetractRow]
        graft.streaming.ChangelogNormalize.normalizeRetract(rows).toDF()
          .select(
            from_json(col("v"), contentSchema).as("__v"),
            col("sign").as(RetractAggRewrite.SignCol),
            timestamp_micros(col("tsUs")).as("$rowtime"),
            col("ord").as(RetractAggRewrite.OrdCol))
          .select(col("__v.*"), col(RetractAggRewrite.SignCol),
            col("$rowtime"), col(RetractAggRewrite.OrdCol))
      }
    } else // append driver: a true insert stream — every record adds,
           // and its topic offset is its arrival order
      changelogStream(bare, keepOrd = true)
        .withColumn(RetractAggRewrite.SignCol, lit(1))
  }

  /** Retraction-aware continuous aggregate over a promoted CHANGELOG
    * driver — the Flink semantic the reference's aggregation lab
    * exercises first (`GROUP BY` over `shoe_customers_keyed`,
    * `terraform/lab-aggregations/main.tf:396,431`): the driver's
    * revisions are normalized into signed rows, the select's aggregate
    * functions are rewritten to fold the sign ([[RetractAggRewrite]]),
    * and the running update-mode state equals the aggregate over the
    * driver's LATEST rows at every trigger. A group whose net member
    * count reaches 0 is DELETED downstream (upsert tombstone — Flink's
    * -D). All state (normalize + aggregate) is checkpoint-recovered.
    *
    * The target must be an upsert (PRIMARY KEY) table: the output is
    * an update stream, exactly Flink's update-mode sink requirement. */
  private def startRetractAgg(target: TargetBinding, meta: TableMeta,
                              targetCols: Seq[String], select: String,
                              driver: String, driverMeta: TableMeta): StreamingQuery = {
    require(meta.isUpsert,
      s"INSERT INTO ${target.qualified}: a retraction-folding aggregate is an " +
        "UPDATE stream (groups revise and can be deleted) — the target needs " +
        "PRIMARY KEY (upsert) semantics, as Flink requires of update-mode sinks")
    // analyze + rewrite BEFORE claiming a statement id: a rejected
    // shape must not burn one of the 16 epoch slots — the same
    // statement-time validation ordering startMergeAgg upholds
    // (ADVICE r14)
    val signed = signedChangelogStream(driver, driverMeta)
    val analyzed = withViewShadow(driver, signed) {
      org.apache.spark.sql.GraftSqlBridge.analyzedPlan(spark.sql(select))
    }
    // HAVING: the condition is carried OUT of the plan and applied at
    // the sink — a group whose condition STOPS holding must be deleted
    // downstream (Flink retracts it); an in-plan filter would merely
    // stop emitting and leave the stale passing row behind
    val (agg, havingCond, visibleIdx) =
      RetractAggRewrite.unwrapHaving(analyzed, driver)
    val df0 = org.apache.spark.sql.GraftSqlBridge.ofRows(
      spark, RetractAggRewrite(agg, driver))
    // evaluate HAVING while the rewritten outputs still carry their
    // original exprIds (the rewrite preserves them), THEN rename
    val dfK = df0.withColumn(RetractAggRewrite.KeepCol,
      havingCond.map(org.apache.spark.sql.GraftSqlBridge.column).getOrElse(lit(true)))
    val nOut = agg.aggregateExpressions.size
    val uniq = dfK.toDF(((0 until nOut).map(i => s"__c$i") ++
      Seq(RetractAggRewrite.NetCol, RetractAggRewrite.KeepCol)): _*)
    val names =
      if (targetCols.nonEmpty) targetCols
      else meta.schema.map(_.fieldNames.take(visibleIdx.size).toSeq)
        .getOrElse(visibleIdx.map(i => s"__c$i"))
    val renamed = uniq.select(
      (visibleIdx.zipWithIndex.map { case (src, j) => col(s"__c$src").as(names(j)) } ++
        Seq(col(RetractAggRewrite.NetCol), col(RetractAggRewrite.KeepCol))): _*)
    launch(target, renamed, "update") { stmtId => (batch, batchId) =>
      // net member count 0 ⇒ every row of the group was retracted;
      // HAVING false ⇒ the group left the predicate — either way the
      // group is deleted downstream (the upsert sink turns "-D" into
      // a key tombstone), never left as a stale row
      val withOp = batch
        .withColumn("__op", when(col(RetractAggRewrite.NetCol) <= 0 ||
            !coalesce(col(RetractAggRewrite.KeepCol), lit(false)), lit("-D"))
          .otherwise(lit("+I")))
        .drop(RetractAggRewrite.NetCol, RetractAggRewrite.KeepCol)
      sinkBatch(target, meta, withOp, stmtId, batchId)
    }
  }

  /** Continuous aggregate over a SNAPSHOT-JOINED changelog driver —
    * the `SELECT k, agg(...) FROM driver JOIN dims GROUP BY k` shape
    * (Flink's regular-join + aggregation over changelog inputs), which
    * native streaming aggregation cannot host because the dims must
    * join at their CURRENT state per micro-batch. Executed
    * merge-on-write:
    *
    *  1. per micro-batch, the driver's SIGNED revisions shadow its view
    *     and the select re-resolves FRESH (the snapshot-join
    *     discipline); [[MergeAggRewrite]] turns the aggregate into
    *     per-group DELTAS — mergeable raws (`__r*`) + `__net`;
    *  2. the target topic's PRIOR state is read back filtered to
    *     offsets STRICTLY BEFORE this batch's epoch and full-outer
    *     merged with the deltas on the group keys (raws add; `__net`
    *     tracks group liveness; a net-0 group tombstones);
    *  3. the merged rows sink under this batch's epoch.
    *
    * Exactly-once under replay: the prior state is a pure function of
    * (topic, epoch) — a crash-replayed batchId re-reads the SAME prior
    * state (its own first attempt's records are excluded by the offset
    * filter), recomputes the same deltas from the same checkpointed
    * offsets, and OVERWRITES its epoch. Single-writer-per-upsert-target
    * (enforced above) keeps the topic's epoch space exclusively this
    * statement's, so the filter is exact.
    *
    * Scale shape: the per-batch merge is one key-partitioned join of
    * O(live groups) state against a micro-batch-sized delta — the same
    * read `refreshTargetView` serves lazily; `Topics.compact` bounds
    * it at O(live groups). The raws ride the value JSON and are
    * invisible to the declared-schema view.
    *
    * Join semantics caveat (the documented regular-join approximation,
    * E9): revisions aggregate with the dims' state AT ARRIVAL — a
    * later dim update does not retro-update previously folded rows. */
  private def startMergeAgg(target: TargetBinding, meta: TableMeta,
                            targetCols: Seq[String], select: String,
                            driverRef: String, signedStream: DataFrame,
                            restoreTo: DataFrame = null,
                            mayRetract: Boolean = false): StreamingQuery = {
    require(meta.isUpsert,
      s"INSERT INTO ${target.qualified}: a continuous joined aggregate is an " +
        "UPDATE stream (groups revise and can be deleted) — the target needs " +
        "PRIMARY KEY (upsert) semantics, as Flink requires of update-mode sinks")
    // statement-time validation (Flink rejects at submission, so do
    // we): analyze + rewrite ONCE against the signed stream so shape
    // errors — unsupported aggregate functions, hidden group-key refs,
    // PRIMARY KEY ≠ group keys — reject here, not inside the first
    // micro-batch of a long-running query
    synchronized {
      signedStream.createOrReplaceTempView(driverRef)
      try {
        val analyzed = org.apache.spark.sql.GraftSqlBridge.analyzedPlan(spark.sql(select))
        val (agg, _, visibleIdx) = RetractAggRewrite.unwrapHaving(analyzed, driverRef)
        val form = MergeAggRewrite(agg, driverRef, mayRetract)
        val declaredNames =
          if (targetCols.nonEmpty) targetCols
          else meta.schema.map(_.fieldNames.take(visibleIdx.size).toSeq)
            .getOrElse(throw new IllegalArgumentException(
              s"INSERT INTO ${target.qualified}: no declared schema to name the " +
                "aggregate's output columns"))
        val visToName = visibleIdx.zip(declaredNames).toMap
        val keyNames = form.keyPositions.flatMap(visToName.get)
        require(meta.primaryKey.toSet == keyNames.toSet &&
            form.keyPositions.forall(visToName.contains),
          s"INSERT INTO ${target.qualified}: the merge aggregate upserts per " +
            s"GROUP BY key — PRIMARY KEY (${meta.primaryKey.mkString(", ")}) must " +
            s"equal the group-key columns (${keyNames.mkString(", ")})")
      } finally restoreRefView(driverRef, Option(restoreTo).getOrElse(signedStream))
    }
    val dimRefs = tableRefs(select).filterNot(_ == driverRef)
    // per-statement execution session (round 17): shadow + re-analysis
    // in this statement's own clone — no runner-wide serialization;
    // dim freshness pulled before each analysis
    val sess = microBatchSession()
    launch(target, signedStream, "append") { stmtId => (batch0, batchId) =>
      refreshTableRefViews(sess, dimRefs)
      val batch = org.apache.spark.sql.GraftSqlBridge.toSession(sess, batch0)
      batch.createOrReplaceTempView(driverRef)
      val analyzed = org.apache.spark.sql.GraftSqlBridge
        .analyzedPlan(sess.sql(select))
      val (agg, havingCond, visibleIdx) =
        RetractAggRewrite.unwrapHaving(analyzed, driverRef)
      val form = MergeAggRewrite(agg, driverRef, mayRetract)
      // HAVING in the merge path: the emit row is rebuilt from
      // merged raws, so the condition's attribute refs are
      // re-bound BY POSITION to the emitted column names
      val idxByExprId = agg.aggregateExpressions.map(_.exprId)
        .zipWithIndex.toMap
      mergeSink(sess, target, meta, targetCols, form, stmtId, batchId,
        havingCond, visibleIdx, idxByExprId)
    }
  }

  /** One micro-batch of the merge-on-write aggregate: compute deltas,
    * merge with prior state, sink under this batch's epoch.
    * `visibleIdx` selects the DECLARED outputs among the aggregate's
    * full output list (a HAVING condition may have extended it with
    * hidden aggregates); `havingCond` deletes groups that stop
    * satisfying the predicate. */
  private def mergeSink(sess: SparkSession, target: TargetBinding, meta: TableMeta,
                        targetCols: Seq[String], form: MergeAggRewrite.MergeForm,
                        stmtId: Long, batchId: Long,
                        havingCond: Option[org.apache.spark.sql.catalyst.expressions.Expression],
                        visibleIdx: Seq[Int],
                        idxByExprId: Map[org.apache.spark.sql.catalyst.expressions.ExprId, Int]): Unit = {
    import org.apache.spark.sql.GraftSqlBridge
    val epoch = epochOf(target, stmtId, batchId)
    val declaredNames =
      if (targetCols.nonEmpty) targetCols
      else meta.schema.map(_.fieldNames.take(visibleIdx.size).toSeq)
        .getOrElse(throw new IllegalArgumentException(
          s"INSERT INTO ${target.qualified}: no declared schema to name the " +
            "aggregate's output columns"))
    // every FULL output position gets a name: declared for visible
    // positions, internal for HAVING-hidden aggregates
    val posToName: Int => String = {
      val m = visibleIdx.zip(declaredNames).toMap
      (i: Int) => m.getOrElse(i, s"__h$i")
    }
    val names = (0 until form.visibleCount).map(posToName)
    val keyNames = form.keyPositions.map(posToName)
    require(meta.primaryKey.toSet == keyNames.toSet,
      s"INSERT INTO ${target.qualified}: the merge aggregate upserts per GROUP " +
        s"BY key — PRIMARY KEY (${meta.primaryKey.mkString(", ")}) must equal " +
        s"the group-key columns (${keyNames.mkString(", ")})")
    val netCol = RetractAggRewrite.NetCol
    val delta = GraftSqlBridge.ofRows(sess, form.delta)
      .toDF((keyNames ++ form.rawNames :+ netCol): _*)
      .persist() // read several times: empty-check, merge, touched keys
    try {
      // an all-filtered batch contributes nothing — skip the state
      // rewrite entirely (at scale the merge is O(live groups); paying
      // it for an empty delta would turn quiet triggers into full
      // state churn). Replay-consistent: a replayed empty batch skips
      // identically, leaving no epoch — the same absence either way.
      if (delta.isEmpty) return
      val keyFields = meta.schema.getOrElse(throw new IllegalArgumentException(
        s"table ${target.qualified}: no declared schema for the merge state"))
        .fields.filter(f => keyNames.contains(f.name))
      val prior = readPriorState(sess, target.topic, epoch, StructType(keyFields),
        StructType(form.rawNames.lazyZip(form.rawTypes).map(StructField(_, _)) :+
          StructField(netCol, LongType)))
      def keyCond(l: String, r: String) =
        keyNames.map(k => col(s"$l.`$k`") <=> col(s"$r.`$k`")).reduce(_ && _)
      def addCol(n: String, dt: org.apache.spark.sql.types.DataType) =
        (coalesce(col(s"p.`$n`"), lit(0).cast(dt)) +
          coalesce(col(s"d.`$n`"), lit(0).cast(dt))).cast(dt).as(n)
      // merge operator per raw: signed sums compose under +; min/max
      // raws (insert-only drivers) under least/greatest (null-skipping)
      def mergeRaw(n: String, dt: org.apache.spark.sql.types.DataType, op: String) =
        op match {
          case "min" => least(col(s"p.`$n`"), col(s"d.`$n`")).cast(dt).as(n)
          case "max" => greatest(col(s"p.`$n`"), col(s"d.`$n`")).cast(dt).as(n)
          case _ => addCol(n, dt)
        }
      // DELTA-driven left join, not full-outer: only groups this batch
      // touched are rewritten (their merged row lands under the new
      // epoch and wins latest-per-key); untouched groups' existing
      // records stay the latest — per-batch write cost is O(delta
      // groups), never O(live groups)
      val mergedRaws = delta.as("d").join(prior.as("p"), keyCond("p", "d"), "left_outer")
        .select((keyNames.map(k => col(s"d.`$k`").as(k)) ++
          form.rawNames.lazyZip(form.rawTypes).lazyZip(form.rawOps).map(mergeRaw) :+
          addCol(netCol, LongType)): _*)
      // value multisets (retractable min/max, exact DISTINCT): merge
      // each per-(group, value) delta with the helper topic's prior
      // state, write the TOUCHED pairs under this epoch, and recompute
      // the stats over LIVE values for the touched groups only
      val merged = form.valueSets.foldLeft(mergedRaws) { (acc, vs) =>
        val stats = mergeValueSet(sess, target, keyFields, keyNames, vs, stmtId, batchId, delta)
        acc.as("m").join(stats.as("s"), keyCond("m", "s"), "left_outer")
          .select((acc.columns.map(c => col(s"m.`$c`")) ++
            stats.columns.filterNot(keyNames.contains)
              .map(c => col(s"s.`$c`"))).toIndexedSeq: _*)
      }
      // ALL outputs (declared + HAVING-hidden) in positional order:
      // group keys pass through; agg positions re-apply the original
      // outer expression over the MERGED raws / recomputed stats
      // (exact: the raw, not the emitted value, is what merged)
      val visible = (0 until form.visibleCount).map { i =>
        if (form.keyPositions.contains(i)) col(s"`${names(i)}`")
        else GraftSqlBridge.column(form.emit(i)).as(names(i))
      }
      // HAVING verdict over the emitted columns: the condition's attr
      // refs are re-bound by position to the emitted names
      val keep = havingCond.map { c =>
        GraftSqlBridge.column(c.transform {
          case ar: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
            org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
              .quoted(posToName(idxByExprId(ar.exprId)))
        })
      }.getOrElse(lit(true))
      // the raws + __net ride the VALUE (invisible to the declared-
      // schema view) so the next batch's prior read can merge; a
      // net-0 or HAVING-failing group's "-D" becomes a key tombstone
      // in the encode. Recomputed value-set stats and HAVING-hidden
      // outputs do NOT ride along — they are recomputed per batch.
      // a HAVING-failing group keeps its STATE record (its data still
      // exists; only visibility changes — the upsert view filters on
      // the __keep marker in the value); a net-0 group's state is
      // genuinely empty and tombstones
      val declaredCols = visibleIdx.map(i => col(s"`${posToName(i)}`"))
      val sunkOut = merged
        .select((visible ++ form.rawNames.map(n => col(s"`$n`")) :+
          col(netCol)): _*)
        .withColumn(RetractAggRewrite.KeepCol, keep)
        .withColumn("__op", when(col(netCol) <= 0, lit("-D")).otherwise(lit("+I")))
        .select((declaredCols ++ form.rawNames.map(n => col(s"`$n`")) ++
          Seq(col(netCol), col(RetractAggRewrite.KeepCol), col("__op"))): _*)
      // the view keeps the declared schema: the raws, __net and __keep
      // written alongside must not surface in it
      sinkBatch(target, meta, sunkOut, stmtId, batchId,
        view = meta.schema.map(sunkSchema(meta, _)))
    } finally delta.unpersist()
  }

  /** One value multiset's micro-batch step (retractable min/max, exact
    * DISTINCT — Flink's retractable aggregate functions keep the same
    * per-(group, value) state): merge the batch's per-(group, value)
    * signed counts with the helper topic's prior state, WRITE the
    * delta-touched pairs under this epoch (net ≤ 0 tombstones the
    * pair), and return the recomputed stats over LIVE values for the
    * TOUCHED groups. Replay-idempotent by the same offset filter as
    * the main merge. The recompute reads prior pairs only for groups
    * the batch touched (key-partitioned join), so per-batch cost is
    * O(live values of touched groups), never the whole multiset. */
  private def mergeValueSet(sess: SparkSession, target: TargetBinding, keyFields: Seq[StructField],
                            keyNames: Seq[String], vs: MergeAggRewrite.ValueSet,
                            stmtId: Long, batchId: Long, delta: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    val epoch = epochOf(target, stmtId, batchId)
    val vsTopic = s"${target.topic}__${vs.name}"
    Topics.ensureTopic(sess, conf, vsTopic)
    val vsDelta = GraftSqlBridge.ofRows(sess, vs.delta)
      .toDF((keyNames ++ Seq("__v", "__vsd")): _*)
    val prior = readPriorState(sess, vsTopic, epoch,
      StructType(keyFields :+ StructField("__v", vs.childType)),
      StructType(Seq(StructField("__vsn", LongType))))
    val touched = delta.select(keyNames.map(k => col(s"`$k`")): _*).distinct()
    def cond(l: String, r: String, cols: Seq[String]) =
      cols.map(c => col(s"$l.`$c`") <=> col(s"$r.`$c`")).reduce(_ && _)
    val priorTouched = prior.as("vp")
      .join(touched.as("t"), cond("vp", "t", keyNames), "left_semi")
    // full outer on (keys, value): prior pairs the delta did not touch
    // still feed the recompute (the group's min may live there)
    val m = priorTouched.as("p")
      .join(vsDelta.as("d"), cond("p", "d", keyNames :+ "__v"), "full_outer")
      .select((keyNames.map(k => coalesce(col(s"d.`$k`"), col(s"p.`$k`")).as(k)) ++ Seq(
        coalesce(col("d.`__v`"), col("p.`__v`")).as("__v"),
        (coalesce(col("p.`__vsn`"), lit(0L)) +
          coalesce(col("d.`__vsd`"), lit(0L))).as("__vsn"),
        col("d.`__vsd`").isNotNull.as("__fromDelta"))): _*)
      .persist() // feeds both the pair write and the stats recompute
    try {
      val toWrite = m.where(col("__fromDelta"))
        .withColumn("__op", when(col("__vsn") <= 0, lit("-D")).otherwise(lit("+I")))
        .select((keyNames.map(k => col(s"`$k`")) ++
          Seq(col("__v"), col("__vsn"), col("__op"))): _*)
      val t0 = System.nanoTime()
      Topics.appendJson(toWrite, vsTopic, conf,
        keyCols = keyNames :+ "__v", epoch = epoch)
      addSinkPhases(target, stmtId, SinkPhases(batchId, System.nanoTime() - t0, 0L))
      val live = m.where(col("__vsn") > 0)
      // discrete percentiles ("dsc<micros>" asc / "dsr<micros>" desc):
      // recomputed from the value-sorted (value, net-count) pairs in a
      // post-projection (the pick needs the group's TOTAL, which the
      // same .agg cannot nest)
      val discStats = vs.stats.toSeq
        .filter(st => st.startsWith("dsc") || st.startsWith("dsr")).sorted
      val aggs = Seq(
        "min" -> min(col("__v")).as(s"${vs.name}_min"),
        "max" -> max(col("__v")).as(s"${vs.name}_max"),
        "cnt" -> count(col("__v")).as(s"${vs.name}_cnt"),
        "sum" -> sum(col("__v")).as(s"${vs.name}_sum"),
        // retractable LISTAGG: the sorted live distinct values — the
        // emit joins them with the statement's delimiter
        "lst" -> sort_array(collect_list(col("__v"))).as(s"${vs.name}_lst"),
        // non-distinct LISTAGG: each live value repeated by its net
        // copy count (the multiset already knows it)
        "lsa" -> flatten(transform(
          sort_array(collect_list(struct(col("__v").as("v"), col("__vsn").as("n")))),
          p => array_repeat(p.getField("v"), p.getField("n").cast("int"))))
          .as(s"${vs.name}_lsa"))
        .collect { case (s, c) if vs.stats.contains(s) => c } ++
        // EXACT percentile stats (round 16): the live pairs' net count
        // IS the frequency column of Spark's exact weighted Percentile
        // — recomputed per touched group like every other stat. Key
        // "pct<micros-of-p>" decodes back to the percentage here.
        vs.stats.toSeq.filter(_.startsWith("pct")).sorted.map { st =>
          percentile(col("__v"), lit(st.drop(3).toLong / 1e6), col("__vsn"))
            .as(s"${vs.name}_$st")
        } ++
        // ARRAY-of-percentages form ("pca<m1>_<m2>…", round 18): one
        // weighted-Percentile pass emitting all picks as array<double>
        vs.stats.toSeq.filter(_.startsWith("pca")).sorted.map { st =>
          val ps = st.drop(3).split('_').map(m => lit(m.toLong / 1e6))
          percentile(col("__v"), array(ps.toIndexedSeq: _*), col("__vsn"))
            .as(s"${vs.name}_$st")
        } ++
        (if (discStats.isEmpty) Nil
         else Seq(sort_array(collect_list(
           struct(col("__v").as("v"), col("__vsn").as("n")))).as("__dscpairs")))
      val grouped = live.groupBy(keyNames.map(k => col(s"`$k`")): _*)
        .agg(aggs.head, aggs.tail: _*)
      // SQL percentile_disc: the first value in sort order whose
      // cumulative net count reaches ⌈p·N⌉ (cume_dist ≥ p). The target
      // is EXACT integer micro-arithmetic — (m·N + 10⁶−1) div 10⁶,
      // never a float multiply that could drift across an integer
      // boundary at a tie (CLAUDE.md intDiv discipline); p = 0 clamps
      // to the first value. "dsr" (ORDER BY … DESC) scans reversed.
      val withDisc = discStats.foldLeft(grouped) { (df, st) =>
        // null-valued pairs are NOT pickable and must not count toward
        // N (SQL percentile_disc ignores nulls, like Percentile does
        // on the pct path — ADVICE r17): filter them out of the array
        // BEFORE computing the total and scanning
        val base = if (st.startsWith("dsr")) reverse(col("__dscpairs"))
                   else col("__dscpairs")
        val arr = filter(base, x => x.getField("v").isNotNull)
        val total = aggregate(arr, lit(0L), (a, x) => a + x.getField("n"))
        // project arr + target to columns FIRST: a derived expression
        // referenced inside a HOF lambda is re-evaluated per element —
        // `target` embeds the whole-array total, so inlining it makes
        // the pick O(n²) per touched group (ADVICE r17 / CLAUDE.md)
        val arrCol = s"__dscarr_$st"
        val tgtCol = s"__dsctgt_$st"
        val staged = df.withColumn(arrCol, arr)
          .withColumn(tgtCol, greatest(graft.expressions.HashExpressions.intDiv(
            lit(st.drop(3).toLong) * total + lit(999999L), lit(1000000L)), lit(1L)))
        val nullV = lit(null).cast(vs.childType)
        val picked = aggregate(col(s"`$arrCol`"),
          struct(lit(0L).as("c"), nullV.as("r")),
          (acc, x) => {
            val c2 = acc.getField("c") + x.getField("n")
            when(acc.getField("r").isNotNull, acc)
              .otherwise(when(c2 >= col(s"`$tgtCol`"),
                struct(c2.as("c"), x.getField("v").as("r")))
                .otherwise(struct(c2.as("c"), nullV.as("r"))))
          },
          acc => acc.getField("r"))
        staged.withColumn(s"${vs.name}_$st", picked).drop(arrCol, tgtCol)
      }
      // eager: materialize the stats while the merge frame is cached
      // (the caller's sink action runs after this frame is unpersisted)
      val stats = (if (discStats.isEmpty) withDisc
                   else withDisc.drop("__dscpairs"))
        .localCheckpoint() // cuts the lineage to the uncached m
      stats
    } finally m.unpersist()
  }

  /** A keyed topic's PRIOR state — the merge aggregate's groups or a
    * value multiset's (group, value) pairs: the latest record per key
    * among offsets STRICTLY BEFORE `epoch` (a pure function of (topic,
    * epoch) — replay-stable), tombstones dropped, decoded to the key's
    * then the value's fields. */
  private def readPriorState(sess: SparkSession, topic: String, epoch: Long,
                             keySchema: StructType, valueSchema: StructType): DataFrame = {
    val records = Topics.readBatchRecords(sess, topic, conf)
      .where(col("offset") < graft.expressions.BoundLong.long(epoch * (1L << 40)))
    val latest = ChangelogOps.latestByKey(records, Seq("key"), Seq("offset"))
      .where(col("value").isNotNull)
    Topics.decodeJson(latest, valueSchema, Some(keySchema))
      .select((keySchema.fieldNames ++ valueSchema.fieldNames).map(n => col(s"`$n`")).toIndexedSeq: _*)
  }

  /** Temporarily shadow `name`'s view with `df` while `body` BUILDS
    * its plan (the built DataFrame captures the relation, so the
    * shadow need not outlive plan construction), then restore the
    * table's materialized batch view for every other consumer. */
  private def withViewShadow[T](name: String, df: DataFrame)(body: => T): T = synchronized {
    df.createOrReplaceTempView(name)
    try body finally restoreRefView(name, df)
  }

  /** PULL-model dim freshness (round 17 statement concurrency): before
    * each analysis, a statement re-registers the CURRENT state view of
    * every runner-TABLE ref in its OWN session — its clone captured the
    * views at statement start, and a parquet view's file listing snaps
    * at registration, so without the pull a dim would freeze at
    * submission-time state. External views (static frames,
    * MemoryStreams) keep their clone-time binding: they are plans over
    * live objects, not listings. Catalog reads take the runner lock
    * briefly; the re-registration itself is session-local. */
  private def refreshTableRefViews(sess: SparkSession, refs: Seq[String]): Unit =
    refs.foreach { r =>
      val bound = synchronized {
        if (topicOf.contains(catalog.qualify(r)))
          Some((bind(r), catalog.getOrCreate(r)))
        else None
      }
      bound.foreach { case (b, m) =>
        m.schema.foreach(sc => refreshTargetView(sess, b, m, sunkSchema(m, sc)))
      }
    }

  /** Re-point a ref's bare view to its steady-state binding: topic
    * SOURCES via refreshSourceView (ALTER casts/watermarks re-apply),
    * runner-created TABLES via their materialized topic read-back,
    * anything else back to the given frame. */
  private def restoreRefView(ref: String, fallback: DataFrame): Unit = {
    if (sources.contains(ref)) refreshSourceView(ref)
    else if (isTopicTable(ref)) {
      val m = catalog.getOrCreate(ref)
      m.schema.foreach(sc => refreshTargetView(spark, bind(ref), m, sunkSchema(m, sc)))
    } else fallback.createOrReplaceTempView(ref)
  }

  /** Start `stream` as the target's long-running INSERT under a newly
    * claimed statement id (its checkpoint and query name). `perBatch`
    * sees the id once, before the query starts, and returns what each
    * micro-batch runs. */
  private def launch(target: TargetBinding, stream: DataFrame, outputMode: String)
                    (perBatch: Long => (DataFrame, Long) => Unit): StreamingQuery = {
    val stmtId = nextInsertId(target)
    val each = perBatch(stmtId)
    stream.writeStream.outputMode(outputMode)
      .queryName(queryDisplayName(target, stmtId))
      .option("checkpointLocation", checkpointDir(target, stmtId))
      .foreachBatch(each)
      .start()
  }

  /** Allocate an INSERT's restart-stable statement id. */
  private def nextInsertId(target: TargetBinding): Long = {
    val id = insertSeq.getAndIncrement()
    require(id < (1L << 4),
      s"INSERT INTO ${target.qualified}: more than 16 INSERT statements " +
        "in one runner — epoch namespace (batchId·2^4 + insertSeq) exhausted")
    id
  }

  /** Per-INSERT checkpoint dir: keyed on the restart-stable statement
    * id + the SCOPED target name, so a re-run script resumes each
    * statement from its own committed offsets. */
  private def checkpointDir(target: TargetBinding, stmtId: Long): String =
    s"$checkpointRoot/ins$stmtId-${target.scoped}"

  /** Active-query display name: statement id + target for
    * [[progressSummary]] identifiability, SUFFIXED with a short hash
    * of the topic root — Spark rejects duplicate ACTIVE query names
    * per session, and two runners on one session (different
    * TopicConfs, same script) must not collide. Same-conf restarts
    * reuse the name (the predecessor is stopped); two LIVE runners on
    * one conf root would share checkpoints — there the loud
    * duplicate-name error is the correct outcome. */
  private def queryDisplayName(target: TargetBinding, stmtId: Long): String = {
    val tag = Integer.toHexString(
      java.security.MessageDigest.getInstance("MD5")
        .digest(conf.root.getBytes("UTF-8")).take(4)
        .foldLeft(0)((a, b) => (a << 8) | (b & 0xff)))
    s"ins$stmtId-${target.scoped}-$tag"
  }

  /** Sink ONE micro-batch: encode to Kafka-shaped records, write to the
    * target topic (distributed write — `Topics.appendJson` never
    * collects), make the visible view over the read-back current, and
    * record the write's and the refresh's nanos for [[progressSummary]].
    *
    * Effectively-once on the FILES transport: the epoch is a PURE
    * FUNCTION of (statement id, batchId) — a crash-replayed
    * micro-batch recomputes from the same checkpointed offsets and
    * lands on the same epoch, which the files-transport append
    * OVERWRITES (idempotent), never duplicates. The Kafka transport
    * remains at-least-once under replay (broker appends have no
    * epoch key; exactly-once there needs transactions — env-limited,
    * see ARCHITECTURE.md).
    *
    * `view`: the schema the visible view decodes, when the written
    * records carry more than the table's columns (the merge aggregate's
    * raws); by default the written schema. */
  private def sinkBatch(target: TargetBinding, meta: TableMeta, batch: DataFrame,
                        stmtId: Long, batchId: Long,
                        view: Option[StructType] = None): Unit = {
    val epoch = epochOf(target, stmtId, batchId)
    val retract = meta.changelogMode == ChangelogMode.Retract
    val tagged =
      if (retract && !batch.columns.contains("__op")) batch.withColumn("__op", lit("+I"))
      else batch
    // the write itself runs UNLOCKED (round 17 statement concurrency):
    // concurrent statements sink to disjoint epoch namespaces (stmtId
    // rides the epoch's low bits; upsert targets are single-writer),
    // so only the shared MAIN-session view refresh needs the lock
    val t0 = System.nanoTime()
    Topics.appendJson(tagged, target.topic, conf,
      keyCols = if (meta.isUpsert) meta.primaryKey else Nil, epoch = epoch)
    val t1 = System.nanoTime()
    synchronized { refreshTargetView(spark, target, meta, view.getOrElse(tagged.schema)) }
    val t2 = System.nanoTime()
    addSinkPhases(target, stmtId, SinkPhases(batchId, t1 - t0, t2 - t1))
  }

  /** A micro-batch's epoch: batch-major `batchId·2^4 + stmtId` (see
    * [[insertSeq]]), inside the files-transport offset packing's 2^19
    * per-statement budget. */
  private def epochOf(target: TargetBinding, stmtId: Long, batchId: Long): Long = {
    require(batchId < (1L << 19),
      s"INSERT INTO ${target.qualified}: batchId $batchId exceeds the " +
        "2^19 per-statement epoch budget of the files-transport offset " +
        "packing; move the pipeline to the kafka transport")
    (batchId << 4) | stmtId
  }

  /** The sink's own phases of a query's latest micro-batch, by query
    * name: nanos in [[Topics.appendJson]] (encode, write, commit; the
    * target's and a merge aggregate's value-multiset topics') and in the
    * view refresh, summed over the batch's writes. */
  private final case class SinkPhases(batchId: Long, writeNs: Long, refreshNs: Long) {
    def +(o: SinkPhases): SinkPhases =
      SinkPhases(batchId, writeNs + o.writeNs, refreshNs + o.refreshNs)
  }
  private val sinkPhases = new java.util.concurrent.ConcurrentHashMap[String, SinkPhases]()

  private def addSinkPhases(target: TargetBinding, stmtId: Long, phases: SinkPhases): Unit =
    sinkPhases.merge(queryDisplayName(target, stmtId), phases,
      (prev, cur) => if (prev.batchId == cur.batchId) prev + cur else cur)

  /** What a target's visible view is built from. `written` keeps only
    * the top-level names and types: the decode makes every column
    * nullable, so a batch schema and the declared one that differ in
    * nullability or metadata build the same view. */
  private final case class ViewSpec(topic: String, upsertKey: Seq[String],
                                    written: StructType)

  /** Visible views by (session, spec), built once each. */
  private val visibleViews =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, ViewSpec), DataFrame]
  /** The catalog entry this runner last registered under each
    * (session, view name), with the spec it was built from. An entry
    * that is no longer the catalog's (a shadow, a scope switch, a drop)
    * means the name must be registered again. */
  private val registeredViews =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (ViewSpec, AnyRef)]()

  /** Make the target's visible view current in `sess`: the scoped
    * shadow always, the bare name while this table is what the current
    * scope resolves it to. Upsert targets materialize latest-by-offset
    * per key (the compacted-topic contract); append/retract targets
    * expose every record. Metadata columns are dropped unless the table
    * declares them.
    *
    * Register-once: the view reads its topic through
    * `Topics.readBatchRecords`, whose file list comes from the topic's
    * manifest when each query is planned, so a view built once serves
    * every later commit. A name is registered again only when its
    * catalog entry is no longer the one registered here (a
    * `withViewShadow` shadow, `switchScope`, a side-view drop) or the
    * spec changed; otherwise this is a catalog lookup per name.
    *
    * The view is LAZY — the O(log length) materialization runs when a
    * consumer queries it, which is the compacted-topic contract cost.
    * `Topics.compact` bounds it at O(live keys), exactly as Kafka log
    * compaction does. */
  private def refreshTargetView(sess: SparkSession, target: TargetBinding,
                                meta: TableMeta, written: StructType): Unit = {
    val spec = ViewSpec(target.topic, if (meta.isUpsert) meta.primaryKey else Nil,
      StructType(written.fields.map(f => StructField(f.name, f.dataType))))
    val catalogOf = sess.sessionState.catalog
    // a micro-batch arriving after USE switched away must not clobber
    // the other scope's same-named view
    val names = target.scoped +: (if (inCurrentScope(target)) Seq(target.bare) else Nil)
    names.foreach { name =>
      val current = catalogOf.getRawTempView(name)
      val upToDate = Option(registeredViews.get((sess, name))).exists { case (s, entry) =>
        s == spec && current.exists(_ eq entry)
      }
      if (!upToDate) {
        visibleViews.getOrElseUpdate((sess, spec), visibleView(sess, spec))
          .createOrReplaceTempView(name)
        catalogOf.getRawTempView(name).foreach(e => registeredViews.put((sess, name), (spec, e)))
      }
    }
  }

  private def visibleView(sess: SparkSession, spec: ViewSpec): DataFrame = {
    val written = spec.written
    val records = Topics.readBatchRecords(sess, spec.topic, conf)
    if (spec.upsertKey.nonEmpty) {
      val keySchema = StructType(written.fields.filter(f => spec.upsertKey.contains(f.name)))
      // decode an OPTIONAL __keep visibility marker alongside the
      // declared fields: a merge-aggregate writer stores a
      // HAVING-failing group's STATE with __keep=false (the data
      // still exists; only visibility changed). Records from every
      // other writer lack the field — from_json yields null and the
      // coalesce keeps them visible.
      val valueSchema = StructType(
        written.fields.filterNot(f => spec.upsertKey.contains(f.name) ||
          f.name == "__op" || f.name == RetractAggRewrite.KeepCol) :+
          StructField(
            RetractAggRewrite.KeepCol, org.apache.spark.sql.types.BooleanType))
      // latest record per KEY BYTES by offset FIRST, tombstone filter
      // AFTER — the same fold `Topics.compact` applies, so the view is
      // identical before and after compaction. Filtering tombstones
      // first would resurrect a deleted key's previous value.
      val latestRec = ChangelogOps.latestByKey(records, Seq("key"), Seq("offset"))
        .where(col("value").isNotNull)
      val decoded = Topics.decodeJson(latestRec, valueSchema, Some(keySchema))
        .where(coalesce(col(RetractAggRewrite.KeepCol), lit(true)))
      decoded.select(written.fieldNames
        .filterNot(n => n == "__op" || n == RetractAggRewrite.KeepCol)
        .map(col).toIndexedSeq: _*)
    } else {
      val decoded = Topics.decodeJson(records, written)
      decoded.select(written.fieldNames.map(col).toIndexedSeq: _*)
    }
  }

  /** Drain every statement to quiescence. One pass drains each query
    * in STATEMENT order, which propagates a topologically-ordered
    * chain fully but under-drains a chained DAG declared OUT of order
    * (a downstream promoted INSERT listed before its upstream would
    * drain first and miss the records the upstream is about to sink).
    * [[run]] detects that shape statically — an INSERT targeting a
    * table some EARLIER statement promoted-consumes — and only then
    * does the drain take `queries.size` passes (chain depth is bounded
    * by the statement count). Ordinary scripts keep the single-pass
    * cost. */
  def processAllAvailable(): Unit = {
    val passes = if (outOfOrderChain) math.max(1, queries.size) else 1
    (0 until passes).foreach(_ => queries.foreach(_.processAllAvailable()))
  }
  def stopAll(): Unit = queries.foreach(_.stop())

  /** One progress row per long-running INSERT — the observability
    * surface a production operator of never-terminating statements
    * watches (the managed-platform analog is the statement status
    * panel): last completed batch, rows ingested by it, current
    * processing rate, the event-time watermark (the lag signal for
    * the stateful operators), and the trigger's per-phase wall split
    * (`phases`). Reads each query's LAST progress
    * snapshot — a driver-side constant-size read, no job run. */
  def progressSummary: Seq[StatementProgress] = queries.toSeq.flatMap { q =>
    import scala.jdk.CollectionConverters._
    Option(q.lastProgress).map { p =>
      // regular-join operator state (VERDICT r18 item 6): size each
      // state-owning side's directory — generations vs un-folded
      // batch dirs (compaction health), bytes, and exact footer row
      // counts; a driver-side metadata read, never a Spark job
      val js = synchronized { joinStateDirs.get(Option(p.name).getOrElse("")) }
        .getOrElse(Nil).map { case (src, dir, appendOnly) =>
          val st = graft.streaming.JoinState.stats(spark, dir)
          JoinSideState(src, if (appendOnly) "log" else "snapshot",
            st.rows, st.bytes, st.generations, st.batchDirs)
        }
      StatementProgress(
        name = Option(p.name).getOrElse(q.id.toString),
        batchId = p.batchId,
        inputRows = p.numInputRows,
        rowsPerSecond = p.processedRowsPerSecond,
        watermark = Option(p.eventTime.get("watermark")).getOrElse(""),
        tombstonesDropped = droppedTombstones(p),
        joinState = js,
        phases = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap ++
          Option(sinkPhases.get(Option(p.name).getOrElse(""))).filter(_.batchId == p.batchId)
            .map(sp => Map("sinkWrite" -> sp.writeNs / 1000000L,
              "viewRefresh" -> sp.refreshNs / 1000000L))
            .getOrElse(Map.empty))
    }
  }

  /** Tombstones skipped by promoted-driver consumers across the RECENT
    * progress window (Spark retains ~100 batches) — the
    * "downstream is retaining deleted keys" alarm at a glance; the
    * per-batch figure rides [[progressSummary]]. */
  def tombstonesDroppedRecent: Long =
    queries.toSeq.flatMap(_.recentProgress).map(droppedTombstones).sum

  /** Tombstones a promoted upsert driver skipped in one trigger (never
    * silent, ADVICE r13): the `graft_tombstones_dropped_<topic>`
    * metrics [[changelogStream]] observes. */
  private def droppedTombstones(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Long = {
    val om = p.observedMetrics
    om.keySet().toArray.collect {
      case n: String if n.startsWith("graft_tombstones_dropped_") => om.get(n).getLong(0)
    }.sum
  }
}

object StreamingStatementRunner {

  /** One term of a regular-join side's telescoping BRACKET — its part
    * of the exact delta rule Δ = Σᵢ [S(pre₍<i₎, postᵢ, post₍>i₎) −
    * S(pre₍<i₎, preᵢ, post₍>i₎)]. `flips` are join nodes evaluated at
    * their INNER component, `pads` at the LeftAnti pad preserving the
    * given side; each is `(preOrderJoinIdx, preservedIsLeft)`. Without
    * `bracket`, every action is linear in the side and the term is ONE
    * evaluation over the side's signed delta. With it, the last pad
    * preserves the node's OTHER side — non-linear in the side — and
    * the term evaluates as a pre(−1)/post(+1) pair. So
    * `Term(Nil, Nil, false)` is the verbatim select over the delta (a
    * multiset-linear side: the delta's own pad rows ride along signed),
    * and `Term(Nil, Nil, true)` the brute pre/post pair of a subquery
    * dim, whose change invalidates every row's verdict at once. */
  private[graft] final case class Term(flips: Seq[Int], pads: Seq[(Int, Boolean)],
                                       bracket: Boolean)
  /** The sanctioned regular-join select shape: a join tree
    * (`spineKinds` in pre-order; empty = no FROM join) of INNER/LEFT/
    * RIGHT/FULL joins, plus subquery dims. `plans` maps every
    * participating OCCURRENCE view name to its bracket's terms.
    *
    * Multi-use routing (round 18, VERDICT r17 item 3): a relation
    * referenced at several FROM sites — directly or through a
    * twice-referenced CTE — is renamed PER OCCURRENCE in [[evalPlan]]
    * (`x`, `x__rjoc2`, …), each occurrence its own side with its own
    * shadow view and bracket. The telescoping identity is exact over
    * occurrences treated as independent variables: occurrence k's
    * term varies only site k (earlier sites at pre, later at post),
    * so the summed brackets still equal S(post…) − S(pre…) exactly —
    * the self-join disease (both sites bound to ONE view, dropping
    * the pre⋈Δ / Δ⋈post cross terms) cannot occur.
    *
    * `evalPlan` is the parsed, CTE-inlined, occurrence-renamed plan
    * every term evaluation analyzes (the SQL text can no longer be
    * used — it still names the shared relation). `occBase` maps each
    * SYNTHETIC occurrence view name to its real table; `sideOrder`
    * lists the outer occurrence view names in join-tree order; every
    * other planned ref is a subquery dim. */
  private[graft] final case class RegularShape(
      spineKinds: Seq[org.apache.spark.sql.catalyst.plans.JoinType],
      plans: Map[String, Seq[Term]],
      evalPlan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      occBase: Map[String, String],
      sideOrder: Seq[String]) {
    def subRefs: Set[String] = plans.keySet -- sideOrder
    /** The real table behind an occurrence view name. */
    def realOf(ref: String): String = occBase.getOrElse(ref, ref)
  }

  /** Where an INSERT's micro-batches come from: `table` as registered
    * (an external stream), or, when `promoted`, a runner-created table
    * read back as its topic's changelog. */
  private[graft] final case class Driver(table: String, promoted: Boolean)

  /** How an INSERT runs: [[StreamingStatementRunner.route]]'s decision,
    * made once at submission, as a value. */
  private[graft] sealed trait Route
  private[graft] object Route {
    /** The select streams as is (over the driver's changelog when it is
      * promoted; no driver when it reads several streams). */
    final case class Direct(driver: Option[Driver]) extends Route
    /** Per micro-batch the driver's rows shadow its view and the select
      * re-resolves against the dims' current state. */
    final case class SnapshotJoin(driver: Driver) extends Route
    /** Flink's regular join over the `sides` occurrence views. */
    final case class RegularJoin(sides: Seq[String], shape: RegularShape) extends Route
    /** A GROUP BY folding a promoted changelog driver's signed revisions. */
    final case class RetractAgg(driver: String) extends Route
    /** A continuous aggregate merged onto the target's prior state per
      * batch; `needProvenance`: a retract driver's rows keep their
      * arrival order (first/last). */
    final case class MergeAgg(driver: Driver, mayRetract: Boolean,
                              needProvenance: Boolean) extends Route
  }

  /** The regular join's telescoped delta rule is exact ONLY for
    * MULTISET-LINEAR selects (a signed input row maps to signed output
    * rows independently of the rest of the input): projections,
    * filters, INNER joins, generators. Windows, DISTINCT, sorts/limits,
    * set differences and subqueries are not linear — those shapes keep
    * the documented snapshot path. Sanctioned NON-linear exceptions,
    * each with an exact bracket decomposition into [[Term]]s: join
    * TREES of ANY shape (left-deep chains, bushy operands) mixing
    * INNER/LEFT/RIGHT/FULL OUTER — a side null-dominated by k nodes,
    * all ancestors of its relation and so nested on one root path,
    * expands top-down (each node: inner-flip continues, FULL's own pad
    * continues, the other-side pad terminates as a pre/post bracket);
    * and SUBQUERY predicates (EXISTS / NOT EXISTS / IN / scalar) whose
    * plans reference only NON-outer refs, bracketed as brute pre/post
    * pairs. Multi-use relations and twice-referenced CTEs route PER
    * OCCURRENCE; duplicated multi-part refs stay snapshot.
    *
    * A pure function of the select's PARSED plan. None = not
    * applicable; otherwise the join tree + each ref's bracket terms. */
  private[graft] def regularJoinShape(
      parser: org.apache.spark.sql.catalyst.parser.ParserInterface,
      select: String): Option[RegularShape] = {
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate => LAgg, Deduplicate, Distinct => LDist, Except,
      GlobalLimit, Intersect, Join, LocalLimit, LogicalPlan, Offset,
      Sort, SubqueryAlias, UnresolvedWith, Window}
    import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, LeftOuter, RightOuter}
    try {
      // the PARSED plan, never the analyzed one: analysis expands
      // the side VIEWS inline, and an upsert view's latest-by-key
      // materialization is itself an Aggregate — only the user's
      // own syntax decides linearity
      val rawPlan = parser.parsePlan(select)
      // CTE ROUTING (round 17, VERDICT r16 item 5): inline a
      // root-level WITH's definitions at their reference sites
      // (subquery references included) so the walk below sees
      // the real relations — a WITH wrapping the S6 join select
      // then regular-joins identically. A twice-referenced CTE
      // inlines its tables twice; the per-occurrence renaming
      // below (round 18) routes each site as its own side.
      // Recursive WITH and NESTED WITH (a CTE body containing
      // its own WITH) keep the snapshot path via the walk's
      // UnresolvedWith case.
      val inlined = rawPlan match {
        case w: UnresolvedWith if !w.allowRecursion =>
          var defs = Map.empty[String, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]
          def substP(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
            p.transformUpWithSubqueries {
              case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
                  if r.multipartIdentifier.size == 1 &&
                    defs.contains(r.multipartIdentifier.head
                      .toLowerCase(java.util.Locale.ROOT)) =>
                defs(r.multipartIdentifier.head.toLowerCase(java.util.Locale.ROOT))
            }
          w.cteRelations.foreach { case (name, body, _) =>
            defs += name.toLowerCase(java.util.Locale.ROOT) -> substP(body)
          }
          substP(w.child)
        case p => p
      }
      // ── PER-OCCURRENCE renaming (round 18): a relation at
      // several MAIN-plan FROM sites (a direct self-join, or a
      // twice-referenced CTE whose inlining above duplicated its
      // table) gets occurrence k ≥ 2 renamed to `<name>__rjocK`,
      // aliased back to the original name when the site carried
      // no alias (so qualified column refs keep resolving; two
      // UNALIASED sites stay ambiguous, exactly as the original
      // SQL was). Each occurrence then routes as its OWN side —
      // see [[RegularShape]]. Subquery plans are left alone
      // (their brute pre/post bracket varies all of a dim's
      // subquery occurrences together, which is exact). ──
      val occBase = scala.collection.mutable.Map.empty[String, String]
      val plan = {
        import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
        import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
        val counts = scala.collection.mutable.Map.empty[String, Int]
        inlined.foreach {
          case r: UnresolvedRelation if r.multipartIdentifier.size == 1 =>
            val n = r.multipartIdentifier.head
            counts(n) = counts.getOrElse(n, 0) + 1
          case _ =>
        }
        val dups = counts.collect { case (n, c) if c > 1 => n }.toSet
        if (dups.isEmpty) inlined
        else {
          val seen = scala.collection.mutable.Map.empty[String, Int]
          def renamed(r: UnresolvedRelation): Option[UnresolvedRelation] = {
            val n = r.multipartIdentifier.head
            val k = seen.getOrElse(n, 0) + 1
            seen(n) = k
            if (k == 1) None // first occurrence keeps the real name
            else {
              val occ = s"${n}__rjoc$k"
              occBase(occ) = n
              Some(r.copy(multipartIdentifier = Seq(occ)))
            }
          }
          // explicit recursion (not transformDown): an aliased
          // site is handled at the alias node and its child is
          // NOT revisited, so each site counts exactly once
          def rewrite(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
              : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = p match {
            case sa @ SubqueryAlias(_, r: UnresolvedRelation)
                if r.multipartIdentifier.size == 1 &&
                  dups(r.multipartIdentifier.head) =>
              renamed(r).map(nr => sa.copy(child = nr)).getOrElse(sa)
            case r: UnresolvedRelation
                if r.multipartIdentifier.size == 1 &&
                  dups(r.multipartIdentifier.head) =>
              renamed(r).map(nr => SubqueryAlias(r.multipartIdentifier.head, nr))
                .getOrElse(r)
            case other => other.withNewChildren(other.children.map(rewrite))
          }
          rewrite(inlined)
        }
      }
      var ok = true
      val subPlans = scala.collection.mutable.ArrayBuffer.empty[LogicalPlan]
      val outerRefs = scala.collection.mutable.Set.empty[String]
      // post-renaming, single-part FROM refs are unique by
      // construction; this guard still catches duplicated
      // MULTI-PART refs (not renamed), which would otherwise
      // bind both occurrences to one shadow view — the self-join
      // disease (ADVICE r16)
      val refCounts = scala.collection.mutable.Map.empty[String, Int]
      plan.foreach { node =>
        node match {
          case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
            val n = r.multipartIdentifier.last
            outerRefs += n
            refCounts(n) = refCounts.getOrElse(n, 0) + 1
          case j: Join =>
            if (j.joinType != Inner && j.joinType != LeftOuter &&
                j.joinType != RightOuter && j.joinType != FullOuter) ok = false
          case _: LAgg | _: Window | _: LDist | _: Deduplicate |
               _: Sort | _: GlobalLimit | _: LocalLimit | _: Offset |
               _: Intersect | _: Except => ok = false
          // CTE definition plans are NOT plan children — this
          // walk cannot see what they hide (an aggregate over a
          // dim would silently break linearity), so WITH stays
          // on the snapshot path
          case _: UnresolvedWith => ok = false
          case _ =>
        }
        node.expressions.foreach(_.foreach {
          case _: org.apache.spark.sql.catalyst.expressions.WindowExpression |
               _: org.apache.spark.sql.catalyst.expressions.UnresolvedWindowExpression =>
            ok = false
          case sq: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
            // a subquery's PLAN may compute anything (aggregates
            // included) — its refs become brute-diff dims below
            subPlans += sq.plan
          case _ =>
        })
      }
      // subquery-referenced refs, nested subqueries included; a
      // CTE inside one hides refs from this walk → not applicable
      val subRefs = scala.collection.mutable.Set.empty[String]
      def collectSub(p: LogicalPlan): Unit =
        p.foreach { n =>
          n match {
            case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
              subRefs += r.multipartIdentifier.last
            case _: UnresolvedWith => ok = false
            case _ =>
          }
          n.expressions.foreach(_.foreach {
            case sq: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
              collectSub(sq.plan)
            case _ =>
          })
        }
      subPlans.foreach(collectSub)
      if (refCounts.values.exists(_ > 1)) ok = false
      // the select must stay linear in every OUTER side: a
      // subquery reading an outer ref couples them non-linearly
      if (subRefs.exists(outerRefs.contains)) ok = false
      if (!ok) return None
      // ── GENERAL join-tree sanction (round 18): index every Join
      //    node of the FROM tree in PRE-ORDER and compute each side's
      //    NON-LINEAR affect set — node l's LEFT-preserving pad
      //    (LEFT/FULL kinds) anti-joins its RIGHT subtree, so it is
      //    non-linear in EVERY ref there; its RIGHT-preserving pad
      //    (RIGHT/FULL kinds) anti-joins its LEFT subtree. A ref's k
      //    affecting nodes are all ancestors of its relation, nested
      //    on one root path; `expand` walks them top-down. k = 0 is
      //    the single linear term (tree SHAPE is irrelevant to
      //    linearity, which sanctions BUSHY INNER trees and
      //    multi-relation operands outright); for k LEFT/RIGHT nodes
      //    it is 1 delta term + k bracket pairs = 2k+1 evaluations,
      //    each FULL node doubling the continuing branches — spec'd to
      //    k=3 in RegularJoinSpec, q250/q251 driver-gated. The shapes
      //    that GENUINELY still snapshot are rejected EARLIER, not
      //    here: non-linear selects (a ref used twice in one
      //    occurrence body, refCounts>1), a subquery reading an outer
      //    ref (subRefs∩outerRefs), unknown join kinds, and FROM refs
      //    hidden outside the join tree (laterals). ──
      @scala.annotation.tailrec
      def descendToJoin(p: LogicalPlan): Option[Join] = p match {
        case j: Join => Some(j)
        case u if u.children.size == 1 => descendToJoin(u.children.head)
        case _ => None
      }
      def refsIn(p: LogicalPlan): Seq[String] = p.collect {
        case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
          r.multipartIdentifier.last
      }
      // no FROM join: a single-relation select whose only dims live in
      // subquery predicates (the blocklist shape) — linear throughout
      val (joins, sideOrder) = descendToJoin(plan) match {
        case None => (Nil, outerRefs.toSeq.sorted)
        case Some(top) => (top.collect { case j: Join => j }, refsIn(top))
      }
      val kinds = joins.map(_.joinType)
      val affects = scala.collection.mutable.Map
        .empty[String, List[(Int, Boolean)]].withDefaultValue(Nil)
      joins.zipWithIndex.foreach { case (jn, l) =>
        if (jn.joinType == LeftOuter || jn.joinType == FullOuter)
          refsIn(jn.right).foreach(r => affects(r) = affects(r) :+ (l -> false))
        if (jn.joinType == RightOuter || jn.joinType == FullOuter)
          refsIn(jn.left).foreach(r => affects(r) = affects(r) :+ (l -> true))
      }
      // at each affecting node (ascending pre-order index), branch into
      // its INNER component (continue), its side-preserving pad for
      // FULL (continue, linear), and its other-side-preserving pad
      // (terminate as a pre/post bracket)
      def expand(nodes: List[(Int, Boolean)], flips: List[Int],
                 owns: List[(Int, Boolean)]): List[Term] = nodes match {
        case Nil => List(Term(flips, owns, bracket = false))
        case (l, inLeft) :: rest =>
          val inner = expand(rest, flips :+ l, owns)
          val own =
            if (kinds(l) == FullOuter) expand(rest, flips, owns :+ (l -> inLeft))
            else Nil
          inner ++ own :+ Term(flips, owns :+ (l -> !inLeft), bracket = true)
      }
      // every FROM ref must live in the join tree (one hidden
      // elsewhere — e.g. a lateral — means the shape is not the form
      // this engine proves)
      if (joins.nonEmpty && sideOrder.isEmpty || !outerRefs.forall(sideOrder.contains)) None
      else Some(RegularShape(kinds,
        sideOrder.map(r => r -> expand(affects(r).sortBy(_._1), Nil, Nil)).toMap ++
          subRefs.map(_ -> Seq(Term(Nil, Nil, bracket = true))),
        plan, occBase.toMap, sideOrder))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The distinct `__side` ids of a persisted regular-join batch, in ONE
    * job with no shuffle: the scan fills every partition's cache, and
    * each task returns only the ids it saw. */
  private def sideIds(batch: DataFrame): Set[Int] =
    batch.select("__side").queryExecution.toRdd
      .mapPartitions { rows =>
        val seen = scala.collection.mutable.Set.empty[Int]
        rows.foreach(r => seen += r.getInt(0))
        seen.iterator
      }
      .collect().toSet
}

/** Shape of a select's aggregation surface, detected PRE-analysis:
  * `contexts` = number of distinct aggregate contexts (GROUP BY /
  * SELECT DISTINCT nodes + nodes whose expressions call aggregate
  * functions; subquery and CTE plans included — scoped to contexts
  * involving the driver when one was given); `topIsAggregate` = the
  * plan root is one; `needsMultiset` = an order statistic
  * (min/max/max_by/min_by/first/last) or DISTINCT aggregate appears
  * (foldable only via the value-multiset merge path when revisions
  * can retract); `hasDistinctAgg` = a DISTINCT aggregate appears (no
  * native streaming form at all); `hasArrivalAgg` = first/last
  * appears (folds by arrival order — needs the offset-ordered merge
  * path on every driver mode). */
final case class AggShape(contexts: Int, topIsAggregate: Boolean,
                          needsMultiset: Boolean, hasDistinctAgg: Boolean,
                          hasArrivalAgg: Boolean, hasCollectAgg: Boolean)

/** Snapshot of one long-running INSERT's last completed micro-batch.
  * `tombstonesDropped`: upsert-driver DELETEs skipped by a promoted
  * append consumer in that batch (they cannot flow without a
  * retraction channel) — non-zero means the downstream table is
  * retaining deleted keys. `phases`: that trigger's wall split in ms,
  * Structured Streaming's `durationMs` — `addBatch` (the statement's
  * own work, sink included), `latestOffset` (source listing),
  * `walCommit`/`commitOffsets` (offset and commit logs),
  * `queryPlanning`, `getBatch`, and `triggerExecution`, the whole —
  * plus, for a batch that sank through the runner's common sink, the
  * sink's own parts of `addBatch`: `sinkWrite` (encode, write and
  * commit the epoch to the target topic) and `viewRefresh` (make the
  * target's view current). */
final case class StatementProgress(name: String, batchId: Long,
                                   inputRows: Long, rowsPerSecond: Double,
                                   watermark: String,
                                   tombstonesDropped: Long = 0L,
                                   joinState: Seq[JoinSideState] = Nil,
                                   phases: Map[String, Long] = Map.empty)

/** Size of one regular-join side's operator state, per state-owning
  * side (self-join occurrences share their owner's entry). `kind` is
  * `"log"` for the append fact log (the join's unbounded side — watch
  * `rows`/`bytes` grow and verify `join.state.ttl` holds them), or
  * `"snapshot"` for a folded changelog dim. `generations` counts
  * folded state files, `batchDirs` the not-yet-compacted per-batch
  * directories — it should hover below `join.state.compact.threshold`;
  * sustained growth means compaction is not keeping up. */
final case class JoinSideState(table: String, kind: String,
                               rows: Long, bytes: Long,
                               generations: Int, batchDirs: Int)
