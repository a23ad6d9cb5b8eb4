package stmtbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.ddl.StatementPreprocessor
import graft.exec.StreamingStatementRunner
import graft.sources.{TopicConf, Topics}
import org.apache.spark.sql.{GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.functions.col

/** Closed-loop statement benchmark: one producer (this thread) appends an
  * epoch of generated records to the source topics, then waits for
  * `runner.processAllAvailable()`, then reads the visible target table,
  * and only then produces the next epoch. The file transport has no
  * broker clock, and the drain barrier is the only exact "result is in
  * the sink topic" signal the runner's public API offers, so freshness
  * is timed from the end of an epoch's append until the drain returns.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --work <scratch dir> --out <dir>
  * The last stdout line is the result JSON; `--trace 1` also writes
  * `<out>/trace-<workload>-s<seed>.json`. Topics and checkpoints live
  * under `--work`, which the caller removes. */
object Main {

  val Cores = 4
  val ShufflePartitions = 4
  val SetupReps = 3
  val WarmupEpochs = 2
  /** Reads of the visible target after each drain; `read_p50_s` is the
    * median over all of them. */
  val ReadsPerEpoch = 3
  /** The read path runs only after drains, so warm-up epochs read more
    * often to let it compile before the timed epochs. */
  val WarmupReads = 4
  /** Every run has a tail: at least 11 timed epochs. */
  val MinEpochs = 11
  /** Timed epochs of the single-threaded baseline pass (trace only). */
  val BaselineEpochs = 2

  final case class Args(workload: Workload, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, out: Path)

  def parseArgs(args: Seq[String]): Either[String, Args] = {
    val pairs = args.grouped(2).toSeq
    if (args.size % 2 != 0 || pairs.exists(!_.head.startsWith("--")))
      return Left(s"expected --key value pairs, got: ${args.mkString(" ")}")
    val m = pairs.map(p => p.head.drop(2) -> p(1)).toMap
    val unknown = m.keySet -- Set("workload", "seed", "seconds", "trace", "work", "out")
    def num(k: String): Either[String, Long] = m.get(k).toRight(s"missing --$k")
      .flatMap(v => v.toLongOption.toRight(s"--$k must be an integer, got '$v'"))
    for {
      _ <- if (unknown.isEmpty) Right(()) else Left(s"unknown option(s): ${unknown.mkString(", ")}")
      name <- m.get("workload").toRight("missing --workload")
      w <- Workloads.byName(name)
      seed <- num("seed")
      seconds <- num("seconds").filterOrElse(s => s >= 1 && s <= 3600, "--seconds must be in 1..3600")
      trace <- num("trace").filterOrElse(t => t == 0 || t == 1, "--trace must be 0 or 1")
      work <- m.get("work").toRight("missing --work")
      out <- m.get("out").toRight("missing --out")
    } yield Args(w, seed, seconds.toInt, trace == 1, Paths.get(work), Paths.get(out))
  }

  /** Timed epochs for a run: the same on every commit for one setting. */
  def epochCount(w: Workload, seconds: Int): Int =
    math.max(MinEpochs, math.round(seconds * w.epochsPerSecond).toInt)

  def session(cores: Int, work: Path): SparkSession = {
    val s = graft.SessionTuning.tuned(SparkSession.builder())
      .master(s"local[$cores]")
      .appName("stmtbench")
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv.toSeq) match {
      case Right(a) => a
      case Left(msg) =>
        System.err.println(s"stmtbench: $msg")
        sys.exit(2)
    }
    val epochs = epochCount(a.workload, a.seconds)
    val spark = session(Cores, a.work.resolve("c4"))
    val result = try new Pass(spark, a.workload, a.seed, Cores, a.work.resolve("c4"), epochs,
      traced = a.trace).run()
    finally stopSession(spark)
    if (a.trace) {
      // the single-threaded baseline for spark.core_util: trace only
      val spark1 = session(1, a.work.resolve("c1"))
      val base = try new Pass(spark1, a.workload, a.seed, 1, a.work.resolve("c1"),
        BaselineEpochs, traced = true, setupReps = 1).run()
      finally stopSession(spark1)
      writeTrace(a, result, base)
    }

    println(Json.write(Map("workload" -> a.workload.name, "seed" -> a.seed,
      "input_sha256" -> result.inputHash, "epochs" -> result.attempted,
      "tail_percentile" -> result.tailPercentile,
      "freshness_s" -> result.freshness.map(f => math.round(f * 1000) / 1000.0))))
    result.mismatch.foreach(m =>
      System.err.println(s"stmtbench: ${a.workload.name}: sink differs from reference: $m"))
    val specs = if (a.trace) Metrics.perLayer else Metrics.endToEnd
    val values = if (a.trace) result.layers else result.endToEnd
    require(values.keySet == specs.map(_.name).toSet,
      s"metric names drifted: ${values.keySet} vs ${specs.map(_.name)}")
    println(Json.write(ListMap(
      "correct" -> result.mismatch.isEmpty,
      "attempted" -> result.attempted,
      "failed" -> result.failed,
      "metrics" -> ListMap(specs.map(s =>
        s.name -> ListMap("value" -> values(s.name), "unit" -> s.unit)): _*))))
    sys.exit(if (result.mismatch.isEmpty && result.failed == 0) 0 else 1)
  }

  private def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def writeTrace(a: Args, main: PassResult, base: PassResult): Unit = {
    val file = a.out.resolve(s"trace-${a.workload.name}-s${a.seed}.json")
    val doc = Map(
      "workload" -> a.workload.name, "seed" -> a.seed, "input_sha256" -> main.inputHash,
      "closed_loop" -> "one producer thread; next epoch only after drain and read return",
      "epochs" -> main.attempted, "tail_percentile" -> main.tailPercentile,
      "cores" -> Cores,
      "end_to_end_untraced_epochs" -> main.endToEnd,
      "per_layer" -> main.layers,
      "stages_missing_times" -> main.stagesMissingTimes,
      "self_time_ms" -> main.tracer.selfTimes,
      "local1_baseline" -> Map("cores" -> 1, "end_to_end" -> base.endToEnd,
        "per_layer" -> base.layers, "self_time_ms" -> base.tracer.selfTimes),
      "spans" -> main.tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "attrs" -> s.attrs)))
    Files.writeString(file, Json.write(doc))
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p)
    try all.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
    finally all.close()
  }
}

final case class PassResult(endToEnd: Map[String, Double], layers: Map[String, Double],
                            attempted: Int, failed: Int, tailPercentile: Double,
                            freshness: Seq[Double],
                            mismatch: Option[String], inputHash: String,
                            stagesMissingTimes: Int, tracer: Tracer)

/** One workload on one session: repeated set-up, warm-up epochs, the
  * timed epochs, then the correctness reference.
  *
  * With `traced`, even epochs attach the job listener and read the
  * progress surfaces (the per-layer figures come from them); odd epochs
  * stay untraced, and the freshness difference between the two halves is
  * the tracing overhead. */
object Pass {
  final case class Setup(root: Path, runner: StreamingStatementRunner, gen: Gen,
                         seconds: Double, submitMs: Double, drainMs: Double)

  final case class EpochTimes(records: Long, produceMs: Double, freshnessS: Double,
                              readsS: Seq[Double], traced: Boolean)
}

final class Pass(spark: SparkSession, w: Workload, seed: Long, cores: Int, work: Path,
                 epochs: Int, traced: Boolean, setupReps: Int = Main.SetupReps) {
  import Pass._

  private val tracer = new Tracer
  private val recorder = new JobRecorder
  private val schemas = w.sources.toMap

  private def append(conf: TopicConf, feeds: Seq[Feed], epochId: Long): Long = {
    feeds.foreach { f =>
      // one producer, one record file per append
      val df = spark.createDataFrame(f.rows.asJava, schemas(f.topic)).coalesce(1)
      Topics.appendJson(df, f.topic, conf, Nil, epochId)
    }
    feeds.map(_.rows.size.toLong).sum
  }

  /** Runner construction → every statement submitted → the initial topic
    * contents drained. The initial contents are appended beforehand. */
  private def setup(rep: Int): Setup = {
    val root = work.resolve(s"setup$rep")
    val conf = TopicConf(root.toString)
    val gen = w.gen(seed)
    append(conf, gen.initial(), 0L)
    val t0 = Clock.nowMs()
    val runner = new StreamingStatementRunner(spark, topicConf = Some(conf))
    w.sources.foreach { case (topic, schema) => runner.registerTopicSource(topic, schema) }
    val stmts = StatementPreprocessor.splitScript(w.script)
    val span = tracer.add(-1, "setup", t0, t0, Map("rep" -> rep))
    val submits = stmts.map { stmt =>
      val s0 = Clock.nowMs()
      runner.run(stmt)
      val s1 = Clock.nowMs()
      tracer.add(span, "exec.submit", s0, s1, Map("statement" -> stmt.trim.take(60)))
      s1 - s0
    }
    val d0 = Clock.nowMs()
    runner.processAllAvailable()
    val t1 = Clock.nowMs()
    tracer.add(span, "exec.initial_drain", d0, t1)
    tracer.spans(span) = tracer.spans(span).copy(endMs = t1)
    Setup(root, runner, gen, (t1 - t0) / 1000, submits.sum, t1 - d0)
  }

  /** Per traced epoch layer figures; summed over epochs, then divided. */
  private val acc = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var tracedEpochs = 0
  private var maxBatchDirs = 0.0
  private var busyAllMs = 0.0

  def run(): PassResult = {
    val setups = (1 to setupReps).map { rep =>
      val s = setup(rep)
      if (rep < setupReps) {
        s.runner.stopAll()
        Main.deleteTree(s.root)
      }
      s
    }
    val live = setups.last
    val runner = live.runner
    val conf = runner.conf
    val progress = new ProgressTracker(() => runner.activeQueries)
    var epochId = 0L
    var visible: Seq[Row] = Nil

    def oneEpoch(timed: Boolean, withTrace: Boolean, nReads: Int = Main.ReadsPerEpoch): EpochTimes = {
      epochId += 1
      val feeds = live.gen.epoch(epochId.toInt)
      if (withTrace) {
        progress.take() // drop batches of untraced epochs
        spark.sparkContext.addSparkListener(recorder)
      }
      val e0 = Clock.nowMs()
      val records = append(conf, feeds, epochId)
      val e1 = Clock.nowMs()
      val ok = try { runner.processAllAvailable(); true } catch {
        case NonFatal(e) =>
          System.err.println(s"stmtbench: ${w.name}: epoch $epochId drain failed: $e")
          false
      }
      val e2 = Clock.nowMs()
      val reads = (1 to nReads).map { _ =>
        val r0 = Clock.nowMs()
        val ok = try { visible = spark.table(w.target).collect().toSeq; true } catch {
          case NonFatal(e) =>
            System.err.println(s"stmtbench: ${w.name}: epoch $epochId read failed: $e")
            false
        }
        (r0, Clock.nowMs(), ok)
      }
      val e3 = Clock.nowMs()
      val span = tracer.add(-1, "epoch", e0, e3, Map("epoch" -> epochId, "timed" -> timed,
        "traced" -> withTrace, "records" -> records))
      val produce = tracer.add(span, "sources.produce", e0, e1)
      val drain = tracer.add(span, "drain", e1, e2)
      val readSpans = reads.map { case (r0, r1, _) => tracer.add(span, "operators.read", r0, r1) }
      if (withTrace) {
        GraftSqlBridge.awaitListenerBus(spark)
        spark.sparkContext.removeSparkListener(recorder)
        if (timed) attribute(runner, progress.take(), recorder.take(), produce, drain, readSpans, e1, e2)
        else recorder.take()
      }
      EpochTimes(records, e1 - e0,
        if (ok) (e2 - e1) / 1000 else Double.PositiveInfinity,
        reads.collect { case (r0, r1, true) => (r1 - r0) / 1000 }, withTrace)
    }

    (1 to Main.WarmupEpochs).foreach(_ =>
      oneEpoch(timed = false, withTrace = false, nReads = Main.WarmupReads))
    val sinkBefore = if (traced) sinkRecords(runner) else 0L
    val gc0 = gcMs()
    val t0 = Clock.nowMs()
    val times = (0 until epochs).map(i => oneEpoch(timed = true, withTrace = traced && i % 2 == 0))
    System.err.println(f"stmtbench: ${w.name} local[$cores]: setups ${setups.map(_.seconds).map(x => f"$x%.2f").mkString(" ")} s; " +
      f"$epochs epochs in ${(Clock.nowMs() - t0) / 1000}%.1f s")
    val gcPerEpoch = (gcMs() - gc0) / epochs
    val heapMb = retainedHeapMb()

    val failed = times.count(_.freshnessS.isInfinite)
    val mismatch = if (failed > 0) Some(s"$failed epochs failed to drain") else live.gen.check(visible)
    val inputHash = topicHash(conf)
    val sinkAfter = if (traced) sinkRecords(runner) else 0L
    val files = if (traced) topicFiles(Paths.get(conf.root)) else 0L
    runner.stopAll()

    // untraced epochs only, so the end-to-end figures never include tracing
    val plain = times.filterNot(_.traced)
    val fresh = plain.map(_.freshnessS)
    val (tailPct, tail) = Stats.tail(fresh).getOrElse((100.0, fresh.max))
    val endToEnd = Map(
      "setup_s" -> Stats.median(setups.map(_.seconds)),
      "events_per_s" -> plain.map(_.records).sum / fresh.sum,
      "freshness_p50_s" -> Stats.median(fresh),
      "freshness_tail_s" -> tail,
      "read_p50_s" -> Stats.median(plain.flatMap(_.readsS)),
      "retained_heap_mb" -> heapMb)

    val layers = if (!traced) Map.empty[String, Double] else {
      val n = tracedEpochs.max(1).toDouble
      val overhead = {
        val t = times.filter(_.traced).map(_.freshnessS)
        if (t.isEmpty || fresh.isEmpty) 0.0
        else 100.0 * (Stats.median(t) / Stats.median(fresh) - 1)
      }
      Map(
        "exec.submit_ms" -> Stats.median(setups.map(_.submitMs)),
        "exec.initial_drain_ms" -> Stats.median(setups.map(_.drainMs)),
        "sources.produce_ms" -> times.map(_.produceMs).sum / times.size,
        "sources.topic_files" -> files.toDouble,
        "sources.sink_records_per_input" ->
          (sinkAfter - sinkBefore).toDouble / times.map(_.records).sum,
        "ss.batches_per_epoch" -> acc("batches") / n,
        "ss.bookkeeping_ms" -> acc("bookkeeping") / n,
        "ss.add_batch_ms" -> acc("addBatch") / n,
        "ss.wait_ms" -> acc("wait") / n,
        "ss.state_rows" -> acc("stateRows"),
        "ss.state_memory_bytes" -> acc("stateMemory"),
        "ss.state_commit_ms" -> acc("stateCommit") / n,
        "spark.jobs_per_epoch" -> acc("jobs") / n,
        "spark.tasks_per_epoch" -> acc("tasks") / n,
        "spark.job_busy_ms" -> acc("busy") / n,
        "spark.driver_gap_ms" -> (acc("drain") - acc("busy")) / n,
        "spark.driver_gap_share" -> (acc("drain") - acc("busy")) / acc("drain"),
        "spark.task_run_ms" -> acc("taskRun") / n,
        "spark.core_util" -> (if (busyAllMs > 0) acc("taskRun") / (busyAllMs * cores) else 0.0),
        "spark.input_bytes_per_epoch" -> acc("inputBytes") / n,
        "spark.shuffle_bytes_per_epoch" -> acc("shuffleBytes") / n,
        "spark.spill_bytes" -> acc("spill"),
        "spark.gc_ms" -> gcPerEpoch,
        "spark.failed_tasks" -> acc("failedTasks"),
        "streaming.join_state_rows" -> acc("joinRows"),
        "streaming.join_state_bytes" -> acc("joinBytes"),
        "streaming.join_state_batch_dirs" -> maxBatchDirs,
        "streaming.join_state_generations" -> acc("joinGenerations"),
        "operators.view_input_bytes" -> acc("readInputBytes") / (n * Main.ReadsPerEpoch),
        "operators.sink_records_per_row" -> sinkAfter.toDouble / visible.size.max(1),
        "trace.overhead_pct" -> overhead)
    }
    Main.deleteTree(live.root)
    PassResult(endToEnd, layers, times.size, failed, tailPct, times.map(_.freshnessS),
      mismatch, inputHash, recorder.stagesMissingTimes, tracer)
  }

  /** Splits one traced epoch's jobs and micro-batches into layers and
    * spans. The loop is closed, so every streaming job belongs to this
    * epoch's drain, and every other job ran in the produce or read
    * window it started in. */
  private def attribute(runner: StreamingStatementRunner,
                        batches: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
                        jobs: Seq[JobRecord], produceSpan: Int, drainSpan: Int, readSpans: Seq[Int],
                        drainStart: Double, drainEnd: Double): Unit = {
    tracedEpochs += 1
    val drainMs = drainEnd - drainStart
    acc("drain") += drainMs

    val addBatchSpans = batches.map { p =>
      val t0 = Progress.startMs(p)
      val trig = Progress.duration(p, "triggerExecution")
      val ab = Progress.duration(p, "addBatch")
      val trigger = tracer.add(drainSpan, "ss.trigger", t0, t0 + trig,
        Map("query" -> Option(p.name).getOrElse(""), "batch" -> p.batchId,
          "input_rows" -> p.numInputRows))
      val abStart = Progress.addBatchStartMs(p)
      val abSpan = tracer.add(trigger, "ss.add_batch", abStart, abStart + ab)
      acc("batches") += 1
      acc("bookkeeping") += trig - ab
      acc("addBatch") += ab
      acc("stateCommit") += p.stateOperators.map(_.commitTimeMs.toDouble).sum
      (p.id.toString, abStart, abStart + ab, abSpan)
    }
    acc("wait") += drainMs - Stats.unionLength(
      batches.map(p => (Progress.startMs(p), Progress.startMs(p) +
        Progress.duration(p, "triggerExecution"))), drainStart, drainEnd)

    val (streamJobs, otherJobs) = jobs.partition(_.queryId.isDefined)
    val readJobs = otherJobs.filter(_.startMs >= drainEnd)
    acc("jobs") += streamJobs.size
    acc("tasks") += streamJobs.map(_.tasks).sum
    acc("taskRun") += streamJobs.map(_.runMs).sum
    acc("inputBytes") += streamJobs.map(_.inputBytes).sum
    acc("shuffleBytes") += streamJobs.map(_.shuffleBytes).sum
    acc("spill") += jobs.map(_.spillBytes).sum
    acc("failedTasks") += jobs.map(_.failedTasks).sum
    acc("readInputBytes") += readJobs.map(_.inputBytes).sum
    val intervals = streamJobs.map(j => (j.startMs.toDouble, j.endMs.toDouble))
    acc("busy") += Stats.unionLength(intervals, drainStart, drainEnd)
    busyAllMs += Stats.unionLength(intervals, Double.MinValue, Double.MaxValue)

    jobs.foreach { j =>
      val parent = j.queryId match {
        case Some(q) => addBatchSpans.collectFirst {
          case (id, a, b, span) if id == q && j.startMs >= a - 1 && j.startMs <= b + 1 => span
        }.getOrElse(drainSpan)
        case None =>
          if (j.startMs < drainStart) produceSpan
          else if (j.startMs < drainEnd) drainSpan
          else readSpans.findLast(r => tracer.spans(r).startMs <= j.startMs + 1).getOrElse(readSpans.head)
      }
      val js = tracer.add(parent, "spark.job", j.startMs.toDouble, j.endMs.toDouble,
        Map("job" -> j.id, "tasks" -> j.tasks, "failed" -> j.failed))
      j.stages.foreach { case (id, a, b) =>
        tracer.add(js, "spark.stage", a.toDouble, b.toDouble, Map("stage" -> id))
      }
    }

    // state sizes at the end of the epoch (the last traced epoch wins)
    val last = runner.activeQueries.flatMap(q => Option(q.lastProgress))
    acc("stateRows") = last.flatMap(_.stateOperators).map(_.numRowsTotal.toDouble).sum
    acc("stateMemory") = last.flatMap(_.stateOperators).map(_.memoryUsedBytes.toDouble).sum
    val js = runner.progressSummary.flatMap(_.joinState)
    acc("joinRows") = js.map(_.rows.toDouble).sum
    acc("joinBytes") = js.map(_.bytes.toDouble).sum
    acc("joinGenerations") = js.map(_.generations.toDouble).sum
    maxBatchDirs = maxBatchDirs max js.map(_.batchDirs.toDouble).sum
  }

  /** Heap in use after full GCs, repeated until it stops shrinking: a
    * collected broadcast or shuffle frees its blocks only after Spark's
    * ContextCleaner has seen the reference die, one GC later. */
  private def retainedHeapMb(): Double = {
    def used(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var prev = Long.MaxValue
    var cur = used()
    var rounds = 1
    while (rounds < 10 && prev - cur > (1L << 20)) {
      Thread.sleep(200)
      prev = cur
      cur = used()
      rounds += 1
    }
    cur / 1048576.0
  }

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  /** SHA-256 over the sorted (topic, key, value) records of every source
    * topic: equal for equal seeds, whatever the partitioning. */
  private def topicHash(conf: TopicConf): String = {
    val lines = w.sources.map(_._1).flatMap { topic =>
      Topics.readBatchRecords(spark, topic, conf)
        .select(col("key").cast("string"), col("value").cast("string"))
        .collect().map(r => s"$topic\t${r.getString(0)}\t${r.getString(1)}")
    }.sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  private def sinkRecords(runner: StreamingStatementRunner): Long = {
    val topic = runner.catalog.qualify(w.target).replaceAll("[^\\w]", "_")
    Topics.readBatchRecords(spark, topic, runner.conf).count()
  }

  /** Record files in the topic directories (hidden checkpoint and staging
    * directories excluded). */
  private def topicFiles(root: Path): Long = {
    val dirs = Files.list(root)
    try dirs.iterator().asScala.filter(d => Files.isDirectory(d) &&
      !d.getFileName.toString.startsWith(".")).map { d =>
      val fs = Files.list(d)
      try fs.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")).toLong
      finally fs.close()
    }.sum
    finally dirs.close()
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans.
  * A ListMap keeps its order, other maps are sorted by key; non-finite
  * numbers are written as null. */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    }
    def obj(kv: Seq[(Any, Any)]): Unit = {
      sb += '{'
      kv.zipWithIndex.foreach { case ((k, v), i) =>
        if (i > 0) sb += ','
        str(k.toString); sb += ':'; go(v)
      }
      sb += '}'
    }
    def go(x: Any): Unit = x match {
      case null | None => sb ++= "null"
      case Some(y) => go(y)
      case s: String => str(s)
      case b: Boolean => sb ++= b.toString
      case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
      case f: Float => go(f.toDouble)
      case n: Int => sb ++= n.toString
      case n: Long => sb ++= n.toString
      case m: ListMap[_, _] => obj(m.toSeq)
      case m: Map[_, _] => obj(m.toSeq.sortBy(_._1.toString))
      case xs: Iterable[_] =>
        sb += '['
        xs.zipWithIndex.foreach { case (y, i) => if (i > 0) sb += ','; go(y) }
        sb += ']'
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}
