package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Batch→stream replay harness: runs a streaming operator over fixture
  * data as a REAL StructuredStreaming query (file source →
  * micro-batches → memory sink) and hands the result back as a batch
  * frame — the bridge that lets the driver's DuckDB oracle hash-gate
  * operators whose semantics only exist on a stream (VERDICT r11
  * item 4; round 12 extends it from the event-time temporal join to
  * the near-dup gate and windowed aggregation).
  *
  * Mechanics, chosen so a replay is DETERMINISTIC and equals the batch
  * semantics the oracle expresses in SQL:
  *
  *  - The input is staged as `slices` range-partitioned parquet files
  *    over a caller-named LONG order column (event time for watermark
  *    operators, any stable id for stateless gates), written
  *    sequentially (one commit per slice, mod-times strictly
  *    increasing) so the file source's oldest-first order equals the
  *    order-column order. Later batches then never contain rows that
  *    sort before an earlier batch's max → nothing is ever late under
  *    a zero-delay watermark, and the replay output is independent of
  *    the slicing.
  *  - Optional sentinel rows (same schema) are committed LAST: for
  *    watermark operators a far-future sentinel advances the global
  *    watermark past every real row, and Spark's no-data batch then
  *    fires the timeouts / closes the windows that flush the tail.
  *    Callers filter their sentinel back out of the output.
  *  - `maxFilesPerTrigger=1` forces one slice per micro-batch, so a
  *    replay genuinely exercises cross-batch state, not a
  *    single-batch degenerate run.
  *
  * The staging write + 1-row min/max agg are harness cost, not
  * operator cost; the only `.collect()` here reads a single aggregate
  * row (bounded-collect contract). */
object StreamReplay {

  /** Reserved sentinel key — NUL-prefixed so no real key collides. */
  private[graft] val SentinelKey = "\u0000wm"

  /** Stamp slice `i`'s freshly-written files with an EXPLICIT mod-time
    * (base + i seconds) instead of sleeping between writes: the file
    * source orders by mod-time, and on a filesystem with coarse mtime
    * granularity (1 s on some mounts/object stores) sleep-spaced
    * commits can tie or reorder — ordered rows then arrive late under
    * the 0-delay watermark and are silently dropped (ADVICE r12).
    * One-second spacing survives any granularity; returns the updated
    * seen-set so the next slice stamps only ITS files. */
  private def stampSlice(spark: org.apache.spark.sql.SparkSession, dir: String,
                         seen: Set[String], base: Long, i: Int): Set[String] = {
    val (fs, p) = graft.sources.Fs.on(spark, dir)
    val fresh = fs.listStatus(p).filter(s => s.isFile &&
      !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith(".") &&
      !seen.contains(s.getPath.getName))
    fresh.foreach { s =>
      fs.setTimes(s.getPath, base + i * 1000L, -1)
      // fail FAST if the filesystem ignored setTimes (Hadoop's default
      // is a silent no-op on stores that don't implement it): a
      // mis-stamped slice would surface only as ordered rows silently
      // dropped as late — an opaque hash mismatch far from the cause
      val got = fs.getFileStatus(s.getPath).getModificationTime
      require(got == base + i * 1000L,
        s"replay staging: filesystem did not honor setTimes on ${s.getPath} " +
          s"(wanted ${base + i * 1000L}, read back $got) — slice order " +
          "cannot be guaranteed on this store")
    }
    seen ++ fresh.map(_.getPath.getName)
  }

  /** Generic replay: stage `df` ordered by LONG column `orderCol` into
    * `slices` files under `stageDir` (+ `sentinel` committed last),
    * stream it back one file per micro-batch through `transform`
    * (append mode), and return the drained memory-sink table.
    *
    * `sliceMap` rewrites each staged slice BEFORE it is committed —
    * the determinism hook for operators whose within-batch semantics
    * are arrival-order-dependent (streaming `dropDuplicates` picks an
    * arbitrary first among same-batch key repeats): reducing each
    * slice to one row per key makes the replay's choice a function of
    * the data, not the shuffle, without weakening the CROSS-batch
    * state the replay exists to exercise. */
  def replayAppend(df: DataFrame, orderCol: String, stageDir: String,
                   slices: Int, queryName: String,
                   sentinel: Option[DataFrame] = None,
                   outputMode: String = "append",
                   sliceMap: DataFrame => DataFrame = identity)
                  (transform: DataFrame => DataFrame): DataFrame = {
    val spark = df.sparkSession
    val bounds = df.agg(min(col(orderCol)), max(col(orderCol))).collect().head
    require(!bounds.isNullAt(0), s"replayAppend: empty input (orderCol=$orderCol)")
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val width = math.max(1L, (hi - lo) / slices + 1)
    val base = System.currentTimeMillis() - (slices + 2) * 1000L
    var seen = Set.empty[String]
    (0 until slices).foreach { i =>
      val (a, b) = (lo + i * width, lo + (i + 1) * width)
      sliceMap(df.where(col(orderCol) >= a && col(orderCol) < b))
        .coalesce(1).write.mode(if (i == 0) "overwrite" else "append")
        .parquet(stageDir)
      seen = stampSlice(spark, stageDir, seen, base, i)
    }
    sentinel.foreach { s =>
      s.coalesce(1).write.mode("append").parquet(stageDir)
      seen = stampSlice(spark, stageDir, seen, base, slices)
    }
    val stream = spark.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", 1).parquet(stageDir)
    // update mode: the memory sink APPENDS each batch's updated rows —
    // callers recover the final per-key state with a monotone
    // update-counter column (see q206)
    val q = withNarrowState(spark) {
      transform(stream)
        .writeStream.format("memory").queryName(queryName)
        .outputMode(outputMode).start()
    }
    try q.processAllAvailable() finally q.stop()
    spark.table(queryName)
  }

  /** Replay state width: fixture replays commit per-trigger state-store
    * deltas in EVERY shuffle partition of every stateful operator —
    * at fixture scale (10³–10⁵ rows, 4–6 triggers) the session's 32
    * partitions are pure commit latency, not parallelism. A replay's
    * stateful shuffles therefore run at [[statePartitions]]. This is a
    * HARNESS width: the partition count is captured in the (fresh,
    * temp) checkpoint per replay, so it never constrains a production
    * stream, where the session default / AQE sizing applies. */
  private[graft] val statePartitions: Int = 4

  /** Run `body` — which starts streaming queries — with the
    * shuffle-partition conf narrowed to [[statePartitions]], restoring
    * the previous value after (also when `body` throws). `start()`
    * clones the session conf into the stream's own session, so the
    * restore is safe for the running queries and invisible to
    * everything batch. */
  private[graft] def withNarrowState[T](spark: org.apache.spark.sql.SparkSession)
                                       (body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, statePartitions.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** Two-source replay for stream-stream operators (interval joins):
    * each side is staged independently under its own dir (same slicing
    * discipline, its own time range), both stream back one file per
    * micro-batch — the sources advance in lockstep, so the union
    * watermark rises monotonically and neither side's ordered rows are
    * ever late. */
  def replayAppend2(left: DataFrame, right: DataFrame, orderCol: String,
                    stageDirL: String, stageDirR: String, slices: Int,
                    queryName: String,
                    sentinelL: Option[DataFrame] = None,
                    sentinelR: Option[DataFrame] = None)
                   (transform: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val spark = left.sparkSession
    val base = System.currentTimeMillis() - (slices + 2) * 1000L
    def stage(df: DataFrame, dir: String): Set[String] = {
      val bounds = df.agg(min(col(orderCol)), max(col(orderCol))).collect().head
      require(!bounds.isNullAt(0), s"replayAppend2: empty side (orderCol=$orderCol)")
      val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
      val width = math.max(1L, (hi - lo) / slices + 1)
      var seen = Set.empty[String]
      (0 until slices).foreach { i =>
        val (a, b) = (lo + i * width, lo + (i + 1) * width)
        df.where(col(orderCol) >= a && col(orderCol) < b)
          .coalesce(1).write.mode(if (i == 0) "overwrite" else "append")
          .parquet(dir)
        seen = stampSlice(spark, dir, seen, base, i)
      }
      seen
    }
    val seenL = stage(left, stageDirL)
    val seenR = stage(right, stageDirR)
    // outer joins need BOTH watermarks past every real row before the
    // NULL-padded tail can flush (the global watermark is the min
    // across inputs), so each side takes its own far-future sentinel
    sentinelL.foreach { s =>
      s.coalesce(1).write.mode("append").parquet(stageDirL)
      stampSlice(spark, stageDirL, seenL, base, slices)
    }
    sentinelR.foreach { s =>
      s.coalesce(1).write.mode("append").parquet(stageDirR)
      stampSlice(spark, stageDirR, seenR, base, slices)
    }
    def stream(df: DataFrame, dir: String): DataFrame = spark.readStream
      .schema(df.schema).option("maxFilesPerTrigger", 1).parquet(dir)
    val q = withNarrowState(spark) {
      transform(stream(left, stageDirL), stream(right, stageDirR))
        .writeStream.format("memory").queryName(queryName)
        .outputMode("append").start()
    }
    try q.processAllAvailable() finally q.stop()
    spark.table(queryName)
  }

  /** Replay `tagged` (facts + dims carrying `isDim`) through
    * [[StreamOps.temporalJoinEventTimeTagged]]; returns the appended
    * matches for every REAL fact (the sentinel is a dim — it advances
    * the final watermark and emits nothing). `stageDir` is
    * created/overwritten. */
  def replayTemporalJoinEventTime(tagged: Dataset[TemporalRow], stageDir: String,
                                  slices: Int, queryName: String,
                                  maxVersions: Int = Int.MaxValue): DataFrame = {
    val spark = tagged.sparkSession
    import spark.implicits._
    val empty = tagged.isEmpty
    if (empty) return spark.emptyDataset[TemporalMatch].toDF()
    val hi = tagged.agg(max(col("tsMillis"))).collect().head.getLong(0)
    // hi + 2, not hi + 1: a fact AT ts = hi sets its wake-up timeout to
    // hi + 1, and Spark fires event-time timeouts only when the
    // watermark STRICTLY exceeds them — a sentinel at hi + 1 leaves the
    // max-timestamp fact pending forever (silently one row short
    // whenever the corpus' latest event is a fact, as at sf0.001)
    val sentinel = Seq(TemporalRow(SentinelKey, -1L, hi + 2, "", isDim = true)).toDS()
    replayAppend(tagged.toDF(), "tsMillis", stageDir, slices, queryName,
      Some(sentinel.toDF())) { s =>
      StreamOps.temporalJoinEventTimeTagged(
        s.as[TemporalRow](Encoders.product[TemporalRow]), maxVersions).toDF()
    }
  }
}
