package graft

import graft.streaming.JoinState
import org.apache.spark.sql.functions._

/** Unit behavior of the regular join's per-statement state store
  * ([[graft.streaming.JoinState]]): multiset explode safety, append-log
  * read/write discipline, and log compaction (round 17). */
class JoinStateSpec extends SparkSpec {
  import spark.implicits._

  test("explodeCnt: non-positive counts contribute no rows (a pending retraction is not content)") {
    // ADVICE r16: sequence(1, cnt) with cnt < 1 is a DESCENDING
    // sequence — a persisted negative would fabricate |cnt|+2 phantom
    // rows; the explode must drop non-positive counts instead
    val folded = Seq(("a", 2L), ("b", 1L), ("c", 0L), ("d", -1L), ("e", -5L))
      .toDF("__payload", "__cnt")
    val rows = JoinState.explodeCnt(folded).as[String].collect().toList.sorted
    assert(rows === List("a", "a", "b"),
      s"negative/zero counts must explode to nothing, got $rows")
  }

  test("foldSnapshot keeps a transient negative so the late add still nets to zero") {
    val prior = Seq(("a", -1L)).toDF("__payload", "__cnt")
    val add = Seq(("a", 1)).toDF("__payload", "__sign")
    val out = JoinState.foldSnapshot(prior, add)
      .as[(String, Long)].collect().toMap
    assert(out === Map.empty, "the pending retraction must cancel the add")
  }

  private def newDir(tag: String): String =
    tempDir(s"graft-$tag") + "/log"

  private def payloads(dir: String, batchId: Long): List[String] =
    JoinState.readLog(spark, dir, batchId).as[String].collect().toList.sorted

  private def entries(dir: String): List[String] = {
    val d = new java.io.File(dir)
    if (!d.exists()) Nil else d.listFiles().map(_.getName).toList.sorted
  }

  test("log compaction bounds the directory count and preserves the exact multiset (round 17)") {
    val dir = newDir("js-compact")
    val threshold = 8
    (0L until 50L).foreach { b =>
      JoinState.writeLog(Seq(s"p$b", s"p$b-dup").toDF("__payload"), dir, b)
      JoinState.maybeCompact(spark, dir, b + 1, threshold)
    }
    val names = entries(dir)
    assert(names.count(_.startsWith("lg")) === 1,
      s"exactly one live generation expected, got $names")
    assert(names.count(n => n.startsWith("b") && !n.startsWith("lg")) <= threshold + 1,
      s"live per-batch dirs must stay bounded by the threshold, got $names")
    // the full multiset survives folding (duplicates preserved)
    val all = payloads(dir, 50L)
    assert(all.size === 100 && all.count(_ == "p7") === 1 &&
      all.count(_ == "p7-dup") === 1 && all.count(_ == "p49") === 1)
  }

  test("a replayed batch after compaction still reads its exact pre-state") {
    val dir = newDir("js-replay")
    (0L until 10L).foreach { b =>
      JoinState.writeLog(Seq(s"p$b").toDF("__payload"), dir, b)
    }
    // batch 10 runs: reads pre-state, writes, compacts (folds ids < 10)
    val pre10 = payloads(dir, 10L)
    JoinState.writeLog(Seq("p10").toDF("__payload"), dir, 10L)
    JoinState.maybeCompact(spark, dir, 10L, threshold = 4)
    // crash + replay of batch 10: the pre-state must be byte-identical
    // (its own b10 write is excluded by id; the folded generation
    // covers exactly ids < 10)
    assert(payloads(dir, 10L) === pre10,
      "a replayed batch must see its exact pre-state after compaction")
    JoinState.writeLog(Seq("p10").toDF("__payload"), dir, 10L) // idempotent overwrite
    JoinState.maybeCompact(spark, dir, 10L, threshold = 4)     // idempotent re-fold
    assert(payloads(dir, 11L).count(_ == "p10") === 1)
    assert(payloads(dir, 11L).size === 11)
  }

  test("TTL drops whole expired generations; fresh per-batch dirs survive") {
    val dir = newDir("js-ttl")
    (0L until 4L).foreach { b =>
      JoinState.writeLog(Seq(s"p$b").toDF("__payload"), dir, b)
    }
    JoinState.maybeCompact(spark, dir, 4L, threshold = 2) // folds b0..b3 into lg3
    JoinState.writeLog(Seq("p4").toDF("__payload"), dir, 4L)
    assert(payloads(dir, 5L).size === 5)
    // age the generation past the TTL cutoff; the fresh b4 stays young
    val gen = new java.io.File(dir).listFiles().find(_.getName.startsWith("lg")).get
    def ageTree(f: java.io.File): Unit = {
      f.setLastModified(System.currentTimeMillis() - 3600L * 1000)
      Option(f.listFiles()).foreach(_.foreach(ageTree))
    }
    ageTree(gen)
    JoinState.pruneLog(spark, dir, ttlMs = 60L * 1000)
    assert(!gen.exists(), "the expired generation must be dropped whole")
    assert(payloads(dir, 6L) === List("p4"),
      "fresh per-batch dirs must survive the generation's expiry")
  }

  test("row-level TTL: compaction expires rows by their persisted write time — a refold cannot rejuvenate old facts (ADVICE r17)") {
    val dir = newDir("js-wt")
    // an aged batch: rows whose __wt is an hour old (written directly —
    // writeLog always stamps 'now')
    Seq(("old-a", System.currentTimeMillis() - 3600L * 1000),
        ("old-b", System.currentTimeMillis() - 3600L * 1000))
      .toDF("__payload", "__wt").write.parquet(s"$dir/b0")
    JoinState.writeLog(Seq("fresh-1").toDF("__payload"), dir, 1L)
    JoinState.writeLog(Seq("fresh-2").toDF("__payload"), dir, 2L)
    // the cutoff is an ABSOLUTE instant the caller fixes once per
    // micro-batch (ADVICE r18 — per-call clock sampling let self-join
    // occurrence reads disagree across the TTL boundary)
    val cutoff = Some(System.currentTimeMillis() - 60L * 1000)
    // readLog with a TTL filters expired ROWS even before any fold
    assert(JoinState.readLog(spark, dir, 3L, ttlCutoffMs = cutoff)
      .as[String].collect().toList.sorted === List("fresh-1", "fresh-2"),
      "readLog must drop rows whose __wt passed the cutoff")
    // the fold itself must drop expired rows — the generation's dir
    // mtime is 'now', but the rows' __wt is what governs their life
    JoinState.maybeCompact(spark, dir, 3L, threshold = 1, ttlCutoffMs = cutoff)
    assert(entries(dir).count(_.startsWith("lg")) === 1)
    assert(payloads(dir, 3L) === List("fresh-1", "fresh-2"),
      "a refold must not resurrect or rejuvenate expired facts")
    // legacy dirs without __wt are kept by the row filter (unknown age
    // expires only via pruneLog's per-directory mtime backstop)
    Seq("legacy").toDF("__payload").write.parquet(s"$dir/b3")
    assert(JoinState.readLog(spark, dir, 4L, ttlCutoffMs = cutoff)
      .as[String].collect().toList.sorted
      === List("fresh-1", "fresh-2", "legacy"))
  }

  test("stats sizes the state exactly: footer row counts, bytes, generation vs batch-dir split (VERDICT r18 item 6)") {
    val dir = newDir("js-stats")
    assert(JoinState.stats(spark, dir) === JoinState.StateStats(0L, 0L, 0, 0),
      "a nonexistent state dir must size to zero")
    (0L until 5L).foreach { b =>
      JoinState.writeLog(Seq(s"p$b", s"p$b-dup").toDF("__payload"), dir, b)
    }
    val before = JoinState.stats(spark, dir)
    assert(before.rows === 10L,
      s"footer row count must be exact, got ${before.rows}")
    assert(before.generations === 0 && before.batchDirs === 5)
    assert(before.bytes > 0L)
    // after folding, the same rows live in one generation
    JoinState.maybeCompact(spark, dir, 5L, threshold = 2)
    val after = JoinState.stats(spark, dir)
    assert(after.rows === 10L, "folding must not change the row count")
    assert(after.generations === 1 && after.batchDirs === 0,
      s"expected one generation and no batch dirs, got $after")

    // a SNAPSHOT side keeps read-gen + write-gen live between prunes:
    // rows must count only the participating (newest) generation,
    // bytes the whole footprint
    val sdir = newDir("js-stats-snap")
    Seq(("p0", 1L), ("p1", 1L)).toDF("__payload", "__cnt")
      .write.parquet(s"$sdir/g1")
    Seq(("p0", 1L), ("p1", 1L), ("p2", 1L)).toDF("__payload", "__cnt")
      .write.parquet(s"$sdir/g2")
    val snap = JoinState.stats(spark, sdir)
    assert(snap.rows === 3L,
      s"rows must mirror readSnapshot (newest generation only): $snap")
    assert(snap.generations === 2 && snap.batchDirs === 0)
  }

  test("stats footer memo: repeated calls stay exact and an in-place replay overwrite is re-counted (round 21)") {
    // the per-drain gate asserts call stats() dozens of times per query;
    // footer counts are memoized on (path, len, mtime). Same-path
    // overwrites (a crash-replayed batch) must invalidate naturally.
    val dir = newDir("js-stats-memo")
    JoinState.writeLog(Seq("a", "b").toDF("__payload"), dir, 0L)
    val first = JoinState.stats(spark, dir)
    assert(first.rows === 2L)
    // memo hit path: identical result on a re-call with no change
    assert(JoinState.stats(spark, dir) === first)
    // replay overwrites b0 with a DIFFERENT row count (len changes):
    // the memo key no longer matches, so the fresh footer is read
    JoinState.writeLog(Seq("a", "b", "c").toDF("__payload"), dir, 0L)
    assert(JoinState.stats(spark, dir).rows === 3L,
      "an overwritten batch dir must be re-counted, not served stale")
  }

  test("stats footer memo: a same-length rewrite of the same file within one mtime tick is re-counted") {
    val dir = newDir("js-memo-tick")
    def partOf(b: String): java.io.File =
      new java.io.File(s"$dir/$b").listFiles().filter(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    // one distinct payload: 2 and 3 rows encode to files of one length
    def rows(n: Int) = Seq.fill(n)("same").toDF("__payload").coalesce(1)
    JoinState.writeLog(rows(2), dir, 0L)
    val first = partOf("b0")
    val (len, mtime) = (first.length(), first.lastModified())
    assert(JoinState.stats(spark, dir).rows === 2L) // memoized at (path, len, mtime)
    // the replay rewrites b0; a writer that reuses its file name inside
    // the same mtime tick leaves path, length and mtime all unchanged
    JoinState.writeLog(rows(3), dir, 0L)
    val second = partOf("b0")
    assert(second.length() === len, "the window needs a same-length rewrite")
    java.nio.file.Files.move(second.toPath, first.toPath)
    assert(first.setLastModified(mtime))
    assert(JoinState.stats(spark, dir).rows === 3L,
      "a rewritten state dir must be re-counted, not served from the memo")
  }

  test("a superseded generation leaked by a crash between rename and delete is swept (ADVICE r17)") {
    val dir = newDir("js-lgsweep")
    // crash tableau: lg2 was superseded by lg5 but its delete never ran
    Seq(("p0", System.currentTimeMillis()), ("p1", System.currentTimeMillis()))
      .toDF("__payload", "__wt").write.parquet(s"$dir/lg2")
    Seq(("p0", System.currentTimeMillis()), ("p1", System.currentTimeMillis()),
        ("p5", System.currentTimeMillis()))
      .toDF("__payload", "__wt").write.parquet(s"$dir/lg5")
    assert(payloads(dir, 6L) === List("p0", "p1", "p5"),
      "readLog must use only the max generation")
    JoinState.maybeCompact(spark, dir, 6L, threshold = 1000)
    assert(entries(dir).filter(_.startsWith("lg")) === List("lg5"),
      s"the stale lg2 must be swept: ${entries(dir)}")
    assert(payloads(dir, 6L) === List("p0", "p1", "p5"))
  }

  test("crash window: a published generation with undeleted folded inputs never double-counts") {
    val dir = newDir("js-crash")
    (0L until 4L).foreach { b =>
      JoinState.writeLog(Seq(s"p$b").toDF("__payload"), dir, b)
    }
    // simulate the crash between rename and input deletion: the
    // generation lg3 (covering b0..b3) exists ALONGSIDE b0..b3
    Seq("p0", "p1", "p2", "p3").toDF("__payload")
      .write.parquet(s"$dir/lg3")
    val all = payloads(dir, 5L)
    assert(all === List("p0", "p1", "p2", "p3"),
      s"b dirs at or below the generation must be ignored, got $all")
    // the next compaction sweep removes the stale inputs
    JoinState.maybeCompact(spark, dir, 5L, threshold = 1000)
    assert(entries(dir).count(n => n.startsWith("b") && !n.startsWith("lg")) === 0,
      s"stale sub-generation b dirs must be swept: ${entries(dir)}")
    assert(payloads(dir, 5L) === List("p0", "p1", "p2", "p3"))
  }
}
