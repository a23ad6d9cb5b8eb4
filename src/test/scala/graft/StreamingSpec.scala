package graft

import graft.streaming.{BudgetDoc, BudgetVerdict, StreamOps, TemporalMatch, TemporalRow}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

final case class Ev(user_id: Long, ts: java.sql.Timestamp, event_id: Long, value: Double)

/** Structured Streaming semantics: upsert in update mode, dedup,
  * windowed aggregation with watermark-driven late-row drop, interval
  * join, temporal join, and the stream-vs-batch differential (SURVEY.md
  * §5 items 1 and 4).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: Long) = new java.sql.Timestamp(s * 1000)

  private def runToCompletion(q: StreamingQuery): Unit = {
    q.processAllAvailable()
    q.stop()
  }

  test("streaming latestByKey emits updated latest per key (upsert materialization)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val result = StreamOps.latestByKey[Long, Ev](in.toDS(), _.user_id,
      (a, b) => Ordering[(Long, Long)].gteq((a.ts.getTime, a.event_id), (b.ts.getTime, b.event_id)))
    val q = result.writeStream.format("memory").queryName("upsert_t")
      .outputMode("update").start()
    in.addData(Ev(1, ts(10), 100, 1.0), Ev(1, ts(20), 101, 2.0), Ev(2, ts(5), 102, 3.0))
    q.processAllAvailable()
    in.addData(Ev(1, ts(15), 103, 9.9)) // older than current latest → no update
    in.addData(Ev(2, ts(50), 104, 4.0)) // newer → update
    runToCompletion(q)
    // final latest per key from the update log = last emission per key
    val updates = spark.table("upsert_t").as[Ev].collect()
    val finalPerKey = updates.groupBy(_.user_id).map { case (k, g) =>
      k -> g.maxBy(e => (e.ts.getTime, e.event_id)).event_id
    }
    assert(finalPerKey === Map(1L -> 101L, 2L -> 104L))
    // the stale event 103 must never have been emitted
    assert(!updates.exists(_.event_id == 103L))
  }

  test("stream-vs-batch differential: streaming upsert final state == batch latestByKey") {
    implicit val sqlCtx = spark.sqlContext
    val data = (1 to 40).map(i => Ev(i % 5, ts(i), i, i * 1.0))
    val in = MemoryStream[Ev]
    val result = StreamOps.latestByKey[Long, Ev](in.toDS(), _.user_id,
      (a, b) => Ordering[(Long, Long)].gteq((a.ts.getTime, a.event_id), (b.ts.getTime, b.event_id)))
    val q = result.writeStream.format("memory").queryName("diff_t")
      .outputMode("update").start()
    data.grouped(7).foreach { chunk => in.addData(chunk); q.processAllAvailable() }
    q.stop()
    val streamingFinal = spark.table("diff_t").as[Ev].collect()
      .groupBy(_.user_id).map { case (k, g) => k -> g.maxBy(e => (e.ts.getTime, e.event_id)).event_id }
    val batchFinal = graft.operators.ChangelogOps
      .latestByKey(data.toDF(), Seq("user_id"), Seq("ts", "event_id"))
      .select("user_id", "event_id").as[(Long, Long)].collect().toMap
    assert(streamingFinal === batchFinal)
  }

  test("windowed aggregation with zero-delay watermark drops late rows at close") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val agg = StreamOps.withZeroDelayWatermark(in.toDF(), "ts")
      .groupBy(window($"ts", "10 seconds"))
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("ws"), $"n")
    val q = agg.writeStream.format("memory").queryName("win_t")
      .outputMode("append").start()
    in.addData(Ev(1, ts(1), 1, 1.0), Ev(1, ts(5), 2, 1.0))
    q.processAllAvailable()
    in.addData(Ev(1, ts(25), 3, 1.0)) // advances watermark to 25 → closes [0,10)
    q.processAllAvailable()
    in.addData(Ev(1, ts(7), 4, 1.0)) // late for [0,10): dropped
    in.addData(Ev(1, ts(40), 5, 1.0)) // closes [20,30)
    runToCompletion(q)
    val rows = spark.table("win_t").as[(java.sql.Timestamp, Long)].collect()
      .map { case (w, n) => (w.getTime / 1000, n) }.toMap
    assert(rows.get(0L) === Some(2L)) // the late row 4 did NOT bump this
    assert(rows.get(20L) === Some(1L))
  }

  test("streaming interval join pairs rows within the time bound only") {
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[Ev]
    val clicks = MemoryStream[Ev]
    val joined = StreamOps.intervalJoin(
      purchases.toDF().select($"user_id", $"ts".as("p_ts"), $"event_id".as("purchase_id")),
      clicks.toDF().select($"user_id", $"ts".as("c_ts"), $"event_id".as("click_id")),
      keyCol = "user_id", leftTs = "p_ts", rightTs = "c_ts",
      lowerBound = "1 HOUR", upperBound = "0 SECONDS")
      .select("purchase_id", "click_id")
    val q = joined.writeStream.format("memory").queryName("ij_t")
      .outputMode("append").start()
    clicks.addData(Ev(1, ts(100), 11, 0), Ev(1, ts(5000), 12, 0))
    purchases.addData(Ev(1, ts(3000), 21, 0)) // click 11 within 1h before; 12 is after
    // advance both watermarks far so results flush
    clicks.addData(Ev(9, ts(100000), 13, 0))
    purchases.addData(Ev(9, ts(100000), 22, 0))
    runToCompletion(q)
    val got = spark.table("ij_t").as[(Long, Long)].collect().toSet
    assert(got.contains((21L, 11L)))
    assert(!got.contains((21L, 12L)))
  }

  test("temporal join matches each fact to the dim version at-or-before its time") {
    implicit val sqlCtx = spark.sqlContext
    val facts = MemoryStream[TemporalRow]
    val dims = MemoryStream[TemporalRow]
    val out = StreamOps.temporalJoin(facts.toDS(), dims.toDS())
    val q = out.writeStream.format("memory").queryName("tj_t")
      .outputMode("append").start()
    dims.addData(
      TemporalRow("k1", 1, 100, "v1", isDim = true),
      TemporalRow("k1", 2, 200, "v2", isDim = true))
    q.processAllAvailable()
    facts.addData(
      TemporalRow("k1", 10, 150, "", isDim = false), // between v1 and v2 → v1
      TemporalRow("k1", 11, 250, "", isDim = false), // after v2 → v2
      TemporalRow("k1", 12, 50, "", isDim = false), // before any version → null
      TemporalRow("k2", 13, 500, "", isDim = false)) // unknown key → null
    runToCompletion(q)
    val got = spark.table("tj_t").as[TemporalMatch].collect()
      .map(m => m.factId -> m.dimPayload).toMap
    assert(got === Map(10L -> Some("v1"), 11L -> Some("v2"), 12L -> None, 13L -> None))
  }

  test("streaming topN keeps a bounded per-key heap, emits on change only") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val result = StreamOps.topNPerKey[Long, Ev](in.toDS(), _.user_id, 2,
      (a, b) => a.value > b.value)
    val q = result.writeStream.format("memory").queryName("topn_t")
      .outputMode("update").start()
    in.addData(Ev(1, ts(1), 1, 10.0), Ev(1, ts(2), 2, 20.0), Ev(1, ts(3), 3, 5.0))
    q.processAllAvailable()
    in.addData(Ev(1, ts(4), 4, 1.0)) // below top-2 → no emission
    in.addData(Ev(1, ts(5), 5, 30.0)) // new best → emission
    runToCompletion(q)
    val emissions = spark.table("topn_t")
      .as[(Long, List[Ev])].collect()
    val finalTop = emissions.last._2.map(_.event_id)
    assert(finalTop === List(5L, 2L))
    // the no-op batch (event 4) produced no emission
    assert(emissions.length === 2)
  }

  test("cumulate windows work on a stream (growing per-window counts)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    // 40s max window, 10s step → 4 growing windows per 40s span
    val agg = graft.operators.WindowOps
      .cumulate(StreamOps.withZeroDelayWatermark(in.toDF(), "ts"), "ts",
        maxSizeMicros = 40000000L, stepMicros = 10000000L)
      .groupBy($"window_start_us", $"window_end_us")
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("cum_t")
      .outputMode("complete").start()
    in.addData(Ev(1, ts(5), 1, 1.0), Ev(1, ts(15), 2, 1.0), Ev(1, ts(35), 3, 1.0))
    runToCompletion(q)
    val rows = spark.table("cum_t").as[(Long, Long, Long)].collect()
      .map { case (ws, we, n) => (ws / 1000000, we / 1000000, n) }.toSet
    // event at 5s is in all 4 expansions; at 15s in [0,20/30/40); at 35s only [0,40)
    assert(rows === Set(
      (0L, 10L, 1L), (0L, 20L, 2L), (0L, 30L, 2L), (0L, 40L, 3L)))
  }

  test("event-time temporal join matches a dim version that arrives in a LATER batch") {
    implicit val sqlCtx = spark.sqlContext
    val facts = MemoryStream[TemporalRow]
    val dims = MemoryStream[TemporalRow]
    // 1 minute tolerance: a fact at T advances the watermark only to
    // T - 60s, so dim versions up to a minute behind may still arrive in
    // later batches (zero delay would drop them as late — correctly)
    val out = StreamOps.temporalJoinEventTime(facts.toDS(), dims.toDS(),
      watermarkDelay = "1 minute")
    val q = out.writeStream.format("memory").queryName("tje_t")
      .outputMode("append").start()

    // batch 1: v1@100 and a fact@200 — watermark too low, fact must WAIT
    dims.addData(TemporalRow("k1", 1, 100, "v1", isDim = true))
    facts.addData(TemporalRow("k1", 10, 200, "", isDim = false))
    q.processAllAvailable()
    assert(spark.table("tje_t").isEmpty, "fact must buffer until watermark passes")

    // batch 2: the version ACTUALLY valid at t=200 arrives in a LATER
    // batch (v2@180 — within the 1-minute tolerance), a fact on a QUIET
    // key (k2 — never sees another row), plus far-future rows to push
    // the watermark beyond 200
    dims.addData(TemporalRow("k1", 2, 180, "v2", isDim = true),
      TemporalRow("k9", 99, 100000, "wm", isDim = true))
    facts.addData(TemporalRow("k2", 20, 300, "", isDim = false),
      TemporalRow("k9", 98, 100000, "", isDim = false))
    q.processAllAvailable()
    // one more cycle so the watermark computed from batch 2 applies
    // (k1 and k2 receive NO rows here — only the event-time timeout
    // can flush their buffered facts)
    facts.addData(TemporalRow("k9", 97, 200000, "", isDim = false))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("tje_t").as[TemporalMatch].collect()
      .map(m => m.factId -> m.dimPayload).toMap
    // event-time correctness: fact@200 matches v2@180 (arrived later),
    // NOT v1@100 (the only version present when the fact arrived)
    assert(got(10L) === Some("v2"))
    // quiet-key fact flushed by the timeout, no version for k2 → null
    assert(got.get(20L) === Some(None))
  }

  test("streaming dedup keeps first row per key") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val result = StreamOps.firstPerKey(in.toDF(), Seq("user_id"))
    val q = result.writeStream.format("memory").queryName("dd_t")
      .outputMode("append").start()
    in.addData(Ev(1, ts(10), 100, 1.0))
    q.processAllAvailable()
    in.addData(Ev(1, ts(20), 101, 2.0), Ev(2, ts(30), 102, 3.0))
    runToCompletion(q)
    val got = spark.table("dd_t").as[Ev].collect().map(_.event_id).toSet
    assert(got === Set(100L, 102L))
  }

  test("streaming near-dup gate: arriving near-dups of corpus docs flagged, novel docs pass") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingDedup
    val base = "the quick brown fox jumps over the lazy dog and runs far away today"
    val corpus = Seq((100L, base),
        (101L, "an entirely different corpus document about spark query planning internals"))
      .toDF("doc_id", "text")
    val index = StreamingDedup.bucketIndex(corpus, "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16)
    val in = MemoryStream[(Long, String)]
    val stream = in.toDF().toDF("doc_id", "text")
    val flagged = StreamingDedup.flagNearDups(stream, index, "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, minJaccard = 0.8)
    val q = flagged.writeStream.format("memory").queryName("neardup_gate")
      .outputMode("append").start()
    in.addData((1L, base + " indeed"), (2L, "completely novel text mentioning neither document"))
    q.processAllAvailable()
    in.addData((3L, base)) // exact copy arriving in a later batch
    runToCompletion(q)
    val got = spark.table("neardup_gate")
      .select("doc_id", "corpus_id").distinct()
      .as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 100L)) && got.contains((3L, 100L)))
    assert(!got.exists(_._1 == 2L)) // novel doc never flagged
    assert(!got.exists(_._2 == 101L)) // unrelated corpus doc never matched
    // batch/stream parity: same pairs as the batch pair join over the union
    val batchPairs = graft.operators.Dedup.minHashLshPairs(
        corpus.unionAll(Seq((1L, base + " indeed"), (3L, base)).toDF("doc_id", "text")),
        "doc_id", "text", 3, 64, 16, 0.8)
      .where($"id_b" >= 100L && $"id_a" < 100L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got === batchPairs)
  }

  test("streaming near-dup gate consumes the PERSISTED LSH index unchanged") {
    // batch and streaming share ONE index: the table written by
    // buildLshIndex feeds flagNearDups through loadLshIndex with no
    // re-hash and no layout shim — the 100 TB ingest shape (index
    // built once at accept time, every arrival checked against it)
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingDedup
    val base = "the quick brown fox jumps over the lazy dog and runs far away today"
    val corpus = Seq((100L, base),
        (101L, "an entirely different corpus document about spark query planning internals"))
      .toDF("doc_id", "text")
    graft.operators.Dedup.buildLshIndex(corpus, "doc_id", "text",
      "lsh_idx_stream", shingleN = 3, numHashes = 64, bands = 16)
    try {
      val index = graft.operators.Dedup.loadLshIndex(spark, "lsh_idx_stream", "doc_id")
      val in = MemoryStream[(Long, String)]
      val stream = in.toDF().toDF("doc_id", "text")
      val flagged = StreamingDedup.flagNearDups(stream, index, "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, minJaccard = 0.8)
      val q = flagged.writeStream.format("memory").queryName("neardup_gate_idx")
        .outputMode("append").start()
      in.addData((1L, base + " indeed"),
        (2L, "completely novel text mentioning neither document"))
      runToCompletion(q)
      val got = spark.table("neardup_gate_idx")
        .select("doc_id", "corpus_id").distinct()
        .as[(Long, Long)].collect().toSet
      assert(got === Set((1L, 100L)))
    } finally spark.sql("DROP TABLE IF EXISTS lsh_idx_stream")
  }

  test("streaming near-dup gate honors tombstones: a retracted corpus doc stops matching") {
    // the live half of the delete story: batch reads anti-join the
    // tombstones (q183); the gate must apply the SAME filter on the
    // static side so a GDPR-deleted doc stops producing matches
    // without an index rebuild or query restart
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingDedup
    val base = "the quick brown fox jumps over the lazy dog and runs far away today"
    val corpus = Seq((100L, base),
        (101L, "an entirely different corpus document about spark query planning internals"))
      .toDF("doc_id", "text")
    val index = StreamingDedup.bucketIndex(corpus, "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16)
    val tomb = Seq(100L).toDF("doc_id")
    val in = MemoryStream[(Long, String)]
    val stream = in.toDF().toDF("doc_id", "text")
    val flagged = StreamingDedup.flagNearDups(stream, index, "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, minJaccard = 0.8,
      tombstones = Some(tomb))
    val q = flagged.writeStream.format("memory").queryName("neardup_gate_tomb")
      .outputMode("append").start()
    in.addData((1L, base + " indeed")) // near-dup of the DELETED doc
    runToCompletion(q)
    assert(spark.table("neardup_gate_tomb").count() === 0L,
      "a tombstoned corpus doc must not produce matches")
  }

  test("GROWING tombstone set: catalog table + refreshTable is honored next batch; path-parquet is not") {
    // pins the documented live-delete contract, both directions: the
    // static side's plan re-executes per micro-batch, but a PATH-based
    // parquet frame caches its file listing at creation (appends
    // invisible); a CATALOG table + refreshTable IS honored by the
    // next micro-batch — the supported way to grow deletes without a
    // query restart
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingDedup
    val base = "the quick brown fox jumps over the lazy dog and runs far away today"
    val corpus = Seq((100L, base),
        (101L, "some totally other corpus text about query planners and joins"))
      .toDF("doc_id", "text")
    val index = StreamingDedup.bucketIndex(corpus, "doc_id", "text", 3, 64, 16)
    spark.sql("DROP TABLE IF EXISTS tomb_live")
    Seq.empty[Long].toDF("doc_id").write.saveAsTable("tomb_live")
    try {
      val in = MemoryStream[(Long, String)]
      val flagged = StreamingDedup.flagNearDups(
        in.toDF().toDF("doc_id", "text"), index, "doc_id", "text",
        3, 64, 16, 0.8, tombstones = Some(spark.table("tomb_live")))
      val q = flagged.writeStream.format("memory").queryName("tomb_live_gate")
        .outputMode("append").start()
      in.addData((1L, base + " indeed"))
      q.processAllAvailable()
      assert(spark.table("tomb_live_gate").where($"doc_id" === 1L).count() > 0,
        "before any tombstones, the near-dup must flag")
      // delete doc 100 MID-STREAM: append + refresh
      Seq(100L).toDF("doc_id").write.mode("append").saveAsTable("tomb_live")
      spark.catalog.refreshTable("tomb_live")
      in.addData((2L, base + " again"))
      runToCompletion(q)
      assert(spark.table("tomb_live_gate").where($"doc_id" === 2L).count() === 0L,
        "after the mid-stream tombstone append + refreshTable, the deleted doc must stop matching")
    } finally spark.sql("DROP TABLE IF EXISTS tomb_live")
  }

  test("GROWING LSH index: an appendToLshIndex generation lands under the running gate; parity vs batch replay") {
    // the append half of the live-maintenance contract (tombstones are
    // pinned above): a generation appended between micro-batches via
    // the catalog table + refreshTable changes the gate's verdicts —
    // a doc that PASSED the gate before the append is flagged after,
    // and the flag set equals replaying each micro-batch against the
    // index state it saw
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    import graft.streaming.StreamingDedup
    val base = "the quick brown fox jumps over the lazy dog and runs far away today"
    val other = "tokenizer vocabularies keep growing with corpus size following heaps law closely"
    val corpus1 = Seq((100L, base)).toDF("doc_id", "text")
    Dedup.buildLshIndex(corpus1, "doc_id", "text", "lsh_idx_grow",
      shingleN = 3, numHashes = 64, bands = 16)
    try {
      val index = Dedup.loadLshIndex(spark, "lsh_idx_grow", "doc_id")
      val in = MemoryStream[(Long, String)]
      val flagged = StreamingDedup.flagNearDups(
        in.toDF().toDF("doc_id", "text"), index, "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, minJaccard = 0.8)
      val q = flagged.writeStream.format("memory").queryName("grow_gate")
        .outputMode("append").start()
      // batch 1: doc 1 near-dups the indexed doc; doc 2 near-dups a
      // text NOT yet indexed — it passes the gate
      in.addData((1L, base + " indeed"), (2L, other + " indeed"))
      q.processAllAvailable()
      assert(spark.table("grow_gate").select("doc_id", "corpus_id")
        .as[(Long, Long)].collect().toSet === Set((1L, 100L)))
      // the new corpus generation (doc 200 = other's text) lands via
      // appendToLshIndex + refreshTable, with the gate still running
      Dedup.appendToLshIndex(Seq((200L, other)).toDF("doc_id", "text"),
        "doc_id", "text", "lsh_idx_grow", shingleN = 3, numHashes = 64,
        bands = 16)
      spark.catalog.refreshTable("lsh_idx_grow")
      // batch 2: a near-dup of the APPENDED doc is now flagged
      in.addData((3L, other + " indeed"))
      runToCompletion(q)
      val got = spark.table("grow_gate").select("doc_id", "corpus_id")
        .distinct().as[(Long, Long)].collect().toSet
      assert(got.contains((3L, 200L)),
        "post-append arrival must flag against the appended generation")
      assert(!got.exists(_._1 == 2L),
        "pre-append arrival must keep its verdict (its source was not yet indexed)")
      // batch replay parity: each micro-batch against the index state
      // it saw (arrival ids < 100 ≤ corpus ids keeps the orientation)
      def replay(corpus: org.apache.spark.sql.DataFrame,
                 arrivals: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        Dedup.minHashLshPairs(corpus.unionByName(arrivals), "doc_id", "text",
            shingleN = 3, numHashes = 64, bands = 16, minJaccard = 0.8)
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet
          .filter { case (a, b) => a < 100L && b >= 100L }
      val corpus2 = corpus1.unionByName(Seq((200L, other)).toDF("doc_id", "text"))
      val expected =
        replay(corpus1, Seq((1L, base + " indeed"), (2L, other + " indeed"))
          .toDF("doc_id", "text")) ++
        replay(corpus2, Seq((3L, other + " indeed")).toDF("doc_id", "text"))
      assert(got === expected,
        s"gate flags must equal the per-state batch replay: got $got expected $expected")
    } finally spark.sql("DROP TABLE IF EXISTS lsh_idx_grow")
  }

  test("GROWING IVF index: an appendToIvfIndex generation lands under the running gate via an external catalog table") {
    // vector twin of the LSH append case: the path-based overload's
    // file listing is cached at creation (appends invisible — the
    // documented caveat), so the growing deployment registers an
    // EXTERNAL catalog table over the index dir and calls
    // recoverPartitions + refreshTable after each append; the next
    // micro-batch then sees the new generation. Parity: final flags
    // equal replaying each micro-batch against the generation it saw
    // (gen-1 emulated exactly by tombstoning the appended ids — the
    // sidecar quantizer is immutable, so assignment is identical).
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    import graft.streaming.StreamingSimilarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val gen1 = emb.where($"vec_id" % 2 === 0)
    val gen2 = emb.where($"vec_id" % 2 === 1 && $"vec_id" < 40)
    val dir = tempDir("graft-ivf-grow")
    Similarity.buildIvfIndex(gen1, "vec_id", "embedding", dir, nCentroids = 16)
    spark.sql("DROP TABLE IF EXISTS ivf_idx_grow")
    // the external table points at the CURRENT generation dir (round
    // 13's generational layout); appends land inside it, so
    // recoverPartitions + refreshTable still surface them
    spark.catalog.createTable("ivf_idx_grow",
      Similarity.resolveIvfGen(spark, dir), "parquet")
    spark.catalog.recoverPartitions("ivf_idx_grow")
    try {
      val matrix = Similarity.readCentroids(spark, dir)
      val threshold = 0.95
      val nProbe = 4
      // exact copies under new ids: vec 4 (gen 1) and vec 7 (gen 2)
      def copyOf(id: Long): (Long, Seq[Float]) = {
        val v = emb.where($"vec_id" === id).select($"embedding")
          .as[Seq[Float]].head()
        (id + 100000L, v)
      }
      val (a1, a2, a3) = (copyOf(4L), copyOf(7L), copyOf(7L))
      val in = MemoryStream[(Long, Seq[Float])]
      val flagged = StreamingSimilarity.flagNearVectors(
        in.toDF().toDF("vec_id", "embedding"), spark.table("ivf_idx_grow"),
        matrix, "vec_id", "embedding", threshold, nProbe, None)
      val q = flagged.writeStream.format("memory").queryName("ivf_grow_gate")
        .outputMode("append").start()
      in.addData(a1, a2)
      q.processAllAvailable()
      val got1 = spark.table("ivf_grow_gate").select("vec_id", "neighbor_id")
        .as[(Long, Long)].collect().toSet
      assert(got1.contains((a1._1, 4L)), "gen-1 copy must flag its source")
      assert(!got1.exists(_._2 == 7L),
        "a copy of a NOT-yet-indexed vector must pass the gate")
      // gen 2 lands under the running gate
      Similarity.appendToIvfIndex(gen2, "vec_id", "embedding", dir)
      spark.catalog.recoverPartitions("ivf_idx_grow")
      spark.catalog.refreshTable("ivf_idx_grow")
      in.addData(a3.copy(_1 = a3._1 + 1))
      runToCompletion(q)
      val got = spark.table("ivf_grow_gate").select("vec_id", "neighbor_id")
        .as[(Long, Long)].collect().toSet
      assert(got.contains((a3._1 + 1, 7L)),
        "post-append arrival must flag against the appended generation")
      assert(!got.contains((a2._1, 7L)),
        "pre-append arrival must keep its verdict")
      // batch replay parity: gen-1 state = full index minus the
      // appended ids (exact — immutable quantizer), gen-2 state = full
      def replayBatch(batch: Seq[(Long, Seq[Float])],
                      tomb: Option[org.apache.spark.sql.DataFrame]): Set[(Long, Long)] =
        StreamingSimilarity.flagNearVectors(
            batch.toDF("vec_id", "embedding"), spark.read.parquet(dir),
            matrix, "vec_id", "embedding", threshold, nProbe, tomb)
          .select("vec_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val expected =
        replayBatch(Seq(a1, a2), Some(gen2.select("vec_id"))) ++
        replayBatch(Seq(a3.copy(_1 = a3._1 + 1)), None)
      assert(got === expected,
        s"gate flags must equal the per-generation batch replay: got $got expected $expected")
    } finally spark.sql("DROP TABLE IF EXISTS ivf_idx_grow")
  }

  test("streaming vector gate: arrivals flagged against the persisted IVF index; independent parity; tombstones") {
    // SemDeDup at accept time — the embedding twin of the text gate.
    // Parity is checked against a DRIVER-SIDE reimplementation of the
    // probe semantics (centroid ranking + cosine, same op order), not
    // the engine's own code path.
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    import graft.streaming.StreamingSimilarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = tempDir("graft-ivf-stream")
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", dir, nCentroids = 16)
    val arrivals = emb.where($"vec_id".isin(3L, 17L))
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
      .map { case (id, v) => (id + 100000L, v) } // exact copies, new ids
    val threshold = 0.95
    val nProbe = 4
    val in = MemoryStream[(Long, Seq[Float])]
    val stream = in.toDF().toDF("vec_id", "embedding")
    val flagged = StreamingSimilarity.flagNearVectors(stream, dir, "vec_id",
      "embedding", threshold = threshold, nProbe = nProbe)
    val q = flagged.writeStream.format("memory").queryName("vec_gate")
      .outputMode("append").start()
    in.addData(arrivals.toSeq: _*)
    runToCompletion(q)
    val got = spark.table("vec_gate").select("vec_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    // every exact copy must flag its source with cos = 1
    assert(arrivals.forall { case (id, _) => got.contains((id, id - 100000L)) },
      s"exact copies must be flagged: $got")

    // independent expectation: driver-side centroid ranking + cosine
    def dot(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x.toDouble * y.toDouble }
    def norm(a: Seq[Float]): Double = math.sqrt(dot(a, a))
    val matrix = Similarity.readCentroids(spark, dir)
    def centRank(v: Seq[Float]): Seq[Int] = matrix.indices
      .map(i => i -> dot(v, matrix(i).map(_.toFloat)) /
        (norm(v) * norm(matrix(i).map(_.toFloat))))
      .sortBy { case (i, c) => (-c, i) }.map(_._1)
    val corpus = emb.select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect()
    val assigned = corpus.map { case (id, v) => id -> (centRank(v).head, v) }.toMap
    val expected = (for {
      (aid, av) <- arrivals
      probes = centRank(av).take(nProbe).toSet
      (nid, (c, nv)) <- assigned if probes.contains(c) && nid != aid
      if dot(av, nv) / (norm(av) * norm(nv)) >= threshold
    } yield (aid, nid)).toSet
    assert(got === expected,
      s"stream gate must match the independent probe semantics: got $got expected $expected")

    // tombstoning the sources silences their copies
    val in2 = MemoryStream[(Long, Seq[Float])]
    val flagged2 = StreamingSimilarity.flagNearVectors(
      in2.toDF().toDF("vec_id", "embedding"), dir, "vec_id", "embedding",
      threshold = threshold, nProbe = nProbe,
      tombstones = Some(Seq(3L, 17L).toDF("vec_id")))
    val q2 = flagged2.writeStream.format("memory").queryName("vec_gate_tomb")
      .outputMode("append").start()
    in2.addData(arrivals.toSeq: _*)
    runToCompletion(q2)
    val got2 = spark.table("vec_gate_tomb").select("neighbor_id")
      .as[Long].collect().toSet
    assert(!got2.contains(3L) && !got2.contains(17L),
      "tombstoned vectors must not match")
  }

  test("dedupWithinWatermark suppresses repeats inside the delay, re-admits after expiry") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val deduped = StreamOps.dedupWithinWatermark(
      in.toDF(), Seq("user_id"), "ts", "30 seconds")
    val q = deduped.writeStream.format("memory").queryName("wm_dedup")
      .outputMode("append").start()
    // batch 1: three arrivals of key 1 within 30s -> ONE row out;
    // the aux key pushes the watermark to 100s - 30s = 70s at batch end,
    // past key 1's expiry (10s + 30s)
    in.addData(Ev(1L, ts(10), 100L, 1.0), Ev(1L, ts(12), 101L, 2.0),
      Ev(1L, ts(25), 102L, 3.0), Ev(9L, ts(100), 103L, 9.0))
    q.processAllAvailable()
    // batch 2: key 1 again, well past expiry -> admitted as a new first
    in.addData(Ev(1L, ts(200), 104L, 4.0))
    runToCompletion(q)
    val got = spark.table("wm_dedup").select("user_id", "event_id")
      .as[(Long, Long)].collect().toSeq.sorted
    assert(got.count(_._1 == 1L) === 2, s"got $got")
    assert(got.contains((1L, 100L)) && got.contains((1L, 104L)))
    assert(!got.exists(g => g._2 == 101L || g._2 == 102L))
  }

  test("tokenBudgetGate admits greedily per domain, carries state across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[BudgetDoc]
    val gated = StreamOps.tokenBudgetGate(in.toDS(), budgetTokens = 10L)
    val q = gated.writeStream.format("memory").queryName("budget_gate")
      .outputMode("append").start()
    // one doc per batch -> fully deterministic admission order
    Seq(
      BudgetDoc("a", 1L, 4L),  // total 4 -> admit
      BudgetDoc("a", 2L, 4L),  // total 8 -> admit
      BudgetDoc("a", 3L, 4L),  // would be 12 > 10 -> reject, total stays 8
      BudgetDoc("a", 4L, 2L),  // fits exactly -> admit, total 10
      BudgetDoc("b", 9L, 9L)   // independent domain state
    ).foreach { d => in.addData(d); q.processAllAvailable() }
    q.stop()
    val got = spark.table("budget_gate")
      .as[BudgetVerdict].collect().map(v => v.id -> ((v.admitted, v.total_after))).toMap
    assert(got(1L) === ((true, 4L)))
    assert(got(2L) === ((true, 8L)))
    assert(got(3L) === ((false, 8L)))
    assert(got(4L) === ((true, 10L)))
    assert(got(9L) === ((true, 9L)))
  }

  test("curation funnel and char-entropy run unchanged on a stream (stateless per-row ops)") {
    // the per-row quality signals are plain Column expressions, so the
    // SAME operator code gates a live ingest stream in append mode with
    // no state, no watermark — and must agree with its batch form
    val rows = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and then the dog is in it again " +
        "to make this long enough for the minimum token gate to pass it", "en"),
      (2L, "short", "en"),
      (3L, "spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam " +
        "spam spam spam spam spam spam spam spam spam spam", "en"))
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, String)]
    val stream = in.toDF().toDF("doc_id", "text", "lang")
    val gated = graft.operators.Curation.funnel(stream, "doc_id", "text", "lang")
    val scored = stream.select(col("doc_id"),
      round(graft.functions.TextAnalysis.charStats(col("text")).getField("entropy"), 6)
        .as("entropy"))
    val q1 = gated.writeStream.format("memory").queryName("curation_gate")
      .outputMode("append").start()
    val q2 = scored.writeStream.format("memory").queryName("entropy_gate")
      .outputMode("append").start()
    in.addData(rows: _*)
    runToCompletion(q1); runToCompletion(q2)
    val gotVerdicts = spark.table("curation_gate").select("doc_id", "verdict")
      .as[(Long, String)].collect().toMap
    val gotEntropy = spark.table("entropy_gate")
      .as[(Long, Double)].collect().toMap
    val batchDf = rows.toDF("doc_id", "text", "lang")
    val batchVerdicts = graft.operators.Curation.funnel(batchDf, "doc_id", "text", "lang")
      .select("doc_id", "verdict").as[(Long, String)].collect().toMap
    val batchEntropy = batchDf.select(col("doc_id"),
        round(graft.functions.TextAnalysis.charStats(col("text")).getField("entropy"), 6))
      .as[(Long, Double)].collect().toMap
    assert(gotVerdicts === batchVerdicts)
    assert(gotEntropy === batchEntropy)
    assert(gotVerdicts(2L) === "drop:too_short")
    assert(gotVerdicts(3L).startsWith("drop:"))
  }
}
