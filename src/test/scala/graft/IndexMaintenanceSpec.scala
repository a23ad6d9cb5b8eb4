package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Maintenance lifecycle of the two persisted indexes (LSH text,
  * IVF vectors): logical delete via tombstones, physical delete via
  * compaction, incremental append with the fixed quantizer — each
  * pinned to the exact-equivalence contract its consumers rely on
  * (pairs/results over corpus ∖ deleted, assignment stability across
  * generations). The corresponding ORACLE checks are q183/q184/q185;
  * these specs pin the parts SQL can't see (physical row removal,
  * sidecar immutability, plan shape). */
class IndexMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
  private def emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("LSH tombstones == from-scratch pairs over corpus minus deleted; compaction physically drops them") {
    val tomb = docs.where($"doc_id" % 7 === 0).select("doc_id")
    Dedup.buildLshIndex(docs, "doc_id", "text", "lsh_idx_maint",
      shingleN = 3, numHashes = 64, bands = 16)
    try {
      val logical = Dedup.lshPairsIndexed(spark, "lsh_idx_maint", "doc_id",
          numHashes = 64, minJaccard = 0.8, tombstones = Some(tomb))
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val scratch = Dedup.minHashLshPairs(
          docs.where(!($"doc_id" % 7 === 0)), "doc_id", "text",
          shingleN = 3, numHashes = 64, bands = 16, minJaccard = 0.8)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(logical === scratch,
        "tombstoned index pairs must equal the from-scratch pairs over the remaining corpus")
      assert(logical.nonEmpty, "fixture must still produce pairs after deletes")

      // compaction: same pair set WITHOUT passing tombstones, and the
      // deleted ids are physically gone from the new generation
      Dedup.compactLshIndex(spark, "lsh_idx_maint", "lsh_idx_maint_v2",
        tomb, "doc_id")
      try {
        val compacted = Dedup.lshPairsIndexed(spark, "lsh_idx_maint_v2",
            "doc_id", numHashes = 64, minJaccard = 0.8)
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet
        assert(compacted === scratch, "compacted index must reproduce the filtered pairs")
        val leftover = spark.table("lsh_idx_maint_v2")
          .join(tomb, Seq("doc_id"), "left_semi").count()
        assert(leftover === 0L, "compaction must physically remove tombstoned rows")
      } finally spark.sql("DROP TABLE IF EXISTS lsh_idx_maint_v2")

      // probe path: deleted corpus docs stop being hits
      val probe = docs.where($"doc_id" < 25)
      val hits = Dedup.lshProbeIndexed(spark, "lsh_idx_maint", probe,
          "doc_id", "text", shingleN = 3, numHashes = 64, bands = 16,
          minJaccard = 0.8, tombstones = Some(tomb))
        .select("corpus_id").as[Long].collect()
      assert(hits.forall(_ % 7 != 0), "probe must never return a tombstoned corpus doc")

      // everything-deleted edge: empty result, never an error — the
      // shape a retention purge hits
      val all = docs.select("doc_id")
      assert(Dedup.lshPairsIndexed(spark, "lsh_idx_maint", "doc_id",
        numHashes = 64, minJaccard = 0.8, tombstones = Some(all)).count() === 0L)
    } finally spark.sql("DROP TABLE IF EXISTS lsh_idx_maint")
  }

  test("same-id REPLACE lifecycle: tombstone -> compact -> drop tombstone -> append new version") {
    // order matters (pinned in the scaladoc): tombstones filter by id,
    // so appending the new version while the id is still tombstoned
    // would hide it; compaction + dropping the entry first makes the
    // re-append visible with exactly one generation of rows.
    // Parity contract: after EVERY step the index's pair set equals a
    // from-scratch minHashLshPairs build over the corpus the step
    // logically produced — the runbook sequence is exact, not merely
    // plausible, at each intermediate state.
    val d = docs
    def scratch(c: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      Dedup.minHashLshPairs(c, "doc_id", "text", shingleN = 3,
          numHashes = 64, bands = 16, minJaccard = 0.8)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    def indexed(tbl: String,
                tomb: Option[org.apache.spark.sql.DataFrame]): Set[(Long, Long)] =
      Dedup.lshPairsIndexed(spark, tbl, "doc_id", numHashes = 64,
          minJaccard = 0.8, tombstones = tomb)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    Dedup.buildLshIndex(d, "doc_id", "text", "lsh_idx_repl",
      shingleN = 3, numHashes = 64, bands = 16)
    try {
      val target = 7L
      val tomb = Seq(target).toDF("doc_id")
      val minusScratch = scratch(d.where($"doc_id" =!= target))
      // step 1: logical delete — reads stop seeing the old version and
      // the pair set already equals a from-scratch build minus the doc
      val logical = indexed("lsh_idx_repl", Some(tomb))
      assert(!logical.exists(p => p._1 == target || p._2 == target))
      assert(logical === minusScratch,
        "step 1 (tombstone): pairs must equal from-scratch over corpus minus the id")
      // step 2: compact to a new generation; step 3: tombstone entry
      // dropped (we simply stop passing it); step 4: append the new
      // version of the doc under the SAME id
      Dedup.compactLshIndex(spark, "lsh_idx_repl", "lsh_idx_repl_v2",
        tomb, "doc_id")
      try {
        assert(indexed("lsh_idx_repl_v2", None) === minusScratch,
          "steps 2+3 (compact, drop tombstone): pairs must still equal " +
            "from-scratch over corpus minus the id")
        val newVersion = d.where($"doc_id" === 8L)
          .select(lit(target).as("doc_id"), $"text", $"lang", $"source",
            $"n_chars")
        Dedup.appendToLshIndex(newVersion, "doc_id", "text",
          "lsh_idx_repl_v2", shingleN = 3, numHashes = 64, bands = 16)
        // exactly one generation of rows for the id, and the replaced
        // doc now pairs EXACTLY like the doc whose text it copied
        val perBand = spark.table("lsh_idx_repl_v2")
          .where($"doc_id" === target).groupBy("band").count()
          .select("count").distinct().as[Long].collect()
        assert(perBand.toSeq === Seq(1L),
          "one row per band for the replaced id — no duplicate generation")
        val replaced = indexed("lsh_idx_repl_v2", None)
        assert(replaced.exists(p => (p._1 == target && p._2 == 8L) ||
            (p._1 == 8L && p._2 == target)),
          "the replaced doc must near-dup its text's source doc")
        val replacedScratch = scratch(
          d.where($"doc_id" =!= target).select("doc_id", "text")
            .unionByName(newVersion.select("doc_id", "text")))
        assert(replaced === replacedScratch,
          "step 4 (append new version): pairs must equal from-scratch " +
            "over the replaced corpus")
      } finally spark.sql("DROP TABLE IF EXISTS lsh_idx_repl_v2")
    } finally spark.sql("DROP TABLE IF EXISTS lsh_idx_repl")
  }

  test("IVF same-id REPLACE lifecycle: per-step parity with a from-scratch build") {
    // the quantizer sample is a DETERMINISTIC bottom-nCentroids by
    // md5(id): as long as the replaced id is outside the sample, a
    // from-scratch buildIvfIndex over the modified corpus derives the
    // IDENTICAL centroid matrix — so full value-level parity with a
    // fresh build is assertable after every lifecycle step (the
    // strongest form; for an in-sample id only same-sidecar parity
    // would hold, which the LSH-side test's pigeonhole argument does
    // not need but IVF does)
    def mk() = tempDir("graft-ivf-repl")
    val dirLive = mk()
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", dirLive, nCentroids = 16)
    val sampleIds = emb
      .orderBy(md5($"vec_id".cast("string")), $"vec_id")
      .limit(16).select("vec_id").as[Long].collect().toSet
    val allIds = emb.select("vec_id").as[Long].collect().toSet
    val target = allIds.toSeq.sorted
      .find(id => id >= 30 && !sampleIds.contains(id) && allIds.contains(id + 1))
      .get
    val tomb = Seq(target).toDF("vec_id")
    val queries = emb.where($"vec_id" < 10)
    def knn(dir: String,
            tomb: Option[org.apache.spark.sql.DataFrame]): Set[(Long, Int, Long)] =
      Similarity.ivfKnnIndexed(spark, dir, queries, "vec_id", "embedding",
          k = 5, nProbe = 6, tombstones = tomb)
        .select("query_id", "rank", "neighbor_id")
        .as[(Long, Int, Long)].collect().toSet
    def scratchKnn(corpus: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long)] = {
      val dir = mk()
      Similarity.buildIvfIndex(corpus, "vec_id", "embedding", dir, nCentroids = 16)
      knn(dir, None)
    }
    val minus = emb.where($"vec_id" =!= target)
    val minusScratch = scratchKnn(minus)
    // step 1: tombstoned read == from-scratch build minus the vector
    assert(knn(dirLive, Some(tomb)) === minusScratch,
      "step 1 (tombstone): results must equal a fresh build minus the id")
    // step 2: compact; step 3: drop the tombstone entry
    val dirV2 = mk()
    Similarity.compactIvfIndex(spark, dirLive, dirV2, tomb, "vec_id")
    assert(knn(dirV2, None) === minusScratch,
      "steps 2+3 (compact, drop tombstone): results must equal the fresh minus build")
    // step 4: append the new version (same id, a different vector's
    // value — the id stays outside the deterministic sample, so the
    // fresh build's quantizer still matches)
    val newVersion = emb.where($"vec_id" === target + 1)
      .select(lit(target).as("vec_id"), $"embedding")
    Similarity.appendToIvfIndex(newVersion, "vec_id", "embedding", dirV2)
    val replacedScratch = scratchKnn(
      minus.select("vec_id", "embedding")
        .unionByName(newVersion.select("vec_id", "embedding")))
    assert(knn(dirV2, None) === replacedScratch,
      "step 4 (append new version): results must equal a fresh build " +
        "over the replaced corpus")
  }

  test("re-bucketing: wider physical layout, bit-identical pairs and probes, bucket spec applied") {
    // capacity growth must be a pure re-LAYOUT: every consumer's
    // result unchanged, the new physical bucket count actually applied
    // (a silent fall-through to an unbucketed write would keep results
    // right but reintroduce the pair join's exchange at 100 TB)
    Dedup.buildLshIndex(docs, "doc_id", "text", "lsh_idx_rb",
      shingleN = 3, numHashes = 64, bands = 16)
    try {
      Dedup.rebucketLshIndex(spark, "lsh_idx_rb", "lsh_idx_rb_w", buckets = 64)
      try {
        val before = Dedup.lshPairsIndexed(spark, "lsh_idx_rb", "doc_id",
            numHashes = 64, minJaccard = 0.8)
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet
        val after = Dedup.lshPairsIndexed(spark, "lsh_idx_rb_w", "doc_id",
            numHashes = 64, minJaccard = 0.8)
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet
        assert(after === before && after.nonEmpty,
          "re-bucketing must not change the pair set")
        val probe = docs.where($"doc_id" < 25)
        val hitsBefore = Dedup.lshProbeIndexed(spark, "lsh_idx_rb", probe,
            "doc_id", "text", shingleN = 3, numHashes = 64, bands = 16,
            minJaccard = 0.8)
          .select("doc_id", "corpus_id").as[(Long, Long)].collect().toSet
        val hitsAfter = Dedup.lshProbeIndexed(spark, "lsh_idx_rb_w", probe,
            "doc_id", "text", shingleN = 3, numHashes = 64, bands = 16,
            minJaccard = 0.8)
          .select("doc_id", "corpus_id").as[(Long, Long)].collect().toSet
        assert(hitsAfter === hitsBefore,
          "probe results must survive the re-layout")
        val ddl = spark.sql("SHOW CREATE TABLE lsh_idx_rb_w")
          .head().getString(0)
        assert(ddl.contains("64 BUCKETS"),
          s"widened bucket spec must be applied:\n$ddl")
      } finally spark.sql("DROP TABLE IF EXISTS lsh_idx_rb_w")
    } finally spark.sql("DROP TABLE IF EXISTS lsh_idx_rb")
  }

  test("re-banding: 32-band migration exact at the loosened threshold, zero corpus re-hashing") {
    // threshold migration must be (a) exact — the rebanded index's
    // pairs at minJ 0.7 equal a from-scratch 32-band run, (b) a strict
    // widening — every 0.8-pair survives at 0.7, and (c) built from the
    // STORED signatures alone — the write job's plan must not touch the
    // corpus text or the MinHashTokens kernel (re-hashing is the cost
    // the migration exists to avoid)
    Dedup.buildLshIndex(docs, "doc_id", "text", "lsh_idx_rbd",
      shingleN = 3, numHashes = 64, bands = 16)
    try {
      Dedup.rebandLshIndex(spark, "lsh_idx_rbd", "lsh_idx_rbd_b32",
        "doc_id", numHashes = 64, newBands = 32)
      try {
        val migrated = Dedup.lshPairsIndexed(spark, "lsh_idx_rbd_b32",
            "doc_id", numHashes = 64, minJaccard = 0.7)
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet
        val scratch = Dedup.minHashLshPairs(docs, "doc_id", "text",
            shingleN = 3, numHashes = 64, bands = 32, minJaccard = 0.7)
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet
        assert(migrated === scratch && migrated.nonEmpty,
          "rebanded pairs at 0.7 must equal a from-scratch 32-band run")
        val tight = Dedup.lshPairsIndexed(spark, "lsh_idx_rbd", "doc_id",
            numHashes = 64, minJaccard = 0.8)
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet
        assert(tight.subsetOf(migrated) && migrated.size > tight.size,
          "loosening the threshold must strictly widen the pair set")
        // per-id row cardinality: one row per (id, band) in the new count
        val perId = spark.table("lsh_idx_rbd_b32").groupBy("doc_id")
          .count().select("count").distinct().as[Long].collect().toSeq
        assert(perId === Seq(32L), s"each id must carry 32 banded rows, got $perId")
      } finally spark.sql("DROP TABLE IF EXISTS lsh_idx_rbd_b32")
    } finally spark.sql("DROP TABLE IF EXISTS lsh_idx_rbd")
  }

  test("IVF retrain: re-quantized generation identical to a from-scratch build over the union corpus") {
    // the capacity-growth rebuild: appends landed under a stale 8-wide
    // quantizer trained on half the corpus; retraining to 16 from the
    // index's own rows must equal buildIvfIndex over the union at 16 —
    // same kNN results, fresh 16-wide sidecar, corpus never re-read
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
    val v1 = wh + "/ivf_idx_rt_v1"
    val v2 = wh + "/ivf_idx_rt_v2"
    val fs = wh + "/ivf_idx_rt_fs"
    Similarity.buildIvfIndex(emb.where($"vec_id" % 2 === 0),
      "vec_id", "embedding", v1, nCentroids = 8)
    Similarity.appendToIvfIndex(emb.where($"vec_id" % 2 === 1),
      "vec_id", "embedding", v1)
    Similarity.retrainIvfIndex(spark, v1, v2, nCentroids = 16)
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", fs, nCentroids = 16)
    val queries = emb.where($"vec_id" < 10)
    def knn(dir: String): Set[(Long, Long, Long)] =
      Similarity.ivfKnnIndexed(spark, dir, queries, "vec_id", "embedding",
          k = 5, nProbe = 6)
        .select($"query_id".cast("long"), $"rank".cast("long"),
          $"neighbor_id".cast("long"))
        .as[(Long, Long, Long)].collect().toSet
    val retrained = knn(v2)
    assert(retrained === knn(fs) && retrained.nonEmpty,
      "retrained kNN must equal a from-scratch 16-centroid build over the union")
    assert(Similarity.readCentroids(spark, v2).length === 16,
      "retrained sidecar must carry the new 16-wide quantizer")
    assert(Similarity.readCentroids(spark, v2).map(_.toSeq).toSeq ===
      Similarity.readCentroids(spark, fs).map(_.toSeq).toSeq,
      "deterministic md5-keyed sampling must reproduce the from-scratch quantizer")
    // the retrained generation re-partitions: assignments span more
    // clusters than the stale 8-wide quantizer allowed
    val clusters = Similarity.readIvfIndex(spark, v2).select("cent_id").distinct().count()
    assert(clusters > 8, s"retrain must re-partition past the stale 8 clusters, got $clusters")
  }

  test("maintenance edge contracts: invalid band counts and in-place swaps fail loudly; degenerate sizes work") {
    // a re-layout that silently produced a wrong band slicing or
    // overwrote the table it reads would corrupt the index — these
    // must throw before any write happens
    Dedup.buildLshIndex(docs, "doc_id", "text", "lsh_idx_edge",
      shingleN = 3, numHashes = 64, bands = 16)
    try {
      intercept[IllegalArgumentException] {
        Dedup.rebandLshIndex(spark, "lsh_idx_edge", "lsh_idx_edge_x",
          "doc_id", numHashes = 64, newBands = 24) // 24 does not divide 64
      }
      intercept[IllegalArgumentException] {
        Dedup.rebandLshIndex(spark, "lsh_idx_edge", "lsh_idx_edge",
          "doc_id", numHashes = 64, newBands = 32) // in-place swap
      }
      intercept[IllegalArgumentException] {
        Dedup.rebandLshIndex(spark, "lsh_idx_edge", "lsh_idx_edge_x",
          "doc_id", numHashes = 128, newBands = 32) // width ≠ stored sigs
      }
      intercept[IllegalArgumentException] {
        Dedup.rebucketLshIndex(spark, "lsh_idx_edge", "lsh_idx_edge",
          buckets = 64) // in-place swap
      }
      // re-banding to the SAME band count is a pure rewrite: identical
      // rows, identical pairs (the no-op migration must be safe to run)
      Dedup.rebandLshIndex(spark, "lsh_idx_edge", "lsh_idx_edge_same",
        "doc_id", numHashes = 64, newBands = 16)
      try {
        def pairs(tbl: String) =
          Dedup.lshPairsIndexed(spark, tbl, "doc_id", numHashes = 64,
              minJaccard = 0.8)
            .select("id_a", "id_b").as[(Long, Long)].collect().toSet
        assert(pairs("lsh_idx_edge_same") === pairs("lsh_idx_edge"),
          "same-band re-layout must be a no-op for every consumer")
      } finally spark.sql("DROP TABLE IF EXISTS lsh_idx_edge_same")
    } finally spark.sql("DROP TABLE IF EXISTS lsh_idx_edge")

    // IVF: retraining PAST the corpus size degrades to one centroid
    // per vector (LIMIT semantics), never an error — the shape a
    // shrunken corpus hits after heavy compaction
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
    val tiny = wh + "/ivf_idx_edge_v1"
    val grown = wh + "/ivf_idx_edge_v2"
    val twelve = emb.orderBy("vec_id").limit(12)
    Similarity.buildIvfIndex(twelve, "vec_id", "embedding", tiny,
      nCentroids = 4)
    // IVF in-place retrain is SAFE under the generational commit
    // (round 13): the new quantizer lands as the next generation and
    // readers switch atomically at the rename
    Similarity.retrainIvfIndex(spark, tiny, tiny, nCentroids = 8)
    assert(Similarity.readCentroids(spark, tiny).length === 8,
      "in-place retrain must serve the new generation's quantizer")
    Similarity.retrainIvfIndex(spark, tiny, grown, nCentroids = 16)
    assert(Similarity.readCentroids(spark, grown).length === 12,
      "quantizer degrades to corpus size when nCentroids exceeds it")
    val hits = Similarity.ivfKnnIndexed(spark, grown,
      twelve.where($"vec_id" < 3), "vec_id", "embedding", k = 3, nProbe = 4)
    assert(hits.count() > 0, "degenerate-size index must still answer queries")
  }

  test("shared cluster table: stored labels identical to re-running CC-star on the shared pairs") {
    // the materialized cluster map (index → pairs → labels) must be
    // value-identical to recomputation — a staleness or layout bug
    // here silently corrupts every downstream analysis
    val dir = "/root/testdata/sf0.001"
    val stored = SparkEntry.sharedDupClusters(spark, dir)
      .as[(Long, Long, Long)].collect().toSet
    val fresh = Dedup.connectedComponentsStar(
        SparkEntry.sharedDupPairs(spark, dir))
      .as[(Long, Long, Long)].collect().toSet
    assert(stored === fresh)
    assert(stored.nonEmpty)
  }

  test("IVF append assigns with the sidecar quantizer; results cover the union corpus; pruning survives") {
    val dir = tempDir("graft-ivf-maint")
    val even = emb.where($"vec_id" % 2 === 0)
    val odd = emb.where($"vec_id" % 2 === 1)
    Similarity.buildIvfIndex(even, "vec_id", "embedding", dir, nCentroids = 16)
    val matrixBefore = Similarity.readCentroids(spark, dir).map(_.toSeq).toSeq
    Similarity.appendToIvfIndex(odd, "vec_id", "embedding", dir)

    // the quantizer is immutable across the append
    val matrixAfter = Similarity.readCentroids(spark, dir).map(_.toSeq).toSeq
    assert(matrixAfter === matrixBefore, "append must not touch the sidecar centroids")

    // every corpus vector is present exactly once, and appended rows'
    // partition equals the argmax assignment under the SIDECAR matrix
    val idx = Similarity.readIvfIndex(spark, dir)
    assert(idx.count() === emb.count(), "append must add exactly the batch rows")
    assert(idx.select("neighbor_id").distinct().count() === emb.count())
    val expected = {
      import graft.expressions.VectorExpressions.nearestCentroids
      odd.select($"vec_id".as("neighbor_id"),
          element_at(nearestCentroids($"embedding",
            matrixBefore.map(_.toArray).toArray, 1), 1).as("want"))
    }
    val misassigned = idx.join(expected, "neighbor_id")
      .where($"cent_id" =!= $"want").count()
    assert(misassigned === 0L,
      "appended rows must be assigned with the index's own fixed quantizer")

    // probe results identical to a FRESH single-generation index built
    // from the same quantizer's corpus layout (the q184 oracle checks
    // value-level equality vs SQL; here: generation-independence)
    val queries = emb.where($"vec_id" < 10)
    val appended = Similarity.ivfKnnIndexed(spark, dir, queries, "vec_id",
      "embedding", k = 5, nProbe = 6)
    appended.collect()
    val plan = appended.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters") && plan.contains("cent_id"),
      s"append must preserve partition pruning:\n$plan")
  }

  test("IVF tombstones == compacted index; compaction keeps the sidecar and drops the rows") {
    val dir = tempDir("graft-ivf-tomb")
    val dirV2 = tempDir("graft-ivf-tomb-v2")
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", dir, nCentroids = 16)
    val tomb = emb.where($"vec_id" % 5 === 0).select("vec_id")
    val queries = emb.where($"vec_id" < 10)

    val logical = Similarity.ivfKnnIndexed(spark, dir, queries, "vec_id",
        "embedding", k = 5, nProbe = 6, tombstones = Some(tomb))
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(logical.nonEmpty)
    assert(logical.forall { case (_, _, n) => n % 5 != 0 },
      "no tombstoned vector may appear as a neighbor")

    Similarity.compactIvfIndex(spark, dir, dirV2, tomb, "vec_id")
    val physical = Similarity.ivfKnnIndexed(spark, dirV2, queries, "vec_id",
        "embedding", k = 5, nProbe = 6)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(physical === logical,
      "compacted index must reproduce the tombstoned read exactly")
    assert(Similarity.readIvfIndex(spark, dirV2)
      .where($"neighbor_id" % 5 === 0).count() === 0L)
    assert(Similarity.readCentroids(spark, dirV2).map(_.toSeq).toSeq ===
      Similarity.readCentroids(spark, dir).map(_.toSeq).toSeq,
      "compaction must carry the quantizer sidecar over verbatim")
  }

  test("LSH pointer swap: consumers on the stable name never see a torn generation; plan survives the view") {
    Dedup.buildLshIndex(docs, "doc_id", "text", "lsh_gen_a",
      shingleN = 3, numHashes = 64, bands = 16)
    try {
      Dedup.publishLshIndex(spark, "lsh_ptr", "lsh_gen_a")
      def pairs() = Dedup.lshPairsIndexed(spark, "lsh_ptr", "doc_id",
          numHashes = 64, minJaccard = 0.8)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val before = pairs()
      assert(before.nonEmpty)

      // publishing a missing generation fails loudly, pointer untouched
      intercept[IllegalArgumentException](
        Dedup.publishLshIndex(spark, "lsh_ptr", "lsh_gen_missing"))
      assert(pairs() === before)

      // the crash window: a rewrite died mid-write, leaving a TORN
      // generation table (wrong rows, partial layout) that was never
      // published — readers on the pointer still serve gen-a
      Seq((1L, Seq(1L), 0, 0L)).toDF("doc_id", "sig", "band", "bucket")
        .write.saveAsTable("lsh_gen_b_torn")
      try assert(pairs() === before,
        "an unpublished torn generation must be invisible to pointer readers")
      finally Dedup.dropLshGeneration(spark, "lsh_gen_b_torn")

      // the retried rewrite completes gen-b; the swap is one catalog
      // op; the old generation is GC'd only after
      val tomb = docs.where($"doc_id" % 7 === 0).select("doc_id")
      Dedup.compactLshIndex(spark, "lsh_gen_a", "lsh_gen_b", tomb, "doc_id")
      Dedup.publishLshIndex(spark, "lsh_ptr", "lsh_gen_b")
      val after = pairs()
      assert(after === Dedup.lshPairsIndexed(spark, "lsh_gen_b", "doc_id",
          numHashes = 64, minJaccard = 0.8)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet)
      assert(after !== before, "fixture: compaction must change the pair set")
      Dedup.dropLshGeneration(spark, "lsh_gen_a")
      assert(pairs() === after,
        "dropping the superseded generation must not affect the pointer")

      // the exchange-free pair join survives the view indirection:
      // only the pair-distinct shuffles, the bucket self-join rides
      // the write-time layout
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val plan = Dedup.lshPairsIndexed(spark, "lsh_ptr", "doc_id",
          numHashes = 64, minJaccard = 0.8).queryExecution.executedPlan.toString()
        assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1,
          s"expected only the pair-distinct exchange through the pointer view:\n$plan")
        val joinIdx = plan.indexOf("SortMergeJoin")
        assert(joinIdx >= 0 && !plan.substring(joinIdx).contains("Exchange"),
          s"self-join must stay exchange-free through the pointer view:\n$plan")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    } finally {
      spark.sql("DROP VIEW IF EXISTS lsh_ptr")
      Seq("lsh_gen_a", "lsh_gen_b", "lsh_gen_b_torn")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("crash-consistent generations (VERDICT r12 item 3): a writer killed mid-rewrite leaves the old index serving") {
    val dir = tempDir("graft-ivf-crash")
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", dir, nCentroids = 8)
    val queries = emb.where($"vec_id" < 5)
    def knn() = Similarity.ivfKnnIndexed(spark, dir, queries, "vec_id",
        "embedding", k = 3, nProbe = 4)
      .select($"query_id".cast("long"), $"rank".cast("long"),
        $"neighbor_id".cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    val before = knn()
    assert(before.nonEmpty)

    // the crash window: a rewrite died AFTER writing data but BEFORE
    // the commit rename — its staging dir (torn: no sidecar, partial
    // rows) sits under the root. Readers must not see it.
    val torn = s"$dir/.gen-tmp-1"
    emb.limit(3).select($"vec_id".as("neighbor_id"))
      .write.mode("overwrite").parquet(torn)
    assert(knn() === before,
      "a torn (uncommitted) generation must be invisible to readers")

    // the retried rewrite clears the stale staging and commits gen-1
    // with ONE rename; in-place is safe (old generation serves until
    // the rename, then the switch is atomic)
    val none = emb.where(lit(false)).select("vec_id")
    Similarity.compactIvfIndex(spark, dir, dir, none, "vec_id")
    assert(Similarity.resolveIvfGen(spark, dir).endsWith("gen-1"))
    assert(knn() === before,
      "an empty-tombstone in-place compaction must be a no-op for consumers")

    // GC bounds the root: a further rewrite keeps only the newest two
    // generations (grace generation for readers pinned mid-query)
    Similarity.compactIvfIndex(spark, dir, dir, none, "vec_id")
    val (fs, p) = graft.sources.Fs.on(spark, dir)
    val gens = fs.listStatus(p).map(_.getPath.getName)
      .filter(_.matches("gen-\\d+")).sorted.toSeq
    assert(gens === Seq("gen-1", "gen-2"),
      s"generation GC must keep exactly the newest two, got $gens")
  }
}
