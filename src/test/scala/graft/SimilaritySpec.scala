package graft

import graft.expressions.VectorExpressions.vecDot
import graft.operators.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("VectorDot matches the interpreted left-to-right fold bit-for-bit") {
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (Array(0.1f, -0.2f, 0.3f), Array(-0.4f, 0.5f, -0.6f))
    ).toDF("a", "b")
    val hof = aggregate(zip_with(col("a"), col("b"),
      (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (acc, v) => acc + v)
    val rows = df.select(vecDot(col("a"), col("b")).as("fast"), hof.as("slow"))
      .as[(Double, Double)].collect()
    rows.foreach { case (f, s) => assert(f === s) }
  }

  test("VectorDot handles mixed float/double arrays and empty arrays") {
    val df = Seq((Array(1.0f, 2.0f), Array(3.0, 4.0))).toDF("a", "b")
    assert(df.select(vecDot(col("a"), col("b"))).as[Double].head() === 11.0)
    val empty = Seq((Array.empty[Float], Array.empty[Float])).toDF("a", "b")
    assert(empty.select(vecDot(col("a"), col("b"))).as[Double].head() === 0.0)
  }

  test("bruteForceKnn returns k neighbors ranked by cosine, self excluded") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val knn = Similarity.bruteForceKnn(emb, emb.where($"vec_id" < 3), "vec_id", "embedding", 5)
    val rows = knn.select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect()
    assert(rows.length === 15)
    assert(rows.forall { case (q, _, n) => q != n })
    rows.groupBy(_._1).foreach { case (_, g) =>
      assert(g.map(_._2).sorted.toSeq === Seq(1, 2, 3, 4, 5))
    }
  }

  test("lshKnn achieves decent recall vs brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where($"vec_id" < 10)
    val exact = Similarity.bruteForceKnn(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshKnn(emb, queries, "vec_id", "embedding", 5,
      dim = 64, nBits = 8, numTables = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"LSH multi-probe recall $recall")
  }

  test("ivfKnn achieves decent recall vs brute force, touching few clusters") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where($"vec_id" < 10)
    val exact = Similarity.bruteForceKnn(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfKnn(emb, queries, "vec_id", "embedding", 5,
      nCentroids = 16, nProbe = 6)
    val approx = ivf.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"IVF recall $recall")
    // determinism: same call, same result
    val again = Similarity.ivfKnn(emb, queries, "vec_id", "embedding", 5, 16, 6)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(again === approx)
  }

  test("persisted IVF index: identical results to the inline form; scan prunes to probed partitions") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where($"vec_id" < 10)
    val dir = tempDir("graft-ivf-idx")
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", dir, nCentroids = 16)
    val indexed = Similarity.ivfKnnIndexed(spark, dir, queries, "vec_id", "embedding",
      k = 5, nProbe = 6)
    val inline = Similarity.ivfKnn(emb, queries, "vec_id", "embedding",
      k = 5, nCentroids = 16, nProbe = 6)
    val a = indexed.select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    val b = inline.select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    assert(a === b, "persisted index must reproduce the inline IVF results")
    // the scale property: the index scan carries PartitionFilters on
    // cent_id — only probed clusters' files are read
    indexed.collect()
    val plan = indexed.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters") && plan.contains("cent_id"),
      s"index scan must prune partitions:\n$plan")
  }

  test("cosineNearDupPairs is symmetric-free (id_a < id_b) and thresholded") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pairs = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding", 0.4)
      .as[(Long, Long, Double)].collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (a, b, s) => a < b && s >= 0.4 })
  }

  test("lshNearDupPairs: precision 1 and decent recall vs the exact all-pairs oracle") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding", 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshNearDupPairs(emb, "vec_id", "embedding", 0.4, dim = 64)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // exact verification of every candidate ⇒ no false positives, ever
    assert(lsh.subsetOf(exact), s"false positives: ${lsh.diff(exact)}")
    val recall = if (exact.isEmpty) 1.0 else lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"LSH near-dup recall $recall over ${exact.size} true pairs")
  }

  test("kmeansRefine: assignments are the true L2 argmin under final centroids; iterating does not increase cost") {
    import spark.implicits._
    import graft.operators.Similarity
    // three well-separated blobs in 4-d; deterministic fixture
    val rnd = new scala.util.Random(7)
    val centers = Seq(Seq(0f, 0f, 0f, 0f), Seq(10f, 10f, 0f, 0f), Seq(0f, 0f, 10f, 10f))
    val vecs = (0L until 60L).map { i =>
      val c = centers((i % 3).toInt)
      (i, c.map(x => x + rnd.nextFloat() * 0.5f))
    }.toDF("vec_id", "embedding")
    val k1 = Similarity.kmeansRefine(vecs, "vec_id", "embedding", k = 3, iters = 1)
      .as[(Long, Int, Double)].collect()
    val k3 = Similarity.kmeansRefine(vecs, "vec_id", "embedding", k = 3, iters = 3)
      .as[(Long, Int, Double)].collect()
    assert(k1.length === 60 && k3.length === 60)
    // on separated blobs, converged k-means puts each blob in one cluster
    val byBlob = k3.groupBy(_._1 % 3).values.map(_.map(_._2).distinct.length)
    assert(byBlob.forall(_ === 1), s"blob split across clusters: ${k3.mkString(",")}")
    // total cost is non-increasing in iterations (Lloyd monotonicity,
    // modulo the 6-dp centroid rounding -- allow that epsilon)
    assert(k3.map(_._3).sum <= k1.map(_._3).sum + 1e-3)
  }

  test("labelCentroidStats: collapsed class has centroid_norm == avg_vec_norm; scattered class lower") {
    import spark.implicits._
    import graft.operators.Similarity
    val collapsed = (0L until 10L).map(i => (i, Seq(3f, 4f, 0f), 0))
    val scattered = (10L until 20L).map(i =>
      (i, if (i % 2 == 0) Seq(5f, 0f, 0f) else Seq(-5f, 0f, 0f), 1))
    val emb = (collapsed ++ scattered).toDF("vec_id", "embedding", "label")
    val got = Similarity.labelCentroidStats(emb, "label", "embedding", "vec_id")
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got(0) === ((10L, 5.0, 5.0)))      // identical vectors: centroid == each vector
    assert(got(1)._2 === 0.0 && got(1)._3 === 5.0) // opposing vectors cancel the centroid
  }

  test("semDedup: keep ⟺ no smaller-id near-dup; identical pair drops the higher id") {
    import spark.implicits._
    // ids 1/2 are exact duplicates; 10/11 near-identical; 20 a loner
    val emb = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(1f, 0f, 0f, 0f)),
      (10L, Seq(0f, 1f, 0f, 0f)), (11L, Seq(0f, 0.99f, 0.1f, 0f)),
      (20L, Seq(0f, 0f, 0f, 1f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.semDedup(emb, "vec_id", "embedding",
        k = 2, iters = 1, threshold = 0.9)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getBoolean(4))).toMap
    // identical vectors always co-cluster: higher id must drop at cos 1.0
    assert(got(1L)._3, "lowest id of a dup ball must keep")
    assert(!got(2L)._3 && got(2L)._2 >= 1L, "exact duplicate must drop")
    assert(!got(11L)._3, "near-identical higher id must drop")
    assert(got(20L)._3, "loner must keep")
    // general invariant: keep ⟺ n_dups == 0, and each cluster's lowest
    // id always keeps (it has no smaller-id cluster-mate)
    val all = Similarity.semDedup(emb, "vec_id", "embedding", k = 2, iters = 1, threshold = 0.9)
      .collect()
    all.foreach(r => assert(r.getBoolean(4) === (r.getLong(2) == 0L)))
    all.groupBy(_.getInt(1)).values.foreach { c =>
      val lowest = c.minBy(_.getLong(0))
      assert(lowest.getBoolean(4), "cluster's lowest id must always keep")
    }
  }

  test("embeddingDimStats: hand-computed per-dimension moments") {
    import spark.implicits._
    val emb = Seq(
      (1L, Seq(0f, 2f, -1f)),
      (2L, Seq(2f, 2f, 1f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.embeddingDimStats(emb, "embedding")
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(got(0) === ((2L, 1.0, 1.0, 0.0, 2.0)))  // mean 1, std 1
    assert(got(1) === ((2L, 2.0, 0.0, 2.0, 2.0)))  // dead dimension: std 0
    assert(got(2) === ((2L, 0.0, 1.0, -1.0, 1.0)))
  }

  test("annRecallAtK: bounds, hit-consistency and determinism on real embeddings") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val r = Similarity.annRecallAtK(emb, emb.where($"vec_id" < 5),
      "vec_id", "embedding", k = 5, dim = 64, nBits = 8, numTables = 8)
    val rows = r.collect().map(x =>
      (x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3)))
    assert(rows.length === 5)
    rows.foreach { case (_, nTruth, nHits, recall) =>
      assert(nTruth === 5L)
      assert(nHits >= 0L && nHits <= nTruth)
      assert(recall >= 0.0 && recall <= 1.0)
      assert(recall === BigDecimal(nHits.toDouble / nTruth)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val again = Similarity.annRecallAtK(emb, emb.where($"vec_id" < 5),
      "vec_id", "embedding", k = 5, dim = 64, nBits = 8, numTables = 8)
      .collect().map(x => (x.getLong(0), x.getLong(2))).toMap
    rows.foreach { case (q, _, h, _) => assert(again(q) === h) }
  }

  test("pqAdcSearch: ranked ADC top-k with useful recall vs exact L2, partitioning-invariant") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where($"vec_id" < 5)
    val got = Similarity.pqAdcSearch(emb, queries, "vec_id", "embedding",
      k = 10, m = 8, ks = 16)
      .select("query_id", "rank", "neighbor_id", "adc_dist")
      .as[(Long, Int, Long, Double)].collect()
    assert(got.length === 50)
    // per query: ranks 1..10, ascending rounded distance, no self-match
    got.groupBy(_._1).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1 to 10))
      assert(sorted.map(_._4).toSeq === sorted.map(_._4).sorted.toSeq)
      assert(!sorted.exists(_._3 == q))
    }
    // codes are a pure content function — same result on any partitioning
    val again = Similarity.pqAdcSearch(emb.repartition(7), queries,
      "vec_id", "embedding", k = 10, m = 8, ks = 16)
      .select("query_id", "rank", "neighbor_id", "adc_dist")
      .as[(Long, Int, Long, Double)].collect()
    assert(again.toSet === got.toSet)
    // NOTE: no recall floor on the FIXTURE — its embeddings are
    // unstructured (near-uniform), where approximate-distance ranking
    // is information-free by construction; quantization quality is
    // asserted on planted structure below.
  }

  test("pqAdcSearch: planted clusters — ADC ranking recovers cluster-mates through quantization") {
    // 10 deterministic cluster centers, 21 members each with small
    // deterministic perturbation (no RNG — repo determinism rule)
    val dim = 64
    def vec(c: Int, j: Int): Array[Float] = Array.tabulate(dim) { d =>
      (math.sin(c * 1.7 + d * 0.37) +
        math.sin(c * 31.1 + j * 7.3 + d * 1.13) * 0.05).toFloat
    }
    val rows = for (c <- 0 until 10; j <- 0 until 21)
      yield (c * 100L + j, vec(c, j).toSeq)
    val emb = rows.toDF("vec_id", "embedding")
    val queries = emb.where($"vec_id" % 100 === 0 && $"vec_id" < 500)
    val got = Similarity.pqAdcSearch(emb, queries, "vec_id", "embedding",
      k = 10, m = 8, ks = 16)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(got.length === 50)
    // every true top-10 neighbor is a cluster-mate (20 mates, noise ≪
    // inter-center distance); the compressed scan must recover ≥ 90%
    val hits = got.count { case (q, n) => q / 100 == n / 100 }
    assert(hits >= 45, s"PQ cluster recall too low: $hits/50")

    // exact re-rank: with the shortlist (50) ⊇ every cluster-mate (20),
    // the re-ranked top-10 must EQUAL the exact-L2 top-10
    import graft.expressions.VectorExpressions.vecL2Sq
    val reranked = Similarity.pqRerankSearch(emb, queries, "vec_id", "embedding",
      k = 10, shortlist = 50, m = 8, ks = 16)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    val q2 = queries.select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val exact = emb.select($"vec_id".as("neighbor_id"), $"embedding".as("cv"))
      .crossJoin(broadcast(q2)).where($"query_id" =!= $"neighbor_id")
      .withColumn("l2", round(vecL2Sq($"qv", $"cv"), 6))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy($"l2".asc, $"neighbor_id".asc)))
      .where($"rank" <= 10).select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(reranked === exact, "re-ranked top-10 must match exact L2 top-10")
  }

  test("clusterLabelPurity: sizes sum to corpus, purity in (0,1], majority is a real label") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val labels = emb.select($"label").as[Int].collect().toSet
    val got = Similarity.clusterLabelPurity(emb, "vec_id", "embedding", "label",
      k = 8, iters = 2)
      .select("cluster", "n_vecs", "majority_label", "n_majority", "purity")
      .as[(Int, Long, Int, Long, Double)].collect()
    spark.catalog.clearCache()
    assert(got.map(_._2).sum === emb.count())
    got.foreach { case (_, nVecs, maj, nMaj, purity) =>
      assert(labels.contains(maj))
      assert(nMaj >= 1L && nMaj <= nVecs)
      assert(purity > 0.0 && purity <= 1.0)
      // purity replays the exact integer half-up micro form
      assert(purity === ((nMaj * 2000000L + nVecs) / (nVecs * 2L)) / 1e6)
    }
    // purity must beat the trivial floor 1/|labels| on at least one
    // cluster (labels are not uniformly shredded across every cluster)
    assert(got.exists(_._5 > 1.0 / labels.size))
  }

  test("labelNoiseAudit: the planted mislabel in a clean cluster is the only suspect") {
    import spark.implicits._
    // two tight, well-separated blobs; one vector in blob A wears blob
    // B's label — geometry must out-vote it
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f), 0), (2L, Array(0.98f, 0.05f, 0f), 0),
      (3L, Array(0.97f, 0f, 0.05f), 0), (4L, Array(0.99f, 0.02f, 0.02f), 1), // mislabel
      (10L, Array(0f, 1f, 0f), 1), (11L, Array(0.05f, 0.98f, 0f), 1),
      (12L, Array(0f, 0.97f, 0.05f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.labelNoiseAudit(vecs, "vec_id", "embedding", "label",
        k = 2, iters = 3)
      .select("vec_id", "label", "majority_label", "is_suspect", "majority_frac")
      .as[(Long, Int, Int, Boolean, Double)].collect().map(r => r._1 -> r).toMap
    spark.catalog.clearCache()
    assert(got.size === 7, "one verdict per vector")
    assert(got(4L)._4, "the planted mislabel is flagged")
    assert(got(4L)._3 === 0, "geometry's vote is blob A's label")
    assert((got - 4L).values.forall(!_._4), "clean vectors are not flagged")
    // blob A: 3-of-4 majority → exact half-up micro of 3/4
    assert(got(4L)._5 === 0.75)
  }

  test("jlProject: integer projections replay the md5 sign contract exactly") {
    import spark.implicits._
    val v = Array(0.5f, -0.25f, 1.0f, 0.125f)
    val got = Similarity.jlProject(Seq((1L, v)).toDF("vec_id", "embedding"),
        "vec_id", "embedding", dim = 4, outDim = 3, seed = 7L)
      .select("proj_dim", "q_units").as[(Long, Long)].collect().toMap
    // plain-Scala replay of SignedProjection's sign/quant contract
    val md = java.security.MessageDigest.getInstance("MD5")
    val q = v.map(x => math.floor(x.toDouble * 1048576.0).toLong)
    val expect = (0 until 3).map { j =>
      j.toLong -> (0 until 4).map { d =>
        val s = if ((md.digest(s"jl|7|$j|$d".getBytes("UTF-8"))(15) & 1) == 1) 1L else -1L
        s * q(d)
      }.sum
    }.toMap
    assert(got === expect)
  }

  test("mutualKnnGraph: only reciprocal top-k pairs survive; losing a popularity contest prunes") {
    import spark.implicits._
    // a ↔ b are each other's top-1; c's best friend is a, but a prefers
    // b — with k = 1 the only mutual edge is (a, b)
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0.99f, 0.1f, 0f, 0f)),
      (3L, Array(0.9f, 0.3f, 0.1f, 0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.mutualKnnGraph(vecs, "vec_id", "embedding",
        k = 1, dim = 4).collect()
    spark.catalog.clearCache()
    assert(got.length === 1, got.mkString(";"))
    val r = got.head
    assert(r.getLong(0) === 1L && r.getLong(1) === 2L, "the reciprocal pair")
    assert(r.getLong(3) === 1L && r.getLong(4) === 1L, "rank 1 both ways")
    // with k = 2 everyone fits in everyone's list → all 3 edges mutual
    val all = Similarity.mutualKnnGraph(vecs, "vec_id", "embedding",
        k = 2, dim = 4).collect()
    spark.catalog.clearCache()
    assert(all.length === 3)
    assert(all.forall(r => r.getLong(0) < r.getLong(1)), "edges canonical a < b")
  }

  test("int8QuantProfile: planted mid-point error, exact endpoints, constant dim is lossless") {
    import spark.implicits._
    // dim 0 spans [0, 1]: endpoints code exactly (err 0); 0.4 lands
    // between codes 101/102 → err = 419430 − 415318 = 4112 units.
    // dim 1 is constant → range 0 → code 0, deq = min, err 0.
    val emb = Seq(
      (1L, Array(0f, 0.5f)), (2L, Array(0.4f, 0.5f)), (3L, Array(1f, 0.5f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.int8QuantProfile(emb, "embedding")
      .select("dim", "n", "min_q", "max_q", "max_err", "sse")
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got(0) === ((0L, 3L, 0L, 1048576L, 4112L, 4112L * 4112L)))
    assert(got(1) === ((1L, 3L, 524288L, 524288L, 0L, 0L)))
    // empty vectors are excluded, not zero-padded
    val withEmpty = emb.unionAll(
      Seq((4L, Array.empty[Float])).toDF("vec_id", "embedding"))
    assert(Similarity.int8QuantProfile(withEmpty, "embedding")
      .agg(max("n")).collect().head.getLong(0) === 3L)
  }

  test("hardNegatives: only other-label neighbors, ranked by cosine, self excluded") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1f, 0f), 0),
      (2L, Array(0.99f, 0.1f), 0),  // same label: must never appear
      (3L, Array(0.9f, 0.4f), 1),   // nearest cross-label
      (4L, Array(0f, 1f), 1),
      (5L, Array(-1f, 0f), 2)).toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(vecs, vecs.where(col("vec_id") === 1L),
        "vec_id", "embedding", "label", k = 3)
      .as[(Long, Int, Long, Int, Double)].collect().sortBy(_._2)
    assert(got.length === 3)
    assert(got.forall(_._1 === 1L))
    assert(got.forall(_._4 !== 0), "query's own label must be filtered")
    assert(got.map(_._3).toSeq === Seq(3L, 4L, 5L), "cosine order")
    // sims strictly descend and the carried label matches the corpus row
    assert(got.map(_._5).toSeq === got.map(_._5).sortBy(-(_: Double)).toSeq)
    assert(got.map(r => r._3 -> r._4).toMap === Map(3L -> 1, 4L -> 1, 5L -> 2))
  }

  test("embeddingOutlierProfile: zero vector flagged, planted norm spike is the only outlier") {
    import spark.implicits._
    val unit = (1L to 10L).map(i => (i, Array(1f, 0f)))
    val vecs = (unit :+ (11L, Array(1000f, 0f)) :+ (12L, Array(0f, 0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.embeddingOutlierProfile(vecs, "vec_id", "embedding")
      .as[(Long, Long, Boolean, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._2 === 1000000L)
    assert(got(12L)._3, "zero vector must flag is_zero")
    assert(got(11L)._4, "the norm spike must flag is_outlier")
    assert((1L to 10L).forall(i => !got(i)._4), "unit norms are inliers")
    assert(!got(1L)._3 && !got(11L)._3)
  }

  test("standardizeEmbeddings: planted moments replay; constant dim yields NULL") {
    import spark.implicits._
    val vecs = Seq((1L, Array(1f, 5f)), (2L, Array(3f, 5f)), (3L, Array(5f, 5f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.standardizeEmbeddings(vecs, "vec_id", "embedding")
      .as[(Long, Int, Option[Long])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // dim 0: micros {1e6,3e6,5e6} → mean 3e6; ex2 = (2·35e12+3)//6 =
    // 11666666666667; var = ex2 − 9e12 = 2666666666667
    val z = (xm: Long) =>
      math.floor((xm - 3000000L).toDouble / math.sqrt(2666666666667.0) * 1e6).toLong
    assert(got((1L, 0)) === Some(z(1000000L)))
    assert(got((2L, 0)) === Some(0L))
    assert(got((3L, 0)) === Some(z(5000000L)))
    assert(z(1000000L) === -z(5000000L) - 1, "floor is asymmetric around 0 by design")
    assert((1L to 3L).forall(i => got((i, 1)).isEmpty), "constant dim → NULL, not ±inf")
  }

  test("embeddingOutlierProfile: constant norms give zero variance and no outliers") {
    import spark.implicits._
    val vecs = (1L to 5L).map(i => (i, Array(0f, 2f))).toDF("vec_id", "embedding")
    val got = Similarity.embeddingOutlierProfile(vecs, "vec_id", "embedding")
      .as[(Long, Long, Boolean, Boolean)].collect()
    assert(got.forall(r => r._2 === 2000000L && !r._3 && !r._4))
  }

  test("labelCentroidCompactness: mislabeled outlier drags min_cos to -1; zero vectors score NULL") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1f, 0f), 0), (2L, Array(1f, 0f), 0),
      (3L, Array(-1f, 0f), 0),           // mislabeled: anti-parallel to its centroid
      (4L, Array(0f, 1f), 1), (5L, Array(0f, 1f), 1),
      (6L, Array(0f, 0f), 1),            // zero vector: unscorable, still counted
      (7L, Array(1f, 0f, 0f), 0))        // wrong dimensionality: excluded from
                                         // centroid AND scoring (round-9 contract)
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.labelCentroidCompactness(vecs, "vec_id", "embedding", "label",
      dim = 2)
      .as[(Int, Long, Long, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> r).toMap
    // label 0: centroid (1/3, 0) → cos (1, 1, −1); exact micro mean of
    // (1e6, 1e6, −1e6) is half-up(1/3)·1e6
    assert(got(0) === ((0, 3L, 3L, Some(333333L), Some(-1000000L))))
    // label 1: the zero vector is n_vecs−n_scored; survivors align
    assert(got(1) === ((1, 3L, 2L, Some(1000000L), Some(1000000L))))
  }

  test("topPrincipalComponent: rank-1 planted direction, sign canonicalization, partitioning-independent") {
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // points ±d for d = (−4, 3, 2, 0, …): μ = 0, C = d·dᵀ (rank 1) →
    // the iteration lands on ±d/|d| EXACTLY after one step; λ = |d|² = 29.
    // C·1 = d·Σd = d·1 keeps d's signs, so the iterate's dominant
    // loading is −4/√29 < 0 — exercising the canonical flip to +.
    val d = Array(-4.0, 3.0, 2.0) ++ Array.fill(61)(0.0)
    val rows = Seq(d.map(_.toFloat).toSeq, d.map(x => (-x).toFloat).toSeq)
      .toDF("embedding")
    val got = Similarity.topPrincipalComponent(rows, "embedding")
      .as[(Long, Double, Double)].collect().sortBy(_._1)
    assert(got.length === 64)
    assert(got.forall(_._3 === 29.0), s"eigval: ${got.head._3}")
    val norm = math.sqrt(29.0)
    val want = d.map(x => r6(-x / norm)) // flipped: dominant dim 0 → +
    got.foreach { case (i, loading, _) =>
      assert(math.abs(loading - want(i.toInt)) <= 1e-6,
        s"dim $i: $loading vs ${want(i.toInt)}")
    }
    assert(got(0)._2 > 0, "dominant loading must be canonicalized positive")
    // sketch mergeability: the fixture corpus gives the same component
    // regardless of partitioning (merge order only moves ~1e-15)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val a = Similarity.topPrincipalComponent(emb.repartition(7), "embedding")
      .as[(Long, Double, Double)].collect().sortBy(_._1)
    val b = Similarity.topPrincipalComponent(emb.coalesce(1), "embedding")
      .as[(Long, Double, Double)].collect().sortBy(_._1)
    a.zip(b).foreach { case ((_, la, ea), (_, lb, eb)) =>
      assert(math.abs(la - lb) <= 1e-6 && math.abs(ea - eb) <= 1e-6)
    }
  }

  test("principalSpectrum: planted orthogonal directions, variance shares, component-0 ≡ q166") {
    // ±2·e0 and ±1·e1 → C = diag(2, 0.5, 0, …): components e0 (λ=2,
    // share 0.8) then e1 (λ=0.5, share 0.2). 8 iterations leave a
    // (0.5/2)^8 ≈ 1.5e-5 tail on the off-direction — tolerance 1e-3.
    def vec(i: Int, s: Double): Seq[Float] =
      Array.tabulate(64)(d => if (d == i) s.toFloat else 0.0f).toSeq
    val rows = Seq(vec(0, 2), vec(0, -2), vec(1, 1), vec(1, -1)).toDF("embedding")
    val got = Similarity.principalSpectrum(rows, "embedding", nComponents = 2)
      .as[(Long, Long, Double, Double, Double)].collect()
    val c0 = got.filter(_._1 == 0L).sortBy(_._2)
    val c1 = got.filter(_._1 == 1L).sortBy(_._2)
    assert(math.abs(c0.head._4 - 2.0) < 1e-3 && math.abs(c0.head._5 - 0.8) < 1e-3)
    assert(math.abs(c1.head._4 - 0.5) < 1e-3 && math.abs(c1.head._5 - 0.2) < 1e-3)
    assert(math.abs(c0(0)._3 - 1.0) < 1e-3 && math.abs(c1(1)._3 - 1.0) < 1e-3)
    assert(c0.drop(1).forall(r => math.abs(r._3) < 1e-3))
    assert(c1.count(r => math.abs(r._3) >= 1e-3) === 1)
    // component 0 must REPLAY topPrincipalComponent bit-for-bit (same
    // sketch, same op sequence) on the fixture corpus
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val spec0 = Similarity.principalSpectrum(emb, "embedding", nComponents = 1)
      .select("dim", "loading", "eigval")
      .as[(Long, Double, Double)].collect().sortBy(_._1).toSeq
    val top = Similarity.topPrincipalComponent(emb, "embedding")
      .as[(Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(spec0 === top)
  }

  test("pcaResidualOutliers: off-span vector ranks first; in-span corpus scores ~0") {
    def vec(i: Int, s: Double): Seq[Float] =
      Array.tabulate(64)(d => if (d == i) s.toFloat else 0.0f).toSeq
    // 8 in-span vectors ±5·e0 (variance all on component 0) and one
    // anomaly with its mass on e5 — invisible to the top component
    val rows = ((1L to 4L).flatMap(id =>
      Seq((id * 2 - 1, vec(0, 5)), (id * 2, vec(0, -5)))) :+ (9L, vec(5, 3)))
      .toDF("vec_id", "embedding")
    val got = Similarity.pcaResidualOutliers(rows, "vec_id", "embedding",
      nComponents = 1, topN = 9)
      .as[(Long, Int, Double)].collect().sortBy(_._2)
    assert(got.head._1 === 9L && got.head._2 === 1,
      s"anomaly must rank first: ${got.toSeq}")
    assert(got.head._3 > 7.0, s"anomaly residual ≈ 9·(1−1/9)²: ${got.head._3}")
    assert(got.tail.forall(_._3 < 1.0),
      s"in-span residuals are the e5-mean crumb only: ${got.toSeq}")
  }

  test("labelPrincipalAlignment: aligned label scores 1, orthogonal label ~0, per-label eigvals exact") {
    def vec(i: Int, s: Double): Seq[Float] =
      Array.tabulate(64)(d => if (d == i) s.toFloat else 0.0f).toSeq
    // label 0 varies along e0 (±5), label 1 along e1 (±3): the global
    // component is ~e0 (12.5 vs 4.5 global variance), so label 0
    // aligns fully and label 1 is orthogonal up to the power-iteration
    // tail ((4.5/12.5)^8 ≈ 3e-4)
    val rows = ((1 to 4).flatMap(_ => Seq((0, vec(0, 5)), (0, vec(0, -5)))) ++
      (1 to 4).flatMap(_ => Seq((1, vec(1, 3)), (1, vec(1, -3)))))
      .toDF("label", "embedding")
    val got = Similarity.labelPrincipalAlignment(rows, "label", "embedding")
      .as[(Int, Long, Double, Double)].collect().sortBy(_._1)
    assert(got.map(r => (r._1, r._2, r._3)).toSeq ===
      Seq((0, 8L, 25.0), (1, 8L, 9.0)))
    assert(got(0)._4 === 1.0, s"aligned label: ${got(0)}")
    assert(got(1)._4 < 0.01, s"orthogonal label: ${got(1)}")
  }
}
