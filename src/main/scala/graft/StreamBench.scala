package graft

import graft.exec.StreamingStatementRunner
import graft.sources.{TopicConf, Topics}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming-path micro-bench (VERDICT r11 item 3): every streaming twin
  * was spec-gated for SEMANTICS but none was timed, so a throughput
  * regression in the statement runner or the ingest gates would be
  * invisible. Three components, each a REAL StructuredStreaming query
  * over the SF fixture, reported as rows/sec of stream input processed:
  *
  *  - `s1_s6_pipeline` — the reference's S1–S6 statement shapes through
  *    `StreamingStatementRunner` over file topics (JSON encode/decode,
  *    system columns, upsert dims, snapshot join, retract sink): dims
  *    from `customer`/`part`, the order stream replayed in epochs from
  *    `orders` (150k rows at sf0.1).
  *  - `gate_neardup_text` — `StreamingDedup.flagNearDups`: 80% of
  *    `documents` builds the LSH bucket index, the other 20% arrives as
  *    a file-source stream (one staged slice per micro-batch).
  *  - `gate_nearvec` — `StreamingSimilarity.flagNearVectors`: 80% of
  *    `embeddings` builds a persisted IVF index, 20% arrives as a
  *    stream and is probed against it.
  *
  * REPS (round 18, VERDICT r17 item 6): single-pass readings spanned
  * 7.9–16.1 s on s1_s6 across commits with no code change on the path —
  * cold-JVM/compile noise, not throughput. Components now run
  * `SPARK_GRAFT_STREAMBENCH_REPS` (default 3) INTERLEAVED passes (each
  * pass runs all three in order, with fresh topic/checkpoint dirs per
  * pass) and report the min-of-N floor per component, with `reps` and
  * the per-pass `samples` recorded in the artifact — the same
  * interleave + floor discipline graft.Bench uses.
  *
  * Output: one JSON line (also appended to `bench_history.jsonl` with
  * `"metric":"streaming"` so round-over-round comparison reads the same
  * history file as the batch bench). Baseline rows live in BASELINE.md
  * §"Round 12: streaming throughput". */
object StreamBench {

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_STREAMBENCH_REPS", "3").toInt
    val spark = SessionTuning.session(cpus)
    spark.sparkContext.setLogLevel("WARN")

    def table(name: String): DataFrame = spark.read.parquet(s"$sfDir/$name.parquet")
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft-streambench").toString

    // ---- component 1: S1–S6 statement pipeline over file topics ------
    val customers = table("customer").select(
      col("c_custkey").cast("string").as("id"), col("c_name").as("first_name"),
      col("c_mktsegment").as("last_name"),
      concat(col("c_custkey"), lit("@example.test")).as("email"))
    val nParts = 200L // dim cardinality for the product join key
    val products = table("part").where(col("p_partkey") <= nParts).select(
      col("p_partkey").cast("string").as("id"), col("p_brand").as("brand"),
      col("p_name").as("name"), col("p_retailprice").cast("string").as("sale_price"))
    val orders = table("orders").select(
      col("o_orderkey").cast("int").as("order_id"),
      (pmod(col("o_orderkey"), lit(nParts)) + 1).cast("string").as("product_id"),
      col("o_custkey").cast("string").as("customer_id"))
    val nOrders = orders.count()

    def runS1S6(tmp: String): Double = {
      val conf = TopicConf(s"$tmp/topics")
      Topics.appendJson(customers, "shoe_customers", conf, Nil, 1)
      Topics.appendJson(products, "shoe_products", conf, Nil, 1)
      val strCols = (names: Seq[String]) =>
        StructType(names.map(StructField(_, StringType)))
      val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
      r.registerTopicSource("shoe_customers",
        strCols(Seq("id", "first_name", "last_name", "email")))
      r.registerTopicSource("shoe_products",
        strCols(Seq("id", "brand", "name", "sale_price")))
      r.registerTopicSource("shoe_orders",
        StructType(Seq(StructField("order_id", IntegerType),
          StructField("product_id", StringType), StructField("customer_id", StringType))))
      r.runScript("""
        CREATE TABLE shoe_customers_keyed (
          customer_id STRING, first_name STRING, last_name STRING, email STRING,
          PRIMARY KEY (customer_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
        INSERT INTO shoe_customers_keyed SELECT id, first_name, last_name, email FROM shoe_customers;
        CREATE TABLE shoe_products_keyed (
          product_id STRING, brand STRING, `model` STRING, sale_price STRING,
          PRIMARY KEY (product_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
        INSERT INTO shoe_products_keyed SELECT id, brand, `name`, sale_price FROM shoe_products;
        CREATE TABLE shoe_orders_enriched (
          order_id INT, first_name STRING, brand STRING, sale_price STRING)
          WITH ('changelog.mode' = 'retract');
        INSERT INTO shoe_orders_enriched(order_id, first_name, brand, sale_price)
        SELECT so.order_id, sc.first_name, sp.brand, sp.sale_price
        FROM shoe_orders so
        INNER JOIN shoe_customers_keyed sc ON so.customer_id = sc.customer_id
        INNER JOIN shoe_products_keyed sp ON so.product_id = sp.product_id""")
      r.processAllAvailable() // dims materialize — startup, not throughput
      // the order stream arrives in 5 epochs; the TIMED region is only
      // the processAllAvailable drain per epoch (decode → snapshot join →
      // retract sink) — the appendJson staging is harness cost (the same
      // staging-is-harness contract StreamReplay documents; ADVICE r12:
      // timing it understated absolute runner throughput)
      val epochs = 5
      var tOrders = 0.0
      (0 until epochs).foreach { i =>
        Topics.appendJson(
          orders.where(pmod(col("order_id"), lit(epochs)) === i),
          "shoe_orders", conf, Nil, 2 + i)
        tOrders += time { r.processAllAvailable() }
      }
      r.stopAll()
      tOrders
    }

    // ---- component 2: streaming near-dup text gate -------------------
    val docs = table("documents")
    val bucket = graft.operators.Sampling.md5Bucket("doc_id", 100)
    val corpusDocs = docs.where(bucket < 80)
    val streamDocs = docs.where(bucket >= 80)
    val nStreamDocs = streamDocs.count()
    streamDocs.repartition(5).write.mode("overwrite").parquet(s"$tmpRoot/doc_stream")
    var nFlagsText = -1L // -1 = not yet measured; 0 is a legitimate count

    def runText(tmp: String): Double = {
      val index = graft.streaming.StreamingDedup.bucketIndex(
        corpusDocs, "doc_id", "text", shingleN = 3, numHashes = 64, bands = 16)
        .cache()
      index.count() // index build is accept-time cost, not gate throughput
      val docStream = spark.readStream.schema(streamDocs.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmpRoot/doc_stream")
      val name = s"sb_neardup_${tmp.hashCode.toHexString}"
      val gateQ = graft.streaming.StreamingDedup.flagNearDups(
          docStream, index, "doc_id", "text", shingleN = 3, numHashes = 64,
          bands = 16, minJaccard = 0.8)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", s"$tmp/cp_neardup")
        .outputMode("append").start()
      val tText = time { gateQ.processAllAvailable() }
      gateQ.stop()
      // count, then DROP the rep's in-memory result table (ADVICE r18:
      // keeping every rep's memory sink grew the driver linearly with
      // REPS); the gate is deterministic, so reps must agree — a
      // divergence means the floor is timing different work
      val flags = spark.table(name).count()
      spark.catalog.dropTempView(name)
      require(nFlagsText < 0L || flags == nFlagsText,
        s"near-dup gate flag count diverged across reps: $nFlagsText vs $flags")
      nFlagsText = flags
      index.unpersist()
      tText
    }

    // ---- component 3: streaming vector gate over the IVF index -------
    val emb = table("embeddings")
    val vBucket = graft.operators.Sampling.md5Bucket("vec_id", 100)
    val corpusVecs = emb.where(vBucket < 80)
    val streamVecs = emb.where(vBucket >= 80)
    val nStreamVecs = streamVecs.count()
    streamVecs.repartition(5).write.mode("overwrite").parquet(s"$tmpRoot/vec_stream")
    var nFlagsVec = -1L // -1 = not yet measured; 0 is a legitimate count

    def runVec(tmp: String): Double = {
      graft.operators.Similarity.buildIvfIndex(
        corpusVecs, "vec_id", "embedding", s"$tmp/ivf_idx", nCentroids = 16)
      val vecStream = spark.readStream.schema(streamVecs.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmpRoot/vec_stream")
      // threshold 0.5: the fixture's near-neighbor pairs top out just
      // under 0.6 cosine, so 0.5 makes the gate EMIT (a 0-flag run would
      // time the probe but never the output path)
      val name = s"sb_nearvec_${tmp.hashCode.toHexString}"
      val vecQ = graft.streaming.StreamingSimilarity.flagNearVectors(
          vecStream, s"$tmp/ivf_idx", "vec_id", "embedding",
          threshold = 0.5, nProbe = 4)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", s"$tmp/cp_nearvec")
        .outputMode("append").start()
      val tVec = time { vecQ.processAllAvailable() }
      vecQ.stop()
      val flags = spark.table(name).count()
      spark.catalog.dropTempView(name)
      require(nFlagsVec < 0L || flags == nFlagsVec,
        s"vector gate flag count diverged across reps: $nFlagsVec vs $flags")
      nFlagsVec = flags
      tVec
    }

    // ---- interleaved passes, min-of-N floors -------------------------
    val samples = Array.fill(3)(scala.collection.mutable.ArrayBuffer.empty[Double])
    (1 to reps).foreach { rep =>
      val tmp = s"$tmpRoot/rep$rep"
      samples(0) += runS1S6(tmp)
      samples(1) += runText(tmp)
      samples(2) += runVec(tmp)
    }
    val Seq(tOrders, tText, tVec) = samples.toSeq.map(_.min)

    // ---- report ------------------------------------------------------
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
    def arr(xs: Seq[Double]): String = xs.map(num).mkString("[", ",", "]")
    val json =
      s"""{"metric":"streaming","unit":"rows_per_sec","sf":"$sfDir","reps":$reps,""" +
      s""""components":{"s1_s6_pipeline":${num(nOrders / tOrders)},""" +
      s""""gate_neardup_text":${num(nStreamDocs / tText)},""" +
      s""""gate_nearvec":${num(nStreamVecs / tVec)}},""" +
      s""""rows":{"s1_s6_pipeline":$nOrders,"gate_neardup_text":$nStreamDocs,""" +
      s""""gate_nearvec":$nStreamVecs},""" +
      s""""secs":{"s1_s6_pipeline":${num(tOrders)},"gate_neardup_text":${num(tText)},""" +
      s""""gate_nearvec":${num(tVec)}},""" +
      s""""samples":{"s1_s6_pipeline":${arr(samples(0).toSeq)},""" +
      s""""gate_neardup_text":${arr(samples(1).toSeq)},""" +
      s""""gate_nearvec":${arr(samples(2).toSeq)}},""" +
      s""""flags":{"gate_neardup_text":$nFlagsText,"gate_nearvec":$nFlagsVec}}"""
    try {
      val w = new java.io.PrintWriter(new java.io.FileWriter(
        "bench_history.jsonl", /* append = */ true))
      try w.println(s"""{"ts":${System.currentTimeMillis / 1000},""" +
        json.substring(1)) finally w.close()
    } catch { case _: Throwable => }
    println(json)
    spark.stop()
  }
}
