package graft

import graft.exec.StreamingStatementRunner
import graft.sources.{TopicConf, Topics}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** End-to-end integration: the reference's S1–S10 statement pipeline
  * driven through the streaming runner over FILE-SIMULATED Kafka topics
  * (`graft.sources.Topics`, the Kafka record shape without a broker) —
  * source tables expose the `key` / `$rowtime` system columns, INSERTs
  * sink to topics with distributed writes (zero driver-side row
  * accumulation), and the S7/S8 key retype + S9/S10 watermark act on the
  * real source metadata columns at scan.
  */
class TopicPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val strCols = (names: Seq[String]) =>
    StructType(names.map(StructField(_, StringType)))

  test("S1–S6 over file topics: upsert materialization + snapshot join, distributed sinks") {
    val conf = TopicConf(
      tempDir("graft-topic-spec"))

    // ---- datagen-producer analog: seed the source topics (epoch 1)
    Topics.appendJson(Seq(
      ("c1", "Ann", "Ames", "a@x"), ("c2", "Bob", "Baker", "b@x"))
      .toDF("id", "first_name", "last_name", "email"), "shoe_customers", conf, Nil, 1)
    Topics.appendJson(Seq(
      ("p1", "nike", "Air", "120"), ("p2", "puma", "Run", "80"))
      .toDF("id", "brand", "name", "sale_price"), "shoe_products", conf, Nil, 1)

    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("shoe_customers",
      strCols(Seq("id", "first_name", "last_name", "email")))
    r.registerTopicSource("shoe_products",
      strCols(Seq("id", "brand", "name", "sale_price")))
    r.registerTopicSource("shoe_orders",
      StructType(Seq(StructField("order_id", IntegerType),
        StructField("product_id", StringType), StructField("customer_id", StringType))))

    // the reference's system columns surface on every topic source
    val srcCols = spark.table("shoe_customers").columns
    assert(srcCols.contains("key") && srcCols.contains("$rowtime"),
      s"system columns missing: ${srcCols.mkString(",")}")
    assert(spark.table("shoe_customers").isStreaming)

    // ---- S1–S6 (lab-aggregations main.tf:396,431,463,498,530,563)
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
    r.processAllAvailable() // dims materialize before any order arrives

    // epoch 2: orders arrive; the snapshot join sees the CURRENT dims
    Topics.appendJson(Seq((1, "p1", "c1"), (2, "p2", "c2"))
      .toDF("order_id", "product_id", "customer_id"), "shoe_orders", conf, Nil, 2)
    r.processAllAvailable()
    val got1 = spark.table("shoe_orders_enriched")
      .select("order_id", "first_name", "brand").as[(Int, String, String)]
      .collect().sortBy(_._1).toSeq
    assert(got1 === Seq((1, "Ann", "nike"), (2, "Bob", "puma")))

    // epoch 3: c1 upserts (new name); a later order must join the NEW
    // version — the Flink regular-join-against-latest-state semantics
    Topics.appendJson(Seq(("c1", "Anna", "Ames", "a2@x"))
      .toDF("id", "first_name", "last_name", "email"), "shoe_customers", conf, Nil, 3)
    r.processAllAvailable()
    assert(spark.table("shoe_customers_keyed")
      .where($"customer_id" === "c1").select("first_name").as[String].head() === "Anna")
    Topics.appendJson(Seq((3, "p1", "c1"))
      .toDF("order_id", "product_id", "customer_id"), "shoe_orders", conf, Nil, 4)
    r.processAllAvailable()
    val got2 = spark.table("shoe_orders_enriched")
      .where($"order_id" === 3).select("first_name").as[String].collect().toSeq
    assert(got2 === Seq("Anna"))

    // retract targets carry the changelog op tag
    assert(spark.table("shoe_orders_enriched").columns.contains("__op"))
    r.stopAll()
  }

  test("stream-stream interval join through the runner: two watermarked topic sources") {
    val conf = TopicConf(
      tempDir("graft-topic-ss"))
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(mins: Int) = new java.sql.Timestamp(t0.getTime + mins * 60000L)
    Topics.appendJson(Seq(("o1", "c1", ts(0)), ("o2", "c2", ts(120)))
      .toDF("order_id", "cust", "ts"), "orders_s", conf, Nil, 1,
      eventTimeCol = Some("ts"))
    Topics.appendJson(Seq(("c1", "/buy", ts(10)), ("c2", "/view", ts(300)))
      .toDF("cust", "url", "ts"), "clicks_s", conf, Nil, 1,
      eventTimeCol = Some("ts"))

    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    val schema = (f: Seq[(String, org.apache.spark.sql.types.DataType)]) =>
      StructType(f.map { case (n, t) => StructField(n, t) })
    r.registerTopicSource("orders_s", schema(Seq(
      "order_id" -> StringType, "cust" -> StringType, "ts" -> TimestampType)))
    r.registerTopicSource("clicks_s", schema(Seq(
      "cust" -> StringType, "url" -> StringType, "ts" -> TimestampType)))
    // S9/S10-style watermarks on the record-timestamp system column —
    // both sides need one for the stream-stream state to be prunable
    r.run("ALTER TABLE orders_s MODIFY WATERMARK FOR `$rowtime` AS `$rowtime`")
    r.run("ALTER TABLE clicks_s MODIFY WATERMARK FOR `$rowtime` AS `$rowtime`")

    r.run("""CREATE TABLE order_clicks (order_id STRING, url STRING)""")
    // clicks within ±1h of the order (both refs streaming → native
    // Spark stream-stream interval join, no snapshot path)
    r.run("""INSERT INTO order_clicks
             SELECT o.order_id, c.url
             FROM orders_s o JOIN clicks_s c
             ON o.cust = c.cust
             AND c.`$rowtime` BETWEEN o.`$rowtime` - INTERVAL 1 HOUR
                                  AND o.`$rowtime` + INTERVAL 1 HOUR""")
    r.processAllAvailable()
    val got = spark.table("order_clicks").as[(String, String)].collect().toSet
    // o1/c1 within 10 min: joins; o2's click is 3h later: out of range
    assert(got === Set(("o1", "/buy")))
    r.stopAll()
  }

  test("S7/S8: key metadata column retyped at scan; S9/S10: watermark on $rowtime") {
    val conf = TopicConf(
      tempDir("graft-topic-keys"))
    // a compacted clickstream topic: real message keys (user_id)
    Topics.appendJson(
      Seq(("u1", "/home", 5), ("u2", "/cart", 9))
        .toDF("user_id", "url", "dwell"),
      "shoe_clickstream", conf, keyCols = Seq("user_id"), epoch = 1)

    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("shoe_clickstream",
      valueSchema = StructType(Seq(
        StructField("url", StringType), StructField("dwell", IntegerType))),
      keySchema = Some(StructType(Seq(StructField("user_id", StringType)))))

    // pre-ALTER: key is raw bytes, exactly Kafka's wire shape
    assert(spark.table("shoe_clickstream").schema("key").dataType === BinaryType)

    // S7/S8 (lab-joins main.tf:465,498): retype the key column — applied
    // at SCAN, on the real metadata column
    r.run("ALTER TABLE shoe_clickstream MODIFY (`key` STRING)")
    val view = spark.table("shoe_clickstream")
    assert(view.schema("key").dataType === StringType)

    // S9/S10 (lab-joins main.tf:531,564): zero-delay watermark on the
    // record-timestamp system column
    r.run("ALTER TABLE shoe_clickstream MODIFY WATERMARK FOR `$rowtime` AS `$rowtime`")
    val meta = r.catalog.get("shoe_clickstream").get
    assert(meta.watermarkCol === Some("$rowtime"))
    assert(meta.watermarkDelay === "0 seconds")
    assert(spark.table("shoe_clickstream").queryExecution.analyzed.toString()
      .contains("EventTimeWatermark"), "watermark must be applied to the scan")

    // the decoded key FIELD and retyped raw key agree (bounded read)
    val batch = Topics.decodeJson(
      Topics.readBatchRecords(spark, "shoe_clickstream", conf),
      StructType(Seq(StructField("url", StringType), StructField("dwell", IntegerType))),
      Some(StructType(Seq(StructField("user_id", StringType)))))
    val keys = batch.select(col("user_id"), col("key").cast("string"))
      .as[(String, String)].collect().toMap
    assert(keys("u1").contains("\"u1\"") && keys("u2").contains("\"u2\""))
  }

  test("transport parity: kafka and file transports expose IDENTICAL record schemas (one-switch promise)") {
    // the liveness check behind ARCHITECTURE.md §Environment-limited:
    // flipping TopicConf.transport must change ONLY the wire, never the
    // downstream record shape — so the batch AND stream read schemas of
    // the two transports are asserted field-for-field equal (names,
    // types, order). No broker needed: the kafka branch instantiates
    // its plan against the service-loaded stub.
    import graft.sources.StubKafkaBroker
    StubKafkaBroker.reset()
    val fileConf = TopicConf(
      tempDir("graft-transport-parity"))
    val kafkaConf = TopicConf(root = "", transport = TopicConf.Kafka,
      bootstrapServers = "stub-broker:9092")
    val rows = Seq(("a1", "x", 1)).toDF("id", "payload", "n")
    Topics.appendJson(rows, "parity_topic", fileConf, keyCols = Seq("id"), epoch = 1)
    Topics.appendJson(rows, "parity_topic", kafkaConf, keyCols = Seq("id"), epoch = 1)

    val fileBatch = Topics.readBatchRecords(spark, "parity_topic", fileConf)
    val kafkaBatch = Topics.readBatchRecords(spark, "parity_topic", kafkaConf)
    assert(kafkaBatch.schema === fileBatch.schema,
      s"batch record schemas diverge:\n kafka: ${kafkaBatch.schema.treeString}\n file: ${fileBatch.schema.treeString}")

    val fileStream = Topics.readStreamRecords(spark, "parity_topic", fileConf)
    val kafkaStream = Topics.readStreamRecords(spark, "parity_topic", kafkaConf)
    assert(fileStream.isStreaming && kafkaStream.isStreaming)
    assert(kafkaStream.schema === fileStream.schema,
      s"stream record schemas diverge:\n kafka: ${kafkaStream.schema.treeString}\n file: ${fileStream.schema.treeString}")

    // and the decoded table shape (what queries actually see) agrees too
    val vs = StructType(Seq(StructField("payload", StringType),
      StructField("n", IntegerType)))
    val ks = Some(StructType(Seq(StructField("id", StringType))))
    assert(Topics.decodeJson(kafkaBatch, vs, ks).schema ===
      Topics.decodeJson(fileBatch, vs, ks).schema)
  }

  test("kafka transport flag: produce/consume round-trip through the stub broker, options wired") {
    import graft.sources.StubKafkaBroker
    StubKafkaBroker.reset()
    val conf = TopicConf(root = "", transport = TopicConf.Kafka,
      bootstrapServers = "stub-broker:9092")

    // PRODUCE: Topics.appendJson takes the real `kafka` write branch —
    // format("kafka") resolves to the service-loaded stub; the broker
    // (like a real one) accepts only (key, value) and assigns offsets
    Topics.appendJson(
      Seq(("o1", "p1", 3), ("o2", "p2", 5)).toDF("order_id", "product_id", "qty"),
      "stub_orders", conf, keyCols = Seq("order_id"), epoch = 1)
    assert(StubKafkaBroker.lastWriteOptions.get("kafka.bootstrap.servers")
      === Some("stub-broker:9092"), "bootstrap servers not wired to the writer")
    assert(StubKafkaBroker.lastWriteOptions.get("topic") === Some("stub_orders"))
    assert(StubKafkaBroker.records("stub_orders").size === 2)

    // CONSUME (batch): the real `kafka` read branch with
    // subscribe/startingOffsets/endingOffsets options
    val recs = Topics.readBatchRecords(spark, "stub_orders", conf)
    assert(StubKafkaBroker.lastReadOptions.get("subscribe") === Some("stub_orders"))
    assert(StubKafkaBroker.lastReadOptions.get("startingOffsets") === Some("earliest"))
    assert(StubKafkaBroker.lastReadOptions.get("endingOffsets") === Some("latest"))
    assert(StubKafkaBroker.lastReadOptions.get("kafka.bootstrap.servers")
      === Some("stub-broker:9092"))
    assert(recs.columns.toSeq ===
      Seq("key", "value", "topic", "partition", "offset", "timestamp"),
      "transport must surface the exact Kafka record shape")

    // the transport-agnostic decode path works unchanged on broker records
    val decoded = Topics.decodeJson(recs,
      valueSchema = StructType(Seq(StructField("product_id", StringType),
        StructField("qty", IntegerType))),
      keySchema = Some(StructType(Seq(StructField("order_id", StringType)))))
    val rows = decoded.select("order_id", "product_id", "qty")
      .as[(String, String, Int)].collect().toSet
    assert(rows === Set(("o1", "p1", 3), ("o2", "p2", 5)))
    // broker-assigned offsets are monotone — the upsert ordering contract
    val offs = decoded.select("__offset").as[Long].collect().sorted.toSeq
    assert(offs === Seq(0L, 1L))

    // CONSUME (stream): load() resolves the source schema through the
    // stream branch — subscribe + startingOffsets wired, Kafka shape out
    val stream = Topics.readStreamRecords(spark, "stub_orders", conf)
    assert(stream.isStreaming)
    assert(StubKafkaBroker.lastStreamOptions.get("subscribe") === Some("stub_orders"))
    assert(StubKafkaBroker.lastStreamOptions.get("startingOffsets") === Some("earliest"))
    assert(stream.columns.toSeq ===
      Seq("key", "value", "topic", "partition", "offset", "timestamp"))
  }
}
