package graft

import graft.exec.StreamingStatementRunner
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

final case class SCust(id: String, first_name: String, last_name: String, email: String)
final case class SOrd(order_id: Int, product_id: String, customer_id: String)
final case class SEvt(user_id: String, ts: java.sql.Timestamp)

/** The reference's S1/S2 (and the S6 join shape) executed as LONG-RUNNING
  * streaming statements through the dialect runner, fed by MemoryStreams
  * standing in for the Kafka-topic sources. */
class StreamingStatementRunnerSpec extends SparkSpec {
  import spark.implicits._

  test("streaming INSERT INTO an upsert table maintains latest-by-key across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val customers = MemoryStream[SCust]
    customers.toDF().createOrReplaceTempView("shoe_customers")

    val r = new StreamingStatementRunner(spark)
    r.run("""CREATE TABLE shoe_customers_keyed (
             customer_id STRING, first_name STRING, last_name STRING, email STRING,
             PRIMARY KEY (customer_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS""")
    val q = r.run(
      "INSERT INTO shoe_customers_keyed SELECT id, first_name, last_name, email FROM shoe_customers")
    assert(q.isDefined, "INSERT must become a streaming query")

    customers.addData(SCust("c1", "Ann", "Ames", "a@x"), SCust("c2", "Bob", "Baker", "b@x"))
    r.processAllAvailable()
    assert(spark.table("shoe_customers_keyed").count() === 2)

    // upsert arrives in a later micro-batch — the never-terminating
    // statement keeps folding it in
    customers.addData(SCust("c1", "Anna", "Ames", "a2@x"))
    r.processAllAvailable()
    val state = spark.table("shoe_customers_keyed")
      .select("customer_id", "first_name").as[(String, String)].collect().toMap
    assert(state === Map("c1" -> "Anna", "c2" -> "Bob"))

    // two versions of one key in the SAME micro-batch: later record wins
    customers.addData(SCust("c2", "Rob", "B", "r1@x"), SCust("c2", "Robert", "B", "r2@x"))
    r.processAllAvailable()
    val c2 = spark.table("shoe_customers_keyed")
      .where($"customer_id" === "c2").select("first_name").as[String].collect()
    assert(c2.toSeq === Seq("Robert"))
    r.stopAll()
  }

  test("streaming INSERT into an append table accumulates micro-batches; retract tags __op") {
    implicit val sqlCtx = spark.sqlContext
    val orders = MemoryStream[SOrd]
    orders.toDF().createOrReplaceTempView("shoe_orders_stream")

    val r = new StreamingStatementRunner(spark)
    r.run("""CREATE TABLE orders_log (order_id INT, product_id STRING, customer_id STRING)
             WITH ('changelog.mode' = 'retract')""")
    r.run("INSERT INTO orders_log SELECT order_id, product_id, customer_id FROM shoe_orders_stream")

    orders.addData(SOrd(1, "p1", "c1"))
    r.processAllAvailable()
    orders.addData(SOrd(2, "p2", "c2"), SOrd(3, "p1", "c2"))
    r.processAllAvailable()
    val log = spark.table("orders_log")
    assert(log.count() === 3)
    assert(log.columns.contains("__op"))
    assert(log.select("__op").distinct().as[String].collect().toSeq === Seq("+I"))
    r.stopAll()
  }

  test("streaming update-mode aggregation into an upsert table revises per-key aggregates") {
    implicit val sqlCtx = spark.sqlContext
    val orders = MemoryStream[SOrd]
    orders.toDF().createOrReplaceTempView("orders_s_agg")

    val r = new StreamingStatementRunner(spark)
    r.run("""CREATE TABLE orders_per_cust (customer_id STRING, n BIGINT,
             PRIMARY KEY (customer_id) NOT ENFORCED)""")
    // Flink's update-mode aggregation: the keyed table continuously
    // revises per-key aggregates as new orders stream in
    r.run("INSERT INTO orders_per_cust SELECT customer_id, count(*) FROM orders_s_agg GROUP BY customer_id")

    orders.addData(SOrd(1, "p1", "c1"), SOrd(2, "p2", "c1"), SOrd(3, "p3", "c2"))
    r.processAllAvailable()
    assert(spark.table("orders_per_cust").as[(String, Long)].collect().toMap
      === Map("c1" -> 2L, "c2" -> 1L))

    // a later micro-batch revises only c1; c2's state must survive
    orders.addData(SOrd(4, "p4", "c1"))
    r.processAllAvailable()
    assert(spark.table("orders_per_cust").as[(String, Long)].collect().toMap
      === Map("c1" -> 3L, "c2" -> 1L))
    r.stopAll()
  }

  test("'-D' rows through an upsert INSERT tombstone the key; a later upsert resurrects it") {
    // the q210 driver gate's contract at unit grain: an INSERT whose
    // select emits __op writes null-value tombstones to the PK topic
    // (declared __op column, positional map), and the materialized
    // view folds latest-by-offset FIRST, tombstone-filter AFTER — so
    // delete→upsert order decides, not filter order
    implicit val sqlCtx = spark.sqlContext
    val orders = MemoryStream[SOrd]
    orders.toDF().createOrReplaceTempView("orders_tomb_s")

    val r = new StreamingStatementRunner(spark)
    r.run("""CREATE TABLE cust_live (customer_id STRING, last_product STRING,
             __op STRING, PRIMARY KEY (customer_id) NOT ENFORCED)""")
    // product "DEL" encodes the delete marker in the feed
    r.run("""INSERT INTO cust_live
             SELECT customer_id, product_id,
               CASE WHEN product_id = 'DEL' THEN '-D' ELSE '+U' END
             FROM orders_tomb_s""")

    orders.addData(SOrd(1, "p1", "c1"), SOrd(2, "p2", "c2"))
    r.processAllAvailable()
    assert(spark.table("cust_live").as[(String, String)].collect().toMap
      === Map("c1" -> "p1", "c2" -> "p2"))
    assert(!spark.table("cust_live").columns.contains("__op"),
      "the op tag is topic metadata, never a visible column")

    // tombstone c1: the key must disappear, c2 untouched
    orders.addData(SOrd(3, "DEL", "c1"))
    r.processAllAvailable()
    assert(spark.table("cust_live").as[(String, String)].collect().toMap
      === Map("c2" -> "p2"))

    // a LATER upsert resurrects c1 with the new value (latest-by-offset
    // first: the old p1 must not reappear)
    orders.addData(SOrd(4, "p9", "c1"))
    r.processAllAvailable()
    assert(spark.table("cust_live").as[(String, String)].collect().toMap
      === Map("c1" -> "p9", "c2" -> "p2"))
    r.stopAll()
  }

  test("streaming TUMBLE TVF aggregation maintains per-window counts") {
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val clicks = MemoryStream[SEvt]
    clicks.toDF().createOrReplaceTempView("clicks_tvf_s")

    val r = new StreamingStatementRunner(spark)
    r.run("""CREATE TABLE clicks_per_window (window_start TIMESTAMP, window_end TIMESTAMP,
             n BIGINT, PRIMARY KEY (window_start) NOT ENFORCED)""")
    r.run("""INSERT INTO clicks_per_window
             SELECT window_start, window_end, count(*)
             FROM TABLE(TUMBLE(TABLE clicks_tvf_s, DESCRIPTOR(ts), INTERVAL '10' MINUTES))
             GROUP BY window_start, window_end""")

    clicks.addData(SEvt("u1", ts(1)), SEvt("u2", ts(4)), SEvt("u1", ts(12)))
    r.processAllAvailable()
    val w1 = spark.table("clicks_per_window")
      .select(unix_micros(col("window_start")), col("n")).as[(Long, Long)].collect().toMap
    def us(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00").getTime * 1000
    assert(w1 === Map(us(0) -> 2L, us(10) -> 1L))

    // a late-batch arrival in the first window revises that window only
    clicks.addData(SEvt("u3", ts(7)))
    r.processAllAvailable()
    val w2 = spark.table("clicks_per_window")
      .select(unix_micros(col("window_start")), col("n")).as[(Long, Long)].collect().toMap
    assert(w2 === Map(us(0) -> 3L, us(10) -> 1L))
    r.stopAll()
  }

  test("USE scoping: same-named streaming targets in two scopes stay isolated") {
    implicit val sqlCtx = spark.sqlContext
    val s1 = MemoryStream[SCust]
    val s2 = MemoryStream[SCust]
    s1.toDF().createOrReplaceTempView("src_env1")
    s2.toDF().createOrReplaceTempView("src_env2")

    val r = new StreamingStatementRunner(spark)
    r.run("USE CATALOG scoped_env1")
    r.run("""CREATE TABLE keyed_scoped (customer_id STRING, first_name STRING,
             last_name STRING, email STRING,
             PRIMARY KEY (customer_id) NOT ENFORCED)""")
    r.run("INSERT INTO keyed_scoped SELECT id, first_name, last_name, email FROM src_env1")
    r.run("USE CATALOG scoped_env2")
    r.run("""CREATE TABLE keyed_scoped (customer_id STRING, first_name STRING,
             last_name STRING, email STRING,
             PRIMARY KEY (customer_id) NOT ENFORCED)""")
    r.run("INSERT INTO keyed_scoped SELECT id, first_name, last_name, email FROM src_env2")

    s1.addData(SCust("c1", "Env1", "A", "1@x"))
    s2.addData(SCust("c1", "Env2", "B", "2@x"), SCust("c9", "Nine", "N", "9@x"))
    r.processAllAvailable()

    // current scope is env2: the bare name resolves to env2's table, and
    // env1's micro-batches (which also arrived) must not have clobbered it
    val env2 = spark.table("keyed_scoped").select("customer_id", "first_name")
      .as[(String, String)].collect().toMap
    assert(env2 === Map("c1" -> "Env2", "c9" -> "Nine"))

    // switching back rebinds the bare name to env1's state
    r.run("USE CATALOG scoped_env1")
    val env1 = spark.table("keyed_scoped").select("customer_id", "first_name")
      .as[(String, String)].collect().toMap
    assert(env1 === Map("c1" -> "Env1"))

    // a micro-batch for env2's table landing while env1 is current must
    // refresh only env2's scoped shadow, not the bare binding
    s2.addData(SCust("c2", "Late", "L", "l@x"))
    r.processAllAvailable()
    assert(spark.table("keyed_scoped").select("customer_id", "first_name")
      .as[(String, String)].collect().toMap === Map("c1" -> "Env1"))
    r.run("USE CATALOG scoped_env2")
    assert(spark.table("keyed_scoped").count() === 3)
    r.stopAll()
  }

  test("bounded-delay watermark (VERDICT r12 item 4): parsed to a real delay, enforced on the stream") {
    import graft.ddl.StatementPreprocessor.parseWatermarkDelay
    import graft.sources.{TopicConf, Topics}
    import org.apache.spark.sql.types._
    // parse surface: bare column = zero; Flink's bounded form = delay;
    // anything else rejected at parse time, not at plan time
    assert(parseWatermarkDelay("ts", "ts") === "0 seconds")
    assert(parseWatermarkDelay("$rowtime", "`$rowtime` - INTERVAL '5' SECOND") === "5 seconds")
    assert(parseWatermarkDelay("ts", "ts - INTERVAL '2' MINUTES") === "2 minutes")
    assert(parseWatermarkDelay("ts", "ts - INTERVAL '1' HOUR") === "1 hours")
    intercept[IllegalArgumentException](parseWatermarkDelay("ts", "now()"))
    intercept[IllegalArgumentException](parseWatermarkDelay("ts", "other_col - INTERVAL '5' SECOND"))

    val conf = TopicConf(
      tempDir("graft-wm-delay"))
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(secs: Int) = new java.sql.Timestamp(t0.getTime + secs * 1000L)
    Topics.appendJson(Seq(("a", ts(0)), ("b", ts(10)), ("c", ts(30)))
      .toDF("k", "ts"), "wm_feed", conf, Nil, 1, eventTimeCol = Some("ts"))
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("wm_feed", StructType(Seq(
      StructField("k", StringType), StructField("ts", TimestampType))))
    r.run("ALTER TABLE wm_feed MODIFY WATERMARK FOR `$rowtime` AS `$rowtime` - INTERVAL '5' SECOND")
    assert(r.catalog.getOrCreate("wm_feed").watermarkDelay === "5 seconds")
    intercept[IllegalArgumentException](
      r.run("ALTER TABLE wm_feed MODIFY WATERMARK FOR `$rowtime` AS now()"))

    // behavioral: after batch 1 (max event 30s) the watermark is 25s —
    // late rows are dropped only when their WINDOW is already closed
    // (end ≤ watermark). A 2s straggler's [0,10) window is closed →
    // dropped; a 22s straggler's [20,30) window is open ONLY because
    // of the 5s delay (zero delay ⇒ watermark 30 ⇒ closed) → kept.
    val agg = spark.table("wm_feed")
      .groupBy(window(col("$rowtime"), "10 seconds")).count()
      .select(col("window.start").as("w"), col("count"))
    val q = agg.writeStream.format("memory").queryName("wm_delay_sink")
      .outputMode("append").start()
    q.processAllAvailable()
    Topics.appendJson(
      Seq(("late-keep", ts(22)), ("late-drop", ts(2)), ("adv", ts(100)))
        .toDF("k", "ts"), "wm_feed", conf, Nil, 2, eventTimeCol = Some("ts"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("wm_delay_sink")
      .as[(java.sql.Timestamp, Long)].collect().toMap
    assert(got === Map(ts(0) -> 1L, ts(10) -> 1L, ts(20) -> 1L, ts(30) -> 1L))
  }

  test("progressSummary: one identifiable row per long-running INSERT after a drain") {
    implicit val sqlCtx = spark.sqlContext
    val customers = MemoryStream[SCust]
    customers.toDF().createOrReplaceTempView("prog_cust_src")
    val r = new StreamingStatementRunner(spark)
    r.runScript("""
      CREATE TABLE prog_cust_keyed (customer_id STRING, first_name STRING,
        last_name STRING, email STRING,
        PRIMARY KEY (customer_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO prog_cust_keyed
      SELECT id, first_name, last_name, email FROM prog_cust_src""")
    customers.addData(SCust("c1", "Ann", "A", "a@x"), SCust("c2", "Bob", "B", "b@x"))
    r.processAllAvailable()
    val rows = r.progressSummary
    assert(rows.size === 1, s"expected one progress row, got $rows")
    val p = rows.head
    assert(p.name.startsWith("ins0-") && p.name.contains("prog_cust_keyed"),
      s"progress row must identify its statement: $p")
    assert(p.batchId >= 0 && p.rowsPerSecond >= 0.0)
    // the trigger's phase split: ingest listing, the statement's own
    // work, and the offset/commit log writes, inside the whole trigger
    assert(Seq("addBatch", "walCommit", "commitOffsets", "latestOffset").forall(p.phases.contains),
      s"phases must carry the trigger split: ${p.phases}")
    assert(p.phases("triggerExecution") >= p.phases("addBatch"))
    // the LAST batch's input rows — a later drain refreshes the snapshot
    customers.addData(SCust("c3", "Cid", "C", "c@x"))
    r.processAllAvailable()
    assert(r.progressSummary.head.batchId > p.batchId,
      "progress must track the latest completed batch")
    r.stopAll()
  }

  test("table-to-table continuous INSERT: a runner table promotes to its changelog stream") {
    import graft.sources.{TopicConf, Topics}
    import org.apache.spark.sql.types._
    val conf = TopicConf(
      tempDir("graft-promote"))
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("promo_src", StructType(Seq(
      StructField("k", StringType), StructField("v", IntegerType))))
    r.runScript("""
      CREATE TABLE promo_a (k STRING, v INT,
        PRIMARY KEY (k) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO promo_a SELECT k, v FROM promo_src;
      CREATE TABLE promo_b (k STRING, doubled INT);
      INSERT INTO promo_b SELECT k, v * 2 FROM promo_a""")
    Topics.appendJson(Seq(("a", 1), ("b", 2)).toDF("k", "v"),
      "promo_src", conf, Nil, 1)
    r.processAllAvailable()
    // an upsert REVISION flows as its own changelog record downstream
    Topics.appendJson(Seq(("a", 3)).toDF("k", "v"), "promo_src", conf, Nil, 2)
    r.processAllAvailable()
    val b = spark.table("promo_b").select("k", "doubled")
      .as[(String, Int)].collect().toList.sorted
    assert(b === List("a" -> 2, "a" -> 6, "b" -> 4),
      s"promoted changelog must deliver every revision exactly once: $b")
    // the promoted table's own view still serves STATE, not the stream
    assert(!spark.table("promo_a").isStreaming)
    assert(spark.table("promo_a").select("k", "v").as[(String, Int)]
      .collect().toMap === Map("a" -> 3, "b" -> 2))
    r.stopAll()
  }

  test("table-to-table INSERT with a join: first ref promotes, the rest snapshot at current state") {
    import graft.sources.{TopicConf, Topics}
    import org.apache.spark.sql.types._
    val conf = TopicConf(
      tempDir("graft-promote-join"))
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("pj_orders_src", StructType(Seq(
      StructField("order_id", IntegerType), StructField("cust", StringType))))
    r.registerTopicSource("pj_cust_src", StructType(Seq(
      StructField("id", StringType), StructField("name", StringType))))
    r.runScript("""
      CREATE TABLE pj_orders (order_id INT, cust STRING,
        PRIMARY KEY (order_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO pj_orders SELECT order_id, cust FROM pj_orders_src;
      CREATE TABLE pj_cust (id STRING, name STRING,
        PRIMARY KEY (id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO pj_cust SELECT id, name FROM pj_cust_src;
      CREATE TABLE pj_enriched (order_id INT, name STRING);
      INSERT INTO pj_enriched
      SELECT o.order_id, c.name FROM pj_orders o
      INNER JOIN pj_cust c ON o.cust = c.id""")
    Topics.appendJson(Seq(("c1", "Ann")).toDF("id", "name"),
      "pj_cust_src", conf, Nil, 1)
    r.processAllAvailable()
    Topics.appendJson(Seq((1, "c1")).toDF("order_id", "cust"),
      "pj_orders_src", conf, Nil, 1)
    r.processAllAvailable()
    val got = spark.table("pj_enriched").select("order_id", "name")
      .as[(Int, String)].collect().toSet
    assert(got === Set(1 -> "Ann"),
      s"promoted-driver join must enrich against the dim's current state: $got")
    r.stopAll()
  }

  test("promotion: chains drain out of declaration order; upsert-driver aggregates fold retractions") {
    import graft.sources.{TopicConf, Topics}
    import org.apache.spark.sql.types._
    val conf = TopicConf(
      tempDir("graft-promote-guard"))
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("pg_src", StructType(Seq(
      StructField("k", StringType), StructField("v", IntegerType))))
    // chain declared OUT of topological order: the downstream INSERT
    // (from pg_a) runs BEFORE the upstream one (into pg_a) — a single
    // drain pass would leave pg_b one level behind
    r.runScript("""
      CREATE TABLE pg_a (k STRING, v INT,
        PRIMARY KEY (k) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      CREATE TABLE pg_b (k STRING, doubled INT);
      INSERT INTO pg_b SELECT k, v * 2 FROM pg_a;
      INSERT INTO pg_a SELECT k, v FROM pg_src""")
    Topics.appendJson(Seq(("a", 1), ("b", 2)).toDF("k", "v"), "pg_src", conf, Nil, 1)
    r.processAllAvailable()
    assert(spark.table("pg_b").count() === 2,
      "a single processAllAvailable must propagate the whole DAG " +
        "regardless of statement declaration order")
    // round 14 (VERDICT r13 item 1): an aggregate over the promoted
    // upsert driver is now RETRACTION-AWARE — it folds revisions into
    // latest-state aggregates instead of counting them. Group by a
    // VALUE-derived key so a key revision genuinely moves a row
    // between groups.
    r.run("""CREATE TABLE pg_cnt (par STRING, n BIGINT,
             PRIMARY KEY (par) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS""")
    r.run("""INSERT INTO pg_cnt
             SELECT CASE WHEN v % 2 = 0 THEN 'even' ELSE 'odd' END, count(*) AS n
             FROM pg_a GROUP BY 1""")
    r.processAllAvailable()
    assert(spark.table("pg_cnt").as[(String, Long)].collect().toMap
      === Map("odd" -> 1L, "even" -> 1L))
    // revise key "a" from v=1 (odd) to v=4 (even): the revision must
    // RETRACT from odd (group emptied → deleted) and add to even — a
    // revision-counting aggregate would report odd=1, even=2
    Topics.appendJson(Seq(("a", 4)).toDF("k", "v"), "pg_src", conf, Nil, 2)
    r.processAllAvailable()
    assert(spark.table("pg_cnt").as[(String, Long)].collect().toMap
      === Map("even" -> 2L),
      "upsert revision must retract its prior group (odd emptied ⇒ deleted)")
    r.stopAll()
  }

  test("tableRefs: CTE aliases are not table references; dotted names resolve to the last part") {
    val r = new graft.exec.StreamingStatementRunner(spark)
    // a CTE alias counted as a ref would misroute a pure single-stream
    // select with a WITH clause onto the snapshot-join path
    assert(r.tableRefs(
      "WITH c AS (SELECT * FROM clicks_stream) SELECT user, count(*) FROM c GROUP BY user")
      === Seq("clicks_stream"))
    assert(r.tableRefs(
      "SELECT * FROM a JOIN db.b ON a.k = b.k").sorted === Seq("a", "b"))
  }

  test("dim-only subquery aggregates ride the snapshot join; driver-involving ones still reject (ADVICE r14)") {
    implicit val sqlCtx = spark.sqlContext
    val orders = MemoryStream[SOrd]
    orders.toDF().createOrReplaceTempView("adv_orders_s")
    Seq(("p1", 5L), ("p2", 9L)).toDF("pid", "threshold")
      .createOrReplaceTempView("adv_dim")
    val r = new StreamingStatementRunner(spark)
    r.run("CREATE TABLE adv_out (order_id INT, product_id STRING)")
    // the select's ONLY aggregate lives in a dim-side scalar subquery —
    // previously misrouted to the merge path and rejected; the snapshot
    // join re-resolves it per batch at current dim state
    r.run("""INSERT INTO adv_out
             SELECT o.order_id, o.product_id
             FROM adv_orders_s o JOIN adv_dim d ON o.product_id = d.pid
             WHERE d.threshold > (SELECT min(threshold) FROM adv_dim)""")
    orders.addData(SOrd(1, "p1", "c1"), SOrd(2, "p2", "c2"), SOrd(3, "p2", "c3"))
    r.processAllAvailable()
    assert(spark.table("adv_out").select("order_id").as[Int].collect().sorted
      === Array(2, 3), "only the above-min-threshold dim rows pass")
    // a subquery aggregate REFERENCING THE STREAM still rejects loudly
    r.run("CREATE TABLE adv_out2 (order_id INT, product_id STRING)")
    val err = intercept[IllegalArgumentException](
      r.run("""INSERT INTO adv_out2
               SELECT o.order_id, o.product_id
               FROM adv_orders_s o JOIN adv_dim d ON o.product_id = d.pid
               WHERE o.order_id > (SELECT avg(order_id) FROM adv_orders_s)"""))
    assert(err.getMessage.contains("hidden in a subquery"))
    r.stopAll()
  }

  test("a CTE-hidden aggregate over a changelog driver rejects loudly (round 15: CTE plans are traversed)") {
    implicit val sqlCtx = spark.sqlContext
    val orders = MemoryStream[SOrd]
    orders.toDF().createOrReplaceTempView("cte_orders_s")
    val r = new StreamingStatementRunner(spark)
    r.runScript("""
      CREATE TABLE cte_keyed (order_id INT, product_id STRING,
        PRIMARY KEY (order_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO cte_keyed SELECT order_id, product_id FROM cte_orders_s;
      CREATE TABLE cte_out (product_id STRING, n BIGINT,
        PRIMARY KEY (product_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS""")
    // before round 15 the CTE's Aggregate was invisible to shape
    // detection (cteRelations are not plan children) and this select
    // would silently count raw REVISIONS on the direct path
    val err = intercept[IllegalArgumentException](
      r.run("""INSERT INTO cte_out
               WITH agg AS (SELECT product_id, count(*) AS n
                            FROM cte_keyed GROUP BY product_id)
               SELECT product_id, n FROM agg"""))
    assert(err.getMessage.contains("CTE"))
    // TRANSITIVE chain (ADVICE r15): the aggregate lives in CTE b,
    // which references the driver only THROUGH CTE a — a direct-name
    // check scoped b out and silently aggregated raw revisions
    r.run("""CREATE TABLE cte_out2 (product_id STRING, n BIGINT,
             PRIMARY KEY (product_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS""")
    val err2 = intercept[IllegalArgumentException](
      r.run("""INSERT INTO cte_out2
               WITH a AS (SELECT * FROM cte_keyed),
                    b AS (SELECT product_id, count(*) AS n FROM a GROUP BY product_id)
               SELECT product_id, n FROM b"""))
    assert(err2.getMessage.contains("CTE"),
      "an aggregate reaching the driver through a CTE chain must reject, not fold raw revisions")
    r.stopAll()
  }

  test("first/last over a single EXTERNAL stream rejects loudly: no arrival order to fold (ADVICE r15)") {
    implicit val sqlCtx = spark.sqlContext
    val orders = MemoryStream[SOrd]
    orders.toDF().createOrReplaceTempView("fl_orders_s")
    val r = new StreamingStatementRunner(spark)
    r.run("""CREATE TABLE fl_out (customer_id STRING, first_pid STRING,
             PRIMARY KEY (customer_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS""")
    // previously this fell through to startDirect and ran native
    // streaming First — shuffle-order nondeterministic; now it routes
    // to the merge path, whose ordAttr lookup rejects with the clear
    // no-arrival-order message
    val err = intercept[IllegalArgumentException](
      r.run("""INSERT INTO fl_out
               SELECT customer_id, first(product_id) FROM fl_orders_s
               GROUP BY customer_id"""))
    assert(err.getMessage.contains("ARRIVAL order"))
    r.stopAll()
  }

  test("a session-registered global UDAF over a changelog driver is detected and rejected, never folded as revisions") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.{Encoders, functions => F}
    val agg = new org.apache.spark.sql.expressions.Aggregator[Long, Long, Long] {
      def zero: Long = 0L
      def reduce(b: Long, a: Long): Long = b + a
      def merge(x: Long, y: Long): Long = x + y
      def finish(r: Long): Long = r
      def bufferEncoder: org.apache.spark.sql.Encoder[Long] = Encoders.scalaLong
      def outputEncoder: org.apache.spark.sql.Encoder[Long] = Encoders.scalaLong
    }
    spark.udf.register("adv_sumagg", F.udaf(agg))
    val orders = MemoryStream[SOrd]
    orders.toDF().createOrReplaceTempView("udaf_orders_s")
    val r = new StreamingStatementRunner(spark)
    r.runScript("""
      CREATE TABLE udaf_keyed (order_id INT, product_id STRING,
        PRIMARY KEY (order_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO udaf_keyed SELECT order_id, product_id FROM udaf_orders_s;
      CREATE TABLE udaf_out (n BIGINT,
        PRIMARY KEY (n) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS""")
    // the UDAF's ExpressionInfo has no group — the registry-builder
    // probe must classify it as an aggregate so it reaches the
    // retraction path's loud rejection instead of silently summing
    // every revision on the direct path (ADVICE r14)
    val err = intercept[IllegalArgumentException](
      r.run("INSERT INTO udaf_out SELECT adv_sumagg(order_id) FROM udaf_keyed"))
    assert(err.getMessage.contains("not sum-decomposable"))
    r.stopAll()
  }

  test("a rejected INSERT releases the upsert-writer claim; a started one still blocks a second writer") {
    implicit val sqlCtx = spark.sqlContext
    val orders = MemoryStream[SOrd]
    orders.toDF().createOrReplaceTempView("claim_orders_s")
    val r = new StreamingStatementRunner(spark)
    r.runScript("""
      CREATE TABLE claim_keyed (order_id INT, product_id STRING,
        PRIMARY KEY (order_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO claim_keyed SELECT order_id, product_id FROM claim_orders_s;
      CREATE TABLE claim_out (product_id STRING, n BIGINT,
        PRIMARY KEY (product_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS""")
    // a FREQUENCY-column percentile rejects (scalar, disc and
    // array-of-percentages forms all fold via the multiset since
    // rounds 16-18; per-row weights are the residual rejection) — the
    // writer claim taken at statement entry must be RELEASED
    intercept[IllegalArgumentException](
      r.run("""INSERT INTO claim_out
               SELECT product_id,
                      percentile(order_id, 0.5, 2)
               FROM claim_keyed GROUP BY product_id"""))
    // ... so the corrected statement can claim the same target
    val q = r.run("""INSERT INTO claim_out
                     SELECT product_id, count(*) AS n
                     FROM claim_keyed GROUP BY product_id""")
    assert(q.isDefined, "corrected statement must start after a rejected one")
    // a SECOND live writer is still refused
    val err = intercept[IllegalArgumentException](
      r.run("""INSERT INTO claim_out
               SELECT product_id, count(*) AS n
               FROM claim_keyed GROUP BY product_id"""))
    assert(err.getMessage.contains("second INSERT"))
    r.stopAll()
  }
}
