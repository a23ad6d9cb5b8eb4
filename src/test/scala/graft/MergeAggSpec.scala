package graft

import graft.exec.StreamingStatementRunner
import graft.sources.{TopicConf, Topics}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Merge-on-write continuous aggregates over SNAPSHOT-JOINED changelog
  * drivers (round 14 — the aggregate + join shape Flink runs over its
  * changelog inputs, previously a loud rejection): per micro-batch the
  * driver's signed revisions snapshot-join the dims into per-group
  * deltas, which merge onto the target topic's prior state (offset-
  * filtered to epochs before this batch, so a replayed batch is
  * idempotent). Covers the external-stream path (the ADVICE r13
  * "batch-local partial aggregates" scenario), the promoted-upsert
  * path with revisions and tombstones, emit-expression exactness
  * (CAST over a merged DECIMAL raw), avg decomposition, and the
  * PK-must-equal-group-key guard. */
class MergeAggSpec extends SparkSpec {
  import spark.implicits._

  private def newConf(tag: String): TopicConf =
    TopicConf(tempDir(s"graft-$tag"))

  test("external stream + dim + GROUP BY accumulates across micro-batches (never batch-local)") {
    implicit val sqlCtx = spark.sqlContext
    val orders = MemoryStream[SOrd]
    orders.toDF().createOrReplaceTempView("ma_orders_s")
    Seq(("p1", "shoes"), ("p2", "hats")).toDF("pid", "cat")
      .createOrReplaceTempView("ma_dim")
    val r = new StreamingStatementRunner(spark, topicConf = Some(newConf("ma-ext")))
    r.run("""CREATE TABLE ma_cat_counts (cat STRING, n BIGINT,
             PRIMARY KEY (cat) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS""")
    r.run("""INSERT INTO ma_cat_counts
             SELECT d.cat, count(*) AS n
             FROM ma_orders_s o JOIN ma_dim d ON o.product_id = d.pid
             GROUP BY d.cat""")
    orders.addData(SOrd(1, "p1", "c1"), SOrd(2, "p2", "c2"))
    r.processAllAvailable()
    assert(spark.table("ma_cat_counts").as[(String, Long)].collect().toMap
      === Map("shoes" -> 1L, "hats" -> 1L))
    // the ADVICE r13 failure mode: a second batch must ADD to shoes'
    // count, not replace it with the batch-local count
    orders.addData(SOrd(3, "p1", "c3"), SOrd(4, "p1", "c4"))
    r.processAllAvailable()
    assert(spark.table("ma_cat_counts").as[(String, Long)].collect().toMap
      === Map("shoes" -> 3L, "hats" -> 1L),
      "cross-batch counts must accumulate through the merge")
    // the user's view of the driver must NOT have been rebound to the
    // signed frame between batches
    assert(!spark.table("ma_orders_s").columns.contains("__sign"))
    r.stopAll()
  }

  test("promoted upsert driver + dim + agg: revisions move groups, tombstones retract, emptied groups delete") {
    val conf = newConf("ma-upsert")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("ma_src", StructType(Seq(
      StructField("k", StringType), StructField("pid", StringType),
      StructField("amt", DoubleType))))
    Seq(("p1", "shoes"), ("p2", "hats")).toDF("pid2", "cat")
      .createOrReplaceTempView("ma_dim2")
    r.runScript("""
      CREATE TABLE ma_acct (k STRING, pid STRING, amt DOUBLE, __op STRING,
        PRIMARY KEY (k) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO ma_acct
      SELECT k, pid, amt, CASE WHEN pid = 'DEL' THEN '-D' ELSE '+U' END FROM ma_src;
      CREATE TABLE ma_stats (cat STRING, n BIGINT, total DOUBLE,
        PRIMARY KEY (cat) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO ma_stats
      SELECT d.cat, count(*) AS n,
             CAST(sum(CAST(a.amt AS DECIMAL(18,4))) AS DOUBLE) AS total
      FROM ma_acct a JOIN ma_dim2 d ON a.pid = d.pid2
      GROUP BY d.cat""")
    def stats() = spark.table("ma_stats").as[(String, Long, Double)].collect()
      .map { case (k, n, t) => k -> ((n, t)) }.toMap

    Topics.appendJson(Seq(("k1", "p1", 10.0), ("k2", "p1", 20.0), ("k3", "p2", 5.0))
      .toDF("k", "pid", "amt"), "ma_src", conf, Nil, 1)
    r.processAllAvailable()
    assert(stats() === Map("shoes" -> ((2L, 30.0)), "hats" -> ((1L, 5.0))))

    // k2 revises p1→p2: retract from shoes, add to hats — and the
    // DECIMAL raw must merge exactly through the CAST-to-double emit
    Topics.appendJson(Seq(("k2", "p2", 7.5)).toDF("k", "pid", "amt"),
      "ma_src", conf, Nil, 2)
    r.processAllAvailable()
    assert(stats() === Map("shoes" -> ((1L, 10.0)), "hats" -> ((2L, 12.5))))

    // tombstone k1: shoes EMPTIES and must be deleted from the target
    Topics.appendJson(Seq(("k1", "DEL", 0.0)).toDF("k", "pid", "amt"),
      "ma_src", conf, Nil, 3)
    r.processAllAvailable()
    assert(stats() === Map("hats" -> ((2L, 12.5))),
      "a fully-retracted group must tombstone downstream")

    // shoes resurrects
    Topics.appendJson(Seq(("k4", "p1", 3.25)).toDF("k", "pid", "amt"),
      "ma_src", conf, Nil, 4)
    r.processAllAvailable()
    assert(stats() === Map("shoes" -> ((1L, 3.25)), "hats" -> ((2L, 12.5))))
    r.stopAll()
  }

  test("avg decomposes into mergeable num/den raws across batches") {
    implicit val sqlCtx = spark.sqlContext
    val orders = MemoryStream[SOrd]
    orders.toDF().createOrReplaceTempView("ma_avg_s")
    Seq(("p1", "shoes")).toDF("pid", "cat").createOrReplaceTempView("ma_dim3")
    val r = new StreamingStatementRunner(spark, topicConf = Some(newConf("ma-avg")))
    r.run("""CREATE TABLE ma_avg_out (cat STRING, avg_id DOUBLE,
             PRIMARY KEY (cat) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS""")
    r.run("""INSERT INTO ma_avg_out
             SELECT d.cat, avg(o.order_id) AS avg_id
             FROM ma_avg_s o JOIN ma_dim3 d ON o.product_id = d.pid
             GROUP BY d.cat""")
    orders.addData(SOrd(2, "p1", "c1"), SOrd(4, "p1", "c2"))
    r.processAllAvailable()
    assert(spark.table("ma_avg_out").as[(String, Double)].collect().toMap
      === Map("shoes" -> 3.0))
    // a later batch shifts the average over ALL rows, not the batch's
    orders.addData(SOrd(12, "p1", "c3"))
    r.processAllAvailable()
    assert(spark.table("ma_avg_out").as[(String, Double)].collect().toMap
      === Map("shoes" -> 6.0))
    r.stopAll()
  }

  test("HAVING over a merge aggregate (hidden aggregate form): visibility flips both ways, state survives") {
    implicit val sqlCtx = spark.sqlContext
    val orders = MemoryStream[SOrd]
    orders.toDF().createOrReplaceTempView("ma_hav_s")
    Seq(("p1", "shoes"), ("p2", "hats")).toDF("pid", "cat")
      .createOrReplaceTempView("ma_hav_dim")
    val r = new StreamingStatementRunner(spark, topicConf = Some(newConf("ma-hav")))
    r.run("""CREATE TABLE ma_hav_out (cat STRING, n BIGINT,
             PRIMARY KEY (cat) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS""")
    // sum(order_id) is NOT selected — the analyzer extends the
    // Aggregate with it and projects back (the Project-wrapped shape)
    r.run("""INSERT INTO ma_hav_out
             SELECT d.cat, count(*) AS n
             FROM ma_hav_s o JOIN ma_hav_dim d ON o.product_id = d.pid
             GROUP BY d.cat HAVING sum(o.order_id) >= 10""")
    def state() = spark.table("ma_hav_out").as[(String, Long)].collect().toMap

    orders.addData(SOrd(4, "p1", "c1"), SOrd(12, "p2", "c2"))
    r.processAllAvailable()
    assert(state() === Map("hats" -> 1L), "shoes (sum=4) must not pass HAVING")

    // shoes crosses the threshold — and its EARLIER row must still be
    // counted (the failing group's state survived invisibly)
    orders.addData(SOrd(7, "p1", "c3"))
    r.processAllAvailable()
    assert(state() === Map("shoes" -> 2L, "hats" -> 1L),
      "a group entering the predicate must surface with its FULL state")
    r.stopAll()
  }

  test("NULL group keys merge as one group (null-safe join, JSON null-key encode)") {
    implicit val sqlCtx = spark.sqlContext
    val orders = MemoryStream[SOrd]
    orders.toDF().createOrReplaceTempView("ma_null_s")
    // dim maps p1→shoes and pN→NULL category
    Seq(("p1", Some("shoes")), ("pN", None)).toDF("pid", "cat")
      .createOrReplaceTempView("ma_dim_null")
    val r = new StreamingStatementRunner(spark, topicConf = Some(newConf("ma-null")))
    r.run("""CREATE TABLE ma_null_out (cat STRING, n BIGINT,
             PRIMARY KEY (cat) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS""")
    r.run("""INSERT INTO ma_null_out
             SELECT d.cat, count(*) AS n
             FROM ma_null_s o JOIN ma_dim_null d ON o.product_id = d.pid
             GROUP BY d.cat""")
    orders.addData(SOrd(1, "pN", "c1"), SOrd(2, "p1", "c2"))
    r.processAllAvailable()
    orders.addData(SOrd(3, "pN", "c3"))
    r.processAllAvailable()
    val got = spark.table("ma_null_out")
      .as[(Option[String], Long)].collect().toMap
    assert(got === Map(Option("shoes") -> 1L, None -> 2L),
      s"the NULL group must accumulate across batches as ONE group: $got")
    r.stopAll()
  }

  test("multi-level continuous aggregate: a merge-agg target (raws + HAVING visibility in its values) drives a downstream aggregate") {
    val conf = newConf("ma-multilevel")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("ml_src", StructType(Seq(
      StructField("k", LongType), StructField("v", DoubleType),
      StructField("op", StringType))))
    // A merge-aggregates (max forces the value-multiset route, HAVING
    // flips group visibility) into ml_t1; B retract-folds over ml_t1's
    // CHANGELOG — its records carry hidden raws/__net/__keep, which the
    // downstream normalize must treat as: extra fields invisible,
    // __keep=false = tombstone (the lab-aggregations chain one level
    // deeper than q230)
    r.runScript("""
      CREATE TABLE ml_latest (k BIGINT, v DOUBLE, __op STRING,
        PRIMARY KEY (k) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO ml_latest
      SELECT k, v, CASE WHEN op = 'DEL' THEN '-D' ELSE '+U' END FROM ml_src;
      CREATE TABLE ml_t1 (bucket BIGINT, n BIGINT, mx DOUBLE,
        PRIMARY KEY (bucket) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO ml_t1
      SELECT k % 2 AS bucket, count(*) AS n, max(v) AS mx
      FROM ml_latest GROUP BY k % 2
      HAVING count(*) % 2 = 1;
      CREATE TABLE ml_t2 (par BIGINT, nb BIGINT, smx DOUBLE,
        PRIMARY KEY (par) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO ml_t2
      SELECT n % 2 AS par, count(*) AS nb, sum(mx) AS smx
      FROM ml_t1 GROUP BY n % 2""")
    def t2() = spark.table("ml_t2")
      .as[(Long, Long, Double)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    def feed(epoch: Int, rows: (Long, Double, String)*): Unit = {
      Topics.appendJson(rows.toSeq.toDF("k", "v", "op"), "ml_src", conf, Nil, epoch)
      r.processAllAvailable()
    }
    // e1: b0={k2}, n=1 odd → visible (mx=20); b1={k1,k3}, n=2 → hidden
    feed(1, (1L, 10.0, "+"), (2L, 20.0, "+"), (3L, 30.0, "+"))
    assert(t2() === Map(1L -> ((1L, 20.0))))
    // e2: k4 joins b0 → n=2 → b0 LEAVES the predicate (__keep=false):
    // downstream must see a tombstone and DELETE its group entirely
    feed(2, (4L, 40.0, "+"))
    assert(t2() === Map.empty[Long, (Long, Double)],
      "a HAVING-hidden level-1 group must retract from the level-2 aggregate")
    // e3: k1 revises within b1 (mx 30→50, still hidden); k2 DELETES →
    // b0 back to n=1 (k4), visible with mx=40
    feed(3, (1L, 50.0, "+"), (2L, 0.0, "DEL"))
    assert(t2() === Map(1L -> ((1L, 40.0))))
    // e4: k3 deletes → b1 n=1, visible (mx=50): two visible buckets
    feed(4, (3L, 0.0, "DEL"))
    assert(t2() === Map(1L -> ((2L, 90.0))))
    // final cross-check against the batch two-level computation
    val expected = spark.sql("""
      WITH l1 AS (
        SELECT k % 2 AS bucket, count(*) AS n, max(v) AS mx
        FROM ml_latest GROUP BY k % 2 HAVING count(*) % 2 = 1)
      SELECT n % 2 AS par, count(*) AS nb, sum(mx) AS smx
      FROM l1 GROUP BY n % 2""")
      .as[(Long, Long, Double)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(t2() === expected)
    r.stopAll()
  }

  test("a dim-only IN-subquery aggregate rides the merge-path delta (ADVICE r14, merge side)") {
    implicit val sqlCtx = spark.sqlContext
    val orders = MemoryStream[SOrd]
    orders.toDF().createOrReplaceTempView("ma_sub_s")
    Seq(("p1", "shoes", 1L), ("p2", "hats", 2L), ("p3", "hats", 9L))
      .toDF("pid", "cat", "tier").createOrReplaceTempView("ma_sub_dim")
    val r = new StreamingStatementRunner(spark, topicConf = Some(newConf("ma-sub")))
    r.run("""CREATE TABLE ma_sub_out (cat STRING, n BIGINT,
             PRIMARY KEY (cat) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS""")
    // the WHERE subquery's min() never touches the stream: it must NOT
    // count as a second fold context — it sits under the Aggregate in
    // the per-batch delta plan and evaluates at current dim state
    r.run("""INSERT INTO ma_sub_out
             SELECT d.cat, count(*) AS n
             FROM ma_sub_s o JOIN ma_sub_dim d ON o.product_id = d.pid
             WHERE d.tier > (SELECT min(tier) FROM ma_sub_dim)
             GROUP BY d.cat""")
    orders.addData(SOrd(1, "p1", "c1"), SOrd(2, "p2", "c2"), SOrd(3, "p3", "c3"))
    r.processAllAvailable()
    assert(spark.table("ma_sub_out").as[(String, Long)].collect().toMap
      === Map("hats" -> 2L), "tier-1 rows are filtered by the dim subquery")
    // cross-batch accumulation still merges onto prior state
    orders.addData(SOrd(4, "p2", "c4"))
    r.processAllAvailable()
    assert(spark.table("ma_sub_out").as[(String, Long)].collect().toMap
      === Map("hats" -> 3L))
    r.stopAll()
  }

  test("three-level continuous aggregate chain: merge-agg -> retract-agg -> retract-agg stays batch-consistent") {
    val conf = newConf("ma-threelevel")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("l3_src", StructType(Seq(
      StructField("k", LongType), StructField("v", DoubleType))))
    r.runScript("""
      CREATE TABLE l3_latest (k BIGINT, v DOUBLE,
        PRIMARY KEY (k) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO l3_latest SELECT k, v FROM l3_src;
      CREATE TABLE l3_a (bucket BIGINT, n BIGINT, mx DOUBLE,
        PRIMARY KEY (bucket) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO l3_a
      SELECT k % 4 AS bucket, count(*) AS n, max(v) AS mx
      FROM l3_latest GROUP BY k % 4;
      CREATE TABLE l3_b (par BIGINT, nb BIGINT,
        PRIMARY KEY (par) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO l3_b
      SELECT n % 2 AS par, count(*) AS nb FROM l3_a GROUP BY n % 2;
      CREATE TABLE l3_c (tag STRING, total BIGINT, n_pars BIGINT,
        PRIMARY KEY (tag) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO l3_c
      SELECT 'all' AS tag, CAST(sum(nb) AS BIGINT) AS total, count(*) AS n_pars
      FROM l3_b GROUP BY 'all'""")
    def check(): Unit = {
      val got = spark.table("l3_c").select($"total", $"n_pars")
        .as[(Long, Long)].collect().toSet
      val exp = spark.sql("""
        WITH a AS (SELECT k % 4 AS bucket, count(*) AS n, max(v) AS mx
                   FROM l3_latest GROUP BY k % 4),
             b AS (SELECT n % 2 AS par, count(*) AS nb FROM a GROUP BY n % 2)
        SELECT CAST(sum(nb) AS BIGINT) AS total, count(*) AS n_pars FROM b GROUP BY 'all'""")
        .as[(Long, Long)].collect().toSet
      assert(got === exp, s"level-3 state $got != batch three-level $exp")
    }
    def feed(epoch: Int, rows: (Long, Double)*): Unit = {
      Topics.appendJson(rows.toSeq.toDF("k", "v"), "l3_src", conf, Nil, epoch)
      r.processAllAvailable()
    }
    feed(1, (1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0), (5L, 50.0))
    check()
    // revisions ripple three levels: k5 moves bucket, counts flip parity
    feed(2, (5L, 15.0), (6L, 60.0), (7L, 70.0))
    check()
    feed(3, (1L, 99.0), (8L, 5.0))
    check()
    r.stopAll()
  }

  test("guards: PK must equal the group-key columns; min rejects; hidden aggregates reject") {
    implicit val sqlCtx = spark.sqlContext
    val orders = MemoryStream[SOrd]
    orders.toDF().createOrReplaceTempView("ma_guard_s")
    Seq(("p1", "shoes")).toDF("pid", "cat").createOrReplaceTempView("ma_dim4")
    val r = new StreamingStatementRunner(spark, topicConf = Some(newConf("ma-guard")))
    r.run("""CREATE TABLE ma_bad (cat STRING, n BIGINT,
             PRIMARY KEY (n) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS""")
    // the PK-vs-group-key mismatch rejects at STATEMENT time (round 14:
    // the merge shape is validated once before the query starts)
    val err = intercept[IllegalArgumentException](
      r.run("""INSERT INTO ma_bad
             SELECT d.cat, count(*) AS n
             FROM ma_guard_s o JOIN ma_dim4 d ON o.product_id = d.pid
             GROUP BY d.cat"""))
    assert(err.getMessage.contains("PRIMARY KEY"))
    r.run("""CREATE TABLE ma_bad2 (cat STRING, m BIGINT,
             PRIMARY KEY (cat) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS""")
    // first/last fold by ARRIVAL order, which an external stream does
    // not carry (no topic offset) — rejected at statement time with
    // the max_by/min_by guidance (round 15)
    val err2 = intercept[IllegalArgumentException](
      r.run("""INSERT INTO ma_bad2
             SELECT d.cat, first(o.order_id)
             FROM ma_guard_s o JOIN ma_dim4 d ON o.product_id = d.pid
             GROUP BY d.cat"""))
    assert(err2.getMessage.contains("ARRIVAL order"))
    // scalar AND array-of-percentages percentile fold via the multiset
    // (rounds 16/18 — ValueSetAggSpec, q244/q248); the FREQUENCY-column
    // form stays a loud rejection (per-row weights cannot ride the
    // sign netting)
    r.run("""CREATE TABLE ma_bad4 (cat STRING, m DOUBLE,
             PRIMARY KEY (cat) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS""")
    val err4 = intercept[IllegalArgumentException](
      r.run("""INSERT INTO ma_bad4
             SELECT d.cat, percentile(o.order_id, 0.5, 2)
             FROM ma_guard_s o JOIN ma_dim4 d ON o.product_id = d.pid
             GROUP BY d.cat"""))
    assert(err4.getMessage.contains("frequency"))
    // hidden (subquery) aggregate over the join path rejects at
    // STATEMENT time
    r.run("""CREATE TABLE ma_bad3 (cat STRING, m BIGINT,
             PRIMARY KEY (cat) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS""")
    val err3 = intercept[IllegalArgumentException](
      r.run("""INSERT INTO ma_bad3
               SELECT o.product_id, count(*) FROM ma_guard_s o
               JOIN ma_dim4 d ON o.product_id = d.pid
               WHERE o.order_id > (SELECT min(order_id) FROM ma_guard_s)
               GROUP BY o.product_id"""))
    assert(err3.getMessage.contains("hidden in a subquery"))
    r.stopAll()
  }
}
