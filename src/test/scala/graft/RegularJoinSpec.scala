package graft

import graft.exec.StreamingStatementRunner
import graft.sources.{TopicConf, Topics}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

final case class RjCust(cid: String, name: String)
final case class RjCustOp(cid: String, name: String, __op: String)
final case class RjProd(pid: String, brand: String, price: Double)
final case class RjOrd(order_id: Long, cid: String, pid: String, amount: Double)

/** Flink REGULAR-JOIN semantics for joined INSERTs into RETRACT-mode
  * targets (round 16, VERDICT r15 item 1 — the reference's S6:
  * `shoe_orders_enriched` is `changelog.mode = 'retract'`,
  * `terraform/lab-aggregations/main.tf:530`, BECAUSE the regular join
  * `:563` retracts and re-emits previously-joined rows when a
  * dimension revises): unlike the snapshot/temporal path, past
  * enrichments do NOT freeze — the final net state always equals the
  * batch join over FINAL dimension state and ALL facts. */
class RegularJoinSpec extends SparkSpec {
  import spark.implicits._

  private def newConf(tag: String): TopicConf =
    TopicConf(tempDir(s"graft-$tag"))

  private val custSchema = StructType(Seq(
    StructField("cid", StringType), StructField("name", StringType)))
  private val custOpSchema = StructType(custSchema.fields :+
    StructField("__op", StringType))
  private val prodSchema = StructType(Seq(
    StructField("pid", StringType), StructField("brand", StringType),
    StructField("price", DoubleType)))
  private val ordSchema = StructType(Seq(
    StructField("order_id", LongType), StructField("cid", StringType),
    StructField("pid", StringType), StructField("amount", DoubleType)))

  /** Net state of a retract table: fold the +/- changelog. */
  private def net(table: String, cols: String*): Map[Long, Seq[Any]] = {
    val keyed = spark.table(table)
      .groupBy(cols.map(col): _*)
      .agg(sum(when(col("__op").startsWith("-"), -1L).otherwise(1L)).as("__n"))
    val bad = keyed.where(col("__n") < 0 || col("__n") > 1).count()
    assert(bad === 0, s"$table: net counts outside {0,1}")
    keyed.where(col("__n") === 1L).drop("__n").collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
  }

  test("dim revision retracts and re-emits previously joined rows; dim delete retracts them (S6 regular join)") {
    val conf = newConf("rj1")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("rj_cust_feed", custOpSchema)
    r.registerTopicSource("rj_ord_feed", ordSchema)
    r.runScript("""
      CREATE TABLE rj_cust (cid STRING, name STRING, __op STRING,
        PRIMARY KEY (cid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rj_cust SELECT cid, name, __op FROM rj_cust_feed;
      CREATE TABLE rj_enriched (order_id BIGINT, cust_name STRING,
        amount DOUBLE, __op STRING) WITH ('changelog.mode' = 'retract');
      INSERT INTO rj_enriched (order_id, cust_name, amount)
      SELECT o.order_id, c.name, o.amount
      FROM rj_ord_feed o JOIN rj_cust c ON o.cid = c.cid""")
    def state() = net("rj_enriched", "order_id", "cust_name", "amount")

    Topics.appendJson(Seq(RjCustOp("c1", "Ann", "+I"), RjCustOp("c2", "Bob", "+I")).toDF(),
      "rj_cust_feed", conf, Nil, 1)
    r.processAllAvailable()
    Topics.appendJson(Seq(RjOrd(1, "c1", "p1", 10.0)).toDF().drop("pid"),
      "rj_ord_feed", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq("Ann", 10.0)))

    // c1 revises to Anna AFTER order 1 joined: the snapshot join would
    // freeze "Ann" (the pre-round-16 delta LabPipelineStreamingSpec
    // documents); the regular join retracts and re-emits
    Topics.appendJson(Seq(RjCustOp("c1", "Anna", "+U")).toDF(), "rj_cust_feed", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq("Anna", 10.0)),
      "a dim revision must re-enrich previously joined facts")
    // the retraction is EXPLICIT in the changelog (a -D for the old row)
    val ops = spark.table("rj_enriched").where(col("order_id") === 1)
      .select("cust_name", "__op").as[(String, String)].collect().toSet
    assert(ops === Set(("Ann", "+I"), ("Ann", "-D"), ("Anna", "+I")))

    // later facts join the revised state; facts for an unrevised key
    // are untouched
    Topics.appendJson(Seq(RjOrd(2, "c1", "p1", 20.0), RjOrd(3, "c2", "p1", 30.0))
      .toDF().drop("pid"), "rj_ord_feed", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq("Anna", 10.0), 2L -> Seq("Anna", 20.0),
      3L -> Seq("Bob", 30.0)))

    // DELETE c2 (upsert tombstone): the INNER join retracts order 3
    Topics.appendJson(Seq(RjCustOp("c2", "Bob", "-D")).toDF(), "rj_cust_feed", conf, Nil, 3)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq("Anna", 10.0), 2L -> Seq("Anna", 20.0)),
      "deleting a dim key must retract every fact it enriched")
    r.stopAll()
  }

  test("three-way regular join with filter: both dims revise; final state equals the batch join over final dims") {
    val conf = newConf("rj3")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("rj3_cust_feed", custSchema)
    r.registerTopicSource("rj3_prod_feed", prodSchema)
    r.registerTopicSource("rj3_ord_feed", ordSchema)
    r.runScript("""
      CREATE TABLE rj3_cust (cid STRING, name STRING,
        PRIMARY KEY (cid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rj3_cust SELECT cid, name FROM rj3_cust_feed;
      CREATE TABLE rj3_prod (pid STRING, brand STRING, price DOUBLE,
        PRIMARY KEY (pid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rj3_prod SELECT pid, brand, price FROM rj3_prod_feed;
      CREATE TABLE rj3_enr (order_id BIGINT, cust_name STRING, brand STRING,
        total DOUBLE, __op STRING) WITH ('changelog.mode' = 'retract');
      INSERT INTO rj3_enr (order_id, cust_name, brand, total)
      SELECT o.order_id, c.name, p.brand, o.amount * p.price
      FROM rj3_ord_feed o
      JOIN rj3_cust c ON o.cid = c.cid
      JOIN rj3_prod p ON o.pid = p.pid
      WHERE o.amount > 1.0""")
    def state() = net("rj3_enr", "order_id", "cust_name", "brand", "total")

    Topics.appendJson(Seq(RjCust("c1", "Ann")).toDF(), "rj3_cust_feed", conf, Nil, 1)
    Topics.appendJson(Seq(RjProd("p1", "nike", 100.0), RjProd("p2", "puma", 50.0)).toDF(),
      "rj3_prod_feed", conf, Nil, 1)
    r.processAllAvailable()
    // order 4 fails the filter: never emitted, never re-emitted
    Topics.appendJson(Seq(RjOrd(1, "c1", "p1", 2.0), RjOrd(2, "c1", "p2", 3.0),
      RjOrd(4, "c1", "p1", 0.5)).toDF(), "rj3_ord_feed", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq("Ann", "nike", 200.0), 2L -> Seq("Ann", "puma", 150.0)))

    // BOTH dims revise in one epoch: all joined rows re-enrich, the
    // derived expression (amount * price) recomputes at the new state
    Topics.appendJson(Seq(RjCust("c1", "Anna")).toDF(), "rj3_cust_feed", conf, Nil, 2)
    Topics.appendJson(Seq(RjProd("p1", "nike", 110.0)).toDF(), "rj3_prod_feed", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq("Anna", "nike", 220.0), 2L -> Seq("Anna", "puma", 150.0)))

    // differential vs the batch join over FINAL inputs — the dynamic-
    // table consistency contract, now holding for ALL orders
    val finalCust = Seq(("c1", "Anna")).toDF("cid", "name")
    val finalProd = Seq(("p1", "nike", 110.0), ("p2", "puma", 50.0)).toDF("pid", "brand", "price")
    val orders = Seq((1L, "c1", "p1", 2.0), (2L, "c1", "p2", 3.0), (4L, "c1", "p1", 0.5))
      .toDF("order_id", "cid", "pid", "amount")
    val oracle = orders.where(col("amount") > 1.0)
      .join(finalCust, "cid").join(finalProd, "pid")
      .select(col("order_id"), col("name"), col("brand"),
        (col("amount") * col("price")).as("total"))
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(state() === oracle)
    r.stopAll()
  }

  test("LEFT OUTER regular join: pad rows retract when a match appears, reappear when the last match is deleted") {
    val conf = newConf("rjo")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("rjo_cust_feed", custOpSchema)
    r.registerTopicSource("rjo_ord_feed", ordSchema)
    r.runScript("""
      CREATE TABLE rjo_cust (cid STRING, name STRING, __op STRING,
        PRIMARY KEY (cid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjo_cust SELECT cid, name, __op FROM rjo_cust_feed;
      CREATE TABLE rjo_enr (order_id BIGINT, cust_name STRING,
        amount DOUBLE, __op STRING) WITH ('changelog.mode' = 'retract');
      INSERT INTO rjo_enr (order_id, cust_name, amount)
      SELECT o.order_id, c.name, o.amount
      FROM rjo_ord_feed o LEFT JOIN rjo_cust c ON o.cid = c.cid""")
    def state() = net("rjo_enr", "order_id", "cust_name", "amount")

    // facts BEFORE any dim: both orders null-pad
    Topics.appendJson(Seq(RjOrd(1, "c1", "p1", 10.0), RjOrd(2, "c9", "p1", 20.0))
      .toDF(), "rjo_ord_feed", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq(null, 10.0), 2L -> Seq(null, 20.0)),
      "unmatched facts must emit null-padded rows")

    // c1 arrives: order 1's pad retracts and the match emits; order 2 stays padded
    Topics.appendJson(Seq(RjCustOp("c1", "Ann", "+I")).toDF(), "rjo_cust_feed", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq("Ann", 10.0), 2L -> Seq(null, 20.0)),
      "a match appearing must retract the pad row")
    val ops1 = spark.table("rjo_enr").where(col("order_id") === 1)
      .select("cust_name", "__op").as[(Option[String], String)].collect().toSet
    assert(ops1 === Set((None, "+I"), (None, "-D"), (Some("Ann"), "+I")),
      s"the pad retraction must be explicit in the changelog: $ops1")

    // revision: matched row re-enriches, pads untouched
    Topics.appendJson(Seq(RjCustOp("c1", "Anna", "+U")).toDF(), "rjo_cust_feed", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq("Anna", 10.0), 2L -> Seq(null, 20.0)))

    // DELETE c1: the match retracts and order 1's PAD REAPPEARS
    Topics.appendJson(Seq(RjCustOp("c1", "Anna", "-D")).toDF(), "rjo_cust_feed", conf, Nil, 3)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq(null, 10.0), 2L -> Seq(null, 20.0)),
      "deleting the last match must re-emit the null-padded row")
    r.stopAll()
  }

  test("FULL OUTER regular join: both preserved sides pad, and each pad retracts/reappears with the other side's state") {
    val conf = newConf("rjf")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("rjf_cust_feed", custOpSchema)
    r.registerTopicSource("rjf_ord_feed", ordSchema)
    r.runScript("""
      CREATE TABLE rjf_cust (cid STRING, name STRING, __op STRING,
        PRIMARY KEY (cid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjf_cust SELECT cid, name, __op FROM rjf_cust_feed;
      CREATE TABLE rjf_enr (order_id BIGINT, cust_name STRING, __op STRING)
        WITH ('changelog.mode' = 'retract');
      INSERT INTO rjf_enr (order_id, cust_name)
      SELECT o.order_id, c.name
      FROM rjf_ord_feed o FULL JOIN rjf_cust c ON o.cid = c.cid""")
    def state(): Set[(Option[Long], Option[String])] = {
      val keyed = spark.table("rjf_enr")
        .groupBy("order_id", "cust_name")
        .agg(sum(when(col("__op").startsWith("-"), -1L).otherwise(1L)).as("__n"))
      assert(keyed.where(col("__n") < 0 || col("__n") > 1).count() === 0)
      keyed.where(col("__n") === 1L)
        .select("order_id", "cust_name")
        .as[(Option[Long], Option[String])].collect().toSet
    }

    // a dim row with NO fact: the RIGHT side pads (null, Ann)
    Topics.appendJson(Seq(RjCustOp("c1", "Ann", "+I")).toDF(), "rjf_cust_feed", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Set((None, Some("Ann"))),
      "an unmatched dim row must emit a right-side pad")

    // its fact arrives: the right pad retracts, the match emits; a
    // matchless fact pads on the LEFT side
    Topics.appendJson(Seq(RjOrd(1, "c1", "p1", 10.0), RjOrd(2, "c9", "p1", 20.0))
      .toDF(), "rjf_ord_feed", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Set((Some(1L), Some("Ann")), (Some(2L), None)),
      "the fact arriving must retract the right pad; the matchless fact pads left")

    // DELETE c1: the match retracts, order 1 pads LEFT again
    Topics.appendJson(Seq(RjCustOp("c1", "Ann", "-D")).toDF(), "rjf_cust_feed", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Set((Some(1L), None), (Some(2L), None)),
      "deleting the dim must flip its match back to a left pad")
    r.stopAll()
  }

  test("RIGHT OUTER regular join mirrors: the preserved (right) side pads against fact state") {
    val conf = newConf("rjr")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("rjr_cust_feed", custSchema)
    r.registerTopicSource("rjr_ord_feed", ordSchema)
    r.runScript("""
      CREATE TABLE rjr_cust (cid STRING, name STRING,
        PRIMARY KEY (cid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjr_cust SELECT cid, name FROM rjr_cust_feed;
      CREATE TABLE rjr_enr (order_id BIGINT, cust_name STRING, __op STRING)
        WITH ('changelog.mode' = 'retract');
      INSERT INTO rjr_enr (order_id, cust_name)
      SELECT o.order_id, c.name
      FROM rjr_ord_feed o RIGHT JOIN rjr_cust c ON o.cid = c.cid""")
    def state(): Set[(Option[Long], String)] = spark.table("rjr_enr")
      .groupBy("order_id", "cust_name")
      .agg(sum(when(col("__op").startsWith("-"), -1L).otherwise(1L)).as("__n"))
      .where(col("__n") === 1L).select("order_id", "cust_name")
      .as[(Option[Long], String)].collect().toSet

    Topics.appendJson(Seq(RjCust("c1", "Ann"), RjCust("c2", "Bob")).toDF(),
      "rjr_cust_feed", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Set((None, "Ann"), (None, "Bob")),
      "dims with no facts pad (facts side dropped, dims preserved)")
    Topics.appendJson(Seq(RjOrd(1, "c1", "p1", 10.0)).toDF(), "rjr_ord_feed", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Set((Some(1L), "Ann"), (None, "Bob")),
      "the arriving fact must retract Ann's pad and leave Bob's")
    r.stopAll()
  }

  test("chained LEFT JOINs regular-join (round 17): pad-of-pad rows, per-level pad flips, independent dim revisions") {
    // the production enrichment shape — fact LEFT JOIN dim1 LEFT JOIN
    // dim2, missing dims never drop facts — now runs the TRUE regular
    // join: the per-side bracket engine composes the pad-delta
    // decomposition over the left-deep chain (VERDICT r16 item 1)
    val conf = newConf("rjl")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("rjl_cust_feed", custOpSchema)
    r.registerTopicSource("rjl_prod_feed", prodSchema)
    r.registerTopicSource("rjl_ord_feed", ordSchema)
    r.runScript("""
      CREATE TABLE rjl_cust (cid STRING, name STRING, __op STRING,
        PRIMARY KEY (cid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjl_cust SELECT cid, name, __op FROM rjl_cust_feed;
      CREATE TABLE rjl_prod (pid STRING, brand STRING, price DOUBLE,
        PRIMARY KEY (pid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjl_prod SELECT pid, brand, price FROM rjl_prod_feed;
      CREATE TABLE rjl_enr (order_id BIGINT, cust_name STRING, brand STRING,
        __op STRING) WITH ('changelog.mode' = 'retract');
      INSERT INTO rjl_enr (order_id, cust_name, brand)
      SELECT o.order_id, c.name, p.brand
      FROM rjl_ord_feed o
      LEFT JOIN rjl_cust c ON o.cid = c.cid
      LEFT JOIN rjl_prod p ON o.pid = p.pid""")
    def state(): Map[Long, Seq[Any]] = net("rjl_enr", "order_id", "cust_name", "brand")

    // facts BEFORE any dim: the PAD-OF-PAD row (both dims nulled)
    Topics.appendJson(Seq(RjOrd(1, "c1", "p1", 10.0), RjOrd(2, "c9", "p2", 20.0))
      .toDF(), "rjl_ord_feed", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq(null, null), 2L -> Seq(null, null)),
      "facts with neither dim must emit the fully null-padded row")

    // dim1 arrives for c1: order 1 upgrades to (Ann, null) — the
    // level-1 pad retracts while the level-2 pad STAYS
    Topics.appendJson(Seq(RjCustOp("c1", "Ann", "+I")).toDF(), "rjl_cust_feed", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq("Ann", null), 2L -> Seq(null, null)),
      "a level-1 match must retract only the level-1 pad")

    // dim2 arrives for p1 and p2: both facts gain brands independently
    Topics.appendJson(Seq(RjProd("p1", "nike", 100.0), RjProd("p2", "puma", 50.0))
      .toDF(), "rjl_prod_feed", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq("Ann", "nike"), 2L -> Seq(null, "puma")),
      "a level-2 match must slot in regardless of level-1 state")

    // dim1 REVISES: previously-enriched order 1 re-emits at the new
    // name, keeping its brand; the changelog shows the retraction
    Topics.appendJson(Seq(RjCustOp("c1", "Anna", "+U")).toDF(), "rjl_cust_feed", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq("Anna", "nike"), 2L -> Seq(null, "puma")),
      "a dim1 revision must re-enrich its past facts through the chain")

    // dim2 revises too — both levels revise independently
    Topics.appendJson(Seq(RjProd("p2", "adidas", 55.0)).toDF(), "rjl_prod_feed", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq("Anna", "nike"), 2L -> Seq(null, "adidas")))

    // DELETE dim1's c1: order 1 falls BACK to the level-1 pad while
    // KEEPING its level-2 enrichment — the pad-of-pad algebra's
    // hardest row (pad1 ⋈ dim2)
    Topics.appendJson(Seq(RjCustOp("c1", "Anna", "-D")).toDF(), "rjl_cust_feed", conf, Nil, 3)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq(null, "nike"), 2L -> Seq(null, "adidas")),
      "deleting the level-1 match must restore the pad WITHOUT dropping the level-2 match")

    // late fact joins current state of both dims
    Topics.appendJson(Seq(RjOrd(3, "c9", "p2", 30.0)).toDF(), "rjl_ord_feed", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq(null, "nike"), 2L -> Seq(null, "adidas"),
      3L -> Seq(null, "adidas")))
    r.stopAll()
  }

  test("mixed INNER + LEFT chain regular-joins; RIGHT OUTER mid-chain and doubly-null-dominated sides regular-join (round 18)") {
    val conf = newConf("rjm")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("rjm_cust_feed", custSchema)
    r.registerTopicSource("rjm_prod_feed", prodSchema)
    r.registerTopicSource("rjm_ord_feed", ordSchema)
    r.runScript("""
      CREATE TABLE rjm_cust (cid STRING, name STRING,
        PRIMARY KEY (cid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjm_cust SELECT cid, name FROM rjm_cust_feed;
      CREATE TABLE rjm_prod (pid STRING, brand STRING, price DOUBLE,
        PRIMARY KEY (pid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjm_prod SELECT pid, brand, price FROM rjm_prod_feed;
      CREATE TABLE rjm_enr (order_id BIGINT, cust_name STRING, brand STRING,
        __op STRING) WITH ('changelog.mode' = 'retract');
      INSERT INTO rjm_enr (order_id, cust_name, brand)
      SELECT o.order_id, c.name, p.brand
      FROM rjm_ord_feed o
      JOIN rjm_cust c ON o.cid = c.cid
      LEFT JOIN rjm_prod p ON o.pid = p.pid""")
    def state(): Map[Long, Seq[Any]] = net("rjm_enr", "order_id", "cust_name", "brand")

    Topics.appendJson(Seq(RjCust("c1", "Ann")).toDF(), "rjm_cust_feed", conf, Nil, 1)
    r.processAllAvailable()
    // INNER gate holds: only c1 facts emit; p1 still missing → LEFT pad
    Topics.appendJson(Seq(RjOrd(1, "c1", "p1", 10.0), RjOrd(2, "c9", "p1", 20.0))
      .toDF(), "rjm_ord_feed", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq("Ann", null)),
      "the INNER level must gate facts; the LEFT level must pad")
    // the LEFT dim arrives: the pad upgrades
    Topics.appendJson(Seq(RjProd("p1", "nike", 100.0)).toDF(), "rjm_prod_feed", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq("Ann", "nike")))
    // the INNER dim revises: re-emission through the LEFT level
    Topics.appendJson(Seq(RjCust("c1", "Anna")).toDF(), "rjm_cust_feed", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq("Anna", "nike")))
    r.stopAll()

    // ── a RIGHT OUTER inside a chain null-dominates the whole left
    //    subtree, but each left-subtree ref is null-produced by ONLY
    //    that node here (the chain below is INNER) — the r18 affect-
    //    set rule sanctions it: fact and the INNER dim each bracket
    //    at the RIGHT node, the RIGHT dim is linear ──
    val conf2 = newConf("rjm2")
    val r2 = new StreamingStatementRunner(spark, topicConf = Some(conf2))
    r2.registerTopicSource("rjm2_cust_feed", custSchema)
    r2.registerTopicSource("rjm2_prod_feed", prodSchema)
    r2.registerTopicSource("rjm2_ord_feed", ordSchema)
    r2.runScript("""
      CREATE TABLE rjm2_cust (cid STRING, name STRING,
        PRIMARY KEY (cid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjm2_cust SELECT cid, name FROM rjm2_cust_feed;
      CREATE TABLE rjm2_prod (pid STRING, brand STRING, price DOUBLE,
        PRIMARY KEY (pid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjm2_prod SELECT pid, brand, price FROM rjm2_prod_feed;
      CREATE TABLE rjm2_enr (order_id BIGINT, cust_name STRING, brand STRING,
        __op STRING) WITH ('changelog.mode' = 'retract');
      INSERT INTO rjm2_enr (order_id, cust_name, brand)
      SELECT o.order_id, c.name, p.brand
      FROM rjm2_ord_feed o
      JOIN rjm2_cust c ON o.cid = c.cid
      RIGHT JOIN rjm2_prod p ON o.pid = p.pid""")
    def state2(): Set[(Option[Long], Option[String], Option[String])] = {
      val keyed = spark.table("rjm2_enr")
        .groupBy("order_id", "cust_name", "brand")
        .agg(sum(when(col("__op").startsWith("-"), -1L).otherwise(1L)).as("__n"))
      assert(keyed.where(col("__n") < 0 || col("__n") > 1).count() === 0,
        "rjm2_enr: net counts outside {0,1}")
      keyed.where(col("__n") === 1L).select("order_id", "cust_name", "brand")
        .as[(Option[Long], Option[String], Option[String])].collect().toSet
    }
    Topics.appendJson(Seq(RjCust("c1", "Ann")).toDF(), "rjm2_cust_feed", conf2, Nil, 1)
    Topics.appendJson(Seq(RjProd("p1", "nike", 100.0)).toDF(), "rjm2_prod_feed", conf2, Nil, 1)
    r2.processAllAvailable()
    // no facts yet: the RIGHT-preserved dim pads over the empty left subtree
    assert(state2() === Set((None, None, Some("nike"))),
      "an unmatched RIGHT dim must pad with the whole left subtree nulled")
    Topics.appendJson(Seq(RjOrd(1, "c1", "p1", 10.0)).toDF(), "rjm2_ord_feed", conf2, Nil, 1)
    r2.processAllAvailable()
    assert(state2() === Set((Some(1L), Some("Ann"), Some("nike"))),
      "the arriving fact must retract the RIGHT pad and emit the match")
    // the INNER dim (inside the RIGHT node's left subtree) revises:
    // TRUE regular-join semantics re-emit order 1 at the new name
    Topics.appendJson(Seq(RjCust("c1", "Anna")).toDF(), "rjm2_cust_feed", conf2, Nil, 2)
    r2.processAllAvailable()
    assert(state2() === Set((Some(1L), Some("Anna"), Some("nike"))),
      "a dim revision below a mid-chain RIGHT OUTER must retract and re-emit")
    r2.stopAll()

    // ── a side null-dominated by TWO nodes (the LEFT dim under a
    //    RIGHT above it) runs the MULTI-NODE bracket (round 18): one
    //    delta term through both inner flips + a pre/post pair per
    //    affected node's terminal pad ──
    val conf3 = newConf("rjm3")
    val r3 = new StreamingStatementRunner(spark, topicConf = Some(conf3))
    r3.registerTopicSource("rjm3_cust_feed", custSchema)
    r3.registerTopicSource("rjm3_prod_feed", prodSchema)
    r3.registerTopicSource("rjm3_ord_feed", ordSchema)
    r3.runScript("""
      CREATE TABLE rjm3_cust (cid STRING, name STRING,
        PRIMARY KEY (cid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjm3_cust SELECT cid, name FROM rjm3_cust_feed;
      CREATE TABLE rjm3_prod (pid STRING, brand STRING, price DOUBLE,
        PRIMARY KEY (pid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjm3_prod SELECT pid, brand, price FROM rjm3_prod_feed;
      CREATE TABLE rjm3_enr (order_id BIGINT, cust_name STRING, brand STRING,
        __op STRING) WITH ('changelog.mode' = 'retract');
      INSERT INTO rjm3_enr (order_id, cust_name, brand)
      SELECT o.order_id, c.name, p.brand
      FROM rjm3_ord_feed o
      LEFT JOIN rjm3_cust c ON o.cid = c.cid
      RIGHT JOIN rjm3_prod p ON o.pid = p.pid""")
    def state3(): Set[(Option[Long], Option[String], Option[String])] = {
      val keyed = spark.table("rjm3_enr")
        .groupBy("order_id", "cust_name", "brand")
        .agg(sum(when(col("__op").startsWith("-"), -1L).otherwise(1L)).as("__n"))
      assert(keyed.where(col("__n") < 0 || col("__n") > 1).count() === 0,
        "rjm3_enr: net counts outside {0,1}")
      keyed.where(col("__n") === 1L).select("order_id", "cust_name", "brand")
        .as[(Option[Long], Option[String], Option[String])].collect().toSet
    }
    Topics.appendJson(Seq(RjProd("p1", "nike", 100.0)).toDF(), "rjm3_prod_feed", conf3, Nil, 1)
    r3.processAllAvailable()
    // no facts: the RIGHT-preserved dim pads over the empty left subtree
    assert(state3() === Set((None, None, Some("nike"))))
    // a fact with NO cust match: the LEFT level pads the name, the
    // RIGHT pad retracts (pad-of-pad through the doubly-dominated dim)
    Topics.appendJson(Seq(RjOrd(1, "c1", "p1", 10.0)).toDF(), "rjm3_ord_feed", conf3, Nil, 1)
    r3.processAllAvailable()
    assert(state3() === Set((Some(1L), None, Some("nike"))),
      "a matchless LEFT dim must pad inside the RIGHT-preserved row")
    // the doubly-dominated dim ARRIVES: its multi-node bracket must
    // upgrade the LEFT pad in place
    Topics.appendJson(Seq(RjCust("c1", "Ann")).toDF(), "rjm3_cust_feed", conf3, Nil, 1)
    r3.processAllAvailable()
    assert(state3() === Set((Some(1L), Some("Ann"), Some("nike"))),
      "the dim arriving must retract its LEFT pad and re-emit enriched")
    // ... and REVISE: true regular-join semantics through BOTH nodes
    Topics.appendJson(Seq(RjCust("c1", "Anna")).toDF(), "rjm3_cust_feed", conf3, Nil, 2)
    r3.processAllAvailable()
    assert(state3() === Set((Some(1L), Some("Anna"), Some("nike"))),
      "a doubly-null-dominated dim revision must retract and re-emit")
    r3.stopAll()
  }

  test("FULL OUTER mid-chain regular-joins (round 18): own-pad, bracket-pad and inner terms compose under upper joins") {
    // fact INNER dim1 FULL dim2 — the FULL node affects fact and dim1
    // (each singleton via its right-preserving pad) and dim2 (via the
    // left-preserving pad); every side brackets at that one node
    val conf = newConf("rjfm")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("rjfm_cust_feed", custSchema)
    r.registerTopicSource("rjfm_prod_feed", prodSchema)
    r.registerTopicSource("rjfm_ord_feed", ordSchema)
    r.runScript("""
      CREATE TABLE rjfm_cust (cid STRING, name STRING,
        PRIMARY KEY (cid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjfm_cust SELECT cid, name FROM rjfm_cust_feed;
      CREATE TABLE rjfm_prod (pid STRING, brand STRING, price DOUBLE,
        PRIMARY KEY (pid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjfm_prod SELECT pid, brand, price FROM rjfm_prod_feed;
      CREATE TABLE rjfm_enr (order_id BIGINT, cust_name STRING, brand STRING,
        __op STRING) WITH ('changelog.mode' = 'retract');
      INSERT INTO rjfm_enr (order_id, cust_name, brand)
      SELECT o.order_id, c.name, p.brand
      FROM rjfm_ord_feed o
      JOIN rjfm_cust c ON o.cid = c.cid
      FULL JOIN rjfm_prod p ON o.pid = p.pid""")
    def state(): Set[(Option[Long], Option[String], Option[String])] = {
      val keyed = spark.table("rjfm_enr")
        .groupBy("order_id", "cust_name", "brand")
        .agg(sum(when(col("__op").startsWith("-"), -1L).otherwise(1L)).as("__n"))
      assert(keyed.where(col("__n") < 0 || col("__n") > 1).count() === 0,
        "rjfm_enr: net counts outside {0,1}")
      keyed.where(col("__n") === 1L).select("order_id", "cust_name", "brand")
        .as[(Option[Long], Option[String], Option[String])].collect().toSet
    }
    // dim2 with no left match pads right; a fact gated off by the
    // INNER node (c9 unknown) contributes NOTHING (not even a left pad
    // — the INNER node drops it before the FULL node sees it)
    Topics.appendJson(Seq(RjProd("p1", "nike", 100.0)).toDF(), "rjfm_prod_feed", conf, Nil, 1)
    Topics.appendJson(Seq(RjOrd(2, "c9", "p1", 20.0)).toDF(), "rjfm_ord_feed", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Set((None, None, Some("nike"))),
      "an unmatched FULL dim must pad; an INNER-gated fact must not")
    // the INNER dim arrives: order 2 now crosses the INNER node,
    // matches p1 — the right pad retracts, the match emits
    Topics.appendJson(Seq(RjCust("c9", "Cruz")).toDF(), "rjfm_cust_feed", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Set((Some(2L), Some("Cruz"), Some("nike"))),
      "the INNER dim arriving must retract the FULL pad and emit the match")
    // a fact with an UNKNOWN product but known customer: left pad at
    // the FULL node (nulls on the prod side)
    Topics.appendJson(Seq(RjOrd(3, "c9", "p9", 30.0)).toDF(), "rjfm_ord_feed", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Set((Some(2L), Some("Cruz"), Some("nike")),
      (Some(3L), Some("Cruz"), None)),
      "a fact missing only the FULL dim must left-pad (own-pad term)")
    // the INNER dim revises: BOTH the matched row and the pad-of-FULL
    // row re-emit at the new name
    Topics.appendJson(Seq(RjCust("c9", "Cruze")).toDF(), "rjfm_cust_feed", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Set((Some(2L), Some("Cruze"), Some("nike")),
      (Some(3L), Some("Cruze"), None)),
      "an INNER-dim revision below a FULL node must re-emit matches AND left pads")
    // the FULL dim revises: the matched row re-emits; the left pad stays
    Topics.appendJson(Seq(RjProd("p1", "adidas", 90.0)).toDF(), "rjfm_prod_feed", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Set((Some(2L), Some("Cruze"), Some("adidas")),
      (Some(3L), Some("Cruze"), None)),
      "a FULL-dim revision must re-emit only its matches")
    r.stopAll()
  }

  test("composition: a continuous aggregate DOWNSTREAM of the regular join folds re-emissions exactly") {
    // the regular join's -D/+I records must be a well-formed retract
    // changelog to its consumers: a dim revision that moves enriched
    // rows between groups must move their aggregate contributions,
    // and a group whose rows all retract must be DELETED downstream
    val conf = newConf("rjc")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("rjc_cust_feed", custSchema)
    r.registerTopicSource("rjc_ord_feed", ordSchema)
    r.runScript("""
      CREATE TABLE rjc_cust (cid STRING, name STRING,
        PRIMARY KEY (cid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjc_cust SELECT cid, name FROM rjc_cust_feed;
      CREATE TABLE rjc_enr (order_id BIGINT, cust_name STRING, amount DOUBLE)
        WITH ('changelog.mode' = 'retract');
      INSERT INTO rjc_enr
      SELECT o.order_id, c.name, o.amount
      FROM rjc_ord_feed o JOIN rjc_cust c ON o.cid = c.cid;
      CREATE TABLE rjc_stats (cust_name STRING, n BIGINT, total DOUBLE,
        PRIMARY KEY (cust_name) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjc_stats
      SELECT cust_name, count(*) AS n,
             CAST(sum(CAST(amount AS DECIMAL(18,4))) AS DOUBLE) AS total
      FROM rjc_enr GROUP BY cust_name""")
    def stats() = spark.table("rjc_stats")
      .as[(String, Long, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap

    Topics.appendJson(Seq(RjCust("c1", "Ann"), RjCust("c2", "Bob")).toDF(),
      "rjc_cust_feed", conf, Nil, 1)
    r.processAllAvailable()
    Topics.appendJson(Seq(RjOrd(1, "c1", "p1", 10.0), RjOrd(2, "c2", "p1", 20.0),
      RjOrd(3, "c1", "p1", 5.0)).toDF(), "rjc_ord_feed", conf, Nil, 1)
    r.processAllAvailable()
    assert(stats() === Map("Ann" -> ((2L, 15.0)), "Bob" -> ((1L, 20.0))))

    // c1 renames: BOTH its enriched rows retract from "Ann" and re-add
    // under "Anna" — the Ann group empties and must be deleted
    Topics.appendJson(Seq(RjCust("c1", "Anna")).toDF(), "rjc_cust_feed", conf, Nil, 2)
    r.processAllAvailable()
    assert(stats() === Map("Anna" -> ((2L, 15.0)), "Bob" -> ((1L, 20.0))),
      "re-emissions must move the rows' aggregate contributions and delete the emptied group")
    r.stopAll()
  }

  test("subquery-dim regular join: a NOT EXISTS blocklist revision retracts and re-admits past rows") {
    val conf = newConf("rjb")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("rjb_block_feed", StructType(Seq(
      StructField("uid", StringType), StructField("__op", StringType))))
    r.registerTopicSource("rjb_ord_feed", ordSchema)
    r.runScript("""
      CREATE TABLE rjb_block (uid STRING, __op STRING,
        PRIMARY KEY (uid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjb_block SELECT uid, __op FROM rjb_block_feed;
      CREATE TABLE rjb_kept (order_id BIGINT, amount DOUBLE, __op STRING)
        WITH ('changelog.mode' = 'retract');
      INSERT INTO rjb_kept (order_id, amount)
      SELECT o.order_id, o.amount FROM rjb_ord_feed o
      WHERE NOT EXISTS (SELECT 1 FROM rjb_block b WHERE b.uid = o.cid)""")
    def state() = net("rjb_kept", "order_id", "amount")

    // empty blocklist: both orders kept
    Topics.appendJson(Seq(RjOrd(1, "c1", "p1", 10.0), RjOrd(2, "c2", "p1", 20.0))
      .toDF(), "rjb_ord_feed", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq(10.0), 2L -> Seq(20.0)))

    // blocking c1 retracts its ALREADY-EMITTED row — the brute
    // pre/post diff over the fact state
    Topics.appendJson(Seq(("c1", "+I")).toDF("uid", "__op"), "rjb_block_feed", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Map(2L -> Seq(20.0)),
      "blocking a key must retract its previously-kept rows")

    // unblocking (tombstone) RE-ADMITS it
    Topics.appendJson(Seq(("c1", "-D")).toDF("uid", "__op"), "rjb_block_feed", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq(10.0), 2L -> Seq(20.0)),
      "unblocking must re-admit the retracted rows")
    // the changelog shows the full round trip for order 1
    val ops = spark.table("rjb_kept").where(col("order_id") === 1)
      .select("__op").as[String].collect().toList
    assert(ops.count(_ == "+I") == 2 && ops.count(_ == "-D") == 1, s"ops: $ops")

    // fresh facts evaluate against current blocklist state
    Topics.appendJson(Seq(("c2", "+I")).toDF("uid", "__op"), "rjb_block_feed", conf, Nil, 3)
    r.processAllAvailable()
    Topics.appendJson(Seq(RjOrd(3, "c2", "p1", 30.0), RjOrd(4, "c3", "p1", 40.0))
      .toDF(), "rjb_ord_feed", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq(10.0), 4L -> Seq(40.0)),
      "order 2 retracted by c2's block; order 3 never admitted; order 4 kept")
    r.stopAll()
  }

  test("BOTH inputs updating: two upsert tables regular-join, revisions on either side re-emit") {
    // Flink's regular join with two updating inputs — each side's
    // revision retracts its prior contribution and re-joins at the
    // other side's current state (both sides keep folded snapshots)
    val conf = newConf("rj2u")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("rj2_cust_feed", custSchema)
    r.registerTopicSource("rj2_prod_feed", prodSchema)
    r.runScript("""
      CREATE TABLE rj2_cust (cid STRING, name STRING,
        PRIMARY KEY (cid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rj2_cust SELECT cid, name FROM rj2_cust_feed;
      CREATE TABLE rj2_pref (pid STRING, fav_cid STRING, price DOUBLE,
        PRIMARY KEY (pid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rj2_pref SELECT pid, brand, price FROM rj2_prod_feed;
      CREATE TABLE rj2_enr (pid STRING, cust_name STRING, price DOUBLE,
        __op STRING) WITH ('changelog.mode' = 'retract');
      INSERT INTO rj2_enr (pid, cust_name, price)
      SELECT p.pid, c.name, p.price
      FROM rj2_pref p JOIN rj2_cust c ON p.fav_cid = c.cid""")
    def state() = spark.table("rj2_enr")
      .groupBy("pid", "cust_name", "price")
      .agg(sum(when(col("__op").startsWith("-"), -1L).otherwise(1L)).as("__n"))
      .where(col("__n") === 1L).select("pid", "cust_name", "price")
      .as[(String, String, Double)].collect().toSet

    Topics.appendJson(Seq(RjCust("c1", "Ann")).toDF(), "rj2_cust_feed", conf, Nil, 1)
    r.processAllAvailable()
    Topics.appendJson(Seq(RjProd("p1", "c1", 100.0)).toDF(), "rj2_prod_feed", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Set(("p1", "Ann", 100.0)))
    // LEFT side (the "fact" table) revises: its old joined row retracts
    Topics.appendJson(Seq(RjProd("p1", "c1", 120.0)).toDF(), "rj2_prod_feed", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Set(("p1", "Ann", 120.0)),
      "an upsert fact revision must retract its prior joined row")
    // RIGHT side revises: re-emission at the fact's CURRENT version
    Topics.appendJson(Seq(RjCust("c1", "Anna")).toDF(), "rj2_cust_feed", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Set(("p1", "Anna", 120.0)))
    // both revise in ONE epoch: exactly one net row at the new states
    Topics.appendJson(Seq(RjProd("p1", "c1", 150.0)).toDF(), "rj2_prod_feed", conf, Nil, 3)
    Topics.appendJson(Seq(RjCust("c1", "Annette")).toDF(), "rj2_cust_feed", conf, Nil, 3)
    r.processAllAvailable()
    assert(state() === Set(("p1", "Annette", 150.0)),
      "simultaneous two-sided revisions must net to one row at the new states")
    r.stopAll()
  }

  test("IN and scalar subqueries over revisable dims: allowlist membership and a moving aggregate threshold") {
    val conf = newConf("rjin")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("rji_allow_feed", StructType(Seq(
      StructField("uid", StringType))))
    r.registerTopicSource("rji_ord_feed", ordSchema)
    // the scalar subquery AGGREGATES over the dim — allowed on the
    // subquery-dim path (its plan may compute anything; the brute
    // diff re-evaluates it at pre/post dim state)
    r.runScript("""
      CREATE TABLE rji_allow (uid STRING,
        PRIMARY KEY (uid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rji_allow SELECT uid FROM rji_allow_feed;
      CREATE TABLE rji_kept (order_id BIGINT, amount DOUBLE, __op STRING)
        WITH ('changelog.mode' = 'retract');
      INSERT INTO rji_kept (order_id, amount)
      SELECT o.order_id, o.amount FROM rji_ord_feed o
      WHERE o.cid IN (SELECT uid FROM rji_allow)
        AND o.amount > (SELECT count(*) * 10.0 FROM rji_allow)""")
    def state() = net("rji_kept", "order_id", "amount")

    Topics.appendJson(Seq(("c1")).toDF("uid"), "rji_allow_feed", conf, Nil, 1)
    r.processAllAvailable()
    // threshold = 1 member * 10 = 10: order 1 (15) passes, order 2 not allowed
    Topics.appendJson(Seq(RjOrd(1, "c1", "p1", 15.0), RjOrd(2, "c2", "p1", 50.0))
      .toDF(), "rji_ord_feed", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq(15.0)))
    // adding c2 admits order 2 AND moves the threshold to 20 — order 1
    // (15) now fails it and must RETRACT
    Topics.appendJson(Seq(("c2")).toDF("uid"), "rji_allow_feed", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Map(2L -> Seq(50.0)),
      "one dim batch can simultaneously admit by membership and retract by the moved threshold")
    r.stopAll()
  }

  test("join.state.ttl bounds the fact log: expired facts stop re-emitting; fresh facts still enrich") {
    val conf = newConf("rjttl")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("rjt_cust_feed", custSchema)
    r.registerTopicSource("rjt_ord_feed", ordSchema)
    r.runScript("""
      CREATE TABLE rjt_cust (cid STRING, name STRING,
        PRIMARY KEY (cid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjt_cust SELECT cid, name FROM rjt_cust_feed;
      CREATE TABLE rjt_enr (order_id BIGINT, cust_name STRING, __op STRING)
        WITH ('changelog.mode' = 'retract', 'join.state.ttl' = '1 s');
      INSERT INTO rjt_enr (order_id, cust_name)
      SELECT o.order_id, c.name FROM rjt_ord_feed o JOIN rjt_cust c ON o.cid = c.cid""")
    def state() = net("rjt_enr", "order_id", "cust_name")
    Topics.appendJson(Seq(RjCust("c1", "Ann")).toDF(), "rjt_cust_feed", conf, Nil, 1)
    r.processAllAvailable()
    Topics.appendJson(Seq(RjOrd(1, "c1", "p1", 10.0)).toDF(), "rjt_ord_feed", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq("Ann")))
    // let order 1's log batch expire, then revise the dim: the expired
    // fact no longer participates — Flink's table.exec.state.ttl trade
    Thread.sleep(2500)
    Topics.appendJson(Seq(RjCust("c1", "Anna")).toDF(), "rjt_cust_feed", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq("Ann")),
      "an expired fact must NOT re-emit on dim revision")
    // fresh facts enrich at current dim state as usual
    Topics.appendJson(Seq(RjOrd(2, "c1", "p1", 20.0)).toDF(), "rjt_ord_feed", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq("Ann"), 2L -> Seq("Anna")))
    r.stopAll()
  }

  test("CTE routing: a WITH wrapping the join select regular-joins identically; twice-referenced CTEs regular-join per-occurrence (round 18)") {
    val conf = newConf("rjw")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("rjw_cust_feed", custSchema)
    r.registerTopicSource("rjw_ord_feed", ordSchema)
    r.runScript("""
      CREATE TABLE rjw_cust (cid STRING, name STRING,
        PRIMARY KEY (cid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjw_cust SELECT cid, name FROM rjw_cust_feed;
      CREATE TABLE rjw_enr (order_id BIGINT, cust_name STRING,
        amount DOUBLE, __op STRING) WITH ('changelog.mode' = 'retract');
      INSERT INTO rjw_enr (order_id, cust_name, amount)
      WITH enr AS (
        SELECT o.order_id, c.name, o.amount
        FROM rjw_ord_feed o LEFT JOIN rjw_cust c ON o.cid = c.cid)
      SELECT order_id, name, amount FROM enr""")
    def state() = net("rjw_enr", "order_id", "cust_name", "amount")

    Topics.appendJson(Seq(RjOrd(1, "c1", "p1", 10.0), RjOrd(2, "c9", "p1", 20.0))
      .toDF(), "rjw_ord_feed", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq(null, 10.0), 2L -> Seq(null, 20.0)),
      "the CTE-wrapped LEFT join must pad unmatched facts")
    // the dim arriving must retract order 1's pad THROUGH the CTE body
    Topics.appendJson(Seq(RjCust("c1", "Ann")).toDF(), "rjw_cust_feed", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq("Ann", 10.0), 2L -> Seq(null, 20.0)),
      "a WITH wrapping the select must regular-join identically")
    // and a revision must re-emit
    Topics.appendJson(Seq(RjCust("c1", "Anna")).toDF(), "rjw_cust_feed", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq("Anna", 10.0), 2L -> Seq(null, 20.0)))
    r.stopAll()

    // ── a CTE referenced twice inlines its tables twice; the
    //    per-occurrence renaming (round 18) routes each site as its
    //    own side, so the shape regular-joins — a user factoring a
    //    subquery into a CTE for reuse keeps retract semantics ──
    val conf2 = newConf("rjw2")
    val r2 = new StreamingStatementRunner(spark, topicConf = Some(conf2))
    r2.registerTopicSource("rjw2_cust_feed", custSchema)
    r2.registerTopicSource("rjw2_ord_feed", ordSchema)
    r2.runScript("""
      CREATE TABLE rjw2_cust (cid STRING, name STRING,
        PRIMARY KEY (cid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjw2_cust SELECT cid, name FROM rjw2_cust_feed;
      CREATE TABLE rjw2_enr (order_id BIGINT, cust_name STRING, amount2 DOUBLE,
        __op STRING) WITH ('changelog.mode' = 'retract');
      INSERT INTO rjw2_enr (order_id, cust_name, amount2)
      WITH e AS (SELECT o.order_id, o.cid, o.amount
                 FROM rjw2_ord_feed o)
      SELECT a.order_id, c.name, a.amount + b.amount
      FROM e a JOIN e b ON a.order_id = b.order_id
      JOIN rjw2_cust c ON a.cid = c.cid""")
    def state2() = net("rjw2_enr", "order_id", "cust_name", "amount2")
    Topics.appendJson(Seq(RjCust("c1", "Ann")).toDF(), "rjw2_cust_feed", conf2, Nil, 1)
    r2.processAllAvailable()
    // both CTE sites touch in ONE batch: occurrence a's term sees b at
    // post, b's term sees a at pre — exactly one (1,1) pair nets out
    Topics.appendJson(Seq(RjOrd(1, "c1", "p1", 10.0)).toDF(), "rjw2_ord_feed", conf2, Nil, 1)
    r2.processAllAvailable()
    assert(state2() === Map(1L -> Seq("Ann", 20.0)),
      "the doubled CTE sites must pair each fact with itself exactly once")
    // the dim revises: TRUE regular-join semantics through both sites
    Topics.appendJson(Seq(RjCust("c1", "Anna")).toDF(), "rjw2_cust_feed", conf2, Nil, 2)
    r2.processAllAvailable()
    assert(state2() === Map(1L -> Seq("Anna", 20.0)),
      "a dim revision must retract and re-emit through a twice-referenced CTE")
    // a later fact pairs against the FIRST site's logged state via the
    // cross terms the one-view binding used to drop
    Topics.appendJson(Seq(RjOrd(2, "c1", "p1", 30.0)).toDF(), "rjw2_ord_feed", conf2, Nil, 2)
    r2.processAllAvailable()
    assert(state2() === Map(1L -> Seq("Anna", 20.0), 2L -> Seq("Anna", 60.0)))
    r2.stopAll()
  }

  test("derived-table operands regular-join (round 17): filtered fact subquery, re-projecting dim subquery, CTE operand") {
    val conf = newConf("rjd")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("rjd_cust_feed", custSchema)
    r.registerTopicSource("rjd_ord_feed", ordSchema)
    // the fact operand is a FILTERED derived table; the dim operand
    // RE-PROJECTS (upper(name)) — both are join-free single-relation
    // subtrees, linear in their relation, with the sign channel
    // threaded through the derived projections
    r.runScript("""
      CREATE TABLE rjd_cust (cid STRING, name STRING,
        PRIMARY KEY (cid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjd_cust SELECT cid, name FROM rjd_cust_feed;
      CREATE TABLE rjd_enr (order_id BIGINT, cust_name STRING,
        amount DOUBLE, __op STRING) WITH ('changelog.mode' = 'retract');
      INSERT INTO rjd_enr (order_id, cust_name, amount)
      SELECT o.order_id, c.un, o.amount
      FROM (SELECT order_id, cid, amount FROM rjd_ord_feed WHERE amount > 5.0) o
      JOIN (SELECT cid, upper(name) AS un FROM rjd_cust) c ON o.cid = c.cid""")
    def state() = net("rjd_enr", "order_id", "cust_name", "amount")

    Topics.appendJson(Seq(RjCust("c1", "Ann")).toDF(), "rjd_cust_feed", conf, Nil, 1)
    r.processAllAvailable()
    // order 2 fails the derived filter: never emitted, never re-emitted
    Topics.appendJson(Seq(RjOrd(1, "c1", "p1", 10.0), RjOrd(2, "c1", "p1", 3.0))
      .toDF(), "rjd_ord_feed", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq("ANN", 10.0)),
      "the filtered fact operand must gate; the derived dim must re-project")
    // the dim revision re-emits THROUGH both derived operands
    Topics.appendJson(Seq(RjCust("c1", "Anna")).toDF(), "rjd_cust_feed", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq("ANNA", 10.0)),
      "a dim revision must re-enrich through the derived operands")
    r.stopAll()

    // ── CTE as a join operand: `FROM f JOIN dim` with f a WITH body ──
    val conf2 = newConf("rjd2")
    val r2 = new StreamingStatementRunner(spark, topicConf = Some(conf2))
    r2.registerTopicSource("rjd2_cust_feed", custSchema)
    r2.registerTopicSource("rjd2_ord_feed", ordSchema)
    r2.runScript("""
      CREATE TABLE rjd2_cust (cid STRING, name STRING,
        PRIMARY KEY (cid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjd2_cust SELECT cid, name FROM rjd2_cust_feed;
      CREATE TABLE rjd2_enr (order_id BIGINT, cust_name STRING, __op STRING)
        WITH ('changelog.mode' = 'retract');
      INSERT INTO rjd2_enr (order_id, cust_name)
      WITH f AS (SELECT order_id, cid FROM rjd2_ord_feed WHERE order_id < 100)
      SELECT f.order_id, c.name FROM f LEFT JOIN rjd2_cust c ON f.cid = c.cid""")
    def state2() = net("rjd2_enr", "order_id", "cust_name")
    Topics.appendJson(Seq(RjOrd(1, "c1", "p1", 10.0), RjOrd(200, "c1", "p1", 20.0))
      .toDF(), "rjd2_ord_feed", conf2, Nil, 1)
    r2.processAllAvailable()
    assert(state2() === Map(1L -> Seq(null)),
      "the CTE operand must filter AND pad (dim not yet arrived)")
    Topics.appendJson(Seq(RjCust("c1", "Ann")).toDF(), "rjd2_cust_feed", conf2, Nil, 1)
    r2.processAllAvailable()
    assert(state2() === Map(1L -> Seq("Ann")),
      "the dim arriving must retract the pad through the CTE operand")
    r2.stopAll()
  }

  test("CTE inside the subquery-dim shape: a WITH-aliased blocklist still retracts and re-admits (round 17)") {
    val conf = newConf("rjwb")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("rjwb_block_feed", StructType(Seq(
      StructField("uid", StringType), StructField("__op", StringType))))
    r.registerTopicSource("rjwb_ord_feed", ordSchema)
    r.runScript("""
      CREATE TABLE rjwb_block (uid STRING, __op STRING,
        PRIMARY KEY (uid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjwb_block SELECT uid, __op FROM rjwb_block_feed;
      CREATE TABLE rjwb_kept (order_id BIGINT, amount DOUBLE, __op STRING)
        WITH ('changelog.mode' = 'retract');
      INSERT INTO rjwb_kept (order_id, amount)
      WITH active AS (SELECT uid FROM rjwb_block)
      SELECT o.order_id, o.amount FROM rjwb_ord_feed o
      WHERE NOT EXISTS (SELECT 1 FROM active a WHERE a.uid = o.cid)""")
    def state() = net("rjwb_kept", "order_id", "amount")
    Topics.appendJson(Seq(RjOrd(1, "c1", "p1", 10.0), RjOrd(2, "c2", "p1", 20.0))
      .toDF(), "rjwb_ord_feed", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq(10.0), 2L -> Seq(20.0)))
    Topics.appendJson(Seq(("c1", "+I")).toDF("uid", "__op"), "rjwb_block_feed", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Map(2L -> Seq(20.0)),
      "blocking through the CTE alias must retract previously-kept rows")
    Topics.appendJson(Seq(("c1", "-D")).toDF("uid", "__op"), "rjwb_block_feed", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq(10.0), 2L -> Seq(20.0)),
      "unblocking through the CTE alias must re-admit")
    r.stopAll()
  }

  test("fact-log compaction rides the stream: many epochs fold into a generation, semantics unchanged (round 17)") {
    val conf = newConf("rjk")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("rjk_cust_feed", custSchema)
    r.registerTopicSource("rjk_ord_feed", ordSchema)
    r.runScript("""
      CREATE TABLE rjk_cust (cid STRING, name STRING,
        PRIMARY KEY (cid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjk_cust SELECT cid, name FROM rjk_cust_feed;
      CREATE TABLE rjk_enr (order_id BIGINT, cust_name STRING, __op STRING)
        WITH ('changelog.mode' = 'retract',
              'join.state.compact.threshold' = '2');
      INSERT INTO rjk_enr (order_id, cust_name)
      SELECT o.order_id, c.name FROM rjk_ord_feed o JOIN rjk_cust c ON o.cid = c.cid""")
    def state() = net("rjk_enr", "order_id", "cust_name")
    Topics.appendJson(Seq(RjCust("c1", "Ann")).toDF(), "rjk_cust_feed", conf, Nil, 1)
    r.processAllAvailable()
    (1 to 7).foreach { i =>
      Topics.appendJson(Seq(RjOrd(i.toLong, "c1", "p1", i * 10.0)).toDF(),
        "rjk_ord_feed", conf, Nil, i)
      r.processAllAvailable()
    }
    // a dim revision AFTER compaction: every logged fact — including
    // those now living only in the folded generation — must re-emit
    Topics.appendJson(Seq(RjCust("c1", "Anna")).toDF(), "rjk_cust_feed", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === (1 to 7).map(i => i.toLong -> Seq("Anna")).toMap,
      "facts folded into a log generation must still re-emit on dim revision")
    // the fact side's state dir is generation + a bounded tail, not
    // one dir per epoch
    val stateDirs = {
      val root = java.nio.file.Paths.get(conf.root, ".checkpoints")
      val out = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
      java.nio.file.Files.walk(root).forEach { p =>
        if (p.getFileName.toString == "graft-join-state") out += p
      }
      out.toList
    }
    assert(stateDirs.nonEmpty)
    val factLog = new java.io.File(stateDirs.head.toFile, "s0")
    val names = factLog.listFiles().map(_.getName).toList.sorted
    assert(names.exists(_.startsWith("lg")),
      s"a generation must exist after 7 epochs at threshold 2: $names")
    assert(names.count(n => n.startsWith("b") && !n.startsWith("lg")) <= 3,
      s"per-batch dirs must stay bounded by the threshold: $names")
    r.stopAll()
  }

  test("self-join shapes regular-join per-occurrence (round 18): each FROM site binds its own shadow view, cross terms intact") {
    // the one-view binding used to drop the pre⋈Δ / Δ⋈post cross terms
    // (the ADVICE r16 refusal); per-occurrence sides restore them —
    // occurrence k's term varies only site k, earlier sites at pre,
    // later at post
    val conf = newConf("rjsj")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("rjs_cust_feed", custSchema)
    r.registerTopicSource("rjs_ord_feed", ordSchema)
    r.runScript("""
      CREATE TABLE rjs_cust (cid STRING, name STRING,
        PRIMARY KEY (cid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjs_cust SELECT cid, name FROM rjs_cust_feed;
      CREATE TABLE rjs_enr (order_id BIGINT, cust_name STRING, amount2 DOUBLE,
        __op STRING) WITH ('changelog.mode' = 'retract');
      INSERT INTO rjs_enr (order_id, cust_name, amount2)
      SELECT o.order_id, c.name, o.amount + o2.amount
      FROM rjs_ord_feed o
      JOIN rjs_ord_feed o2 ON o.order_id = o2.order_id
      JOIN rjs_cust c ON o.cid = c.cid""")
    def state() = net("rjs_enr", "order_id", "cust_name", "amount2")
    Topics.appendJson(Seq(RjCust("c1", "Ann")).toDF(), "rjs_cust_feed", conf, Nil, 1)
    r.processAllAvailable()
    // both occurrences touch in one batch: exactly one (1,1) pair
    Topics.appendJson(Seq(RjOrd(1, "c1", "p1", 10.0)).toDF(), "rjs_ord_feed", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq("Ann", 20.0)),
      "a same-batch self-pair must net to exactly one row")
    // the dim revises: regular-join semantics re-emit through the pair
    Topics.appendJson(Seq(RjCust("c1", "Anna")).toDF(), "rjs_cust_feed", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq("Anna", 20.0)),
      "a dim revision must retract and re-emit the self-joined pair")
    // a later fact joins the occurrence sides' LOGGED states — the
    // cross terms (Δ⋈post on site 1, pre⋈Δ on site 2) must both hold
    Topics.appendJson(Seq(RjOrd(2, "c1", "p1", 30.0)).toDF(), "rjs_ord_feed", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq("Anna", 20.0), 2L -> Seq("Anna", 60.0)),
      "cross-batch self-pairs must come from the per-occurrence state logs")
    // occurrences of the same table share ONE state directory (their
    // deltas are the same stream): the fact log lives under the first
    // occurrence's slot s0 only — never duplicated under s1
    val stateDirs = {
      val root = java.nio.file.Paths.get(conf.root, ".checkpoints")
      val out = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
      java.nio.file.Files.walk(root).forEach { p =>
        if (p.getFileName.toString == "graft-join-state") out += p
      }
      out.toList
    }
    assert(stateDirs.nonEmpty)
    // side order is tree pre-order [ord, ord__rjoc2, cust]: the second
    // ord occurrence (index 1) shares owner slot s0, so exactly
    // {s0, s2} exist and s1 never does
    val slots = stateDirs.head.toFile.listFiles().map(_.getName).toList.sorted
    assert(slots === List("s0", "s2"),
      s"duplicate occurrences must share the owner slot's state: $slots")
    r.stopAll()
  }

  test("TRIPLY-dominated dim (round 18): the top-down expansion composes at k=3 across nested RIGHT pads") {
    // ord LEFT cust RIGHT prod RIGHT badge(keyed on PROD's output):
    // cust is null-produced by its own LEFT node and BOTH RIGHT nodes
    // above — a 2k+1 = 7-evaluation bracket per touched batch
    val conf = newConf("rjt3")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("rjt3_cust_feed", custSchema)
    r.registerTopicSource("rjt3_prod_feed", prodSchema)
    r.registerTopicSource("rjt3_badge_feed", StructType(Seq(
      StructField("name", StringType), StructField("badge", StringType))))
    r.registerTopicSource("rjt3_ord_feed", ordSchema)
    r.runScript("""
      CREATE TABLE rjt3_cust (cid STRING, name STRING,
        PRIMARY KEY (cid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjt3_cust SELECT cid, name FROM rjt3_cust_feed;
      CREATE TABLE rjt3_prod (pid STRING, brand STRING, price DOUBLE,
        PRIMARY KEY (pid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjt3_prod SELECT pid, brand, price FROM rjt3_prod_feed;
      CREATE TABLE rjt3_badge (name STRING, badge STRING,
        PRIMARY KEY (name) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjt3_badge SELECT name, badge FROM rjt3_badge_feed;
      CREATE TABLE rjt3_enr (order_id BIGINT, cust_name STRING, brand STRING,
        badge STRING, __op STRING) WITH ('changelog.mode' = 'retract');
      INSERT INTO rjt3_enr (order_id, cust_name, brand, badge)
      SELECT o.order_id, c.name, p.brand, q.badge
      FROM rjt3_ord_feed o
      LEFT JOIN rjt3_cust c ON o.cid = c.cid
      RIGHT JOIN rjt3_prod p ON o.pid = p.pid
      RIGHT JOIN rjt3_badge q ON p.brand = q.name""")
    def state(): Set[(Option[Long], Option[String], Option[String], Option[String])] = {
      val keyed = spark.table("rjt3_enr")
        .groupBy("order_id", "cust_name", "brand", "badge")
        .agg(sum(when(col("__op").startsWith("-"), -1L).otherwise(1L)).as("__n"))
      assert(keyed.where(col("__n") < 0 || col("__n") > 1).count() === 0,
        "rjt3_enr: net counts outside {0,1}")
      keyed.where(col("__n") === 1L)
        .select("order_id", "cust_name", "brand", "badge")
        .as[(Option[Long], Option[String], Option[String], Option[String])]
        .collect().toSet
    }
    // badge alone: the top RIGHT pads with everything below null
    Topics.appendJson(Seq(("nike", "GOLD")).toDF("name", "badge"),
      "rjt3_badge_feed", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Set((None, None, None, Some("GOLD"))))
    // prod arrives: the mid RIGHT pads (null, null, nike), which
    // MATCHES the badge — the top pad retracts, the nested pad emits
    Topics.appendJson(Seq(RjProd("p1", "nike", 100.0)).toDF(), "rjt3_prod_feed", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Set((None, None, Some("nike"), Some("GOLD"))),
      "a prod pad-row must retract the badge's own pad and carry it")
    // fact + cust: the nested pad upgrades to the full enrichment
    Topics.appendJson(Seq(RjOrd(1, "c1", "p1", 10.0)).toDF(), "rjt3_ord_feed", conf, Nil, 1)
    Topics.appendJson(Seq(RjCust("c1", "Ann")).toDF(), "rjt3_cust_feed", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Set((Some(1L), Some("Ann"), Some("nike"), Some("GOLD"))))
    // the triply-dominated dim revises: exact re-emission through all
    // three nodes (one delta term over three flips + three pre/post
    // terminal-pad pairs)
    Topics.appendJson(Seq(RjCust("c1", "Anna")).toDF(), "rjt3_cust_feed", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Set((Some(1L), Some("Anna"), Some("nike"), Some("GOLD"))),
      "a triply-dominated dim revision must retract and re-emit exactly")
    r.stopAll()
  }

  test("doubly-dominated dim under a FULL node (round 18): the own-pad continuation branch keeps left pads live through dim churn") {
    // fact LEFT cust FULL prod — cust is affected by its own LEFT node
    // AND the FULL above (whose left-preserving pad is linear in cust:
    // the expansion's CONTINUING own-pad branch, not a terminal)
    val conf = newConf("rjdf")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("rjdf_cust_feed", custSchema)
    r.registerTopicSource("rjdf_prod_feed", prodSchema)
    r.registerTopicSource("rjdf_ord_feed", ordSchema)
    r.runScript("""
      CREATE TABLE rjdf_cust (cid STRING, name STRING,
        PRIMARY KEY (cid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjdf_cust SELECT cid, name FROM rjdf_cust_feed;
      CREATE TABLE rjdf_prod (pid STRING, brand STRING, price DOUBLE,
        PRIMARY KEY (pid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjdf_prod SELECT pid, brand, price FROM rjdf_prod_feed;
      CREATE TABLE rjdf_enr (order_id BIGINT, cust_name STRING, brand STRING,
        __op STRING) WITH ('changelog.mode' = 'retract');
      INSERT INTO rjdf_enr (order_id, cust_name, brand)
      SELECT o.order_id, c.name, p.brand
      FROM rjdf_ord_feed o
      LEFT JOIN rjdf_cust c ON o.cid = c.cid
      FULL JOIN rjdf_prod p ON o.pid = p.pid""")
    def state(): Set[(Option[Long], Option[String], Option[String])] = {
      val keyed = spark.table("rjdf_enr")
        .groupBy("order_id", "cust_name", "brand")
        .agg(sum(when(col("__op").startsWith("-"), -1L).otherwise(1L)).as("__n"))
      assert(keyed.where(col("__n") < 0 || col("__n") > 1).count() === 0,
        "rjdf_enr: net counts outside {0,1}")
      keyed.where(col("__n") === 1L).select("order_id", "cust_name", "brand")
        .as[(Option[Long], Option[String], Option[String])].collect().toSet
    }
    Topics.appendJson(Seq(RjProd("p1", "nike", 100.0)).toDF(), "rjdf_prod_feed", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Set((None, None, Some("nike"))))
    // fact with no cust: LEFT pad inside the FULL match
    Topics.appendJson(Seq(RjOrd(1, "c1", "p1", 10.0)).toDF(), "rjdf_ord_feed", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Set((Some(1L), None, Some("nike"))))
    // the dominated dim arrives, then revises — through both nodes
    Topics.appendJson(Seq(RjCust("c1", "Ann")).toDF(), "rjdf_cust_feed", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Set((Some(1L), Some("Ann"), Some("nike"))))
    Topics.appendJson(Seq(RjCust("c1", "Anna")).toDF(), "rjdf_cust_feed", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Set((Some(1L), Some("Anna"), Some("nike"))))
    // a fact unmatched on the FULL dim → own-pad row (2, null, null)
    Topics.appendJson(Seq(RjOrd(2, "c9", "p9", 20.0)).toDF(), "rjdf_ord_feed", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Set((Some(1L), Some("Anna"), Some("nike")),
      (Some(2L), None, None)))
    // its cust arrives while the prod is STILL missing: the own-pad
    // CONTINUATION branch must upgrade the left pad's name in place
    Topics.appendJson(Seq(RjCust("c9", "Cruz")).toDF(), "rjdf_cust_feed", conf, Nil, 3)
    r.processAllAvailable()
    assert(state() === Set((Some(1L), Some("Anna"), Some("nike")),
      (Some(2L), Some("Cruz"), None)),
      "a dim change under the FULL node's own pad must re-emit the pad row")
    // finally the prod arrives: the own pad retracts, the match emits
    Topics.appendJson(Seq(RjProd("p9", "adidas", 90.0)).toDF(), "rjdf_prod_feed", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Set((Some(1L), Some("Anna"), Some("nike")),
      (Some(2L), Some("Cruz"), Some("adidas"))))
    r.stopAll()
  }

  test("BUSHY join trees regular-join (round 18): a LEFT-joined composed-lookup subtree pads, upgrades, and re-pads per ref") {
    // fact LEFT JOIN (cust JOIN badge ON name) — the right OPERAND is
    // itself a join (non-left-deep). Both subtree refs are affected
    // only by the LEFT node (the right-preserving INNER inside
    // affects nobody), so each brackets there: inner-flip over its
    // delta THROUGH the subtree join + the facts-preserving pad
    // evaluated at its pre/post state
    val conf = newConf("rjb")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("rjb_cust_feed", custSchema)
    r.registerTopicSource("rjb_badge_feed", StructType(Seq(
      StructField("name", StringType), StructField("badge", StringType))))
    r.registerTopicSource("rjb_ord_feed", ordSchema)
    r.runScript("""
      CREATE TABLE rjb_cust (cid STRING, name STRING,
        PRIMARY KEY (cid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjb_cust SELECT cid, name FROM rjb_cust_feed;
      CREATE TABLE rjb_badge (name STRING, badge STRING,
        PRIMARY KEY (name) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjb_badge SELECT name, badge FROM rjb_badge_feed;
      CREATE TABLE rjb_enr (order_id BIGINT, cust_name STRING, badge STRING,
        __op STRING) WITH ('changelog.mode' = 'retract');
      INSERT INTO rjb_enr (order_id, cust_name, badge)
      SELECT o.order_id, c.name, b.badge
      FROM rjb_ord_feed o
      LEFT JOIN (rjb_cust c JOIN rjb_badge b ON c.name = b.name)
        ON o.cid = c.cid""")
    def state() = net("rjb_enr", "order_id", "cust_name", "badge")
    Topics.appendJson(Seq(RjOrd(1, "c1", "p1", 10.0)).toDF(), "rjb_ord_feed", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq(null, null)),
      "a fact with no subtree match must pad")
    // the cust half alone does NOT complete the subtree (INNER inside)
    Topics.appendJson(Seq(RjCust("c1", "Ann")).toDF(), "rjb_cust_feed", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq(null, null)),
      "half a composed lookup must not upgrade the pad")
    // the badge half arrives: the subtree completes, the pad upgrades
    Topics.appendJson(Seq(("Ann", "GOLD")).toDF("name", "badge"),
      "rjb_badge_feed", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq("Ann", "GOLD")),
      "the completing half must retract the pad and emit the match")
    // cust revises to a name with NO badge: the subtree match
    // DISAPPEARS and the fact re-pads (pad reappearance through a
    // bushy subtree)
    Topics.appendJson(Seq(RjCust("c1", "Anna")).toDF(), "rjb_cust_feed", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq(null, null)),
      "a revision breaking the subtree match must re-pad the fact")
    // the new name's badge arrives: upgrade again
    Topics.appendJson(Seq(("Anna", "SILVER")).toDF("name", "badge"),
      "rjb_badge_feed", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq("Anna", "SILVER")))
    // a second fact joins the CURRENT composed state directly
    Topics.appendJson(Seq(RjOrd(2, "c1", "p1", 20.0)).toDF(), "rjb_ord_feed", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq("Anna", "SILVER"), 2L -> Seq("Anna", "SILVER")))
    r.stopAll()
  }

  test("self-join PLUS subquery blocklist: renamed plans evaluate subquery brackets with fresh ids per term (round 18)") {
    // the shared-parsed-tree hazard: a reused tree's parse-time
    // subquery ExprIds are identical across the brute pre/post
    // analyses, desynchronizing the unioned terms — freshIds must
    // regenerate them per evaluation
    val conf = newConf("rjsb")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("rjsb_cust_feed", custSchema)
    r.registerTopicSource("rjsb_ord_feed", ordSchema)
    r.registerTopicSource("rjsb_block_feed", StructType(Seq(
      StructField("uid", StringType), StructField("__op", StringType))))
    r.runScript("""
      CREATE TABLE rjsb_cust (cid STRING, name STRING,
        PRIMARY KEY (cid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjsb_cust SELECT cid, name FROM rjsb_cust_feed;
      CREATE TABLE rjsb_block (uid STRING, __op STRING,
        PRIMARY KEY (uid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjsb_block SELECT uid, __op FROM rjsb_block_feed;
      CREATE TABLE rjsb_enr (order_id BIGINT, cust_name STRING, amount2 DOUBLE,
        __op STRING) WITH ('changelog.mode' = 'retract');
      INSERT INTO rjsb_enr (order_id, cust_name, amount2)
      SELECT o.order_id, c.name, o.amount + o2.amount
      FROM rjsb_ord_feed o
      JOIN rjsb_ord_feed o2 ON o.order_id = o2.order_id
      JOIN rjsb_cust c ON o.cid = c.cid
      WHERE NOT EXISTS (SELECT 1 FROM rjsb_block b WHERE b.uid = o.cid)""")
    def state() = net("rjsb_enr", "order_id", "cust_name", "amount2")
    Topics.appendJson(Seq(RjCust("c1", "Ann")).toDF(), "rjsb_cust_feed", conf, Nil, 1)
    r.processAllAvailable()
    Topics.appendJson(Seq(RjOrd(1, "c1", "p1", 10.0)).toDF(), "rjsb_ord_feed", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq("Ann", 20.0)))
    // blocking c1 must RETRACT the self-joined pair (the neg term of
    // the brute bracket reading the true PRE state is exactly what a
    // shared subquery id corrupts)
    Topics.appendJson(Seq(("c1", "+I")).toDF("uid", "__op"), "rjsb_block_feed", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Map.empty,
      "blocking must retract the self-joined pair through the subquery bracket")
    // unblocking re-admits at current dim state
    Topics.appendJson(Seq(("c1", "-D")).toDF("uid", "__op"), "rjsb_block_feed", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq("Ann", 20.0)),
      "unblocking must re-admit the pair")
    r.stopAll()
  }

  test("SELECT * over the joined sides rejects at submission (the hidden sign column would break arity mid-stream)") {
    val conf = newConf("rjst")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("rjst_cust_feed", custSchema)
    r.registerTopicSource("rjst_ord_feed", ordSchema)
    r.runScript("""
      CREATE TABLE rjst_cust (cid STRING, name STRING,
        PRIMARY KEY (cid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjst_cust SELECT cid, name FROM rjst_cust_feed;
      CREATE TABLE rjst_enr (order_id BIGINT, cid STRING, pid STRING,
        amount DOUBLE, cid2 STRING, name STRING, __op STRING)
        WITH ('changelog.mode' = 'retract')""")
    val err = intercept[IllegalArgumentException](
      r.run("""INSERT INTO rjst_enr (order_id, cid, pid, amount, cid2, name)
        SELECT * FROM rjst_ord_feed o JOIN rjst_cust c ON o.cid = c.cid"""))
    assert(err.getMessage.contains("star expansion"),
      s"wrong rejection: ${err.getMessage}")
    r.stopAll()
  }

  test("STATIC batch view self-joined in a regular join: occurrence sites resolve one snapshot, no main-session leak (ADVICE r18)") {
    val conf = newConf("rjsv")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("rjsv_cust_feed", custSchema)
    r.registerTopicSource("rjsv_ord_feed", ordSchema)
    Seq(("c1", "T-one"), ("c2", "T-two")).toDF("cid", "tag")
      .createOrReplaceTempView("rjsv_sdim")
    r.runScript("""
      CREATE TABLE rjsv_cust (cid STRING, name STRING,
        PRIMARY KEY (cid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjsv_cust SELECT cid, name FROM rjsv_cust_feed;
      CREATE TABLE rjsv_enr (order_id BIGINT, cust_name STRING,
        t1 STRING, t2 STRING, __op STRING) WITH ('changelog.mode' = 'retract');
      INSERT INTO rjsv_enr (order_id, cust_name, t1, t2)
      SELECT o.order_id, c.name, d1.tag, d2.tag
      FROM rjsv_ord_feed o
      JOIN rjsv_cust c ON o.cid = c.cid
      JOIN rjsv_sdim d1 ON o.cid = d1.cid
      JOIN rjsv_sdim d2 ON o.pid = d2.cid""")
    // the synthetic occurrence view (second rjsv_sdim site) must NOT
    // linger in the MAIN session after submission — it used to leak
    // across statements and pin a stale plan
    assert(!spark.catalog.tableExists("rjsv_sdim__rjoc2"),
      "the static occurrence view leaked into the main session")
    def state() = net("rjsv_enr", "order_id", "cust_name", "t1", "t2")
    Topics.appendJson(Seq(RjCust("c1", "Ann"), RjCust("c2", "Bob")).toDF(),
      "rjsv_cust_feed", conf, Nil, 1)
    r.processAllAvailable()
    Topics.appendJson(Seq(RjOrd(1, "c1", "c2", 10.0)).toDF(),
      "rjsv_ord_feed", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq("Ann", "T-one", "T-two")),
      "both static sites must enrich")
    // the user REPLACES the static view mid-stream: the statement keeps
    // its submission-time snapshot CONSISTENTLY on both sites — a new
    // fact must never join one old and one new version of the table
    Seq(("c1", "X-one"), ("c2", "X-two")).toDF("cid", "tag")
      .createOrReplaceTempView("rjsv_sdim")
    Topics.appendJson(Seq(RjOrd(2, "c2", "c1", 20.0)).toDF(),
      "rjsv_ord_feed", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq("Ann", "T-one", "T-two"),
      2L -> Seq("Bob", "T-two", "T-one")),
      s"occurrence sites diverged on the static view's version: ${state()}")
    // the CHANGELOG dim still revises past rows (the regular join is
    // intact with static sides present)
    Topics.appendJson(Seq(RjCust("c1", "Anna")).toDF(),
      "rjsv_cust_feed", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Map(1L -> Seq("Anna", "T-one", "T-two"),
      2L -> Seq("Bob", "T-two", "T-one")))
    r.stopAll()
    spark.catalog.dropTempView("rjsv_sdim")
  }

  test("progressSummary surfaces per-side join state size: fact-log rows/bytes and dim snapshot rows (VERDICT r18 item 6)") {
    val conf = newConf("rjobs")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("rjobs_cust_feed", custOpSchema)
    r.registerTopicSource("rjobs_ord_feed", ordSchema)
    r.runScript("""
      CREATE TABLE rjobs_cust (cid STRING, name STRING, __op STRING,
        PRIMARY KEY (cid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjobs_cust SELECT cid, name, __op FROM rjobs_cust_feed;
      CREATE TABLE rjobs_enr (order_id BIGINT, cust_name STRING,
        amount DOUBLE, __op STRING) WITH ('changelog.mode' = 'retract');
      INSERT INTO rjobs_enr (order_id, cust_name, amount)
      SELECT o.order_id, c.name, o.amount
      FROM rjobs_ord_feed o JOIN rjobs_cust c ON o.cid = c.cid""")
    Topics.appendJson(Seq(RjCustOp("c1", "Ann", "+I"), RjCustOp("c2", "Bob", "+I")).toDF(),
      "rjobs_cust_feed", conf, Nil, 1)
    r.processAllAvailable()
    Topics.appendJson(Seq(RjOrd(1, "c1", "p1", 10.0), RjOrd(2, "c2", "p1", 20.0),
      RjOrd(3, "c1", "p1", 30.0)).toDF().drop("pid"), "rjobs_ord_feed", conf, Nil, 1)
    r.processAllAvailable()
    val join = r.progressSummary.filter(_.joinState.nonEmpty)
    assert(join.size === 1, s"exactly one statement keeps join state: $join")
    val byTable = join.head.joinState.map(s => s.table -> s).toMap
    val factLog = byTable("rjobs_ord_feed")
    assert(factLog.kind === "log" && factLog.rows === 3L && factLog.bytes > 0L,
      s"the fact log must size its 3 appended rows: $factLog")
    val dim = byTable("rjobs_cust")
    assert(dim.kind === "snapshot" && dim.rows === 2L && dim.bytes > 0L,
      s"the dim snapshot must size its 2 net entries: $dim")
    // state growth is visible: more facts, bigger log
    Topics.appendJson(Seq(RjOrd(4, "c2", "p1", 40.0)).toDF().drop("pid"),
      "rjobs_ord_feed", conf, Nil, 2)
    r.processAllAvailable()
    val grown = r.progressSummary.filter(_.joinState.nonEmpty).head
      .joinState.find(_.table == "rjobs_ord_feed").get
    assert(grown.rows === 4L,
      s"the log row count must track appended facts: $grown")
    r.stopAll()
  }

  test("upsert-target joined INSERT keeps the snapshot path; aggregate over a retract target still rejects cleanly") {
    val conf = newConf("rjg")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("rjg_cust_feed", custSchema)
    r.registerTopicSource("rjg_ord_feed", ordSchema)
    r.runScript("""
      CREATE TABLE rjg_cust (cid STRING, name STRING,
        PRIMARY KEY (cid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjg_cust SELECT cid, name FROM rjg_cust_feed;
      CREATE TABLE rjg_latest (order_id BIGINT, cust_name STRING,
        PRIMARY KEY (order_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjg_latest
      SELECT o.order_id, c.name FROM rjg_ord_feed o JOIN rjg_cust c ON o.cid = c.cid""")
    Topics.appendJson(Seq(RjCust("c1", "Ann")).toDF(), "rjg_cust_feed", conf, Nil, 1)
    r.processAllAvailable()
    Topics.appendJson(Seq(RjOrd(1, "c1", "p1", 10.0)).toDF(), "rjg_ord_feed", conf, Nil, 1)
    r.processAllAvailable()
    // snapshot semantics on the upsert target: revision does NOT re-emit
    Topics.appendJson(Seq(RjCust("c1", "Anna")).toDF(), "rjg_cust_feed", conf, Nil, 2)
    r.processAllAvailable()
    assert(spark.table("rjg_latest").as[(Long, String)].collect().toMap === Map(1L -> "Ann"),
      "a PRIMARY-KEY (upsert) target keeps the documented snapshot semantics")
    r.stopAll()
  }

  // ── S6 INNER shape (orders JOIN two upsert dims into a retract
  //    target): upsert sides normalize against the join's own snapshot,
  //    so the query keeps no Spark state-store operator ──

  /** A runner for `o JOIN cust JOIN prod` into `<tag>_enr`, drained
    * once over two customers, one product and two orders. */
  private def s6(tag: String): (StreamingStatementRunner, TopicConf) = {
    val conf = newConf(tag)
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource(s"${tag}_cust_feed", custOpSchema)
    r.registerTopicSource(s"${tag}_prod_feed", StructType(prodSchema.fields :+
      StructField("__op", StringType)))
    r.registerTopicSource(s"${tag}_ord_feed", ordSchema)
    r.runScript(s"""
      CREATE TABLE ${tag}_cust (cid STRING, name STRING, __op STRING,
        PRIMARY KEY (cid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO ${tag}_cust SELECT cid, name, __op FROM ${tag}_cust_feed;
      CREATE TABLE ${tag}_prod (pid STRING, brand STRING, price DOUBLE,
        __op STRING, PRIMARY KEY (pid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO ${tag}_prod SELECT pid, brand, price, __op FROM ${tag}_prod_feed;
      CREATE TABLE ${tag}_enr (order_id BIGINT, cust_name STRING,
        brand STRING, amount DOUBLE, __op STRING) WITH ('changelog.mode' = 'retract');
      INSERT INTO ${tag}_enr (order_id, cust_name, brand, amount)
      SELECT o.order_id, c.name, p.brand, o.amount FROM ${tag}_ord_feed o
      JOIN ${tag}_cust c ON o.cid = c.cid
      JOIN ${tag}_prod p ON o.pid = p.pid""")
    Topics.appendJson(Seq(RjCustOp("c1", "Ann", "+I"), RjCustOp("c2", "Bob", "+I")).toDF(),
      s"${tag}_cust_feed", conf, Nil, 1)
    Topics.appendJson(Seq(("p1", "Nike", 50.0, "+I")).toDF("pid", "brand", "price", "__op"),
      s"${tag}_prod_feed", conf, Nil, 1)
    Topics.appendJson(Seq(RjOrd(1, "c1", "p1", 10.0), RjOrd(2, "c2", "p1", 20.0)).toDF(),
      s"${tag}_ord_feed", conf, Nil, 1)
    r.processAllAvailable()
    (r, conf)
  }

  /** Append customer records in ONE file in the given (offset) order,
    * drain, and return how many records the drain sank. */
  private def reviseCust(r: StreamingStatementRunner, conf: TopicConf, tag: String,
                         rows: RjCustOp*): Long = {
    val before = spark.table(s"${tag}_enr").count()
    Topics.appendJson(rows.toDF().coalesce(1), s"${tag}_cust_feed", conf, Nil, 2)
    r.processAllAvailable()
    spark.table(s"${tag}_enr").count() - before
  }

  /** The folded net equals the batch join over the FINAL dims, and the
    * join query keeps no state-store operator. */
  private def assertS6Law(r: StreamingStatementRunner, tag: String): Unit = {
    val orders = Seq(RjOrd(1, "c1", "p1", 10.0), RjOrd(2, "c2", "p1", 20.0)).toDF()
    val expected = orders
      .join(spark.table(s"${tag}_cust"), "cid")
      .join(spark.table(s"${tag}_prod"), "pid")
      .select(col("order_id"), col("name"), col("brand"), col("amount"))
      .collect().map(x => x.getLong(0) -> x.toSeq.drop(1)).toMap
    assert(net(s"${tag}_enr", "order_id", "cust_name", "brand", "amount") === expected)
    val join = r.activeQueries.filter(_.name.contains(s"${tag}_enr"))
    assert(join.size === 1 && join.head.lastProgress != null)
    assert(join.head.lastProgress.stateOperators.isEmpty,
      "upsert dims normalize against the join snapshot: no state-store operator")
  }

  test("S6 upsert dim: several revisions of one key in one micro-batch — the latest offset wins") {
    val (r, conf) = s6("rjn1")
    val sunk = reviseCust(r, conf, "rjn1", RjCustOp("c1", "A1", "+U"),
      RjCustOp("c1", "A2", "+U"), RjCustOp("c1", "A3", "+U"))
    assert(net("rjn1_enr", "order_id", "cust_name", "brand", "amount")(1L) ===
      Seq("A3", "Nike", 10.0))
    assert(sunk === 2L, "one retraction of Ann's row and one add of A3's — intermediate revisions net away")
    assertS6Law(r, "rjn1")
    r.stopAll()
  }

  test("S6 upsert dim: a revision followed by a tombstone in one micro-batch retracts the key's rows") {
    val (r, conf) = s6("rjn2")
    val sunk = reviseCust(r, conf, "rjn2", RjCustOp("c1", "Zed", "+U"),
      RjCustOp("c1", "Zed", "-D"))
    assert(!net("rjn2_enr", "order_id", "cust_name", "brand", "amount").contains(1L))
    assert(sunk === 1L, "only the retraction of Ann's joined row")
    assertS6Law(r, "rjn2")
    r.stopAll()
  }

  test("S6 upsert dim: a no-op revision sinks no records") {
    val (r, conf) = s6("rjn3")
    assert(reviseCust(r, conf, "rjn3", RjCustOp("c1", "Ann", "+U")) === 0L)
    assertS6Law(r, "rjn3")
    r.stopAll()
  }

  test("S6 upsert dim: a tombstone for a key never seen sinks no records") {
    val (r, conf) = s6("rjn4")
    assert(reviseCust(r, conf, "rjn4", RjCustOp("c9", "x", "-D")) === 0L)
    assertS6Law(r, "rjn4")
    r.stopAll()
  }

  test("S6 upsert dim fed by a merge-aggregate: a __keep=false record retracts like a tombstone") {
    val conf = newConf("rjn5")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("rjn5_rev_feed", StructType(Seq(
      StructField("rid", LongType), StructField("cid", StringType),
      StructField("pts", DoubleType), StructField("op", StringType))))
    r.registerTopicSource("rjn5_cust_feed", custOpSchema)
    r.registerTopicSource("rjn5_ord_feed", ordSchema)
    // rjn5_tier is a merge-aggregate target (max forces the value-set
    // route): a group failing HAVING is written with __keep=false
    r.runScript("""
      CREATE TABLE rjn5_rev (rid BIGINT, cid STRING, pts DOUBLE, __op STRING,
        PRIMARY KEY (rid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjn5_rev
      SELECT rid, cid, pts, CASE WHEN op = 'DEL' THEN '-D' ELSE '+U' END FROM rjn5_rev_feed;
      CREATE TABLE rjn5_tier (cid STRING, n BIGINT, mx DOUBLE,
        PRIMARY KEY (cid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjn5_tier
      SELECT cid, count(*) AS n, max(pts) AS mx FROM rjn5_rev
      GROUP BY cid HAVING count(*) % 2 = 1;
      CREATE TABLE rjn5_cust (cid STRING, name STRING, __op STRING,
        PRIMARY KEY (cid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rjn5_cust SELECT cid, name, __op FROM rjn5_cust_feed;
      CREATE TABLE rjn5_enr (order_id BIGINT, cust_name STRING, n BIGINT,
        mx DOUBLE, __op STRING) WITH ('changelog.mode' = 'retract');
      INSERT INTO rjn5_enr (order_id, cust_name, n, mx)
      SELECT o.order_id, c.name, t.n, t.mx FROM rjn5_ord_feed o
      JOIN rjn5_cust c ON o.cid = c.cid
      JOIN rjn5_tier t ON o.cid = t.cid""")
    def feedRev(epoch: Int, rows: (Long, String, Double, String)*): Unit = {
      Topics.appendJson(rows.toSeq.toDF("rid", "cid", "pts", "op"),
        "rjn5_rev_feed", conf, Nil, epoch)
      r.processAllAvailable()
    }
    def state() = net("rjn5_enr", "order_id", "cust_name", "n", "mx")
    val orders = Seq(RjOrd(1, "c1", "p1", 10.0), RjOrd(2, "c2", "p1", 20.0))
    Topics.appendJson(Seq(RjCustOp("c1", "Ann", "+I"), RjCustOp("c2", "Bob", "+I")).toDF(),
      "rjn5_cust_feed", conf, Nil, 1)
    Topics.appendJson(orders.toDF(), "rjn5_ord_feed", conf, Nil, 1)
    feedRev(1, (1L, "c1", 5.0, "+"), (2L, "c2", 7.0, "+"))
    assert(state() === Map(1L -> Seq("Ann", 1L, 5.0), 2L -> Seq("Bob", 1L, 7.0)))
    // c1's second revision → n = 2 fails HAVING: the tier writes c1
    // with __keep=false, which the join must read as a tombstone
    feedRev(2, (3L, "c1", 9.0, "+"))
    assert(state() === Map(2L -> Seq("Bob", 1L, 7.0)),
      "a __keep=false dim record must retract the key's joined rows")
    // a third revision → n = 3 passes again: the row comes back
    feedRev(3, (4L, "c1", 2.0, "+"))
    assert(state() === Map(1L -> Seq("Ann", 3L, 9.0), 2L -> Seq("Bob", 1L, 7.0)))
    val expected = orders.toDF()
      .join(spark.table("rjn5_cust"), "cid").join(spark.table("rjn5_tier"), "cid")
      .select(col("order_id"), col("name"), col("n"), col("mx"))
      .collect().map(x => x.getLong(0) -> x.toSeq.drop(1)).toMap
    assert(state() === expected)
    val join = r.activeQueries.filter(_.name.contains("rjn5_enr"))
    assert(join.size === 1 && join.head.lastProgress.stateOperators.isEmpty)
    r.stopAll()
  }
}
