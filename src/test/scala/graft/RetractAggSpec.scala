package graft

import graft.exec.StreamingStatementRunner
import graft.sources.{TopicConf, Topics}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, sum, when}
import org.apache.spark.sql.types._

final case class RaRow(k: String, grp: String, amt: Double)

/** Retraction-aware continuous aggregates over promoted changelog
  * drivers (VERDICT r13 item 1 — the Flink semantic the reference's
  * aggregation lab exercises: `GROUP BY` over the upsert table
  * `shoe_customers_keyed`, `terraform/lab-aggregations/main.tf:396,431`):
  * ChangelogNormalize expands each upsert revision into retract-prior +
  * add-new; RetractAggRewrite folds the sign into count/sum/avg; a
  * group whose members are all retracted is DELETED downstream. Plus
  * the round-14 guard set: hidden/subquery aggregates, non-foldable
  * functions, DISTINCT, snapshot-join aggregates, and multi-writer
  * upsert targets all reject loudly. */
class RetractAggSpec extends SparkSpec {
  import spark.implicits._

  private def newConf(tag: String): TopicConf =
    TopicConf(tempDir(s"graft-$tag"))

  private val srcSchema = StructType(Seq(
    StructField("k", StringType), StructField("grp", StringType),
    StructField("amt", DoubleType)))

  /** S1-style upsert pipeline + the continuous aggregate under test:
    * feed → acct (PK k) → grp_stats (PK grp). `grp = 'DEL'` rows in
    * the feed become tombstones on acct. */
  private def upsertAggRunner(conf: TopicConf, src: String): StreamingStatementRunner = {
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource(src, srcSchema)
    r.runScript(s"""
      CREATE TABLE acct (k STRING, grp STRING, amt DOUBLE, __op STRING,
        PRIMARY KEY (k) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO acct
      SELECT k, grp, amt, CASE WHEN grp = 'DEL' THEN '-D' ELSE '+U' END FROM $src;
      CREATE TABLE grp_stats (grp STRING, n BIGINT, total DOUBLE, avg_amt DOUBLE,
        PRIMARY KEY (grp) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO grp_stats
      SELECT grp, count(*) AS n,
             CAST(sum(CAST(amt AS DECIMAL(18,4))) AS DOUBLE) AS total,
             avg(amt) AS avg_amt
      FROM acct GROUP BY grp""")
    r
  }

  private def stats(): Map[String, (Long, Double, Double)] =
    spark.table("grp_stats").as[(String, Long, Double, Double)]
      .collect().map(t => t._1 -> ((t._2, t._3, t._4))).toMap

  test("upsert driver: count/sum/avg fold revisions and tombstones; emptied groups are deleted") {
    val conf = newConf("ra-upsert")
    val r = upsertAggRunner(conf, "ra_src")

    // epoch 1: k1,k2 → g1; k3 → g2
    Topics.appendJson(Seq(RaRow("k1", "g1", 10.0), RaRow("k2", "g1", 20.0),
      RaRow("k3", "g2", 5.0)).toDF(), "ra_src", conf, Nil, 1)
    r.processAllAvailable()
    assert(stats() === Map("g1" -> ((2L, 30.0, 15.0)), "g2" -> ((1L, 5.0, 5.0))))

    // epoch 2: k2 REVISES g1→g2 — retract from g1, add to g2 (a
    // revision-counting aggregate would report g1 n=2, g2 n=2)
    Topics.appendJson(Seq(RaRow("k2", "g2", 7.0)).toDF(), "ra_src", conf, Nil, 2)
    r.processAllAvailable()
    assert(stats() === Map("g1" -> ((1L, 10.0, 10.0)), "g2" -> ((2L, 12.0, 6.0))))

    // epoch 3: tombstone k3 — its stored g2 membership retracts
    Topics.appendJson(Seq(RaRow("k3", "DEL", 0.0)).toDF(), "ra_src", conf, Nil, 3)
    r.processAllAvailable()
    assert(stats() === Map("g1" -> ((1L, 10.0, 10.0)), "g2" -> ((1L, 7.0, 7.0))))

    // epoch 4: tombstone k1 — g1 EMPTIES and must be DELETED from the
    // target (Flink's -D), not left as a stale zero-row
    Topics.appendJson(Seq(RaRow("k1", "DEL", 0.0)).toDF(), "ra_src", conf, Nil, 4)
    r.processAllAvailable()
    assert(stats() === Map("g2" -> ((1L, 7.0, 7.0))),
      "a fully-retracted group must tombstone its key downstream")

    // epoch 5: g1 resurrects with a fresh row
    Topics.appendJson(Seq(RaRow("k4", "g1", 3.0)).toDF(), "ra_src", conf, Nil, 5)
    r.processAllAvailable()
    assert(stats() === Map("g1" -> ((1L, 3.0, 3.0)), "g2" -> ((1L, 7.0, 7.0))))
    r.stopAll()
  }

  test("retract driver: the __op tag is the sign channel; -U rows retract downstream state") {
    val conf = newConf("ra-retract")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("rr_src", StructType(Seq(
      StructField("grp", StringType), StructField("amt", DoubleType),
      StructField("__op", StringType))))
    r.runScript("""
      CREATE TABLE rlog (grp STRING, amt DOUBLE, __op STRING)
        WITH ('changelog.mode' = 'retract');
      INSERT INTO rlog SELECT grp, amt, __op FROM rr_src;
      CREATE TABLE rstats (grp STRING, n BIGINT, total DOUBLE,
        PRIMARY KEY (grp) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rstats
      SELECT grp, count(*) AS n,
             CAST(sum(CAST(amt AS DECIMAL(18,4))) AS DOUBLE) AS total
      FROM rlog GROUP BY grp""")

    Topics.appendJson(Seq(("g1", 10.0, "+I"), ("g1", 20.0, "+I"))
      .toDF("grp", "amt", "__op"), "rr_src", conf, Nil, 1)
    r.processAllAvailable()
    assert(spark.table("rstats").as[(String, Long, Double)].collect().toSet
      === Set(("g1", 2L, 30.0)))

    // a -U/+U pair moves one row from g1 to g2 across a batch boundary
    Topics.appendJson(Seq(("g1", 20.0, "-U"), ("g2", 20.0, "+U"))
      .toDF("grp", "amt", "__op"), "rr_src", conf, Nil, 2)
    r.processAllAvailable()
    assert(spark.table("rstats").as[(String, Long, Double)].collect().toSet
      === Set(("g1", 1L, 10.0), ("g2", 1L, 20.0)))
    r.stopAll()
  }

  test("guards: non-foldable/distinct/hidden aggregates, joins, update-into-append all reject loudly") {
    val conf = newConf("ra-guards")
    val r = upsertAggRunner(conf, "rg_src")
    Topics.appendJson(Seq(RaRow("k1", "g1", 1.0)).toDF(), "rg_src", conf, Nil, 1)
    r.processAllAvailable()

    r.run("""CREATE TABLE g_bad (grp STRING, x DOUBLE,
             PRIMARY KEY (grp) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS""")
    // CONTINUOUS percentile, percentile_disc and the array-of-
    // percentages form all fold via the multiset merge path (rounds
    // 16-18, q244/q246/q248); the FREQUENCY-column form is the
    // residual degenerate rejection
    val e1 = intercept[IllegalArgumentException](
      r.run("""INSERT INTO g_bad
               SELECT grp, percentile(amt, 0.5, 2)
               FROM acct GROUP BY grp"""))
    assert(e1.getMessage.contains("frequency"))
    // an aggregate hidden in a scalar subquery (an expression, not a
    // plan child — ADVICE r13 item 4) still sees raw revisions
    r.run("CREATE TABLE g_flat (k STRING, grp STRING)")
    val e3 = intercept[IllegalArgumentException](
      r.run("""INSERT INTO g_flat
               SELECT k, grp FROM acct WHERE amt > (SELECT avg(amt) FROM acct)"""))
    assert(e3.getMessage.contains("hidden in a subquery"))
    // the folded aggregate is an UPDATE stream: an append (no-PK)
    // target must reject, as Flink's update-mode sink contract does
    val e5 = intercept[IllegalArgumentException](
      r.run("INSERT INTO g_flat SELECT grp, CAST(count(*) AS STRING) FROM acct GROUP BY grp"))
    assert(e5.getMessage.contains("PRIMARY KEY"))
    r.stopAll()
  }

  test("guards: second upsert writers reject loudly; rejected statements release no slot") {
    implicit val sqlCtx = spark.sqlContext
    val conf = newConf("ra-guards2")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    val orders = MemoryStream[SOrd]
    orders.toDF().createOrReplaceTempView("ra_orders_s")
    Seq(("p1", "shoes")).toDF("pid", "cat").createOrReplaceTempView("ra_dim")
    r.run("""CREATE TABLE cat_counts (cat STRING, n BIGINT,
             PRIMARY KEY (cat) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS""")
    // a REJECTED statement (hidden subquery aggregate on the join
    // path) must not claim the writer slot...
    intercept[IllegalArgumentException](
      r.run("""INSERT INTO cat_counts
               SELECT d.cat, count(*) FROM ra_orders_s o
               JOIN ra_dim d ON o.product_id = d.pid
               WHERE o.order_id > (SELECT min(order_id) FROM ra_orders_s)
               GROUP BY d.cat"""))
    // ...so the corrected statement still runs as the FIRST writer
    r.run("INSERT INTO cat_counts SELECT product_id, count(*) FROM ra_orders_s GROUP BY product_id")
    // one writer per upsert target: epoch packing is per-statement
    val e2 = intercept[IllegalArgumentException](
      r.run("INSERT INTO cat_counts SELECT customer_id, count(*) FROM ra_orders_s GROUP BY customer_id"))
    assert(e2.getMessage.contains("second INSERT"))
    r.stopAll()
  }

  test("TUMBLE TVF over a promoted upsert driver: a revision moves between windows retraction-aware") {
    // the windowing-TVF rewrite's FROM-subquery is a star projection,
    // so the driver's changelog sign rides through it and the windowed
    // GROUP BY folds on the retract path for free: revising a key's
    // event time RETRACTS it from its old hour and adds it to the new
    val conf = newConf("ra-tvf")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("tv_src", StructType(Seq(
      StructField("k", StringType), StructField("ts", TimestampType))))
    r.runScript("""
      CREATE TABLE tv_latest (k STRING, ts TIMESTAMP,
        PRIMARY KEY (k) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO tv_latest SELECT k, ts FROM tv_src;
      CREATE TABLE tv_hourly (window_start TIMESTAMP, n BIGINT,
        PRIMARY KEY (window_start) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO tv_hourly
      SELECT window_start, count(*) AS n
      FROM TABLE(TUMBLE(TABLE tv_latest, DESCRIPTOR(ts), INTERVAL '1' HOUR))
      GROUP BY window_start""")
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:30:00")
    def windows(): Map[Long, Long] = spark.table("tv_hourly")
      .select(org.apache.spark.sql.functions.unix_micros(col("window_start")), col("n"))
      .as[(Long, Long)].collect().toMap
    def hourUs(h: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00").getTime * 1000L
    Topics.appendJson(Seq(("a", ts(10)), ("b", ts(10)), ("c", ts(11)))
      .toDF("k", "ts"), "tv_src", conf, Nil, 1)
    r.processAllAvailable()
    assert(windows() === Map(hourUs(10) -> 2L, hourUs(11) -> 1L))
    // revise a: 10:30 → 12:30 — hour 10 drops to 1; hour 12 appears
    Topics.appendJson(Seq(("a", ts(12))).toDF("k", "ts"), "tv_src", conf, Nil, 2)
    r.processAllAvailable()
    assert(windows() === Map(hourUs(10) -> 1L, hourUs(11) -> 1L, hourUs(12) -> 1L),
      "a latest-ts revision must retract from its old window")
    // revise b into hour 11 — hour 10 EMPTIES and must be deleted
    Topics.appendJson(Seq(("b", ts(11))).toDF("k", "ts"), "tv_src", conf, Nil, 3)
    r.processAllAvailable()
    assert(windows() === Map(hourUs(11) -> 2L, hourUs(12) -> 1L))
    r.stopAll()
  }

  test("HAVING over a retract-folded aggregate: groups leave the table when the predicate stops holding") {
    val conf = newConf("ra-having")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("rh_src", srcSchema)
    r.runScript("""
      CREATE TABLE rh_acct (k STRING, grp STRING, amt DOUBLE, __op STRING,
        PRIMARY KEY (k) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rh_acct
      SELECT k, grp, amt, CASE WHEN grp = 'DEL' THEN '-D' ELSE '+U' END FROM rh_src;
      CREATE TABLE rh_big (grp STRING, n BIGINT,
        PRIMARY KEY (grp) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rh_big
      SELECT grp, count(*) AS n FROM rh_acct GROUP BY grp HAVING count(*) >= 2""")
    def state() = spark.table("rh_big").as[(String, Long)].collect().toMap

    Topics.appendJson(Seq(RaRow("k1", "g1", 1.0), RaRow("k2", "g1", 2.0),
      RaRow("k3", "g2", 3.0)).toDF(), "rh_src", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Map("g1" -> 2L), "g2 (n=1) must not pass HAVING")

    // g2 gains a member → enters the predicate
    Topics.appendJson(Seq(RaRow("k4", "g2", 4.0)).toDF(), "rh_src", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Map("g1" -> 2L, "g2" -> 2L))

    // k1 revises away from g1 → g1 drops to n=1 and must be DELETED
    // from the target, not left as a stale passing row
    Topics.appendJson(Seq(RaRow("k1", "g2", 1.0)).toDF(), "rh_src", conf, Nil, 3)
    r.processAllAvailable()
    assert(state() === Map("g2" -> 3L),
      "a group whose HAVING predicate stops holding must be retracted")
    r.stopAll()
  }

  test("retract-mode driver through a chained JOIN: -U/+U pairs flow, tags intact, dims enriched") {
    // VERDICT r13 item 3's join shape: a statement whose FROM consumes
    // a retract-mode table joined to an upsert dim — every -U/+U
    // revision record must flow through the snapshot join exactly once
    // with its __op tag intact and the dim's CURRENT state attached
    val conf = newConf("ra-rjoin")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("rj_src", StructType(Seq(
      StructField("grp", StringType), StructField("amt", DoubleType),
      StructField("__op", StringType))))
    r.registerTopicSource("rj_dim_src", StructType(Seq(
      StructField("g", StringType), StructField("label", StringType))))
    r.runScript("""
      CREATE TABLE rj_log (grp STRING, amt DOUBLE, __op STRING)
        WITH ('changelog.mode' = 'retract');
      INSERT INTO rj_log SELECT grp, amt, __op FROM rj_src;
      CREATE TABLE rj_dim (g STRING, label STRING,
        PRIMARY KEY (g) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO rj_dim SELECT g, label FROM rj_dim_src;
      CREATE TABLE rj_out (grp STRING, amt DOUBLE, label STRING, __op STRING)
        WITH ('changelog.mode' = 'retract');
      INSERT INTO rj_out
      SELECT l.grp, l.amt, d.label, l.__op
      FROM rj_log l JOIN rj_dim d ON l.grp = d.g""")
    Topics.appendJson(Seq(("g1", "alpha")).toDF("g", "label"), "rj_dim_src", conf, Nil, 1)
    r.processAllAvailable()
    Topics.appendJson(Seq(("g1", 10.0, "+I")).toDF("grp", "amt", "__op"),
      "rj_src", conf, Nil, 1)
    r.processAllAvailable()
    Topics.appendJson(Seq(("g1", 10.0, "-U"), ("g1", 25.0, "+U"))
      .toDF("grp", "amt", "__op"), "rj_src", conf, Nil, 2)
    r.processAllAvailable()
    val got = spark.table("rj_out").as[(String, Double, String, String)].collect().toSet
    assert(got === Set(("g1", 10.0, "alpha", "+I"), ("g1", 10.0, "alpha", "-U"),
      ("g1", 25.0, "alpha", "+U")),
      s"every revision record must cross the join once, tag intact: $got")
    // the downstream retract table folds to the same net as the driver
    val net = spark.table("rj_out")
      .groupBy("grp")
      .agg(sum(when(col("__op").isin("-U", "-D"), -col("amt")).otherwise(col("amt"))).as("net"))
      .as[(String, Double)].collect().toMap
    assert(net === Map("g1" -> 25.0))
    r.stopAll()
  }

  test("tombstones skipped by a non-aggregating promoted consumer are observable, never silent") {
    val conf = newConf("ra-tomb")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("rt_src", srcSchema)
    // acct is upsert; the chained flat consumer has no retraction
    // channel, so DELETEs cannot flow — the runner must surface them
    r.runScript("""
      CREATE TABLE acct_t (k STRING, grp STRING, amt DOUBLE, __op STRING,
        PRIMARY KEY (k) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO acct_t
      SELECT k, grp, amt, CASE WHEN grp = 'DEL' THEN '-D' ELSE '+U' END FROM rt_src;
      CREATE TABLE flat_t (k STRING, grp STRING);
      INSERT INTO flat_t SELECT k, grp FROM acct_t""")
    Topics.appendJson(Seq(RaRow("k1", "g1", 1.0), RaRow("k2", "g1", 2.0)).toDF(),
      "rt_src", conf, Nil, 1)
    r.processAllAvailable()
    assert(r.tombstonesDroppedRecent === 0L)
    Topics.appendJson(Seq(RaRow("k1", "DEL", 0.0)).toDF(), "rt_src", conf, Nil, 2)
    r.processAllAvailable()
    assert(r.tombstonesDroppedRecent === 1L,
      "the dropped tombstone must surface in the progress metrics")
    r.stopAll()
  }
}
