package graft

import graft.exec.StreamingStatementRunner
import graft.sources.{TopicConf, Topics}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.avg
import org.apache.spark.sql.types._

final case class VsRow(k: String, grp: String, amt: Double)

/** Retractable min/max and exact DISTINCT aggregates over changelog
  * drivers (round 14, closing the last rejected foldable shapes): a
  * per-(group, value) net-count multiset rides a helper topic next to
  * the target (Flink's retractable MIN/MAX and exact distinct
  * aggregates keep the same state), merged per batch with the same
  * replay-idempotent offset discipline as the main merge path, and the
  * stats are RECOMPUTED over live values for the touched groups. */
class ValueSetAggSpec extends SparkSpec {
  import spark.implicits._

  private def newConf(tag: String): TopicConf =
    TopicConf(tempDir(s"graft-$tag"))

  private val srcSchema = StructType(Seq(
    StructField("k", StringType), StructField("grp", StringType),
    StructField("amt", DoubleType)))

  private def runner(conf: TopicConf, src: String, aggSelect: String): StreamingStatementRunner = {
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource(src, srcSchema)
    r.runScript(s"""
      CREATE TABLE vs_acct (k STRING, grp STRING, amt DOUBLE, __op STRING,
        PRIMARY KEY (k) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO vs_acct
      SELECT k, grp, amt, CASE WHEN grp = 'DEL' THEN '-D' ELSE '+U' END FROM $src;
      $aggSelect""")
    r
  }

  test("retractable min/max over an upsert driver: retracting the current min recomputes from the rest") {
    val conf = newConf("vs-minmax")
    val r = runner(conf, "vs_src1", """
      CREATE TABLE vs_extremes (grp STRING, n BIGINT, min_amt DOUBLE, max_amt DOUBLE,
        PRIMARY KEY (grp) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO vs_extremes
      SELECT grp, count(*) AS n, min(amt) AS min_amt, max(amt) AS max_amt
      FROM vs_acct GROUP BY grp""")
    def state() = spark.table("vs_extremes")
      .as[(String, Long, Double, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap

    Topics.appendJson(Seq(VsRow("k1", "g1", 10.0), VsRow("k2", "g1", 20.0),
      VsRow("k3", "g1", 30.0)).toDF(), "vs_src1", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Map("g1" -> ((3L, 10.0, 30.0))))

    // k1 held the MIN — its revision must force a recompute to 20,
    // which a naive min-merge (min of old-min and new values) cannot do
    Topics.appendJson(Seq(VsRow("k1", "g1", 25.0)).toDF(), "vs_src1", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Map("g1" -> ((3L, 20.0, 30.0))),
      "retracting the current min must recompute from the remaining values")

    // tombstone k3 (the MAX holder)
    Topics.appendJson(Seq(VsRow("k3", "DEL", 0.0)).toDF(), "vs_src1", conf, Nil, 3)
    r.processAllAvailable()
    assert(state() === Map("g1" -> ((2L, 20.0, 25.0))))

    // k2 moves to g2: g1 keeps only k1
    Topics.appendJson(Seq(VsRow("k2", "g2", 5.0)).toDF(), "vs_src1", conf, Nil, 4)
    r.processAllAvailable()
    assert(state() === Map("g1" -> ((1L, 25.0, 25.0)), "g2" -> ((1L, 5.0, 5.0))))
    r.stopAll()
  }

  test("exact count/sum(DISTINCT) over an upsert driver: a duplicated value survives until its LAST holder leaves") {
    val conf = newConf("vs-distinct")
    val r = runner(conf, "vs_src2", """
      CREATE TABLE vs_distinct (grp STRING, n_vals BIGINT, sum_vals DOUBLE,
        PRIMARY KEY (grp) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO vs_distinct
      SELECT grp, count(DISTINCT amt) AS n_vals,
             sum(DISTINCT amt) AS sum_vals
      FROM vs_acct GROUP BY grp""")
    def state() = spark.table("vs_distinct")
      .as[(String, Long, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap

    // k1 and k2 both hold amt=10 — one distinct value
    Topics.appendJson(Seq(VsRow("k1", "g1", 10.0), VsRow("k2", "g1", 10.0),
      VsRow("k3", "g1", 30.0)).toDF(), "vs_src2", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Map("g1" -> ((2L, 40.0))))

    // k1 revises to 20: 10 is STILL held by k2 — distinct {10,20,30}
    Topics.appendJson(Seq(VsRow("k1", "g1", 20.0)).toDF(), "vs_src2", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Map("g1" -> ((3L, 60.0))),
      "a duplicated value must survive while another key still holds it")

    // k2 revises to 20 too: now 10 has no holder — distinct {20,30}
    Topics.appendJson(Seq(VsRow("k2", "g1", 20.0)).toDF(), "vs_src2", conf, Nil, 3)
    r.processAllAvailable()
    assert(state() === Map("g1" -> ((2L, 50.0))))
    r.stopAll()
  }

  test("exact streaming count(DISTINCT) over an external stream (no native Spark form)") {
    implicit val sqlCtx = spark.sqlContext
    val orders = MemoryStream[SOrd]
    orders.toDF().createOrReplaceTempView("vs_orders_s")
    val r = new StreamingStatementRunner(spark, topicConf = Some(newConf("vs-ext")))
    r.run("""CREATE TABLE vs_cust_counts (product_id STRING, n_cust BIGINT,
             PRIMARY KEY (product_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS""")
    r.run("""INSERT INTO vs_cust_counts
             SELECT product_id, count(DISTINCT customer_id) AS n_cust
             FROM vs_orders_s GROUP BY product_id""")
    orders.addData(SOrd(1, "p1", "c1"), SOrd(2, "p1", "c2"), SOrd(3, "p2", "c1"))
    r.processAllAvailable()
    assert(spark.table("vs_cust_counts").as[(String, Long)].collect().toMap
      === Map("p1" -> 2L, "p2" -> 1L))
    // a repeat customer in a LATER batch must not inflate the count
    orders.addData(SOrd(4, "p1", "c1"), SOrd(5, "p1", "c3"))
    r.processAllAvailable()
    assert(spark.table("vs_cust_counts").as[(String, Long)].collect().toMap
      === Map("p1" -> 3L, "p2" -> 1L),
      "cross-batch duplicate values must not re-count")
    r.stopAll()
  }

  test("first/last fold by ARRIVAL order: retracting the current last falls back to the prior add") {
    val conf = newConf("vs-firstlast")
    val r = runner(conf, "vs_src_fl", """
      CREATE TABLE vs_fl (grp STRING, first_amt DOUBLE, last_amt DOUBLE,
        PRIMARY KEY (grp) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO vs_fl
      SELECT grp, first(amt) AS first_amt, last(amt) AS last_amt
      FROM vs_acct GROUP BY grp""")
    def state() = spark.table("vs_fl")
      .as[(String, Double, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    // one row per epoch: arrival order IS epoch order (within-epoch
    // cross-key offsets depend on partition layout)
    Topics.appendJson(Seq(VsRow("k1", "g1", 10.0)).toDF(), "vs_src_fl", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Map("g1" -> ((10.0, 10.0))))
    Topics.appendJson(Seq(VsRow("k2", "g1", 20.0)).toDF(), "vs_src_fl", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Map("g1" -> ((10.0, 20.0))))
    // k1 revises: its ORIGINAL add (epoch 1) is retracted by provenance
    // and the new add becomes the latest — first moves to k2's row
    Topics.appendJson(Seq(VsRow("k1", "g1", 30.0)).toDF(), "vs_src_fl", conf, Nil, 3)
    r.processAllAvailable()
    assert(state() === Map("g1" -> ((20.0, 30.0))),
      "revising the first-arrived key must move first to the next-oldest LIVE add")
    // tombstone k1: the current LAST is retracted — falls back to k2
    Topics.appendJson(Seq(VsRow("k1", "DEL", 0.0)).toDF(), "vs_src_fl", conf, Nil, 4)
    r.processAllAvailable()
    assert(state() === Map("g1" -> ((20.0, 20.0))),
      "retracting the current last must fall back to the prior live add")
    r.stopAll()
  }

  test("max_by/min_by retract value-keyed on every driver mode") {
    val conf = newConf("vs-argmax")
    val r = runner(conf, "vs_src_am", """
      CREATE TABLE vs_am (grp STRING, top_k STRING, bot_k STRING,
        PRIMARY KEY (grp) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO vs_am
      SELECT grp, max_by(k, amt) AS top_k, min_by(k, amt) AS bot_k
      FROM vs_acct GROUP BY grp""")
    def state() = spark.table("vs_am")
      .as[(String, String, String)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    Topics.appendJson(Seq(VsRow("k1", "g1", 10.0), VsRow("k2", "g1", 30.0),
      VsRow("k3", "g1", 20.0)).toDF(), "vs_src_am", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Map("g1" -> (("k2", "k1"))))
    // the argmax HOLDER revises downward: the (30, k2) pair retracts
    // and k3 becomes the argmax
    Topics.appendJson(Seq(VsRow("k2", "g1", 5.0)).toDF(), "vs_src_am", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Map("g1" -> (("k3", "k2"))),
      "revising the argmax holder must recompute from the remaining pairs")
    r.stopAll()
  }

  test("max_by/min_by SKIP rows whose ORDERING is null (native MaxMinBy / DuckDB arg_min parity, ADVICE r15)") {
    val conf = newConf("vs-argnull")
    // nullif(amt, 10.0) makes k1's ordering NULL: an unguarded
    // struct(null, v) sorts null-first and would win min_by
    val r = runner(conf, "vs_src_an", """
      CREATE TABLE vs_an (grp STRING, top_k STRING, bot_k STRING,
        PRIMARY KEY (grp) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO vs_an
      SELECT grp, max_by(k, nullif(amt, 10.0)) AS top_k,
             min_by(k, nullif(amt, 10.0)) AS bot_k
      FROM vs_acct GROUP BY grp""")
    def state() = spark.table("vs_an")
      .as[(String, String, String)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    Topics.appendJson(Seq(VsRow("k1", "g1", 10.0), VsRow("k2", "g1", 30.0),
      VsRow("k3", "g1", 20.0)).toDF(), "vs_src_an", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Map("g1" -> (("k2", "k3"))),
      "the null-ordering row (k1) must be skipped by BOTH argmax and argmin")
    // k3 revises ONTO the null ordering: it leaves the candidate set
    // and k2 becomes both extremes
    Topics.appendJson(Seq(VsRow("k3", "g1", 10.0)).toDF(), "vs_src_an", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Map("g1" -> (("k2", "k2"))),
      "revising onto a null ordering must retract the row from the candidates")
    r.stopAll()
  }

  test("retractable collect_set/collect_list over an upsert driver: the live multiset as a value-sorted array") {
    val conf = newConf("vs-collect")
    val r = runner(conf, "vs_src_col", """
      CREATE TABLE vs_col (grp STRING, n BIGINT, vals ARRAY<STRING>,
        copies ARRAY<DOUBLE>,
        PRIMARY KEY (grp) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO vs_col
      SELECT grp, count(*) AS n, collect_set(k) AS vals,
             collect_list(amt) AS copies
      FROM vs_acct GROUP BY grp""")
    def state() = spark.table("vs_col")
      .as[(String, Long, Seq[String], Seq[Double])].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap

    // k1 and k3 share amt=10.0: collect_list must keep BOTH copies,
    // collect_set collapses nothing (keys are distinct)
    Topics.appendJson(Seq(VsRow("k1", "g1", 10.0), VsRow("k2", "g1", 20.0),
      VsRow("k3", "g1", 10.0)).toDF(), "vs_src_col", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Map("g1" -> ((3L, Seq("k1", "k2", "k3"), Seq(10.0, 10.0, 20.0)))))

    // k1 revises 10.0 → 30.0: ONE copy of 10.0 retracts, the other stays
    Topics.appendJson(Seq(VsRow("k1", "g1", 30.0)).toDF(), "vs_src_col", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Map("g1" -> ((3L, Seq("k1", "k2", "k3"), Seq(10.0, 20.0, 30.0)))),
      "a revision must retract exactly one live copy of its old value")

    // tombstone k3: its key leaves the set, its 10.0 copy leaves the list
    Topics.appendJson(Seq(VsRow("k3", "DEL", 0.0)).toDF(), "vs_src_col", conf, Nil, 3)
    r.processAllAvailable()
    assert(state() === Map("g1" -> ((2L, Seq("k1", "k2"), Seq(20.0, 30.0)))))
    r.stopAll()
  }

  test("EXACT percentile/median over an upsert driver: recomputed from the live multiset under revision and tombstone") {
    val conf = newConf("vs-pct")
    val r = runner(conf, "vs_src_pct", """
      CREATE TABLE vs_pct (grp STRING, n BIGINT, p50 DOUBLE, p25 DOUBLE,
        med DOUBLE,
        PRIMARY KEY (grp) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO vs_pct
      SELECT grp, count(*) AS n, percentile(amt, 0.5) AS p50,
             percentile(amt, 0.25) AS p25, median(amt) AS med
      FROM vs_acct GROUP BY grp""")
    def state() = spark.table("vs_pct")
      .as[(String, Long, Double, Double, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4, t._5))).toMap

    Topics.appendJson(Seq(VsRow("k1", "g1", 10.0), VsRow("k2", "g1", 20.0),
      VsRow("k3", "g1", 30.0)).toDF(), "vs_src_pct", conf, Nil, 1)
    r.processAllAvailable()
    // p25 interpolates: position 0.25·(3−1) = 0.5 → 10 + (20−10)·0.5
    assert(state() === Map("g1" -> ((3L, 20.0, 15.0, 20.0))))

    // the median HOLDER revises away: the percentile recomputes from
    // what remains — impossible for any mergeable-raw encoding
    Topics.appendJson(Seq(VsRow("k2", "g1", 100.0)).toDF(), "vs_src_pct", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Map("g1" -> ((3L, 30.0, 20.0, 30.0))),
      "revising the median holder must recompute the percentile from live values")

    // tombstone k3: two values left — p50 interpolates between them
    Topics.appendJson(Seq(VsRow("k3", "DEL", 0.0)).toDF(), "vs_src_pct", conf, Nil, 3)
    r.processAllAvailable()
    assert(state() === Map("g1" -> ((2L, 55.0, 32.5, 55.0))))
    r.stopAll()
  }

  test("first/last over a RETRACT-mode topic: FIFO provenance cancels the EARLIEST duplicate copy (Flink's convention)") {
    val conf2 = newConf("vs-fl-retract")
    val r2 = new StreamingStatementRunner(spark, topicConf = Some(conf2))
    r2.registerTopicSource("vs_src_flr", StructType(srcSchema.fields :+
      StructField("__op", StringType)))
    r2.runScript("""
      CREATE TABLE vs_rlog (k STRING, grp STRING, amt DOUBLE, __op STRING)
        WITH ('changelog.mode' = 'retract');
      INSERT INTO vs_rlog SELECT k, grp, amt, __op FROM vs_src_flr;
      CREATE TABLE vs_flr (grp STRING, f DOUBLE, l DOUBLE,
        PRIMARY KEY (grp) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO vs_flr
      SELECT grp, first(amt) AS f, last(amt) AS l FROM vs_rlog GROUP BY grp""")
    def state() = spark.table("vs_flr")
      .as[(String, Double, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    def feed(epoch: Int, k: String, amt: Double, op: String): Unit = {
      Topics.appendJson(Seq((k, "g1", amt, op)).toDF("k", "grp", "amt", "__op"),
        "vs_src_flr", conf2, Nil, epoch)
      r2.processAllAvailable()
    }
    feed(1, "x", 10.0, "+I")
    feed(2, "y", 20.0, "+I")
    feed(3, "x", 10.0, "+I") // a SECOND identical copy of x's row
    r2.processAllAvailable()
    assert(state() === Map("g1" -> ((10.0, 10.0))),
      "last = the newest add, which is the duplicate copy of 10")
    // a -U of x's row must cancel the EARLIEST pending copy (epoch 1):
    // first falls to y's 20; last stays the epoch-3 copy of 10 — a
    // LIFO cancel would leave (10, 20) instead
    feed(4, "x", 10.0, "-U")
    assert(state() === Map("g1" -> ((20.0, 10.0))),
      "FIFO: the retraction cancels the EARLIEST duplicate copy")
    feed(5, "y", 20.0, "-U")
    assert(state() === Map("g1" -> ((10.0, 10.0))))
    r2.stopAll()
  }

  test("multi-column count(DISTINCT a, b): struct-keyed multiset, null components don't count") {
    val conf = newConf("vs-mcd")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("vs_src_mc", StructType(Seq(
      StructField("k", StringType), StructField("grp", StringType),
      StructField("a", LongType), StructField("b", StringType))))
    r.runScript("""
      CREATE TABLE vs_mc_acct (k STRING, grp STRING, a BIGINT, b STRING,
        PRIMARY KEY (k) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO vs_mc_acct SELECT k, grp, a, b FROM vs_src_mc;
      CREATE TABLE vs_mc (grp STRING, n_pairs BIGINT,
        PRIMARY KEY (grp) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO vs_mc
      SELECT grp, count(DISTINCT a, b) AS n_pairs
      FROM vs_mc_acct GROUP BY grp""")
    def state() = spark.table("vs_mc").as[(String, Long)].collect().toMap
    // k1 and k2 hold the SAME (a, b) pair; k3 has a null component
    Topics.appendJson(Seq(("k1", "g1", 1L, "x"), ("k2", "g1", 1L, "x"),
      ("k3", "g1", 2L, null)).toDF("k", "grp", "a", "b"),
      "vs_src_mc", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Map("g1" -> 1L),
      "duplicate pairs count once; a null component does not count")
    // k2 revises to a new pair: (1,x) survives via k1 — now 2 pairs
    Topics.appendJson(Seq(("k2", "g1", 1L, "y")).toDF("k", "grp", "a", "b"),
      "vs_src_mc", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Map("g1" -> 2L))
    // k1 joins k2's pair: (1,x) loses its last holder — back to 1
    Topics.appendJson(Seq(("k1", "g1", 1L, "y")).toDF("k", "grp", "a", "b"),
      "vs_src_mc", conf, Nil, 3)
    r.processAllAvailable()
    assert(state() === Map("g1" -> 1L),
      "a pair must leave the count only when its LAST holder leaves")
    r.stopAll()
  }

  test("avg over DECIMAL folds bit-exactly with native batch Average on both changelog paths") {
    val conf = newConf("vs-decavg")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("vs_src_dec", StructType(Seq(
      StructField("k", StringType), StructField("grp", StringType),
      StructField("amt", DecimalType(12, 2)))))
    r.runScript("""
      CREATE TABLE vs_dec_acct (k STRING, grp STRING, amt DECIMAL(12,2),
        PRIMARY KEY (k) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO vs_dec_acct SELECT k, grp, amt FROM vs_src_dec;
      CREATE TABLE vs_dec_avg (grp STRING, avg_amt DECIMAL(16,6),
        PRIMARY KEY (grp) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO vs_dec_avg
      SELECT grp, avg(amt) AS avg_amt FROM vs_dec_acct GROUP BY grp;
      CREATE TABLE vs_dec_avg2 (grp STRING, avg_amt DECIMAL(16,6), max_amt DECIMAL(12,2),
        PRIMARY KEY (grp) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO vs_dec_avg2
      SELECT grp, avg(amt) AS avg_amt, max(amt) AS max_amt
      FROM vs_dec_acct GROUP BY grp""")
    def dec(s: String) = new java.math.BigDecimal(s)
    def feed(epoch: Int, rows: (String, String, String)*): Unit = {
      Topics.appendJson(rows.toSeq.map { case (k, g, a) => (k, g, dec(a)) }
        .toDF("k", "grp", "amt")
        .select($"k", $"grp", $"amt".cast("decimal(12,2)")), "vs_src_dec", conf, Nil, epoch)
      r.processAllAvailable()
    }
    // values chosen so the division does NOT terminate at scale 6
    // (10/3-style): any double-division shortcut drifts in low digits
    feed(1, ("k1", "g1", "10.01"), ("k2", "g1", "10.02"))
    feed(2, ("k3", "g1", "10.04"), ("k1", "g1", "10.07")) // k1 revises
    val expected = spark.table("vs_dec_acct")
      .groupBy($"grp").agg(avg($"amt").as("avg_amt"))
    // the retract path (avg alone) and the merge path (avg + retractable
    // max forces the value-multiset route) must BOTH equal native avg,
    // value- and type-exactly
    val got1 = spark.table("vs_dec_avg")
    assert(got1.schema("avg_amt").dataType === expected.schema("avg_amt").dataType)
    assert(got1.orderBy("grp").collect().toSeq ===
      expected.orderBy("grp").collect().toSeq)
    val got2 = spark.table("vs_dec_avg2").select($"grp", $"avg_amt")
    assert(got2.orderBy("grp").collect().toSeq ===
      expected.orderBy("grp").collect().toSeq)
    r.stopAll()
  }

  test("variance family folds by exact moments under revision and tombstone") {
    val conf = newConf("vs-var")
    val r = runner(conf, "vs_src_var", """
      CREATE TABLE vs_var (grp STRING, v_samp DOUBLE, v_pop DOUBLE,
        s_samp DOUBLE, s_pop DOUBLE,
        PRIMARY KEY (grp) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO vs_var
      SELECT grp, var_samp(amt) AS v_samp, var_pop(amt) AS v_pop,
             stddev_samp(amt) AS s_samp, stddev_pop(amt) AS s_pop
      FROM vs_acct GROUP BY grp""")
    def check(): Unit = {
      val got = spark.table("vs_var")
        .as[(String, Option[Double], Option[Double], Option[Double], Option[Double])]
        .collect().map(t => t._1 -> ((t._2, t._3, t._4, t._5))).toMap
      val exp = spark.sql("""
        SELECT grp, var_samp(amt), var_pop(amt), stddev_samp(amt), stddev_pop(amt)
        FROM vs_acct GROUP BY grp""")
        .as[(String, Option[Double], Option[Double], Option[Double], Option[Double])]
        .collect().map(t => t._1 -> ((t._2, t._3, t._4, t._5))).toMap
      assert(got.keySet === exp.keySet)
      got.foreach { case (g, (a, b, c, d)) =>
        val (ea, eb, ec, ed) = exp(g)
        def close(x: Option[Double], y: Option[Double]) =
          (x, y) match {
            case (Some(xv), Some(yv)) => math.abs(xv - yv) < 1e-9
            case (None, None) => true
            case _ => false
          }
        assert(close(a, ea) && close(b, eb) && close(c, ec) && close(d, ed),
          s"group $g: got ($a,$b,$c,$d) expected ($ea,$eb,$ec,$ed)")
      }
    }
    Topics.appendJson(Seq(VsRow("k1", "g1", 10.0), VsRow("k2", "g1", 20.0),
      VsRow("k3", "g1", 40.0), VsRow("k4", "g2", 5.0)).toDF(),
      "vs_src_var", conf, Nil, 1)
    r.processAllAvailable()
    check()
    // revision moves k3 between groups: its moments retract from g1
    // and add to g2; g2 gains a second member (var_samp leaves NULL)
    Topics.appendJson(Seq(VsRow("k3", "g2", 7.0)).toDF(), "vs_src_var", conf, Nil, 2)
    r.processAllAvailable()
    check()
    // tombstone k2: g1 shrinks to one member — var_samp must go NULL,
    // var_pop to 0 (the all-equal clamp path)
    Topics.appendJson(Seq(VsRow("k2", "DEL", 0.0)).toDF(), "vs_src_var", conf, Nil, 3)
    r.processAllAvailable()
    check()
    r.stopAll()
  }

  test("covar/corr fold by signed co-moments; count_if unwraps via its replacement") {
    val conf = newConf("vs-cov")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("vs_src_cov", StructType(Seq(
      StructField("k", StringType), StructField("grp", StringType),
      StructField("x", DoubleType), StructField("y", DoubleType))))
    r.runScript("""
      CREATE TABLE vs_cov_acct (k STRING, grp STRING, x DOUBLE, y DOUBLE, __op STRING,
        PRIMARY KEY (k) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO vs_cov_acct
      SELECT k, grp, x, y, CASE WHEN grp = 'DEL' THEN '-D' ELSE '+U' END
      FROM vs_src_cov;
      CREATE TABLE vs_cov (grp STRING, cp DOUBLE, cs DOUBLE, cr DOUBLE, nbig BIGINT,
        PRIMARY KEY (grp) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO vs_cov
      SELECT grp, covar_pop(x, y) AS cp, covar_samp(x, y) AS cs,
             corr(x, y) AS cr, count_if(x > y) AS nbig
      FROM vs_cov_acct GROUP BY grp;
      CREATE TABLE vs_cov2 (grp STRING, cr DOUBLE, mx DOUBLE,
        PRIMARY KEY (grp) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO vs_cov2
      SELECT grp, corr(x, y) AS cr, max(x) AS mx
      FROM vs_cov_acct GROUP BY grp""")
    def check(): Unit = {
      val got = spark.table("vs_cov")
        .as[(String, Option[Double], Option[Double], Option[Double], Long)]
        .collect().map(t => t._1 -> t).toMap
      val exp = spark.sql("""
        SELECT grp, covar_pop(x, y), covar_samp(x, y), corr(x, y),
               count_if(x > y)
        FROM vs_cov_acct GROUP BY grp""")
        .as[(String, Option[Double], Option[Double], Option[Double], Long)]
        .collect().map(t => t._1 -> t).toMap
      assert(got.keySet === exp.keySet)
      // documented divergence: the folded forms yield NULL where
      // Spark's native covar_samp/corr yield NaN (single point, zero
      // variance) — NaN does not survive the JSON topic encode and
      // NULL is DuckDB's convention; normalize NaN→None for compare
      def close(a: Option[Double], b: Option[Double]) =
        (a.filterNot(_.isNaN), b.filterNot(_.isNaN)) match {
          case (Some(x), Some(y)) => math.abs(x - y) < 1e-9
          case (None, None) => true
          case _ => false
        }
      got.foreach { case (g, (_, cp, cs, cr, n)) =>
        val (_, ep, es, er, en) = exp(g)
        assert(close(cp, ep) && close(cs, es) && close(cr, er) && n == en,
          s"group $g: got ($cp,$cs,$cr,$n) expected ($ep,$es,$er,$en)")
      }
      // the MERGE path's co-moment raws (corr rides with a retractable
      // max, which forces the multiset merge route)
      val got2 = spark.table("vs_cov2")
        .as[(String, Option[Double], Option[Double])]
        .collect().map(t => t._1 -> ((t._2, t._3))).toMap
      val exp2 = spark.sql(
        "SELECT grp, corr(x, y), max(x) FROM vs_cov_acct GROUP BY grp")
        .as[(String, Option[Double], Option[Double])]
        .collect().map(t => t._1 -> ((t._2, t._3))).toMap
      assert(got2.keySet === exp2.keySet)
      got2.foreach { case (g, (cr, mx)) =>
        val (er, em) = exp2(g)
        assert(close(cr, er) && mx === em,
          s"merge path group $g: got ($cr,$mx) expected ($er,$em)")
      }
    }
    def feed(epoch: Int, rows: (String, String, Double, Double)*): Unit = {
      Topics.appendJson(rows.toSeq.toDF("k", "grp", "x", "y"),
        "vs_src_cov", conf, Nil, epoch)
      r.processAllAvailable()
    }
    feed(1, ("k1", "g1", 1.0, 2.0), ("k2", "g1", 2.0, 3.0), ("k3", "g1", 4.0, 1.0))
    check()
    // revision moves k3 (the co-moment outlier) to g2
    feed(2, ("k3", "g2", 4.0, 1.0), ("k4", "g2", 6.0, 5.0))
    check()
    // tombstone k2: g1 shrinks to a single pair — covar_samp/corr NULL
    feed(3, ("k2", "DEL", 0.0, 0.0))
    check()
    r.stopAll()
  }

  test("bool_and/bool_or fold as boolean order statistics; retractable listagg(DISTINCT) recomputes sorted") {
    val conf = newConf("vs-bool")
    val r = runner(conf, "vs_src_bl", """
      CREATE TABLE vs_bl (grp STRING, all_big BOOLEAN, any_big BOOLEAN,
        cats STRING, all_cats STRING,
        PRIMARY KEY (grp) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO vs_bl
      SELECT grp, bool_and(amt > 10) AS all_big, bool_or(amt > 10) AS any_big,
             listagg(DISTINCT CAST(CAST(amt AS BIGINT) AS STRING), ',')
               WITHIN GROUP (ORDER BY CAST(CAST(amt AS BIGINT) AS STRING)) AS cats,
             listagg(CAST(CAST(amt AS BIGINT) AS STRING), ',')
               WITHIN GROUP (ORDER BY CAST(CAST(amt AS BIGINT) AS STRING)) AS all_cats
      FROM vs_acct GROUP BY grp""")
    def state() = spark.table("vs_bl")
      .as[(String, Boolean, Boolean, String, String)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4, t._5))).toMap
    Topics.appendJson(Seq(VsRow("k1", "g1", 5.0), VsRow("k2", "g1", 20.0),
      VsRow("k3", "g1", 20.0)).toDF(), "vs_src_bl", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Map("g1" -> ((false, true, "20,5", "20,20,5"))),
      "non-distinct listagg repeats each value by its live copy count")
    // k1 revises above the bar: the lone false retracts → all_big flips
    // true; the duplicate distinct value "20" still appears once
    Topics.appendJson(Seq(VsRow("k1", "g1", 30.0)).toDF(), "vs_src_bl", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Map("g1" -> ((true, true, "20,30", "20,20,30"))),
      "retracting the only false must flip bool_and; listagg resorts")
    // tombstone both 20-holders: any_big survives via k1's 30
    Topics.appendJson(Seq(VsRow("k2", "DEL", 0.0), VsRow("k3", "DEL", 0.0)).toDF(),
      "vs_src_bl", conf, Nil, 3)
    r.processAllAvailable()
    assert(state() === Map("g1" -> ((true, true, "30", "30"))))
    r.stopAll()
  }

  test("HAVING over a HIDDEN multiset stat (max not in the select list) flips visibility both ways") {
    val conf = newConf("vs-hav")
    val r = runner(conf, "vs_src_hv", """
      CREATE TABLE vs_hav (grp STRING, n BIGINT,
        PRIMARY KEY (grp) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO vs_hav
      SELECT grp, count(*) AS n FROM vs_acct GROUP BY grp
      HAVING max(amt) < 25""")
    def state() = spark.table("vs_hav").as[(String, Long)].collect().toMap
    Topics.appendJson(Seq(VsRow("k1", "g1", 10.0), VsRow("k2", "g1", 20.0)).toDF(),
      "vs_src_hv", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Map("g1" -> 2L))
    // k2 revises above the bar: the hidden max recomputes to 30 and
    // the group leaves the predicate
    Topics.appendJson(Seq(VsRow("k2", "g1", 30.0)).toDF(), "vs_src_hv", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Map.empty[String, Long],
      "a hidden multiset stat crossing the HAVING bar must hide the group")
    // k2 retreats below it: the group resurfaces with FULL state
    Topics.appendJson(Seq(VsRow("k2", "g1", 15.0)).toDF(), "vs_src_hv", conf, Nil, 3)
    r.processAllAvailable()
    assert(state() === Map("g1" -> 2L),
      "the group must resurface with its full count, not restart at 0")
    r.stopAll()
  }

  test("TUMBLE TVF composes with the multiset path: a revision moves the window max retraction-aware") {
    val conf = newConf("vs-tvf")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("vs_tvf_src", StructType(Seq(
      StructField("k", StringType), StructField("ts", TimestampType),
      StructField("amt", DoubleType))))
    // the TVF rewrite's star subquery carries the driver's sign AND
    // the windowed group keys into the MERGE path (max ⇒ multiset):
    // revising the max-holder's event time retracts its (window, amt)
    // pair and the old window's max recomputes from what remains
    r.runScript("""
      CREATE TABLE vs_tvf_latest (k STRING, ts TIMESTAMP, amt DOUBLE,
        PRIMARY KEY (k) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO vs_tvf_latest SELECT k, ts, amt FROM vs_tvf_src;
      CREATE TABLE vs_tvf_hourly (window_start TIMESTAMP, n BIGINT, mx DOUBLE,
        PRIMARY KEY (window_start) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO vs_tvf_hourly
      SELECT window_start, count(*) AS n, max(amt) AS mx
      FROM TABLE(TUMBLE(TABLE vs_tvf_latest, DESCRIPTOR(ts), INTERVAL '1' HOUR))
      GROUP BY window_start""")
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:30:00")
    def hourUs(h: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00").getTime * 1000L
    def windows(): Map[Long, (Long, Double)] = spark.table("vs_tvf_hourly")
      .select(org.apache.spark.sql.functions.unix_micros($"window_start"), $"n", $"mx")
      .as[(Long, Long, Double)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    Topics.appendJson(Seq(("a", ts(10), 30.0), ("b", ts(10), 10.0),
      ("c", ts(11), 20.0)).toDF("k", "ts", "amt"), "vs_tvf_src", conf, Nil, 1)
    r.processAllAvailable()
    assert(windows() === Map(hourUs(10) -> ((2L, 30.0)), hourUs(11) -> ((1L, 20.0))))
    // a (the hour-10 max) moves to hour 11: hour 10's max recomputes
    // to b's 10.0; hour 11's max rises to 30.0
    Topics.appendJson(Seq(("a", ts(11), 30.0)).toDF("k", "ts", "amt"),
      "vs_tvf_src", conf, Nil, 2)
    r.processAllAvailable()
    assert(windows() === Map(hourUs(10) -> ((1L, 10.0)), hourUs(11) -> ((2L, 30.0))),
      "moving the max-holder between windows must recompute BOTH windows' max")
    r.stopAll()
  }

  test("avg(DISTINCT) and guards: timestamp multiset values reject with guidance") {
    implicit val sqlCtx = spark.sqlContext
    val orders = MemoryStream[SOrd]
    orders.toDF().createOrReplaceTempView("vs_avg_s")
    val r = new StreamingStatementRunner(spark, topicConf = Some(newConf("vs-avg")))
    r.run("""CREATE TABLE vs_avg_out (product_id STRING, avg_cust DOUBLE,
             PRIMARY KEY (product_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS""")
    r.run("""INSERT INTO vs_avg_out
             SELECT product_id, avg(DISTINCT order_id) AS avg_cust
             FROM vs_avg_s GROUP BY product_id""")
    orders.addData(SOrd(2, "p1", "c1"), SOrd(2, "p1", "c2"), SOrd(4, "p1", "c3"))
    r.processAllAvailable()
    assert(spark.table("vs_avg_out").as[(String, Double)].collect().toMap
      === Map("p1" -> 3.0)) // distinct {2, 4} → avg 3
    r.stopAll()
  }

  test("EXACT percentile_disc over an upsert driver: the discrete pick recomputes under revision, tombstone, and DESC order") {
    val conf = newConf("vs-disc")
    val r = runner(conf, "vs_src_disc", """
      CREATE TABLE vs_disc (grp STRING, n BIGINT, d50 DOUBLE, d25 DOUBLE,
        d50r DOUBLE,
        PRIMARY KEY (grp) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO vs_disc
      SELECT grp, count(*) AS n,
             percentile_disc(0.5) WITHIN GROUP (ORDER BY amt) AS d50,
             percentile_disc(0.25) WITHIN GROUP (ORDER BY amt) AS d25,
             percentile_disc(0.5) WITHIN GROUP (ORDER BY amt DESC) AS d50r
      FROM vs_acct GROUP BY grp""")
    def state() = spark.table("vs_disc")
      .as[(String, Long, Double, Double, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4, t._5))).toMap
    // in-engine oracle: Spark's own batch percentile_disc over the
    // CURRENT live rows (dyadic percentages — no float-boundary risk)
    def oracle(rows: (String, Double)*): (Long, Double, Double, Double) = {
      val df = rows.toSeq.toDF("grp", "amt")
      df.createOrReplaceTempView("vs_disc_oracle")
      val o = spark.sql("""
        SELECT count(*), percentile_disc(0.5) WITHIN GROUP (ORDER BY amt),
               percentile_disc(0.25) WITHIN GROUP (ORDER BY amt),
               percentile_disc(0.5) WITHIN GROUP (ORDER BY amt DESC)
        FROM vs_disc_oracle GROUP BY grp""").collect().head
      (o.getLong(0), o.getDouble(1), o.getDouble(2), o.getDouble(3))
    }

    Topics.appendJson(Seq(VsRow("k1", "g1", 10.0), VsRow("k2", "g1", 20.0),
      VsRow("k3", "g1", 30.0)).toDF(), "vs_src_disc", conf, Nil, 1)
    r.processAllAvailable()
    // N=3: d50 = 2nd value (20), d25 = 1st (10), DESC d50 = 2nd of
    // {30,20,10} = 20
    assert(state() === Map("g1" -> ((3L, 20.0, 10.0, 20.0))))
    assert(state()("g1") === oracle(("g1", 10.0), ("g1", 20.0), ("g1", 30.0)))

    // the d50 HOLDER revises away: the pick recomputes from the rest
    Topics.appendJson(Seq(VsRow("k2", "g1", 100.0)).toDF(), "vs_src_disc", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Map("g1" -> ((3L, 30.0, 10.0, 30.0))))
    assert(state()("g1") === oracle(("g1", 10.0), ("g1", 100.0), ("g1", 30.0)))

    // tombstone k3: two values left — the discrete pick NEVER
    // interpolates (unlike percentile_cont)
    Topics.appendJson(Seq(VsRow("k3", "DEL", 0.0)).toDF(), "vs_src_disc", conf, Nil, 3)
    r.processAllAvailable()
    assert(state() === Map("g1" -> ((2L, 10.0, 10.0, 100.0))))
    assert(state()("g1") === oracle(("g1", 10.0), ("g1", 100.0)))
    r.stopAll()
  }

  test("percentile over an ARRAY of percentages: one multiset, N picks emitted as an array column (round 18)") {
    val conf = newConf("vs-pcarr")
    val r = runner(conf, "vs_src_pa", """
      CREATE TABLE vs_pa (grp STRING, qs ARRAY<DOUBLE>, med DOUBLE,
        PRIMARY KEY (grp) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO vs_pa
      SELECT grp, percentile(amt, array(0.25, 0.5, 0.75)) AS qs,
             percentile(amt, 0.5) AS med
      FROM vs_acct GROUP BY grp""")
    def state() = spark.table("vs_pa")
      .as[(String, Seq[Double], Double)].collect()
      .map(t => t._1 -> ((t._2.toList, t._3))).toMap
    def oracle(rows: (String, Double)*): (List[Double], Double) = {
      rows.toSeq.toDF("grp", "amt").createOrReplaceTempView("vs_pa_oracle")
      val o = spark.sql("""
        SELECT percentile(amt, array(0.25, 0.5, 0.75)), percentile(amt, 0.5)
        FROM vs_pa_oracle GROUP BY grp""").collect().head
      (o.getSeq[Double](0).toList, o.getDouble(1))
    }
    Topics.appendJson(Seq(VsRow("k1", "g1", 10.0), VsRow("k2", "g1", 20.0),
      VsRow("k3", "g1", 30.0), VsRow("k4", "g1", 40.0)).toDF(),
      "vs_src_pa", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Map("g1" -> ((List(17.5, 25.0, 32.5), 25.0))))
    assert(state()("g1") === oracle(("g1", 10.0), ("g1", 20.0),
      ("g1", 30.0), ("g1", 40.0)))
    // a holder revises: every element of the array pick recomputes
    Topics.appendJson(Seq(VsRow("k2", "g1", 100.0)).toDF(), "vs_src_pa", conf, Nil, 2)
    r.processAllAvailable()
    assert(state()("g1") === oracle(("g1", 10.0), ("g1", 100.0),
      ("g1", 30.0), ("g1", 40.0)))
    // tombstone: N drops, the interpolation shifts
    Topics.appendJson(Seq(VsRow("k4", "DEL", 0.0)).toDF(), "vs_src_pa", conf, Nil, 3)
    r.processAllAvailable()
    assert(state()("g1") === oracle(("g1", 10.0), ("g1", 100.0), ("g1", 30.0)))
    r.stopAll()
  }

  test("percentile with a FREQUENCY column still rejects loudly (per-row weights cannot ride the sign netting)") {
    val conf = newConf("vs-pcf")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("vs_src_pf", srcSchema)
    r.runScript("""
      CREATE TABLE vs_pf_acct (k STRING, grp STRING, amt DOUBLE, __op STRING,
        PRIMARY KEY (k) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO vs_pf_acct SELECT k, grp, amt, '+U' FROM vs_src_pf;
      CREATE TABLE vs_pf_out (grp STRING, p DOUBLE,
        PRIMARY KEY (grp) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS""")
    val err = intercept[IllegalArgumentException](
      r.run("""INSERT INTO vs_pf_out
        SELECT grp, percentile(amt, 0.5, 2) AS p
        FROM vs_pf_acct GROUP BY grp"""))
    assert(err.getMessage.contains("frequency"),
      s"wrong rejection: ${err.getMessage}")
    r.stopAll()
  }

  test("percentile_disc ignores NULL values: nulls neither count toward N nor are pickable (ADVICE r17)") {
    val conf = newConf("vs-discnull")
    val r = runner(conf, "vs_src_dn", """
      CREATE TABLE vs_dn (grp STRING, n BIGINT, d50 DOUBLE, d50r DOUBLE,
        PRIMARY KEY (grp) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO vs_dn
      SELECT grp, count(*) AS n,
             percentile_disc(0.5) WITHIN GROUP (ORDER BY amt) AS d50,
             percentile_disc(0.5) WITHIN GROUP (ORDER BY amt DESC) AS d50r
      FROM vs_acct GROUP BY grp""")
    def state() = spark.table("vs_dn")
      .as[(String, Long, Option[Double], Option[Double])].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    // two null-amt rows alongside {10,20,30,40}: SQL percentile_disc
    // skips nulls, so N=4 and asc d50 = 2nd of {10,20,30,40} = 20,
    // desc d50 = 2nd of {40,30,20,10} = 30. Counting nulls toward N
    // (the pre-fix bug) would give target 3 over a nulls-first array:
    // asc picks 10, desc (nulls last) picks 20 — both wrong.
    Topics.appendJson(Seq(
      ("k1", "g1", None: Option[Double]), ("k2", "g1", None: Option[Double]),
      ("k3", "g1", Some(10.0)), ("k4", "g1", Some(20.0)),
      ("k5", "g1", Some(30.0)), ("k6", "g1", Some(40.0)))
      .toDF("k", "grp", "amt"), "vs_src_dn", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Map("g1" -> ((6L, Some(20.0), Some(30.0)))),
      "nulls must not advance the cumulative count or the target")
    // the picked holder tombstones: {10,30,40} → N=3, target 2 both ways
    Topics.appendJson(Seq(("k4", "DEL", Some(0.0)))
      .toDF("k", "grp", "amt"), "vs_src_dn", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Map("g1" -> ((5L, Some(30.0), Some(30.0)))))
    // an ALL-null group yields a null pick, not a fabricated value
    Topics.appendJson(Seq(("m1", "g2", None: Option[Double]))
      .toDF("k", "grp", "amt"), "vs_src_dn", conf, Nil, 3)
    r.processAllAvailable()
    assert(state()("g2") === ((1L, None, None)),
      "percentile_disc over only nulls must be NULL")
    r.stopAll()
  }

  test("percentile with a non-micro-aligned percentage rejects loudly (the stat key quantizes to 1e-6)") {
    // ADVICE r16: 1.0/3 would silently compute the quantized
    // percentile, and two ps within ~1e-6 would collide on one shared
    // stat column — reject at statement time instead
    val conf = newConf("vs-pctq")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("vs_src_pctq", srcSchema)
    r.runScript("""
      CREATE TABLE vs_pq_acct (k STRING, grp STRING, amt DOUBLE, __op STRING,
        PRIMARY KEY (k) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO vs_pq_acct SELECT k, grp, amt, '+U' FROM vs_src_pctq;
      CREATE TABLE vs_pq_out (grp STRING, p DOUBLE,
        PRIMARY KEY (grp) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS""")
    // note SQL `1.0/3` itself folds to DECIMAL(7,6) = 0.333333 exactly
    // (micro-aligned, correctly accepted); the DOUBLE division is the
    // non-representable case the guard must catch
    val err = intercept[IllegalArgumentException](
      r.run("""INSERT INTO vs_pq_out
               SELECT grp, percentile(amt, CAST(1 AS DOUBLE)/3) AS p
               FROM vs_pq_acct GROUP BY grp"""))
    assert(err.getMessage.contains("micro"), s"wrong rejection: ${err.getMessage}")
    r.stopAll()
  }
}
