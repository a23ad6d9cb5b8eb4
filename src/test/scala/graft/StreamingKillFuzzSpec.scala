package graft

import graft.exec.StreamingStatementRunner
import graft.sources.{TopicConf, Topics}
import graft.streaming.FaultInjection
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Randomized KILL-POINT injection fuzz for the long-running INSERT
  * path (round 20, VERDICT r19 item 3): round 19 fuzzed VALUES
  * (RegularJoinFuzzSpec) and round 18 tested FIXED restart points
  * (StreamingRestartSpec) — this spec combines them. A seeded random
  * schedule of fact appends and dim upserts/tombstones drains through
  * a regular join whose micro-batch is crashed at a seeded random
  * durable-effect boundary ([[graft.streaming.FaultInjection]]:
  * before/after the epoch-idempotent sink, between state writes, and
  * mid-generation-publish inside `JoinState` — tmp written, renamed,
  * folded inputs not yet deleted). A fresh runner on the same
  * `TopicConf` then resumes from the checkpoint and the schedule
  * continues. At the end the SAME law the value fuzz asserts must
  * hold: the folded net state equals the batch join over ALL facts
  * and FINAL dim states — any double-sink, lost state write, or
  * half-published generation surfaces as a multiset mismatch.
  *
  * `compact.threshold = 1` forces a log fold nearly every fact batch
  * so the compaction crash window is actually exercised; the 7-day
  * TTL keeps the TTL'd read/fold path live without expiring anything.
  * Deterministic seeds: failures replay exactly. */
class StreamingKillFuzzSpec extends SparkSpec {
  import spark.implicits._

  (0 until 4).foreach { idx =>
    test(s"kill fuzz seed $idx: fact LEFT JOIN dim survives random mid-drain crashes — resumed net state folds to the batch join") {
      soakLeft(s"kfz$idx", 4200 + idx * 13)
    }
  }

  test("kill fuzz chain: fact LEFT JOIN dim RIGHT JOIN band (doubly-dominated) survives random mid-drain crashes") {
    soakChain("kfzc", 7717)
  }

  // INNER S6 shape: orders JOIN two upsert dims into a retract target,
  // the customer dim revised every epoch (several revisions of a key in
  // one append, tombstones, deletes of absent keys). The crash lands
  // between the dim snapshot publish and the batch commit: the replay
  // must re-read the pre-publish snapshot and rebuild the SAME
  // normalized delta, or a revision retracts twice
  (0 until 3).foreach { idx =>
    test(s"kill fuzz S6 seed $idx: INNER join over per-epoch upsert revisions resumes exactly after a crash between snapshot publish and commit") {
      soakS6(s"kfs$idx", 9100 + idx * 31)
    }
  }

  private def isInjected(e: Throwable): Boolean = {
    var t: Throwable = e
    var depth = 0
    while (t != null && depth < 12) {
      if (t.isInstanceOf[FaultInjection.InjectedCrash]) return true
      t = t.getCause; depth += 1
    }
    false
  }

  /** Drain with the injection armed per `armK`; on an injected crash,
    * stop the dead runner, build a fresh one via `mk`, and finish the
    * drain disarmed. Returns (runner, crashed). */
  private def drainWithKill(r0: StreamingStatementRunner, armK: Int,
                            mk: () => StreamingStatementRunner,
                            at: Option[String] = None): (StreamingStatementRunner, Boolean) = {
    if (armK > 0) FaultInjection.arm(armK, at)
    try { r0.processAllAvailable(); FaultInjection.disarm(); (r0, false) }
    catch {
      case e: Throwable if isInjected(e) =>
        FaultInjection.disarm()
        scala.util.Try(r0.stopAll())
        val r1 = mk()
        r1.processAllAvailable() // resume: replay + finish the drain
        (r1, true)
      case e: Throwable => FaultInjection.disarm(); throw e
    }
  }

  private def soakLeft(tag: String, seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val conf = TopicConf(
      tempDir(s"graft-$tag"))
    def mk(): StreamingStatementRunner = {
      val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
      r.registerTopicSource(s"${tag}_dim_feed", StructType(Seq(
        StructField("uid", LongType), StructField("t", StringType),
        StructField("__op", StringType))))
      r.registerTopicSource(s"${tag}_fact_feed", StructType(Seq(
        StructField("order_id", IntegerType), StructField("uid", LongType))))
      r.runScript(s"""
        CREATE TABLE ${tag}_dim (uid BIGINT, t STRING, __op STRING,
          PRIMARY KEY (uid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
        INSERT INTO ${tag}_dim SELECT uid, t, __op FROM ${tag}_dim_feed;
        CREATE TABLE ${tag}_enr (order_id INT, uid BIGINT, t STRING, __op STRING)
          WITH ('changelog.mode' = 'retract', 'join.state.ttl' = '7 d',
                'join.state.compact.threshold' = '1');
        INSERT INTO ${tag}_enr (order_id, uid, t)
        SELECT f.order_id, f.uid, c.t FROM ${tag}_fact_feed f
        LEFT JOIN ${tag}_dim c ON f.uid = c.uid""")
      r
    }
    var r = mk()

    val dimState = scala.collection.mutable.Map.empty[Long, String]
    val facts = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    var nextOrder = 1
    var epoch = 0
    var crashes = 0
    val types = List("t1", "t2", "t3", "t4")
    def appendFacts(): Unit = {
      val rows = (0 until (1 + rnd.nextInt(3))).map { _ =>
        val f = (nextOrder, 1L + rnd.nextInt(5)); nextOrder += 1; f
      }
      rows.foreach(facts += _)
      epoch += 1
      Topics.appendJson(rows.toDF("order_id", "uid"),
        s"${tag}_fact_feed", conf, Nil, epoch)
    }
    def appendDim(): Unit = {
      val uids = rnd.shuffle((1L to 5L).toList).take(1 + rnd.nextInt(2))
      val rows = uids.map { u =>
        if (dimState.contains(u) && rnd.nextInt(4) == 0) {
          dimState.remove(u); (u, "t1", "-D")
        } else {
          val t = types(rnd.nextInt(types.size))
          dimState(u) = t; (u, t, "+U")
        }
      }
      epoch += 1
      Topics.appendJson(rows.toDF("uid", "t", "__op"),
        s"${tag}_dim_feed", conf, Nil, epoch)
    }

    (0 until 8).foreach { d =>
      if (rnd.nextBoolean()) appendFacts() else appendDim()
      // drains 1/3/5 kill EARLY (small k: the crash is certain to fire
      // inside the drain); the rest arm at random depth, so some
      // drains crash deep in the compaction publish and some complete
      // clean with the armed count never reached
      val armK =
        if (d == 1 || d == 3 || d == 5) 1 + rnd.nextInt(4)
        else if (rnd.nextBoolean()) 1 + rnd.nextInt(12)
        else 0
      val (r2, crashed) = drainWithKill(r, armK, mk _)
      r = r2
      if (crashed) crashes += 1
    }
    assert(crashes >= 2,
      s"[$tag] fuzz degraded: only $crashes injected crashes fired")
    r.stopAll()

    // the law: folded net == batch LEFT join over ALL facts + FINAL dims
    assertNetEqualsBatch(tag, s"${tag}_enr",
      facts.toSeq.toDF("order_id", "uid")
        .join(dimState.toSeq.toDF("uid", "t"), Seq("uid"), "left")
        .select(col("order_id"), col("uid"), col("t")),
      Seq("order_id", "uid", "t"))
  }

  private def soakChain(tag: String, seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val conf = TopicConf(
      tempDir(s"graft-$tag"))
    def mk(): StreamingStatementRunner = {
      val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
      r.registerTopicSource(s"${tag}_dim_feed", StructType(Seq(
        StructField("uid", LongType), StructField("t", StringType),
        StructField("__op", StringType))))
      r.registerTopicSource(s"${tag}_band_feed", StructType(Seq(
        StructField("t", StringType), StructField("label", StringType),
        StructField("__op", StringType))))
      r.registerTopicSource(s"${tag}_fact_feed", StructType(Seq(
        StructField("order_id", IntegerType), StructField("uid", LongType))))
      r.runScript(s"""
        CREATE TABLE ${tag}_dim (uid BIGINT, t STRING, __op STRING,
          PRIMARY KEY (uid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
        INSERT INTO ${tag}_dim SELECT uid, t, __op FROM ${tag}_dim_feed;
        CREATE TABLE ${tag}_band (t STRING, label STRING, __op STRING,
          PRIMARY KEY (t) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
        INSERT INTO ${tag}_band SELECT t, label, __op FROM ${tag}_band_feed;
        CREATE TABLE ${tag}_enr (order_id INT, uid BIGINT, t STRING,
          label STRING, __op STRING)
          WITH ('changelog.mode' = 'retract', 'join.state.ttl' = '7 d',
                'join.state.compact.threshold' = '1');
        INSERT INTO ${tag}_enr (order_id, uid, t, label)
        SELECT f.order_id, f.uid, c.t, b.label FROM ${tag}_fact_feed f
        LEFT JOIN ${tag}_dim c ON f.uid = c.uid
        RIGHT JOIN ${tag}_band b ON c.t = b.t""")
      r
    }
    var r = mk()

    val dimState = scala.collection.mutable.Map.empty[Long, String]
    val bandState = scala.collection.mutable.Map.empty[String, String]
    val facts = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    var nextOrder = 1
    var epoch = 0
    var crashes = 0
    val types = List("t1", "t2", "t3")
    def appendFacts(): Unit = {
      val rows = (0 until (1 + rnd.nextInt(3))).map { _ =>
        val f = (nextOrder, 1L + rnd.nextInt(4)); nextOrder += 1; f
      }
      rows.foreach(facts += _)
      epoch += 1
      Topics.appendJson(rows.toDF("order_id", "uid"),
        s"${tag}_fact_feed", conf, Nil, epoch)
    }
    def appendDim(): Unit = {
      val uids = rnd.shuffle((1L to 4L).toList).take(1 + rnd.nextInt(2))
      val rows = uids.map { u =>
        if (dimState.contains(u) && rnd.nextInt(4) == 0) {
          dimState.remove(u); (u, "t1", "-D")
        } else {
          val t = types(rnd.nextInt(types.size)); dimState(u) = t; (u, t, "+U")
        }
      }
      epoch += 1
      Topics.appendJson(rows.toDF("uid", "t", "__op"),
        s"${tag}_dim_feed", conf, Nil, epoch)
    }
    def appendBand(): Unit = {
      val ts = rnd.shuffle(types).take(1 + rnd.nextInt(2))
      val rows = ts.map { t =>
        if (bandState.contains(t) && rnd.nextInt(4) == 0) {
          bandState.remove(t); (t, "x", "-D")
        } else {
          val l = s"L$epoch-$t"; bandState(t) = l; (t, l, "+U")
        }
      }
      epoch += 1
      Topics.appendJson(rows.toDF("t", "label", "__op"),
        s"${tag}_band_feed", conf, Nil, epoch)
    }

    (0 until 9).foreach { d =>
      rnd.nextInt(3) match {
        case 0 => appendFacts(); case 1 => appendDim(); case _ => appendBand()
      }
      val armK =
        if (d == 1 || d == 4 || d == 7) 1 + rnd.nextInt(4)
        else if (rnd.nextBoolean()) 1 + rnd.nextInt(12)
        else 0
      val (r2, crashed) = drainWithKill(r, armK, mk _)
      r = r2
      if (crashed) crashes += 1
    }
    assert(crashes >= 2,
      s"[$tag] fuzz degraded: only $crashes injected crashes fired")
    r.stopAll()

    val f = facts.toSeq.toDF("order_id", "uid")
    val c = dimState.toSeq.toDF("uid", "t")
    val b = bandState.toSeq.toDF("t", "label")
    val fc = f.join(c, f("uid") === c("uid"), "left")
    assertNetEqualsBatch(tag, s"${tag}_enr",
      fc.join(b, c("t") === b("t"), "right")
        .select(f("order_id"), f("uid"), c("t"), b("label")),
      Seq("order_id", "uid", "t", "label"))
  }

  private def soakS6(tag: String, seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val conf = TopicConf(
      tempDir(s"graft-$tag"))
    def mk(): StreamingStatementRunner = {
      val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
      r.registerTopicSource(s"${tag}_cust_feed", StructType(Seq(
        StructField("uid", LongType), StructField("name", StringType),
        StructField("__op", StringType))))
      r.registerTopicSource(s"${tag}_prod_feed", StructType(Seq(
        StructField("pid", IntegerType), StructField("brand", StringType),
        StructField("__op", StringType))))
      r.registerTopicSource(s"${tag}_ord_feed", StructType(Seq(
        StructField("order_id", IntegerType), StructField("uid", LongType),
        StructField("pid", IntegerType))))
      r.runScript(s"""
        CREATE TABLE ${tag}_cust (uid BIGINT, name STRING, __op STRING,
          PRIMARY KEY (uid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
        INSERT INTO ${tag}_cust SELECT uid, name, __op FROM ${tag}_cust_feed;
        CREATE TABLE ${tag}_prod (pid INT, brand STRING, __op STRING,
          PRIMARY KEY (pid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
        INSERT INTO ${tag}_prod SELECT pid, brand, __op FROM ${tag}_prod_feed;
        CREATE TABLE ${tag}_enr (order_id INT, name STRING, brand STRING,
          __op STRING) WITH ('changelog.mode' = 'retract');
        INSERT INTO ${tag}_enr (order_id, name, brand)
        SELECT o.order_id, c.name, p.brand FROM ${tag}_ord_feed o
        JOIN ${tag}_cust c ON o.uid = c.uid
        JOIN ${tag}_prod p ON o.pid = p.pid""")
      r
    }
    var r = mk()

    val custState = scala.collection.mutable.Map.empty[Long, String]
    val prodState = scala.collection.mutable.Map.empty[Int, String]
    val facts = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Int)]
    var nextOrder = 1
    var crashes = 0
    val points = Vector("snapshot-published", "join-post-write", "join-pre-commit")
    (1 to 7).foreach { epoch =>
      val orders = (0 until (1 + rnd.nextInt(3))).map { _ =>
        val f = (nextOrder, 1L + rnd.nextInt(4), 1 + rnd.nextInt(2)); nextOrder += 1; f
      }
      facts ++= orders
      Topics.appendJson(orders.toDF("order_id", "uid", "pid"),
        s"${tag}_ord_feed", conf, Nil, epoch)
      // one append in offset order (coalesce(1)): a key's revisions
      // land in ONE micro-batch and the last one wins
      val custRows = rnd.shuffle((1L to 5L).toList).take(1 + rnd.nextInt(2)).flatMap { u =>
        (0 until (1 + rnd.nextInt(3))).map { _ =>
          if (rnd.nextInt(4) == 0) { custState.remove(u); (u, "x", "-D") }
          else {
            val n = s"n${rnd.nextInt(3)}"; custState(u) = n; (u, n, "+U")
          }
        }
      }
      Topics.appendJson(custRows.toDF("uid", "name", "__op").coalesce(1),
        s"${tag}_cust_feed", conf, Nil, epoch)
      if (epoch == 1 || rnd.nextBoolean()) {
        val prodRows = (1 to 2).map { p =>
          val b = s"b$epoch-${rnd.nextInt(2)}"; prodState(p) = b; (p, b, "+U")
        }
        Topics.appendJson(prodRows.toDF("pid", "brand", "__op"),
          s"${tag}_prod_feed", conf, Nil, epoch)
      }
      // the first epoch fills the snapshots; later ones crash at a
      // seeded point past the snapshot publish
      val armK = if (epoch > 1 && rnd.nextInt(4) != 0) 1 else 0
      val (r2, crashed) = drainWithKill(r, armK, mk _,
        Some(points(rnd.nextInt(points.size))))
      r = r2
      if (crashed) crashes += 1
    }
    assert(crashes >= 2,
      s"[$tag] fuzz degraded: only $crashes injected crashes fired")
    r.stopAll()

    assertNetEqualsBatch(tag, s"${tag}_enr",
      facts.toSeq.toDF("order_id", "uid", "pid")
        .join(custState.toSeq.toDF("uid", "name"), "uid")
        .join(prodState.toSeq.toDF("pid", "brand"), "pid")
        .select("order_id", "name", "brand"),
      Seq("order_id", "name", "brand"))
  }

  /** Multiset compare of the folded retract net vs the batch oracle. */
  private def assertNetEqualsBatch(tag: String, enrTable: String,
                                   oracle: DataFrame, cols: Seq[String]): Unit = {
    type K = Seq[Option[Any]]
    val expected: Map[K, Int] = oracle.collect().toSeq
      .map(row => cols.indices.map(i => Option(row.get(i))): K)
      .groupBy(identity).map { case (k, v) => k -> v.size }
    val actual: Map[K, Int] = spark.table(enrTable)
      .groupBy(cols.map(col): _*)
      .agg(sum(when(col("__op").startsWith("-"), -1L).otherwise(1L)).as("n"))
      .where(col("n") =!= 0L)
      .collect().toSeq.flatMap { row =>
        val n = row.getLong(cols.size)
        assert(n > 0, s"[$tag] negative net count: $row")
        Seq.fill(n.toInt)(cols.indices.map(i => Option(row.get(i))): K)
      }.groupBy(identity).map { case (k, v) => k -> v.size }
    assert(actual === expected,
      s"[$tag] net state diverged from the batch join over final states " +
        s"after kill/resume\n" +
        s"  missing: ${(expected.keySet -- actual.keySet).take(5)}\n" +
        s"  extra:   ${(actual.keySet -- expected.keySet).take(5)}")
  }
}
