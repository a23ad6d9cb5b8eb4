package graft

import graft.exec.StreamingStatementRunner
import graft.sources.{TopicConf, Topics}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Randomized soak of the regular-join bracket engine (round 19):
  * RegularJoinSpec pins hand-picked scenarios; this spec replays a
  * SEEDED random schedule of fact appends, dim upserts/revisions/
  * tombstones, and band upserts/tombstones through join trees over
  * `fact, dim, band (ON dim.t = band.t)` — eight LEFT-DEEP kind pairs
  * and four BUSHY (operand-join) shapes — covering every side-plan
  * class the engine proves: all-linear, singly-dominated (own node or
  * one ancestor), and the multi-node expansions (doubly-dominated
  * sides, FULL own-pad continuations, operand subtrees). Each scenario
  * asserts the REGULAR-JOIN LAW the hand cases pin once each: the
  * folded net state equals the batch join over FINAL dim/band states
  * and ALL facts.
  *
  * Deterministic seeds (no wall-clock randomness): failures replay
  * exactly. Each schedule drains per feed, so interleaving is fixed
  * by the seed. */
class RegularJoinFuzzSpec extends SparkSpec {
  import spark.implicits._

  private val leftDeep = Seq(
    ("INNER", "INNER"), // all sides linear
    ("LEFT", "INNER"),  // dim singly (own node)
    ("INNER", "LEFT"),  // band singly (own node)
    ("INNER", "RIGHT"), // fact + dim singly (dominated by J2)
    ("LEFT", "RIGHT"),  // dim DOUBLY dominated (the q250 class)
    ("RIGHT", "FULL"),  // fact DOUBLY; dim + band singly w/ own pads
    ("FULL", "FULL"),   // fact AND dim doubly, own-pad continuations
    ("FULL", "LEFT"))   // fact + dim singly at J1 (FULL), band at J2

  private val bushy = Seq(
    ("LEFT", "INNER"),  // the q251 class: composed-lookup operand pads
    ("LEFT", "RIGHT"),  // dim doubly (inner RIGHT + outer's subtree)
    ("FULL", "INNER"),  // fact own-pads; operand pads pre/post
    ("INNER", "LEFT"))  // band singly inside the operand, outer linear

  leftDeep.zipWithIndex.foreach { case ((k1, k2), idx) =>
    test(s"fuzz left-deep: fact $k1 JOIN dim $k2 JOIN band — random schedule folds to the batch join over final states") {
      soak(s"rjfz$idx", 1000 + idx * 7,
        tag => s"""FROM ${tag}_fact_feed f
          $k1 JOIN ${tag}_dim c ON f.uid = c.uid
          $k2 JOIN ${tag}_band b ON c.t = b.t""",
        (f, c, b) => {
          val j = f.join(c, f("uid") === c("uid"), k1.toLowerCase)
          j.join(b, c("t") === b("t"), k2.toLowerCase)
            .select(f("order_id"), f("uid"), c("t"), b("label"))
        })
    }
  }

  bushy.zipWithIndex.foreach { case ((k1, k2), idx) =>
    test(s"fuzz bushy: fact $k1 JOIN (dim $k2 JOIN band) — random schedule folds to the batch join over final states") {
      soak(s"rjfb$idx", 9000 + idx * 11,
        tag => s"""FROM ${tag}_fact_feed f
          $k1 JOIN (${tag}_dim c $k2 JOIN ${tag}_band b ON c.t = b.t)
            ON f.uid = c.uid""",
        (f, c, b) => {
          val cb = c.join(b, c("t") === b("t"), k2.toLowerCase)
            .select(c("uid").as("cb_uid"), c("t").as("cb_t"),
              b("label").as("cb_label"))
          f.join(cb, f("uid") === cb("cb_uid"), k1.toLowerCase)
            .select(f("order_id"), f("uid"), cb("cb_t"), cb("cb_label"))
        })
    }
  }

  /** Run one seeded schedule through `fromClause`'s join tree and
    * assert the folded net equals `batchJoin` over (all facts, final
    * dim state, final band state) — columns (order_id, uid, t, label). */
  private def soak(tag: String, seed: Int, fromClause: String => String,
                   batchJoin: (DataFrame, DataFrame, DataFrame) => DataFrame): Unit = {
    val rnd = new scala.util.Random(seed)
    val conf = TopicConf(
      tempDir(s"graft-$tag"))
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
        label STRING, __op STRING) WITH ('changelog.mode' = 'retract');
      INSERT INTO ${tag}_enr (order_id, uid, t, label)
      SELECT f.order_id, f.uid, c.t, b.label
      ${fromClause(tag)}""")

    // ---- random schedule, mirrored into driver-side FINAL states
    val dimState = scala.collection.mutable.Map.empty[Long, String]
    val bandState = scala.collection.mutable.Map.empty[String, String]
    val facts = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    var nextOrder = 1
    var epoch = 0
    val types = List("t1", "t2", "t3", "t4")
    def feedFacts(): Unit = {
      val rows = (0 until (1 + rnd.nextInt(3))).map { _ =>
        val f = (nextOrder, 1L + rnd.nextInt(6)); nextOrder += 1; f
      }
      rows.foreach(facts += _)
      epoch += 1
      Topics.appendJson(rows.toDF("order_id", "uid"),
        s"${tag}_fact_feed", conf, Nil, epoch)
      r.processAllAvailable()
    }
    def feedDim(): Unit = {
      // DISTINCT keys per batch: two revisions of one key inside one
      // staged micro-batch have no defined order
      val uids = rnd.shuffle((1L to 6L).toList).take(1 + rnd.nextInt(3))
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
      r.processAllAvailable()
    }
    def feedBand(): Unit = {
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
      r.processAllAvailable()
    }
    (0 until 4).foreach { _ =>
      rnd.shuffle(List(() => feedFacts(), () => feedDim(), () => feedBand()))
        .foreach(a => a())
    }
    r.stopAll()

    // ---- the law: folded net == batch join over FINAL states
    type K = (Option[Any], Option[Any], Option[Any], Option[Any])
    val f = facts.toSeq.toDF("order_id", "uid")
    val c = dimState.toSeq.toDF("uid", "t")
    val b = bandState.toSeq.toDF("t", "label")
    val expected: Map[K, Int] = batchJoin(f, c, b)
      .collect().toSeq.map { row =>
        (Option(row.get(0)), Option(row.get(1)),
          Option(row.get(2)), Option(row.get(3))): K
      }.groupBy(identity).map { case (k, v) => k -> v.size }
    val actual: Map[K, Int] = spark.table(s"${tag}_enr")
      .groupBy("order_id", "uid", "t", "label")
      .agg(sum(when(col("__op").startsWith("-"), -1L).otherwise(1L)).as("n"))
      .where(col("n") =!= 0L)
      .collect().toSeq.flatMap { row =>
        val n = row.getLong(4)
        assert(n > 0, s"[$tag] negative net count: $row")
        Seq.fill(n.toInt)((Option(row.get(0)), Option(row.get(1)),
          Option(row.get(2)), Option(row.get(3))): K)
      }.groupBy(identity).map { case (k, v) => k -> v.size }
    assert(actual === expected,
      s"[$tag] net state diverged from the batch join over final states\n" +
        s"  missing: ${(expected.keySet -- actual.keySet).take(5)}\n" +
        s"  extra:   ${(actual.keySet -- expected.keySet).take(5)}")
  }
}
