package graft

import graft.exec.StreamingStatementRunner
import graft.sources.{TopicConf, Topics}
import org.apache.spark.sql.types._

/** Randomized soak of the merge-on-write aggregate engine (round 19,
  * companion to RegularJoinFuzzSpec): seeded random upsert/revision/
  * tombstone schedules over a keyed account table drive a continuous
  * aggregate combining the sum-decomposable raws (count/sum), the
  * retractable order statistics (min/max), and the value-multiset
  * shapes (count(DISTINCT), exact percentile) — then every drain's
  * final state is compared against an EXACT driver-side oracle over
  * the latest-per-key state: groups must enter, revise, and LEAVE
  * (empty group ⇒ row deleted downstream) precisely.
  *
  * Amounts are small integers as doubles, so sums are exact and the
  * median's 0.5 interpolation is dyadic — bit-exact comparison, no
  * rounding. Deterministic seeds; failures replay exactly. */
class MergeAggFuzzSpec extends SparkSpec {
  import spark.implicits._

  (0 until 4).foreach { idx =>
    test(s"fuzz: retractable count/sum/min/max/distinct/median over a random upsert schedule (seed $idx)") {
      val rnd = new scala.util.Random(4242 + idx * 13)
      val tag = s"mafz$idx"
      val conf = TopicConf(
        tempDir(s"graft-$tag"))
      val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
      r.registerTopicSource(s"${tag}_feed", StructType(Seq(
        StructField("k", StringType), StructField("grp", StringType),
        StructField("amt", DoubleType), StructField("__op", StringType))))
      r.runScript(s"""
        CREATE TABLE ${tag}_acct (k STRING, grp STRING, amt DOUBLE, __op STRING,
          PRIMARY KEY (k) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
        INSERT INTO ${tag}_acct SELECT k, grp, amt, __op FROM ${tag}_feed;
        CREATE TABLE ${tag}_out (grp STRING, n BIGINT, s DOUBLE,
          mn DOUBLE, mx DOUBLE, nd BIGINT, p50 DOUBLE,
          PRIMARY KEY (grp) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
        INSERT INTO ${tag}_out
        SELECT grp, count(*) AS n, sum(amt) AS s, min(amt) AS mn,
               max(amt) AS mx, count(DISTINCT amt) AS nd,
               percentile(amt, 0.5) AS p50
        FROM ${tag}_acct GROUP BY grp""")

      val keys = (1 to 8).map(i => s"k$i")
      val groups = Seq("g1", "g2", "g3")
      val state = scala.collection.mutable.Map.empty[String, (String, Double)]
      var epoch = 0

      def expected(): Map[String, (Long, Double, Double, Double, Long, Double)] =
        state.values.groupBy(_._1).map { case (g, vs) =>
          val xs = vs.map(_._2).toSeq.sorted
          val n = xs.size
          // Spark's exact Percentile: rank (n-1)·p, linear interpolation
          val rank = (n - 1) * 0.5
          val lo = rank.toInt
          val frac = rank - lo
          val p50 =
            if (frac == 0.0) xs(lo)
            else xs(lo) + (xs(lo + 1) - xs(lo)) * frac
          g -> ((n.toLong, xs.sum, xs.min, xs.max,
            xs.distinct.size.toLong, p50))
        }

      def actual(): Map[String, (Long, Double, Double, Double, Long, Double)] =
        spark.table(s"${tag}_out")
          .as[(String, Long, Double, Double, Double, Long, Double)]
          .collect().map(t => t._1 -> ((t._2, t._3, t._4, t._5, t._6, t._7)))
          .toMap

      (0 until 5).foreach { _ =>
        // distinct keys per feed batch (intra-batch revision order of
        // one key is undefined through the JSON staging)
        val ks = rnd.shuffle(keys.toList).take(1 + rnd.nextInt(4))
        val rows = ks.map { k =>
          if (state.contains(k) && rnd.nextInt(4) == 0) {
            state.remove(k); (k, "g1", 0.0, "-D")
          } else {
            val g = groups(rnd.nextInt(groups.size))
            val amt = (1 + rnd.nextInt(6)).toDouble // small ints: exact
            state(k) = (g, amt); (k, g, amt, "+U")
          }
        }
        epoch += 1
        Topics.appendJson(rows.toDF("k", "grp", "amt", "__op"),
          s"${tag}_feed", conf, Nil, epoch)
        r.processAllAvailable()
        assert(actual() === expected(),
          s"[seed $idx, epoch $epoch] merged state diverged from the " +
            s"latest-per-key oracle\n  state: $state")
      }
      r.stopAll()
    }
  }

  // ── chained regular join → retract-folded aggregate (the q242
  //    class): a dim revision must move its facts' enriched rows
  //    between groups THROUGH the retract changelog — and a group
  //    emptied by tombstones must delete downstream ──
  (0 until 2).foreach { idx =>
    test(s"fuzz chained: regular join feeding a folded aggregate tracks the batch chain (seed $idx)") {
      val rnd = new scala.util.Random(777 + idx * 31)
      val tag = s"chfz$idx"
      val conf = TopicConf(
        tempDir(s"graft-$tag"))
      val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
      r.registerTopicSource(s"${tag}_dim_feed", StructType(Seq(
        StructField("uid", LongType), StructField("t", StringType),
        StructField("__op", StringType))))
      r.registerTopicSource(s"${tag}_fact_feed", StructType(Seq(
        StructField("order_id", IntegerType), StructField("uid", LongType),
        StructField("amt", LongType))))
      r.runScript(s"""
        CREATE TABLE ${tag}_dim (uid BIGINT, t STRING, __op STRING,
          PRIMARY KEY (uid) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
        INSERT INTO ${tag}_dim SELECT uid, t, __op FROM ${tag}_dim_feed;
        CREATE TABLE ${tag}_enr (order_id INT, t STRING, amt BIGINT, __op STRING)
          WITH ('changelog.mode' = 'retract');
        INSERT INTO ${tag}_enr (order_id, t, amt)
        SELECT f.order_id, c.t, f.amt
        FROM ${tag}_fact_feed f JOIN ${tag}_dim c ON f.uid = c.uid;
        CREATE TABLE ${tag}_agg (t STRING, n BIGINT, s BIGINT,
          PRIMARY KEY (t) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
        INSERT INTO ${tag}_agg
        SELECT t, count(*) AS n, sum(amt) AS s FROM ${tag}_enr GROUP BY t""")

      val dimState = scala.collection.mutable.Map.empty[Long, String]
      val facts = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
      var nextOrder = 1
      var epoch = 0
      val types = List("t1", "t2", "t3")
      def expectedAgg(): Map[String, (Long, Long)] = facts.toSeq
        .flatMap { case (_, uid, amt) => dimState.get(uid).map(t => (t, amt)) }
        .groupBy(_._1)
        .map { case (t, xs) => t -> ((xs.size.toLong, xs.map(_._2).sum)) }
      def actualAgg(): Map[String, (Long, Long)] =
        spark.table(s"${tag}_agg").as[(String, Long, Long)]
          .collect().map(x => x._1 -> ((x._2, x._3))).toMap

      (0 until 5).foreach { _ =>
        if (rnd.nextBoolean()) {
          val rows = (0 until (1 + rnd.nextInt(3))).map { _ =>
            val f = (nextOrder, 1L + rnd.nextInt(5), (1L + rnd.nextInt(9)))
            nextOrder += 1; facts += f; f
          }
          epoch += 1
          Topics.appendJson(rows.toDF("order_id", "uid", "amt"),
            s"${tag}_fact_feed", conf, Nil, epoch)
        } else {
          val uids = rnd.shuffle((1L to 5L).toList).take(1 + rnd.nextInt(3))
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
        r.processAllAvailable()
        assert(actualAgg() === expectedAgg(),
          s"[seed $idx, epoch $epoch] chained aggregate diverged from " +
            s"the batch chain\n  dim: $dimState\n  facts: ${facts.size}")
      }
      r.stopAll()
    }
  }
}
