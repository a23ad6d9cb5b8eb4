package graft

import graft.exec.StreamingStatementRunner
import graft.sources.{TopicConf, Topics}
import org.apache.spark.sql.types._

/** Formal scoping of the LAST residual merge-aggregate rejection
  * (VERDICT r18 item 5): "multi-column DISTINCT under sum/avg".
  *
  * The shape is UNREACHABLE SQL, not a missing operator: both Spark
  * and Flink declare `sum`/`avg` unary, so `sum(DISTINCT a, b)` dies
  * in the ANALYZER (wrong argument count) before MergeAggRewrite ever
  * sees an Aggregate — there is no statement a user of the reference
  * could run that this engine refuses here. What users actually mean —
  * DISTINCT over a tuple — is expressible only as ONE expression
  * combining the columns (`sum(DISTINCT a + b)`), which the
  * single-expression multiset already folds exactly under retraction.
  * The only input that genuinely reaches [[graft.exec.MergeAggRewrite]]
  * `distinctChild`'s guard is a foldable child (`sum(DISTINCT 5)`),
  * rejected loudly at statement submission. */
class MergeAggRejectionSpec extends SparkSpec {
  import spark.implicits._

  private def newConf(tag: String): TopicConf =
    TopicConf(tempDir(s"graft-$tag"))

  test("sum/avg(DISTINCT a, b) is unreachable SQL: Spark's analyzer rejects the arity before the rewrite") {
    Seq((1L, 2L)).toDF("a", "b").createOrReplaceTempView("mar_batch")
    Seq("sum", "avg").foreach { fn =>
      val err = intercept[Exception](
        spark.sql(s"SELECT $fn(DISTINCT a, b) FROM mar_batch").collect())
      assert(err.getMessage.toLowerCase.matches("(?s).*(parameter|argument).*"),
        s"$fn(DISTINCT a, b) must die on arity in the analyzer, " +
          s"got: ${err.getMessage}")
    }
  }

  test("DISTINCT over a tuple IS supported as one expression: sum(DISTINCT a + b) folds exactly under retraction") {
    val conf = newConf("mar-tuple")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("mar_src", StructType(Seq(
      StructField("k", StringType), StructField("grp", StringType),
      StructField("a", LongType), StructField("b", LongType))))
    r.runScript("""
      CREATE TABLE mar_acct (k STRING, grp STRING, a BIGINT, b BIGINT,
        PRIMARY KEY (k) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO mar_acct SELECT k, grp, a, b FROM mar_src;
      CREATE TABLE mar_out (grp STRING, s BIGINT,
        PRIMARY KEY (grp) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO mar_out
      SELECT grp, sum(DISTINCT a + b) AS s
      FROM mar_acct GROUP BY grp""")
    def state() = spark.table("mar_out").as[(String, Long)].collect().toMap
    // k1 and k2 hold the SAME combined value (1+9 = 4+6 = 10)
    Topics.appendJson(Seq(("k1", "g1", 1L, 9L), ("k2", "g1", 4L, 6L),
      ("k3", "g1", 2L, 3L)).toDF("k", "grp", "a", "b"), "mar_src", conf, Nil, 1)
    r.processAllAvailable()
    assert(state() === Map("g1" -> 15L), "distinct {10, 5} must sum to 15")
    // k2 revises to another 10: the value survives via k1 — unchanged
    Topics.appendJson(Seq(("k2", "g1", 7L, 3L)).toDF("k", "grp", "a", "b"),
      "mar_src", conf, Nil, 2)
    r.processAllAvailable()
    assert(state() === Map("g1" -> 15L),
      "a duplicate combined value must not double-count")
    // k1 moves off 10: k2 still holds it, and 2 joins the set
    Topics.appendJson(Seq(("k1", "g1", 1L, 1L)).toDF("k", "grp", "a", "b"),
      "mar_src", conf, Nil, 3)
    r.processAllAvailable()
    assert(state() === Map("g1" -> 17L),
      "distinct {10, 5, 2} after the revision must sum to 17")
    r.stopAll()
  }

  test("sum(DISTINCT <literal>) — the guard's only reachable residue — rejects loudly at submission") {
    val conf = newConf("mar-lit")
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("mar_src_l", StructType(Seq(
      StructField("k", StringType), StructField("grp", StringType))))
    r.runScript("""
      CREATE TABLE mar_l_acct (k STRING, grp STRING,
        PRIMARY KEY (k) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO mar_l_acct SELECT k, grp FROM mar_src_l;
      CREATE TABLE mar_l_out (grp STRING, s BIGINT,
        PRIMARY KEY (grp) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS""")
    val err = intercept[IllegalArgumentException](
      r.run("""INSERT INTO mar_l_out
               SELECT grp, sum(DISTINCT 5) AS s
               FROM mar_l_acct GROUP BY grp"""))
    assert(err.getMessage.contains("exactly one"),
      s"wrong rejection: ${err.getMessage}")
    r.stopAll()
  }
}
