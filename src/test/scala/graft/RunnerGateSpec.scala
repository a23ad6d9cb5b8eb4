package graft

import org.apache.spark.sql.functions._

/** The runner-gate harness's lifetime contract, on a few in-memory rows
  * (no fixture replay): feeds drain in declared order, and a gate that
  * throws mid-epoch leaves none of its runner's queries running and the
  * session's shuffle width as it found it. */
class RunnerGateSpec extends SparkSpec {
  import spark.implicits._
  import SparkEntry.{Project, RunnerGate, runGate}

  private val key = "spark.sql.shuffle.partitions"

  /** Two append feeds per epoch over three rows in two epochs. */
  private def gate(q: String,
                   check: (exec.StreamingStatementRunner, String) => Unit): RunnerGate = {
    val ev = Seq((1L, 10L, 100L), (2L, 11L, 200L), (1L, 12L, 300L))
      .toDF("user_id", "event_id", "ts_us")
    RunnerGate(Seq(
        s"a_$q" -> "user_id BIGINT, event_id BIGINT",
        s"b_$q" -> "user_id BIGINT, event_id BIGINT"), s"""
        CREATE TABLE log_$q (user_id BIGINT, event_id BIGINT);
        INSERT INTO log_$q SELECT user_id, event_id FROM a_$q;
        INSERT INTO log_$q SELECT user_id, event_id + 100 FROM b_$q""",
      ev, epochs = 2, e => i => {
        val slice = e.slice(ev, i).select("user_id", "event_id")
        Seq(s"a_$q" -> slice, s"b_$q" -> slice)
      },
      Project(s"log_$q", col("event_id")), afterDrain = check)
  }

  test("a gate drains after every feed, in declared order, and returns its fold") {
    val drains = Seq.newBuilder[String]
    val out = runGate(spark, "rg_ok", gate("rg_ok", (_, d) => drains += d))
      .as[Long].collect().sorted
    assert(drains.result() === Seq("e0-a_rg_ok", "e0-b_rg_ok", "e1-a_rg_ok", "e1-b_rg_ok"))
    assert(out.toSeq === Seq(10L, 11L, 12L, 110L, 111L, 112L))
  }

  test("a gate whose after-drain check throws stops its runner and restores the shuffle width") {
    val prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    try {
      var started = Seq.empty[org.apache.spark.sql.streaming.StreamingQuery]
      val e = intercept[IllegalArgumentException] {
        runGate(spark, "rg_fail", gate("rg_fail", { (r, d) =>
          started = r.activeQueries
          require(false, s"check failed at $d")
        }))
      }
      assert(e.getMessage.contains("check failed at e0-a_rg_fail"))
      assert(started.size === 2)
      val active = spark.streams.active.map(_.id).toSet
      assert(started.forall(q => !q.isActive && !active.contains(q.id)),
        "a failed gate left its INSERT queries running")
      assert(spark.conf.get(key) === "7")
    } finally spark.conf.set(key, prev)
  }
}
