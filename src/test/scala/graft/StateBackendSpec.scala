package graft

import graft.streaming.{StateBackend, StreamReplay}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The RocksDB state backend (the 100 TB memory profile: state on
  * local disk with a bounded block cache, vs the default provider's
  * on-heap maps) must be a pure DEPLOYMENT switch: identical output
  * from every stateful operator, engaged by session conf alone. */
class StateBackendSpec extends SparkSpec {
  import spark.implicits._

  test("RocksDB provider actually engages and streaming dedup state behaves identically") {
    implicit val sqlCtx = spark.sqlContext
    def run(name: String, rocks: Boolean): Set[(String, Int)] = {
      val in = MemoryStream[(String, Int)]
      def start() = in.toDF().toDF("k", "v")
        .dropDuplicates("k")
        .writeStream.format("memory").queryName(name).outputMode("append")
        .start()
      val q = if (rocks) StateBackend.withRocksDb(spark)(start()) else start()
      try {
        in.addData(("a", 1), ("b", 2))
        q.processAllAvailable()
        in.addData(("a", 9), ("c", 3)) // cross-batch state: a is a dup
        q.processAllAvailable()
        if (rocks) {
          val metrics = q.lastProgress.stateOperators.head.customMetrics
            .keySet().toArray.map(_.toString)
          assert(metrics.exists(_.toLowerCase.contains("rocksdb")),
            s"RocksDB provider did not engage; state metrics: ${metrics.mkString(",")}")
        }
      } finally q.stop()
      spark.table(name).as[(String, Int)].collect().toSet
    }
    val default = run("sb_dedup_default", rocks = false)
    val rocksDb = run("sb_dedup_rocks", rocks = true)
    assert(default === Set(("a", 1), ("b", 2), ("c", 3)))
    assert(rocksDb === default,
      "state backend must be a pure deployment switch — outputs diverged")
  }

  test("watermarked tumble replay: RocksDB output equals the default provider's") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(timestamp_micros(unix_micros(col("ts"))).as("ts"),
        col("event_type"), unix_micros(col("ts")).as("__ord"))
    val hi = ev.agg(max("__ord")).collect().head.getLong(0)
    val sentinel = Seq(1).toDF("__x").select(
      timestamp_micros(lit(hi + 3L * 3600000000L)).as("ts"),
      lit(StreamReplay.SentinelKey).as("event_type"),
      lit(hi + 3L * 3600000000L).as("__ord"))
    def replay(name: String): Set[(Long, String, Long)] = {
      val dir = tempDir(s"graft-$name")
      StreamReplay.replayAppend(ev, "__ord", dir, slices = 4,
          queryName = name, sentinel = Some(sentinel)) { s =>
        s.withWatermark("ts", "0 seconds")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(unix_micros(col("window.start")).as("w"),
            col("event_type"), col("n"))
      }.where(col("event_type") =!= StreamReplay.SentinelKey)
        .as[(Long, String, Long)].collect().toSet
    }
    val default = replay("sb_tumble_default")
    val rocksDb = StateBackend.withRocksDb(spark)(replay("sb_tumble_rocks"))
    assert(default.nonEmpty && rocksDb === default,
      "windowed aggregation state must be provider-independent")
  }
}
