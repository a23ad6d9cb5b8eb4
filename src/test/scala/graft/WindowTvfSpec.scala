package graft

import graft.ddl.StatementPreprocessor
import graft.operators.WindowOps
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** The Flink windowing TVFs (`TABLE(TUMBLE|HOP|CUMULATE(...))`) lowered
  * by the statement preprocessor to Spark subqueries — asserted
  * equivalent to the native `window()` / `WindowOps.cumulate` forms on
  * fixture data. */
class WindowTvfSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def events() = {
    Tables.load(spark, dir, "events").createOrReplaceTempView("events_tvf")
    spark.table("events_tvf")
  }

  /** The statement dialect's lowering, run as plain Spark SQL. */
  private def tvf(sql: String) = spark.sql(StatementPreprocessor.rewriteWindowTvfs(sql))

  private def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Unit = {
    assert(a.count() > 0)
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
  }

  test("TUMBLE TVF ≡ window(ts, size)") {
    val ev = events()
    val viaTvf = tvf(
      """SELECT window_start, window_end, count(*) AS n
         FROM TABLE(TUMBLE(TABLE events_tvf, DESCRIPTOR(ts), INTERVAL '10' MINUTES))
         GROUP BY window_start, window_end""")
    val native = ev.groupBy(window($"ts", "10 minutes")).agg(count(lit(1)).as("n"))
      .select($"window.start".as("window_start"), $"window.end".as("window_end"), $"n")
    same(viaTvf, native)
  }

  test("HOP TVF ≡ window(ts, size, slide)") {
    val ev = events()
    val viaTvf = tvf(
      """SELECT window_start, window_end, count(*) AS n
         FROM TABLE(HOP(TABLE events_tvf, DESCRIPTOR(ts), INTERVAL '5' MINUTES, INTERVAL '15' MINUTES))
         GROUP BY window_start, window_end""")
    val native = ev.groupBy(window($"ts", "15 minutes", "5 minutes")).agg(count(lit(1)).as("n"))
      .select($"window.start".as("window_start"), $"window.end".as("window_end"), $"n")
    same(viaTvf, native)
  }

  test("CUMULATE TVF ≡ WindowOps.cumulate") {
    val ev = events()
    val viaTvf = tvf(
      """SELECT unix_micros(window_start) AS ws, unix_micros(window_end) AS we, count(*) AS n
         FROM TABLE(CUMULATE(TABLE events_tvf, DESCRIPTOR(ts), INTERVAL '10' MINUTES, INTERVAL '30' MINUTES))
         GROUP BY 1, 2""")
    val native = WindowOps.cumulate(ev, "ts", 30L * 60 * 1000000, 10L * 60 * 1000000)
      .groupBy(col("window_start_us").as("ws"), col("window_end_us").as("we"))
      .agg(count(lit(1)).as("n"))
    same(viaTvf, native)
  }

  test("TVF rewrite composes with projections and aliases in the same select") {
    events()
    val df = tvf(
      """SELECT w.window_start, w.user_id, count(*) AS n
         FROM TABLE(TUMBLE(TABLE events_tvf, DESCRIPTOR(ts), INTERVAL '1' HOUR)) AS w
         WHERE w.event_type = 'click'
         GROUP BY w.window_start, w.user_id""")
    assert(df.count() > 0)
    assert(df.columns.toSeq === Seq("window_start", "user_id", "n"))
  }

  test("SESSION TVF with PARTITION BY ≡ groupBy(key, session_window)") {
    val ev = events()
    val viaTvf = tvf(
      """SELECT user_id, window_start, window_end, count(*) AS n
         FROM TABLE(SESSION(TABLE events_tvf PARTITION BY user_id, DESCRIPTOR(ts), INTERVAL '10' MINUTES))
         GROUP BY user_id, window_start, window_end""")
    val native = ev.groupBy($"user_id", session_window($"ts", "10 minutes"))
      .agg(count(lit(1)).as("n"))
      .select($"user_id", $"session_window.start".as("window_start"),
        $"session_window.end".as("window_end"), $"n")
    same(viaTvf, native)
  }

  test("SESSION TVF without keys ≡ global session_window") {
    val ev = events()
    val viaTvf = tvf(
      """SELECT window_start, window_end, count(*) AS n
         FROM TABLE(SESSION(TABLE events_tvf, DESCRIPTOR(ts), INTERVAL '30' MINUTES))
         GROUP BY window_start, window_end""")
    val native = ev.groupBy(session_window($"ts", "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select($"session_window.start".as("window_start"),
        $"session_window.end".as("window_end"), $"n")
    same(viaTvf, native)
  }

  test("unsupported SESSION TVF form is rejected with direction to session_window") {
    val ex = intercept[IllegalArgumentException] {
      StatementPreprocessor.rewriteWindowTvfs(
        "SELECT * FROM TABLE(SESSION(TABLE t, DESCRIPTOR(ts), 42))")
    }
    assert(ex.getMessage.contains("session_window"))
  }
}
