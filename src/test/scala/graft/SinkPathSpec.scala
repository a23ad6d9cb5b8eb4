package graft

import graft.exec.StreamingStatementRunner
import graft.sources.TopicConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The sink path every INSERT route shares (`sinkBatch` →
  * `Topics.appendJson` → the target view): its fixed cost per trigger
  * and the phases it reports. */
class SinkPathSpec extends SparkSpec {
  import spark.implicits._

  /** An INSERT of `select(source)` over in-memory rows into a table
    * of `columns`; `epoch(i)` feeds one row and drains. */
  private def streamInsert(tag: String, columns: String, select: String => String)
                          (body: (StreamingStatementRunner, Int => Unit) => Unit): Unit = {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[SOrd]
    src.toDF().createOrReplaceTempView(s"${tag}_orders")
    val r = new StreamingStatementRunner(spark, topicConf = Some(TopicConf(tempDir(s"graft-$tag"))))
    r.runScript(s"""
      CREATE TABLE ${tag}_out ($columns);
      INSERT INTO ${tag}_out ${select(s"${tag}_orders")}""")
    try body(r, i => { src.addData(SOrd(i, s"p$i", "c")); r.processAllAvailable() })
    finally r.stopAll()
  }

  /** The direct route: a stateless projection. */
  private def directInsert(tag: String) = streamInsert(tag, "order_id INT, product_id STRING",
    src => s"SELECT order_id, product_id FROM $src WHERE order_id > 0") _

  /** The merge-aggregate route: an exact DISTINCT folded onto the
    * target's prior state each trigger. */
  private def mergeAggInsert(tag: String) = streamInsert(tag,
    "product_id STRING, n BIGINT, PRIMARY KEY (product_id) NOT ENFORCED",
    src => s"SELECT product_id, count(DISTINCT order_id) AS n FROM $src GROUP BY product_id") _

  test("a direct-route INSERT compiles no code per trigger after warm-up: the sink's per-epoch values are bound, not inlined") {
    directInsert("cg") { (r, epoch) =>
      epoch(1)
      epoch(2)
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (3 to 5).foreach(epoch)
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === compiles,
        "a warm trigger recompiled generated code — a per-epoch literal reached codegen")
      assert(spark.table("cg_out").count() === 5)
    }
  }

  test("progressSummary splits the sink out of addBatch: sinkWrite and viewRefresh") {
    Seq(directInsert("ph"), mergeAggInsert("phm")).foreach { insert =>
      insert { (r, epoch) =>
        epoch(1)
        epoch(2)
        val p = r.progressSummary.head
        assert(p.phases.contains("sinkWrite") && p.phases.contains("viewRefresh"),
          s"the sink's phases must be reported: ${p.phases}")
        assert(p.phases("sinkWrite") + p.phases("viewRefresh") <= p.phases("addBatch"),
          s"the sink runs inside addBatch: ${p.phases}")
      }
    }
    // the merge route's view shows the declared columns, not its raws
    assert(spark.table("phm_out").columns.toSeq === Seq("product_id", "n"))
  }
}
