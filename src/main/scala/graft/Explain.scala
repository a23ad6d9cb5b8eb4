package graft

/** Plan-inspection tool: prints the formatted physical plan for the
  * named queries (all queries if none named). Used to audit that scans
  * prune columns / push filters, small dims broadcast, and expressions
  * stay inside WholeStageCodegen — the things that decide whether a
  * plan survives a 100x scale-up.
  *
  * `--executed` runs each query first and prints the FINAL post-AQE
  * executed plan instead (what actually ran: AQE join selections,
  * coalesced shuffle reads, reused exchanges). */
object Explain {
  def main(rawArgs: Array[String]): Unit = {
    val executed = rawArgs.contains("--executed")
    val args = rawArgs.filterNot(_ == "--executed")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = SessionTuning.session("4")
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      println(s"\n========== $name ==========")
      val df = SparkEntry.queries(name)(spark, sfDir)
      if (executed) {
        df.collect()
        println(df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head)
      } else df.explain("formatted")
    }
    spark.stop()
  }
}
