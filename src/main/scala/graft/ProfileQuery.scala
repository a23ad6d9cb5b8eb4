package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev-only measurement harness (guide §1): runs named queries once and
  * attributes wall-clock to Spark jobs vs driver-side gaps. Usage:
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.ProfileQuery q235_... [qNNN...]"
  * Prints, per query: total wall, #jobs, Σ job time, #stages, Σ task time,
  * and the top job groups by description. Not part of any driver gate.
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    // reject unknown names before starting Spark, naming the valid ones
    val registry = SparkEntry.queries
    val unknown = args.filterNot(registry.contains)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.mkString(", ")}; valid names: " +
        registry.keys.toSeq.sorted.mkString(", "))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SessionTuning.tuned(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    case class Acc(var n: Int = 0, var ms: Long = 0L)
    val byDesc = new java.util.concurrent.ConcurrentHashMap[String, Acc]()
    // `untimed` counts completed stages that lack a submission or
    // completion time: their wall is unknown, not zero
    class StAcc { var n = 0; var tasks = 0L; var ms = 0L; var wall = 0L; var untimed = 0 }
    val stageAgg = new java.util.concurrent.ConcurrentHashMap[String, StAcc]()
    @volatile var jobs = 0
    @volatile var jobMs = 0L
    @volatile var stages = 0
    @volatile var taskMs = 0L
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("(none)")
        jobStart.put(e.jobId, (e.time, desc))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobStart.remove(e.jobId)).foreach { case (t0, desc) =>
          val ms = e.time - t0
          jobs += 1; jobMs += ms
          byDesc.compute(desc, (_, a) => {
            val acc = if (a == null) Acc() else a; acc.n += 1; acc.ms += ms; acc
          })
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages += 1
        taskMs += e.stageInfo.taskMetrics.executorRunTime
        val n = e.stageInfo.name.takeWhile(_ != '\n').take(70)
        stageAgg.compute(n, (_, a) => {
          val acc = if (a == null) new StAcc() else a
          acc.n += 1
          acc.tasks += e.stageInfo.numTasks
          acc.ms += e.stageInfo.taskMetrics.executorRunTime
          (e.stageInfo.submissionTime, e.stageInfo.completionTime) match {
            case (Some(t0), Some(t1)) => acc.wall += t1 - t0
            case _ => acc.untimed += 1
          }
          acc
        })
      }
    }
    // one warmup of the JVM paths
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    spark.catalog.clearCache()
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROFILE_REPS", "1").toInt
    args.foreach { name =>
      val fn = registry(name)
      (1 to reps).foreach { rep =>
        jobStart.clear(); byDesc.clear(); stageAgg.clear(); jobs = 0; jobMs = 0; stages = 0; taskMs = 0
        spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true } catch {
          case e: Throwable => println(s"FAILED $name: $e"); false }
        val wall = (System.nanoTime() - t0) / 1e9
        org.apache.spark.sql.GraftSqlBridge.awaitListenerBus(spark)
        spark.sparkContext.removeSparkListener(listener)
        spark.catalog.clearCache()
        println(f"== $name rep$rep ok=$ok wall=$wall%.2fs jobs=$jobs jobTime=${jobMs / 1000.0}%.2fs " +
          f"stages=$stages taskTime=${taskMs / 1000.0}%.2fs driverGap=${wall - jobMs / 1000.0}%.2fs")
        import scala.jdk.CollectionConverters._
        byDesc.asScala.toSeq.sortBy(-_._2.ms).take(12).foreach { case (d, a) =>
          println(f"   ${a.ms / 1000.0}%7.2fs n=${a.n}%-4d ${d.take(100)}")
        }
        println("  -- top stages by stage wall (stageWall / taskTime / #stages / #tasks / #untimed):")
        stageAgg.asScala.toSeq.sortBy(-_._2.wall).take(15).foreach { case (nm, a) =>
          println(f"   ${a.wall / 1000.0}%7.2fs ${a.ms / 1000.0}%7.2fs n=${a.n}%-4d t=${a.tasks}%-6d u=${a.untimed}%-3d $nm")
        }
        val untimed = stageAgg.asScala.values.map(_.untimed).sum
        if (untimed > 0)
          println(s"  -- $untimed stage(s) lacked a timestamp; stage walls above exclude them")
      }
    }
    spark.stop()
  }
}
