package graft

/** Dev-loop companion to [[Verify]]: dump ONLY the named queries (plus
  * a fresh `oracle_sql.json`) into an existing verify output dir, so a
  * `dev/check.py <sf> <out> <names...>` subset re-check doesn't pay a
  * full-suite re-dump while iterating on one operator.
  *
  * Usage: `runMain graft.VerifySubset <sfDir> <outDir> <query...>`
  * Same session config as [[Verify]] (UTC, nanosAsLong, AQE, 32
  * shuffle partitions) — a config drift here would "fix" or "break"
  * queries the driver gate then disagrees on.
  */
object VerifySubset {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: VerifySubset <sfDir> <outDir> <query...>")
    // reject unknown names before starting Spark, naming the valid ones
    val registry = SparkEntry.queries
    val unknown = args.drop(2).filterNot(registry.contains)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.mkString(", ")}; valid names: " +
        registry.keys.toSeq.sorted.mkString(", "))
    val sfDir = args(0)
    val outDir = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SessionTuning.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    args.drop(2).foreach { name =>
      Verify.assertFlat(name, registry(name)(spark, sfDir)).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
      spark.catalog.clearCache()
    }
    // same escaping contract as Verify (see there for why control chars)
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
