package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Gate outputs must be FLAT: the driver's pandas compare crashes
    * sorting an array/map/struct TOP-LEVEL column (round-18 q248 red
    * row — green locally, red at the driver). Refuse at dump time so
    * the class cannot ship; `dev/check.py` carries the same guard for
    * oracle-side outputs. Nested types INSIDE a query are fine. */
  def assertFlat(name: String,
                 df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val nested = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[ArrayType] ||
                f.dataType.isInstanceOf[MapType] ||
                f.dataType.isInstanceOf[StructType] =>
        s"${f.name}: ${f.dataType.simpleString}"
    }
    require(nested.isEmpty,
      s"$name emits nested TOP-LEVEL output columns (${nested.mkString(", ")}) " +
        "— the driver's pandas sort crashes on them; unpack to scalar " +
        "columns or explode to rows (CLAUDE.md hard-won rule)")
    df
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SessionTuning.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      try assertFlat(name, fn(spark, sfDir)).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release the operators' plan-keyed caches (tf, postings, vocab,
      // weights) per query — across ~75 queries they would otherwise
      // accumulate pinned storage for the whole run (the documented
      // cache lifecycle: the CALLER releases)
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
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
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
