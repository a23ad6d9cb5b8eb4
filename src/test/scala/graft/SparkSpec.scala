package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (single JVM; `local[4]` keeps spec
  * runtime low — scale behavior is exercised via Bench, not here). Its
  * `file` scheme is the engine's fork-free filesystem, as in every main;
  * the mains' AQE tuning stays out. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = graft.sources.LocalFs.configure(SparkSession.builder())
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = {
    // session is shared across suites; do not stop it here
    super.afterAll()
  }

  /** A fresh temp dir for a spec's topics, checkpoints or state. */
  def tempDir(prefix: String): String = SparkSpec.tempDir(prefix)
}

object SparkSpec {
  /** One root per test JVM for every spec's temp dirs, deleted with its
    * contents when the JVM exits — a suite run leaves none behind. */
  private lazy val suiteRoot =
    java.nio.file.Paths.get(graft.sources.Fs.tempDirDeletedAtExit("graft-suite"))

  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(suiteRoot, prefix).toString
}
