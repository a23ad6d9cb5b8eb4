package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Path operations resolved through Hadoop `FileSystem`, so a topic
  * root / warehouse / index dir on HDFS or S3A behaves the same as a
  * local path. `java.io.File` rename/delete silently no-ops (or
  * throws) on non-local schemes — every side-file operation in the
  * engine (topic dirs, compaction swaps, bucketed-table cleanup, index
  * sidecars) goes through here instead.
  */
object Fs {

  def on(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  def mkdirs(spark: SparkSession, path: String): Unit = {
    val (fs, p) = on(spark, path)
    fs.mkdirs(p)
    ()
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val (fs, p) = on(spark, path)
    fs.exists(p)
  }

  /** Recursive delete; no-op when absent. */
  def deleteRecursive(spark: SparkSession, path: String): Unit = {
    val (fs, p) = on(spark, path)
    if (fs.exists(p)) fs.delete(p, true)
    ()
  }

  /** Rename within one filesystem; false on failure (Hadoop contract). */
  def rename(spark: SparkSession, from: String, to: String): Boolean = {
    val (fs, f) = on(spark, from)
    fs.rename(f, new Path(to))
  }

  def writeUtf8(spark: SparkSession, path: String, content: String): Unit = {
    val (fs, p) = on(spark, path)
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8"))
    finally out.close()
  }

  def readUtf8(spark: SparkSession, path: String): String = {
    val (fs, p) = on(spark, path)
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      new String(buf.toByteArray, "UTF-8")
    } finally in.close()
  }

  /** A fresh local temp dir, deleted with its contents at JVM exit —
    * not on return, for callers whose frames read the files lazily. */
  def tempDirDeletedAtExit(prefix: String): String = {
    val root = java.nio.file.Files.createTempDirectory(prefix)
    exitDeletes.add(root)
    root.toString
  }

  private lazy val exitDeletes = {
    import java.nio.file.{Files, Path}
    val roots = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()
    sys.addShutdownHook {
      roots.forEach { root =>
        try {
          val walk = Files.walk(root)
          try walk.sorted(java.util.Comparator.reverseOrder[Path]())
            .forEach(p => Files.deleteIfExists(p))
          finally walk.close()
        } catch { case _: java.io.IOException | _: java.io.UncheckedIOException => }
      }
    }
    roots
  }
}
