package graft

import java.io.FileNotFoundException
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.exec.StreamingStatementRunner
import graft.sources.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem, Fs, TopicConf, Topics}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileStatus, FileSystem, FsConstants, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The fork-free local filesystem (`graft.sources.LocalFs`) against
  * Hadoop's own: same modes, same link statuses, same FileContext rename
  * contract — and a streaming INSERT on the engine's session starts no
  * `chmod`/`readlink`/`ls` process. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(FsConstants.LOCAL_FS_URI, new Configuration())
    fs
  }
  private lazy val impls = Seq(
    "hadoop" -> raw(new RawLocalFileSystem), "fork-free" -> raw(new ForkFreeRawLocalFileSystem))

  private def mode(p: Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p.toUri)))

  test("setPermission, create and mkdirs with a mode leave the same bits as Hadoop's") {
    val root = Paths.get(Fs.tempDirDeletedAtExit("graft-localfs"))
    for (m <- Seq("600", "644", "700", "755", "777")) {
      val perm = new FsPermission(Integer.parseInt(m, 8).toShort)
      val got = impls.map { case (name, fs) =>
        val base = new Path(root.toUri.toString, s"$name-$m")
        val file = new Path(base, "f")
        val dir = new Path(base, "d")
        val made = new Path(base, "made")
        val created = new Path(base, "created")
        fs.mkdirs(base)
        fs.create(file).close()
        fs.setPermission(file, perm)
        fs.mkdirs(dir)
        fs.setPermission(dir, perm)
        fs.mkdirs(made, perm)
        fs.create(created, perm, true, 4096, 1.toShort, 1L << 20, null).close()
        Seq(file, dir, made, created).map(mode)
      }
      assert(got.head === got(1), s"mode $m: hadoop vs fork-free")
      assert(got.head.take(2) === Seq(perm.toString, perm.toString), s"mode $m not applied")
    }
  }

  test("getFileLinkStatus on a file, dir, symlink, dangling symlink and missing path matches Hadoop's") {
    val root = Paths.get(Fs.tempDirDeletedAtExit("graft-localfs"))
    val file = Files.write(root.resolve("file"), "abc".getBytes("UTF-8"))
    val dir = Files.createDirectory(root.resolve("dir"))
    val link = Files.createSymbolicLink(root.resolve("link"), file)
    val dangling = Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    def shape(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
      if (s.isSymlink) s.getSymlink else null, s.getLen)
    // the outcome (status or exception class) must match, for plain and
    // `file:`-qualified paths: Hadoop sees a link (dangling or not) only
    // on a plain path, and a missing path throws FileNotFoundException
    for (qualified <- Seq(false, true)) {
      val got = Seq(file, dir, link, dangling, root.resolve("missing")).map { p =>
        val path = if (qualified) new Path(p.toUri) else new Path(p.toString)
        val both = impls.map { case (_, fs) =>
          Try(shape(fs.getFileLinkStatus(path))).toEither.left.map(_.getClass)
        }
        assert(both.head === both(1), s"$path: hadoop vs fork-free")
        both.head
      }
      if (!qualified) assert(got.slice(2, 4).map(_.map(_._4)) === Seq(Right(true), Right(true)),
        s"a symlink's status is a link status: $got")
      assert(got.last === Left(classOf[FileNotFoundException]))
    }
  }

  test("FileContext rename onto an existing path throws without OVERWRITE and replaces with it") {
    val conf = new Configuration()
    conf.set("fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)
    val fc = FileContext.getFileContext(FsConstants.LOCAL_FS_URI, conf)
    assert(fc.getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
    for ((name, f) <- Seq("hadoop" -> FileContext.getLocalFSFileContext(new Configuration()), "fork-free" -> fc)) {
      if (name == "hadoop") assert(f.getDefaultFileSystem.isInstanceOf[LocalFs])
      val root = new Path(Paths.get(Fs.tempDirDeletedAtExit("graft-localfs")).toUri)
      def write(p: Path, s: String): Unit = {
        val out = f.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
        try out.write(s.getBytes("UTF-8")) finally out.close()
      }
      val (a, b) = (new Path(root, "a"), new Path(root, "b"))
      write(a, "new")
      write(b, "old")
      intercept[FileAlreadyExistsException](f.rename(a, b))
      f.rename(a, b, Options.Rename.OVERWRITE)
      val in = f.open(b)
      val got = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      assert(got === "new" && !f.util.exists(a), name)
    }
  }

  test("the session's file scheme is fork-free; a 3-epoch streaming INSERT starts no chmod/readlink/ls") {
    val fs = FileSystem.get(FsConstants.LOCAL_FS_URI, spark.sessionState.newHadoopConf())
    assert(fs.getClass === classOf[ForkFreeLocalFileSystem])
    val conf = TopicConf(Fs.tempDirDeletedAtExit("graft-localfs"))
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("lfs_src", StructType(Seq(
      StructField("id", LongType), StructField("v", LongType))))
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val commands = try {
      r.runScript("""
        CREATE TABLE lfs_sink (id BIGINT, v BIGINT);
        INSERT INTO lfs_sink SELECT id, v * 2 AS v FROM lfs_src WHERE v > 0""")
      (1 to 3).foreach { e =>
        Topics.appendJson(Seq((e.toLong, e * 10L), (e + 10L, -1L)).toDF("id", "v"),
          "lfs_src", conf, Nil, e.toLong)
        r.processAllAvailable()
      }
      new ProcessBuilder("true").start().waitFor() // the recording's positive control
      rec.stop()
      val out = Files.createTempFile("graft-localfs", ".jfr")
      try {
        rec.dump(out)
        jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala
          .filter(_.getEventType.getName == "jdk.ProcessStart")
          .map(_.getString("command").trim.split("\\s+").head.split('/').last).toSeq
      } finally Files.deleteIfExists(out)
    } finally { rec.close(); r.stopAll() }
    assert(spark.table("lfs_sink").as[(Long, Long)].collect().sorted.toSeq ===
      Seq((1L, 20L), (2L, 40L), (3L, 60L)))
    assert(commands.contains("true"), s"the recording saw no process start: $commands")
    val forks = commands.filter(Set("chmod", "readlink", "ls")).groupBy(identity).view.mapValues(_.size).toMap
    assert(forks.isEmpty, "filesystem process starts by command")
  }
}
