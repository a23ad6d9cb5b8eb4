package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's `RawLocalFileSystem` without its process forks. Without
  * the Hadoop native library it runs `chmod` for every file create and
  * mkdir, and `readlink` for every `getFileLinkStatus` (each FileContext
  * rename asks twice) — ~35 forks per micro-batch of a streaming INSERT
  * across the source, offset and commit logs and the sink's commit
  * protocol. These two methods do the same through `java.nio` instead;
  * everything else (layout, rename/delete contracts, the `.crc` layer of
  * the wrapping filesystems) is Hadoop's own. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** Plain rwx bits via `Files.setPosixFilePermissions`; a sticky bit
    * (the only other bit an `FsPermission` carries) or a filesystem
    * without POSIX attributes goes to Hadoop's `chmod`. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }

  /** A path that is not a symlink has its plain status (absent still
    * throws `FileNotFoundException`); a real symlink keeps Hadoop's
    * link status. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `LocalFileSystem` (checksummed) over [[ForkFreeRawLocalFileSystem]]:
  * the `fs.file.impl` of every engine session. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** FileContext twin of Hadoop's `RawLocalFs` over
  * [[ForkFreeRawLocalFileSystem]]: Spark's checkpoint logs
  * (`HDFSMetadataLog`) write and rename through FileContext. */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Checksummed FileContext local filesystem (Hadoop's `LocalFs`) over
  * [[ForkFreeRawLocalFs]]: the `fs.AbstractFileSystem.file.impl` of
  * every engine session. Hadoop instantiates it with the path's URI;
  * like `LocalFs` it always serves `file:///`. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(FsConstants.LOCAL_FS_URI, conf))

object LocalFs {
  /** Serve the session's `file` scheme with the fork-free filesystems,
    * through both the FileSystem and the FileContext APIs. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)
}
