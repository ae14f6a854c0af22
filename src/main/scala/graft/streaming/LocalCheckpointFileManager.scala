package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The engine's streaming checkpoint writer (offset WAL, commit log, state
  * store delta files), registered through
  * `spark.sql.streaming.checkpointFileManagerClass` by [[graft.EngineSession]].
  *
  * Without `libhadoop`, Hadoop's `RawLocalFileSystem` forks a `chmod` for
  * every file and directory it creates, and `FileContext.rename` (Spark's
  * default manager) forks a `readlink`. A micro-batch writes a handful of
  * files plus their `.crc`s, so at low input rates those forks set the
  * freshness floor. For `file:` paths this manager runs Spark's
  * `FileSystemBasedCheckpointFileManager` over its own checksummed
  * `LocalFileSystem`, whose raw layer sets permissions through `java.nio`
  * and renames with `File.renameTo`. It keeps what the stock manager gives:
  * `.crc` files verified on `open`, write-to-temp-then-rename, and
  * `FileAlreadyExistsException` for a no-overwrite target that exists.
  * Every other scheme (HDFS, object stores) goes to Spark's default
  * `FileContextBasedCheckpointFileManager` unchanged. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private val underlying: CheckpointFileManager =
    if (LocalCheckpointFileManager.isFileScheme(path, hadoopConf))
      new FileSystemBasedCheckpointFileManager(path, hadoopConf) {
        override protected val fs: FileSystem =
          LocalCheckpointFileManager.localFileSystem(hadoopConf)
      }
    else new FileContextBasedCheckpointFileManager(path, hadoopConf)

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    underlying.list(p, filter)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path =
    underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCheckpointFileManager {

  /** A path without a scheme resolves against `fs.defaultFS`, as Hadoop
    * resolves it. */
  private def isFileScheme(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** `RawLocalFileSystem` whose `setPermission` applies the user, group and
    * other bits with `Files.setPosixFilePermissions` instead of forking
    * `chmod`. Creating a file or directory calls it with the umask-applied
    * mode, so the resulting modes are the ones `chmod` would have set. */
  private final class NioRawLocalFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.getUserAction.SYMBOL +
          permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL))
  }

  /** A checksummed local filesystem over [[NioRawLocalFileSystem]], set up
    * the way `FileSystem.get` sets up its own (`setConf`, then
    * `initialize`), but private to one manager rather than cached. */
  private def localFileSystem(conf: Configuration): FileSystem = {
    val fs = new LocalFileSystem(new NioRawLocalFileSystem)
    fs.setConf(conf)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }
}
