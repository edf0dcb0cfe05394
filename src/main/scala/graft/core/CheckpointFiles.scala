package graft.core

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** The streaming checkpoint file manager every session of this library
  * uses (offset log, commit log, state stores; pinned in `GraftSession`).
  *
  * Without Hadoop's native IO, Spark's default manager on `file:` paths
  * starts OS processes on every checkpoint write: `FileContext.rename`
  * probes the target with `getFileLinkStatus`, which runs `readlink`, and
  * every create and mkdir runs `chmod`.
  *
  * On `file:` this is Spark's `FileSystem`-based manager (its rename is
  * `FileSystem.rename` after the same exists-check FileContext makes on a
  * local filesystem, so no symlink probe) over a checksummed
  * `LocalFileSystem` — `.crc` sidecars are still written and verified —
  * whose raw layer sets permissions through `java.nio`. Every other scheme
  * gets whatever Spark would choose without this class, so HDFS and object
  * stores keep FileContext's atomic rename.
  */
final class CheckpointFiles(path: Path, conf: Configuration) extends CheckpointFileManager {
  private[core] val underlying: CheckpointFileManager =
    if (path.getFileSystem(conf).getUri.getScheme == "file")
      new CheckpointFiles.Local(path, conf)
    else {
      val sparkDefault = new Configuration(conf)
      sparkDefault.unset(CheckpointFiles.ConfKey)
      CheckpointFileManager.create(path, sparkDefault)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    underlying.list(p, filter)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object CheckpointFiles {
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** `RawLocalFileSystem` whose `setPermission` is a syscall, not a
    * `chmod` process. `java.nio` has no sticky bit, so a sticky mode still
    * goes through Hadoop's own path.
    */
  private[core] final class NioPermissionFs extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
  }

  private[core] final class Local(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {
    override protected val fs: FileSystem = {
      // as FileSystem.get builds one: setConf, then initialize
      val local = new LocalFileSystem(new NioPermissionFs)
      local.setConf(conf)
      local.initialize(URI.create("file:///"), conf)
      local
    }
  }
}
