package graft.streaming

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** Checkpoint-file manager for the drained fixture streams.
  *
  * Without Hadoop's native library, `RawLocalFileSystem.setPermission`
  * forks a `chmod` process for every file and directory it creates: one
  * drain of [[StreamOps.statefulUserStats]] forked 60 of them (offset,
  * commit, source and metadata logs, state schema and operator metadata,
  * every state-store delta, and each file's `.crc`). On a local path this
  * manager is Spark's `FileSystemBasedCheckpointFileManager` over a
  * `LocalFileSystem` whose raw layer sets the same mode bits in-process,
  * so checksums, temp file + rename, `FileAlreadyExistsException` when
  * `overwriteIfPossible = false`, and cancel stay Spark's and Hadoop's
  * own code. The `LocalFileSystem` is built here, not looked up by
  * scheme: the `file` scheme may resolve to another class (hive-exec
  * registers its `ProxyLocalFileSystem` for it), while Spark's default
  * manager writes through `LocalFs`, which is the same checksummed raw
  * filesystem. Any other scheme gets exactly the manager Spark creates
  * when no manager class is configured. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  private[graft] val underlying: CheckpointFileManager =
    if (Option(path.toUri.getScheme)
        .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme) == "file")
      new LocalCheckpointFileManager.NoFork(path, hadoopConf)
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(LocalCheckpointFileManager.ClassKey)
      CheckpointFileManager.create(path, conf)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path) = underlying.open(p)
  override def list(p: Path, filter: PathFilter) = underlying.list(p, filter)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path =
    underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCheckpointFileManager {
  /** The session setting Spark reads the manager class from. */
  val ClassKey = "spark.sql.streaming.checkpointFileManagerClass"

  private val Posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  private[graft] final class NoFork(path: Path, hadoopConf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {
    override protected val fs: FileSystem = {
      val local = new LocalFileSystem(new NoForkRawLocalFileSystem)
      local.setConf(hadoopConf)
      local.initialize(URI.create("file:///"), hadoopConf)
      local
    }
  }

  /** Sets rwx mode bits through NIO instead of a forked `chmod`. A
    * sticky bit, which NIO cannot set, takes Hadoop's own path. */
  private final class NoForkRawLocalFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (!Posix || permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(Seq(permission.getUserAction,
          permission.getGroupAction, permission.getOtherAction)
          .map(_.SYMBOL).mkString))
  }
}
