package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FSDataInputStream,
  LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** The checkpoint file manager of every engine session
  * (`spark.sql.streaming.checkpointFileManagerClass`, set by
  * [[graft.Engine.session]]). Spark creates every streaming checkpoint file
  * through it: the offset and commit logs, and the files of both state-store
  * providers.
  *
  * Without libhadoop, Hadoop forks a process for local file metadata:
  * `chmod` for every file or directory it creates, and `readlink` for every
  * rename through Spark's default FileContext-based manager. Each micro-batch
  * of a stateful query writes several files per state partition (the delta
  * or zip, Hadoop's `.crc`, Spark's own checksum file) plus an offsets and a
  * commits entry, so these forks were most of a small micro-batch's time.
  *
  * On `file:` paths this runs Spark's FileSystem-based manager, whose
  * rename is a plain `rename(2)`, over [[NoForkLocalFileSystem]]. Every
  * other scheme keeps the manager Spark picks by default. What makes a
  * checkpoint safe is unchanged: Hadoop's `.crc` sidecars (the file system
  * is still the checksummed `LocalFileSystem`), Spark's checkpoint checksum
  * files (the state stores wrap whatever manager this is), publishing by
  * write-to-temp-then-rename, and the files' mode bits. The no-fork file
  * system is built from a copy of the conf with its cache off, so batch I/O
  * and the JVM-wide `FileSystem` cache never see it. */
class NoForkCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  private[graft] val underlying: CheckpointFileManager = {
    val conf = new Configuration(hadoopConf)
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme == "file") {
      conf.setClass("fs.file.impl", classOf[NoForkLocalFileSystem],
        classOf[FileSystem])
      conf.setBoolean("fs.file.impl.disable.cache", true)
      new FileSystemBasedCheckpointFileManager(path, conf)
    } else {
      conf.unset(NoForkCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, conf)
    }
  }

  def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  def open(p: Path): FSDataInputStream = underlying.open(p)
  def list(p: Path, filter: PathFilter): Array[FileStatus] =
    underlying.list(p, filter)
  def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  def exists(p: Path): Boolean = underlying.exists(p)
  def delete(p: Path): Unit = underlying.delete(p)
  def isLocal: Boolean = underlying.isLocal
  def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object NoForkCheckpointFileManager {
  /** Spark's SQL conf naming the checkpoint file manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"
}

/** Hadoop's checksummed local file system over a raw layer that sets
  * permission bits with `java.nio` (a `chmod(2)` inside the JVM) where
  * Hadoop without libhadoop forks `chmod`. */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkLocalFileSystem.Raw)

object NoForkLocalFileSystem {
  private val Posix: Seq[(PosixFilePermission, Int)] =
    PosixFilePermission.values.toSeq.zipWithIndex.map { case (p, i) =>
      p -> (0x100 >> i) } // OWNER_READ (0400) down to OTHERS_EXECUTE (0001)

  private[streaming] final class Raw extends RawLocalFileSystem {
    /** The mode Hadoop's `chmod` sets. NIO expresses only the nine rwx
      * bits, so a sticky request takes Hadoop's path, and so does a
      * directory carrying setuid or setgid: `chmod 0755` keeps those on a
      * directory, where `chmod(2)` through NIO would clear them. */
    override def setPermission(p: Path, perm: FsPermission): Unit = {
      val f = pathToFile(p).toPath
      if (perm.getStickyBit || Files.isDirectory(f) &&
          (Files.getAttribute(f, "unix:mode").asInstanceOf[Int] & 0xc00) != 0)
        super.setPermission(p, perm)
      else {
        val bits = perm.toShort.toInt
        Files.setPosixFilePermissions(f,
          Posix.collect { case (q, b) if (bits & b) != 0 => q }.toSet.asJava)
      }
    }
  }
}
