package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException, OutputStream}
import java.nio.file.{Files, LinkOption, NoSuchFileException, Paths, StandardCopyOption,
  StandardOpenOption, FileAlreadyExistsException => NioFileExists, Path => JPath}
import java.nio.file.attribute.BasicFileAttributes
import java.util.UUID
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus,
  FileSystem, Path, PathFilter, UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The streaming checkpoint file manager every graft session registers
  * (`spark.sql.streaming.checkpointFileManagerClass`, set in
  * [[graft.Tables.sessionConf]]; Spark builds it by reflection with this
  * exact constructor). It writes the offset WAL, the commit log, the
  * `metadata` file and state store files of a checkpoint on the local
  * filesystem with java.nio, and hands every other scheme to Spark's own
  * default (FileContext-based, else FileSystem-based).
  *
  * Why: without its native library, Hadoop's local filesystem shells out
  * for file status and permissions, and its checksum layer doubles that
  * for the `.crc` sidecar, so one 100-byte atomic log write through Spark's
  * default manager started about 20 helper processes and took 30-45 ms.
  * Here it is a file write, a hard link or rename, and an unlink.
  *
  * The protocol is the default's: `createAtomic` writes a dot-prefixed
  * temp file beside the target (so `HDFSMetadataLog`'s batch filter and
  * [[list]] never see it) and publishes it on `close`:
  *  - overwrite: an atomic rename over the target;
  *  - no overwrite: `Files.createLink(target, temp)`, which fails
  *    atomically when the target exists, then the temp is unlinked. A
  *    collision throws Hadoop's `FileAlreadyExistsException`, the type
  *    `HDFSMetadataLog` turns into Spark's "concurrent queries on one
  *    checkpoint" error, and leaves the existing file as it was.
  * `cancel()` unlinks the temp file. Publishing needs hard links, which
  * every POSIX local filesystem has.
  *
  * Durability is the default's too: nothing is fsynced (Hadoop's local
  * filesystem does not fsync either), so a checkpoint survives a process
  * crash, not a power loss. No `.crc` sidecars are written. Hadoop's
  * checksum layer reads a file without a sidecar as it is, so one
  * checkpoint can be written by either manager in turn; publishing or
  * deleting a file here also removes its stale sidecar, which would
  * otherwise fail the default manager's next read of that file.
  */
class LocalCheckpointFiles(path: Path, conf: Configuration) extends CheckpointFileManager {
  private val impl: CheckpointFileManager =
    if (LocalCheckpointFiles.isLocalPath(path, conf)) new LocalCheckpointFiles.Nio(path, conf)
    else
      try new FileContextBasedCheckpointFileManager(path, conf)
      catch {
        case _: UnsupportedFileSystemException => new FileSystemBasedCheckpointFileManager(path, conf)
      }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path = impl.createCheckpointDirectory()
}

object LocalCheckpointFiles {
  /** Hadoop's default block size for the local filesystem, reported in
    * listed statuses as `RawLocalFileSystem` does. */
  private val LocalBlockSize = 32L * 1024 * 1024

  /** True when `path` qualifies to the `file` scheme (a path without a
    * scheme resolves against `fs.defaultFS`). */
  def isLocalPath(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  private def local(p: Path): JPath = Paths.get(p.toUri.getPath).toAbsolutePath

  private def qualified(f: JPath): Path = new Path("file", null, f.toString)

  /** The `.crc` sidecar Hadoop's checksum layer keeps beside `f`. */
  private def sidecar(f: JPath): JPath = f.resolveSibling(s".${f.getFileName}.crc")

  private def deleteTree(f: JPath): Unit = {
    if (Files.isDirectory(f, LinkOption.NOFOLLOW_LINKS)) {
      val children = Files.list(f)
      try children.forEach(c => deleteTree(c)) finally children.close()
    }
    Files.deleteIfExists(f)
  }

  private final class Nio(root: Path, conf: Configuration) extends CheckpointFileManager {
    override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val target = local(p)
      val temp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
      def create() = Files.newOutputStream(temp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      val out =
        try create()
        catch { case _: NoSuchFileException => Files.createDirectories(temp.getParent); create() }
      new AtomicOutput(new BufferedOutputStream(out), temp, target, overwriteIfPossible)
    }

    // Hadoop's raw local filesystem starts no process on open: it reads
    // the file's status lazily and never touches a sidecar.
    override def open(p: Path): FSDataInputStream = FileSystem.getLocal(conf).getRaw.open(p)

    override def list(p: Path, filter: PathFilter): Array[FileStatus] = {
      val entries =
        try {
          val s = Files.list(local(p))
          try s.iterator.asScala.toArray finally s.close()
        } catch { case _: NoSuchFileException => throw new FileNotFoundException(s"$p does not exist") }
      entries.filterNot(_.getFileName.toString.startsWith(".")).flatMap { f =>
        val q = qualified(f)
        if (!filter.accept(q)) None
        else
          try {
            val a = Files.readAttributes(f, classOf[BasicFileAttributes])
            Some(new FileStatus(a.size, a.isDirectory, 1, LocalBlockSize, a.lastModifiedTime.toMillis, q))
          } catch { case _: NoSuchFileException => None } // deleted while listing
      }
    }

    override def mkdirs(p: Path): Unit = Files.createDirectories(local(p))

    override def exists(p: Path): Boolean = Files.exists(local(p))

    override def delete(p: Path): Unit = {
      val f = local(p)
      try deleteTree(f) catch { case _: NoSuchFileException => () }
      Files.deleteIfExists(sidecar(f))
    }

    override def isLocal: Boolean = true

    override def createCheckpointDirectory(): Path = {
      val d = local(root)
      Files.createDirectories(d)
      qualified(d)
    }
  }

  private final class AtomicOutput(out: OutputStream, temp: JPath, target: JPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(out) {
    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          underlyingStream.close()
          if (overwrite) {
            Files.deleteIfExists(sidecar(target))
            Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
          } else {
            try Files.createLink(target, temp)
            catch { case _: NioFileExists => throw new FileAlreadyExistsException(s"$target already exists") }
            Files.deleteIfExists(sidecar(target))
          }
        } finally Files.deleteIfExists(temp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try underlyingStream.close() catch { case NonFatal(_) => () }
        finally Files.deleteIfExists(temp)
      }
    }
  }
}
