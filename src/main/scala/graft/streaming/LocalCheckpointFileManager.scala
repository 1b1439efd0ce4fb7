package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException}
import java.nio.ByteBuffer
import java.nio.channels.{Channels, FileChannel}
import java.nio.file.{Files, NoSuchFileException, Path => NioPath, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** A `CheckpointFileManager` that writes `file:` checkpoints through
  * NIO instead of Hadoop's local file system, whose permission and
  * link checks fork `chmod` and `readlink` helpers on every offset and
  * commit file. Spark's offset log and commit log are the recovery
  * contract, and this keeps theirs: `createAtomic` writes the whole
  * file to a sibling temp file opened with `SYNC`, then publishes it
  * in one step, so a reader or a crash sees the old file or the new
  * one, never a torn mix.
  *
  *  - `overwriteIfPossible = false` publishes with `link(2)`, which
  *    fails on an existing target: Spark's `FileAlreadyExistsException`
  *    check for two queries on one checkpoint still holds. Where the
  *    file system has no hard links, it renames after an existence
  *    check, as Spark's default manager does.
  *  - `overwriteIfPossible = true` publishes with an atomic rename.
  *  - Publishing and deleting also remove the target's `.crc` sidecar,
  *    which Spark's default manager writes and would check against new
  *    bytes if the checkpoint went back to it.
  *  - `list` skips temp files (a crash between write and publish leaves
  *    one) and `.crc` sidecars.
  *
  * Every other scheme goes to Spark's default manager. Set through
  * `spark.sql.streaming.checkpointFileManagerClass` (GraftJob.start).
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private val impl: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file") new NioFiles(path)
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(ConfKey)
      CheckpointFileManager.create(path, conf)
    }
  }

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path =
    impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object LocalCheckpointFileManager {
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  private def nio(p: Path): NioPath = Paths.get(p.toUri.getPath)

  private def isTemp(name: String): Boolean =
    name.startsWith(".") && name.endsWith(".tmp")

  private def crcOf(p: NioPath): NioPath =
    p.resolveSibling(s".${p.getFileName}.crc")

  private final class NioFiles(root: Path) extends CheckpointFileManager {

    override def createAtomic(p: Path,
        overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val target = nio(p)
      val tmp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
      val ch = FileChannel.open(tmp, StandardOpenOption.CREATE_NEW,
        StandardOpenOption.WRITE, StandardOpenOption.SYNC)
      new AtomicOut(ch, tmp, target, overwriteIfPossible)
    }

    override def open(p: Path): FSDataInputStream =
      try new FSDataInputStream(new NioInput(FileChannel.open(nio(p))))
      catch { case _: NoSuchFileException => throw new FileNotFoundException(p.toString) }

    override def list(p: Path, filter: PathFilter): Array[FileStatus] = {
      val dir = nio(p)
      val entries =
        try Files.newDirectoryStream(dir)
        catch { case _: NoSuchFileException => throw new FileNotFoundException(p.toString) }
      try entries.iterator().asScala
        .map(_.getFileName.toString)
        .filterNot(n => isTemp(n) || (n.startsWith(".") && n.endsWith(".crc")))
        .map(n => new Path(p, n))
        .filter(filter.accept)
        .map { f =>
          val a = Files.readAttributes(dir.resolve(f.getName),
            classOf[java.nio.file.attribute.BasicFileAttributes])
          new FileStatus(a.size, a.isDirectory, 1, 0L,
            a.lastModifiedTime.toMillis, f)
        }.toArray
      finally entries.close()
    }

    override def mkdirs(p: Path): Unit = Files.createDirectories(nio(p))

    override def exists(p: Path): Boolean = Files.exists(nio(p))

    override def delete(p: Path): Unit = {
      val target = nio(p)
      if (Files.isDirectory(target)) {
        val all = Files.walk(target)
        try all.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
        finally all.close()
      } else {
        Files.deleteIfExists(target)
        Files.deleteIfExists(crcOf(target))
      }
    }

    override def isLocal: Boolean = true

    override def createCheckpointDirectory(): Path = {
      mkdirs(root)
      new Path("file", null, nio(root).toAbsolutePath.normalize.toString)
    }
  }

  /** Publishes `tmp` as `target` unless `target` exists, through
    * `link(target, tmp)`. A file system without hard links falls back
    * to a rename that checks for the target first, as Spark's default
    * manager does on `file:`: the check and the rename are two steps
    * there, so two writers racing on one checkpoint file are caught
    * only by the link. */
  private[graft] def publishNew(tmp: NioPath, target: NioPath,
      link: (NioPath, NioPath) => Unit): Unit =
    try {
      try link(target, tmp)
      catch {
        case e: java.nio.file.FileAlreadyExistsException => throw e
        case _: UnsupportedOperationException |
            _: java.nio.file.FileSystemException =>
          Files.move(tmp, target)
      }
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new FileAlreadyExistsException(s"$target already exists")
    }

  /** The temp file's stream: one buffered write through the `SYNC`
    * channel at close, then the publish. */
  private final class AtomicOut(ch: FileChannel, tmp: NioPath,
      target: NioPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(
        new BufferedOutputStream(Channels.newOutputStream(ch), 1 << 16)) {
    private var done = false

    override def close(): Unit = if (!done) {
      done = true
      try {
        super.close()
        if (overwrite) {
          Files.deleteIfExists(crcOf(target))
          Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
        } else {
          publishNew(tmp, target, Files.createLink(_, _))
          Files.deleteIfExists(crcOf(target))
        }
      } finally Files.deleteIfExists(tmp)
    }

    override def cancel(): Unit = if (!done) {
      done = true
      try ch.close() finally Files.deleteIfExists(tmp)
    }
  }

  /** A seekable read of one file, as `FSDataInputStream` requires. */
  private final class NioInput(ch: FileChannel) extends FSInputStream {
    override def seek(pos: Long): Unit = ch.position(pos)
    override def getPos: Long = ch.position()
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def read(): Int = {
      val one = new Array[Byte](1)
      if (read(one, 0, 1) <= 0) -1 else one(0) & 0xff
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (len == 0) 0 else ch.read(ByteBuffer.wrap(b, off, len))
    override def available(): Int =
      math.min(Int.MaxValue.toLong, ch.size - ch.position()).toInt
    override def close(): Unit = ch.close()
  }
}
