package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException}
import java.nio.file.{Files, LinkOption, NoSuchFileException, Paths, StandardCopyOption, StandardOpenOption, Path => NPath}
import java.nio.file.attribute.BasicFileAttributes
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** A `CheckpointFileManager` that writes, lists and deletes the checkpoint
  * logs of `file:` paths (`offsets`, `commits`, `sources/0`, `metadata`)
  * through `java.nio`, registered by [[EmitterRunner.start]] under Spark's
  * `spark.sql.streaming.checkpointFileManagerClass` hook.
  *
  * Spark's default manager goes through Hadoop's local filesystem, which
  * without Hadoop's native library forks a `chmod` or `stat` process for
  * each permission it sets or reads; three such log writes per micro-batch
  * dominated an emitter trigger. Here [[createAtomic]] writes a hidden
  * `.<name>.<uuid>.tmp` beside the target and publishes it on close:
  *
  *  - with overwrite allowed, by an `ATOMIC_MOVE` onto the target;
  *  - without, by a hard link to the target and a delete of the temp file,
  *    so a clash throws Hadoop's `FileAlreadyExistsException` and the file
  *    already there keeps its bytes (`HDFSMetadataLog` reports that as a
  *    concurrent writer).
  *
  * Publishing and [[delete]] drop a `.<name>.crc` sidecar the default
  * manager may have left, so its checksum never judges the new bytes; a
  * file written here has no sidecar. `open`, and every path on another
  * filesystem, go to Spark's default manager, so a checkpoint written by
  * either manager resumes under the other.
  */
final class LocalCheckpointFileManager private[graft] (
    path: Path, conf: Configuration, newDelegate: () => CheckpointFileManager)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  /** The constructor Spark's hook calls. */
  def this(path: Path, conf: Configuration) = this(path, conf, () => LocalCheckpointFileManager.sparkDefault(path, conf))

  private lazy val delegate = newDelegate()
  private val defaultScheme = FileSystem.getDefaultUri(conf).getScheme
  private lazy val blockSize = conf.getLong("fs.local.block.size", 32L << 20)

  /** The local file `p` names, or None for a path on another filesystem. */
  private def local(p: Path): Option[NPath] = {
    val uri = p.toUri
    if (Option(uri.getScheme).getOrElse(defaultScheme) == "file") Some(Paths.get(uri.getPath).toAbsolutePath)
    else None
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    local(p).fold(delegate.createAtomic(p, overwriteIfPossible)) { target =>
      Files.createDirectories(target.getParent)
      val tmp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID()}.tmp")
      new AtomicFile(tmp, target, overwriteIfPossible)
    }

  override def open(p: Path): FSDataInputStream = delegate.open(p)

  override def list(p: Path, filter: PathFilter): Array[FileStatus] = local(p).fold(delegate.list(p, filter)) { dir =>
    val qualified = qualify(dir)
    val s = try Files.list(dir) catch { case _: NoSuchFileException => throw new FileNotFoundException(s"$p does not exist") }
    try s.iterator().asScala.flatMap { f =>
      val child = new Path(qualified, f.getFileName.toString)
      if (!filter.accept(child)) None
      else try {
        val a = Files.readAttributes(f, classOf[BasicFileAttributes])
        Some(new FileStatus(a.size, a.isDirectory, 1, blockSize, a.lastModifiedTime.toMillis, child))
      } catch { case _: NoSuchFileException => None } // deleted since the listing
    }.toArray
    finally s.close()
  }

  override def mkdirs(p: Path): Unit = local(p).fold(delegate.mkdirs(p))(d => Files.createDirectories(d))

  override def exists(p: Path): Boolean = local(p).fold(delegate.exists(p))(f => Files.exists(f))

  /** Deletes `p`, recursively for a directory; a missing path is not an error. */
  override def delete(p: Path): Unit = local(p).fold(delegate.delete(p)) { f =>
    if (Files.isDirectory(f, LinkOption.NOFOLLOW_LINKS)) {
      val s = Files.walk(f)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(g => Files.deleteIfExists(g))
      finally s.close()
    } else Files.deleteIfExists(f)
    Files.deleteIfExists(crcOf(f))
  }

  override def isLocal: Boolean = local(path).isDefined || delegate.isLocal

  override def createCheckpointDirectory(): Path = local(path).fold(delegate.createCheckpointDirectory()) { d =>
    Files.createDirectories(d)
    qualify(d)
  }
}

object LocalCheckpointFileManager {

  /** Spark's session key that names the checkpoint file manager class. */
  val ClassKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** The manager Spark picks for `path` when [[ClassKey]] is unset. */
  def sparkDefault(path: Path, conf: Configuration): CheckpointFileManager = {
    val c = new Configuration(conf)
    c.unset(ClassKey)
    CheckpointFileManager.create(path, c)
  }

  private def qualify(p: NPath): Path = new Path("file", null, p.toString)

  private def crcOf(f: NPath): NPath = f.resolveSibling(s".${f.getFileName}.crc")

  /** The stream [[LocalCheckpointFileManager.createAtomic]] returns: bytes
    * go to `tmp`; `close` publishes them as `target`, `cancel` drops them.
    */
  private final class AtomicFile(tmp: NPath, target: NPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(
        new BufferedOutputStream(Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW))) {
    private var done = false

    override def close(): Unit = synchronized {
      if (!done) {
        done = true
        try {
          underlyingStream.close()
          Files.deleteIfExists(crcOf(target))
          if (overwrite) Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
          else try Files.createLink(target, tmp) catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              throw new FileAlreadyExistsException(s"$target already exists")
          }
        } finally Files.deleteIfExists(tmp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!done) {
        done = true
        try underlyingStream.close() catch { case scala.util.control.NonFatal(_) => () }
        Files.deleteIfExists(tmp)
      }
    }
  }
}
