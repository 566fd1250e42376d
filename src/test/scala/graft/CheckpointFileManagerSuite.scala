package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.LocalCheckpointFileManager

/** The `CheckpointFileManager` contract as `HDFSMetadataLog` relies on it,
  * for the NIO manager the emitter registers.
  */
class CheckpointFileManagerSuite extends AnyFunSuite {

  private def freshDir(): java.nio.file.Path = Files.createTempDirectory("graft-cfm")

  /** A conf that names the NIO manager itself, as the session's does once an
    * emitter has started: its delegate must still be Spark's default. */
  private def conf(): Configuration = {
    val c = new Configuration()
    c.set(LocalCheckpointFileManager.ClassKey, classOf[LocalCheckpointFileManager].getName)
    c
  }

  private def manager(dir: java.nio.file.Path) = new LocalCheckpointFileManager(new Path(dir.toUri), conf())

  private def write(m: CheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(m: CheckpointFileManager, p: Path): String = {
    val in = m.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: java.nio.file.Path): Set[String] = {
    val s = Files.list(dir)
    try s.toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString).toSet finally s.close()
  }

  test("no-clobber createAtomic onto an existing file throws FileAlreadyExistsException and keeps its bytes") {
    val dir = freshDir()
    val m = manager(dir)
    val p = new Path(dir.resolve("0").toUri)
    write(m, p, "first", overwrite = false)
    val out = m.createAtomic(p, overwriteIfPossible = false)
    out.write("second".getBytes(UTF_8))
    intercept[FileAlreadyExistsException](out.close())
    out.cancel() // what HDFSMetadataLog does next
    assert(read(m, p) === "first")
    assert(names(dir) === Set("0"), "the clash must leave no temp file")
    write(m, p, "third", overwrite = true)
    assert(read(m, p) === "third")
  }

  test("cancel() leaves neither a temp file nor the target") {
    val dir = freshDir()
    val m = manager(dir)
    val out = m.createAtomic(new Path(dir.resolve("1").toUri), overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    assert(names(dir).exists(_.startsWith(".1.")), "bytes go to a hidden temp file first")
    out.cancel()
    out.close() // a no-op after cancel
    assert(names(dir).isEmpty)
  }

  test("an overwrite beside a stale .crc reads back through open without a ChecksumException") {
    val dir = freshDir()
    val p = new Path(dir.resolve("2").toUri)
    // Hadoop's local filesystem writes the file and its checksum sidecar
    val out = FileSystem.getLocal(new Configuration()).create(p)
    out.write("written by the checksummed filesystem".getBytes(UTF_8))
    out.close()
    assert(Files.exists(dir.resolve(".2.crc")))
    val m = manager(dir)
    write(m, p, "new", overwrite = true)
    assert(!Files.exists(dir.resolve(".2.crc")))
    assert(read(m, p) === "new")
    m.delete(p)
    assert(names(dir).isEmpty)
  }

  test("list honours its PathFilter and reports qualified paths, sizes and kinds") {
    val dir = freshDir()
    val m = manager(dir)
    Seq("0", "1", "10").foreach(n => write(m, new Path(dir.resolve(n).toUri), n * 3, overwrite = false))
    m.mkdirs(new Path(dir.resolve("sub").toUri))
    Files.write(dir.resolve(".3.tmp"), Array[Byte](1))
    val digits = new PathFilter { def accept(p: Path): Boolean = p.getName.forall(_.isDigit) }
    val listed = m.list(new Path(dir.toUri), digits)
    assert(listed.map(s => (s.getPath.getName, s.getLen, s.isDirectory)).sortBy(_._1).toSeq ===
      Seq(("0", 3L, false), ("1", 3L, false), ("10", 6L, false)))
    assert(listed.forall(_.getPath.toUri.getScheme == "file"))
    assert(m.list(new Path(dir.toUri)).map(_.getPath.getName).toSet === Set("0", "1", "10", "sub", ".3.tmp"))
    intercept[java.io.FileNotFoundException](m.list(new Path(dir.resolve("absent").toUri), digits))
  }

  test("a path on another filesystem goes to the delegate") {
    val calls = mutable.ArrayBuffer.empty[String]
    val delegate = new CheckpointFileManager {
      def createAtomic(p: Path, o: Boolean): CancellableFSDataOutputStream = { calls += s"createAtomic $p"; null }
      def open(p: Path): FSDataInputStream = { calls += s"open $p"; null }
      def list(p: Path, f: PathFilter): Array[FileStatus] = { calls += s"list $p"; Array.empty }
      def mkdirs(p: Path): Unit = calls += s"mkdirs $p"
      def exists(p: Path): Boolean = { calls += s"exists $p"; true }
      def delete(p: Path): Unit = calls += s"delete $p"
      def isLocal: Boolean = { calls += "isLocal"; false }
      def createCheckpointDirectory(): Path = { calls += "createCheckpointDirectory"; null }
    }
    val root = new Path("s3a://bucket/cp")
    val m = new LocalCheckpointFileManager(root, conf(), () => delegate)
    val p = new Path(root, "offsets/0")
    m.createAtomic(p, overwriteIfPossible = false)
    m.list(p.getParent)
    m.mkdirs(p.getParent)
    assert(m.exists(p))
    m.delete(p)
    assert(!m.isLocal)
    m.createCheckpointDirectory()
    assert(calls.toSeq === Seq(s"createAtomic $p", s"list ${p.getParent}", s"mkdirs ${p.getParent}",
      s"exists $p", s"delete $p", "isLocal", "createCheckpointDirectory"))
    // a local path, with or without a scheme, never reaches it
    calls.clear()
    val dir = freshDir()
    val local = new LocalCheckpointFileManager(new Path(dir.toString), conf(), () => delegate)
    write(local, new Path(dir.resolve("0").toString), "x", overwrite = false)
    assert(local.exists(new Path(dir.resolve("0").toUri)) && local.isLocal)
    assert(calls.isEmpty, s"local paths reached the delegate: $calls")
    assert(Files.readString(Paths.get(dir.toString, "0")) === "x")
  }
}
