package graft.streaming

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.SparkSession

/** Parquet written on the calling thread, without a Spark job or a Hadoop
  * filesystem: parquet's example writer over a `LocalOutputFile`, with the
  * session's `spark.sql.parquet.compression.codec`. No `.crc` sidecar is
  * written, and no `chmod`/`stat` process is forked where Hadoop's native
  * library is absent. What a reader can list is always complete: a file or
  * a partition directory is written under a hidden (`.`-prefixed) name,
  * which Spark's listing and [[BufferSource]] skip, and published by one
  * `ATOMIC_MOVE`.
  */
private[graft] object LocalParquet {

  /** The session's parquet codec, as parquet names it. */
  def codec(spark: SparkSession): CompressionCodecName =
    spark.conf.get("spark.sql.parquet.compression.codec").toLowerCase match {
      case "none" => CompressionCodecName.UNCOMPRESSED
      case c => CompressionCodecName.fromConf(c)
    }

  private def write(spark: SparkSession, file: Path, schema: MessageType, rows: Iterator[Group]): Unit = {
    val writer = ExampleParquetWriter.builder(new LocalOutputFile(file))
      .withConf(spark.sparkContext.hadoopConfiguration).withType(schema)
      .withCompressionCodec(codec(spark)).build()
    try rows.foreach(writer.write) finally writer.close()
  }

  private def publish(from: Path, to: Path): Path = Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)

  /** Delete `p` and everything under it, deepest first; with `keepRoot`,
    * only what is under it. A missing `p` is no error. */
  def deleteTree(p: Path, keepRoot: Boolean = false): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => if (!keepRoot || f != p) Files.deleteIfExists(f))
    finally s.close()
  }

  /** Write `rows` as the parquet file `file`: to the hidden sibling
    * `.<name>.tmp` first, moved to `file` once the footer is written. */
  def writeFile(spark: SparkSession, file: Path, schema: MessageType, rows: Iterator[Group]): Path = {
    val tmp = file.resolveSibling(s".${file.getFileName}.tmp")
    try {
      write(spark, tmp, schema, rows)
      publish(tmp, file)
    } catch {
      case e: Throwable => Files.deleteIfExists(tmp); throw e
    }
  }

  /** Replace the partition `<column>=<value>` of the table at `table` with
    * one file of `rows`, as a dynamic partition overwrite replaces it, so a
    * replayed batch overwrites its own slice and no other. The file is
    * written to `.<column>=<value>.<uuid>.tmp/part-<uuid>.parquet`; a slice
    * already in place is moved aside to `.<column>=<value>.<uuid>.old`,
    * the written directory is moved into place, and every hidden
    * `.<column>=<value>.*` entry is then deleted: the one moved aside, and
    * any a write interrupted before it left behind.
    */
  def replaceSlice(spark: SparkSession, table: Path, column: String, value: Long,
      schema: MessageType, rows: Iterator[Group]): Unit = {
    val id = UUID.randomUUID()
    val name = s"$column=$value"
    val slice = table.resolve(name)
    val staging = Files.createDirectories(table.resolve(s".$name.$id.tmp"))
    try {
      write(spark, staging.resolve(s"part-$id.parquet"), schema, rows)
      if (Files.exists(slice)) publish(slice, table.resolve(s".$name.$id.old"))
      publish(staging, slice)
    } catch {
      case e: Throwable => deleteTree(staging); throw e
    }
    val s = Files.list(table)
    try s.iterator().asScala.filter(_.getFileName.toString.startsWith(s".$name.")).toList.foreach(deleteTree(_))
    finally s.close()
  }
}
