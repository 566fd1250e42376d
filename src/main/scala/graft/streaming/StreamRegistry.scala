package graft.streaming

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.SparkSession

/** Durable named streams — the engine analogue of the reference's `Stream`
  * metadata collection (minibatch/models.py:157-179) and
  * `stream()/Stream.get_or_create` (minibatch/__init__.py:78-82,
  * models.py:239-280).
  *
  * Layout per stream (SURVEY.md §7):
  * {{{
  *   <root>/<name>/buffer/       appended message parquet (the Buffer)
  *   <root>/<name>/windows/      emitted-window history (persist(keep=true))
  *   <root>/<name>/checkpoints/  the emitter's batch log (graft-batches/) —
  *                               replaces the reference's `processed` flag
  *                               + `last_read` cursor (models.py:143,169)
  *   <root>/<name>/meta.json     stream metadata (status, created, interval)
  * }}}
  *
  * Race-safe create: the reference relies on a Mongo unique index and
  * swallows NotUniqueError (models.py:265-274); here `Files.createDirectories`
  * is idempotent and the meta file is written atomically via CREATE_NEW with
  * the loser swallowing the collision.
  *
  * Scale note: one directory per stream keeps per-stream file listings
  * independent; at cluster scale the buffer dir would be date-partitioned so
  * retention is partition drop, not per-file delete (see [[MbStream.runRetention]]).
  */
final class StreamRegistry(val spark: SparkSession, val root: String) {

  /** Get or create the named stream. On a CLOSED stream this returns the
    * handle with its closed status intact — it does NOT silently reopen
    * (reference parity: ensure_initialized only flips INIT→OPEN, never
    * CLOSED→OPEN, models.py:192-195). Appends on the returned handle throw
    * until an explicit [[MbStream.reopen]]; reads keep working.
    */
  def getOrCreate(name: String): MbStream = {
    require(name.nonEmpty && !name.contains('/'), s"bad stream name: $name")
    val dir = Paths.get(root, name)
    Files.createDirectories(dir.resolve("buffer"))
    Files.createDirectories(dir.resolve("windows"))
    Files.createDirectories(dir.resolve("checkpoints"))
    val meta = dir.resolve("meta.json")
    if (!Files.exists(meta)) {
      try
        Files.write(meta,
          s"""{"name":"$name","status":"open","created_ms":${System.currentTimeMillis()}}"""
            .getBytes("UTF-8"),
          StandardOpenOption.CREATE_NEW)
      catch { case _: java.nio.file.FileAlreadyExistsException => () } // concurrent creator won
    }
    new MbStream(spark, name, dir.toString)
  }

  def exists(name: String): Boolean = Files.exists(Paths.get(root, name, "meta.json"))

  /** Lifecycle status from meta.json without creating the stream:
    * Some("open"|"closed") for a registered stream, None when unknown.
    */
  def statusOf(name: String): Option[String] =
    MbStream.readMetaStatus(Paths.get(root, name, "meta.json"))

  def list(): Seq[String] = {
    val r = Paths.get(root)
    if (!Files.exists(r)) Seq.empty
    else {
      val s = Files.list(r)
      try s.iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
        .asScala.filter(p => Files.exists(p.resolve("meta.json")))
        .map(_.getFileName.toString).toSeq.sorted
      finally s.close()
    }
  }

  /** Drop the stream and all its data (reference: Stream deletion + clear). */
  def drop(name: String): Unit = deleteRecursively(Paths.get(root, name))

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
  }

  private implicit class IterOps[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = new Iterator[A] {
      def hasNext: Boolean = it.hasNext
      def next(): A = it.next()
    }
  }
}
