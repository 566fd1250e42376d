package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.time.temporal.ChronoUnit

import scala.jdk.CollectionConverters._

import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, BOOLEAN, DOUBLE, INT32, INT64}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.streaming.{LocalParquet, MbStream}

/** Sink connectors (reference protocol: `put(message)`, README.rst:169-186).
  * The engine-native sink is the generic table sink (reference MongoSink
  * `insert_many`, contrib/mongodb.py:90-101): append the emitted window to
  * a parquet table. Kafka sink → [[KafkaIO.sink]].
  */
final class TableSink(targetDir: String) extends Serializable {
  def put(df: DataFrame): Unit =
    df.write.mode("append").parquet(targetDir)
}

/** Replay-safe table sink: each micro-batch writes to its own
  * `batch_id=N` partition, replacing what an earlier run of the batch
  * wrote there, so a batch replayed after an emit failure (the runner's
  * undo semantics — Spark re-runs the whole micro-batch from checkpoint)
  * OVERWRITES its previous partial output instead of appending duplicates.
  * This is the idempotent half of "at-least-once delivery + idempotent
  * sink = effectively once"; the plain [[TableSink]] documents the
  * duplicate-on-replay behavior the reference also has (undo re-emits into
  * side-effecting sinks, window.py:119-124).
  *
  * Two paths, picked by the input alone. A local frame (`df.isLocal`: its
  * rows are on the driver, as the emitter's batch frame is) whose columns
  * are all flat — string, long, int, double, boolean, timestamp — and none
  * named `batch_id`, written to a local directory, is collected (no job)
  * and written on the calling thread as one parquet file per slice
  * ([[graft.streaming.LocalParquet.replaceSlice]]; timestamps as INT64
  * `TIMESTAMP(MICROS, UTC)`). A local frame with no rows writes nothing. Any
  * other frame goes through Spark's writer with dynamic partition
  * overwrite. Both paths leave the same `batch_id=N` layout and read back
  * alike.
  */
final class IdempotentTableSink(targetDir: String) extends Serializable {
  import org.apache.spark.sql.functions.lit
  import IdempotentTableSink._

  def put(df: DataFrame, batchId: Long): Unit = (localDir(targetDir), parquetSchema(df.schema)) match {
    case (Some(dir), Some(schema)) if df.isLocal =>
      val rows = df.collect()
      if (rows.nonEmpty) {
        val groups = new SimpleGroupFactory(schema)
        LocalParquet.replaceSlice(df.sparkSession, Files.createDirectories(dir), "batch_id", batchId, schema,
          rows.iterator.map(r => toGroup(groups.newGroup(), df.schema, r)))
      }
    case _ =>
      df.withColumn("batch_id", lit(batchId))
        .write
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(targetDir)
  }
}

object IdempotentTableSink {

  /** The local directory `dir` names, or None for another filesystem. */
  private def localDir(dir: String): Option[Path] = {
    val uri = new org.apache.hadoop.fs.Path(dir).toUri
    if (uri.getScheme == null || uri.getScheme == "file") Some(Paths.get(uri.getPath)) else None
  }

  /** The parquet schema of a frame the local path can write, or None. */
  private def parquetSchema(st: StructType): Option[MessageType] = {
    val fields = st.fields.toSeq.map { f =>
      val rep = if (f.nullable) Type.Repetition.OPTIONAL else Type.Repetition.REQUIRED
      (f.dataType match {
        case StringType => Some(Types.primitive(BINARY, rep).as(LogicalTypeAnnotation.stringType()))
        case LongType => Some(Types.primitive(INT64, rep))
        case IntegerType => Some(Types.primitive(INT32, rep))
        case DoubleType => Some(Types.primitive(DOUBLE, rep))
        case BooleanType => Some(Types.primitive(BOOLEAN, rep))
        case TimestampType => Some(Types.primitive(INT64, rep)
          .as(LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS)))
        case _ => None
      }).map(b => b.named(f.name): Type)
    }
    if (fields.exists(_.isEmpty) || st.fieldNames.exists(_.equalsIgnoreCase("batch_id"))) None
    else Some(new MessageType("spark_schema", fields.flatten.asJava))
  }

  private def toGroup(g: Group, st: StructType, r: Row): Group = {
    for (i <- st.fields.indices if !r.isNullAt(i)) st(i).dataType match {
      case StringType => g.add(i, r.getString(i))
      case LongType => g.add(i, r.getLong(i))
      case IntegerType => g.add(i, r.getInt(i))
      case DoubleType => g.add(i, r.getDouble(i))
      case BooleanType => g.add(i, r.getBoolean(i))
      case TimestampType => g.add(i, r.get(i) match {
        case t: java.sql.Timestamp => MbStream.toMicros(t)
        case t: java.time.Instant => ChronoUnit.MICROS.between(java.time.Instant.EPOCH, t)
      })
    }
    g
  }
}

/** CDC-apply sink: each micro-batch of updates is MERGED into the target
  * table with latest-wins semantics ([[graft.operators.Relational
  * .upsertLatest]] — update side wins version ties), at HASH-BUCKET
  * granularity: the table is laid out as `bucket=N` partitions
  * (`pmod(xxhash64(keys), nBuckets)`), a batch only READS the buckets its
  * keys hash into (partition pruning) and only REWRITES those buckets
  * (dynamic partition overwrite) — per-batch cost follows the batch's key
  * locality, not the table size.
  *
  * Replay-safe: re-merging an identical batch reproduces each touched
  * bucket byte-for-byte (stored row vs identical update row ties to the
  * update's identical payload), so a checkpoint-replayed batch overwrites
  * its own output — idempotent, same contract as [[IdempotentTableSink]].
  *
  * Size `nBuckets` so one bucket ≈ one comfortable write task; a CDC feed
  * that touches every bucket every batch degrades to a full rewrite — at
  * that churn a log-structured append + compaction
  * ([[Layout.compact]]-style) is the right layout instead.
  */
final class UpsertTableSink(
    targetDir: String,
    keyCols: Seq[String],
    versionCol: String,
    nBuckets: Int) extends Serializable {
  import org.apache.spark.sql.functions._

  import graft.operators.Relational

  require(nBuckets > 0, s"UpsertTableSink: nBuckets must be positive, got $nBuckets")

  def put(batch: DataFrame): Unit = {
    val spark = batch.sparkSession
    val cols = batch.columns.toSeq :+ "bucket"
    val withB = batch.withColumn("bucket",
      pmod(xxhash64(keyCols.map(col): _*), lit(nBuckets.toLong)).cast("int"))
    // a batch touches ≤ nBuckets buckets — a bounded scalar list, not data
    val touched = withB.select(col("bucket")).distinct()
      .collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) return
    val existing =
      try spark.read.parquet(targetDir)
        .filter(col("bucket").isin(touched.map(Int.box): _*))
        .select(cols.map(col): _*)
      catch { case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "PATH_NOT_FOUND" =>
        withB.limit(0)
      }
    Relational.upsertLatest(existing, withB.select(cols.map(col): _*),
        keyCols, versionCol)
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket")
      .parquet(targetDir)
  }
}
