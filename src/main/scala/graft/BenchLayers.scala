package graft

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Where each timed sample of [[Bench]] spends its time, recorded while the
  * sample runs: one `SparkListener` and one `QueryExecutionListener` on the
  * bench session.
  *
  * A sample is attributed by the `graft.bench.sample` local property, set
  * on the bench thread for the whole sample (query construction and the
  * write). Every job started under it counts for the sample, with its
  * start-to-end time (summed; concurrent jobs overlap, and the sample's
  * wall time beyond it is driver work between jobs), its stages and their
  * tasks: executor run and CPU time, scheduler delay (the Spark UI
  * formula: task duration minus run, deserialize, result serialization
  * and getting-result time), shuffle read and write bytes, spill (memory
  * + disk) bytes and scan input bytes.
  *
  * The operators come from the sample's own write: its `QueryExecution`
  * reaches the listener asynchronously with no local properties, so it is
  * matched by the identity of the frame's analyzed plan, which the writer
  * wraps unchanged. Each operator of the executed plan ([[BenchLayers.nodes]])
  * with a non-zero `SQLMetric` is kept with those metrics: timings in ms,
  * sizes in bytes, averages left out. The write's planning phases
  * (`analysis`, `optimization`, `planning`, ms) come from its
  * `QueryPlanningTracker`.
  */
final class BenchLayers(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import BenchLayers._

  private val sc = spark.sparkContext
  private val counters = mutable.Map.empty[String, Array[Long]]
  private val writes = mutable.Map.empty[String, String]
  private val stageSample = mutable.Map.empty[Int, String]
  private val running = mutable.Map.empty[Int, (String, Long)]
  private val plans = new java.util.IdentityHashMap[LogicalPlan, String]()

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  /** Build a frame and write it with `run`, as sample `key`. */
  def sample[T](key: String)(build: => DataFrame)(run: DataFrame => T): T = {
    sc.setLocalProperty(SampleKey, key)
    try {
      val df = build
      synchronized(plans.put(df.queryExecution.commandExecuted, key))
      run(df)
    } finally sc.setLocalProperty(SampleKey, null)
  }

  /** Wait until every event of the samples so far has arrived, then stop
    * listening. A marker write is sampled last: its `QueryExecution` is
    * delivered on the same listener queue after every earlier event, and
    * after it no sampled job may still be running. False after
    * [[SettleTimeoutMs]].
    */
  def settle(write: DataFrame => Unit): Boolean = {
    sample(Marker)(spark.range(1).toDF())(write)
    val deadline = System.currentTimeMillis() + SettleTimeoutMs
    def done = synchronized(writes.contains(Marker) && running.isEmpty)
    while (!done && System.currentTimeMillis() < deadline) Thread.sleep(10)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    done
  }

  /** The record of sample `key` as JSON object fields, without braces (all
    * zero when nothing of it arrived). */
  def fields(key: String): String = synchronized {
    val c = counters.getOrElse(key, new Array[Long](Names.size))
    Names.zip(c).map { case (n, v) => s""""$n":$v""" }.mkString("", ",", ",") +
      writes.getOrElse(key, """"phases_ms":{},"operators":[]""")
  }

  private def count(key: String): Array[Long] = counters.getOrElseUpdate(key, new Array[Long](Names.size))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(SampleKey))).foreach { key =>
      synchronized {
        count(key)(Jobs) += 1
        running(e.jobId) = (key, e.time)
        e.stageIds.foreach(stageSample(_) = key)
      }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    running.remove(e.jobId).foreach { case (key, start) => count(key)(JobMs) += e.time - start }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSample.get(e.stageInfo.stageId).foreach(count(_)(Stages) += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSample.get(e.stageId).foreach { key =>
      val c = count(key)
      c(Tasks) += 1
      val m = e.taskMetrics
      if (m != null) {
        c(RunMs) += m.executorRunTime
        c(CpuMs) += m.executorCpuTime / 1000000L
        c(DelayMs) += math.max(0L, e.taskInfo.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - e.taskInfo.gettingResultTime)
        c(ShuffleRead) += m.shuffleReadMetrics.totalBytesRead
        c(ShuffleWrite) += m.shuffleWriteMetrics.bytesWritten
        c(Spill) += m.memoryBytesSpilled + m.diskBytesSpilled
        c(Input) += m.inputMetrics.bytesRead
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val key = synchronized(qe.logical.children.headOption.map(plans.remove).orNull)
    if (key != null) {
      val phases = Try(qe.tracker.phases.toSeq.sortBy(_._1).map { case (p, s) => p -> s.durationMs }).getOrElse(Nil)
      val ops = Try(operators(qe.executedPlan)).getOrElse(Nil)
      synchronized(writes(key) = s""""phases_ms":${obj(phases)},"operators":${ops.mkString("[", ",", "]")}""")
    }
  }
}

object BenchLayers {
  private val SampleKey = "graft.bench.sample"
  private val Marker = "graft.bench.settle"
  val SettleTimeoutMs = 120000L

  val Names: Seq[String] = Seq("jobs", "stages", "tasks", "job_ms", "executor_run_ms", "executor_cpu_ms",
    "scheduler_delay_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes")
  private val Jobs = 0; private val Stages = 1; private val Tasks = 2; private val JobMs = 3
  private val RunMs = 4; private val CpuMs = 5; private val DelayMs = 6; private val ShuffleRead = 7
  private val ShuffleWrite = 8; private val Spill = 9; private val Input = 10

  /** Every node of an executed plan, in plan order, through AQE (the final
    * plan of each adaptive plan, the plan of each query stage) and
    * subqueries. A reused exchange is a leaf: what it reuses counts once.
    */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case p => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  /** Each operator with a non-zero metric, with those metrics, as JSON. */
  private def operators(plan: SparkPlan): Seq[String] =
    nodes(plan).map { p =>
      p.nodeName -> p.metrics.toSeq.sortBy(_._1).collect { case (k, m) if m.metricType != "average" =>
        k -> (if (m.metricType == "nsTiming") m.value / 1000000L else m.value)
      }.filter(_._2 != 0)
    }.collect { case (op, ms) if ms.nonEmpty => s"""{"op":${quote(op)},"metrics":${obj(ms)}}""" }

  private def obj(kvs: Seq[(String, Long)]): String =
    kvs.map { case (k, v) => s"${quote(k)}:$v" }.mkString("{", ",", "}")

  private def quote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""
}
