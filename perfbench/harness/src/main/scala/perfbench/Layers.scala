package perfbench

/** Per-layer metrics of a traced run, named `<layer>.<metric>`. Every name
  * is reported on every workload; a layer a workload does not use reads 0.
  */
object Layers {
  private def p(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) 0.0 else Stats.percentile(xs, q)

  /** Layers whose Spark jobs are counted apart (see [[EngineListener]]). */
  val JobLayers: Seq[String] = Seq("append", "emitter", "emit", "sink", "reader")

  def metrics(m: StreamBench.Measured, untraced: Option[StreamBench.Measured]): Seq[(String, Double, String)] = {
    val t = m.triggers
    def phase(k: String) = t.map(_.durations.getOrElse(k, 0L)).sum.toDouble
    val (backlogMax, backlogEnd) = Stats.backlog(m.backlog)
    val msgs = math.max(1L, m.sent)
    val floorTraced = Stats.percentile(m.floorLatencies, 50)
    val floorUntraced = untraced.map(u => Stats.percentile(u.floorLatencies, 50)).getOrElse(floorTraced)
    val spark = EngineListener.Names.map(n => (s"spark.$n", m.engine(n).toDouble, unitOf(n)))
    val byLayer = JobLayers.flatMap { l =>
      val c = m.engineByLayer.getOrElse(l, Map.empty[String, Long])
      Seq((s"spark.$l.jobs", c.getOrElse("jobs", 0L).toDouble, "count"),
        (s"spark.$l.executor_run_ms", c.getOrElse("executor_run_ms", 0L).toDouble, "ms"))
    }
    Seq(
      ("mbstream.append_ms_p50", p(m.appendMs, 50), "ms"),
      ("mbstream.append_ms_p99", p(m.appendMs, 99), "ms"),
      ("mbstream.append_calls", m.appendMs.size.toDouble, "count"),
      ("mbstream.buffer_files", m.bufferFiles.toDouble, "count"),
      ("mbstream.buffer_bytes", m.bufferBytes.toDouble, "bytes"),
      ("emitter.triggers", t.size.toDouble, "count"),
      ("emitter.trigger_ms_p50", p(t.map(_.durations.getOrElse("triggerExecution", 0L).toDouble), 50), "ms"),
      ("emitter.rows_per_trigger_p50", p(t.map(_.inputRows.toDouble), 50), "rows"),
      ("emitter.latest_offset_ms", phase("latestOffset"), "ms"),
      ("emitter.get_batch_ms", phase("getBatch"), "ms"),
      ("emitter.query_planning_ms", phase("queryPlanning"), "ms"),
      ("emitter.add_batch_ms", phase("addBatch"), "ms"),
      ("emitter.wal_commit_ms", phase("walCommit"), "ms"),
      ("emitter.commit_offsets_ms", phase("commitOffsets"), "ms"),
      ("emitter.self_ms", math.max(0.0, phase("addBatch") - m.emitMs.sum - m.sinkMs.sum), "ms"),
      ("emitter.state_rows", t.lastOption.map(_.stateRows.toDouble).getOrElse(0.0), "rows"),
      ("emitter.state_bytes", t.lastOption.map(_.stateBytes.toDouble).getOrElse(0.0), "bytes"),
      ("emitter.state_commit_ms", t.map(_.stateCommitMs).sum.toDouble, "ms"),
      ("emitter.backlog_msgs_max", backlogMax.toDouble, "msgs"),
      ("emitter.backlog_msgs_end", backlogEnd.toDouble, "msgs"),
      ("emit.calls", m.emitMs.size.toDouble, "count"),
      ("emit.ms", m.emitMs.sum, "ms"),
      ("emit.ms_p50", p(m.emitMs, 50), "ms"),
      ("sink.put_ms_p50", p(m.sinkMs, 50), "ms"),
      ("sink.put_ms", m.sinkMs.sum, "ms"),
      ("reader.history_read_p50_ms", p(m.readMs, 50), "ms"),
      ("reader.reads", m.reads.toDouble, "count"),
      ("spark.jobs_per_msg", m.engine("jobs").toDouble / msgs, "jobs/msg"),
      ("gen.late_ms_p99", p(m.lateMs, 99), "ms"),
      ("gen.late_ms_max", if (m.lateMs.isEmpty) 0.0 else m.lateMs.max, "ms"),
      ("ladder.sustained_msgs_s", m.sustained, "msg/s"),
      ("ladder.latency_p90_ms", p(m.floorLatencies, 90), "ms"),
      ("trace.latency_p50_ms", floorTraced, "ms"),
      ("trace.overhead_latency_p50_ms", floorTraced - floorUntraced, "ms"),
      ("trace.recording_ms", m.tracingCostMs, "ms"),
      ("trace.spans", m.spans.size.toDouble, "count"),
    ) ++ spark ++ byLayer
  }

  private def unitOf(counter: String): String =
    if (counter.endsWith("_ms")) "ms" else if (counter.endsWith("_bytes")) "bytes" else "count"
}
