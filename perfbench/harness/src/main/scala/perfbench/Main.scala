package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** Runs one workload and writes its result.
  *
  * {{{
  * Main --workload stream.count --seed 1 --seconds 24 --trace 0 \
  *      --work <work dir> --artifacts <dir> --out <result file>
  * }}}
  *
  * With `--trace 0` the result holds the end-to-end metrics; with
  * `--trace 1` it holds the per-layer metrics of a traced run, and the spans
  * and self times go to the artifacts directory.
  */
object Main {
  val Workloads: Seq[String] = Seq("stream.count", "stream.fixed_keep")

  def main(argv: Array[String]): Unit = {
    val code = try { run(argv); 0 } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] failed: $e")
        e.printStackTrace()
        1
    }
    // Spark leaves non-daemon threads behind; end the JVM explicitly
    sys.exit(code)
  }

  private def run(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    require(Workloads.contains(workload), s"unknown workload $workload; one of ${Workloads.mkString(", ")}")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    require(seconds >= 8, "--seconds must be at least 8")
    val trace = arg("trace") == "1"

    val bad = SelfTest.failures()
    if (bad.nonEmpty) {
      sys.error(s"self-test failed: ${bad.mkString("; ")}")
    }

    val contention = new Contention
    val r = new StreamBench(workload, seed, seconds, arg("work")).run(trace)
    val contentionNote = contention.finish()
    val m = r.m

    val failedRatio = Stats.failedRatio(m.failed, m.attempted)
    val floor = m.floorLatencies
    val e2e = Seq(
      ("setup_s", Stats.median(r.setupSeconds), "s"),
      ("latency_p50_ms", Stats.percentile(floor, 50), "ms"),
      ("peak_rss_mb", peakRssMb(), "MB"))
    val layers = Layers.metrics(m, r.untraced)
    val metrics = if (trace) layers else e2e

    val summary = mutable.ArrayBuffer.empty[String]
    def line(n: String, v: Double, u: String, note: String = "") =
      summary += f"  $n%-34s $v%16.4f $u $note".stripTrailing
    summary += s"workload $workload seed $seed seconds $seconds trace ${if (trace) 1 else 0}"
    e2e.foreach { case (n, v, u) => line(n, v, u) }
    line("latency_p90_ms", Stats.percentile(floor, 90), "ms",
      s"(${floor.size} samples${if (Stats.supports(floor.size, 90)) "" else "; fewer than ten lie beyond p90"})")
    line("failed_ratio", failedRatio, "ratio", s"(${m.failed} of ${m.attempted}: ${m.notOnce} not emitted " +
      s"exactly once, ${m.badWindows} bad windows, ${m.readsFailed} failed reads, " +
      s"${m.checks.count(!_._2)} failed row-count checks)")
    if (m.readMs.nonEmpty) line("history_read_p50_ms", Stats.median(m.readMs), "ms", s"(${m.readMs.size} reads)")
    if (trace) line("sustained_msgs_s", m.sustained, "msg/s")
    m.steps.zipWithIndex.foreach { case (s, i) =>
      summary += f"  rung $i: ${s.rate}%.0f msg/s p90 ${Stats.stepPercentile(s, 90)}%.1f ms " +
        s"samples ${s.latenciesMs.size} missing ${s.missing} backlog ${s.backlogEnd} " +
        (if (Stats.stepPasses(s, StreamBench.LatencyLimitMs, StreamBench.BacklogSeconds)) "pass" else "FAIL")
    }
    m.checks.foreach { case (c, ok) => summary += s"  check ${if (ok) "ok" else "FAILED"}: $c" }
    summary += s"  setup times: ${r.setupSeconds.map(x => f"$x%.3f").mkString(" ")} s"
    summary += s"  floor latencies in emit order: ${floor.map(x => f"$x%.0f").mkString(" ")} ms"
    summary += s"  $contentionNote"
    layers.foreach { case (n, v, u) => line(n, v, u) }

    val artifacts = Paths.get(arg("artifacts"))
    Files.createDirectories(artifacts)
    val stem = s"$workload-seed$seed-trace${if (trace) 1 else 0}"
    Files.writeString(artifacts.resolve(s"$stem.txt"), summary.mkString("", "\n", "\n"))
    if (trace) {
      Files.writeString(artifacts.resolve(s"$stem.spans.json"), Trace.json(m.spans, m.originNs))
      val self = Trace.selfTimes(m.spans).toSeq.sortBy(-_._2._3).map { case (n, (c, tot, self)) =>
        f"""{"span":"$n","count":$c,"total_ms":$tot%.3f,"self_ms":$self%.3f}"""
      }
      Files.writeString(artifacts.resolve(s"$stem.self.json"), self.mkString("[\n", ",\n", "\n]\n"))
    }

    summary.foreach(println)
    val unmeasured = metrics.collect { case (n, v, _) if v.isNaN || v.isInfinite => n }
    require(unmeasured.isEmpty, s"no value for ${unmeasured.mkString(", ")}")
    val json = metrics.map { case (n, v, u) => s""""$n": {"value": $v, "unit": "$u"}""" }.mkString(", ")
    Files.writeString(Paths.get(arg("out")),
      s"""{"correct": ${m.failed == 0}, "attempted": ${m.attempted}, "failed": ${m.failed}, "metrics": {$json}}""" + "\n")
  }

  /** The JVM's resident-set high-water mark (VmHWM) in MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("VmHWM not in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Other processes' load before and after the run: the 1-minute load
  * average, the machine's CPU use minus this JVM's, and the CPU time the
  * hypervisor stole over the run, both in cores. A run is contended when
  * external use reaches a quarter of the cores or steal a tenth of them.
  */
final class Contention {
  private val cpus = Runtime.getRuntime.availableProcessors()
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def loadAvg(): Double =
    Files.readString(Paths.get("/proc/loadavg")).split("\\s+").head.toDouble

  /** System CPU use minus this process's, in cores, since the previous call. */
  private def external(): Double = {
    val sys = os.getCpuLoad; val self = os.getProcessCpuLoad
    if (sys.isNaN || self.isNaN || sys < 0 || self < 0) 0.0 else math.max(0.0, sys - self) * cpus
  }

  /** (steal, total) jiffies of all CPUs, from /proc/stat. */
  private def cpuTicks(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").tail.map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  }

  private val ticksPre = cpuTicks()
  private val loadPre = loadAvg()
  external()
  Thread.sleep(250)
  private val externalPre = external()

  def finish(): String = {
    val externalPost = external()
    val loadPost = loadAvg()
    val ticksPost = cpuTicks()
    val steal = (ticksPost._1 - ticksPre._1).toDouble / math.max(1L, ticksPost._2 - ticksPre._2) * cpus
    val contended = math.max(externalPre, externalPost) >= 0.25 * cpus || steal >= 0.1 * cpus
    f"contention: ${if (contended) "CONTENDED" else "none"} (loadavg pre $loadPre%.2f " +
      f"post $loadPost%.2f, external cpu pre $externalPre%.2f post $externalPost%.2f, " +
      f"steal $steal%.2f of $cpus cores)"
  }
}
