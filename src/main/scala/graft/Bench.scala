package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): run every SparkEntry query at the
  * SPARK_GRAFT_SF_DIR scale factor and print ONE JSON line.
  *
  * Timing methodology: each query is fully materialized through the noop
  * sink (count() would let Catalyst prune columns/work and under-measure).
  * A warmup pass at sf0.001 first absorbs JVM/classloader/codegen warmup so
  * the reported numbers reflect query execution, not startup.
  *
  * Each query is timed over TWO full passes and reports the per-query MIN.
  * A single pass attributes neighbor effects to whichever query runs next —
  * GC of broadcasts/localCheckpoint blocks accumulated by earlier queries,
  * OS page-cache warmup, a background compaction — and those showed up in
  * round 9 as a phantom 3–4× "regression" on three text queries that
  * vanished on re-run (isolated AND full-suite reruns both matched the
  * round-8 numbers). min-of-2 reports each query's steady-state cost,
  * which is what capacity planning at 100 TB actually needs; `System.gc()`
  * between passes gives the ContextCleaner a chance to release the
  * previous pass's dropped broadcasts so pass 2 isn't paying pass 1's
  * garbage either.
  *
  * Contention instrumentation: min-of-2 defends against neighbor effects
  * WITHIN a bench session but not against a contended session — three of
  * four recorded round totals (r9, r10, r12) were inflated 1.5–1.7× by
  * concurrent load on the machine (the r12 bench ran inside a 1,271 s sbt
  * session) and each cost a round of manual triage. The JSON line now
  * carries `load_pre`/`load_post` (1-minute /proc/loadavg samples taken
  * before Spark starts and after the last pass, recorded only), the
  * external CPU samples `external_pre`/`external_mid`/`external_end`
  * (other processes' CPU use, in cores, before pass 1, after pass 1 and
  * after pass 2) and a `contended` flag; if an external sample says
  * another workload holds a meaningful share of the cores, a THIRD timed
  * pass runs and the per-query min is taken over all three, so a
  * contended session either self-corrects or is at least flagged so nobody
  * has to guess. The load average does not decide it: before Spark starts
  * it still carries sbt's own start-up.
  *
  * Idle-session noise: even uncontended, a one-off stall (GC pause,
  * page-cache miss burst) can survive min-of-2 as a query's reported time.
  * Any non-trivial query whose two passes disagree by >1.2× is retimed
  * individually (a handful of queries, not a full pass) — up to TWO extra
  * samples, stopping as soon as the two FASTEST samples agree within
  * 1.2× — and the extra samples fold into the min. `retimed` in the JSON
  * records how many queries needed any retime; `unstable` counts those
  * whose best two samples STILL disagree after the retimes (r15 and r16
  * both recorded sessions with ~84 disagreeing queries and no way to see
  * post hoc which numbers to trust — that is what cost each following
  * round a manual triage).
  *
  * Post-hoc visibility: every raw sample (both passes, the contended
  * third pass, every retime) is persisted to target/bench_passes.json.
  * A future unstable session is then diagnosable from the artifact
  * itself — "pass 1 was uniformly 1.5× pass 2" reads as a regime shift,
  * "one query stalled once" reads as a GC pause — without re-running
  * anything.
  *
  * Layer record: every one of those samples is also recorded, while it
  * runs, into target/bench_layers.json by [[BenchLayers]] — jobs and
  * their time, stages, tasks, executor run and CPU time against scheduler
  * delay, shuffle, spill and scan bytes, the write's planning phases and
  * the non-zero `SQLMetrics` of every executed operator. One line per query holds its
  * samples in the order of its bench_passes.json entry, each labelled
  * (`pass1`, `pass2`, `pass3`, `retime1`, `retime2`) with its wall time,
  * so a slow sample reads as "more stages", "scheduler-bound" or "one
  * operator spilled" without re-running anything. The file is written
  * after the last sample, once every sampled job's end event has arrived.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    // optional args = query-name filter for local iteration; the driver
    // invokes with no args and gets the full suite
    val selected: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(args.toSet).toMap
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

    // 1-minute load average; -1.0 when /proc/loadavg is unreadable (non-Linux)
    def loadAvg(): Double =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split("\\s+").head.toDouble
      catch { case _: Throwable => -1.0 }
    // External load at or above a quarter of the machine's cores means
    // another workload is competing for CPU with the 32 bench threads.
    val contentionThreshold = Runtime.getRuntime.availableProcessors() * 0.25
    // sampled BEFORE Spark spins up its own threads; recorded, not used to
    // decide contention: the 1-minute average still carries sbt's own
    // start-up and compile (above the threshold in every session on a
    // 4-core host, while the external samples below read 0.02-0.07)
    val loadPre = loadAvg()
    // External CPU demand: system-wide CPU share minus this JVM's own share,
    // scaled to cores. Unlike the 1-minute loadavg — which mostly reflects
    // sbt's start-up before the run and the bench's own threads after a
    // pass — this isolates OTHER processes' load. Both getters diff
    // CPU-time ticks against the PREVIOUS call, so the bean is primed here,
    // before Spark starts (the un-primed first call returns garbage), and
    // each sample reads the external average since the one before it.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    def externalCpuLoad(): Double = osBean match {
      case b: com.sun.management.OperatingSystemMXBean =>
        val sysLoad = b.getCpuLoad
        val selfLoad = b.getProcessCpuLoad
        if (sysLoad.isNaN || selfLoad.isNaN) -1.0
        else math.max(0.0, sysLoad - selfLoad) * Runtime.getRuntime.availableProcessors()
      case _ => -1.0
    }
    externalCpuLoad(): Unit // prime the tick counters
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // warmup at the smallest sf: JIT, codegen, parquet reader init
    selected.toSeq.sortBy(_._1).foreach { case (_, fn) =>
      try materialize(fn(spark, "/root/testdata/sf0.001"))
      catch { case _: Throwable => () }
    }

    // A failed query must NOT masquerade as a fast one: analysis errors
    // raise in milliseconds, and round 10 reported a broken query at
    // 0.06 s for a whole round before anyone noticed. Track failures and
    // surface them in the JSON so the caller sees them without reading
    // stderr.
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    val layers = new BenchLayers(spark)
    def timedPass(label: String): Seq[(String, Double)] =
      selected.toSeq.sortBy(_._1).map { case (name, fn) =>
        val t0 = System.nanoTime()
        try layers.sample(s"$name/$label")(fn(spark, sfDir))(materialize)
        catch { case e: Throwable =>
          failed += name
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        name -> (System.nanoTime() - t0) / 1e9
      }
    // other processes' load over Spark's start-up and the warm-up, and
    // then during each pass
    val externalPre = externalCpuLoad()
    System.gc()
    val pass1 = timedPass("pass1")
    val externalMid = externalCpuLoad()
    System.gc()
    val pass2 = timedPass("pass2").toMap
    // sampled again AFTER pass 2: a workload starting mid-pass-2 would
    // otherwise inflate its times with contended=false and no third pass —
    // exactly the blind spot that cost r10/r12 a triage round each
    val externalEnd = externalCpuLoad()
    val contended = Seq(externalPre, externalMid, externalEnd).exists(_ > contentionThreshold)
    // A contended session gets a third pass: by the time it runs the
    // competing workload has often drained (sbt test sessions, compactions),
    // and min-of-3 then recovers the idle number instead of recording a
    // contaminated total that costs a round of triage.
    val pass3: Map[String, Double] =
      if (contended) { System.gc(); timedPass("pass3").toMap } else Map.empty
    // Per-query disagreement retime: min-of-2 on an IDLE box still lets a
    // one-off stall (GC pause, page-cache miss burst) survive as a query's
    // reported time — r13 recorded q_histogram_equidepth at 1.74× its idle
    // cost with contended=false, and disproving it cost the next round an
    // isolated re-run; r15/r16 recorded whole sessions where ~84 queries'
    // two passes disagreed and the round totals swung 1.4×. When the
    // passes disagree by >1.2× on a non-trivial query the number is noisy
    // by definition, so retime JUST those queries (a handful, not a full
    // pass) — up to twoExtra samples each, stopping as soon as the two
    // FASTEST samples for the query agree within 1.2× (a converged min is
    // a trustworthy min; a min that no second sample ever approaches is
    // recorded as unstable instead of trusted).
    val disagree = 1.2
    val p1m = pass1.toMap
    def samplesOf(name: String): Seq[Double] =
      Seq(p1m.get(name), pass2.get(name), pass3.get(name)).flatten
    def converged(ss: Seq[Double]): Boolean = {
      val sorted = ss.sorted
      sorted.length >= 2 && sorted(1) / math.max(sorted(0), 1e-9) <= disagree
    }
    val suspects: Seq[String] =
      pass1.collect { case (name, _)
          if !failed.contains(name) && {
            val ss = samplesOf(name)
            ss.min >= 0.3 && !converged(ss)
          } => name }
    val retimes = scala.collection.mutable.LinkedHashMap[String, List[Double]]()
    if (suspects.nonEmpty) System.gc()
    for (name <- suspects) {
      var extra = List.empty[Double]
      var tries = 0
      // a retime that FAILS must not fold its fast time-to-failure into
      // the min as if it were a legitimate sample (the round-10
      // failure-masquerading-as-fast class) — record the failure and
      // drop the sample instead
      while (tries < 2 && !failed.contains(name) &&
          !converged(samplesOf(name) ++ extra)) {
        val t0 = System.nanoTime()
        try {
          layers.sample(s"$name/retime${tries + 1}")(selected(name)(spark, sfDir))(materialize)
          extra ::= (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            failed += name
            System.err.println(s"[bench] $name failed on retime: ${e.getMessage}")
        }
        tries += 1
      }
      retimes(name) = extra.reverse
    }
    val unstable = suspects.count(n =>
      !failed.contains(n) && !converged(samplesOf(n) ++ retimes.getOrElse(n, Nil)))
    val results = pass1.map { case (name, t1) =>
      name -> (Seq(t1, pass2.getOrElse(name, t1), pass3.getOrElse(name, t1)) ++
        retimes.getOrElse(name, Nil)).min
    }
    val loadPost = loadAvg()
    if (!layers.settle(materialize))
      System.err.println("[bench] the layer record is incomplete: Spark events still missing after " +
        s"${BenchLayers.SettleTimeoutMs / 1000} s")
    // The driver keeps only the LAST ~2000 chars of stdout. With 125
    // queries the full per-query map is ~3.5 KB, so the line was always
    // truncated mid-JSON and both r9/r10 recorded "parsed": null. The full
    // map goes to target/bench.json (and is printed first for humans); the
    // FINAL stdout line is a budget-fitted variant that keeps the slowest
    // queries (the ones that matter for triage) and drops the fastest,
    // recording how many were dropped, so the tail always holds one
    // complete parseable JSON line even after sbt's "[success]" trailer.
    def fmt(v: Double): String = f"$v%.2f"
    def lineFor(rs: Seq[(String, Double)], omitted: Int): String = {
      val qs = rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val om = if (omitted > 0) s""","queries_omitted":$omitted""" else ""
      val fl = if (failed.nonEmpty)
        failed.map("\"" + _ + "\"").mkString(""","failed":[""", ",", "]")
      else ""
      val total = results.map(_._2).sum // total always covers ALL queries
      val loadFields =
        s""","load_pre":${fmt(loadPre)},"load_post":${fmt(loadPost)}""" +
          s""","external_pre":${fmt(externalPre)},"external_mid":${fmt(externalMid)},"external_end":${fmt(externalEnd)},"contended":$contended""" +
          s""","passes":${if (contended) 3 else 2},"retimed":${retimes.size},"unstable":$unstable"""
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs$om$fl$loadFields,"sf":"$sfDir"}"""
    }
    val full = lineFor(results, 0)
    val out = java.nio.file.Paths.get("target/bench.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, (full + "\n").getBytes("UTF-8"))
    // every raw sample, per query, for post-hoc regime diagnosis (see the
    // header comment) — target-only, never on the size-budgeted stdout line
    val passesJson = {
      val p2 = pass2
      val rows = pass1.map { case (name, t1) =>
        val parts = Seq(Some(t1), p2.get(name), pass3.get(name)).flatten ++
          retimes.getOrElse(name, Nil)
        "\"" + name + "\":[" + parts.map(fmt).mkString(",") + "]"
      }
      rows.mkString("{", ",", "}")
    }
    java.nio.file.Files.write(java.nio.file.Paths.get("target/bench_passes.json"),
      (passesJson + "\n").getBytes("UTF-8"))
    // the layer record, one line per query, samples in bench_passes order
    val layersJson = pass1.map { case (name, _) =>
      val rs = retimes.getOrElse(name, Nil)
      val labels = Seq("pass1", "pass2") ++ (if (contended) Seq("pass3") else Nil) ++
        rs.indices.map(i => s"retime${i + 1}")
      labels.zip(samplesOf(name) ++ rs).map { case (label, t) =>
        s"""{"sample":"$label","wall_s":${f"$t%.3f"},${layers.fields(s"$name/$label")}}"""
      }.mkString("\"" + name + "\":[", ",", "]")
    }.mkString(s"""{"sf":"$sfDir","cpus":$cpus,"queries":{\n""", ",\n", "\n}}\n")
    java.nio.file.Files.write(java.nio.file.Paths.get("target/bench_layers.json"),
      layersJson.getBytes("UTF-8"))
    // FULL-SUITE sessions additionally archive both artifacts into the
    // git-tracked bench/ dir: target/ is uncommitted and single-query
    // iteration runs overwrite it, which is exactly how the r18 recorded
    // session's raw samples were lost before the r19 triage could re-read
    // them. Single-query runs (args non-empty) never touch the archive.
    if (args.isEmpty) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get("bench"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get("bench/fullsuite_last.json"),
        (full + "\n").getBytes("UTF-8"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get("bench/fullsuite_last_passes.json"),
        (passesJson + "\n").getBytes("UTF-8"))
    }
    val budget = 1600 // leaves headroom for sbt's closing lines in the tail
    val fitted =
      if (full.length <= budget) full
      else {
        val bySlow = results.sortBy(-_._2)
        // largest prefix of the slowest-first ordering that fits the budget
        val keep = (bySlow.length to 1 by -1).view
          .map(n => bySlow.take(n).sortBy(_._1))
          .map(rs => lineFor(rs, results.length - rs.length))
          .find(_.length <= budget)
          .getOrElse(lineFor(Seq.empty, results.length))
        keep
      }
    // The budget-fitted line prints FIRST and LAST: r13 still recorded
    // "parsed": null with a complete fitted line in the tail, so the
    // driver's parser plausibly takes the FIRST "[info] {" line of stdout
    // — which was the ~3.5 KB full map, over whatever line budget it
    // reads. Bracketing the full map with the short fitted line means a
    // first-line, last-line, or tail-window parser all land on one
    // complete parseable JSON; humans and scripts read target/bench.json.
    println(fitted)
    if (full != fitted) println(full)
    spark.stop()
    // printed once more AFTER spark.stop() so the final application stdout
    // line (right before sbt's "[success]" trailer) is the complete fitted
    // JSON, whatever window the driver's parser reads
    if (full != fitted) println(fitted)
  }
}
