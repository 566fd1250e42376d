package perfbench

/** The harness's arithmetic, kept apart from the workloads so that
  * [[SelfTest]] can check it on synthetic inputs before every run.
  */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least `p` percent
    * of the samples at or below it. NaN for no samples.
    */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val rank = math.ceil(p / 100.0 * s.size - 1e-9).toInt
      s(math.min(s.size, math.max(1, rank)) - 1)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** A percentile is supported when at least ten samples lie beyond it. */
  def supports(n: Int, p: Double): Boolean = n * (100.0 - p) / 100.0 >= 10.0 - 1e-9

  def failedRatio(failed: Long, attempted: Long): Double = {
    require(attempted > 0, "failed_ratio needs at least one attempted operation")
    failed.toDouble / attempted
  }

  /** One rung of an open-loop rate ladder, as seen after its verdict time.
    * `latenciesMs` holds the samples that completed; `missing` counts the
    * samples that had not completed when the verdict was taken, which count
    * as missing any latency limit.
    */
  final case class Step(
      rate: Double,
      latenciesMs: Seq[Double],
      missing: Int,
      backlogEnd: Double,
      failed: Int)

  /** Latency percentile over a step, missing samples counted as infinitely late. */
  def stepPercentile(s: Step, p: Double): Double =
    percentile(s.latenciesMs ++ Seq.fill(s.missing)(Double.PositiveInfinity), p)

  /** A step passes when its p90 latency is within the limit, the backlog at
    * its end is at most `backlogSeconds` of its input rate, and nothing
    * failed.
    */
  def stepPasses(s: Step, limitMs: Double, backlogSeconds: Double): Boolean =
    s.failed == 0 &&
      s.latenciesMs.size + s.missing > 0 &&
      s.backlogEnd <= backlogSeconds * s.rate &&
      stepPercentile(s, 90) <= limitMs

  /** The highest rung that passes before the first failing rung; 0 when the
    * first rung fails.
    */
  def sustained(steps: Seq[Step], limitMs: Double, backlogSeconds: Double): Double =
    steps.takeWhile(stepPasses(_, limitMs, backlogSeconds)).map(_.rate).maxOption.getOrElse(0.0)

  /** Backlog samples as (sent, completed) counts: (max, last) of sent minus completed. */
  def backlog(samples: Seq[(Long, Long)]): (Long, Long) =
    if (samples.isEmpty) (0L, 0L)
    else {
      val b = samples.map { case (sent, done) => sent - done }
      (b.max, b.last)
    }
}
