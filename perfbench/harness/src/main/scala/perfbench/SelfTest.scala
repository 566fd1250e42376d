package perfbench

/** Checks [[Stats]] on synthetic inputs whose answers are known. Every run
  * calls [[failures]] first and refuses to measure if any check fails.
  */
object SelfTest {
  import Stats._

  def failures(): Seq[String] = {
    val bad = Seq.newBuilder[String]
    def check(name: String, ok: Boolean): Unit = if (!ok) bad += name

    val hundred = (1 to 100).map(_.toDouble)
    check("p50 of 1..100 is 50", percentile(hundred, 50) == 50.0)
    check("p90 of 1..100 is 90", percentile(hundred, 90) == 90.0)
    check("p99 of 1..100 is 99", percentile(hundred, 99) == 99.0)
    check("p100 of 1..100 is 100", percentile(hundred, 100) == 100.0)
    check("percentile ignores input order", percentile(hundred.reverse, 90) == 90.0)
    check("p50 of one sample is that sample", percentile(Seq(7.0), 50) == 7.0)
    check("p50 of 1..4 is 2 (nearest rank)", percentile(Seq(4.0, 3.0, 2.0, 1.0), 50) == 2.0)
    check("percentile of nothing is NaN", percentile(Nil, 50).isNaN)

    check("100 samples support p90", supports(100, 90))
    check("99 samples do not support p90", !supports(99, 90))
    check("20 samples support p50", supports(20, 50))
    check("19 samples do not support p50", !supports(19, 50))
    check("1000 samples support p99", supports(1000, 99))

    val fast = Seq.fill(90)(100.0)
    def step(rate: Double, missing: Int = 0, backlog: Double = 0, failed: Int = 0,
        lat: Seq[Double] = fast) = Step(rate, lat, missing, backlog, failed)
    check("step with p90 at the limit passes",
      stepPasses(step(2, lat = fast ++ Seq.fill(10)(2000.0)), 2000, 2))
    check("step with p90 past the limit fails",
      !stepPasses(step(2, lat = Seq.fill(89)(100.0) ++ Seq.fill(11)(2001.0)), 2000, 2))
    check("ten missing in a hundred keeps p90", stepPasses(step(2, missing = 10), 2000, 2))
    check("eleven missing in a hundred fails p90",
      !stepPasses(step(2, lat = Seq.fill(89)(100.0), missing = 11), 2000, 2))
    check("backlog of two seconds of input passes", stepPasses(step(4, backlog = 8), 2000, 2))
    check("backlog past two seconds of input fails", !stepPasses(step(4, backlog = 9), 2000, 2))
    check("a failed message fails the step", !stepPasses(step(4, failed = 1), 2000, 2))
    check("a step without samples fails", !stepPasses(step(4, lat = Nil), 2000, 2))

    val ladder = Seq(step(2), step(4), step(8, failed = 1), step(16))
    check("sustained stops at the first failing rung", sustained(ladder, 2000, 2) == 4.0)
    check("sustained is 0 when the floor fails", sustained(Seq(step(2, failed = 1), step(4)), 2000, 2) == 0.0)
    check("sustained of a clean ladder is its top rung", sustained(ladder.take(2), 2000, 2) == 4.0)

    check("backlog max and end", backlog(Seq((5L, 0L), (10L, 2L), (12L, 12L))) == ((8L, 0L)))
    check("backlog of nothing is zero", backlog(Nil) == ((0L, 0L)))

    check("failed_ratio 0 of 10", failedRatio(0, 10) == 0.0)
    check("failed_ratio 1 of 4", failedRatio(1, 4) == 0.25)
    check("failed_ratio needs attempts", scala.util.Try(failedRatio(0, 0)).isFailure)

    val parent = Span("p", "1", "", "", 0L, 100L)
    val kids = Seq(Span("c", "a", "p", "1", 10L, 30L), Span("c", "b", "p", "1", 20L, 50L),
      Span("c", "c", "p", "1", 90L, 120L), Span("c", "d", "p", "2", 60L, 70L))
    val self = Trace.selfTimes(parent +: kids)
    check("self time subtracts the union of a span's own children, clipped to it",
      self("p") == ((1, 100 / 1e6, 50 / 1e6)))

    bad.result()
  }
}
