package perfbench

import perfbench.Stats.Span

/** Self-tests of the benchmark's own arithmetic on synthetic inputs, no
  * Spark: `python3 perfbench/run.py --selftest`. Exits non-zero on the
  * first failed expectation. */
object SelfTest {
  private var checks = 0

  private def eq(got: Any, want: Any, what: String): Unit = {
    checks += 1
    if (got != want) throw new AssertionError(s"$what: got $got, want $want")
  }

  def run(): Unit = {
    // percentile choice and sample count: a p50 needs 10 samples beyond it
    val xs = (1 to 20).map(_.toDouble)
    eq(Stats.percentile(xs, 0.5), Some(10.0), "p50 of 1..20 (10 beyond)")
    eq(Stats.percentile(xs.take(19), 0.5), None, "p50 of 19 samples has only 9 beyond")
    eq(Stats.percentile((1 to 100).map(_.toDouble), 0.9), Some(90.0), "p90 of 1..100")
    eq(Stats.percentile((1 to 99).map(_.toDouble), 0.9), None, "p90 of 99 samples")
    eq(Stats.percentile(Seq(3.0, 1.0, 2.0), 0.5, minBeyond = 1), Some(2.0), "unsorted input")
    eq(Stats.percentile(Nil, 0.5), None, "empty sample")
    eq(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5, "even median")
    eq(Workload.latencies("x", xs).map(m => (m.name, m.n)), Seq(("x.mean", 20), ("x.p50", 20)),
      "mean always, p50 with 20 samples, no p90")

    // union of job intervals and the driver residual
    eq(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))), 25L, "overlap counted once")
    eq(Stats.unionLength(Seq((20L, 30L), (0L, 40L))), 40L, "nested interval")
    eq(Stats.unionLength(Seq((0L, 10L), (10L, 20L))), 20L, "touching intervals")
    eq(Stats.unionLength(Nil), 0L, "no intervals")
    eq(Stats.driverResidual(100L, 200L, Seq((90L, 120L), (150L, 160L), (155L, 170L))), 60L,
      "residual clips jobs to the op and unions them")
    eq(Stats.driverResidual(0L, 50L, Seq((60L, 70L))), 50L, "a job outside the op")

    // span self time: duration minus the part covered by direct children
    val spans = Seq(Span(1, 0, 1, "op", 0, 100), Span(2, 1, 1, "a", 10, 40),
      Span(3, 1, 1, "b", 30, 60), Span(4, 2, 1, "a.inner", 15, 20))
    val self = Stats.selfTimes(spans)
    eq(self(1), 50L, "op self time (children 10-60)")
    eq(self(2), 25L, "child self time")
    eq(self(4), 5L, "leaf self time")

    // replica-lag bookkeeping
    val book = new Stats.LagBook
    book.committed(2, 1000000000L)
    book.committed(3, 2000000000L)
    book.drained(2, 2500000000L)
    eq(book.samples, Seq(1.5), "a drain covers only the versions it reflects")
    eq(book.uncovered, 1, "v3 still pending")
    book.committed(4, 3000000000L)
    book.drained(4, 4000000000L)
    eq(book.samples, Seq(1.5, 2.0, 1.0), "later drain covers the rest")
    eq(book.uncovered, 0, "nothing pending")

    // job attribution to a module by call site
    eq(JobListener.moduleOf("org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\n" +
      "graft.sinks.Sinks$.csv(Sinks.scala:25)\ngraft.pipeline.Orchestrator$.run(Orchestrator.scala:9)"),
      "sinks", "module from the first engine frame")
    eq(JobListener.moduleOf("graft.GraftSession$.pin(GraftSession.scala:190)"), "GraftSession",
      "top-level engine object")
    eq(JobListener.moduleOf("perfbench.CdcReplicate.finish(CdcReplicate.scala:3)"), "bench", "benchmark job")

    println(s"selftest: $checks checks passed")
  }
}
