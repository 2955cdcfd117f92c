package perfbench

/** The benchmark's own arithmetic, kept free of Spark so the self-tests
  * ([[SelfTest]]) can pin it on synthetic inputs. */
object Stats {

  /** Nearest-rank percentile `q` (0 < q < 1) of `xs`, reported only when
    * at least `minBeyond` samples lie strictly beyond it; `None`
    * otherwise. A p50 therefore needs 2 × minBeyond samples and a p90
    * needs 10 × minBeyond. */
  def percentile(xs: Seq[Double], q: Double, minBeyond: Int = 10): Option[Double] = {
    require(q > 0 && q < 1, s"q=$q must be in (0,1)")
    val n = xs.size
    if (n == 0) return None
    val sorted = xs.sorted
    val rank = math.ceil(q * n).toInt.max(1) // 1-based nearest rank
    val beyond = n - rank
    if (beyond < minBeyond) None else Some(sorted(rank - 1))
  }

  /** Median of a non-empty sample (mean of the middle two for even n).
    * Used for per-run aggregates whose sample count is printed beside
    * them; the reportable-percentile rule is [[percentile]]. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Total length covered by a set of half-open intervals (start, end),
    * overlapping intervals counted once. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    val sorted = intervals.filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    sorted.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Clips intervals to the window [from, to). */
  def clip(intervals: Seq[(Long, Long)], from: Long, to: Long): Seq[(Long, Long)] =
    intervals.map { case (s, e) => (s max from, e min to) }.filter { case (s, e) => e > s }

  /** Driver residual of one operation: its wall time minus the part of
    * it covered by at least one Spark job. */
  def driverResidual(opStart: Long, opEnd: Long, jobs: Seq[(Long, Long)]): Long =
    (opEnd - opStart) - unionLength(clip(jobs, opStart, opEnd))

  /** A recorded span. Times are in nanoseconds on one clock. */
  final case class Span(id: Int, parent: Int, opId: Int, name: String, start: Long, end: Long) {
    def dur: Long = end - start
  }

  /** Self time of every span: its duration minus the part of its
    * interval covered by its direct children. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.dur - unionLength(clip(kids, s.start, s.end)))
    }.toMap
  }

  /** Replica-lag bookkeeping. Commits are recorded with the version they
    * produced and the time the commit call returned; a drain records the
    * newest version the replica reflects and the time it returned. Each
    * commit's lag is the time from its return to the return of the first
    * drain that covers its version. Commits no drain has covered yet
    * stay pending and yield no sample. */
  final class LagBook {
    private val pending = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    private val lags = scala.collection.mutable.ArrayBuffer.empty[Double]

    def committed(version: Long, returnedNs: Long): Unit = pending += (version -> returnedNs)

    def drained(reflectsVersion: Long, returnedNs: Long): Unit = {
      val (covered, rest) = pending.partition(_._1 <= reflectsVersion)
      covered.foreach { case (_, t) => lags += (returnedNs - t) / 1e9 }
      pending.clear()
      pending ++= rest
    }

    def samples: Seq[Double] = lags.toSeq
    def uncovered: Int = pending.size
  }
}
