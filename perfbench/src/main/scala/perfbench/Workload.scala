package perfbench

import java.nio.file.{Files, Path}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A reported figure: name, value, unit, and the sample count behind it
  * (0 when the value is not a statistic over operations). */
final case class Metric(name: String, value: Double, unit: String, n: Int = 0)

/** One completed operation. `latencyS` is the operation's latency
  * sample; `engineS` is all time spent in engine calls during it (for a
  * commit followed by a replica drain, both); `items` are the input rows
  * it fully processed; `failures` name every check it failed. */
final case class Op(latencyS: Double, engineS: Double, items: Long, failures: Seq[String])

/** A closed-loop workload with one client: the harness calls
  * [[prepare]] (several times, to time set-up), [[warmUp]] once, then
  * [[runOp]] a fixed number of times back to back, then [[finish]]. */
trait Workload {
  def name: String
  /** Name of the span that wraps one operation in a traced phase. */
  def opSpan: String
  /** Nominal seconds per operation: a run of `seconds` measures a fixed
    * `round(seconds / nominalOpS)` operations, so every run of the same
    * length does the same work. */
  def nominalOpS: Double
  /** Input sizes and knobs, for the run fingerprint. */
  def params: Seq[(String, Any)]
  /** One full set-up into `dir`: input generation and the workload's
    * one-time preparation. The last call's state is the one measured. */
  def prepare(dir: Path): Unit
  def warmUp(): Unit
  def runOp(i: Int, tr: Tracer): Op
  /** Checks that only make sense once the run is over, by name. */
  def finish(): Seq[(String, Boolean)] = Nil
  /** The workload's named end-to-end metrics (see README). */
  def userMetrics(ops: Seq[Op]): Seq[Metric]
  /** The workload's own per-layer metrics from a traced phase; layers
    * the workload does not reach are reported as 0 by the harness. */
  def layerMetrics(tr: Tracer, spark: SparkLayers): Seq[Metric]
}

/** Several workloads run as one: each operation runs one operation of
  * every part, in order, under one operation span. The latency sample
  * and engine time are the parts' sums; the items are the first part's.
  * Each part keeps its own operations, so it reports its own named
  * metrics. */
final class Composite(val name: String, parts: Seq[Workload]) extends Workload {
  val opSpan = s"$name.op"
  def nominalOpS: Double = parts.map(_.nominalOpS).sum
  private val partOps = parts.map(_ => scala.collection.mutable.ArrayBuffer.empty[Op])

  def params: Seq[(String, Any)] = parts.flatMap(p => p.params.map { case (k, v) => s"${p.name}.$k" -> v })
  /** The parts set up side by side: their preparations share no state
    * and none of them pins scratch. */
  def prepare(dir: Path): Unit = Workload.inPool(parts.size, parts)(p => p.prepare(dir.resolve(p.name)))
  def warmUp(): Unit = parts.foreach(_.warmUp())
  def runOp(i: Int, tr: Tracer): Op = {
    val ops = tr.op(opSpan, i)(parts.map(_.runOp(i, tr)))
    if (!tr.enabled) ops.zip(partOps).foreach { case (o, buf) => buf += o }
    Op(ops.map(_.latencyS).sum, ops.map(_.engineS).sum, ops.head.items, ops.flatMap(_.failures))
  }
  override def finish(): Seq[(String, Boolean)] = parts.flatMap(_.finish())
  def userMetrics(ops: Seq[Op]): Seq[Metric] =
    parts.zip(partOps).flatMap { case (p, buf) => p.userMetrics(buf.toSeq) }
  /** The parts' own metrics, and the Spark-scheduler figures of each
    * part's operation span under the part's name. */
  def layerMetrics(tr: Tracer, sl: SparkLayers): Seq[Metric] = parts.flatMap(p =>
    p.layerMetrics(tr, sl) ++ sl.forSpan(p.opSpan).metrics.map(m => m.copy(name = s"${p.name}.${m.name}")))
}

object Workload {
  /** Runs `f` over `xs` on a pool of `threads` driver threads and waits
    * for all of them; the first failure propagates. */
  def inPool[A](threads: Int, xs: Seq[A])(f: A => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      Await.result(Future.traverse(xs)(x => Future(f(x))), Duration.Inf)
    } finally pool.shutdown()
  }

  /** Latency metrics `base.mean`, and `base.p50` / `base.p90` each only
    * when at least ten samples lie beyond it. */
  def latencies(base: String, xs: Seq[Double]): Seq[Metric] =
    (if (xs.isEmpty) Nil else Seq(Metric(s"$base.mean", Stats.mean(xs), "s", xs.size))) ++
      Seq(0.5 -> "p50", 0.9 -> "p90").flatMap { case (q, tag) =>
        Stats.percentile(xs, q).map(v => Metric(s"$base.$tag", v, "s", xs.size))
      }

  /** Order-independent content fingerprint of a relation: row count and
    * the sum of per-row 64-bit hashes. */
  def contentHash(df: DataFrame): (Long, BigDecimal) = {
    val r = df.select(count(lit(1)),
      coalesce(sum(xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  def sha256(lines: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Regular files under `dir` (recursively), hidden and marker files
    * excluded, with their sizes and modification times. */
  def files(dir: Path): Seq[(Path, Long, Long)] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot { p => val n = p.getFileName.toString; n.startsWith(".") || n.startsWith("_") }
        .map(p => (p, Files.size(p), Files.getLastModifiedTime(p).toMillis)).toVector
      finally s.close()
    }
}

/** Spark-scheduler figures for one traced phase, computed from the
  * listener's jobs and the tracer's spans. Every job is attributed to
  * the operation span whose interval holds its start. */
final class SparkLayers(spark: SparkSession, tr: Tracer, listener: JobListener, opSpan: String) {
  private val cores = spark.sparkContext.defaultParallelism
  private val ops = tr.recorded.filter(_.name == opSpan)
  private val checks = tr.recorded.filter(_.name == Tracer.CheckSpan)
    .map(c => (tr.toEpochMs(c.start), tr.toEpochMs(c.end)))
  /** Finished engine jobs; the benchmark's own jobs (its call sites, or
    * started inside a check span) are left out. */
  private val jobs = listener.allJobs.filter(j => j.endMs >= 0 && j.module != "bench" &&
    !checks.exists { case (s, e) => j.startMs >= s && j.startMs <= e })

  private def within(startNs: Long, endNs: Long): Seq[JobListener.Job] = {
    val (s, e) = (tr.toEpochMs(startNs), tr.toEpochMs(endNs))
    jobs.filter(j => j.startMs >= s && j.startMs <= e)
  }

  /** Jobs started inside any span called `name`, with that span. */
  def jobsIn(name: String): Seq[(Stats.Span, Seq[JobListener.Job])] =
    tr.recorded.filter(_.name == name).map(s => s -> within(s.start, s.end))

  private def intervals(js: Seq[JobListener.Job]): Seq[(Long, Long)] = js.map(j => (j.startMs, j.endMs))

  /** Mean per span called `name` of the wall covered by jobs of `module`
    * (all modules when None), in seconds. */
  def jobWallS(name: String, module: Option[String] = None): Double = {
    val per = jobsIn(name).map { case (s, js) =>
      val sel = js.filter(j => module.forall(_ == j.module))
      Stats.unionLength(Stats.clip(intervals(sel), tr.toEpochMs(s.start), tr.toEpochMs(s.end))) / 1e3
    }
    Stats.mean(per)
  }

  /** Mean per span called `name` of the span's wall not covered by any
    * engine job, nor by the benchmark's checks inside it. */
  def residualS(name: String): Double = Stats.mean(jobsIn(name).map { case (s, js) =>
    val checked = checks.filter { case (cs, ce) => cs >= tr.toEpochMs(s.start) && ce <= tr.toEpochMs(s.end) }
    Stats.driverResidual(tr.toEpochMs(s.start), tr.toEpochMs(s.end), intervals(js) ++ checked) / 1e3
  })

  /** The same figures with operations delimited by the spans `name`. */
  def forSpan(name: String): SparkLayers = new SparkLayers(spark, tr, listener, name)

  def metrics: Seq[Metric] = {
    val n = ops.size max 1
    val opJobs = jobsIn(opSpan).flatMap(_._2)
    val stages = opJobs.flatMap(_.stageIds).distinct.flatMap(listener.stageOf).filter(_.tasks > 0)
    val taskS = stages.map(_.taskMs).sum / 1e3
    val wall = jobWallS(opSpan)
    Seq(
      Metric("spark.jobs", opJobs.size.toDouble / n, "count", ops.size),
      Metric("spark.stages", stages.size.toDouble / n, "count", ops.size),
      Metric("spark.tasks", stages.map(_.tasks).sum.toDouble / n, "count", ops.size),
      Metric("spark.job_wall_s", wall, "s", ops.size),
      Metric("spark.driver_residual_s", residualS(opSpan), "s", ops.size),
      Metric("spark.task_s", taskS / n, "s", ops.size),
      Metric("spark.core_util", if (wall <= 0) 0.0 else taskS / n / (wall * cores), "ratio", ops.size),
      Metric("spark.single_task_stages", stages.count(_.tasks == 1).toDouble / n, "count", ops.size),
      Metric("spark.shuffle_write_mb", stages.map(_.shuffleWriteBytes).sum / 1048576.0 / n, "MB", ops.size),
      Metric("spark.spill_mb", stages.map(_.spillBytes).sum / 1048576.0 / n, "MB", ops.size),
      Metric("spark.gc_s", stages.map(_.gcMs).sum / 1e3 / n, "s", ops.size),
      Metric("spark.peak_exec_mem_mb",
        (stages.map(_.peakExecMem) :+ 0L).max / 1048576.0, "MB", ops.size))
  }
}
