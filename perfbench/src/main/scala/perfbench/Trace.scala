package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

import perfbench.Stats.Span

/** In-memory span recorder for the traced run. Spans are opened only
  * from the benchmark's own (single) client thread, so a plain stack
  * gives each span its parent; engine work a call fans out to other
  * threads is covered by the span of the call. With `enabled = false`
  * every method is a pass-through and nothing is recorded. */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  private var opId = 0
  /** Offset that maps `System.nanoTime` onto epoch nanoseconds, so span
    * bounds compare with Spark listener event times (epoch ms). */
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  /** One span per operation; `id` is the operation's number. */
  def op[T](name: String, id: Int)(body: => T): T = {
    opId = id
    span(name)(body)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val start = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, opId, name, start, System.nanoTime())
      }
    }

  def recorded: Seq[Span] = spans.toSeq

  def toEpochMs(ns: Long): Long = (ns + epochOffsetNs) / 1000000L

  /** Total and mean duration (s) of the spans called `name`. */
  def total(name: String): Double = spans.filter(_.name == name).map(_.dur).sum / 1e9
  def count(name: String): Int = spans.count(_.name == name)
  def mean(name: String): Double = {
    val n = count(name)
    if (n == 0) 0.0 else total(name) / n
  }

  /** Spans as JSON lines: name, start, end (ns, tracer clock), parent,
    * op id and self time. */
  def dump(path: java.nio.file.Path): Unit = {
    val self = Stats.selfTimes(spans.toSeq)
    val lines = spans.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.opId},"name":"${s.name}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"self_ns":${self(s.id)}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  /** Span around the benchmark's own output checks inside an operation:
    * its time and its jobs are not the engine's. */
  val CheckSpan = "bench.check"
}

/** Spark listener the traced run registers on the benchmark's session.
  * It keeps every job with its interval, its module and its completed
  * stages; attribution to operations is by time, against the spans. */
final class JobListener extends SparkListener {
  import JobListener._

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val resultStage = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
    val module = resultStage.map(s => JobListener.moduleOf(s.details)).getOrElse("other")
    jobs.put(e.jobId, Job(e.jobId, e.time, module, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    agg(e.stageInfo.stageId).tasks = e.stageInfo.numTasks

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = agg(e.stageId)
    val m = e.taskMetrics
    a.synchronized {
      if (e.taskInfo.failed || e.taskInfo.killed) a.failedTasks += 1
      if (m != null) {
        a.taskMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peakExecMem = a.peakExecMem max m.peakExecutionMemory
      }
    }
  }

  private def agg(stageId: Int): StageAgg = stages.computeIfAbsent(stageId, _ => StageAgg())

  def allJobs: Seq[Job] = jobs.values().asScala.toSeq.sortBy(_.id)
  def stageOf(id: Int): Option[StageAgg] = Option(stages.get(id))
}

object JobListener {
  final case class StageAgg(
      var tasks: Int = 0, var taskMs: Long = 0L, var gcMs: Long = 0L,
      var shuffleWriteBytes: Long = 0L, var spillBytes: Long = 0L,
      var peakExecMem: Long = 0L, var failedTasks: Int = 0)
  final case class Job(id: Int, startMs: Long, module: String, stageIds: Seq[Int]) {
    @volatile var endMs: Long = -1L
  }

  /** The engine module that launched a job, read off the first `graft.`
    * frame of its call site: `graft.sinks.Sinks$.csv(...)` is `sinks`,
    * `graft.GraftSession$.pin(...)` is `GraftSession`. Jobs the
    * benchmark itself launches (its output checks) are `bench`. */
  def moduleOf(callSiteLong: String): String = {
    val frames = Option(callSiteLong).getOrElse("").split("\n").map(_.trim)
    frames.find(_.startsWith("graft.")) match {
      case Some(f) =>
        val parts = f.takeWhile(_ != '(').split('.')
        if (parts.length >= 3 && parts(1).headOption.exists(_.isLower)) parts(1)
        else parts(1).takeWhile(_ != '$')
      case None if frames.exists(_.startsWith("perfbench.")) => "bench"
      case None => "other"
    }
  }
}
