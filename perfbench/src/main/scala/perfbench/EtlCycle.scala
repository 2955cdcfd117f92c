package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.meta.RunLedger
import graft.pipeline.Orchestrator

/** The reference's scheduled flow: a cycle of `Orchestrator.run` calls
  * back to back (a `ScheduledRunner` with interval 0), one per object of
  * [[EtlCycle.CycleObjects]], into one long-lived output root whose run
  * ledger already holds a deployment's history. Driver-bound, and the
  * only workload through `pipeline`, `spec`, `ops`, `sinks` and `meta`. */
final class EtlCycle(spark: SparkSession, seed: Long, largeRows: Int, smallRows: Int,
    ledgerHistory: Int) extends Workload {
  import EtlCycle._

  val name = "etl_cycle"
  def opSpan: String = OpSpan
  val nominalOpS = 2.2
  def params: Seq[(String, Any)] = Seq("objects" -> CycleObjects.mkString(","),
    "large_rows" -> largeRows, "small_rows" -> smallRows, "ledger_history" -> ledgerHistory)

  private var objs: Vector[SfGen.Obj] = Vector.empty
  private var inputs: Path = _
  private var base: Path = _
  private var warmBase: Path = _
  private val opts = Orchestrator.RunOptions(limit = None, extractRetryDelayMs = 0L,
    processRetryDelayMs = 0L)
  private var notCompleted = 0L
  private var filesWritten = Seq.empty[(Int, Long)] // per traced op: (files, bytes)

  def prepare(dir: Path): Unit = {
    objs = SfGen.generate(seed, largeRows, smallRows, CycleObjects)
    inputs = dir.resolve("in")
    base = dir.resolve("out")
    warmBase = dir.resolve("warm")
    // the small writes overlap on a few driver threads
    Workload.inPool(4, objs)(o => spark.createDataFrame(java.util.Arrays.asList(o.rows: _*), o.schema)
      .write.parquet(inputs.resolve(o.name).toString))
    // a long-lived deployment's ledger: one line per past run of every
    // registry object, and the pretty projection of the newest ones
    val r = new Random(seed)
    val meta = base.resolve("meta")
    Files.createDirectories(meta)
    val all = graft.spec.SpecRegistry.specs.keys.toVector
    val lines = (0 until ledgerHistory).map(i => SfGen.ledgerLine(r, all(i % all.size), i))
    Files.write(meta.resolve("runs.jsonl"), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    val pretty = lines.takeRight(RunLedger.Config().globalKeepLast).map(JsonMethods.parse(_))
    Files.write(meta.resolve("all_runs_pretty.json"),
      JsonMethods.pretty(JArray(pretty.toList)).getBytes("UTF-8"))
  }

  private def runObject(o: SfGen.Obj, into: Path): Orchestrator.RunReport =
    Orchestrator.run(spark, o.name, spark.read.parquet(inputs.resolve(o.name).toString),
      into.toString, opts)

  /** One run of the smallest object into a separate root, so the
    * measured ledger and drift state see only measured runs. */
  def warmUp(): Unit = runObject(objs.minBy(_.rows.size), warmBase)

  def runOp(i: Int, tr: Tracer): Op = {
    val o = objs(i % objs.size)
    val startMs = System.currentTimeMillis()
    val retries0 = RetryWatch.count
    val t0 = System.nanoTime()
    val report = tr.op(OpSpan, i)(tr.span("pipeline.run")(runObject(o, base)))
    val s = (System.nanoTime() - t0) / 1e9
    val failures = check(o, report) ++
      (if (RetryWatch.count > retries0) Seq(s"${o.name}: [graft retry] during the run") else Nil)
    notCompleted += report.taskStates.count(_._2 != "COMPLETED")
    if (tr.enabled) {
      val fs = Seq("raw", "processed", "output").flatMap(d => Workload.files(base.resolve(d)))
        .filter(_._3 >= startMs)
      filesWritten :+= (fs.size -> fs.map(_._2).sum)
    }
    Op(s, s, o.rows.size.toLong, failures)
  }

  /** The run's own record in the ledger and its JSON artifact against
    * the generator's oracle. */
  private def check(o: SfGen.Obj, report: Orchestrator.RunReport): Seq[String] = {
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    def expect(cond: Boolean, what: => String): Unit = if (!cond) bad += s"${o.name}: $what"
    val states = report.taskStates
    expect(states.size == TaskNames.size && states.values.forall(_ == "COMPLETED"),
      s"task states ${states.toSeq.sorted.mkString(",")}")
    val rec = JsonMethods.parse(lastLine(base.resolve("meta/runs.jsonl")))
    def num(k: String): Long = rec \ k match {
      case JInt(v) => v.toLong
      case _ => -2L
    }
    expect((rec \ "run_id") == JString(report.runId), "last ledger record is not this run")
    expect(num("raw_rows_recounted") == o.rows.size, s"raw_rows_recounted ${num("raw_rows_recounted")} != ${o.rows.size}")
    expect(num("processed_rows_recounted") == num("json_records"),
      s"processed_rows_recounted ${num("processed_rows_recounted")} != json_records ${num("json_records")}")
    expect(num("json_records") == o.groups.size, s"json_records ${num("json_records")} != ${o.groups.size} groups")
    val json = JsonMethods.parse(new String(Files.readAllBytes(java.nio.file.Paths.get(report.outputJson)), "UTF-8"))
    val records = json match { case JArray(xs) => xs; case _ => Nil }
    val byKey = records.map { r =>
      o.spec.groupBy.map(g => r \ g match {
        case JNothing | JNull => None
        case JString(v) => Some(v)
        case v => Some(JsonMethods.compact(v))
      }) -> r
    }.toMap
    expect(byKey.size == records.size, "duplicate group keys in the JSON")
    expect(byKey.keySet == o.groups.keySet, "JSON group keys differ from the oracle's")
    o.groups.foreach { case (k, g) =>
      byKey.get(k).foreach { r =>
        SfGen.expected(o, g).foreach { case (col, want) =>
          val got = r \ col match {
            case JDouble(v) => Some(v)
            case JInt(v) => Some(v.toDouble)
            case JLong(v) => Some(v.toDouble)
            case _ => None
          }
          val ok = (got, want) match {
            case (Some(a), Some(b)) => math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))
            case (None, None) => true
            case _ => false
          }
          expect(ok, s"group $k $col: got $got, want $want")
        }
      }
    }
    bad.toSeq
  }

  def userMetrics(ops: Seq[Op]): Seq[Metric] = {
    val xs = ops.map(_.latencyS)
    Workload.latencies("etl_object_run_s", xs) :+
      Metric("etl_rows_per_s", ops.map(_.items).sum / ops.map(_.engineS).sum, "rows/s", ops.size)
  }

  def layerMetrics(tr: Tracer, sl: SparkLayers): Seq[Metric] = {
    val n = tr.count(OpSpan)
    val meta = base.resolve("meta")
    val ledgerBytes = Seq("runs.jsonl", "all_runs_pretty.json").map(f => Files.size(meta.resolve(f))).sum
    val rewriteBytes = ledgerBytes + Files.size(meta.resolve("latest_run.json"))
    Seq(
      Metric("pipeline.run_s", tr.mean("pipeline.run"), "s", n),
      Metric("pipeline.retries", RetryWatch.count.toDouble, "count", n),
      Metric("pipeline.tasks_not_completed", notCompleted.toDouble, "count", n),
      Metric("sources.job_s", sl.jobWallS(OpSpan, Some("sources")), "s", n),
      Metric("ops.job_s", sl.jobWallS(OpSpan, Some("ops")), "s", n),
      Metric("sinks.job_s", sl.jobWallS(OpSpan, Some("sinks")), "s", n),
      Metric("sinks.files_written", Stats.mean(filesWritten.map(_._1.toDouble)), "count", n),
      Metric("sinks.mb_written", Stats.mean(filesWritten.map(_._2 / 1048576.0)), "MB", n),
      Metric("meta.ledger_kb", ledgerBytes / 1024.0, "KB"),
      Metric("meta.rewrite_kb_per_run", rewriteBytes / 1024.0, "KB"),
      Metric("meta.record_s", recordSeconds(meta), "s", RecordRepeats))
  }

  /** Median time of the orchestrator's ledger writes
    * (`RunLedger.append` → `dedupeKeepLast` → `upsertGlobalPretty`) on a
    * copy of this run's ledger. */
  private def recordSeconds(meta: Path): Double = {
    val copy = Files.createTempDirectory(meta.getParent, "ledger-copy")
    try {
      Seq("runs.jsonl", "all_runs_pretty.json").foreach(f =>
        Files.copy(meta.resolve(f), copy.resolve(f), StandardCopyOption.REPLACE_EXISTING))
      val r = new Random(seed)
      Stats.median((0 until RecordRepeats).map { i =>
        val rec = JsonMethods.parse(SfGen.ledgerLine(r, "Account", i)).asInstanceOf[JObject]
        val t0 = System.nanoTime()
        RunLedger.append(copy.resolve("runs.jsonl").toString, rec)
        RunLedger.dedupeKeepLast(copy.resolve("runs.jsonl").toString)
        RunLedger.upsertGlobalPretty(copy.resolve("all_runs_pretty.json").toString, rec)
        (System.nanoTime() - t0) / 1e9
      })
    } finally org.apache.commons.io.FileUtils.deleteDirectory(copy.toFile)
  }
}

object EtlCycle {
  val OpSpan = "etl.object_run"
  /** One registry object per spec shape, in registry order; operation `i`
    * runs object `i % 7`. Account: three aggregates of one metric, one
    * group-by. Contact: large, an `Id` count, one group-by. Task: large,
    * an `Id` count, two group-bys. Event: the `DurationHours` metric over
    * timestamp columns. Campaign: two metric columns, two group-bys.
    * PricebookEntry: mean and count, two group-bys. OrderItem: large,
    * three metric columns with mixed aggregates. The other sixteen
    * objects repeat one of these shapes. */
  val CycleObjects = Seq("Account", "Contact", "Task", "Event", "Campaign", "PricebookEntry", "OrderItem")
  val RecordRepeats = 5
  val TaskNames = Set("extract", "process", "load_json", "start_gate", "precheck_schema",
    "precheck_nonempty", "dedup", "profile", "snapshot_parquet", "drift")

  /** The last non-empty line of a text file, read from its tail. */
  def lastLine(p: Path): String = {
    val raf = new java.io.RandomAccessFile(p.toFile, "r")
    try {
      val len = raf.length()
      val n = math.min(len, 64L * 1024).toInt
      val buf = new Array[Byte](n)
      raf.seek(len - n)
      raf.readFully(buf)
      new String(buf, "UTF-8").split("\n").filter(_.trim.nonEmpty).last
    } finally raf.close()
  }
}
