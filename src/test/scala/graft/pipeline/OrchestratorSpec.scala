package graft.pipeline

import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap

import graft.SparkSpec
import graft.meta.RunLedger
import graft.spec.ObjectSpec

class OrchestratorSpec extends SparkSpec {
  import spark.implicits._

  private def source = Seq(
    ("o1", "OPEN", 10.0), ("o2", "OPEN", 20.0), ("o3", "CLOSED", 5.0),
    ("o3", "CLOSED", 5.0) // duplicate Id for dedup QA
  ).toDF("Id", "Status", "TotalAmount")

  private val orderSpec = ObjectSpec(
    "Order", Seq("Id", "Status", "TotalAmount"), Seq("Id", "Status"),
    Seq("Status"), ListMap("TotalAmount" -> Seq("sum", "mean", "count")))

  test("full DAG: artifacts written, states COMPLETED, ledger appended") {
    val base = Files.createTempDirectory("orch").toString
    val report = Orchestrator.run(spark, "Order", source, base,
      Orchestrator.RunOptions(limit = None, timestampRaw = false),
      specOverride = Some(orderSpec))

    assert(report.rawRows == 4)
    assert(report.processedRows == 2) // OPEN, CLOSED
    assert(report.jsonRecords == 2)
    assert(Files.exists(Paths.get(report.processedCsv)))
    val json = new String(Files.readAllBytes(Paths.get(report.outputJson)), "UTF-8")
    assert(json.trim.startsWith("[") && json.contains("sum_totalamount"))
    assert(report.taskStates.get("extract").contains("COMPLETED"))
    assert(report.taskStates.get("process").contains("COMPLETED"))
    assert(report.taskStates.get("dedup").contains("COMPLETED"))
    assert(report.taskStates.get("drift").contains("COMPLETED"))
    assert(report.qaArtifacts.keySet == Set("dedup", "profile", "snapshot"))

    val ledger = RunLedger.read(s"$base/meta/runs.jsonl")
    assert(ledger.size == 1)

    // second run: drift state now exists, ledger grows, dedupe keeps both ids
    val report2 = Orchestrator.run(spark, "Order", source, base,
      Orchestrator.RunOptions(limit = None, timestampRaw = false),
      specOverride = Some(orderSpec))
    assert(report2.driftAlert.isEmpty) // same rowcount → no drift
    assert(RunLedger.read(s"$base/meta/runs.jsonl").size == 2)
  }

  test("QA failures are advisory by default, strict with failOnQaError") {
    val base = Files.createTempDirectory("orch2").toString
    val badSpec = orderSpec.copy(requiredCols = Seq("Id", "MissingCol"))
    // advisory: pipeline completes despite schema-gate failure
    val report = Orchestrator.run(spark, "Order", source, base,
      Orchestrator.RunOptions(limit = None, timestampRaw = false),
      specOverride = Some(badSpec))
    assert(report.taskStates.get("precheck_schema").contains("FAILED"))
    assert(report.processedRows == 2) // ETL branch unaffected
    // strict: the same failure propagates
    intercept[Exception] {
      Orchestrator.run(spark, "Order", source, base,
        Orchestrator.RunOptions(limit = None, timestampRaw = false, failOnQaError = true),
        specOverride = Some(badSpec))
    }
  }

  test("csv raw hand-off (reference medium, schema re-inferred) matches parquet run") {
    val baseP = Files.createTempDirectory("orchP").toString
    val baseC = Files.createTempDirectory("orchC").toString
    val opts = Orchestrator.RunOptions(limit = None, timestampRaw = false)
    val rp = Orchestrator.run(spark, "Order", source, baseP, opts,
      specOverride = Some(orderSpec))
    val rc = Orchestrator.run(spark, "Order", source, baseC,
      opts.copy(rawFormat = "csv"), specOverride = Some(orderSpec))
    assert(rc.rawRows == rp.rawRows)
    assert(rc.processedRows == rp.processedRows)
    val pJson = new String(Files.readAllBytes(Paths.get(rp.outputJson)), "UTF-8")
    val cJson = new String(Files.readAllBytes(Paths.get(rc.outputJson)), "UTF-8")
    assert(pJson == cJson) // identical summary through either medium
  }

  test("csv hand-off round-trips embedded newlines intact (multiLine read)") {
    val base = Files.createTempDirectory("orchNL").toString
    val tricky = Seq(
      ("o1", "OPEN", 10.0), ("o2", "line1\nline2", 20.0), ("o3", "CLOSED", 5.0)
    ).toDF("Id", "Status", "TotalAmount")
    val report = Orchestrator.run(spark, "Order", tricky, base,
      Orchestrator.RunOptions(limit = None, timestampRaw = false, rawFormat = "csv"),
      specOverride = Some(orderSpec))
    assert(report.rawRows == 3) // NOT 4 — the quoted newline stays one record
    assert(report.processedRows == 3)
  }

  test("invalid rawFormat and non-flat csv schemas fail fast with clear messages") {
    val base = Files.createTempDirectory("orchBad").toString
    val eTypo = intercept[IllegalArgumentException] {
      Orchestrator.run(spark, "Order", source, base,
        Orchestrator.RunOptions(rawFormat = "CSV"), specOverride = Some(orderSpec))
    }
    assert(eTypo.getMessage.contains("rawFormat"))
    val nested = source.withColumn("meta",
      org.apache.spark.sql.functions.struct(org.apache.spark.sql.functions.col("Id")))
    val eNested = intercept[IllegalArgumentException] {
      Orchestrator.run(spark, "Order", nested, base,
        Orchestrator.RunOptions(limit = None, timestampRaw = false, rawFormat = "csv"),
        specOverride = Some(orderSpec.copy(fields = Nil)))
    }
    assert(eNested.getMessage.contains("meta"))
  }

  test("extract cache: input-hash key, TTL freshness, hit skips materialization") {
    val cacheDir = Files.createTempDirectory("xcache").toString
    val key = ExtractCache.keyFor("Account", "Id,Name", "", "100")
    assert(key == ExtractCache.keyFor("Account", "Id,Name", "", "100")) // stable
    assert(key != ExtractCache.keyFor("Account", "Id,Name", "", "200")) // input-sensitive
    var calls = 0
    val (p1, hit1) = ExtractCache.withCache(cacheDir, key) { dir =>
      calls += 1
      Files.write(Paths.get(dir, "data.txt"), "rows".getBytes)
    }
    val (p2, hit2) = ExtractCache.withCache(cacheDir, key) { _ => calls += 1 }
    assert(!hit1 && hit2 && calls == 1 && p1 == p2)
    // expired TTL → recompute
    val (_, hit3) = ExtractCache.withCache(cacheDir, key, ttlMs = 0) { _ => calls += 1 }
    assert(!hit3 && calls == 2)
  }

  test("scheduled runner: N iterations accumulate ledger entries and drift state") {
    val base = Files.createTempDirectory("sched").toString
    val sched = ScheduledRunner.runEvery(spark, "Order", () => source, base,
      intervalMs = 0, iterations = 3,
      Orchestrator.RunOptions(limit = None, timestampRaw = true),
      specOverride = Some(orderSpec))
    assert(sched.runs.size == 3)
    assert(graft.meta.RunLedger.read(s"$base/meta/runs.jsonl").size == 3)
    // drift state existed from run 2 on: same rowcount → no alert
    assert(sched.runs.tail.forall(_.driftAlert.isEmpty))
    // timestamped raw paths: no clobbering across runs (T4)
    assert(sched.runs.map(_.rawPath).distinct.size == 3)
  }

  test("retry runs the body exactly once on success, retries only on real failure") {
    // regression: `return` inside a foreach closure compiles to a
    // NonLocalReturnControl throwable — a broad catch treated every
    // SUCCESS as a failed attempt, silently re-running the body
    // `attempts` times (and sleeping the delays) on every call
    var calls = 0
    assert(Orchestrator.retry(3, 0) { calls += 1; 42 } == 42)
    assert(calls == 1)

    var flaky = 0
    val out = Orchestrator.retry(3, 0) {
      flaky += 1
      if (flaky < 3) sys.error("transient")
      "ok"
    }
    assert(out == "ok" && flaky == 3)

    var always = 0
    val e = intercept[RuntimeException] {
      Orchestrator.retry(2, 0) { always += 1; sys.error("permanent") }
    }
    assert(e.getMessage == "permanent" && always == 2)
  }

  test("Q6: ledger json_records is recounted from the artifact, so tampering shows up") {
    import org.json4s._
    val base = Files.createTempDirectory("orchQ6").toString
    val paths = Orchestrator.buildPaths(base, "Order")
    val report = Orchestrator.run(spark, "Order", source, base,
      Orchestrator.RunOptions(limit = None, timestampRaw = false),
      specOverride = Some(orderSpec))

    def lastCounts(): (BigInt, BigInt) = {
      val JInt(n) = RunLedger.read(paths("runs_jsonl")).last \ "json_records"
      val JInt(l) = RunLedger.read(paths("runs_jsonl")).last \ "json_records_loaded"
      (n, l)
    }
    assert(lastCounts() == ((BigInt(2), BigInt(2)))) // artifact agrees with the load

    // tamper: clobber the JSON artifact down to one record and re-record
    Files.write(Paths.get(report.outputJson), """[{"status":"OPEN"}]""".getBytes("UTF-8"))
    Orchestrator.recordMetadata(spark, report, paths)
    assert(lastCounts() == ((BigInt(1), BigInt(2)))) // recount saw the tamper

    // corrupt: not a JSON array at all → -1 sentinel, not a crash
    Files.write(Paths.get(report.outputJson), "not json".getBytes("UTF-8"))
    Orchestrator.recordMetadata(spark, report, paths)
    assert(lastCounts()._1 == BigInt(-1))
  }

  /** Description of every job `body` launches, in job order. */
  private def jobLabels(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentSkipListMap[Int, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.put(e.jobId, Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    org.apache.spark.ListenerBusAccess.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.ListenerBusAccess.drain(sc)
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    seen.values().asScala.toSeq
  }

  test("every job of a run carries its task's label; the caller's label survives") {
    val base = Files.createTempDirectory("orchLabels").toString
    val sc = spark.sparkContext
    sc.setJobDescription("caller label")
    try {
      val labels = jobLabels(Orchestrator.run(spark, "Order", source, base,
        Orchestrator.RunOptions(limit = None, timestampRaw = false),
        specOverride = Some(orderSpec)))
      val tasks = Set("extract", "process", "load_json", "dedup", "profile",
        "snapshot_parquet", "recordMetadata")
      assert(labels.toSet == tasks, labels)
      assert(sc.getLocalProperty("spark.job.description") == "caller label")
    } finally sc.setJobDescription(null)
  }

  test("job budget: one parquet-mode run of a 4-row source launches 19 jobs") {
    // Counted per task label; a two-stage plan is two jobs under adaptive
    // execution. load_json keeps the reference's schema-inferring re-read
    // of the processed CSV (2 inference jobs + its empty test + the
    // collect); recordMetadata's recounts read the artifacts on disk with
    // known schemas (2 × count). An inference read or a recount added
    // back shows up here.
    val base = Files.createTempDirectory("orchBudget").toString
    val opts = Orchestrator.RunOptions(limit = None, timestampRaw = false)
    Orchestrator.run(spark, "Order", source, base, opts, specOverride = Some(orderSpec))
    val labels = jobLabels(Orchestrator.run(spark, "Order", source, base, opts,
      specOverride = Some(orderSpec)))
    val perTask = labels.groupBy(identity).map { case (k, v) => k -> v.size }
    assert(perTask == Map("extract" -> 1, "process" -> 4, "load_json" -> 4, "dedup" -> 2,
      "profile" -> 3, "snapshot_parquet" -> 1, "recordMetadata" -> 4), perTask)
    assert(labels.size == 19)
  }

  test("an empty extract: gate fails advisory, spec-derived empty summary, zero recounts") {
    import org.json4s._
    Seq("parquet", "csv").foreach { medium =>
      val base = Files.createTempDirectory(s"orchEmpty_$medium").toString
      val report = Orchestrator.run(spark, "Order", source.limit(0), base,
        Orchestrator.RunOptions(limit = None, timestampRaw = false, rawFormat = medium),
        specOverride = Some(orderSpec))
      assert(report.rawRows == 0, medium)
      assert(report.taskStates.get("precheck_nonempty").contains("FAILED"), medium)
      assert(report.taskStates.get("process").contains("COMPLETED"), medium)
      assert(report.processedRows == 0 && report.jsonRecords == 0, medium)
      val rec = RunLedger.read(s"$base/meta/runs.jsonl").last
      assert((rec \ "raw_rows_recounted") == JInt(0), s"$medium: $rec")
      assert((rec \ "processed_rows_recounted") == JInt(0), s"$medium: $rec")
      assert((rec \ "json_records") == JInt(0), s"$medium: $rec")
    }
  }

  test("limit is applied at extract (source-pushed P3)") {
    val base = Files.createTempDirectory("orch3").toString
    val report = Orchestrator.run(spark, "Order", source, base,
      Orchestrator.RunOptions(limit = Some(2), timestampRaw = false),
      specOverride = Some(orderSpec))
    assert(report.rawRows == 2)
  }
}
