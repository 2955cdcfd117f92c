package graft.pipeline

import java.util.UUID
import java.time.format.DateTimeFormatter
import java.time.{ZoneOffset, ZonedDateTime}
import java.util.concurrent.Executors

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types.StructType
import org.json4s.JsonDSL._
import org.json4s._

import graft.meta.RunLedger
import graft.ops._
import graft.sinks.Sinks
import graft.sources.Scan
import graft.spec.{ObjectSpec, SpecRegistry}

/** The pipeline DAG (SURVEY §2.12 ≙ `flows/sf_etl_orchestrator_flow.py:85-250`):
  *
  * {{{
  * extract (once)
  *   ├─ ETL branch (sequential): process → load_json           [strict]
  *   └─ QA branch (parallel):
  *        start_gate → {schema, nonempty}
  *        → {dedup, profile, parquet snapshot}  gated on BOTH prechecks
  *        → drift(rows from nonempty)                          [advisory]
  * }}}
  *
  * The extract result is materialized once and shared by both branches
  * (the reference's DAG-level common-subexpression reuse, `Readme.md:27`);
  * branch parallelism uses driver `Future`s over the shared session —
  * Spark's scheduler interleaves the jobs. Error policy is two-tier:
  * ETL failures always raise, QA failures are advisory unless
  * `failOnQaError` (`flow:91,163-171`).
  *
  * Spark jobs of one parquet-mode object run, each labelled with its
  * task's name (the job description), and the reference contract that
  * keeps each one (a two-stage query is two jobs under adaptive
  * execution):
  *  - `extract`: the raw write (`extract.py:99`); it counts its own rows,
  *    and that count is the non-empty gate's, the drift check's and the
  *    aggregate's empty test (`quality_parallel.py:54-73,159-189`,
  *    `process.py:76-87`). The read-back supplies the written schema.
  *  - `process`: the aggregate and its single-file CSV (`process.py:110`).
  *  - `load_json`: the schema-inferring re-read of the processed CSV, its
  *    empty test and the records collect (`load.py:62-84` — the types
  *    are the inferred ones, as the reference's).
  *  - `dedup`: the keep-first CSV (`quality_parallel.py:76-101`).
  *  - `profile`: one frequency-table query (`quality_parallel.py:105-140`).
  *  - `snapshot_parquet`: the parquet snapshot (`quality_parallel.py:143-156`).
  *  - `recordMetadata`: the raw and processed recounts from disk, read with
  *    known schemas (`metadata.py:195-197`).
  *
  * The schema gate and drift launch none. With `rawFormat = "csv"` the
  * raw read-back and its recount keep schema inference: that is the
  * reference's typing (`process.py:72`).
  */
object Orchestrator {

  final case class RunOptions(
      limit: Option[Int] = Some(100),
      timestampRaw: Boolean = true,
      failOnQaError: Boolean = false,
      driftThreshold: Double = 0.5,
      dedupKey: String = "Id",
      qaParallelism: Int = 8,
      /** Raw hand-off format: `"parquet"` (typed, the scale default) or
        * `"csv"` — the reference's medium, schema re-INFERRED on read
        * (`pl.read_csv`, `tasks/process.py:72`), exercising the engine's
        * schema tolerance exactly as the reference does. */
      rawFormat: String = "parquet",
      /** Retry back-offs. Defaults are the reference's task decorators:
        * extract = 3 attempts × 10 s (`extract.py:61-62`), process (and
        * the QA tasks, which share its policy) = 2 × 5 s
        * (`process.py:56`). Tests override to 0 to stay fast. */
      extractRetryDelayMs: Long = 10000L,
      processRetryDelayMs: Long = 5000L)

  final case class RunReport(
      objectName: String,
      runId: String,
      rawPath: String,
      processedCsv: String,
      outputJson: String,
      qaArtifacts: Map[String, String],
      taskStates: Map[String, String],
      driftAlert: Option[String],
      rawRows: Long,
      processedRows: Long,
      jsonRecords: Long,
      durationSeconds: Double,
      /** Schemas of the raw hand-off and the processed summary, so the
        * ledger's recounts read them without inferring either. */
      rawSchema: StructType,
      processedSchema: StructType)

  /** Simple bounded retry (≙ Prefect task retries, `extract.py:61-62`,
    * `process.py:56`). */
  def retry[T](attempts: Int, delayMs: Long)(body: => T): T = {
    // A while loop, NOT a foreach closure: `return` inside a lambda is
    // compiled to a NonLocalReturnControl throwable, which a broad catch
    // treats as a FAILED attempt — every call then runs its body
    // `attempts` times and sleeps the whole delay schedule even on
    // success (latent since round 1; surfaced when delays became the
    // reference's 10 s/5 s). NonFatal also keeps control-flow and fatal
    // throwables out of the retry path by construction.
    val n = math.max(attempts, 1)
    var last: Throwable = null
    var i = 0
    while (i < n) {
      try return body
      catch {
        case scala.util.control.NonFatal(e) =>
          last = e
          // a retried-then-successful attempt is otherwise invisible
          // (the task still reports COMPLETED) — surface it
          System.err.println(s"[graft retry] attempt ${i + 1}/$n failed: $e")
          if (i < n - 1 && delayMs > 0) Thread.sleep(delayMs)
      }
      i += 1
    }
    throw last
  }

  /** Artifact path registry for one run (≙ `utils/paths.py:15-52`). */
  def buildPaths(baseDir: String, objectName: String): Map[String, String] = Map(
    "raw" -> s"$baseDir/raw/$objectName",
    "processed_csv" -> s"$baseDir/processed/$objectName/summary.csv",
    "output_json" -> s"$baseDir/output/$objectName/summary.json",
    "dedup_csv" -> s"$baseDir/output/$objectName/deduplicated.csv",
    "profile_json" -> s"$baseDir/output/$objectName/profile.json",
    "parquet_snapshot" -> s"$baseDir/output/$objectName/snapshot.parquet",
    "rowcount_txt" -> s"$baseDir/output/$objectName/rowcount.txt",
    "schema_report" -> s"$baseDir/output/$objectName/schema_report.json",
    "runs_jsonl" -> s"$baseDir/meta/runs.jsonl",
    "latest_json" -> s"$baseDir/meta/latest_run.json",
    "global_json" -> s"$baseDir/meta/all_runs_pretty.json")

  /** Timestamped raw path + 8-char run id — clobber-safe concurrent
    * writes (T4 ≙ `flow:30-47`). */
  private def timestampedRaw(base: String, runId: String): String = {
    val ts = ZonedDateTime.now(ZoneOffset.UTC)
      .format(DateTimeFormatter.ofPattern("yyyyMMdd-HHmmss"))
    s"${base}_${ts}_$runId"
  }

  /** Runs the full DAG for one object over a source relation.
    *
    * @param source  the "remote relation" standing in for Salesforce —
    *                typically `Scan.table(spark, sfDir, table)`.
    */
  def run(
      spark: SparkSession,
      objectName: String,
      source: DataFrame,
      baseDir: String,
      opts: RunOptions = RunOptions(),
      specOverride: Option[ObjectSpec] = None): RunReport = {

    val t0 = System.nanoTime()
    require(Set("parquet", "csv")(opts.rawFormat),
      s"rawFormat must be 'parquet' or 'csv', got '${opts.rawFormat}'")
    val spec = specOverride.getOrElse(SpecRegistry(objectName))
    val runId = UUID.randomUUID().toString.take(8)
    val paths = buildPaths(baseDir, objectName)
    val rawPath =
      if (opts.timestampRaw) timestampedRaw(paths("raw"), runId) else paths("raw")

    val states = scala.collection.concurrent.TrieMap.empty[String, String]
    def recordState[T](name: String)(body: => T): T =
      Try(labelled(spark, name)(body)) match {
        case Success(v) => states(name) = "COMPLETED"; v
        case Failure(e) => states(name) = "FAILED"; throw e
      }

    // ---- extract once (S1-S4; retried 3×10s ≙ extract.py:61-62) ----
    val (raw, rawRows) = recordState("extract") {
      val scanned = Scan.specScan(source, spec, opts.limit)
      if (opts.rawFormat == "csv") {
        // fail fast (outside the retry — deterministic) on schemas the
        // CSV writer cannot represent
        import org.apache.spark.sql.types.{ArrayType, MapType, NullType, StructType}
        val complex = scanned.schema.fields.collect {
          case f if f.dataType.isInstanceOf[StructType] || f.dataType.isInstanceOf[ArrayType] ||
            f.dataType.isInstanceOf[MapType] || f.dataType == NullType => f.name
        }
        require(complex.isEmpty,
          s"rawFormat=csv supports flat schemas only; non-atomic columns: ${complex.mkString(", ")}")
      }
      retry(3, opts.extractRetryDelayMs) {
        // raw materialization: the file hand-off both branches read back.
        // The write counts its own rows — the count the gate, the drift
        // check and the aggregate's empty test need; an Observation
        // completes once, so each attempt gets its own.
        val written = Observation("raw_rows")
        def counted(df: DataFrame) = df.observe(written, count(lit(1)).as("rows"))
        val readBack =
          if (opts.rawFormat == "csv") {
            Sinks.csv(counted(Normalize.temporalsToString(scanned)), rawPath)
            Scan.csv(spark, rawPath, scanned.schema)
          } else {
            Sinks.parquetSnappy(counted(scanned), rawPath)
            spark.read.schema(scanned.schema).parquet(rawPath)
          }
        (readBack, written.get("rows").asInstanceOf[Long])
      }
    }

    // ---- ETL branch (strict; process retried 2×5s ≙ process.py:56) ----
    val etl: Future[(Long, StructType)] = Future {
      val processed = recordState("process") {
        retry(2, opts.processRetryDelayMs) {
          val out =
            if (rawRows == 0) SpecAggregate.emptyOutput(spark, spec)
            else SpecAggregate.aggregate(spec, raw)
          Sinks.csv(out, paths("processed_csv"), singleFile = true)
          out
        }
      }
      val n = recordState("load_json") {
        // the reference's load task re-reads the PROCESSED CSV from disk
        // (`load_csv_to_json`, tasks/load.py:62) — keep that file
        // contract: the JSON is built from the materialized artifact,
        // not the in-memory frame
        val fromDisk = Scan.csv(spark, paths("processed_csv"), processed.schema)
        Sinks.jsonRecords(fromDisk, paths("output_json"))
      }
      // processed row count == JSON record count by construction (same
      // artifact, just collected) — don't relaunch the aggregate job
      (n, processed.schema)
    }(etlEc)

    // ---- QA branch (advisory; ≙ flow:145-157) ----
    // Worker pool for the QA tasks; the COORDINATING future runs on
    // etlEc (which blocks in Await) — putting it on qaEc would deadlock
    // at qaParallelism=1: the coordinator would hold the only thread the
    // inner futures need.
    val qaEc = ExecutionContext.fromExecutorService(
      Executors.newFixedThreadPool(math.max(opts.qaParallelism, 1), daemonFactory))
    val qa: Future[(Map[String, Try[String]], Option[String])] = Future {
      states("start_gate") = "COMPLETED" // Q1: no-op barrier
      val schemaF = Future(recordState("precheck_schema") {
        val report = Gates.schemaGate(raw, spec.requiredCols)
        Sinks.textScalar(
          org.json4s.jackson.JsonMethods.pretty(
            ("columns_present" -> report.columnsPresent) ~ ("missing" -> report.missing)),
          paths("schema_report"))
        report
      })(qaEc)
      val nonEmptyF = Future(recordState("precheck_nonempty") {
        Gates.nonEmptyGate(rawRows)
      })(qaEc)
      val schema = Await.result(schemaF, Duration.Inf)
      val rows = Await.result(nonEmptyF, Duration.Inf)
      require(schema.ok)

      val dedupF = Future(recordState("dedup") {
        retry(2, opts.processRetryDelayMs) {
          val deduped =
            if (raw.columns.contains(opts.dedupKey))
              Dedup.keepFirst(raw, Seq(opts.dedupKey),
                raw.columns.filterNot(_ == opts.dedupKey).map(col).toSeq)
            else raw
          Sinks.csv(Normalize.temporalsToString(deduped), paths("dedup_csv"), singleFile = true)
          paths("dedup_csv")
        }
      })(qaEc)
      val profileF = Future(recordState("profile") {
        retry(2, opts.processRetryDelayMs) {
          val profiles = Profile.profile(raw)
          val json = JArray(profiles.map { p =>
            ("column" -> p.name) ~ ("dtype" -> p.dtype) ~
              ("null_count" -> p.nullCount) ~ ("n_unique" -> p.nUnique) ~
              ("top_values" -> JArray(p.topValues.map { case (v, c) =>
                ("value" -> Option(v)) ~ ("count" -> c): JValue
              }.toList))
          }.toList)
          Sinks.textScalar(org.json4s.jackson.JsonMethods.pretty(json), paths("profile_json"))
          paths("profile_json")
        }
      })(qaEc)
      val snapshotF = Future(recordState("snapshot_parquet") {
        retry(2, opts.processRetryDelayMs) {
          Sinks.parquetSnappy(raw, paths("parquet_snapshot"))
          paths("parquet_snapshot")
        }
      })(qaEc)

      val results = Map(
        "dedup" -> Try(Await.result(dedupF, Duration.Inf)),
        "profile" -> Try(Await.result(profileF, Duration.Inf)),
        "snapshot" -> Try(Await.result(snapshotF, Duration.Inf)))

      val drift = recordState("drift") {
        Drift.checkRowcountDrift(rows, paths("rowcount_txt"), opts.driftThreshold)
      }
      (results, drift.alert)
    }(etlEc)

    // ---- collect with two-tier strictness (flow:162-171) ----
    val (processedRows, processedSchema, qaResults, driftAlert) =
      try {
        val (p, ps) = Await.result(etl, Duration.Inf) // strict: propagate
        val (qr, da) = Try(Await.result(qa, Duration.Inf)) match {
          case Success(v) => v
          case Failure(e) if !opts.failOnQaError => (Map.empty[String, Try[String]], None)
          case Failure(e) => throw e
        }
        if (opts.failOnQaError)
          qr.collect { case (k, Failure(e)) => throw e }
        (p, ps, qr, da)
      } finally qaEc.shutdown()

    val durationS = (System.nanoTime() - t0) / 1e9
    val report = RunReport(
      objectName, runId, rawPath, paths("processed_csv"), paths("output_json"),
      qaResults.collect { case (k, Success(p)) => k -> p },
      states.toMap, driftAlert, rawRows, processedRows, processedRows, durationS,
      raw.schema, processedSchema)

    recordMetadata(spark, report, paths, opts.rawFormat)
    report
  }

  /** Daemon threads: the pools must never pin the JVM open after main
    * completes (a non-daemon leftover pool hangs `runMain` forever).
    * They inherit no thread-locals: Spark's local properties (job
    * description, job group) are inheritable, and a pool thread would
    * otherwise keep the first submitter's copy for every later run. */
  private val daemonFactory: java.util.concurrent.ThreadFactory =
    (r: Runnable) => {
      val t = new Thread(null, r, "graft-orchestrator", 0L, false)
      t.setDaemon(true)
      t
    }

  private val JobDescription = "spark.job.description"

  /** Runs `body` with its Spark jobs labelled `label` (the job
    * description, a property of the calling thread), then restores the
    * thread's previous label. */
  private def labelled[T](spark: SparkSession, label: String)(body: => T): T = {
    val sc = spark.sparkContext
    val previous = sc.getLocalProperty(JobDescription)
    sc.setLocalProperty(JobDescription, label)
    try body
    finally sc.setLocalProperty(JobDescription, previous)
  }

  private lazy val etlEc: ExecutionContext =
    ExecutionContext.fromExecutorService(Executors.newFixedThreadPool(2, daemonFactory))

  /** Q6: run-metadata recorder — payload with params, artifact paths,
    * RE-counted artifact rows (`metadata.py:195-197`), task states and
    * timing; appended to the JSONL ledger + pretty projections, then the
    * store is normalized (Q7). All three counts come from the artifacts
    * on disk, not from in-memory return values — a corrupted or
    * clobbered file shows up as a count mismatch in the ledger, exactly
    * as the reference's `_safe_count_json` does
    * (`tasks/metadata.py:35-42,195-197`). */
  def recordMetadata(
      spark: SparkSession, report: RunReport, paths: Map[String, String],
      rawFormat: String = "parquet"): Unit = labelled(spark, "recordMetadata") {
    def safeCount(f: => Long): Long = Try(f).getOrElse(-1L)
    val rawCount =
      if (rawFormat == "csv")
        safeCount(spark.read.option("header", "true").option("multiLine", "true")
          .csv(report.rawPath).count())
      else safeCount(spark.read.schema(report.rawSchema).parquet(report.rawPath).count())
    // multiLine here too: a quoted embedded newline in a group-key value
    // must count as one row, consistent with the raw recount and Scan.csv.
    val processedCount = safeCount(
      spark.read.schema(report.processedSchema)
        .option("header", "true").option("multiLine", "true")
        .csv(report.processedCsv).count())
    // The JSON artifact is a single records ARRAY (K2) — aggregate-sized
    // by construction, so a driver parse is O(groups), not a data path.
    val jsonCount = safeCount {
      val txt = java.nio.file.Files.readString(
        java.nio.file.Paths.get(report.outputJson))
      org.json4s.jackson.JsonMethods.parse(txt) match {
        case JArray(xs) => xs.length.toLong
        case _ => -1L
      }
    }

    val record: JObject =
      ("run_id" -> report.runId) ~
        ("object" -> report.objectName) ~
        ("timestamp" -> java.time.Instant.now().toString) ~
        ("raw_path" -> report.rawPath) ~
        ("processed_csv" -> report.processedCsv) ~
        ("output_json" -> report.outputJson) ~
        ("qa_artifacts" -> report.qaArtifacts) ~
        ("task_states" -> report.taskStates) ~
        ("raw_rows_recounted" -> rawCount) ~
        ("processed_rows_recounted" -> processedCount) ~
        ("json_records" -> jsonCount) ~
        ("json_records_loaded" -> report.jsonRecords) ~
        ("drift_alert" -> report.driftAlert) ~
        ("duration_seconds" -> report.durationSeconds)

    RunLedger.append(paths("runs_jsonl"), record)
    RunLedger.writePrettyLatest(paths("latest_json"), record)
    RunLedger.upsertGlobalPretty(paths("global_json"), record)
    RunLedger.dedupeKeepLast(paths("runs_jsonl"))
  }
}
