package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.operators.SnapshotMerge
import graft.streaming.StreamingOps

/** The write path beside the read path: seeded change batches committed
  * into a sharded snapshot with `SnapshotMerge.upsertSharded`, then a
  * `compactSharded` and a replica caught up with
  * `StreamingOps.replicateSharded` (default per-version drain). One
  * operation is one commit and the compaction and drain after it, so
  * every operation does the same work; the commit is the latency sample,
  * and the time from its return to the drain's is the replica lag. No
  * regex kernels, no ledger. */
final class CdcReplicate(spark: SparkSession, seed: Long, tableRows: Int, batchRows: Int,
    shards: Int) extends Workload {
  import CdcReplicate._

  val name = "cdc_replicate"
  def opSpan: String = OpSpan
  val nominalOpS = 4.0
  def params: Seq[(String, Any)] = Seq("table_rows" -> tableRows, "batch_rows" -> batchRows,
    "shards" -> shards,
    "delete_share" -> CdcGen.DeleteShare, "insert_share" -> CdcGen.InsertShare)

  private var gen: CdcGen = _
  private var src, replica, ckpt: String = _
  private var srcDir: Path = _
  private var commits = 0
  private var version = 0L
  private var lag = new Stats.LagBook
  /** Change rows per committed version not yet covered by a drain. */
  private val undrained = mutable.Map.empty[Long, Long]
  private val drainFailures = mutable.ArrayBuffer.empty[String]
  // traced-phase bookkeeping
  private var attempts = 0
  private val writeAmp = mutable.ArrayBuffer.empty[Double]
  private val drainVersions = mutable.ArrayBuffer.empty[Long]
  private var drainRows = 0L

  private val keys = Seq("k")

  def prepare(dir: Path): Unit = {
    gen = new CdcGen(seed, tableRows, batchRows)
    srcDir = dir.resolve("src")
    src = srcDir.toString
    replica = dir.resolve("replica").toString
    ckpt = dir.resolve("ckpt").toString
    SnapshotMerge.createSharded(spark.createDataFrame(gen.initial().asJava, gen.schema),
      keys, shards, src)
    version = 1L
    commits = 0
    undrained.clear()
    // first contact bootstraps the replica from the full table
    StreamingOps.replicateSharded(spark, src, replica, keys, ckpt)
  }

  /** One operation's work: a commit, compaction and drain. */
  def warmUp(): Unit = {
    val off = new Tracer(false)
    commit(off)
    maintain(off)
    lag = new Stats.LagBook
  }

  private def commit(tr: Tracer): (Double, Seq[String]) = {
    val rows = gen.nextBatch()
    val df = spark.createDataFrame(rows.asJava, gen.batchSchema)
    // write-amplification bookkeeping is the benchmark's, not the engine's
    val before = if (tr.enabled) tr.span(Tracer.CheckSpan)(Workload.files(srcDir).map(_._1).toSet)
      else Set.empty[Path]
    var tries = 0
    val t0 = System.nanoTime()
    val ok = tr.span("operators.merge_upsert")(SnapshotMerge.upsertSharded(df, keys, src,
      deleteCol = Some("del"), commitTag = Some(s"batch_${commits + 1}"),
      onCommitAttempt = () => tries += 1))
    val end = System.nanoTime()
    if (tr.enabled) attempts += tries
    commits += 1
    if (ok) {
      version += 1
      if (!tr.enabled) lag.committed(version, end)
      undrained(version) = rows.size.toLong
    }
    if (tr.enabled) tr.span(Tracer.CheckSpan) {
      val written = Workload.files(srcDir).filterNot(f => before(f._1)).map(_._2).sum
      writeAmp += written.toDouble / math.max(1.0, rows.size * liveBytesPerRow())
    }
    ((end - t0) / 1e9, if (ok) Nil else Seq(s"commit $commits was skipped"))
  }

  private def liveBytesPerRow(): Double = {
    val files = SnapshotMerge.readSharded(spark, src).inputFiles
    val bytes = files.map(f => new java.io.File(new java.net.URI(f)).length()).sum
    bytes.toDouble / math.max(1, gen.oracle.size)
  }

  /** Compaction, then the replica drain. Returns (engine seconds,
    * change rows replicated). */
  private def maintain(tr: Tracer): (Double, Long) = {
    val t0 = System.nanoTime()
    val n = tr.span("operators.merge_compact")(SnapshotMerge.compactSharded(spark, src))
    val compactS = (System.nanoTime() - t0) / 1e9
    if (n > 0) version += 1
    val (drainS, rows) = drain(tr)
    (compactS + drainS, rows)
  }

  /** Catches the replica up and checks it against the source at the
    * drained version. Returns (engine seconds, change rows replicated). */
  private def drain(tr: Tracer): (Double, Long) = {
    val t0 = System.nanoTime()
    val v = tr.span("streaming.drain")(StreamingOps.replicateSharded(spark, src, replica, keys, ckpt))
    val end = System.nanoTime()
    if (!tr.enabled) lag.drained(v, end)
    val rows = undrained.filter(_._1 <= v).values.sum
    val covered = undrained.keys.filter(_ <= v).toSeq
    if (tr.enabled) { drainVersions += covered.size.toLong; drainRows += rows }
    undrained --= covered
    if (v != version) drainFailures += s"replica reflects v$v, source is at v$version"
    val same = tr.span(Tracer.CheckSpan)(Workload.contentHash(SnapshotMerge.readSharded(spark, replica)) ==
      Workload.contentHash(SnapshotMerge.readShardedVersion(spark, src, v)))
    if (!same) drainFailures += s"replica differs from the source at v$v"
    ((end - t0) / 1e9, rows)
  }

  def runOp(i: Int, tr: Tracer): Op = {
    val retries0 = RetryWatch.count
    val failed0 = drainFailures.size
    val (commitS, engine, replicated, fails) = tr.op(OpSpan, i) {
      val (s, f) = commit(tr)
      val (ms, rows) = maintain(tr)
      (s, s + ms, rows, f)
    }
    val bad = fails ++ drainFailures.drop(failed0) ++
      (if (RetryWatch.count > retries0) Seq("[graft retry] during the commit") else Nil)
    Op(commitS, engine, replicated, bad)
  }

  /** The final source against the keep-last oracle built from the
    * batches, row for row. */
  override def finish(): Seq[(String, Boolean)] = {
    val got = SnapshotMerge.readSharded(spark, src).select("k", "grp", "v", "payload").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getString(3)))).toMap
    Seq("final source equals the keep-last oracle" -> (got == gen.oracle.toMap))
  }

  def userMetrics(ops: Seq[Op]): Seq[Metric] =
    Workload.latencies("cdc_commit_s", ops.map(_.latencyS)) ++
      Workload.latencies("cdc_replica_lag_s", lag.samples) :+
      Metric("cdc_rows_per_s", ops.map(_.items).sum / ops.map(_.engineS).sum, "rows/s", ops.size)

  def layerMetrics(tr: Tracer, sl: SparkLayers): Seq[Metric] = {
    val n = tr.count("operators.merge_upsert")
    val live = SnapshotMerge.readSharded(spark, src).inputFiles
    val liveBytes = live.map(f => new java.io.File(new java.net.URI(f)).length()).sum
    val allBytes = Workload.files(srcDir).filter(_._1.toString.endsWith(".parquet")).map(_._2).sum
    val drains = tr.count("streaming.drain")
    val versions = drainVersions.sum.toDouble
    Seq(
      Metric("operators.merge_upsert_s", tr.mean("operators.merge_upsert"), "s", n),
      Metric("operators.merge_residual_s", sl.residualS("operators.merge_upsert"), "s", n),
      Metric("operators.merge_attempts_per_commit", attempts.toDouble / math.max(1, n), "count", n),
      Metric("operators.merge_write_amp", Stats.mean(writeAmp.toSeq), "ratio", n),
      Metric("operators.merge_files_per_shard", live.length.toDouble / shards, "count"),
      Metric("operators.merge_space_amp", allBytes.toDouble / math.max(1L, liveBytes), "ratio"),
      Metric("operators.merge_compact_s", tr.mean("operators.merge_compact"), "s",
        tr.count("operators.merge_compact")),
      Metric("streaming.drain_s", tr.mean("streaming.drain"), "s", drains),
      Metric("streaming.s_per_version", if (versions == 0) 0.0 else tr.total("streaming.drain") / versions, "s", drains),
      Metric("streaming.jobs_per_version",
        if (versions == 0) 0.0 else sl.jobsIn("streaming.drain").map(_._2.size).sum / versions, "count", drains),
      Metric("streaming.change_rows", if (drains == 0) 0.0 else drainRows.toDouble / drains, "rows", drains))
  }
}

object CdcReplicate {
  val OpSpan = "cdc.commit"
}
