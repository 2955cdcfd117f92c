package perfbench

import java.nio.file.{Path, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

import graft.GraftSession

/** The benchmark's JVM entry point (started by `perfbench/run.py`):
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --run-dir <dir> [--spans-out <file>] [--commit <id>] [--source-hash <h>]
  * perfbench.Main --selftest
  * }}}
  *
  * Set-up, warm-up, then one client runs a fixed number of the workload's
  * operations back to back ([[opsFor]]). With `--trace 1` untraced and
  * traced operations run in pairs on the same input; the traced ones'
  * spans and listener give the per-layer figures. Prints a human report,
  * then one JSON result line last. */
object Main {
  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (args.contains("--selftest")) { SelfTest.run(); return }
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val runDir = Paths.get(a("run-dir"))
    RetryWatch.install()

    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.silenceCheckpointReleaseWarns()
    val sessionS = (System.nanoTime() - t0) / 1e9
    try run(spark, workload, seed, seconds, trace, runDir, sessionS, a)
    finally spark.stop()
  }

  def workloadFor(spark: SparkSession, name: String, seed: Long): Workload = name match {
    case "etl_cycle" => new EtlCycle(spark, seed, largeRows = 6000, smallRows = 600, ledgerHistory = 5000)
    case "corpus_curate" => new CorpusCurate(spark, seed, pages = 4000, fitPerLang = 150)
    case "cdc_replicate" => new CdcReplicate(spark, seed, tableRows = 10000, batchRows = 300,
      shards = 16)
    case "corpus_cdc" => new Composite(name,
      Seq(workloadFor(spark, "corpus_curate", seed), workloadFor(spark, "cdc_replicate", seed)))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Operations per phase for a run of `seconds`: fixed by the workload's
    * nominal operation time, so runs differ in their inputs' content only
    * and never in how much work (and JIT warm-up) they cover. */
  def opsFor(w: Workload, seconds: Double): Int = math.max(1, math.round(seconds / w.nominalOpS).toInt)

  /** Runs `n` operations back to back, operation `k` on input
    * `inputFor(k)` under `tracerFor(k)`; stops early only past `limitS`
    * so a badly regressed build still ends in time. An exception fails
    * its operation and the loop goes on. */
  private def loop(w: Workload, n: Int, limitS: Double, inputFor: Int => Int,
      tracerFor: Int => Tracer): Seq[Op] = {
    val end = System.nanoTime() + (limitS * 1e9).toLong
    val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
    while (ops.isEmpty || (ops.size < n && System.nanoTime() < end)) {
      val i = ops.size
      val t0 = System.nanoTime()
      ops += (try w.runOp(inputFor(i), tracerFor(i)) catch {
        case NonFatal(e) =>
          val s = (System.nanoTime() - t0) / 1e9
          Op(s, s, 0L, Seq(s"op $i threw $e"))
      })
    }
    ops.toSeq
  }

  private def run(spark: SparkSession, name: String, seed: Long, seconds: Double, trace: Boolean,
      runDir: Path, sessionS: Double, a: Map[String, String]): Unit = {
    val w = workloadFor(spark, name, seed)
    val prepS = (0 until SetupRepeats).map { k =>
      val t = System.nanoTime()
      w.prepare(runDir.resolve(s"setup-$k"))
      (System.nanoTime() - t) / 1e9
    }
    (0 until SetupRepeats - 1).foreach(k =>
      org.apache.commons.io.FileUtils.deleteDirectory(runDir.resolve(s"setup-$k").toFile))
    val tw = System.nanoTime()
    w.warmUp()
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = sessionS + Stats.median(prepS) + warmS

    // A timed run measures n untraced operations. A traced run measures n
    // pairs, each an untraced and a traced operation on the same input, so
    // both sample the same inputs and the same stretch of the JIT's
    // warm-up, and their difference is the tracing overhead. Pairs
    // alternate which of the two goes first (untraced, traced, traced,
    // untraced, ...), so the speed-up of a second run on the same input
    // cancels over pairs. The listener is attached only around traced
    // operations.
    val n = opsFor(w, seconds)
    val sc = spark.sparkContext
    val off = new Tracer(false)
    val tr = new Tracer(true)
    val listener = new JobListener
    var attached = false
    def attach(): Unit = if (!attached) { sc.addSparkListener(listener); attached = true }
    def detach(): Unit = if (attached) {
      org.apache.spark.ListenerBusAccess.drain(sc)
      sc.removeSparkListener(listener)
      attached = false
    }
    def isTraced(k: Int): Boolean = trace && (k % 2 != (k / 2) % 2)
    val tm = System.nanoTime()
    val all = if (!trace) loop(w, n, 3 * seconds, k => k, _ => off)
      else loop(w, 2 * n, 6 * seconds, k => k / 2, k =>
        if (isTraced(k)) { attach(); tr } else { detach(); off })
    val ops = all.zipWithIndex.collect { case (o, k) if !isTraced(k) => o }
    val traced: Option[(Seq[Op], Seq[Metric])] =
      if (!trace) None
      else {
        detach()
        val tops = all.zipWithIndex.collect { case (o, k) if isTraced(k) => o }
        val sl = new SparkLayers(spark, tr, listener, w.opSpan)
        a.get("spans-out").foreach(p => tr.dump(Paths.get(p)))
        val overhead = Stats.mean(tops.map(_.latencyS)) / Stats.mean(ops.map(_.latencyS)) - 1
        Some(tops -> (sl.metrics ++ w.layerMetrics(tr, sl) ++ Seq(
          Metric("trace.overhead_ratio", overhead, "ratio", tops.size),
          Metric("trace.spans", tr.recorded.size.toDouble, "count"))))
      }
    val tf = System.nanoTime()
    val finals = w.finish()
    val finishS = (System.nanoTime() - tf) / 1e9
    val rssMb = peakRssMb()

    val failedOps = all.count(_.failures.nonEmpty) + finals.count(!_._2)
    val attempted = all.size + finals.size
    val user = w.userMetrics(ops) ++ Seq(
      Metric("setup_s", setupS, "s", SetupRepeats),
      Metric("ops_failed_ratio", failedOps.toDouble / attempted, "ratio", attempted),
      Metric("peak_rss_mb", rssMb, "MB"))
    // the contract's metrics; peak RSS stays in the report only, its
    // run-to-run spread (12-16%) is too wide for a regression bound
    val contract = Seq(
      Metric("op_s.mean", Stats.mean(ops.map(_.latencyS)), "s", ops.size),
      Metric("items_per_s", ops.map(_.items).sum / ops.map(_.engineS).sum, "items/s", ops.size),
      Metric("setup_s", setupS, "s", SetupRepeats))

    val fp = Seq(
      "commit" -> a.getOrElse("commit", "unknown"), "source_hash" -> a.getOrElse("source-hash", "unknown"),
      "nproc" -> Runtime.getRuntime.availableProcessors(), "master" -> sc.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576, "spark" -> spark.version,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace) ++ w.params
    println("[perfbench] fingerprint " + compact(render(JObject(fp.map { case (k, v) =>
      JField(k, v match {
        case x: Int => JInt(x)
        case x: Long => JInt(x)
        case x: Double => JDouble(x)
        case x: Boolean => JBool(x)
        case x => JString(x.toString)
      })
    }.toList))))
    println(f"[perfbench] $name set-up: session $sessionS%.3f s, prepare ${prepS.map(s => f"$s%.3f").mkString("/")} s, warm-up $warmS%.3f s")
    println(f"[perfbench] $name wall: operations ${(tf - tm) / 1e9}%.3f s, final checks $finishS%.3f s, " +
      f"since JVM start ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.3f s")
    (user ++ traced.map(_._2).getOrElse(Nil)).foreach { m =>
      println(f"[perfbench] $name ${m.name} = ${m.value}%.6g ${m.unit}" + (if (m.n > 0) s" (n=${m.n})" else ""))
    }
    println(s"[perfbench] $name percentiles are printed only with at least 10 samples beyond them " +
      s"(p50: 20 operations, p90: 100); this run measured ${ops.size}")
    println(s"[perfbench] $name op latencies (s): " + ops.map(o => f"${o.latencyS}%.3f").mkString(" "))
    all.flatMap(_.failures).take(20).foreach(f => println(s"[perfbench] $name FAILED: $f"))
    finals.filterNot(_._2).foreach(f => println(s"[perfbench] $name FAILED final check: ${f._1}"))

    // the traced run's per-layer figures; run.py completes them to the
    // contract's list, where a layer this workload does not reach reads 0
    val metrics = traced.map(_._2).getOrElse(contract)
    println(compact(render(("correct" -> (failedOps == 0)) ~ ("attempted" -> attempted) ~
      ("failed" -> failedOps) ~ ("metrics" -> JObject(metrics.map(m =>
        JField(m.name, ("value" -> m.value) ~ ("unit" -> m.unit))).toList)))))
  }

  /** The JVM's peak resident set (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }
}
