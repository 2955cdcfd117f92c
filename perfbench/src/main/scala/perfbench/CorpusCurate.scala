package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftSession
import graft.functions.TextNormalize
import graft.operators.{Curation, HtmlExtract, LangIdNb, TextDedup, UrlCuration}

/** The crawl-to-corpus front end, one batch per operation inside
  * `GraftSession.releasingScratch`: URL screens, main-content
  * extraction and cleanup, language id, quality and exact dedup, then
  * MinHash LSH near-duplicate removal; no ledger, sink or merge work.
  * Each stage's output is pinned, so stage boundaries are the same in
  * timed and traced runs. One batch is generated; the warm-up and every
  * operation curate it, so each operation's result is also checked
  * against the warm-up's. */
final class CorpusCurate(spark: SparkSession, seed: Long, pages: Int, fitPerLang: Int)
    extends Workload {
  import CorpusCurate._

  val name = "corpus_curate"
  def opSpan: String = OpSpan
  val nominalOpS = 7.0
  def params: Seq[(String, Any)] = Seq("pages_per_batch" -> pages, "domain_cap" -> CrawlGen.DomainCap, "langid_fit_docs_per_lang" -> fitPerLang,
    "lsh_threshold" -> LshThreshold)

  private var batch: CrawlGen.Batch = _
  private var path: String = _
  private var model: LangIdNb.Model = _
  private var warmHash: String = _
  private val cfg = Curation.Config(keepLangs = Set("en"))
  // traced-phase bookkeeping
  private var recallFound = 0L
  private var recallEligible = 0L
  private val survivorRatios = mutable.ArrayBuffer.empty[Double]
  private val releaseS = mutable.ArrayBuffer.empty[Double]
  private var pinnedPeakMb = 0.0
  private var leaked = 0L

  def prepare(dir: Path): Unit = {
    val v = CrawlGen.vocab(seed)
    batch = CrawlGen.batch(seed, 0, pages, v)
    path = dir.resolve("pages").toString
    spark.createDataFrame(batch.pages.map(pg => Row(pg.id, pg.url, pg.html)).asJava, PageSchema)
      .write.parquet(path)
    val labeled = spark.createDataFrame(
      CrawlGen.labeled(seed, fitPerLang, v).map { case (l, t) => Row(l, t) }.asJava,
      StructType(Seq(StructField("lang", StringType), StructField("text", StringType))))
    model = LangIdNb.fit(labeled, "lang", "text")
  }

  def warmUp(): Unit = warmHash = hashOf(curate(new Tracer(false)))

  private def pin(tr: Tracer, df: DataFrame): DataFrame = {
    val p = GraftSession.pin(df)
    if (tr.enabled) pinnedPeakMb = pinnedPeakMb max
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
    p
  }

  /** Outcome of one batch: its survivors (id, text md5), the LSH input
    * ids and the near-duplicate components, and the timing split. */
  private final case class Result(survivors: Array[(Long, String)], lshInput: Set[Long],
      comps: Map[Long, Long], engineS: Double, releaseS: Double)

  private def hashOf(res: Result): String =
    Workload.sha256(res.survivors.sortBy(_._1).map { case (id, h) => s"$id:$h" })

  private def curate(tr: Tracer): Result = {
    val pre = spark.sparkContext.getPersistentRDDs.keySet
    val t0 = System.nanoTime()
    var bodyEnd = 0L
    var checkS = 0.0
    var out: Result = null
    GraftSession.releasingScratch(spark) {
      val in = spark.read.parquet(path)
      val screened = tr.span("operators.url_screen")(pin(tr,
        UrlCuration.domainCap(UrlCuration.dedupByUrl(in, "id", "url"), "id", "url",
          CrawlGen.DomainCap).select("id", "html")))
      val text = tr.span("operators.extract_clean")(pin(tr,
        HtmlExtract.extractMainContent(screened, "id", "html")
          .select(col("id"), TextNormalize.cleanText(col("text")).as("text"))))
      val lang = tr.span("operators.langid")(pin(tr,
        LangIdNb.predict(text, "text", model).select("id", "text", "pred_lang")))
      val exact = tr.span("operators.exact_dedup")(pin(tr,
        Curation.filterAndExactDedupWithLang(lang, "id", "text", "pred_lang", cfg)
          .select("id", "text")))
      val pairs = tr.span("operators.lsh")(pin(tr,
        TextDedup.minhashLsh(exact, "id", "text", threshold = LshThreshold,
          maxBucketSize = cfg.maxBucketSize)))
      val comps = tr.span("operators.components")(pin(tr, TextDedup.connectedComponents(pairs)))
      val survivors = tr.span("operators.survivors")(
        exact.join(comps.filter(col("node") =!= col("component")).select(col("node").as("id")),
          Seq("id"), "left_anti")
          .select(col("id"), md5(col("text"))).collect().map(r => (r.getLong(0), r.getString(1))))
      // what the checks need, collected outside the timed part
      val c0 = System.nanoTime()
      val (lshIn, cm) = tr.span(Tracer.CheckSpan)((
        exact.select("id").collect().map(_.getLong(0)).toSet,
        comps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap))
      checkS = (System.nanoTime() - c0) / 1e9
      out = Result(survivors, lshIn, cm, 0, 0)
      bodyEnd = System.nanoTime()
    }
    val end = System.nanoTime()
    if (tr.enabled) leaked += (spark.sparkContext.getPersistentRDDs.keySet -- pre).size
    out.copy(engineS = (end - t0) / 1e9 - checkS, releaseS = (end - bodyEnd) / 1e9)
  }

  def runOp(i: Int, tr: Tracer): Op = {
    val retries0 = RetryWatch.count
    val res = tr.op(OpSpan, i)(curate(tr))
    val g = batch
    val bad = mutable.ArrayBuffer.empty[String]
    def expect(cond: Boolean, what: => String): Unit = if (!cond) bad += s"batch op $i: $what"
    val ids = res.survivors.map(_._1)
    val input = g.pages.map(_.id).toSet
    expect(ids.forall(input), "a survivor is not an input page")
    expect(ids.distinct.length == ids.length, "a page survives twice")
    expect(ids.groupBy(g.canon).forall(_._2.length == 1), "two survivors share a canonical URL")
    expect(ids.groupBy(g.host).forall(_._2.length <= CrawlGen.DomainCap), "a domain exceeds the cap")
    expect(ids.filter(g.family.contains).groupBy(g.family).forall(_._2.length == 1),
      "a planted copy family keeps more than one survivor")
    val eligible = g.nearPairs.filter { case (a, c) => res.lshInput(a) && res.lshInput(c) }
    val found = eligible.count { case (a, c) => res.comps.get(a).exists(res.comps.get(c).contains) }
    expect(eligible.isEmpty || found.toDouble / eligible.size >= MinRecall,
      s"near-duplicate recall $found/${eligible.size} below $MinRecall")
    expect(hashOf(res) == warmHash, "result hash differs from the warm-up's")
    if (RetryWatch.count > retries0) bad += s"batch op $i: [graft retry] during the batch"
    if (tr.enabled) {
      recallFound += found
      recallEligible += eligible.size
      survivorRatios += ids.length.toDouble / g.pages.size
      releaseS += res.releaseS
    }
    Op(res.engineS, res.engineS, g.pages.size.toLong, bad.toSeq)
  }

  def userMetrics(ops: Seq[Op]): Seq[Metric] =
    Workload.latencies("corpus_batch_s", ops.map(_.latencyS)) :+
      Metric("corpus_pages_per_s", ops.map(_.items).sum / ops.map(_.engineS).sum, "pages/s", ops.size)

  def layerMetrics(tr: Tracer, sl: SparkLayers): Seq[Metric] = {
    val n = tr.count(OpSpan)
    Seq(
      Metric("operators.url_screen_s", tr.mean("operators.url_screen"), "s", n),
      Metric("operators.extract_clean_s", tr.mean("operators.extract_clean"), "s", n),
      Metric("operators.langid_s", tr.mean("operators.langid"), "s", n),
      Metric("operators.exact_dedup_s", tr.mean("operators.exact_dedup"), "s", n),
      Metric("operators.lsh_s", tr.mean("operators.lsh"), "s", n),
      Metric("operators.components_s", tr.mean("operators.components"), "s", n),
      Metric("operators.survivor_ratio", Stats.mean(survivorRatios.toSeq), "ratio", n),
      Metric("operators.neardup_recall",
        if (recallEligible == 0) 0.0 else recallFound.toDouble / recallEligible, "ratio", n),
      Metric("functions.extract_clean_rows_per_s", extractCleanRowsPerS(), "rows/s", ExtractRepeats),
      Metric("GraftSession.pin_s", sl.jobWallS(OpSpan, Some("GraftSession")), "s", n),
      Metric("GraftSession.release_s", Stats.mean(releaseS.toSeq), "s", n),
      Metric("GraftSession.pinned_mb_peak", pinnedPeakMb, "MB", n),
      Metric("GraftSession.leaked_rdds", leaked.toDouble, "count", n))
  }

  /** The extract + clean kernels alone: a noop-sink pass over a pinned
    * batch, median of a few repeats, in rows per second. */
  private def extractCleanRowsPerS(): Double = GraftSession.releasingScratch(spark) {
    val in = GraftSession.pin(spark.read.parquet(path))
    val rows = in.count()
    Stats.median((0 until ExtractRepeats).map { _ =>
      val t0 = System.nanoTime()
      HtmlExtract.extractMainContent(in, "id", "html")
        .select(col("id"), TextNormalize.cleanText(col("text")).as("text"))
        .write.format("noop").mode("overwrite").save()
      rows / ((System.nanoTime() - t0) / 1e9)
    })
  }
}

object CorpusCurate {
  val OpSpan = "corpus.batch"
  val LshThreshold = 0.7
  val MinRecall = 0.9
  val ExtractRepeats = 3
  val PageSchema: StructType = StructType(Seq(StructField("id", LongType, nullable = false),
    StructField("url", StringType), StructField("html", StringType)))
}
