package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.spec.{ObjectSpec, SpecCompiler, SpecRegistry}

/** Seeded input generators. The same seed gives the same inputs; every
  * generator checks the properties it plants and fails loudly when a
  * seed plants nothing, so a workload can never silently measure a
  * degenerate input. [[DefaultSeed]] is the development seed and
  * [[HoldoutSeed]] the named seed kept back to confirm a claim. */
object Gen {
  val DefaultSeed = 1L
  val HoldoutSeed = 7919L

  def planted(cond: Boolean, what: => String): Unit =
    if (!cond) throw new IllegalStateException(s"generator planted nothing: $what")

  private[perfbench] def word(r: Random, n: Int): String = {
    val a = "abcdefghijklmnopqrstuvwxyz"
    val b = new StringBuilder
    (0 until n).foreach(_ => b += a(r.nextInt(a.length)))
    b.toString
  }
}

/** Salesforce-shaped inputs for registry objects, with the plain
  * group-by each aggregate must reproduce. */
object SfGen {
  import Gen._

  /** Per-group oracle: row count, and per metric column the sum and the
    * count of non-null values. */
  final case class Group(var records: Long = 0L,
      sums: mutable.Map[String, Double] = mutable.Map.empty,
      nonNull: mutable.Map[String, Long] = mutable.Map.empty)

  final case class Obj(name: String, spec: ObjectSpec, schema: StructType,
      rows: Vector[Row], dupIds: Int, groups: Map[Seq[Option[String]], Group])

  val NullShare = 0.05
  val DupShare = 0.03
  /** Registry positions of the large objects (Contact, Task, OrderItem);
    * the rest are small. Fixed across seeds. */
  val LargePositions = Set(1, 6, 14)
  val DurationCol = "duration_hours"

  private def isTime(spec: ObjectSpec, f: String): Boolean =
    spec.metrics.contains(ObjectSpec.DurationHours) && (f == "StartDateTime" || f == "EndDateTime")

  def metricCols(spec: ObjectSpec): Seq[String] =
    SpecCompiler.physicalMetricCols(spec).filterNot(_ == "Id")

  /** The named registry objects' inputs; an object's rows depend only on
    * the seed and its registry position, not on which others are named. */
  def generate(seed: Long, largeRows: Int, smallRows: Int, names: Seq[String]): Vector[Obj] = {
    val positions = SpecRegistry.specs.keys.zipWithIndex.toMap
    names.toVector.map { name =>
      val pos = positions(name)
      obj(SpecRegistry(name), new Random(seed * 1000003L + pos), if (LargePositions(pos)) largeRows else smallRows)
    }
  }

  private def obj(spec: ObjectSpec, r: Random, n: Int): Obj = {
    val metrics = metricCols(spec).toSet
    val schema = StructType(spec.fields.map { f =>
      if (metrics(f)) StructField(f, DoubleType)
      else if (isTime(spec, f)) StructField(f, TimestampType)
      else StructField(f, StringType)
    })
    val groups = mutable.Map.empty[Seq[Option[String]], Group]
    val ids = mutable.ArrayBuffer.empty[String]
    var dups = 0
    val rows = Vector.tabulate(n) { i =>
      val id =
        if (ids.nonEmpty && r.nextDouble() < DupShare) { dups += 1; ids(r.nextInt(ids.size)) }
        else { val s = f"${spec.apiName.take(3)}%s${i}%012d"; ids += s; s }
      var start: Option[Long] = None
      val values = spec.fields.map { f =>
        val isNull = f != "Id" && r.nextDouble() < NullShare
        if (f == "Id") id
        else if (metrics(f)) {
          val v = math.round(r.nextDouble() * 100000.0) / 100.0
          if (isNull) null else v
        } else if (isTime(spec, f)) {
          // end follows start by up to 8 hours; second precision
          val t =
            if (f == "StartDateTime") { val s = 1700000000L + r.nextInt(30000000); start = Some(s); s }
            else start.getOrElse(1700000000L) + r.nextInt(8 * 3600)
          if (isNull) { if (f == "StartDateTime") start = None; null }
          else new java.sql.Timestamp(t * 1000L)
        } else if (spec.groupBy.contains(f)) {
          if (isNull) null else s"${f.take(4)}${r.nextInt(if (spec.groupBy.size > 1) 5 else 8)}"
        } else if (isNull) null
        else word(r, 6 + r.nextInt(10))
      }
      val row = Row.fromSeq(values)
      val key = spec.groupBy.map(g => Option(row.get(spec.fields.indexOf(g))).map(_.toString))
      val g = groups.getOrElseUpdate(key, Group())
      g.records += 1
      metrics.foreach { m =>
        val v = row.get(spec.fields.indexOf(m))
        if (v != null) {
          g.sums(m) = g.sums.getOrElse(m, 0.0) + v.asInstanceOf[Double]
          g.nonNull(m) = g.nonNull.getOrElse(m, 0L) + 1
        }
      }
      if (spec.metrics.contains(ObjectSpec.DurationHours)) {
        val s = row.get(spec.fields.indexOf("StartDateTime"))
        val e = row.get(spec.fields.indexOf("EndDateTime"))
        val h =
          if (s == null || e == null) 0.0
          else (e.asInstanceOf[java.sql.Timestamp].getTime - s.asInstanceOf[java.sql.Timestamp].getTime) / 3600000.0
        g.sums(DurationCol) = g.sums.getOrElse(DurationCol, 0.0) + h
        g.nonNull(DurationCol) = g.nonNull.getOrElse(DurationCol, 0L) + 1
      }
      row
    }
    planted(dups > 0, s"${spec.apiName}: no duplicate Ids in $n rows")
    planted(groups.size > 1, s"${spec.apiName}: a single group")
    Obj(spec.apiName, spec, schema, rows, dups, groups.toMap)
  }

  /** The expected JSON record values of one group, by output column. */
  def expected(o: Obj, g: Group): Map[String, Option[Double]] =
    o.spec.metrics.toSeq.flatMap { case (m, ops) =>
      val c = if (m == ObjectSpec.DurationHours) DurationCol else m
      ops.flatMap(op => SpecCompiler.outputName(m, op).map { name =>
        val n = g.nonNull.getOrElse(c, 0L)
        val s = g.sums.getOrElse(c, 0.0)
        name -> (op match {
          case "sum" => Some(s)
          case "mean" => if (n == 0) None else Some(s / n)
          case other => throw new IllegalArgumentException(s"no oracle for op $other")
        })
      })
    }.toMap + ("records" -> Some(g.records.toDouble))

  /** One ledger record shaped like the orchestrator's, for pre-seeding
    * a long-lived deployment's history. */
  def ledgerLine(r: Random, objName: String, i: Int): String = {
    val runId = f"${r.nextInt()}%08x"
    val base = s"out/$objName"
    val sec = f"${i % 60}%02d"
    s"""{"run_id":"$runId","object":"$objName","timestamp":"2026-01-01T00:00:${sec}Z",""" +
      s""""raw_path":"out/raw/${objName}_$runId","processed_csv":"$base/summary.csv",""" +
      s""""output_json":"$base/summary.json","qa_artifacts":{"dedup":"$base/deduplicated.csv",""" +
      s""""profile":"$base/profile.json","snapshot":"$base/snapshot.parquet"},""" +
      s""""task_states":{"extract":"COMPLETED","process":"COMPLETED","load_json":"COMPLETED",""" +
      s""""start_gate":"COMPLETED","precheck_schema":"COMPLETED","precheck_nonempty":"COMPLETED",""" +
      s""""dedup":"COMPLETED","profile":"COMPLETED","snapshot_parquet":"COMPLETED","drift":"COMPLETED"},""" +
      s""""raw_rows_recounted":${1000 + r.nextInt(9000)},"processed_rows_recounted":${1 + r.nextInt(40)},""" +
      s""""json_records":${1 + r.nextInt(40)},"json_records_loaded":${1 + r.nextInt(40)},""" +
      s""""drift_alert":null,"duration_seconds":${2 + r.nextDouble()}}"""
  }
}

/** Crawl pages for the corpus front end: boilerplate navigation and
  * footers, link-dense paragraphs, several languages with their own
  * vocabularies, canonical-URL re-crawls, hosts over the domain cap, and
  * exact-copy and near-duplicate families whose members are known. */
object CrawlGen {
  import Gen._

  final case class Page(id: Long, url: String, html: String)

  /** One batch plus what the generator planted in it. `canon` maps a
    * page to its logical page (shared by every re-crawl of it), `host`
    * to its canonical host, `family` to its copy family (exact copies
    * and near duplicates of one origin); `nearPairs` are the planted
    * near-duplicate pairs. */
  final case class Batch(pages: Vector[Page], lang: Map[Long, String],
      canon: Map[Long, Long], host: Map[Long, String], family: Map[Long, Long],
      nearPairs: Vector[(Long, Long)])

  val Langs = Vector("en", "de", "fr", "es")
  private val LangWeights = Vector(0.6, 0.15, 0.15, 0.1)
  private val Syllables = Map(
    "en" -> Vector("th", "er", "an", "ing", "ed", "ou", "ea", "st", "wh", "ly", "ight", "ow"),
    "de" -> Vector("sch", "ei", "ch", "en", "ung", "ie", "au", "ge", "ber", "tz", "keit", "ä"),
    "fr" -> Vector("eau", "ou", "ai", "on", "que", "ez", "ent", "oi", "eur", "é", "ille", "è"),
    "es" -> Vector("ci", "ón", "ar", "os", "as", "ue", "ll", "ña", "ad", "ía", "ez", "ero"))
  private val Consonants = "bcdfglmnprstv"

  val DomainCap = 8
  val NearJaccardFloor = 0.75

  final class Vocab(r: Random) {
    val words: Map[String, Vector[String]] = Langs.map { l =>
      val syl = Syllables(l)
      l -> Vector.fill(400) {
        (0 until 1 + r.nextInt(3)).map(_ =>
          s"${Consonants(r.nextInt(Consonants.length))}${syl(r.nextInt(syl.size))}").mkString
      }.distinct
    }.toMap
    /** Zipf-like draw: low ranks are frequent. */
    def draw(r: Random, lang: String): String = {
      val ws = words(lang)
      ws((math.pow(r.nextDouble(), 2.5) * ws.size).toInt.min(ws.size - 1))
    }
    def paragraph(r: Random, lang: String, n: Int): Vector[String] =
      Vector.fill(n)(draw(r, lang))
  }

  def vocab(seed: Long): Vocab = new Vocab(new Random(seed * 31L + 7))

  private def pickLang(r: Random): String = {
    val u = r.nextDouble()
    val cum = LangWeights.scanLeft(0.0)(_ + _).tail
    Langs(cum.indexWhere(u < _) max 0)
  }

  private def html(r: Random, host: String, title: String, paras: Seq[Seq[String]]): String = {
    val nav = (1 to 6).map(i => s"""<a href="https://$host/s$i">${title.take(5)}$i</a>""").mkString(" ")
    val body = paras.map(p => s"<p>${p.mkString(" ")}</p>").mkString("\n")
    val linkFarm = (1 to 4).map(i => s"""<a href="https://ads$i.example/x">offer $i now</a>""").mkString(" | ")
    s"""<html><head><title>$title</title><script>var t=${r.nextInt(1000)};</script>""" +
      s"""<style>p{margin:0}</style></head><body><nav>$nav</nav><div class="c">$body</div>""" +
      s"""<div>$linkFarm</div><footer>&copy; 2026 $host</footer></body></html>"""
  }

  /** Word 3-shingle Jaccard of two texts, the engine's dedup unit. */
  def jaccard(a: Seq[String], b: Seq[String]): Double = {
    def sh(ws: Seq[String]) = ws.sliding(3).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    if (x.isEmpty && y.isEmpty) 1.0 else (x intersect y).size.toDouble / (x union y).size
  }

  /** Batch `index`: `n` pages, with ids unique across batches. */
  def batch(seed: Long, index: Int, n: Int, v: Vocab): Batch = {
    val r = new Random(seed * 7919L + index)
    val idBase = (index + 1) * 10000000L
    val hosts = Vector.tabulate(n / 3)(i => s"h$i.site${i % 17}.org")
    val farms = Vector.tabulate(math.max(1, n / 300))(i => s"farm$i.pages.net")
    val pages = mutable.ArrayBuffer.empty[Page]
    val lang = mutable.Map.empty[Long, String]
    val canon = mutable.Map.empty[Long, Long]
    val host = mutable.Map.empty[Long, String]
    val family = mutable.Map.empty[Long, Long]
    val words = mutable.Map.empty[Long, Vector[Vector[String]]]
    val nearPairs = mutable.ArrayBuffer.empty[(Long, Long)]
    val paths = mutable.Map.empty[Long, (String, String)] // logical page -> (host, path)
    val origins = mutable.ArrayBuffer.empty[Long]
    var nextHost = 0
    def freshHost(): String = { val h = hosts(nextHost % hosts.size); nextHost += 1; h }

    def add(h: String, url: String, l: String, paras: Vector[Vector[String]], logical: Option[Long]): Long = {
      val id = idBase + pages.size
      pages += Page(id, url, html(r, h, s"t$id", paras))
      lang(id) = l; host(id) = h; words(id) = paras
      canon(id) = logical.getOrElse(id)
      if (logical.isEmpty) { paths(id) = (h, new java.net.URI(url).getPath); origins += id }
      id
    }
    def freshParas(l: String) =
      Vector.fill(3 + r.nextInt(4))(v.paragraph(r, l, 15 + r.nextInt(30)))

    while (pages.size < n) {
      val u = r.nextDouble()
      if (u < 0.07 && origins.nonEmpty) {
        // re-crawl of an earlier page under a URL variant that
        // canonicalizes to the same address
        val o = origins(r.nextInt(origins.size))
        val (h, path) = paths(o)
        val url = r.nextInt(4) match {
          case 0 => s"https://www.$h$path?utm_source=feed${r.nextInt(9)}"
          case 1 => s"https://${h.toUpperCase}$path/#top"
          case 2 => s"https://$h:443$path?ref=r${r.nextInt(9)}"
          case _ => s"https://$h$path/"
        }
        add(h, url, lang(o), words(o), Some(o))
      } else if (u < 0.12 && origins.nonEmpty) {
        // exact copy of an earlier page's content on another site
        val o = origins(r.nextInt(origins.size))
        val h = freshHost()
        val id = add(h, s"https://$h/copy/${pages.size}", lang(o), words(o), None)
        family(id) = family.getOrElseUpdate(o, o)
      } else if (u < 0.20) {
        // near-duplicate family: an English origin and 2-3 variants with
        // a few words substituted in each
        val h0 = freshHost()
        val base = Vector.fill(5)(v.paragraph(r, "en", 30 + r.nextInt(15)))
        val o = add(h0, s"https://$h0/nd/${pages.size}", "en", base, None)
        family(o) = o
        val members = mutable.ArrayBuffer(o)
        (0 until 2 + r.nextInt(2)).foreach { _ =>
          // exactly two substituted words: each changes at most three
          // shingles, so variant pairs stay well above the LSH threshold
          val edits = Vector.fill(2)((r.nextInt(base.size), r.nextInt(30)))
          val varied = base.zipWithIndex.map { case (p, pi) =>
            p.zipWithIndex.map { case (w, wi) => if (edits.contains((pi, wi))) v.draw(r, "en") + "x" else w }
          }
          val h = freshHost()
          val id = add(h, s"https://$h/nd/${pages.size}", "en", varied, None)
          family(id) = o
          members += id
        }
        for (a <- members; b <- members if a < b) nearPairs += (a -> b)
      } else if (u < 0.27) {
        // a page on a template farm host: many pages per host
        val h = farms(r.nextInt(farms.size))
        val l = pickLang(r)
        add(h, s"https://$h/p/${pages.size}", l, freshParas(l), None)
      } else {
        val h = freshHost()
        val l = pickLang(r)
        add(h, s"https://$h/a/${pages.size}", l, freshParas(l), None)
      }
    }
    val ps = pages.take(n).toVector
    val ids = ps.map(_.id).toSet
    val pairs = nearPairs.filter { case (a, b) => ids(a) && ids(b) }.toVector
    // the planted properties, checked on every seed
    planted(pairs.nonEmpty, s"batch $index: no near-duplicate pairs")
    pairs.foreach { case (a, b) =>
      val j = jaccard(words(a).flatten, words(b).flatten)
      planted(j >= NearJaccardFloor, f"batch $index: planted pair ($a,$b) has Jaccard $j%.3f")
    }
    planted(ps.groupBy(p => canon(p.id)).exists(_._2.size > 1), s"batch $index: no URL collisions")
    planted(ps.groupBy(p => host(p.id)).exists(_._2.size > DomainCap), s"batch $index: domain cap never bites")
    planted(ps.exists(p => family.get(p.id).exists(_ != p.id) && !pairs.exists(pr => pr._2 == p.id)),
      s"batch $index: no exact copies")
    Batch(ps, lang.toMap.filter(e => ids(e._1)), canon.toMap.filter(e => ids(e._1)),
      host.toMap.filter(e => ids(e._1)), family.toMap.filter(e => ids(e._1)), pairs)
  }

  /** Labeled text for the language-id fit. */
  def labeled(seed: Long, perLang: Int, v: Vocab): Vector[(String, String)] = {
    val r = new Random(seed * 131L + 3)
    Langs.flatMap(l => Vector.fill(perLang)(l -> v.paragraph(r, l, 20 + r.nextInt(30)).mkString(" ")))
  }
}

/** Change batches for the CDC workload: inserts, updates and deletes
  * over skewed keys, plus the keep-last oracle built from the batches
  * the generator hands out. */
final class CdcGen(seed: Long, val tableRows: Int, val batchRows: Int) {
  import CdcGen._
  import Gen._

  val schema: StructType = StructType(Seq(
    StructField("k", LongType, nullable = false), StructField("grp", StringType),
    StructField("v", LongType), StructField("payload", StringType)))
  val batchSchema: StructType = schema.add(StructField("del", BooleanType, nullable = false))

  private val r = new Random(seed * 2654435761L + 11)
  /** Live keys; position 0 is the hottest. */
  private val live = mutable.ArrayBuffer.tabulate(tableRows)(_.toLong)
  private val pos = mutable.HashMap.empty[Long, Int] ++= live.indices.map(i => live(i) -> i)
  private var nextKey = tableRows.toLong
  /** The keep-last oracle: key -> (grp, v, payload). */
  val oracle: mutable.HashMap[Long, (String, Long, String)] = mutable.HashMap.empty

  private def payload(): String = word(r, 24)
  private def value(k: Long): (String, Long, String) = (s"g${k % 97}", r.nextLong(), payload())

  def initial(): Vector[Row] = live.toVector.map { k =>
    val t = value(k); oracle(k) = t; Row(k, t._1, t._2, t._3)
  }

  /** Skewed pick: position ~ n·u⁴, so the front of the live set is hot. */
  private def skewed(): Long = live((math.pow(r.nextDouble(), 4) * live.size).toInt.min(live.size - 1))

  private def remove(k: Long): Unit = {
    val i = pos.remove(k).get
    val last = live.remove(live.size - 1)
    if (last != k) { live(i) = last; pos(last) = i }
  }

  /** The next batch; keys are unique within a batch. */
  def nextBatch(): Vector[Row] = {
    val nDel = math.round(batchRows * DeleteShare).toInt
    val nIns = math.round(batchRows * InsertShare).toInt
    val nUpd = batchRows - nDel - nIns
    val used = mutable.HashSet.empty[Long]
    def pickFresh(): Long = { var k = skewed(); while (used(k)) k = skewed(); used += k; k }
    val upd = Vector.fill(nUpd)(pickFresh())
    val del = Vector.fill(nDel)(pickFresh())
    val ins = Vector.fill(nIns) { val k = nextKey; nextKey += 1; k }
    val rows = (upd ++ ins).map { k =>
      val t = value(k); oracle(k) = t; Row(k, t._1, t._2, t._3, false)
    } ++ del.map { k => oracle.remove(k); Row(k, null, null, null, true) }
    del.foreach(remove)
    ins.foreach { k => pos(k) = live.size; live += k }
    val deletes = rows.count(_.getBoolean(4))
    planted(deletes > 0 && math.abs(deletes.toDouble / rows.size - DeleteShare) <= 0.02,
      s"delete share ${deletes.toDouble / rows.size} off target $DeleteShare")
    planted(rows.map(_.getLong(0)).distinct.size == rows.size, "duplicate keys in a batch")
    rows
  }
}

object CdcGen {
  val DeleteShare = 0.10
  val InsertShare = 0.20
}
