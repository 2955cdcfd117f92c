package graft.meta

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The run-metadata ledger (SURVEY §1.1, §2.11 Q6-Q7): an append-only
  * JSONL table with size-based rotation, keep-last upsert semantics by
  * `run_id`, and pretty "latest"/"global" projections.
  *
  * Driver-side IO by design: the ledger holds O(1 row) per pipeline run
  * (`tasks/metadata.py`, `utils/paths.py:57-144`) — putting a Spark job in
  * front of a one-line append would be pure overhead at any scale.
  */
object RunLedger {

  /** Rotation knobs ≙ `metadata.py:18-21` (50 MB × 5 backups, keep-last
    * 500 pretty entries). */
  final case class Config(
      maxBytes: Long = 50L * 1024 * 1024,
      maxBackups: Int = 5,
      globalKeepLast: Int = 500)

  private def parent(p: Path): Unit = Option(p.getParent).foreach(Files.createDirectories(_))

  /** K4: append one compact JSON line, rotating first if the file exceeds
    * `maxBytes` (`_rotate_if_big` `metadata.py:76-91`, `_append_jsonl_line`
    * `metadata.py:94-99`). */
  def append(ledgerPath: String, record: JObject, cfg: Config = Config()): Unit = {
    val p = Paths.get(ledgerPath)
    parent(p)
    rotateIfBig(p, cfg)
    val line = JsonMethods.compact(JsonMethods.render(record)) + "\n"
    Files.write(p, line.getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  private def rotateIfBig(p: Path, cfg: Config): Unit = {
    if (!Files.exists(p) || Files.size(p) < cfg.maxBytes) return
    // shift p.(n) → p.(n+1), dropping the oldest (metadata.py:82-90)
    (cfg.maxBackups - 1 to 1 by -1).foreach { i =>
      val src = Paths.get(s"$p.$i")
      if (Files.exists(src))
        Files.move(src, Paths.get(s"$p.${i + 1}"), StandardCopyOption.REPLACE_EXISTING)
    }
    Files.move(p, Paths.get(s"$p.1"), StandardCopyOption.REPLACE_EXISTING)
  }

  /** D3: dedupe JSONL lines by `run_id`, LAST occurrence wins; lines with
    * missing/empty ids are all kept (`_dedupe_jsonl_inplace`,
    * `utils/paths.py:75-96`). In-place rewrite, original order of the
    * surviving lines preserved; blank lines are dropped. The file is left
    * untouched when the rewrite would not change its bytes — the common
    * case, as every run id is fresh — so a long history costs one read
    * and one tokenizer pass per run, not a parse and a rewrite. */
  def dedupeKeepLast(ledgerPath: String): Int = {
    val p = Paths.get(ledgerPath)
    if (!Files.exists(p)) return 0
    // strict decode, as Files.readAllLines: malformed UTF-8 fails loudly
    val text = StandardCharsets.UTF_8.newDecoder()
      .decode(ByteBuffer.wrap(Files.readAllBytes(p))).toString
    val lines = text.lines().iterator().asScala.filter(_.trim.nonEmpty).toVector
    val ids = lines.zipWithIndex.map { case (l, i) =>
      runId(l).getOrElse(s"__idx_$i") // empty/missing id → unique per line (paths.py:87-89)
    }
    val lastIdx = ids.zipWithIndex.toMap
    val kept = lines.indices.collect { case i if lastIdx(ids(i)) == i => lines(i) }
    val out = kept.mkString("", "\n", "\n")
    if (out != text) Files.write(p, out.getBytes(StandardCharsets.UTF_8))
    lines.size - kept.size
  }

  private val jsonFactory = new JsonFactory()

  /** The non-empty string `run_id` of one JSONL record, read with a
    * streaming pass that skips every other value. None — the line is kept
    * as its own key — when the line is not a JSON object, the id is
    * missing, empty, not a string, or given more than once. */
  private def runId(line: String): Option[String] = {
    val parser = jsonFactory.createParser(line)
    try {
      if (parser.nextToken() != JsonToken.START_OBJECT) return None
      var id: Option[String] = None
      var seen = 0
      while (parser.nextToken() == JsonToken.FIELD_NAME) {
        val isId = parser.currentName() == "run_id"
        val value = parser.nextToken()
        if (isId) {
          seen += 1
          id = if (value == JsonToken.VALUE_STRING) Some(parser.getText).filter(_.nonEmpty) else None
        } else parser.skipChildren()
      }
      if (parser.currentToken() == JsonToken.END_OBJECT && seen == 1) id else None
    } catch {
      case _: java.io.IOException => None
    } finally parser.close()
  }

  /** D2: merge a legacy JSONL file into the canonical one (append lines,
    * delete legacy) — `_merge_jsonl`, `utils/paths.py:57-72`. */
  def mergeLegacy(canonicalPath: String, legacyPath: String): Unit = {
    val legacy = Paths.get(legacyPath)
    if (!Files.exists(legacy)) return
    val canonical = Paths.get(canonicalPath)
    parent(canonical)
    val lines = Files.readAllLines(legacy).asScala.filter(_.trim.nonEmpty)
    if (lines.nonEmpty)
      Files.write(canonical, (lines.mkString("\n") + "\n").getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    Files.delete(legacy)
  }

  /** Q7: normalize the meta store — merge known legacy paths (incl. the
    * reference's `runs.josnl` typo artifact) then dedupe keep-last
    * (`normalize_meta_store`, `utils/paths.py:99-144`). */
  def normalize(canonicalPath: String, legacyPaths: Seq[String]): Int = {
    legacyPaths.foreach(mergeLegacy(canonicalPath, _))
    dedupeKeepLast(canonicalPath)
  }

  /** K5a: pretty-printed latest-run JSON (`_write_pretty_single`,
    * `metadata.py:139-142`). */
  def writePrettyLatest(path: String, record: JObject): Unit = {
    val p = Paths.get(path)
    parent(p)
    Files.write(p, JsonMethods.pretty(JsonMethods.render(record)).getBytes("UTF-8"))
  }

  /** K5b: upsert into the global pretty array, truncated keep-last-N
    * (`_upsert_global_pretty_array`, `metadata.py:122-136`). */
  def upsertGlobalPretty(path: String, record: JObject, cfg: Config = Config()): Unit = {
    val p = Paths.get(path)
    parent(p)
    val existing: List[JValue] =
      if (Files.exists(p))
        scala.util.Try(JsonMethods.parse(new String(Files.readAllBytes(p), "UTF-8")))
          .toOption.collect { case JArray(items) => items }.getOrElse(Nil)
      else Nil
    val updated = (existing :+ (record: JValue)).takeRight(cfg.globalKeepLast)
    Files.write(p, JsonMethods.pretty(JsonMethods.render(JArray(updated))).getBytes("UTF-8"))
  }

  /** Read the ledger back as parsed records (for tests / reporting). */
  def read(ledgerPath: String): Seq[JValue] = {
    val p = Paths.get(ledgerPath)
    if (!Files.exists(p)) Nil
    else Files.readAllLines(p).asScala.filter(_.trim.nonEmpty)
      .map(l => JsonMethods.parse(l)).toSeq
  }
}
