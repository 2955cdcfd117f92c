package graft.meta

import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.JsonDSL._
import org.scalatest.funsuite.AnyFunSuite

class RunLedgerSpec extends AnyFunSuite {

  private def tmp() = Files.createTempDirectory("ledger")

  private def rec(id: String, n: Int): JObject =
    ("run_id" -> id) ~ ("n" -> n)

  test("append + read round-trips JSONL records") {
    val p = tmp().resolve("runs.jsonl").toString
    RunLedger.append(p, rec("r1", 1))
    RunLedger.append(p, rec("r2", 2))
    val rows = RunLedger.read(p)
    assert(rows.size == 2)
    assert((rows.head \ "run_id") == JString("r1"))
  }

  test("dedupeKeepLast: last occurrence wins, empty ids all kept") {
    val p = tmp().resolve("runs.jsonl").toString
    RunLedger.append(p, rec("r1", 1))
    RunLedger.append(p, rec("r2", 2))
    RunLedger.append(p, rec("r1", 3)) // supersedes first r1
    RunLedger.append(p, ("n" -> 4): JObject) // no run_id → kept
    RunLedger.append(p, ("run_id" -> "") ~ ("n" -> 5)) // empty id → kept
    val removed = RunLedger.dedupeKeepLast(p)
    assert(removed == 1)
    val rows = RunLedger.read(p)
    assert(rows.size == 4)
    val r1 = rows.find(r => (r \ "run_id") == JString("r1")).get
    assert((r1 \ "n") == JInt(3))
  }

  test("dedupeKeepLast leaves a file with nothing to drop byte-identical, unwritten") {
    val p = tmp().resolve("runs.jsonl")
    val body = """{"run_id":"r1","nested":{"run_id":"r2"},"n":[1,{"x":"y"}]}""" + "\n" +
      """{"n":4}""" + "\n" + """{"run_id":"","n":5}""" + "\n" + """{"run_id":"r2"}""" + "\n"
    Files.write(p, body.getBytes("UTF-8"))
    val epoch = java.nio.file.attribute.FileTime.fromMillis(0L)
    Files.setLastModifiedTime(p, epoch)
    assert(RunLedger.dedupeKeepLast(p.toString) == 0)
    assert(new String(Files.readAllBytes(p), "UTF-8") == body)
    assert(Files.getLastModifiedTime(p) == epoch) // no rewrite happened
  }

  test("dedupeKeepLast still removes blank lines, and only malformed or ambiguous ids are kept") {
    val p = tmp().resolve("runs.jsonl")
    Files.write(p, Seq(
      """{"run_id":"a","n":1}""", "", """{"run_id":"a","n":2}""", "   ",
      """{"run_id":"b","run_id":"b"}""", """{"run_id":"b","run_id":"b"}""", // duplicate key: no id
      """{"run_id":7}""", """{"run_id":7}""", // not a string: no id
      """{"run_id":"c" broken""", """{"run_id":"c" broken""" // not JSON: no id
    ).mkString("\n").getBytes("UTF-8"))
    assert(RunLedger.dedupeKeepLast(p.toString) == 1)
    assert(new String(Files.readAllBytes(p), "UTF-8") == Seq(
      """{"run_id":"a","n":2}""",
      """{"run_id":"b","run_id":"b"}""", """{"run_id":"b","run_id":"b"}""",
      """{"run_id":7}""", """{"run_id":7}""",
      """{"run_id":"c" broken""", """{"run_id":"c" broken""").mkString("", "\n", "\n"))
  }

  test("rotation shifts backups at size threshold") {
    val dir = tmp()
    val p = dir.resolve("runs.jsonl").toString
    val small = RunLedger.Config(maxBytes = 50, maxBackups = 2)
    (1 to 10).foreach(i => RunLedger.append(p, rec(s"r$i", i), small))
    assert(Files.exists(Paths.get(s"$p.1"))) // rotated at least once
    assert(RunLedger.read(p).nonEmpty)
  }

  test("mergeLegacy appends lines and deletes the legacy file") {
    val dir = tmp()
    val canonical = dir.resolve("runs.jsonl").toString
    val legacy = dir.resolve("runs.josnl").toString // the reference's typo file
    RunLedger.append(canonical, rec("a", 1))
    RunLedger.append(legacy, rec("b", 2))
    RunLedger.normalize(canonical, Seq(legacy))
    assert(!Files.exists(Paths.get(legacy)))
    assert(RunLedger.read(canonical).size == 2)
  }

  test("upsertGlobalPretty truncates keep-last-N") {
    val p = tmp().resolve("all.json").toString
    val cfg = RunLedger.Config(globalKeepLast = 3)
    (1 to 5).foreach(i => RunLedger.upsertGlobalPretty(p, rec(s"r$i", i), cfg))
    val arr = org.json4s.jackson.JsonMethods.parse(
      new String(Files.readAllBytes(Paths.get(p)), "UTF-8")).asInstanceOf[JArray]
    assert(arr.arr.size == 3)
    assert((arr.arr.head \ "run_id") == JString("r3"))
  }
}
