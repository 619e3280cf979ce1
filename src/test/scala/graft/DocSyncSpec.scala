package graft

import org.scalatest.funsuite.AnyFunSuite

/** Kills the doc-drift class mechanically (r13 AND r14 verdicts both
  * flagged a stale inventory count — in BASELINE.md both times): the
  * counts written into SURVEY.md's totals line and BASELINE.md's
  * extrapolation line must equal the live `SparkEntry` maps, or this
  * spec fails the build. Parsing is anchored to the exact phrases the
  * docs use; if a doc is reworded such that the anchor disappears, the
  * spec fails too (a count nobody can find is as stale as a wrong one).
  */
class DocSyncSpec extends AnyFunSuite {

  private def read(p: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
      java.nio.charset.StandardCharsets.UTF_8)

  private val declared = SparkEntry.queries.size
  private val oracled = SparkEntry.oracleSql.size

  test("SURVEY.md inventory totals line matches SparkEntry") {
    val text = read("SURVEY.md")
    val re = ("""\*\*Inventory totals: (\d+) declared queries\*\* """ +
      """\((\d+) with DuckDB oracle, (\d+)\s*\nno-oracle""").r
    val m = re.findFirstMatchIn(text).getOrElse(
      fail("SURVEY.md totals line not found — keep the " +
        "'Inventory totals: N declared queries' phrasing this spec anchors on"))
    assert(m.group(1).toInt === declared,
      s"SURVEY.md declares ${m.group(1)} queries; SparkEntry has $declared")
    assert(m.group(2).toInt === oracled,
      s"SURVEY.md declares ${m.group(2)} oracled; SparkEntry has $oracled")
    assert(m.group(3).toInt === declared - oracled,
      s"SURVEY.md declares ${m.group(3)} no-oracle; " +
        s"SparkEntry has ${declared - oracled}")
  }

  test("BASELINE.md extrapolation line matches SparkEntry") {
    val text = read("BASELINE.md")
    val re = """inventory has grown to (\d+) queries""".r
    val m = re.findFirstMatchIn(text).getOrElse(
      fail("BASELINE.md count line not found — keep the " +
        "'inventory has grown to N queries' phrasing this spec anchors on"))
    assert(m.group(1).toInt === declared,
      s"BASELINE.md says ${m.group(1)} queries; SparkEntry has $declared")
  }

  test("README.md surface counts match SparkEntry") {
    val text = read("README.md")
    val m = """## Surface \((\d+) declared queries""".r
      .findFirstMatchIn(text).getOrElse(fail(
        "README.md surface line not found — keep the " +
          "'## Surface (N declared queries' phrasing this spec anchors on"))
    assert(m.group(1).toInt === declared,
      s"README.md says ${m.group(1)} declared; SparkEntry has $declared")
    val o = """\((\d+) oracle queries""".r.findFirstMatchIn(text)
      .getOrElse(fail("README.md oracle-count line not found"))
    assert(o.group(1).toInt === oracled,
      s"README.md says ${o.group(1)} oracled; SparkEntry has $oracled")
    val n = """(\d+) further keys are engine-specific no-oracle""".r
      .findFirstMatchIn(text)
      .getOrElse(fail("README.md no-oracle count line not found"))
    assert(n.group(1).toInt === declared - oracled,
      s"README.md says ${n.group(1)} no-oracle; " +
        s"SparkEntry has ${declared - oracled}")
  }

  test("README.md TPC-H shape count matches the declared q-keys") {
    // r19 shipped the five supply-analog keys but README kept claiming
    // "17 composites" (r19 verdict item 2) — pin the sentence the same
    // way the inventory counts are pinned. Shapes = the q<N>_ keys plus
    // Q1, which is declared as agg_pricing_summary.
    val text = read("README.md")
    val m = """All (\d+) TPC-H query shapes are declared keys""".r
      .findFirstMatchIn(text).getOrElse(fail(
        "README.md TPC-H line not found — keep the " +
          "'All N TPC-H query shapes are declared keys' phrasing"))
    val qKeys = SparkEntry.queries.keySet.count(_.matches("q\\d+_.*"))
    assert(SparkEntry.queries.contains("agg_pricing_summary"))
    assert(m.group(1).toInt === qKeys + 1,
      s"README.md says ${m.group(1)} TPC-H shapes; " +
        s"SparkEntry has $qKeys q-keys + agg_pricing_summary")
  }

  test("every oracle key is a declared query (no orphan oracles)") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("no key is declared in two modules (Map ++ silently overrides)") {
    // SparkEntry builds its maps by ++ over the per-module maps, where a
    // duplicate key silently drops one side's definition — worse, the
    // QUERY can win from one module while the ORACLE wins from another,
    // and the gate then compares two different operators (caught live in
    // r18 when a re-added agg_funnel shadowed the r12 original's query
    // but not its oracle). Any intersection across modules fails here.
    val modules = SparkEntry.modules.map { case (m, qs, _) => m -> qs.keySet }
    val clashes = for {
      Seq((ma, ka), (mb, kb)) <- modules.combinations(2).toSeq
      k <- (ka & kb).toSeq
    } yield s"$k ($ma vs $mb)"
    assert(clashes.isEmpty, s"duplicate keys across modules: $clashes")
    // and the total must equal the concatenation. This cannot see a
    // within-module duplicate (two -> entries in one Map literal): that
    // Map has already collapsed it before any count is taken.
    assert(SparkEntry.queries.size === modules.map(_._2.size).sum,
      "module key counts do not sum to the declared inventory")
  }
}
