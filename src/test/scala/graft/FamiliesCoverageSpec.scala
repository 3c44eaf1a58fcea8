package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** SCALING.md's per-family totals group queries by the hand-kept
  * `FAMILIES` block of tools/scaling_report.py (its only consumer): a
  * query added to the inventory without a family would land in `other`,
  * and one listed twice is counted once, under whichever family comes
  * first — both fail here. */
class FamiliesCoverageSpec extends AnyFunSuite {

  test("every inventory prefix is in exactly one scaling_report family") {
    val path = Paths.get("tools/scaling_report.py")
    assert(Files.exists(path), "tools/scaling_report.py missing")
    val text = Files.readString(path)
    val block = "(?s)\nFAMILIES = \\{(.*?)\n\\}".r.findFirstMatchIn(text)
      .map(_.group(1)).getOrElse(fail("no FAMILIES block"))
    val listed = "\"(q\\d+)\"".r.findAllMatchIn(block).map(_.group(1)).toSeq
    val prefixes = SparkEntry.queries.keySet.map(_.takeWhile(_ != '_'))
    val counts = listed.groupBy(identity).map { case (p, ps) => p -> ps.size }
    val unlisted = prefixes.filterNot(counts.contains)
    val repeated = counts.filter(_._2 > 1).keySet
    assert(unlisted.isEmpty, s"queries in no family (reported as other): $unlisted")
    assert(repeated.isEmpty, s"queries in more than one family: $repeated")
    assert(counts.keySet == prefixes,
      s"families name non-inventory queries: ${counts.keySet -- prefixes}")
  }
}
