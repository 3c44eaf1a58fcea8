package graft

import org.scalatest.funsuite.AnyFunSuite

/** The anomaly recorder's pure helpers: the stage-interval union (what
  * `uncovered_s` — the driver-stall column — is computed from) and the
  * JSON string escaper shared with Verify's oracle_sql.json. */
class BenchInternalsSpec extends AnyFunSuite {

  test("coveredSec unions overlapping, nested, and disjoint intervals") {
    assert(Bench.coveredSec(Nil) == 0.0)
    // disjoint: 1s + 1s
    assert(Bench.coveredSec(Seq((0L, 1000L), (2000L, 3000L))) == 2.0)
    // overlapping: [0,2] ∪ [1,3] = 3s
    assert(Bench.coveredSec(Seq((0L, 2000L), (1000L, 3000L))) == 3.0)
    // nested: [0,4] ⊇ [1,2] = 4s, order-insensitive
    assert(Bench.coveredSec(Seq((1000L, 2000L), (0L, 4000L))) == 4.0)
    // invalid rows (negative submission, done < sub) are dropped
    assert(Bench.coveredSec(Seq((-1L, 500L), (300L, 200L), (0L, 1000L))) == 1.0)
    // touching intervals don't double-count the boundary
    assert(Bench.coveredSec(Seq((0L, 1000L), (1000L, 2000L))) == 2.0)
  }

  test("jsonStr escapes quotes, backslashes, and control chars") {
    assert(Json.str("plain") == "\"plain\"")
    assert(Json.str("a\"b") == "\"a\\\"b\"")
    assert(Json.str("a\\b") == "\"a\\\\b\"")
    assert(Json.str("a\nb\tc\rd") == "\"a\\nb\\tc\\rd\"")
    assert(Json.str("a\u0001b") == "\"a\\u0001b\"")
  }
}
