package graft

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.JsonNode
import org.scalatest.funsuite.AnyFunSuite

/** The ledger's pure helpers: the stage-interval union (what
  * `uncovered_s` — the driver-stall column — is computed from), the
  * anomaly rule, and the records the shared JSON writer publishes. */
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
    assert(Mains.json("plain") == "\"plain\"")
    assert(Mains.json("a\"b") == "\"a\\\"b\"")
    assert(Mains.json("a\\b") == "\"a\\\\b\"")
    assert(Mains.json("a\nb\tc\rd") == "\"a\\nb\\tc\\rd\"")
    assert(Mains.json("a\u0001b") == "\"a\\u0001b\"")
  }

  private val reader = new com.fasterxml.jackson.databind.ObjectMapper()
  private def fields(n: JsonNode): Set[String] = {
    import scala.jdk.CollectionConverters._
    n.fieldNames().asScala.toSet
  }

  test("writer: strings with tab/CR/newline/quote/backslash/\\u0001 parse back equal") {
    val odd = "a\tb\rc\nd\"e\\f\u0001g"
    val stage = Bench.AnomalyStage(0.0, 1.0, 2.0, 0.5, 4, 1L, 2L, 3L, 0L, 5L, odd)
    val tree = reader.readTree(Mains.json(ListMap(odd -> Seq(stage))))
    assert(tree.get(odd).get(0).get("name").asText() == odd)
    assert(tree.get(odd).get(0).get("sh_rd_mb").asLong() == 2L)
  }

  private def rep(sec: Double, w0: Long) = Bench.Rep(sec, 7L, 100L, 120L, w0,
    w0 + (sec * 1000).toLong, Map("planning" -> 3L, "analysis" -> 12L))
  private val runs = Seq(
    Bench.QueryRun("q01_ok", 1.2345, 0.05, Bench.Telemetry(9L, 40L, 300L),
      Seq(rep(1.2999, 0L), rep(1.2345, 2000L))),
    Bench.QueryRun("q02_broken", -1.0, -1.0, Bench.Telemetry(0L, 40L, 310L), Nil))

  test("Bench detail and summary records: keys, per-rep arrays, errors") {
    val anomaly = Bench.Anomaly(1, 16.0, 1, 10.0, 6.0,
      ListMap("analysis" -> 0.012), 5.0,
      Seq(Bench.AnomalyStage(0.1, 9.9, 30.0, 1.5, 4, 1L, 2L, 3L, 0L, 5L, "s")))
    val (detail, summary) = Bench.records(runs,
      ListMap("q01_ok" -> Seq(anomaly)), 0.51234, 0.6, "sf0.01", "detail.json")
    val d = reader.readTree(Mains.json(detail))
    assert(fields(d) == Set("metric", "value", "unit", "cold_sum",
      "sentinel_start", "sentinel_end", "queries", "spreads", "telemetry",
      "reps", "cache_served", "anomalies", "errors", "sf"))
    assert(d.get("value").asDouble() == 1.2345)
    assert(d.get("cold_sum").asDouble() == 1.3) // first reps, rounded
    assert(d.get("queries").get("q02_broken").asDouble() == -1.0)
    assert(fields(d.get("telemetry").get("q01_ok")) ==
      Set("gc_ms", "code_cache_mb", "heap_mb"))
    val reps = d.get("reps").get("q01_ok")
    assert(reps.isArray && reps.size == 2)
    assert(reps.get(0).isArray && reps.get(0).toString == "[1.3,7,100,120]")
    assert(d.get("reps").get("q02_broken").isArray)
    val a = d.get("anomalies").get("q01_ok").get(0)
    assert(fields(a) == Set("rep", "sec", "n_stages", "stage_covered_s",
      "uncovered_s", "phases_s", "job_gap_s", "stages"))
    assert(fields(a.get("stages").get(0)) == Set("off_s", "dur_s", "run_s",
      "gc_s", "tasks", "in_mb", "sh_rd_mb", "sh_wr_mb", "spill_mb",
      "peak_mb", "name"))
    assert(d.get("errors").toString == "[\"q02_broken\"]")
    val s = reader.readTree(Mains.json(summary))
    assert(fields(s) == Set("metric", "value", "unit", "cold_sum",
      "n_queries", "n_anomalies", "sentinel_start", "sentinel_end", "errors",
      "slowest", "queries_detail", "sf"))
    assert(s.get("n_anomalies").asInt() == 1 && s.get("n_queries").asInt() == 2)
    assert(s.get("sentinel_start").asDouble() == 0.512)
    assert(fields(s.get("slowest")) == Set("q01_ok"))
  }

  test("compact summary stays within 2 KiB with 219 queries and 15 slowest") {
    val all = SparkEntry.registry.map(q => Bench.QueryRun(q.name,
      100.0 + q.name.length + 0.123456, 0.0, Bench.Telemetry(0L, 0L, 0L), Nil))
    assert(all.size == 219)
    val (_, summary) = Bench.records(all, ListMap.empty, 0.5, 0.5,
      "testdata/sf0.1", "BENCH_DETAIL.json")
    val line = Mains.json(summary)
    assert(summary.slowest.size == 15)
    assert(line.getBytes("UTF-8").length <= 2048, s"${line.length} bytes")
  }

  test("anomalous: 5 s and 3x best, or 15 s flat") {
    assert(Bench.anomalous(5.0, 1.0))
    assert(!Bench.anomalous(4.999, 1.0))     // under 5 s
    assert(Bench.anomalous(6.0, 2.0))        // exactly 3x
    assert(!Bench.anomalous(5.9, 2.0))       // under 3x
    assert(!Bench.anomalous(14.999, 5.0))
    assert(Bench.anomalous(15.0, 14.0))      // 15 s trips at any best
    assert(Bench.anomalous(15.0, -1.0))
    assert(!Bench.anomalous(10.0, -1.0))     // no best: only the flat rule
  }
}
