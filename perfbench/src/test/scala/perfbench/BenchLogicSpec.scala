package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own logic: the generator and the arithmetic. No Spark. */
class BenchLogicSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  /** Normalize's drop rules, applied independently to one raw document. */
  private def keptByNormalize(json: String): Boolean = {
    val d = mapper.readTree(json)
    val st = d.get("playerStats")
    def num(n: JsonNode, f: String, default: Double): Double =
      Option(n.get(f)).filterNot(_.isNull).map(_.asDouble).getOrElse(default)
    def present(n: JsonNode, f: String) = Option(n.get(f)).exists(!_.isNull)
    present(st, "damageDone") && present(st, "damageTaken") &&
      !(num(st, "deaths", 0) == 0 && num(st, "damageTaken", 0) == 0) &&
      present(d, "utcEndSeconds") && present(d, "mode") &&
      Set("mp", "wz").contains(d.get("gameType").asText) &&
      num(d, "playerCount", -1) > 0 && num(d, "teamCount", -1) > 0 &&
      num(st, "teamPlacement", -1) > 0
  }

  private def sample(seed: Long): (Gen, Seq[Gen.Doc]) = {
    val g = new Gen(seed)
    val docs = g.history(3000) ++ g.burst(400, 0.05) ++ g.burst(400, 0.05)
    (g, docs)
  }

  test("the generator is deterministic per seed") {
    val (g1, a) = sample(7)
    val (g2, b) = sample(7)
    assert(a == b)
    assert(g1.accounts == g2.accounts && g1.expectedKeys == g2.expectedKeys)
    assert(sample(8)._2.map(_.json) != a.map(_.json))
  }

  test("expected keys are exactly the unique keys Normalize keeps") {
    val (g, docs) = sample(3)
    val kept = docs.filter(d => keptByNormalize(d.json)).map(_.key)
    assert(kept.toSet == g.expectedKeys)
    assert(docs.forall(d => d.valid == keptByNormalize(d.json)))
    // every key appears once, apart from re-deliveries of earlier documents
    val fresh = docs.filterNot(_.redelivery)
    assert(fresh.map(_.key).distinct.size == fresh.size)
    docs.zipWithIndex.filter(_._1.redelivery).foreach { case (d, i) =>
      assert(d.valid && docs.take(i).exists(e => !e.redelivery && e.key == d.key))
    }
  }

  test("re-deliveries only repeat documents landed by earlier bursts") {
    val g = new Gen(5)
    val history = g.history(1000)
    val burst = g.burst(400, 0.05)
    val earlier = history.filter(_.valid).map(_.key).toSet
    val re = burst.filter(_.redelivery)
    assert(re.size == 20 && re.forall(d => earlier.contains(d.key)))
  }

  test("file names, shares, accounts and modes follow the contract") {
    val (g, docs) = sample(11)
    val fresh = docs.filterNot(_.redelivery)
    assert(fresh.forall(d => d.fileName == s"match_${d.key._1}_${d.key._2}.json"))
    assert(docs.map(_.fileName).distinct.size == docs.size)
    val invalid = fresh.count(!_.valid).toDouble / fresh.size
    assert(invalid > 0.04 && invalid < 0.08, s"invalid share $invalid")
    assert(g.accounts.groupBy(_.playerId).values.count(_.size == 2) == 3)
    assert(g.accounts.exists(_.isCore) && g.accounts.exists(!_.isCore))
    val modes = fresh.map(d => mapper.readTree(d.json).get("mode").asText).toSet
    assert(Set("br_mini_rebirth", "br_unknown_xyz", "br_new_mode", "br_brsolo").subsetOf(modes))
  }

  test("a non-core player plays about ten times a core player's matches") {
    val g = new Gen(13)
    val docs = g.history(3000)
    val player = g.accounts.map(x => x.uno -> x).toMap
    assert(docs.map(d => player(d.key._2).playerId).toSet.size == Gen.playerNames.size)
    val isCore = docs.map(d => player(d.key._2).isCore)
    val core = isCore.count(identity).toDouble / Gen.corePlayers
    val pro = isCore.count(!_).toDouble / (Gen.playerNames.size - Gen.corePlayers)
    assert(pro / core > 8 && pro / core < 12, s"non-core/core matches ${pro / core}")
  }

  test("interval union: overlapping, nested, disjoint and empty intervals") {
    assert(Stats.unionLength(Nil) == 0)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L))) == 15)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L))) == 10)
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 10L))) == 20)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 6L))) == 0)
    assert(Stats.clip(Seq((0L, 10L), (12L, 20L), (30L, 40L)), 5, 15) == Seq((5L, 10L), (12L, 15L)))
  }

  test("percentiles interpolate like Python's inclusive quantiles") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.percentile(xs, 25) == 1.75)
    assert(Stats.percentile(xs, 100) == 4.0)
    assert(Stats.percentile(Seq(7.0), 90) == 7.0)
  }

  test("ratios and skew") {
    assert(Stats.ratio(3, 4) == 0.75)
    assert(Stats.ratio(3, 0) == 0.0 && Stats.ratio(3, 0, ifZero = 1.0) == 1.0)
    assert(Stats.worstSkew(Seq(Seq(1.0, 1.0, 4.0), Seq(2.0, 2.0))) == 4.0)
    assert(Stats.worstSkew(Nil) == 1.0)
  }

  test("report digest ignores line order, updatedAt and last-digit float noise") {
    val a = Seq("d" -> """{"updatedAt":1700000000000}""", "e" -> """{"kd":0.30000000000000004}""")
    val b = Seq("e" -> """{"kd":0.3}""", "d" -> """{"updatedAt":1800000000000}""")
    assert(Stats.digest(a.iterator) == Stats.digest(b.iterator))
    assert(Stats.digest(a.iterator) != Stats.digest(Seq("d" -> """{"kd":0.3}""").iterator))
    assert(Stats.digest(Seq("x" -> "1").iterator) != Stats.digest(Seq("y" -> "1").iterator))
  }
}
