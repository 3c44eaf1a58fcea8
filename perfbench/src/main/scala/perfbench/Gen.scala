package perfbench

import scala.collection.mutable

/** Seeded generator of per-(match, player) documents in the cod-stats
  * input contract (FIXTURES.md §1): one JSON document per file, named
  * `match_{matchId}_{unoId}.json`.
  *
  * What it covers, and in what share:
  *  - 10 logical players, 7 core and 3 not; 3 of them play from two
  *    accounts (13 uno ids), so identity merge is exercised;
  *  - the player mix follows SURVEY.md §7.5 item 9 (reference README:66):
  *    non-core players have about [[proSkew]] = 10 times the match count of
  *    a core player. The core players play as one squad (a match takes as
  *    many of them as its team size), each non-core player plays alone
  *    (teammates untracked), and each group plays on its own timeline,
  *    the squad's gaps stretched so the per-player ratio is [[proSkew]];
  *  - modes: the four tracked battle-royale team sizes, a stimulus mode
  *    (`br_mini_rebirth`, gulag forced to 0), an untracked mode and two
  *    modes missing from the dimension (`br_unknown_*`, the audit report);
  *  - [[invalidShare]] of fresh documents break one rule `Normalize` drops
  *    (null damage, disconnect, missing placement, bad game type, missing
  *    end time);
  *  - a burst may re-deliver already landed valid documents under a new
  *    file name (`redeliveryShare`), which the store-key anti-join drops.
  *
  * Only the skew has a source in the repository. The mode weights, the
  * gaps between matches (their 2 h session cut is FIXTURES.md §1's), the
  * invalid share and the re-delivery share are unverified choices.
  *
  * The generator keeps the set of valid, unique (game_id, player_uno_id)
  * keys it has emitted: the fact store must hold exactly that set.
  * Same seed, same calls → same documents, names and keys.
  */
final class Gen(seed: Long) {
  import Gen._

  private val rng = new java.util.SplittableRandom(seed)

  val accounts: Seq[Account] = {
    val used = mutable.Set.empty[String]
    def uno(): String = {
      var u = ""
      while (u.isEmpty || used.contains(u)) u = (1000000L + rng.nextLong(9000000L)).toString
      used += u; u
    }
    playerNames.zipWithIndex.flatMap { case (name, i) =>
      val n = if (twoAccountPlayers.contains(i)) 2 else 1
      Seq.fill(n)(Account(uno(), name, isCore = i < corePlayers))
    }
  }
  private val byPlayer: Seq[Seq[Account]] =
    playerNames.map(p => accounts.filter(_.playerId == p))

  /** The groups that play: the core squad (-1) and each non-core player
    * (their index), each with the end time of its next match. */
  private val nextEnd: mutable.LinkedHashMap[Int, Long] = mutable.LinkedHashMap.from(
    (-1 +: playerNames.indices.filter(_ >= corePlayers)).map(g => g -> (startSeconds + gap(g))))
  private var clock: Long = startSeconds
  private var matchSeq: Long = 0L
  private val matchBase: Long = 100000000000000000L + rng.nextLong(1L << 40) * 1000000L
  private val landedValid = mutable.ArrayBuffer.empty[Doc]
  private val keys = mutable.LinkedHashSet.empty[(String, String)]
  private var redeliveries = 0

  /** Valid, unique keys emitted so far — the fact store's expected key set. */
  def expectedKeys: Set[(String, String)] = keys.toSet

  /** Documents for `validRows` valid fact rows of history (no re-deliveries;
    * invalid documents ride along at [[invalidShare]]). */
  def history(validRows: Int): Seq[Doc] = {
    val out = mutable.ArrayBuffer.empty[Doc]
    var valid = 0
    while (valid < validRows) {
      val m = nextMatch(); out ++= m; valid += m.count(_.valid)
    }
    out.toSeq
  }

  /** One landing burst of about `n` documents: fresh matches plus
    * `redeliveryShare` copies of valid documents emitted before this burst,
    * under new names. */
  def burst(n: Int, redeliveryShare: Double): Seq[Doc] = {
    val earlier = landedValid.size
    val nRe = math.min(earlier, math.round(n * redeliveryShare).toInt)
    val fresh = mutable.ArrayBuffer.empty[Doc]
    while (fresh.size < n - nRe) fresh ++= nextMatch()
    val re = Seq.fill(nRe) {
      val d = landedValid(rng.nextInt(earlier))
      redeliveries += 1
      d.copy(fileName = d.fileName.stripSuffix(".json") + s".redelivered-$redeliveries.json",
        redelivery = true)
    }
    (fresh ++ re).toSeq
  }

  private def pickMode(): Mode = {
    var r = rng.nextDouble() * modes.map(_.weight).sum
    modes.find { m => r -= m.weight; r < 0 }.getOrElse(modes.head)
  }

  /** Seconds to a group's next match: 5-40 min, with a 2-5 h break one
    * time in ten, so per-player gaps straddle the 2 h session cut. The
    * squad's gaps are [[squadGapScale]] times longer. */
  private def gap(group: Int): Long = {
    val g = if (rng.nextInt(10) == 0) 7200 + rng.nextInt(10800) else 300 + rng.nextInt(2100)
    if (group < 0) math.round(g * squadGapScale) else g.toLong
  }

  /** The next match of the group whose match ends first. */
  private def nextMatch(): Seq[Doc] = {
    val (group, end) = nextEnd.minBy { case (g, t) => (t, g) }
    clock = end
    nextEnd(group) = end + gap(group)
    matchSeq += 1
    val matchId = (matchBase + matchSeq).toString
    val mode = pickMode()
    val team =
      if (group < 0) shuffled(0 until corePlayers).take(math.min(mode.teamSize, corePlayers))
      else Seq(group)
    val placement = 1 + rng.nextInt(mode.teams)
    team.map { p =>
      val acct = byPlayer(p)(rng.nextInt(byPlayer(p).size))
      val fault = if (rng.nextDouble() < invalidShare) rng.nextInt(6) else -1
      val json = render(matchId, acct.uno, mode, placement, fault)
      val d = Doc(s"match_${matchId}_${acct.uno}.json", json, (matchId, acct.uno),
        valid = fault < 0, redelivery = false)
      if (d.valid) { keys += d.key; landedValid += d }
      d
    }
  }

  private def shuffled(xs: Seq[Int]): Seq[Int] = {
    val a = xs.toArray
    var i = a.length - 1
    while (i > 0) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toSeq
  }

  /** One document; `fault` >= 0 breaks exactly one rule Normalize drops. */
  private def render(matchId: String, uno: String, mode: Mode, placement: Int,
                     fault: Int): String = {
    val kills = rng.nextInt(13)
    val deaths = rng.nextInt(9)
    val damageDone = 100 * kills + rng.nextInt(1500)
    val damageTaken = 1 + rng.nextInt(2500)
    val gulagKills = rng.nextInt(3)
    val gulagDeaths = rng.nextInt(3)
    val duration = 900 + rng.nextInt(1200)
    val start = clock - duration
    def dec(tenths: Int): String = s"${tenths / 10}.${tenths % 10}"
    val circles = (1 to 6).map(c => s""""objectiveBrDownEnemyCircle$c":${rng.nextInt(3)}""")
      .mkString(",")
    val stats = Seq(
      s""""score":${200 * kills + rng.nextInt(3000)}""",
      s""""scorePerMinute":${dec(rng.nextInt(4000))}""",
      s""""kills":$kills""",
      s""""deaths":${if (fault == 2) 0 else deaths}""",
      s""""damageDone":${if (fault == 0) "null" else damageDone.toString}""",
      s""""damageTaken":${if (fault == 1) "null" else if (fault == 2) "0" else damageTaken.toString}""",
      s""""gulagKills":$gulagKills""",
      s""""gulagDeaths":$gulagDeaths""",
      s""""kdRatio":${dec(10 * kills / math.max(deaths, 1))}""",
      s""""distanceTraveled":${dec(rng.nextInt(900000))}""",
      s""""headshots":${rng.nextInt(math.max(kills, 1))}""",
      s""""objectiveBrCacheOpen":${rng.nextInt(12)}""",
      s""""objectiveReviver":${rng.nextInt(3)}""",
      circles,
      s""""objectiveDestroyedVehicleLight":${rng.nextInt(2)}""",
      s""""objectiveDestroyedVehicleMedium":${rng.nextInt(2)}""",
      s""""objectiveDestroyedVehicleHeavy":${rng.nextInt(2)}""") ++
      (if (fault == 3) Nil else Seq(s""""teamPlacement":$placement"""))
    val end = if (fault == 5) "null" else clock.toString
    val gameType = if (fault == 4) "zm" else "wz"
    s"""{"matchID":"$matchId","utcStartSeconds":$start,"utcEndSeconds":$end,""" +
      s""""gameType":"$gameType","mode":"${mode.id}","playerCount":150,""" +
      s""""teamCount":${mode.teams},"player":{"uno":"$uno"},""" +
      s""""playerStats":{${stats.mkString(",")}}}"""
  }
}

object Gen {
  final case class Account(uno: String, playerId: String, isCore: Boolean)

  /** One landed file: name, content, key, and whether Normalize keeps it. */
  final case class Doc(fileName: String, json: String, key: (String, String),
                       valid: Boolean, redelivery: Boolean)

  final case class Mode(id: String, teamSize: Int, teams: Int, weight: Double)

  val modes: Seq[Mode] = Seq(
    Mode("br_brtrios", 3, 50, 0.34),
    Mode("br_brquads", 4, 38, 0.18),
    Mode("br_brduos", 2, 75, 0.14),
    Mode("br_brsolo", 1, 150, 0.10),
    Mode("br_mini_rebirth", 4, 10, 0.12), // stimulus: gulag forced to 0
    Mode("br_dmz_plunder", 3, 50, 0.07),  // in the dimension, untracked
    Mode("br_unknown_xyz", 2, 40, 0.03),  // missing from the dimension
    Mode("br_new_mode", 3, 30, 0.02))

  val playerNames: Seq[String] = Seq("jimmy", "biffle", "ana", "bo", "cy",
    "dee", "eli", "fay", "gus", "hal")
  val corePlayers = 7
  val twoAccountPlayers: Set[Int] = Set(1, 4, 8)
  val invalidShare = 0.06
  /** Matches of a non-core player per match of a core player (SURVEY.md
    * §7.5 item 9). */
  val proSkew = 10.0
  /** Core players in a squad match, on average over the mode mix. */
  val meanSquadSize: Double =
    modes.map(m => m.weight * math.min(m.teamSize, corePlayers)).sum / modes.map(_.weight).sum
  /** A core player plays a squad match with chance meanSquadSize /
    * corePlayers, so squad gaps this much longer than a non-core player's
    * give that player [[proSkew]] times a core player's matches. */
  val squadGapScale: Double = proSkew * meanSquadSize / corePlayers
  /** 2020-03-01T00:00:00Z: history starts at the first seed season. */
  val startSeconds = 1583020800L
}
