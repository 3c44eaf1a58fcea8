package graft.codstats

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec
import Model._

/** Golden end-to-end test of the match-stats domain pipeline: a small
  * synthetic corpus exercises the business rules the reference encodes —
  * gulag truth table, stimulus zeroing, quality filters, sessionization
  * gap, team keys, leaderboards, season rollup guards, unknown-mode audit
  * (SURVEY.md §5 consequence list). */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def doc(matchId: String, uno: String, endSec: Long, mode: String = "br_brtrios",
                  kills: Double = 5, deaths: Double = 2, damageDone: Double = 1000,
                  damageTaken: java.lang.Double = 500.0, gulagKills: Double = 0,
                  gulagDeaths: Double = 0, placement: Double = 3, teams: Int = 30): String = {
    val dt = if (damageTaken == null) "null" else damageTaken.toString
    s"""{"matchID":"$matchId","utcStartSeconds":${endSec - 1200},"utcEndSeconds":$endSec,
       |"gameType":"wz","mode":"$mode","playerCount":150,"teamCount":$teams,
       |"player":{"uno":"$uno"},
       |"playerStats":{"score":3000,"scorePerMinute":150.0,"kills":$kills,
       |"deaths":$deaths,"damageDone":$damageDone,"damageTaken":$dt,
       |"gulagKills":$gulagKills,"gulagDeaths":$gulagDeaths,
       |"teamPlacement":$placement,"kdRatio":${kills / math.max(deaths, 1)},
       |"distanceTraveled":4000.5,"headshots":2,
       |"objectiveBrCacheOpen":3,"objectiveReviver":1,
       |"objectiveBrDownEnemyCircle1":2,"objectiveBrDownEnemyCircle2":1,
       |"objectiveBrDownEnemyCircle3":0,"objectiveBrDownEnemyCircle4":0,
       |"objectiveBrDownEnemyCircle5":0,"objectiveBrDownEnemyCircle6":0,
       |"objectiveDestroyedVehicleLight":1,"objectiveDestroyedVehicleMedium":0,
       |"objectiveDestroyedVehicleHeavy":0}}""".stripMargin.replaceAll("\n", "")
  }

  private val t0 = 1590000000L // 2020-05-20T...Z, inside season s1

  private lazy val ctx: Pipeline.Context = {
    val docs = Seq(
      // alice: two games 10 min apart (one session), then one 3h later (new session)
      doc("m1", "uno-alice", t0, kills = 9, gulagKills = 2),          // monster + multi-gulag-kill
      doc("m2", "uno-alice", t0 + 600, kills = 0, gulagDeaths = 3),   // gooseegg + multi-gulag-death
      doc("m3", "uno-alice", t0 + 600 + 3 * 3600, kills = 4, placement = 1),
      // bob shares m1 with alice (team of 2)
      doc("m1", "uno-bob", t0, kills = 3, deaths = 0),
      doc("m2", "uno-bob", t0 + 600, kills = 1, placement = 30), // last of 30 teams
      // stimulus mode game: gulag must zero out; mode not tracked -> excluded from statsWz
      doc("m4", "uno-alice", t0 + 7200, mode = "br_mini_rebirth", gulagKills = 1),
      // unknown mode -> audit
      doc("m5", "uno-alice", t0 + 9000, mode = "br_new_mode"),
      // quality-filtered: deaths=0 AND damageTaken=0 (disconnect)
      doc("m6", "uno-bob", t0 + 9600, deaths = 0, damageTaken = 0.0),
      // quality-filtered: null damageTaken
      doc("m7", "uno-bob", t0 + 9900, damageTaken = null),
      // non-core player: excluded from leaderboards but present in teams
      doc("m3", "uno-carol", t0 + 600 + 3 * 3600, kills = 11, placement = 1))
    val raw = docs.toDF("json")
    val players = Seq(
      Player("uno-alice", "alice", is_core = true),
      Player("uno-bob", "bob", is_core = true),
      Player("uno-carol", "carol", is_core = false)).toDS()
    val modes = seedGameModes.toDS()
    val seasons = seedSeasons
      .map { case (id, a, b) => Season(id,
        java.sql.Timestamp.from(java.time.Instant.parse(a)),
        java.sql.Timestamp.from(java.time.Instant.parse(b))) }.toDS()
    Pipeline.fromRawJson(spark, raw, players, modes, seasons)
  }

  test("quality filters drop disconnects and null-damage rows") {
    val ids = ctx.valid.select("game_id", "player_uno_id").as[(String, String)]
      .collect().toSet
    assert(!ids.contains(("m6", "uno-bob")) && !ids.contains(("m7", "uno-bob")))
    assert(ids.size == 8) // 10 docs - 2 filtered
  }

  test("CHECK-constraint rows drop like INSERT OR IGNORE (placement/teams/mode)") {
    // parse_matches.sh:68-83: game_mode IN (mp,wz), numberOfPlayers/
    // numberOfTeams/teamPlacement > 0 — violating rows never ingest.
    val ok       = doc("c1", "uno-alice", t0)
    val noPlace  = doc("c2", "uno-alice", t0)
      .replace("\"teamPlacement\":3.0", "\"teamPlacement\":null")
    val noTeams  = doc("c3", "uno-alice", t0)
      .replace("\"teamCount\":30", "\"teamCount\":null")
    val badMode  = doc("c4", "uno-alice", t0)
      .replace("\"gameType\":\"wz\"", "\"gameType\":\"menu\"")
    // NOT NULL columns without an ifnull() default in the reference INSERT:
    // null utcEndSeconds / null mode rows are skipped, not defaulted
    val noEnd    = doc("c5", "uno-alice", t0)
      .replace(s"\"utcEndSeconds\":$t0", "\"utcEndSeconds\":null")
    val noMode   = doc("c6", "uno-alice", t0)
      .replace("\"mode\":\"br_brtrios\"", "\"mode\":null")
    assert(noPlace != doc("c2", "uno-alice", t0) &&
           noTeams != doc("c3", "uno-alice", t0) &&
           badMode != doc("c4", "uno-alice", t0) &&
           noEnd   != doc("c5", "uno-alice", t0) &&
           noMode  != doc("c6", "uno-alice", t0)) // guard against format drift
    val valid = Normalize.validGames(
      Normalize.parse(Seq(ok, noPlace, noTeams, badMode, noEnd, noMode).toDF("json")),
      seedGameModes.toDS())
    assert(valid.select("game_id").as[String].collect().toSet == Set("c1"))
  }

  test("gulag truth table: multi-kill/death clamp to 1; stimulus zeroes") {
    val g = ctx.valid.filter(col("player_uno_id") === "uno-alice")
      .select("game_id", "gulag_kills", "gulag_deaths")
      .as[(String, Double, Double)].collect()
      .map { case (k, a, b) => k -> ((a, b)) }.toMap
    assert(g("m1") == ((1.0, 0.0))) // gulagKills=2 -> (1,0)
    assert(g("m2") == ((0.0, 1.0))) // gulagDeaths=3 -> (0,1)
    assert(g("m4") == ((0.0, 0.0))) // stimulus mode forces (0,0)
  }

  test("derived folds: downs = sum of circle fields") {
    val downs = ctx.valid.filter(col("game_id") === "m1" &&
      col("player_uno_id") === "uno-alice").select("downs").as[Double].head()
    assert(downs == 3.0)
  }

  test("statsWz keeps only tracked wz modes for known players") {
    val modes = ctx.stats.select("game_mode_sub").distinct().as[String].collect().toSet
    assert(modes == Set("br_brtrios")) // stimulus + unknown modes excluded
  }

  test("sessionization: 2h gap splits alice's games into two sessions") {
    val s = Reports.sessions(ctx.stats).filter(col("player_id") === "alice")
      .orderBy("session_seq")
      .select("session_seq", "n_games", "wins").as[(Long, Long, Long)].collect().toSeq
    assert(s == Seq((1L, 2L), (2L, 1L)).map { case (a, b) => (a, b, if (a == 2) 1L else 0L) })
  }

  test("leaderboards: core players only, correct winner per metric") {
    val lb = Reports.leaderboards(ctx.stats)
    val topKills = lb.filter(col("metric") === "kills" && col("rank") === 1)
      .select("player_id", "value").as[(String, Double)].head()
    assert(topKills == ("alice", 9.0)) // carol's 11 kills excluded (non-core)
  }

  test("golden: kills leaderboard JSON document byte-for-byte") {
    val js = Reports.leaderboardsJson(ctx.stats)
      .filter(col("metric") === "kills").select("top_json").as[String].head()
    // frozen content: rank order = kills desc, then player_id, game_id
    assert(js ==
      """[{"rank":1,"player_id":"alice","game_id":"m1","value":9.0},""" +
      """{"rank":2,"player_id":"alice","game_id":"m3","value":4.0},""" +
      """{"rank":3,"player_id":"bob","game_id":"m1","value":3.0},""" +
      """{"rank":4,"player_id":"bob","game_id":"m2","value":1.0},""" +
      """{"rank":5,"player_id":"alice","game_id":"m2","value":0.0}]""")
  }

  test("leaderboard JSON documents are rank-ordered") {
    val js = Reports.leaderboardsJson(ctx.stats)
      .filter(col("metric") === "kills").select("top_json").as[String].head()
    val ranks = """"rank":(\d+)""".r.findAllMatchIn(js).map(_.group(1).toInt).toSeq
    assert(ranks == ranks.sorted && ranks.nonEmpty)
    assert(js.indexOf("alice") >= 0 && js.indexOf("alice") < js.indexOf("bob"))
  }

  test("team key is the sorted roster; shared games roll up") {
    val teams = Reports.teamStats(ctx.stats)
      .select("team_key", "n_games").as[(String, Long)].collect().toMap
    assert(teams.contains("alice,bob") && teams("alice,bob") == 2L) // m1, m2
  }

  test("season rollup: K/D guard (deaths=0 => divide by 1) and gulag pct") {
    val r = Reports.seasonRollup(ctx.stats, ctx.seasons)
      .filter(col("player_id") === "alice" && col("season_id") === "s1")
      .select("n_games", "kd", "gulag_win_pct").as[(Long, Double, Int)].head()
    assert(r._1 == 3L)
    // alice s1: kills 9+0+4=13, deaths 2+2+2=6 -> kd 2.17
    assert(r._2 == 2.17)
    // gulag: kills 1, deaths 1 -> 50%
    assert(r._3 == 50)
  }

  test("overlapping 'lifetime' season multiplies: alice appears in s1 AND lifetime") {
    val seasons = Reports.seasonRollup(ctx.stats, ctx.seasons)
      .filter(col("player_id") === "alice").select("season_id").as[String].collect().toSet
    assert(seasons == Set("s1", "lifetime"))
  }

  test("unknown-mode audit reports the unmapped mode with counts") {
    val um = Normalize.unknownModes(ctx.valid, ctx.modes)
      .select("game_mode_sub", "total_games").as[(String, Long)].collect().toSet
    assert(um == Set(("br_new_mode", 1L)))
  }

  test("incremental guard drops already-ingested keys") {
    val existing = Seq(("m1", "uno-alice")).toDF("game_id", "player_uno_id")
    val fresh = Normalize.newGamesOnly(ctx.valid, existing)
    assert(fresh.count() == ctx.valid.count() - 1)
  }

  test("records keep all tied holders, first occurrence per player") {
    // both alice (m3) and a hypothetical tie: alice's max kills 9 is unique,
    // but placement-independent check: every metric has >= 1 record holder
    // and no player appears twice per metric
    val r = Reports.records(ctx.stats)
      .select("metric", "player_id").as[(String, String)].collect().toSeq
    assert(r.nonEmpty)
    assert(r.distinct.size == r.size)
    val kills = Reports.records(ctx.stats, Seq("kills"))
      .select("player_id", "value").as[(String, Double)].collect().toSeq
    assert(kills == Seq(("alice", 9.0))) // carol (11 kills) is non-core
  }

  test("game series frames run in play order per player (smoothed_k = windowed SUM)") {
    val gs = Reports.gameSeries(ctx.stats, Seq(2))
      .filter(col("player_id") === "alice")
      .orderBy("ended_at")
      .select("kills_s2", "kd_cum").as[(Double, Double)].collect().toSeq
    // alice tracked games in order: kills 9, 0, 4 (deaths 2 each); the
    // reference's smoothed_k buckets are trailing SUMS, not means
    // (generate_lookup_data.sh:827-868)
    assert(gs.map(_._1) == Seq(9.0, 9.0, 4.0))
    assert(math.abs(gs.last._2 - 13.0 / 6.0) < 1e-12) // cum K/D
  }

  test("placement pivot fills absent categories with N/A") {
    val p = Reports.placementPivot(ctx.stats, ctx.seasons, ctx.modes,
        Seq("wz_trios", "wz_quads"))
      .filter(col("player_id") === "alice" && col("season_id") === "s1")
      .select("wz_trios", "wz_quads").as[(String, String)].head()
    // alice s1 trios placements: 3, 3, 1 -> avg 2.33; no quads games
    assert(p == ("2.33", "N/A"))
  }

  test("gulag streaks: decided gulags only, longest run wins") {
    // fixture (FIXTURES.md §1): outcomes W,W,W,L,W,W -> longest win streak 3
    val spark2 = spark
    import spark2.implicits._
    val outcomes = Seq(1.0, 1.0, 1.0, 0.0, 1.0, 1.0) // 1=win
    val rows = outcomes.zipWithIndex.map { case (w, i) =>
      ("p1", s"g$i", new java.sql.Timestamp(1000L * i), true, w, 1.0 - w)
    } :+ (("p1", "gx", new java.sql.Timestamp(99999L), true, 0.0, 0.0)) // undecided: ignored
    val df = rows.toDF("player_id", "game_id", "ended_at", "is_core",
      "gulag_kills", "gulag_deaths")
    val top = Reports.gulagStreaks(df, 3)
      .select("outcome", "streak_len").as[(String, Long)].collect().toSeq
    assert(top.head == ("win", 3L))
    assert(!top.contains(("win", 4L))) // undecided gulag does not extend a run
  }

  test("full-team filter: only rosters matching the category size count") {
    val ft = Reports.fullTeamStats(ctx.stats, ctx.modes, Map("wz_trios" -> 2))
      .select("team_key", "n_games").as[(String, Long)].collect().toMap
    // alice+bob share m1, m2 as a 2-roster; with expected size 2 they count
    assert(ft.get("alice,bob").contains(2L))
    val none = Reports.fullTeamStats(ctx.stats, ctx.modes, Map("wz_trios" -> 3))
    assert(none.count() == 0) // no 3-player rosters in the corpus
  }

  test("identity merge: multiple accounts collapse to one player_id") {
    val json = java.nio.file.Files.createTempFile("players", ".json")
    java.nio.file.Files.writeString(json,
      """[{"name":"Merged","isCore":true,"accounts":[
        |{"activisionPlatform":"battle","activisionTag":"M#1","unoId":"u-a"},
        |{"activisionPlatform":"acti","activisionTag":"M#2","unoId":"u-b"}]}]"""
        .stripMargin.replaceAll("\n", ""))
    val players = Dims.playersFromJson(spark, json.toString).collect().toSeq
    assert(players.map(_.player_uno_id).toSet == Set("u-a", "u-b"))
    assert(players.map(_.player_id).toSet == Set("merged")) // lowercased, merged
    assert(players.forall(_.is_core))
  }

  test("runReports writes every report family as readable JSON") {
    val out = java.nio.file.Files.createTempDirectory("graft_reports").toString
    Pipeline.runReports(ctx, out)
    // golden-frozen inventory: the tree contains EXACTLY the directories
    // mirroring the reference frontend's file set (FIXTURES.md §4)
    val written = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(written == Pipeline.reportInventory.toSet)
    for (r <- Pipeline.reportInventory) {
      val df = spark.read.json(s"$out/$r")
      assert(df.count() > 0, s"report $r is empty")
    }
    // per-player series is partitioned by (player_id, season_id) —
    // replaces the reference's players × seasons query loop
    val parts = new java.io.File(s"$out/time_series").listFiles()
      .filter(_.getName.startsWith("player_id=")).map(_.getName).toSet
    // carol is non-core: excluded from leaderboards but present in series
    assert(parts == Set("player_id=alice", "player_id=bob", "player_id=carol"))
    val aliceSeasons = new java.io.File(s"$out/time_series/player_id=alice")
      .listFiles().filter(_.getName.startsWith("season_id=")).map(_.getName).toSet
    // alice's games fall in s1; 'lifetime' overlaps everything
    assert(aliceSeasons == Set("season_id=s1", "season_id=lifetime"))
  }

  /** Runs `body` and returns the persistent RDDs it left registered (the
    * shared session may already hold other suites' checkpoints). */
  private def leftPersisted(body: => Unit): Set[Int] = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    body
    spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
  }

  test("runReports releases its persisted stats view on return") {
    val out = java.nio.file.Files.createTempDirectory("graft_reports").toString
    assert(leftPersisted(Pipeline.runReports(ctx, out)).isEmpty)
    assert(ctx.stats.storageLevel == StorageLevel.NONE)
  }

  test("runReports releases the stats view when a report write throws") {
    // outDir below a regular file: every write of the wave fails, after
    // the view is materialized
    val file = java.nio.file.Files.createTempFile("graft_reports", ".txt")
    assert(leftPersisted(intercept[Exception](
      Pipeline.runReports(ctx, s"$file/reports"))).isEmpty)
    assert(ctx.stats.storageLevel == StorageLevel.NONE)
    // a player id too long for a directory name fails the partitioned
    // writes (sessions and both series); the rest of the wave runs on
    val longId = "p" * 300
    val players = Seq(Player("uno-alice", longId, is_core = true)).toDS()
    val failing = ctx.copy(players = players)
    val out = java.nio.file.Files.createTempDirectory("graft_reports").toString
    var thrown: Throwable = null
    assert(leftPersisted {
      thrown = intercept[Exception](Pipeline.runReports(failing, out))
    }.isEmpty)
    assert(Iterator.iterate(thrown)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains(longId)), thrown)
    // the wave is over on return: no job still running, no pool thread left
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
    assert(!Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .exists(_.getName.startsWith("report-wave-")))
    assert(failing.stats.storageLevel == StorageLevel.NONE)
    assert(new java.io.File(s"$out/leaderboards").isDirectory)
    assert(spark.read.json(s"$out/leaderboards").count() > 0)
  }

  test("the report wave writes exactly the inventory, in its order") {
    val out = Files.createTempDirectory("graft_reports").toString
    val dirs = jobsStarted(Pipeline.runReports(ctx.copy(), out))
      .flatMap(description).filter(_.startsWith("report ")).map(_.stripPrefix("report "))
    // every inventory directory runs its jobs under its own description,
    // and no other `report <dir>` does
    assert(dirs.distinct.sortBy(Pipeline.reportInventory.indexOf(_)) ==
      Pipeline.reportInventory, dirs)
  }

  test("no report .json( write under codstats outside the one sink") {
    val sources = Files.list(Paths.get("src/main/scala/graft/codstats")).iterator()
      .asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.size >= 4, s"scan found only ${sources.size} files")
    // a chain continued on lines that begin with '.' is one statement
    def jsonWrites(lines: Seq[String]): Seq[String] =
      lines.map(_.trim).foldLeft(Vector.empty[String]) {
        case (acc, l) if l.startsWith(".") && acc.nonEmpty => acc.init :+ (acc.last + l)
        case (acc, l) => acc :+ l
      }.filter(st => st.contains(".write") && st.contains(".json("))
    // the sink: writeJsonReport's definition, up to the next blank line
    val (sink, outside) = sources.map { p =>
      val lines = Files.readAllLines(p).asScala.toSeq
      val start = lines.indexWhere(_.contains("def writeJsonReport("))
      if (start < 0) (Nil, jsonWrites(lines))
      else {
        val end = lines.indexWhere(_.trim.isEmpty, start)
        (jsonWrites(lines.slice(start, end)),
         jsonWrites(lines.take(start) ++ lines.drop(end)))
      }
    }.unzip
    assert(sink.flatten.nonEmpty, "the scan found no sink")
    assert(outside.flatten.isEmpty, s"write reports through writeJsonReport: ${outside.flatten}")
  }

  test("continuousRun releases each micro-batch's checkpoint on return") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_tick")
    val landing = java.nio.file.Files.createDirectory(tmp.resolve("landing"))
    Seq(doc("m1", "uno-alice", t0), doc("m1", "uno-bob", t0))
      .zipWithIndex.foreach { case (d, i) =>
        java.nio.file.Files.writeString(landing.resolve(s"match_$i.json"), d)
      }
    val store = s"$tmp/store"
    assert(leftPersisted(Pipeline.continuousRun(spark, landing.toString,
      s"$tmp/ckpt", store, s"$tmp/reports",
      ctx.players, ctx.modes, ctx.seasons)).isEmpty)
    assert(spark.read.parquet(store).count() == 2L) // the tick appended
    // the post-drain read declares the schema the footers hold
    val valid = Normalize.validGames(
      spark.read.schema(Model.matchSchema).json(landing.toString), ctx.modes)
    assert(graft.ops.LandingSpec.namesAndTypes(spark.read.parquet(store).schema) ==
      graft.ops.LandingSpec.namesAndTypes(Pipeline.factSchema(valid.schema)))
  }

  test("player stats doc: one row per player, season-ordered metrics+placements") {
    val doc = Reports.playerStatsDoc(ctx.stats, ctx.seasons, ctx.modes,
        Seq("wz_trios", "wz_quads"))
      .filter(col("player_id") === "alice")
      .select("seasons_doc").as[String].head()
    // both of alice's seasons appear, each with rollup metrics AND the
    // pivoted placement categories
    assert(doc.contains("\"season_id\":\"s1\"") &&
           doc.contains("\"season_id\":\"lifetime\""))
    assert(doc.contains("\"kd\":") && doc.contains("\"wz_trios\":\"2.33\"") &&
           doc.contains("\"wz_quads\":\"N/A\""))
    // deterministic array order (sorted by season_id)
    assert(doc.indexOf("lifetime") < doc.indexOf("\"s1\""))
  }

  test("season-scoped series restart frames at the season boundary") {
    val bySeason = Reports.gameSeriesBySeason(ctx.stats, ctx.seasons, Seq(2))
      .filter(col("player_id") === "alice")
    // alice's tracked games (kills 9, 0, 4) all fall inside s1, so her s1
    // series equals her lifetime series — and BOTH restart cumulative
    // sums at their own first row
    val bySeasonMap = bySeason
      .select(col("season_id"), col("kills_cum")).as[(String, Double)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(bySeasonMap("s1") == Seq(9.0, 9.0, 13.0))
    assert(bySeasonMap("lifetime") == Seq(9.0, 9.0, 13.0))
  }

  test("time series: cumulative K/D uses the zero-deaths guard") {
    val daily = Reports.perDay(ctx.stats)
      .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
    val ts = Reports.timeSeries(daily)
      .filter(col("player_id") === "bob").orderBy("day")
      .select("kd_cum").as[Double].collect().toSeq
    // bob: m1 (3 kills, 0 deaths), m2 (1 kill, 2 deaths) same day ->
    // cum kills 4, cum deaths 2 -> 2.0
    assert(ts == Seq(2.0))
  }

  test("lifetime count leaderboards: wins and last places, core players only") {
    // alice won m3 (placement=1); carol also won m3 but is non-core
    val wins = Reports.mostWins(ctx.stats)
      .select("player_id", "value").as[(String, Long)].collect().toSeq
    assert(wins == Seq(("alice", 1L)))
    // bob placed last (30 of 30) in m2; alice placed 3rd in it
    val lasts = Reports.mostLastPlaces(ctx.stats)
      .select("player_id", "value").as[(String, Long)].collect().toSeq
    assert(lasts == Seq(("bob", 1L)))
  }

  test("session end is next session's start - 1s, open session gets the sentinel") {
    val s = Reports.sessions(ctx.stats).filter(col("player_id") === "alice")
      .orderBy("session_seq")
      .select(col("session_id"),
        unix_seconds(col("session_start")).as("start_s"),
        unix_seconds(col("session_end")).as("end_s"),
        unix_seconds(col("last_game_at")).as("last_s"))
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(s.map(_._1) == Seq("alice_1", "alice_2"))
    // session 1 ends one second before session 2 begins (parse_matches.sh:320-328)
    assert(s(0)._3 == s(1)._2 - 1)
    // open session: end = 9999999999 - 1
    assert(s(1)._3 == Reports.OpenSessionSentinelSeconds - 1)
    // the observed game span stays available
    assert(s(0)._4 == t0 + 600)
  }

  test("seasons doc: current = latest-starting season, start-ordered array") {
    val d = Reports.seasonsDoc(ctx.seasons)
      .select("current", "seasons").as[(String, String)].head()
    assert(d._1 == "s2") // s2 starts 2020-06-01, after s1; 'lifetime' starts earliest
    // golden: the full document, byte-for-byte (start-ordered array)
    assert(d._2 ==
      """[{"start_ts":"2020-01-01T00:00:00.000Z","season_id":"lifetime","end_ts":"2100-01-01T00:00:00.000Z"},""" +
      """{"start_ts":"2020-03-01T00:00:00.000Z","season_id":"s1","end_ts":"2020-06-01T00:00:00.000Z"},""" +
      """{"start_ts":"2020-06-01T00:00:00.000Z","season_id":"s2","end_ts":"2020-09-01T00:00:00.000Z"}]""")
  }

  test("recent matches doc: one nested row per game, sorted roster and stats") {
    val rm = Reports.recentMatchesDoc(ctx.stats, ctx.modes)
      .select("game_id", "player_ids", "player_stats", "game_mode_display")
      .as[(String, String, String, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(rm.keySet == Set("m1", "m2", "m3"))
    assert(rm("m1")._2 == "alice,bob")
    assert(rm("m3")._2 == "alice,carol") // non-core carol appears in games
    assert(rm("m1")._4 == "BR Trios")
    // per-player stats array is sorted by player_id (alice first)
    assert(rm("m1")._3.indexOf("alice") < rm("m1")._3.indexOf("bob"))
    assert(rm("m1")._3.contains("\"kills\":9.0")) // alice's monster game
  }

  test("recent matches resolve display names with the Unknown fallback") {
    val rm = Reports.recentMatchesDoc(ctx.stats, ctx.modes)
      .select("game_mode_display").distinct().as[String].collect().toSet
    assert(rm == Set("BR Trios"))
    // unmapped mode → the reference's HTML-escaped fallback literal
    // (generate_lookup_data.sh:525)
    val unmapped = ctx.stats.withColumn("game_mode_sub", lit("br_mystery"))
    val fb = Reports.recentMatchesDoc(unmapped, ctx.modes)
      .select("game_mode_display").distinct().as[String].collect().toSet
    assert(fb == Set("Unknown &lt;br_mystery&gt;"))
  }

  test("series derived metrics honor each resolver's zero guard") {
    val spark2 = spark
    import spark2.implicits._
    // day 1: deaths=0 (K/D guard → kills); kills=0 on day 2 (dmg_per_kill → 0)
    val daily = Seq(
      ("p", "2024-01-01", 2L, 6.0, 0.0, 900.0, 0.0, 0.0, 3.0, 100.0, 2.0, 140.0, 0L, 0L),
      ("p", "2024-01-02", 1L, 0.0, 4.0, 300.0, 1.0, 1.0, 0.0, 50.0, 0.5, 90.0, 0L, 1L))
      .toDF("player_id", "day", "n_games", "kills", "deaths", "damage_done",
            "gulag_kills", "gulag_deaths", "headshots", "distance_traveled",
            "avg_kd", "avg_spm", "monsters", "gooseeggs")
    val ts = Reports.timeSeries(daily).orderBy("day")
      .select("kd_cum", "dmg_per_kill", "gulag_win_pct", "gooseegg_pct",
              "kills_per_game")
      .as[(Double, Double, Double, Double, Double)].collect().toSeq
    // day 1: deaths_cum=0 → kd = kills_cum = 6; gulag 0+0 → 0 (series
    // resolver, index.js:85-91 — NOT the 100% card default)
    assert(ts(0) == ((6.0, 150.0, 0.0, 0.0, 3.0)))
    // day 2 cumulative: kills 6, deaths 4, dmg 1200, gulag 1W/1L, 3 games
    assert(ts(1)._1 == 1.5)
    assert(ts(1)._2 == 200.0)
    assert(ts(1)._3 == 50.0)
    assert(math.abs(ts(1)._4 - 100.0 / 3.0) < 1e-12)
    assert(ts(1)._5 == 2.0)
  }
}
