package graft.codstats

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import Model._

/** Ingest + normalize: match documents → the typed valid-games fact table
  * (the reference's `wz_valid_games` materialized cache,
  * `/root/reference/parser/parse_matches.sh:62-98,619-690`).
  *
  * Spark-first shape: one declarative pass — `from_json` against the
  * explicit schema, null-default projection, domain corrections, quality
  * filters — persisted as parquet partitioned by ingest date in
  * production. Incrementality is a left-anti join on the composite key
  * (reference: NOT-IN over `game_id||'_'||player_uno_id`,
  * parse_matches.sh:580-596,674-675 — no string concat needed here).
  *
  * At 100 TB: the normalize pass is scan→project→filter (no shuffle);
  * the anti-join broadcasts the seen-keys side when small or shuffles on
  * the composite key; everything stays in whole-stage codegen.
  */
object Normalize {

  /** Parse raw one-document-per-row JSON (e.g. from a landing directory
    * read as text or from the fetcher's file sink). */
  def parse(raw: DataFrame, jsonCol: String = "json"): DataFrame =
    raw.withColumn("doc", from_json(col(jsonCol), matchSchema)).select("doc.*")

  private def stat(name: String, default: Double = 0.0) =
    coalesce(col(s"playerStats.$name"), lit(default))

  /** Typed, defaulted, corrected, quality-filtered fact table.
    *
    * Encodes the reference's business rules
    * (parse_matches.sh:627-686):
    *  - every stat null-defaults to 0 (ids to '-1'); playerCount/
    *    teamCount/teamPlacement default to -1 (parse_matches.sh:627-628,651)
    *  - gulag truth table: stimulus modes force (0,0); gulagKills>=1 →
    *    (1,0); else gulagDeaths>=1 → (0,1) — the API reports multi-death
    *    gulags incorrectly
    *  - drop rows with null damageDone/damageTaken, and rows with
    *    deaths=0 AND damageTaken=0 (disconnects / buggy early-API rows)
    *  - drop rows violating the schema CHECKs the reference enforces with
    *    INSERT OR IGNORE (parse_matches.sh:68-83): game_mode ∈ {mp,wz},
    *    numberOfPlayers/numberOfTeams/teamPlacement > 0 — so a missing
    *    placement (defaulted -1) never counts toward wins/top5/top10 or
    *    skews placement_sum/teams_sum downstream
    */
  def validGames(parsed: DataFrame, modes: Dataset[GameMode]): DataFrame = {
    val stimulus = modes.filter(col("is_stimulus")).select(col("id").as("mode"))
    val withFlags = parsed
      .join(broadcast(stimulus.withColumn("is_stim", lit(true))), Seq("mode"), "left")
      .withColumn("is_stim", coalesce(col("is_stim"), lit(false)))
    withFlags
      .filter(col("playerStats.damageDone").isNotNull &&
              col("playerStats.damageTaken").isNotNull)
      .filter(!(stat("deaths") === 0.0 && stat("damageTaken") === 0.0))
      // the reference's CHECK constraints + INSERT OR IGNORE: violating
      // rows are silently dropped, never ingested with sentinel values.
      // Same for its NOT NULL columns that the INSERT does NOT ifnull()-
      // default: a null utcEndSeconds (date_key) or null mode
      // (game_mode_sub) row is skipped by the reference, not defaulted
      // (parse_matches.sh:67-70,627-670)
      .filter(col("utcEndSeconds").isNotNull && col("mode").isNotNull)
      .filter(col("gameType").isin("mp", "wz") &&
              coalesce(col("playerCount"), lit(-1)) > 0 &&
              coalesce(col("teamCount"), lit(-1)) > 0 &&
              stat("teamPlacement", -1.0) > 0.0)
      .select(
        coalesce(col("matchID"), lit("-1")).as("game_id"),
        coalesce(col("player.uno"), lit("-1")).as("player_uno_id"),
        timestamp_seconds(coalesce(col("utcEndSeconds"), lit(0L))).as("ended_at"),
        coalesce(col("gameType"), lit("-1")).as("game_mode"),
        coalesce(col("mode"), lit("-1")).as("game_mode_sub"),
        coalesce(col("playerCount"), lit(-1)).as("number_of_players"),
        coalesce(col("teamCount"), lit(-1)).as("number_of_teams"),
        stat("score").as("score"),
        stat("scorePerMinute").as("score_per_minute"),
        stat("kills").as("kills"),
        stat("deaths").as("deaths"),
        stat("damageDone").as("damage_done"),
        stat("damageTaken").as("damage_taken"),
        stat("teamPlacement", -1.0).as("team_placement"), // unreachable -1: CHECK filter above
        stat("kdRatio").as("kd_ratio"),
        stat("distanceTraveled").as("distance_traveled"),
        stat("headshots").as("headshots"),
        stat("objectiveBrCacheOpen").as("caches_opened"),
        stat("objectiveReviver").as("revives"),
        (stat("objectiveBrDownEnemyCircle1") + stat("objectiveBrDownEnemyCircle2") +
         stat("objectiveBrDownEnemyCircle3") + stat("objectiveBrDownEnemyCircle4") +
         stat("objectiveBrDownEnemyCircle5") + stat("objectiveBrDownEnemyCircle6"))
          .as("downs"),
        (stat("objectiveDestroyedVehicleLight") + stat("objectiveDestroyedVehicleMedium") +
         stat("objectiveDestroyedVehicleHeavy")).as("vehicles_destroyed"),
        when(col("is_stim"), lit(0.0))
          .when(stat("gulagKills") >= 1.0, lit(1.0))
          .otherwise(lit(0.0)).as("gulag_kills"),
        when(col("is_stim"), lit(0.0))
          .when(stat("gulagKills") >= 1.0, lit(0.0))
          .when(stat("gulagDeaths") >= 1.0, lit(1.0))
          .otherwise(lit(0.0)).as("gulag_deaths"))
  }

  /** Incremental guard: keep only rows whose (game_id, player_uno_id) is
    * not already ingested — the store anti-join of
    * [[graft.ops.Landing.appendNew]]. */
  def newGamesOnly(incoming: DataFrame, existingKeys: DataFrame): DataFrame =
    graft.ops.Landing.newKeysOnly(incoming, existingKeys,
      Seq("game_id", "player_uno_id"))

  /** Audit: modes present in data but missing from the dimension
    * (vw_unknown_modes shape, parse_matches.sh:205-221). */
  def unknownModes(valid: DataFrame, modes: Dataset[GameMode]): DataFrame =
    valid.join(broadcast(modes.select(col("id").as("game_mode_sub"))),
        Seq("game_mode_sub"), "left_anti")
      .groupBy(col("game_mode_sub"))
      .agg(min(col("ended_at")).as("first_seen"),
           max(col("ended_at")).as("last_seen"),
           count(lit(1)).as("total_games"))
      .orderBy(col("game_mode_sub"))
}
