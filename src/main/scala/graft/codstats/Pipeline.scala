package graft.codstats

import java.util.concurrent.{ConcurrentLinkedQueue, ExecutionException, Executors}

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StructType}

import graft.ops.{Landing, Stages}

import Model._

/** End-to-end pipeline assembly (SURVEY.md §3 E1): landing JSON →
  * normalize → derived views → report DataFrames → JSON report sink.
  *
  * The reference shells out one sqlite3 process per report
  * (players × seasons × type), one after another; here every report family
  * is one DataFrame, written once — `partitionBy(player_id)` on the series
  * reports replaces the per-player loop — and [[runReports]] runs the 15
  * writes as one concurrent wave over a persisted stats view, on at most
  * `min(15, defaultParallelism)` pool threads; a failed write fails the
  * rebuild only after every other write has ended and before the view is
  * released.
  */
object Pipeline {

  case class Context(spark: SparkSession, valid: DataFrame,
                     players: Dataset[Player], modes: Dataset[GameMode],
                     seasons: Dataset[Season], settings: Settings) {
    lazy val stats: DataFrame = Reports.statsWz(valid, players, modes)
  }

  /** Build the context from raw per-match JSON documents. */
  def fromRawJson(spark: SparkSession, raw: DataFrame,
                  players: Dataset[Player], modes: Dataset[GameMode],
                  seasons: Dataset[Season],
                  settings: Settings = Settings()): Context = {
    val valid = Normalize.validGames(Normalize.parse(raw), modes)
    Context(spark, valid, players, modes, seasons, settings)
  }

  /** Write a report as single-file JSON (reference S7 sink shape:
    * one JSON document per report, generate_lookup_data.sh:319-349).
    * Small report DataFrames only — coalesce(1) is the point, not a
    * bottleneck: every report here is already aggregated/top-k'd. */
  def writeJsonReport(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").json(path)

  /** The reference's cron run loop (`run_and_deploy.sh`: fetch → parse →
    * generate → sync) as ONE streaming job: each invocation is one
    * [[Landing.drain]] tick — new landed files → normalize →
    * [[Landing.appendNew]] on (game_id, player_uno_id), the
    * reference's INSERT OR IGNORE (parse_matches.sh:580-596), into a store
    * partitioned by event date (`fact_day`: reports prune to the dates they
    * touch, compaction works per partition) — then one report-tree rebuild
    * over the full store. Rebuilding every report per tick is the
    * reference's own cost model (it regenerates every file each run); the
    * rebuild runs even on an empty tick so meta.updatedAt always reflects
    * the last successful run.
    *
    * The drain and the post-drain store read run inside
    * [[Landing.listedOnDriver]]: over a local landing directory and store
    * they list their files on the driver, with no Spark listing job, and
    * the store is read with its declared [[factSchema]], with no
    * footer-inference job. Like compaction, a tick owns the store and the
    * session while it runs: one tick at a time, never concurrently with
    * compaction or with another tick in the same session (the
    * listing threshold it sets is session-wide until the read is done).
    */
  def continuousRun(spark: SparkSession, landingDir: String,
                    checkpointDir: String, factDir: String, reportDir: String,
                    players: Dataset[Player], modes: Dataset[GameMode],
                    seasons: Dataset[Season],
                    settings: Settings = Settings()): Unit = {
    recoverFactStore(factDir) // heal a crashed compaction swap first
    val fact = Landing.listedOnDriver(spark, landingDir, factDir) {
      // one JSON document per file; the file source's own bound on one batch
      val landing = spark.readStream.schema(matchSchema)
        .option("maxFilesPerTrigger", 1000).json(landingDir)
      val valid = Normalize.validGames(landing, modes)
      Landing.drain(valid, checkpointDir) { (batch, _) =>
        Stages.release(Seq(Landing.appendNew(
          batch.withColumn("fact_day", to_date(col("ended_at"))), factDir,
          Seq("game_id", "player_uno_id"), "fact_day")))
      }
      // the report rebuild runs even when no store exists yet (first tick
      // saw nothing): meta/seasons/players need no fact data, and the
      // fact-backed reports come out empty-but-valid over a zero-row frame
      Landing.readIfExists(spark, factDir, Some(factSchema(valid.schema)))
        .map(_.drop("fact_day"))
        .getOrElse(spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], valid.schema))
    }
    runReports(Context(spark, fact, players, modes, seasons, settings), reportDir)
  }

  /** The fact store's schema: the valid rows `continuousRun` appends, plus
    * their `fact_day` partition column. */
  private[codstats] def factSchema(valid: StructType): StructType =
    valid.add("fact_day", DateType)

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete()
  }

  /** Self-heal a fact store left mid-swap by a CRASHED [[compactFactStore]]:
    * restore a staged-out whole store or per-day backups whose replacement
    * never landed, and drop leftovers whose swap DID complete. Spark never
    * reads `_`-prefixed directories, so in-flight staging/backup dirs are
    * invisible to concurrent readers. Called on entry by both
    * [[continuousRun]] and [[compactFactStore]].
    *
    * Like compaction itself, recovery assumes the single-writer contract:
    * it must not run while another process is actively compacting (it
    * would treat the live staging/backup dirs as crash leftovers). A
    * deployment that cannot serialize writers needs a manifest/table
    * format instead of rename-swaps — see the compaction scaladoc. */
  def recoverFactStore(factDir: String): Unit = {
    val root = new java.io.File(factDir)
    val wholeOld = new java.io.File(factDir + "_old")
    if (!root.exists() && wholeOld.exists()) wholeOld.renameTo(root)
    if (!root.exists()) return
    // root exists ⇒ any whole-store swap completed; a surviving backup or
    // staging copy is a crash leftover (e.g. mid-rmTree) — drop both so a
    // stale full copy never lingers on disk
    rmTree(wholeOld)
    rmTree(new java.io.File(factDir + "_compacting"))
    val entries = Option(root.listFiles()).map(_.toSeq).getOrElse(Nil)
    entries.filter(_.getName.startsWith("_old_fact_day=")).foreach { old =>
      val live = new java.io.File(root, old.getName.stripPrefix("_old_"))
      if (!live.exists()) old.renameTo(live) else rmTree(old)
    }
    entries.filter(_.getName.startsWith("_tmp_fact_day=")).foreach(rmTree)
  }

  /** Compact the streaming fact store: every `continuousRun` tick appends
    * one small parquet file per (batch, day) — after months of 20-minute
    * ticks that is the classic small-files problem (footer-per-file
    * planning cost dominates the scan). INCREMENTAL: only day partitions
    * holding more than one data file are rewritten (ticks append only to
    * recent days, so old days are compacted once and never touched again)
    * — O(days touched since last compaction), not O(store). Each rewrite
    * stages into a `_`-prefixed dir (invisible to Spark readers), swaps by
    * rename with a backup kept until the swap completes, and rolls back on
    * failure; [[recoverFactStore]] heals any crash window. A legacy
    * UNPARTITIONED store (pre-day-layout) is migrated wholesale on first
    * call — run compaction once when upgrading, before the next tick.
    * Local-FS renames here; an object-store deployment swaps via a
    * manifest/table format instead.
    *
    * Concurrency contract: the store has ONE writer at a time — run
    * compaction between `continuousRun` ticks, never concurrently with one
    * (the reference's cron loop gives the same serialization for free).
    * As a belt-and-braces guard against a violated contract, each per-day
    * swap (a) re-lists the partition just before renaming and SKIPS the
    * swap if the file set changed since the staging copy was read, and
    * (b) after the swap, moves any file found in the backup that was not
    * in the staged snapshot back into the live partition — so a file
    * appended even in the instant between re-list and rename is recovered,
    * not deleted with the backup. The legacy whole-store migration has no
    * such guard (it predates the partitioned layout, so no tick can be
    * appending day partitions to it). */
  def compactFactStore(spark: SparkSession, factDir: String): Unit = {
    recoverFactStore(factDir)
    val root = new java.io.File(factDir)
    if (!root.exists()) return
    val entries = Option(root.listFiles()).map(_.toSeq).getOrElse(Nil)
    val dayDirs = entries.filter(f =>
      f.isDirectory && f.getName.startsWith("fact_day="))
    if (dayDirs.isEmpty) {
      // legacy unpartitioned store → migrate to the day-partitioned layout
      val staging = new java.io.File(factDir + "_compacting")
      rmTree(staging)
      val df0 = spark.read.parquet(factDir)
      val df = if (df0.columns.contains("fact_day")) df0
               else df0.withColumn("fact_day", to_date(col("ended_at")))
      df.repartition(col("fact_day"))
        .write.mode("overwrite").partitionBy("fact_day").parquet(staging.getPath)
      val old = new java.io.File(factDir + "_old")
      rmTree(old)
      require(root.renameTo(old), s"compaction: cannot stage out $factDir")
      if (!staging.renameTo(root)) {
        old.renameTo(root)
        sys.error(s"compaction swap failed for $factDir; original restored")
      }
      rmTree(old)
      return
    }
    def dataFiles(d: java.io.File): Set[String] =
      Option(d.listFiles()).map(_.filter(f =>
        f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(_.getName).toSet).getOrElse(Set.empty)
    dayDirs.foreach { d =>
      val snapshot = dataFiles(d)
      if (snapshot.size > 1) {
        val stg = new java.io.File(root, "_tmp_" + d.getName)
        spark.read.parquet(d.getPath).coalesce(1)
          .write.mode("overwrite").parquet(stg.getPath)
        if (dataFiles(d) != snapshot) {
          // a concurrent tick appended despite the single-writer contract:
          // the staging copy is stale — discard it, keep the live partition
          rmTree(stg)
        } else {
          val old = new java.io.File(root, "_old_" + d.getName)
          rmTree(old)
          require(d.renameTo(old), s"compaction: cannot stage out ${d.getPath}")
          if (!stg.renameTo(d)) {
            old.renameTo(d)
            sys.error(s"compaction swap failed for ${d.getPath}; partition restored")
          }
          // a file appended in the instant between the re-list above and the
          // renameTo travelled into the backup — move it into the live
          // partition before dropping the backup, so even that window loses
          // nothing (part-file names are unique, no collision possible)
          Option(old.listFiles()).foreach(_.foreach { f =>
            if (f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith(".")
                && !snapshot.contains(f.getName))
              f.renameTo(new java.io.File(d, f.getName))
          })
          rmTree(old)
        }
      }
    }
  }

  /** The series measures whose cumulative keys the reference frontend
    * reads — emitted with its literal "cumalative" [sic] spelling
    * (generate_lookup_data.sh:762,855; SURVEY §7.1): downstream consumers
    * of the original files key on it. */
  private val cumalativeKeys: Seq[String] = Seq(
    "matches_played", "kills", "deaths", "gulag_kills", "gulag_deaths",
    "headshots", "damage_done", "distance_traveled", "monsters", "gooseeggs")

  private def renameCumalative(df: DataFrame): DataFrame =
    df.withColumnsRenamed((("kd" +: cumalativeKeys).map(m =>
      s"${m}_cum" -> s"cumalative_$m")).toMap)

  /** The frozen report-tree inventory (FIXTURES.md §4 ↔ the files the
    * reference frontend loads, generate_lookup_data.sh): one entry per
    * written directory; the e2e golden test pins this exact set. */
  val reportInventory: Seq[String] = Seq(
    "meta", "seasons", "players",            // write_meta (:54-91)
    "leaderboards",                          // per-metric top-10 (:101-349)
    "most_wins", "most_lastplaces",          // lifetime counts (:416-456)
    "team_leaderboards",                     // team rollups (:478-505)
    "recent_matches", "recent_sessions",     // (:514-581)
    "sessions",                              // per-player sessions (:941-961)
    "season_rollup",                         // per-season rollup (:590-633)
    "player_stats",                          // per-player season doc (:590-701)
    "unknown_modes",                         // audit (parse_matches.sh:205-221)
    "time_series", "game_series")            // per-player series (:707-868)

  /** Materialize the standard report set under `outDir` — one directory
    * per file the reference frontend loads (write_meta +
    * write_leaderboards + per-player loops, generate_lookup_data.sh).
    *
    * The stats view (`ctx.stats`: fact ⨝ players ⨝ tracked modes) is
    * persisted once for the rebuild and every report family reads that one
    * copy. The reference keeps its normalized layer as a materialized table
    * for the same reason: its view version was ~100x slower
    * (parse_matches.sh:62-65). Without it, the 11 families built on the
    * view re-scan the fact store and re-join both dims, 12 times per
    * rebuild (player_stats reads the view twice); with it, once. Only the
    * unknown-mode audit, which reads the fact rows before the tracked-mode
    * filter, scans the store apart. The level is
    * MEMORY_AND_DISK (`persist()`), so at scale the view spills to local
    * disk instead of being recomputed.
    *
    * The view is materialized by one `count()` on the caller's thread,
    * then the [[reportWrites]] run as ONE concurrent wave: each is
    * submitted to a fixed pool of daemon threads named `report-wave-<n>`,
    * `min(writes, defaultParallelism)` of them — the entry count caps the
    * threads where a cluster's parallelism runs to thousands. Spark
    * schedules the wave's jobs side by side in this session, so the 15
    * small writes (1–19 tasks each) share the cores instead of queueing
    * one behind another: the reference's one-sqlite3-process-per-report
    * fan-out (SURVEY §3 E1) without its serial floor. Each pool thread
    * sets the job description `report <dir>` while its write runs.
    *
    * Failure contract: every write runs to its end, failed or not; then
    * the first failure in inventory order is rethrown with any others
    * added as suppressed. The pool is shut down and its threads joined
    * before the view is released (the outer `finally`), so no write can
    * still be reading the view when it goes, and a failed write leaves no
    * cached data or running job behind.
    */
  def runReports(ctx: Context, outDir: String): Unit = {
    val s = ctx.stats.persist()
    try {
      s.count()
      // category list is dimension data (O(10) rows): driver-side collect is
      // the intended use, same as broadcasting the dim itself
      val categories = ctx.modes.select(col("category")).distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      runWave(ctx.spark.sparkContext, outDir, reportWrites(ctx, s, categories))
    } finally s.unpersist()
  }

  /** Runs each `(dir, write)` as `write(outDir/dir)` on a bounded pool and
    * waits for all of them; see [[runReports]] for the contract. */
  private def runWave(sc: SparkContext, outDir: String,
                      writes: Seq[(String, String => Unit)]): Unit = {
    val threads = new ConcurrentLinkedQueue[Thread]()
    val pool = Executors.newFixedThreadPool(
      math.min(writes.size, sc.defaultParallelism), (r: Runnable) => {
        val t = new Thread(r, s"report-wave-${threads.size + 1}")
        t.setDaemon(true)
        threads.add(t)
        t
      })
    try {
      val pending = writes.map { case (dir, write) =>
        pool.submit[Unit](() => {
          sc.setJobDescription(s"report $dir")
          try write(s"$outDir/$dir") finally sc.setJobDescription(null)
        })
      }
      val failures = pending.flatMap { f =>
        try { f.get(); None }
        catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
    } finally {
      pool.shutdown()
      threads.forEach((t: Thread) => t.join())
    }
  }

  /** The report tree as one `(dir, write)` list, in [[reportInventory]]
    * order: `write` builds the report from the persisted view `s` and
    * writes it to the path it is given. Building is lazy, inside `write`,
    * so each report's construction runs on its own wave thread. */
  private[codstats] def reportWrites(ctx: Context, s: DataFrame,
                                     categories: Seq[String]): Seq[(String, String => Unit)] = {
    def json(df: => DataFrame): String => Unit = path => writeJsonReport(df, path)
    // per-(player, season) outputs: partitioned writes replace the
    // reference's players × seasons query loop; the 'lifetime' season
    // partition carries the unscoped series
    def parts(cols: String*)(df: => DataFrame): String => Unit =
      path => df.write.mode("overwrite").partitionBy(cols: _*).json(path)
    Seq(
      "meta" -> json(ctx.spark.sql(
        "SELECT unix_millis(current_timestamp()) AS updatedAt")),
      "seasons" -> json(Reports.seasonsDoc(ctx.seasons)),
      // players.json copy (write_meta:56): the dim ships with the site
      "players" -> json(ctx.players.toDF()),
      "leaderboards" -> json(Reports.leaderboards(s)),
      "most_wins" -> json(Reports.mostWins(s)),
      "most_lastplaces" -> json(Reports.mostLastPlaces(s)),
      "team_leaderboards" -> json(Reports.teamStats(s)),
      "recent_matches" -> json(Reports.recentMatchesDoc(s, ctx.modes)),
      "recent_sessions" -> json(Reports.recentSessions(s, ctx.settings)),
      "sessions" -> parts("player_id")(Reports.sessions(s, ctx.settings)),
      "season_rollup" -> json(Reports.seasonRollup(s, ctx.seasons)),
      "player_stats" -> json(
        Reports.playerStatsDoc(s, ctx.seasons, ctx.modes, categories)),
      "unknown_modes" -> json(Normalize.unknownModes(ctx.valid, ctx.modes)),
      "time_series" -> parts("player_id", "season_id")(renameCumalative(
        Reports.timeSeries(
          Reports.perDayBySeason(s, ctx.seasons, ctx.settings)
            .withColumn("day", date_format(col("day"), "yyyy-MM-dd")),
          entity = Seq(col("player_id"), col("season_id"))))),
      "game_series" -> parts("player_id", "season_id")(renameCumalative(
        Reports.gameSeriesBySeason(s, ctx.seasons, settings = ctx.settings))))
  }
}
