package graft.codstats

import java.util.concurrent.{ConcurrentLinkedQueue, ExecutionException, Executors}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
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
  * reports replaces the per-player loop. [[reportRegistry]] declares the
  * report tree once: each entry's directory, partition columns and
  * builder. [[runReports]] runs its entries as one concurrent wave over a
  * persisted stats view, on at most `min(entries, defaultParallelism)`
  * pool threads, each written through the one sink, [[writeJsonReport]];
  * a failed write fails the rebuild only after every other write has
  * ended and before the view is released.
  */
object Pipeline {

  case class Context(spark: SparkSession, valid: DataFrame,
                     players: Dataset[Player], modes: Dataset[GameMode],
                     seasons: Dataset[Season], settings: Settings) {
    lazy val stats: DataFrame = Reports.statsWz(valid, players, modes)
    /** The mode categories, sorted: dimension data (O(10) rows), so a
      * driver-side collect is the intended use, as is broadcasting the dim. */
    lazy val categories: Seq[String] = modes.select(col("category")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
  }

  /** Build the context from raw per-match JSON documents. */
  def fromRawJson(spark: SparkSession, raw: DataFrame,
                  players: Dataset[Player], modes: Dataset[GameMode],
                  seasons: Dataset[Season],
                  settings: Settings = Settings()): Context = {
    val valid = Normalize.validGames(Normalize.parse(raw), modes)
    Context(spark, valid, players, modes, seasons, settings)
  }

  /** The one report sink: `df` as JSON at `path`. With no `partitionBy`
    * columns, a single file (reference S7 sink shape: one JSON document
    * per report, generate_lookup_data.sh:319-349) — coalesce(1) is the
    * point, not a bottleneck: every such report is already
    * aggregated/top-k'd. With them, one directory per partition value. */
  def writeJsonReport(df: DataFrame, path: String, partitionBy: String*): Unit =
    if (partitionBy.isEmpty) df.coalesce(1).write.mode("overwrite").json(path)
    else df.write.mode("overwrite").partitionBy(partitionBy: _*).json(path)

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
    recoverFactStore(spark, factDir) // heal a crashed compaction swap first
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
          spark.sparkContext.emptyRDD[Row], valid.schema))
    }
    runReports(Context(spark, fact, players, modes, seasons, settings), reportDir)
  }

  /** The fact store's schema: the valid rows `continuousRun` appends, plus
    * their `fact_day` partition column. */
  private[codstats] def factSchema(valid: StructType): StructType =
    valid.add("fact_day", DateType)

  /** The names of the data files directly in `dir`: the files Spark reads,
    * not `_`- or `.`-prefixed. */
  private def dataFiles(fs: FileSystem, dir: Path): Set[String] =
    fs.listStatus(dir).iterator.filter(_.isFile).map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet

  /** The valid rows' schema as the tick declares it (no `fact_day`),
    * derived by analysis alone: validating zero documents runs no job. */
  private def validSchema(spark: SparkSession): StructType =
    Normalize.validGames(spark.createDataFrame(java.util.List.of[Row](), matchSchema),
      spark.emptyDataset(Encoders.product[GameMode])).schema

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
  def recoverFactStore(spark: SparkSession, factDir: String): Unit = {
    val root = new Path(factDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val wholeOld = root.suffix("_old")
    if (!fs.exists(root) && fs.exists(wholeOld)) fs.rename(wholeOld, root)
    if (!fs.exists(root)) return
    // root exists ⇒ any whole-store swap completed; a surviving backup or
    // staging copy is a crash leftover (e.g. mid-delete) — drop both so a
    // stale full copy never lingers on disk
    fs.delete(wholeOld, true)
    fs.delete(root.suffix("_compacting"), true)
    val entries = fs.listStatus(root).toSeq.map(_.getPath)
    entries.filter(_.getName.startsWith("_old_fact_day=")).foreach { old =>
      val live = new Path(root, old.getName.stripPrefix("_old_"))
      if (!fs.exists(live)) fs.rename(old, live) else fs.delete(old, true)
    }
    entries.filter(_.getName.startsWith("_tmp_fact_day=")).foreach(fs.delete(_, true))
  }

  /** Compact the streaming fact store: every `continuousRun` tick appends
    * one small parquet file per (batch, day) — after months of 20-minute
    * ticks that is the classic small-files problem (footer-per-file
    * planning cost dominates the scan). INCREMENTAL: only day partitions
    * holding more than one data file are rewritten (ticks append only to
    * recent days, so old days are compacted once and never touched again)
    * — O(days touched since last compaction), not O(store). Each day is
    * read with the declared schema of the valid rows every tick appends,
    * so no footer-schema job runs. Each rewrite stages into a `_`-prefixed
    * dir (invisible to Spark readers), swaps by rename with a backup kept
    * until the swap completes, and rolls back on failure; [[recoverFactStore]] heals any crash window. A legacy
    * UNPARTITIONED store (pre-day-layout) is migrated wholesale on first
    * call, its schema read from its footers — run compaction once when
    * upgrading, before the next tick. Compaction and recovery resolve the
    * store through its Hadoop file system, as [[Landing.readIfExists]]
    * does, so a `file:` URI store is compacted and healed too; the swaps
    * are renames — an object-store deployment swaps via a manifest/table
    * format instead.
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
    recoverFactStore(spark, factDir)
    val root = new Path(factDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return
    val dayDirs = fs.listStatus(root).toSeq.filter(s =>
      s.isDirectory && s.getPath.getName.startsWith("fact_day=")).map(_.getPath)
    if (dayDirs.isEmpty) {
      // legacy unpartitioned store → migrate to the day-partitioned layout
      val staging = root.suffix("_compacting")
      fs.delete(staging, true)
      val df0 = spark.read.parquet(factDir)
      val df = if (df0.columns.contains("fact_day")) df0
               else df0.withColumn("fact_day", to_date(col("ended_at")))
      df.repartition(col("fact_day"))
        .write.mode("overwrite").partitionBy("fact_day").parquet(staging.toString)
      val old = root.suffix("_old")
      fs.delete(old, true)
      require(fs.rename(root, old), s"compaction: cannot stage out $factDir")
      if (!fs.rename(staging, root)) {
        fs.rename(old, root)
        sys.error(s"compaction swap failed for $factDir; original restored")
      }
      fs.delete(old, true)
      return
    }
    lazy val schema = validSchema(spark)
    dayDirs.foreach { d =>
      val snapshot = dataFiles(fs, d)
      if (snapshot.size > 1) {
        val stg = new Path(root, "_tmp_" + d.getName)
        spark.read.schema(schema).parquet(d.toString).coalesce(1)
          .write.mode("overwrite").parquet(stg.toString)
        if (dataFiles(fs, d) != snapshot) {
          // a concurrent tick appended despite the single-writer contract:
          // the staging copy is stale — discard it, keep the live partition
          fs.delete(stg, true)
        } else {
          val old = new Path(root, "_old_" + d.getName)
          fs.delete(old, true)
          require(fs.rename(d, old), s"compaction: cannot stage out $d")
          if (!fs.rename(stg, d)) {
            fs.rename(old, d)
            sys.error(s"compaction swap failed for $d; partition restored")
          }
          // a file appended in the instant between the re-list above and the
          // rename travelled into the backup — move it into the live
          // partition before dropping the backup, so even that window loses
          // nothing (part-file names are unique, no collision possible)
          (dataFiles(fs, old) -- snapshot).foreach(f =>
            fs.rename(new Path(old, f), new Path(d, f)))
          fs.delete(old, true)
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

  /** One directory of the report tree: `build` makes the report from a
    * context, and [[writeJsonReport]] writes it to the directory,
    * partitioned by `partitionBy`. */
  case class Report(dir: String, partitionBy: Seq[String], build: Context => DataFrame)

  /** The report tree (FIXTURES.md §4 ↔ the files the reference frontend
    * loads, generate_lookup_data.sh), in inventory order: one entry per
    * written directory; the e2e golden test pins this exact set. The
    * per-(player, season) reports are partitioned writes, which replace
    * the reference's players × seasons query loop; the 'lifetime' season
    * partition carries the unscoped series. */
  val reportRegistry: Seq[Report] = Seq(
    // write_meta (:54-91); players.json copy (:56): the dim ships with the site
    Report("meta", Nil, c => c.spark.sql(
      "SELECT unix_millis(current_timestamp()) AS updatedAt")),
    Report("seasons", Nil, c => Reports.seasonsDoc(c.seasons)),
    Report("players", Nil, _.players.toDF()),
    Report("leaderboards", Nil, c => Reports.leaderboards(c.stats)),       // top-10s (:101-349)
    Report("most_wins", Nil, c => Reports.mostWins(c.stats)),              // lifetime (:416-456)
    Report("most_lastplaces", Nil, c => Reports.mostLastPlaces(c.stats)),
    Report("team_leaderboards", Nil, c => Reports.teamStats(c.stats)),     // teams (:478-505)
    Report("recent_matches", Nil, c => Reports.recentMatchesDoc(c.stats, c.modes)), // (:514-581)
    Report("recent_sessions", Nil, c => Reports.recentSessions(c.stats, c.settings)),
    Report("sessions", Seq("player_id"), c => Reports.sessions(c.stats, c.settings)), // :941-961
    Report("season_rollup", Nil, c => Reports.seasonRollup(c.stats, c.seasons)), // (:590-633)
    Report("player_stats", Nil, c =>                                     // season doc (:590-701)
      Reports.playerStatsDoc(c.stats, c.seasons, c.modes, c.categories)),
    // audit (parse_matches.sh:205-221)
    Report("unknown_modes", Nil, c => Normalize.unknownModes(c.valid, c.modes)),
    // per-player series (:707-868)
    Report("time_series", Seq("player_id", "season_id"), c => renameCumalative(
      Reports.timeSeries(
        Reports.perDayBySeason(c.stats, c.seasons, c.settings)
          .withColumn("day", date_format(col("day"), "yyyy-MM-dd")),
        entity = Seq(col("player_id"), col("season_id"))))),
    Report("game_series", Seq("player_id", "season_id"), c => renameCumalative(
      Reports.gameSeriesBySeason(c.stats, c.seasons, settings = c.settings))))

  /** The report tree's directories, in inventory order. */
  val reportInventory: Seq[String] = reportRegistry.map(_.dir)

  /** Materialize the standard report set under `outDir` — one directory
    * per [[reportRegistry]] entry, one per file the reference frontend
    * loads (write_meta + write_leaderboards + per-player loops,
    * generate_lookup_data.sh).
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
    * One `count()` materializes the view and the mode categories are
    * collected on the caller's thread; then the registry's entries run as
    * ONE concurrent wave on a fixed pool of daemon threads named
    * `report-wave-<n>`, `min(entries, defaultParallelism)` of them — the
    * entry count caps the threads where a cluster's parallelism runs to
    * thousands. Spark schedules the wave's jobs side by side, so the small
    * writes (1–19 tasks each) share the cores instead of queueing: the
    * reference's one-sqlite3-process-per-report fan-out (SURVEY §3 E1)
    * without its serial floor. Each pool thread builds its entry's report
    * and writes it under the job description `report <dir>`.
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
      ctx.categories // its collect runs here, outside every `report <dir>`
      runWave(ctx, outDir)
    } finally s.unpersist()
  }

  /** Writes each [[reportRegistry]] entry to `outDir/<dir>` on a bounded
    * pool and waits for all of them; see [[runReports]] for the contract. */
  private def runWave(ctx: Context, outDir: String): Unit = {
    val sc = ctx.spark.sparkContext
    val threads = new ConcurrentLinkedQueue[Thread]()
    val pool = Executors.newFixedThreadPool(
      math.min(reportRegistry.size, sc.defaultParallelism), (r: Runnable) => {
        val t = new Thread(r, s"report-wave-${threads.size + 1}")
        t.setDaemon(true)
        threads.add(t)
        t
      })
    try {
      val pending = reportRegistry.map { report =>
        pool.submit[Unit](() => {
          sc.setJobDescription(s"report ${report.dir}")
          try writeJsonReport(report.build(ctx), s"$outDir/${report.dir}",
            report.partitionBy: _*)
          finally sc.setJobDescription(null)
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
}
