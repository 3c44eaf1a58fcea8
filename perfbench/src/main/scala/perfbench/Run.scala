package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.codstats.{Normalize, Pipeline, Reports}
import graft.codstats.Model._

import Main._
import Run._

object Run {
  final case class Dims(players: Dataset[Player], modes: Dataset[GameMode],
                        seasons: Dataset[Season])

  final class Dirs(root: File) {
    val landing = new File(root, "landing"); landing.mkdirs()
    val checkpoint = new File(root, "checkpoint")
    val store = new File(root, "store")
    val reports = new File(root, "reports")
  }
}

/** Workload sizes, fixed so every seed does the same amount of work. */
object Sizes {
  /** cron_steady: valid fact rows of history in the store before the run. */
  val historyRows = 4000
  /** cron_steady: one-document files landed before each tick. */
  val burstDocs = 400
  /** cron_steady: share of a burst that re-delivers documents landed by
    * earlier ticks. */
  val redeliveryShare = 0.05
  /** query_ledger: passes over the queries, all timed; the first is every
    * query's cold execution. */
  val ledgerPasses = 2
}

/** One benchmark run: set-up, the timed loop, output checks and, when
  * traced, the per-layer numbers. */
final class Run(spark: SparkSession, a: Args) {
  import spark.implicits._

  val sessionReadyMs: Long = System.currentTimeMillis()
  private val spans = new Spans
  private val counters = new SparkCounters
  private val ingest = new IngestCounters
  private val phases = new PhaseCounters
  private val ops = mutable.ArrayBuffer.empty[Op]
  /** The traced run's layer numbers. */
  private val layer = mutable.LinkedHashMap.empty[String, Double]
  private val sentinelStart = if (a.trace) Sentinel.best() else 0.0

  def writeSpans(path: String): Unit = spans.write(path)

  private def arm(): Unit = {
    phases.drain()
    spark.sparkContext.addSparkListener(counters)
    spark.streams.addListener(ingest)
    spark.listenerManager.register(phases)
  }
  private def disarm(): Unit = {
    org.apache.spark.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(counters)
    spark.streams.removeListener(ingest)
    spark.listenerManager.unregister(phases)
  }
  private def traced[T](body: => T): T = { arm(); try body finally disarm() }

  private def now(): Long = System.currentTimeMillis()
  private def fail(what: String, e: Throwable): Unit =
    System.err.println(s"[perfbench] $what failed: ${e.getClass.getSimpleName}: ${e.getMessage}")

  /** Runs `timed` once, traced when tracing, between its untimed
    * `prepare` and `check`. */
  private def operation(prepare: => Unit)(timed: => Unit)(check: => Boolean): Unit = {
    prepare
    if (a.trace) arm()
    val w0 = now(); val t0 = System.nanoTime()
    val ran = try { timed; true } catch { case e: Throwable => fail("operation", e); false }
    val sec = (System.nanoTime() - t0) / 1e9
    val w1 = now()
    if (a.trace) disarm()
    val ok = ran && (try check catch { case e: Throwable => fail("check", e); false })
    ops += Op(w0, w1, sec, ok)
    System.err.println(f"[perfbench] operation: $sec%.3f s${if (ok) "" else " FAILED"}")
  }

  private def outcome(setupS: Double, runS: Double, opP50S: Double): Outcome = {
    val layers =
      if (!a.trace) Nil
      else {
        (layer ++ Seq("host.sentinel_start_s" -> sentinelStart,
          "host.sentinel_end_s" -> Sentinel.best())).map { case (n, v) =>
          Metric(n, v, Layers.all.find(_._1 == n).map(_._2).getOrElse("count"))
        }
      }
    Outcome(setupS, runS, opP50S, ops.toSeq, layers.toSeq)
  }

  // ---- the codstats pipeline ----------------------------------------------

  private def dims(gen: Gen): Dims = Dims(
    gen.accounts.map(x => Player(x.uno, x.playerId, x.isCore)).toDS(),
    seedGameModes.toDS(),
    seedSeasons.map { case (id, s, e) => Season(id,
      java.sql.Timestamp.from(java.time.Instant.parse(s)),
      java.sql.Timestamp.from(java.time.Instant.parse(e))) }.toDS())

  private def land(d: Dirs, docs: Seq[Gen.Doc]): Unit =
    docs.foreach(doc => Files.write(new File(d.landing, doc.fileName).toPath, doc.json.getBytes("UTF-8")))

  private def tick(d: Dirs, dm: Dims): Unit =
    Pipeline.continuousRun(spark, d.landing.getPath, d.checkpoint.getPath, d.store.getPath,
      d.reports.getPath, dm.players, dm.modes, dm.seasons)

  private def context(d: Dirs, dm: Dims): Pipeline.Context =
    Pipeline.Context(spark, spark.read.parquet(d.store.getPath).drop("fact_day"),
      dm.players, dm.modes, dm.seasons, Settings())

  /** Store rows as keys; the check needs both the set and the row count. */
  private def storeKeys(d: Dirs): Seq[(String, String)] =
    spark.read.parquet(d.store.getPath).select("game_id", "player_uno_id")
      .as[(String, String)].collect().toSeq

  private def snapshot(dir: File): Map[String, Long] =
    dataFiles(dir).map(f => f.getPath -> f.length).toMap

  /** The output checks of one cron operation: the store holds exactly the
    * generator's valid keys, once each, and the report tree has exactly
    * the inventory's directories. */
  private def cronCheck(d: Dirs, gen: Gen): Boolean = {
    val keys = storeKeys(d)
    val want = gen.expectedKeys
    val dirs = Option(d.reports.listFiles()).map(_.toSeq).getOrElse(Nil)
      .filter(f => f.isDirectory && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(_.getName).toSet
    val okKeys = keys.size == want.size && keys.toSet == want
    val okDirs = dirs == Pipeline.reportInventory.toSet
    if (!okKeys) System.err.println(s"[perfbench] store keys: ${keys.size} rows, " +
      s"${keys.toSet.size} distinct, want ${want.size}")
    if (!okDirs) System.err.println(s"[perfbench] report dirs $dirs")
    okKeys && okDirs
  }

  /** Normalize and dedup measured apart, over the files in `docs`, against
    * `store`: the copy of the store taken before the tick. Runs after the
    * timed tick, so it does not warm the tick's parse path. */
  private def normalizeProbe(d: Dirs, dm: Dims, docs: Seq[Gen.Doc], store: File): Unit = traced {
    val paths = docs.map(x => new File(d.landing, x.fileName).getPath)
    val valid = spans("normalize", -1) {
      val raw = spark.read.option("wholetext", "true").text(paths: _*)
      val v = Normalize.validGames(Normalize.parse(raw, "value"), dm.modes).localCheckpoint()
      layer("normalize.rows_valid") = v.count().toDouble
      v
    }
    layer("normalize.s") = spans.seconds("normalize")
    val fresh = spans("dedup", -1) {
      Normalize.newGamesOnly(valid, spark.read.parquet(store.getPath)).count()
    }
    layer("dedup.s") = spans.seconds("dedup")
    layer("dedup.rows_dropped") = layer("normalize.rows_valid") - fresh
  }

  /** Each report family and its sink write, called one by one as
    * `Pipeline.runReports` calls them, the report materialized first so
    * the write is timed on its own; together they are the `reports.*`
    * rebuild measurement. */
  private def reportProbe(d: Dirs, dm: Dims, root: File): Unit = traced {
    val ctx = context(d, dm)
    val s = ctx.stats
    val out = new File(root, "reports_probe").getPath
    def timed(name: String, partitionBy: String*)(df: => DataFrame): Unit =
      spans(s"report.$name", -1) {
        val m = df.localCheckpoint()
        spans("sink.write", -1) {
          if (partitionBy.isEmpty) Pipeline.writeJsonReport(m, s"$out/$name")
          else m.write.mode("overwrite").partitionBy(partitionBy: _*).json(s"$out/$name")
        }
      }
    timed("meta")(spark.sql("SELECT unix_millis(current_timestamp()) AS updatedAt"))
    timed("seasons")(Reports.seasonsDoc(ctx.seasons))
    timed("players")(ctx.players.toDF())
    timed("leaderboards")(Reports.leaderboards(s))
    timed("most_wins")(Reports.mostWins(s))
    timed("most_lastplaces")(Reports.mostLastPlaces(s))
    timed("team_leaderboards")(Reports.teamStats(s))
    timed("recent_matches")(Reports.recentMatchesDoc(s, ctx.modes))
    timed("recent_sessions")(Reports.recentSessions(s, ctx.settings))
    timed("season_rollup")(Reports.seasonRollup(s, ctx.seasons))
    timed("player_stats") {
      val categories = ctx.modes.select(col("category")).distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      Reports.playerStatsDoc(s, ctx.seasons, ctx.modes, categories)
    }
    timed("unknown_modes")(Normalize.unknownModes(ctx.valid, ctx.modes))
    timed("sessions", "player_id")(Reports.sessions(s, ctx.settings))
    timed("time_series", "player_id", "season_id") {
      val daily = Reports.perDayBySeason(s, ctx.seasons, ctx.settings)
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
      Reports.timeSeries(daily, entity = Seq(col("player_id"), col("season_id")))
    }
    timed("game_series", "player_id", "season_id")(
      Reports.gameSeriesBySeason(s, ctx.seasons, settings = ctx.settings))
    Layers.reportDirs.foreach(r => layer(s"report.$r.s") = spans.seconds(s"report.$r"))
    layer("sink.write_s") = spans.seconds("sink.write")
    val w = Layers.reportDirs.flatMap(r => spans.windows(s"report.$r"))
    layer("reports.s") = w.map { case (x, y) => y - x }.sum / 1e3
    layer("reports.jobs") = counters.jobsIn(w).size
    layer("reports.store_scans") = counters.sqlIn(w).map(e =>
      e.plan.split('\n').count(l => l.contains("Location") && l.contains(d.store.getPath))).sum
  }

  /** The layer numbers of one traced cron operation. */
  private def cronOpLayers(d: Dirs, before: Map[String, Long],
                           afterTick: Map[String, Long], rowsBefore: Long,
                           rowsAfter: Long): Map[String, Double] = {
    val w = (spans.windows("tick").last._1, spans.windows("compact").last._2)
    val after = snapshot(d.store)
    val tickWrites = afterTick.filter { case (p, _) => !before.contains(p) }
    val compactWrites = after.filter { case (p, _) => !afterTick.contains(p) }
    val written = tickWrites.values.sum + compactWrites.values.sum
    val batches = ingest.in(Seq(w))
    val rowsIn = batches.map(_.rows).sum
    val report = dataFiles(d.reports)
    val mb = (b: Long) => b / 1048576.0
    Map(
      "ingest.batches" -> batches.count(_.rows > 0).toDouble,
      "ingest.list_s" -> batches.map(_.listMs).sum / 1e3,
      "ingest.batch_s" -> batches.map(_.addMs).sum / 1e3,
      "ingest.rows_in" -> rowsIn.toDouble,
      "ingest.useful_ratio" -> Stats.ratio(rowsAfter - rowsBefore, rowsIn),
      "store.files" -> after.size.toDouble,
      "store.day_partitions" -> after.keys.map(p => new File(p).getParent).toSet.size.toDouble,
      "store.write_files" -> (tickWrites.size + compactWrites.size).toDouble,
      "store.write_mb" -> mb(written),
      "store.write_amp" -> Stats.ratio(written, after.values.sum),
      "store.mb" -> mb(after.values.sum),
      "compact.s" -> spans.seconds("compact"),
      "compact.rewritten_mb" -> mb(compactWrites.values.sum),
      "reports.scan_files" -> afterTick.size.toDouble,
      "sink.files" -> report.size.toDouble,
      "sink.mb" -> mb(bytes(report))) ++
      phases.drain() ++ counters.executionMetrics(Seq(w)).map(m => m._1 -> m._2)
  }

  def cronSteady(): Outcome = {
    val t0 = System.nanoTime()
    val gen = new Gen(a.seed)
    val dm = dims(gen)
    val root = new File(a.work, "cron_steady")
    val d = new Dirs(root)
    // the store as earlier compacted runs left it: history through
    // Normalize, one parquet file per day partition
    val history = gen.history(Sizes.historyRows).map(_.json).toDF("json")
    Normalize.validGames(Normalize.parse(history), dm.modes)
      .withColumn("fact_day", to_date(col("ended_at")))
      .repartition(col("fact_day"))
      .write.partitionBy("fact_day").parquet(d.store.getPath)
    val setupS = (System.nanoTime() - t0) / 1e9

    // one tick with its compaction, whatever --seconds says: the tick is
    // the first in a fresh JVM, as in the reference's cron, and a second
    // one would be warm and run on a bigger store
    val burst = gen.burst(Sizes.burstDocs, Sizes.redeliveryShare)
    val preTick = new File(root, "store_pre_tick")
    var before, afterTick = Map.empty[String, Long]
    operation {
      land(d, burst)
      if (a.trace) {
        copyTree(d.store, preTick)
        before = snapshot(d.store)
      }
    } {
      spans("tick", 0)(tick(d, dm))
      if (a.trace) afterTick = snapshot(d.store)
      spans("compact", 0)(Pipeline.compactFactStore(spark, d.store.getPath))
    } {
      val ok = cronCheck(d, gen)
      // compaction leaves one data file per day partition
      val compacted = dataFiles(d.store).groupBy(_.getParent).values.forall(_.size == 1)
      if (!compacted) System.err.println("[perfbench] a day partition kept several files")
      if (a.trace) {
        layer ++= cronOpLayers(d, before, afterTick, spark.read.parquet(preTick.getPath).count(),
          spark.read.parquet(d.store.getPath).count())
        normalizeProbe(d, dm, burst, preTick)
      }
      ok && compacted
    }
    if (a.trace) reportProbe(d, dm, root)
    println(s"report digest ${reportDigest(d.reports)}")
    // a failed tick contributes no time
    val tickS = ops.filter(_.ok).map(_.seconds).headOption.getOrElse(0.0)
    outcome(setupS, tickS, tickS)
  }

  // ---- the query inventory ------------------------------------------------

  def queryLedger(): Outcome = {
    val t0 = System.nanoTime()
    val dir = new File(a.data, "sf0.01").getPath
    val expected = Expected.rows(new File(a.data, "expected_rows.json"))
    val fns = graft.SparkEntry.queries
    val order = {
      val rng = new java.util.Random(a.seed)
      val xs = mutable.ArrayBuffer.from(Layers.ledgerQueries)
      for (i <- xs.indices.reverse.dropRight(1)) {
        val j = rng.nextInt(i + 1); val t = xs(i); xs(i) = xs(j); xs(j) = t
      }
      xs.toSeq
    }
    def release(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    /** One execution, as graft.Bench times it: construct, then run the full
      * plan. Returns (rows, construct window, Catalyst phase ms). */
    def execute(q: String, op: Int): (Long, (Long, Long), Map[String, Long]) = {
      val c0 = now()
      val qe = spans("construct", op)(fns(q)(spark, dir)).queryExecution
      val c1 = now()
      val n = spans("execute", op)(qe.toRdd.count())
      (n, (c0, c1), qe.tracker.phases.map { case (k, v) => k -> v.durationMs }.toMap)
    }
    val setupS = (System.nanoTime() - t0) / 1e9

    // passes in seed order; the first is every query's cold execution
    var pass = 0
    val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val tracedLayers = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    while (pass < Sizes.ledgerPasses) {
      var passSeconds = 0.0
      order.foreach { q =>
        if (a.trace) arm()
        val w0 = now(); val s0 = System.nanoTime()
        val res = try Some(execute(q, ops.size)) catch { case e: Throwable => fail(q, e); None }
        val sec = (System.nanoTime() - s0) / 1e9
        val w1 = now()
        if (a.trace) disarm()
        val ok = res.exists(_._1 == expected(q))
        if (res.isDefined && !ok)
          System.err.println(s"[perfbench] $q: ${res.get._1} rows, want ${expected(q)}")
        ops += Op(w0, w1, sec, ok)
        passSeconds += sec
        if (ok) times.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += sec
        if (a.trace) res.foreach { case (_, cw, phases) =>
          tracedLayers("query.construct_s") += (cw._2 - cw._1) / 1e3
          tracedLayers("query.construct_jobs") += counters.jobsIn(Seq(cw)).size
          tracedLayers("catalyst.analysis_s") += phases.getOrElse("analysis", 0L) / 1e3
          tracedLayers("catalyst.optimization_s") += phases.getOrElse("optimization", 0L) / 1e3
          tracedLayers("catalyst.planning_s") += phases.getOrElse("planning", 0L) / 1e3
        }
        release()
      }
      System.err.println(f"[perfbench] pass $pass%d: $passSeconds%.3f s")
      pass += 1
    }
    if (a.trace) {
      val ws = ops.map(o => (o.startMs, o.endMs)).toSeq
      val isTables = (j: SparkCounters.Job) => j.callSite.contains("graft.Tables")
      tracedLayers("tables.schema_jobs") = counters.jobsIn(ws).count(isTables)
      tracedLayers("tables.schema_s") = counters.jobSeconds(ws, isTables)
      counters.executionMetrics(ws).foreach { case (n, v, _) => tracedLayers(n) = v }
      layer ++= tracedLayers
      times.foreach { case (q, xs) => layer(s"query.${q.takeWhile(_ != '_')}.s") = Stats.median(xs.toSeq) }
      writeResults(fns, dir)
    }
    // run_s: both passes, the cold one included (a warm pass alone, after
    // an untimed cold one, spread more between runs)
    val perQuery = times.values.map(xs => Stats.median(xs.toSeq)).toSeq
    outcome(setupS, times.values.map(_.sum).sum,
      if (perQuery.isEmpty) 0.0 else Stats.median(perQuery))
  }

  /** Every ledger query's rows as parquet, plus its DuckDB twin's SQL, for
    * the value comparison `tools/check_oracle.py` makes after a traced run. */
  private def writeResults(fns: Map[String, (SparkSession, String) => DataFrame],
                           dir: String): Unit = {
    val out = new File(a.work, "results")
    Layers.ledgerQueries.foreach { q =>
      try fns(q)(spark, dir).write.mode("overwrite").parquet(new File(out, q).getPath)
      catch { case e: Throwable => fail(s"writing $q", e) }
    }
    out.mkdirs()
    Files.write(new File(out, "oracle_sql.json").toPath, OracleSql.json.getBytes("UTF-8"))
  }
}

/** The committed row count of each ledger query, derived once from DuckDB. */
object Expected {
  private val entry = "\"([a-z0-9_]+)\"\\s*:\\s*(\\d+)".r

  def rows(f: File): Map[String, Long] = {
    val text = new String(Files.readAllBytes(f.toPath), "UTF-8")
    entry.findAllMatchIn(text).map(m => m.group(1) -> m.group(2).toLong).toMap
      .withDefaultValue(-2L)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
