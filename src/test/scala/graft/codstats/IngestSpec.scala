package graft.codstats

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.{Landing, Salt}

/** Streaming file-source ingest (S4 equivalence) and skew-salted
  * aggregation specs. */
class StreamingIngestSpec extends SparkSpec {
  import spark.implicits._

  private def writeDoc(dir: java.nio.file.Path, name: String, matchId: String,
                       uno: String, endSec: Long): Unit =
    Files.writeString(dir.resolve(name),
      s"""{"matchID":"$matchId","utcStartSeconds":${endSec - 100},"utcEndSeconds":$endSec,
         |"gameType":"wz","mode":"br_brtrios","playerCount":150,"teamCount":30,
         |"player":{"uno":"$uno"},
         |"playerStats":{"kills":5,"deaths":2,"damageDone":1000,"damageTaken":500,
         |"teamPlacement":3}}""".stripMargin.replaceAll("\n", ""))

  test("AvailableNow drains the landing dir; restart ingests only new files") {
    val landing = Files.createTempDirectory("graft_landing")
    val out = Files.createTempDirectory("graft_ingested")
    val ckpt = Files.createTempDirectory("graft_ckpt")
    writeDoc(landing, "match_m1_u1.json", "m1", "u1", 1590000000L)
    writeDoc(landing, "match_m1_u2.json", "m1", "u2", 1590000000L)

    def runOnce(): Unit = {
      val raw = spark.readStream.schema(Model.matchSchema).json(landing.toString)
      val valid = Normalize.validGames(raw, Model.seedGameModes.toDS())
      Landing.drain(valid, ckpt.toString) { (batch, _) =>
        batch.write.mode("append").parquet(out.toString)
      }
    }
    runOnce()
    assert(spark.read.parquet(out.toString).count() == 2L)

    // second run: one new file; checkpoint must skip the first two
    writeDoc(landing, "match_m2_u1.json", "m2", "u1", 1590003600L)
    runOnce()
    val rows = spark.read.parquet(out.toString)
    assert(rows.count() == 3L) // no duplicates from re-reading old files
    assert(rows.select("game_id").distinct().as[String].collect().toSet == Set("m1", "m2"))
  }

  test("continuousRun: each tick drains new files and refreshes the report tree") {
    val landing = Files.createTempDirectory("graft_cr_landing")
    val fact = Files.createTempDirectory("graft_cr_fact").toString + "/store"
    val ckpt = Files.createTempDirectory("graft_cr_ckpt")
    val reports = Files.createTempDirectory("graft_cr_reports")
    val players = Seq(
      Model.Player("u1", "p1", is_core = true),
      Model.Player("u2", "p2", is_core = true)).toDS()
    val seasons = Model.seedSeasons.map { case (id, a, b) => Model.Season(id,
      java.sql.Timestamp.from(java.time.Instant.parse(a)),
      java.sql.Timestamp.from(java.time.Instant.parse(b))) }.toDS()
    def tick(): Unit = Pipeline.continuousRun(spark, landing.toString,
      ckpt.toString, fact, reports.toString,
      players, Model.seedGameModes.toDS(), seasons)

    writeDoc(landing, "match_m1_u1.json", "m1", "u1", 1590000000L)
    writeDoc(landing, "match_m1_u2.json", "m1", "u2", 1590000000L)
    tick()
    assert(spark.read.parquet(fact).count() == 2L)
    val lb1 = spark.read.json(s"$reports/leaderboards")
    assert(lb1.filter(col("metric") === "kills").count() == 2L)

    // next cron tick: two new games arrive — m3 on day 1, m2 on day 2 —
    // and m1/u1 is RE-DELIVERED under a fresh filename, which the
    // store-key anti-join must drop (INSERT OR IGNORE semantics)
    writeDoc(landing, "match_m2_u1.json", "m2", "u1", 1590090000L) // day 2
    writeDoc(landing, "match_m3_u2.json", "m3", "u2", 1590007200L) // day 1
    writeDoc(landing, "match_m1_u1_redelivered.json", "m1", "u1", 1590000000L)
    tick()
    assert(spark.read.parquet(fact).count() == 4L) // not 5: no duplicate
    val rm = spark.read.json(s"$reports/recent_matches")
    assert(rm.select("game_id").as[String].collect().toSet == Set("m1", "m2", "m3"))

    // a quiet tick (no new files) still refreshes the report tree
    val metaBefore = spark.read.json(s"$reports/meta")
      .select("updatedAt").as[Long].head()
    tick()
    val metaAfter = spark.read.json(s"$reports/meta")
      .select("updatedAt").as[Long].head()
    assert(metaAfter >= metaBefore)
    assert(spark.read.parquet(fact).count() == 4L)

    // compaction: day 1 now holds two files (one per tick); day 2 one.
    // After compaction BOTH day partitions hold one file, rows identical.
    def dataFiles() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(fact)).filter(_.getName.endsWith(".parquet"))
    }
    val before = spark.read.parquet(fact).orderBy("game_id", "player_uno_id")
      .collect().toSeq
    val perDayBefore = dataFiles().groupBy(_.getParentFile.getName)
    assert(perDayBefore.size == 2 && perDayBefore.values.exists(_.size > 1),
      "fixture must span two days with one multi-file partition")
    Pipeline.compactFactStore(spark, fact)
    val after = spark.read.parquet(fact).orderBy("game_id", "player_uno_id")
      .collect().toSeq
    assert(after == before)
    val perDay = dataFiles().groupBy(_.getParentFile.getName)
    assert(perDay.size == 2 && perDay.values.forall(_.size == 1))
  }

  test("continuousRun: a first tick with no data still writes the dim reports") {
    val landing = Files.createTempDirectory("graft_e_landing")
    val fact = Files.createTempDirectory("graft_e_fact").toString + "/store"
    val ckpt = Files.createTempDirectory("graft_e_ckpt")
    val reports = Files.createTempDirectory("graft_e_reports")
    val players = Seq(Model.Player("u1", "p1", is_core = true)).toDS()
    val seasons = Model.seedSeasons.map { case (id, a, b) => Model.Season(id,
      java.sql.Timestamp.from(java.time.Instant.parse(a)),
      java.sql.Timestamp.from(java.time.Instant.parse(b))) }.toDS()
    def tick(): Unit = Pipeline.continuousRun(spark, landing.toString,
      ckpt.toString, fact, reports.toString,
      players, Model.seedGameModes.toDS(), seasons)
    tick() // nothing landed yet
    // no data-less store that would break the next tick's schema inference
    assert(!new java.io.File(fact).exists())
    // the fact-free reports exist: meta.updatedAt reflects this run
    assert(spark.read.json(s"$reports/meta").select("updatedAt").as[Long].head() > 0L)
    assert(spark.read.json(s"$reports/seasons").count() > 0L)
    assert(spark.read.json(s"$reports/players").count() == 1L)
    // the same checkpoint then ingests a real batch cleanly
    writeDoc(landing, "match_m1_u1.json", "m1", "u1", 1590000000L)
    tick()
    assert(spark.read.parquet(fact).count() == 1L)
  }

  test("continuousRun: two copies of one document in the same tick append once") {
    val landing = Files.createTempDirectory("graft_d_landing")
    val fact = Files.createTempDirectory("graft_d_fact").toString + "/store"
    val ckpt = Files.createTempDirectory("graft_d_ckpt")
    val reports = Files.createTempDirectory("graft_d_reports")
    val players = Seq(Model.Player("u1", "p1", is_core = true)).toDS()
    val seasons = Model.seedSeasons.map { case (id, a, b) => Model.Season(id,
      java.sql.Timestamp.from(java.time.Instant.parse(a)),
      java.sql.Timestamp.from(java.time.Instant.parse(b))) }.toDS()
    def tick(): Unit = Pipeline.continuousRun(spark, landing.toString,
      ckpt.toString, fact, reports.toString,
      players, Model.seedGameModes.toDS(), seasons)
    // first tick: no store yet, so only the in-batch dedup can drop the copy
    writeDoc(landing, "match_m1_u1.json", "m1", "u1", 1590000000L)
    writeDoc(landing, "match_m1_u1_copy.json", "m1", "u1", 1590000000L)
    tick()
    assert(spark.read.parquet(fact).count() == 1L)
    // later tick: the store anti-join runs too, on the deduplicated batch
    writeDoc(landing, "match_m2_u1.json", "m2", "u1", 1590003600L)
    writeDoc(landing, "match_m2_u1_copy.json", "m2", "u1", 1590003600L)
    tick()
    val keys = spark.read.parquet(fact).select("game_id").as[String].collect()
    assert(keys.sorted.toSeq == Seq("m1", "m2"))
  }

  test("recoverFactStore drops whole-store leftovers once the swap completed") {
    val base = Files.createTempDirectory("graft_rec").toString
    val dir = base + "/store"
    Seq(("g1", "u1")).toDF("game_id", "player_uno_id").write.parquet(dir)
    // simulate a crash after the swap finished but before cleanup
    val old = new java.io.File(dir + "_old")
    val compacting = new java.io.File(dir + "_compacting")
    old.mkdirs(); compacting.mkdirs()
    Files.writeString(old.toPath.resolve("stale"), "x")
    Files.writeString(compacting.toPath.resolve("stale"), "x")
    Pipeline.recoverFactStore(spark, dir)
    assert(!old.exists() && !compacting.exists())
    assert(spark.read.parquet(dir).count() == 1L) // live store untouched
  }

  /** Data files per day partition of the store under `dir`. */
  private def filesPerDay(dir: java.nio.file.Path): Map[String, Int] =
    Files.list(dir).iterator().asScala.filter(_.getFileName.toString.startsWith("fact_day="))
      .map(d => d.getFileName.toString ->
        Files.list(d).iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")))
      .toMap

  test("compaction of a store given as a file: URI leaves one file per day") {
    val tmp = Files.createTempDirectory("graft_uri_compact")
    val landing = Files.createDirectory(tmp.resolve("landing"))
    val store = tmp.resolve("store").toUri.toString
    assert(store.startsWith("file:"))
    val players = Seq(Model.Player("u1", "p1", is_core = true)).toDS()
    val seasons = Model.seedSeasons.map { case (id, a, b) => Model.Season(id,
      java.sql.Timestamp.from(java.time.Instant.parse(a)),
      java.sql.Timestamp.from(java.time.Instant.parse(b))) }.toDS()
    def tick(): Unit = Pipeline.continuousRun(spark, landing.toString,
      s"$tmp/ckpt", store, s"$tmp/reports",
      players, Model.seedGameModes.toDS(), seasons)
    writeDoc(landing, "match_m1_u1.json", "m1", "u1", 1590000000L)
    tick()
    writeDoc(landing, "match_m2_u1.json", "m2", "u1", 1590003600L) // same day
    writeDoc(landing, "match_m3_u1.json", "m3", "u1", 1590090000L) // next day
    tick()
    val before = spark.read.parquet(store).orderBy("game_id").collect().toSeq
    assert(filesPerDay(tmp.resolve("store")) ==
      Map("fact_day=2020-05-20" -> 2, "fact_day=2020-05-21" -> 1))
    val jobs = jobsStarted(Pipeline.compactFactStore(spark, store))
    assert(filesPerDay(tmp.resolve("store")) ==
      Map("fact_day=2020-05-20" -> 1, "fact_day=2020-05-21" -> 1))
    assert(spark.read.parquet(store).orderBy("game_id").collect().toSeq == before)
    // the day is read with its declared schema: no footer-schema job, which
    // runs while a read is built, outside any SQL execution (the rewrite
    // runs inside its own)
    val inference = jobs.filter(j =>
      Option(j.properties).forall(_.getProperty("spark.sql.execution.id") == null))
      .flatMap(_.stageInfos.map(_.name)).filter(_.startsWith("parquet at Pipeline"))
    assert(inference.isEmpty, inference)
  }

  test("compaction migrates a legacy unpartitioned store to the day layout") {
    val dir = Files.createTempDirectory("graft_legacy").toString + "/store"
    def ts(sec: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))
    val legacy = Seq(
      ("g1", "u1", ts(1590000000L), 5.0),
      ("g2", "u1", ts(1590090000L), 2.0))
      .toDF("game_id", "player_uno_id", "ended_at", "kills")
    legacy.write.parquet(dir)
    Pipeline.compactFactStore(spark, dir)
    val migrated = spark.read.parquet(dir)
    assert(migrated.columns.contains("fact_day"))
    assert(migrated.count() == 2L)
    val days = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("fact_day=")).map(_.getName).toSet
    assert(days == Set("fact_day=2020-05-20", "fact_day=2020-05-21"))
  }
}

class SaltSpec extends SparkSpec {
  import spark.implicits._

  test("two-phase salted aggregation equals the direct aggregation") {
    // skewed: key 1 has 1000 rows, others 10
    val rows = (1 to 1000).map(i => (1L, i.toLong)) ++
      (1 to 10).flatMap(i => Seq((2L, i.toLong), (3L, i.toLong)))
    val df = rows.toDF("k", "v")
    val direct = df.groupBy($"k")
      .agg(sum($"v").as("s"), count(lit(1)).as("n"), max($"v").as("m"))
      .orderBy($"k").as[(Long, Long, Long, Long)].collect().toSeq
    val salted = Salt.saltedAgg(df, Seq(col("k")), col("v"), 8,
        partials = Seq(sum($"v").as("ps"), count(lit(1)).as("pn"), max($"v").as("pm")),
        merges = Seq(sum($"ps").as("s"), sum($"pn").as("n"), max($"pm").as("m")))
      .orderBy($"k").as[(Long, Long, Long, Long)].collect().toSeq
    assert(salted == direct)
  }
}
