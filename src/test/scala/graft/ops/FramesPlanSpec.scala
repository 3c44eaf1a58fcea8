package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Both Frames functions put every frame of every measure in ONE logical
  * `Window`, one sort per series, and keep the column names and order the
  * series reports are written with. Built as a fold of `withColumn` calls,
  * the same series plans 7 `Window`s (`rollingSumsAndAvgs`) and 36
  * (`smoothedAndCumulative`): a measure that is an expression rather than a
  * plain column keeps adjacent windows from collapsing. */
class FramesPlanSpec extends SparkSpec {
  import spark.implicits._

  private def windows(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case w: Window => w }.size

  private val sumNames = Seq("matches_played", "kills", "deaths", "gulag_kills",
    "gulag_deaths", "headshots", "damage_done", "distance_traveled", "monsters",
    "gooseeggs")
  private val avgNames = Seq("kd_ratio", "score_per_minute")

  /** A 12-measure series: 10 summed + 2 averaged measures, two entity keys. */
  private lazy val series: DataFrame = {
    val rows = for (p <- 1 to 3; i <- 1 to 30) yield (s"p$p", "s1", i.toLong, i * p)
    val base = rows.toDF("player_id", "season_id", "t", "v")
    base.select(col("player_id") +: col("season_id") +: col("t") +:
      (sumNames ++ avgNames).zipWithIndex.map { case (n, j) =>
        (col("v") + j).cast("double").as(n) }: _*)
  }

  /** The game series' measures: a constant and two flag expressions among
    * the plain columns, as `Reports.gameSeries` passes them. */
  private val sumMeasures = sumNames.map {
    case "matches_played" => "matches_played" -> lit(1L).cast("double")
    case "monsters" => "monsters" -> when(col("kills") >= 20.0, 1L).otherwise(0L).cast("double")
    case "gooseeggs" => "gooseeggs" -> when(col("kills") === 0.0, 1L).otherwise(0L).cast("double")
    case n => n -> col(n)
  }

  test("rollingSumsAndAvgs: 12 measures x k in {10,25} share one Window, columns in emission order") {
    val out = Frames.rollingSumsAndAvgs(series, Seq(col("player_id"), col("season_id")),
      col("t"), sumMeasures, avgNames.map(n => n -> col(n)), Seq(10, 25))
    assert(windows(out) == 1)
    val want = series.columns.toSeq ++
      sumNames.flatMap(n => Seq(s"${n}_s10", s"${n}_s25", s"${n}_cum")) ++
      avgNames.flatMap(n => Seq(s"${n}_a10", s"${n}_a25", s"${n}_cuma"))
    assert(out.columns.toSeq == want)
    // p1's kills are t + 1: at t = 12 the trailing 10 rows hold 4..13
    val row = out.filter(col("player_id") === "p1" && col("t") === 12L)
      .select("kills_s10", "kills_cum", "matches_played_s25", "monsters_cum",
        "kd_ratio_a25").as[(Double, Double, Double, Double, Double)].head()
    assert(row == ((4 to 13).sum.toDouble, (2 to 13).sum.toDouble, 12.0, 0.0,
      (11 to 22).sum.toDouble / 12))
  }

  test("smoothedAndCumulative: 12 measures x k in {10,25} share one Window, columns in emission order") {
    val measures = (sumNames ++ avgNames).map(n => n -> col(n).cast("long"))
    val out = Frames.smoothedAndCumulative(series, col("player_id"), col("t"),
      measures, Seq(10, 25), 100.0)
    assert(windows(out) == 1)
    val want = series.columns.toSeq ++
      measures.flatMap { case (n, _) => Seq(s"${n}_sma10", s"${n}_sma25", s"${n}_cum") }
    assert(out.columns.toSeq == want)
  }
}
