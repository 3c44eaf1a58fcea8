package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops._

/** Core relational + window query inventory (SURVEY.md §2.2–§2.7) expressed
  * over the driver's TPC-H-ish test tables, each with a DuckDB oracle twin.
  *
  * Numeric outputs follow [[Exact]]: integer-exact aggregation, one final
  * IEEE division → bit-identical DOUBLEs across engines. Every query ends in
  * a total ORDER BY (unique tiebreak) mirrored in the oracle.
  */
object QueriesCore {
  import Exact.{sql => X}

  type Q = (SparkSession, String) => DataFrame

  // --- q01: multi-measure group agg (A1/A8; TPC-H Q1 shape) -----------------
  private val q01: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Exact.sumMoney(col("l_quantity")).as("sum_qty"),
        Exact.sumMoney(col("l_extendedprice")).as("sum_base_price"),
        Exact.sumRev4(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
        Exact.avgMoney(col("l_quantity")).as("avg_qty"),
        Exact.avgMoney(col("l_extendedprice")).as("avg_price"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }
  private val q01Sql =
    s"""SELECT l_returnflag, l_linestatus,
       |${X.sumMoney("l_quantity")} AS sum_qty,
       |${X.sumMoney("l_extendedprice")} AS sum_base_price,
       |${X.sumRev4("l_extendedprice", "l_discount")} AS sum_disc_price,
       |${X.avgMoney("l_quantity")} AS avg_qty,
       |${X.avgMoney("l_extendedprice")} AS avg_price,
       |CAST(COUNT(*) AS BIGINT) AS n_rows
       |FROM lineitem GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // --- q02: global top-k by aggregate (T1) ----------------------------------
  private val q02: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val agg = o.groupBy(col("o_custkey"))
      .agg(Exact.sumMoney(col("o_totalprice")).as("total_spend"),
           count(lit(1)).as("n_orders"))
    TopK.global(agg, 10, desc("total_spend"), col("o_custkey"))
  }
  private val q02Sql =
    s"""SELECT o_custkey, ${X.sumMoney("o_totalprice")} AS total_spend,
       |CAST(COUNT(*) AS BIGINT) AS n_orders
       |FROM orders GROUP BY o_custkey
       |ORDER BY total_spend DESC, o_custkey LIMIT 10""".stripMargin

  // --- q03: star joins fact→dims, broadcast (J1/J2) -------------------------
  private val q03: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        Exact.sumMoney(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"))
      .orderBy(col("r_name"), col("n_name"))
  }
  private val q03Sql =
    s"""SELECT r_name, n_name, ${X.sumMoney("o_totalprice")} AS revenue,
       |CAST(COUNT(*) AS BIGINT) AS n_orders,
       |CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
       |FROM orders
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  // --- q04: conditional aggregation (A2) -------------------------------------
  private val q04: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    o.groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_finished"),
        sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("n_open"),
        sum(when(col("o_totalprice") > 200000.0, 1L).otherwise(0L)).as("n_high_value"))
      .orderBy(col("o_orderpriority"))
  }
  private val q04Sql =
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
      |CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
      |CAST(SUM(CASE WHEN o_totalprice > 200000.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_value
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // --- q05: per-day rollup (A3/P8) -------------------------------------------
  private val q05: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    e.groupBy(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(
        count(lit(1)).as("n_events"),
        Exact.sumMoney(col("value")).as("sum_value"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"),
        max(col("value")).as("max_value"))
      .orderBy(col("user_id"), col("day"))
  }
  private val q05Sql =
    s"""SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
       |CAST(COUNT(*) AS BIGINT) AS n_events,
       |${X.sumMoney("value")} AS sum_value,
       |CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
       |MAX(value) AS max_value
       |FROM events GROUP BY user_id, strftime(ts, '%Y-%m-%d')
       |ORDER BY user_id, day""".stripMargin

  // --- q06: gap sessionization, one window pass (W1–W4/J4) -------------------
  private val q06: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    Sessionize
      .sessions(e, col("user_id"), col("ts"), col("event_id"), 7200L,
                Exact.cents(col("value")))
      .orderBy(col("user_id"), col("session_seq"))
  }
  private val q06Sql =
    s"""WITH d AS (
       |  SELECT user_id, ts, event_id, value,
       |    CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
       |           OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w >= CAST(7200 AS BIGINT) * 1000000 THEN 1
       |         ELSE 0 END AS new_s
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |), t AS (
       |  SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
       |  FROM d
       |)
       |SELECT user_id, session_seq, CAST(COUNT(*) AS BIGINT) AS n_events,
       |  MIN(epoch_us(ts)) AS start_us, MAX(epoch_us(ts)) AS end_us,
       |  ${X.sumMoney("value")} AS sum_value
       |FROM t GROUP BY user_id, session_seq
       |ORDER BY user_id, session_seq""".stripMargin

  // --- q07: gaps-and-islands streaks, global top-10 (W6/T2) ------------------
  private val q07: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val st = Streaks.streaks(e, col("user_id"), col("event_type"), col("ts"),
                             col("event_id"))
      .select(col("user_id"), col("event_type"), col("streak_len"),
              col("start_us"), col("end_us"))
    TopK.global(st, 10, desc("streak_len"), col("user_id"), col("start_us"))
  }
  private val q07Sql =
    """WITH i AS (
      |  SELECT user_id, event_type, ts,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |  - ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS island
      |  FROM events
      |), st AS (
      |  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS streak_len,
      |    MIN(epoch_us(ts)) AS start_us, MAX(epoch_us(ts)) AS end_us
      |  FROM i GROUP BY user_id, event_type, island
      |)
      |SELECT user_id, event_type, streak_len, start_us, end_us
      |FROM st ORDER BY streak_len DESC, user_id, start_us LIMIT 10""".stripMargin

  // --- q08: smoothed + cumulative frames per entity (W7/W8) ------------------
  private val q08: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val daily = e.groupBy(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(sum(Exact.cents(col("value"))).as("vc"))
    Frames.smoothedAndCumulative(daily, col("user_id"), col("day"),
        Seq("value" -> col("vc")), Seq(7), 100.0)
      .select(col("user_id"), col("day"), col("value_sma7"), col("value_cum"))
      .orderBy(col("user_id"), col("day"))
  }
  private val q08Sql =
    """WITH d AS (
      |  SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
      |    SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS vc
      |  FROM events GROUP BY user_id, strftime(ts, '%Y-%m-%d')
      |)
      |SELECT user_id, day,
      |  CAST(SUM(vc) OVER w7 AS DOUBLE) / CAST(COUNT(*) OVER w7 * 100.0 AS DOUBLE) AS value_sma7,
      |  CAST(SUM(vc) OVER wc AS DOUBLE) / 100.0 AS value_cum
      |FROM d
      |WINDOW w7 AS (PARTITION BY user_id ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
      |       wc AS (PARTITION BY user_id ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, day""".stripMargin

  // --- q09: global cumulative series over pre-aggregated days (W8) -----------
  // Single-partition window is safe: input is the per-day rollup (≤ #days
  // rows), not the raw fact table.
  private val q09: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val daily = e.groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(sum(Exact.cents(col("value"))).as("vc"), count(lit(1)).as("n_events"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("cum_value", sum(col("vc")).over(w).cast("double") / 100.0)
      .withColumn("cum_events", sum(col("n_events")).over(w))
      .select(col("day"), col("n_events"), col("cum_value"), col("cum_events"))
      .orderBy(col("day"))
  }
  private val q09Sql =
    """WITH d AS (
      |  SELECT strftime(ts, '%Y-%m-%d') AS day,
      |    SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS vc,
      |    CAST(COUNT(*) AS BIGINT) AS n_events
      |  FROM events GROUP BY strftime(ts, '%Y-%m-%d')
      |)
      |SELECT day, n_events,
      |  CAST(SUM(vc) OVER wc AS DOUBLE) / 100.0 AS cum_value,
      |  CAST(SUM(n_events) OVER wc AS BIGINT) AS cum_events
      |FROM d
      |WINDOW wc AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY day""".stripMargin

  // --- q10: top-1 per group = latest event per user (W5) ---------------------
  private val q10: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    TopK.perGroup(e, 1, Seq(col("user_id")), Seq(desc("ts"), desc("event_id")))
      .select(col("user_id"), col("event_id"),
              unix_micros(col("ts")).as("ts_us"), col("event_type"), col("value"))
      .orderBy(col("user_id"))
  }
  private val q10Sql =
    """SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM events)
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  // --- q11: recent-N global (T3) ---------------------------------------------
  private val q11: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    TopK.global(e, 15, desc("ts"), desc("event_id"))
      .select(col("event_id"), col("user_id"),
              unix_micros(col("ts")).as("ts_us"), col("event_type"), col("value"))
  }
  private val q11Sql =
    """SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
      |FROM events ORDER BY ts DESC, event_id DESC LIMIT 15""".stripMargin

  // --- q12: interval/range join vs overlapping season dim (J3/A6) ------------
  // 'lifetime' spans the whole month on purpose — overlapping buckets are the
  // reference's intended multiplying join (generate_lookup_data.sh:602-604).
  private val seasonRows = Seq(
    ("S1", "2024-01-01 00:00:00", "2024-01-11 00:00:00"),
    ("S2", "2024-01-11 00:00:00", "2024-01-21 00:00:00"),
    ("S3", "2024-01-21 00:00:00", "2024-02-01 00:00:00"),
    ("lifetime", "2024-01-01 00:00:00", "2025-01-01 00:00:00"))
  private val q12: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    import s.implicits._
    val seasons = seasonRows.toDF("season", "start_s", "end_s")
      .select(col("season"), to_timestamp(col("start_s")).as("start_ts"),
              to_timestamp(col("end_s")).as("end_ts"))
    RangeJoin.broadcastRange(e, seasons, col("ts"), col("start_ts"), col("end_ts"))
      .groupBy(col("season"), col("event_type"))
      .agg(count(lit(1)).as("n"), Exact.sumMoney(col("value")).as("sum_value"))
      .orderBy(col("season"), col("event_type"))
  }
  private val q12Sql = {
    val values = seasonRows.map { case (n, a, b) =>
      s"('$n', TIMESTAMP '$a', TIMESTAMP '$b')"
    }.mkString(", ")
    s"""WITH seasons AS (SELECT * FROM (VALUES $values) AS t(season, start_ts, end_ts))
       |SELECT season, event_type, CAST(COUNT(*) AS BIGINT) AS n,
       |${X.sumMoney("value")} AS sum_value
       |FROM events JOIN seasons ON ts >= start_ts AND ts < end_ts
       |GROUP BY season, event_type ORDER BY season, event_type""".stripMargin
  }

  // --- q13: pivot (A7) --------------------------------------------------------
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val q13: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val p = e.groupBy(col("user_id")).pivot("event_type", eventTypes)
      .agg(count(lit(1)))
    p.select(col("user_id") +: eventTypes.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
      .orderBy(col("user_id"))
  }
  private val q13Sql = {
    val cols = eventTypes.map(t =>
      s"CAST(SUM(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS \"$t\"")
      .mkString(",\n")
    s"""SELECT user_id,
       |$cols
       |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
  }

  // --- q14: deterministic team key + second-level rollup (A4/A5) -------------
  private val q14: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    TeamKey.teamKey(li, col("l_orderkey"), col("l_suppkey"))
      .groupBy(col("team_key"))
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") > 1)
      .orderBy(desc("n_orders"), col("team_key"))
  }
  private val q14Sql =
    """WITH t AS (
      |  SELECT l_orderkey,
      |    string_agg(DISTINCT CAST(l_suppkey AS VARCHAR), ',' ORDER BY l_suppkey) AS team_key
      |  FROM lineitem GROUP BY l_orderkey
      |)
      |SELECT team_key, CAST(COUNT(*) AS BIGINT) AS n_orders
      |FROM t GROUP BY team_key HAVING COUNT(*) > 1
      |ORDER BY n_orders DESC, team_key""".stripMargin

  // --- q45: team identity via commutative hashing (A4 scale path) ------------
  // q14 materializes the roster string (collect_set -> ObjectHashAggregate);
  // at 100 TB the team IDENTITY is better computed as an order-independent
  // hash: sum of distinct member hashes mod 2^61-1. Commutative integer
  // aggregation -> plain codegen HashAggregate with map-side combine, no
  // per-group array buffers; the readable roster is then resolved only for
  // the survivors that matter. Distinctness inside the group comes from
  // pre-deduping (order, member) pairs.
  private val q45: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    // member hashes reduced to 1e15 BEFORE summing: Spark sums in 64-bit
    // (silent wraparound) while DuckDB sums in 128-bit — capping each term
    // keeps sums of up to ~9000 members inside both. (Unbounded team sizes
    // would use XOR, which never overflows.)
    val P = 1000000000000000L
    // ONE order-keyed exchange serves BOTH the (order, member) distinct
    // (hash(ok) satisfies the (ok, suppkey) clustering requirement) and
    // the per-order roll-up — previously the distinct exchanged on
    // (ok, suppkey) and the roll-up re-exchanged on ok: 2 corpus-sized
    // shuffles → 1 (the q194 discipline). Bytes are unchanged: (ok,
    // suppkey) is near-unique per lineitem row (≤ 7 lines/order), so the
    // removed partial-dedup exchange moved the same volume this one does.
    li.select(col("l_orderkey"), col("l_suppkey"))
      .repartition(col("l_orderkey"))
      .distinct()
      .groupBy(col("l_orderkey"))
      .agg(expr(s"pmod(sum(pmod(${graft.ops.TextOps.hash60("CAST(l_suppkey AS STRING)")}, ${P}L)), ${P}L)").as("team_hash"),
           count(lit(1)).as("n_members"))
      .groupBy(col("team_hash"), col("n_members"))
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") > 1)
      .orderBy(desc("n_orders"), col("team_hash"))
  }
  private val q45Sql = {
    val P = "1000000000000000"
    val h = graft.ops.TextOps.sql.hash60("CAST(l_suppkey AS VARCHAR)")
    s"""WITH m AS (
       |  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
       |), t AS (
       |  SELECT l_orderkey,
       |    CAST(SUM($h % $P) % $P AS BIGINT) AS team_hash,
       |    CAST(COUNT(*) AS BIGINT) AS n_members
       |  FROM m GROUP BY l_orderkey
       |)
       |SELECT team_hash, n_members, CAST(COUNT(*) AS BIGINT) AS n_orders
       |FROM t GROUP BY team_hash, n_members HAVING COUNT(*) > 1
       |ORDER BY n_orders DESC, team_hash""".stripMargin
  }

  // --- q48/q49: lifetime count leaderboards (T2) ------------------------------
  // The reference's most-wins / most-lastplaces global reports
  // (generate_lookup_data.sh:436-456 teamPlacement=1; :416-434
  // teamPlacement=numberOfTeams): count rows matching a per-row predicate
  // per entity, global top-10 by count. Analogs here: a "win" is a
  // first-line-number lineitem (placement = 1, a constant compare); a
  // "last place" is the line carrying the order's MAX line number
  // (placement = group size — the reference denormalizes numberOfTeams
  // onto the row; TPC-H doesn't, so it's derived per order first).
  // Conditional-filter agg → TakeOrderedAndProject heap merge.
  private val q48: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    TopK.global(
      li.filter(col("l_linenumber") === 1)
        .groupBy(col("l_suppkey")).agg(count(lit(1)).as("value")),
      10, desc("value"), col("l_suppkey"))
  }
  private val q48Sql =
    """SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS value
      |FROM lineitem WHERE l_linenumber = 1
      |GROUP BY l_suppkey ORDER BY value DESC, l_suppkey LIMIT 10""".stripMargin

  // Per-order max via a window, not agg+join: ONE shuffle on l_orderkey
  // instead of two (measured 2× faster at sf0.1). Safe because window
  // buffering is bounded by rows-per-order (≤ 7 lineitems); with
  // unbounded group sizes the agg+join form would be the right trade.
  private val q49: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val w = Window.partitionBy(col("l_orderkey"))
    TopK.global(
      li.withColumn("maxln", max(col("l_linenumber")).over(w))
        .filter(col("l_linenumber") === col("maxln"))
        .groupBy(col("l_suppkey")).agg(count(lit(1)).as("value")),
      10, desc("value"), col("l_suppkey"))
  }
  private val q49Sql =
    """WITH m AS (
      |  SELECT l_orderkey, MAX(l_linenumber) AS maxln
      |  FROM lineitem GROUP BY l_orderkey
      |)
      |SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS value
      |FROM lineitem JOIN m USING (l_orderkey)
      |WHERE l_linenumber = maxln
      |GROUP BY l_suppkey ORDER BY value DESC, l_suppkey LIMIT 10""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("q48_most_wins", q48, Some(q48Sql)),
    Query("q49_most_lastplaces", q49, Some(q49Sql)),
    Query("q45_team_hash_rollup", q45, Some(q45Sql)),
    Query("q01_pricing_summary", q01, Some(q01Sql)),
    Query("q02_topk_customers", q02, Some(q02Sql)),
    Query("q03_revenue_by_nation", q03, Some(q03Sql)),
    Query("q04_conditional_agg", q04, Some(q04Sql)),
    Query("q05_daily_rollup", q05, Some(q05Sql)),
    Query("q06_sessionize", q06, Some(q06Sql)),
    Query("q07_streaks", q07, Some(q07Sql)),
    Query("q08_smoothed_series", q08, Some(q08Sql)),
    Query("q09_cumulative_series", q09, Some(q09Sql)),
    Query("q10_latest_per_user", q10, Some(q10Sql)),
    Query("q11_recent_n", q11, Some(q11Sql)),
    Query("q12_range_join_seasons", q12, Some(q12Sql)),
    Query("q13_pivot_event_types", q13, Some(q13Sql)),
    Query("q14_team_rollup", q14, Some(q14Sql)))
}
