package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.TextOps

/** Round-7 behavioral-analytics queries over the event stream — the two
  * product-analytics staples every engine with an events table gets asked
  * for (the reference's session/streak reports are the same shape one
  * level down: ordered per-user event analysis):
  *
  *  - q90: ordered conversion funnel (view → click → purchase, each step
  *    strictly AFTER the previous step's first completion).
  *  - q91: weekly retention cohorts (users active k weeks after their
  *    first-ever week, the classic retention triangle).
  *
  * Scale notes: q90 is three user-keyed aggregates where every join is
  * on user_id — the partitioning is established once and reused; step
  * tables only ever shrink (funnel monotonicity). q91 reduces the event
  * stream to distinct (user, week) pairs FIRST (the only corpus-sized
  * shuffle), then joins the per-user cohort week on the same user key;
  * week indices are absolute integer epoch-week numbers, so no calendar
  * arithmetic enters the cross-engine compare.
  */
object QueriesBehavior {

  type Q = (SparkSession, String) => DataFrame

  private val DayUs  = 86400L * 1000000L
  private val WeekUs = 7L * DayUs

  /** FLOOR bucket index of an epoch-micros expression. Spark's DIV
    * truncates toward zero while DuckDB's `//` floors — identical for
    * post-1970 data, but a pre-1970 timestamp would land one bucket
    * apart between engines without the negative-remainder correction. */
  private def flooredBucket(usExpr: String, unitUs: Long): String =
    s"(($usExpr) DIV $unitUs + " +
      s"(CASE WHEN ($usExpr) % $unitUs < 0 THEN -1 ELSE 0 END))"

  private def weekOf(usExpr: String): String = flooredBucket(usExpr, WeekUs)

  private def userSig = expr(
    s"pmod(${TextOps.hash60("CAST(user_id AS STRING)")}, 1000000000)")

  // --- q90: ordered conversion funnel -----------------------------------------
  private val q90: Q = (s, dir) => {
    val e = Tables.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"))
    def firstAfter(typ: String, prev: DataFrame, prevT: String, t: String) =
      e.filter(col("event_type") === typ)
        .join(prev.select(col("user_id"), col(prevT)), Seq("user_id"))
        .filter(col("ts_us") > col(prevT))
        .groupBy(col("user_id")).agg(min(col("ts_us")).as(t))
    val s1 = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t1"))
    val s2 = firstAfter("click", s1, "t1", "t2")
    val s3 = firstAfter("purchase", s2, "t2", "t3")
    def stage(df: DataFrame, name: String) = df
      .agg(count(lit(1)).as("n_users"), sum(userSig).as("user_sig"))
      .select(lit(name).as("stage"), col("n_users"),
        coalesce(col("user_sig"), lit(0L)).as("user_sig"))
    stage(s1, "1_view")
      .unionByName(stage(s2, "2_click"))
      .unionByName(stage(s3, "3_purchase"))
      .orderBy(col("stage"))
  }
  private val q90Sql = {
    val sig = s"${TextOps.sql.hash60("CAST(user_id AS VARCHAR)")} % 1000000000"
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events
       |),
       |s1 AS (
       |  SELECT user_id, MIN(ts_us) AS t1 FROM e
       |  WHERE event_type = 'view' GROUP BY user_id
       |),
       |s2 AS (
       |  SELECT e.user_id, MIN(ts_us) AS t2
       |  FROM e JOIN s1 USING (user_id)
       |  WHERE event_type = 'click' AND ts_us > t1 GROUP BY e.user_id
       |),
       |s3 AS (
       |  SELECT e.user_id, MIN(ts_us) AS t3
       |  FROM e JOIN s2 USING (user_id)
       |  WHERE event_type = 'purchase' AND ts_us > t2 GROUP BY e.user_id
       |)
       |SELECT '1_view' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users,
       |  CAST(COALESCE(SUM($sig), 0) AS BIGINT) AS user_sig FROM s1
       |UNION ALL
       |SELECT '2_click', CAST(COUNT(*) AS BIGINT),
       |  CAST(COALESCE(SUM($sig), 0) AS BIGINT) FROM s2
       |UNION ALL
       |SELECT '3_purchase', CAST(COUNT(*) AS BIGINT),
       |  CAST(COALESCE(SUM($sig), 0) AS BIGINT) FROM s3
       |ORDER BY stage""".stripMargin
  }

  // --- q91: weekly retention cohorts ------------------------------------------
  private val q91: Q = (s, dir) => {
    val weeks = Tables.events(s, dir)
      .select(col("user_id"), expr(weekOf("unix_micros(ts)")).as("week"))
      .distinct()
    val cohorts = weeks.groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_week"))
    weeks.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("offset_w"))
      .agg(count(lit(1)).as("n_users"), sum(userSig).as("user_sig"))
      .orderBy(col("cohort_week"), col("offset_w"))
  }
  private val q91Sql = {
    val sig = s"${TextOps.sql.hash60("CAST(user_id AS VARCHAR)")} % 1000000000"
    s"""WITH weeks AS (
       |  SELECT DISTINCT user_id, epoch_us(ts) // $WeekUs AS week FROM events
       |),
       |cohorts AS (
       |  SELECT user_id, MIN(week) AS cohort_week FROM weeks GROUP BY user_id
       |)
       |SELECT cohort_week, week - cohort_week AS offset_w,
       |  CAST(COUNT(*) AS BIGINT) AS n_users,
       |  CAST(SUM($sig) AS BIGINT) AS user_sig
       |FROM weeks JOIN cohorts USING (user_id)
       |GROUP BY cohort_week, offset_w
       |ORDER BY cohort_week, offset_w""".stripMargin
  }

  // --- q161: cohort LTV curve (monetary retention) ----------------------------
  // q91's retention triangle with the monetary dimension — the "how much
  // has each signup cohort spent by week k" curve every growth team
  // reads: cohort = the user's first PURCHASE week; per (cohort, offset)
  // cell: spending users, exact cents revenue, cumulative cohort
  // revenue, and cumulative LTV per cohort user in floored milli-cents.
  // Money is integer cents per event before any sum (q152's rule);
  // the cumulative window runs over the cohort×offset triangle
  // (dimension-sized). Scale: one corpus pass to (user, week) cents
  // (the only corpus-sized shuffle), user-keyed cohort join — q91's
  // partitioning reused exactly.
  private val q161: Q = (s, dir) => {
    val p = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), expr(weekOf("unix_micros(ts)")).as("week"),
        expr("CAST(floor(value * 100 + 0.5D) AS BIGINT)").as("cents"))
    val uw = p.groupBy(col("user_id"), col("week"))
      .agg(sum(col("cents")).as("cents"))
    val cohorts = uw.groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_week"))
    val sizes = cohorts.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("cohort_users"))
    val cells = uw.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("offset_w"))
      .agg(count(lit(1)).as("n_spenders"), sum(col("cents")).as("rev_c"))
    val wCum = Window.partitionBy("cohort_week").orderBy("offset_w")
    cells.join(broadcast(sizes), Seq("cohort_week"))
      .withColumn("cum_rev_c", sum(col("rev_c")).over(wCum))
      .select(col("cohort_week"), col("offset_w"), col("cohort_users"),
        col("n_spenders"), col("rev_c"), col("cum_rev_c"),
        expr("(1000 * cum_rev_c) DIV cohort_users").as("ltv_mc"))
      .orderBy(col("cohort_week"), col("offset_w"))
  }
  private val q161Sql =
    s"""WITH p AS (
       |  SELECT user_id, epoch_us(ts) // $WeekUs AS week,
       |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
       |  FROM events WHERE event_type = 'purchase'
       |), uw AS (
       |  SELECT user_id, week, CAST(SUM(cents) AS BIGINT) AS cents
       |  FROM p GROUP BY 1, 2
       |), cohorts AS (
       |  SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY 1
       |), sizes AS (
       |  SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_users
       |  FROM cohorts GROUP BY 1
       |), cells AS (
       |  SELECT cohort_week, week - cohort_week AS offset_w,
       |    CAST(COUNT(*) AS BIGINT) AS n_spenders,
       |    CAST(SUM(cents) AS BIGINT) AS rev_c
       |  FROM uw JOIN cohorts USING (user_id)
       |  GROUP BY 1, 2
       |)
       |SELECT cohort_week, offset_w, cohort_users, n_spenders, rev_c,
       |  CAST(SUM(rev_c) OVER (PARTITION BY cohort_week ORDER BY offset_w)
       |    AS BIGINT) AS cum_rev_c,
       |  (1000 * CAST(SUM(rev_c) OVER (PARTITION BY cohort_week
       |    ORDER BY offset_w) AS BIGINT)) // cohort_users AS ltv_mc
       |FROM cells JOIN sizes USING (cohort_week)
       |ORDER BY cohort_week, offset_w""".stripMargin

  // --- q92: event-type transition matrix --------------------------------------
  // First-order Markov transition counts over each user's time-ordered
  // event stream, with integer per-mille shares per origin type — the
  // "where do users go next" matrix. One user-keyed window pass, then a
  // (from, to)-keyed aggregate over |types|² ≪ corpus rows.
  private val q92: Q = (s, dir) => {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"))
    val byTime = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val trans = e
      .withColumn("from_type", lag(col("event_type"), 1).over(byTime))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = trans.groupBy(col("from_type"))
      .agg(sum(col("n")).as("from_total"))
    trans.join(broadcast(totals), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        expr("(1000 * n) DIV from_total").as("share_pm"))
      .orderBy(col("from_type"), col("to_type"))
  }
  private val q92Sql =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
      |  FROM events
      |),
      |seq AS (
      |  SELECT event_type AS to_type, LAG(event_type) OVER
      |    (PARTITION BY user_id ORDER BY ts_us, event_id) AS from_type
      |  FROM e
      |),
      |trans AS (
      |  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM seq WHERE from_type IS NOT NULL GROUP BY from_type, to_type
      |),
      |totals AS (
      |  SELECT from_type, CAST(SUM(n) AS BIGINT) AS from_total
      |  FROM trans GROUP BY from_type
      |)
      |SELECT from_type, to_type, n, (1000 * n) // from_total AS share_pm
      |FROM trans JOIN totals USING (from_type)
      |ORDER BY from_type, to_type""".stripMargin

  // --- q93: week-over-week revenue deltas --------------------------------------
  // Weekly order revenue in exact integer cents, with the delta and
  // integer per-mille change vs the previous week (NULL on the first
  // week). The corpus-sized work is one week-keyed aggregate; the lag
  // window runs over the weeks table (|weeks| rows).
  private val q93: Q = (s, dir) => {
    val weekly = Tables.orders(s, dir)
      .select(expr(weekOf("unix_micros(o_orderdate)")).as("week"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .groupBy(col("week"))
      .agg(sum(col("cents")).as("revenue_c"), count(lit(1)).as("n_orders"))
    val byWeek = org.apache.spark.sql.expressions.Window.orderBy(col("week"))
    // change_pm divides a NON-NEGATIVE magnitude and applies the sign
    // separately: Spark's DIV truncates toward zero but DuckDB's //
    // floors, so a negative numerator would differ by one between
    // engines — on |x| the two agree
    weekly
      .withColumn("prev_c", lag(col("revenue_c"), 1).over(byWeek))
      .select(col("week"), col("revenue_c"), col("n_orders"),
        (col("revenue_c") - col("prev_c")).as("delta_c"),
        expr("""CAST(sign(revenue_c - prev_c) AS BIGINT) *
               |((1000 * abs(revenue_c - prev_c)) DIV prev_c)"""
          .stripMargin).as("change_pm"))
      .orderBy(col("week"))
  }
  private val q93Sql =
    s"""WITH weekly AS (
       |  SELECT epoch_us(o_orderdate) // $WeekUs AS week,
       |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       |      AS revenue_c,
       |    CAST(COUNT(*) AS BIGINT) AS n_orders
       |  FROM orders GROUP BY week
       |)
       |SELECT week, revenue_c, n_orders,
       |  revenue_c - LAG(revenue_c) OVER w AS delta_c,
       |  CAST(SIGN(revenue_c - LAG(revenue_c) OVER w) AS BIGINT) *
       |    ((1000 * ABS(revenue_c - LAG(revenue_c) OVER w))
       |      // LAG(revenue_c) OVER w) AS change_pm
       |FROM weekly WINDOW w AS (ORDER BY week)
       |ORDER BY week""".stripMargin

  // --- q96: weekly churn -------------------------------------------------------
  // The retention triangle's complement: users active in week w with no
  // activity in w+1, per week, with an integer per-mille churn rate. The
  // corpus reduces to distinct (user, week) once; the churn test is a
  // LEFT ANTI self-join against the same tiny relation shifted one week
  // — never a window over raw events. The final (incomplete) week is
  // excluded: churn there is not yet assessable.
  private val q96: Q = (s, dir) => {
    val weeks = Tables.events(s, dir)
      .select(col("user_id"), expr(weekOf("unix_micros(ts)")).as("week"))
      .distinct()
    val active = weeks.groupBy(col("week")).agg(count(lit(1)).as("n_active"))
    val churned = weeks
      .join(weeks.select(col("user_id"), (col("week") - 1).as("week")),
        Seq("user_id", "week"), "left_anti")
      .groupBy(col("week")).agg(count(lit(1)).as("n_churned"))
    val maxWeek = weeks.agg(max(col("week")).as("max_week"))
    active.join(churned, Seq("week"), "left")
      .crossJoin(maxWeek)
      .filter(col("week") < col("max_week"))
      .select(col("week"), col("n_active"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .withColumn("churn_pm", expr("(1000 * n_churned) DIV n_active"))
      .orderBy(col("week"))
  }
  private val q96Sql =
    s"""WITH weeks AS (
       |  SELECT DISTINCT user_id, epoch_us(ts) // $WeekUs AS week FROM events
       |),
       |active AS (
       |  SELECT week, CAST(COUNT(*) AS BIGINT) AS n_active
       |  FROM weeks GROUP BY week
       |),
       |churned AS (
       |  SELECT w.week, CAST(COUNT(*) AS BIGINT) AS n_churned
       |  FROM weeks w
       |  WHERE NOT EXISTS (SELECT 1 FROM weeks n
       |                    WHERE n.user_id = w.user_id
       |                      AND n.week = w.week + 1)
       |  GROUP BY w.week
       |),
       |m AS (SELECT MAX(week) AS max_week FROM weeks)
       |SELECT week, n_active,
       |  COALESCE(n_churned, CAST(0 AS BIGINT)) AS n_churned,
       |  (1000 * COALESCE(n_churned, CAST(0 AS BIGINT))) // n_active
       |    AS churn_pm
       |FROM active LEFT JOIN churned USING (week), m
       |WHERE week < max_week
       |ORDER BY week""".stripMargin

  // --- q97: funnel conversion latency ------------------------------------------
  // Time from first view to the funnel-completing purchase, for users who
  // complete the q90 funnel — summarized with exact DISCRETE percentiles
  // (percentile_disc picks an actual element, q46's cross-engine rule;
  // latencies are integer micros, so every statistic is exact).
  private val q97: Q = (s, dir) => {
    val e = Tables.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"))
    val s1 = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t1"))
    val s2 = e.filter(col("event_type") === "click")
      .join(s1, Seq("user_id")).filter(col("ts_us") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t2"), min(col("t1")).as("t1"))
    val s3 = e.filter(col("event_type") === "purchase")
      .join(s2, Seq("user_id")).filter(col("ts_us") > col("t2"))
      .groupBy(col("user_id"))
      .agg((min(col("ts_us")) - min(col("t1"))).as("latency_us"))
    s3.agg(count(lit(1)).as("n_converted"),
        min(col("latency_us")).as("min_us"),
        expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY latency_us) AS BIGINT)")
          .as("p50_us"),
        expr("CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY latency_us) AS BIGINT)")
          .as("p90_us"),
        max(col("latency_us")).as("max_us"))
  }
  private val q97Sql =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events
      |),
      |s1 AS (
      |  SELECT user_id, MIN(ts_us) AS t1 FROM e
      |  WHERE event_type = 'view' GROUP BY user_id
      |),
      |s2 AS (
      |  SELECT e.user_id, MIN(ts_us) AS t2, MIN(t1) AS t1
      |  FROM e JOIN s1 USING (user_id)
      |  WHERE event_type = 'click' AND ts_us > t1 GROUP BY e.user_id
      |),
      |s3 AS (
      |  SELECT e.user_id, MIN(ts_us) - MIN(t1) AS latency_us
      |  FROM e JOIN s2 USING (user_id)
      |  WHERE event_type = 'purchase' AND ts_us > t2 GROUP BY e.user_id
      |)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
      |  MIN(latency_us) AS min_us,
      |  CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY latency_us)
      |    AS BIGINT) AS p50_us,
      |  CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY latency_us)
      |    AS BIGINT) AS p90_us,
      |  MAX(latency_us) AS max_us
      |FROM s3""".stripMargin

  // --- q103: top session entry paths -------------------------------------------
  // The most common first-k event-type sequences per session — "how do
  // sessions start", the path-analysis staple next to q92's one-step
  // transition matrix. Sessions are the reference's own 2h-gap rule
  // (ops/Sessionize, one user-keyed window). The in-session rank window
  // and the per-session aggregate both cluster by (user_id, session_seq),
  // which the sessionize pass's hash(user_id) already satisfies — Spark
  // adds sorts but NO further exchange until the final path rollup, which
  // is path-vocabulary-sized. Ordering ties on equal ts break by
  // event_id on both engines, so the path strings match exactly.
  private val PathGapS = 7200L
  private val PathLen  = 3
  private val q103: Q = (s, dir) => {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val sess = graft.ops.Sessionize.assign(
      e, col("user_id"), col("ts"), col("event_id"), PathGapS)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("session_seq"))
      .orderBy(unix_micros(col("ts")), col("event_id"))
    sess.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= PathLen)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(concat_ws(">", transform(
        array_sort(collect_list(struct(col("rn"), col("event_type")))),
        p => p.getField("event_type"))).as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(desc("n_sessions"), col("path"))
      .limit(20)
  }
  private val q103Sql =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
       |  FROM events
       |),
       |lagd AS (
       |  SELECT *, LAG(ts_us) OVER (PARTITION BY user_id
       |    ORDER BY ts_us, event_id) AS prev_us
       |  FROM e
       |),
       |sess AS (
       |  SELECT *, SUM(CASE WHEN prev_us IS NULL
       |      OR ts_us - prev_us >= ${PathGapS * 1000000L} THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |          ROWS UNBOUNDED PRECEDING) AS session_seq
       |  FROM lagd
       |),
       |rn AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, session_seq
       |    ORDER BY ts_us, event_id) AS rn
       |  FROM sess
       |),
       |p AS (
       |  SELECT user_id, session_seq,
       |    string_agg(event_type, '>' ORDER BY rn) AS path
       |  FROM rn WHERE rn <= $PathLen GROUP BY user_id, session_seq
       |)
       |SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions,
       |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
       |FROM p GROUP BY path
       |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin

  // --- q115: multi-touch linear attribution ------------------------------------
  // Every click within the hour before a purchase shares the purchase's
  // credit equally — the batch twin of streaming/StreamJoin's interval
  // pairing, finished into an attribution model (q57 is the
  // last-touch-only counterpart). The interval join is SCALE-HONEST:
  // clicks explode into their horizon bucket and the next (ts DIV
  // horizon, +1), purchases join their own bucket — an EQUI-join on
  // (user, bucket) (q72's blocking trick; a click matches through
  // exactly one of its two emitted buckets, so no pair dedup is
  // needed), then the exact range filter. Credit is integer per-mille,
  // 1000 DIV n per click, remainder to the EARLIEST click (ts, then
  // click_id — fully deterministic); per-purchase credit always sums
  // to exactly 1000. The DuckDB twin runs the plain inequality join —
  // same rows through a structurally different plan (the q72
  // precedent).
  private val AttrHorizonUs = 3600L * 1000000L
  private val q115: Q = (s, dir) => {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts_us").as("click_us"))
      .select(col("user_id"), col("click_id"), col("click_us"),
        explode(array(expr(s"click_us DIV $AttrHorizonUs"),
          expr(s"click_us DIV $AttrHorizonUs + 1"))).as("bucket"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts_us").as("p_us"), expr(s"ts_us DIV $AttrHorizonUs").as("bucket"))
    val pairs = purchases.join(clicks, Seq("user_id", "bucket"))
      .filter(col("click_us") <= col("p_us") &&
        col("click_us") > col("p_us") - AttrHorizonUs)
    val byPurchase = Window.partitionBy(col("purchase_id"))
    val ordered = Window.partitionBy(col("purchase_id"))
      .orderBy(col("click_us"), col("click_id"))
    pairs
      .withColumn("n", count(lit(1)).over(byPurchase))
      .withColumn("rn", row_number().over(ordered))
      .withColumn("credit_pm", expr(
        "1000 DIV n + CASE WHEN rn = 1 THEN 1000 % n ELSE 0 END"))
      .select(col("purchase_id"), col("user_id"), col("click_id"),
        (col("p_us") - col("click_us")).as("gap_us"), col("n"), col("credit_pm"))
      .orderBy(col("purchase_id"), col("click_id"))
  }
  private val q115Sql =
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
       |  FROM events
       |), c AS (
       |  SELECT user_id, event_id AS click_id, ts_us AS click_us FROM e
       |  WHERE event_type = 'click'
       |), p AS (
       |  SELECT user_id, event_id AS purchase_id, ts_us AS p_us FROM e
       |  WHERE event_type = 'purchase'
       |), pairs AS (
       |  SELECT p.purchase_id, p.user_id, c.click_id, p.p_us, c.click_us
       |  FROM p JOIN c ON p.user_id = c.user_id
       |   AND c.click_us <= p.p_us AND c.click_us > p.p_us - $AttrHorizonUs
       |), w AS (
       |  SELECT *, CAST(COUNT(*) OVER (PARTITION BY purchase_id) AS BIGINT) AS n,
       |    ROW_NUMBER() OVER (PARTITION BY purchase_id
       |      ORDER BY click_us, click_id) AS rn
       |  FROM pairs
       |)
       |SELECT purchase_id, user_id, click_id, p_us - click_us AS gap_us, n,
       |  1000 // n + CASE WHEN rn = 1 THEN 1000 % n ELSE 0 END AS credit_pm
       |FROM w ORDER BY purchase_id, click_id""".stripMargin

  // --- q116: time-weighted average (TWAP) ---------------------------------------
  // The mean of a signal SAMPLED AT IRREGULAR EVENTS, each observation
  // weighted by how long it was in force (until the user's next event)
  // — the correct aggregate for anything carried between events
  // (price, queue depth, session quality); the unweighted AVG
  // over-counts bursts. Values floor to integer milli-units, durations
  // to whole seconds, so the weighted sum and the final division are
  // exact integers (weights in SECONDS keep worst-case value×duration
  // ≈ 1e6·2e8 = 2e14 per term — int64-safe at any event density). The
  // last observation per user has no successor and drops from BOTH
  // numerator and denominator. One (user_id, ts) window = one shuffle.
  private val q116: Q = (s, dir) => {
    val byTime = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        expr("CAST(floor(value * 1000.0D) AS BIGINT)").as("mval"))
      .withColumn("next_us", lead(col("ts_us"), 1).over(byTime))
      .filter(col("next_us").isNotNull)
      .withColumn("dur_s", expr("(next_us - ts_us) DIV 1000000"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("dur_s")).as("dur_s"),
        sum(col("mval") * col("dur_s")).as("wsum"))
      .filter(col("dur_s") > 0)
      // sign-split division (q93): engines disagree on negative integer
      // division direction; value here is non-negative but the operator
      // must not silently depend on that
      .withColumn("twap_milli", expr(
        "CASE WHEN wsum < 0 THEN -1 ELSE 1 END * (abs(wsum) DIV dur_s)"))
      .select(col("user_id"), col("n_intervals"), col("dur_s"), col("twap_milli"))
      .orderBy(col("user_id"))
  }
  private val q116Sql =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |    CAST(floor(value * 1000.0) AS BIGINT) AS mval
      |  FROM events
      |), nxt AS (
      |  SELECT *, LEAD(ts_us) OVER
      |    (PARTITION BY user_id ORDER BY ts_us, event_id) AS next_us
      |  FROM e
      |), iv AS (
      |  SELECT user_id, mval, (next_us - ts_us) // 1000000 AS dur_s
      |  FROM nxt WHERE next_us IS NOT NULL
      |), g AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_intervals,
      |    CAST(SUM(dur_s) AS BIGINT) AS dur_s,
      |    CAST(SUM(mval * dur_s) AS BIGINT) AS wsum
      |  FROM iv GROUP BY user_id
      |)
      |SELECT user_id, n_intervals, dur_s,
      |  (CASE WHEN wsum < 0 THEN -1 ELSE 1 END) * (abs(wsum) // dur_s)
      |    AS twap_milli
      |FROM g WHERE dur_s > 0 ORDER BY user_id""".stripMargin

  // --- q117: session quality stats (bounce rate + exact median duration) -----
  // The product-analytics view of the 2h-gap sessionization operator
  // (ops/Sessionize — the reference's own session model): per day of
  // session start, how many sessions, how many BOUNCED (single event),
  // and the exact DISCRETE median duration in whole seconds (element
  // selection, the q46 rule — no interpolation, no floats). Plan: one
  // (user, ts) window pass, one (user, session) rollup reusing that
  // partitioning, then a days-sized aggregate carrying the per-day
  // percentile sort.
  private val SessGapS = 7200L
  private val q117: Q = (s, dir) => {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
    val sess = graft.ops.Sessionize.assign(
        e, col("user_id"), col("ts"), col("event_id"), SessGapS)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("start_ts"),
        (unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
          .as("dur_us"))
      .select(date_format(col("start_ts"), "yyyy-MM-dd").as("day"),
        col("n_events"), expr("dur_us DIV 1000000").as("dur_s"))
    sess.groupBy(col("day"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("bounces"),
        sum(col("n_events")).as("n_events"),
        expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY dur_s) AS BIGINT)")
          .as("p50_dur_s"))
      .withColumn("bounce_pm", expr("(1000 * bounces) DIV n_sessions"))
      .orderBy(col("day"))
  }
  private val q117Sql =
    s"""WITH e AS (
       |  SELECT user_id, ts, epoch_us(ts) AS ts_us, event_id FROM events
       |),
       |lagd AS (
       |  SELECT *, LAG(ts_us) OVER (PARTITION BY user_id
       |    ORDER BY ts_us, event_id) AS prev_us
       |  FROM e
       |),
       |sess AS (
       |  SELECT *, SUM(CASE WHEN prev_us IS NULL
       |      OR ts_us - prev_us >= ${SessGapS * 1000000L} THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |          ROWS UNBOUNDED PRECEDING) AS session_seq
       |  FROM lagd
       |),
       |per AS (
       |  SELECT strftime(MIN(ts), '%Y-%m-%d') AS day,
       |    CAST(COUNT(*) AS BIGINT) AS n_events,
       |    (MAX(ts_us) - MIN(ts_us)) // 1000000 AS dur_s
       |  FROM sess GROUP BY user_id, session_seq
       |)
       |SELECT day, CAST(COUNT(*) AS BIGINT) AS n_sessions,
       |  CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS bounces,
       |  CAST(SUM(n_events) AS BIGINT) AS n_events,
       |  CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY dur_s) AS BIGINT)
       |    AS p50_dur_s,
       |  (1000 * CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT))
       |    // CAST(COUNT(*) AS BIGINT) AS bounce_pm
       |FROM per GROUP BY day ORDER BY day""".stripMargin

  // --- q121: duration-weighted median --------------------------------------
  // q116's robust sibling: the median of a signal where each observation
  // counts proportionally to how long it was in force — the 50%
  // breakdown point q116's weighted MEAN lacks. Discrete selection rule
  // in integers: order observations by (value, event_id) per event type,
  // take the first whose doubled cumulative weight reaches the total
  // (2·cum ≥ total — the lower weighted median, and exactly the q46
  // element-selection discipline with weights). Open tails drop like
  // q116. One (type, value) window sort per group, then a types-sized
  // argmin.
  private val q121: Q = (s, dir) => {
    val byTime = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val iv = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"),
        expr("CAST(floor(value * 1000.0D) AS BIGINT)").as("mval"))
      .withColumn("next_us", lead(col("ts_us"), 1).over(byTime))
      .filter(col("next_us").isNotNull)
      .withColumn("w", expr("(next_us - ts_us) DIV 1000000"))
      .filter(col("w") > 0)
    val byVal = Window.partitionBy(col("event_type"))
      .orderBy(col("mval"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("event_type"))
    // qualification (2·cum ≥ total) is monotone in the cum order, so the
    // first qualifying row's value is simply the min value among
    // qualifying rows
    iv.withColumn("cum", sum(col("w")).over(byVal))
      .withColumn("total", sum(col("w")).over(tot))
      .filter(col("cum") * 2 >= col("total"))
      .groupBy(col("event_type"))
      .agg(min(col("mval")).as("wmedian_milli"), max(col("total")).as("total_w"))
      .orderBy(col("event_type"))
  }
  private val q121Sql =
    """WITH nxt AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
      |    CAST(floor(value * 1000.0) AS BIGINT) AS mval,
      |    LEAD(epoch_us(ts)) OVER
      |      (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS next_us
      |  FROM events
      |), iv AS (
      |  SELECT event_type, event_id, mval,
      |    (next_us - ts_us) // 1000000 AS w
      |  FROM nxt WHERE next_us IS NOT NULL
      |    AND (next_us - ts_us) // 1000000 > 0
      |), c AS (
      |  SELECT *, CAST(SUM(w) OVER (PARTITION BY event_type
      |      ORDER BY mval, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum,
      |    CAST(SUM(w) OVER (PARTITION BY event_type) AS BIGINT) AS total
      |  FROM iv
      |)
      |SELECT event_type,
      |  MIN(mval) AS wmedian_milli,
      |  CAST(MAX(total) AS BIGINT) AS total_w
      |FROM c WHERE cum * 2 >= total
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // --- q123: sliding-window active users (WAU) -------------------------------
  // Distinct users active in the trailing 7 days, per day — the classic
  // engagement series. Distinct counts DON'T sum across days, so the
  // day-level rollup can't slide with a window frame; the scale-honest
  // exact form is the offset explode: each distinct (user, day) activity
  // projects onto the 7 report days it supports (a bounded 7× map-side
  // blowup), then one distinct-count per report day — never an
  // inequality join, never a user×day bitmap on the driver. Report days
  // cover only the observed activity range (no spine padding; days with
  // no activity in range still appear through later activity's
  // projection window only if observed — absent days mean zero and are
  // simply not emitted, matching the twin).
  private val WauDays = 7
  private val q123: Q = (s, dir) => {
    val act = Tables.events(s, dir)
      .select(col("user_id"),
        expr(flooredBucket("unix_micros(ts)", DayUs)).as("day"))
      .distinct()
    val bounds = act.agg(max(col("day")).as("max_day"))
    act.select(col("user_id"), col("day"),
        explode(expr(s"sequence(day, day + ${WauDays - 1})")).as("report_day"))
      .crossJoin(broadcast(bounds))
      .filter(col("report_day") <= col("max_day"))
      .groupBy(col("report_day"))
      .agg(countDistinct(col("user_id")).as("wau"))
      .orderBy(col("report_day"))
  }
  private val q123Sql =
    s"""WITH act AS (
       |  SELECT DISTINCT user_id, epoch_us(ts) // $DayUs AS day FROM events
       |),
       |b AS (SELECT MAX(day) AS max_day FROM act),
       |proj AS (
       |  SELECT user_id,
       |    unnest(generate_series(day, day + ${WauDays - 1})) AS report_day
       |  FROM act
       |)
       |SELECT report_day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
       |FROM proj, b WHERE report_day <= max_day
       |GROUP BY report_day ORDER BY report_day""".stripMargin

  // --- q124: half-life decayed engagement score -------------------------------
  // Recency-weighted engagement WITHOUT floats: exponential decay with a
  // one-week half-life, quantized to integer halvings — each event
  // contributes value_milli DIV 2^(whole weeks before the corpus's last
  // event). pow()/exp() are NOT correctly-rounded IEEE ops (libm vs
  // StrictMath can disagree in the last ulp, which a hash compare
  // amplifies); integer right-shift decay is exact on every engine, and
  // the sum is order-independent. Shifts cap at 62 (beyond that the
  // contribution is 0 anyway — and an unbounded shift would be UB-ish
  // on both engines). One combinable HashAggregate + a 1-row max
  // broadcast; top-20 users by decayed score.
  private val q124: Q = (s, dir) => {
    val e = Tables.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        expr("CAST(floor(value * 1000.0D) AS BIGINT)").as("mval"))
    val last = e.agg(max(col("ts_us")).as("last_us"))
    e.crossJoin(broadcast(last))
      .withColumn("age_w",
        expr(s"least((last_us - ts_us) DIV $WeekUs, 62)"))
      // sign-split (q93/q116 rule): DIV truncates, // floors — they only
      // agree on non-negative operands, and value's sign is the data's
      // business, not the operator's
      .withColumn("decayed", expr(
        """(CASE WHEN mval < 0 THEN -1 ELSE 1 END) *
          |  (abs(mval) DIV shiftleft(CAST(1 AS BIGINT), CAST(age_w AS INT)))"""
          .stripMargin))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("decayed")).as("score_milli"))
      .orderBy(desc("score_milli"), col("user_id"))
      .limit(20)
  }
  private val q124Sql =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) AS ts_us,
       |    CAST(floor(value * 1000.0) AS BIGINT) AS mval
       |  FROM events
       |),
       |l AS (SELECT MAX(ts_us) AS last_us FROM e)
       |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       |  CAST(SUM((CASE WHEN mval < 0 THEN -1 ELSE 1 END) *
       |    (abs(mval) // (CAST(1 AS BIGINT) <<
       |      LEAST((last_us - ts_us) // $WeekUs, 62))))
       |    AS BIGINT) AS score_milli
       |FROM e, l
       |GROUP BY user_id
       |ORDER BY score_milli DESC, user_id LIMIT 20""".stripMargin

  // --- q132: audience overlap matrix (segment intersection / Jaccard) -------
  // For every pair of event types: how many users both segments share,
  // and the Jaccard similarity — the "segment overlap" panel every
  // product-analytics tool ships (the reference's per-mode player
  // overlap in `player.js` is this exact shape one level down).
  //
  // Scale: the naive form is a distinct-pairs SELF-JOIN on user_id —
  // at 100 TB that shuffles the (user, type) table twice and fans out
  // per-user. Instead, the q118 trick: one user-keyed aggregate builds
  // each user's sorted type set, pair GENERATION is a map-side
  // nested-sequence explode bounded by |type vocabulary|² per user
  // (the type vocabulary is dimension-sized by nature — event schemas
  // are designed, not data), and audience sizes broadcast. One
  // corpus-sized shuffle total; everything downstream is
  // vocabulary-sized. jaccard_ppm is integer floored division, so the
  // similarity itself cross-checks bit-exactly.
  private val q132: Q = (s, dir) => {
    val ut = Tables.events(s, dir)
      .select(col("user_id"), col("event_type")).distinct()
    val sizes = ut.groupBy(col("event_type"))
      .agg(count(lit(1)).as("aud"))
    ut.groupBy(col("user_id"))
      .agg(sort_array(collect_set(col("event_type"))).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(explode(expr(
        """flatten(transform(sequence(1, size(ts) - 1),
          |  i -> transform(sequence(i + 1, size(ts)),
          |    j -> struct(element_at(ts, i) AS a, element_at(ts, j) AS b))))"""
          .stripMargin)).as("p"))
      .groupBy(col("p.a").as("type_a"), col("p.b").as("type_b"))
      .agg(count(lit(1)).as("overlap"))
      .join(broadcast(sizes.select(col("event_type").as("type_a"),
        col("aud").as("aud_a"))), "type_a")
      .join(broadcast(sizes.select(col("event_type").as("type_b"),
        col("aud").as("aud_b"))), "type_b")
      .withColumn("jaccard_ppm",
        expr("CAST(1000000 AS BIGINT) * overlap DIV (aud_a + aud_b - overlap)"))
      .select(col("type_a"), col("type_b"), col("aud_a"), col("aud_b"),
        col("overlap"), col("jaccard_ppm"))
      .orderBy(desc("jaccard_ppm"), col("type_a"), col("type_b"))
  }
  private val q132Sql =
    """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
      |sz AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS aud FROM ut GROUP BY 1
      |),
      |ov AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    CAST(COUNT(*) AS BIGINT) AS overlap
      |  FROM ut a JOIN ut b ON a.user_id = b.user_id
      |    AND a.event_type < b.event_type
      |  GROUP BY 1, 2
      |)
      |SELECT type_a, type_b, sa.aud AS aud_a, sb.aud AS aud_b, overlap,
      |  CAST(1000000 AS BIGINT) * overlap // (sa.aud + sb.aud - overlap)
      |    AS jaccard_ppm
      |FROM ov
      |JOIN sz sa ON sa.event_type = ov.type_a
      |JOIN sz sb ON sb.event_type = ov.type_b
      |ORDER BY jaccard_ppm DESC, type_a, type_b""".stripMargin

  // --- q147: deterministic A/B split + exact two-proportion lift test --------
  // The experiment-analysis staple: assign every user to an arm by a
  // DETERMINISTIC key rule (user_id parity — rand() would be
  // shuffle-order-dependent and unreproducible, the q44 sampling
  // doctrine), measure conversion (≥1 purchase event), publish per-arm
  // counts, floored per-million conversion rates, the rate diff, and the
  // two-proportion z² statistic.
  //
  // Exactness: everything up to z² is integer (counts, floored ppm); z²
  // is the q100 rule — the exact rational
  //     z² = d²·N / (n_c·n_t·s·(N−s)),  d = x_t·n_c − x_c·n_t
  // with d in DECIMAL(38,0) (x·n clears int64 only past ~10⁹ users of
  // pure converts, but the discipline is not to depend on data slack),
  // evaluated as doubles cast from exact integers in the SAME
  // association shape on both engines — correctly-rounded IEEE ops on
  // identical inputs are bit-identical. Degenerate splits (empty arm,
  // zero or total conversion) publish z² = 0 by definition.
  //
  // Scale: one user-keyed aggregate (map-side combinable) then a single
  // global 1-row conditional aggregate — the same two-shuffle shape as
  // q90's funnel; no window, no join.
  private val q147: Q = (s, dir) => {
    val users = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("conv"))
      .withColumn("arm", (col("user_id") % 2).cast("int"))
    users.agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_c"),
        sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("x_c"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_t"),
        sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("x_t"))
      .withColumn("conv_c_ppm", expr(
        "CASE WHEN n_c > 0 THEN (1000000L * x_c) DIV n_c ELSE 0L END"))
      .withColumn("conv_t_ppm", expr(
        "CASE WHEN n_t > 0 THEN (1000000L * x_t) DIV n_t ELSE 0L END"))
      .withColumn("diff_ppm", col("conv_t_ppm") - col("conv_c_ppm"))
      .withColumn("z_sq", expr(
        """CASE WHEN n_c > 0 AND n_t > 0 AND (x_c + x_t) > 0
          |    AND (x_c + x_t) < (n_c + n_t)
          |  THEN ((CAST(CAST(x_t AS DECIMAL(19,0)) * CAST(n_c AS DECIMAL(19,0))
          |          - CAST(x_c AS DECIMAL(19,0)) * CAST(n_t AS DECIMAL(19,0))
          |          AS DOUBLE)
          |        * CAST(CAST(x_t AS DECIMAL(19,0)) * CAST(n_c AS DECIMAL(19,0))
          |          - CAST(x_c AS DECIMAL(19,0)) * CAST(n_t AS DECIMAL(19,0))
          |          AS DOUBLE))
          |       * CAST(n_c + n_t AS DOUBLE)) /
          |    (((CAST(n_c AS DOUBLE) * CAST(n_t AS DOUBLE))
          |       * CAST(x_c + x_t AS DOUBLE))
          |      * CAST(n_c + n_t - x_c - x_t AS DOUBLE))
          |  ELSE 0.0D END""".stripMargin))
      .select(col("n_c"), col("x_c"), col("conv_c_ppm"),
        col("n_t"), col("x_t"), col("conv_t_ppm"),
        col("diff_ppm"), col("z_sq"))
  }
  private val q147Sql =
    """WITH u AS (
      |  SELECT user_id,
      |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
      |    CAST(user_id % 2 AS INTEGER) AS arm
      |  FROM events GROUP BY user_id
      |), a AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
      |    CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS x_c,
      |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
      |    CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS x_t
      |  FROM u
      |)
      |SELECT n_c, x_c,
      |  CASE WHEN n_c > 0 THEN (CAST(1000000 AS BIGINT) * x_c) // n_c
      |    ELSE 0 END AS conv_c_ppm,
      |  n_t, x_t,
      |  CASE WHEN n_t > 0 THEN (CAST(1000000 AS BIGINT) * x_t) // n_t
      |    ELSE 0 END AS conv_t_ppm,
      |  (CASE WHEN n_t > 0 THEN (CAST(1000000 AS BIGINT) * x_t) // n_t
      |     ELSE 0 END)
      |  - (CASE WHEN n_c > 0 THEN (CAST(1000000 AS BIGINT) * x_c) // n_c
      |     ELSE 0 END) AS diff_ppm,
      |  CASE WHEN n_c > 0 AND n_t > 0 AND (x_c + x_t) > 0
      |      AND (x_c + x_t) < (n_c + n_t)
      |    THEN ((CAST(CAST(x_t AS HUGEINT) * n_c - CAST(x_c AS HUGEINT) * n_t
      |            AS DOUBLE)
      |          * CAST(CAST(x_t AS HUGEINT) * n_c - CAST(x_c AS HUGEINT) * n_t
      |            AS DOUBLE))
      |         * CAST(n_c + n_t AS DOUBLE)) /
      |      (((CAST(n_c AS DOUBLE) * CAST(n_t AS DOUBLE))
      |         * CAST(x_c + x_t AS DOUBLE))
      |        * CAST(n_c + n_t - x_c - x_t AS DOUBLE))
      |    ELSE 0.0 END AS z_sq
      |FROM a""".stripMargin

  // --- q150: event debounce (duplicate-burst suppression) --------------------
  // The ingestion hygiene op: client retries and double-taps emit the
  // same (user, type) event in tight bursts; keep an event iff it is the
  // first of its (user, type) or ≥ [[DebounceUs]] after the PREVIOUS RAW
  // event of that key (the standard lag-debounce — the "previous KEPT
  // row" variant is inherently sequential and belongs to the streaming
  // twins' state loop, not a relational plan). Published as the per-type
  // audit: raw mass, kept mass, floored drop ppm.
  //
  // Scale: one (user_id, event_type)-keyed window (per-key ordered scan,
  // fully parallel across keys — q116's shape) and one vocabulary-sized
  // aggregate. No joins.
  private val DebounceUs = 5000000L // 5 s
  private val q150: Q = (s, dir) => {
    val byKey = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts_us"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byKey))
      .withColumn("kept",
        when(col("prev_us").isNull ||
          col("ts_us") - col("prev_us") >= DebounceUs, 1L).otherwise(0L))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_raw"), sum(col("kept")).as("n_kept"))
      .withColumn("drop_ppm",
        expr("((n_raw - n_kept) * 1000000L) DIV n_raw"))
      .orderBy(col("event_type"))
  }
  private val q150Sql =
    s"""WITH e AS (
       |  SELECT event_type,
       |    epoch_us(ts) - LAG(epoch_us(ts)) OVER (
       |      PARTITION BY user_id, event_type
       |      ORDER BY epoch_us(ts), event_id) AS gap_us
       |  FROM events
       |), g AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_raw,
       |    CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us >= $DebounceUs
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |  FROM e GROUP BY event_type
       |)
       |SELECT event_type, n_raw, n_kept,
       |  ((n_raw - n_kept) * CAST(1000000 AS BIGINT)) // n_raw AS drop_ppm
       |FROM g ORDER BY event_type""".stripMargin

  // --- q152: RFM segmentation (quintile scoring) ------------------------------
  // The classic customer-value segmentation: per purchasing user,
  // Recency (days since last purchase, vs the corpus's last purchase
  // day), Frequency (purchase count) and Monetary (lifetime purchase
  // value), each scored into quintiles 1–5, then segment-level rollups.
  // ntile() is banned here — it splits TIES by arbitrary row order, so
  // its output is shuffle-order-dependent; instead quintile CUTOFFS come
  // off the distinct-value grid (the q135 histogram discipline):
  // boundary_q = min v with cum ≥ ceil(q·N/5), score = 1 + #{boundaries
  // strictly below v}, so equal metric values ALWAYS share a score.
  // Money is exact integer cents per event before any sum (double
  // addition never crosses a shuffle); the scoring grid for monetary
  // uses whole dollars so the grid stays bounded by the price range,
  // not the user count (the q145 domain-size argument).
  // Scale: one user-keyed combinable aggregate over purchases, grids +
  // cutoffs are domain-sized windows, scoring is a 12-row broadcast
  // join, and the segment rollup has ≤ 125 output rows.
  private val q152: Q = (s, dir) => {
    val p = Tables.events(s, dir).filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("day"),
        expr("CAST(floor(value * 100 + 0.5D) AS BIGINT)").as("cents"))
    val maxDay = p.agg(max(col("day")).as("max_day"))
    val users = p.groupBy(col("user_id"))
      .agg(max(col("day")).as("last_day"), count(lit(1)).as("freq"),
        sum(col("cents")).as("mon_c"))
      .crossJoin(broadcast(maxDay))
      .select(col("user_id"),
        datediff(col("max_day"), col("last_day")).cast("bigint").as("rec"),
        col("freq"), col("mon_c"), expr("mon_c DIV 100").as("mon_d"))
    val um = users.select(col("user_id"), explode(expr(
        """array(struct('r' AS metric, rec AS v),
          |      struct('f' AS metric, freq AS v),
          |      struct('m' AS metric, mon_d AS v))""".stripMargin)).as("e"))
      .select(col("user_id"), col("e.metric"), col("e.v"))
    val grid = um.groupBy(col("metric"), col("v")).agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy("metric").orderBy("v")
    val wAll = Window.partitionBy("metric")
    val gcum = grid.withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wAll))
    val qs = s.range(1, 5).select(col("id").as("qq"))
    val cuts = gcum.crossJoin(broadcast(qs))
      .filter(col("cum") >= expr("(qq * n + 4) DIV 5"))
      .groupBy(col("metric"), col("qq")).agg(min(col("v")).as("boundary"))
    val scored = um.join(broadcast(cuts), Seq("metric"))
      .groupBy(col("user_id"), col("metric"))
      .agg((sum(when(col("v") > col("boundary"), 1L).otherwise(0L)) + 1L)
        .as("s"))
    val wide = scored.groupBy(col("user_id")).agg(
        max(when(col("metric") === "r", col("s"))).as("sr"),
        max(when(col("metric") === "f", col("s"))).as("f"),
        max(when(col("metric") === "m", col("s"))).as("m"))
      .withColumn("r", lit(6L) - col("sr")) // recent = small days = best
    wide.join(users.select(col("user_id"), col("mon_c")), Seq("user_id"))
      .groupBy(col("r"), col("f"), col("m"))
      .agg(count(lit(1)).as("n_users"), sum(col("mon_c")).as("sum_mon_c"))
      .orderBy(col("r"), col("f"), col("m"))
  }
  private val q152Sql =
    """WITH p AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'
      |), md AS (SELECT MAX(day) AS max_day FROM p),
      |users AS (
      |  SELECT user_id,
      |    CAST(date_diff('day', MAX(day), (SELECT max_day FROM md)) AS BIGINT)
      |      AS rec,
      |    CAST(COUNT(*) AS BIGINT) AS freq,
      |    CAST(SUM(cents) AS BIGINT) AS mon_c,
      |    CAST(SUM(cents) AS BIGINT) // 100 AS mon_d
      |  FROM p GROUP BY user_id
      |), um AS (
      |  SELECT user_id, 'r' AS metric, rec AS v FROM users
      |  UNION ALL SELECT user_id, 'f', freq FROM users
      |  UNION ALL SELECT user_id, 'm', mon_d FROM users
      |), grid AS (
      |  SELECT metric, v, CAST(COUNT(*) AS BIGINT) AS c FROM um GROUP BY 1, 2
      |), gcum AS (
      |  SELECT metric, v, c,
      |    CAST(SUM(c) OVER (PARTITION BY metric ORDER BY v) AS BIGINT) AS cum,
      |    CAST(SUM(c) OVER (PARTITION BY metric) AS BIGINT) AS n
      |  FROM grid
      |), qs AS (SELECT * FROM (VALUES (1), (2), (3), (4)) AS t(qq)),
      |cuts AS (
      |  SELECT metric, qq, MIN(v) AS boundary
      |  FROM gcum CROSS JOIN qs
      |  WHERE cum >= (qq * n + 4) // 5
      |  GROUP BY 1, 2
      |), scored AS (
      |  SELECT user_id, metric,
      |    CAST(SUM(CASE WHEN v > boundary THEN 1 ELSE 0 END) + 1 AS BIGINT) AS s
      |  FROM um JOIN cuts USING (metric) GROUP BY 1, 2
      |), wide AS (
      |  SELECT user_id,
      |    6 - MAX(CASE WHEN metric = 'r' THEN s END) AS r,
      |    MAX(CASE WHEN metric = 'f' THEN s END) AS f,
      |    MAX(CASE WHEN metric = 'm' THEN s END) AS m
      |  FROM scored GROUP BY user_id
      |)
      |SELECT CAST(r AS BIGINT) AS r, f, m,
      |  CAST(COUNT(*) AS BIGINT) AS n_users,
      |  CAST(SUM(mon_c) AS BIGINT) AS sum_mon_c
      |FROM wide JOIN users USING (user_id)
      |GROUP BY 1, 2, 3 ORDER BY r, f, m""".stripMargin

  // --- q158: time-to-convert histogram ---------------------------------------
  // "How long from first exposure to first purchase?" — the conversion-
  // latency distribution product teams read next to the funnel (q90).
  // Per user: first view and first purchase as two conditional MIN
  // aggregates in ONE user-keyed pass (no self-join); converters = both
  // present and purchase not before view. Latency buckets to whole days
  // by integer DIV on epoch micros, rolled into a day histogram with
  // cumulative converter share in floored ppm — every number integer.
  // Scale: one corpus-sized user-keyed combinable aggregate, then the
  // histogram + cumulative window run on the ≤ |days| latency grid
  // (dimension-sized by construction — latencies are bounded by the
  // corpus time span).
  private val q158: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val users = e.groupBy(col("user_id")).agg(
        min(when(col("event_type") === "view", unix_micros(col("ts"))))
          .as("v_us"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
          .as("p_us"))
      .filter(col("v_us").isNotNull && col("p_us").isNotNull &&
        col("p_us") >= col("v_us"))
    val hist = users
      .select(expr("(p_us - v_us) DIV 86400000000").as("latency_days"))
      .groupBy(col("latency_days")).agg(count(lit(1)).as("n_users"))
    val wCum = Window.orderBy("latency_days") // latency-grid-sized
    val total = hist.agg(sum(col("n_users")).as("n_total"))
    hist.withColumn("cum_users", sum(col("n_users")).over(wCum))
      .crossJoin(broadcast(total))
      .select(col("latency_days"), col("n_users"),
        expr("(1000000 * cum_users) DIV n_total").as("cum_share_ppm"))
      .orderBy(col("latency_days"))
  }
  private val q158Sql =
    """WITH u AS (
      |  SELECT user_id,
      |    MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS v_us,
      |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p_us
      |  FROM events GROUP BY 1
      |), conv AS (
      |  SELECT (p_us - v_us) // 86400000000 AS latency_days
      |  FROM u WHERE v_us IS NOT NULL AND p_us IS NOT NULL AND p_us >= v_us
      |), hist AS (
      |  SELECT latency_days, CAST(COUNT(*) AS BIGINT) AS n_users
      |  FROM conv GROUP BY 1
      |), tot AS (SELECT CAST(SUM(n_users) AS BIGINT) AS n_total FROM hist)
      |SELECT latency_days, n_users,
      |  (1000000 * CAST(SUM(n_users) OVER (ORDER BY latency_days) AS BIGINT))
      |    // n_total AS cum_share_ppm
      |FROM hist CROSS JOIN tot
      |ORDER BY latency_days""".stripMargin

  // --- q184: event-time disorder audit (watermark sizing) --------------------
  // The batch audit that DECIDES a streaming job's watermark: replay
  // events in ARRIVAL order and measure how far each event's time lags
  // the GLOBAL running event-time maximum — the same high-water mark
  // Spark's withWatermark tracks (global, not per-key). An event
  // lagging past the delay would be DROPPED by every watermarked
  // operator in streaming/; the power-of-10 lateness histogram plus the
  // would-drop count at the configured delay is the evidence that
  // chooses the delay. The testdata's ingest order is perfectly time-
  // sorted, so arrival disorder is PLANTED deterministically (the
  // q74/q85 fixture-injection convention): every 37th event arrives
  // 5000 sequence positions late.
  // Scale: the global running max is the classic TWO-PHASE DISTRIBUTED
  // PREFIX SCAN, never a single-partition global window — a chunk-keyed
  // running max within each arrival chunk (distributed window), a
  // chunks-sized prefix max across chunk maxima (dimension-sized global
  // window), and a broadcast join combining the two. The oracle computes
  // the same mark with DuckDB's plain global window, so the hash match
  // PROVES the two-phase decomposition exact.
  private val WmDelayUs = 3600L * 1000000L // the 1h delay streaming/ uses
  private val WmChunk = 4096L
  private val q184: Q = (s, dir) => {
    val e = Tables.events(s, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("arrival", expr(
        "event_id + (CASE WHEN event_id % 37 = 0 THEN 5000L ELSE 0L END)"))
      .withColumn("part", expr(s"arrival DIV $WmChunk"))
    val wIn = Window.partitionBy(col("part"))
      .orderBy(col("arrival"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inPart = e.withColumn("run_max", max(col("ts_us")).over(wIn))
    val wPrev = Window.orderBy(col("part"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prevMax = e.groupBy(col("part")).agg(max(col("ts_us")).as("pmax"))
      .withColumn("prev_max", max(col("pmax")).over(wPrev))
      .select(col("part"), col("prev_max"))
    val late = inPart.join(broadcast(prevMax), "part")
      .withColumn("hwm_us",
        greatest(col("run_max"), coalesce(col("prev_max"), col("run_max"))))
      .withColumn("late_us", col("hwm_us") - col("ts_us"))
    // power-of-10 bucket via decimal-digit count (never float log10)
    late.withColumn("bucket", expr(
        "CASE WHEN late_us = 0 THEN 0L ELSE CAST(length(CAST(late_us AS STRING)) AS BIGINT) END"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_events"),
        max(col("late_us")).as("max_late_us"),
        sum(when(col("late_us") > WmDelayUs, 1L).otherwise(0L))
          .as("would_drop"))
      .orderBy(col("bucket"))
  }
  private val q184Sql =
    s"""WITH a AS (
       |  SELECT event_id, epoch_us(ts) AS ts_us,
       |    event_id + (CASE WHEN event_id % 37 = 0 THEN 5000 ELSE 0 END)
       |      AS arrival
       |  FROM events
       |), l AS (
       |  SELECT ts_us,
       |    MAX(ts_us) OVER (ORDER BY arrival, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hwm_us
       |  FROM a
       |), b AS (
       |  SELECT hwm_us - ts_us AS late_us,
       |    CASE WHEN hwm_us - ts_us = 0 THEN 0
       |      ELSE length(CAST(hwm_us - ts_us AS VARCHAR)) END AS bucket
       |  FROM l
       |)
       |SELECT CAST(bucket AS BIGINT) AS bucket,
       |  CAST(COUNT(*) AS BIGINT) AS n_events,
       |  CAST(MAX(late_us) AS BIGINT) AS max_late_us,
       |  CAST(SUM(CASE WHEN late_us > $WmDelayUs THEN 1 ELSE 0 END) AS BIGINT)
       |    AS would_drop
       |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin

  // --- q193: regular-grid resampling with linear interpolation ---------------
  // The time-series step q99's zero-fill can't do: each user's sparse
  // measurement series resampled onto the hourly grid by LINEAR
  // interpolation between the bracketing events (sensor/metric
  // semantics — a missing hour means "the signal was between its
  // neighbors", not zero). Plan shape: one window over EVENTS ONLY
  // (lead() pairs consecutive distinct timestamps per user), then each
  // inter-event segment GENERATES its interior grid points with the
  // interpolation inlined, straight into the hour hash-aggregate. The
  // union-then-bracket form (grid rows and event rows interleaved
  // through two whole-series window sorts) sorted hours-per-user ×
  // users rows twice — 10.6M rows and 28.6 s at sf1 vs ~150k rows
  // through the one window here: the grid volume never passes a sort,
  // only the map-side-combined final aggregate. Same-timestamp tie
  // rules preserved from the bracket form: a grid point ON an event
  // takes the max-event_id value at that ts (the prev bracket's rule);
  // interpolation reads prev = max-event_id value at the left event ts,
  // next = min-event_id value at the right (max_by/min_by over the
  // (user, ts) group). The interpolation is exact integer milli math.
  // Published as the corpus-level hourly series (bounded rows).
  // Scale: grid volume = hours-per-user × users (a bounded linear
  // blow-up set by the grid density knob), produced AND partial-
  // aggregated inside one stage; one user-keyed shuffle of events.
  private val GridUs = 3600L * 1000000L
  private val q193: Q = (s, dir) => {
    val e = Tables.events(s, dir).select(col("user_id"),
      unix_micros(col("ts")).as("ts_us"), col("event_id"),
      expr("CAST(floor(value * 1000.0D) AS BIGINT)").as("mv"))
    // per (user, ts): the value each bracket direction would pick —
    // prev picks the max-event_id event at the ts, next the min
    val ts = e.groupBy(col("user_id"), col("ts_us"))
      .agg(expr("max_by(mv, event_id)").as("pvv"),
        expr("min_by(mv, event_id)").as("nvv"))
    val wNextTs = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
    val seg = ts
      .withColumn("t_next", lead(col("ts_us"), 1).over(wNextTs))
      .withColumn("nv_next", lead(col("nvv"), 1).over(wNextTs))
      // grid points owned by this segment: [ts_us, t_next) — the last
      // event's segment owns only a grid point landing exactly on it
      .withColumn("gs", expr(s"(ts_us + ${GridUs - 1}) DIV $GridUs"))
      .withColumn("ge", expr(
        s"CASE WHEN t_next IS NULL THEN ts_us DIV $GridUs " +
          s"ELSE (t_next + ${GridUs - 1}) DIV $GridUs - 1 END"))
      .filter(col("gs") <= col("ge"))
    seg
      .select(col("ts_us"), col("pvv"), col("t_next"), col("nv_next"),
        explode(expr("sequence(gs, ge)")).as("g"))
      .withColumn("gts", col("g") * GridUs)
      .withColumn("imv", expr(
        // q120 convention: the interpolation numerator is value-delta ×
        // µs-gap — both unbounded by the user's data (mv is 10³-scaled,
        // gaps are whatever a quiet user leaves), so it runs in
        // DECIMAL(38,0) (HUGEINT twin); int64 would wrap silently while
        // DuckDB errors
        """CASE WHEN gts = ts_us THEN pvv
          |  ELSE pvv + CAST((CAST(nv_next - pvv AS DECIMAL(38,0)) * (gts - ts_us))
          |    DIV (t_next - ts_us) AS BIGINT) END"""
          .stripMargin))
      .groupBy(col("g").as("hour"))
      .agg(count(lit(1)).as("n_users"), sum(col("imv")).as("sum_mv"))
      .orderBy(col("hour"))
  }
  private val q193Sql =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
       |    CAST(floor(value * 1000.0) AS BIGINT) AS mv
       |  FROM events
       |), bounds AS (
       |  SELECT user_id,
       |    (MIN(ts_us) + ${GridUs - 1}) // $GridUs AS g0,
       |    MAX(ts_us) // $GridUs AS g1
       |  FROM e GROUP BY user_id
       |), grid AS (
       |  SELECT user_id, unnest(generate_series(g0, g1)) * $GridUs AS ts_us,
       |    CAST(NULL AS BIGINT) AS mv, 0 AS ie, CAST(0 AS BIGINT) AS event_id
       |  FROM bounds WHERE g0 <= g1
       |), uni AS (
       |  SELECT user_id, ts_us, mv, 1 AS ie, event_id FROM e
       |  UNION ALL SELECT * FROM grid
       |), br AS (
       |  SELECT *,
       |    last_value(mv IGNORE NULLS) OVER wp AS pv,
       |    last_value(CASE WHEN ie = 1 THEN ts_us END IGNORE NULLS)
       |      OVER wp AS pt,
       |    first_value(mv IGNORE NULLS) OVER wn AS nv,
       |    first_value(CASE WHEN ie = 1 THEN ts_us END IGNORE NULLS)
       |      OVER wn AS nt
       |  FROM uni
       |  WINDOW wp AS (PARTITION BY user_id ORDER BY ts_us, ie DESC, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |  wn AS (PARTITION BY user_id ORDER BY ts_us, ie, event_id
       |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
       |)
       |SELECT ts_us // $GridUs AS hour, CAST(COUNT(*) AS BIGINT) AS n_users,
       |  CAST(SUM(CASE WHEN nt = pt THEN pv
       |    ELSE pv + CAST((CAST(nv - pv AS HUGEINT) * (ts_us - pt))
       |      // (nt - pt) AS BIGINT) END) AS BIGINT)
       |    AS sum_mv
       |FROM br
       |WHERE ie = 0 AND pv IS NOT NULL AND nv IS NOT NULL
       |GROUP BY 1 ORDER BY hour""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("q193_resample_interp", q193, Some(q193Sql)),
    Query("q184_disorder_audit", q184, Some(q184Sql)),
    Query("q158_time_to_convert", q158, Some(q158Sql)),
    Query("q161_cohort_ltv", q161, Some(q161Sql)),
    Query("q152_rfm_segments", q152, Some(q152Sql)),
    Query("q147_ab_lift", q147, Some(q147Sql)),
    Query("q150_debounce", q150, Some(q150Sql)),
    Query("q132_audience_overlap", q132, Some(q132Sql)),
    Query("q90_funnel", q90, Some(q90Sql)),
    Query("q91_retention", q91, Some(q91Sql)),
    Query("q92_transitions", q92, Some(q92Sql)),
    Query("q93_weekly_delta", q93, Some(q93Sql)),
    Query("q96_weekly_churn", q96, Some(q96Sql)),
    Query("q97_conversion_latency", q97, Some(q97Sql)),
    Query("q103_session_paths", q103, Some(q103Sql)),
    Query("q115_linear_attribution", q115, Some(q115Sql)),
    Query("q116_twap", q116, Some(q116Sql)),
    Query("q117_session_stats", q117, Some(q117Sql)),
    Query("q121_weighted_median", q121, Some(q121Sql)),
    Query("q123_wau", q123, Some(q123Sql)),
    Query("q124_decayed_engagement", q124, Some(q124Sql)))
}
