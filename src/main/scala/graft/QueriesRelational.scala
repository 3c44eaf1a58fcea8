package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator inventory, part 2 (SURVEY.md §2.2/§2.3/§2.7/§2.8):
  * anti/semi joins, JSON extraction with null defaults, flag derivation,
  * distinct, audit aggregations, multi-key joins, union, ratio metrics with
  * per-call-site zero-denominator guards, dim left-join with display-name
  * fallback.
  */
object QueriesRelational {
  import Exact.{sql => X}

  type Q = (SparkSession, String) => DataFrame

  // --- q15: left-anti join (J5) — customers with no high-value order --------
  private val q15: Q = (s, dir) => {
    val c  = Tables.customer(s, dir)
    val hv = Tables.orders(s, dir).filter(col("o_totalprice") > 450000.0)
    c.join(hv, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }
  private val q15Sql =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)
      |ORDER BY c_custkey""".stripMargin

  // --- q16: left-semi join (J6/P7) — orders of BUILDING-segment customers ---
  private val q16: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val b = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    o.join(b, col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), Exact.sumMoney(col("o_totalprice")).as("revenue"))
      .orderBy(col("o_orderstatus"))
  }
  private val q16Sql =
    s"""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
       |${X.sumMoney("o_totalprice")} AS revenue
       |FROM orders WHERE EXISTS (SELECT 1 FROM customer
       |  WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING')
       |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // --- q17: JSON extraction with null default (P1) ---------------------------
  // Mirrors `ifnull(json_extract(stats,'$....'), 0)` — parse_matches.sh:627-670.
  private val q17: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    e.withColumn("k", coalesce(get_json_object(col("props"), "$.k").cast("int"), lit(-1)))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"), Exact.sumMoney(col("value")).as("sum_value"))
      .orderBy(col("k"))
  }
  private val q17Sql =
    s"""SELECT COALESCE(CAST(json_extract_string(props, '$$.k') AS INTEGER), -1) AS k,
       |CAST(COUNT(*) AS BIGINT) AS n, ${X.sumMoney("value")} AS sum_value
       |FROM events GROUP BY 1 ORDER BY k""".stripMargin

  // --- q18: flag derivation over per-day rollup (P8) --------------------------
  // monster/gooseegg analog: big day = daily value sum >= 700; zero day = no
  // purchases that day (parse_matches.sh:487-498,527-534).
  private val q18: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val daily = e.groupBy(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(sum(Exact.cents(col("value"))).as("vc"),
           sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"))
    daily.groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_days"),
        sum(when(col("vc") >= 70000L, 1L).otherwise(0L)).as("n_big_days"),
        sum(when(col("np") === 0L, 1L).otherwise(0L)).as("n_zero_purchase_days"))
      .orderBy(col("user_id"))
  }
  private val q18Sql =
    """WITH d AS (
      |  SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
      |    SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS vc,
      |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np
      |  FROM events GROUP BY 1, 2
      |)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_days,
      |  CAST(SUM(CASE WHEN vc >= 70000 THEN 1 ELSE 0 END) AS BIGINT) AS n_big_days,
      |  CAST(SUM(CASE WHEN np = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_purchase_days
      |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin

  // --- q19: distinct (A9) -----------------------------------------------------
  private val q19: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    d.select(col("lang"), col("source")).distinct()
      .orderBy(col("lang"), col("source"))
  }
  private val q19Sql =
    """SELECT DISTINCT lang, source FROM documents ORDER BY lang, source""".stripMargin

  // --- q20: min/max/count audit agg (P9/A11) ----------------------------------
  private val q20: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    e.groupBy(col("event_type"))
      .agg(
        min(unix_micros(col("ts"))).as("first_seen_us"),
        max(unix_micros(col("ts"))).as("last_seen_us"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }
  private val q20Sql =
    """SELECT event_type, MIN(epoch_us(ts)) AS first_seen_us,
      |MAX(epoch_us(ts)) AS last_seen_us, CAST(COUNT(*) AS BIGINT) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // --- q21: multi-key equi join of two rollups (J8) ---------------------------
  private val q21: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    def rollup(t: String, name: String) =
      e.filter(col("event_type") === t)
        .groupBy(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as(name))
    rollup("purchase", "n_purchases")
      .join(rollup("click", "n_clicks"), Seq("user_id", "day"))
      .orderBy(col("user_id"), col("day"))
  }
  private val q21Sql =
    """WITH p AS (
      |  SELECT user_id, strftime(ts, '%Y-%m-%d') AS day, CAST(COUNT(*) AS BIGINT) AS n_purchases
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
      |), c AS (
      |  SELECT user_id, strftime(ts, '%Y-%m-%d') AS day, CAST(COUNT(*) AS BIGINT) AS n_clicks
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2
      |)
      |SELECT user_id, day, n_purchases, n_clicks
      |FROM p JOIN c USING (user_id, day) ORDER BY user_id, day""".stripMargin

  // --- q22: union-distinct (U1) ------------------------------------------------
  private val q22: Q = (s, dir) => {
    val c = Tables.customer(s, dir).select(col("c_nationkey").as("nationkey"))
    val su = Tables.supplier(s, dir).select(col("s_nationkey").as("nationkey"))
    c.union(su).distinct().orderBy(col("nationkey"))
  }
  private val q22Sql =
    """SELECT c_nationkey AS nationkey FROM customer
      |UNION
      |SELECT s_nationkey AS nationkey FROM supplier
      |ORDER BY nationkey""".stripMargin

  // --- q23: ratio metrics with zero-denominator guards (§2.8 JS lambdas) ------
  // K/D analog: errors==0 ⇒ ratio = purchases (index.js/player.js:219);
  // win%% analog: errors==0 ⇒ 100%% (index.js:631). Integer counts → the
  // guarded divisions are identical IEEE ops on both engines.
  private val q23: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val agg = e.groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("ne"))
    agg.select(
        col("user_id"), col("np").as("n_purchases"), col("ne").as("n_errors"),
        when(col("ne") === 0L, col("np").cast("double"))
          .otherwise(col("np").cast("double") / col("ne").cast("double"))
          .as("purchase_error_ratio"),
        when(col("ne") === 0L, lit(100.0))
          .otherwise(lit(100.0) * col("np").cast("double")
            / (col("np") + col("ne")).cast("double"))
          .as("purchase_pct"))
      .orderBy(col("user_id"))
  }
  private val q23Sql =
    """WITH a AS (
      |  SELECT user_id,
      |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np,
      |    SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS ne
      |  FROM events GROUP BY user_id
      |)
      |SELECT user_id, CAST(np AS BIGINT) AS n_purchases, CAST(ne AS BIGINT) AS n_errors,
      |  CASE WHEN ne = 0 THEN CAST(np AS DOUBLE)
      |       ELSE CAST(np AS DOUBLE) / CAST(ne AS DOUBLE) END AS purchase_error_ratio,
      |  CASE WHEN ne = 0 THEN 100.0
      |       ELSE 100.0 * CAST(np AS DOUBLE) / CAST(np + ne AS DOUBLE) END AS purchase_pct
      |FROM a ORDER BY user_id""".stripMargin

  // --- q24: dim left join + display-name fallback (J2/P10) --------------------
  // `ifnull(display_name, 'Unknown <'||x||'>')` — parse_matches.sh:514.
  private val typeDim = Seq(
    ("click", "Click"), ("purchase", "Purchase"), ("signup", "Sign-up"),
    ("error", "Error")) // 'view' intentionally missing from the dim
  private val q24: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    import s.implicits._
    val dim = typeDim.toDF("event_type", "display_name")
    e.join(broadcast(dim), Seq("event_type"), "left")
      .withColumn("display",
        coalesce(col("display_name"),
                 concat(lit("Unknown <"), col("event_type"), lit(">"))))
      .groupBy(col("event_type"), col("display"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }
  private val q24Sql = {
    val values = typeDim.map { case (t, d) => s"('$t', '$d')" }.mkString(", ")
    s"""WITH dim AS (SELECT * FROM (VALUES $values) AS t(event_type, display_name))
       |SELECT event_type,
       |  COALESCE(display_name, 'Unknown <' || event_type || '>') AS display,
       |  CAST(COUNT(*) AS BIGINT) AS n
       |FROM events LEFT JOIN dim USING (event_type)
       |GROUP BY 1, 2 ORDER BY event_type""".stripMargin
  }

  // --- q25: unknown-key audit — anti-join + min/max/count (P9) ----------------
  private val q25: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    import s.implicits._
    val dim = typeDim.toDF("event_type", "display_name").select("event_type")
    e.join(broadcast(dim), Seq("event_type"), "left_anti")
      .groupBy(col("event_type"))
      .agg(
        min(unix_micros(col("ts"))).as("first_seen_us"),
        max(unix_micros(col("ts"))).as("last_seen_us"),
        count(lit(1)).as("total"))
      .orderBy(col("event_type"))
  }
  private val q25Sql = {
    val values = typeDim.map { case (t, _) => s"('$t')" }.mkString(", ")
    s"""WITH dim AS (SELECT * FROM (VALUES $values) AS t(event_type))
       |SELECT event_type, MIN(epoch_us(ts)) AS first_seen_us,
       |  MAX(epoch_us(ts)) AS last_seen_us, CAST(COUNT(*) AS BIGINT) AS total
       |FROM events WHERE event_type NOT IN (SELECT event_type FROM dim)
       |GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  // --- q42: ROLLUP subtotals (additive beyond the reference — no grouping
  // sets exist there, SURVEY §2.4 note). NULL rollup keys are coalesced to
  // a sentinel on both engines (data contains no real NULL names).
  private val q42: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .rollup(col("n_name"), col("c_mktsegment"))
      .agg(Exact.sumMoney(col("o_totalprice")).as("revenue"),
           count(lit(1)).as("n_orders"))
      .select(
        coalesce(col("n_name"), lit("(all)")).as("nation"),
        coalesce(col("c_mktsegment"), lit("(all)")).as("segment"),
        col("revenue"), col("n_orders"))
      .orderBy(col("nation"), col("segment"))
  }
  private val q42Sql =
    s"""SELECT COALESCE(n_name, '(all)') AS nation,
       |  COALESCE(c_mktsegment, '(all)') AS segment,
       |  ${X.sumMoney("o_totalprice")} AS revenue,
       |  CAST(COUNT(*) AS BIGINT) AS n_orders
       |FROM orders
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |GROUP BY ROLLUP(n_name, c_mktsegment)
       |ORDER BY nation, segment""".stripMargin

  // --- q43: ntile quartiles over a total order (window bucketing) ------------
  // A global ntile is inherently a single-ordered-pass op (fine here; the
  // row count is bench-scale). The 100 TB path computes approximate cut
  // points first (approx_percentile) and bucket-assigns map-side — exact
  // ntile at that scale is the wrong tool and is NOT what this query
  // claims to scale to.
  private val q43: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
    o.withColumn("quartile", ntile(4).over(w))
      .groupBy(col("quartile"))
      .agg(count(lit(1)).as("n"),
           Exact.sumMoney(col("o_totalprice")).as("revenue"),
           min(col("o_totalprice")).as("min_price"),
           max(col("o_totalprice")).as("max_price"))
      .orderBy(col("quartile"))
  }
  private val q43Sql =
    s"""WITH t AS (
       |  SELECT *, CAST(NTILE(4) OVER (ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS quartile
       |  FROM orders
       |)
       |SELECT quartile, CAST(COUNT(*) AS BIGINT) AS n,
       |  ${X.sumMoney("o_totalprice")} AS revenue,
       |  MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
       |FROM t GROUP BY quartile ORDER BY quartile""".stripMargin

  // --- q50: quantile bucketing WITHOUT a global window (q43's scale path) ----
  // The 100 TB replacement for global ntile: compute the three quartile cut
  // points in one aggregate (partial+final, no sort of the world), broadcast
  // the 1-row cut table, and bucket-assign map-side with a CASE — the plan
  // has NO Window operator, so no single reducer ever sees a total order.
  // percentile_disc picks actual elements by the ANSI cume_dist rule, which
  // both engines implement identically (the q46 precedent), making the cut
  // points — and therefore every bucket assignment — bit-identical
  // cross-engine. At real scale swap percentile_disc for approx_percentile:
  // same plan shape, sketch-merge aggregate instead of exact. Bucket counts
  // differ from exact ntile only at cut-point ties (ntile splits ties by
  // row order; threshold bucketing is value-deterministic — the property
  // that makes it scale-safe AND engine-portable). q43 stays as the exact
  // small-scale cross-check.
  // r15 execution shape: everything runs off the distinct-PRICE histogram
  // (the q126 percentile replay + q145 price-grid discipline). One codegen
  // aggregate collapses the corpus to its price grid before any shuffle;
  // the quartile cut points replay percentile_disc's ANSI cume_dist rule
  // in exact integers on the two-level cumulative histogram (p25 ⇔
  // 4·cum ≥ n etc. — no float division), and the published rollup is
  // derived from the same histogram (count = Σcnt, exact revenue =
  // Σ cents·cnt, min/max from the grid) — the former plan's
  // ObjectHashAggregate percentile buffer (every value shipped to one
  // reducer) and its SECOND corpus scan are both gone. The only windows
  // are grid-sized: per coarse price bucket, then across the ≤|price
  // range| bucket summaries. The oracle twin keeps native
  // percentile_disc — same rows through a maximally different plan.
  private val q50: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val cum = {
      val h = o.groupBy(col("o_totalprice").as("p"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("pb", floor(col("p") / 1000.0))
      val wIn = Window.partitionBy("pb").orderBy("p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wBs = Window.orderBy("pb")
        .rowsBetween(Window.unboundedPreceding, -1)
      val bTot = h.groupBy("pb").agg(sum("cnt").as("bcnt"))
        .select(col("pb"),
          coalesce(sum("bcnt").over(wBs), lit(0L)).as("before"))
      h.withColumn("cin", sum(col("cnt")).over(wIn))
        .join(bTot, "pb")
        .select(col("p"), col("cnt"), (col("cin") + col("before")).as("cum"))
        .cache() // grid-sized; read by the cut selection AND the rollup
    }
    val cuts = cum
      .crossJoin(broadcast(cum.agg(sum(col("cnt")).as("n"))))
      .agg(min(when(col("cum") * 4 >= col("n"), col("p"))).as("c25"),
        min(when(col("cum") * 2 >= col("n"), col("p"))).as("c50"),
        min(when(col("cum") * 4 >= col("n") * 3, col("p"))).as("c75"))
    cum.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        when(col("p") <= col("c25"), 1)
          .when(col("p") <= col("c50"), 2)
          .when(col("p") <= col("c75"), 3)
          .otherwise(4))
      .groupBy(col("bucket"))
      .agg(sum(col("cnt")).as("n"),
           (sum(Exact.cents(col("p")) * col("cnt")).cast("double") / 100.0)
             .as("revenue"),
           min(col("p")).as("min_price"),
           max(col("p")).as("max_price"))
      .orderBy(col("bucket"))
  }
  private val q50Sql =
    s"""WITH c AS (
       |  SELECT
       |    percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS c25,
       |    percentile_disc(0.50) WITHIN GROUP (ORDER BY o_totalprice) AS c50,
       |    percentile_disc(0.75) WITHIN GROUP (ORDER BY o_totalprice) AS c75
       |  FROM orders
       |)
       |SELECT CASE WHEN o_totalprice <= c25 THEN 1
       |            WHEN o_totalprice <= c50 THEN 2
       |            WHEN o_totalprice <= c75 THEN 3
       |            ELSE 4 END AS bucket,
       |  CAST(COUNT(*) AS BIGINT) AS n,
       |  ${X.sumMoney("o_totalprice")} AS revenue,
       |  MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
       |FROM orders, c GROUP BY 1 ORDER BY bucket""".stripMargin

  // --- q57: as-of join — click→purchase attribution --------------------------
  // Each purchase attributed to the user's latest click at-or-before it:
  // the canonical operator Spark lacks natively, composed scale-correctly
  // by ops/AsofJoin (union + one window pass — one shuffle on user_id, one
  // ordered scan; never an inequality join). The DuckDB twin uses its
  // native ASOF JOIN with the right side deduped to max(click_id) per
  // (user, ts) — exactly the operator's documented tie rule.
  private val q57: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"),
              col("event_id").as("click_id"), col("ts").as("click_ts"))
    graft.ops.AsofJoin
      .latestAtOrBefore(purchases, clicks, "user_id", "ts",
        Seq("click_id", "click_ts"), "click_id")
      .filter(col("asof_click_id").isNotNull)
      .select(col("purchase_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("asof_click_id").as("click_id"),
        unix_micros(col("asof_click_ts")).as("click_ts_us"),
        (unix_micros(col("ts")) - unix_micros(col("asof_click_ts"))).as("gap_us"))
      .orderBy(col("purchase_id"))
  }
  private val q57Sql =
    """WITH p AS (
      |  SELECT user_id, ts, event_id AS purchase_id FROM events
      |  WHERE event_type = 'purchase'
      |), c0 AS (
      |  SELECT user_id, ts, event_id AS click_id FROM events
      |  WHERE event_type = 'click'
      |), c AS (
      |  SELECT user_id, ts, MAX(click_id) AS click_id FROM c0 GROUP BY 1, 2
      |), j AS (
      |  SELECT p.purchase_id, p.user_id, p.ts AS pts, c.click_id, c.ts AS cts
      |  FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
      |)
      |SELECT purchase_id, user_id, epoch_us(pts) AS ts_us, click_id,
      |  epoch_us(cts) AS click_ts_us,
      |  epoch_us(pts) - epoch_us(cts) AS gap_us
      |FROM j ORDER BY purchase_id""".stripMargin

  // --- q46: exact discrete percentiles (ANSI percentile_disc) ----------------
  // percentile_disc picks an actual element (first value with cume_dist >=
  // q, the ANSI rule both engines implement) — unlike interpolating
  // percentile_cont, the result is an existing double, so cross-engine
  // equality is exact. Scale note: exact percentiles need a per-group sort;
  // the 100 TB path is approx_percentile for cut points (see q43 note).
  private val q46: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    e.groupBy(col("event_type"))
      .agg(
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").as("p50"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY value)").as("p90"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }
  private val q46Sql =
    """SELECT event_type,
      |  percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS p50,
      |  percentile_disc(0.9) WITHIN GROUP (ORDER BY value) AS p90,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // --- q72: interval-overlap concurrency, pair-free ---------------------------
  // The interval×interval shape ([[graft.ops.RangeJoin]] is
  // point-in-interval; this is the other half): which user sessions ran
  // CONCURRENTLY with sessions of other users. Through r7 this was a
  // bucket-blocked interval self-join — candidates per-bucket local,
  // every true pair emitted exactly once via the canonical-collision
  // trick — but the PAIR VOLUME itself is data-inherent and density²:
  // 3.7 M pairs at sf0.1 → 380 M at sf1 (59 s, measured). The metric is
  // a distinct-user COUNT, so r8 replaces pair enumeration with interval
  // algebra ([[graft.ops.OverlapCount]]): per-session rank sweeps over a
  // minute-bucketed cumulative histogram plus a gap-containment
  // correction — near-linear at every scale, identical rows. The DuckDB
  // twin keeps its native inequality join — same result through a
  // maximally different plan, which is exactly what the oracle is for.
  private val OverlapBucketUs = 14400000000L // 4h blocking for the gap join
  private val q72: Q = (s, dir) => {
    val sess = graft.ops.Sessionize
      .sessions(Tables.events(s, dir), col("user_id"), col("ts"),
        col("event_id"), 7200L, Exact.cents(col("value")))
      .select(col("user_id").as("entity"), col("session_seq").as("seq"),
        col("start_us"), col("end_us"))
    graft.ops.OverlapCount
      .distinctOverlaps(sess, gapUs = 7200L * 1000000L,
        coarseUs = OverlapBucketUs)
      .select(col("entity").as("user_id"), col("seq").as("session_seq"),
        col("n_overlap_users"))
      .orderBy(desc("n_overlap_users"), col("user_id"), col("session_seq"))
      .limit(20)
  }
  private val q72Sql =
    s"""WITH d AS (
       |  SELECT user_id, ts, event_id,
       |    CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
       |           OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w >= CAST(7200 AS BIGINT) * 1000000 THEN 1
       |         ELSE 0 END AS new_s
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |), t AS (
       |  SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
       |  FROM d
       |), sess AS (
       |  SELECT user_id, session_seq,
       |    MIN(epoch_us(ts)) AS start_us, MAX(epoch_us(ts)) AS end_us
       |  FROM t GROUP BY user_id, session_seq
       |)
       |SELECT a.user_id, a.session_seq,
       |  CAST(COUNT(DISTINCT b.user_id) AS BIGINT) AS n_overlap_users
       |FROM sess a JOIN sess b
       |  ON a.user_id != b.user_id
       |  AND a.start_us <= b.end_us AND b.start_us <= a.end_us
       |GROUP BY a.user_id, a.session_seq
       |ORDER BY n_overlap_users DESC, a.user_id, a.session_seq LIMIT 20""".stripMargin

  // --- q149: data-contract audit — referential integrity + range checks ------
  // The DQ gate a pipeline runs before trusting a batch: every FK edge of
  // the star schema as a left-anti orphan count, plus the value-range
  // contracts (nonpositive totals, discount outside [0,1], null event
  // users). One row per named check, 0 = contract holds — the audit's
  // JOB is to publish the zeros (q25's audit-projection discipline
  // lifted to the whole schema).
  //
  // Scale: each FK check is one left-anti join — broadcast where the PK
  // side is a dimension (nation, region, supplier-sized tables), shuffle
  // hash for the two fact⨝fact edges; range checks are pruned-column
  // scans with map-side conditional counts. Checks are independent
  // single-pass scans, so the whole audit parallelizes trivially and no
  // check reads a column it doesn't test (ReadSchema stays minimal).
  private val q149: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val o  = Tables.orders(s, dir)
    val c  = Tables.customer(s, dir)
    val n  = Tables.nation(s, dir)
    val r  = Tables.region(s, dir)
    val p  = Tables.part(s, dir)
    val su = Tables.supplier(s, dir)
    val ev = Tables.events(s, dir)
    def audit(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_violations"))
        .select(lit(name).as("check_name"), col("n_violations"))
    audit("customer_orphan_nation",
        c.select(col("c_nationkey"))
          .join(broadcast(n.select(col("n_nationkey"))),
            col("c_nationkey") === col("n_nationkey"), "left_anti"))
      .unionByName(audit("events_null_user",
        ev.filter(col("user_id").isNull).select(col("event_id"))))
      .unionByName(audit("lineitem_discount_range",
        li.filter(!col("l_discount").between(0.0, 1.0))
          .select(col("l_orderkey"))))
      .unionByName(audit("lineitem_orphan_order",
        li.select(col("l_orderkey"))
          .join(o.select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"), "left_anti")))
      .unionByName(audit("lineitem_orphan_part",
        li.select(col("l_partkey"))
          .join(broadcast(p.select(col("p_partkey"))),
            col("l_partkey") === col("p_partkey"), "left_anti")))
      .unionByName(audit("lineitem_orphan_supplier",
        li.select(col("l_suppkey"))
          .join(broadcast(su.select(col("s_suppkey"))),
            col("l_suppkey") === col("s_suppkey"), "left_anti")))
      .unionByName(audit("nation_orphan_region",
        n.select(col("n_regionkey"))
          .join(broadcast(r.select(col("r_regionkey"))),
            col("n_regionkey") === col("r_regionkey"), "left_anti")))
      .unionByName(audit("orders_nonpositive_total",
        o.filter(col("o_totalprice") <= 0.0).select(col("o_orderkey"))))
      .unionByName(audit("orders_orphan_customer",
        o.select(col("o_custkey"))
          .join(broadcast(c.select(col("c_custkey"))),
            col("o_custkey") === col("c_custkey"), "left_anti")))
      .orderBy(col("check_name"))
  }
  private val q149Sql =
    """SELECT * FROM (
      |  SELECT 'customer_orphan_nation' AS check_name,
      |    CAST(COUNT(*) AS BIGINT) AS n_violations FROM customer
      |  WHERE NOT EXISTS (SELECT 1 FROM nation WHERE n_nationkey = c_nationkey)
      |  UNION ALL
      |  SELECT 'events_null_user', CAST(COUNT(*) AS BIGINT) FROM events
      |  WHERE user_id IS NULL
      |  UNION ALL
      |  SELECT 'lineitem_discount_range', CAST(COUNT(*) AS BIGINT) FROM lineitem
      |  WHERE l_discount NOT BETWEEN 0 AND 1
      |  UNION ALL
      |  SELECT 'lineitem_orphan_order', CAST(COUNT(*) AS BIGINT) FROM lineitem
      |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
      |  UNION ALL
      |  SELECT 'lineitem_orphan_part', CAST(COUNT(*) AS BIGINT) FROM lineitem
      |  WHERE NOT EXISTS (SELECT 1 FROM part WHERE p_partkey = l_partkey)
      |  UNION ALL
      |  SELECT 'lineitem_orphan_supplier', CAST(COUNT(*) AS BIGINT) FROM lineitem
      |  WHERE NOT EXISTS (SELECT 1 FROM supplier WHERE s_suppkey = l_suppkey)
      |  UNION ALL
      |  SELECT 'nation_orphan_region', CAST(COUNT(*) AS BIGINT) FROM nation
      |  WHERE NOT EXISTS (SELECT 1 FROM region WHERE r_regionkey = n_regionkey)
      |  UNION ALL
      |  SELECT 'orders_nonpositive_total', CAST(COUNT(*) AS BIGINT) FROM orders
      |  WHERE o_totalprice <= 0
      |  UNION ALL
      |  SELECT 'orders_orphan_customer', CAST(COUNT(*) AS BIGINT) FROM orders
      |  WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
      |) ORDER BY check_name""".stripMargin

  // --- q159: Benford first-digit audit ---------------------------------------
  // The fraud/data-quality screen on any money column: natural
  // multiplicative data follows Benford's law (P(d) = log10(1+1/d)) and
  // fabricated or truncated data doesn't. First significant digit
  // WITHOUT log10 (not correctly-rounded IEEE): o_totalprice has 2
  // decimals and is ≥ 0.01, so the leading char of CAST(price·100 AS
  // BIGINT)'s decimal string IS the first significant digit — pure
  // integer/string ops, bit-identical cross-engine. Expected shares are
  // the published Benford ppm constants (floor(10⁶·log10(1+1/d)) —
  // fixed public literals, not computed); published per digit: count,
  // observed ppm share, expected ppm, signed deviation. Scale: one
  // pruned-column scan into a 9-row combinable HashAggregate.
  private val BenfordPpm = Seq(301029L, 176091L, 124938L, 96910L,
    79181L, 66946L, 57991L, 51152L, 45757L)
  private val q159: Q = (s, dir) => {
    val digitsDim = s.range(1, 10).select(col("id").as("digit"),
      expr(s"element_at(array(${BenfordPpm.mkString(", ")}L), CAST(id AS INT))")
        .as("benford_ppm"))
    val o = Tables.orders(s, dir).filter(col("o_totalprice") > 0)
      .select(expr(
        "CAST(substring(CAST(CAST(o_totalprice * 100 AS BIGINT) AS STRING), 1, 1) AS BIGINT)")
        .as("digit"))
    val counts = o.groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("n_total"))
    digitsDim.join(counts, Seq("digit"), "left")
      .na.fill(0L, Seq("n"))
      .crossJoin(broadcast(total))
      .select(col("digit"), col("n"),
        expr("(1000000 * n) DIV n_total").as("share_ppm"),
        col("benford_ppm"),
        (expr("(1000000 * n) DIV n_total") - col("benford_ppm"))
          .as("dev_ppm"))
      .orderBy(col("digit"))
  }
  private val q159Sql = {
    val dim = BenfordPpm.zipWithIndex
      .map { case (b, i) => s"(${i + 1}, $b)" }.mkString(", ")
    s"""WITH dim AS (SELECT * FROM (VALUES $dim) AS t(digit, benford_ppm)),
       |d AS (
       |  SELECT CAST(substring(CAST(CAST(o_totalprice * 100 AS BIGINT)
       |    AS VARCHAR), 1, 1) AS BIGINT) AS digit
       |  FROM orders WHERE o_totalprice > 0
       |), c AS (
       |  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY 1
       |), t AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM c)
       |SELECT CAST(dim.digit AS BIGINT) AS digit,
       |  COALESCE(n, 0) AS n,
       |  (1000000 * COALESCE(n, 0)) // n_total AS share_ppm,
       |  CAST(benford_ppm AS BIGINT) AS benford_ppm,
       |  (1000000 * COALESCE(n, 0)) // n_total - benford_ppm AS dev_ppm
       |FROM dim LEFT JOIN c ON dim.digit = c.digit CROSS JOIN t
       |ORDER BY digit""".stripMargin
  }

  // --- q160: peak open orders (distributed interval sweep) --------------------
  // "How many orders were in fulfillment at once?" — the classic
  // max-concurrent-intervals question, WITHOUT sorting the corpus: an
  // order is open from o_orderdate through its LAST ship date
  // (inclusive); emit +1 at start and −1 at end+1, collapse to per-DAY
  // net deltas (one combinable aggregate — the corpus never sorts), and
  // the running sum over the DAYS GRID is the live count (the q145
  // two-level discipline: the only ordered structure is dimension-
  // sized). Published per month: orders opened + peak concurrently open.
  // Contrast with q72: that counts overlapping PAIRS (quadratic in the
  // data); the sweep is linear and answers the capacity question.
  private val q160: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"))
    val shipped = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(max(to_date(col("l_shipdate"))).as("sd"))
    val iv = o.join(shipped, col("o_orderkey") === col("l_orderkey"))
      .select(col("od"), greatest(col("sd"), col("od")).as("ed"))
    // both sweep events from ONE scan of the interval join (the
    // union-of-two-selects form re-ran the orders⨝lineitem join +
    // ship-date aggregate once per branch)
    val deltas = iv
      .select(explode(expr(
        """array(struct(od AS day, CAST(1 AS BIGINT) AS delta),
          |      struct(date_add(ed, 1) AS day, CAST(-1 AS BIGINT) AS delta))"""
          .stripMargin)).as("e"))
      .select(col("e.day").as("day"), col("e.delta").as("delta"))
      .groupBy(col("day")).agg(sum(col("delta")).as("net"),
        sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_opened"))
    val wDays = org.apache.spark.sql.expressions.Window
      .orderBy("day") // days-grid-sized (see scaladoc)
    deltas
      .withColumn("open_after", sum(col("net")).over(wDays))
      .groupBy(date_format(col("day"), "yyyy-MM").as("month"))
      .agg(sum(col("n_opened")).as("n_opened"),
        max(col("open_after")).as("peak_open"))
      .orderBy(col("month"))
  }
  private val q160Sql =
    """WITH o AS (
      |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od FROM orders
      |), sh AS (
      |  SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS sd
      |  FROM lineitem GROUP BY 1
      |), iv AS (
      |  SELECT od, GREATEST(sd, od) AS ed
      |  FROM o JOIN sh ON o_orderkey = l_orderkey
      |), deltas AS (
      |  SELECT day, CAST(SUM(delta) AS BIGINT) AS net,
      |    CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_opened
      |  FROM (
      |    SELECT od AS day, 1 AS delta FROM iv
      |    UNION ALL SELECT ed + 1, -1 FROM iv
      |  ) GROUP BY 1
      |), run AS (
      |  SELECT day, n_opened,
      |    CAST(SUM(net) OVER (ORDER BY day) AS BIGINT) AS open_after
      |  FROM deltas
      |)
      |SELECT strftime(day, '%Y-%m') AS month,
      |  CAST(SUM(n_opened) AS BIGINT) AS n_opened,
      |  CAST(MAX(open_after) AS BIGINT) AS peak_open
      |FROM run GROUP BY 1 ORDER BY month""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("q159_benford_audit", q159, Some(q159Sql)),
    Query("q160_open_orders", q160, Some(q160Sql)),
    Query("q149_fk_audit", q149, Some(q149Sql)),
    Query("q72_interval_overlap", q72, Some(q72Sql)),
    Query("q57_asof_attribution", q57, Some(q57Sql)),
    Query("q50_quantile_buckets", q50, Some(q50Sql)),
    Query("q46_percentile_disc", q46, Some(q46Sql)),
    Query("q42_rollup_revenue", q42, Some(q42Sql)),
    Query("q43_ntile_quartiles", q43, Some(q43Sql)),
    Query("q15_anti_join", q15, Some(q15Sql)),
    Query("q16_semi_join", q16, Some(q16Sql)),
    Query("q17_json_extract", q17, Some(q17Sql)),
    Query("q18_day_flags", q18, Some(q18Sql)),
    Query("q19_distinct", q19, Some(q19Sql)),
    Query("q20_minmax_audit", q20, Some(q20Sql)),
    Query("q21_multikey_join", q21, Some(q21Sql)),
    Query("q22_union_distinct", q22, Some(q22Sql)),
    Query("q23_guarded_ratios", q23, Some(q23Sql)),
    Query("q24_dim_fallback", q24, Some(q24Sql)),
    Query("q25_unknown_audit", q25, Some(q25Sql)))
}
