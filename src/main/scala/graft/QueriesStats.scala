package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.TextOps

/** Round-7 exact-statistics + corpus-shaping queries:
  *
  *  - q87: distribution moments with INTEGER-EXACT arithmetic — the
  *    variance is carried as the exact rational (n·Σx² − (Σx)², n·(n−1))
  *    so the cross-engine compare never touches a float accumulation
  *    order (stddev_samp differs in summation order between engines;
  *    this doesn't).
  *  - q88: corpus length histogram — fixed-width buckets with integer
  *    per-mille shares, the "what does my corpus look like" first query
  *    of every curation run.
  *  - q89: temperature-scaled source mixture (α = 0.5) — the data-mixing
  *    step that up-samples small sources relative to large ones by
  *    keeping each source at a rate ∝ √mass, normalized to the LARGEST
  *    source (max is order-independent, so the only floats involved are
  *    one sqrt and one division — both correctly-rounded IEEE ops that
  *    agree bit-for-bit across engines). The keep decision reuses the
  *    deterministic content-hash bucket primitive (q44/q56/q63).
  *
  * Scale notes: q87/q88 are single map-side-combinable HashAggregates;
  * q89 aggregates per-source mass (|sources| rows), broadcasts the rate
  * table back onto the corpus, and filters map-side — the corpus itself
  * never shuffles to be sampled.
  */
object QueriesStats {

  type Q = (SparkSession, String) => DataFrame

  // --- q87: integer-exact moments per group -----------------------------------
  // The q120-class bound: SUMs stay int64 essentially forever (Σq² ≤
  // 2500n), but the cross-products n·Σq² ≈ 2500n² and n(n−1) clear int63
  // at n ≈ 6e7 and 3e9 rows/group — both below the 100 TB design point —
  // so they run in DECIMAL(19,0)² → DECIMAL(38,0) (HUGEINT twin) and
  // publish via CAST AS DOUBLE (identical rounding both engines).
  private val q87: Q = (s, dir) => {
    val q = col("qty")
    Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("qty"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(q).as("sum_q"),
        sum(q * q).as("sum_q2"),
        min(q).as("min_q"), max(q).as("max_q"))
      .select(col("l_returnflag"), col("n"), col("sum_q"), col("sum_q2"),
        col("min_q"), col("max_q"),
        expr("""CAST(CAST(n AS DECIMAL(19,0)) * CAST(sum_q2 AS DECIMAL(19,0)) -
               |  CAST(sum_q AS DECIMAL(19,0)) * CAST(sum_q AS DECIMAL(19,0))
               |  AS DOUBLE)""".stripMargin).as("var_num"),
        expr("""CAST(CAST(n AS DECIMAL(19,0)) * CAST(n - 1 AS DECIMAL(19,0))
               |  AS DOUBLE)""".stripMargin).as("var_den"),
        expr("(100 * sum_q) DIV n").as("mean_c"))
      .orderBy(col("l_returnflag"))
  }
  private val q87Sql =
    """WITH g AS (
      |  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_q,
      |    CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
      |      AS BIGINT) AS sum_q2,
      |    MIN(CAST(l_quantity AS BIGINT)) AS min_q,
      |    MAX(CAST(l_quantity AS BIGINT)) AS max_q
      |  FROM lineitem GROUP BY l_returnflag
      |)
      |SELECT l_returnflag, n, sum_q, sum_q2, min_q, max_q,
      |  -- HUGEINT cross-products (Spark: DECIMAL(38,0)) via CAST AS DOUBLE
      |  CAST(CAST(n AS HUGEINT) * sum_q2 - CAST(sum_q AS HUGEINT) * sum_q
      |    AS DOUBLE) AS var_num,
      |  CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE) AS var_den,
      |  (100 * sum_q) // n AS mean_c
      |FROM g ORDER BY l_returnflag""".stripMargin

  // --- q88: corpus length histogram --------------------------------------------
  private val HistWidth = 50
  private val HistCap   = 11
  private val q88: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .select(expr(s"least(CAST(n_chars AS BIGINT) DIV $HistWidth, " +
        s"CAST($HistCap AS BIGINT))").as("bucket"), col("n_chars"))
    val total = d.select(count(lit(1)).as("total"))
    d.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
      .crossJoin(total)
      .select(col("bucket"), col("n"), col("min_chars"), col("max_chars"),
        expr("(1000 * n) DIV total").as("share_pm"))
      .orderBy(col("bucket"))
  }
  private val q88Sql =
    s"""WITH b AS (
       |  SELECT LEAST(CAST(n_chars AS BIGINT) // $HistWidth, $HistCap)
       |    AS bucket, n_chars
       |  FROM documents
       |),
       |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM documents)
       |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
       |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
       |  (1000 * CAST(COUNT(*) AS BIGINT)) // total AS share_pm
       |FROM b, t GROUP BY bucket, total ORDER BY bucket""".stripMargin

  // --- q89: temperature-scaled source mixture (α = 0.5) ------------------------
  // THE temperature-policy scale constant — shared with the pipeline's
  // operator form so the two can't drift
  private val TempScale = graft.ops.Mixture.TemperatureScale
  private val q89: Q = (s, dir) => {
    val spark = s
    import spark.implicits._
    val d = Tables.documents(s, dir)
    // ≤ |sources| rows → the dimension-collect discipline: one corpus
    // aggregation, rates come back as a LOCAL relation so the two uses
    // below (broadcast side of the keep filter + left side of the report
    // join) neither re-scan the corpus nor pin a cache entry. The float
    // work (sqrt, divide, floor) runs driver-side on the same IEEE
    // doubles both engines would compute — bit-identical either way.
    // no driver-side sort: source is NULLABLE in the wire schema (the
    // hardened readers admit NULL-source rows) and the rows only feed
    // toDF + a join — ordering is the final orderBy's job
    val massRows = d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("mass"))
      .as[(String, Long, Long)].collect().toSeq
    val maxMass = if (massRows.isEmpty) 1L else massRows.map(_._3).max
    val rates = massRows.map { case (src, n, m) =>
      (src, n, m, math.floor(TempScale.toDouble * math.sqrt(m.toDouble) /
        math.sqrt(maxMass.toDouble)).toLong)
    }.toDF("source", "n_docs", "mass", "keep_rate")
    val kept = d.join(broadcast(rates.select(col("source"), col("keep_rate"))),
        Seq("source"))
      .filter(expr(s"pmod(${TextOps.hash60("CAST(doc_id AS STRING)")}, " +
        s"$TempScale) < keep_rate"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("kept_n"),
        sum(expr(
          s"pmod(${TextOps.hash60("CAST(doc_id AS STRING)")}, 1000000000)"))
          .as("kept_sig"))
    rates.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("mass"), col("keep_rate"),
        coalesce(col("kept_n"), lit(0L)).as("kept_n"),
        coalesce(col("kept_sig"), lit(0L)).as("kept_sig"))
      .orderBy(col("source"))
  }
  private val q89Sql = {
    val h = TextOps.sql.hash60("CAST(doc_id AS VARCHAR)")
    s"""WITH mass AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(n_chars) AS BIGINT) AS mass
       |  FROM documents GROUP BY source
       |),
       |m AS (SELECT MAX(mass) AS max_mass FROM mass),
       |rates AS (
       |  SELECT source, n_docs, mass,
       |    CAST(FLOOR($TempScale * SQRT(CAST(mass AS DOUBLE)) /
       |      SQRT(CAST(max_mass AS DOUBLE))) AS BIGINT) AS keep_rate
       |  FROM mass, m
       |),
       |kept AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS kept_n,
       |    CAST(SUM($h % 1000000000) AS BIGINT) AS kept_sig
       |  FROM documents d JOIN rates USING (source)
       |  WHERE $h % $TempScale < keep_rate
       |  GROUP BY source
       |)
       |SELECT source, n_docs, mass, keep_rate,
       |  COALESCE(kept_n, CAST(0 AS BIGINT)) AS kept_n,
       |  COALESCE(kept_sig, CAST(0 AS BIGINT)) AS kept_sig
       |FROM rates LEFT JOIN kept USING (source) ORDER BY source""".stripMargin
  }

  // --- q94: CUBE marginals -----------------------------------------------------
  // Completes the grouping-sets family next to q42's ROLLUP: CUBE also
  // emits the (segment=all, priority=p) cross-marginals a ROLLUP never
  // produces. NULL cube keys coalesce to a sentinel on both engines (the
  // data has no real NULL segments/priorities). One shuffle; Spark
  // plans CUBE as an Expand + single HashAggregate, partial+final.
  private val q94: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    o.join(c, col("o_custkey") === col("c_custkey"))
      .cube(col("c_mktsegment"), col("o_orderpriority"))
      .agg(Exact.sumMoney(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"))
      .select(
        coalesce(col("c_mktsegment"), lit("(all)")).as("segment"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
        col("revenue"), col("n_orders"))
      .orderBy(col("segment"), col("priority"))
  }
  // HAVING COUNT(*) > 0 pins the EMPTY-input behavior to Spark's: DuckDB's
  // CUBE emits the () grand-total row even over zero rows, Spark's
  // Expand+HashAggregate emits nothing; on any non-empty group set the
  // clause never fires (every emitted group has >= 1 row)
  private val q94Sql =
    s"""SELECT COALESCE(c_mktsegment, '(all)') AS segment,
       |  COALESCE(o_orderpriority, '(all)') AS priority,
       |  ${Exact.sql.sumMoney("o_totalprice")} AS revenue,
       |  CAST(COUNT(*) AS BIGINT) AS n_orders
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY CUBE(c_mktsegment, o_orderpriority)
       |HAVING COUNT(*) > 0
       |ORDER BY segment, priority""".stripMargin

  // --- q95: above-group-average membership (decorrelated, float-free) ---------
  // Customers whose order count exceeds their nation's per-customer
  // average — the correlated-subquery classic, decorrelated into one
  // grouped join and compared by INTEGER cross-multiplication
  // (n_orders · nat_custs > nat_orders), so no engine's average
  // arithmetic enters the result. Customers with zero orders count in
  // the denominator (the honest average) via the left join + coalesce.
  private val q95: Q = (s, dir) => {
    val perCust = Tables.orders(s, dir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
    val cust = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), col("n_name").as("nation"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"))
    val natStats = cust.groupBy(col("nation"))
      .agg(sum(col("n_orders")).as("nat_orders"),
        count(lit(1)).as("nat_custs"))
    cust.join(broadcast(natStats), Seq("nation"))
      .filter(col("n_orders") * col("nat_custs") > col("nat_orders"))
      .select(col("nation"), col("c_custkey"), col("n_orders"),
        col("nat_orders"), col("nat_custs"))
      .orderBy(col("nation"), col("c_custkey"))
  }
  private val q95Sql =
    """WITH per_cust AS (
      |  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
      |  FROM orders GROUP BY o_custkey
      |),
      |cust AS (
      |  SELECT c_custkey, n_name AS nation,
      |    COALESCE(n_orders, CAST(0 AS BIGINT)) AS n_orders
      |  FROM customer
      |  JOIN nation ON c_nationkey = n_nationkey
      |  LEFT JOIN per_cust ON c_custkey = o_custkey
      |),
      |nat AS (
      |  SELECT nation, CAST(SUM(n_orders) AS BIGINT) AS nat_orders,
      |    CAST(COUNT(*) AS BIGINT) AS nat_custs
      |  FROM cust GROUP BY nation
      |)
      |SELECT nation, c_custkey, n_orders, nat_orders, nat_custs
      |FROM cust JOIN nat USING (nation)
      |WHERE n_orders * nat_custs > nat_orders
      |ORDER BY nation, c_custkey""".stripMargin

  // --- q100: exact Pearson correlation (integer numerators) --------------------
  // Correlation between quantity and discount basis points per return
  // flag. All three centered second moments are carried as EXACT integer
  // numerators (n·Σxy − Σx·Σy etc.) — float accumulation order never
  // enters the compare, unlike corr(). The only floats are the final
  // sqrt/divide/floor over those exact integers: correctly-rounded IEEE
  // ops written in the SAME shape on both engines, so the per-million
  // correlation is bit-identical too. Bounds (x <= 50, y <= 1000): the
  // per-group SUMs stay int64 to ~9e12 rows/group, but the CROSS-PRODUCTS
  // (n·Σy² ≈ n²·1e6) would clear int63 at n ≈ 3e6 rows/group — a hair
  // above sf1's ~2-3M per return flag (the sf1 sweep passed on data
  // slack, not headroom; the q120 overflow audit caught it). They run in
  // DECIMAL(19,0)×DECIMAL(19,0) → DECIMAL(38,0) like q120, published
  // through CAST AS DOUBLE, with corr_ppm computed FROM those doubles in
  // the same shape on both engines. One map-side-combinable
  // HashAggregate total.
  private val corrPpm =
    """CASE WHEN var_x_num > 0.0 AND var_y_num > 0.0
      |  THEN (CASE WHEN cov_num < 0.0 THEN -1 ELSE 1 END) *
      |    CAST(FLOOR(1000000.0 * abs(cov_num) /
      |      (SQRT(var_x_num) * SQRT(var_y_num))) AS BIGINT)
      |  ELSE CAST(0 AS BIGINT) END""".stripMargin
  private val q100: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
      .select(col("l_returnflag"),
        col("l_quantity").cast("long").as("x"),
        expr("CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT)")
          .as("y"))
    def cross(a: String, b: String, c: String, d: String) = expr(
      s"""CAST(CAST($a AS DECIMAL(19,0)) * CAST($b AS DECIMAL(19,0)) -
         |  CAST($c AS DECIMAL(19,0)) * CAST($d AS DECIMAL(19,0)) AS DOUBLE)"""
        .stripMargin)
    li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("l_returnflag"), col("n"),
        cross("n", "sxy", "sx", "sy").as("cov_num"),
        cross("n", "sxx", "sx", "sx").as("var_x_num"),
        cross("n", "syy", "sy", "sy").as("var_y_num"))
      .withColumn("corr_ppm", expr(corrPpm))
      .orderBy(col("l_returnflag"))
  }
  private val q100Sql =
    s"""WITH g AS (
       |  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |    CAST(SUM(x * y) AS BIGINT) AS sxy,
       |    CAST(SUM(x * x) AS BIGINT) AS sxx,
       |    CAST(SUM(y * y) AS BIGINT) AS syy
       |  FROM (
       |    SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
       |      CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT) AS y
       |    FROM lineitem
       |  ) GROUP BY l_returnflag
       |),
       |m AS (
       |  -- HUGEINT cross-products (Spark: DECIMAL(38,0)): n*syy clears
       |  -- int63 at ~3e6 rows/group; consumed only via CAST AS DOUBLE
       |  SELECT l_returnflag, n,
       |    CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
       |      AS DOUBLE) AS cov_num,
       |    CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
       |      AS DOUBLE) AS var_x_num,
       |    CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy
       |      AS DOUBLE) AS var_y_num
       |  FROM g
       |)
       |SELECT l_returnflag, n, cov_num, var_x_num, var_y_num,
       |  ${corrPpm.replace("\n", "\n ")} AS corr_ppm
       |FROM m ORDER BY l_returnflag""".stripMargin

  // --- q101: statistical outlier days (integer-exact z-test) -------------------
  // Days whose revenue deviates from the all-days mean by more than
  // 2 sample standard deviations — the daily-anomaly alert every
  // reporting pipeline grows. The z² > k² test is evaluated WITHOUT ever
  // forming mean or stddev: dev_i = n·x_i − Σx and var_num = n·Σx² − (Σx)²
  // are exact integers, and z² > k² ⟺ dev²·(n−1) > k²·n·var_num, computed
  // in doubles CONVERTED FROM those exact integers with the same
  // expression shape on both engines (conversions and each IEEE op are
  // correctly rounded — deterministic cross-engine even above 2^53).
  // Daily revenue is bucketed to THOUSAND-dollar units so the per-day x
  // and the dev = n·x − Σx integers stay int64 at any realistic scale
  // (the day count is calendar-bounded, so dev grows only linearly with
  // density). The one density²-growing term, var_num = n·Σx² − (Σx)²
  // (~8.5e17 at sf1, ×100 per ×10 data ⇒ past int63 by sf10), runs in
  // DECIMAL(19,0)×DECIMAL(19,0) → DECIMAL(38,0) — the q120 pattern,
  // published via CAST AS DOUBLE, flag test unchanged in shape. Plan:
  // one day-keyed HashAggregate (map-side combinable), a 1-row stats
  // table broadcast back (the intended BNLJ), map-side flag filter.
  private val OutlierK = 2
  private val q101: Q = (s, dir) => {
    val daily = Tables.orders(s, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      .agg(sum(Exact.cents(col("o_totalprice"))).as("day_cents"))
      .select(col("day"), expr("day_cents DIV 100000").as("x"))
    val stats = daily.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sx2"))
      .select(col("n"), col("sx"), expr(
        """CAST(CAST(n AS DECIMAL(19,0)) * CAST(sx2 AS DECIMAL(19,0)) -
          |  CAST(sx AS DECIMAL(19,0)) * CAST(sx AS DECIMAL(19,0))
          |  AS DOUBLE)""".stripMargin).as("var_num"))
    daily.crossJoin(stats)
      .withColumn("dev", col("n") * col("x") - col("sx"))
      .filter(expr(
        s"""CAST(dev AS DOUBLE) * CAST(dev AS DOUBLE) *
           |  CAST(n - 1 AS DOUBLE) >
           |  ${OutlierK * OutlierK}.0 * CAST(n AS DOUBLE) * var_num"""
          .stripMargin))
      .select(col("day"), col("x").as("rev_kusd"), col("dev"),
        col("n"), col("var_num"))
      .orderBy(col("day"))
  }
  private val q101Sql =
    s"""WITH daily AS (
       |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
       |    CAST(SUM(${Exact.sql.cents("o_totalprice")}) AS BIGINT) // 100000
       |      AS x
       |  FROM orders GROUP BY day
       |),
       |stats AS (
       |  -- HUGEINT cross-product (Spark: DECIMAL(38,0)): n*sx2 grows with
       |  -- density^2, past int63 by ~sf10; consumed via CAST AS DOUBLE
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
       |    CAST(CAST(COUNT(*) AS HUGEINT) * CAST(SUM(x * x) AS BIGINT) -
       |      CAST(CAST(SUM(x) AS BIGINT) AS HUGEINT) *
       |      CAST(SUM(x) AS BIGINT) AS DOUBLE) AS var_num
       |  FROM daily
       |)
       |SELECT day, x AS rev_kusd, n * x - sx AS dev, n, var_num
       |FROM daily, stats
       |WHERE CAST(n * x - sx AS DOUBLE) * CAST(n * x - sx AS DOUBLE) *
       |    CAST(n - 1 AS DOUBLE) >
       |  ${OutlierK * OutlierK}.0 * CAST(n AS DOUBLE) * var_num
       |ORDER BY day""".stripMargin

  // --- q105: balanced shard planning (boustrophedon packing) -----------------
  // Dataset-release shard assignment that targets equal byte mass per
  // shard WITHOUT a greedy bin-packing loop: within each source, docs are
  // ranked by size (desc, doc_id tiebreak) and dealt to k shards in a
  // snake pattern (block 0 deals shards 0..k−1, block 1 deals k−1..0, …)
  // — each consecutive block pairs the largest remainder with the
  // smallest, so monotone size runs cancel (a strictly decreasing size
  // sequence lands PERFECTLY balanced; hash-sharding would be ±√n). The
  // rank window is per-SOURCE (never a global sort): at 100 TB each
  // source ranks independently in its own partitions, and the audit
  // aggregate is k-sized. Writing is then `partitionBy(shard)` — this
  // query IS the plan plus its balance audit (mass per-mille per shard).
  private val NShards = 8
  private val q105: Q = (s, dir) => {
    val assigned = graft.ops.ShardPlan.assign(
      Tables.documents(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
      "n_chars", "doc_id", Seq("source"), NShards)
    graft.ops.ShardPlan.audit(assigned, "n_chars")
      .select(col("shard"), col("n_docs"), col("mass").as("chars"), col("mass_pm"))
      .orderBy(col("shard"))
  }
  private val q105Sql =
    s"""WITH a AS (
       |  SELECT n_chars,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY n_chars DESC, doc_id) - 1 AS BIGINT) AS r
       |  FROM documents
       |), b AS (
       |  SELECT n_chars,
       |    CASE WHEN (r // $NShards) % 2 = 0 THEN r % $NShards
       |         ELSE ${NShards - 1} - (r % $NShards) END AS shard
       |  FROM a
       |), ps AS (
       |  SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(n_chars) AS BIGINT) AS chars
       |  FROM b GROUP BY shard
       |), t AS (SELECT CAST(SUM(chars) AS BIGINT) AS t FROM ps)
       |SELECT shard, n_docs, chars, (1000 * chars) // t AS mass_pm
       |FROM ps, t ORDER BY shard""".stripMargin

  // --- q106: robust outlier days (median / MAD) --------------------------------
  // The robust complement of q101's 2σ z-test: a day is anomalous when
  // its revenue deviates from the MEDIAN by more than k × MAD (median
  // absolute deviation). Mean/stddev move with the outliers they're
  // meant to flag; median/MAD have a 50% breakdown point, so one crazy
  // day can't hide another. Everything is exact integers — daily cents,
  // the two DISCRETE medians (element selection, the q46 rule — both
  // engines pick the same element), the absolute deviations, and the
  // k·MAD threshold — so the compare involves no float arithmetic at
  // all. Plan: one day-keyed HashAggregate (dimension-sized output),
  // two 1-row percentile aggregates broadcast back (the intended BNLJ),
  // map-side flag filter.
  private val MadK = 3
  private val q106: Q = (s, dir) => {
    val daily = Tables.orders(s, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      .agg(sum(Exact.cents(col("o_totalprice"))).as("cents"))
    val med = daily.agg(
      expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents) AS BIGINT)")
        .as("med"))
    val dev = daily.crossJoin(broadcast(med))
      .withColumn("adev", abs(col("cents") - col("med")))
    val mad = dev.agg(
      expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY adev) AS BIGINT)")
        .as("mad"))
    dev.crossJoin(broadcast(mad))
      .filter(col("adev") > lit(MadK) * col("mad"))
      .select(col("day"), col("cents"), col("med"), col("adev"), col("mad"))
      .orderBy(col("day"))
  }
  private val q106Sql =
    s"""WITH daily AS (
       |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
       |    CAST(SUM(${Exact.sql.cents("o_totalprice")}) AS BIGINT) AS cents
       |  FROM orders GROUP BY day
       |), m AS (
       |  SELECT CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)
       |    AS BIGINT) AS med FROM daily
       |), d AS (
       |  SELECT day, cents, med, abs(cents - med) AS adev FROM daily, m
       |), md AS (
       |  SELECT CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY adev)
       |    AS BIGINT) AS mad FROM d
       |)
       |SELECT day, cents, med, adev, mad FROM d, md
       |WHERE adev > $MadK * mad ORDER BY day""".stripMargin

  // --- q109: Z-order (Morton) layout plan + skipping audit --------------------
  // The multi-dimensional data-layout operator: interleave the bits of
  // two range-bucketed dimensions (customer key × order day) into one
  // Morton key, so data sorted by that ONE key clusters BOTH dims — the
  // layout that makes parquet row-group min/max skip for range
  // predicates on either dimension (a single-column sort gives perfect
  // skipping on that column and none on the other). At scale the write
  // is `repartitionByRange(z).sortWithinPartitions(z)`; this query IS
  // the layout plan plus its proof: blocks of the z-range (top 3 bits
  // of each dim) must confine BOTH raw dims to ≤ 1/8 of their span.
  // The bit interleave is plain integer div/mod/multiply — identical
  // operator semantics on both engines for non-negative inputs; bucket
  // bounds come from one 1-row aggregate broadcast back (intended BNLJ).
  private val DayUs = 86400L * 1000000L
  private def zInterleave(x: String, y: String, div: String): String =
    graft.ops.ZOrder.interleaveExpr(x, y, div)
  private val q109: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
      .select(col("o_custkey").as("ck"),
        expr(s"unix_micros(o_orderdate) DIV $DayUs").as("dy"))
    val bounds = o.agg(min(col("ck")).as("ck0"), max(col("ck")).as("ck1"),
      min(col("dy")).as("dy0"), max(col("dy")).as("dy1"))
    o.crossJoin(broadcast(bounds))
      .withColumn("x", expr("((ck - ck0) * 256) DIV (ck1 - ck0 + 1)"))
      .withColumn("y", expr("((dy - dy0) * 256) DIV (dy1 - dy0 + 1)"))
      .withColumn("z", expr(zInterleave("x", "y", "DIV")))
      .withColumn("block", expr("z DIV 1024"))
      .groupBy(col("block"))
      .agg(count(lit(1)).as("n"),
        min(col("ck")).as("min_ck"), max(col("ck")).as("max_ck"),
        min(col("dy")).as("min_dy"), max(col("dy")).as("max_dy"))
      .withColumn("ck_span", col("max_ck") - col("min_ck"))
      .withColumn("dy_span", col("max_dy") - col("min_dy"))
      .orderBy(col("block"))
  }
  private val q109Sql =
    s"""WITH o AS (
       |  SELECT o_custkey AS ck, epoch_us(o_orderdate) // $DayUs AS dy
       |  FROM orders
       |), bounds AS (
       |  SELECT MIN(ck) AS ck0, MAX(ck) AS ck1,
       |         MIN(dy) AS dy0, MAX(dy) AS dy1 FROM o
       |), zed AS (
       |  SELECT ck, dy,
       |    ${zInterleave("((ck - ck0) * 256) // (ck1 - ck0 + 1)",
                          "((dy - dy0) * 256) // (dy1 - dy0 + 1)", "//")} AS z
       |  FROM o, bounds
       |)
       |SELECT z // 1024 AS block, CAST(COUNT(*) AS BIGINT) AS n,
       |  MIN(ck) AS min_ck, MAX(ck) AS max_ck,
       |  MIN(dy) AS min_dy, MAX(dy) AS max_dy,
       |  MAX(ck) - MIN(ck) AS ck_span, MAX(dy) - MIN(dy) AS dy_span
       |FROM zed GROUP BY block ORDER BY block""".stripMargin

  // --- q206: zone-map prune audit (layout × predicate workload) --------------
  // q109 PLANS the z-order layout and proves span confinement; q206
  // closes the loop with the number a storage engineer actually tunes
  // on: for a WORKLOAD of range predicates, how many row-group-sized
  // blocks does each layout let min/max zone maps skip? Two layouts
  // over the same (customer-bucket x, day-bucket y) grid — the classic
  // time-sorted layout (blocks = y-ranges) vs the q109 Morton layout
  // (blocks = z-ranges) — and 16 deterministic predicates (x-range /
  // y-range / box, bounds an arithmetic progression over the bucket
  // space). A block is scanned iff its per-block [min,max] box
  // intersects the predicate box — exactly parquet row-group pruning
  // semantics. Published per (layout, predicate): nonempty-block total,
  // blocks hit, rows scanned, true rows matched — the z-layout's
  // two-sided wins and its y-only losses are both readable off the rows.
  // Scale: ONE corpus aggregate to the ≤2^16-cell (x, y) grid (z is a
  // FUNCTION of the cell, derived post-agg); block stats, the
  // block×predicate intersection, and the true-selectivity sums are all
  // grid-sized; the predicate table is a 16-row broadcast (intended
  // BNLJ). Nothing downstream of the first aggregate touches the corpus.
  private val prunePreds: Seq[(Int, Int, Int, Int, Int)] =
    (0 until 16).map { w =>
      val lo = (w * 53) % 200; val lo2 = (w * 29) % 200
      w % 3 match {
        case 0 => (w, lo, lo + 40, 0, 255)   // customer-range scan
        case 1 => (w, 0, 255, lo2, lo2 + 40) // date-range scan
        case _ => (w, lo, lo + 40, lo2, lo2 + 40) // box scan
      }
    }
  private val pruneHit =
    "min_x <= xhi AND max_x >= xlo AND min_y <= yhi AND max_y >= ylo"
  private val q206: Q = (s, dir) => {
    import s.implicits._
    val predsDf = prunePreds.toDF("pred_id", "xlo", "xhi", "ylo", "yhi")
      .withColumn("pred_id", col("pred_id").cast("long"))
    val o = Tables.orders(s, dir)
      .select(col("o_custkey").as("ck"),
        expr(s"unix_micros(o_orderdate) DIV $DayUs").as("dy"))
    val bounds = o.agg(min(col("ck")).as("ck0"), max(col("ck")).as("ck1"),
      min(col("dy")).as("dy0"), max(col("dy")).as("dy1"))
    val cells = o.crossJoin(broadcast(bounds))
      .withColumn("x", expr("((ck - ck0) * 256) DIV (ck1 - ck0 + 1)"))
      .withColumn("y", expr("((dy - dy0) * 256) DIV (dy1 - dy0 + 1)"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("cn"))
      .withColumn("z", expr(zInterleave("x", "y", "DIV")))
      // grid-sized pin: blk, scans AND matched all read the cell table —
      // unpinned, each branch re-scans the corpus (4 parquet scans in the
      // plan where the bounds pattern's inherent 2 suffice)
      .localCheckpoint()
    val blk = cells.select(col("x"), col("y"), col("cn"), explode(expr(
        "array(struct('lin' AS layout, y DIV 4 AS block), " +
        "struct('z' AS layout, z DIV 1024 AS block))")).as("e"))
      .groupBy(col("e.layout").as("layout"), col("e.block").as("block"))
      .agg(sum(col("cn")).as("n"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"))
    val scans = blk.crossJoin(broadcast(predsDf))
      .groupBy(col("layout"), col("pred_id"))
      .agg(count(lit(1)).as("blocks_total"),
        sum(expr(s"CASE WHEN $pruneHit THEN CAST(1 AS BIGINT) " +
          "ELSE CAST(0 AS BIGINT) END")).as("blocks_hit"),
        sum(expr(s"CASE WHEN $pruneHit THEN n " +
          "ELSE CAST(0 AS BIGINT) END")).as("rows_scanned"))
    val matched = cells.crossJoin(broadcast(predsDf))
      .groupBy(col("pred_id"))
      .agg(sum(expr("CASE WHEN x >= xlo AND x <= xhi AND y >= ylo " +
        "AND y <= yhi THEN cn ELSE CAST(0 AS BIGINT) END"))
        .as("rows_matched"))
    scans.join(matched, Seq("pred_id"))
      .select(col("layout"), col("pred_id"), col("blocks_total"),
        col("blocks_hit"), col("rows_scanned"), col("rows_matched"))
      .orderBy(col("layout"), col("pred_id"))
  }
  private val q206Sql = {
    val predRows = prunePreds.map { case (id, xlo, xhi, ylo, yhi) =>
      s"(CAST($id AS BIGINT), $xlo, $xhi, $ylo, $yhi)" }.mkString(",\n    ")
    s"""WITH o AS (
       |  SELECT o_custkey AS ck, epoch_us(o_orderdate) // $DayUs AS dy
       |  FROM orders
       |), bounds AS (
       |  SELECT MIN(ck) AS ck0, MAX(ck) AS ck1,
       |         MIN(dy) AS dy0, MAX(dy) AS dy1 FROM o
       |), cells0 AS (
       |  SELECT ((ck - ck0) * 256) // (ck1 - ck0 + 1) AS x,
       |         ((dy - dy0) * 256) // (dy1 - dy0 + 1) AS y,
       |         CAST(COUNT(*) AS BIGINT) AS cn
       |  FROM o, bounds GROUP BY 1, 2
       |), cells AS (
       |  SELECT x, y, cn, ${zInterleave("x", "y", "//")} AS z FROM cells0
       |), blk AS (
       |  SELECT layout, block, CAST(SUM(cn) AS BIGINT) AS n,
       |    MIN(x) AS min_x, MAX(x) AS max_x,
       |    MIN(y) AS min_y, MAX(y) AS max_y
       |  FROM (
       |    SELECT 'lin' AS layout, y // 4 AS block, x, y, cn FROM cells
       |    UNION ALL
       |    SELECT 'z' AS layout, z // 1024 AS block, x, y, cn FROM cells
       |  ) GROUP BY layout, block
       |), preds AS (
       |  SELECT * FROM (VALUES
       |    $predRows) AS p(pred_id, xlo, xhi, ylo, yhi)
       |), scans AS (
       |  SELECT layout, pred_id,
       |    CAST(COUNT(*) AS BIGINT) AS blocks_total,
       |    CAST(SUM(CASE WHEN $pruneHit THEN 1 ELSE 0 END) AS BIGINT)
       |      AS blocks_hit,
       |    CAST(SUM(CASE WHEN $pruneHit THEN n ELSE 0 END) AS BIGINT)
       |      AS rows_scanned
       |  FROM blk, preds GROUP BY layout, pred_id
       |), matched AS (
       |  SELECT pred_id,
       |    CAST(SUM(CASE WHEN x >= xlo AND x <= xhi
       |      AND y >= ylo AND y <= yhi THEN cn ELSE 0 END) AS BIGINT)
       |      AS rows_matched
       |  FROM cells, preds GROUP BY pred_id
       |)
       |SELECT layout, pred_id, blocks_total, blocks_hit, rows_scanned,
       |  rows_matched
       |FROM scans JOIN matched USING (pred_id)
       |ORDER BY layout, pred_id""".stripMargin
  }

  // --- q111: chi-square independence audit (exact-integer core) --------------
  // Is order priority independent of customer nation? The contingency
  // audit every segmentation claim needs. Per cell the deviation
  // carries as the EXACT integer num = O·N − R·C (the χ² cell term is
  // num²/(N·R·C)); num² would overflow int64 at sf0.1, so the term
  // itself is evaluated in doubles CONVERTED FROM those exact integers
  // with the same expression shape on both engines (the q101
  // discipline) and floored to integer micro-units — per-cell results
  // are exact cross-engine, and a consumer summing term_micro gets an
  // order-independent integer total. Plan: one corpus-sized cell
  // aggregate (orders ⨝ broadcast customer→nation), then marginals as
  // window sums over the |nations|×|priorities| cell table.
  private val q111: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val cells = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("n_name"), col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("o"))
    cells
      .withColumn("r", sum(col("o")).over(Window.partitionBy(col("n_name"))))
      .withColumn("c", sum(col("o")).over(Window.partitionBy(col("priority"))))
      .withColumn("n", sum(col("o")).over(Window.partitionBy()))
      .withColumn("num", expr(
        """CAST(CAST(o AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0)) -
          |  CAST(r AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))
          |  AS DOUBLE)""".stripMargin))
      .withColumn("term_micro", expr(
        """CAST(floor(num * num /
          |  (CAST(n AS DOUBLE) * CAST(r AS DOUBLE) * CAST(c AS DOUBLE))
          |  * 1000000.0D) AS BIGINT)""".stripMargin))
      .select(col("n_name"), col("priority"), col("o"), col("r"), col("c"),
        col("num"), col("term_micro"))
      .orderBy(col("n_name"), col("priority"))
  }
  private val q111Sql =
    """WITH cells AS (
      |  SELECT n_name, o_orderpriority AS priority,
      |    CAST(COUNT(*) AS BIGINT) AS o
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY n_name, o_orderpriority
      |), m AS (
      |  SELECT n_name, priority, o,
      |    CAST(SUM(o) OVER (PARTITION BY n_name) AS BIGINT) AS r,
      |    CAST(SUM(o) OVER (PARTITION BY priority) AS BIGINT) AS c,
      |    CAST(SUM(o) OVER () AS BIGINT) AS n
      |  FROM cells
      |)
      |, d AS (
      |  -- HUGEINT cross-product (Spark: DECIMAL(38,0)): O*N <= N^2 clears
      |  -- int63 at N ~ 3e9 orders; consumed only via CAST AS DOUBLE
      |  SELECT n_name, priority, o, r, c, n,
      |    CAST(CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c AS DOUBLE)
      |      AS num
      |  FROM m
      |)
      |SELECT n_name, priority, o, r, c, num,
      |  CAST(floor(num * num /
      |    (CAST(n AS DOUBLE) * CAST(r AS DOUBLE) * CAST(c AS DOUBLE))
      |    * 1000000.0) AS BIGINT) AS term_micro
      |FROM d ORDER BY n_name, priority""".stripMargin

  // --- q112: revenue concentration (Pareto / Lorenz audit) -------------------
  // How top-heavy is the customer base? Customers bucket into revenue
  // deciles by VALUE (percentile_disc cut points, the q50 scale
  // discipline — no global row_number over the customer dimension),
  // then each decile reports its exact-cents mass, per-mille share and
  // cumulative (Lorenz) share. Ties at a cut collapse into the lower
  // decile — value-deterministic, the property that makes the bucketing
  // engine-portable and cluster-size-independent. Plan: one corpus
  // aggregate to customer grain, a 1-row cut table broadcast back, a
  // 10-row decile aggregate, windows over those 10 rows.
  private val q112: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val cust = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(Exact.cents(col("o_totalprice"))).as("rev"))
    val cutCols = (1 to 9).map(i =>
      expr(s"CAST(percentile_disc(0.$i) WITHIN GROUP (ORDER BY rev) AS BIGINT)")
        .as(s"c$i"))
    val cuts = cust.agg(cutCols.head, cutCols.tail: _*)
    val decile = (1 to 9).foldRight(lit(10): org.apache.spark.sql.Column) {
      (i, rest) => when(col("rev") <= col(s"c$i"), i).otherwise(rest)
    }
    val per = cust.crossJoin(broadcast(cuts))
      .withColumn("decile", decile.cast("long"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_cust"), sum(col("rev")).as("cents"))
    per
      .withColumn("cum_cents", sum(col("cents")).over(
        Window.orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum(col("cents")).over(Window.partitionBy()))
      .select(col("decile"), col("n_cust"), col("cents"),
        expr("(1000 * cents) DIV total").as("share_pm"),
        expr("(1000 * cum_cents) DIV total").as("cum_share_pm"))
      .orderBy(col("decile"))
  }
  private val q112Sql = {
    val cutSelects = (1 to 9).map(i =>
      s"CAST(percentile_disc(0.$i) WITHIN GROUP (ORDER BY rev) AS BIGINT) AS c$i")
      .mkString(",\n    ")
    val caseExpr = (1 to 9).map(i => s"WHEN rev <= c$i THEN $i")
      .mkString("CASE ", " ", " ELSE 10 END")
    s"""WITH cust AS (
       |  SELECT o_custkey, CAST(SUM(${Exact.sql.cents("o_totalprice")})
       |    AS BIGINT) AS rev
       |  FROM orders GROUP BY o_custkey
       |), cuts AS (
       |  SELECT
       |    $cutSelects
       |  FROM cust
       |), per AS (
       |  SELECT CAST($caseExpr AS BIGINT) AS decile,
       |    CAST(COUNT(*) AS BIGINT) AS n_cust,
       |    CAST(SUM(rev) AS BIGINT) AS cents
       |  FROM cust, cuts GROUP BY 1
       |), w AS (
       |  SELECT decile, n_cust, cents,
       |    CAST(SUM(cents) OVER (ORDER BY decile
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_cents,
       |    CAST(SUM(cents) OVER () AS BIGINT) AS total
       |  FROM per
       |)
       |SELECT decile, n_cust, cents,
       |  (1000 * cents) // total AS share_pm,
       |  (1000 * cum_cents) // total AS cum_share_pm
       |FROM w ORDER BY decile""".stripMargin
  }

  // --- q118: market-basket co-occurrence (pairwise frequent itemsets) --------
  // Which parts sell together: support counts for unordered part pairs
  // within an order, top-20. The pair explosion is bounded by basket
  // size BY CONSTRUCTION — baskets above BasketCap items are excluded
  // up front (the standard market-basket guard: one pathological
  // 10⁶-item basket would otherwise mint 5·10¹¹ pairs), so the
  // self-join on l_orderkey is an equi-join whose per-key fan-out is
  // ≤ cap² — skew-proof at any corpus size. Items are DISTINCT per
  // order first (a reordered line of the same part is not a
  // co-occurrence), pairs are canonical (a < b).
  private val BasketCap = 50
  private val q118: Q = (s, dir) => {
    // SERVED FROM THE SHARED CO-PURCHASE CUT (QueriesGraph
    // .copurchaseEdges): the top-20 here is exactly the first 20 rows
    // of the graph family's top-100k cut — same basket cap (50), same
    // canonical sorted-distinct pair generation (graft_pairs), same
    // deterministic (support desc, a, b) total order — so the corpus-
    // sized pair explode + support aggregation runs ONCE per (session,
    // dir) across the whole 6-member co-purchase family instead of
    // per query (q118 alone measured 11.4 s at sf1 rebuilding it).
    // The underlying build's shape is unchanged: one corpus shuffle
    // into capped baskets, map-side pair explode bounded by cap²/2 per
    // order, one support aggregate, TakeOrdered cut.
    graft.QueriesGraph.copurchaseEdges(s, dir, keepSupport = true)
      .orderBy(desc("support"), col("a"), col("b"))
      .limit(20)
      .select(col("a").as("part_a"), col("b").as("part_b"), col("support"))
  }
  private val q118Sql =
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
       |), small AS (
       |  SELECT ok FROM items GROUP BY ok HAVING COUNT(*) <= $BasketCap
       |), incap AS (
       |  SELECT items.ok, pk FROM items JOIN small USING (ok)
       |)
       |SELECT a.pk AS part_a, b.pk AS part_b,
       |  CAST(COUNT(*) AS BIGINT) AS support
       |FROM incap a JOIN incap b ON a.ok = b.ok AND a.pk < b.pk
       |GROUP BY part_a, part_b
       |ORDER BY support DESC, part_a, part_b LIMIT 20""".stripMargin

  // --- q134: item-item cosine similarity (co-occurrence recommender) ---------
  // "Customers who bought X also bought Y", normalized: cosine over
  // basket-membership vectors, cos(a,b) = support(a,b)/√(df_a·df_b) —
  // the classic item-based collaborative-filtering score (q118's raw
  // support favors popular items; the cosine corrects for item
  // frequency). √ is not correctly-rounded-portable, so the engines
  // compare on the monotone-equivalent SQUARED cosine as an exact
  // integer: cos2_ppt = 10¹²·support² DIV (df_a·df_b), computed in
  // DECIMAL(38,0)/HUGEINT (10¹²·support² overflows int64 past
  // support ≈ 3000 — sf1's hot pairs are already past it).
  //
  // The min-support floor is frequent-pattern semantics (q118/q130
  // precedent): it drops the support=1 noise floor
  // where cosine degenerates to 1/√(df_a·df_b) (the threshold must stay
  // LOW: co-purchase support gets sparser as the catalog grows — at
  // sf0.1 the max support is already 3, so an absolute floor of 5 would
  // return the empty set at scale); the top-20 limit bounds output. Scale: the same one-shuffle
  // capped pair explode as q118, plus an items-keyed df aggregate —
  // the df join keys are parts (dimension-sized but not broadcast-tiny:
  // a plain shuffle equi-join, skew-proof because part keys are
  // high-cardinality).
  private val CosMinSupport = 2

  /** The item-item squared-cosine table shared by q134 (ranked pairs) and
    * q172 (per-customer recommendations): canonical (part_a < part_b)
    * pairs with support ≥ [[CosMinSupport]], their dfs and exact
    * cos2_ppt. See q134's scaladoc for the arithmetic and scale notes. */
  private def itemCosine(s: SparkSession, dir: String): DataFrame = {
    // df counts EVERY capped basket containing the item — including
    // 1-item baskets (a solo purchase is a real occurrence and must
    // dilute the cosine denominator); only pair GENERATION needs ≥ 2
    val baskets = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy(col("ok"))
      .agg(sort_array(collect_set(col("pk"))).as("ps"))
      .filter(size(col("ps")) <= BasketCap)
      .cache() // df pass + pair pass both read it; Bench clears per-query
    val df_ = baskets.select(explode(col("ps")).as("pk"))
      .groupBy("pk").agg(count(lit(1)).as("df"))
    baskets
      .filter(size(col("ps")) >= 2)
      // native pair generation — see q118
      .select(explode(expr("graft_pairs(ps)")).as("p"))
      .groupBy(col("p.a").as("part_a"), col("p.b").as("part_b"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= CosMinSupport)
      .join(df_.select(col("pk").as("part_a"), col("df").as("df_a")), "part_a")
      .join(df_.select(col("pk").as("part_b"), col("df").as("df_b")), "part_b")
      .withColumn("cos2_ppt", expr(
        """CAST(1000000000000 AS DECIMAL(38,0)) * support * support
          |  DIV (df_a * df_b)""".stripMargin))
      .select(col("part_a"), col("part_b"), col("support"),
        col("df_a"), col("df_b"), col("cos2_ppt"))
  }

  /** The matching DuckDB CTE chain, binding the cosine table as `$name`. */
  private def itemCosineSql(name: String): String =
    s"""items AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
       |), small AS (
       |  SELECT ok FROM items GROUP BY ok HAVING COUNT(*) <= $BasketCap
       |), incap AS (
       |  SELECT items.ok, pk FROM items JOIN small USING (ok)
       |), dfc AS (
       |  SELECT pk, CAST(COUNT(*) AS BIGINT) AS df FROM incap GROUP BY pk
       |), prs AS (
       |  SELECT a.pk AS part_a, b.pk AS part_b,
       |    CAST(COUNT(*) AS BIGINT) AS support
       |  FROM incap a JOIN incap b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2
       |  HAVING COUNT(*) >= $CosMinSupport
       |), $name AS (
       |  SELECT part_a, part_b, support, da.df AS df_a, db.df AS df_b,
       |    CAST(CAST(1000000000000 AS HUGEINT) * support * support
       |      // (da.df * db.df) AS BIGINT) AS cos2_ppt
       |  FROM prs
       |  JOIN dfc da ON da.pk = prs.part_a
       |  JOIN dfc db ON db.pk = prs.part_b
       |)""".stripMargin

  private val q134: Q = (s, dir) =>
    itemCosine(s, dir)
      .orderBy(desc("cos2_ppt"), col("part_a"), col("part_b"))
      .limit(20)
  private val q134Sql =
    s"""WITH ${itemCosineSql("cosine")}
       |SELECT part_a, part_b, support, df_a, df_b, cos2_ppt
       |FROM cosine
       |ORDER BY cos2_ppt DESC, part_a, part_b LIMIT 20""".stripMargin

  // --- q172: per-customer item recommendations (item-based CF) ---------------
  // q134 ranks the SIMILARITIES; this is the product surface built on
  // them — "recommended for you": each customer's unseen parts scored by
  // the sum of squared-cosine similarity to the parts they HAVE bought
  // (the standard item-based collaborative-filtering scorer, scores kept
  // in q134's exact cos2_ppt integers so ranking is engine-portable),
  // top-[[RecsPerUser]] per customer with already-owned parts excluded
  // by an anti-join.
  // Scale: the similarity table is frequent-pattern-sized (support ≥ 2
  // pairs only); scoring is one equi-join (seen ⨝ sims on part) into a
  // (customer, candidate)-keyed combinable aggregate; the rank window is
  // partitioned per customer (never global). The anti-join keys on
  // (customer, part) — high-cardinality, skew-proof.
  private val RecsPerUser = 3
  private val q172: Q = (s, dir) => {
    // cached: the symmetrization references sims TWICE (each branch would
    // otherwise re-run the whole basket pair explode), and the similarity
    // table is frequent-pattern-sized; Bench clears per-query
    val sims = itemCosine(s, dir).cache()
    val sym = sims.select(col("part_a").as("src"), col("part_b").as("dst"),
        col("cos2_ppt"))
      .unionAll(sims.select(col("part_b").as("src"), col("part_a").as("dst"),
        col("cos2_ppt")))
    // cached: read by the scoring join AND the ownership anti-join — each
    // re-read would re-pay the lineitem⨝orders join + distinct shuffle.
    // (r14 shape, RESTORED in r16: the r15 hash(ck) keying — repartition
    // before the distinct and again before the scorer's aggregate, so the
    // anti-join and rank window rode existing partitionings — measured
    // faster in same-JVM A/Bs but regressed the driver's cold 32-thread
    // best-of-N to 2.46 s vs ≤1.78 in r14 (1.2 s at 8 cores): each
    // explicit repartition ships raw un-combined rows (no map-side
    // partial agg/distinct, guide §2.3) and adds a barrier wave of
    // 32-task fixed overhead.)
    val seen = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .join(Tables.orders(s, dir)
        .select(col("o_orderkey").as("ok"), col("o_custkey").as("ck")), "ok")
      .select(col("ck"), col("pk")).distinct()
      .cache()
    val scores = seen.join(sym, col("pk") === col("src"))
      .groupBy(col("ck"), col("dst"))
      .agg(sum(col("cos2_ppt")).as("score"), count(lit(1)).as("n_neighbors"))
    val unseen = scores.join(
      seen.select(col("ck"), col("pk").as("dst")), Seq("ck", "dst"),
      "left_anti")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("ck"))
      .orderBy(desc("score"), col("dst"))
    unseen.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= RecsPerUser)
      .select(col("ck").as("custkey"), col("rank"), col("dst").as("part"),
        col("score"), col("n_neighbors"))
      .orderBy(col("custkey"), col("rank"))
  }
  private val q172Sql =
    s"""WITH ${itemCosineSql("cosine")},
       |sym AS (
       |  SELECT part_a AS src, part_b AS dst, cos2_ppt FROM cosine
       |  UNION ALL SELECT part_b, part_a, cos2_ppt FROM cosine
       |), seen AS (
       |  SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |), scores AS (
       |  SELECT ck, dst, CAST(SUM(cos2_ppt) AS BIGINT) AS score,
       |    CAST(COUNT(*) AS BIGINT) AS n_neighbors
       |  FROM seen JOIN sym ON pk = src
       |  GROUP BY ck, dst
       |), unseen AS (
       |  SELECT * FROM scores
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM seen WHERE seen.ck = scores.ck AND seen.pk = scores.dst)
       |), ranked AS (
       |  SELECT ck, dst, score, n_neighbors,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY ck
       |      ORDER BY score DESC, dst) AS BIGINT) AS rank
       |  FROM unseen
       |)
       |SELECT ck AS custkey, rank, dst AS part, score, n_neighbors
       |FROM ranked WHERE rank <= $RecsPerUser
       |ORDER BY custkey, rank""".stripMargin

  // --- q120: group-wise OLS trend (exact rational slope) ---------------------
  // Does price scale with quantity, per supplier nation — the simplest
  // regression every BI layer asks for, carried the q87/q100 way: the
  // slope is the exact rational (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²). The
  // per-group SUMs stay int64 (Σxy ≤ rows·50·priceCents — safe through
  // ~10^10 rows/group; the all-decimal sum is the next notch up), but the
  // CROSS-PRODUCTS left int64 at sf0.1 ALready overflow at sf1 (n·Σxy ≈
  // 3e19 — the sf1 sweep caught this live), so they run in
  // DECIMAL(19,0)×DECIMAL(19,0) → DECIMAL(38,0), exact like DuckDB's
  // HUGEINT twin (the q75 centroid-norm pattern). The decimals are
  // consumed only through CAST(... AS DOUBLE) with the same expression
  // shape on both engines (q111's rule), which is also why slope_num/
  // slope_den publish as DOUBLE: both engines round the identical exact
  // integer to the identical double, while a 38-digit integer column
  // would hit engine-specific rendering. One broadcast dim join + one
  // map-side-combinable HashAggregate.
  private val q120: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
      .select(col("l_suppkey"), col("l_quantity").cast("long").as("x"),
        Exact.cents(col("l_extendedprice")).as("y"))
    val supNation = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    li.join(broadcast(supNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sx2"))
      .withColumn("num_d", expr(
        """CAST(n AS DECIMAL(19,0)) * CAST(sxy AS DECIMAL(19,0)) -
          |  CAST(sx AS DECIMAL(19,0)) * CAST(sy AS DECIMAL(19,0))"""
          .stripMargin))
      .withColumn("den_d", expr(
        """CAST(n AS DECIMAL(19,0)) * CAST(sx2 AS DECIMAL(19,0)) -
          |  CAST(sx AS DECIMAL(19,0)) * CAST(sx AS DECIMAL(19,0))"""
          .stripMargin))
      .select(col("n_name"), col("n"),
        expr("CAST(num_d AS DOUBLE)").as("slope_num"),
        expr("CAST(den_d AS DOUBLE)").as("slope_den"),
        // q100's zero-variance guard: den = 0 (all-equal x, incl. n = 1)
        // would cast NaN/Infinity to BIGINT — engines disagree there
        expr(
          """CASE WHEN den_d > 0 THEN
            |  CAST(floor(1000.0D * CAST(num_d AS DOUBLE) /
            |    CAST(den_d AS DOUBLE)) AS BIGINT)
            |ELSE CAST(0 AS BIGINT) END""".stripMargin).as("slope_milli"))
      .orderBy(col("n_name"))
  }
  private val q120Sql =
    s"""WITH li AS (
       |  SELECT l_suppkey, CAST(l_quantity AS BIGINT) AS x,
       |    ${Exact.sql.cents("l_extendedprice")} AS y
       |  FROM lineitem
       |), g AS (
       |  SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |    CAST(SUM(x * y) AS BIGINT) AS sxy,
       |    CAST(SUM(x * x) AS BIGINT) AS sx2
       |  FROM li
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation ON s_nationkey = n_nationkey
       |  GROUP BY n_name
       |), cp AS (
       |  -- HUGEINT cross-products (the Spark side uses DECIMAL(38,0)):
       |  -- n*sxy overflows int64 at sf1; consumed only via CAST AS DOUBLE
       |  SELECT n_name, n,
       |    CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num_d,
       |    CAST(n AS HUGEINT) * sx2 - CAST(sx AS HUGEINT) * sx AS den_d
       |  FROM g
       |)
       |SELECT n_name, n,
       |  CAST(num_d AS DOUBLE) AS slope_num,
       |  CAST(den_d AS DOUBLE) AS slope_den,
       |  CASE WHEN den_d > 0 THEN
       |    CAST(floor(1000.0 * CAST(num_d AS DOUBLE) /
       |      CAST(den_d AS DOUBLE)) AS BIGINT)
       |  ELSE CAST(0 AS BIGINT) END AS slope_milli
       |FROM cp ORDER BY n_name""".stripMargin

  // --- q122: weighted systematic sampling -------------------------------------
  // Samples documents with probability PROPORTIONAL TO TOKEN MASS — the
  // sampler class the uniform hash-bucket family (q44/q56/q63/q89)
  // can't express: a 10k-token doc should be 100× likelier in a
  // token-budget sample than a 100-token doc. Classic weighted sampling
  // (A-Chao, exponential keys) needs per-row randomness and floats;
  // systematic sampling by cumulative weight is the deterministic
  // integer form: order docs per source by content hash (the corpus's
  // own shuffle-stable order), run a cumulative token sum, and keep
  // every row whose cumulative interval [cum − w, cum) crosses a
  // multiple of `step` — exactly one pick per step tokens, inclusion
  // probability w/step, zero floats, reproducible on any engine or
  // cluster size. The window is per-SOURCE (never a global sort).
  private val SampleStep = 4000L
  private val q122: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val toks = TextOps.tokensExpr("text")
    val h = TextOps.hash60("CAST(doc_id AS STRING)")
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        expr(s"CAST(size($toks) AS BIGINT)").as("w"),
        expr(h).as("hkey"))
    val byHash = Window.partitionBy(col("source"))
      .orderBy(col("hkey"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val picked = d.withColumn("cum", sum(col("w")).over(byHash))
      .filter(expr(s"cum DIV $SampleStep > (cum - w) DIV $SampleStep"))
    picked.groupBy(col("source"))
      .agg(count(lit(1)).as("n_picked"), sum(col("w")).as("picked_toks"),
        sum(expr("pmod(hkey, 1000000000)")).as("pick_sig"))
      .orderBy(col("source"))
  }
  private val q122Sql = {
    val toks = TextOps.sql.tokens("text")
    val h = TextOps.sql.hash60("CAST(doc_id AS VARCHAR)")
    s"""WITH d AS (
       |  SELECT doc_id, source, CAST(len($toks) AS BIGINT) AS w,
       |    $h AS hkey
       |  FROM documents
       |), c AS (
       |  SELECT *, CAST(SUM(w) OVER (PARTITION BY source
       |    ORDER BY hkey, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |  FROM d
       |)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_picked,
       |  CAST(SUM(w) AS BIGINT) AS picked_toks,
       |  CAST(SUM(hkey % 1000000000) AS BIGINT) AS pick_sig
       |FROM c WHERE cum // $SampleStep > (cum - w) // $SampleStep
       |GROUP BY source ORDER BY source""".stripMargin
  }

  // --- q125: vocabulary drift audit -------------------------------------------
  // Has the corpus's token distribution shifted between two snapshots?
  // The monitoring question every ingest pipeline grows; KL divergence
  // needs logs (not hash-comparable), so the drift score is the L1
  // delta of per-mille token shares — exact integers end to end. The
  // two "snapshots" here are the deterministic halves of the corpus by
  // content hash (the operator's shape is identical when the inputs
  // are yesterday's and today's drops); shares normalize by EACH
  // half's full token mass, the comparison covers the overall top
  // tokens (vocab-sized, deterministic tie on the token), and the
  // output is the top drifters. Two corpus-sized aggregates, the rest
  // vocab-sized.
  private val DriftTopVocab = 200
  private val DriftTopOut   = 20
  private val q125: Q = (s, dir) => {
    val toks = TextOps.tokensExpr("text")
    val half = TextOps.docBucketExpr(scale = 2L)
    val tok = Tables.documents(s, dir)
      .select(expr(half).as("h"), explode(expr(toks)).as("tok"))
      .filter(length(col("tok")) >= 1)
      .groupBy(col("h"), col("tok")).agg(count(lit(1)).as("n"))
    val totals = tok.groupBy(col("h")).agg(sum(col("n")).as("tot"))
    val top = tok.groupBy(col("tok")).agg(sum(col("n")).as("n_all"))
      .orderBy(desc("n_all"), col("tok")).limit(DriftTopVocab)
      .select("tok")
    val shares = tok.join(broadcast(top), Seq("tok"))
      .join(broadcast(totals), Seq("h"))
      .select(col("tok"), col("h"), col("n"),
        expr("(1000 * n) DIV tot").as("share_pm"))
    val a = shares.filter(col("h") === 0)
      .select(col("tok"), col("n").as("n_a"), col("share_pm").as("share_a_pm"))
    val b = shares.filter(col("h") === 1)
      .select(col("tok"), col("n").as("n_b"), col("share_pm").as("share_b_pm"))
    a.join(b, Seq("tok"), "full_outer")
      .select(col("tok"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        coalesce(col("share_a_pm"), lit(0L)).as("share_a_pm"),
        coalesce(col("share_b_pm"), lit(0L)).as("share_b_pm"))
      .withColumn("delta_pm", abs(col("share_a_pm") - col("share_b_pm")))
      .orderBy(desc("delta_pm"), col("tok"))
      .limit(DriftTopOut)
  }
  private val q125Sql = {
    val toks = TextOps.sql.tokens("text")
    val half = s"${TextOps.sql.hash60("CAST(doc_id AS VARCHAR)")} % 2"
    s"""WITH tok AS (
       |  SELECT h, tok, CAST(COUNT(*) AS BIGINT) AS n FROM (
       |    SELECT $half AS h, unnest($toks) AS tok FROM documents
       |  ) WHERE length(tok) >= 1 GROUP BY h, tok
       |),
       |totals AS (SELECT h, CAST(SUM(n) AS BIGINT) AS tot FROM tok GROUP BY h),
       |top AS (
       |  SELECT tok FROM (
       |    SELECT tok, CAST(SUM(n) AS BIGINT) AS n_all FROM tok GROUP BY tok
       |    ORDER BY n_all DESC, tok LIMIT $DriftTopVocab
       |  )
       |),
       |shares AS (
       |  SELECT tok.tok, tok.h, tok.n, (1000 * tok.n) // tot AS share_pm
       |  FROM tok JOIN top USING (tok) JOIN totals USING (h)
       |),
       |a AS (SELECT tok, n AS n_a, share_pm AS share_a_pm FROM shares WHERE h = 0),
       |b AS (SELECT tok, n AS n_b, share_pm AS share_b_pm FROM shares WHERE h = 1)
       |SELECT tok,
       |  COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b,
       |  COALESCE(share_a_pm, 0) AS share_a_pm,
       |  COALESCE(share_b_pm, 0) AS share_b_pm,
       |  abs(COALESCE(share_a_pm, 0) - COALESCE(share_b_pm, 0)) AS delta_pm
       |FROM a FULL OUTER JOIN b USING (tok)
       |ORDER BY delta_pm DESC, tok LIMIT $DriftTopOut""".stripMargin
  }

  // --- q126: order-to-ship latency percentiles per month -----------------------
  // The operational-SLA series: per order month, exact DISCRETE p50/p90
  // of the order→ship latency in whole days (element selection, the
  // q46 rule — actual latencies, no interpolation, no floats). One
  // fact⨝fact equi-join on the order key, then a months-sized
  // aggregate carrying the per-group percentile sorts.
  private val q126: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderdate"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      // floored day bucket (negative-remainder corrected): the data's
      // latencies are positive, but a ship-before-order row must not
      // silently land a day apart between engines (DIV truncates,
      // // floors)
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        expr("""(unix_micros(l_shipdate) - unix_micros(o_orderdate))
          |  DIV 86400000000 +
          |  (CASE WHEN (unix_micros(l_shipdate) - unix_micros(o_orderdate))
          |     % 86400000000 < 0 THEN -1 ELSE 0 END)""".stripMargin)
          .as("lat_d"))
      // Exact discrete percentiles off the (month, lat_d) HISTOGRAM, not
      // the row stream: latency-in-days has ~calendar-bounded cardinality,
      // so a codegen count aggregate collapses the corpus to months×days
      // rows BEFORE any shuffle (map-side partial agg), where the old
      // percentile_disc was a non-codegen ObjectHashAggregate shipping
      // every fact row's lat_d to months-sized reducers. percentile_disc
      // p = smallest v with cume_dist(v) ≥ p, replayed exactly in integer
      // arithmetic on the cumulative histogram: p50 ⇔ 2·cum ≥ n,
      // p90 ⇔ 10·cum ≥ 9·n — no float division, identical rows (oracle
      // twin unchanged and hash-checked at 3 SFs).
      .groupBy(col("month"), col("lat_d"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col("month")).orderBy(col("lat_d"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("month"))))
      .groupBy(col("month"))
      .agg(max(col("n")).as("n"),
        min(when(col("cum") * 2 >= col("n"), col("lat_d"))).as("p50_d"),
        min(when(col("cum") * 10 >= col("n") * 9, col("lat_d"))).as("p90_d"),
        max(col("lat_d")).as("max_d"))
      .orderBy(col("month"))
  }
  private val q126Sql =
    """WITH j AS (
      |  SELECT strftime(o_orderdate, '%Y-%m') AS month,
      |    (epoch_us(l_shipdate) - epoch_us(o_orderdate)) // 86400000000
      |      AS lat_d
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |)
      |SELECT month, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY lat_d) AS BIGINT)
      |    AS p50_d,
      |  CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY lat_d) AS BIGINT)
      |    AS p90_d,
      |  MAX(lat_d) AS max_d
      |FROM j GROUP BY month ORDER BY month""".stripMargin

  // --- q145: distributed skyline (Pareto frontier) over (price ↓, size ↑) ----
  // The parts no buyer can strictly improve on: o dominates p iff
  // o.price ≤ p.price ∧ o.size ≥ p.size with at least one strict. The
  // classic skyline operator, computed WITHOUT the naive all-pairs
  // NOT-EXISTS (which the DuckDB twin deliberately keeps — same rows,
  // quadratic plan):
  //
  //   1. collapse to one row per DISTINCT price with its best size
  //      (grid-bounded: prices live on a fixed 0.1 currency grid, so
  //      this table is domain-sized like the q67 vocab tables);
  //   2. strict-lower-price running max of size, split two-level so no
  //      corpus-sized global sort exists: a PER-BUCKET window
  //      (partitionBy floor(price) — parallel) + a prefix max over the
  //      ≤ |price-range| bucket summaries (the only global window,
  //      buckets-sized by construction);
  //   3. p is dominated iff strictLowerMax ≥ p.size (strictly cheaper,
  //      no smaller) OR samePriceMax > p.size (same price, strictly
  //      bigger) — one broadcast join from the grid back to the rows.
  //
  // Scale: the corpus-sized work is one groupBy(price) aggregate and one
  // broadcast probe; everything between runs on the price grid. The
  // general-domain variant (unbounded distinct prices) would swap step 2's
  // bucket key for a range-partitioner sample — the two-level shape is
  // unchanged.
  private val q145: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val pr = Tables.part(s, dir)
      .select(col("p_partkey"), col("p_retailprice").as("price"),
        col("p_size").as("size"))
    val pm = pr.groupBy(col("price")).agg(max(col("size")).as("mx"))
      .withColumn("bkt", floor(col("price")).cast("long"))
    // one row per price ⇒ rowsBetween(…, -1) is exactly "strictly lower
    // price within my bucket"
    val inBkt = Window.partitionBy(col("bkt")).orderBy(col("price"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bktMax = pm.groupBy(col("bkt")).agg(max(col("mx")).as("bmx"))
    // global window over bucket summaries only: ≤ |price range| rows
    val pref = Window.orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bktPref = bktMax.withColumn("pre_max", max(col("bmx")).over(pref))
      .select(col("bkt"), col("pre_max"))
    val grid = pm.withColumn("in_max", max(col("mx")).over(inBkt))
      .join(broadcast(bktPref), "bkt")
      .withColumn("strict_lower",
        greatest(coalesce(col("in_max"), lit(-1)),
          coalesce(col("pre_max"), lit(-1))))
      .select(col("price"), col("mx"), col("strict_lower"))
    pr.join(broadcast(grid), "price")
      .filter(!(col("strict_lower") >= col("size") || col("mx") > col("size")))
      .select(col("p_partkey"), col("price"), col("size"))
      .orderBy(col("price"), col("p_partkey"))
  }
  private val q145Sql =
    """SELECT p_partkey, p_retailprice AS price, p_size AS size
      |FROM part p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM part o
      |  WHERE o.p_retailprice <= p.p_retailprice AND o.p_size >= p.p_size
      |    AND (o.p_retailprice < p.p_retailprice OR o.p_size > p.p_size))
      |ORDER BY price, p_partkey""".stripMargin

  // --- q148: seasonal-naive backtest (forecast evaluation harness) -----------
  // The model-eval op every time-series pipeline needs before any model
  // ships: score the SEASONAL-NAIVE baseline (ŷ(t) = y(t−7 days) — what a
  // real forecast must beat) against actuals, walk-forward over every day
  // with a week-old predecessor. Published per series (event_type): eval
  // days, exact absolute-error mass, floored MAE in milli-events, and the
  // bias (signed error sum — over- vs under-forecast, which MAE hides).
  //
  // Exactness: daily counts are integers, so |err| and the signed sum are
  // exact; MAE floors to milli-units via integer DIV (q116 sign-split not
  // needed — |err| sums are nonnegative). The 7-day shift is a DATE join
  // (date_add), not LAG(7 rows): missing days must break the pairing,
  // not silently shift it.
  //
  // Scale: one corpus-sized (type, day) count aggregate (map-side
  // combinable); the backtest self-join and the final rollup run on the
  // days×types table — dimension-sized by construction (q141's shape).
  private val q148: Q = (s, dir) => {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("y"))
    val pred = daily.select(col("event_type"),
      date_add(col("d"), 7).as("d"), col("y").as("yhat"))
    daily.join(pred, Seq("event_type", "d"))
      .withColumn("abs_err", abs(col("y") - col("yhat")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("abs_err")).as("abs_err_sum"),
        sum(col("y") - col("yhat")).as("bias_sum"))
      .withColumn("mae_milli", expr("(abs_err_sum * 1000L) DIV n_days"))
      .orderBy(col("event_type"))
  }
  private val q148Sql =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |    CAST(COUNT(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2
      |), j AS (
      |  SELECT a.event_type, a.y, p.y AS yhat
      |  FROM daily a JOIN daily p
      |    ON a.event_type = p.event_type AND a.d = p.d + INTERVAL 7 DAY
      |)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
      |  CAST(SUM(ABS(y - yhat)) AS BIGINT) AS abs_err_sum,
      |  CAST(SUM(y - yhat) AS BIGINT) AS bias_sum,
      |  (CAST(SUM(ABS(y - yhat)) AS BIGINT) * CAST(1000 AS BIGINT))
      |    // CAST(COUNT(*) AS BIGINT) AS mae_milli
      |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin

  // --- q153: lead-lag cross-correlation between event series ------------------
  // "Do views LEAD purchases, and by how many days?" — the
  // cross-correlation function between the two daily series at lags
  // −3..+3, the q100 exact-numerator discipline applied pairwise: for
  // each lag, pair x = views(day) with y = purchases(day + lag) via a
  // DATE EQUI-JOIN (q148's rule — missing days must break the pairing,
  // never silently shift it), carry n·Σxy − Σx·Σy / n·Σx² − (Σx)² as
  // exact integers widened through DECIMAL(38,0) (daily counts reach
  // ~3·10⁸ at 10¹² events, so Σxy ≈ 3·10²⁰ clears int64 — the q120
  // audit applied up front), and publish corr_ppm from those exact ints
  // in identical IEEE shape both engines. is_best marks the argmax lag
  // (ties → smallest lag), the "purchases trail views by k days" answer.
  // Scale: ONE day-keyed HashAggregate over the corpus; everything after
  // runs on (days × 7 lags) rows — dimension-sized by construction.
  private val XcLags = -3 to 3
  private val q153: Q = (s, dir) => {
    val daily = Tables.events(s, dir)
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val x = daily.filter(col("event_type") === "view")
      .select(col("day"), col("c").as("x"))
    val y = daily.filter(col("event_type") === "purchase")
      .select(col("day").as("yday"), col("c").as("y"))
    val lags = s.range(XcLags.head, XcLags.last + 1)
      .select(col("id").cast("int").as("lag"))
    val pairs = x.crossJoin(broadcast(lags))
      .withColumn("yday", expr("date_add(day, lag)"))
      .join(y, Seq("yday"))
    def cross(a: String, b: String, c: String, d: String) = expr(
      s"""CAST(CAST($a AS DECIMAL(38,0)) * $b -
         |  CAST($c AS DECIMAL(38,0)) * $d AS DOUBLE)""".stripMargin)
    val agg = pairs.groupBy(col("lag"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr("CAST(x AS DECIMAL(19,0)) * y")).as("sxy"),
        sum(expr("CAST(x AS DECIMAL(19,0)) * x")).as("sxx"),
        sum(expr("CAST(y AS DECIMAL(19,0)) * y")).as("syy"))
      .select(col("lag"), col("n"),
        cross("n", "sxy", "sx", "sy").as("cov_num"),
        cross("n", "sxx", "sx", "sx").as("var_x_num"),
        cross("n", "syy", "sy", "sy").as("var_y_num"))
      .withColumn("corr_ppm", expr(corrPpm))
    import org.apache.spark.sql.expressions.Window
    val wBest = Window.orderBy(desc("corr_ppm"), col("lag")) // 7 rows
    agg.withColumn("is_best",
        (row_number().over(wBest) === 1).cast("bigint"))
      .select(col("lag"), col("n"), col("corr_ppm"), col("is_best"))
      .orderBy(col("lag"))
  }
  private val q153Sql = {
    val corrDuck =
      """CASE WHEN var_x_num > 0.0 AND var_y_num > 0.0
        |  THEN (CASE WHEN cov_num < 0.0 THEN -1 ELSE 1 END) *
        |    CAST(FLOOR(1000000.0 * abs(cov_num) /
        |      (SQRT(var_x_num) * SQRT(var_y_num))) AS BIGINT)
        |  ELSE CAST(0 AS BIGINT) END""".stripMargin
    s"""WITH daily AS (
       |  SELECT CAST(ts AS DATE) AS day, event_type,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1, 2
       |), x AS (SELECT day, c AS x FROM daily WHERE event_type = 'view'),
       |y AS (SELECT day AS yday, c AS y FROM daily WHERE event_type = 'purchase'),
       |lags AS (SELECT unnest(generate_series(${XcLags.head}, ${XcLags.last})) AS lag),
       |pairs AS (
       |  SELECT lag, x, y FROM x CROSS JOIN lags
       |  JOIN y ON y.yday = x.day + CAST(lag AS INTEGER)
       |), agg AS (
       |  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
       |    CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
       |    CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
       |    CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
       |  FROM pairs GROUP BY 1
       |), nums AS (
       |  SELECT lag, n,
       |    CAST(n * sxy - sx * sy AS DOUBLE) AS cov_num,
       |    CAST(n * sxx - sx * sx AS DOUBLE) AS var_x_num,
       |    CAST(n * syy - sy * sy AS DOUBLE) AS var_y_num
       |  FROM agg
       |), scored AS (
       |  SELECT lag, n, $corrDuck AS corr_ppm FROM nums
       |)
       |SELECT CAST(lag AS INTEGER) AS lag, n, corr_ppm,
       |  CAST(CASE WHEN ROW_NUMBER() OVER (ORDER BY corr_ppm DESC, lag) = 1
       |    THEN 1 ELSE 0 END AS BIGINT) AS is_best
       |FROM scored ORDER BY lag""".stripMargin
  }

  // --- q162: join-key skew audit ----------------------------------------------
  // The planning question behind every salting/AQE-skew decision at
  // 100 TB: HOW skewed is this join key, measured not guessed. Per
  // audited key column (lineitem part/supplier/order FKs): distinct
  // keys, total rows, max and median per-key frequency, the top key's
  // row share in ppm, and the max/median skew ratio per-mille — the
  // number you compare against the shuffle-partition budget. The median
  // comes off the FREQUENCY-OF-FREQUENCIES grid (group the per-key
  // counts, then a cumulative window over the ≤ |distinct frequencies|
  // grid — q135's discipline; per-key counts never sort globally).
  // Scale: per key column one corpus-sized combinable count + one
  // grid-sized window; the three audits are independent branches off
  // the same scan, unioned at ≤ 3 rows.
  private val SkewKeys = Seq("l_partkey", "l_suppkey", "l_orderkey")
  private val q162: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val audits = SkewKeys.map { k =>
      val freq = li.groupBy(col(k).as("key")).agg(count(lit(1)).as("f"))
      val grid = freq.groupBy(col("f")).agg(count(lit(1)).as("nk"))
      import org.apache.spark.sql.expressions.Window
      val wCum = Window.orderBy("f") // frequency-grid-sized
      val gridCum = grid
        .withColumn("cum", sum(col("nk")).over(wCum))
        .crossJoin(broadcast(
          grid.agg(sum(col("nk")).as("n_keys"),
            sum(col("f") * col("nk")).as("n_rows"),
            max(col("f")).as("max_f"))))
      val med = gridCum.filter(expr("cum >= (n_keys + 1) DIV 2"))
        .agg(min(col("f")).as("median_f"))
      gridCum.agg(
          max(col("n_keys")).as("n_keys"),
          max(col("n_rows")).as("n_rows"),
          max(col("max_f")).as("max_f"))
        .crossJoin(broadcast(med))
        .select(lit(k).as("key_col"), col("n_keys"), col("n_rows"),
          col("max_f"), col("median_f"),
          expr("(1000000 * max_f) DIV n_rows").as("top_share_ppm"),
          expr("(1000 * max_f) DIV median_f").as("skew_ratio_pm"))
    }
    audits.reduce(_.unionAll(_)).orderBy(col("key_col"))
  }
  private val q162Sql = {
    val one = (k: String) =>
      s"""SELECT '$k' AS key_col, n_keys, n_rows, max_f, median_f,
         |  (1000000 * max_f) // n_rows AS top_share_ppm,
         |  (1000 * max_f) // median_f AS skew_ratio_pm
         |FROM (
         |  SELECT MAX(n_keys) AS n_keys, MAX(n_rows) AS n_rows,
         |    MAX(max_f) AS max_f,
         |    MIN(CASE WHEN cum >= (n_keys + 1) // 2 THEN f END) AS median_f
         |  FROM (
         |    SELECT f, CAST(SUM(nk) OVER (ORDER BY f) AS BIGINT) AS cum,
         |      CAST(SUM(nk) OVER () AS BIGINT) AS n_keys,
         |      CAST(SUM(f * nk) OVER () AS BIGINT) AS n_rows,
         |      CAST(MAX(f) OVER () AS BIGINT) AS max_f
         |    FROM (
         |      SELECT f, CAST(COUNT(*) AS BIGINT) AS nk FROM (
         |        SELECT $k AS key, CAST(COUNT(*) AS BIGINT) AS f
         |        FROM lineitem GROUP BY 1) GROUP BY 1)
         |  )
         |)""".stripMargin
    SkewKeys.map(one).mkString("\nUNION ALL\n") + "\nORDER BY key_col"
  }

  // --- q182: Theil–Sen robust trend (median of pairwise slopes) --------------
  // The robust-regression sibling of q120's least-squares trend: the
  // slope is the MEDIAN of all pairwise slopes of the monthly revenue
  // series, so up to half the months can be corrupted before the
  // estimate moves (q120's OLS breaks at one outlier). All integer:
  // pairwise slopes as floored ppm of exact cents, the median by the
  // q46/q121 selection rule (first value whose doubled rank reaches the
  // pair count — no engine median() call), and the intercept as the
  // median residual at the chosen slope.
  // Scale: the corpus-sized work is ONE month-keyed aggregation; the
  // pair explosion runs on the MONTHS table, whose size is fixed by the
  // date span (84² pairs at every SF — corpus-independent), so the
  // global rank windows order dimension-sized data only.
  private val q182: Q = (s, dir) => {
    val m = Tables.orders(s, dir)
      .groupBy(((year(col("o_orderdate")) - 1992) * 12 +
        month(col("o_orderdate")) - 1).as("x"))
      .agg(sum(Exact.cents(col("o_totalprice"))).as("y"))
      .localCheckpoint() // months-sized; feeds pairs AND the residuals
    val slopes = m.select(col("x").as("x1"), col("y").as("y1"))
      .crossJoin(m.select(col("x").as("x2"), col("y").as("y2")))
      .filter(col("x1") < col("x2"))
      .select(expr(
        // q120 convention: y are cents SUMS that grow with the corpus,
        // so the 10⁶-scaled numerator runs in DECIMAL(38,0) (HUGEINT
        // twin) — int64 would wrap silently around month diffs ≈ 9e12
        // cents while DuckDB errors, a silent engine-side divergence
        "CAST((CAST(1000000 AS DECIMAL(38,0)) * (y2 - y1)) DIV (x2 - x1)" +
          " AS BIGINT)").as("slope_ppm"))
    val wS = Window.orderBy(col("slope_ppm"))
    val sm = slopes.withColumn("rn", row_number().over(wS))
      .crossJoin(broadcast(slopes.agg(count(lit(1)).as("n_pairs"))))
      .filter(col("rn") * 2 >= col("n_pairs"))
      .agg(min(col("slope_ppm")).as("slope_ppm"),
        max(col("n_pairs")).as("n_pairs"))
    val resid = m.crossJoin(broadcast(sm))
      .select(col("n_pairs"), col("slope_ppm"),
        expr("CAST(y AS DECIMAL(38,0)) * 1000000" +
          " - CAST(slope_ppm AS DECIMAL(38,0)) * x").as("b0"))
    val wB = Window.orderBy(col("b0"))
    resid.withColumn("rn", row_number().over(wB))
      .crossJoin(broadcast(m.agg(count(lit(1)).as("n_months"))))
      .filter(col("rn") * 2 >= col("n_months"))
      .groupBy(col("n_months"), col("n_pairs"), col("slope_ppm"))
      .agg(min(col("b0")).as("intercept_micro"))
      .select(col("n_months"), col("n_pairs"), col("slope_ppm"),
        // published bound: |intercept| <= max monthly cents · 10⁶ — back
        // in int64 for any plausible corpus ($92 B/month crosses it)
        col("intercept_micro").cast("long").as("intercept_micro"))
  }
  private val q182Sql = {
    val cents = Exact.sql.cents("o_totalprice")
    s"""WITH m AS (
       |  SELECT (year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1 AS x,
       |    CAST(SUM($cents) AS BIGINT) AS y
       |  FROM orders GROUP BY 1
       |), p AS (
       |  SELECT CAST((CAST(1000000 AS HUGEINT) * (b.y - a.y))
       |    // (b.x - a.x) AS BIGINT) AS slope_ppm
       |  FROM m a JOIN m b ON a.x < b.x
       |), sc AS (
       |  SELECT slope_ppm, ROW_NUMBER() OVER (ORDER BY slope_ppm) AS rn,
       |    COUNT(*) OVER () AS n
       |  FROM p
       |), sm AS (
       |  SELECT MIN(slope_ppm) AS slope_ppm, CAST(MAX(n) AS BIGINT) AS n_pairs
       |  FROM sc WHERE 2 * rn >= n
       |), icc AS (
       |  SELECT CAST(m.y AS HUGEINT) * 1000000
       |      - CAST(sm.slope_ppm AS HUGEINT) * m.x AS b0,
       |    ROW_NUMBER() OVER (ORDER BY CAST(m.y AS HUGEINT) * 1000000
       |      - CAST(sm.slope_ppm AS HUGEINT) * m.x) AS rn,
       |    COUNT(*) OVER () AS n
       |  FROM m, sm
       |)
       |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM m) AS n_months,
       |  sm.n_pairs, sm.slope_ppm,
       |  (SELECT CAST(MIN(b0) AS BIGINT) FROM icc WHERE 2 * rn >= n)
       |    AS intercept_micro
       |FROM sm""".stripMargin
  }

  // --- q190: rank transform (empirical-CDF feature normalization) ------------
  // The feature-engineering step that maps a skewed column onto a
  // uniform [0, 10000) basis-point scale: rank_bp(v) = ⌊10000·#{rows
  // below v}/n⌋ — percent_rank, decomposed for scale. A naive
  // percent_rank is a corpus-wide global sort; the scale-honest form
  // runs the cumulative window over the DISTINCT-VALUE table (the
  // cents domain is bounded, so the window input is domain-sized no
  // matter the corpus) and joins ranks back by value — the same
  // decomposition as q121's weighted median. Published as the decile
  // audit (count + value range per decile): near-equal decile counts
  // ARE the proof the transform uniformized the marginal.
  private val q190: Q = (s, dir) => {
    val vals = Tables.customer(s, dir)
      .select(Exact.cents(col("c_acctbal")).as("v"))
    val hist = vals.groupBy(col("v")).agg(count(lit(1)).as("c"))
    val wv = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranks = hist
      .withColumn("below", coalesce(sum(col("c")).over(wv), lit(0L)))
      .crossJoin(broadcast(vals.agg(count(lit(1)).as("n"))))
      .withColumn("rank_bp", expr("(10000 * below) DIV n"))
      .select(col("v"), col("rank_bp"))
    vals.join(ranks, "v")
      .withColumn("decile", expr("rank_bp DIV 1000"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("v")).as("min_cents"), max(col("v")).as("max_cents"),
        min(col("rank_bp")).as("min_bp"), max(col("rank_bp")).as("max_bp"))
      .orderBy(col("decile"))
  }
  private val q190Sql = {
    val cents = Exact.sql.cents("c_acctbal")
    s"""WITH vals AS (
       |  SELECT $cents AS v FROM customer
       |), hist AS (
       |  SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM vals GROUP BY v
       |), ranks AS (
       |  SELECT v,
       |    (10000 * COALESCE(SUM(c) OVER (ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)) //
       |      (SELECT CAST(COUNT(*) AS BIGINT) FROM vals) AS rank_bp
       |  FROM hist
       |)
       |SELECT CAST(rank_bp // 1000 AS BIGINT) AS decile,
       |  CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  MIN(v) AS min_cents, MAX(v) AS max_cents,
       |  CAST(MIN(rank_bp) AS BIGINT) AS min_bp,
       |  CAST(MAX(rank_bp) AS BIGINT) AS max_bp
       |FROM vals JOIN ranks USING (v)
       |GROUP BY 1 ORDER BY decile""".stripMargin
  }

  // --- q195: grouped K-fold assignment (leakage-free CV splits) --------------
  // The split discipline q78's holdout introduced, generalized to
  // K-fold cross-validation with a GROUP constraint: every event of a
  // user lands in the SAME fold (splitting a user across train and
  // validation leaks their behavior into both — the GroupKFold rule).
  // Fold = deterministic content hash of the GROUP key, never rand()
  // and never the row key. The audit publishes per-fold volumes and
  // class balance AND the structural guarantee itself: spanning_users —
  // users observed in >1 fold — which the construction forces to 0 (the
  // column exists so a regression that keys the hash on the row would
  // fail the oracle loudly, not silently).
  private val CvK = 5L
  private val q195: Q = (s, dir) => {
    val e = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .withColumn("fold", expr(
        s"pmod(${TextOps.hash60("concat('cv:', CAST(user_id AS STRING))")}, $CvK)"))
    val spanning = e.groupBy(col("user_id"))
      .agg(countDistinct(col("fold")).as("nf"))
      .agg(sum(when(col("nf") > 1, 1L).otherwise(0L)).as("spanning_users"))
    e.groupBy(col("fold"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchase"))
      .withColumn("purchase_ppm", expr("(1000000 * n_purchase) DIV n_events"))
      .crossJoin(broadcast(spanning))
      .orderBy(col("fold"))
  }
  private val q195Sql = {
    val h = TextOps.sql.hash60("concat('cv:', CAST(user_id AS VARCHAR))")
    s"""WITH e AS (
       |  SELECT event_id, user_id, event_type, $h % $CvK AS fold
       |  FROM events
       |), sp AS (
       |  SELECT CAST(SUM(CASE WHEN nf > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS spanning_users
       |  FROM (SELECT user_id, COUNT(DISTINCT fold) AS nf FROM e
       |        GROUP BY user_id)
       |)
       |SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_events,
       |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_purchase,
       |  (1000000 * CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1
       |    ELSE 0 END) AS BIGINT)) // COUNT(*) AS purchase_ppm,
       |  (SELECT spanning_users FROM sp) AS spanning_users
       |FROM e GROUP BY fold ORDER BY fold""".stripMargin
  }

  // --- q196: feature-hashing collision audit ----------------------------------
  // The hashing trick (token → feature index mod 2^k) trades dimension
  // for collisions; this is the audit that sizes k: the bucket-load
  // histogram (how many feature buckets carry 1, 2, 3… distinct
  // tokens) plus the overall collision rate in ppm. Vocabulary comes
  // from one distinct over the exploded corpus; everything after is
  // vocabulary-sized.
  private val FhBuckets = 1024L
  private val q196: Q = (s, dir) => {
    val vocab = Tables.documents(s, dir)
      .select(explode(expr(TextOps.tokensExpr("text"))).as("tok"))
      .distinct()
      .withColumn("b", expr(s"pmod(${TextOps.hash60("tok")}, $FhBuckets)"))
    val loads = vocab.groupBy(col("b")).agg(count(lit(1)).as("load"))
    val totals = loads.agg(count(lit(1)).as("used"), sum(col("load")).as("v"))
      .select(col("used"), col("v"),
        expr("(1000000 * (v - used)) DIV v").as("collision_ppm"))
    loads.groupBy(col("load")).agg(count(lit(1)).as("n_buckets"))
      .crossJoin(broadcast(totals))
      .select(col("load"), col("n_buckets"), col("used").as("used_buckets"),
        col("v").as("vocab_size"), col("collision_ppm"))
      .orderBy(col("load"))
  }
  private val q196Sql = {
    val h = TextOps.sql.hash60("tok")
    s"""WITH vocab AS (
       |  SELECT DISTINCT tok FROM (
       |    SELECT unnest(${TextOps.sql.tokens("text")}) AS tok FROM documents)
       |), bk AS (
       |  SELECT $h % $FhBuckets AS b, CAST(COUNT(*) AS BIGINT) AS load
       |  FROM vocab GROUP BY 1
       |), tot AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS used,
       |    CAST(SUM(load) AS BIGINT) AS v
       |  FROM bk
       |)
       |SELECT load, CAST(COUNT(*) AS BIGINT) AS n_buckets,
       |  (SELECT used FROM tot) AS used_buckets,
       |  (SELECT v FROM tot) AS vocab_size,
       |  (SELECT (1000000 * (v - used)) // v FROM tot) AS collision_ppm
       |FROM bk GROUP BY load ORDER BY load""".stripMargin
  }

  // --- q197: leave-one-out target encoding ------------------------------------
  // Target encoding with the leakage fix: a row's category is encoded by
  // the mean target of OTHER rows in its category — (S − x)/(n − 1),
  // exact floored cents — because including the row's own target leaks
  // the label into the feature (the naive mean memorizes singletons
  // perfectly). Two passes: category sums (one combinable aggregate,
  // broadcast back), then the per-row encode map-side. Published as the
  // per-category digest of the encoded VALUES (count, min, max, sum) —
  // enough to pin every row's arithmetic without corpus-sized output.
  private val q197: Q = (s, dir) => {
    val o = Tables.orders(s, dir).select(
      col("o_orderpriority").as("cat"),
      Exact.cents(col("o_totalprice")).as("y"))
    val sums = o.groupBy(col("cat"))
      .agg(sum(col("y")).as("s"), count(lit(1)).as("n"))
    o.join(broadcast(sums), "cat")
      .filter(col("n") > 1)
      .withColumn("loo", expr("(s - y) DIV (n - 1)"))
      .groupBy(col("cat"))
      .agg(count(lit(1)).as("n_rows"), min(col("loo")).as("min_loo"),
        max(col("loo")).as("max_loo"), sum(col("loo")).as("sum_loo"))
      .withColumn("mean_cents", expr("(sum_loo + n_rows DIV 2) DIV n_rows"))
      .orderBy(col("cat"))
  }
  private val q197Sql = {
    val cents = Exact.sql.cents("o_totalprice")
    s"""WITH o AS (
       |  SELECT o_orderpriority AS cat, $cents AS y FROM orders
       |), sums AS (
       |  SELECT cat, CAST(SUM(y) AS BIGINT) AS s,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM o GROUP BY cat
       |), enc AS (
       |  SELECT o.cat, (s - y) // (n - 1) AS loo
       |  FROM o JOIN sums USING (cat) WHERE n > 1
       |)
       |SELECT cat, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  MIN(loo) AS min_loo, MAX(loo) AS max_loo,
       |  CAST(SUM(loo) AS BIGINT) AS sum_loo,
       |  (CAST(SUM(loo) AS BIGINT) + COUNT(*) // 2) // COUNT(*) AS mean_cents
       |FROM enc GROUP BY cat ORDER BY cat""".stripMargin
  }

  // --- q198: deterministic negative sampling (contrastive pairs) -------------
  // The training-pair builder a retrieval/recommendation model needs:
  // for each customer, K catalog parts they did NOT buy, drawn
  // deterministically (content hash of (customer, part) — same
  // negatives on any engine/cluster/partitioning, never rand()).
  // Scale shape: the naive form is customers × catalog; the scalable
  // form hashes every part into one of B buckets and probes each
  // customer's [[NegR]] hash-derived buckets — an EQUI-join (parallel
  // and skew-free; a single shared small modulus would leave only
  // pool-divisor-many join keys — measured to serialize at sf1) with
  // volume customers·catalog·(R/B). B is DATA-ADAPTIVE — catalog/2 —
  // so the expected pool stays ~2R candidates per customer at EVERY
  // catalog size (a fixed B was measured at 469M pool pairs / 2 min at
  // sf1; adaptive B keeps the pool customers-sized) — then owned parts
  // leave by anti-join and the K smallest pair hashes win per customer
  // (a customer-partitioned window, never global). Published as the
  // per-customer digest histogram: how many customers got their full K
  // (pool-sizing evidence — the Poisson underfill tail surfaces here),
  // plus a checksum of the actual sampled pairs.
  private val NegK = 3L
  private val NegR = 4L
  private val q198: Q = (s, dir) => {
    // ranking hash: pure-integer middle-square mix (the Multimodal
    // discipline) — the pool is the one pool-fraction-sized stage, and
    // an md5 per pair was measured to dominate the sf1 runtime 5×; the
    // mix is engine-portable arithmetic (all products < 2^63)
    def pairHash(c: String, p: String) =
      TextOps.sqMix(s"$c * 104729 + $p * 7919", "DIV")
    // cached: read by BOTH the customer-universe distinct AND the
    // ownership anti-join — uncached, the plan ran the orders⨝lineitem
    // join + (cust,pk) distinct twice end to end (two full fact scans);
    // the cache also comes out partitioned by (cust,pk), which the
    // anti-join reuses exchange-free. Bench clears per-query.
    val owned = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_partkey").as("pk"))
      .distinct()
      .cache()
    val custs = owned.select(col("cust")).distinct()
    val parts = Tables.part(s, dir).select(col("p_partkey").as("pk"))
    // adaptive bucket space: catalog/2 ⇒ ~2R expected candidates per
    // customer at any SF (the q185 adaptive-eps discipline; the count
    // is the one driver-side scalar)
    val negB = math.max(16L, Tables.part(s, dir).count() / 2)
    val probeHash = TextOps.hash60(
      "concat('nb:', CAST(cust AS STRING), ':', CAST(j AS STRING))")
    val probes = custs
      .select(col("cust"), explode(expr(
        s"transform(sequence(0, ${NegR - 1}), j -> pmod($probeHash, $negB))"))
        .as("bk"))
      .distinct() // two probe slots may hash to the same bucket
    val pool = probes
      .join(parts.withColumn("bk", expr(
        s"pmod(${TextOps.hash60("concat('pb:', CAST(pk AS STRING))")}, $negB)")),
        "bk")
      .withColumn("h", expr(pairHash("cust", "pk")))
    val negs = pool.join(owned, Seq("cust", "pk"), "left_anti")
    val wc = Window.partitionBy(col("cust")).orderBy(col("h"), col("pk"))
    val sampled = negs.withColumn("rk", row_number().over(wc))
      .filter(col("rk") <= NegK)
    sampled.groupBy(col("cust"))
      .agg(count(lit(1)).as("k_got"),
        sum(expr("pmod(h, 1000000000)")).as("sig"))
      .groupBy(col("k_got"))
      .agg(count(lit(1)).as("n_custs"), sum(col("sig")).as("pair_sig"))
      .orderBy(col("k_got"))
  }
  private val q198Sql = {
    val h = TextOps.sqMix("cust * 104729 + pk * 7919", "//")
    s"""WITH owned AS (
       |  SELECT DISTINCT o_custkey AS cust, l_partkey AS pk
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |), custs AS (SELECT DISTINCT cust FROM owned),
       |bv AS (
       |  SELECT GREATEST(16, CAST(COUNT(*) // 2 AS BIGINT)) AS b FROM part
       |), probes AS (
       |  SELECT DISTINCT cust,
       |    ${TextOps.sql.hash60(
      "concat('nb:', CAST(cust AS VARCHAR), ':', CAST(j AS VARCHAR))")}
       |      % b AS bk
       |  FROM custs, (SELECT unnest(generate_series(0, ${NegR - 1})) AS j), bv
       |), pb AS (
       |  SELECT p_partkey AS pk,
       |    ${TextOps.sql.hash60("concat('pb:', CAST(p_partkey AS VARCHAR))")}
       |      % b AS bk
       |  FROM part, bv
       |), pool AS (
       |  SELECT cust, pk, $h AS h FROM probes JOIN pb USING (bk)
       |), negs AS (
       |  SELECT pool.cust, pool.pk, pool.h FROM pool
       |  LEFT JOIN owned o2 ON pool.cust = o2.cust AND pool.pk = o2.pk
       |  WHERE o2.cust IS NULL
       |), sampled AS (
       |  SELECT cust, h,
       |    ROW_NUMBER() OVER (PARTITION BY cust ORDER BY h, pk) AS rk
       |  FROM negs QUALIFY rk <= $NegK
       |), digest AS (
       |  SELECT cust, CAST(COUNT(*) AS BIGINT) AS k_got,
       |    CAST(SUM(h % 1000000000) AS BIGINT) AS sig
       |  FROM sampled GROUP BY cust
       |)
       |SELECT k_got, CAST(COUNT(*) AS BIGINT) AS n_custs,
       |  CAST(SUM(sig) AS BIGINT) AS pair_sig
       |FROM digest GROUP BY k_got ORDER BY k_got""".stripMargin
  }

  val registry: Seq[Query] = Seq(
    Query("q198_negative_sampling", q198, Some(q198Sql)),
    Query("q195_group_kfold", q195, Some(q195Sql)),
    Query("q196_feature_hashing", q196, Some(q196Sql)),
    Query("q197_loo_target_encoding", q197, Some(q197Sql)),
    Query("q190_rank_transform", q190, Some(q190Sql)),
    Query("q182_theilsen_trend", q182, Some(q182Sql)),
    Query("q162_skew_audit", q162, Some(q162Sql)),
    Query("q153_leadlag_xcorr", q153, Some(q153Sql)),
    Query("q148_seasonal_backtest", q148, Some(q148Sql)),
    Query("q145_skyline", q145, Some(q145Sql)),
    Query("q87_exact_moments", q87, Some(q87Sql)),
    Query("q88_length_histogram", q88, Some(q88Sql)),
    Query("q89_temperature_mixture", q89, Some(q89Sql)),
    Query("q94_cube_marginals", q94, Some(q94Sql)),
    Query("q95_above_nation_avg", q95, Some(q95Sql)),
    Query("q100_exact_corr", q100, Some(q100Sql)),
    Query("q101_outlier_days", q101, Some(q101Sql)),
    Query("q105_shard_plan", q105, Some(q105Sql)),
    Query("q106_mad_outliers", q106, Some(q106Sql)),
    Query("q109_zorder_layout", q109, Some(q109Sql)),
    Query("q206_zonemap_prune", q206, Some(q206Sql)),
    Query("q111_chisq_audit", q111, Some(q111Sql)),
    Query("q112_revenue_concentration", q112, Some(q112Sql)),
    Query("q118_copurchase", q118, Some(q118Sql), Some("cut")),
    Query("q134_item_cosine", q134, Some(q134Sql)),
    Query("q172_item_recs", q172, Some(q172Sql)),
    Query("q120_group_trend", q120, Some(q120Sql)),
    Query("q122_systematic_sample", q122, Some(q122Sql)),
    Query("q125_vocab_drift", q125, Some(q125Sql)),
    Query("q126_ship_latency", q126, Some(q126Sql)))
}
