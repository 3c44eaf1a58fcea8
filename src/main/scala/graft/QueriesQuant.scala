package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.TextOps

/** Round-8 quantitative-analytics quartet — four operator families a
  * curation/analytics engine at 100 TB keeps reaching for, each with the
  * integer-exact cross-engine discipline of [[Exact]]:
  *
  *  - q163: right-censored survival (Nelson–Aalen cumulative hazard) over
  *    customer order lifetimes — the churn curve with censoring done
  *    honestly (customers still active at the horizon are at-risk, not
  *    churned). Hazard is published in exact per-term floored micro-units
  *    so no float product/log ever crosses the engine boundary.
  *  - q164: Mann–Whitney U / rank-sum AUC per nation — the
  *    distribution-free "did segment A outspend segment B" test. Ranks are
  *    computed at VALUE grain (doubled to keep tie-averages integral), so
  *    the plan never global-sorts the member rows.
  *  - q165: FIFO lot allocation as interval algebra — matching returned
  *    units against acknowledged demand in ship-date order WITHOUT a
  *    per-unit loop: cumulative-sum intervals on both sides turn "FIFO
  *    consumption" into an interval-intersection equi+range join per part
  *    (matched(i,j) = overlap of [csᵢ₋₁,csᵢ) and [cdⱼ₋₁,cdⱼ)).
  *  - q166: Heaps'-law vocabulary-growth curve — distinct-type count at 20
  *    corpus checkpoints via FIRST-OCCURRENCE grain (each type contributes
  *    once, at its min doc), so the curve costs one token aggregate, not
  *    20 re-scans.
  *
  * Scale notes: q163/q164/q166 aggregate to dimension grain (weeks /
  * nation×distinct-value / 20 buckets) before any window — the only
  * unpartitioned windows run over those dimension tables (documented at
  * the call sites). q165's join fan-out is bounded: a supply lot overlaps
  * a demand lot only where their cumulative intervals intersect, and the
  * per-part pair count is ≤ supply_rows + demand_rows − 1 (intervals on a
  * line, both sides monotone — NOT quadratic), keyed and shuffled by part.
  */
object QueriesQuant {

  type Q = (SparkSession, String) => DataFrame

  // --- q163: Nelson–Aalen cumulative hazard with right-censoring -------------
  // Lifetime = weeks between a customer's first and last order; a customer
  // whose last order is within [[ChurnGapDays]] of the corpus horizon is
  // CENSORED at that lifetime (still alive as far as the data can say),
  // otherwise it is a churn EVENT. Per event week w:
  //   n_risk(w) = # customers with lifetime ≥ w   (leavers at w included)
  //   d(w)      = # churn events at w
  //   hazard    = (1e6·d) DIV n_risk              (exact floored micro-units)
  //   cum_h     = Σ_{w'≤w} hazard(w')             (Nelson–Aalen estimator)
  // The per-term floor makes the estimator a pure integer recurrence —
  // bit-identical on any engine, no exp/ln/product float path (the q87
  // exact-rational discipline applied to survival analysis).
  // Scale: one customer-grain aggregate (combinable), then everything runs
  // on the week grid — the unpartitioned windows scan ≤ horizon/7 rows
  // (dimension-sized by construction, ~350 at any corpus size).
  private val ChurnGapDays = 60
  private val q163: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("day"))
    val horizon = o.agg(max(col("day")).as("h_day"))
    val cust = o.groupBy(col("o_custkey"))
      .agg(min(col("day")).as("f"), max(col("day")).as("l"))
      .crossJoin(broadcast(horizon))
      .select(
        expr("CAST(datediff(l, f) AS BIGINT) DIV 7").as("week"),
        (datediff(col("h_day"), col("l")) > ChurnGapDays).as("churned"))
    val wk = cust.groupBy(col("week")).agg(
      sum(when(col("churned"), 1L).otherwise(0L)).as("d"),
      count(lit(1)).as("leavers"))
    // week-grid windows (≤ horizon/7 rows — dimension-sized, see scaladoc)
    val wBefore = Window.orderBy(col("week"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy(col("week"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wk.withColumn("gone", coalesce(sum(col("leavers")).over(wBefore), lit(0L)))
      .withColumn("n_risk",
        sum(col("leavers")).over(Window.partitionBy()) - col("gone"))
      .withColumn("mh_micro", expr("(1000000 * d) DIV n_risk"))
      .withColumn("cum_h_micro", sum(col("mh_micro")).over(wCum))
      .filter(col("d") > 0)
      .select(col("week"), col("d").as("n_churn"), col("n_risk"),
        col("mh_micro"), col("cum_h_micro"))
      .orderBy(col("week"))
  }
  private val q163Sql =
    s"""WITH o AS (
       |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS day FROM orders
       |), h AS (SELECT MAX(day) AS h_day FROM o),
       |cust AS (
       |  SELECT
       |    CAST(date_diff('day', MIN(day), MAX(day)) AS BIGINT) // 7 AS week,
       |    date_diff('day', MAX(day), (SELECT h_day FROM h))
       |      > $ChurnGapDays AS churned
       |  FROM o GROUP BY o_custkey
       |), wk AS (
       |  SELECT week,
       |    CAST(SUM(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT) AS d,
       |    CAST(COUNT(*) AS BIGINT) AS leavers
       |  FROM cust GROUP BY week
       |), risk AS (
       |  SELECT week, d,
       |    CAST(SUM(leavers) OVER () AS BIGINT)
       |      - CAST(COALESCE(SUM(leavers) OVER (ORDER BY week
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |        AS BIGINT) AS n_risk,
       |    (1000000 * d) // (CAST(SUM(leavers) OVER () AS BIGINT)
       |      - CAST(COALESCE(SUM(leavers) OVER (ORDER BY week
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |        AS BIGINT)) AS mh_micro
       |  FROM wk
       |), cum AS (
       |  SELECT week, d AS n_churn, n_risk, mh_micro,
       |    CAST(SUM(mh_micro) OVER (ORDER BY week
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_h_micro
       |  FROM risk
       |)
       |SELECT * FROM cum WHERE n_churn > 0 ORDER BY week""".stripMargin

  // --- q164: Mann–Whitney U / AUC per nation ----------------------------------
  // Distribution-free two-sample test: within each nation, does the
  // [[MwSegA]] segment's account balance stochastically dominate
  // [[MwSegB]]'s? Ranks are computed at (nation, value) grain — count n
  // and group-A count n1 per distinct cent value, then the tie-averaged
  // rank of a value is cum_before + (n+1)/2. Everything is DOUBLED
  // (r2 = 2·cum_before + n + 1) so tie averages stay integral:
  //   2·R1 = Σ_v n1(v) · r2(v),   2·U1 = 2·R1 − n1(n1+1),
  //   AUC‰ = ⌊1000 · 2U1 / (2·n1·n2)⌋   ∈ [0, 1000].
  // The q120-class bound: n1·r2 terms and n1(n1+1) square the group size,
  // clearing int63 at ~2e9 members/nation — below the 100 TB design
  // point — so rank-sums run in DECIMAL(38,0) (HUGEINT twin) and publish
  // via CAST AS DOUBLE + an identically-shaped double AUC (the q87
  // discipline).
  // Scale: member rows aggregate to value grain map-side; the rank window
  // is partitioned BY NATION over distinct values only — no global sort of
  // the population ever happens (the q152 grid discipline).
  private val MwSegA = "BUILDING"
  private val MwSegB = "MACHINERY"
  private val q164: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
      .filter(col("c_mktsegment").isin(MwSegA, MwSegB))
      .select(col("c_nationkey").cast("long").as("nk"),
        Exact.cents(col("c_acctbal")).as("v"),
        when(col("c_mktsegment") === MwSegA, 1L).otherwise(0L).as("is_a"))
    val grid = c.groupBy(col("nk"), col("v"))
      .agg(count(lit(1)).as("n"), sum(col("is_a")).as("n1"))
    val wBefore = Window.partitionBy(col("nk")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = grid
      .withColumn("before", coalesce(sum(col("n")).over(wBefore), lit(0L)))
      .withColumn("r2", lit(2L) * col("before") + col("n") + lit(1L))
    val agg = ranked.groupBy(col("nk")).agg(
      sum(col("n1")).as("n1"),
      sum(col("n") - col("n1")).as("n2"),
      sum(expr("CAST(n1 AS DECIMAL(19,0)) * CAST(r2 AS DECIMAL(19,0))"))
        .as("r1x2"))
    agg.join(broadcast(Tables.nation(s, dir)),
        col("nk") === col("n_nationkey"))
      .filter(col("n1") > 0 && col("n2") > 0)
      .withColumn("u1x2", expr(
        """CAST(r1x2 - CAST(n1 AS DECIMAL(19,0)) *
          |  CAST(n1 + 1 AS DECIMAL(19,0)) AS DOUBLE)""".stripMargin))
      .select(col("n_name").as("nation"), col("n1"), col("n2"), col("u1x2"),
        expr("""CAST(FLOOR((1000 * u1x2) /
               |  (2 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)))
               |  AS BIGINT)""".stripMargin).as("auc_pm"))
      .orderBy(col("nation"))
  }
  private val q164Sql =
    s"""WITH c AS (
       |  SELECT CAST(c_nationkey AS BIGINT) AS nk,
       |    ${Exact.sql.cents("c_acctbal")} AS v,
       |    CASE WHEN c_mktsegment = '$MwSegA' THEN 1 ELSE 0 END AS is_a
       |  FROM customer WHERE c_mktsegment IN ('$MwSegA', '$MwSegB')
       |), grid AS (
       |  SELECT nk, v, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(is_a) AS BIGINT) AS n1
       |  FROM c GROUP BY nk, v
       |), ranked AS (
       |  SELECT nk, n, n1,
       |    2 * CAST(COALESCE(SUM(n) OVER (PARTITION BY nk ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      + n + 1 AS r2
       |  FROM grid
       |), agg AS (
       |  SELECT nk, CAST(SUM(n1) AS BIGINT) AS n1,
       |    CAST(SUM(n - n1) AS BIGINT) AS n2,
       |    SUM(CAST(n1 AS HUGEINT) * CAST(r2 AS HUGEINT)) AS r1x2
       |  FROM ranked GROUP BY nk
       |), u AS (
       |  SELECT nk, n1, n2,
       |    CAST(r1x2 - CAST(n1 AS HUGEINT) * CAST(n1 + 1 AS HUGEINT)
       |      AS DOUBLE) AS u1x2
       |  FROM agg WHERE n1 > 0 AND n2 > 0
       |)
       |SELECT n_name AS nation, n1, n2, u1x2,
       |  CAST(FLOOR((1000 * u1x2) /
       |    (2 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))) AS BIGINT) AS auc_pm
       |FROM u JOIN nation ON nk = n_nationkey
       |ORDER BY nation""".stripMargin

  // --- q165: FIFO lot allocation via cumulative-interval intersection ---------
  // Returned units (l_returnflag = 'R') are re-allocated to acknowledged
  // demand (l_returnflag = 'A') of the same part in ship-date order —
  // classic FIFO consumption, which is a LOOP in row-at-a-time engines.
  // Here it is pure algebra: with per-part cumulative quantities
  // cs (supply) and cd (demand) in (shipdate, orderkey, linenumber) order,
  // supply lot i fills demand lot j by exactly
  //   matched(i,j) = max(0, min(csᵢ, cdⱼ) − max(csᵢ₋₁, cdⱼ₋₁)),
  // and the pairs with matched > 0 are exactly those whose cumulative
  // intervals intersect — an equi-join on part + a range predicate.
  // Fan-out bound (the reason this survives scale): per part the matched
  // pairs form a MONOTONE STAIRCASE over two interval partitions of one
  // line, so #pairs ≤ #supply + #demand − 1 — linear, never quadratic.
  // Published at brand grain: pair count, matched units, and
  // matched-unit-weighted allocation lag in days (signed: a return can
  // land after the demand it back-fills).
  private val q165: Q = (s, dir) => {
    def side(flag: String, cum: String, prev: String) = {
      val w = Window.partitionBy(col("l_partkey"))
        .orderBy(col("day"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.lineitem(s, dir).filter(col("l_returnflag") === flag)
        .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
          to_date(col("l_shipdate")).as("day"),
          col("l_quantity").cast("long").as("qty"))
        .withColumn(cum, sum(col("qty")).over(w))
        .withColumn(prev, col(cum) - col("qty"))
    }
    val sup = side("R", "cs", "cs_prev")
      .select(col("l_partkey").as("pk"), col("day").as("s_day"),
        col("cs"), col("cs_prev"))
    val dem = side("A", "cd", "cd_prev")
      .select(col("l_partkey").as("dk"), col("day").as("d_day"),
        col("cd"), col("cd_prev"))
    val pairs = sup.join(dem,
        col("pk") === col("dk") &&
          col("cs_prev") < col("cd") && col("cd_prev") < col("cs"))
      .select(col("pk"),
        (least(col("cs"), col("cd")) -
          greatest(col("cs_prev"), col("cd_prev"))).as("matched"),
        datediff(col("s_day"), col("d_day")).cast("long").as("lag_days"))
    pairs.join(broadcast(
        Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))),
        col("pk") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("matched")).as("matched_units"),
        sum(col("matched") * col("lag_days")).as("unit_lag_days"))
      .orderBy(col("p_brand"))
  }
  private val q165Sql =
    """WITH li AS (
      |  SELECT l_partkey, l_orderkey, l_linenumber, l_returnflag,
      |    CAST(l_shipdate AS DATE) AS day, CAST(l_quantity AS BIGINT) AS qty
      |  FROM lineitem WHERE l_returnflag IN ('R', 'A')
      |), cums AS (
      |  SELECT l_partkey, l_returnflag, day,
      |    CAST(SUM(qty) OVER (PARTITION BY l_partkey, l_returnflag
      |      ORDER BY day, l_orderkey, l_linenumber
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum, qty
      |  FROM li
      |), sup AS (
      |  SELECT l_partkey AS pk, day AS s_day, cum AS cs, cum - qty AS cs_prev
      |  FROM cums WHERE l_returnflag = 'R'
      |), dem AS (
      |  SELECT l_partkey AS dk, day AS d_day, cum AS cd, cum - qty AS cd_prev
      |  FROM cums WHERE l_returnflag = 'A'
      |), pairs AS (
      |  SELECT pk,
      |    LEAST(cs, cd) - GREATEST(cs_prev, cd_prev) AS matched,
      |    CAST(date_diff('day', d_day, s_day) AS BIGINT) AS lag_days
      |  FROM sup JOIN dem
      |    ON pk = dk AND cs_prev < cd AND cd_prev < cs
      |)
      |SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  CAST(SUM(matched) AS BIGINT) AS matched_units,
      |  CAST(SUM(matched * lag_days) AS BIGINT) AS unit_lag_days
      |FROM pairs JOIN part ON pk = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // --- q166: Heaps'-law vocabulary-growth curve -------------------------------
  // "How fast does vocabulary grow as the corpus grows?" — the curve every
  // tokenizer-budget decision starts from. The corpus is cut into
  // [[HeapsBuckets]] checkpoints by doc id; each type (distinct token)
  // contributes to the bucket of its FIRST occurrence, so cumulative
  // new-type counts ARE the vocabulary sizes at each checkpoint — one
  // token-grain aggregate instead of B re-scans of growing prefixes.
  // Scale: token explode → two combinable aggregates (type grain, then
  // bucket grain); the only windows run over the B-row bucket grid.
  private val HeapsBuckets = 20
  private val q166: Q = (s, dir) => {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val mx = docs.agg(max(col("doc_id")).as("mx"))
    val tok = docs
      .select(col("doc_id"),
        explode(expr(TextOps.tokensExpr("text"))).as("tok"))
      .crossJoin(broadcast(mx))
      .select(expr(s"(doc_id * $HeapsBuckets) DIV (mx + 1)").as("bucket"),
        col("tok"), col("doc_id"))
    val toksPerBucket = tok.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_tok"))
    val firstSeen = tok.groupBy(col("tok")).agg(min(col("doc_id")).as("fd"))
      .crossJoin(broadcast(mx))
      .select(expr(s"(fd * $HeapsBuckets) DIV (mx + 1)").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("new_types"))
    val wCum = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toksPerBucket.join(firstSeen, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("n_tok"), lit(0L)).as("n_tok"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .withColumn("tokens_cum", sum(col("n_tok")).over(wCum))
      .withColumn("vocab_cum", sum(col("new_types")).over(wCum))
      .orderBy(col("bucket"))
  }
  private val q166Sql =
    s"""WITH mx AS (SELECT MAX(doc_id) AS mx FROM documents),
       |tok AS (
       |  SELECT (doc_id * $HeapsBuckets) // ((SELECT mx FROM mx) + 1) AS bucket,
       |    unnest(${TextOps.sql.tokens("text")}) AS tok, doc_id
       |  FROM documents
       |), tpb AS (
       |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_tok
       |  FROM tok GROUP BY bucket
       |), fs AS (
       |  SELECT (MIN(doc_id) * $HeapsBuckets)
       |      // ((SELECT mx FROM mx) + 1) AS bucket
       |  FROM tok GROUP BY tok
       |), nt AS (
       |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS new_types
       |  FROM fs GROUP BY bucket
       |), j AS (
       |  SELECT COALESCE(tpb.bucket, nt.bucket) AS bucket,
       |    COALESCE(n_tok, 0) AS n_tok,
       |    COALESCE(new_types, 0) AS new_types
       |  FROM tpb FULL OUTER JOIN nt ON tpb.bucket = nt.bucket
       |)
       |SELECT bucket, n_tok, new_types,
       |  CAST(SUM(n_tok) OVER (ORDER BY bucket
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS tokens_cum,
       |  CAST(SUM(new_types) OVER (ORDER BY bucket
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS vocab_cum
       |FROM j ORDER BY bucket""".stripMargin

  // --- q168: classifier calibration (reliability diagram) ---------------------
  // Is the q69 quality score CALIBRATED against ground truth (is the doc
  // English — the labeled `lang` column)? Docs bucket into 10 score bins
  // and each bin reports mean predicted score vs observed positive rate —
  // the reliability diagram every model-scored curation pipeline should
  // audit before thresholding on the score.
  // Exactness: the q69 stub score is the rational 2·distinct/total, so
  // bin = (10·d) DIV t and score_ppm = (2e6·d) DIV t are pure integer
  // ops — no float division crosses engines. Per-bin sums stay int64 to
  // ~4e12 docs (sums scale linearly, not the q120 square class).
  // Scale: one map-side-combinable HashAggregate into 10 rows.
  private val q168: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .withColumn("toks", expr(TextOps.tokensExpr("text")))
      .select(col("lang"),
        expr("CAST(size(array_distinct(toks)) AS BIGINT)").as("dt"),
        expr("CAST(size(toks) AS BIGINT)").as("nt"))
      .select(expr("least((10 * dt) DIV nt, CAST(9 AS BIGINT))").as("bin"),
        expr("(2000000 * dt) DIV nt").as("score_ppm"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
    d.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"),
        sum(col("score_ppm")).as("sum_score_ppm"))
      .select(col("bin"), col("n"), col("n_pos"),
        expr("sum_score_ppm DIV n").as("mean_score_ppm"),
        expr("(1000000 * n_pos) DIV n").as("pos_ppm"))
      .orderBy(col("bin"))
  }
  private val q168Sql = {
    val toks = TextOps.sql.tokens("text")
    s"""WITH d AS (
       |  SELECT lang,
       |    CAST(len(list_distinct($toks)) AS BIGINT) AS dt,
       |    CAST(len($toks) AS BIGINT) AS nt
       |  FROM documents
       |), binned AS (
       |  SELECT LEAST((10 * dt) // nt, 9) AS bin,
       |    (2000000 * dt) // nt AS score_ppm,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
       |  FROM d
       |)
       |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(pos) AS BIGINT) AS n_pos,
       |  CAST(SUM(score_ppm) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
       |    AS mean_score_ppm,
       |  (1000000 * CAST(SUM(pos) AS BIGINT)) // CAST(COUNT(*) AS BIGINT)
       |    AS pos_ppm
       |FROM binned GROUP BY bin ORDER BY bin""".stripMargin
  }

  // --- q169: inter-rater agreement (Cohen's kappa) -----------------------------
  // How much do two weak labelers agree BEYOND CHANCE — the
  // label-quality audit run before trusting any heuristic annotation.
  // Rater A: ≥ 2 English stopword hits. Rater B: English stopword hits
  // strictly dominate every other language's (the q33 argmax family).
  // Kappa in exact integer algebra: with S = a₁b₁ + (n−a₁)(n−b₁),
  //   po = agree/n,  pe = S/n²,  κ = (n·agree − S) / (n² − S),
  // published as floored ppm. The q120-class bound: a₁b₁ and n² square
  // the corpus, clearing int63 at ~3e9 docs — below the 100 TB design
  // point — so all cross-products run DECIMAL(38,0) (HUGEINT twin).
  // Scale: one combinable aggregate into a single row; the kappa algebra
  // is row-local arithmetic on that row.
  private val q169: Q = (s, dir) => {
    val en = "('the', 'a', 'of', 'and')"
    val es = "('el', 'la', 'de', 'los')"
    val fr = "('le', 'la', 'de', 'et')"
    val de = "('der', 'die', 'das', 'und')"
    val counts = Tables.documents(s, dir)
      .withColumn("toks", expr(TextOps.tokensExpr("text")))
      .select(
        expr(s"size(filter(toks, t -> t IN $en))").as("s_en"),
        expr(s"size(filter(toks, t -> t IN $es))").as("s_es"),
        expr(s"size(filter(toks, t -> t IN $fr))").as("s_fr"),
        expr(s"size(filter(toks, t -> t IN $de))").as("s_de"))
      .select(
        when(col("s_en") >= 2, 1L).otherwise(0L).as("a"),
        when(col("s_en") > col("s_es") && col("s_en") > col("s_fr") &&
          col("s_en") > col("s_de") && col("s_en") > 0, 1L).otherwise(0L)
          .as("b"))
    counts
      .agg(count(lit(1)).as("n"), sum(col("a")).as("a_yes"),
        sum(col("b")).as("b_yes"),
        sum(when(col("a") === col("b"), 1L).otherwise(0L)).as("agree"))
      .withColumn("s", expr(
        """CAST(a_yes AS DECIMAL(19,0)) * CAST(b_yes AS DECIMAL(19,0)) +
          |CAST(n - a_yes AS DECIMAL(19,0)) *
          |  CAST(n - b_yes AS DECIMAL(19,0))""".stripMargin))
      .select(col("n"), col("a_yes"), col("b_yes"), col("agree"),
        expr("(1000000 * agree) DIV n").as("po_ppm"),
        expr("""(1000000 * s) DIV
               |  (CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0)))"""
          .stripMargin).as("pe_ppm"),
        expr("""(1000000 * (CAST(n AS DECIMAL(19,0)) * agree - s)) DIV
               |  (CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0)) - s)"""
          .stripMargin).as("kappa_ppm"))
  }
  private val q169Sql = {
    val toks = TextOps.sql.tokens("text")
    s"""WITH sc AS (
       |  SELECT
       |    len(list_filter($toks, t -> t IN ('the', 'a', 'of', 'and')))
       |      AS s_en,
       |    len(list_filter($toks, t -> t IN ('el', 'la', 'de', 'los')))
       |      AS s_es,
       |    len(list_filter($toks, t -> t IN ('le', 'la', 'de', 'et')))
       |      AS s_fr,
       |    len(list_filter($toks, t -> t IN ('der', 'die', 'das', 'und')))
       |      AS s_de
       |  FROM documents
       |), r AS (
       |  SELECT CASE WHEN s_en >= 2 THEN 1 ELSE 0 END AS a,
       |    CASE WHEN s_en > s_es AND s_en > s_fr AND s_en > s_de
       |      AND s_en > 0 THEN 1 ELSE 0 END AS b
       |  FROM sc
       |), agg AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(a) AS BIGINT) AS a_yes,
       |    CAST(SUM(b) AS BIGINT) AS b_yes,
       |    CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS agree
       |  FROM r
       |), k AS (
       |  SELECT n, a_yes, b_yes, agree,
       |    CAST(a_yes AS HUGEINT) * b_yes
       |      + CAST(n - a_yes AS HUGEINT) * (n - b_yes) AS s
       |  FROM agg
       |)
       |SELECT n, a_yes, b_yes, agree,
       |  (1000000 * agree) // n AS po_ppm,
       |  CAST((1000000 * s) // (CAST(n AS HUGEINT) * n) AS BIGINT) AS pe_ppm,
       |  CAST((1000000 * (CAST(n AS HUGEINT) * agree - s)) //
       |    (CAST(n AS HUGEINT) * n - s) AS BIGINT) AS kappa_ppm
       |FROM k""".stripMargin
  }

  // --- q170: Poisson-bootstrap confidence interval -----------------------------
  // Distributed bootstrap done the way a cluster actually can: the
  // classical resample (draw n rows WITH replacement, B times) needs a
  // global multinomial; the POISSON bootstrap replaces each row's
  // per-replicate multiplicity with an independent Poisson(1) draw —
  // derived HERE from the deterministic content hash (q44's primitive,
  // never rand()) through the Poisson(1) inverse CDF in basis points, so
  // every engine and every cluster size draws the SAME replicates.
  // Per replicate the mean-order-value estimate is an exact floored
  // cents ratio; the published CI is percentile_disc over the B replicate
  // means (value-deterministic, q112's discipline).
  // Scale: the explode is ×B but lands in a map-side-combinable aggregate
  // with B groups — no corpus-sized shuffle; everything after is B rows.
  // The per-(row, replicate) draw uses the pure-integer middle-square
  // pair mix (q198's discipline — an md5 here was measured to dominate
  // the whole bench ledger at 13.7 s sf0.1 / 33.5 s sf1; the ×B stage is
  // the one place the hash runs per row×replicate, and a CDF lookup only
  // needs ~13 uniform bits, not md5's 60). All products stay < 2^63:
  // v1 < 2^30, v1·2654435761 < 2^62, v1·(v1+1) < 2^61.
  private val BootReps = 100
  // sqMix COMPOSED TWICE (its own scaladoc's rule for generator use —
  // the draw input walks an arithmetic progression in b, and a single
  // square leaves the 100 within-key replicate draws quadratically
  // related, which could correlate replicate weights and narrow the CI;
  // Multimodal.syntheticPairWav measured the single-round failure).
  // Bounds hold for the composition: sqMix output < 1e9+7 < 2^30, so the
  // outer round's products stay under 2^62.
  private def bootMix(key: String, rep: String, div: String): String =
    TextOps.sqMix(TextOps.sqMix(s"$key * 104729 + $rep * 7919", div),
      div) + " % 10000"
  private val q170: Q = (s, dir) => {
    // Poisson(1) CDF · 10000, round-half-up: P(X≤k) for k = 0..6
    val cdf = Seq(3679, 7358, 9197, 9810, 9963, 9994, 9999)
    val wCase = cdf.zipWithIndex
      .map { case (c, k) => s"WHEN u < $c THEN $k" }
      .mkString("CASE ", " ", s" ELSE ${cdf.length} END")
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), Exact.cents(col("o_totalprice")).as("cents"))
    val point = o.agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sc"))
      .select(col("n_orders"), expr("sc DIV n_orders").as("point_mean_c"))
    val reps = o
      .select(col("cents"),
        explode(expr(s"sequence(0, ${BootReps - 1})")).as("b"),
        col("o_orderkey"))
      .withColumn("u", expr(bootMix("o_orderkey", "b", "DIV")))
      .withColumn("w", expr(wCase).cast("long"))
      .groupBy(col("b"))
      .agg(sum(col("w") * col("cents")).as("swc"), sum(col("w")).as("sw"))
      .select(expr("swc DIV sw").as("m_c"))
    reps
      .agg(
        expr("CAST(percentile_disc(0.05) WITHIN GROUP (ORDER BY m_c) AS BIGINT)")
          .as("p05_c"),
        expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY m_c) AS BIGINT)")
          .as("p50_c"),
        expr("CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY m_c) AS BIGINT)")
          .as("p95_c"))
      .crossJoin(broadcast(point))
      .select(col("n_orders"), col("point_mean_c"),
        col("p05_c"), col("p50_c"), col("p95_c"))
  }
  private val q170Sql = {
    val cdf = Seq(3679, 7358, 9197, 9810, 9963, 9994, 9999)
    val wCase = cdf.zipWithIndex
      .map { case (c, k) => s"WHEN u < $c THEN $k" }
      .mkString("CASE ", " ", s" ELSE ${cdf.length} END")
    val h = bootMix("o_orderkey", "b", "//")
    s"""WITH o AS (
       |  SELECT o_orderkey, ${Exact.sql.cents("o_totalprice")} AS cents
       |  FROM orders
       |), pt AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
       |    CAST(SUM(cents) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
       |      AS point_mean_c
       |  FROM o
       |), ex AS (
       |  SELECT cents, o_orderkey,
       |    unnest(generate_series(0, ${BootReps - 1})) AS b
       |  FROM o
       |), drawn AS (
       |  SELECT cents, b, $h AS u FROM ex
       |), weighted AS (
       |  SELECT cents, b, CAST($wCase AS BIGINT) AS w FROM drawn
       |), means AS (
       |  SELECT CAST(SUM(w * cents) AS BIGINT) // CAST(SUM(w) AS BIGINT)
       |    AS m_c
       |  FROM weighted GROUP BY b
       |)
       |SELECT n_orders, point_mean_c, p05_c, p50_c, p95_c
       |FROM pt, (
       |  SELECT
       |    CAST(percentile_disc(0.05) WITHIN GROUP (ORDER BY m_c) AS BIGINT)
       |      AS p05_c,
       |    CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY m_c) AS BIGINT)
       |      AS p50_c,
       |    CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY m_c) AS BIGINT)
       |      AS p95_c
       |  FROM means
       |) ci""".stripMargin
  }

  // --- q209/q210 shared: pairwise-preference matrix --------------------------
  // The raw material of RLHF preference aggregation: a corpus of pairwise
  // "A beat B" judgments. Derived deterministically from events — for each
  // user and each pair of event types the user triggered, the type with
  // the larger exact per-user value total wins (per-row round-half-up
  // micros BEFORE the sum, so the comparison is integer-exact and
  // summation-order-free; exact ties are discarded, not coin-flipped).
  // Scale: the (user, type) aggregate is combinable; the pair join fans
  // out ≤ k(k−1)/2 rows per user for k event types (k is dimension-sized,
  // NOT corpus-sized), shuffled by user_id; the output matrix is k² rows.
  private def prefWins(s: SparkSession, dir: String): DataFrame =
    ops.Preference.winsOf(ops.Preference.microTotals(Tables.events(s, dir)))
  private val prefWinsSql =
    """tot AS (
      |  SELECT user_id, event_type,
      |    CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
      |      AS tot
      |  FROM events GROUP BY user_id, event_type
      |), wins AS MATERIALIZED (
      |  SELECT winner, loser, CAST(COUNT(*) AS BIGINT) AS w FROM (
      |    SELECT
      |      CASE WHEN a.tot > b.tot THEN a.event_type ELSE b.event_type END
      |        AS winner,
      |      CASE WHEN a.tot > b.tot THEN b.event_type ELSE a.event_type END
      |        AS loser
      |    FROM tot a JOIN tot b
      |      ON a.user_id = b.user_id AND a.event_type < b.event_type
      |    WHERE a.tot <> b.tot
      |  ) GROUP BY winner, loser
      |)""".stripMargin

  // --- q209: Bradley–Terry preference ratings (MM iterations) ----------------
  // Item strengths from pairwise comparisons — the model behind RLHF
  // reward-data aggregation, chess Elo's maximum-likelihood cousin
  // (Bradley & Terry 1952; minorize–maximize form per Hunter 2004):
  //   p_i ← W_i / Σ_{j≠i} n_ij / (p_i + p_j),  then rescale.
  // Float MM can't cross-engine-hash (compounded division order), so the
  // whole recurrence runs in scaled integers: p is an int rating at scale
  // S = 10⁶, each round computes D_i = Σ_j (n_ij·S²) DIV (p_i + p_j),
  // p'_i = (W_i·S²) DIV D_i (keep p when D = 0), then renormalizes by
  // max(p') DIV S + 1 so magnitudes stay in [0, 2S). All values are
  // non-negative, so Spark DIV (trunc), DuckDB // (floor), and BigInt /
  // agree (the q93/q108 discipline). n_ij·S² clears int64 at ~9×10⁶
  // comparisons — under the 100 TB design point — so the oracle runs
  // HUGEINT and the driver loop BigInt (exact at any scale).
  // Scale: ONE combinable corpus aggregate builds the k²-row matrix;
  // the MM loop runs on that collected matrix (dimension-sized collect,
  // the KMeans.train discipline — k = distinct event types, not rows).
  private val BtIters = 8
  private val BtScale = 1000000L
  private val q209: Q = (s, dir) => {
    val spark = s
    import spark.implicits._
    val winRows = prefWins(s, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    ops.Preference.mmRatings(winRows, BtScale, BtIters)
      .toDF("item", "w_total", "n_games", "rating", "rnk")
      .orderBy(col("rnk"))
  }
  /** The full Bradley–Terry rating chain (wins matrix → it/g/wtot/gtot →
    * 8 MM rounds) as CTEs — shared by q209 (the rating publication) and
    * q214 (DPO pair sampling joins the final `p$BtIters` ratings back to
    * the per-user pair instances). */
  private val btRatingCtes: String = {
    // the HUGEINT scale-squared factor appears in both the D_i sum and
    // the W_i numerator of every round — name it once
    val s2 = s"CAST($BtScale AS HUGEINT) * $BtScale"
    def iter(k: Int): String = {
      val prev = s"p${k - 1}"
      s"""d$k AS (
         |  SELECT g.i AS item,
         |    SUM((g.n * $s2)
         |      // (pi.p + pj.p)) AS d
         |  FROM g JOIN $prev pi ON g.i = pi.item
         |         JOIN $prev pj ON g.j = pj.item
         |  GROUP BY g.i
         |),
         |r$k AS (
         |  SELECT p.item,
         |    CASE WHEN d.d IS NULL OR d.d = 0 THEN p.p
         |      ELSE (w.wt * $s2) // d.d
         |    END AS p
         |  FROM $prev p
         |  LEFT JOIN d$k d ON p.item = d.item
         |  JOIN wtot w ON p.item = w.item
         |),
         |m$k AS (SELECT MAX(p) // $BtScale + 1 AS qd FROM r$k),
         |p$k AS MATERIALIZED (SELECT item, p // qd AS p FROM r$k, m$k)"""
        .stripMargin
    }
    // every p$k is referenced 3× by the next round (pi, pj, and the
    // D=0 fallback) — WITHOUT materialization DuckDB's CTE inlining
    // re-expands the whole upstream tree 3^BtIters times
    s"""$prefWinsSql,
       |it AS (
       |  SELECT DISTINCT item FROM (
       |    SELECT winner AS item FROM wins
       |    UNION ALL SELECT loser FROM wins)
       |),
       |g AS (
       |  SELECT i, j, CAST(SUM(w) AS BIGINT) AS n FROM (
       |    SELECT winner AS i, loser AS j, w FROM wins
       |    UNION ALL SELECT loser AS i, winner AS j, w FROM wins
       |  ) GROUP BY i, j
       |),
       |wtot AS (
       |  SELECT it.item, COALESCE(CAST(SUM(wins.w) AS BIGINT), 0) AS wt
       |  FROM it LEFT JOIN wins ON wins.winner = it.item GROUP BY it.item
       |),
       |gtot AS (SELECT i AS item, CAST(SUM(n) AS BIGINT) AS gt FROM g
       |  GROUP BY i),
       |p0 AS MATERIALIZED (SELECT item, CAST($BtScale AS HUGEINT) AS p
       |  FROM it),
       |${(1 to BtIters).map(iter).mkString(",\n")}""".stripMargin
  }

  private val q209Sql =
    s"""WITH $btRatingCtes
       |SELECT it.item, w.wt AS w_total, COALESCE(gt.gt, 0) AS n_games,
       |  CAST(p.p AS BIGINT) AS rating,
       |  CAST(ROW_NUMBER() OVER (ORDER BY p.p DESC, it.item) AS BIGINT)
       |    AS rnk
       |FROM it JOIN p$BtIters p ON it.item = p.item
       |JOIN wtot w ON it.item = w.item
       |LEFT JOIN gtot gt ON it.item = gt.item
       |ORDER BY rnk""".stripMargin

  // --- q210: preference-transitivity audit (cyclic triads) -------------------
  // Is the preference corpus even consistent enough to fit? A majority
  // tournament with cyclic triads (A beats B beats C beats A) caps any
  // single-scalar rating's fit quality — the data-quality gate run BEFORE
  // q209's model. Per unordered pair: both directed win counts, the
  // majority direction ('tie' when exactly split), and whether the
  // majority edge sits on any directed 3-cycle (each cycle found once by
  // anchoring at its smallest item; its 3 edges are then all flagged).
  // Scale: everything after prefWins' combinable aggregate runs on the
  // k²-row matrix — the triple join is k³ over a dimension-sized table,
  // broadcast by the planner, never corpus-touching.
  private val q210: Q = (s, dir) => {
    // k²-sized; referenced by pair/maj/cyc branches — pin it so the
    // corpus aggregate runs once, not once per downstream branch
    val wins = prefWins(s, dir).localCheckpoint()
    val pair = wins.select(
      when(col("winner") < col("loser"), col("winner")).otherwise(col("loser"))
        .as("a"),
      when(col("winner") < col("loser"), col("loser")).otherwise(col("winner"))
        .as("b"),
      when(col("winner") < col("loser"), col("w")).otherwise(lit(0L))
        .as("wab"),
      when(col("winner") < col("loser"), lit(0L)).otherwise(col("w"))
        .as("wba"))
      .groupBy(col("a"), col("b"))
      .agg(sum(col("wab")).as("w_ab"), sum(col("wba")).as("w_ba"))
    val maj = pair.filter(col("w_ab") =!= col("w_ba")).select(
      when(col("w_ab") > col("w_ba"), col("a")).otherwise(col("b")).as("src"),
      when(col("w_ab") > col("w_ba"), col("b")).otherwise(col("a")).as("dst"))
    val e1 = maj.select(col("src").as("x"), col("dst").as("y"))
    val e2 = maj.select(col("src").as("y2"), col("dst").as("z"))
    val e3 = maj.select(col("src").as("z2"), col("dst").as("x2"))
    val cyc = e1
      .join(e2, col("y") === col("y2"))
      .join(e3, col("z") === col("z2") && col("x") === col("x2"))
      .filter(col("x") < col("y") && col("x") < col("z"))
    val cycEdges = cyc.select(col("x").as("s"), col("y").as("d"))
      .union(cyc.select(col("y").as("s"), col("z").as("d")))
      .union(cyc.select(col("z").as("s"), col("x").as("d")))
      .distinct()
      .withColumn("cyc", lit(1L))
    // the pair's own majority edge is computable inline (no re-join with
    // maj needed): equi-join against the cycle-edge set only
    pair
      .withColumn("m_src",
        when(col("w_ab") > col("w_ba"), col("a"))
          .when(col("w_ba") > col("w_ab"), col("b")))
      .withColumn("m_dst",
        when(col("w_ab") > col("w_ba"), col("b"))
          .when(col("w_ba") > col("w_ab"), col("a")))
      .join(cycEdges,
        col("s") === col("m_src") && col("d") === col("m_dst"), "left")
      .select(col("a").as("item_a"), col("b").as("item_b"),
        col("w_ab"), col("w_ba"),
        coalesce(col("m_src"), lit("tie")).as("majority"),
        coalesce(col("cyc"), lit(0L)).as("in_cycle"))
      .orderBy(col("item_a"), col("item_b"))
  }
  private val q210Sql =
    s"""WITH $prefWinsSql,
       |pair AS (
       |  SELECT a, b, CAST(SUM(wab) AS BIGINT) AS w_ab,
       |    CAST(SUM(wba) AS BIGINT) AS w_ba
       |  FROM (
       |    SELECT
       |      CASE WHEN winner < loser THEN winner ELSE loser END AS a,
       |      CASE WHEN winner < loser THEN loser ELSE winner END AS b,
       |      CASE WHEN winner < loser THEN w ELSE 0 END AS wab,
       |      CASE WHEN winner < loser THEN 0 ELSE w END AS wba
       |    FROM wins
       |  ) GROUP BY a, b
       |),
       |maj AS (
       |  SELECT CASE WHEN w_ab > w_ba THEN a ELSE b END AS src,
       |    CASE WHEN w_ab > w_ba THEN b ELSE a END AS dst
       |  FROM pair WHERE w_ab <> w_ba
       |),
       |cyc AS (
       |  SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
       |  FROM maj e1 JOIN maj e2 ON e1.dst = e2.src
       |       JOIN maj e3 ON e2.dst = e3.src AND e3.dst = e1.src
       |  WHERE e1.src < e1.dst AND e1.src < e2.dst
       |),
       |cyc_edges AS (
       |  SELECT DISTINCT s, d FROM (
       |    SELECT x AS s, y AS d FROM cyc
       |    UNION ALL SELECT y AS s, z AS d FROM cyc
       |    UNION ALL SELECT z AS s, x AS d FROM cyc
       |  )
       |),
       |pm AS (
       |  SELECT a, b, w_ab, w_ba,
       |    CASE WHEN w_ab > w_ba THEN a
       |         WHEN w_ba > w_ab THEN b END AS m_src,
       |    CASE WHEN w_ab > w_ba THEN b
       |         WHEN w_ba > w_ab THEN a END AS m_dst
       |  FROM pair
       |)
       |SELECT pm.a AS item_a, pm.b AS item_b, pm.w_ab, pm.w_ba,
       |  COALESCE(pm.m_src, 'tie') AS majority,
       |  CASE WHEN ce.s IS NOT NULL THEN CAST(1 AS BIGINT)
       |       ELSE CAST(0 AS BIGINT) END AS in_cycle
       |FROM pm
       |LEFT JOIN cyc_edges ce ON ce.s = pm.m_src AND ce.d = pm.m_dst
       |ORDER BY item_a, item_b""".stripMargin

  // --- q214: DPO/reward-pair sampling over q209's ratings --------------------
  // Building a preference-tuning dataset from the aggregated judgments:
  // every per-user (winner, loser) vote instance is banded by the
  // GLOBAL Bradley–Terry rating gap of its two items and sampled at a
  // per-band rate with the q44 deterministic content-hash discipline —
  // the published DPO data recipes drop INVERTED pairs (the user's
  // local vote contradicts the global ranking: label noise), thin the
  // near-tie bands (ambiguous preference teaches little), and keep the
  // wide-margin pairs. Published per band: pair population, kept count,
  // kept checksum, rate, and the gap range — the audit a dataset owner
  // needs to reproduce the mixture.
  // Scale: the instance fan-out is ≤ k(k−1)/2 rows per user (k =
  // dimension-sized event-type count) off ONE combinable user-keyed
  // aggregate; ratings are a k-row broadcast; banding + hash-keep are
  // per-row map work; the publication is one band-keyed aggregate. The
  // twin replays the full rating chain (q209's CTEs) + the same CASE.
  // band width S/32: BT ratings of a near-balanced preference corpus
  // cluster within a few percent of the scale, so a coarser width would
  // put every non-inverted pair in band 0 and the mixture knob would be
  // dead — S/32 spreads the observed gap range over the 4 bands
  private[graft] val GapBandWidth = BtScale / 32
  private[graft] val DpoMaxBand = 3L
  /** band → keep rate (per-mil). -1 = inverted pairs (dropped). */
  private[graft] val DpoRates: Seq[(Long, Long)] =
    Seq(-1L -> 0L, 0L -> 125L, 1L -> 250L, 2L -> 500L, 3L -> 1000L)
  private[graft] def dpoRateCase(band: String): String =
    DpoRates.init.map { case (b, r) => s"WHEN $band = $b THEN $r" }
      .mkString("CASE ", " ", s" ELSE ${DpoRates.last._2} END")
  /** The gap→band rule as a Spark SQL expression over a BIGINT gap
    * column (PreferenceSpec pins its edges). Integer DIV only — gap is
    * non-negative in that branch, so trunc == floor == the twin's `//`. */
  private[graft] def dpoBandExpr(gap: String): String =
    s"CASE WHEN $gap < 0 THEN -1L " +
      s"ELSE least($gap DIV $GapBandWidth, ${DpoMaxBand}L) END"

  private val q214: Q = (s, dir) => {
    val spark = s
    import spark.implicits._
    val tot = ops.Preference.microTotals(Tables.events(s, dir))
    // per-user vote INSTANCES (the pre-aggregate of q209's matrix)
    val inst = tot.as("a").join(tot.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type") &&
          col("a.tot") =!= col("b.tot"))
      .select(col("a.user_id").as("user_id"),
        when(col("a.tot") > col("b.tot"), col("a.event_type"))
          .otherwise(col("b.event_type")).as("winner"),
        when(col("a.tot") > col("b.tot"), col("b.event_type"))
          .otherwise(col("a.event_type")).as("loser"))
    val winRows = prefWins(s, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val ratings = ops.Preference.mmRatings(winRows, BtScale, BtIters)
      .map(t => (t._1, t._4)).toDF("item", "rating")
    val keyHash = TextOps.hash60(
      "concat_ws(':', CAST(user_id AS STRING), winner, loser)")
    inst
      .join(broadcast(ratings.select(col("item").as("winner"),
        col("rating").as("r_w"))), Seq("winner"))
      .join(broadcast(ratings.select(col("item").as("loser"),
        col("rating").as("r_l"))), Seq("loser"))
      .withColumn("gap", col("r_w") - col("r_l"))
      .withColumn("band", expr(dpoBandExpr("gap")))
      .withColumn("rate_permil",
        expr(s"CAST(${dpoRateCase("band")} AS BIGINT)"))
      .withColumn("keep",
        (expr(s"pmod($keyHash, 1000)") < col("rate_permil")).cast("long"))
      .groupBy(col("band"))
      .agg(max(col("rate_permil")).as("rate_permil"),
        count(lit(1)).as("n_pairs"),
        sum(col("keep")).as("n_kept"),
        sum(col("keep") * col("user_id")).as("kept_sig"),
        min(col("gap")).as("gap_min"),
        max(col("gap")).as("gap_max"))
      .orderBy(col("band"))
  }
  private val q214Sql = {
    val keyHash = TextOps.sql.hash60(
      "concat_ws(':', CAST(user_id AS VARCHAR), winner, loser)")
    s"""WITH $btRatingCtes,
       |inst AS (
       |  SELECT a.user_id,
       |    CASE WHEN a.tot > b.tot THEN a.event_type ELSE b.event_type END
       |      AS winner,
       |    CASE WHEN a.tot > b.tot THEN b.event_type ELSE a.event_type END
       |      AS loser
       |  FROM tot a JOIN tot b
       |    ON a.user_id = b.user_id AND a.event_type < b.event_type
       |  WHERE a.tot <> b.tot
       |), rated AS (
       |  SELECT i.user_id, i.winner, i.loser,
       |    CAST(pw.p AS BIGINT) - CAST(pl.p AS BIGINT) AS gap
       |  FROM inst i
       |  JOIN p$BtIters pw ON i.winner = pw.item
       |  JOIN p$BtIters pl ON i.loser = pl.item
       |), banded AS (
       |  SELECT user_id, winner, loser, gap,
       |    CASE WHEN gap < 0 THEN -1
       |      ELSE least(gap // $GapBandWidth, $DpoMaxBand) END AS band
       |  FROM rated
       |), keyed AS (
       |  SELECT band, gap, user_id,
       |    ${dpoRateCase("band")} AS rate_permil,
       |    CASE WHEN $keyHash % 1000 < ${dpoRateCase("band")}
       |      THEN 1 ELSE 0 END AS keep
       |  FROM banded
       |)
       |SELECT CAST(band AS BIGINT) AS band,
       |  CAST(MAX(rate_permil) AS BIGINT) AS rate_permil,
       |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  CAST(SUM(keep) AS BIGINT) AS n_kept,
       |  CAST(SUM(keep * user_id) AS BIGINT) AS kept_sig,
       |  CAST(MIN(gap) AS BIGINT) AS gap_min,
       |  CAST(MAX(gap) AS BIGINT) AS gap_max
       |FROM keyed GROUP BY band ORDER BY band""".stripMargin
  }

  val registry: Seq[Query] = Seq(
    Query("q214_dpo_pairs", q214, Some(q214Sql)),
    Query("q163_survival_hazard", q163, Some(q163Sql)),
    Query("q164_mannwhitney_auc", q164, Some(q164Sql)),
    Query("q165_fifo_allocation", q165, Some(q165Sql)),
    Query("q166_heaps_curve", q166, Some(q166Sql)),
    Query("q168_calibration_bins", q168, Some(q168Sql)),
    Query("q169_rater_kappa", q169, Some(q169Sql)),
    Query("q170_bootstrap_ci", q170, Some(q170Sql)),
    Query("q209_bradley_terry", q209, Some(q209Sql)),
    Query("q210_pref_cycles", q210, Some(q210Sql)))
}
