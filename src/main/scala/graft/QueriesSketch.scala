package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.TextOps

/** Sketch & probabilistic-structure family — the q131 (KMV) discipline
  * extended to the remaining classic streaming/sampling structures a
  * 100 TB pipeline leans on when exact answers stop being affordable:
  *
  *   - q138 Count-Min heavy hitters (fixed-size frequency sketch)
  *   - q139 Bloom-filter membership audit (the semantics behind every
  *     runtime bloom probe, verified end-to-end)
  *   - q140 Duffield priority sampling (weighted sample + unbiased
  *     subset-sum estimator)
  *   - q141 change-point detection over daily series (drift alarm)
  *   - q142 AMS F2 sketch (self-join-size / second-moment estimator)
  *
  * Every estimator here is ORACLE-VERIFIED, not rows-only: the only
  * randomness is the shared deterministic 60-bit md5 hash
  * ([[TextOps.hash60]]), and all arithmetic is integer (floored DIV) or
  * double-converted-from-exact-integer in identical expression shape
  * (the q100 rule), so the ESTIMATES themselves hash-match between
  * Spark and the DuckDB twin — unlike engine-native sketches (HLL q40),
  * which only get rows-only checks.
  */
object QueriesSketch {

  type Q = (SparkSession, String) => DataFrame

  // --- q138: Count-Min sketch heavy hitters ----------------------------------
  // The fixed-memory frequency estimator: d=4 hash rows × w=64 counters
  // (w deliberately small so collisions — and the sketch's one-sided
  // overcount — are exercised at test SF; at 100 TB w grows to ~2/eps).
  // Update cost is the honest d hashes per item; the counter table is a
  // single (d, bucket)-keyed HashAggregate whose map-side partials
  // collapse to ≤ d·w cells per task, so the shuffle carries O(d·w·tasks)
  // regardless of corpus size — the whole point of the sketch. Probes
  // (here: the exact top-10, kept as the audit the sketch would replace)
  // read the ≤ 256-row counter table via broadcast. CMS guarantee
  // pinned by SketchSpec: estimate ≥ exact, always.
  private val CmsD = 4
  private val CmsW = 64
  private val CmsTop = 10
  private def cmsBucketDuck(key: String): String =
    graft.ops.Cms.bucketSql(key, CmsW)

  private val q138: Q = (s, dir) => {
    val e = Tables.events(s, dir).select(col("user_id"))
    // r15: the counter build telescopes over the exact frequency table
    // this query computes anyway (c[d][b] = Σ_u f_u·[bucket(u)=b] —
    // identical integer sums), so the d bucket hashes run once per USER
    // and the corpus is scanned once, not twice. Cached: read by the
    // sketch build AND the top-k probe selection.
    val exact = e.groupBy(col("user_id")).agg(count(lit(1)).as("exact_n"))
      .cache()
    val counters = graft.ops.Cms
      .weightedCounters(exact, "CAST(user_id AS STRING)", "exact_n",
        CmsD, CmsW)
    val top = exact.orderBy(desc("exact_n"), col("user_id")).limit(CmsTop)
    graft.ops.Cms
      .estimate(top, counters, "CAST(user_id AS STRING)", CmsD, CmsW)
      .withColumn("overcount", col("cms_estimate") - col("exact_n"))
      .orderBy(desc("exact_n"), col("user_id"))
  }
  private val q138Sql =
    s"""WITH ds AS (SELECT * FROM (VALUES (0), (1), (2), (3)) AS t(d)),
       |r AS (
       |  SELECT d, ${cmsBucketDuck("CAST(user_id AS VARCHAR)")} AS bucket
       |  FROM events CROSS JOIN ds
       |), counters AS (
       |  SELECT d, bucket, CAST(COUNT(*) AS BIGINT) AS c FROM r GROUP BY 1, 2
       |), exact AS (
       |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n
       |  FROM events GROUP BY 1
       |), top AS (
       |  SELECT * FROM exact ORDER BY exact_n DESC, user_id LIMIT $CmsTop
       |), probes AS (
       |  SELECT user_id, exact_n, d,
       |    ${cmsBucketDuck("CAST(user_id AS VARCHAR)")} AS bucket
       |  FROM top CROSS JOIN ds
       |)
       |SELECT user_id, exact_n,
       |  CAST(MIN(COALESCE(c, 0)) AS BIGINT) AS cms_estimate,
       |  CAST(MIN(COALESCE(c, 0)) - exact_n AS BIGINT) AS overcount
       |FROM probes LEFT JOIN counters USING (d, bucket)
       |GROUP BY user_id, exact_n
       |ORDER BY exact_n DESC, user_id""".stripMargin

  // --- q139: Bloom-filter membership audit -----------------------------------
  // The structure behind every runtime bloom probe (RuntimeFilterSpec
  // asserts Spark injects one; THIS query verifies the semantics
  // end-to-end): k=3 positions over m=512 bits (small so false
  // positives are exercised at test SF; m scales as −n·ln(p)/ln²2),
  // member set = customers in debt. The filter itself is the ≤ m-row
  // distinct `bits` table — broadcast to the probe side exactly like
  // Spark's own bloom build→probe exchange. Published: the confusion
  // counts and floored fp ppm; n_false_neg is the structural guarantee
  // (MUST be 0 — a bloom filter never misses a member) and SketchSpec
  // pins it.
  private val BloomM = 512
  private val BloomK = 3
  private def bloomPosSpark(key: String): String =
    s"pmod(${TextOps.hash60(s"concat('bf', CAST(j AS STRING), ':', $key)")}, $BloomM)"
  private def bloomPosDuck(key: String): String =
    s"${TextOps.sql.hash60(s"concat('bf', CAST(j AS VARCHAR), ':', $key)")} % $BloomM"

  private val q139: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
      .select(col("c_custkey"), (col("c_acctbal") < 0).as("is_member"))
    val bits = c.filter(col("is_member"))
      .withColumn("j", explode(expr(s"sequence(0, ${BloomK - 1})")))
      .select(expr(bloomPosSpark("CAST(c_custkey AS STRING)")).as("pos"))
      .distinct()
    val probes = c
      .withColumn("j", explode(expr(s"sequence(0, ${BloomK - 1})")))
      .withColumn("pos", expr(bloomPosSpark("CAST(c_custkey AS STRING)")))
    val hits = probes.join(broadcast(bits), Seq("pos"), "left_semi")
      .groupBy(col("c_custkey")).agg(count(lit(1)).as("nhits"))
    val flagged = c.join(hits, Seq("c_custkey"), "left")
      .withColumn("predicted", coalesce(col("nhits"), lit(0L)) === BloomK)
    val nbits = bits.agg(count(lit(1)).as("n_bits_set"))
    flagged.agg(
        sum(when(col("is_member"), 1L).otherwise(0L)).as("n_members"),
        count(lit(1)).as("n_probed"),
        sum(when(col("predicted") && col("is_member"), 1L).otherwise(0L))
          .as("n_true_pos"),
        sum(when(col("predicted") && !col("is_member"), 1L).otherwise(0L))
          .as("n_false_pos"),
        sum(when(!col("predicted") && col("is_member"), 1L).otherwise(0L))
          .as("n_false_neg"))
      .crossJoin(broadcast(nbits))
      .withColumn("fp_ppm",
        expr("CAST((1000000 * n_false_pos) DIV (n_probed - n_members) AS BIGINT)"))
      .select(col("n_members"), col("n_bits_set"), col("n_probed"),
        col("n_true_pos"), col("n_false_pos"), col("n_false_neg"), col("fp_ppm"))
  }
  private val q139Sql =
    s"""WITH js AS (SELECT * FROM (VALUES (0), (1), (2)) AS t(j)),
       |c AS (SELECT c_custkey, c_acctbal < 0 AS is_member FROM customer),
       |bits AS (
       |  SELECT DISTINCT ${bloomPosDuck("CAST(c_custkey AS VARCHAR)")} AS pos
       |  FROM c CROSS JOIN js WHERE is_member
       |), probes AS (
       |  SELECT c_custkey, ${bloomPosDuck("CAST(c_custkey AS VARCHAR)")} AS pos
       |  FROM c CROSS JOIN js
       |), hits AS (
       |  SELECT c_custkey, COUNT(*) AS nhits FROM probes
       |  WHERE pos IN (SELECT pos FROM bits) GROUP BY 1
       |), flagged AS (
       |  SELECT c.c_custkey, is_member, COALESCE(nhits, 0) = $BloomK AS predicted
       |  FROM c LEFT JOIN hits USING (c_custkey)
       |)
       |SELECT
       |  CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS n_bits_set,
       |  CAST(COUNT(*) AS BIGINT) AS n_probed,
       |  CAST(SUM(CASE WHEN predicted AND is_member THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_true_pos,
       |  CAST(SUM(CASE WHEN predicted AND NOT is_member THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_false_pos,
       |  CAST(SUM(CASE WHEN NOT predicted AND is_member THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_false_neg,
       |  CAST((1000000 * SUM(CASE WHEN predicted AND NOT is_member THEN 1 ELSE 0 END))
       |    // (COUNT(*) - SUM(CASE WHEN is_member THEN 1 ELSE 0 END)) AS BIGINT)
       |    AS fp_ppm
       |FROM flagged""".stripMargin

  // --- q140: Duffield priority sampling (weighted, without replacement) ------
  // THE weighted-sampling scheme for subset-sum estimation (Duffield,
  // Lund, Thorup): priority q_i = w_i/u_i with u_i uniform; keep the k
  // largest; τ = the (k+1)-th priority; estimator ŵ_i = max(w_i, τ) is
  // unbiased for any subset sum. Integer-exact construction: u_i is the
  // top 40 bits of the shared doc hash (+1, so u ∈ [1, 2^40]) and
  // q_i = (w_i·2^40) DIV u_i — the product is ≤ w·2^40 ≈ 10^16 for any
  // w ≤ 8·10^5 chars, so every quantity is STRUCTURALLY int64-safe (no
  // data-dependent overflow; the q120 lesson applied up front). τ and
  // ŵ stay in weight units, published as exact BIGINTs.
  // Scale: the global rank-(k+1) filter compiles to a single
  // TakeOrderedAndProject(k+1) — per-map-task bounded heaps feeding one
  // (k+1)-row reduce, the same top-k physical shape as T1 — so the
  // corpus is scanned ONCE and never globally sorted; τ then comes from
  // a window over those k+1 survivor rows (the documented
  // dimension-sized global-window class), not a second scan.
  private val PrioK = 32
  private val Pow40 = 1099511627776L // 2^40
  private val q140: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val pri = d.select(col("doc_id"), col("n_chars"))
      .withColumn("u40",
        expr(s"(${TextOps.hash60("CAST(doc_id AS STRING)")} DIV 1048576) + 1"))
      .withColumn("q", expr(s"(n_chars * ${Pow40}L) DIV u40"))
    val w = Window.orderBy(desc("q"), col("doc_id"))
    val ranked = pri.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= PrioK + 1)
    // τ over the k+1 survivors (null when the corpus has ≤ k docs —
    // then the sample IS the population and ŵ = w exactly, the
    // scheme's boundary case)
    val wAll = Window.partitionBy(lit(1))
    ranked
      .withColumn("tau",
        max(when(col("rn") === PrioK + 1, col("q"))).over(wAll))
      .filter(col("rn") <= PrioK)
      .select(col("rn"), col("doc_id"), col("n_chars").as("weight"),
        greatest(col("n_chars"), coalesce(col("tau"), lit(0L))).as("est_weight"))
      .orderBy(col("rn"))
  }
  private val q140Sql =
    s"""WITH pri AS (
       |  SELECT doc_id, n_chars,
       |    (n_chars * CAST($Pow40 AS BIGINT)) //
       |      ((${TextOps.sql.hash60("CAST(doc_id AS VARCHAR)")} // 1048576) + 1) AS q
       |  FROM documents
       |), ranked AS (
       |  SELECT doc_id, n_chars, q,
       |    ROW_NUMBER() OVER (ORDER BY q DESC, doc_id) AS rn
       |  FROM pri
       |), tau AS (
       |  SELECT MAX(CASE WHEN rn = ${PrioK + 1} THEN q END) AS tau
       |  FROM ranked WHERE rn <= ${PrioK + 1}
       |)
       |SELECT CAST(rn AS INTEGER) AS rn, doc_id, n_chars AS weight,
       |  CAST(GREATEST(n_chars, COALESCE(tau, 0)) AS BIGINT) AS est_weight
       |FROM ranked CROSS JOIN tau WHERE rn <= $PrioK
       |ORDER BY rn""".stripMargin

  // --- q141: change-point detection over daily event series ------------------
  // The drift alarm for a continuously-ingesting pipeline: per series
  // (event_type), the split day maximizing |mean(before) − mean(after)|.
  // Evaluated WITHOUT forming either mean (the q101 discipline):
  // diff_num = S_t·(N−t) − (S−S_t)·t and denom = t·(N−t) are exact
  // integers from one cumulative-window pass over prefix sums; the
  // score compares as double-from-exact-ints in identical shape both
  // engines (q100 rule), argmax tie-broken by earliest day. Headroom:
  // |diff_num| ≤ S·N — at 10^12 events over 10 years of days that is
  // ~4·10^15, inside int64 (documented, not assumed).
  // Scale: one day-keyed HashAggregate, then windows over
  // (event_type)-partitioned DAY-count-sized rows — dimension-sized by
  // construction (days × types), never corpus-sized.
  private val q141: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val daily = e.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val wOrd = Window.partitionBy("event_type").orderBy("day")
    val wAll = Window.partitionBy("event_type")
    val pre = daily
      .withColumn("t", row_number().over(wOrd))
      .withColumn("st", sum(col("x")).over(wOrd))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("s", sum(col("x")).over(wAll))
    val cand = pre.filter(col("t") < col("n"))
      .withColumn("diff_num", expr("st * (n - t) - (s - st) * t"))
      .withColumn("score",
        expr("CAST(abs(diff_num) AS DOUBLE) / CAST(t * (n - t) AS DOUBLE)"))
    val wBest = Window.partitionBy("event_type").orderBy(desc("score"), col("day"))
    cand.withColumn("rb", row_number().over(wBest)).filter(col("rb") === 1)
      .select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("change_day"),
        col("n").as("n_days"),
        expr("CAST(st AS DOUBLE) / CAST(t AS DOUBLE)").as("before_avg"),
        expr("CAST(s - st AS DOUBLE) / CAST(n - t AS DOUBLE)").as("after_avg"),
        col("score"))
      .orderBy(col("event_type"))
  }
  private val q141Sql =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2
      |), pre AS (
      |  SELECT event_type, day, x,
      |    ROW_NUMBER() OVER w AS t,
      |    CAST(SUM(x) OVER w AS BIGINT) AS st,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n,
      |    CAST(SUM(x) OVER (PARTITION BY event_type) AS BIGINT) AS s
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day)
      |), cand AS (
      |  SELECT *,
      |    CAST(ABS(st * (n - t) - (s - st) * t) AS DOUBLE) /
      |      CAST(t * (n - t) AS DOUBLE) AS score
      |  FROM pre WHERE t < n
      |), best AS (
      |  SELECT *, ROW_NUMBER() OVER (
      |    PARTITION BY event_type ORDER BY score DESC, day) AS rb
      |  FROM cand
      |)
      |SELECT event_type, strftime(day, '%Y-%m-%d') AS change_day,
      |  CAST(n AS BIGINT) AS n_days,
      |  CAST(st AS DOUBLE) / CAST(t AS DOUBLE) AS before_avg,
      |  CAST(s - st AS DOUBLE) / CAST(n - t AS DOUBLE) AS after_avg,
      |  score
      |FROM best WHERE rb = 1 ORDER BY event_type""".stripMargin

  // --- q135: mergeable histogram quantiles -----------------------------------
  // The fixed-memory quantile sketch every 100 TB profiler actually
  // ships: an equi-width counter histogram (trivially mergeable across
  // executors — counts add), quantile = the first bucket whose
  // cumulative count crosses ceil(q·N). Grid discipline: values floor
  // to integer milli-units (IEEE double ·1000 + floor is bit-identical
  // cross-engine), buckets are v DIV 4096 milli-units, and the EXACT
  // per-type quantiles are kept as the audit — computed on the
  // distinct-value grid (q145's trick: group to (type, v) first, window
  // over the domain-sized grid, never a corpus-sized sort). The sketch
  // invariant SketchSpec pins: approx_lb ≤ exact_v < approx_lb + width
  // — the histogram answer is the TRUE quantile's bucket, always.
  // Scale: two HashAggregates (grid + histogram) off one scan shape;
  // windows run over ≤ |grid| rows (domain-sized); thresholds are
  // integer (q·n + 99) DIV 100 so no double crosses the rank math.
  private val HistW = 4096L
  private val HistQs = Seq(50, 90, 99)
  private val q135: Q = (s, dir) => {
    val e = Tables.events(s, dir)
      .select(col("event_type"),
        expr("CAST(floor(value * 1000) AS BIGINT)").as("v"))
    val grid = e.groupBy(col("event_type"), col("v"))
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy("event_type").orderBy("v")
    val wAll = Window.partitionBy("event_type")
    val gridCum = grid
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wAll))
    val hist = grid
      .groupBy(col("event_type"), expr(s"v DIV $HistW").as("b"))
      .agg(sum(col("c")).as("hc"))
    val wHc = Window.partitionBy("event_type").orderBy("b")
    val histCum = hist
      .withColumn("hcum", sum(col("hc")).over(wHc))
    val qs = s.range(0, HistQs.size)
      .select(expr(s"element_at(array(${HistQs.mkString(", ")}), CAST(id AS INT) + 1)").as("p"))
    val withThresh = gridCum.crossJoin(broadcast(qs))
      .withColumn("k", expr("(p * n + 99) DIV 100"))
    val exact = withThresh.filter(col("cum") >= col("k"))
      .groupBy(col("event_type"), col("p"), col("n"))
      .agg(min(col("v")).as("exact_v"))
    val approx = histCum.crossJoin(broadcast(qs))
      .join(exact.select(col("event_type"), col("p"), col("n")),
        Seq("event_type", "p"))
      .withColumn("k", expr("(p * n + 99) DIV 100"))
      .filter(col("hcum") >= col("k"))
      .groupBy(col("event_type"), col("p"))
      .agg((min(col("b")) * HistW).as("approx_lb"))
    exact.join(approx, Seq("event_type", "p"))
      .select(col("event_type"), col("p"), col("n"),
        col("exact_v"), col("approx_lb"),
        (col("exact_v") - col("approx_lb")).as("in_bucket_off"))
      .orderBy(col("event_type"), col("p"))
  }
  private val q135Sql =
    s"""WITH e AS (
       |  SELECT event_type, CAST(FLOOR(value * 1000) AS BIGINT) AS v FROM events
       |), grid AS (
       |  SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS c FROM e GROUP BY 1, 2
       |), gridcum AS (
       |  SELECT event_type, v, c,
       |    CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY v) AS BIGINT) AS cum,
       |    CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
       |  FROM grid
       |), hist AS (
       |  SELECT event_type, v // $HistW AS b, CAST(SUM(c) AS BIGINT) AS hc
       |  FROM grid GROUP BY 1, 2
       |), histcum AS (
       |  SELECT event_type, b, hc,
       |    CAST(SUM(hc) OVER (PARTITION BY event_type ORDER BY b) AS BIGINT) AS hcum
       |  FROM hist
       |), qs AS (SELECT * FROM (VALUES ${HistQs.map(q => s"($q)").mkString(", ")}) AS t(p)),
       |exact AS (
       |  SELECT event_type, p, n, MIN(v) AS exact_v
       |  FROM gridcum CROSS JOIN qs
       |  WHERE cum >= (p * n + 99) // 100
       |  GROUP BY 1, 2, 3
       |), approx AS (
       |  SELECT h.event_type, e.p, MIN(b) * $HistW AS approx_lb
       |  FROM histcum h JOIN exact e ON h.event_type = e.event_type
       |  WHERE hcum >= (e.p * e.n + 99) // 100
       |  GROUP BY 1, 2
       |)
       |SELECT event_type, CAST(p AS INTEGER) AS p, n, exact_v,
       |  CAST(approx_lb AS BIGINT) AS approx_lb,
       |  CAST(exact_v - approx_lb AS BIGINT) AS in_bucket_off
       |FROM exact JOIN approx USING (event_type, p)
       |ORDER BY event_type, p""".stripMargin

  // --- q136: KMV set operations — union / intersection / Jaccard -------------
  // What distinguishes KMV from HLL in a curation stack: bottom-k
  // sketches COMPOSE under set algebra. Union sketch = k smallest of
  // the merged minima pools; intersection via the standard ratio
  // estimator ρ·Û where ρ = |{h ∈ union-k : h in BOTH sides' k-minima}|/k
  // (Beyer et al.) — every step integer (floored DIV on 60-bit hashes),
  // so union/intersection/Jaccard ESTIMATES hash-match cross-engine,
  // with the exact distinct counts kept as audit columns.
  // Sets: purchasing users vs viewing users (the audience-overlap
  // question q132 answers exactly — here answered from two 32-row
  // sketches that would each fit in a driver heartbeat at 100 TB).
  // Scale: per set one distinct-hash aggregate, then
  // TakeOrderedAndProject(k) per-task heaps (the q140 shape — no
  // global sort); all sketch algebra runs on ≤ 2k rows.
  private val KmvK = 32
  private val Pow60 = 1152921504606846976L // 2^60
  private val q136: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    def bottomK(types: Seq[String]) =
      e.filter(col("event_type").isin(types: _*))
        .select(expr(TextOps.hash60("CAST(user_id AS STRING)")).as("h"))
        .distinct()
        .orderBy(col("h")).limit(KmvK)
    val a = bottomK(Seq("purchase")).withColumn("in_a", lit(1L))
    val b = bottomK(Seq("view")).withColumn("in_b", lit(1L))
    val union = a.select(col("h")).union(b.select(col("h"))).distinct()
      .orderBy(col("h")).limit(KmvK)
      .join(a, Seq("h"), "left").join(b.select(col("h"), col("in_b")), Seq("h"), "left")
    val sketch = union.agg(
      count(lit(1)).as("ku"),
      max(col("h")).as("hk"),
      sum(when(col("in_a") === 1L && col("in_b") === 1L, 1L).otherwise(0L))
        .as("rho_n"))
    // (ku-1)·2^60 DIV hk — the classic KMV estimator, integer-floored;
    // when a side has < k distinct members the sketch IS the set and the
    // estimate degrades to the exact truncated count (q131's sparse rule).
    // (ku-1)·2^60 ≈ 2^65 at k=32 — widened through DECIMAL(38,0) (the
    // q120 pattern); the quotient is ~the distinct count, back in int64.
    val est = sketch.select(
      expr(s"""CASE WHEN ku < $KmvK THEN ku
              |  ELSE CAST(((ku - 1) * CAST(${Pow60}L AS DECIMAL(38,0))) DIV hk
              |       AS BIGINT) END""".stripMargin)
        .as("union_est"),
      col("rho_n"))
    val exact = e.groupBy(col("user_id")).agg(
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("pa"),
        max(when(col("event_type") === "view", 1L).otherwise(0L)).as("pb"))
      .agg(
        sum(when(col("pa") === 1L || col("pb") === 1L, 1L).otherwise(0L))
          .as("exact_union"),
        sum(when(col("pa") === 1L && col("pb") === 1L, 1L).otherwise(0L))
          .as("exact_inter"))
    est.crossJoin(broadcast(exact))
      .select(col("exact_union"), col("exact_inter"), col("union_est"),
        expr(s"(rho_n * union_est) DIV $KmvK").as("inter_est"),
        expr(s"(1000000 * rho_n) DIV $KmvK").as("jaccard_est_ppm"))
  }
  private val q136Sql = {
    val h = TextOps.sql.hash60("CAST(user_id AS VARCHAR)")
    s"""WITH a AS (
       |  SELECT DISTINCT $h AS h FROM events WHERE event_type = 'purchase'
       |  ORDER BY h LIMIT $KmvK
       |), b AS (
       |  SELECT DISTINCT $h AS h FROM events WHERE event_type = 'view'
       |  ORDER BY h LIMIT $KmvK
       |), u AS (
       |  SELECT h FROM (SELECT h FROM a UNION SELECT h FROM b)
       |  ORDER BY h LIMIT $KmvK
       |), sk AS (
       |  SELECT COUNT(*) AS ku, MAX(h) AS hk,
       |    SUM(CASE WHEN h IN (SELECT h FROM a) AND h IN (SELECT h FROM b)
       |        THEN 1 ELSE 0 END) AS rho_n
       |  FROM u
       |), est AS (
       |  SELECT CASE WHEN ku < $KmvK THEN ku
       |    ELSE ((ku - 1) * CAST($Pow60 AS HUGEINT)) // hk END AS union_est,
       |    rho_n
       |  FROM sk
       |), ex AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN pa = 1 OR pb = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS exact_union,
       |    CAST(SUM(CASE WHEN pa = 1 AND pb = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS exact_inter
       |  FROM (
       |    SELECT user_id,
       |      MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS pa,
       |      MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS pb
       |    FROM events GROUP BY 1)
       |)
       |SELECT exact_union, exact_inter,
       |  CAST(union_est AS BIGINT) AS union_est,
       |  CAST((rho_n * union_est) // $KmvK AS BIGINT) AS inter_est,
       |  CAST((1000000 * rho_n) // $KmvK AS BIGINT) AS jaccard_est_ppm
       |FROM est CROSS JOIN ex""".stripMargin
  }

  // --- q157: trailing-median burst alarm (walk-forward) ----------------------
  // The production traffic alarm q141 is not: q141's change-point scan
  // uses the WHOLE series (offline diagnosis); an alarm may only look
  // BACKWARD. Per (event_type, day): flag a burst when the day's count
  // exceeds 3× the median of the trailing 7 OBSERVED days — the ROWS
  // frame walks the per-type daily grid, so calendar days with zero
  // events are absent and a sparse type's baseline can span more than
  // 7 calendar days (deliberate: a type that fires weekly gets a
  // baseline of its own cadence, and a zero-filled grid would drive
  // the median to 0 and disable the med > 0 gate). Median (not mean)
  // so one prior burst day doesn't poison the baseline; the full-
  // history gate (exactly 7 observations) keeps a cold start quiet.
  // Everything integer: the median of 7 is the exact 4th smallest
  // (sort_array(collect_list) over a ROWS 7-PRECEDING frame — 7-element
  // arrays on the days×types table), burst = x > 3·med, severity as
  // floored ratio per-mille. Output is the per-type ALARM SUMMARY —
  // eval days, burst days, peak ratio + its day — and publishing the
  // quiet types' ZEROS is the job (q149's doctrine): on a healthy
  // corpus the oracle-checked answer is "no alarms", with the planted
  // burst exercised by SketchSpec. Scale: one day-keyed corpus
  // HashAggregate, then windows over the dimension-sized daily grid
  // (q141's shape); the 7-element array never touches corpus rows.
  private val BurstMul = 3L
  private val q157: Q = (s, dir) => {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val wTrail = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-7, -1)
    val eval = daily
      .withColumn("hist", sort_array(collect_list(col("x")).over(wTrail)))
      .filter(size(col("hist")) === 7)
      .withColumn("med", expr("element_at(hist, 4)"))
      .filter(col("med") > 0)
      .withColumn("ratio_pm", expr("(1000 * x) DIV med"))
      .withColumn("is_burst",
        (col("x") > lit(BurstMul) * col("med")).cast("bigint"))
    val wPeak = Window.partitionBy("event_type")
      .orderBy(desc("ratio_pm"), col("day"))
    eval.withColumn("rn", row_number().over(wPeak))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_eval_days"),
        sum(col("is_burst")).as("n_burst_days"),
        max(col("ratio_pm")).as("peak_ratio_pm"),
        min(when(col("rn") === 1, date_format(col("day"), "yyyy-MM-dd")))
          .as("peak_day"))
      .orderBy(col("event_type"))
  }
  private val q157Sql =
    s"""WITH daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day,
       |    CAST(COUNT(*) AS BIGINT) AS x
       |  FROM events GROUP BY 1, 2
       |), trail AS (
       |  SELECT event_type, day, x,
       |    list_sort(list(x) OVER (PARTITION BY event_type ORDER BY day
       |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)) AS hist
       |  FROM daily
       |), ev AS (
       |  SELECT event_type, day, x, hist[4] AS med,
       |    (1000 * x) // hist[4] AS ratio_pm,
       |    CASE WHEN x > $BurstMul * hist[4] THEN 1 ELSE 0 END AS is_burst,
       |    ROW_NUMBER() OVER (PARTITION BY event_type
       |      ORDER BY (1000 * x) // hist[4] DESC, day) AS rn
       |  FROM trail WHERE len(hist) = 7 AND hist[4] > 0
       |)
       |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_eval_days,
       |  CAST(SUM(is_burst) AS BIGINT) AS n_burst_days,
       |  CAST(MAX(ratio_pm) AS BIGINT) AS peak_ratio_pm,
       |  MIN(CASE WHEN rn = 1 THEN strftime(day, '%Y-%m-%d') END) AS peak_day
       |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin

  // --- q142: AMS F2 sketch — self-join-size estimator ------------------------
  // The second frequency moment F2 = Σ_u f_u² IS the self-join size on
  // the key — the quantity a distributed optimizer estimates before
  // picking a join strategy. Alon-Matias-Szegedy: Z_i = Σ_rows ±1 with
  // a 4-wise-ish sign hash per estimator row; E[Z_i²] = F2 exactly.
  // d=9 independent rows, estimator = mean of squares (unbiased,
  // RSD = √(2/d) ≈ 47% — production d scales as 2/ε²; the point at
  // test scale is the ALGEBRA, pinned cross-engine).
  // Shape: ONE corpus pass computing d conditional sums in a single
  // map-side-combinable HashAggregate — no explode, no shuffle wider
  // than d longs; the exact F2 (one user-keyed agg) is the audit column
  // the sketch replaces at 100 TB. Headroom: |Z| ≤ N so Z² ≈ 10²⁴ at
  // 10¹² events — squares and F2 run in DECIMAL(38,0)/HUGEINT
  // (the q120 pattern), published through CAST AS DOUBLE (q100 rule).
  private val AmsD = 9
  private val q142: Q = (s, dir) => {
    val e = Tables.events(s, dir).select(col("user_id"))
    // r15 shape: the sign hash depends only on user_id, so each estimator
    // telescopes over the per-user frequency table — Z_i = Σ_u f_u·σ_i(u),
    // an identical integer sum (commutativity) at 1/f_avg the hash count:
    // the d md5s run once per USER, not once per event row, and the exact
    // F2 rides the SAME final aggregate, so the former second corpus scan
    // and the crossJoin are gone. One corpus pass (the user-keyed count),
    // one d+1-column reduce over the user table.
    val f = e.groupBy(col("user_id")).agg(count(lit(1)).as("f"))
    val signs = (0 until AmsD).map { i =>
      val h = TextOps.hash60(s"concat('ams', '$i', ':', CAST(user_id AS STRING))")
      sum(expr(s"f * (CASE WHEN ($h) & 1 = 1 THEN 1 ELSE -1 END)")).as(s"z$i")
    }
    val sq = (0 until AmsD)
      .map(i => s"CAST(z$i AS DECIMAL(19,0)) * CAST(z$i AS DECIMAL(19,0))")
      .mkString(" + ")
    f.agg(signs.head,
        (signs.tail :+ sum(expr(
          "CAST(f AS DECIMAL(19,0)) * CAST(f AS DECIMAL(19,0))"))
          .as("exact_f2")): _*)
      .select(expr(s"($sq) DIV $AmsD").as("ams_est"), col("exact_f2"))
      .select(
        expr("CAST(exact_f2 AS DOUBLE)").as("exact_f2"),
        expr("CAST(ams_est AS DOUBLE)").as("ams_estimate"),
        expr("CAST((1000000 * abs(ams_est - exact_f2)) DIV exact_f2 AS BIGINT)")
          .as("err_ppm"))
  }
  private val q142Sql = {
    val zsum = (0 until AmsD).map { i =>
      val h = TextOps.sql.hash60(s"concat('ams', '$i', ':', CAST(user_id AS VARCHAR))")
      s"CAST(SUM(CASE WHEN ($h) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS z$i"
    }.mkString(",\n    ")
    val sq = (0 until AmsD)
      .map(i => s"CAST(z$i AS HUGEINT) * CAST(z$i AS HUGEINT)")
      .mkString(" + ")
    s"""WITH z AS (
       |  SELECT
       |    $zsum
       |  FROM events
       |), est AS (
       |  SELECT ($sq) // $AmsD AS ams_est FROM z
       |), ex AS (
       |  SELECT SUM(CAST(f AS HUGEINT) * CAST(f AS HUGEINT)) AS exact_f2
       |  FROM (SELECT COUNT(*) AS f FROM events GROUP BY user_id)
       |)
       |SELECT CAST(exact_f2 AS DOUBLE) AS exact_f2,
       |  CAST(ams_est AS DOUBLE) AS ams_estimate,
       |  CAST((1000000 * ABS(ams_est - exact_f2)) // exact_f2 AS BIGINT)
       |    AS err_ppm
       |FROM est CROSS JOIN ex""".stripMargin
  }

  // --- q183: portable HyperLogLog — registers AND estimate oracle-verified ---
  // q40 demonstrates the ENGINE-NATIVE HLL (necessarily rows-only:
  // Spark's register layout is private); q183 is the portable
  // counterpart — the from-scratch HLL whose every step is shared
  // integer arithmetic, so the DuckDB twin reproduces the register
  // table AND the estimate bit-for-bit. This is the sketch-interchange
  // property a lakehouse needs: registers computed by ANY engine merge
  // with any other (MAX per bucket — the same algebra q119's
  // TypedImperativeAggregate implements for minhash).
  //   bucket = top-8 bits of the shared 60-bit md5 hash; rho = leading
  //   zeros of the 52-bit suffix + 1, via an unrolled 52-term
  //   comparison ladder (never float log2 — its last-ulp rounding near
  //   powers of two is engine-specific); register = MAX(rho): dup-
  //   insensitive, map-side combinable, shuffle-order-proof.
  //   Estimate = α·m²/Σ2^(−r) carried as integers: Σ2^(53−r) per type
  //   (≤ 2^61), α·m² as a floor-scaled literal embedded identically in
  //   both engines (the q173 constants convention), one DECIMAL(38,0)
  //   floored division (the q131 widening). RAW HLL by design — no
  //   small-range/linear-counting switch (ln is float); the published
  //   err_pm column shows the resulting small-range bias honestly.
  private val HllP = 8
  private val HllM = 1 << HllP
  private val HllSfx = 52 // 60-bit hash minus the 8 bucket bits
  private val HllAm2 =
    math.floor(0.7213 / (1 + 1.079 / HllM) * HllM.toLong * HllM).toLong
  private val q183: Q = (s, dir) => {
    val lSum = (0 until HllSfx)
      .map(k => s"(CASE WHEN suffix >= ${1L << k}L THEN 1 ELSE 0 END)")
      .mkString(" + ")
    // (r15 note: a distinct-(event_type,user) pre-pass that would feed
    // both the register build and the exact audit measured SLOWER at
    // sf0.1 — 0.84 vs 0.57 best-of-5 — the pair exchange costs more than
    // the saved ladder evals at this dup ratio, so the per-row form
    // stays; at a genuinely high-duplication corpus the q142/q138
    // telescoping would apply here too.)
    val e = Tables.events(s, dir)
      .select(col("event_type"),
        expr(TextOps.hash60("CAST(user_id AS STRING)")).as("h"))
      .withColumn("bucket", expr(s"h DIV ${1L << HllSfx}L"))
      .withColumn("suffix", expr(s"h % ${1L << HllSfx}L"))
      .withColumn("rho", expr(s"${HllSfx + 1} - ($lSum)"))
    val regs = e.groupBy(col("event_type"), col("bucket"))
      .agg(max(col("rho")).as("r"))
    val sk = regs.groupBy(col("event_type"))
      .agg(count(lit(1)).as("used"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), ${HllSfx + 1} - r)"))
          .as("s_present"),
        sum(col("r")).as("reg_sum"))
      .withColumn("s_full", expr(
        s"s_present + ($HllM - used) * ${1L << (HllSfx + 1)}L"))
      // α·m² floored to an integer literal shared by both engines (its
      // ~1 ppm quantization is noise next to HLL's ±2% error); the
      // numerator widens through DECIMAL(38,0) and the SINGLE quotient
      // fits int64 (Spark's DIV downcasts its result to long — a chain
      // whose intermediate quotient exceeds int64 wraps silently)
      .withColumn("est_hll", expr(
        s"""CAST(($HllAm2 * CAST(${1L << (HllSfx + 1)}L AS DECIMAL(38,0)))
           |  DIV s_full AS BIGINT)""".stripMargin))
    val exact = Tables.events(s, dir).groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    sk.join(exact, "event_type")
      .select(col("event_type"), col("n_exact"), col("used"),
        col("reg_sum"), col("est_hll"),
        expr("(1000000 * abs(est_hll - n_exact)) DIV n_exact").as("err_pm"))
      .orderBy(col("event_type"))
  }
  private val q183Sql = {
    val X = TextOps.sql
    val lSum = (0 until HllSfx)
      .map(k => s"(CASE WHEN suffix >= ${1L << k} THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH h AS (
       |  SELECT event_type, ${X.hash60("CAST(user_id AS VARCHAR)")} AS h
       |  FROM events
       |), b AS (
       |  SELECT event_type, h // ${1L << HllSfx} AS bucket,
       |    h % ${1L << HllSfx} AS suffix
       |  FROM h
       |), r AS (
       |  SELECT event_type, bucket, MAX(${HllSfx + 1} - ($lSum)) AS r
       |  FROM b GROUP BY event_type, bucket
       |), sk AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS used,
       |    CAST(SUM(CAST(1 AS BIGINT) << (${HllSfx + 1} - r)) AS BIGINT)
       |      AS s_present,
       |    CAST(SUM(r) AS BIGINT) AS reg_sum
       |  FROM r GROUP BY event_type
       |), est AS (
       |  SELECT event_type, used, reg_sum,
       |    CAST(($HllAm2 * CAST(${1L << (HllSfx + 1)} AS HUGEINT)) //
       |      (s_present + ($HllM - used) * ${1L << (HllSfx + 1)})
       |      AS BIGINT) AS est_hll
       |  FROM sk
       |), ex AS (
       |  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
       |  FROM events GROUP BY event_type
       |)
       |SELECT est.event_type, n_exact, used, reg_sum, est_hll,
       |  (1000000 * abs(est_hll - n_exact)) // n_exact AS err_pm
       |FROM est JOIN ex ON est.event_type = ex.event_type
       |ORDER BY est.event_type""".stripMargin
  }

  // --- q217/q218: mergeable quantile sketch (build / serve) ------------------
  // The one sketch family previously absent next to HLL/CMS/KMV/AMS/
  // bloom: a mergeable quantile summary replacing q50's
  // one-exact-aggregate-per-cut-point path at 100 TB. Design rationale,
  // merge-closure algebra, and the bottom-k-vs-KLL tradeoff live in
  // [[graft.ops.QuantileSketch]]'s scaladoc; the short version: per
  // group keep the k = 64 items with the smallest shared 60-bit hash —
  // a deterministic uniform sample that is a pure function of the item
  // SET, so summaries merge EXACTLY (bottom-k of a union of bottom-ks)
  // and both engines reproduce sketch AND estimates bit-for-bit.
  // q217 BUILDS the sketch over orders (group = o_orderpriority, value
  // = o_totalprice cents) and proves mergeability in-query: the same
  // sketch built from the even/odd-orderkey halves and MERGED must
  // equal the single-pass sketch — n_merge_mismatch is oracle-verified
  // ZERO, the algebra as a checked column. Scale: rank ≤ k by hash per
  // group = WindowGroupLimit (map-side bounded heaps, ≤ k rows per
  // group per task cross the exchange); the halves demo doubles that,
  // still never a corpus sort.
  // q218 SERVES all quantiles from the k-row sketch (sample order
  // statistic at ceil(q·kk/100)) next to the exact quantile (the audit
  // it replaces — one ranked pass, not one agg per cut) and the
  // REALIZED rank error in ppm of n — the sampling-bound tradeoff
  // (O(n·sqrt(q(1-q)/k))) published as a measured column.
  private val QskK = 64
  private val QskQs = Seq(1, 5, 10, 25, 50, 75, 90, 95, 99)
  private def qskItems(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      col("o_orderpriority").as("grp"),
      col("o_orderkey").as("k"),
      Exact.cents(col("o_totalprice")).as("v"))

  private val q217: Q = (s, dir) => {
    val QS = graft.ops.QuantileSketch
    val items = qskItems(s, dir)
    val whole = QS.kept(items, "grp", "k", "v", QskK)
    val n = items.groupBy(col("grp")).agg(count(lit(1)).as("n_total"))
    // mergeability, demonstrated not asserted: the even/odd-orderkey
    // halves are an arbitrary 2-way partition of the data
    val halves = QS
      .kept(items.filter(expr("k % 2 = 0")), "grp", "k", "v", QskK)
      .unionByName(QS.kept(items.filter(expr("k % 2 = 1")), "grp", "k", "v", QskK))
    val merged = QS.merge(halves, "grp", "k", "v", QskK)
    val mm = whole.select(col("grp"), col("slot"), col("v").as("va"))
      .join(merged.select(col("grp"), col("slot"), col("v").as("vb")),
        Seq("grp", "slot"), "full_outer")
      .groupBy(col("grp"))
      .agg(sum(when(not(col("va") <=> col("vb")), 1L).otherwise(0L))
        .as("n_merge_mismatch"))
    whole
      .join(broadcast(n), "grp").join(broadcast(mm), "grp")
      .select(col("grp"), col("slot"), col("v").as("v_cents"),
        col("n_total"), col("n_merge_mismatch"))
      .orderBy(col("grp"), col("slot"))
  }
  private def qskKeptSql(src: String, name: String): String =
    s"""$name AS (
       |  SELECT grp, slot, h, k, v FROM (
       |    SELECT grp, k, v, h,
       |      ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h, k) AS slot
       |    FROM $src
       |  ) WHERE slot <= $QskK
       |)""".stripMargin
  private val qskItemsSql =
    s"""items AS (
       |  SELECT o_orderpriority AS grp, o_orderkey AS k,
       |    ${Exact.sql.cents("o_totalprice")} AS v,
       |    ${TextOps.sql.hash60("CAST(o_orderkey AS VARCHAR)")} AS h
       |  FROM orders
       |)""".stripMargin
  private val q217Sql =
    s"""WITH $qskItemsSql,
       |${qskKeptSql("items", "whole")},
       |${qskKeptSql("items WHERE k % 2 = 0", "ha")},
       |${qskKeptSql("items WHERE k % 2 = 1", "hb")},
       |${qskKeptSql("(SELECT grp, k, v, h FROM ha UNION ALL SELECT grp, k, v, h FROM hb)", "merged")},
       |n AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_total FROM items GROUP BY 1),
       |mm AS (
       |  SELECT COALESCE(a.grp, b.grp) AS grp,
       |    CAST(SUM(CASE WHEN a.v IS DISTINCT FROM b.v THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_merge_mismatch
       |  FROM whole a FULL JOIN merged b
       |    ON a.grp = b.grp AND a.slot = b.slot
       |  GROUP BY 1
       |)
       |SELECT w.grp, CAST(w.slot AS INTEGER) AS slot, w.v AS v_cents,
       |  n.n_total, mm.n_merge_mismatch
       |FROM whole w JOIN n USING (grp) JOIN mm USING (grp)
       |ORDER BY w.grp, slot""".stripMargin

  private val q218: Q = (s, dir) => quantileServe(s, dir, QskK)

  /** q218's serve + realized-rank-error pass, k-parameterized so the
    * committed k-vs-error sweep ([[QuantileSweep]]) measures the same
    * code path the oracle gates at k = [[QskK]]. */
  private[graft] def quantileServe(s: SparkSession, dir: String,
                                   k: Int): DataFrame = {
    val spark = s
    import spark.implicits._
    val QS = graft.ops.QuantileSketch
    val items = qskItems(s, dir)
    val sk = QS.kept(items, "grp", "k", "v", k)
    // the k kept VALUES in value order — the summary all quantiles
    // serve from (sample order statistics)
    val wv = Window.partitionBy(col("grp")).orderBy(col("v"), col("k"))
    val skRanked = sk
      .withColumn("vr", row_number().over(wv))
      .withColumn("kk", count(lit(1)).over(Window.partitionBy(col("grp"))))
    // one exact ranked pass serves every cut point (vs one full agg
    // per cut, the q50 path this sketch replaces at scale)
    val ranked = items
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("v"), col("k"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("grp"))))
    val qs = QskQs.toDF("q_pct")
    val est = skRanked.crossJoin(broadcast(qs))
      .filter(col("vr") === expr(s"(q_pct * kk + 99) DIV 100"))
      .select(col("grp"), col("q_pct"), col("kk"), col("v").as("est_v"))
    val exact = ranked.crossJoin(broadcast(qs))
      .filter(col("rn") === expr(s"(q_pct * n + 99) DIV 100"))
      .select(col("grp"), col("q_pct"), col("n"), col("v").as("exact_v"))
    // realized rank error: true rank of est_v = the max rn among the
    // group's rows with that value (ties sit adjacent under (v, k)
    // order) — an EQUI-join on (grp, v), never an inequality probe.
    // est and ranked share lineage (both derive from items), so the
    // probe side is renamed wholesale before the join: a bare
    // est("grp") === ranked("grp") resolves BOTH sides to one
    // attribute (Spark warns "trivially true") and the join silently
    // widens to value-only — cross-group cents collisions would then
    // corrupt r_true
    val probe = ranked.select(col("grp").as("p_grp"), col("v").as("p_v"),
      col("rn").as("p_rn"))
    val rTrue = est
      .join(probe, col("grp") === col("p_grp") && col("est_v") === col("p_v"))
      .groupBy(col("grp"), col("q_pct"))
      .agg(max(col("p_rn")).as("r_true"))
    est.join(exact, Seq("grp", "q_pct")).join(rTrue, Seq("grp", "q_pct"))
      .select(col("grp"), col("q_pct"), col("kk"), col("est_v"),
        col("exact_v"),
        expr("(1000000 * abs(100 * r_true - q_pct * n)) DIV (100 * n)")
          .as("rank_err_pm"))
      .orderBy(col("grp"), col("q_pct"))
  }
  private val q218Sql =
    s"""WITH $qskItemsSql,
       |${qskKeptSql("items", "whole")},
       |skr AS (
       |  SELECT grp, v,
       |    ROW_NUMBER() OVER (PARTITION BY grp ORDER BY v, k) AS vr,
       |    COUNT(*) OVER (PARTITION BY grp) AS kk
       |  FROM whole
       |), ranked AS (
       |  SELECT grp, v,
       |    ROW_NUMBER() OVER (PARTITION BY grp ORDER BY v, k) AS rn,
       |    COUNT(*) OVER (PARTITION BY grp) AS n
       |  FROM items
       |), qs AS (SELECT unnest(ARRAY[${QskQs.mkString(", ")}]) AS q_pct),
       |est AS (
       |  SELECT grp, q_pct, kk, v AS est_v
       |  FROM skr CROSS JOIN qs
       |  WHERE vr = (q_pct * kk + 99) // 100
       |), ex AS (
       |  SELECT grp, q_pct, n, v AS exact_v
       |  FROM ranked CROSS JOIN qs
       |  WHERE rn = (q_pct * n + 99) // 100
       |), rt AS (
       |  SELECT e.grp, e.q_pct, MAX(r.rn) AS r_true
       |  FROM est e JOIN ranked r ON e.grp = r.grp AND e.est_v = r.v
       |  GROUP BY 1, 2
       |)
       |SELECT e.grp, CAST(e.q_pct AS INTEGER) AS q_pct,
       |  CAST(e.kk AS BIGINT) AS kk, e.est_v, ex.exact_v,
       |  CAST((1000000 * abs(100 * rt.r_true - e.q_pct * ex.n))
       |    // (100 * ex.n) AS BIGINT) AS rank_err_pm
       |FROM est e JOIN ex USING (grp, q_pct) JOIN rt USING (grp, q_pct)
       |ORDER BY e.grp, e.q_pct""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("q217_quantile_sketch", q217, Some(q217Sql)),
    Query("q218_quantile_serve", q218, Some(q218Sql)),
    Query("q183_hll_portable", q183, Some(q183Sql)),
    Query("q135_hist_quantiles", q135, Some(q135Sql)),
    Query("q136_kmv_setops", q136, Some(q136Sql)),
    Query("q138_cms_heavyhitters", q138, Some(q138Sql)),
    Query("q139_bloom_audit", q139, Some(q139Sql)),
    Query("q140_priority_sample", q140, Some(q140Sql)),
    Query("q141_changepoint", q141, Some(q141Sql)),
    Query("q157_trailing_burst", q157, Some(q157Sql)),
    Query("q142_ams_f2", q142, Some(q142Sql)))
}
