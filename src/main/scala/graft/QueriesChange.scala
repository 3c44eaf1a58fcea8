package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.TextOps

/** Round-7 change-data / table-maintenance queries — the operations a
  * pipeline that RE-ingests evolving upstream data needs, extending the
  * reference's idempotent-insert surface (`parse_matches.sh:580-596`
  * re-ingests the same match dumps without duplicating rows; these
  * queries answer "what actually changed between two ingests"):
  *
  *  - q84: set-operator completeness (INTERSECT / EXCEPT cohorts).
  *  - q85: snapshot diff — classify every key as added / removed /
  *    changed / same between two table versions (the audit a CDC merge
  *    emits).
  *  - q86: SCD2 history build — collapse an event log into
  *    validity-interval versions per key (change detection + interval
  *    assembly), the standard dimension-history shape.
  *
  * Scale notes: q84 is two distinct-aggregates + hash set-ops on the key
  * column only (never the payload); q85 is ONE full-outer sort-merge join
  * keyed on the primary key with the row payload pre-hashed to a 60-bit
  * value per side, so the join carries (key, hash) pairs — at 100 TB the
  * shuffle moves 16 bytes/row/side regardless of row width; q86 is two
  * window passes over the same (user_id, ts) ordering — one shuffle,
  * both windows reuse the partitioning.
  */
object QueriesChange {

  type Q = (SparkSession, String) => DataFrame

  // --- q84: INTERSECT / EXCEPT cohort analysis -------------------------------
  // Customers ordering in both 1996 and 1997, only 1996, only 1997.
  // Spark's INTERSECT/EXCEPT plan as left-semi/left-anti joins over
  // distinct aggregates — set semantics, key column only.
  private val q84: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    def yr(y: Int) = o.filter(year(col("o_orderdate")) === y)
      .select(col("o_custkey")).distinct()
    val a = yr(1996)
    val b = yr(1997)
    a.intersect(b).withColumn("tag", lit("both"))
      .unionByName(a.except(b).withColumn("tag", lit("only_1996")))
      .unionByName(b.except(a).withColumn("tag", lit("only_1997")))
      .select(col("tag"), col("o_custkey"))
      .orderBy(col("tag"), col("o_custkey"))
  }
  private val q84Sql =
    """WITH a AS (SELECT DISTINCT o_custkey FROM orders
      |           WHERE year(o_orderdate) = 1996),
      |     b AS (SELECT DISTINCT o_custkey FROM orders
      |           WHERE year(o_orderdate) = 1997)
      |SELECT 'both' AS tag, o_custkey
      |FROM (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)
      |UNION ALL
      |SELECT 'only_1996' AS tag, o_custkey
      |FROM (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
      |UNION ALL
      |SELECT 'only_1997' AS tag, o_custkey
      |FROM (SELECT o_custkey FROM b EXCEPT SELECT o_custkey FROM a)
      |ORDER BY tag, o_custkey""".stripMargin

  // --- q85: snapshot diff (CDC audit) -----------------------------------------
  // Two deterministic "versions" of orders: version A = orders placed
  // before 1999; version B = orders before 2000 (rows APPEAR), minus
  // keys ≡ 0 (mod 101) (rows DISAPPEAR), with o_orderstatus rewritten to
  // 'X' on keys ≡ 0 (mod 97) (rows CHANGE). The diff hashes each row's
  // payload to 60 bits per side BEFORE the full-outer join, then
  // classifies by null/hash pattern. Payload doubles enter the hash as
  // exact integer cents — never engine-formatted float strings.
  private val DiffCutA = "1999-01-01"
  private val DiffCutB = "2000-01-01"
  private def diffPayloadHash(status: String): String =
    TextOps.hash60(
      s"concat_ws('|', $status, CAST(round(o_totalprice * 100) AS BIGINT))")
  private val q85: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val va = o.filter(col("o_orderdate") < lit(DiffCutA).cast("timestamp"))
      .select(col("o_orderkey").as("k"),
        expr(diffPayloadHash("o_orderstatus")).as("ha"))
    val vb = o.filter(col("o_orderdate") < lit(DiffCutB).cast("timestamp"))
      .filter(col("o_orderkey") % 101 =!= 0)
      .select(col("o_orderkey").as("k"),
        expr(diffPayloadHash(
          "CASE WHEN o_orderkey % 97 = 0 THEN 'X' ELSE o_orderstatus END"))
          .as("hb"))
    va.join(vb, Seq("k"), "full_outer")
      .select(col("k"),
        when(col("ha").isNull, "added")
          .when(col("hb").isNull, "removed")
          .when(col("ha") =!= col("hb"), "changed")
          .otherwise("same").as("cls"))
      .groupBy(col("cls"))
      .agg(count(lit(1)).as("n"),
        min(col("k")).as("min_key"), max(col("k")).as("max_key"),
        sum(expr(s"pmod(${TextOps.hash60("CAST(k AS STRING)")}, 1000000000)"))
          .as("key_sig"))
      .orderBy(col("cls"))
  }
  private val q85Sql = {
    def h(status: String) = TextOps.sql.hash60(
      s"concat_ws('|', $status, CAST(round(o_totalprice * 100) AS BIGINT))")
    s"""WITH va AS (
       |  SELECT o_orderkey AS k, ${h("o_orderstatus")} AS ha
       |  FROM orders WHERE o_orderdate < TIMESTAMP '$DiffCutA'
       |),
       |vb AS (
       |  SELECT o_orderkey AS k,
       |    ${h("CASE WHEN o_orderkey % 97 = 0 THEN 'X' ELSE o_orderstatus END")}
       |      AS hb
       |  FROM orders
       |  WHERE o_orderdate < TIMESTAMP '$DiffCutB' AND o_orderkey % 101 <> 0
       |),
       |d AS (
       |  SELECT COALESCE(va.k, vb.k) AS k,
       |    CASE WHEN ha IS NULL THEN 'added'
       |         WHEN hb IS NULL THEN 'removed'
       |         WHEN ha <> hb THEN 'changed'
       |         ELSE 'same' END AS cls
       |  FROM va FULL OUTER JOIN vb ON va.k = vb.k
       |)
       |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n,
       |  MIN(k) AS min_key, MAX(k) AS max_key,
       |  CAST(SUM(${TextOps.sql.hash60("CAST(k AS VARCHAR)")} % 1000000000)
       |    AS BIGINT) AS key_sig
       |FROM d GROUP BY cls ORDER BY cls""".stripMargin
  }

  // --- q86: SCD2 dimension-history build --------------------------------------
  // Collapse the event log into per-user validity intervals of
  // event_type: a version opens where the type CHANGES (lag-detect) and
  // closes at the next version's open (lead; NULL = still current).
  // Output is the per-user history digest — version count, first/last
  // opens, total closed duration, and an order-exact hash of the full
  // (open_us, type) version chain.
  private val q86: Q = (s, dir) => {
    val e = Tables.events(s, dir).select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("ts_us"), col("event_type"))
    val byTime = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val versions = e
      .withColumn("prev_type", lag(col("event_type"), 1).over(byTime))
      .filter(col("prev_type").isNull ||
        col("prev_type") =!= col("event_type"))
      .withColumn("valid_to_us", lead(col("ts_us"), 1).over(
        Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))))
    versions.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_versions"),
        min(col("ts_us")).as("first_from_us"),
        max(col("ts_us")).as("last_from_us"),
        sum(when(col("valid_to_us").isNotNull,
          col("valid_to_us") - col("ts_us")).otherwise(lit(0L)))
          .as("closed_dur_us"),
        expr(TextOps.hash60(
          """array_join(transform(
            |  array_sort(collect_list(struct(ts_us, event_id, event_type))),
            |  x -> concat(CAST(x.ts_us AS STRING), ':', x.event_type)), ',')"""
            .stripMargin)).as("hist_h"))
      .orderBy(col("user_id"))
  }
  private val q86Sql =
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
       |  FROM events
       |),
       |chg AS (
       |  SELECT *, LAG(event_type) OVER w AS prev_type
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
       |),
       |versions AS (
       |  SELECT user_id, event_id, ts_us, event_type,
       |    LEAD(ts_us) OVER w AS valid_to_us
       |  FROM chg
       |  WHERE prev_type IS NULL OR prev_type <> event_type
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
       |)
       |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_versions,
       |  MIN(ts_us) AS first_from_us, MAX(ts_us) AS last_from_us,
       |  CAST(COALESCE(SUM(CASE WHEN valid_to_us IS NOT NULL
       |    THEN valid_to_us - ts_us END), 0) AS BIGINT) AS closed_dur_us,
       |  ${TextOps.sql.hash60(
            "string_agg(ts_us || ':' || event_type, ',' ORDER BY ts_us, event_id)")}
       |    AS hist_h
       |FROM versions GROUP BY user_id ORDER BY user_id""".stripMargin

  // --- q98: UNPIVOT / melt -----------------------------------------------------
  // The inverse of q13's pivot: wide per-group measure columns melted to
  // (group, measure, value) rows via stack() — the reshape every BI
  // export needs. Measures are exact integer cents; the melt itself is a
  // zero-shuffle Expand over the already-aggregated (tiny) frame.
  private val q98: Q = (s, dir) => {
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("price_c"),
        sum(expr("CAST(round(l_discount * 100) AS BIGINT)")).as("discount_c"),
        sum(col("l_quantity").cast("long")).as("qty"))
      .select(col("l_returnflag"), expr(
        """stack(3, 'price_c', price_c, 'discount_c', discount_c,
          |'qty', qty) AS (measure, value)""".stripMargin))
      .orderBy(col("l_returnflag"), col("measure"))
  }
  private val q98Sql =
    """WITH w AS (
      |  SELECT l_returnflag,
      |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |      AS price_c,
      |    CAST(SUM(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
      |      AS discount_c,
      |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      |  FROM lineitem GROUP BY l_returnflag
      |)
      |SELECT l_returnflag, measure, value FROM (
      |  SELECT l_returnflag, 'price_c' AS measure, price_c AS value FROM w
      |  UNION ALL
      |  SELECT l_returnflag, 'discount_c', discount_c FROM w
      |  UNION ALL
      |  SELECT l_returnflag, 'qty', qty FROM w
      |)
      |ORDER BY l_returnflag, measure""".stripMargin

  // --- q99: calendar gap-fill (sparse → dense series) --------------------------
  // Every (priority, day) cell over the full order-date range, zero-filled
  // where no order exists — the densification a time-series consumer
  // (charting, forecasting, window math over REGULAR steps) requires.
  // The day spine is sequence() over the 1-row min/max bounds crossed
  // with the tiny priority dim — dimension-sized work; the corpus
  // contributes one sparse aggregate, then a left join fills gaps.
  private val q99: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
      .select(col("o_orderpriority").as("priority"),
        to_date(col("o_orderdate")).as("day"))
    val sparse = o.groupBy(col("priority"), col("day"))
      .agg(count(lit(1)).as("n_orders"))
    val bounds = o.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val spine = bounds
      .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      .crossJoin(o.select(col("priority")).distinct())
    spine.join(sparse, Seq("priority", "day"), "left")
      .select(col("priority"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"))
      .orderBy(col("priority"), col("day"))
  }
  private val q99Sql =
    """WITH o AS (
      |  SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day
      |  FROM orders
      |),
      |sparse AS (
      |  SELECT priority, day, CAST(COUNT(*) AS BIGINT) AS n_orders
      |  FROM o GROUP BY priority, day
      |),
      |bounds AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM o),
      |spine AS (
      |  SELECT p.priority, CAST(unnest(generate_series(d0, d1,
      |    INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM bounds, (SELECT DISTINCT priority FROM o) p
      |)
      |SELECT priority, strftime(day, '%Y-%m-%d') AS day,
      |  COALESCE(n_orders, CAST(0 AS BIGINT)) AS n_orders
      |FROM spine LEFT JOIN sparse USING (priority, day)
      |ORDER BY priority, day""".stripMargin

  // --- q107: incremental aggregate maintenance (merge ≡ recompute) -----------
  // The materialized-view maintenance step every reporting pipeline at
  // 100 TB needs: a per-month aggregate maintained as BASE (history,
  // aggregated once and stored) merged with DELTA (the new partition)
  // via a full-outer coalesce-sum — and proved identical to the direct
  // full recompute by emitting both side by side (the oracle hash IS the
  // equivalence proof). Only sums/counts (and exact means derived from
  // them at read time) merge this way — ALGEBRAIC aggregates; a median
  // would force the recompute. At scale the base scan disappears
  // entirely (the stored aggregate is months-sized), so each refresh
  // costs O(delta), the same economics as the reference's incremental
  // ingest (parse_matches.sh:580-596) lifted from rows to aggregates.
  private val Cutoff = "1999-01-01"
  private val q107: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        col("o_orderdate"), Exact.cents(col("o_totalprice")).as("cents"))
    def agg(df: DataFrame) = df.groupBy(col("month"))
      .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("c"))
    val base  = agg(o.filter(col("o_orderdate") <  lit(Cutoff).cast("timestamp")))
    val delta = agg(o.filter(col("o_orderdate") >= lit(Cutoff).cast("timestamp")))
    val merged = base.select(col("month"), col("cnt").as("b_cnt"), col("c").as("b_c"))
      .join(delta.select(col("month"), col("cnt").as("d_cnt"), col("c").as("d_c")),
        Seq("month"), "full_outer")
      .select(col("month"),
        (coalesce(col("b_cnt"), lit(0L)) + coalesce(col("d_cnt"), lit(0L))).as("m_cnt"),
        (coalesce(col("b_c"), lit(0L)) + coalesce(col("d_c"), lit(0L))).as("m_cents"))
    val direct = agg(o).select(col("month"),
      col("cnt").as("r_cnt"), col("c").as("r_cents"))
    merged.join(direct, Seq("month"))
      .withColumn("mean_c", expr("m_cents DIV m_cnt"))
      .select(col("month"), col("m_cnt"), col("m_cents"),
        col("r_cnt"), col("r_cents"), col("mean_c"))
      .orderBy(col("month"))
  }
  private val q107Sql =
    s"""WITH o AS (
       |  SELECT strftime(o_orderdate, '%Y-%m') AS month, o_orderdate,
       |    ${Exact.sql.cents("o_totalprice")} AS cents
       |  FROM orders
       |), base AS (
       |  SELECT month, CAST(COUNT(*) AS BIGINT) AS b_cnt,
       |    CAST(SUM(cents) AS BIGINT) AS b_c
       |  FROM o WHERE o_orderdate < TIMESTAMP '$Cutoff' GROUP BY month
       |), delta AS (
       |  SELECT month, CAST(COUNT(*) AS BIGINT) AS d_cnt,
       |    CAST(SUM(cents) AS BIGINT) AS d_c
       |  FROM o WHERE o_orderdate >= TIMESTAMP '$Cutoff' GROUP BY month
       |), merged AS (
       |  SELECT COALESCE(base.month, delta.month) AS month,
       |    COALESCE(b_cnt, 0) + COALESCE(d_cnt, 0) AS m_cnt,
       |    COALESCE(b_c, 0) + COALESCE(d_c, 0) AS m_cents
       |  FROM base FULL OUTER JOIN delta ON base.month = delta.month
       |), direct AS (
       |  SELECT month, CAST(COUNT(*) AS BIGINT) AS r_cnt,
       |    CAST(SUM(cents) AS BIGINT) AS r_cents
       |  FROM o GROUP BY month
       |)
       |SELECT month, m_cnt, m_cents, r_cnt, r_cents,
       |  m_cents // m_cnt AS mean_c
       |FROM merged JOIN direct USING (month)
       |ORDER BY month""".stripMargin

  // --- q176: incremental JOIN-view maintenance (delta-join algebra) ----------
  // q107 lifted from a single-table aggregate to a JOIN view — the other
  // half of materialized-view maintenance. The view is revenue per order
  // priority over orders ⨝ lineitem; a new batch lands on BOTH sides
  // (orders and lineitems at/after the cut date). The classic IVM
  // identity V(O∪ΔO, L∪ΔL) = V(O,L) + [ΔO⋈L + O⋈ΔL + ΔO⋈ΔL] is
  // computed literally: the stored old term plus the three delta joins,
  // merged full-outer per group — and the oracle recomputes the same
  // old/delta split from scratch with conditional aggregation, so the
  // hash match IS the proof the delta algebra loses and double-counts
  // nothing (the three delta terms partition the new rows exactly).
  // Scale: each delta join keys a delta-sized side against one fact
  // table — with both facts bucketed by orderkey (q105 discipline) the
  // joins co-locate at the scan, and ΔO⋈L prunes its L scan with a
  // runtime bloom on the delta keys (the RuntimeFilterSpec path). The
  // old term never recomputes at scale (it IS the stored view); here it
  // runs once so the published result is the full refreshed view.
  private val IvmCut = "1998-06-01"
  private val q176: Q = (s, dir) => {
    val o = Tables.orders(s, dir).select(col("o_orderkey"),
      col("o_orderpriority").as("priority"),
      (col("o_orderdate") >= lit(IvmCut).cast("timestamp")).as("o_new"))
    val l = Tables.lineitem(s, dir).select(col("l_orderkey"),
      Exact.cents(col("l_extendedprice")).as("cents"),
      (col("l_shipdate") >= lit(IvmCut).cast("timestamp")).as("l_new"))
    def term(oNew: Boolean, lNew: Boolean) =
      o.filter(col("o_new") === lit(oNew))
        .join(l.filter(col("l_new") === lit(lNew)),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("priority"), col("cents"))
    val old = term(oNew = false, lNew = false).groupBy(col("priority"))
      .agg(count(lit(1)).as("old_cnt"), sum(col("cents")).as("old_cents"))
    val delta = term(oNew = true, lNew = false)
      .union(term(oNew = false, lNew = true))
      .union(term(oNew = true, lNew = true))
      .groupBy(col("priority"))
      .agg(count(lit(1)).as("delta_cnt"), sum(col("cents")).as("delta_cents"))
    old.join(delta, Seq("priority"), "full_outer")
      .select(col("priority"),
        coalesce(col("old_cnt"), lit(0L)).as("old_cnt"),
        coalesce(col("old_cents"), lit(0L)).as("old_cents"),
        coalesce(col("delta_cnt"), lit(0L)).as("delta_cnt"),
        coalesce(col("delta_cents"), lit(0L)).as("delta_cents"))
      .withColumn("total_cnt", expr("old_cnt + delta_cnt"))
      .withColumn("total_cents", expr("old_cents + delta_cents"))
      .orderBy(col("priority"))
  }
  private val q176Sql =
    s"""WITH j AS (
       |  SELECT o_orderpriority AS priority,
       |    ${Exact.sql.cents("l_extendedprice")} AS cents,
       |    (o_orderdate >= TIMESTAMP '$IvmCut') AS o_new,
       |    (l_shipdate >= TIMESTAMP '$IvmCut') AS l_new
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |)
       |SELECT priority,
       |  CAST(SUM(CASE WHEN NOT o_new AND NOT l_new THEN 1 ELSE 0 END)
       |    AS BIGINT) AS old_cnt,
       |  CAST(COALESCE(SUM(CASE WHEN NOT o_new AND NOT l_new THEN cents END),
       |    0) AS BIGINT) AS old_cents,
       |  CAST(SUM(CASE WHEN o_new OR l_new THEN 1 ELSE 0 END)
       |    AS BIGINT) AS delta_cnt,
       |  CAST(COALESCE(SUM(CASE WHEN o_new OR l_new THEN cents END),
       |    0) AS BIGINT) AS delta_cents,
       |  CAST(COUNT(*) AS BIGINT) AS total_cnt,
       |  CAST(SUM(cents) AS BIGINT) AS total_cents
       |FROM j GROUP BY priority ORDER BY priority""".stripMargin

  // --- q191: incremental sessionization (state carry-over across batches) ----
  // The batch analog of streaming/StreamSessionize's state discipline,
  // and q176's IVM story lifted to a NON-algebraic operator: sessions
  // don't merge by coalesce-sum — a session spanning the batch boundary
  // must be STITCHED. The incremental run sessionizes each batch
  // independently, carries each user's LAST session as state, merges a
  // second-batch session into it only when the boundary gap stays under
  // the threshold, and renumbers the remainder. The oracle sessionizes
  // the whole log from scratch, so the hash match proves the carry-over
  // algebra (stitch + offset) loses nothing at the seam.
  // Scale: ONE user-keyed exchange total. Both batches sessionize in a
  // single window pass (the batch tag leads the ordering and forces a
  // session break at the cut, so per-batch assignment is bit-identical
  // to sessionizing each batch alone), and the stitch runs as per-user
  // window algebra over the per-session rollup — same partitioning, so
  // the former second scan + state join + anti-join all collapse into
  // the one exchange. The stitch algebra itself (merge condition,
  // absorb-state, renumber) is unchanged and oracle-pinned: the global
  // session ordinal g equals batch-1's seq on batch-1 rows, and the
  // batch-2 output seq st_seq + seq₂ − merged telescopes to
  // g − merged (seq₂ = g − st_seq by construction).
  private val SessCut = "2024-01-16 00:00:00"
  private val SessGapSec = 7200L
  private val q191: Q = (s, dir) => {
    val cut = lit(SessCut).cast("timestamp")
    val e = Tables.events(s, dir).select(col("user_id"), col("ts"),
      col("event_id"), Exact.cents(col("value")).as("cents"),
      when(col("ts") < cut, 0).otherwise(1).as("b"))
    val tsUs = unix_micros(col("ts"))
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("b"), col("ts"), col("event_id"))
    val prevUs = lag(tsUs, 1).over(wOrd)
    val prevB = lag(col("b"), 1).over(wOrd)
    val newFlag = when(prevUs.isNull || prevB =!= col("b") ||
      tsUs - prevUs >= SessGapSec * 1000000L, 1).otherwise(0)
    val sess = e
      .withColumn("g", sum(newFlag).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("g"))
      .agg(max(col("b")).as("b"), // constant per session (never spans the cut)
        count(lit(1)).as("n_events"),
        min(tsUs).as("start_us"),
        max(tsUs).as("end_us"),
        sum(col("cents")).as("sum_cents"))
    // Per-user stitch, all on the same hash(user_id) partitioning:
    // the state row is the last batch-1 session; the first batch-2
    // session merges into it iff the boundary gap stays under the
    // threshold (prev row in g order IS the state row exactly when
    // prev_b=0 ∧ b=1, because g is contiguous per user).
    val wSeq = Window.partitionBy(col("user_id")).orderBy(col("g"))
    val wu = Window.partitionBy(col("user_id"))
    val stitched = sess
      .withColumn("pb", lag(col("b"), 1).over(wSeq))
      .withColumn("pend", lag(col("end_us"), 1).over(wSeq))
      .withColumn("pstart", lag(col("start_us"), 1).over(wSeq))
      .withColumn("pn", lag(col("n_events"), 1).over(wSeq))
      .withColumn("psum", lag(col("sum_cents"), 1).over(wSeq))
      .withColumn("merges", col("b") === 1 && col("pb") === 0 &&
        (col("start_us") - col("pend")) < SessGapSec * 1000000L)
      .withColumn("user_merges",
        max(when(col("merges"), 1L).otherwise(0L)).over(wu))
      .withColumn("absorbed", // the state row a batch-2 session absorbs
        col("b") === 0 && col("user_merges") === 1L &&
          lead(col("b"), 1, 1).over(wSeq) === 1)
    stitched.filter(!col("absorbed"))
      .select(col("user_id"),
        when(col("b") === 1, col("g") - col("user_merges"))
          .otherwise(col("g")).as("session_seq"),
        when(col("merges"), col("pn") + col("n_events"))
          .otherwise(col("n_events")).as("n_events"),
        when(col("merges"), col("pstart")).otherwise(col("start_us"))
          .as("start_us"),
        col("end_us"),
        when(col("merges"), col("psum") + col("sum_cents"))
          .otherwise(col("sum_cents")).as("sum_cents"))
      .orderBy(col("user_id"), col("session_seq"))
  }
  private val q191Sql =
    s"""WITH x AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       |    ${Exact.sql.cents("value")} AS cents,
       |    CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
       |           OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w
       |              >= CAST($SessGapSec AS BIGINT) * 1000000 THEN 1
       |      ELSE 0 END AS flag
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
       |), sq AS (
       |  SELECT *, CAST(SUM(flag) OVER (PARTITION BY user_id
       |    ORDER BY ts_us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS session_seq
       |  FROM x
       |)
       |SELECT user_id, session_seq, CAST(COUNT(*) AS BIGINT) AS n_events,
       |  MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
       |  CAST(SUM(cents) AS BIGINT) AS sum_cents
       |FROM sq GROUP BY user_id, session_seq
       |ORDER BY user_id, session_seq""".stripMargin

  // --- q192: partition-checksum diff (Merkle-style changed-partition scan) ---
  // q85 diffs at ROW granularity — an O(n) full-outer join every time.
  // What a lakehouse does first is cheaper: per-PARTITION order-
  // independent checksums (SUM of bounded row hashes + count — the
  // commutative digest an engine can maintain incrementally), compared
  // across versions to find WHICH partitions changed, then only those
  // re-aggregated (the table-format manifest-diff discipline: the
  // unchanged months' data is never re-read at refresh). Published: per
  // month, the verdict (same/changed/added/removed), both row counts,
  // and the refreshed revenue for non-same months from version B.
  // Scale: two month-keyed hash aggregates (the checksums), a months-
  // sized join, and a re-aggregation scanning ONLY changed months.
  private val q192: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    def rowHash(status: String) = expr(s"pmod(${TextOps.hash60(
      s"concat_ws('|', CAST(o_orderkey AS STRING), $status, " +
        "CAST(round(o_totalprice * 100) AS BIGINT))")}, 1000000000)")
    def sums(df: DataFrame, status: String) = df
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n"), sum(rowHash(status)).as("sig"))
    val va = sums(
      o.filter(col("o_orderdate") < lit(DiffCutA).cast("timestamp")),
      "o_orderstatus")
    val vbRows = o
      .filter(col("o_orderdate") < lit(DiffCutB).cast("timestamp"))
      .filter(col("o_orderkey") % 101 =!= 0)
    val vb = sums(vbRows,
      "CASE WHEN o_orderkey % 97 = 0 THEN 'X' ELSE o_orderstatus END")
    val diff = va.select(col("month"), col("n").as("n_a"), col("sig").as("sig_a"))
      .join(vb.select(col("month"), col("n").as("n_b"), col("sig").as("sig_b")),
        Seq("month"), "full_outer")
      .withColumn("status",
        when(col("sig_a").isNull, "added")
          .when(col("sig_b").isNull, "removed")
          .when(col("sig_a") === col("sig_b") && col("n_a") === col("n_b"),
            "same")
          .otherwise("changed"))
      .localCheckpoint() // months-sized; feeds the refresh filter + output
    val changedMonths = diff.filter(col("status") =!= "same")
      .select(col("month"))
    // the O(changed) refresh: only non-same months of version B re-read
    val refreshed = vbRows
      .withColumn("month", date_format(col("o_orderdate"), "yyyy-MM"))
      .join(broadcast(changedMonths), Seq("month"))
      .groupBy(col("month"))
      .agg(sum(Exact.cents(col("o_totalprice"))).as("refreshed_cents"))
    diff.join(refreshed, Seq("month"), "left")
      .select(col("month"), col("status"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        coalesce(col("refreshed_cents"), lit(0L)).as("refreshed_cents"))
      .orderBy(col("month"))
  }
  private val q192Sql = {
    def h(status: String) = TextOps.sql.hash60(
      s"concat_ws('|', CAST(o_orderkey AS VARCHAR), $status, " +
        "CAST(round(o_totalprice * 100) AS BIGINT))") + " % 1000000000"
    s"""WITH va AS (
       |  SELECT strftime(o_orderdate, '%Y-%m') AS month,
       |    CAST(COUNT(*) AS BIGINT) AS n_a,
       |    CAST(SUM(${h("o_orderstatus")}) AS BIGINT) AS sig_a
       |  FROM orders WHERE o_orderdate < TIMESTAMP '$DiffCutA'
       |  GROUP BY 1
       |), vbr AS (
       |  SELECT * FROM orders
       |  WHERE o_orderdate < TIMESTAMP '$DiffCutB' AND o_orderkey % 101 <> 0
       |), vb AS (
       |  SELECT strftime(o_orderdate, '%Y-%m') AS month,
       |    CAST(COUNT(*) AS BIGINT) AS n_b,
       |    CAST(SUM(${h(
      "CASE WHEN o_orderkey % 97 = 0 THEN 'X' ELSE o_orderstatus END")})
       |      AS BIGINT) AS sig_b
       |  FROM vbr GROUP BY 1
       |), d AS (
       |  SELECT COALESCE(va.month, vb.month) AS month,
       |    CASE WHEN sig_a IS NULL THEN 'added'
       |         WHEN sig_b IS NULL THEN 'removed'
       |         WHEN sig_a = sig_b AND n_a = n_b THEN 'same'
       |         ELSE 'changed' END AS status,
       |    COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
       |  FROM va FULL OUTER JOIN vb ON va.month = vb.month
       |), refreshed AS (
       |  SELECT strftime(o_orderdate, '%Y-%m') AS month,
       |    CAST(SUM(${Exact.sql.cents("o_totalprice")}) AS BIGINT)
       |      AS refreshed_cents
       |  FROM vbr
       |  WHERE strftime(o_orderdate, '%Y-%m') IN
       |    (SELECT month FROM d WHERE status <> 'same')
       |  GROUP BY 1
       |)
       |SELECT d.month, status, n_a, n_b,
       |  COALESCE(refreshed_cents, 0) AS refreshed_cents
       |FROM d LEFT JOIN refreshed ON d.month = refreshed.month
       |ORDER BY d.month""".stripMargin
  }

  // --- q113: SCD2 point-in-time lookup (dimension version as-of fact time) ---
  // The consumption side of q86's history build — THE classic warehouse
  // join: each fact row picks the dimension version valid AT ITS OWN
  // event time, never today's version (joining the current version
  // back-dates attributes and leaks the future into training data —
  // the point-in-time-correctness rule feature stores enforce). Facts
  // are purchase events; the dimension is the user's change-detected
  // non-purchase activity state. The lookup is ops/AsofJoin (union +
  // one window pass — one user_id shuffle, never an inequality join);
  // the DuckDB twin runs its native ASOF LEFT JOIN with the right side
  // deduped to max(ver_id) per (user, ts) — AsofJoin's documented tie
  // rule. Purchases before any state version keep an explicit sentinel
  // (left-join semantics made hash-comparable).
  private val q113: Q = (s, dir) => {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
    val byTime = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val versions = e.filter(col("event_type") =!= "purchase")
      .withColumn("prev_type", lag(col("event_type"), 1).over(byTime))
      .filter(col("prev_type").isNull ||
        col("prev_type") =!= col("event_type"))
      .select(col("user_id"), col("ts"),
        col("event_id").as("ver_id"), col("event_type").as("state"))
    val facts = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
    graft.ops.AsofJoin.latestAtOrBefore(facts, versions, "user_id", "ts",
        Seq("state", "ver_id"), "ver_id")
      .select(col("purchase_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        coalesce(col("asof_state"), lit("none")).as("state"),
        coalesce(col("asof_ver_id"), lit(-1L)).as("ver_id"))
      .orderBy(col("purchase_id"))
  }
  private val q113Sql =
    """WITH e AS (
      |  SELECT user_id, event_id, ts, event_type FROM events
      |),
      |chg AS (
      |  SELECT *, LAG(event_type) OVER
      |    (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |  FROM e WHERE event_type <> 'purchase'
      |),
      |v0 AS (
      |  SELECT user_id, ts, event_id AS ver_id, event_type AS state
      |  FROM chg WHERE prev_type IS NULL OR prev_type <> event_type
      |),
      |v AS (
      |  SELECT user_id, ts, MAX(ver_id) AS ver_id,
      |    arg_max(state, ver_id) AS state
      |  FROM v0 GROUP BY user_id, ts
      |),
      |p AS (
      |  SELECT user_id, ts, event_id AS purchase_id FROM e
      |  WHERE event_type = 'purchase'
      |)
      |SELECT p.purchase_id, p.user_id, epoch_us(p.ts) AS ts_us,
      |  COALESCE(v.state, 'none') AS state,
      |  COALESCE(v.ver_id, -1) AS ver_id
      |FROM p ASOF LEFT JOIN v
      |  ON p.user_id = v.user_id AND p.ts >= v.ts
      |ORDER BY purchase_id""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("q84_set_ops", q84, Some(q84Sql)),
    Query("q85_snapshot_diff", q85, Some(q85Sql)),
    Query("q86_scd2_history", q86, Some(q86Sql)),
    Query("q98_unpivot", q98, Some(q98Sql)),
    Query("q99_gap_fill", q99, Some(q99Sql)),
    Query("q107_incremental_agg", q107, Some(q107Sql)),
    Query("q113_scd2_lookup", q113, Some(q113Sql)),
    Query("q176_ivm_join_view", q176, Some(q176Sql)),
    Query("q191_incr_sessionize", q191, Some(q191Sql)),
    Query("q192_partition_diff", q192, Some(q192Sql)))
}
