package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{FuzzySearch, TextOps}

/** Round-7 approximate-search queries: the fuzzy-name lookup the
  * reference exposes as its player search (`fetcher/query_player.ts:
  * 23-56` — FuzzySearch + cap + per-result stats), re-expressed over the
  * driver's tables: the candidate dictionary is the distinct word
  * vocabulary of part names, the "stats" carried per result are the
  * part count and min part key bearing the word.
  */
object QueriesSearch {

  type Q = (SparkSession, String) => DataFrame

  private val FuzzyQuery = "choclate" // deliberate misspelling
  private val FuzzyK     = 10

  // --- q81: fuzzy dictionary search, top-k by edit distance ------------------
  // One vocab-sized shuffle builds the (word, stats) dictionary; the
  // levenshtein scan + TakeOrdered top-k is ops/FuzzySearch verbatim.
  private val q81: Q = (s, dir) => {
    val words = Tables.part(s, dir)
      .select(explode(split(col("p_name"), " ")).as("word"), col("p_partkey"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n_parts"), min(col("p_partkey")).as("first_key"))
    FuzzySearch.topK(words, "word", FuzzyQuery, FuzzyK)
      .select(col("rank"), col("word"), col("dist"),
        col("n_parts"), col("first_key"))
      .orderBy(col("rank"))
  }
  private val q81Sql =
    s"""WITH words AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS n_parts,
       |    MIN(p_partkey) AS first_key
       |  FROM (SELECT unnest(string_split(p_name, ' ')) AS word, p_partkey
       |        FROM part)
       |  GROUP BY word
       |)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY dist, word) AS INTEGER) AS rank,
       |  word, CAST(dist AS INTEGER) AS dist, n_parts, first_key
       |FROM (
       |  SELECT word, levenshtein(word, '$FuzzyQuery') AS dist,
       |    n_parts, first_key
       |  FROM words
       |  ORDER BY dist, word LIMIT $FuzzyK
       |)
       |ORDER BY rank""".stripMargin

  // --- q110: trigram-Jaccard fuzzy search -------------------------------------
  // The set-similarity complement of q81's edit distance — the pg_trgm
  // model: score = Jaccard of the words' distinct character-trigram
  // sets, as an integer per-mille. Edit distance must SCAN the
  // dictionary (a distance, not a key); trigram search inverts it — the
  // query's trigrams are literals, the dictionary explodes its grams
  // once, and the match is an equi-semi-join on the gram, so at scale
  // this is the classic inverted trigram index: candidates with zero
  // shared grams are never scored (they're unreachable through the
  // index — exactly how a real trigram index behaves; q81 covers the
  // scan-everything semantics). Words shorter than 3 chars have no
  // trigrams and stay out by construction (also dodging Spark's
  // descending sequence(1, 0) trap).
  private val TrigramQuery = "widgt" // "widget" with the 'e' dropped
  private val TrigramK     = 10
  private def trigrams(w: String): Seq[String] =
    (0 to w.length - 3).map(i => w.substring(i, i + 3)).distinct
  private val q110: Q = (s, dir) => {
    val qg = trigrams(TrigramQuery)
    val nq = qg.size
    val inList = qg.map(g => s"'$g'").mkString("(", ", ", ")")
    val words = Tables.part(s, dir)
      .select(explode(split(col("p_name"), " ")).as("word"), col("p_partkey"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n_parts"))
      .filter(length(col("word")) >= 3)
      .withColumn("grams", expr(
        "array_distinct(transform(sequence(1, length(word) - 2), " +
        "i -> substr(word, i, 3)))"))
      .withColumn("ng", size(col("grams")).cast("long"))
    val scored = words
      .select(col("word"), col("n_parts"), col("ng"),
        explode(col("grams")).as("gram"))
      .filter(expr(s"gram IN $inList"))
      .groupBy(col("word"), col("n_parts"), col("ng"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("score_pm", expr(s"(1000 * inter) DIV (ng + $nq - inter)"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("score_pm"), col("word"))
    scored.orderBy(desc("score_pm"), col("word")).limit(TrigramK)
      .withColumn("rank", row_number().over(w))
      .select(col("rank"), col("word"), col("score_pm"),
        col("inter"), col("ng"), col("n_parts"))
      .orderBy(col("rank"))
  }
  private val q110Sql = {
    val qg = trigrams(TrigramQuery)
    val nq = qg.size
    val inList = qg.map(g => s"'$g'").mkString("(", ", ", ")")
    s"""WITH words AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS n_parts
       |  FROM (SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
       |  GROUP BY word HAVING length(word) >= 3
       |), g AS (
       |  SELECT word, n_parts,
       |    CAST(len(list_distinct(list_transform(
       |      generate_series(1, length(word) - 2),
       |      i -> substr(word, i, 3)))) AS BIGINT) AS ng,
       |    unnest(list_distinct(list_transform(
       |      generate_series(1, length(word) - 2),
       |      i -> substr(word, i, 3)))) AS gram
       |  FROM words
       |), scored AS (
       |  SELECT word, n_parts, ng, CAST(COUNT(*) AS BIGINT) AS inter,
       |    (1000 * CAST(COUNT(*) AS BIGINT)) // (ng + $nq - CAST(COUNT(*) AS BIGINT))
       |      AS score_pm
       |  FROM g WHERE gram IN $inList
       |  GROUP BY word, n_parts, ng
       |)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY score_pm DESC, word) AS INTEGER)
       |    AS rank,
       |  word, score_pm, inter, ng, n_parts
       |FROM (SELECT * FROM scored ORDER BY score_pm DESC, word LIMIT $TrigramK)
       |ORDER BY rank""".stripMargin
  }

  // --- q128: BM25-style ranked retrieval, top-k documents --------------------
  // Full-text relevance ranking over the corpus for a fixed multi-term
  // query — the retrieval op a training-data pipeline needs for
  // benchmark-decontamination triage and quality-targeted sampling.
  // Standard Okapi BM25 shape (k1 = 1.2, b = 0.75) with ONE deliberate
  // deviation: the idf factor is the rational (N − df + 0.5)/(df + 0.5)
  // WITHOUT the log — ln() is not correctly-rounded IEEE, so its last
  // ulp may differ across engines, while +, ×, / on doubles converted
  // from exact integers are correctly rounded and bit-identical when
  // written in the same expression shape (the q100 corr_ppm rule). The
  // rational idf is monotone in the same df ordering, so ranking
  // semantics survive; each per-term score is floored to integer micros
  // and the per-doc score is a SUM of BIGINTs — shuffle-order-proof.
  //
  // Scale shape (100 TB): pass 1 is a skinny projection (dl + one tf
  // counter per query term, all map-side codegen) into a single 1-row
  // aggregate; pass 2 re-scans, crossJoins the broadcast 1-row stats
  // (the intended BNLJ), scores map-side, and TakeOrderedAndProject
  // keeps per-partition top-k heaps — no global sort, no full shuffle.
  // The rank window runs over the k survivors only.
  private val Bm25Terms = Seq("spark", "vector", "merge")
  private val Bm25K     = 10
  /** Per-term BM25 micro-score — dialect-neutral SQL shared verbatim by
    * both engines so every IEEE op runs in the same shape. */
  private def bm25Micro(tf: String, df: String): String =
    s"""CAST(FLOOR(1000000.0 *
       |  ((CAST(n_docs - $df AS DOUBLE) + 0.5) / (CAST($df AS DOUBLE) + 0.5)) *
       |  (CAST($tf AS DOUBLE) * 2.2) /
       |  (CAST($tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
       |    (CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(sum_dl AS DOUBLE))))
       |  ) AS BIGINT)""".stripMargin
  private val bm25Score: String =
    Bm25Terms.indices.map(i => s"(${bm25Micro(s"tf$i", s"df$i")})")
      .mkString(" + ")
  private val q128: Q = (s, dir) => {
    val tfCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
      expr(s"CAST(size(filter(toks, x -> x = '$t')) AS BIGINT)").as(s"tf$i") }
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), expr(TextOps.tokensExpr("text")).as("toks"))
      .select(Seq(col("doc_id"), size(col("toks")).cast("long").as("dl")) ++
        tfCols: _*)
    val dfAggs = Bm25Terms.indices.map(i =>
      sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val stats = base.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).as("sum_dl") +: dfAggs): _*)
    val tfOut = Bm25Terms.indices.map(i => col(s"tf$i"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("score_micro"), col("doc_id"))
    base.crossJoin(broadcast(stats))
      .withColumn("score_micro", expr(bm25Score))
      .orderBy(desc("score_micro"), col("doc_id"))
      .limit(Bm25K)
      .withColumn("rank", row_number().over(w))
      .select(Seq(col("rank"), col("doc_id"), col("score_micro"),
        col("dl")) ++ tfOut: _*)
      .orderBy(col("rank"))
  }
  private val q128Sql = {
    val tfSel = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(string_split(text, ' '), x -> x = '$t')) AS BIGINT) AS tf$i"
    }.mkString(",\n    ")
    val dfSel = Bm25Terms.indices.map(i =>
      s"CAST(SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i")
      .mkString(",\n    ")
    val tfOut = Bm25Terms.indices.map(i => s"tf$i").mkString(", ")
    s"""WITH base AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
       |    $tfSel
       |  FROM documents
       |), stats AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(dl) AS BIGINT) AS sum_dl,
       |    $dfSel
       |  FROM base
       |), scored AS (
       |  SELECT doc_id, dl, $tfOut,
       |    $bm25Score AS score_micro
       |  FROM base CROSS JOIN stats
       |)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id)
       |    AS INTEGER) AS rank,
       |  doc_id, score_micro, dl, $tfOut
       |FROM (SELECT * FROM scored ORDER BY score_micro DESC, doc_id LIMIT $Bm25K)
       |ORDER BY rank""".stripMargin
  }

  // --- q143: reciprocal-rank fusion of two retrievers ------------------------
  // THE standard way to combine retrievers without score calibration
  // (Cormack et al.): fused(d) = Σ_r 1/(k0 + rank_r(d)), k0 = 60 —
  // only RANKS cross the fusion boundary, so a micro-scored BM25 and
  // any other retriever compose without normalizing scores. Here:
  // retriever A = the q128 BM25 ranking; retriever B = term-coverage +
  // brevity (distinct query terms present desc, doc length asc) — a
  // deliberately different relevance notion, so fusion reorders.
  // Each 1/(k0+r) term is floored to integer micros (1000000 DIV
  // (k0+r)) and the fused score is their BIGINT sum — cross-engine
  // exact, the q128 discipline. Absent ranks publish as -1, never
  // NULL (nullable ints round-trip as floats in the comparison layer).
  //
  // Scale shape: the skinny (doc_id, dl, tf*) projection is computed
  // ONCE and cached (at 100 TB: materialized); each retriever is a
  // TakeOrderedAndProject top-50 over it (per-partition heaps, no
  // global sort); everything downstream — the full-outer fusion join,
  // the final top-10 — runs on ≤ 100 rows.
  private val RrfK0   = 60
  private val RrfPool = 50
  private val RrfTop  = 10
  private val q143: Q = (s, dir) => {
    val tfCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
      expr(s"CAST(size(filter(toks, x -> x = '$t')) AS BIGINT)").as(s"tf$i") }
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), expr(TextOps.tokensExpr("text")).as("toks"))
      .select(Seq(col("doc_id"), size(col("toks")).cast("long").as("dl")) ++
        tfCols: _*)
      .cache()
    val dfAggs = Bm25Terms.indices.map(i =>
      sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val stats = base.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).as("sum_dl") +: dfAggs): _*)
    val wA = org.apache.spark.sql.expressions.Window
      .orderBy(desc("score_micro"), col("doc_id"))
    val ra = base.crossJoin(broadcast(stats))
      .withColumn("score_micro", expr(bm25Score))
      .orderBy(desc("score_micro"), col("doc_id")).limit(RrfPool)
      .withColumn("rank_a", row_number().over(wA))
      .select(col("doc_id"), col("rank_a"))
    val nTerms = Bm25Terms.indices
      .map(i => s"(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)").mkString(" + ")
    val wB = org.apache.spark.sql.expressions.Window
      .orderBy(desc("n_terms"), col("dl"), col("doc_id"))
    val rb = base.withColumn("n_terms", expr(nTerms))
      .filter(col("n_terms") > 0)
      .orderBy(desc("n_terms"), col("dl"), col("doc_id")).limit(RrfPool)
      .withColumn("rank_b", row_number().over(wB))
      .select(col("doc_id"), col("rank_b"))
    val wF = org.apache.spark.sql.expressions.Window
      .orderBy(desc("rrf_micro"), col("doc_id"))
    ra.join(rb, Seq("doc_id"), "full_outer")
      .withColumn("rrf_micro", expr(
        s"CAST(coalesce(1000000 DIV ($RrfK0 + rank_a), 0) + " +
        s"coalesce(1000000 DIV ($RrfK0 + rank_b), 0) AS BIGINT)"))
      .orderBy(desc("rrf_micro"), col("doc_id")).limit(RrfTop)
      .withColumn("rank", row_number().over(wF))
      .select(col("rank"), col("doc_id"), col("rrf_micro"),
        coalesce(col("rank_a"), lit(-1)).as("rank_a"),
        coalesce(col("rank_b"), lit(-1)).as("rank_b"))
      .orderBy(col("rank"))
  }
  private val q143Sql = {
    val tfSel = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(string_split(text, ' '), x -> x = '$t')) AS BIGINT) AS tf$i"
    }.mkString(",\n    ")
    val dfSel = Bm25Terms.indices.map(i =>
      s"CAST(SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i")
      .mkString(",\n    ")
    val nTerms = Bm25Terms.indices
      .map(i => s"(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH base AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
       |    $tfSel
       |  FROM documents
       |), stats AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(dl) AS BIGINT) AS sum_dl,
       |    $dfSel
       |  FROM base
       |), scored AS (
       |  SELECT doc_id, dl,
       |    $bm25Score AS score_micro
       |  FROM base CROSS JOIN stats
       |), ra AS (
       |  SELECT doc_id,
       |    CAST(ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id) AS INTEGER)
       |      AS rank_a
       |  FROM (SELECT * FROM scored ORDER BY score_micro DESC, doc_id
       |        LIMIT $RrfPool)
       |), covered AS (
       |  SELECT doc_id, dl, $nTerms AS n_terms FROM base
       |), rb AS (
       |  SELECT doc_id,
       |    CAST(ROW_NUMBER() OVER (ORDER BY n_terms DESC, dl, doc_id) AS INTEGER)
       |      AS rank_b
       |  FROM (SELECT * FROM covered WHERE n_terms > 0
       |        ORDER BY n_terms DESC, dl, doc_id LIMIT $RrfPool)
       |), fused AS (
       |  SELECT doc_id,
       |    CAST(COALESCE(1000000 // ($RrfK0 + rank_a), 0) +
       |         COALESCE(1000000 // ($RrfK0 + rank_b), 0) AS BIGINT)
       |      AS rrf_micro,
       |    COALESCE(rank_a, -1) AS rank_a, COALESCE(rank_b, -1) AS rank_b
       |  FROM ra FULL OUTER JOIN rb USING (doc_id)
       |)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf_micro DESC, doc_id)
       |    AS INTEGER) AS rank,
       |  doc_id, rrf_micro, rank_a, rank_b
       |FROM (SELECT * FROM fused ORDER BY rrf_micro DESC, doc_id LIMIT $RrfTop)
       |ORDER BY rank""".stripMargin
  }

  // --- q173: nDCG@k retrieval evaluation ---------------------------------------
  // Is the q128 retriever any good? — the IR-eval operator that closes
  // the retrieval loop: graded relevance from the labeled lang column
  // (en = 2, es = 1, else 0 — a fixed, documented grading), DCG@k of the
  // BM25 ranking, ideal DCG from the corpus-wide grade counts (no
  // corpus sort: the ideal gain sequence is fully determined by n2/n1),
  // and nDCG in floored ppm. Discount weights are the INTEGER constants
  // ⌊1e6/log2(r+1)⌋ for r = 1..k, precomputed once and embedded as the
  // SAME literal table in both engines — no transcendental ever runs in
  // either engine (the q159 Benford-constants convention).
  // Scale: one skinny scored scan with a top-k heap (q128's shape), a
  // k-row join for gains, and two dimension-sized single-row aggregates.
  private val DcgK = 20
  private val dcgW: Seq[Long] =
    (1 to DcgK).map(r => math.floor(1e6 * math.log(2) / math.log(r + 1)).toLong)
  private val q173: Q = (s, dir) => {
    val tfCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
      expr(s"CAST(size(filter(toks, x -> x = '$t')) AS BIGINT)").as(s"tf$i") }
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), expr(TextOps.tokensExpr("text")).as("toks"))
      .select(Seq(col("doc_id"), size(col("toks")).cast("long").as("dl")) ++
        tfCols: _*)
    val dfAggs = Bm25Terms.indices.map(i =>
      sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val stats = base.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).as("sum_dl") +: dfAggs): _*)
    val wA = org.apache.spark.sql.expressions.Window
      .orderBy(desc("score_micro"), col("doc_id"))
    val ranked = base.crossJoin(broadcast(stats))
      .withColumn("score_micro", expr(bm25Score))
      .orderBy(desc("score_micro"), col("doc_id")).limit(DcgK)
      .withColumn("rank", row_number().over(wA))
      .select(col("doc_id"), col("rank"))
    val wArr = s"array(${dcgW.map(w => s"${w}L").mkString(", ")})"
    val relExpr = "CASE WHEN lang = 'en' THEN 2L WHEN lang = 'es' THEN 1L " +
      "ELSE 0L END"
    val rel = Tables.documents(s, dir)
      .select(col("doc_id"), expr(relExpr).as("rel"))
    val dcg = ranked.join(rel, "doc_id")
      .agg(sum(expr(s"element_at($wArr, rank) * rel")).as("dcg_micro"))
    val counts = rel.agg(
      sum(when(col("rel") === 2L, 1L).otherwise(0L)).as("n2"),
      sum(when(col("rel") === 1L, 1L).otherwise(0L)).as("n1"))
    val ideal = s.range(1, DcgK + 1L).select(col("id").as("r"))
      .crossJoin(broadcast(counts))
      .agg(sum(expr(
        s"""element_at($wArr, CAST(r AS INT)) *
           |  (CASE WHEN r <= n2 THEN 2L
           |        WHEN r <= n2 + n1 THEN 1L ELSE 0L END)""".stripMargin))
        .as("idcg_micro"))
    dcg.crossJoin(counts).crossJoin(ideal)
      .select(col("n2"), col("n1"), col("dcg_micro"), col("idcg_micro"),
        expr("(1000000 * dcg_micro) DIV idcg_micro").as("ndcg_ppm"))
  }
  private val q173Sql = {
    val tfSel = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(string_split(text, ' '), x -> x = '$t')) AS BIGINT) AS tf$i"
    }.mkString(",\n    ")
    val dfSel = Bm25Terms.indices.map(i =>
      s"CAST(SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i")
      .mkString(",\n    ")
    val wList = dcgW.map(w => s"CAST($w AS BIGINT)").mkString("[", ", ", "]")
    s"""WITH base AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
       |    $tfSel
       |  FROM documents
       |), stats AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(dl) AS BIGINT) AS sum_dl,
       |    $dfSel
       |  FROM base
       |), ranked AS (
       |  SELECT doc_id,
       |    CAST(ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id)
       |      AS INTEGER) AS rank
       |  FROM (
       |    SELECT doc_id, $bm25Score AS score_micro
       |    FROM base CROSS JOIN stats
       |    ORDER BY score_micro DESC, doc_id LIMIT $DcgK
       |  ) topk
       |), rel AS (
       |  SELECT doc_id,
       |    CAST(CASE WHEN lang = 'en' THEN 2 WHEN lang = 'es' THEN 1
       |      ELSE 0 END AS BIGINT) AS rel
       |  FROM documents
       |), w AS (SELECT $wList AS wl),
       |dcg AS (
       |  SELECT CAST(SUM(wl[rank] * rel) AS BIGINT) AS dcg_micro
       |  FROM ranked JOIN rel USING (doc_id), w
       |), counts AS (
       |  SELECT CAST(SUM(CASE WHEN rel = 2 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n2,
       |    CAST(SUM(CASE WHEN rel = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
       |  FROM rel
       |), ideal AS (
       |  SELECT CAST(SUM(wl[r] *
       |    (CASE WHEN r <= n2 THEN 2 WHEN r <= n2 + n1 THEN 1 ELSE 0 END))
       |    AS BIGINT) AS idcg_micro
       |  FROM (SELECT unnest(generate_series(1, $DcgK)) AS r), counts, w
       |)
       |SELECT n2, n1, dcg_micro, idcg_micro,
       |  (1000000 * dcg_micro) // idcg_micro AS ndcg_ppm
       |FROM dcg, counts, ideal""".stripMargin
  }

  // --- q181: per-query retrieval eval (MRR / recall@k / precision@k) ---------
  // q173 grades ONE ranking with graded relevance; q181 is the batch
  // eval harness over a query SET — one ranking per term (posting-list
  // scoped: only docs containing the term are scored, exactly what an
  // inverted index serves), binary relevance (lang = 'en'), and the
  // three workhorse metrics per query in floored ppm: reciprocal rank
  // of the first relevant hit, recall@k against the corpus-wide
  // relevant count, precision@k. All integer arithmetic — no
  // transcendental, no float division.
  // Scale: tf per (term, doc) from one codegen'd scan; the per-term
  // rankings are a window PARTITIONED BY term (never a global sort);
  // the corpus-wide relevant count is one broadcast scalar.
  private val EvalK = 20
  private val q181: Q = (s, dir) => {
    val termStructs = Bm25Terms.map(t =>
      s"struct('$t' AS term, CAST(size(filter(toks, x -> x = '$t')) AS BIGINT) AS tf)")
      .mkString(", ")
    val posting = Tables.documents(s, dir)
      .select(col("doc_id"),
        expr(TextOps.tokensExpr("text")).as("toks"),
        expr("CASE WHEN lang = 'en' THEN 1L ELSE 0L END").as("rel"))
      .select(col("doc_id"), col("rel"),
        explode(expr(s"array($termStructs)")).as("e"))
      .select(col("e.term").as("term"), col("doc_id"), col("e.tf").as("tf"),
        col("rel"))
      .filter(col("tf") > 0)
    val wTerm = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term")).orderBy(desc("tf"), col("doc_id"))
    val topk = posting.withColumn("rank", row_number().over(wTerm))
      .filter(col("rank") <= EvalK)
    val nRel = Tables.documents(s, dir)
      .agg(sum(expr("CASE WHEN lang = 'en' THEN 1L ELSE 0L END")).as("n_rel"))
    topk.groupBy(col("term"))
      .agg(min(when(col("rel") === 1L, col("rank"))).as("first_rel"),
        sum(col("rel")).as("rel_in_topk"),
        count(lit(1)).as("k_eff"))
      .crossJoin(broadcast(nRel))
      .select(col("term"),
        coalesce(expr("1000000 DIV first_rel"), lit(0L)).as("rr_ppm"),
        expr("(1000000 * rel_in_topk) DIV n_rel").as("recall_ppm"),
        expr(s"(1000000 * rel_in_topk) DIV $EvalK").as("precision_ppm"),
        col("rel_in_topk"), col("k_eff"))
      .orderBy(col("term"))
  }
  private val q181Sql = {
    val termRows = Bm25Terms.map(t =>
      s"""SELECT '$t' AS term, doc_id,
         |  CAST(len(list_filter(string_split(text, ' '), x -> x = '$t'))
         |    AS BIGINT) AS tf,
         |  CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS rel
         |FROM documents""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH posting AS (
       |  SELECT * FROM ($termRows) WHERE tf > 0
       |), topk AS (
       |  SELECT term, doc_id, tf, rel,
       |    ROW_NUMBER() OVER (PARTITION BY term ORDER BY tf DESC, doc_id)
       |      AS rank
       |  FROM posting QUALIFY rank <= $EvalK
       |), nr AS (
       |  SELECT CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_rel
       |  FROM documents
       |)
       |SELECT term,
       |  COALESCE(1000000 // MIN(CASE WHEN rel = 1 THEN rank END),
       |    CAST(0 AS BIGINT)) AS rr_ppm,
       |  (1000000 * CAST(SUM(rel) AS BIGINT)) // (SELECT n_rel FROM nr)
       |    AS recall_ppm,
       |  (1000000 * CAST(SUM(rel) AS BIGINT)) // $EvalK AS precision_ppm,
       |  CAST(SUM(rel) AS BIGINT) AS rel_in_topk,
       |  CAST(COUNT(*) AS BIGINT) AS k_eff
       |FROM topk GROUP BY term ORDER BY term""".stripMargin
  }

  // --- q205: generation-eval n-gram overlap (ROUGE-N / BLEU-style) ----------
  // The retrieval family (q128/q143/q173/q181) grades RANKINGS; nothing
  // graded generated TEXT against a reference — the other half of every
  // eval harness (summarization/translation eval, and the self-BLEU
  // diversity audit run on synthetic pretraining corpora). Classic
  // clipped n-gram overlap (public: Papineni et al. BLEU, Lin ROUGE):
  // candidate = odd doc_id, reference = its even predecessor (pair_id =
  // doc_id DIV 2 — deterministic, no generator dependency; the planted
  // near-dup classes guarantee some high-overlap pairs). Per pair and
  // n ∈ {1,2}: clipped count Σ_g min(cnt_cand g, cnt_ref g), modified
  // precision clip/|cand grams| (BLEU's building block), recall
  // clip/|ref grams| (ROUGE-N), F1 — all floored ppm, zero floats.
  // Published as the per-(n, precision-decile) histogram with pair-id
  // checksums and corpus-level micro sums — every pair's bucket is
  // pinned without corpus-sized output.
  // Scale: grams hashed ONCE per doc (native graft_pos_grams — the
  // composed interpreted-lambda form measured 17.6 s at sf1); the clip
  // is ONE native multiset-intersect eval per candidate/reference pair
  // (graft_clip_count) after a pid equi-join of the two sides — the
  // per-gram-occurrence explode + groupBy + (pair, n, gram) equi-join
  // this replaces shuffled every gram occurrence in the corpus twice.
  // The pair join shuffles each doc's gram arrays once on pid — the
  // co-location any pairwise text comparison needs; histogram is an
  // 11×2-row aggregate.
  private val q205: Q = (s, dir) => {
    val base = Tables.documents(s, dir)
      .select(expr("doc_id DIV 2").as("pid"), expr("doc_id % 2").as("side"),
        expr("graft_pos_grams1(text)").as("g1"),
        expr("graft_pos_grams2(text)").as("g2"))
    val cand = base.filter(col("side") === 1)
      .select(col("pid"), col("g1").as("cg1"), col("g2").as("cg2"))
    val ref = base.filter(col("side") === 0)
      .select(col("pid"), col("g1").as("rg1"), col("g2").as("rg2"))
    cand.join(ref, Seq("pid")) // inner: a candidate without its reference drops
      .select(col("pid"), explode(expr(
        "array(struct(CAST(1 AS BIGINT) AS n, " +
          "graft_clip_count(cg1, rg1) AS clip, " +
          "CAST(size(cg1) AS BIGINT) AS cand_total, " +
          "CAST(size(rg1) AS BIGINT) AS ref_total), " +
        "struct(CAST(2 AS BIGINT) AS n, " +
          "graft_clip_count(cg2, rg2) AS clip, " +
          "CAST(size(cg2) AS BIGINT) AS cand_total, " +
          "CAST(size(rg2) AS BIGINT) AS ref_total))")).as("e"))
      .select(col("pid"), col("e.n").as("n"), col("e.clip").as("clip"),
        col("e.cand_total").as("cand_total"), col("e.ref_total").as("ref_total"))
      .withColumn("p_ppm", expr(
        "CASE WHEN cand_total = 0 THEN CAST(0 AS BIGINT) " +
        "ELSE (1000000 * clip) DIV cand_total END"))
      .withColumn("r_ppm", expr(
        "CASE WHEN ref_total = 0 THEN CAST(0 AS BIGINT) " +
        "ELSE (1000000 * clip) DIV ref_total END"))
      .withColumn("f1_ppm", expr(
        "CASE WHEN p_ppm + r_ppm = 0 THEN CAST(0 AS BIGINT) " +
        "ELSE (2 * p_ppm * r_ppm) DIV (p_ppm + r_ppm) END"))
      .withColumn("bucket", expr("p_ppm DIV 100000"))
      .groupBy(col("n"), col("bucket"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("pid")).as("pair_sig"),
        sum(col("clip")).as("sum_clip"), sum(col("cand_total")).as("sum_cand"),
        sum(col("ref_total")).as("sum_ref"), sum(col("f1_ppm")).as("sum_f1_ppm"))
      .orderBy(col("n"), col("bucket"))
  }
  private val q205Sql = {
    def grams(k: Int) = TextOps.sql.posGramHashes("toks", k)
    s"""WITH t AS (
       |  SELECT doc_id // 2 AS pid, doc_id % 2 AS side,
       |    string_split(text, ' ') AS toks
       |  FROM documents
       |), g AS (
       |  SELECT pid, side, CAST(1 AS BIGINT) AS n, ${grams(1)} AS ghs FROM t
       |  UNION ALL
       |  SELECT pid, side, CAST(2 AS BIGINT) AS n, ${grams(2)} AS ghs FROM t
       |), tot AS (
       |  SELECT pid, side, n, CAST(len(ghs) AS BIGINT) AS total FROM g
       |), cnt AS (
       |  SELECT pid, side, n, gh, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT pid, side, n, unnest(ghs) AS gh FROM g)
       |  GROUP BY pid, side, n, gh
       |), clip AS (
       |  SELECT a.pid, a.n, CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS clip
       |  FROM (SELECT * FROM cnt WHERE side = 1) a
       |  JOIN (SELECT * FROM cnt WHERE side = 0) b USING (pid, n, gh)
       |  GROUP BY a.pid, a.n
       |), pairs AS (
       |  SELECT pid, n, ct.total AS cand_total, rt.total AS ref_total,
       |    COALESCE(clip.clip, 0) AS clip
       |  FROM (SELECT pid, n, total FROM tot WHERE side = 1) ct
       |  JOIN (SELECT pid, n, total FROM tot WHERE side = 0) rt
       |    USING (pid, n)
       |  LEFT JOIN clip USING (pid, n)
       |), m AS (
       |  SELECT pid, n, clip, cand_total, ref_total,
       |    CASE WHEN cand_total = 0 THEN 0
       |      ELSE (1000000 * clip) // cand_total END AS p_ppm,
       |    CASE WHEN ref_total = 0 THEN 0
       |      ELSE (1000000 * clip) // ref_total END AS r_ppm
       |  FROM pairs
       |)
       |SELECT n, p_ppm // 100000 AS bucket,
       |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  CAST(SUM(pid) AS BIGINT) AS pair_sig,
       |  CAST(SUM(clip) AS BIGINT) AS sum_clip,
       |  CAST(SUM(cand_total) AS BIGINT) AS sum_cand,
       |  CAST(SUM(ref_total) AS BIGINT) AS sum_ref,
       |  CAST(SUM(CASE WHEN p_ppm + r_ppm = 0 THEN 0
       |    ELSE (2 * p_ppm * r_ppm) // (p_ppm + r_ppm) END) AS BIGINT)
       |    AS sum_f1_ppm
       |FROM m GROUP BY n, bucket ORDER BY n, bucket""".stripMargin
  }

  val registry: Seq[Query] = Seq(
    Query("q205_rouge_bleu", q205, Some(q205Sql)),
    Query("q181_retrieval_eval", q181, Some(q181Sql)),
    Query("q173_ndcg_eval", q173, Some(q173Sql)),
    Query("q81_fuzzy_search", q81, Some(q81Sql)),
    Query("q143_rrf_fusion", q143, Some(q143Sql)),
    Query("q110_trigram_search", q110, Some(q110Sql)),
    Query("q128_bm25_topk", q128, Some(q128Sql)))
}
