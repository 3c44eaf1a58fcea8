package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{TextOps, VectorOps}

/** Round-6 curation operators: exact-substring dedup accounting (the
  * Lee et al. 2022 "Deduplicating Training Data Makes Language Models
  * Better" counting pass), normalization-aware dedup (Unicode NFC +
  * casefold + whitespace collapse via the native `graft_nfc` Catalyst
  * expression), quantized label-centroid assignment over the embeddings
  * table, and per-document keyword extraction.
  *
  * The synthetic corpus is ASCII and duplicate-free, so q73/q74 inject
  * deterministic fixtures FIRST (the q60 PII precedent: the injection is
  * the test harness, the operator is everything after it) — boilerplate
  * sentences shared across doc_ids for q73, case/spacing/accent variants
  * for q74 — and the oracle reproduces the same injection, so the
  * cross-engine check exercises the real dedup arithmetic on non-trivial
  * collisions.
  *
  * Cross-engine rules as everywhere: integer counters, 60-bit md5 content
  * hashes, at most one final IEEE division per double column.
  */
object QueriesCuration {

  type Q = (SparkSession, String) => DataFrame

  // --- q73: duplicated-n-gram coverage (exact-substring dedup accounting) ----
  // Per document: how many of its token positions are covered by an 8-gram
  // that occurs >= 2 times corpus-wide — the accounting pass of exact
  // substring dedup. Plan shape at 100 TB: positional gram hashes are one
  // cached per-row array expression; the duplicated-gram set is a
  // map-side-combinable count keyed by gram hash; membership flows back as
  // an equi-join on the hash (at real scale a bloom/semi-join — the
  // candidate set is tiny relative to the gram stream); coverage is the
  // 8x explode of MATCHED starts only, never of the full gram stream.
  // The 16-token fixture boilerplate (doc_id % 9) plants 9 interior
  // duplicated 8-grams per hit; grams straddling the splice stay unique.
  private val DupK = 8
  private val Boiler = "terms of service apply to every page served " +
    "from this mirror archive retrieved content is cached"
  private val q73: Q = (s, dir) => {
    val fixture =
      s"CASE WHEN doc_id % 9 = 0 THEN concat(text, ' ', '$Boiler') ELSE text END"
    val mat = Tables.documents(s, dir)
      .select(col("doc_id"), expr(fixture).as("ftext"))
      .repartition(Tables.shufflePartitions(s))
      .withColumn("toks", expr(TextOps.tokensExpr("ftext")))
      .select(col("doc_id"),
        expr("CAST(size(toks) AS BIGINT)").as("n_toks"),
        expr(s"graft_pos_grams$DupK(ftext)").as("ghs"))
      .cache() // explode + base join re-read it; md5 hashing runs once
    val grams = mat
      .select(col("doc_id"), posexplode(col("ghs")).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).as("start"), col("h"))
    val dup = grams.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("h"))
    val cov = grams.join(dup, Seq("h"))
      .select(col("doc_id"), col("start"),
        explode(sequence(col("start"), col("start") + lit(DupK - 1))).as("pos"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("start")).as("n_dup_starts"),
        countDistinct(col("pos")).as("covered_toks"))
    mat.select(col("doc_id"), col("n_toks"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_toks"),
        coalesce(col("n_dup_starts"), lit(0L)).as("n_dup_starts"),
        coalesce(col("covered_toks"), lit(0L)).as("covered_toks"))
      .withColumn("covered_bp",
        expr("covered_toks * 10000 DIV greatest(n_toks, 1)"))
      .orderBy(col("doc_id"))
  }
  private val q73Sql = {
    val toks = TextOps.sql.tokens("ftext")
    s"""WITH f AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 9 = 0 THEN concat(text, ' ', '$Boiler')
       |         ELSE text END AS ftext
       |  FROM documents
       |),
       |t AS (SELECT doc_id, $toks AS toks FROM f),
       |base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks FROM t),
       |grams AS (
       |  SELECT doc_id,
       |    unnest(generate_series(1, len(toks) - ${DupK - 1})) AS start,
       |    unnest(${TextOps.sql.posGramHashes("toks", DupK)}) AS h
       |  FROM t WHERE len(toks) >= $DupK
       |),
       |dup AS (SELECT h FROM grams GROUP BY h HAVING COUNT(*) >= 2),
       |ds AS (SELECT doc_id, start FROM grams JOIN dup USING (h)),
       |cov AS (
       |  SELECT doc_id, CAST(COUNT(DISTINCT start) AS BIGINT) AS n_dup_starts,
       |         CAST(COUNT(DISTINCT pos) AS BIGINT) AS covered_toks
       |  FROM (SELECT doc_id, start,
       |          unnest(generate_series(start, start + ${DupK - 1})) AS pos
       |        FROM ds)
       |  GROUP BY doc_id
       |)
       |SELECT doc_id, n_toks,
       |  COALESCE(n_dup_starts, 0) AS n_dup_starts,
       |  COALESCE(covered_toks, 0) AS covered_toks,
       |  COALESCE(covered_toks, 0) * 10000 // GREATEST(n_toks, 1) AS covered_bp
       |FROM base LEFT JOIN cov USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  // --- q74: normalization-aware dedup ----------------------------------------
  // Unicode NFC (native `graft_nfc` expression — Spark has no built-in
  // normalizer) + casefold + whitespace collapse, then exact dedup on the
  // normalized hash: catches duplicates that differ only in case, spacing,
  // or composed-vs-decomposed accents, which raw-hash dedup (q26) misses.
  // Fixtures: doc_id % 17 -> a spacing/case banner variant (creates real
  // cross-doc normalized collisions, 3 groups), % 11 -> uppercased text,
  // % 19 -> a decomposed-accent suffix (e + U+0301) that NFC composes.
  // Everything per-row is codegen'd (graft_nfc included); the only
  // shuffle is the window over norm_h — exactly the exact-dedup shuffle.
  private val DecomposedCafe = "Café" // e + combining acute
  private val q74: Q = (s, dir) => {
    val fixture =
      s"""CASE WHEN doc_id % 17 = 0
         |       THEN concat('LEGAL   Disclaimer   rev ', CAST(doc_id % 3 AS STRING))
         |     WHEN doc_id % 11 = 0 THEN upper(text)
         |     WHEN doc_id % 19 = 0 THEN concat(text, ' $DecomposedCafe menu')
         |     ELSE text END""".stripMargin
    val w = Window.partitionBy(col("norm_h"))
    Tables.documents(s, dir)
      .select(col("doc_id"), expr(fixture).as("ftext"))
      // testdata parquet is single-row-group → 1-partition scan; spread
      // BEFORE the per-row normalize+hash work (the q73/q75 discipline)
      .repartition(Tables.shufflePartitions(s))
      .withColumn("norm", expr(TextOps.normalizeExpr("ftext")))
      .select(col("doc_id"),
        (col("norm") =!= col("ftext")).as("changed"),
        expr("CAST(length(norm) AS BIGINT)").as("n_chars_norm"),
        expr(TextOps.hash60("norm")).as("norm_h"))
      .withColumn("group_n", count(lit(1)).over(w))
      .withColumn("is_survivor", col("doc_id") === min(col("doc_id")).over(w))
      .orderBy(col("doc_id"))
  }
  private val q74Sql =
    s"""WITH f AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 17 = 0
       |           THEN concat('LEGAL   Disclaimer   rev ', CAST(doc_id % 3 AS VARCHAR))
       |         WHEN doc_id % 11 = 0 THEN upper(text)
       |         WHEN doc_id % 19 = 0 THEN concat(text, ' $DecomposedCafe menu')
       |         ELSE text END AS ftext
       |  FROM documents
       |),
       |n AS (
       |  SELECT doc_id, ftext, ${TextOps.sql.normalize("ftext")} AS norm
       |  FROM f
       |)
       |SELECT doc_id, norm <> ftext AS changed,
       |  CAST(length(norm) AS BIGINT) AS n_chars_norm,
       |  ${TextOps.sql.hash60("norm")} AS norm_h,
       |  COUNT(*) OVER (PARTITION BY ${TextOps.sql.hash60("norm")}) AS group_n,
       |  doc_id = MIN(doc_id) OVER (PARTITION BY ${TextOps.sql.hash60("norm")})
       |    AS is_survivor
       |FROM n ORDER BY doc_id""".stripMargin

  // --- q75: quantized label-centroid assignment ------------------------------
  // Topic-bucketing / classifier-centroid assignment the way a curation
  // pipeline slices a corpus: each embedding scored against every label
  // centroid, argmax wins, output is the label-vs-predicted confusion
  // matrix. All ranking inputs are exact integers — vectors are int8-
  // quantized (q68's formula), centroids are per-(label, dim) INTEGER sums
  // of the quantized codes (order-independent, so any shuffle/combine
  // order gives identical results), dots are integer folds — and the only
  // float is the final fixed-shape cosine (one multiply, one sqrt, one
  // divide: identical doubles on both engines). Scale: the centroid table
  // is (labels x dims) — broadcast; the corpus side is one cached pass +
  // a per-row loop over L centroids; the confusion agg is map-side
  // combinable. Summing per-vector-scaled codes is the documented
  // approximation (exactness of the ARITHMETIC, not centroid fidelity,
  // is what the oracle pins).
  private val q75: Q = (s, dir) => {
    val mat = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        expr(VectorOps.toDoubleExpr("embedding")).as("v"))
      .withColumn("mx", expr("array_max(transform(v, x -> abs(x)))"))
      .withColumn("scale",
        expr("CASE WHEN mx = 0.0D THEN 1.0D ELSE 127.0D / mx END"))
      .withColumn("q",
        expr("transform(v, x -> CAST(floor(x * scale + 0.5D) AS BIGINT))"))
      .select(col("vec_id"), col("label"), col("q"))
      .repartition(Tables.shufflePartitions(s))
      .cache() // read by the centroid agg AND the scoring pass
    // n2c accumulates in DECIMAL(38,0): cv <= 127·N, so cv² overflows
    // int64 at ~24M vectors per label — far below target scale. The
    // decimal sum is exact (like DuckDB's HUGEINT twin); the ONE cast to
    // DOUBLE happens in the score expression. cos(v, Σ) = cos(v, mean),
    // so using sums never changes the ranking.
    val cents = mat
      .select(col("label"), posexplode(col("q")).as(Seq("d", "qv")))
      .groupBy(col("label"), col("d")).agg(sum(col("qv")).as("cv"))
      .groupBy(col("label"))
      .agg(expr("transform(sort_array(collect_list(struct(d, cv))), x -> x.cv)")
        .as("carr"),
        sum(expr("CAST(cv AS DECIMAL(19,0)) * CAST(cv AS DECIMAL(19,0))"))
          .as("n2c"))
      .select(col("label").as("c_label"), col("carr"), col("n2c"))
    // native integer folds (order-independent, bit-identical to the
    // interpreted lambdas); argmax centroid as min(struct(-score,
    // c_label)) — a combinable hash aggregate instead of a row_number
    // window over the corpus×L scored rows (double negation is exact,
    // and the denominator's greatest(..., 1.0) floor rules out NaN)
    mat
      .withColumn("n2v", expr("graft_int_dot(q, q)"))
      .crossJoin(broadcast(cents))
      .withColumn("dot", expr("graft_int_dot(q, carr)"))
      .withColumn("score", expr(
        "CAST(dot AS DOUBLE) / sqrt(greatest(CAST(n2c AS DOUBLE) * CAST(n2v AS DOUBLE), 1.0D))"))
      .groupBy(col("vec_id"), col("label"))
      .agg(min(struct((-col("score")).as("negs"), col("c_label").as("c_label")))
        .as("m"))
      .groupBy(col("label"), col("m.c_label").as("c_label"))
      .agg(count(lit(1)).as("n"))
      .select(col("label"), col("c_label").as("pred_label"), col("n"))
      .orderBy(col("label"), col("pred_label"))
  }
  private val q75Sql =
    s"""WITH e AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |),
       |qz AS (
       |  SELECT vec_id, label,
       |    list_transform(v, x -> CAST(floor(x *
       |      (CASE WHEN list_max(list_transform(v, y -> abs(y))) = 0.0 THEN 1.0
       |            ELSE 127.0 / list_max(list_transform(v, y -> abs(y))) END)
       |      + 0.5) AS BIGINT)) AS q
       |  FROM e
       |),
       |ex AS (
       |  SELECT label, unnest(generate_series(1, len(q))) AS d, unnest(q) AS qv
       |  FROM qz
       |),
       |cs AS (
       |  SELECT label, d, CAST(SUM(qv) AS BIGINT) AS cv FROM ex GROUP BY 1, 2
       |),
       |cents AS (
       |  -- HUGEINT accumulation: cv² overflows int64 at ~24M vectors per
       |  -- label (the Spark side sums DECIMAL(38,0) for the same reason);
       |  -- consumed only through CAST(... AS DOUBLE) in the score
       |  SELECT label AS c_label, list(cv ORDER BY d) AS carr,
       |         SUM(CAST(cv AS HUGEINT) * cv) AS n2c
       |  FROM cs GROUP BY label
       |),
       |vv AS (
       |  SELECT vec_id, label, q,
       |    list_reduce([CAST(0 AS BIGINT)] || list_transform(q, x -> x * x),
       |      (a, b) -> a + b) AS n2v
       |  FROM qz
       |),
       |ranked AS (
       |  SELECT vec_id, label, c_label,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY
       |      CAST(list_reduce([CAST(0 AS BIGINT)] ||
       |             list_transform(generate_series(1, len(q)), i -> q[i] * carr[i]),
       |             (a, b) -> a + b) AS DOUBLE)
       |        / sqrt(GREATEST(CAST(n2c AS DOUBLE) * CAST(n2v AS DOUBLE), 1.0)) DESC,
       |      c_label) AS rn
       |  FROM vv CROSS JOIN cents
       |)
       |SELECT label, c_label AS pred_label, CAST(COUNT(*) AS BIGINT) AS n
       |FROM ranked WHERE rn = 1 GROUP BY 1, 2 ORDER BY label, pred_label""".stripMargin

  // --- q76: per-document keyword extraction ----------------------------------
  // Top-3 tokens per document by the integer tf*(N - df) relevance proxy
  // (q62's inverted-index scoring turned around: doc -> keywords instead
  // of query -> docs; integer because ln() differs in ulps cross-engine).
  // Two map-side-combinable aggregates (tf keyed by (doc, tok), df keyed
  // by tok — df is vocab-sized, broadcast at scale), then a per-doc
  // WindowGroupLimit top-3, never a global sort of the tf stream.
  private val KwTopK = 3
  private val q76: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val tf = d.select(col("doc_id"),
        explode(expr(TextOps.tokensExpr("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      .cache() // feeds both the df rollup and the scoring join — one
               // tokenize pass; (doc, tok, count) is far smaller than text
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = d.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id")).orderBy(desc("score"), col("tok"))
    tf.join(df, Seq("tok")).crossJoin(broadcast(n))
      .withColumn("score", expr("tf * (n_docs - df)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= KwTopK)
      .select(col("doc_id"), col("rank"), col("tok"), col("score"))
      .orderBy(col("doc_id"), col("rank"))
  }
  private val q76Sql = {
    val toks = TextOps.sql.tokens("text")
    s"""WITH tf AS (
       |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM (
       |    SELECT doc_id, unnest($toks) AS tok FROM documents
       |  ) GROUP BY 1, 2
       |),
       |df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
       |scored AS (
       |  SELECT doc_id, tok, tf * (n_docs - df) AS score
       |  FROM tf JOIN df USING (tok) CROSS JOIN n
       |),
       |ranked AS (
       |  SELECT doc_id, tok, score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
       |      ORDER BY score DESC, tok) AS INTEGER) AS rank
       |  FROM scored
       |)
       |SELECT doc_id, rank, tok, score FROM ranked
       |WHERE rank <= $KwTopK ORDER BY doc_id, rank""".stripMargin
  }

  // --- q77: BPE merge application (tokenizer training, step 2) ---------------
  // The iterative step q70 stops short of: APPLY the learned top-1 merge
  // to every distinct word and recount adjacent pairs — one round of the
  // BPE training loop, with the merged symbol carried as a single
  // placeholder char (U+0001, absent from the corpus alphabet) so the
  // post-merge pair scan stays the same 2-char slide as q70. SQL
  // `replace` IS the greedy left-to-right non-overlapping merge on both
  // engines ('aaa' with merge 'aa' -> [aa]a, never a[aa]). The learned
  // pair is a 1-row broadcast; pair counting stays two map-side-
  // combinable aggregates over the distinct-word table (vocab-sized, not
  // corpus-sized). Output renders the placeholder as (pair) for
  // readability and stable cross-engine ordering.
  private val q77: Q = (s, dir) => {
    val words = Tables.documents(s, dir)
      .select(explode(expr(TextOps.tokensExpr("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wf"))
      .filter(length(col("word")) >= 2)
    val top1 = words
      .select(col("wf"), explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("wf")).as("n"))
      .orderBy(desc("n"), col("pair")).limit(1)
      .select(col("pair").as("top_pair"))
    words.crossJoin(broadcast(top1))
      .withColumn("w2", expr("replace(word, top_pair, char(1))"))
      .filter(length(col("w2")) >= 2)
      .select(col("wf"), col("top_pair"), explode(expr(
        "transform(sequence(1, length(w2) - 1), i -> substring(w2, i, 2))"))
        .as("pair"))
      .withColumn("pair_display",
        expr("replace(pair, char(1), concat('(', top_pair, ')'))"))
      .groupBy(col("pair_display")).agg(sum(col("wf")).as("n"))
      .orderBy(desc("n"), col("pair_display")).limit(BpeApplyTopK)
  }
  private val BpeApplyTopK = 20
  private val q77Sql = {
    val toks = TextOps.sql.tokens("text")
    s"""WITH w AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS wf FROM (
       |    SELECT unnest($toks) AS word FROM documents
       |  ) GROUP BY word HAVING length(word) >= 2
       |),
       |p1 AS (
       |  SELECT wf, unnest(list_transform(generate_series(1, length(word) - 1),
       |    i -> substr(word, i, 2))) AS pair
       |  FROM w
       |),
       |top1 AS (
       |  SELECT pair AS top_pair FROM (
       |    SELECT pair, CAST(SUM(wf) AS BIGINT) AS n FROM p1 GROUP BY pair
       |    ORDER BY n DESC, pair LIMIT 1
       |  )
       |),
       |m AS (
       |  SELECT wf, top_pair, replace(word, top_pair, chr(1)) AS w2
       |  FROM w CROSS JOIN top1
       |),
       |p2 AS (
       |  SELECT wf, top_pair,
       |    unnest(list_transform(generate_series(1, length(w2) - 1),
       |      i -> substr(w2, i, 2))) AS pair
       |  FROM m WHERE length(w2) >= 2
       |)
       |SELECT replace(pair, chr(1), concat('(', top_pair, ')')) AS pair_display,
       |  CAST(SUM(wf) AS BIGINT) AS n
       |FROM p2 GROUP BY 1 ORDER BY n DESC, pair_display LIMIT $BpeApplyTopK""".stripMargin
  }

  // --- q79: exact-substring dedup SCRUB (the removal pass) -------------------
  // q73 counts; this removes. Every token position covered by a corpus-
  // duplicated 8-gram is dropped (the aggressive C4-style variant: all
  // copies scrubbed) and the survivors reassemble in order. Plan shape:
  // q73's dup machinery verbatim, then per-doc covered positions collect
  // into ONE array (collect_set — positions per doc, never corpus-wide
  // token explode) and a per-row index filter rebuilds the text; the
  // doc_id join of dup positions back to the cached token arrays is the
  // only extra shuffle.
  private val q79: Q = (s, dir) => {
    val fixture =
      s"CASE WHEN doc_id % 9 = 0 THEN concat(text, ' ', '$Boiler') ELSE text END"
    // delegates to ops/CurationDedup — the same scrub the product
    // pipeline runs, oracle-verified here
    val hashed = graft.ops.CurationDedup.gramHashed(
      Tables.documents(s, dir)
        .select(col("doc_id"), expr(fixture).as("ftext"))
        .repartition(Tables.shufflePartitions(s)),
      "ftext", DupK).cache()
    graft.ops.CurationDedup.scrubbed(hashed, "doc_id", "ftext", DupK)
      .select(col("doc_id"),
        col("n_toks_orig").as("n_toks"),
        col("n_removed_toks").as("n_removed"),
        expr(TextOps.hash60("ftext")).as("clean_h"))
      .orderBy(col("doc_id"))
  }
  private val q79Sql = {
    val toks = TextOps.sql.tokens("ftext")
    s"""WITH f AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 9 = 0 THEN concat(text, ' ', '$Boiler')
       |         ELSE text END AS ftext
       |  FROM documents
       |),
       |t AS (SELECT doc_id, $toks AS toks FROM f),
       |grams AS (
       |  SELECT doc_id,
       |    unnest(generate_series(1, len(toks) - ${DupK - 1})) AS start,
       |    unnest(${TextOps.sql.posGramHashes("toks", DupK)}) AS h
       |  FROM t WHERE len(toks) >= $DupK
       |),
       |dup AS (SELECT h FROM grams GROUP BY h HAVING COUNT(*) >= 2),
       |dp AS (
       |  SELECT doc_id, list(DISTINCT pos) AS dpos FROM (
       |    SELECT doc_id, unnest(generate_series(start, start + ${DupK - 1})) AS pos
       |    FROM grams JOIN dup USING (h)
       |  ) GROUP BY doc_id
       |),
       |c AS (
       |  SELECT t.doc_id, toks, COALESCE(dpos, []) AS dpos
       |  FROM t LEFT JOIN dp USING (doc_id)
       |),
       |o AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
       |    list_transform(list_filter(generate_series(1, len(toks)),
       |      i -> NOT list_contains(dpos, i)), i -> toks[i]) AS kept
       |  FROM c
       |)
       |SELECT doc_id, n_toks,
       |  n_toks - CAST(len(kept) AS BIGINT) AS n_removed,
       |  -- COALESCE: DuckDB array_to_string([]) is NULL, Spark concat_ws
       |  -- is '' — fully-scrubbed docs must hash the empty string alike
       |  ${TextOps.sql.hash60("COALESCE(array_to_string(kept, ' '), '')")} AS clean_h
       |FROM o ORDER BY doc_id""".stripMargin
  }

  // --- q78: deterministic fixed-k evaluation holdout per source --------------
  // Carving a fixed-size eval/holdout set per source the scale-safe way:
  // rank by a CONTENT hash (never rand() — reproducible across runs,
  // engines, cluster sizes, and appends that don't touch the sampled ids)
  // and keep the k smallest per source. One shuffle (the per-source
  // window), WindowGroupLimit caps it at k rows per partition before the
  // sort; the q44/q55 bucket samplers are rate-based — this is the
  // count-based complement an eval harness wants.
  private val HoldoutK = 5
  private val q78: Q = (s, dir) => {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("h"), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("lang"),
        expr("CAST(n_chars AS BIGINT)").as("n_chars"),
        expr(TextOps.hash60("CAST(doc_id AS STRING)")).as("h"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= HoldoutK)
      .select(col("source"), col("rank"), col("doc_id"), col("lang"),
        col("n_chars"))
      .orderBy(col("source"), col("rank"))
  }
  private val q78Sql = {
    val h = TextOps.sql.hash60("CAST(doc_id AS VARCHAR)")
    s"""SELECT source, rank, doc_id, lang, n_chars FROM (
       |  SELECT source, doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY $h, doc_id) AS INTEGER) AS rank
       |  FROM documents
       |)
       |WHERE rank <= $HoldoutK ORDER BY source, rank""".stripMargin
  }

  // --- q102: bigram-LM fluency score (CCNet-style quality proxy) -------------
  // Per document: the average corpus frequency of its word bigrams — the
  // engine-side stand-in for the CCNet/Wikipedia-LM perplexity filter
  // (docs whose n-grams are corpus-common read as fluent; rare-bigram
  // soup reads as garbage). Everything stays integer: a doc's score is
  // (1000 · Σ corpus-count(bigram_i)) DIV n_bigrams — no log-probs, so
  // the cross-engine compare is exact. Plan at 100 TB: positional 2-gram
  // hashes are one per-row array expression; the corpus count table is a
  // map-side-combinable HashAggregate keyed by the 60-bit hash; scoring
  // re-explodes the doc grams and equi-joins the count table on the hash
  // (bigram vocab ≪ gram stream — broadcast- or shuffle-join, AQE's
  // call); the per-doc sum reuses the doc_id grouping. Never O(n²), no
  // window over the gram stream.
  private val q102: Q = (s, dir) => {
    val mat = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"),
        expr(TextOps.tokensExpr("text")).as("toks"))
      .filter(expr("size(toks) >= 2"))
      .repartition(Tables.shufflePartitions(s))
      .select(col("doc_id"),
        expr("graft_pos_grams2(text)").as("ghs"))
      .cache() // count pass + scoring join both explode it; md5 runs once
    val grams = mat.select(col("doc_id"), explode(col("ghs")).as("h"))
    val counts = grams.groupBy(col("h")).agg(count(lit(1)).as("c"))
    grams.join(counts, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("c")).as("total_freq"))
      .select(col("doc_id"), col("n_bigrams"), col("total_freq"),
        expr("(1000 * total_freq) DIV n_bigrams").as("fluency_pm"))
      .orderBy(col("doc_id"))
  }
  private val q102Sql = {
    val t = TextOps.sql.tokens("text")
    s"""WITH toks AS (
       |  SELECT doc_id, $t AS toks FROM documents WHERE len($t) >= 2
       |),
       |bi AS (
       |  SELECT doc_id, unnest(${TextOps.sql.posGramHashes("toks", 2)}) AS h
       |  FROM toks
       |),
       |cnt AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS c FROM bi GROUP BY h)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |  CAST(SUM(c) AS BIGINT) AS total_freq,
       |  (1000 * CAST(SUM(c) AS BIGINT)) // CAST(COUNT(*) AS BIGINT)
       |    AS fluency_pm
       |FROM bi JOIN cnt USING (h)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // --- q177: k-anonymity audit over quasi-identifiers ------------------------
  // The privacy gate a release pipeline runs next to q60's PII scrub:
  // group the customer table by its quasi-identifier tuple — nation,
  // market segment, and account-balance band (exact integer cents DIV
  // the band width, so the band edge is engine-independent) — and
  // profile the equivalence-class sizes. A row in a class smaller than
  // K is re-identifiable by joining public attributes; the histogram
  // (class_size → classes, rows, risky flag) is exactly what a
  // suppression/generalization pass consumes. Scale: two hash
  // aggregations, the second over class-size-many rows — one shuffle of
  // the quasi-id tuple, nothing else; the same shape at 100 TB.
  private val AnonK = 5L
  private val BandCents = 100000L // $1000 balance bands
  private val q177: Q = (s, dir) => {
    val c = Tables.customer(s, dir).select(
      col("c_nationkey").as("nation"),
      col("c_mktsegment").as("segment"),
      expr(s"""(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
              | - ((CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
              |     % $BandCents + $BandCents) % $BandCents)) DIV $BandCents"""
        .stripMargin).as("bal_band"))
    c.groupBy(col("nation"), col("segment"), col("bal_band"))
      .agg(count(lit(1)).as("class_size"))
      .groupBy(col("class_size"))
      .agg(count(lit(1)).as("n_classes"))
      .withColumn("n_rows", expr("class_size * n_classes"))
      .withColumn("risky",
        when(col("class_size") < AnonK, 1L).otherwise(0L))
      .orderBy(col("class_size"))
  }
  private val q177Sql = {
    val cents = "CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)"
    s"""WITH q AS (
       |  SELECT c_nationkey AS nation, c_mktsegment AS segment,
       |    ($cents - (($cents % $BandCents + $BandCents) % $BandCents))
       |      // $BandCents AS bal_band
       |  FROM customer
       |), cls AS (
       |  SELECT nation, segment, bal_band,
       |    CAST(COUNT(*) AS BIGINT) AS class_size
       |  FROM q GROUP BY 1, 2, 3
       |)
       |SELECT class_size, CAST(COUNT(*) AS BIGINT) AS n_classes,
       |  class_size * CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(CASE WHEN class_size < $AnonK THEN 1 ELSE 0 END AS BIGINT)
       |    AS risky
       |FROM cls GROUP BY class_size ORDER BY class_size""".stripMargin
  }

  // --- q187: distribution-matching importance resampler ----------------------
  // The mixture tool q56/q63 don't cover: reshape the corpus so a
  // marginal (here: the length-bucket histogram) matches a TARGET
  // distribution. Per bucket, the acceptance ratio is the classic
  // importance weight target/actual, normalized so the most-under-
  // represented bucket keeps everything (max ratio = 1), then applied
  // as a deterministic content-hash gate (never rand() — same rows
  // survive on any engine/cluster/partitioning). All integer: weights
  // in ppm of exact counts, the normalizing max via a broadcast 1-row
  // aggregate. Published per bucket: before/after counts and shares —
  // the after-shares ARE the proof the marginal moved toward target.
  // Scale: two corpus scans (histogram, then the gated filter) + two
  // buckets-sized aggregates; the gate is map-side codegen.
  private val MatchTargetPpm = Seq(100000L, 200000L, 300000L, 400000L)
  private val q187: Q = (s, dir) => {
    val target = MatchTargetPpm.zipWithIndex
      .map { case (p, b) => s"WHEN $b THEN ${p}L" }
      .mkString("CASE bucket ", " ", " ELSE 0L END")
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        expr("LEAST(CAST(3 AS BIGINT), n_chars DIV 150)").as("bucket"))
    val hist = docs.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_before"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_total"))))
      .withColumn("target_ppm", expr(target))
      // importance score: target share over actual share, scaled exact
      .withColumn("score", expr("(target_ppm * n_total) DIV n_before"))
    val maxScore = hist.agg(max(col("score")).as("max_score"))
    val rates = hist.crossJoin(broadcast(maxScore))
      .withColumn("accept_ppm", expr("(score * 1000000) DIV max_score"))
      .select(col("bucket"), col("n_before"), col("n_total"),
        col("target_ppm"), col("accept_ppm"))
      .localCheckpoint() // buckets-sized; feeds the gate AND the report
    val kept = docs.join(broadcast(rates.select(col("bucket"), col("accept_ppm"))),
        "bucket")
      .filter(expr(
        s"pmod(${TextOps.hash60("concat('dm:', CAST(doc_id AS STRING))")}, 1000000)"
          + " < accept_ppm"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_after"))
    rates.join(kept, Seq("bucket"), "left")
      .select(col("bucket"), col("n_before"),
        expr("(1000000 * n_before) DIV n_total").as("share_before_ppm"),
        col("target_ppm"), col("accept_ppm"),
        coalesce(col("n_after"), lit(0L)).as("n_after"))
      .crossJoin(broadcast(kept.agg(sum(col("n_after")).as("kept_total"))))
      .withColumn("share_after_ppm",
        expr("(1000000 * n_after) DIV kept_total"))
      .drop("kept_total")
      .orderBy(col("bucket"))
  }
  private val q187Sql = {
    val X = TextOps.sql
    val target = MatchTargetPpm.zipWithIndex
      .map { case (p, b) => s"WHEN $b THEN $p" }
      .mkString("CASE bucket ", " ", " ELSE 0 END")
    s"""WITH docs AS (
       |  SELECT doc_id, LEAST(CAST(3 AS BIGINT), n_chars // 150) AS bucket
       |  FROM documents
       |), hist AS (
       |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_before,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM docs) AS n_total,
       |    CAST($target AS BIGINT) AS target_ppm
       |  FROM docs GROUP BY bucket
       |), sc AS (
       |  SELECT *, (target_ppm * n_total) // n_before AS score FROM hist
       |), rates AS (
       |  SELECT *, (score * 1000000) // (SELECT MAX(score) FROM sc)
       |    AS accept_ppm
       |  FROM sc
       |), kept AS (
       |  SELECT d.bucket, CAST(COUNT(*) AS BIGINT) AS n_after
       |  FROM docs d JOIN rates r ON d.bucket = r.bucket
       |  WHERE ${X.hash60("concat('dm:', CAST(doc_id AS VARCHAR))")} % 1000000
       |    < accept_ppm
       |  GROUP BY d.bucket
       |)
       |SELECT r.bucket, n_before,
       |  (1000000 * n_before) // n_total AS share_before_ppm,
       |  target_ppm, accept_ppm,
       |  COALESCE(n_after, 0) AS n_after,
       |  CAST((1000000 * COALESCE(n_after, 0)) //
       |    (SELECT SUM(n_after) FROM kept) AS BIGINT) AS share_after_ppm
       |FROM rates r LEFT JOIN kept k ON r.bucket = k.bucket
       |ORDER BY r.bucket""".stripMargin
  }

  val registry: Seq[Query] = Seq(
    Query("q187_distribution_match", q187, Some(q187Sql)),
    Query("q177_kanonymity", q177, Some(q177Sql)),
    Query("q73_dup_ngram_coverage", q73, Some(q73Sql)),
    Query("q74_normalize_dedup", q74, Some(q74Sql)),
    Query("q75_centroid_assign", q75, Some(q75Sql)),
    Query("q76_doc_keywords", q76, Some(q76Sql)),
    Query("q77_bpe_merge_round2", q77, Some(q77Sql)),
    Query("q78_eval_holdout", q78, Some(q78Sql)),
    Query("q79_dedup_scrub", q79, Some(q79Sql)),
    Query("q102_bigram_fluency", q102, Some(q102Sql)))
}
