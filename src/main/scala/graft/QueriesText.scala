package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{LinearTrain, Multimodal, TextOps}


/** Text-analysis + multimodal + remaining relational operators:
  * language-ID heuristic, quality scoring, token counting, document
  * fingerprinting (winnowing), binary-column decode plumbing, tie-aware
  * records (SURVEY.md §2.6 T5), and token explode (§2.8 json_each analog).
  *
  * All scoring is integer counts + a single final IEEE division, mirrored
  * verbatim in the DuckDB oracle — see [[Exact]] for the rationale.
  */
object QueriesText {

  type Q = (SparkSession, String) => DataFrame

  // Per-language stopword lists for the n-gram/stopword language-ID
  // heuristic. Priority order breaks score ties deterministically.
  private val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and"),
    "es" -> Seq("el", "la", "de", "los"),
    "fr" -> Seq("le", "la", "de", "et"),
    "de" -> Seq("der", "die", "das", "und"))

  private def inList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("(", ", ", ")")

  /** The heuristic's prediction CASE over the s_<lang> score columns —
    * shared by q33 (its own surface) and q212 (the audit column next to
    * the trained model's prediction). */
  private def heurPredictedCase: String = {
    val others = stopwords.map(_._1)
    stopwords.map { case (lang, _) =>
      val geAll = others.filter(_ != lang).map(o => s"s_$lang >= s_$o")
        .mkString(" AND ")
      s"WHEN s_$lang > 0 AND $geAll THEN '$lang'"
    }.mkString("CASE ", " ", " ELSE 'und' END")
  }

  /** Adds the per-language stopword-hit score columns (tokenizing once
    * into `toks`). */
  private def heurScored(d: DataFrame): DataFrame =
    stopwords.foldLeft(
      d.withColumn("toks", expr(TextOps.tokensExpr("text")))) {
      case (acc, (lang, ws)) =>
        acc.withColumn(s"s_$lang",
          expr(s"CAST(size(filter(toks, t -> t IN ${inList(ws)})) AS BIGINT)"))
    }

  /** DuckDB twin of [[heurScored]]'s score columns. */
  private def heurScoresSql: String = {
    val toks = TextOps.sql.tokens("text")
    stopwords.map { case (lang, ws) =>
      s"CAST(len(list_filter($toks, t -> t IN ${inList(ws)})) AS BIGINT) AS s_$lang"
    }.mkString(",\n")
  }

  // --- q33: language identification (stopword-hit heuristic) -----------------
  // The token array is materialized ONCE into a `toks` column and the four
  // score columns filter that attribute — Catalyst's CollapseProject keeps
  // the two projections separate (it refuses to duplicate a non-cheap alias
  // used 4×), so the plan tokenizes each row exactly once (PlanSpec pins
  // the single split).
  private val q33: Q = (s, dir) => {
    val scored = heurScored(Tables.documents(s, dir))
    scored
      .select(col("doc_id") +: col("lang").as("labeled_lang") +:
        stopwords.map { case (l, _) => col(s"s_$l") } :+
        expr(heurPredictedCase).as("predicted_lang"): _*)
      .orderBy(col("doc_id"))
  }
  private val q33Sql = {
    val others = stopwords.map(_._1)
    s"""WITH scored AS (
       |  SELECT doc_id, lang AS labeled_lang,
       |$heurScoresSql
       |  FROM documents
       |)
       |SELECT doc_id, labeled_lang, ${others.map(l => s"s_$l").mkString(", ")},
       |  $heurPredictedCase AS predicted_lang
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  // --- q211/q212, q215/q216: multi-class lang-id TRAINED IN-ENGINE -----------
  // The production replacement for q33's stopword heuristic: a
  // one-vs-rest linear classifier over hashed CHARACTER-TRIGRAM counts
  // (the published CCNet/fastText-class signal), trained by
  // ops/LinearTrain's exact-integer standardized LS-GD — one weight
  // vector per class, every truncation point pinned, so the DuckDB twin
  // replays every class's training bit-for-bit (the q203 convention,
  // ×|classes|). Training and serving run through LinearTrain's
  // counts-array kernels: one native feature eval per doc, then all
  // classes per GD round in ONE mapPartitions pass with (B+1)·k dense
  // accumulators and a k×(B+1) driver collect — no explode, no per-round
  // shuffle; the class count never touches the scan/shuffle structure.
  // The train query publishes the trained state (per class per bucket);
  // the eval query serves it: per-doc argmax margin, ties to the
  // lexicographically smallest class (the same rule both engines
  // generate), published as a confusion matrix.
  //
  // Two configs share one builder. q211/q212: the 5 corpus languages at
  // B = 64, with q33's heuristic as q212's audit column (n_heur_agree).
  // q215/q216, the breadth proof: 20 classes at B = 256 — synthetic
  // sub-languages cls = lang || '_' || (doc_id % 4), each a disjoint
  // training subset that KEEPS its parent language's trigram signal,
  // the hard case for one-vs-rest (the 4 sub-classes of one language are
  // near-indistinguishable, so margin mass must spread across them).
  // Measured (local[32], best-of-2 via Bench, 2026-08-16): sf0.1 —
  // q211+q212 1.01+1.28 = 2.30 s; q215+q216 1.18+1.30 = 2.47 s → 1.08×
  // for a 16× larger (k·B) model. sf1 (50k docs) — 2.09+4.25 = 6.33 s vs
  // 4.18+5.56 = 9.74 s → 1.54×: at 10× the corpus the in-scan
  // accumulator arithmetic (k·(B+1) adds per doc per round) begins to
  // show, still ~10× cheaper than proportional scaling.

  /** One lang-id config: `prefix` names its DuckDB CTEs, `memoKey` its
    * trained-state memo slot, `classes` (sorted: the tie-break order)
    * its labels; a doc's class is `clsExpr` in Spark and `clsSql` in
    * DuckDB, its features the hashed char-trigram counts at `buckets`
    * width. */
  private final case class LangId(prefix: String, memoKey: String,
                                  classes: Seq[String], buckets: Int,
                                  clsExpr: String, clsSql: String) {

    /** One row per doc: (doc_id, cls, cnts), `cnts` the (B+1)-long
      * hashed char-trigram count ARRAY (bias 1 at index B) from the
      * native [[graft.functions.TrigramBucketCounts]] — one compiled
      * per-row loop, zero shuffle (the composed lambda+explode+groupBy
      * feature pass measured 83 s at sf1 against ~2 s for it). */
    def cnts(s: SparkSession, dir: String): DataFrame =
      Tables.documents(s, dir).select(col("doc_id"), expr(clsExpr).as("cls"),
        expr(s"graft_trigram_buckets$buckets(text)").as("cnts"))

    /** Trained states from the session memo; a miss trains over `base`,
      * cached for the kernel's stats pass and its GD round passes. */
    def states(s: SparkSession, dir: String,
               base: DataFrame): Map[String, LinearTrain.State] =
      LinearTrain.cachedStates(s, s"$memoKey:$dir", dir) {
        base.cache()
        try LinearTrain.trainMultiFromCounts(base, "cls", "cnts", classes,
          buckets)
        finally { base.unpersist(); () }
      }

    /** Per-doc (doc_id, cls, predicted_cls). */
    def predict(s: SparkSession, dir: String): DataFrame = {
      val base = cnts(s, dir)
      val st = states(s, dir, base)
      LinearTrain.predictFromCounts(base, "doc_id", "cls", "cnts",
        classes.map(c => c -> st(c)))
    }

    /** The train query: (cls, b, sx, sxx, d, w), bias at b = buckets. */
    val train: Q = (s, dir) => {
      val spark = s
      import spark.implicits._
      val st = states(s, dir, cnts(s, dir))
      classes.flatMap { c =>
        (0 until buckets).map(b =>
          (c, b.toLong, st(c).sx(b), st(c).sxx(b), st(c).d(b), st(c).w(b))) :+
          ((c, buckets.toLong, 0L, 0L, 0L, st(c).w(buckets)))
      }.toDF("cls", "b", "sx", "sxx", "d", "w")
        .orderBy(col("cls"), col("b"))
    }

    /** DuckDB: the trigram-feature base + one
      * [[LinearTrain.sql.chainCtes]] per class (prefix `<prefix><cls>_`). */
    def chainsSql: String = {
      val chains = classes.map { c =>
        LinearTrain.sql.chainCtes(s"$prefix${c}_",
          s"""SELECT doc_id, CASE WHEN cls = '$c' THEN 1 ELSE -1 END AS y,
             |    b, cnt FROM ${prefix}_base""".stripMargin,
          "SELECT COUNT(*) FROM documents", buckets)
      }.mkString(",\n")
      s"""${prefix}_cs AS (
         |  SELECT doc_id, $clsSql AS cls, string_split(text, '') AS cs
         |  FROM documents
         |), ${prefix}_tok AS (
         |  SELECT doc_id, cls,
         |    unnest(${TextOps.sql.charTrigramBuckets("cs", buckets)}) AS b
         |  FROM ${prefix}_cs
         |), ${prefix}_base AS MATERIALIZED (
         |  SELECT doc_id, cls, b, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM ${prefix}_tok GROUP BY 1, 2, 3
         |),
         |$chains""".stripMargin
    }

    val trainSql: String = {
      val perClass = classes.map { c =>
        s"""SELECT '$c' AS cls, s.b, s.sx, s.sxx, CAST(s.d AS BIGINT) AS d,
           |  CAST(w.w AS BIGINT) AS w
           |FROM $prefix${c}_stats s JOIN $prefix${c}_wf w USING (b)
           |UNION ALL
           |SELECT '$c', CAST($buckets AS BIGINT), CAST(0 AS BIGINT),
           |  CAST(0 AS BIGINT), CAST(0 AS BIGINT),
           |  CAST((SELECT w FROM $prefix${c}_wf WHERE b = $buckets) AS BIGINT)"""
          .stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $chainsSql
         |$perClass
         |ORDER BY cls, b""".stripMargin
    }

    /** DuckDB `pred(doc_id, predicted_lang)` CTE: the class chains'
      * margins side by side, argmax with ties to the smallest class. */
    def predSql: String = {
      val joins = classes.zipWithIndex.map { case (c, i) =>
        if (i == 0) s"$prefix${c}_mf m_$c"
        else s"JOIN $prefix${c}_mf m_$c USING (doc_id)"
      }.mkString("\n    ")
      val predicted = classes.init.map { c =>
        val geAll = classes.filter(_ != c)
          .map(o => s"m_$c.m >= m_$o.m").mkString(" AND ")
        s"WHEN $geAll THEN '$c'"
      }.mkString("CASE ", " ", s" ELSE '${classes.last}' END")
      s"""pred AS (
         |  SELECT m_${classes.head}.doc_id,
         |    $predicted AS predicted_lang
         |  FROM $joins
         |)""".stripMargin
    }
  }

  private val LangId64 = LangId("lg", "langid64",
    Seq("de", "en", "es", "fr", "zh"), LinearTrain.B, "lang", "lang")
  private val LangId256 = LangId("lw", "langid256",
    for { l <- LangId64.classes; i <- 0 to 3 } yield s"${l}_$i", 256,
    "concat(lang, '_', CAST(pmod(doc_id, 4) AS STRING))",
    "lang || '_' || CAST(doc_id % 4 AS VARCHAR)")

  private val q212: Q = (s, dir) => {
    val heur = heurScored(Tables.documents(s, dir))
      .select(col("doc_id"), expr(heurPredictedCase).as("heur_lang"))
    LangId64.predict(s, dir)
      .select(col("doc_id"), col("cls").as("labeled_lang"),
        col("predicted_cls").as("predicted_lang"))
      .join(heur, Seq("doc_id"))
      .groupBy(col("labeled_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("heur_lang") === col("predicted_lang"), 1L)
          .otherwise(0L)).as("n_heur_agree"),
        sum(col("doc_id")).as("doc_sig"))
      .orderBy(col("labeled_lang"), col("predicted_lang"))
  }

  private val q212Sql =
    s"""WITH ${LangId64.chainsSql},
       |${LangId64.predSql},
       |heur AS (
       |  SELECT doc_id, $heurPredictedCase AS heur_lang FROM (
       |    SELECT doc_id,
       |$heurScoresSql
       |    FROM documents
       |  )
       |)
       |SELECT d.lang AS labeled_lang, p.predicted_lang,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN h.heur_lang = p.predicted_lang
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_heur_agree,
       |  CAST(SUM(d.doc_id) AS BIGINT) AS doc_sig
       |FROM documents d
       |JOIN pred p USING (doc_id)
       |JOIN heur h USING (doc_id)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private val q216: Q = (s, dir) =>
    LangId256.predict(s, dir)
      .groupBy(col("cls").as("labeled_cls"),
        col("predicted_cls").as("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("doc_sig"))
      .orderBy(col("labeled_cls"), col("predicted_lang"))

  private val q216Sql =
    s"""WITH ${LangId256.chainsSql},
       |${LangId256.predSql}
       |SELECT ${LangId256.clsSql} AS labeled_cls, p.predicted_lang,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(d.doc_id) AS BIGINT) AS doc_sig
       |FROM documents d
       |JOIN pred p USING (doc_id)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --- q34: quality scoring (length / stopword / uniqueness ratios) ----------
  private val q34: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val toks = TextOps.tokensExpr("text")
    d.select(
        col("doc_id"),
        expr(s"CAST(length(text) AS BIGINT)").as("n_chars_m"),
        expr(s"CAST(size($toks) AS BIGINT)").as("n_tokens"),
        expr(s"CAST(size(array_distinct($toks)) AS BIGINT)").as("n_uniq"),
        expr(s"aggregate(transform($toks, t -> CAST(length(t) AS BIGINT)), CAST(0 AS BIGINT), (a2, x) -> a2 + x)").as("sum_tok_len"),
        expr(s"CAST(size(filter($toks, t -> t IN ('the', 'a'))) AS BIGINT)").as("n_stop"))
      .withColumn("avg_token_len",
        col("sum_tok_len").cast("double") / col("n_tokens").cast("double"))
      .withColumn("uniq_ratio",
        col("n_uniq").cast("double") / col("n_tokens").cast("double"))
      .withColumn("stop_ratio",
        col("n_stop").cast("double") / col("n_tokens").cast("double"))
      .withColumn("quality_band",
        when(col("n_tokens") >= 60 && col("uniq_ratio") >= 0.4, "high")
          .when(col("n_tokens") >= 25, "medium").otherwise("low"))
      .drop("sum_tok_len")
      .orderBy(col("doc_id"))
  }
  private val q34Sql = {
    val toks = TextOps.sql.tokens("text")
    s"""WITH m AS (
       |  SELECT doc_id,
       |    CAST(length(text) AS BIGINT) AS n_chars_m,
       |    CAST(len($toks) AS BIGINT) AS n_tokens,
       |    CAST(len(list_distinct($toks)) AS BIGINT) AS n_uniq,
       |    CAST(list_sum(list_transform($toks, t -> length(t))) AS BIGINT) AS sum_tok_len,
       |    CAST(len(list_filter($toks, t -> t IN ('the', 'a'))) AS BIGINT) AS n_stop
       |  FROM documents
       |), r AS (
       |  SELECT *,
       |    CAST(sum_tok_len AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_token_len,
       |    CAST(n_uniq AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS uniq_ratio,
       |    CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio
       |  FROM m
       |)
       |SELECT doc_id, n_chars_m, n_tokens, n_uniq, n_stop, avg_token_len,
       |  uniq_ratio, stop_ratio,
       |  CASE WHEN n_tokens >= 60 AND uniq_ratio >= 0.4 THEN 'high'
       |       WHEN n_tokens >= 25 THEN 'medium' ELSE 'low' END AS quality_band
       |FROM r ORDER BY doc_id""".stripMargin
  }

  // --- q35: token counting — whitespace + BPE-ish regex subwords -------------
  private val q35: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val toks = TextOps.tokensExpr("text")
    d.select(
        col("doc_id"),
        expr(s"CAST(size($toks) AS BIGINT)").as("n_ws_tokens"),
        expr("CAST(size(regexp_extract_all(text, '[a-z]{1,3}', 0)) AS BIGINT)").as("n_subwords"),
        expr("CAST(length(text) AS BIGINT)").as("len_chars"))
      .withColumn("chars_per_token",
        col("len_chars").cast("double") / col("n_ws_tokens").cast("double"))
      .orderBy(col("doc_id"))
  }
  private val q35Sql = {
    val toks = TextOps.sql.tokens("text")
    s"""SELECT doc_id,
       |  CAST(len($toks) AS BIGINT) AS n_ws_tokens,
       |  CAST(len(regexp_extract_all(text, '[a-z]{1,3}')) AS BIGINT) AS n_subwords,
       |  CAST(length(text) AS BIGINT) AS len_chars,
       |  CAST(length(text) AS DOUBLE) / CAST(len($toks) AS DOUBLE) AS chars_per_token
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // --- q36: document fingerprinting — winnowing over rolling char 7-grams ----
  // hash every 7-char gram, take the min of each 4-gram-hash window, emit
  // the distinct minima (standard winnowing: guarantees any >= 10-char
  // shared substring yields a shared fingerprint).
  private val q36: Q = (s, dir) => {
    val d = Tables.documents(s, dir).filter(length(col("text")) >= 13)
    // graft_winnow_7_4: one native pass (hash + window minima + distinct);
    // TextOpsSpec asserts set equality with the composed HOF form. The
    // repartition spreads the single-file scan; cache so explode reads
    // materialized arrays.
    val mat = d.repartition(Tables.shufflePartitions(s))
      .select(col("doc_id"), expr("graft_winnow_7_4(text)").as("fps"))
      .cache()
    mat.select(col("doc_id"), explode(col("fps")).as("fp"))
      .orderBy(col("doc_id"), col("fp"))
  }
  private val q36Sql = {
    val hs = s"list_transform(generate_series(1, length(text) - 6), i -> ${TextOps.sql.hash60("substr(text, i, 7)")})"
    s"""WITH h AS (
       |  SELECT doc_id, $hs AS hs FROM documents WHERE length(text) >= 13
       |), f AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(hs) - 3),
       |    p -> least(hs[p], hs[p + 1], hs[p + 2], hs[p + 3])))) AS fp
       |  FROM h
       |)
       |SELECT doc_id, fp FROM f ORDER BY doc_id, fp""".stripMargin
  }

  // --- q53: benchmark decontamination — fingerprint-overlap vs an eval set ---
  // The training-data op that removes (here: reports) documents overlapping
  // a held-out benchmark (n-gram-overlap decontamination à la the GPT-3
  // appendix / C4 & Gopher dataset analyses — public literature), built
  // from pieces already in the engine: winnowing fingerprints (q36) as the
  // shared-substring witness, the md5 hash split (q44) as the eval-set
  // selector, and a document-frequency cap that BOTH removes ubiquitous
  // fingerprints with no contamination signal AND is the skew guard — the
  // capped fp is the join key, so no hot key survives into the join. At
  // 100 TB the eval side is a real benchmark corpus (tiny) → broadcast
  // join, train fps never shuffle; the df table is computed once per
  // corpus snapshot and reused.
  private val DecontamDfCap     = 10 // fp in > 10 docs carries no signal
  private val DecontamMinShared = 3  // >= 3 rare shared fps ⇒ contaminated
  private val q53: Q = (s, dir) => {
    val d = Tables.documents(s, dir).filter(length(col("text")) >= 13)
    val mat = d.repartition(Tables.shufflePartitions(s))
      .select(col("doc_id"), expr("graft_winnow_7_4(text)").as("fps"))
      .cache()
    val fps = mat.select(col("doc_id"), explode(col("fps")).as("fp"))
    val rare = fps.groupBy(col("fp")).agg(count(lit(1)).as("df_"))
      .filter(col("df_") <= DecontamDfCap).select("fp")
    // cached: BOTH split branches scan it — without this the df aggregate
    // and the rare join (the expensive part) execute twice
    val fr = fps.join(rare, "fp").cache()
    val split = expr(s"${TextOps.hash60("CAST(doc_id AS STRING)")} % 10")
    val evalSide = fr.filter(split === 0)
      .select(col("doc_id").as("eval_id"), col("fp"))
    fr.filter(split =!= 0)
      .join(broadcast(evalSide), "fp")
      .groupBy(col("doc_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= DecontamMinShared)
      .orderBy(col("doc_id"), col("eval_id"))
  }
  private val q53Sql = {
    val hs = s"list_transform(generate_series(1, length(text) - 6), i -> ${TextOps.sql.hash60("substr(text, i, 7)")})"
    val split = s"${TextOps.sql.hash60("CAST(doc_id AS VARCHAR)")} % 10"
    s"""WITH h AS (
       |  SELECT doc_id, $hs AS hs FROM documents WHERE length(text) >= 13
       |), f AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(hs) - 3),
       |    p -> least(hs[p], hs[p + 1], hs[p + 2], hs[p + 3])))) AS fp
       |  FROM h
       |), rare AS (
       |  SELECT fp FROM f GROUP BY fp HAVING COUNT(*) <= $DecontamDfCap
       |), fr AS (
       |  SELECT f.* FROM f JOIN rare USING (fp)
       |), e AS (
       |  SELECT doc_id AS eval_id, fp FROM fr WHERE $split = 0
       |), t AS (
       |  SELECT doc_id, fp FROM fr WHERE $split <> 0
       |)
       |SELECT t.doc_id, e.eval_id, CAST(COUNT(*) AS BIGINT) AS n_shared
       |FROM t JOIN e USING (fp)
       |GROUP BY 1, 2 HAVING COUNT(*) >= $DecontamMinShared
       |ORDER BY doc_id, eval_id""".stripMargin
  }

  // --- q37: multimodal decode plumbing (stubbed decoder, real pipeline) ------
  // documents.text → BINARY payload + typed metadata → partition-batched
  // decode (Multimodal.decodeStub) → typed features. The oracle recomputes
  // the stub's byte math in SQL (ASCII corpus ⇒ unicode(char) == byte).
  private val q37: Q = (s, dir) => {
    import Multimodal.MediaRecord
    val spark = s
    import spark.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"),
              lit("text/plain").as("media_type"), col("n_chars"))
      .as[MediaRecord]
    Multimodal.decode(media).toDF().orderBy(col("doc_id"))
  }
  private val q37Sql =
    """WITH b AS (
      |  SELECT doc_id,
      |    CAST(length(text) AS INTEGER) AS n_bytes,
      |    unicode(text[1]) AS first_byte,
      |    CAST(list_sum(list_transform(generate_series(1, length(text)),
      |      i -> unicode(text[i]))) % 997 AS BIGINT) AS checksum
      |  FROM documents
      |)
      |SELECT doc_id, n_bytes, first_byte, checksum,
      |  CAST(checksum % 10 AS INTEGER) AS fake_label
      |FROM b ORDER BY doc_id""".stripMargin

  // --- q82: REAL PNG decode (javax.imageio round trip) -----------------------
  // q37's plumbing with an actual codec: a deterministic RGB image per
  // doc is synthesized and ENCODED to real PNG bytes, then DECODED back
  // through javax.imageio (container parse + zlib inflate) and reduced
  // to header dims, channel count and exact per-channel pixel sums. The
  // oracle cannot decode PNG — it predicts the same stats analytically
  // from the generator formula, so a codec bug (wrong dims, channel
  // order, row stride) hash-mismatches. Scale shape: per-row encode+
  // decode inside one mapPartitions (codec init amortizes per
  // partition), integer outputs, zero shuffles.
  private val q82: Q = (s, dir) => {
    val spark = s
    import spark.implicits._
    // partition by WORK, not bytes: the id column of a 100k-doc corpus is
    // a single small parquet split, so without this repartition the whole
    // per-row codec pass runs in 1-2 tasks no matter how many cores exist
    // (measured at sf1: q82 flat ~17 s from 8 to 32 threads). The shuffle
    // moves 8 bytes/row; the codec work it unlocks is the whole cost.
    val ids = Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .repartition(Tables.shufflePartitions(s))
    Multimodal.pngFeatures(ids).toDF().orderBy(col("doc_id"))
  }
  private val q82Sql = {
    def chanSum(pix: String) =
      s"""CAST(list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
         |    list_transform(generate_series(0, w - 1), x -> $pix)))) AS BIGINT)""".stripMargin
    s"""WITH d AS (
       |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + (doc_id // 9) % 9 AS h
       |  FROM documents
       |)
       |SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       |  3 AS channels,
       |  ${chanSum("(doc_id * 31 + x * 7 + y) % 256")} AS sum_r,
       |  ${chanSum("(x * 13 + y * 5) % 256")} AS sum_g,
       |  ${chanSum("(doc_id + x + y * 3) % 256")} AS sum_b
       |FROM d ORDER BY doc_id""".stripMargin
  }

  // --- q156: REAL WAV audio decode (javax.sound.sampled round trip) ----------
  // The audio third of the multimodal triple, closed the way q82 closed
  // images: a deterministic 16-bit PCM waveform per doc is synthesized
  // and ENCODED into a real RIFF/WAVE container via the JDK's
  // javax.sound.sampled codec, then DECODED back (container parse + PCM
  // frame read) and reduced to the classic integer waveform features —
  // absolute mass, peak, zero-crossing count. The oracle cannot parse
  // WAV — it predicts the same stats analytically from the sample
  // formula, so a codec bug (endianness, header offset, frame size)
  // hash-mismatches. Scale shape: q82's exactly — per-row encode+decode
  // inside one mapPartitions, work-repartitioned ids, integer outputs,
  // zero shuffles after the repartition.
  private val q156: Q = (s, dir) => {
    val spark = s
    import spark.implicits._
    val ids = Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .repartition(Tables.shufflePartitions(s)) // q82's work-repartition note
    graft.ops.Multimodal.wavFeatures(ids).toDF().orderBy(col("doc_id"))
  }
  private val q156Sql = {
    val n = graft.ops.Multimodal.WavSamples
    val rate = graft.ops.Multimodal.WavRate
    s"""WITH w AS (
       |  SELECT doc_id,
       |    list_transform(generate_series(0, ${n - 1}),
       |      i -> (doc_id * 31 + i * 7919) % 2048 - 1024) AS s
       |  FROM documents
       |)
       |SELECT doc_id, $rate AS sample_rate, CAST($n AS BIGINT) AS n_samples,
       |  CAST(list_sum(list_transform(s, x -> abs(x))) AS BIGINT) AS sum_abs,
       |  CAST(list_max(list_transform(s, x -> abs(x))) AS BIGINT) AS max_abs,
       |  CAST(list_sum(list_transform(generate_series(2, $n),
       |    i -> CASE WHEN (s[i - 1] < 0) <> (s[i] < 0) THEN 1 ELSE 0 END))
       |    AS BIGINT) AS n_zero_cross
       |FROM w ORDER BY doc_id""".stripMargin
  }

  // --- q38: tie-aware records (T5) -------------------------------------------
  // Reference: keep ALL tied record holders, first record per player
  // (index.js:408-418). Here: per event_type, every user hitting the max
  // value, first occurrence per user.
  private val q38: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    // per-type max via groupBy + broadcast join, NOT an unbounded window
    // partitioned by event_type — a handful of type keys would funnel the
    // whole table through a handful of window reducers at scale; the
    // aggregate is map-side combined and the join side is tiny.
    val maxes = e.groupBy(col("event_type")).agg(max(col("value")).as("vmax"))
    val wFirst = Window.partitionBy(col("event_type"), col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    e.join(broadcast(maxes), Seq("event_type"))
      .filter(col("value") === col("vmax"))
      .withColumn("rn", row_number().over(wFirst))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("user_id"), col("value"),
              unix_micros(col("ts")).as("ts_us"))
      .orderBy(col("event_type"), col("user_id"))
  }
  private val q38Sql =
    """WITH m AS (
      |  SELECT *, MAX(value) OVER (PARTITION BY event_type) AS vmax FROM events
      |), r AS (
      |  SELECT event_type, user_id, value, epoch_us(ts) AS ts_us,
      |    ROW_NUMBER() OVER (PARTITION BY event_type, user_id ORDER BY ts, event_id) AS rn
      |  FROM m WHERE value = vmax
      |)
      |SELECT event_type, user_id, value, ts_us FROM r WHERE rn = 1
      |ORDER BY event_type, user_id""".stripMargin

  // --- q39: lateral explode + rollup (§2.8 json_each analog, A10) ------------
  private val q39: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    d.select(explode(expr(TextOps.tokensExpr("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("token"))
      .limit(20)
  }
  private val q39Sql = {
    val toks = TextOps.sql.tokens("text")
    s"""SELECT token, CAST(COUNT(*) AS BIGINT) AS n
       |FROM (SELECT unnest($toks) AS token FROM documents)
       |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin
  }

  // --- q40: approximate distinct (HLL++) vs exact — 100 TB additive op -------
  // No DuckDB oracle (HLL sketches are engine-specific) -> driver records
  // the weaker rows-only check; the exact column cross-checks plausibility.
  private val q40: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    e.groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("n_exact"),
        approx_count_distinct(col("user_id"), 0.02).as("n_approx"))
      .withColumn("err_pct",
        round(lit(100.0) * abs(col("n_approx") - col("n_exact")) /
          col("n_exact"), 2))
      .orderBy(col("event_type"))
  }

  // --- q131: KMV bottom-k distinct sketch — ORACLE-VERIFIED approx -----------
  // q40's HLL is engine-specific, so it gets only a rows-only check.
  // The KMV (k-minimum-values) sketch closes that gap: keep the k
  // smallest DISTINCT 60-bit md5 hashes of the key; the k-th minimum
  // estimates cardinality as (k−1)·2⁶⁰ / h_k. Everything is integer —
  // the same md5 both engines share, a DECIMAL(38,0)/HUGEINT floored
  // division ((k−1)·2⁶⁰ ≈ 7·10¹⁹ exceeds int64) — so the ESTIMATE
  // itself hash-matches cross-engine, unlike any HLL. Sparse rule:
  // under k distinct hashes the sketch IS the set, estimate = its size
  // (exercised at sf0.001 where every group has 15 users; the sketch
  // branch runs at sf0.01+).
  // Scale: one (group, hash) distinct shuffle, then rank ≤ k — Spark's
  // WindowGroupLimit makes the top-k partial per map side, so no group's
  // full hash set ever sorts in one place; the exact countDistinct
  // column is the audit (the sketch's whole point is to REPLACE it at
  // 100 TB, where it becomes a second expand shuffle you'd drop).
  private val KmvK = 64
  private val KmvNum = "72633771188245692416" // (k−1)·2⁶⁰ = 63·2⁶⁰
  private val q131: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val h = e.select(col("event_type"),
        expr(TextOps.hash60("CAST(user_id AS STRING)")).as("h"))
      .distinct()
    val w = Window.partitionBy("event_type").orderBy("h")
    // the rn ≤ k filter is what lets WindowGroupLimit truncate each
    // group to k rows map-side — and the truncated row count IS the
    // sparse-branch estimate (hk null ⟺ fewer than k distinct hashes)
    val sk = h.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= KmvK)
      .groupBy("event_type")
      .agg(max(when(col("rn") === KmvK, col("h"))).as("hk"),
           count(lit(1)).as("nk"))
    val exact = e.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    sk.join(exact, "event_type")
      .withColumn("kmv_estimate",
        when(col("hk").isNull, col("nk")).otherwise(
          expr(s"CAST(CAST('$KmvNum' AS DECIMAL(38,0)) DIV hk AS BIGINT)")))
      .withColumn("err_ppm",
        expr("1000000 * abs(kmv_estimate - exact_distinct) DIV exact_distinct"))
      .select(col("event_type"), col("exact_distinct"),
        col("kmv_estimate"), col("err_ppm"))
      .orderBy(col("event_type"))
  }
  private val q131Sql = {
    val h = TextOps.sql.hash60("CAST(user_id AS VARCHAR)")
    s"""WITH h AS (
       |  SELECT DISTINCT event_type, $h AS h FROM events
       |), r AS (
       |  SELECT event_type, h,
       |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
       |  FROM h
       |), sk AS (
       |  SELECT event_type, MAX(CASE WHEN rn = $KmvK THEN h END) AS hk,
       |    COUNT(*) AS nk
       |  FROM r WHERE rn <= $KmvK GROUP BY event_type
       |), ex AS (
       |  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT)
       |    AS exact_distinct
       |  FROM events GROUP BY event_type
       |), est AS (
       |  SELECT event_type, exact_distinct,
       |    CAST(CASE WHEN hk IS NULL THEN nk
       |      ELSE CAST('$KmvNum' AS HUGEINT) // hk END AS BIGINT)
       |      AS kmv_estimate
       |  FROM sk JOIN ex USING (event_type)
       |)
       |SELECT event_type, exact_distinct, kmv_estimate,
       |  (CAST(1000000 AS BIGINT) * ABS(kmv_estimate - exact_distinct))
       |    // exact_distinct AS err_ppm
       |FROM est ORDER BY event_type""".stripMargin
  }

  // --- q44: deterministic hash split (train/val/test) ------------------------
  // The training-data split op: assignment by content hash (md5-prefix mod
  // 100) is stable across runs, engines, and cluster sizes — never
  // rand()-based sampling, which breaks task retry determinism and
  // cross-engine checking. 80/10/10 by doc_id.
  private val q44: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val bucket = TextOps.docBucketExpr()
    d.withColumn("split",
        expr(s"CASE WHEN $bucket < 80 THEN 'train' WHEN $bucket < 90 THEN 'val' ELSE 'test' END"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars")).as("total_chars"),
           min(col("doc_id")).as("min_doc_id"),
           max(col("doc_id")).as("max_doc_id"))
      .orderBy(col("split"))
  }
  private val q44Sql = {
    val bucket = TextOps.sql.docBucket()
    s"""SELECT CASE WHEN $bucket < 80 THEN 'train'
       |            WHEN $bucket < 90 THEN 'val' ELSE 'test' END AS split,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       |  MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
       |FROM documents GROUP BY 1 ORDER BY split""".stripMargin
  }

  // --- q55: stratified deterministic sample — k docs per (lang, source) ------
  // The training-mix curation op: a fixed-size per-stratum sample whose
  // membership is decided by content hash rank, not rand() — stable across
  // runs, task retries, engines, and cluster sizes (same discipline as
  // q44). The per-group rank compiles to WindowGroupLimit, so no partition
  // buffers more than k rows past the pushdown; one shuffle on the
  // stratum key.
  private val StratifiedK = 3
  private val q55: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val w = Window.partitionBy(col("lang"), col("source"))
      .orderBy(expr(TextOps.hash60("CAST(doc_id AS STRING)")), col("doc_id"))
    d.select(col("doc_id"), col("lang"), col("source"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= StratifiedK)
      .orderBy(col("lang"), col("source"), col("rk"))
  }
  private val q55Sql = {
    val h = TextOps.sql.hash60("CAST(doc_id AS VARCHAR)")
    s"""SELECT doc_id, lang, source, CAST(rk AS INTEGER) AS rk FROM (
       |  SELECT doc_id, lang, source,
       |    ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY $h, doc_id) AS rk
       |  FROM documents
       |)
       |WHERE rk <= $StratifiedK ORDER BY lang, source, rk""".stripMargin
  }

  // --- q56: weighted mixture sampling — per-source keep rates ----------------
  // The data-mix op: each source contributes at its own rate (upsampled
  // high-quality sources, downsampled boilerplate). Keep decision =
  // content-hash bucket < the source's percentage — deterministic, and the
  // realized counts concentrate tightly around rate × population. The rate
  // dim broadcasts; the filter is map-side; the audit agg is
  // partial+final. Unlisted sources fall back to a default rate.
  private val mixRates = Seq(("src0", 80), ("src1", 50), ("src2", 25))
  private val MixDefaultPct = 10
  private val q56: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    import s.implicits._
    val rates = mixRates.toDF("source", "pct")
    val bucket = TextOps.docBucketExpr()
    d.join(broadcast(rates), Seq("source"), "left")
      .withColumn("pct", coalesce(col("pct"), lit(MixDefaultPct)))
      .filter(expr(bucket) < col("pct"))
      .groupBy(col("source"), col("pct"))
      .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("min_doc_id"))
      .orderBy(col("source"))
  }
  private val q56Sql = {
    val values = mixRates.map { case (src, p) => s"('$src', $p)" }.mkString(", ")
    val bucket = TextOps.sql.docBucket()
    s"""WITH rates AS (SELECT * FROM (VALUES $values) AS t(source, pct))
       |SELECT source, COALESCE(pct, $MixDefaultPct) AS pct,
       |  CAST(COUNT(*) AS BIGINT) AS n_kept, MIN(doc_id) AS min_doc_id
       |FROM documents LEFT JOIN rates USING (source)
       |WHERE $bucket < COALESCE(pct, $MixDefaultPct)
       |GROUP BY 1, 2 ORDER BY source""".stripMargin
  }

  // --- q58: REAL multimodal resize (decoded pixel-grid resample) -------------
  // q82's real-codec path extended through an actual resize: decode the
  // synthetic PNG, nearest-neighbor downsample the pixel grid
  // (out(x,y) = in(x·4, y·4), dims = ceil/4) into a NEW image, reduce the
  // resized image to exact channel sums. The oracle predicts the resample
  // analytically from the generator formula, so a sampling-offset or
  // dimension-rounding bug hash-mismatches. Per-row codec work inside one
  // mapPartitions, integer outputs, zero shuffles.
  private val ResizeFactor = 4
  private val q58: Q = (s, dir) => {
    val spark = s
    import spark.implicits._
    // partition by WORK, not bytes: the id column of a 100k-doc corpus is
    // a single small parquet split, so without this repartition the whole
    // per-row codec pass runs in 1-2 tasks no matter how many cores exist
    // (measured at sf1: q82 flat ~17 s from 8 to 32 threads). The shuffle
    // moves 8 bytes/row; the codec work it unlocks is the whole cost.
    val ids = Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .repartition(Tables.shufflePartitions(s))
    Multimodal.resizeImages(ids, ResizeFactor).toDF().orderBy(col("doc_id"))
  }
  private val q58Sql = {
    val f = ResizeFactor
    def chanSum(pix: String) =
      s"""CAST(list_sum(flatten(list_transform(generate_series(0, oh - 1), y ->
         |    list_transform(generate_series(0, ow - 1), x -> $pix)))) AS BIGINT)""".stripMargin
    s"""WITH d AS (
       |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + (doc_id // 9) % 9 AS h
       |  FROM documents
       |), g AS (
       |  SELECT doc_id, w, h, (w + ${f - 1}) // $f AS ow, (h + ${f - 1}) // $f AS oh
       |  FROM d
       |)
       |SELECT doc_id, CAST(w AS INTEGER) AS orig_w, CAST(h AS INTEGER) AS orig_h,
       |  CAST(ow AS INTEGER) AS out_w, CAST(oh AS INTEGER) AS out_h,
       |  ${chanSum(s"(doc_id * 31 + (x * $f) * 7 + (y * $f)) % 256")} AS sum_r,
       |  ${chanSum(s"((x * $f) * 13 + (y * $f) * 5) % 256")} AS sum_g,
       |  ${chanSum(s"(doc_id + (x * $f) + (y * $f) * 3) % 256")} AS sum_b
       |FROM g ORDER BY doc_id""".stripMargin
  }

  // --- q47: REAL video frame extraction (PNG container walk) -----------------
  // The last stub retired: a concatenated-PNG "video" (2 + id%4 real PNG
  // frames, frame f generated from id·7+f) is walked frame-by-frame by
  // parsing the ACTUAL PNG chunk structure (signature, then
  // length/type/data/CRC chunks until IEND — how a demuxer seeks sample
  // boundaries), every 2nd frame is decoded through the real
  // javax.imageio path, and per-frame stats come out. The oracle predicts
  // every kept frame analytically, so a boundary bug decodes the wrong
  // frame and hash-mismatches. Only kept frames pay the inflate — the
  // walk itself is header arithmetic, the economics of keyframe sampling.
  private val FrameStride = 2
  private val q47: Q = (s, dir) => {
    val spark = s
    import spark.implicits._
    // partition by WORK, not bytes: the id column of a 100k-doc corpus is
    // a single small parquet split, so without this repartition the whole
    // per-row codec pass runs in 1-2 tasks no matter how many cores exist
    // (measured at sf1: q82 flat ~17 s from 8 to 32 threads). The shuffle
    // moves 8 bytes/row; the codec work it unlocks is the whole cost.
    val ids = Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .repartition(Tables.shufflePartitions(s))
    Multimodal.videoFrames(ids, FrameStride).toDF()
      .orderBy(col("doc_id"), col("frame_idx"))
  }
  private val q47Sql = {
    def chanSum(pix: String) =
      s"""CAST(list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
         |    list_transform(generate_series(0, w - 1), x -> $pix)))) AS BIGINT)""".stripMargin
    s"""WITH d AS (
       |  SELECT doc_id, 2 + doc_id % 4 AS nf FROM documents
       |), f AS (
       |  SELECT doc_id, unnest(generate_series(0, nf - 1, $FrameStride)) AS fi
       |  FROM d
       |), g AS (
       |  SELECT doc_id, fi, doc_id * 7 + fi AS fid,
       |    8 + (doc_id * 7 + fi) % 9 AS w, 8 + ((doc_id * 7 + fi) // 9) % 9 AS h
       |  FROM f
       |)
       |SELECT doc_id, CAST(fi AS INTEGER) AS frame_idx,
       |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       |  ${chanSum("(fid * 31 + x * 7 + y) % 256")} AS sum_r,
       |  ${chanSum("(x * 13 + y * 5) % 256")} AS sum_g,
       |  ${chanSum("(fid + x + y * 3) % 256")} AS sum_b
       |FROM g ORDER BY doc_id, frame_idx""".stripMargin
  }

  // --- q219: REAL RIFF/AVI demux + frame sampling ----------------------------
  // q47's container walk upgraded to the PUBLISHED container format:
  // each doc's "video" is a complete RIFF/AVI file (LIST hdrl with
  // honest avih/strh/strf headers, LIST movi with '00db' raw-DIB
  // frames, idx1 index) built by ops/Avi.syntheticAvi and demuxed by
  // ops/Avi.frames — header validation, BITMAPINFOHEADER dims/depth/
  // compression enforcement, RIFF odd-length chunk padding, bottom-up
  // padded BGR row decode. Raw DIB (BI_RGB) rather than MJPEG so the
  // oracle predicts every channel sum in closed form (JPEG's IDCT
  // rounding is not SQL-replayable; the codec stays the documented
  // pluggable seam). Every 2nd frame kept — only kept frames pay the
  // pixel pass, the keyframe-sampling economics. Same work-repartition
  // as q47 (codec work, not bytes, is the cost).
  private val q219: Q = (s, dir) => {
    val spark = s
    import spark.implicits._
    val ids = Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .repartition(Tables.shufflePartitions(s))
    graft.ops.Avi.sampleFrames(ids, FrameStride).toDF()
      .orderBy(col("doc_id"), col("frame_idx"))
  }
  private val q219Sql = {
    def chanSum(pix: String) =
      s"""CAST(list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
         |    list_transform(generate_series(0, w - 1), x -> $pix)))) AS BIGINT)""".stripMargin
    s"""WITH d AS (
       |  SELECT doc_id, 2 + doc_id % 3 AS nf,
       |    6 + doc_id % 7 AS w, 6 + (doc_id // 7) % 7 AS h
       |  FROM documents
       |), f AS (
       |  SELECT doc_id, w, h,
       |    unnest(generate_series(0, nf - 1, $FrameStride)) AS fi
       |  FROM d
       |), g AS (
       |  SELECT doc_id, fi, w, h, doc_id * 5 + fi AS fid FROM f
       |)
       |SELECT doc_id, CAST(fi AS INTEGER) AS frame_idx,
       |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       |  ${chanSum("(fid + x * 3 + y) % 256")} AS sum_b,
       |  ${chanSum("(x * 11 + y * 7) % 256")} AS sum_g,
       |  ${chanSum("(fid * 17 + x + y * 5) % 256")} AS sum_r,
       |  ${chanSum("(y + 1) * ((fid * 17 + x + y * 5) % 256)")} AS wsum_r
       |FROM g ORDER BY doc_id, frame_idx""".stripMargin
  }

  // --- q151: PMI collocations (phrase mining) --------------------------------
  // The phrase-mining primitive under every tokenizer-vocab and
  // stopword-list decision: rank adjacent word pairs by pointwise mutual
  // information. log() never crosses engines bit-exactly, but PMI is
  // MONOTONE in the rational c_ab·N/(c_a·c_b), so the ranking and the
  // published score floor to integer ppm exactly (the q128 idf
  // discipline): pmi_ratio_ppm = (10⁶·c_ab·N) DIV (c_a·c_b), products
  // widened through DECIMAL(38,0)/HUGEINT (c_ab·N ≈ 10²⁴ at 10¹²
  // bigrams — the q120 lesson), result ≤ 10⁶·N/MinSup ≈ 2·10¹⁷ —
  // int64-safe by construction, documented not assumed. Min-support 5 is
  // frequent-pattern SEMANTICS (q130): rare pairs have divergent PMI
  // and no curation value. Scale: unigram + bigram counts are two
  // map-side-combinable HashAggregates off one tokenized scan; the
  // scoring joins run on the VOCABULARY-sized count tables (broadcast
  // candidates), and top-k is a TakeOrderedAndProject heap.
  private val PmiMinSup = 5L
  private val PmiTop = 20
  private val q151: Q = (s, dir) => {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), expr(TextOps.tokensExpr("text")).as("toks"))
      .filter(expr("size(toks) >= 2"))
    val uni = toks.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cw"))
    val pairs = toks.select(explode(expr(
        """transform(sequence(1, size(toks) - 1),
          |  i -> struct(element_at(toks, i) AS w1,
          |              element_at(toks, i + 1) AS w2))""".stripMargin)).as("p"))
      .select(col("p.w1"), col("p.w2"))
    val bi = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= PmiMinSup)
    val n = pairs.agg(count(lit(1)).as("n"))
    bi.crossJoin(broadcast(n))
      .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("cw", "ca"), Seq("w1"))
      .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("cw", "cb"), Seq("w2"))
      .select(col("w1"), col("w2"), col("cab"), col("ca"), col("cb"),
        expr("""CAST((CAST(1000000 AS DECIMAL(38,0)) * cab * n)
               |  DIV (CAST(ca AS DECIMAL(38,0)) * cb) AS BIGINT)""".stripMargin)
          .as("pmi_ratio_ppm"))
      .orderBy(desc("pmi_ratio_ppm"), col("w1"), col("w2"))
      .limit(PmiTop)
  }
  private val q151Sql = {
    val t = TextOps.sql.tokens("text")
    s"""WITH toks AS (
       |  SELECT doc_id, $t AS toks FROM documents WHERE len($t) >= 2
       |), uni AS (
       |  SELECT unnest(toks) AS w FROM toks
       |), ucnt AS (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS cw FROM uni GROUP BY 1
       |), praw AS (
       |  SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
       |    i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS p
       |  FROM toks
       |), pairs AS (
       |  SELECT p.w1 AS w1, p.w2 AS w2 FROM praw
       |), bi AS (
       |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cab
       |  FROM pairs GROUP BY 1, 2 HAVING COUNT(*) >= $PmiMinSup
       |), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pairs)
       |SELECT w1, w2, cab, a.cw AS ca, b.cw AS cb,
       |  CAST((1000000 * CAST(cab AS HUGEINT) * n.n)
       |    // (CAST(a.cw AS HUGEINT) * b.cw) AS BIGINT) AS pmi_ratio_ppm
       |FROM bi CROSS JOIN n
       |  JOIN ucnt a ON bi.w1 = a.w
       |  JOIN ucnt b ON bi.w2 = b.w
       |ORDER BY pmi_ratio_ppm DESC, w1, w2 LIMIT $PmiTop""".stripMargin
  }

  // --- q171: perceptual image dedup (dHash + banded Hamming join) -------------
  // The multimodal member of the near-dup family: byte/minhash dedup
  // (q26/q27) can never catch "same photo, different exposure" — the
  // perceptual difference hash can. Each doc's REAL PNG (docs 2k/2k+1
  // render the same base scene, odd ids +1 brightness — see
  // ops/Multimodal.syntheticPairPng) is decoded through javax.imageio,
  // nearest-neighbor-sampled to a 9×8 luma grid, and reduced to 64
  // horizontal-gradient sign bits (two positive 32-bit halves). A uniform
  // exposure shift moves every luma equally → gradient signs are
  // INVARIANT, so the planted pairs collide at Hamming ≈ 0.
  // Candidate generation is the q27/q52 discipline: 4×16-bit band
  // equi-join (pigeonhole: ≤ [[PHamMax]] flipped bits leave ≥ 1 band
  // exact) + exact popcount confirm — never all-pairs. The oracle cannot
  // decode PNG; it predicts the same hash analytically from the generator
  // formula (the q82 convention), so a codec, resample, luma or banding
  // bug hash-mismatches.
  // Scale: per-row codec work repartitioned by WORK (q82's note), then
  // the hash table is localCheckpointed so both band-join sides reuse the
  // one codec pass; join fan-out is band-collision-bounded.
  private val PHamMax = 3
  private val q171: Q = (s, dir) => {
    val spark = s
    import spark.implicits._
    val ids = Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .repartition(Tables.shufflePartitions(s))
    val hs = Multimodal.dhashFeatures(ids).toDF().localCheckpoint()
    val bands = hs.select(col("doc_id"), col("h1"), col("h2"),
      explode(expr(
        """array(struct(0 AS bi, h1 % 65536 AS bk),
          |      struct(1 AS bi, h1 DIV 65536 AS bk),
          |      struct(2 AS bi, h2 % 65536 AS bk),
          |      struct(3 AS bi, h2 DIV 65536 AS bk))""".stripMargin)).as("e"))
      .select(col("doc_id"), col("h1"), col("h2"),
        col("e.bi").as("bi"), col("e.bk").as("bk"))
    val l = bands.select(col("bi"), col("bk"), col("doc_id").as("a"),
      col("h1").as("h1a"), col("h2").as("h2a"))
    val r = bands.select(col("bi"), col("bk"), col("doc_id").as("b"),
      col("h1").as("h1b"), col("h2").as("h2b"))
    l.join(r, Seq("bi", "bk"))
      .filter(col("a") < col("b"))
      .filter(expr(s"bit_count(h1a ^ h1b) + bit_count(h2a ^ h2b) <= $PHamMax"))
      .select(col("a"), col("b"),
        expr("CAST(bit_count(h1a ^ h1b) + bit_count(h2a ^ h2b) AS BIGINT)")
          .as("hamming"))
      .distinct()
      .orderBy(col("a"), col("b"))
  }
  private val q171Sql = {
    // the analytic twin of Multimodal.dhashPng over syntheticPairPng:
    // nearest-neighbor sample coordinates, channel formulas, integer luma
    def sx = "((x * w) // 9)"
    def sy = "((y * h) // 8)"
    def chan(cb: Long, cx: Int, cy: Int) = {
      val v = s"((((base * $cb + $sx * $cx + $sy * $cy) % 65536)" +
        " * 2654435761) % 65536)"
      s"((($v * ($v + 1)) // 4096) % 256 + delta) % 256"
    }
    val luma =
      s"""(299 * (${chan(7919L, 13, 29)})
         | + 587 * (${chan(104729L, 31, 17)})
         | + 114 * (${chan(1299709L, 11, 37)})) // 1000""".stripMargin
    def half(y0: Int, y1: Int) =
      s"""CAST(list_sum(flatten(list_transform(generate_series($y0, $y1), y ->
         |  list_transform(generate_series(0, 7), x ->
         |    CASE WHEN grid[y + 1][x + 2] > grid[y + 1][x + 1]
         |      THEN (CAST(1 AS BIGINT) << ((y - $y0) * 8 + x))
         |      ELSE CAST(0 AS BIGINT) END)))) AS BIGINT)""".stripMargin
    s"""WITH p AS (
       |  SELECT doc_id, doc_id // 2 AS base, doc_id % 2 AS delta,
       |    8 + (doc_id // 2) % 9 AS w, 8 + ((doc_id // 2) // 9) % 9 AS h
       |  FROM documents
       |), g AS (
       |  SELECT doc_id,
       |    list_transform(generate_series(0, 7), y ->
       |      list_transform(generate_series(0, 8), x ->
       |        $luma)) AS grid
       |  FROM p
       |), hsh AS (
       |  SELECT doc_id, ${half(0, 3)} AS h1, ${half(4, 7)} AS h2 FROM g
       |), bands AS (
       |  SELECT doc_id, h1, h2, 0 AS bi, h1 % 65536 AS bk FROM hsh
       |  UNION ALL SELECT doc_id, h1, h2, 1, h1 // 65536 FROM hsh
       |  UNION ALL SELECT doc_id, h1, h2, 2, h2 % 65536 FROM hsh
       |  UNION ALL SELECT doc_id, h1, h2, 3, h2 // 65536 FROM hsh
       |)
       |SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
       |  CAST(bit_count(xor(l.h1, r.h1)) + bit_count(xor(l.h2, r.h2))
       |    AS BIGINT) AS hamming
       |FROM bands l JOIN bands r
       |  ON l.bi = r.bi AND l.bk = r.bk AND l.doc_id < r.doc_id
       |WHERE bit_count(xor(l.h1, r.h1)) + bit_count(xor(l.h2, r.h2))
       |  <= $PHamMax
       |ORDER BY a, b""".stripMargin
  }

  // --- q174: audio fingerprint near-dup (energy envelope + banded join) -------
  // q171's audio twin — "same recording, different volume": each doc's
  // REAL WAV (docs 2k/2k+1 share a base waveform, odd ids re-gained 9/8 —
  // ops/Multimodal.syntheticPairWav) is decoded through
  // javax.sound.sampled and reduced to a 126-bit energy-envelope
  // fingerprint in two positive 63-bit words (window-energy gradient
  // signs — invariant under uniform gain modulo per-sample floor dust;
  // width is the scale knob — the earlier 31-bit word incidentally
  // collided as n²/2³¹: 696 k junk pairs at 50 k docs, ~10¹¹ at 10⁹).
  // Candidates via 4×~32-bit bands (pigeonhole-lossless for Hamming ≤
  // [[AfpHamMax]]) + exact popcount — the incidental term is now
  // n²·4/2³², i.e. single-digit pairs at 50 k docs and linear-in-planted
  // overall. The oracle predicts the fingerprint analytically from the
  // waveform formula (the q82/q171 convention), so a PCM, windowing or
  // banding bug hash-mismatches.
  private val AfpHamMax = 3
  private val q174: Q = (s, dir) => {
    val spark = s
    import spark.implicits._
    val ids = Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .repartition(Tables.shufflePartitions(s))
    val fps = Multimodal.audioFpFeatures(ids).toDF().localCheckpoint()
    val bands = fps.select(col("doc_id"), col("fp1"), col("fp2"),
      explode(expr(
        """array(struct(0 AS bi, fp1 % 4294967296 AS bk),
          |      struct(1 AS bi, fp1 DIV 4294967296 AS bk),
          |      struct(2 AS bi, fp2 % 4294967296 AS bk),
          |      struct(3 AS bi, fp2 DIV 4294967296 AS bk))""".stripMargin))
        .as("e"))
      .select(col("doc_id"), col("fp1"), col("fp2"),
        col("e.bi").as("bi"), col("e.bk").as("bk"))
    val l = bands.select(col("bi"), col("bk"), col("doc_id").as("a"),
      col("fp1").as("fp1a"), col("fp2").as("fp2a"))
    val r = bands.select(col("bi"), col("bk"), col("doc_id").as("b"),
      col("fp1").as("fp1b"), col("fp2").as("fp2b"))
    l.join(r, Seq("bi", "bk"))
      .filter(col("a") < col("b"))
      .filter(expr(
        s"bit_count(fp1a ^ fp1b) + bit_count(fp2a ^ fp2b) <= $AfpHamMax"))
      .select(col("a"), col("b"),
        expr("CAST(bit_count(fp1a ^ fp1b) + bit_count(fp2a ^ fp2b) AS BIGINT)")
          .as("hamming"))
      .distinct()
      .orderBy(col("a"), col("b"))
  }
  private val q174Sql = {
    val v1 = "((((base * 7919 + i * 31) % 1000000007)" +
      " * 2654435761) % 1000000007)"
    val w1 = s"((($v1 * ($v1 + 1)) // 2) % 1000000007)"
    val w2 = s"(($w1 * 2654435761) % 1000000007)"
    val s1 = s"(((($w2 * ($w2 + 1)) // 2) % 1000000007) % 2048 - 1024)"
    val sample = s"""CASE WHEN delta = 1 THEN
                    |  CASE WHEN $s1 < 0 THEN -((-$s1 * 9) // 8)
                    |       ELSE ($s1 * 9) // 8 END
                    |  ELSE $s1 END""".stripMargin
    s"""WITH p AS (
       |  SELECT doc_id, doc_id // 2 AS base, doc_id % 2 AS delta
       |  FROM documents
       |), sm AS (
       |  SELECT doc_id,
       |    list_transform(generate_series(0, 1023), i -> $sample) AS s
       |  FROM p
       |), en AS (
       |  SELECT doc_id,
       |    list_transform(generate_series(0, 127), w ->
       |      list_sum(list_transform(generate_series(1, 8), j ->
       |        abs(s[w * 8 + j])))) AS e
       |  FROM sm
       |), fpt AS (
       |  SELECT doc_id,
       |    CAST(list_sum(list_transform(generate_series(0, 62), w ->
       |      CASE WHEN e[w + 2] > e[w + 1] THEN (CAST(1 AS BIGINT) << w)
       |        ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS fp1,
       |    CAST(list_sum(list_transform(generate_series(64, 126), w ->
       |      CASE WHEN e[w + 2] > e[w + 1]
       |        THEN (CAST(1 AS BIGINT) << (w - 64))
       |        ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS fp2
       |  FROM en
       |), bands AS (
       |  SELECT doc_id, fp1, fp2, 0 AS bi, fp1 % 4294967296 AS bk FROM fpt
       |  UNION ALL SELECT doc_id, fp1, fp2, 1, fp1 // 4294967296 FROM fpt
       |  UNION ALL SELECT doc_id, fp1, fp2, 2, fp2 % 4294967296 FROM fpt
       |  UNION ALL SELECT doc_id, fp1, fp2, 3, fp2 // 4294967296 FROM fpt
       |)
       |SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
       |  CAST(bit_count(xor(l.fp1, r.fp1)) + bit_count(xor(l.fp2, r.fp2))
       |    AS BIGINT) AS hamming
       |FROM bands l JOIN bands r
       |  ON l.bi = r.bi AND l.bk = r.bk AND l.doc_id < r.doc_id
       |WHERE bit_count(xor(l.fp1, r.fp1)) + bit_count(xor(l.fp2, r.fp2))
       |  <= $AfpHamMax
       |ORDER BY a, b""".stripMargin
  }

  // --- q178: audio activity segmentation (energy islands over real decode) ---
  // The segmentation step an audio-curation pipeline runs after decode:
  // REAL WAV decode (ops/Multimodal.syntheticBurstWav plants genuine
  // activity/silence runs per doc) → 32 window energies → threshold →
  // gaps-and-islands per doc (the q07 streak discipline lifted onto a
  // decoded signal) → per-doc segment digest, published as the corpus
  // histogram by segment count. The oracle replays the integer waveform
  // formula (q174's convention), so a decode, windowing, threshold, or
  // islands bug hash-mismatches.
  // Scale: the codec runs once per doc map-side; the islands window
  // partitions by doc_id (32 rows each — never a global sort); the final
  // histogram is a 32-key aggregate.
  private val SegThresh = 4096L
  private val q178: Q = (s, dir) => {
    val spark = s
    import spark.implicits._
    val ids = Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .repartition(Tables.shufflePartitions(s))
    val wins = Multimodal.audioSegmentWindows(ids).toDF()
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("w"))
    val segs = wins.filter(col("energy") > SegThresh)
      .withColumn("grp", col("w") - row_number().over(byDoc))
      .groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).cast("long").as("len"))
    val perDoc = segs.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segments"), max(col("len")).as("max_len"),
        sum(col("len")).as("active_w"))
    Tables.documents(s, dir).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        coalesce(col("max_len"), lit(0L)).as("max_len"),
        coalesce(col("active_w"), lit(0L)).as("active_w"))
      .groupBy(col("n_segments"))
      .agg(count(lit(1)).as("n_docs"), sum(col("active_w")).as("sum_active"),
        max(col("max_len")).as("max_seg_len"))
      .orderBy(col("n_segments"))
  }
  private val q178Sql = {
    val av1 = "((((doc_id * 13 + w * 7) % 65536) * 2654435761) % 65536)"
    val active = s"((($av1 * ($av1 + 1)) // 4096) % 256) < 154"
    val v0 = "((((doc_id * 104729 + i * 17) % 65536) * 2654435761) % 65536)"
    val nv = s"((($v0 * ($v0 + 1)) // 4096) % 2048 - 1024)"
    s"""WITH wins AS (
       |  SELECT doc_id, w,
       |    list_sum(list_transform(generate_series(w * 32, w * 32 + 31), i ->
       |      abs(CASE WHEN $active THEN $nv ELSE $nv % 16 END))) AS energy
       |  FROM documents, (SELECT unnest(generate_series(0, 31)) AS w)
       |), act AS (
       |  SELECT doc_id, w,
       |    w - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY w) AS grp
       |  FROM wins WHERE energy > $SegThresh
       |), segs AS (
       |  SELECT doc_id, grp, CAST(COUNT(*) AS BIGINT) AS len
       |  FROM act GROUP BY doc_id, grp
       |), per_doc AS (
       |  SELECT d.doc_id,
       |    COALESCE(p.n_segments, 0) AS n_segments,
       |    COALESCE(p.max_len, 0) AS max_len,
       |    COALESCE(p.active_w, 0) AS active_w
       |  FROM documents d LEFT JOIN (
       |    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
       |      MAX(len) AS max_len, CAST(SUM(len) AS BIGINT) AS active_w
       |    FROM segs GROUP BY doc_id) p ON d.doc_id = p.doc_id
       |)
       |SELECT n_segments, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(active_w) AS BIGINT) AS sum_active,
       |  MAX(max_len) AS max_seg_len
       |FROM per_doc GROUP BY n_segments ORDER BY n_segments""".stripMargin
  }

  val registry: Seq[Query] = Seq(
    Query("q151_pmi_collocations", q151, Some(q151Sql)),
    Query("q171_phash_neardup", q171, Some(q171Sql)),
    Query("q174_audiofp_neardup", q174, Some(q174Sql)),
    Query("q178_audio_segments", q178, Some(q178Sql)),
    Query("q53_decontaminate", q53, Some(q53Sql)),
    Query("q55_stratified_sample", q55, Some(q55Sql)),
    Query("q56_mixture_sample", q56, Some(q56Sql)),
    Query("q58_multimodal_resize", q58, Some(q58Sql)),
    Query("q47_frame_sample", q47, Some(q47Sql)),
    Query("q219_avi_frames", q219, Some(q219Sql)),
    Query("q44_hash_split", q44, Some(q44Sql)),
    Query("q40_approx_distinct", q40, None),
    Query("q131_kmv_distinct", q131, Some(q131Sql)),
    Query("q33_lang_id", q33, Some(q33Sql)),
    Query("q211_langid_train", LangId64.train, Some(LangId64.trainSql),
      Some("state")),
    Query("q212_langid_eval", q212, Some(q212Sql), Some("state")),
    Query("q215_langid_wide_train", LangId256.train,
      Some(LangId256.trainSql), Some("state")),
    Query("q216_langid_wide_eval", q216, Some(q216Sql), Some("state")),
    Query("q34_quality_score", q34, Some(q34Sql)),
    Query("q35_token_stats", q35, Some(q35Sql)),
    Query("q36_fingerprint", q36, Some(q36Sql)),
    Query("q37_multimodal_decode", q37, Some(q37Sql)),
    Query("q82_image_decode", q82, Some(q82Sql)),
    Query("q156_audio_decode", q156, Some(q156Sql)),
    Query("q38_tie_records", q38, Some(q38Sql)),
    Query("q39_token_explode", q39, Some(q39Sql)))
}
