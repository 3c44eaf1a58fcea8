package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Bpe, TextOps}

/** Round-7 tokenizer-training queries: the iterative BPE trainer
  * ([[graft.ops.Bpe]]) exercised through its oracle-able unit — q80 runs
  * the first two learned merges through the REAL trainer ops (vocab →
  * top-pair → merge fold, twice) and emits the round-3 merge-candidate
  * table, the direct continuation of q70 (round 1) and q77 (round 2).
  *
  * Cross-engine notes: the DuckDB twin carries merged symbols as
  * placeholder chars (chr(1)/chr(2), q77's trick — every symbol stays 1
  * char so the pair scan is a 2-char slide) and reconstructs the real
  * symbol strings only for output and TIE-BREAKS — argmax ties must
  * break on reconstructed symbols on both engines, or engines can learn
  * different (equal-count) merges. All counts are integers.
  */
object QueriesTokenizer {

  type Q = (SparkSession, String) => DataFrame

  private val BpeTopK = 20

  // --- q80: BPE merge round 3 (the trainer loop, two rounds deep) ------------
  private val q80: Q = (s, dir) => {
    def shaped(counts: org.apache.spark.sql.DataFrame) = counts
      .select(col("left").as("left_sym"), col("right").as("right_sym"), col("n"))
      .orderBy(desc("n"), col("left_sym"), col("right_sym")).limit(BpeTopK)
    val v0 = Bpe.vocab(
      Tables.documents(s, dir).select(col("text")), "text").cache()
    var caches: List[org.apache.spark.sql.DataFrame] = List(v0)
    // a corpus that runs out of pairs early (or is empty) short-circuits
    // to its current — possibly empty — pair table, same schema
    val out = Bpe.topPair(v0) match {
      case None => shaped(Bpe.pairCounts(v0))
      case Some((l1, r1, _)) =>
        val v1 = Bpe.applyMerge(v0, l1, r1).cache()
        caches ::= v1
        Bpe.topPair(v1) match {
          case None => shaped(Bpe.pairCounts(v1))
          case Some((l2, r2, _)) =>
            shaped(Bpe.pairCounts(Bpe.applyMerge(v1, l2, r2)))
        }
    }
    // ≤ BpeTopK rows: materialize while the vocab caches are live, then
    // release them and hand back a local relation — repeated runs in one
    // JVM accumulate no InMemoryRelations, and re-executing the returned
    // frame never re-walks the merge lineage uncached
    val rows = out.collect()
    caches.foreach(_.unpersist())
    s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
  }
  private val q80Sql = {
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
       |t1 AS (
       |  SELECT pair AS m1 FROM (
       |    SELECT pair, CAST(SUM(wf) AS BIGINT) AS n FROM p1 GROUP BY pair
       |    ORDER BY n DESC, pair LIMIT 1
       |  )
       |),
       |w2t AS (SELECT wf, m1, replace(word, m1, chr(1)) AS w2
       |        FROM w CROSS JOIN t1),
       |p2 AS (
       |  SELECT wf, m1, unnest(list_transform(generate_series(1, length(w2) - 1),
       |    i -> substr(w2, i, 2))) AS pair
       |  FROM w2t WHERE length(w2) >= 2
       |),
       |t2 AS (
       |  SELECT pair AS m2k,
       |         replace(substr(pair, 1, 1), chr(1), m1) ||
       |         replace(substr(pair, 2, 1), chr(1), m1) AS m2 FROM (
       |    SELECT pair, m1, CAST(SUM(wf) AS BIGINT) AS n
       |    FROM p2 GROUP BY pair, m1
       |    ORDER BY n DESC, replace(substr(pair, 1, 1), chr(1), m1),
       |             replace(substr(pair, 2, 1), chr(1), m1) LIMIT 1
       |  )
       |),
       |w3t AS (SELECT wf, m1, m2, replace(w2, m2k, chr(2)) AS w3
       |        FROM w2t CROSS JOIN t2),
       |p3 AS (
       |  SELECT wf,
       |    replace(replace(substr(pair, 1, 1), chr(2), m2), chr(1), m1)
       |      AS left_sym,
       |    replace(replace(substr(pair, 2, 1), chr(2), m2), chr(1), m1)
       |      AS right_sym
       |  FROM (
       |    SELECT wf, m1, m2,
       |      unnest(list_transform(generate_series(1, length(w3) - 1),
       |        i -> substr(w3, i, 2))) AS pair
       |    FROM w3t WHERE length(w3) >= 2
       |  )
       |)
       |SELECT left_sym, right_sym, CAST(SUM(wf) AS BIGINT) AS n
       |FROM p3 GROUP BY left_sym, right_sym
       |ORDER BY n DESC, left_sym, right_sym LIMIT $BpeTopK""".stripMargin
  }

  // --- q104: BPE corpus encode — apply the trained tokenizer at scale --------
  // The consumption side of the trainer: learn NEncodeMerges merges
  // (ops/Bpe — the REAL training loop), then tokenize the whole corpus
  // under them and account tokens per source. The merge fold runs once
  // per DISTINCT word (vocab-sized CPU), never once per corpus
  // occurrence; occurrences get their token count through an equi-join
  // on the word — at 100 TB the dictionary is ≪ corpus and the join is
  // the standard broadcast/shuffle-hash dictionary join. Token and char
  // totals are exact integers; compression_pm = tokens-per-1000-chars
  // (both engines' integer division agrees on non-negatives).
  //
  // The DuckDB twin re-learns the same 3 merges (q80's placeholder-char
  // CTE chain, one round deeper) and encodes via the chained-replace
  // trick: each merged symbol is a 1-char placeholder, so the encoded
  // token count IS the string length after the replace chain.
  private val NEncodeMerges = 3

  /** Trained merge tables, memoized per (sf dir contents, n) — the same
    * pure-cache contract as QueriesSimilarity's centroid memo, on the
    * shared [[graft.ops.FingerprintedMemo]]: training is deterministic,
    * so the value is a pure function of the DATA — an in-place re-ingest
    * at the same path trains fresh instead of serving merges learned on
    * the old bytes. */
  private val mergeMemo = new graft.ops.FingerprintedMemo[Seq[Bpe.Merge]]
  private def trainedMerges(s: SparkSession, dir: String,
                            n: Int): Seq[Bpe.Merge] =
    mergeMemo(s, dir, s"bpe|n=$n")(
      Bpe.train(Tables.documents(s, dir).select(col("text")), "text", n))

  private val q104: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val merges = trainedMerges(s, dir, NEncodeMerges)
    val dict0 = docs
      .select(explode(expr(TextOps.tokensExpr("text"))).as("word"))
      .filter(length(col("word")) >= 1)
      .distinct()
      .withColumn("syms", expr("split(word, '')"))
    val dict = merges.foldLeft(dict0) { (d, m) =>
      d.withColumn("syms", expr(Bpe.applyMergeExpr("syms", m.left, m.right)))
    }
    val ntok = dict.select(col("word"), size(col("syms")).as("ntok"))
    val stream = docs.select(col("doc_id"), col("source"),
      explode(expr(TextOps.tokensExpr("text"))).as("word"))
    stream.join(ntok, Seq("word"))
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
           count(lit(1)).as("n_words"),
           sum(length(col("word")).cast("long")).as("n_chars"),
           sum(col("ntok").cast("long")).as("n_tokens"))
      .withColumn("compression_pm", expr("(1000 * n_tokens) DIV n_chars"))
      .orderBy(col("source"))
  }
  private val q104Sql = {
    val toks = TextOps.sql.tokens("text")
    s"""WITH wall AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS wf FROM (
       |    SELECT unnest($toks) AS word FROM documents
       |  ) WHERE length(word) >= 1 GROUP BY word
       |),
       |w AS (SELECT word, wf FROM wall WHERE length(word) >= 2),
       |p1 AS (
       |  SELECT wf, unnest(list_transform(generate_series(1, length(word) - 1),
       |    i -> substr(word, i, 2))) AS pair
       |  FROM w
       |),
       |t1 AS (
       |  -- early-stop tolerance (Bpe.train stops when pairs run out):
       |  -- an exhausted round coalesces to a chr(0) sentinel pair that
       |  -- can never occur in the corpus, making its replace a no-op —
       |  -- the twin then applies exactly the merges Spark learned
       |  SELECT COALESCE((
       |    SELECT pair FROM (
       |      SELECT pair, CAST(SUM(wf) AS BIGINT) AS n FROM p1 GROUP BY pair
       |      ORDER BY n DESC, pair LIMIT 1
       |    )), chr(0) || chr(0)) AS m1
       |),
       |w2t AS (SELECT wf, m1, replace(word, m1, chr(1)) AS w2
       |        FROM w CROSS JOIN t1),
       |p2 AS (
       |  SELECT wf, m1, unnest(list_transform(generate_series(1, length(w2) - 1),
       |    i -> substr(w2, i, 2))) AS pair
       |  FROM w2t WHERE length(w2) >= 2
       |),
       |t2 AS (
       |  SELECT m2k,
       |         replace(substr(m2k, 1, 1), chr(1), m1) ||
       |         replace(substr(m2k, 2, 1), chr(1), m1) AS m2
       |  FROM (SELECT COALESCE((
       |    SELECT pair FROM (
       |      SELECT pair, CAST(SUM(wf) AS BIGINT) AS n
       |      FROM p2 GROUP BY pair, m1
       |      ORDER BY n DESC, replace(substr(pair, 1, 1), chr(1), m1),
       |               replace(substr(pair, 2, 1), chr(1), m1) LIMIT 1
       |    )), chr(0) || chr(0)) AS m2k) CROSS JOIN t1
       |),
       |w3t AS (SELECT wf, m1, m2, m2k, replace(w2, m2k, chr(2)) AS w3
       |        FROM w2t CROSS JOIN t2),
       |p3 AS (
       |  SELECT wf, m1, m2,
       |    unnest(list_transform(generate_series(1, length(w3) - 1),
       |      i -> substr(w3, i, 2))) AS pair
       |  FROM w3t WHERE length(w3) >= 2
       |),
       |t3 AS (
       |  SELECT COALESCE((
       |    SELECT pair FROM (
       |      SELECT pair, CAST(SUM(wf) AS BIGINT) AS n,
       |        replace(replace(substr(pair, 1, 1), chr(2), m2), chr(1), m1) AS l3,
       |        replace(replace(substr(pair, 2, 1), chr(2), m2), chr(1), m1) AS r3
       |      FROM p3 GROUP BY pair, m1, m2
       |      ORDER BY n DESC, l3, r3 LIMIT 1
       |    )), chr(0) || chr(0)) AS m3k
       |),
       |enc AS (
       |  SELECT word, CAST(length(
       |    replace(replace(replace(word, m1, chr(1)), m2k, chr(2)), m3k, chr(3))
       |  ) AS BIGINT) AS ntok
       |  FROM wall CROSS JOIN t1 CROSS JOIN t2 CROSS JOIN t3
       |),
       |stream AS (
       |  SELECT doc_id, source, unnest($toks) AS word FROM documents
       |)
       |SELECT source,
       |  CAST(COUNT(DISTINCT s.doc_id) AS BIGINT) AS n_docs,
       |  CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(length(s.word)) AS BIGINT) AS n_chars,
       |  CAST(SUM(e.ntok) AS BIGINT) AS n_tokens,
       |  (1000 * CAST(SUM(e.ntok) AS BIGINT)) // CAST(SUM(length(s.word)) AS BIGINT)
       |    AS compression_pm
       |FROM stream s JOIN enc e ON s.word = e.word
       |GROUP BY source ORDER BY source""".stripMargin
  }

  val registry: Seq[Query] = Seq(
    Query("q80_bpe_merge_round3", q80, Some(q80Sql)),
    Query("q104_bpe_encode", q104, Some(q104Sql), Some("merges")))
}
