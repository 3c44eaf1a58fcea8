package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The two round-6 curation passes as reusable operators, so the
  * product loop ([[graft.corpus.CurationPipeline]]) runs the same code
  * the oracle queries verify (q79 exact-substring scrub, q74
  * normalization-aware dedup — see `QueriesCuration`).
  *
  * Scale shapes (unchanged from the verified queries):
  *  - scrub: positional gram hashes are one cached per-row array
  *    expression; the duplicated-gram set is a map-side-combinable count
  *    keyed by gram hash; covered positions explode from MATCHED starts
  *    only, never the full gram stream; the per-doc position set joins
  *    back on the id — the only extra shuffle.
  *  - normalized dedup: per-row NFC+casefold+collapse is codegen'd
  *    (`graft_nfc` is a native expression); the only shuffle is the
  *    groupBy on the normalized hash — exactly the exact-dedup shuffle.
  */
object CurationDedup {

  /** Token arrays + positional gram hashes, the cacheable prefix of
    * [[scrubbed]] — the caller caches (the md5 gram hashing is the
    * dominant per-row cost and the scrub references it twice), mirroring
    * [[NearDup.shingleHashed]]'s contract. Adds `_toks` and `_ghs`.
    * Hashing runs through the native [[graft.functions.PosGramHashes]]
    * at its registered gram sizes (bit-identical to the composed form,
    * TextVectorSpec-pinned; the composed transform evaluates its lambda
    * interpreted with an md5 expression chain per gram) and falls back
    * to the composed form at unregistered sizes. */
  def gramHashed(docs: DataFrame, textCol: String, k: Int = 8): DataFrame = {
    val ghs =
      if (Set(1, 2, 8).contains(k)) s"graft_pos_grams$k($textCol)"
      else TextOps.posGramHashesExpr("_toks", k)
    docs
      .withColumn("_toks", expr(TextOps.tokensExpr(textCol)))
      .withColumn("_ghs", expr(ghs))
  }

  /** Exact-substring dedup SCRUB (Lee et al. 2022's removal pass, the
    * aggressive all-copies variant): every token position covered by a
    * k-gram occurring >= minCount times corpus-wide is dropped and the
    * survivors reassemble in order (single-space joined). Returns the
    * input columns with `textCol` rewritten, plus `n_toks_orig` and
    * `n_removed_toks` for the audit. Docs scrubbed to nothing come back
    * with an empty string — the caller decides whether to drop them. */
  def scrubbed(hashed: DataFrame, idCol: String, textCol: String,
               k: Int = 8, minCount: Int = 2): DataFrame = {
    val passthrough = hashed.columns.filterNot(c =>
      c == idCol || c == textCol || c == "_toks" || c == "_ghs")
    val grams = hashed
      .select(col(idCol), posexplode(col("_ghs")).as(Seq("_p0", "_h")))
      .select(col(idCol), (col("_p0") + 1).as("_start"), col("_h"))
    val dup = grams.groupBy(col("_h")).agg(count(lit(1)).as("_c"))
      .filter(col("_c") >= minCount).select("_h")
    val dpos = grams.join(dup, Seq("_h"))
      .select(col(idCol),
        explode(sequence(col("_start"), col("_start") + lit(k - 1))).as("_pos"))
      .groupBy(col(idCol)).agg(collect_set(col("_pos")).as("_dpos"))
    hashed.join(dpos, Seq(idCol), "left")
      .withColumn("_dpos",
        coalesce(col("_dpos"), expr("CAST(array() AS ARRAY<INT>)")))
      .withColumn("_kept", expr(
        """transform(filter(sequence(1, size(_toks)), i -> NOT array_contains(_dpos, i)),
          |  i -> element_at(_toks, i))""".stripMargin))
      .withColumn("n_toks_orig", expr("CAST(size(_toks) AS BIGINT)"))
      .withColumn("n_removed_toks",
        expr("CAST(size(_toks) - size(_kept) AS BIGINT)"))
      .withColumn(textCol, expr("concat_ws(' ', _kept)"))
      .select(Seq(col(idCol), col(textCol)) ++ passthrough.map(col) ++
        Seq(col("n_toks_orig"), col("n_removed_toks")): _*)
  }

  /** Normalization-aware dedup: one survivor (min id) per
    * NFC+casefold+whitespace-normalized text — catches case / spacing /
    * composed-vs-decomposed-accent duplicates that raw-hash dedup
    * misses. */
  def normalizedSurvivors(docs: DataFrame, idCol: String,
                          textCol: String): DataFrame = {
    val first = docs
      .groupBy(expr(TextOps.hash60(TextOps.normalizeExpr(textCol))).as("_nh"))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)
    docs.join(first, Seq(idCol), "left_semi")
  }
}
