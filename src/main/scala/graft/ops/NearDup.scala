package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._


/** MinHash + LSH near-duplicate detection as a reusable library operator —
  * the scale path for corpus dedup (candidate generation is an equi-join
  * on band keys, never all-pairs).
  *
  * Pipeline: word-3-shingle 60-bit hashes per doc (native
  * `graft_shingle_hashes3`) → 16-permutation MinHash packed into 8 band
  * keys of 2 rows (`graft_minhash_bands`, the standard S-curve for a
  * ~0.5 Jaccard threshold) → band-key self-join → exact Jaccard verify
  * with the two-pointer `graft_sorted_intersect`.
  *
  * At 100 TB: the hash arrays are computed once and persisted (caller
  * caches or checkpoints `hashed`); the self-join shuffles only
  * (doc_id, band, key) triples; candidate dedup happens on small
  * fixed-width pairs BEFORE the arrays are joined back for verification.
  */
object NearDup {

  /** (id, hs) — sorted distinct shingle hashes per doc. Caller should
    * repartition a single-file scan first and cache the result. */
  def shingleHashed(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    docs.filter(length(col(textCol)) >= 13)
      .select(col(idCol).as("doc_id"),
              expr(s"graft_shingle_hashes3($textCol)").as("hs"))
  }

  /** Distinct LSH candidate pairs (doc_a < doc_b) from the band-key
    * self-join — the shared first stage of every confirm variant
    * ([[pairs]] Jaccard, edit-distance confirm). The shuffle carries
    * only (doc_id, band, key) triples and the distinct runs on
    * fixed-width id pairs, so this is safe at any corpus size the
    * banding itself can handle. */
  /** (doc_id, band, key) signature rows — the LSH probe/index table the
    * self-join, the dedup-at-ingest split (q186), and any future probe
    * pattern share; one source for the banding convention. */
  def bandSignatures(hashed: DataFrame): DataFrame = {
    hashed.select(col("doc_id"),
      posexplode(expr("graft_minhash_bands(hs)")).as(Seq("band", "key")))
  }

  def candidatePairs(hashed: DataFrame): DataFrame = {
    val sig = bandSignatures(hashed)
    sig.as("x").join(sig.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** Candidate id pairs (columns `aCol`, `bCol`) + their exact Jaccard —
    * the shared confirm stage (one source for the score convention; the
    * q27 pipeline, q186's ingest check, and q188's scheme sweep all
    * join their own candidate sets through this). */
  def jaccardScored(cand: DataFrame, hashed: DataFrame,
                    aCol: String, bCol: String): DataFrame = {
    val a = hashed.select(col("doc_id").as(aCol), col("hs").as("hs_a"))
    val b = hashed.select(col("doc_id").as(bCol), col("hs").as("hs_b"))
    cand.join(a, aCol).join(b, bCol)
      .withColumn("n_inter", expr("graft_sorted_intersect(hs_a, hs_b)"))
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (size(col("hs_a")) + size(col("hs_b")) - col("n_inter")).cast("double"))
      .drop("hs_a", "hs_b", "n_inter")
  }

  /** Near-dup pairs with exact Jaccard >= `threshold` among LSH candidates. */
  def pairs(hashed: DataFrame, threshold: Double): DataFrame =
    jaccardScored(candidatePairs(hashed), hashed, "doc_a", "doc_b")
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** Containment-aware scoring among LSH candidates — the quote/subset
    * detector Jaccard misses: a short doc fully embedded in a long one
    * has containment(short) ≈ 1 but Jaccard ≈ |short|/|long| ≈ 0, so a
    * Jaccard-thresholded dedup keeps the copy. Emits BOTH directional
    * containments plus the Jaccard as exact integer percents (floored —
    * `(100·|∩|) DIV |side|` so the score itself is cross-engine exact),
    * keeping pairs where either direction ≥ `minPct`. Same scale shape
    * as [[pairs]]: banded candidate generation, never all-pairs; the
    * scoring join touches candidates only. */
  def containmentPairs(hashed: DataFrame, minPct: Long): DataFrame = {
    val cand = candidatePairs(hashed)
    val a = hashed.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"))
    val b = hashed.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"))
    cand.join(a, "doc_a").join(b, "doc_b")
      .withColumn("n_inter", expr("graft_sorted_intersect(hs_a, hs_b)"))
      .withColumn("cont_a_pct", expr("CAST((100 * n_inter) DIV size(hs_a) AS BIGINT)"))
      .withColumn("cont_b_pct", expr("CAST((100 * n_inter) DIV size(hs_b) AS BIGINT)"))
      .withColumn("jaccard_pct",
        expr("CAST((100 * n_inter) DIV (size(hs_a) + size(hs_b) - n_inter) AS BIGINT)"))
      .filter(greatest(col("cont_a_pct"), col("cont_b_pct")) >= minPct)
      .select(col("doc_a"), col("doc_b"), col("cont_a_pct"), col("cont_b_pct"),
        col("jaccard_pct"))
  }

  /** Edit-distance confirm over candidate id pairs — the q127 precision
    * stage, shared with the curation pipeline's `editDistanceMax` knob.
    * Joins texts back for candidates only, then keeps pairs whose
    * bounded Levenshtein distance is <= `k` (emitted as `dist`); every
    * other column of `pairs` rides through.
    *
    * Two measured plan hazards shape this:
    *  - a length prefilter (|len_a - len_b| <= k, exact — distance is
    *    at least the length gap) runs inside the join, so far pairs
    *    never reach the DP (70% of sf1's candidates die here);
    *  - the DP is fenced behind repartition + localCheckpoint. Without
    *    the barrier Catalyst folds the dist filter INTO the join
    *    condition, where it is (a) evaluated twice per row and (b) run
    *    on the join's AQE-coalesced output — candidate pairs are a few
    *    MB, AQE coalesces them to ONE partition, and the whole DP goes
    *    single-threaded (measured 25.6 s -> 3.4 s at sf1 from this
    *    fence alone). The checkpoint materializes only fixed-width id
    *    pairs + two texts for length-surviving candidates, exactly the
    *    hand-off a production LSH->verify pipeline persists anyway. */
  def confirmEditDistance(pairs: DataFrame, texts: DataFrame, k: Int,
      parts: Int): DataFrame = {
    val t = texts.select(col("doc_id"), col("text"))
    val joined = pairs
      .join(t.select(col("doc_id").as("doc_a"), col("text").as("text_a")), "doc_a")
      .join(t.select(col("doc_id").as("doc_b"), col("text").as("text_b")), "doc_b")
      .filter(abs(length(col("text_a")) - length(col("text_b"))) <= k)
      .repartition(parts)
      .localCheckpoint(false)
    joined
      .withColumn("dist", levenshtein(col("text_a"), col("text_b"), k).cast("long"))
      .filter(col("dist") >= 0 && col("dist") <= k)
      .drop("text_a", "text_b")
  }

  /** Greedy survivor selection: keep a doc unless some near-dup with a
    * lower id exists (one-hop rule). Cheap — a single anti-join — but NOT
    * transitive: a chain a~b~c keeps BOTH a and c even though the three
    * form one duplicate group. Use [[transitiveSurvivors]] when chains
    * matter (they do at corpus scale). */
  def survivors(docs: DataFrame, id: Column, nearDupPairs: DataFrame): DataFrame =
    docs.join(nearDupPairs.select(col("doc_b").as("drop_id")).distinct(),
      id === col("drop_id"), "left_anti")

  /** Transitive survivor selection: connected components over the pair
    * graph ([[Components.minLabel]]), keep exactly min(id) per component —
    * a chain a~b~c drops b AND c. */
  def transitiveSurvivors(docs: DataFrame, id: Column, nearDupPairs: DataFrame,
                          aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    val drops = Components.minLabel(nearDupPairs, aCol, bCol)
      .filter(col("id") =!= col("component"))
      .select(col("id").as("drop_id"))
    docs.join(drops, id === col("drop_id"), "left_anti")
  }
}
