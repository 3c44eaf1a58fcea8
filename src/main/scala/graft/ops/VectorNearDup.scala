package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._


/** Embedding-space near-duplicate detection as a reusable operator — the
  * vector twin of [[NearDup]]: sign-bit LSH buckets generate candidates,
  * exact cosine gates them.
  *
  * At 100 TB: candidate generation is an equi-self-join on the bucket id
  * (2^nPlanes cells); raising nPlanes trades recall for join fan-in.
  * Vectors are widened to double and normed ONCE; the bucket id becomes
  * the corpus partition key at scale so the join co-locates.
  */
object VectorNearDup {

  /** Plane count sized to the corpus: enough sign bits that EXPECTED
    * bucket occupancy stays near `targetPerBucket`. Fixed bits go
    * quadratic in density (within-bucket candidates ∝ occupancy² — the
    * measured sf0.1→sf1 curve of q52 is 12×, not 10×, for exactly this
    * reason), so the bit count must grow with the corpus:
    * ceil(log2(n / target)) planes, clamped to [floor, cap]. The cap
    * bounds codegen size (each plane embeds a dim-wide literal array in
    * the expression). Because [[VectorOps.planes]] is a fixed sequence,
    * the first n planes at n+k planes are THE SAME planes — buckets
    * refine as bits grow, so the same-bucket candidate set only ever
    * shrinks (never shifts) when a corpus re-runs with more bits.
    * Costing one COUNT to choose the plan is the dimension-collect
    * discipline: a column-pruned scan returning a single long.
    *
    * INTEGER-EXACT on purpose: the rule is "smallest k with
    * target·2^k >= n", computed by shift-and-compare, never floating
    * log2 — at exact power-of-2 boundaries `ceil(log(n/t)/log(2))`
    * depends on the last ulp of the two logs, and the q199 oracle twin
    * replays this rule in DuckDB integer arithmetic, so both engines
    * must land on the same k for every n. */
  def adaptiveNPlanes(corpusSize: Long, targetPerBucket: Int = 64,
                      floor: Int = 8, cap: Int = 20): Int = {
    require(targetPerBucket >= 1, s"targetPerBucket must be >= 1")
    require(floor >= 1 && cap >= floor, s"need 1 <= floor <= cap")
    var k = 0
    while (k < cap && (targetPerBucket.toLong << k) < corpusSize) k += 1
    math.max(floor, k)
  }

  /** [[prepared]] with the plane count chosen by [[adaptiveNPlanes]]
    * from the actual corpus size. Returns (prep, nPlanes) — callers
    * need nPlanes again for [[pairsMultiprobe]]'s probe set. */
  def preparedAdaptive(vectors: DataFrame, idCol: String, embeddingCol: String,
                       dim: Int, targetPerBucket: Int = 64): (DataFrame, Int) = {
    val n = adaptiveNPlanes(vectors.count(), targetPerBucket)
    (prepared(vectors, idCol, embeddingCol, n, dim), n)
  }

  /** (id, v, nrm, bucket) — preprocessed vectors. Caller caches. */
  def prepared(vectors: DataFrame, idCol: String, embeddingCol: String,
               nPlanes: Int, dim: Int): DataFrame = {
    vectors
      .select(col(idCol).as("vec_id"),
              expr(VectorOps.toDoubleExpr(embeddingCol)).as("v"))
      .withColumn("nrm", expr(VectorOps.normExpr("v")))
      .withColumn("bucket", expr(VectorOps.hyperplaneBucketExpr("v", nPlanes, dim)))
  }

  /** Same-bucket pairs with exact cosine >= `threshold`. */
  def pairs(prep: DataFrame, threshold: Double): DataFrame =
    prep.as("x").join(prep.as("y"),
        col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .withColumn("cosine",
        expr(VectorOps.fastDot("x.v", "y.v")) / (col("x.nrm") * col("y.nrm")))
      .filter(col("cosine") >= threshold)
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
              col("cosine"))

  /** Multiprobe variant of [[pairs]]: each vector also probes the nPlanes
    * buckets at Hamming distance 1 (one sign bit flipped), so every pair
    * whose buckets differ in <= 1 bit is found — the standard multiprobe
    * LSH recall boost (Lv et al., VLDB'07 — public) at ~(nPlanes+1)× the
    * candidate fan-in instead of 2^nPlanes× for full coverage.
    *
    * Shape: the probe explosion carries only (vec_id, probe) — fixed-width
    * candidate pairs form BEFORE the vectors join back (the q27/NearDup
    * discipline), so the shuffle never multiplies the embedding arrays.
    * A qualifying pair matches exactly once (its bucket XOR is 0 or a
    * single distinct bit ⇒ exactly one probe hits), so no pair-distinct
    * shuffle is needed either.
    */
  def pairsMultiprobe(prep: DataFrame, threshold: Double, nPlanes: Int): DataFrame = {
    val probeList = ("bucket" +: (0 until nPlanes).map(i => s"bucket ^ ${1L << i}L"))
      .mkString("array(", ", ", ")")
    val probes = prep.select(col("vec_id"), explode(expr(probeList)).as("probe"))
    val cand = probes.as("x")
      .join(prep.select(col("vec_id"), col("bucket")).as("y"),
        col("x.probe") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
    val a = prep.select(col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("na"))
    val b = prep.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb"))
    cand.join(a, "vec_a").join(b, "vec_b")
      .withColumn("cosine",
        expr(VectorOps.fastDot("va", "vb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
  }

  /** Greedy survivor rule (see [[NearDup.survivors]]). */
  def survivors(vectors: DataFrame, id: Column, nearDupPairs: DataFrame): DataFrame =
    vectors.join(nearDupPairs.select(col("vec_b").as("drop_id")).distinct(),
      id === col("drop_id"), "left_anti")
}
