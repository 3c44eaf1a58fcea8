package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact all-pairs cosine over an embedding column as a tight primitive
  * kernel — the fast form of the q30/q31 brute-force VERIFIER.
  *
  * Why not the join form: `a JOIN b ON id_a < id_b` through a
  * BroadcastNestedLoopJoin materializes every candidate pair as an
  * UnsafeRow carrying BOTH dim-wide arrays (~1 KB/pair), so at n = 20k the
  * join moves ~400 GB through row copies to do 13 GFLOP of arithmetic —
  * memory traffic, not math, dominates. Here the vectors live once in a
  * flat primitive `Array[Double]` broadcast; each task walks an
  * interleaved stripe of the i<j triangle with a fused dot-product loop
  * and emits ONLY survivors. Same 13 GFLOP, ~zero traffic.
  *
  * Cross-engine exactness (the verifier's contract): widening, norm, dot,
  * and cosine reproduce [[VectorOps]] bit-for-bit — float→double per
  * element, strict left-to-right fold with a 0.0 accumulator, then
  * `dot / (norm_a * norm_b)` — so results hash-match the DuckDB oracle
  * and rank identically under ORDER BY cosine.
  *
  * Scale notes (100 TB): this is deliberately NOT a corpus-scale
  * operator — it is the exact baseline that measures the recall of the
  * bucketed paths ([[VectorNearDup.pairsMultiprobe]], q52; IVF, q41).
  * The `maxRows` guard ([[DriverCollect.upTo]]: never more than
  * `maxRows + 1` rows collected) fails loudly, naming the scale path,
  * instead of letting an all-pairs broadcast OOM an executor; run it on
  * a bounded sample (q213's deterministic-sample discipline) when the
  * corpus is large. Work distribution: row i costs n-i-1 partners, so
  * tasks take interleaved stripes (i ≡ t mod tasks) — each stripe sums
  * to within one row of n²/2T pairs, no skew.
  */
object BruteForce {

  /** All (vec_a, vec_b, cosine) with vec_a < vec_b and cosine >= threshold.
    * `idCol` must be unique; `embeddingCol` is ARRAY<FLOAT> (or DOUBLE). */
  def allPairsCosine(vectors: DataFrame, idCol: String, embeddingCol: String,
                     threshold: Double, maxRows: Int = 1 << 18): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._

    // Bounded verifier collect: a column-pruned (id, vec) scan; an
    // oversized input fails after at most maxRows + 1 rows reach the driver
    val rows = DriverCollect.upTo(vectors
        .select(col(idCol).cast("long"), col(embeddingCol).cast("array<double>"))
        .as[(Long, Array[Double])], maxRows)
      .getOrElse(throw new IllegalArgumentException(
        s"BruteForce.allPairsCosine is the exact all-pairs VERIFIER, bounded " +
          s"at $maxRows rows (got at least ${maxRows + 1}); at corpus scale " +
          "use the bucketed path (VectorNearDup.pairsMultiprobe / IVF) and " +
          "verify recall on a deterministic sample"))
    java.util.Arrays.sort(rows, Ordering.by[(Long, Array[Double]), Long](_._1))

    val n = rows.length
    val dim = if (n == 0) 0 else rows(0)._2.length
    val ids = new Array[Long](n)
    val flat = new Array[Double](n * dim)
    val norms = new Array[Double](n)
    var i = 0
    while (i < n) {
      val (id, v) = rows(i)
      require(v.length == dim,
        s"ragged embeddings: row id=$id has dim ${v.length}, expected $dim")
      ids(i) = id
      System.arraycopy(v, 0, flat, i * dim, dim)
      // norm = sqrt(sequential-fold dot(v, v)) — VectorOps.normExpr's fold
      var acc = 0.0
      var d = 0
      while (d < dim) { val x = v(d); acc += x * x; d += 1 }
      // zero-norm fails loudly: cosine would be NaN, and NaN `>=` diverges
      // between the kernel's Java compare (false → pair silently dropped)
      // and Spark SQL's NaN-greatest ordering (pair kept) — exclusion by
      // silence is not a semantics, so refuse the input instead
      require(acc > 0.0,
        s"zero-norm embedding at id=$id: cosine is undefined (NaN); " +
          "filter zero vectors out before the verifier")
      norms(i) = math.sqrt(acc)
      i += 1
    }

    val sc = spark.sparkContext
    val bIds = sc.broadcast(ids)
    val bFlat = sc.broadcast(flat)
    val bNorms = sc.broadcast(norms)
    val tasks = math.max(1, sc.defaultParallelism * 2)

    spark.range(0, tasks.toLong, 1, tasks).as[Long]
      .mapPartitions { stripes =>
        stripes.flatMap { t =>
          val ids = bIds.value; val flat = bFlat.value; val norms = bNorms.value
          val n = ids.length
          val d0 = if (n == 0) 0 else flat.length / n
          Iterator.range(t.toInt, n, tasks).flatMap { i =>
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
            val base = i * d0
            var j = i + 1
            while (j < n) {
              var acc = 0.0
              var d = 0
              val bj = j * d0
              while (d < d0) { acc += flat(base + d) * flat(bj + d); d += 1 }
              val cos = acc / (norms(i) * norms(j))
              if (cos >= threshold) out += ((ids(i), ids(j), cos))
              j += 1
            }
            out
          }
        }
      }
      .toDF("vec_a", "vec_b", "cosine")
  }

  /** Per-GROUP near-duplicate marking — the SemDeDup within-cluster pass
    * (q64): for each group (cluster cell), the members `id_b` for which
    * SOME lower-id member has cosine >= threshold. Returns (groupCol,
    * dropped id) — O(members) output per group, never the pair set.
    *
    * Input columns: `groupCol` BIGINT, `idCol` BIGINT, `vecCol`
    * ARRAY<DOUBLE> (pre-widened). Cosine reproduces [[VectorOps]]'s
    * folds bit-for-bit, so the marking matches the oracle's all-pairs
    * EXISTS exactly. Shape: ONE groupByKey shuffle carrying each vector
    * once — the within-group equi-self-join it replaces copies BOTH
    * dim-wide arrays into every candidate pair row (members²/2 × ~1 KB
    * per group). The in-kernel scan early-exits per member on the first
    * marking pair (EXISTS semantics), so densely duplicated groups cost
    * ~linear, not quadratic. Group size is guarded loudly: the SemDeDup
    * contract is that the CLUSTERING bounds cell size (k is chosen to
    * make per-cell work task-sized — Abbas et al.'s own design); a cell
    * past the guard means the clustering, not this pass, needs fixing. */
  def withinGroupDropped(vectors: DataFrame, groupCol: String, idCol: String,
                         vecCol: String, threshold: Double,
                         maxGroup: Int = 1 << 17): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    vectors
      .select(col(groupCol).cast("long"), col(idCol).cast("long"),
        col(vecCol).cast("array<double>"))
      .as[(Long, Long, Array[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (cell, it) =>
        val rows = it.toArray
        require(rows.length <= maxGroup,
          s"withinGroupDropped: group $cell has ${rows.length} members " +
            s"(> $maxGroup) — size the clustering (k) so cells stay " +
            "task-sized; this pass is within-cluster by design")
        java.util.Arrays.sort(rows,
          Ordering.by[(Long, Long, Array[Double]), Long](_._2))
        val n = rows.length
        val dim = if (n == 0) 0 else rows(0)._3.length
        val norms = new Array[Double](n)
        var i = 0
        while (i < n) {
          val v = rows(i)._3
          require(v.length == dim,
            s"ragged embeddings in group $cell: ${v.length} vs $dim")
          var acc = 0.0
          var d = 0
          while (d < dim) { val x = v(d); acc += x * x; d += 1 }
          // same zero-norm refusal as allPairsCosine: NaN cosine compares
          // differently in Java (drop) vs Spark SQL (keep) — fail loudly
          require(acc > 0.0,
            s"zero-norm embedding in group $cell (id=${rows(i)._2}): " +
              "cosine is undefined (NaN); filter zero vectors out first")
          norms(i) = math.sqrt(acc)
          i += 1
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        var j = 1
        while (j < n) {
          val vj = rows(j)._3
          var marked = false
          var k = 0
          while (k < j && !marked) {
            val vk = rows(k)._3
            var acc = 0.0
            var d = 0
            while (d < dim) { acc += vk(d) * vj(d); d += 1 }
            if (acc / (norms(k) * norms(j)) >= threshold) marked = true
            k += 1
          }
          if (marked) out += ((cell, rows(j)._2))
          j += 1
        }
        out.iterator
      }
      .toDF(groupCol, idCol)
  }
}
