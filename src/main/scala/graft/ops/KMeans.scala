package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic Lloyd's k-means over int8-quantized embeddings — the
  * offline trainer that gives the IVF (q41) and SemDeDup (q64) cells
  * real data-derived centroids instead of pseudo-random literals.
  *
  * Cross-engine determinism (the whole design):
  *  - vectors are quantized to integer codes first (q68's exact per-row
  *    formula), so centroid state is (per-dim BIGINT code sums, count) —
  *    ORDER-INDEPENDENT integer aggregation, immune to shuffle order;
  *  - centroid means materialize as doubles only via one division per
  *    dim (sum/count — identical correctly-rounded IEEE result on any
  *    engine);
  *  - assignment is argmin Euclidean distance, computed in the
  *    monotone-equivalent form argmax(dot(codes, m) − |m|²/2) — dot and
  *    |m|² are the library's sequential-fold discipline
  *    ([[VectorOps]]), ties break on the lowest cell index;
  *  - init is the k lowest-id vectors' codes (count 1), a deterministic
  *    seed both engines express; a cell that loses all members keeps its
  *    previous centroid;
  *  - the iteration count is FIXED (no convergence epsilon — floating
  *    thresholds are where cross-engine runs diverge).
  *
  * Scale shape: per iteration, assignment is a map-side argmax over k
  * literal-embedded centroids (codegen'd `graft_dot`, no join), the
  * re-estimate is one posexplode + map-side-combinable (cell, dim)
  * integer sum, and the only driver traffic is k·dim sums — the
  * dimension-sized collect discipline. This is the classic broadcast
  * k-means layout; at 100 TB each iteration is one scan + one tiny
  * shuffle.
  */
object KMeans {

  /** Centroid state: mean(d) = sums(d) / cnt. `seeded` = false marks a
    * pad cell invented because the corpus had fewer than k vectors —
    * kept so fixed-arity argmax expressions still analyze, but excluded
    * from any cross-engine state dump (the DuckDB twin's LIMIT-k seed
    * carries only real cells). */
  case class Centroid(cell: Int, sums: IndexedSeq[Long], cnt: Long,
                      seeded: Boolean = true) {
    def means: IndexedSeq[Double] = sums.map(_.toDouble / cnt.toDouble)
  }

  private def dlit(x: Double): String = java.lang.Double.toString(x)

  /** Spark: int8 codes of a double-array column (q68's formula —
    * per-row max-abs scale, round-half-up).
    *
    * The scale is evaluated ONCE per row and repeated to the vector's
    * length (`array_repeat(scale, size(v))` — zip_with needs
    * equal-length sides) so the lambda reads it as a plain element.
    * SQL lambdas have no let-binding, and inlining the `array_max`
    * scale inside the per-element lambda would re-reduce the whole
    * vector for every element (O(dim²) interpreted work per row;
    * measured ~2s of the q41 runtime at sf0.1 before this shape). */
  def codesExpr(v: String): String = {
    val scale = s"(CASE WHEN array_max(transform($v, x -> abs(x))) = 0.0D THEN 1.0D " +
      s"ELSE 127.0D / array_max(transform($v, x -> abs(x))) END)"
    s"""zip_with($v, array_repeat($scale, size($v)),
       |  (x, sc) -> CAST(floor(x * sc + 0.5D) AS BIGINT))""".stripMargin
  }

  /** Per-cell assignment scores over literal-embedded centroids:
    * argmax(score) == argmin Euclidean distance. `cd` must be
    * ARRAY<DOUBLE> (codes cast — `graft_dot` does no coercion). */
  def scoreExprs(cd: String, cents: IndexedSeq[Centroid]): Seq[String] =
    cents.map { c =>
      val m = c.means
      val half = m.map(x => x * x).sum / 2.0
      val arr = m.map(x => s"${dlit(x)}D").mkString("array(", ", ", ")")
      s"(${VectorOps.fastDot(cd, arr)} - ${dlit(half)}D)"
    }

  /** Train `iters` rounds of Lloyd's over `em(codesCol)` (ARRAY<BIGINT>
    * codes; `idCol` orders the deterministic seed). Returns the final
    * centroids, driver-side (k·dim longs — dimension-sized). */
  def train(em: DataFrame, idCol: String, codesCol: String,
            k: Int, iters: Int): IndexedSeq[Centroid] = {
    require(k >= 1 && iters >= 0, s"need k >= 1, iters >= 0; got $k, $iters")
    val seed = em.orderBy(col(idCol)).limit(k)
      .select(col(codesCol)).collect()
    // a corpus smaller than k pads the unseeded cells with zero
    // centroids (deterministic, and k stays fixed so downstream
    // argmax-over-k expressions always analyze); pads carry
    // seeded = false so state dumps can exclude them — the DuckDB twin
    // never invents them
    val dim0 = if (seed.nonEmpty) seed.head.getSeq[Long](0).length else 1
    var cents: IndexedSeq[Centroid] = (0 until k).map { i =>
      if (i < seed.length) Centroid(i, seed(i).getSeq[Long](0).toIndexedSeq, 1L)
      else Centroid(i, IndexedSeq.fill(dim0)(0L), 1L, seeded = false)
    }
    // cached: every iteration re-reads these 2 columns, and the codes
    // transform should run once, not once per iteration per action
    val withCd = em.select(col(codesCol).as("_q"))
      .withColumn("_cd", expr("transform(_q, x -> CAST(x AS DOUBLE))"))
      .cache()
    // try/finally like LinearTrain.train: a mid-iteration failure must
    // not leave the corpus-scale codes cache pinned for the session
    try for (_ <- 1 to iters) {
      val scores = scoreExprs("_cd", cents)
        .zipWithIndex.map { case (e, i) => expr(e).as(s"s$i") }
      val assigned = withCd
        .select(col("_q") +: scores: _*)
        .withColumn("_cell", expr(VectorOps.argmaxCase(cents.length)))
      // ONE action per iteration: the (cell, dim) sums carry the member
      // count for free — every vector contributes exactly one row per
      // dim, so count at dim 0 IS the cell's membership
      val rows = assigned
        .select(col("_cell"), posexplode(col("_q")).as(Seq("_d", "_x")))
        .groupBy(col("_cell"), col("_d"))
        .agg(sum(col("_x")).as("_s"), count(lit(1)).as("_c"))
        .collect()
      val sums = rows.groupBy(_.getInt(0))
        .map { case (cell, rs) =>
          cell -> rs.map(r => (r.getInt(1), r.getLong(2))).sortBy(_._1).map(_._2).toIndexedSeq
        }
      val cnts = rows.filter(_.getInt(1) == 0)
        .map(r => r.getInt(0) -> r.getLong(3)).toMap
      cents = cents.map { c => // an emptied cell keeps its previous centroid
        (sums.get(c.cell), cnts.get(c.cell)) match {
          case (Some(s), Some(n)) => Centroid(c.cell, s, n, c.seeded)
          case _                  => c
        }
      }
    }
    finally withCd.unpersist()
    cents
  }

  /** DuckDB twins: the unrolled training CTE chain. */
  object sql {
    private val X = VectorOps.sql

    /** CTE chain training k-means exactly as [[train]] does, ending in
      * `cent$iters`(cell, sums, cnt) and `m$iters`(cell, m) — the final
      * centroids and their double means. Expects an upstream CTE
      * `$codesSrc`(vec id `$idCol`, ARRAY codes `$codesCol`). */
    def trainCtes(codesSrc: String, idCol: String, codesCol: String,
                  k: Int, iters: Int): String = {
      val seed =
        s"""cent0 AS (
           |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY $idCol) AS INTEGER) - 1 AS cell,
           |    $codesCol AS sums, CAST(1 AS BIGINT) AS cnt
           |  FROM (SELECT $idCol, $codesCol FROM $codesSrc
           |        ORDER BY $idCol LIMIT $k)
           |)""".stripMargin
      val rounds = (1 to iters).map { t =>
        val p = t - 1
        s"""m$p AS (
           |  SELECT cell,
           |    list_transform(sums, s -> CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE)) AS m
           |  FROM cent$p
           |),
           |a$t AS (
           |  SELECT q.$idCol, q.$codesCol AS cd, c.cell,
           |    ${X.dot(s"q.$codesCol", "c.m")} - ${X.dot("c.m", "c.m")} / 2 AS sc
           |  FROM $codesSrc q CROSS JOIN m$p c
           |),
           |p$t AS (
           |  SELECT $idCol, cd, cell FROM (
           |    SELECT *, ROW_NUMBER() OVER
           |      (PARTITION BY $idCol ORDER BY sc DESC, cell) AS rn
           |    FROM a$t
           |  ) WHERE rn = 1
           |),
           |n$t AS (
           |  SELECT cell, list(s ORDER BY d) AS sums, MIN(cnt) AS cnt FROM (
           |    SELECT cell, d, CAST(SUM(x) AS BIGINT) AS s,
           |      CAST(COUNT(*) AS BIGINT) AS cnt
           |    FROM (
           |      SELECT cell, unnest(cd) AS x,
           |        unnest(generate_series(1, len(cd))) AS d
           |      FROM p$t
           |    ) GROUP BY cell, d
           |  ) GROUP BY cell
           |),
           |cent$t AS (
           |  SELECT o.cell, COALESCE(n.sums, o.sums) AS sums,
           |    COALESCE(n.cnt, o.cnt) AS cnt
           |  FROM cent$p o LEFT JOIN n$t n USING (cell)
           |)""".stripMargin
      }
      val finalMeans =
        s"""m$iters AS (
           |  SELECT cell,
           |    list_transform(sums, s -> CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE)) AS m
           |  FROM cent$iters
           |)""".stripMargin
      (seed +: rounds :+ finalMeans).mkString(",\n")
    }

    /** Full training chain over the `embeddings` table: float→double
      * (`ekm`), q68 quantization (`qkm`), [[trainCtes]], and a 1-row
      * pivot `cl`(ms, hs) of the final centroid means and |m|²/2 halves
      * ordered by cell — CROSS JOIN `cl` and use [[cellScores]]. */
    def embeddingTrainingCtes(k: Int, iters: Int): String =
      s"""ekm AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings
         |),
         |qkm AS (
         |  SELECT vec_id, v, list_transform(v, x ->
         |    CAST(floor(x * (CASE WHEN mx = 0.0 THEN 1.0 ELSE 127.0 / mx END)
         |      + 0.5) AS BIGINT)) AS q
         |  FROM (SELECT vec_id, v,
         |          list_max(list_transform(v, x -> abs(x))) AS mx FROM ekm)
         |),
         |${trainCtes("qkm", "vec_id", "q", k, iters)},
         |cl AS (
         |  SELECT list(m ORDER BY cell) AS ms, list(h ORDER BY cell) AS hs
         |  FROM (SELECT cell, m, ${X.dot("m", "m")} / 2 AS h FROM m$iters)
         |)""".stripMargin

    /** Per-cell assignment scores of a codes list column against the
      * `cl` pivot — the twin of [[KMeans.scoreExprs]]. */
    def cellScores(codes: String, k: Int): Seq[String] =
      (0 until k).map(i => s"(${X.dot(codes, s"ms[${i + 1}]")} - hs[${i + 1}])")
  }
}
