package graft.ops

/** Deterministic, cross-engine dense-vector primitives: dot product,
  * L2 norm, cosine similarity, and random-hyperplane LSH bucketing over an
  * `ARRAY<FLOAT>` embedding column.
  *
  * Cross-engine exactness: float→double widening per element, then a strict
  * LEFT-TO-RIGHT sequential fold with a 0.0 initial accumulator on BOTH
  * engines (Spark `aggregate(...)`, DuckDB `list_reduce([0.0] || ...)`).
  * Every add/mul/div/sqrt is then the same correctly-rounded IEEE-754
  * operation in the same order → bit-identical doubles, so even ORDER BY
  * cosine ranks identically.
  *
  * Scale notes (100 TB): these are per-row array expressions (no UDF, no
  * shuffle). Brute-force top-k = cross join + TakeOrdered; the scale path is
  * [[hyperplaneBucketExpr]]: sign-bit LSH buckets turn the O(N·Q) scan into
  * an equi-join on bucket — the classic random-projection ANN layout. The
  * hyperplanes are deterministic literals so bucketing is reproducible on
  * any engine and any cluster size.
  */
object VectorOps {

  /** Spark: widen ARRAY<FLOAT> to ARRAY<DOUBLE>. */
  def toDoubleExpr(v: String): String = s"transform($v, x -> CAST(x AS DOUBLE))"

  /** Spark: sequential-fold dot product of two ARRAY<DOUBLE> columns.
    * Interpreted (CodegenFallback) — reference semantics; use [[fastDot]]
    * in hot paths. */
  def dotExpr(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"

  /** Spark: same fold as [[dotExpr]] as a native codegen expression
    * ([[graft.functions.DotProduct]]), in every session that sets
    * `spark.sql.extensions=graft.functions.GraftExtensions`. */
  def fastDot(a: String, b: String): String = s"graft_dot($a, $b)"

  def normExpr(a: String): String = s"sqrt(${fastDot(a, a)})"

  /** Deterministic pseudo-random hyperplanes: plane(p)(d) ∈ (-0.5, 0.5),
    * derived from an LCG over the flat index — identical literals are
    * embedded in the Spark expression and the DuckDB SQL. */
  def planes(nPlanes: Int, dim: Int): IndexedSeq[IndexedSeq[Double]] =
    (0 until nPlanes).map { p =>
      (0 until dim).map { d =>
        (((p * dim + d + 1) * 2654435761L) % 1000003L).toDouble / 1000003.0 - 0.5
      }
    }

  /** Shortest round-trip decimal (E-notation allowed — both engines parse
    * it) — parses back to the identical IEEE double in Spark and DuckDB. */
  private def lit(x: Double): String = java.lang.Double.toString(x)

  /** Spark: sign-bit LSH bucket of an ARRAY<DOUBLE> column (0..2^nPlanes-1). */
  def hyperplaneBucketExpr(v: String, nPlanes: Int, dim: Int): String = {
    val ps = planes(nPlanes, dim)
    val bits = ps.zipWithIndex.map { case (plane, p) =>
      // D suffix: plain decimal literals parse as DECIMAL in Spark SQL and
      // graft_dot does no implicit coercion.
      val arr = plane.map(x => s"${lit(x)}D").mkString("array(", ", ", ")")
      s"(CASE WHEN ${fastDot(v, arr)} > 0.0 THEN ${1L << p}L ELSE 0L END)"
    }
    bits.mkString("(", " + ", ")")
  }

  /** Lowest-index argmax over named score columns s0..s{k-1} (deterministic
    * tie-break) — same text works in Spark SQL and DuckDB. */
  def argmaxCase(k: Int, exclude: Option[String] = None): String = {
    val names = (0 until k).map(i => s"s$i")
    val eff = exclude match {
      case Some(ex) => names.zipWithIndex.map { case (n, i) =>
        s"(CASE WHEN $i = $ex THEN CAST('-Infinity' AS DOUBLE) ELSE $n END)" }
      case None => names
    }
    val whens = (0 until k).map { i =>
      val geAll = (0 until k).filter(_ != i)
        .map(j => s"${eff(i)} >= ${eff(j)}").mkString(" AND ")
      s"WHEN $geAll THEN $i"
    }
    whens.mkString("CASE ", " ", " END")
  }

  /** DuckDB SQL twins. */
  object sql {

    /** Elementwise double products of two list columns (1-based index). */
    private def prods(a: String, b: String): String =
      s"list_transform(generate_series(1, len($a)), i -> CAST(($a)[i] AS DOUBLE) * CAST(($b)[i] AS DOUBLE))"

    /** Sequential left fold with 0.0 init — mirrors Spark's aggregate(). */
    def dot(a: String, b: String): String =
      s"list_reduce([CAST(0.0 AS DOUBLE)] || ${prods(a, b)}, (acc, v) -> acc + v)"

    def norm(a: String): String = s"sqrt(${dot(a, a)})"

    def hyperplaneBucket(v: String, nPlanes: Int, dim: Int): String = {
      val ps = planes(nPlanes, dim)
      val bits = ps.zipWithIndex.map { case (plane, p) =>
        val arr = plane.map(lit).mkString("[", ", ", "]")
        s"(CASE WHEN ${dot(v, arr)} > 0.0 THEN ${1L << p} ELSE 0 END)"
      }
      bits.mkString("(", " + ", ")")
    }
  }
}
