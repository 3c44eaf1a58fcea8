package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** BruteForce.allPairsCosine: the flat-array kernel must be BIT-identical
  * to the expression form it replaces (toDoubleExpr → graft_dot → / norms)
  * — same widening, same sequential fold, same division — because q30 is
  * the exact verifier whose cosines hash-match the DuckDB oracle. */
class BruteForceSpec extends SparkSpec {
  import spark.implicits._

  // deterministic synthetic vectors: values exercise non-associativity
  // (different magnitudes so a reordered fold WOULD change the result)
  private lazy val vecs = {
    val dim = 16
    (0L until 40L).map { id =>
      val v = Array.tabulate(dim) { d =>
        val x = ((id * 37 + d * 101 + 13) % 997).toFloat / 997f - 0.5f
        x * (if ((d % 5) == 0) 1e4f else 1e-3f)
      }
      (id, v)
    }.toDF("vec_id", "embedding")
  }

  private def expressionForm(threshold: Double) = {
    val em = vecs
      .select(col("vec_id"), expr(VectorOps.toDoubleExpr("embedding")).as("v"))
      .withColumn("nrm", expr(VectorOps.normExpr("v")))
    val a = em.select(col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("na"))
    val b = em.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cosine",
        expr(VectorOps.fastDot("va", "vb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
  }

  test("kernel equals the expression form bit-for-bit (all pairs, no threshold)") {
    val want = expressionForm(-2.0).as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => ((a, b), c) }.toMap
    val got = BruteForce.allPairsCosine(vecs, "vec_id", "embedding", -2.0)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => ((a, b), c) }.toMap
    assert(got.keySet == want.keySet)
    // bit-identical, not approximately equal: the verifier's contract
    got.foreach { case (k, c) =>
      assert(java.lang.Double.doubleToRawLongBits(c) ==
             java.lang.Double.doubleToRawLongBits(want(k)), s"pair $k differs")
    }
  }

  test("threshold filters inside the kernel") {
    val all = BruteForce.allPairsCosine(vecs, "vec_id", "embedding", -2.0).count()
    val some = BruteForce.allPairsCosine(vecs, "vec_id", "embedding", 0.3)
    assert(some.count() < all)
    assert(some.filter(col("cosine") < 0.3).count() == 0)
  }

  test("maxRows guard fails loudly and names the scale path") {
    val e = intercept[IllegalArgumentException] {
      BruteForce.allPairsCosine(vecs, "vec_id", "embedding", 0.3, maxRows = 10)
    }
    assert(e.getMessage.contains("pairsMultiprobe"))
  }

  test("withinGroupDropped equals the within-group equi-join EXISTS marking") {
    import org.apache.spark.sql.functions.{col, expr}
    val grouped = vecs
      .withColumn("v", col("embedding").cast("array<double>"))
      .withColumn("cell", expr("vec_id % 3"))
      .select(col("cell"), col("vec_id"), col("v"))
    val tau = 0.2
    val viaJoin = {
      val withN = grouped.withColumn("nrm", expr(VectorOps.normExpr("v")))
      val a = withN.select(col("cell"), col("vec_id").as("id_a"),
        col("v").as("va"), col("nrm").as("na"))
      val b = withN.select(col("cell"), col("vec_id").as("id_b"),
        col("v").as("vb"), col("nrm").as("nb"))
      a.join(b, Seq("cell")).filter(col("id_a") < col("id_b"))
        .filter(expr(VectorOps.fastDot("va", "vb")) / (col("na") * col("nb")) >= tau)
        .select(col("cell"), col("id_b")).distinct()
        .as[(Long, Long)].collect().toSet
    }
    val viaKernel = BruteForce
      .withinGroupDropped(grouped, "cell", "vec_id", "v", tau)
      .as[(Long, Long)].collect().toSet
    assert(viaKernel == viaJoin && viaKernel.nonEmpty)
  }

  test("withinGroupDropped guards oversized groups loudly") {
    val grouped = vecs
      .withColumn("v", org.apache.spark.sql.functions.col("embedding").cast("array<double>"))
      .withColumn("cell", org.apache.spark.sql.functions.lit(0L))
      .select("cell", "vec_id", "v")
    val e = intercept[org.apache.spark.SparkException] {
      BruteForce.withinGroupDropped(grouped, "cell", "vec_id", "v", 0.2,
        maxGroup = 5).count()
    }
    assert(e.getMessage.contains("task-sized") ||
      Option(e.getCause).exists(_.getMessage.contains("task-sized")))
  }

  test("zero-norm embeddings are refused loudly (NaN cosine has no one semantics)") {
    // Java `NaN >= t` is false (pair silently dropped) while Spark SQL
    // orders NaN greatest (pair kept): the kernel refuses the input
    // rather than silently picking a side.
    val withZero = Seq((1L, Array(1f, 2f)), (2L, Array(0f, 0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      BruteForce.allPairsCosine(withZero, "vec_id", "embedding", 0.0)
    }
    assert(e.getMessage.contains("zero-norm"))
    val grouped = withZero
      .withColumn("v", col("embedding").cast("array<double>"))
      .withColumn("cell", lit(0L)).select("cell", "vec_id", "v")
    val e2 = intercept[org.apache.spark.SparkException] {
      BruteForce.withinGroupDropped(grouped, "cell", "vec_id", "v", 0.2).count()
    }
    assert(e2.getMessage.contains("zero-norm") ||
      Option(e2.getCause).exists(_.getMessage.contains("zero-norm")))
  }

  test("ragged embeddings are an error, not a silent truncation") {
    val ragged = Seq((1L, Array(1f, 2f)), (2L, Array(1f, 2f, 3f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      BruteForce.allPairsCosine(ragged, "vec_id", "embedding", 0.0)
    }
    assert(e.getMessage.contains("ragged"))
  }
}
