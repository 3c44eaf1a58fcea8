package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Components, KMeans, TextOps, VectorOps}

/** Approximate-nearest-neighbor search over the embedding column
  * (SURVEY.md §7.2 "scale ops" / training-data extensions).
  *
  * q31 is the exact baseline: brute-force cosine top-k per query vector.
  * q32 is the scale path: deterministic random-hyperplane LSH buckets turn
  * the O(N·Q) scan into an equi-join on bucket id.
  *
  * Cross-engine exactness: cosine is the deterministic sequential fold of
  * [[VectorOps]] — identical doubles, so per-query ranking (incl. the
  * rank column itself) hash-matches the DuckDB oracle.
  *
  * Scale shapes (100 TB): the query side is small (broadcast); the corpus
  * side never shuffles in q31 (map-side cross product of a broadcast query
  * set + per-partition top-k heap via window-limit). q32 additionally
  * prunes the corpus scan to matching buckets; at real scale the bucket id
  * becomes the table's partition key so bucket pruning happens at the scan.
  */
object QueriesSimilarity {

  type Q = (SparkSession, String) => DataFrame

  private val NQueries = 10
  private val NPlanes  = 8
  private val Dim      = 64
  private[graft] val KmIters = 3

  /** Trained IVF centroids, memoized per (sf dir contents, k) so
    * q41/q64/q83 and repeated bench runs train once. Training is
    * deterministic, so the memo is a pure cache of the DATA: the key
    * folds in the directory fingerprint ([[graft.ops.FingerprintedMemo]]
    * / DirFingerprint), so regenerating the parquet in place at the
    * same path trains fresh instead of serving centroids learned on the
    * old bytes (the r7-era path-keyed memo required a JVM restart). */
  private val centMemo =
    new graft.ops.FingerprintedMemo[IndexedSeq[KMeans.Centroid]]
  private[graft] def trainedCents(s: SparkSession, dir: String,
                                  k: Int): IndexedSeq[KMeans.Centroid] =
    centMemo(s, dir, s"kmeans|k=$k")({
      val em = Tables.embeddings(s, dir)
        .select(col("vec_id"), expr(VectorOps.toDoubleExpr("embedding")).as("v"))
        .select(col("vec_id"), expr(KMeans.codesExpr("v")).as("q"))
      KMeans.train(em, "vec_id", "q", k, KmIters)
    })

  // --- q31: brute-force cosine top-k per query (exact ANN baseline) ----------
  private val q31: Q = (s, dir) => {
    val em = Tables.embeddings(s, dir)
      .select(col("vec_id"), expr(VectorOps.toDoubleExpr("embedding")).as("v"))
      .withColumn("nrm", expr(VectorOps.normExpr("v")))
    val queries = em.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val corpus = em.filter(col("vec_id") >= NQueries)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cosine"), col("vec_id"))
    corpus.join(broadcast(queries))
      .withColumn("cosine",
        expr(VectorOps.fastDot("qv", "v")) / (col("qn") * col("nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
              col("cosine"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }
  private val q31Sql = {
    val X = VectorOps.sql
    s"""WITH e AS (
       |  SELECT vec_id, embedding AS v, ${X.norm("embedding")} AS nrm FROM embeddings
       |), scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${X.dot("q.v", "c.v")} / (q.nrm * c.nrm) AS cosine
       |  FROM e q JOIN e c ON q.vec_id < $NQueries AND c.vec_id >= $NQueries
       |), ranked AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER
       |    (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored
       |)
       |SELECT query_id, neighbor_id, cosine, rank FROM ranked
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  // --- q32: LSH-bucketed ANN — search only the query's sign-bit bucket -------
  private val q32: Q = (s, dir) => {
    val bucket = VectorOps.hyperplaneBucketExpr("v", NPlanes, Dim)
    val em = Tables.embeddings(s, dir)
      .select(col("vec_id"), expr(VectorOps.toDoubleExpr("embedding")).as("v"))
      .withColumn("nrm", expr(VectorOps.normExpr("v")))
      .withColumn("bucket", expr(bucket))
    val queries = em.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
              col("nrm").as("qn"), col("bucket"))
    val corpus = em.filter(col("vec_id") >= NQueries)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cosine"), col("vec_id"))
    corpus.join(broadcast(queries), Seq("bucket"))
      .withColumn("cosine",
        expr(VectorOps.fastDot("qv", "v")) / (col("qn") * col("nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
              col("bucket"), col("cosine"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }
  private val q32Sql = {
    val X = VectorOps.sql
    s"""WITH e AS (
       |  SELECT vec_id, embedding AS v, ${X.norm("embedding")} AS nrm,
       |    CAST(${X.hyperplaneBucket("embedding", NPlanes, Dim)} AS BIGINT) AS bucket
       |  FROM embeddings
       |), scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.bucket,
       |    ${X.dot("q.v", "c.v")} / (q.nrm * c.nrm) AS cosine
       |  FROM e q JOIN e c ON q.bucket = c.bucket
       |   AND q.vec_id < $NQueries AND c.vec_id >= $NQueries
       |), ranked AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER
       |    (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored
       |)
       |SELECT query_id, neighbor_id, bucket, cosine, rank FROM ranked
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  // --- q41: IVF-style ANN — probe the 2 nearest centroid cells ---------------
  // Cells come from REAL offline k-means ([[graft.ops.KMeans]] — Lloyd's
  // over int8-quantized codes, deterministic seed, fixed 3 iterations;
  // q83 oracle-verifies the trained centroids themselves). Assignment is
  // the Euclidean argmin in code space (argmax of dot − |m|²/2); queries
  // probe nprobe=2 cells. At scale the cell id is the table partition
  // key, so probing prunes the scan to ~2/NCells of the corpus.
  private val NCells = 8
  private val q41: Q = (s, dir) => {
    val cents = trainedCents(s, dir, NCells)
    val em = Tables.embeddings(s, dir)
      .select(col("vec_id"), expr(VectorOps.toDoubleExpr("embedding")).as("v"))
      .withColumn("nrm", expr(VectorOps.normExpr("v")))
      .withColumn("cd",
        expr(s"transform(${KMeans.codesExpr("v")}, x -> CAST(x AS DOUBLE))"))
    val scoreCols = KMeans.scoreExprs("cd", cents)
      .zipWithIndex.map { case (e, i) => expr(e).as(s"s$i") }
    def withCell(df: DataFrame): DataFrame =
      df.select(col("vec_id") +: col("v") +: col("nrm") +: scoreCols: _*)
        .withColumn("cell", expr(VectorOps.argmaxCase(NCells)))
    // parallelize the CORPUS side's scoring map (guide §2.5 input
    // parallelism): the embeddings table arrives as ONE parquet row
    // group, so the per-row cell scoring (NCells code dots + argmax) and
    // the probe-join dot products all ran in a single task at ANY core
    // count — q41 was the driver's flattest query across its 8c/32c legs
    // (1.5 s at both, r15). Hash-repartition on the unique vec_id BELOW
    // the scoring projection (a keyless round-robin additionally pays a
    // local sort of the vector rows — sortBeforeRepartition — and was
    // measured ~+0.25 s adj over this form); the 100-row probe side
    // stays scan-only so its broadcast build pays no exchange wave.
    val corpus = withCell(em.filter(col("vec_id") >= NQueries)
        .repartition(col("vec_id")))
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
    val probes = withCell(em.filter(col("vec_id") < NQueries))
      .withColumn("cell2", expr(VectorOps.argmaxCase(NCells, Some("cell"))))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
              col("nrm").as("qn"),
              explode(array(col("cell"), col("cell2"))).as("cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cosine"), col("vec_id"))
    corpus.join(broadcast(probes), Seq("cell"))
      .withColumn("cosine",
        expr(VectorOps.fastDot("qv", "v")) / (col("qn") * col("nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
              col("cell"), col("cosine"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }
  private val q41Sql = {
    val X = VectorOps.sql
    val scores = KMeans.sql.cellScores("q", NCells)
      .zipWithIndex.map { case (e, i) => s"$e AS s$i" }.mkString(",\n")
    s"""WITH ${KMeans.sql.embeddingTrainingCtes(NCells, KmIters)},
       |e AS (
       |  SELECT vec_id, v, ${X.norm("v")} AS nrm,
       |$scores
       |  FROM qkm CROSS JOIN cl
       |), c1 AS (
       |  SELECT *, ${VectorOps.argmaxCase(NCells)} AS cell FROM e
       |), probes AS (
       |  SELECT vec_id AS query_id, v AS qv, nrm AS qn,
       |    unnest([cell, ${VectorOps.argmaxCase(NCells, Some("cell"))}]) AS cell
       |  FROM c1 WHERE vec_id < $NQueries
       |), corpus AS (
       |  SELECT vec_id, v, nrm, cell FROM c1 WHERE vec_id >= $NQueries
       |), scored AS (
       |  SELECT p.query_id, c.vec_id AS neighbor_id, c.cell,
       |    ${X.dot("p.qv", "c.v")} / (p.qn * c.nrm) AS cosine
       |  FROM probes p JOIN corpus c ON c.cell = p.cell
       |), ranked AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER
       |    (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored
       |)
       |SELECT query_id, neighbor_id, cell, cosine, rank FROM ranked
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  // --- q83: the k-means training itself, cross-engine ------------------------
  // Dumps the trained centroid state (per-cell, per-dim integer code sums
  // + member counts) after the fixed Lloyd's iterations — the oracle
  // proves BOTH engines learn bit-identical centroids, which is what lets
  // q41/q64 embed them. Integer state means no float tolerance games:
  // the hash match is exact.
  private val q83: Q = (s, dir) => {
    val spark = s
    import spark.implicits._
    // padded (unseeded) cells are excluded: they exist only so q41/q64's
    // fixed-arity argmax expressions analyze on tiny corpora — the
    // DuckDB twin's LIMIT-k seed never materializes them
    val cents = trainedCents(s, dir, NCells).filter(_.seeded)
    cents.flatMap(c => c.sums.zipWithIndex.map { case (sv, d) =>
      (c.cell, d + 1, sv, c.cnt)
    }).toDF("cell", "d", "s", "cnt").orderBy(col("cell"), col("d"))
  }
  private val q83Sql =
    s"""WITH ${KMeans.sql.embeddingTrainingCtes(NCells, KmIters)}
       |SELECT cell, CAST(d AS INTEGER) AS d, sums[d] AS s, cnt
       |FROM cent$KmIters
       |CROSS JOIN (SELECT unnest(generate_series(1, $Dim)) AS d)
       |ORDER BY cell, d""".stripMargin

  // --- q108: exact-integer power iteration (dominant spectral direction) -----
  // The top eigenvector direction of the embedding set's UNCENTERED
  // second-moment (Gram) matrix by fixed-count power iteration — the
  // one-component PCA a curation pipeline uses to spot a degenerate
  // embedding space (a dominant direction everything projects onto).
  // Float power iteration can't cross-engine-hash (each iteration
  // compounds summation-order differences), so this one never leaves
  // int64: vectors are the int8 codes (q68 formula), v₀ is the
  // lowest-id vector's codes, and each round computes
  //   s_i = qᵢ·v   (per-row integer dot, v broadcast as a literal)
  //   w_d = Σᵢ qᵢd·s_i  (posexplode + one 64-row combinable aggregate)
  // then RESCALES v back into int8 range with sign-split integer
  // division — sign(w)·(|w| DIV (max|w| DIV 127 + 1)) — so magnitudes
  // stay bounded (|w| ≤ n·127²·64·127 ≈ 1.3e18 even at n = 10¹⁰
  // vectors) and truncation direction agrees across engines (Spark DIV
  // truncates toward zero, DuckDB // floors; they only agree on
  // non-negatives — the q93 discipline). Per iteration: ONE scan of the
  // cached codes, a 64-row shuffle, a 64-long driver collect (the
  // dimension-sized collect discipline, exactly KMeans.train's loop).
  private val PowerIters = 3
  private val q108: Q = (s, dir) => {
    val spark = s
    import spark.implicits._
    val codes = Tables.embeddings(s, dir)
      .select(col("vec_id"), expr(VectorOps.toDoubleExpr("embedding")).as("v"))
      .select(col("vec_id"), expr(KMeans.codesExpr("v")).as("q"))
      .cache()
    val seedRows = codes.orderBy(col("vec_id")).limit(1).select(col("q")).collect()
    val out: Seq[(Long, Long)] = if (seedRows.isEmpty) Seq.empty
    else {
      var v: IndexedSeq[Long] = seedRows(0).getSeq[Long](0).toIndexedSeq
      for (_ <- 1 to PowerIters) {
        val vlit = v.map(x => s"${x}L").mkString("array(", ", ", ")")
        val w = codes
          .withColumn("s", expr(
            s"""aggregate(zip_with(q, $vlit, (x, y) -> x * y),
               |  CAST(0 AS BIGINT), (acc, p) -> acc + p)""".stripMargin))
          .select(posexplode(col("q")).as(Seq("d", "c")), col("s"))
          .groupBy(col("d")).agg(sum(col("c") * col("s")).as("w"))
          .orderBy(col("d"))
          .collect().map(_.getLong(1)).toIndexedSeq
        val qdiv = w.map(math.abs).max / 127L + 1L
        v = w.map(x => math.signum(x) * (math.abs(x) / qdiv))
      }
      v.zipWithIndex.map { case (x, i) => ((i + 1).toLong, x) }
    }
    codes.unpersist()
    out.toDF("d", "val").orderBy(col("d"))
  }
  private val q108Sql = {
    def iter(k: Int): String = {
      val prev = if (k == 1) "v0" else s"v${k - 1}"
      s"""s$k AS (
         |  SELECT cr.vec_id, CAST(SUM(cr.c * $prev.val) AS BIGINT) AS s
         |  FROM cr JOIN $prev ON cr.d = $prev.d GROUP BY cr.vec_id
         |),
         |w$k AS (
         |  SELECT cr.d, CAST(SUM(cr.c * s$k.s) AS BIGINT) AS w
         |  FROM cr JOIN s$k ON cr.vec_id = s$k.vec_id GROUP BY cr.d
         |),
         |m$k AS (SELECT MAX(abs(w)) // 127 + 1 AS qd FROM w$k),
         |v$k AS (
         |  SELECT d, (CASE WHEN w < 0 THEN -1 WHEN w > 0 THEN 1 ELSE 0 END)
         |    * (abs(w) // qd) AS val
         |  FROM w$k, m$k
         |)""".stripMargin
    }
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |),
       |qz AS (
       |  SELECT vec_id,
       |    list_transform(v, x -> CAST(floor(x *
       |      (CASE WHEN list_max(list_transform(v, y -> abs(y))) = 0.0 THEN 1.0
       |            ELSE 127.0 / list_max(list_transform(v, y -> abs(y))) END)
       |      + 0.5) AS BIGINT)) AS q
       |  FROM e
       |),
       |dims AS (SELECT unnest(generate_series(1, $Dim)) AS d),
       |cr AS (SELECT vec_id, d, q[d] AS c FROM qz CROSS JOIN dims),
       |v0 AS (
       |  SELECT d, q[d] AS val
       |  FROM (SELECT q FROM qz ORDER BY vec_id LIMIT 1) CROSS JOIN dims
       |),
       |${(1 to PowerIters).map(iter).mkString(",\n")}
       |SELECT CAST(d AS BIGINT) AS d, val FROM v$PowerIters ORDER BY d""".stripMargin
  }

  // --- q155: product quantization + ADC search + exact re-rank ---------------
  // THE vector-compression scheme for a 100 TB embedding store: split
  // the 64-dim vector into 8 subspaces of 8 dims, code each subvector
  // as its nearest codeword (32-entry codebook per subspace — 8 5-bit
  // codes replace 256 vector bytes), and answer queries in the
  // production two-stage shape: (1) Asymmetric Distance Computation —
  // per query precompute the 32×8 table of query-subvector→codeword
  // distances, shortlist PqShort candidates reading ONLY codes + the
  // broadcast table; (2) exact re-rank of the shortlist with the true
  // int8 distance, touching full vectors for just PqShort rows/query.
  // Determinism stack: one GLOBAL int8 scale (per-vector scales would
  // make inter-vector L2 meaningless), codebook = the 32 vectors with
  // smallest 60-bit id-hash (hash-sampled codebook — the PQ variant
  // that needs no training loop, so the whole query is oracle-able
  // without q83's unrolled-CTE cost), all distances integer (≤ 8·254²
  // per subspace — structurally int64-safe), ties broken by codeword
  // rank / vec_id. The exact int8 top-10 over the FULL corpus is kept
  // as audit: in_exact10 marks re-ranked hits, CorpusSpec pins the
  // recall floor.
  // Scale: the encode pass is corpus×(32 codewords·8 subspaces)
  // map-side rows into one combinable argmin window — at 100 TB codes
  // are WRITTEN once and queries touch only the ~4-byte codes + the
  // broadcast ADC table; the full-corpus exact audit stays
  // test-scale-only (the re-rank stage is the at-scale exact reader).
  private val PqSub = 8
  private val PqSubDim = 8 // Dim / PqSub
  private val PqK = 32
  private val PqTop = 10
  private val PqShort = 100 // ADC shortlist size fed to the exact re-rank
  private val q155: Q = (s, dir) => {
    val em = Tables.embeddings(s, dir)
      .select(col("vec_id"), expr(VectorOps.toDoubleExpr("embedding")).as("v"))
      .withColumn("mx", expr("array_max(transform(v, x -> abs(x)))"))
    val gmx = em.agg(max(col("mx")).as("gmx"))
    val qz = em.crossJoin(broadcast(gmx))
      .withColumn("scale", expr("CASE WHEN gmx = 0.0D THEN 1.0D ELSE 127.0D / gmx END"))
      .select(col("vec_id"),
        expr("transform(v, x -> CAST(floor(x * scale + 0.5D) AS BIGINT))").as("q"))
      .cache() // anchors + encode + queries + exact audit all read it
    val anchors = qz
      .withColumn("h", expr(TextOps.hash60("CAST(vec_id AS STRING)")))
      .orderBy(col("h"), col("vec_id")).limit(PqK)
      .withColumn("crank", row_number().over(Window.orderBy(col("h"), col("vec_id"))))
      .select(col("crank"), col("q").as("cq"))
    val subs = s.range(0, PqSub).select(col("id").cast("int").as("sub"))
    // codebook: PqK codewords × PqSub subspaces (256 rows, broadcast)
    val codebook = anchors.crossJoin(broadcast(subs))
      .select(col("sub"), col("crank"),
        expr(s"slice(cq, sub * $PqSubDim + 1, $PqSubDim)").as("cs"))
    // native integer fold (graft_sqdist): the interpreted
    // aggregate/zip_with lambda dominated the encode pass (corpus ×
    // 32 codewords × 8 subspaces evaluations); integer sums are
    // order-independent so the tight loop is bit-identical
    def sqd(a: String, b: String) = s"graft_sqdist($a, $b)"
    val corpus = qz.filter(col("vec_id") >= NQueries)
    // argmin codeword as min(struct(d, crank)) — a COMBINABLE hash
    // aggregate (partial argmin per map task) in place of a row_number
    // window, which would full-sort the corpus×32-codeword rows
    val codes = corpus.crossJoin(broadcast(subs))
      .select(col("vec_id"), col("sub"),
        expr(s"slice(q, sub * $PqSubDim + 1, $PqSubDim)").as("vs"))
      .join(broadcast(codebook), Seq("sub"))
      .withColumn("d", expr(sqd("vs", "cs")))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(struct(col("d"), col("crank"))).as("m"))
      .select(col("vec_id"), col("sub"), col("m.crank").as("code"))
    val queriesQ = qz.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("q").as("qq"))
    val adc = queriesQ.crossJoin(broadcast(subs))
      .select(col("query_id"), col("sub"),
        expr(s"slice(qq, sub * $PqSubDim + 1, $PqSubDim)").as("qs"))
      .join(broadcast(codebook), Seq("sub"))
      .select(col("query_id"), col("sub"), col("crank").as("code"),
        expr(sqd("qs", "cs")).as("td"))
    val approx = codes.join(broadcast(adc), Seq("sub", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("td")).as("adc_dist"))
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist"), col("vec_id"))
    // the production two-stage shape: ADC shortlists PqShort candidates
    // per query (reading ONLY codes + the broadcast table), then the
    // exact int8 distance re-ranks the shortlist — full vectors are
    // touched for PqShort rows/query, never the corpus
    val short = approx.withColumn("srank", row_number().over(wA))
      .filter(col("srank") <= PqShort)
      .select(col("query_id"), col("vec_id"), col("adc_dist"))
    val rer = short
      .join(corpus, Seq("vec_id"))
      .join(broadcast(queriesQ), Seq("query_id"))
      .withColumn("exact_d", expr(sqd("q", "qq")))
    val wF = Window.partitionBy(col("query_id"))
      .orderBy(col("exact_d"), col("vec_id"))
    val top = rer.withColumn("rank", row_number().over(wF))
      .filter(col("rank") <= PqTop)
    val exact = corpus.crossJoin(broadcast(queriesQ))
      .withColumn("ed", expr(sqd("q", "qq")))
      .withColumn("ern", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("ed"), col("vec_id"))))
      .filter(col("ern") <= PqTop)
      .select(col("query_id"), col("vec_id"), lit(1L).as("in_exact10"))
    top.join(exact, Seq("query_id", "vec_id"), "left")
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("adc_dist"), col("exact_d"),
        coalesce(col("in_exact10"), lit(0L)).as("in_exact10"))
      .orderBy(col("query_id"), col("rank"))
  }
  private val q155Sql = {
    def sqdN(a: String, b: String, n: Int) =
      s"""list_reduce([CAST(0 AS BIGINT)] ||
         |      list_transform(generate_series(1, $n),
         |        i -> (($a)[i] - ($b)[i]) * (($a)[i] - ($b)[i])),
         |      (acc, p) -> acc + p)""".stripMargin
    def sqd(a: String, b: String) = sqdN(a, b, PqSubDim)
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), g AS (
       |  SELECT MAX(list_max(list_transform(v, x -> abs(x)))) AS gmx FROM e
       |), qz AS (
       |  SELECT vec_id, list_transform(v, x -> CAST(floor(x *
       |    (CASE WHEN gmx = 0.0 THEN 1.0 ELSE 127.0 / gmx END) + 0.5) AS BIGINT)) AS q
       |  FROM e CROSS JOIN g
       |), anch AS (
       |  SELECT q AS cq, ROW_NUMBER() OVER (ORDER BY h, vec_id) AS crank
       |  FROM (
       |    SELECT vec_id, q,
       |      ${TextOps.sql.hash60("CAST(vec_id AS VARCHAR)")} AS h
       |    FROM qz ORDER BY h, vec_id LIMIT $PqK)
       |), subs AS (SELECT unnest(generate_series(0, ${PqSub - 1})) AS sub),
       |cb AS (
       |  SELECT sub, crank, cq[sub * $PqSubDim + 1 : sub * $PqSubDim + $PqSubDim] AS cs
       |  FROM anch CROSS JOIN subs
       |), corp AS (SELECT vec_id, q FROM qz WHERE vec_id >= $NQueries),
       |codes AS (
       |  SELECT vec_id, sub, crank AS code FROM (
       |    SELECT c.vec_id, cb.sub, cb.crank,
       |      ROW_NUMBER() OVER (PARTITION BY c.vec_id, cb.sub ORDER BY
       |        ${sqd(s"c.q[cb.sub * $PqSubDim + 1 : cb.sub * $PqSubDim + $PqSubDim]", "cb.cs")},
       |        cb.crank) AS rn
       |    FROM corp c CROSS JOIN cb)
       |  WHERE rn = 1
       |), qs AS (SELECT vec_id AS query_id, q AS qq FROM qz WHERE vec_id < $NQueries),
       |adc AS (
       |  SELECT query_id, sub, crank AS code,
       |    ${sqd(s"qq[sub * $PqSubDim + 1 : sub * $PqSubDim + $PqSubDim]", "cs")} AS td
       |  FROM qs CROSS JOIN cb
       |), approx AS (
       |  SELECT query_id, vec_id, CAST(SUM(td) AS BIGINT) AS adc_dist
       |  FROM codes JOIN adc USING (sub, code) GROUP BY 1, 2
       |), short AS (
       |  SELECT query_id, vec_id, adc_dist,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY adc_dist, vec_id) AS srank
       |  FROM approx QUALIFY srank <= $PqShort
       |), rer AS (
       |  SELECT sh.query_id, sh.vec_id, sh.adc_dist,
       |    ${sqdN("c.q", "qq", PqSub * PqSubDim)} AS exact_d
       |  FROM short sh JOIN corp c ON sh.vec_id = c.vec_id
       |    JOIN qs ON sh.query_id = qs.query_id
       |), top AS (
       |  SELECT query_id, vec_id, adc_dist, exact_d,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY exact_d, vec_id) AS INTEGER) AS rank
       |  FROM rer QUALIFY rank <= $PqTop
       |), ex AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, c.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
       |        ${sqdN("c.q", "qq", PqSub * PqSubDim)}, c.vec_id) AS ern
       |    FROM corp c CROSS JOIN qs)
       |  WHERE ern <= $PqTop
       |)
       |SELECT top.query_id, rank, top.vec_id AS neighbor_id, adc_dist, exact_d,
       |  CAST(CASE WHEN ex.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS in_exact10
       |FROM top LEFT JOIN ex ON top.query_id = ex.query_id AND top.vec_id = ex.vec_id
       |ORDER BY top.query_id, rank""".stripMargin
  }

  // --- q175: grid-cell neighbor density (DBSCAN-style core points) ----------
  // Spatial blocking, the missing member of the neighbor-join family:
  // project each embedding to its first two dims in exact micro-int
  // coordinates, bucket into eps-sized grid cells, and find every L∞
  // neighbor within eps via a 3×3 NEIGHBOR-CELL equi-join — one side
  // explodes its 9 surrounding cells, the other keys by home cell, so a
  // point pair meets on exactly one (probe cell = home cell) key and the
  // all-pairs O(n²) never materializes. Output is the neighbor-count
  // histogram plus the DBSCAN core-point verdict per density level.
  //
  // Scale (100 TB): candidate volume is 9× the points, shuffled on cell
  // id; cell size = eps bounds per-key work to genuinely-near points. A
  // pathological dense cell is AQE-skew-split territory (same story as
  // q162); at real scale the cell id doubles as the table's layout key
  // (the q105/q109 discipline) so the join co-locates at the scan.
  // Cross-engine exactness: micro coords are floor(double·1e6) of the
  // same float, cells are floor-division written as the positive-mod
  // identity ((xi % eps + eps) % eps) — truncation-signed % in both
  // engines — so every cell id and every |Δ| compare is integer-exact.
  private val GridEps = 7000L // micro-units; σ≈0.126 ⇒ ~3-5 nbrs at sf0.1
  private val MinPts  = 4L    // core point: ≥ MinPts neighbors within eps

  /** (vec_id, xi, yi, cx, cy): exact micro-int 2D projection + eps-grid
    * cell ids — shared by q175 (density, fixed eps) and q185 (full
    * DBSCAN, density-adaptive eps). */
  private def gridPts(s: SparkSession, dir: String,
                      eps: Long = GridEps): DataFrame = {
    def cell(c: String) = s"($c - (($c % $eps + $eps) % $eps)) DIV $eps"
    Tables.embeddings(s, dir).select(
      col("vec_id"),
      expr("CAST(floor(CAST(element_at(embedding, 1) AS DOUBLE) * 1000000) AS BIGINT)").as("xi"),
      expr("CAST(floor(CAST(element_at(embedding, 2) AS DOUBLE) * 1000000) AS BIGINT)").as("yi"))
      .withColumn("cx", expr(cell("xi")))
      .withColumn("cy", expr(cell("yi")))
  }

  /** Directional neighbor pairs (a, b), a ≠ b, L∞ distance ≤ eps — each
    * unordered pair appears once per direction. The 3×3 probe-cell
    * explode meets the home cell on exactly one key, so no distinct. */
  private def gridNbrPairs(s: SparkSession, dir: String,
                           eps: Long = GridEps): DataFrame = {
    val pts = gridPts(s, dir, eps)
    val probe = pts.select(col("vec_id").as("a"), col("xi").as("ax"),
        col("yi").as("ay"),
        explode(expr(
          """flatten(transform(array(-1, 0, 1), dx ->
            |  transform(array(-1, 0, 1), dy ->
            |    struct(cx + dx AS gx, cy + dy AS gy))))""".stripMargin)).as("g"))
      .select(col("a"), col("ax"), col("ay"),
        col("g.gx").as("gx"), col("g.gy").as("gy"))
    val home = pts.select(col("vec_id").as("b"), col("xi").as("bx"),
      col("yi").as("by"), col("cx").as("gx"), col("cy").as("gy"))
    probe.join(home, Seq("gx", "gy"))
      .filter(col("a") =!= col("b") &&
        abs(col("ax") - col("bx")) <= eps &&
        abs(col("ay") - col("by")) <= eps)
      .select(col("a"), col("b"))
  }

  private val q175: Q = (s, dir) => {
    val nbrs = gridNbrPairs(s, dir)
      .groupBy(col("a")).agg(count(lit(1)).as("nbrs"))
    gridPts(s, dir).select(col("vec_id").as("a")).join(nbrs, Seq("a"), "left")
      .select(coalesce(col("nbrs"), lit(0L)).as("nbrs"))
      .groupBy(col("nbrs"))
      .agg(count(lit(1)).as("n_points"))
      .withColumn("is_core",
        when(col("nbrs") >= MinPts, 1L).otherwise(0L))
      .orderBy(col("nbrs"))
  }
  private val q175Sql = {
    def cell(c: String) = s"($c - (($c % $GridEps + $GridEps) % $GridEps)) // $GridEps"
    s"""WITH pts AS (
       |  SELECT vec_id,
       |    CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT) AS xi,
       |    CAST(floor(CAST(embedding[2] AS DOUBLE) * 1000000) AS BIGINT) AS yi
       |  FROM embeddings
       |), cells AS (
       |  SELECT vec_id, xi, yi,
       |    ${cell("xi")} AS cx, ${cell("yi")} AS cy
       |  FROM pts
       |), probe AS (
       |  SELECT vec_id AS a, xi AS ax, yi AS ay,
       |    cx + dx.d AS gx, cy + dy.d AS gy
       |  FROM cells,
       |    (SELECT unnest(generate_series(-1, 1)) AS d) dx,
       |    (SELECT unnest(generate_series(-1, 1)) AS d) dy
       |), nbrs AS (
       |  SELECT a, CAST(COUNT(*) AS BIGINT) AS nbrs
       |  FROM probe JOIN cells h ON probe.gx = h.cx AND probe.gy = h.cy
       |  WHERE a <> h.vec_id
       |    AND abs(ax - h.xi) <= $GridEps AND abs(ay - h.yi) <= $GridEps
       |  GROUP BY a
       |)
       |SELECT nbrs, CAST(COUNT(*) AS BIGINT) AS n_points,
       |  CAST(CASE WHEN nbrs >= $MinPts THEN 1 ELSE 0 END AS BIGINT) AS is_core
       |FROM (
       |  SELECT coalesce(n.nbrs, CAST(0 AS BIGINT)) AS nbrs
       |  FROM cells LEFT JOIN nbrs n ON cells.vec_id = n.a
       |)
       |GROUP BY nbrs ORDER BY nbrs""".stripMargin
  }

  // --- q185: full distributed DBSCAN over the eps-grid ------------------------
  // q175 found the core points; q185 finishes the algorithm: core-core
  // neighbor edges cluster transitively (ops/Components — the min-label
  // fixpoint), an isolated core is its own singleton cluster, every
  // non-core point with a core neighbor joins that neighbor's cluster
  // as a BORDER point (ties to the smallest cluster label — DBSCAN's
  // border assignment is order-dependent in the sequential algorithm;
  // min is the deterministic parallel rule), and everything else is
  // NOISE (published as the cluster = −1 row). Per-cluster audit:
  // core / border / total counts.
  // Scale: everything downstream of the q175 pair join is keyed by
  // point id or cluster label; the fixpoint rounds are bounded by the
  // cluster diameter in cells (ops/Components' localCheckpoint
  // discipline). The DuckDB twin walks the same core edges with q51's
  // recursive CTE, so both engines agree at the fixpoint exactly.
  private val RefN = 2000L // sf0.1 point count — the eps calibration anchor
  private val q185: Q = (s, dir) => {
    // density-adaptive radius: eps ∝ 1/sqrt(n) keeps the expected
    // neighbor count constant as the corpus grows — fixed eps PERCOLATES
    // at higher density (the sf1 sweep produced one giant component and
    // a quadratic oracle recursion). sqrt is IEEE-correctly-rounded, so
    // the Scala and DuckDB computations of the literal agree exactly;
    // the count is the one driver-side scalar (the q83/q80 discipline).
    val n = Tables.embeddings(s, dir).count()
    val eps = math.floor(GridEps * math.sqrt(RefN.toDouble / n)).toLong
    val pairs = gridNbrPairs(s, dir, eps).localCheckpoint() // feeds 3 consumers
    val core = pairs.groupBy(col("a")).agg(count(lit(1)).as("nbrs"))
      .filter(col("nbrs") >= MinPts).select(col("a").as("id"))
      .localCheckpoint()
    val coreEdges = pairs.filter(col("a") < col("b"))
      .join(core.select(col("id").as("a")), Seq("a"), "left_semi")
      .join(core.select(col("id").as("b")), Seq("b"), "left_semi")
      .select(col("a"), col("b"))
    val comp = Components.minLabel(coreEdges, "a", "b")
    val coreLab = core
      .join(comp, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("cluster"))
    val border = pairs
      .join(core.select(col("id").as("a")), Seq("a"), "left_anti")
      .join(coreLab.select(col("id").as("b"), col("cluster")), Seq("b"))
      .groupBy(col("a")).agg(min(col("cluster")).as("cluster"))
    val coreAgg = coreLab.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_core"))
    val borderAgg = border.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_border"))
    val clusters = coreAgg.join(borderAgg, Seq("cluster"), "full_outer")
      .select(col("cluster"),
        coalesce(col("n_core"), lit(0L)).as("n_core"),
        coalesce(col("n_border"), lit(0L)).as("n_border"))
      .withColumn("n_points", expr("n_core + n_border"))
    val noise = gridPts(s, dir).agg(count(lit(1)).as("n_all"))
      .crossJoin(broadcast(clusters.agg(
        coalesce(sum(col("n_points")), lit(0L)).as("n_clustered"))))
      .select(lit(-1L).as("cluster"), lit(0L).as("n_core"),
        lit(0L).as("n_border"), (col("n_all") - col("n_clustered")).as("n_points"))
    clusters.unionByName(noise).orderBy(col("cluster"))
  }
  private val q185Sql = {
    def cell(c: String) = s"($c - (($c % e + e) % e)) // e"
    s"""WITH RECURSIVE epsv AS (
       |  SELECT CAST(floor($GridEps * sqrt($RefN.0 / COUNT(*))) AS BIGINT) AS e
       |  FROM embeddings
       |), cells AS (
       |  SELECT vec_id, xi, yi, ${cell("xi")} AS cx, ${cell("yi")} AS cy, e
       |  FROM (
       |    SELECT vec_id,
       |      CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT) AS xi,
       |      CAST(floor(CAST(embedding[2] AS DOUBLE) * 1000000) AS BIGINT) AS yi
       |    FROM embeddings), epsv
       |), pairs AS (
       |  SELECT p.vec_id AS a, h.vec_id AS b
       |  FROM cells p,
       |    (SELECT unnest(generate_series(-1, 1)) AS d) dx,
       |    (SELECT unnest(generate_series(-1, 1)) AS d) dy,
       |    cells h
       |  WHERE p.cx + dx.d = h.cx AND p.cy + dy.d = h.cy
       |    AND p.vec_id <> h.vec_id
       |    AND abs(p.xi - h.xi) <= p.e AND abs(p.yi - h.yi) <= p.e
       |), core AS (
       |  SELECT a AS id FROM pairs GROUP BY a HAVING COUNT(*) >= $MinPts
       |), ce AS (
       |  SELECT p.a, p.b FROM pairs p
       |  JOIN core ca ON p.a = ca.id JOIN core cb ON p.b = cb.id
       |  WHERE p.a < p.b
       |), edges AS (
       |  SELECT a AS src, b AS dst FROM ce UNION SELECT b, a FROM ce
       |), reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, re.r FROM reach re JOIN edges e ON e.src = re.id
       |), comp AS (
       |  SELECT id, MIN(r) AS component FROM reach GROUP BY id
       |), corelab AS (
       |  SELECT core.id, COALESCE(comp.component, core.id) AS cluster
       |  FROM core LEFT JOIN comp ON core.id = comp.id
       |), border AS (
       |  SELECT p.a, MIN(cl.cluster) AS cluster
       |  FROM pairs p
       |  LEFT JOIN core ca ON p.a = ca.id
       |  JOIN corelab cl ON p.b = cl.id
       |  WHERE ca.id IS NULL
       |  GROUP BY p.a
       |), ca2 AS (
       |  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_core
       |  FROM corelab GROUP BY cluster
       |), ba AS (
       |  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_border
       |  FROM border GROUP BY cluster
       |), cl AS (
       |  SELECT COALESCE(ca2.cluster, ba.cluster) AS cluster,
       |    COALESCE(n_core, 0) AS n_core, COALESCE(n_border, 0) AS n_border
       |  FROM ca2 FULL OUTER JOIN ba ON ca2.cluster = ba.cluster
       |)
       |SELECT cluster, n_core, n_border, n_core + n_border AS n_points FROM cl
       |UNION ALL
       |SELECT CAST(-1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM cells) -
       |  (SELECT CAST(COALESCE(SUM(n_core + n_border), 0) AS BIGINT) FROM cl)
       |ORDER BY cluster""".stripMargin
  }

  val registry: Seq[Query] = Seq(
    Query("q185_dbscan", q185, Some(q185Sql)),
    Query("q175_grid_density", q175, Some(q175Sql)),
    Query("q31_cosine_topk", q31, Some(q31Sql)),
    Query("q32_ann_lsh_bucket", q32, Some(q32Sql)),
    Query("q41_ann_ivf_probe", q41, Some(q41Sql), Some("cents")),
    Query("q83_kmeans_train", q83, Some(q83Sql), Some("cents")),
    Query("q108_power_iteration", q108, Some(q108Sql)),
    Query("q155_pq_adc", q155, Some(q155Sql)))
}
