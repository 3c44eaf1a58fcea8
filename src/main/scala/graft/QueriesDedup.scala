package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Components, DriverCollect, NearDup, TextOps, VectorOps}

/** Deduplication operator family — the core large-scale training-data
  * pipeline extension beyond the reference's own surface (SURVEY.md §7.2
  * "scale ops"): exact dedup, MinHash+LSH near-dup, SimHash signatures,
  * blocked n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Every query has a DuckDB oracle twin built from the same constants (see
  * [[graft.ops.TextOps]] / [[graft.ops.VectorOps]]) so results hash-match
  * bit-for-bit.
  *
  * Scale shapes (100 TB): all candidate generation is equi-join on derived
  * keys (LSH band keys, length bands, sign-bit buckets) — never a raw cross
  * join on the big side. Per-row shingle/hash work is higher-order-function
  * expressions inside whole-stage codegen; the only shuffles are the
  * candidate-key joins and final distincts.
  */
object QueriesDedup {

  type Q = (SparkSession, String) => DataFrame

  // --- q26: exact dedup — survivor + duplicate count per key (S5) ------------
  // Reference analog: `INSERT OR IGNORE` idempotent ingest / dropDuplicates
  // on the composite key (parse_matches.sh:605-617). Keep the lowest
  // event_id per (user_id, event_type, day); report groups that actually
  // had duplicates.
  private val q26: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    e.groupBy(col("user_id"), col("event_type"),
              date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(min(col("event_id")).as("survivor_event_id"),
           count(lit(1)).as("n_rows"))
      .filter(col("n_rows") > 1)
      .orderBy(col("user_id"), col("event_type"), col("day"))
  }
  private val q26Sql =
    """SELECT user_id, event_type, strftime(ts, '%Y-%m-%d') AS day,
      |  MIN(event_id) AS survivor_event_id, CAST(COUNT(*) AS BIGINT) AS n_rows
      |FROM events GROUP BY 1, 2, 3 HAVING COUNT(*) > 1
      |ORDER BY user_id, event_type, day""".stripMargin

  // --- q27: MinHash + LSH near-duplicate pairs -------------------------------
  // shingle(3-word) → 16 minhashes → 8 bands of 2 → band-key equi-self-join
  // → exact Jaccard verify >= 0.5. The LSH join is the 100 TB path: candidate
  // generation is a shuffle on (band, key), never all-pairs.
  private val q27: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    // library operator (ops/NearDup); the hash arrays are cached because
    // they feed the band signatures AND both sides of the verify join, and
    // the single-file scan is repartitioned so hashing parallelizes.
    val hashed = NearDup
      .shingleHashed(d.repartition(Tables.shufflePartitions(s)), "doc_id", "text")
      .cache()
    NearDup.pairs(hashed, 0.5)
      .orderBy(col("doc_a"), col("doc_b"))
  }
  /** Shared DuckDB CTE chain producing `cand` = distinct LSH candidate id
    * pairs (the NearDup.candidatePairs twin); reused by q27/q51/q127. */
  private val lshCandCtes: String = {
    val X = TextOps.sql
    val bandRows = X.bandKeys("hs").map { case (j, e) =>
      s"SELECT doc_id, $j AS band, $e AS key FROM h"
    }.mkString("\nUNION ALL\n")
    s"""h AS (
       |  SELECT doc_id, ${X.shingleHashes("text", 3)} AS hs
       |  FROM documents WHERE length(text) >= 13
       |), sig AS (
       |$bandRows
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM sig x JOIN sig y
       |    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
       |)""".stripMargin
  }

  /** Shared DuckDB CTE chain producing `scored` = LSH candidate pairs with
    * exact Jaccard (the q27 pipeline); reused by the q51 components twin. */
  private val lshScoredCtes: String = {
    s"""$lshCandCtes, scored AS (
       |  SELECT doc_a, doc_b,
       |    CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE) /
       |    CAST(len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)) AS DOUBLE) AS jaccard
       |  FROM cand JOIN h a ON a.doc_id = doc_a JOIN h b ON b.doc_id = doc_b
       |)""".stripMargin
  }
  private val q27Sql =
    s"""WITH $lshScoredCtes
       |SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  // --- q137: shingle-containment pairs (quote / subset detector) -------------
  // The asymmetry Jaccard can't see: a short doc embedded verbatim in a
  // long one scores containment(short) ≈ 100 but Jaccard ≈ small, so the
  // q27-class dedup keeps the copy. Same banded candidate generation as
  // q27 (never all-pairs); both directional containments published as
  // floored integer percents, so the scores hash-match cross-engine.
  private val ContainMinPct = 50L
  private val q137: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val hashed = NearDup
      .shingleHashed(d.repartition(Tables.shufflePartitions(s)), "doc_id", "text")
      .cache()
    NearDup.containmentPairs(hashed, ContainMinPct)
      .orderBy(col("doc_a"), col("doc_b"))
  }
  private val q137Sql =
    s"""WITH $lshCandCtes, sc AS (
       |  SELECT doc_a, doc_b,
       |    len(list_intersect(a.hs, b.hs)) AS ni,
       |    len(a.hs) AS sa, len(b.hs) AS sb
       |  FROM cand JOIN h a ON a.doc_id = doc_a JOIN h b ON b.doc_id = doc_b
       |)
       |SELECT doc_a, doc_b,
       |  CAST((100 * ni) // sa AS BIGINT) AS cont_a_pct,
       |  CAST((100 * ni) // sb AS BIGINT) AS cont_b_pct,
       |  CAST((100 * ni) // (sa + sb - ni) AS BIGINT) AS jaccard_pct
       |FROM sc
       |WHERE greatest((100 * ni) // sa, (100 * ni) // sb) >= $ContainMinPct
       |ORDER BY doc_a, doc_b""".stripMargin

  // --- q28: SimHash signature per document -----------------------------------
  // 60-bit SimHash over distinct token hashes: bit j set iff more tokens have
  // bit j set than clear. ONE native per-row eval (graft_simhash60 — the
  // votes are a commutative sum over the distinct hash set, so the
  // compiled loop is bit-identical to the explode + 60×SUM(CASE)
  // aggregate it replaces, which shuffled every token occurrence with 60
  // vote columns and ran the token md5s as an interpreted lambda).
  private val nBits = 60
  /** (doc_id, simhash) — shared by q28 (signatures) and q54 (pairing). */
  private def simhashDf(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      // repartition BEFORE the signature eval: the parquet scan's input
      // split count caps parallelism for the md5-heavy per-row loop
      .repartition(Tables.shufflePartitions(s))
      .select(col("doc_id"), expr("graft_simhash60(text)").as("simhash"))
  }
  private val q28: Q = (s, dir) => simhashDf(s, dir).orderBy(col("doc_id"))
  /** DuckDB CTE chain producing `s` = (doc_id, simhash); shared by q28/q54. */
  private val simhashSqlCtes: String = {
    val X = TextOps.sql
    val sums = (0 until nBits).map(j =>
      s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j").mkString(",\n")
    val packed = (0 until nBits)
      .map(j => s"(CASE WHEN s$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)")
      .mkString(" + ")
    s"""t AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(${X.tokens("text")}, t2 -> ${X.hash60("t2")}))) AS h
       |  FROM documents
       |), a AS (
       |  SELECT doc_id,
       |$sums
       |  FROM t GROUP BY doc_id
       |), s AS (
       |  SELECT doc_id, $packed AS simhash FROM a
       |)""".stripMargin
  }
  private val q28Sql =
    s"""WITH $simhashSqlCtes
       |SELECT doc_id, simhash FROM s ORDER BY doc_id""".stripMargin

  // --- q54: SimHash near-dup pairing — banded Hamming-distance join ----------
  // The signatures (q28) put to their actual use: pairs within Hamming
  // distance <= 3. Blocking is EXACT by pigeonhole — the 60 bits split
  // into 4 bands of 15; <= 3 differing bits cannot touch all 4 bands, so
  // every qualifying pair collides on at least one band key. Candidate
  // generation is an equi-join on (band index ⊕ band value) packed into
  // one BIGINT; the verify is a single xor + bit_count on fixed-width
  // columns. At corpus scale the known hazard is template-heavy buckets
  // (many identical simhashes in one band) — mitigated by splitting hot
  // buckets on a second band, same discipline as the LSH paths.
  private val SimBands    = 4
  private val SimBandBits = 15
  private val SimMaxHam   = 3 // must stay < SimBands for exact recall
  private val q54: Q = (s, dir) => {
    val sim = simhashDf(s, dir).cache()
    val mask = (1L << SimBandBits) - 1
    val keys = (0 until SimBands).map(j =>
      s"(${j.toLong << 60}L + (shiftright(simhash, ${j * SimBandBits}) & ${mask}L))")
      .mkString("array(", ", ", ")")
    val banded = sim.select(col("doc_id"), col("simhash"),
      explode(expr(keys)).as("bkey"))
    banded.as("x").join(banded.as("y"),
        col("x.bkey") === col("y.bkey") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("bit_count(x.simhash ^ y.simhash)").as("hamming"))
      // Filter BEFORE the distinct: hamming is functionally dependent on the
      // pair, so the order is semantics-preserving, and at scale the band
      // collision set (template-heavy buckets) is far larger than the
      // surviving <=3-bit set — the dedup shuffle should only carry keepers.
      .filter(col("hamming") <= SimMaxHam)
      .distinct() // a pair may collide in several bands
      .orderBy(col("doc_a"), col("doc_b"))
  }
  private val q54Sql = {
    val mask = (1L << SimBandBits) - 1
    val keys = (0 until SimBands).map(j =>
      s"(${j.toLong << 60} + ((simhash >> ${j * SimBandBits}) & $mask))")
      .mkString("[", ", ", "]")
    s"""WITH $simhashSqlCtes,
       |banded AS (
       |  SELECT doc_id, simhash, unnest($keys) AS bkey FROM s
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming
       |  FROM banded x JOIN banded y
       |    ON x.bkey = y.bkey AND x.doc_id < y.doc_id
       |)
       |SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= $SimMaxHam
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // --- q29: blocked exact n-gram Jaccard -------------------------------------
  // Candidate blocking by PREFIX FILTERING (AllPairs / SSJoin, Bayardo et
  // al. WWW'07; Chaudhuri et al. ICDE'06 — public literature): with shingle
  // hashes in a canonical global order (the sorted hash value), any pair
  // with Jaccard >= 0.5 must share at least one hash within each side's
  // first floor(|hs|/2)+1 elements. Proof: J >= t ⇒ |A∩B| >= ceil(t·max)
  // =: α, and two sets sharing α elements must collide inside prefixes of
  // length |A|-α+1 <= floor(|A|/2)+1 at t=0.5. So the blocking key is the
  // prefix hash itself — CONTENT-derived and uniformly distributed, unlike
  // the earlier length-band key (n_chars DIV 16) under which real corpora
  // concentrate in a few length bands and candidates go quadratic. The
  // |Δn_chars| <= 15 length gate stays as a residual predicate (it is part
  // of this query's result contract), and EXACT recall is preserved — no
  // minhash-style probabilistic misses. At 100 TB the refinement is
  // rarest-first ordering (order shingles by corpus frequency instead of
  // hash value) to shrink prefixes of common shingles.
  private val q29: Q = (s, dir) => {
    val d = Tables.documents(s, dir).filter(length(col("text")) >= 13)
    // cached: prefix explode AND both verify sides read it (else 3× shingle
    // hashing); repartition first — single-file scan serializes the hashing.
    val hs = d.repartition(Tables.shufflePartitions(s))
      .select(col("doc_id"), col("n_chars"),
        expr("graft_shingle_hashes3(text)").as("hs"))
      .cache()
    // hs is sorted (ShingleHashes returns ascending) — slice IS the prefix.
    val pref = hs.select(col("doc_id"), col("n_chars"),
      explode(expr("slice(hs, 1, size(hs) DIV 2 + 1)")).as("pk"))
    // fixed-width pair distinct BEFORE the arrays join back (q27 shape):
    // the self-join shuffles only (doc_id, n_chars, pk) triples.
    val cand = pref.as("x").join(pref.as("y"),
        col("x.pk") === col("y.pk") && col("x.doc_id") < col("y.doc_id") &&
          abs(col("x.n_chars") - col("y.n_chars")) <= 15)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val a = hs.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"))
    val b = hs.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"))
    cand.join(a, "doc_a").join(b, "doc_b")
      .withColumn("n_inter", expr("graft_sorted_intersect(hs_a, hs_b)"))
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (size(col("hs_a")) + size(col("hs_b")) - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }
  private val q29Sql = {
    val X = TextOps.sql
    s"""WITH h AS (
       |  SELECT doc_id, n_chars, ${X.shingleHashes("text", 3)} AS hs
       |  FROM documents WHERE length(text) >= 13
       |), pref AS (
       |  SELECT doc_id, n_chars,
       |    unnest(list_sort(hs)[1 : len(hs) // 2 + 1]) AS pk
       |  FROM h
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM pref x JOIN pref y
       |    ON x.pk = y.pk AND x.doc_id < y.doc_id
       |   AND abs(x.n_chars - y.n_chars) <= 15
       |), scored AS (
       |  SELECT doc_a, doc_b,
       |    CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE) /
       |    CAST(len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)) AS DOUBLE) AS jaccard
       |  FROM cand JOIN h a ON a.doc_id = doc_a JOIN h b ON b.doc_id = doc_b
       |)
       |SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // --- q30: embedding-cosine near-dup — EXACT all-pairs VERIFIER -------------
  // Deliberately the exact brute-force baseline: it exists to measure the
  // recall of the bucketed operators, NOT to run at corpus scale. The
  // inventory's embedding-near-dup entry is q52 (VectorNearDup
  // .pairsMultiprobe — equi-join on sign-bit buckets); point any real
  // corpus THERE. The pair sweep is ops.BruteForce — the same sequential
  // folds as VectorOps (bit-identical to the expression form and the
  // DuckDB oracle) in a flat-array kernel: the former BroadcastNestedLoop
  // all-pairs join copied both dim-wide arrays into every candidate row
  // (~400 GB of row traffic for 13 GFLOP at n=20k — 60 s at sf1 vs ~1 s
  // for the kernel).
  private val q30: Q = (s, dir) => {
    graft.ops.BruteForce
      .allPairsCosine(Tables.embeddings(s, dir), "vec_id", "embedding", 0.3)
      .orderBy(desc("cosine"), col("vec_a"), col("vec_b"))
      .limit(20)
  }
  private val q30Sql = {
    val X = VectorOps.sql
    s"""WITH e AS (
       |  SELECT vec_id, embedding AS v, ${X.norm("embedding")} AS nrm FROM embeddings
       |)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  ${X.dot("a.v", "b.v")} / (a.nrm * b.nrm) AS cosine
       |FROM e a JOIN e b ON a.vec_id < b.vec_id
       |WHERE ${X.dot("a.v", "b.v")} / (a.nrm * b.nrm) >= 0.3
       |ORDER BY cosine DESC, vec_a, vec_b LIMIT 20""".stripMargin
  }

  // --- q52: embedding near-dup via the BUCKETED library path -----------------
  // The scale form of q30: VectorNearDup.pairsMultiprobe — candidates come
  // from an equi-join on sign-bit LSH buckets (own bucket + the 8 Hamming-1
  // probes), never an all-pairs product. The oracle mirrors the probe
  // expansion exactly, so this query verifies the bucketed operator's own
  // contract (pairs within Hamming <= 1, cosine >= 0.3, top-20); q30's
  // exact baseline measures its recall. At 100 TB the bucket id doubles as
  // the corpus partition key so the self-join co-locates.
  private val NPlanesND = 8
  private val DimND     = 64
  private val q52: Q = (s, dir) => {
    val prep = graft.ops.VectorNearDup
      .prepared(Tables.embeddings(s, dir), "vec_id", "embedding", NPlanesND, DimND)
      .cache()
    graft.ops.VectorNearDup.pairsMultiprobe(prep, 0.3, NPlanesND)
      .orderBy(desc("cosine"), col("vec_a"), col("vec_b"))
      .limit(20)
  }
  private val q52Sql = {
    val X = VectorOps.sql
    val probeItems = ("bucket" +: (0 until NPlanesND).map(i => s"xor(bucket, ${1L << i})"))
      .mkString("[", ", ", "]")
    s"""WITH e AS (
       |  SELECT vec_id, embedding AS v, ${X.norm("embedding")} AS nrm,
       |    ${X.hyperplaneBucket("embedding", NPlanesND, DimND)} AS bucket
       |  FROM embeddings
       |), probes AS (
       |  SELECT vec_id, unnest($probeItems) AS probe FROM e
       |), cand AS (
       |  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
       |  FROM probes x JOIN e y ON x.probe = y.bucket AND x.vec_id < y.vec_id
       |), scored AS (
       |  SELECT vec_a, vec_b,
       |    ${X.dot("a.v", "b.v")} / (a.nrm * b.nrm) AS cosine
       |  FROM cand JOIN e a ON a.vec_id = vec_a JOIN e b ON b.vec_id = vec_b
       |)
       |SELECT vec_a, vec_b, cosine FROM scored WHERE cosine >= 0.3
       |ORDER BY cosine DESC, vec_a, vec_b LIMIT 20""".stripMargin
  }

  // --- q199: embedding near-dup with DATA-ADAPTIVE plane count ---------------
  // q52 gated at production settings: the plane count is not pinned but
  // DERIVED from the corpus (VectorNearDup.adaptiveNPlanes — smallest k
  // with 64·2^k >= n, clamped to [8, 20]; one column-pruned COUNT is the
  // only driver-side scalar). Fixed bits go quadratic in density —
  // within-bucket candidates ∝ occupancy², the measured q52 sf0.1→sf1
  // curve was 12× for 10× data — while adaptive bits hold occupancy, and
  // hence the candidate fan-in per vector, constant at every corpus
  // size. The DuckDB twin replays the SAME rule in integer arithmetic
  // (shift-and-compare, never floating log2) and builds the bucket from
  // the SAME LCG plane formula parameterized by plane index, so the
  // chosen k and every sign bit match cross-engine; n_planes is
  // published in the output as the visible proof that the knob moved
  // (8 at sf0.01/sf0.1, 9 at sf1).
  private val q199: Q = (s, dir) => {
    val (prep0, np) = graft.ops.VectorNearDup.preparedAdaptive(
      Tables.embeddings(s, dir), "vec_id", "embedding", DimND)
    val prep = prep0.cache()
    graft.ops.VectorNearDup.pairsMultiprobe(prep, 0.3, np)
      .orderBy(desc("cosine"), col("vec_a"), col("vec_b"))
      .limit(20)
      .withColumn("n_planes", lit(np.toLong))
  }
  private val q199Sql = {
    val X = VectorOps.sql
    // plane(p)(d) replayed from VectorOps.planes' integer LCG; the
    // division and subtraction are the same IEEE ops Scala runs, so the
    // embedded-literal path (Spark) and the computed path (here) agree
    // bit-for-bit on every sign test
    val planeList = "list_transform(generate_series(0, 63), d -> " +
      "CAST(((p * 64 + d + 1) * 2654435761) % 1000003 AS DOUBLE)" +
      " / 1000003.0 - 0.5)"
    s"""WITH cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
       |nv AS (
       |  SELECT LEAST(20, GREATEST(8,
       |    len(list_filter(generate_series(0, 19),
       |      k -> (64 * (CAST(1 AS BIGINT) << k)) < n)))) AS np
       |  FROM cnt
       |), e AS (
       |  SELECT vec_id, embedding AS v, ${X.norm("embedding")} AS nrm,
       |    CAST(list_sum(list_transform(generate_series(0, np - 1), p ->
       |      CASE WHEN ${X.dot("embedding", planeList)} > 0.0
       |        THEN (CAST(1 AS BIGINT) << p) ELSE CAST(0 AS BIGINT) END))
       |      AS BIGINT) AS bucket
       |  FROM embeddings, nv
       |), probes AS (
       |  SELECT vec_id,
       |    CASE WHEN j = 0 THEN bucket
       |      ELSE xor(bucket, CAST(1 AS BIGINT) << (j - 1)) END AS probe
       |  FROM e, nv, (SELECT unnest(generate_series(0, 20)) AS j)
       |  WHERE j <= np
       |), cand AS (
       |  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
       |  FROM probes x JOIN e y ON x.probe = y.bucket AND x.vec_id < y.vec_id
       |), scored AS (
       |  SELECT vec_a, vec_b,
       |    ${X.dot("a.v", "b.v")} / (a.nrm * b.nrm) AS cosine
       |  FROM cand JOIN e a ON a.vec_id = vec_a JOIN e b ON b.vec_id = vec_b
       |)
       |SELECT vec_a, vec_b, cosine, (SELECT CAST(np AS BIGINT) FROM nv)
       |  AS n_planes
       |FROM scored WHERE cosine >= 0.3
       |ORDER BY cosine DESC, vec_a, vec_b LIMIT 20""".stripMargin
  }

  // --- q51: transitive dedup components over near-dup pairs ------------------
  // The survivor-selection fixer (a~b~c is ONE group): connected components
  // by min-label propagation (ops/Components) over the q27 LSH pairs. The
  // DuckDB twin walks the same edges with a recursive CTE — min reachable
  // id per node == the propagation fixpoint, so both engines agree exactly.
  private val q51: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val hashed = NearDup
      .shingleHashed(d.repartition(Tables.shufflePartitions(s)), "doc_id", "text")
      .cache()
    // fixed-width id pairs: tiny relative to the corpus; cached because the
    // component loop scans the edge list every round
    val pairs = NearDup.pairs(hashed, 0.5)
    // minLabel checkpoints the edge list eagerly, so hashed's cache is
    // consumed by the time it returns — release it rather than letting it
    // pin executor memory for the rest of the session
    val comp = Components.minLabel(pairs, "doc_a", "doc_b")
    hashed.unpersist()
    comp
      .select(col("id").as("doc_id"), col("component"))
      .orderBy(col("doc_id"))
  }
  private val q51Sql =
    s"""WITH RECURSIVE $lshScoredCtes,
       |p AS (SELECT doc_a, doc_b FROM scored WHERE jaccard >= 0.5),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM p
       |  UNION SELECT doc_b, doc_a FROM p
       |), reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, re.r FROM reach re JOIN edges e ON e.src = re.id
       |)
       |SELECT id AS doc_id, MIN(r) AS component
       |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  // --- q208: leakage-free split by near-dup component ------------------------
  // The published failure mode of q44's per-doc hash split: near-dup
  // TWINS land in different splits, so eval grams sit in train and
  // held-out metrics read inflated (the contamination C4/GPT-3 appendix
  // C decontaminate AFTER the fact; group-wise splitting prevents it —
  // same principle as q195's group k-fold, with the group = the thing
  // that actually leaks: the q51 dedup component). Assignment hashes the
  // GROUP key (component min-id; singleton docs key on themselves), so a
  // whole near-dup cluster moves as one unit. Published per (strategy ∈
  // {by_doc, by_group}, split): doc/group counts, doc-id checksum, and
  // the strategy's LEAKED-PAIR count — near-dup pairs straddling splits.
  // by_doc shows the real leak on the planted classes; by_group is 0 by
  // construction, and the query PROVES it rather than asserting it.
  // Scale: the corpus work is the same banded LSH join + log-diameter
  // components q51 already pays; the split assignment is per-row hash
  // arithmetic, and the leakage audit joins the fixed-width pair list
  // to two split columns — equi-joins on doc ids, 6-row output.
  private val q208: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val hashed = NearDup
      .shingleHashed(d.repartition(Tables.shufflePartitions(s)), "doc_id", "text")
      .cache()
    // pinned: reused by the component loop AND the leakage audit
    val pairs = NearDup.pairs(hashed, 0.5).localCheckpoint()
    val comp = Components.minLabel(pairs, "doc_a", "doc_b")
    hashed.unpersist()
    val bDoc = TextOps.docBucketExpr("CAST(doc_id AS STRING)")
    val bGrp = TextOps.docBucketExpr("CAST(gkey AS STRING)")
    def splitCase(b: String) =
      s"CASE WHEN $b < 80 THEN 'train' WHEN $b < 90 THEN 'val' ELSE 'test' END"
    val asg = d.select(col("doc_id"))
      .join(comp.select(col("id").as("doc_id"), col("component")),
        Seq("doc_id"), "left")
      .withColumn("gkey", coalesce(col("component"), col("doc_id")))
      .select(col("doc_id"), col("gkey"), explode(expr(
        s"array(struct('by_doc' AS strategy, ${splitCase(bDoc)} AS split), " +
        s"struct('by_group' AS strategy, ${splitCase(bGrp)} AS split))"))
        .as("e"))
      .select(col("doc_id"), col("gkey"),
        col("e.strategy").as("strategy"), col("e.split").as("split"))
      .localCheckpoint() // feeds the per-split counts AND both leak sides
    val leak = pairs
      .join(asg.select(col("doc_id").as("doc_a"), col("strategy"),
        col("split").as("split_a")), Seq("doc_a"))
      .join(asg.select(col("doc_id").as("doc_b"), col("strategy"),
        col("split").as("split_b")), Seq("doc_b", "strategy"))
      .filter(col("split_a") =!= col("split_b"))
      .groupBy(col("strategy")).agg(count(lit(1)).as("leaked_pairs"))
    asg.groupBy(col("strategy"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("gkey")).as("n_groups"),
        sum(col("doc_id")).as("doc_sig"))
      .join(broadcast(leak), Seq("strategy"), "left")
      .withColumn("leaked_pairs", coalesce(col("leaked_pairs"), lit(0L)))
      .orderBy(col("strategy"), col("split"))
  }
  private val q208Sql = {
    val bDoc = TextOps.sql.docBucket("CAST(doc_id AS VARCHAR)")
    val bGrp = TextOps.sql.docBucket("CAST(gkey AS VARCHAR)")
    def splitCase(b: String) =
      s"CASE WHEN $b < 80 THEN 'train' WHEN $b < 90 THEN 'val' ELSE 'test' END"
    s"""WITH RECURSIVE $lshScoredCtes,
       |p AS (SELECT doc_a, doc_b FROM scored WHERE jaccard >= 0.5),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM p
       |  UNION SELECT doc_b, doc_a FROM p
       |), reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, re.r FROM reach re JOIN edges e ON e.src = re.id
       |), comp AS (
       |  SELECT id AS doc_id, MIN(r) AS component FROM reach GROUP BY id
       |), g AS (
       |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS gkey
       |  FROM documents d LEFT JOIN comp c USING (doc_id)
       |), asg AS (
       |  SELECT doc_id, gkey, 'by_doc' AS strategy,
       |    ${splitCase(bDoc)} AS split FROM g
       |  UNION ALL
       |  SELECT doc_id, gkey, 'by_group', ${splitCase(bGrp)} FROM g
       |), leak AS (
       |  SELECT sa.strategy, CAST(COUNT(*) AS BIGINT) AS leaked_pairs
       |  FROM p
       |  JOIN asg sa ON sa.doc_id = p.doc_a
       |  JOIN asg sb ON sb.doc_id = p.doc_b AND sb.strategy = sa.strategy
       |  WHERE sa.split <> sb.split
       |  GROUP BY sa.strategy
       |)
       |SELECT strategy, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(COUNT(DISTINCT gkey) AS BIGINT) AS n_groups,
       |  CAST(SUM(doc_id) AS BIGINT) AS doc_sig,
       |  COALESCE(l.leaked_pairs, 0) AS leaked_pairs
       |FROM asg LEFT JOIN leak l USING (strategy)
       |GROUP BY strategy, split, l.leaked_pairs
       |ORDER BY strategy, split""".stripMargin
  }

  // --- q114: near-dup cluster-size histogram (the dedup AUDIT) ---------------
  // What q51's components look like in aggregate — the question a
  // curation run actually asks: is duplication pairwise noise (clusters
  // of 2-3) or template spam (a few giant clusters holding most of the
  // duplicated mass)? Singleton docs (no near-dup edge) are counted as
  // size-1 clusters via the total-docs complement, NOT by materializing
  // them. Three dimension-sized aggregates over q51's component table;
  // the corpus-sized work is the same banded LSH join q51 already pays.
  private val q114: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val hashed = NearDup
      .shingleHashed(d.repartition(Tables.shufflePartitions(s)), "doc_id", "text")
      .cache()
    val comp = Components.minLabel(NearDup.pairs(hashed, 0.5), "doc_a", "doc_b")
    // minLabel is eager (per-round localCheckpoint), so the cache is spent
    hashed.unpersist()
    val sizes = comp.groupBy(col("component"))
      .agg(count(lit(1)).as("csize"))
    val hist = sizes.groupBy(col("csize"))
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("docs_in", col("csize") * col("n_clusters"))
    val totals = d.agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(
        hist.agg(coalesce(sum(col("docs_in")), lit(0L)).as("clustered"))))
      .select((col("n_docs") - col("clustered")).as("n_singletons"))
    hist.select(col("csize"), col("n_clusters"), col("docs_in"))
      .unionByName(totals.select(lit(1L).as("csize"),
        col("n_singletons").as("n_clusters"),
        col("n_singletons").as("docs_in")))
      .groupBy(col("csize"))
      .agg(sum(col("n_clusters")).as("n_clusters"),
        sum(col("docs_in")).as("docs_in"))
      .orderBy(col("csize"))
  }
  private val q114Sql =
    s"""WITH RECURSIVE $lshScoredCtes,
       |p AS (SELECT doc_a, doc_b FROM scored WHERE jaccard >= 0.5),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM p
       |  UNION SELECT doc_b, doc_a FROM p
       |), reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, re.r FROM reach re JOIN edges e ON e.src = re.id
       |), comp AS (
       |  SELECT id AS doc_id, MIN(r) AS component FROM reach GROUP BY id
       |), sizes AS (
       |  SELECT component, CAST(COUNT(*) AS BIGINT) AS csize FROM comp
       |  GROUP BY component
       |), hist AS (
       |  SELECT csize, CAST(COUNT(*) AS BIGINT) AS n_clusters,
       |    csize * CAST(COUNT(*) AS BIGINT) AS docs_in
       |  FROM sizes GROUP BY csize
       |), singles AS (
       |  SELECT CAST(1 AS BIGINT) AS csize,
       |    (SELECT COUNT(*) FROM documents) -
       |      COALESCE((SELECT SUM(docs_in) FROM hist), 0) AS n_clusters
       |)
       |SELECT csize,
       |  CAST(SUM(n_clusters) AS BIGINT) AS n_clusters,
       |  CAST(SUM(csize * n_clusters) AS BIGINT) AS docs_in
       |FROM (
       |  SELECT csize, n_clusters FROM hist
       |  UNION ALL
       |  SELECT csize, CAST(n_clusters AS BIGINT) FROM singles
       |)
       |GROUP BY csize ORDER BY csize""".stripMargin

  // --- q119: cross-source similarity via aggregated MinHash sketches ---------
  // Which sources overlap in CONTENT (shared boilerplate, mirrored
  // sites, cross-posted text) — the source-level question the per-doc
  // near-dup family doesn't answer. MinHash algebra makes it one
  // aggregate: the elementwise min of per-doc signatures IS the
  // signature of the source's UNION of shingles, so the native
  // `graft_array_min_agg` ([[graft.functions.ArrayMinAgg]] — combinable,
  // one 16-long array per partition per group in the shuffle) folds each
  // source to a 16-perm sketch, and pairwise agreement/16 estimates the
  // Jaccard of the sources' shingle sets. Sources-sized join, broadcast.
  // The DuckDB twin computes the same minima relationally (unnest ×
  // perm VALUES table) — same constants, hash-identical sketches.
  private val q119: Q = (s, dir) => {
    // one-pass native signature (graft_minhash_sig) instead of NumPerm
    // transform+array_min passes each materializing a permuted copy;
    // null sig == empty shingle set (the old size(hs) >= 1 filter)
    val sigs = Tables.documents(s, dir)
      .filter(length(col("text")) >= 13)
      .select(col("source"),
        expr("graft_minhash_sig(graft_shingle_hashes3(text))").as("sig"))
      .filter(col("sig").isNotNull)
      .groupBy(col("source"))
      .agg(expr("graft_array_min_agg(sig)").as("sig"))
      // sources-sized after the fold, but computing it means a full
      // corpus shingle+minhash scan — localCheckpoint materializes it
      // ONCE so the self-join's two sides read tiny checkpointed blocks
      // instead of re-running the scan per side
      .localCheckpoint()
    sigs.select(col("source").as("source_a"), col("sig").as("sig_a"))
      .join(broadcast(
        sigs.select(col("source").as("source_b"), col("sig").as("sig_b"))),
        col("source_a") < col("source_b"))
      .withColumn("agree", expr(
        """aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1L, 0L)),
          |  CAST(0 AS BIGINT), (acc, v) -> acc + v)""".stripMargin))
      .select(col("source_a"), col("source_b"), col("agree"),
        expr(s"(1000 * agree) DIV ${TextOps.NumPerm}").as("sim_pm"))
      .orderBy(col("source_a"), col("source_b"))
  }
  private val q119Sql = {
    val permRows = (0 until TextOps.NumPerm)
      .map(i => s"(${i}, ${TextOps.permA(i)}, ${TextOps.permB(i)})")
      .mkString(", ")
    s"""WITH d AS (
       |  SELECT source, ${TextOps.sql.shingleHashes("text", 3)} AS hs
       |  FROM documents WHERE length(text) >= 13
       |),
       |h AS (SELECT source, unnest(hs) AS h FROM d WHERE len(hs) >= 1),
       |perms(i, a, b) AS (VALUES $permRows),
       |sig AS (
       |  SELECT source, i,
       |    MIN((a * (h % ${TextOps.P}) + b) % ${TextOps.P}) AS m
       |  FROM h CROSS JOIN perms GROUP BY source, i
       |)
       |SELECT sa.source AS source_a, sb.source AS source_b,
       |  CAST(SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS BIGINT) AS agree,
       |  (1000 * CAST(SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS BIGINT))
       |    // ${TextOps.NumPerm} AS sim_pm
       |FROM sig sa JOIN sig sb ON sa.i = sb.i AND sa.source < sb.source
       |GROUP BY source_a, source_b
       |ORDER BY source_a, source_b""".stripMargin
  }

  // --- q127: edit-distance confirm over LSH candidates -----------------------
  // The precision stage of a production dedup pipeline: MinHash banding
  // for recall (q27's candidate generator, never all-pairs), then an
  // EXACT edit-distance verify on the candidates only — the standard
  // two-phase shape when set-overlap (Jaccard) is too coarse and true
  // character-level distance is the dedup contract (e.g. boilerplate
  // variants that shuffle whole sentences score high Jaccard but far
  // edit distance). Scale shape: the band join shuffles (doc_id, band,
  // key) triples; texts are joined back only for surviving id pairs;
  // Spark's bounded 3-arg levenshtein early-exits the DP at EditMax+1,
  // so a far pair costs O(EditMax·len) not O(len²) — map-side, codegen,
  // after the join. DuckDB twin: unbounded levenshtein, same filter —
  // identical integer distances where dist <= EditMax, and rows past the
  // bound are filtered on both sides, so results hash-match.
  // The confirm itself (length prefilter, DP parallelism fence) lives in
  // NearDup.confirmEditDistance — see its scaladoc for the measured
  // plan hazards.
  private val EditMax = 80
  private val q127: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    // cached for the same reason as q27: the hash arrays feed BOTH sides
    // of the band self-join, and shingle-hashing is the expensive map work
    val hashed = NearDup
      .shingleHashed(d.repartition(Tables.shufflePartitions(s)), "doc_id", "text")
      .cache()
    NearDup.confirmEditDistance(NearDup.candidatePairs(hashed), d, EditMax,
        Tables.shufflePartitions(s))
      .select(col("doc_a"), col("doc_b"), col("dist"))
      .orderBy(col("doc_a"), col("doc_b"))
  }
  private val q127Sql =
    s"""WITH $lshCandCtes
       |SELECT doc_a, doc_b, dist FROM (
       |  SELECT doc_a, doc_b,
       |    CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
       |  FROM cand
       |  JOIN documents a ON a.doc_id = doc_a
       |  JOIN documents b ON b.doc_id = doc_b
       |) WHERE dist <= $EditMax
       |ORDER BY doc_a, doc_b""".stripMargin

  // --- q146: entity resolution — blocked match + transitive canonicalize -----
  // The classic ER pipeline over the catalog's name space: (1) BLOCK with
  // MULTI-PASS keys — a pair is a candidate if it shares its FIRST or its
  // LAST token, so a typo in either token still lands in the other's
  // block (single-key blocking misses noun typos — the spec plants one);
  // (2) MATCH within blocks only, with the bounded 3-arg levenshtein
  // (q127's early-exit trick) at ≤ [[ErEditMax]]; (3) CLUSTER matches
  // transitively (ops/Components — a~b~c is ONE entity); (4) CANONICALIZE
  // every name to its cluster's min label and publish the per-entity
  // audit (distinct variants, row mass, first part key). Unmatched names
  // stay their own entity via the left-join coalesce — no row is lost.
  //
  // Scale shape: matching runs on the DISTINCT-name table, which is
  // VOCABULARY-sized (adjective×noun grid, 64 at every SF — the q67
  // bound), not corpus-sized; the corpus only pays one distinct and one
  // broadcast probe of the name→entity map. Within-block pairing is
  // |block|² on vocabulary blocks; a general-domain deploy caps block
  // width (sorted-neighborhood windowing) the way q29 prefix-filters.
  // The DuckDB twin walks the same edges with q51's recursive-CTE min
  // reachability — both engines agree at the fixpoint exactly.
  private val ErEditMax = 2
  /** Within-block pair budget for q146's driver-side match+cluster fast
    * path, so a degenerate blocking key can never turn the driver kernel
    * quadratic (2M bounded-levenshtein probes ≈ tens of ms). The name
    * list itself comes through [[DriverCollect.upTo]]; past either bound
    * the distributed pipeline below runs unchanged. */
  private val ErLocalPairMax = 2000000L

  /** dist(a, b) ≤ k, exact — the driver twin of Spark's bounded 3-arg
    * `levenshtein(a, b, k) >= 0` (UTF8String.levenshteinDistance works
    * on code points; so does this). Full DP with a row-minimum early
    * exit, O(|a|·|b|) worst case on survivors, O(k·|a|) on far pairs. */
  private def editLe(aStr: String, bStr: String, k: Int): Boolean = {
    val a = aStr.codePoints().toArray
    val b = bStr.codePoints().toArray
    val (st, tt) = if (a.length <= b.length) (a, b) else (b, a)
    if (tt.length - st.length > k) return false
    val n = st.length
    var prev = Array.tabulate(n + 1)(identity)
    var cur = new Array[Int](n + 1)
    var j = 1
    while (j <= tt.length) {
      cur(0) = j
      var rowMin = j
      var i = 1
      while (i <= n) {
        val cost = if (st(i - 1) == tt(j - 1)) 0 else 1
        var v = prev(i - 1) + cost
        if (prev(i) + 1 < v) v = prev(i) + 1
        if (cur(i - 1) + 1 < v) v = cur(i - 1) + 1
        cur(i) = v
        if (v < rowMin) rowMin = v
        i += 1
      }
      if (rowMin > k) return false
      val t = prev; prev = cur; cur = t
      j += 1
    }
    prev(n) <= k
  }

  /** Driver-side block → bounded-match → union-find kernel: the exact
    * replay of the distributed stages (first/last-token blocking with
    * per-name key dedup, UTF8-byte-ordered pair orientation + distinct,
    * `editLe` ≤ [[ErEditMax]], min-label components) over the collected
    * vocabulary. Returns name → entity for every input name, or None if
    * the within-block pair budget is exceeded (fall back distributed). */
  private def erLocalLabels(names: Array[String])
      : Option[Array[(String, String)]] = {
    val blocks = new java.util.HashMap[String,
      scala.collection.mutable.ArrayBuffer[String]]()
    names.foreach { n =>
      val toks = n.split(" ", -1) // Spark split keeps trailing empties
      val keys = if (toks.head == toks.last) Seq(toks.head)
                 else Seq(toks.head, toks.last)
      keys.foreach { k =>
        blocks.computeIfAbsent(k,
          _ => scala.collection.mutable.ArrayBuffer.empty[String]) += n
      }
    }
    var budget = 0L
    blocks.values.forEach { b =>
      budget += b.length.toLong * (b.length - 1) / 2
    }
    if (budget > ErLocalPairMax) return None
    val ord = graft.ops.Components.localOrdering(
      org.apache.spark.sql.types.StringType).get
    val pairs = scala.collection.mutable.HashSet.empty[(String, String)]
    blocks.values.forEach { b =>
      var i = 0
      while (i < b.length) {
        var j = i + 1
        while (j < b.length) {
          val x = b(i); val y = b(j)
          // orient by Spark's string `<` (unsigned UTF-8 byte order);
          // x != y — names are distinct and each appears once per block
          val (na, nb) = if (ord.lt(x, y)) (x, y) else (y, x)
          if (editLe(na, nb, ErEditMax)) pairs += ((na, nb))
          j += 1
        }
        i += 1
      }
    }
    val (_, compOf) = graft.ops.Components.unionFindMin(
      pairs.iterator.map { case (a, b) => (a: Any, b: Any) }, ord)
    Some(names.map(n => n -> compOf(n).asInstanceOf[String]))
  }

  private val q146: Q = (s, dir) => {
    val parts = Tables.part(s, dir).select(col("p_partkey"), col("p_name"))
    // Driver-side fast path (r16): the match+cluster stages run on the
    // DISTINCT-name table, vocabulary-sized at every corpus scale (see
    // scaladoc), yet as a distributed pipeline they cost ~8 stages × 32
    // tasks of fixed allocation — the same storm class Components'
    // union-find path closed, and the driver's r15 ledger still charged
    // q146 6.7 s with a 9.3 GB / 53 s AQE broadcast-build stage over 5 MB
    // of input. When the name list fits [[DriverCollect.upTo]] and its
    // blocks fit ErLocalPairMax, blocking + bounded edit-distance match +
    // union-find run as driver work on ONE collected name list, and the
    // only distributed stages left are the parts scan, a broadcast join
    // of the local label map, and the final aggregate. The kernel replays
    // the distributed semantics exactly (erLocalLabels/editLe scaladoc;
    // EntityResolutionSpec pins local == distributed on a planted
    // fixture). Past either bound the distributed pipeline below runs
    // unchanged.
    DriverCollect.upTo(parts.select(col("p_name").as("name")).distinct())
      .flatMap(names => erLocalLabels(names.map(_.getString(0))))
      .fold(erDistributed(s, parts)) { labelRows =>
        val spark = s
        import spark.implicits._
        erAudit(parts, labelRows.toSeq.toDF("name", "entity"))
      }
  }

  /** q146's per-entity audit over a (name, entity) label map — the tail
    * both the driver-side and the distributed path feed. */
  private def erAudit(parts: DataFrame, labels: DataFrame): DataFrame =
    parts.join(broadcast(labels), col("p_name") === col("name"))
      .groupBy(col("entity"))
      .agg(countDistinct(col("p_name")).as("n_names"),
        count(lit(1)).as("n_parts"),
        min(col("p_partkey")).as("first_part"))
      .orderBy(col("entity"))

  /** The pre-r16 distributed ER pipeline — the fallback past the
    * bounded-collect limits (unchanged semantics; see q146's comment
    * block). */
  private[graft] def erDistributed(s: SparkSession, parts: DataFrame)
      : DataFrame = {
    val names = parts.select(col("p_name").as("name")).distinct()
      .cache() // vocabulary-sized; feeds block build + label join
    // multi-pass blocking keys; distinct since a one-token name emits
    // the same key twice
    val blocked = names.select(col("name"), explode(array(
        element_at(split(col("name"), " "), 1),
        element_at(split(col("name"), " "), -1))).as("blk"))
      .distinct()
    val pairs = blocked.select(col("blk"), col("name").as("na"))
      .join(blocked.select(col("blk"), col("name").as("nb")), "blk")
      .filter(col("na") < col("nb"))
      .select(col("na"), col("nb"))
      .distinct() // a pair sharing BOTH tokens arrives via both passes
      .filter(levenshtein(col("na"), col("nb"), ErEditMax) >= 0)
    val comp = Components.minLabel(pairs, "na", "nb")
    val labels = names.select(col("name"))
      .join(broadcast(comp.withColumnRenamed("id", "name")), Seq("name"), "left")
      .withColumn("entity", coalesce(col("component"), col("name")))
      .select(col("name"), col("entity"))
    val out = erAudit(parts, labels)
    names.unpersist()
    out
  }
  private val q146Sql =
    s"""WITH RECURSIVE names AS MATERIALIZED (
       |  SELECT DISTINCT p_name AS name FROM part
       |), blocked AS (
       |  SELECT name, string_split(name, ' ')[1] AS blk FROM names
       |  UNION
       |  SELECT name, string_split(name, ' ')[-1] AS blk FROM names
       |), p AS MATERIALIZED (
       |  SELECT DISTINCT a.name AS na, b.name AS nb
       |  FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.name < b.name
       |  WHERE levenshtein(a.name, b.name) <= $ErEditMax
       |), edges AS (
       |  SELECT na AS src, nb AS dst FROM p UNION SELECT nb, na FROM p
       |), reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, re.r FROM reach re JOIN edges e ON e.src = re.id
       |), comp AS (
       |  SELECT id AS name, MIN(r) AS component FROM reach GROUP BY id
       |), labels AS (
       |  SELECT n.name, COALESCE(c.component, n.name) AS entity
       |  FROM names n LEFT JOIN comp c USING (name)
       |)
       |SELECT entity,
       |  CAST(COUNT(DISTINCT p_name) AS BIGINT) AS n_names,
       |  CAST(COUNT(*) AS BIGINT) AS n_parts,
       |  MIN(p_partkey) AS first_part
       |FROM part JOIN labels ON p_name = labels.name
       |GROUP BY entity ORDER BY entity""".stripMargin

  // --- q179: sorted-neighborhood candidate generation ------------------------
  // The block-width-capped alternative q146's scaladoc promises for
  // general domains: instead of hash blocks (whose width is data-
  // dependent and can explode on a hot key), sort the corpus ONCE by a
  // normalized key and compare each record only to its w−1 successors
  // in the total order — candidate volume is exactly (w−1)·n by
  // construction, whatever the key distribution (THE skew-proof
  // blocking guarantee).
  // Scale shape: the global rank comes from repartitionByRange +
  // sortWithinPartitions + zipWithIndex — per-partition counting, NEVER
  // the single-partition Window.orderBy; range partitioning preserves
  // total order across partitions, so the index is the rank at any
  // partition count. Successor pairing is then an EQUI-join of idx+off
  // against idx (the q175 1D grid trick) — no window, no inequality
  // join. Confirmation reuses q127's bounded 3-arg levenshtein.
  private val SnmWindow = 4 // compare to the next 3 records
  private val SnmEditMax = 2
  private val q179: Q = (s, dir) => {
    val spark = s
    import spark.implicits._
    val k = Tables.documents(s, dir)
      .select(col("doc_id"), substring(col("text"), 1, 16).as("sk"))
    val idxd = k.repartitionByRange(Tables.shufflePartitions(s),
        col("sk"), col("doc_id"))
      .sortWithinPartitions(col("sk"), col("doc_id"))
      .as[(Long, String)].rdd.zipWithIndex()
      .map { case ((id, sk), i) => (id, sk, i) }
      .toDF("doc_id", "sk", "idx")
      .localCheckpoint() // rank is data-deterministic; pin it once
    val probe = idxd.select(col("doc_id").as("ia"), col("sk").as("ska"),
      explode(expr(s"transform(sequence(1, ${SnmWindow - 1}), o -> idx + o)"))
        .as("ridx"))
    probe.join(idxd.select(col("doc_id").as("ib"), col("sk").as("skb"),
        col("idx").as("ridx")), "ridx")
      .filter(levenshtein(col("ska"), col("skb"), SnmEditMax) >= 0)
      .select(least(col("ia"), col("ib")).as("a"),
        greatest(col("ia"), col("ib")).as("b"),
        levenshtein(col("ska"), col("skb")).cast("long").as("dist"))
      .orderBy(col("a"), col("b"))
  }
  private val q179Sql =
    s"""WITH k AS (
       |  SELECT doc_id, substr(text, 1, 16) AS sk FROM documents
       |), r AS (
       |  SELECT doc_id, sk,
       |    ROW_NUMBER() OVER (ORDER BY sk, doc_id) - 1 AS idx
       |  FROM k
       |), probe AS (
       |  SELECT doc_id AS ia, sk AS ska, idx + off.o AS ridx
       |  FROM r, (SELECT unnest(generate_series(1, ${SnmWindow - 1})) AS o) off
       |)
       |SELECT LEAST(ia, rr.doc_id) AS a, GREATEST(ia, rr.doc_id) AS b,
       |  CAST(levenshtein(ska, rr.sk) AS BIGINT) AS dist
       |FROM probe JOIN r rr ON probe.ridx = rr.idx
       |WHERE levenshtein(ska, rr.sk) <= $SnmEditMax
       |ORDER BY a, b""".stripMargin

  // --- q180: multi-signal fusion dedup + canonical election ------------------
  // The curation capstone the single-signal queries feed: near-dup
  // evidence from TWO independent detectors — q27's MinHash-LSH pairs
  // and q74's normalization-exact collisions (as star edges to the
  // group minimum: |group|−1 edges give the same connectivity as the
  // |group|² clique for a fraction of the volume) — unioned into one
  // edge set, clustered transitively (ops/Components), then a canonical
  // representative ELECTED per cluster: keep the longest text, ties to
  // the smallest id (the keep-best-copy rule a release pipeline
  // applies, not just pair detection). Published as the per-cluster
  // audit: size, canonical id, kept/removed char mass.
  // Scale: both signals are equi-joins (band keys / norm-hash groups);
  // the election window partitions by cluster — never global.
  private val q180: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
      .repartition(Tables.shufflePartitions(s))
      .select(col("doc_id"), col("text"), col("n_chars"))
    val hashed = NearDup.shingleHashed(docs, "doc_id", "text").cache()
    val lsh = NearDup.pairs(hashed, 0.5).select(col("doc_a"), col("doc_b"))
    val wNorm = Window.partitionBy(col("norm_h"))
    val normEdges = docs
      .withColumn("norm_h", expr(TextOps.hash60(TextOps.normalizeExpr("text"))))
      .withColumn("m", min(col("doc_id")).over(wNorm))
      .filter(col("doc_id") =!= col("m"))
      .select(col("m").as("doc_a"), col("doc_id").as("doc_b"))
    val comp = Components.minLabel(lsh.union(normEdges).distinct(),
      "doc_a", "doc_b")
    hashed.unpersist()
    val members = docs.select(col("doc_id"), col("n_chars"))
      .join(comp.withColumnRenamed("id", "doc_id"), "doc_id")
    val wc = Window.partitionBy(col("component"))
      .orderBy(desc("n_chars"), col("doc_id"))
    members.withColumn("rk", row_number().over(wc))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_docs"),
        min(when(col("rk") === 1, col("doc_id"))).as("canonical"),
        min(when(col("rk") === 1, col("n_chars"))).as("kept_chars"),
        sum(col("n_chars")).as("total_chars"))
      .select(col("component"), col("n_docs"), col("canonical"),
        col("kept_chars"),
        (col("total_chars") - col("kept_chars")).as("removed_chars"))
      .orderBy(col("component"))
  }
  private val q180Sql = {
    val X = TextOps.sql
    s"""WITH RECURSIVE $lshScoredCtes,
       |norm AS (
       |  SELECT doc_id, ${X.hash60(X.normalize("text"))} AS norm_h, n_chars
       |  FROM documents
       |), nm AS (
       |  SELECT norm_h, MIN(doc_id) AS m FROM norm GROUP BY norm_h
       |), allp AS (
       |  SELECT doc_a, doc_b FROM scored WHERE jaccard >= 0.5
       |  UNION
       |  SELECT nm.m, norm.doc_id FROM norm JOIN nm USING (norm_h)
       |  WHERE norm.doc_id <> nm.m
       |), edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM allp
       |  UNION SELECT doc_b, doc_a FROM allp
       |), reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, re.r FROM reach re JOIN edges e ON e.src = re.id
       |), comp AS (
       |  SELECT id, MIN(r) AS component FROM reach GROUP BY id
       |), rk AS (
       |  SELECT c.component, d.doc_id, d.n_chars,
       |    ROW_NUMBER() OVER (PARTITION BY c.component
       |      ORDER BY d.n_chars DESC, d.doc_id) AS rk
       |  FROM comp c JOIN documents d ON c.id = d.doc_id
       |)
       |SELECT component, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  MIN(CASE WHEN rk = 1 THEN doc_id END) AS canonical,
       |  CAST(MIN(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT) AS kept_chars,
       |  CAST(SUM(n_chars) - MIN(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT)
       |    AS removed_chars
       |FROM rk GROUP BY component ORDER BY component""".stripMargin
  }

  // --- q186: dedup-at-ingest — the O(delta) near-dup check -------------------
  // q27 pairs the WHOLE corpus; a production pipeline dedups each new
  // batch as it lands. The standing LSH index is the band-signature
  // table of the existing corpus (at scale: a bucketed table keyed by
  // (band, key) — the q105 layout); the new batch (docs ≡ 0 mod 13, the
  // deterministic batch marker) probes it with an equi-join — work
  // proportional to the BATCH's signatures, never the corpus pairing —
  // plus a batch-internal self-join (a real ingest dedups within the
  // batch too, against EARLIER ids only). Jaccard-confirmed ≥ 0.5, and
  // each dup reports its canonical target (min matching partner).
  private val IngestMod = 13L
  private val q186: Q = (s, dir) => {
    val d = Tables.documents(s, dir).repartition(Tables.shufflePartitions(s))
    val hashed = NearDup.shingleHashed(d, "doc_id", "text").localCheckpoint()
    val sig = NearDup.bandSignatures(hashed)
    val probeSig = sig.filter(col("doc_id") % IngestMod === 0)
    val indexSig = sig.filter(col("doc_id") % IngestMod =!= 0)
    val candOld = probeSig.as("x").join(indexSig.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key"))
      .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("partner"))
    val candNew = probeSig.as("x").join(probeSig.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") > col("y.doc_id"))
      .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("partner"))
    val cand = candOld.union(candNew).distinct()
    val scored = NearDup.jaccardScored(cand, hashed, "doc_id", "partner")
      .filter(col("jaccard") >= 0.5)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("partner"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("partner").as("dup_of"), col("jaccard"))
      .orderBy(col("doc_id"))
  }
  private val q186Sql = {
    val X = TextOps.sql
    val bandRows = X.bandKeys("hs").map { case (j, e) =>
      s"SELECT doc_id, $j AS band, $e AS key FROM h"
    }.mkString("\nUNION ALL\n")
    s"""WITH h AS (
       |  SELECT doc_id, ${X.shingleHashes("text", 3)} AS hs
       |  FROM documents WHERE length(text) >= 13
       |), sig AS (
       |$bandRows
       |), probe AS (SELECT * FROM sig WHERE doc_id % $IngestMod = 0),
       |idx AS (SELECT * FROM sig WHERE doc_id % $IngestMod <> 0),
       |cand AS (
       |  SELECT x.doc_id AS doc_id, y.doc_id AS partner
       |  FROM probe x JOIN idx y ON x.band = y.band AND x.key = y.key
       |  UNION
       |  SELECT x.doc_id, y.doc_id
       |  FROM probe x JOIN probe y
       |    ON x.band = y.band AND x.key = y.key AND x.doc_id > y.doc_id
       |), sc AS (
       |  SELECT cand.doc_id, partner,
       |    CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE) /
       |    CAST(len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))
       |      AS DOUBLE) AS jaccard
       |  FROM cand JOIN h a ON a.doc_id = cand.doc_id
       |    JOIN h b ON b.doc_id = cand.partner
       |)
       |SELECT doc_id, partner AS dup_of, jaccard FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY partner)
       |    AS rn
       |  FROM sc WHERE jaccard >= 0.5)
       |WHERE rn = 1 ORDER BY doc_id""".stripMargin
  }

  // --- q188: LSH banding-scheme sweep (the parameter-tuning table) -----------
  // HOW to choose the banding the whole near-dup family runs on: the
  // same 16-permutation signature evaluated under r = 1 / 2 / 4 rows
  // per band (16/8/4 bands). Fewer rows per band → more candidates,
  // higher recall, worse precision; the published table (candidates,
  // confirmed, precision, relative recall vs the union of all schemes'
  // confirmed pairs) is exactly the evidence that picks r. The
  // 16 minhash minima are computed ONCE and pinned; each scheme only
  // re-keys them (r = 4 keys via the shared md5 — the two-minima
  // product trick overflows past r = 2). Jaccard confirmation runs once
  // over the DISTINCT union of candidate pairs, then every scheme's
  // candidate set joins the shared scored table.
  // Scale: three band-keyed equi-self-joins + one confirm join — the
  // q27 shape ×3; never all-pairs (relative recall, not absolute — the
  // exact denominator would need the O(n²) verifier).
  private val SweepRs = Seq(1, 2, 4)

  /** Band key for scheme r, band j over minhash columns m0..m15 — ONE
    * source for the sweep's banding convention, shared by q188 (relative
    * sweep) and q213 (absolute recall on the deterministic sample). */
  private def sweepKeyExpr(r: Int, j: Int): String = r match {
    case 1 => s"m$j"
    case 2 => s"(m${2 * j} * ${TextOps.P}L + m${2 * j + 1})"
    case 4 => TextOps.hash60(
      (0 until 4).map(k => s"CAST(m${4 * j + k} AS STRING)")
        .mkString("concat_ws(':', ", ", ", ")"))
  }

  /** DuckDB twin of [[sweepKeyExpr]] over the minhash EXPRESSIONS `ms`. */
  private def sweepKeySql(ms: Seq[String])(r: Int, j: Int): String = r match {
    case 1 => ms(j)
    case 2 => s"(${ms(2 * j)} * ${TextOps.P} + ${ms(2 * j + 1)})"
    case 4 => TextOps.sql.hash60(
      (0 until 4).map(k => s"CAST(${ms(4 * j + k)} AS VARCHAR)")
        .mkString("concat_ws(':', ", ", ", ")"))
  }
  private val q188: Q = (s, dir) => {
    val d = Tables.documents(s, dir).repartition(Tables.shufflePartitions(s))
    // one native pass (graft_minhash_sig) computes all NumPerm minima;
    // the m$i columns are element_at projections of it -- bit-identical
    // to the composed 16x transform+array_min form (MinhashSpec)
    val mhCols = (0 until TextOps.NumPerm)
      .map(i => element_at(col("sig"), i + 1).as(s"m$i"))
    val mat = NearDup.shingleHashed(d, "doc_id", "text")
      .withColumn("sig", expr("graft_minhash_sig(hs)"))
      .select(col("doc_id") +: col("hs") +: mhCols: _*)
      .localCheckpoint() // the signature pass runs once, not per scheme
    // ONE (r, band, key)-tagged signature frame for ALL three schemes
    // (r16, guide §2.4): the per-scheme band self-joins and candidate
    // distincts fuse into a single equi-join + a single (a,b,r) distinct
    // — 6 join-side exchanges + 3 pair-distinct exchanges become 2 + 1,
    // and the same bytes move (the three sigs were disjoint row sets of
    // this union). Per scheme the key space stays disjoint via the r tag
    // in the join key, so the candidate multiset is identical to the
    // per-scheme runs (all key kinds are 60-bit longs).
    val bandsAll = SweepRs.flatMap(r =>
      (0 until TextOps.NumPerm / r).map(j =>
        s"struct(CAST($r AS BIGINT) AS r, $j AS band, " +
          s"${sweepKeyExpr(r, j)} AS key)"))
    val sig = mat.select(col("doc_id"),
        explode(expr(bandsAll.mkString("array(", ", ", ")"))).as("e"))
      .select(col("doc_id"), col("e.r").as("r"), col("e.band").as("band"),
        col("e.key").as("key"))
    val allCands = sig.as("x").join(sig.as("y"),
        col("x.r") === col("y.r") && col("x.band") === col("y.band") &&
          col("x.key") === col("y.key") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.r").as("r"))
      .distinct()
      .localCheckpoint()
    val scored = NearDup.jaccardScored(
        allCands.select(col("a"), col("b")).distinct(),
        mat.select(col("doc_id"), col("hs")), "a", "b")
      .withColumn("conf", when(col("jaccard") >= 0.5, 1L).otherwise(0L))
      .select(col("a"), col("b"), col("conf"))
      .localCheckpoint()
    val ref = scored.agg(sum(col("conf")).as("n_ref"))
    allCands.join(scored, Seq("a", "b"))
      .groupBy(col("r"))
      .agg(count(lit(1)).as("n_candidates"), sum(col("conf")).as("n_confirmed"))
      .crossJoin(broadcast(ref))
      .select(col("r").as("rows_per_band"),
        expr(s"${TextOps.NumPerm} DIV r").as("n_bands"),
        col("n_candidates"), col("n_confirmed"),
        expr("(1000000 * n_confirmed) DIV n_candidates").as("precision_ppm"),
        expr("(1000000 * n_confirmed) DIV n_ref").as("recall_ppm"))
      .orderBy(col("rows_per_band"))
  }
  private val q188Sql = {
    val X = TextOps.sql
    val keySql = sweepKeySql(X.minhash("hs")) _
    val sigRows = SweepRs.flatMap(r =>
      (0 until TextOps.NumPerm / r).map(j =>
        s"SELECT $r AS r, doc_id, $j AS band, ${keySql(r, j)} AS key FROM h"))
      .mkString("\nUNION ALL\n")
    s"""WITH h AS (
       |  SELECT doc_id, ${X.shingleHashes("text", 3)} AS hs
       |  FROM documents WHERE length(text) >= 13
       |), sig AS (
       |$sigRows
       |), cand AS (
       |  SELECT DISTINCT x.r, x.doc_id AS a, y.doc_id AS b
       |  FROM sig x JOIN sig y
       |    ON x.r = y.r AND x.band = y.band AND x.key = y.key
       |    AND x.doc_id < y.doc_id
       |), pairs AS (
       |  SELECT DISTINCT a, b FROM cand
       |), scored AS (
       |  SELECT a, b,
       |    CASE WHEN CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE) /
       |      CAST(len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs))
       |        AS DOUBLE) >= 0.5 THEN 1 ELSE 0 END AS conf
       |  FROM pairs JOIN h ha ON ha.doc_id = a JOIN h hb ON hb.doc_id = b
       |), ref AS (SELECT CAST(SUM(conf) AS BIGINT) AS n_ref FROM scored)
       |SELECT CAST(r AS BIGINT) AS rows_per_band,
       |  CAST(${TextOps.NumPerm} // r AS BIGINT) AS n_bands,
       |  CAST(COUNT(*) AS BIGINT) AS n_candidates,
       |  CAST(SUM(conf) AS BIGINT) AS n_confirmed,
       |  (1000000 * CAST(SUM(conf) AS BIGINT)) // COUNT(*) AS precision_ppm,
       |  (1000000 * CAST(SUM(conf) AS BIGINT)) // (SELECT n_ref FROM ref)
       |    AS recall_ppm
       |FROM cand JOIN scored USING (a, b)
       |GROUP BY r ORDER BY rows_per_band""".stripMargin
  }

  // --- q213: ABSOLUTE near-dup recall (deterministic sample + exact truth) ---
  // q188's sweep publishes recall RELATIVE to the union of the schemes'
  // own confirmed pairs — it cannot see a true pair every scheme misses.
  // This query publishes the ABSOLUTE number a dedup owner quotes: a
  // deterministic content-hash sample of documents (q44 discipline;
  // permil auto-scales as 10⁶/n so the sample stays ~1000 docs at ANY
  // corpus size — the 100 TB all-pairs cost is a constant), exact
  // all-pairs Jaccard on the sample only (the q30/q31 bounded
  // brute-force-verifier discipline: a ~sample-sized broadcast NL join,
  // never the corpus), then per banding scheme the fraction of true
  // pairs (jaccard >= 0.5) the scheme's band keys catch, with a ±2σ
  // binomial CI in exact integers (driver-side BigInt isqrt; the twin
  // runs the same floor formula in HUGEINT + LinearTrain.sql.isqrtExpr).
  // A true pair is caught only if BOTH members land in the sample, so
  // the estimator is unbiased over pairs (P(pair sampled) = f²) — the
  // CI covers the sampling error at the published denominator.
  private val q213: Q = (s, dir) => {
    val spark = s
    import spark.implicits._
    val filtered = Tables.documents(s, dir)
      .filter(length(col("text")) >= 13)
    val nDocs = filtered.count()
    val permil = math.min(1000L, 1000000L / math.max(nDocs, 1L))
    val sample = filtered.filter(
      expr(s"pmod(${TextOps.hash60("CAST(doc_id AS STRING)")}, 1000)")
        < permil)
    val mhCols = (0 until TextOps.NumPerm) // q188's one-pass signature
      .map(i => element_at(col("sig"), i + 1).as(s"m$i"))
    val mat = NearDup.shingleHashed(sample, "doc_id", "text")
      .withColumn("sig", expr("graft_minhash_sig(hs)"))
      .select(col("doc_id") +: col("hs") +: mhCols: _*)
      .localCheckpoint() // sample-sized; read by truth + 3 schemes
    val nSampled = mat.count()
    val ids = mat.select(col("doc_id"))
    val ap = ids.as("x").join(broadcast(ids.as("y")),
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
    val truth = NearDup.jaccardScored(ap,
        mat.select(col("doc_id"), col("hs")), "a", "b")
      .filter(col("jaccard") >= 0.5)
      .select(col("a"), col("b"))
      .localCheckpoint() // read by 3 schemes' semi-joins + the count
    val nTrue = truth.count()
    // ONE job for all three schemes (q188's union shape) instead of a
    // count() per scheme: the per-scheme work is sample-sized, so three
    // separate actions were paying mostly fixed job/driver overhead —
    // the r13 driver ledger showed both q213 reps slow with ~0.3 s GC
    // each, i.e. action-count-bound, not data-bound
    // same (r, band, key)-tagged one-join fusion as q188 (r16): three
    // scheme self-joins + three distincts -> one join + one distinct
    val bandsAll = SweepRs.flatMap(r =>
      (0 until TextOps.NumPerm / r).map(j =>
        s"struct(CAST($r AS BIGINT) AS r, $j AS band, " +
          s"${sweepKeyExpr(r, j)} AS key)"))
    val sig = mat.select(col("doc_id"),
        explode(expr(bandsAll.mkString("array(", ", ", ")"))).as("e"))
      .select(col("doc_id"), col("e.r").as("r"), col("e.band").as("band"),
        col("e.key").as("key"))
    val allCands = sig.as("x").join(sig.as("y"),
        col("x.r") === col("y.r") && col("x.band") === col("y.band") &&
          col("x.key") === col("y.key") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.r").as("r"))
      .distinct()
    val caught: Map[Int, Long] = allCands
      .join(truth, Seq("a", "b"), "left_semi")
      .groupBy(col("r")).agg(count(lit(1)).as("k"))
      .collect().map(row => row.getLong(0).toInt -> row.getLong(1)).toMap
      .withDefaultValue(0L)
    val rows = SweepRs.map { r =>
      val k = caught(r)
      val (rec, lo, hi) =
        if (nTrue == 0) (0L, 0L, 0L)
        else {
          val rec = 1000000L * k / nTrue
          val x = (BigInt(1000000L) * 1000000L * k * (nTrue - k)) / nTrue
          val half = (2 * graft.ops.LinearTrain.isqrt(x) / nTrue).toLong
          (rec, math.max(rec - half, 0L), math.min(rec + half, 1000000L))
        }
      (r.toLong, (TextOps.NumPerm / r).toLong, permil, nSampled, nTrue, k,
        rec, lo, hi)
    }
    rows.toDF("rows_per_band", "n_bands", "sample_permil",
        "n_sampled_docs", "n_true_pairs", "n_caught", "recall_abs_ppm",
        "ci_lo_ppm", "ci_hi_ppm")
      .orderBy(col("rows_per_band"))
  }
  private val q213Sql = {
    val X = TextOps.sql
    val keySql = sweepKeySql(X.minhash("hs")) _
    val sigRows = SweepRs.flatMap(r =>
      (0 until TextOps.NumPerm / r).map(j =>
        s"SELECT $r AS r, doc_id, $j AS band, ${keySql(r, j)} AS key FROM h"))
      .mkString("\nUNION ALL\n")
    val xExpr = "(1000000000000::HUGEINT * k * (nt - k)) // nt"
    s"""WITH hall AS (
       |  SELECT doc_id, ${X.shingleHashes("text", 3)} AS hs
       |  FROM documents WHERE length(text) >= 13
       |), n0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM hall),
       |pm AS (
       |  SELECT CAST(least(1000, 1000000 // greatest(n, 1)) AS BIGINT)
       |    AS permil
       |  FROM n0
       |), h AS MATERIALIZED (
       |  SELECT doc_id, hs FROM hall
       |  WHERE ${X.hash60("CAST(doc_id AS VARCHAR)")} % 1000
       |    < (SELECT permil FROM pm)
       |), ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS nsd FROM h),
       |truth AS MATERIALIZED (
       |  SELECT a.doc_id AS a, b.doc_id AS b
       |  FROM h a JOIN h b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE) /
       |    CAST(len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))
       |      AS DOUBLE) >= 0.5
       |), nt0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM truth),
       |sig AS (
       |$sigRows
       |), cand AS (
       |  SELECT DISTINCT x.r, x.doc_id AS a, y.doc_id AS b
       |  FROM sig x JOIN sig y
       |    ON x.r = y.r AND x.band = y.band AND x.key = y.key
       |    AND x.doc_id < y.doc_id
       |), caught AS (
       |  SELECT c.r, CAST(COUNT(*) AS BIGINT) AS k
       |  FROM cand c JOIN truth t ON c.a = t.a AND c.b = t.b
       |  GROUP BY c.r
       |), per AS (
       |  SELECT rs.r, COALESCE(c.k, 0) AS k, (SELECT nt FROM nt0) AS nt
       |  FROM (SELECT unnest([${SweepRs.mkString(", ")}]) AS r) rs
       |  LEFT JOIN caught c ON rs.r = c.r
       |), ci AS (
       |  SELECT r, k, nt,
       |    CASE WHEN nt = 0 THEN 0
       |      ELSE (1000000 * k) // nt END AS rec,
       |    CASE WHEN nt = 0 THEN 0
       |      ELSE (2 * ${graft.ops.LinearTrain.sql.isqrtExpr(xExpr)}) // nt
       |    END AS hw
       |  FROM per
       |)
       |SELECT CAST(r AS BIGINT) AS rows_per_band,
       |  CAST(${TextOps.NumPerm} // r AS BIGINT) AS n_bands,
       |  (SELECT permil FROM pm) AS sample_permil,
       |  (SELECT nsd FROM ns) AS n_sampled_docs,
       |  CAST(nt AS BIGINT) AS n_true_pairs,
       |  CAST(k AS BIGINT) AS n_caught,
       |  CAST(rec AS BIGINT) AS recall_abs_ppm,
       |  CAST(greatest(rec - hw, 0) AS BIGINT) AS ci_lo_ppm,
       |  CAST(least(rec + hw, 1000000) AS BIGINT) AS ci_hi_ppm
       |FROM ci ORDER BY rows_per_band""".stripMargin
  }

  val registry: Seq[Query] = Seq(
    Query("q188_lsh_tuning", q188, Some(q188Sql)),
    Query("q213_neardup_recall", q213, Some(q213Sql)),
    Query("q186_ingest_dedup", q186, Some(q186Sql)),
    Query("q180_fusion_dedup", q180, Some(q180Sql)),
    Query("q179_sorted_neighborhood", q179, Some(q179Sql)),
    Query("q146_entity_resolution", q146, Some(q146Sql)),
    Query("q127_editdist_confirm", q127, Some(q127Sql)),
    Query("q137_shingle_containment", q137, Some(q137Sql)),
    Query("q119_source_similarity", q119, Some(q119Sql)),
    Query("q54_simhash_neardup", q54, Some(q54Sql)),
    Query("q52_embedding_neardup_bucketed", q52, Some(q52Sql)),
    Query("q199_adaptive_lsh_neardup", q199, Some(q199Sql)),
    Query("q51_dedup_components", q51, Some(q51Sql)),
    Query("q208_leakage_split", q208, Some(q208Sql)),
    Query("q26_exact_dedup", q26, Some(q26Sql)),
    Query("q27_minhash_lsh", q27, Some(q27Sql)),
    Query("q28_simhash", q28, Some(q28Sql)),
    Query("q29_ngram_jaccard", q29, Some(q29Sql)),
    Query("q30_embedding_neardup", q30, Some(q30Sql)),
    Query("q114_dup_cluster_histogram", q114, Some(q114Sql)))
}
