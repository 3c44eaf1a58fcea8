package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic, cross-engine text primitives: tokenization, word
  * k-shingles, 60-bit content hashing, MinHash signatures with LSH band
  * keys, and SimHash bit aggregation.
  *
  * Everything here must produce BIT-IDENTICAL values in Spark and in the
  * DuckDB oracle, so each primitive is defined once as shared constants +
  * two textual twins (a Spark SQL expression and a DuckDB SQL fragment)
  * generated from the same Scala values.
  *
  * Hash choice: the first 15 hex digits of MD5 → a 60-bit non-negative
  * BIGINT. MD5 is byte-stable across engines (unlike each engine's native
  * `hash()`), and 60 bits keeps all downstream modular arithmetic inside
  * 64-bit range: with P ≈ 2^30, a·(h mod P)+b < 2^60.
  *
  * Scale notes (100 TB): all primitives are per-row array expressions —
  * no shuffle, no UDF, fully inside whole-stage codegen via higher-order
  * functions. MinHash permutation count (16) and banding (8 bands × 2
  * rows) follow the standard LSH S-curve for a ~0.5 Jaccard threshold:
  * P(candidate) = 1-(1-j^2)^8, ≈ 0.92 at j=0.7, ≈ 0.04 at j=0.2.
  */
object TextOps {

  /** Modulus for MinHash permutations: prime > 2^29 so products of two
    * residues stay < 2^60. */
  val P: Long = 1000000007L

  val NumPerm = 16
  val Bands   = 8 // rows per band r = NumPerm / Bands = 2

  /** Deterministic permutation coefficients (odd multiplier LCG-style),
    * reduced mod P; a_i never 0. */
  val permA: IndexedSeq[Long] =
    (1 to NumPerm).map(i => (2654435761L * i) % P)
  val permB: IndexedSeq[Long] =
    (1 to NumPerm).map(i => (40503L * i + 17L) % P)

  // ---------------------------------------------------------------- Spark

  /** 60-bit MD5-prefix hash of a string expression (Spark side). */
  def hash60(e: String): String =
    s"CAST(conv(substring(md5($e), 1, 15), 16, 10) AS BIGINT)"

  /** Square-and-reduce integer mix over the prime 1e9+7 — THE cheap
    * deterministic-draw primitive for per-row×replicate/pair stages
    * where an md5 measurably dominates (q198's 5× lesson, q170's 13.7 s
    * line): multiply-reduce, then the triangular square, reduced again.
    * ONE function serves both engines (`div` = "DIV" for Spark, "//"
    * for DuckDB) so a constant tweak can never drift between a query
    * and its oracle twin. All products stay in int64 for any `x` with
    * \|x\| < 2⁶³/7919. Result in [0, 1e9+7). NOT for join/bucket keys
    * that need 60-bit quality — that stays [[hash60]]. A SINGLE round
    * is also measurably too weak to decorrelate arithmetic-progression
    * inputs (see ops/Multimodal.syntheticPairWav) — compose it twice
    * for generator use. */
  def sqMix(x: String, div: String): String = {
    val v1 = s"((($x) % 1000000007) * 2654435761 % 1000000007)"
    s"(($v1 * ($v1 + 1) $div 2) % 1000000007)"
  }

  /** Whitespace tokens (documents are single-space separated). */
  def tokensExpr(text: String): String = s"split($text, ' ')"

  /** 3-round [[sqMix]] fold of three character code points — the
    * char-trigram FEATURE HASH for lang-id (char n-grams are the
    * published CCNet/fastText-class signal). Code points, not
    * substrings: `substring(text, i, 3)` per position is O(i) on
    * UTF-8, so a transform over it is O(len²) per document — measured
    * 45 s for the sf1 explode vs ~4 s through this path — and the md5
    * bucket hash (~1 µs/gram) is overkill for a B=64 space. Each
    * round's input stays < P + 0x10FFFF, inside sqMix's bound; all
    * values non-negative, so `%` agrees across engines. `cp1..cp3`
    * are code-point EXPRESSIONS (both engines' `ascii()` returns the
    * full Unicode code point — probed, incl. 中/€). */
  def trigramMix(cp1: String, cp2: String, cp3: String,
                 div: String): String =
    sqMix(s"${sqMix(s"${sqMix(cp1, div)} + $cp2", div)} + $cp3", div)

  /** Char-trigram feature BUCKETS of a pre-split char-array column
    * `cs` (bind it once per row — `split(text, '')` — so element
    * access is O(1); an inline split inside the lambda would re-split
    * per position). CASE guard because `sequence(1, n)` with n < 1
    * generates a DESCENDING sequence. Twin: [[sql.charTrigramBuckets]]. */
  def charTrigramBucketsExpr(cs: String, b: Int): String = {
    def cp(j: Int) = s"ascii(element_at($cs, i + $j))"
    s"""CASE WHEN size($cs) >= 3
       |  THEN transform(sequence(1, size($cs) - 2),
       |         i -> ${trigramMix(cp(0), cp(1), cp(2), "DIV")} % $b)
       |  ELSE CAST(array() AS ARRAY<BIGINT>) END""".stripMargin
  }

  /** Normalized text for normalization-aware dedup (q74 and the curation
    * pipeline): Unicode NFC (native `graft_nfc`) + casefold + whitespace
    * collapse. Twin: [[sql.normalize]]. */
  def normalizeExpr(text: String): String =
    s"trim(regexp_replace(lower(graft_nfc($text)), ' +', ' '))"

  /** Deterministic hash bucket of a row id — THE sampling primitive
    * shared by hash-split (q44), mixture sampling (q56/q63/q89) and
    * [[graft.corpus.CurationPipeline]]: stable across runs, engines and
    * cluster sizes, unlike rand(). `scale` = bucket count (percent by
    * default; the temperature policy passes 10000 for finer rates). */
  def docBucketExpr(idExpr: String = "CAST(doc_id AS STRING)",
                    scale: Long = 100L): String =
    s"pmod(${hash60(idExpr)}, $scale)"

  /** Distinct word k-shingle strings. Caller must guarantee
    * size(tokens) >= k (the documents table always has >> k tokens) —
    * `sequence(1, n)` with n < 1 would generate a DESCENDING sequence in
    * Spark, so the guard is a WHERE filter upstream, not a CASE here. */
  def shingleExpr(text: String, k: Int): String = {
    val parts =
      (0 until k).map(j => s"element_at(split($text, ' '), i + $j)").mkString(", ")
    s"""array_distinct(transform(sequence(1, size(split($text, ' ')) - ${k - 1}),
       |  i -> concat_ws(' ', $parts)))""".stripMargin
  }

  /** POSITIONAL (non-distinct) 60-bit hashes of the word k-grams of an
    * already-split token array column: element i (1-based) is the hash of
    * the k-gram starting at token i. Empty (typed) array when the document
    * is shorter than k — the guard lives HERE because `sequence(1, n)`
    * with n < 1 generates a descending sequence. Used by exact-substring
    * dedup accounting (q73), where position identity matters — unlike
    * [[shingleHashesExpr]], duplicates and order are preserved. */
  def posGramHashesExpr(toks: String, k: Int): String = {
    val parts = (0 until k).map(j => s"element_at($toks, i + $j)").mkString(", ")
    s"""CASE WHEN size($toks) >= $k
       |  THEN transform(sequence(1, size($toks) - ${k - 1}),
       |         i -> ${hash60(s"concat_ws(' ', $parts)")})
       |  ELSE CAST(array() AS ARRAY<BIGINT>) END""".stripMargin
  }

  /** SORTED distinct 60-bit hashes of the word k-shingles of `text`.
    * Sorted so intersection sizes can use the two-pointer
    * [[graft.functions.SortedIntersectCount]]; sorting never changes set
    * semantics (minhash minima, Jaccard) so the DuckDB twin stays unsorted. */
  def shingleHashesExpr(text: String, k: Int): String =
    s"array_sort(array_distinct(transform(${shingleExpr(text, k)}, s2 -> ${hash60("s2")})))"

  /** MinHash signature of a distinct-hash array column `hs`: one
    * `array_min` over a permuted copy per permutation. */
  def minhashExprs(hs: String): Seq[String] =
    (0 until NumPerm).map { i =>
      s"array_min(transform($hs, h -> (${permA(i)}L * (h % ${P}L) + ${permB(i)}L) % ${P}L))"
    }

  /** LSH band keys: bands of r=2 signature rows combined into one BIGINT
    * (m0·P + m1 < 2^60). Returns (bandIndex → key expression). */
  def bandKeyExprs(hs: String): Seq[(Int, String)] = {
    val ms = minhashExprs(hs)
    (0 until Bands).map(j => j -> s"(${ms(2 * j)} * ${P}L + ${ms(2 * j + 1)})")
  }

  def col(e: String): Column = expr(e)

  // --------------------------------------------------------------- DuckDB

  /** DuckDB SQL twins of the expressions above. */
  object sql {
    def hash60(e: String): String =
      s"CAST(concat('0x', substr(md5($e), 1, 15)) AS BIGINT)"

    def tokens(text: String): String = s"string_split($text, ' ')"

    /** Twin of [[TextOps.charTrigramBucketsExpr]] over a pre-split
      * char-array column `cs` (`string_split(text, '')` — probed:
      * per-character with full code points). DuckDB generate_series
      * with an empty range is empty, but the CASE keeps the twins
      * textually parallel and the output type pinned. */
    def charTrigramBuckets(cs: String, b: Int): String = {
      def cp(j: Int) = s"ascii(($cs)[i + $j])"
      s"""CASE WHEN len($cs) >= 3
         |  THEN list_transform(generate_series(1, len($cs) - 2),
         |         i -> ${trigramMix(cp(0), cp(1), cp(2), "//")} % $b)
         |  ELSE []::BIGINT[] END""".stripMargin
    }

    def normalize(text: String): String =
      s"trim(regexp_replace(lower(nfc_normalize($text)), ' +', ' ', 'g'))"

    def docBucket(idExpr: String = "CAST(doc_id AS VARCHAR)"): String =
      s"${hash60(idExpr)} % 100"

    def shingle(text: String, k: Int): String = {
      val t = tokens(text)
      val parts = (0 until k).map(j => s"($t)[i + $j]").mkString(", ")
      s"list_distinct(list_transform(generate_series(1, len($t) - ${k - 1}), i -> concat_ws(' ', $parts)))"
    }

    def shingleHashes(text: String, k: Int): String =
      s"list_distinct(list_transform(${shingle(text, k)}, s2 -> ${hash60("s2")}))"

    /** Twin of [[TextOps.posGramHashesExpr]]; callers filter len >= k
      * upstream (DuckDB generate_series(1, n<1) is empty, not descending,
      * but the filter keeps both engines' row sets aligned). */
    def posGramHashes(toks: String, k: Int): String = {
      val parts = (0 until k).map(j => s"($toks)[i + $j]").mkString(", ")
      s"""list_transform(generate_series(1, len($toks) - ${k - 1}),
         |  i -> ${hash60(s"concat_ws(' ', $parts)")})""".stripMargin
    }

    def minhash(hs: String): Seq[String] =
      (0 until NumPerm).map { i =>
        s"list_min(list_transform($hs, h -> (${permA(i)} * (h % ${P}) + ${permB(i)}) % ${P}))"
      }

    def bandKeys(hs: String): Seq[(Int, String)] = {
      val ms = minhash(hs)
      (0 until Bands).map(j => j -> s"(${ms(2 * j)} * ${P} + ${ms(2 * j + 1)})")
    }
  }
}
