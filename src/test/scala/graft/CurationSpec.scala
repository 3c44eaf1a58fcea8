package graft

import org.apache.spark.sql.functions._

/** Round-6 curation family (q73–q76) on planted fixtures small enough to
  * verify by hand, plus the native `graft_nfc` expression contract.
  * (Cross-engine value equality is the oracle gate's job; these pin the
  * SEMANTICS.) */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  /** Writes a documents.parquet with the given (doc_id, text) rows.
    * Doc ids must dodge the query-side fixture moduli (9 for q73;
    * 11/17/19 for q74) so planted texts arrive unmodified. */
  private def docsDir(rows: (Long, String)*): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_curation").toString
    rows.toSeq
      .map { case (id, t) => (id, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    d
  }

  test("q73: cross-doc and within-doc duplicated 8-grams, coverage union") {
    val c8 = (1 to 8).map(i => s"c$i").mkString(" ") // the shared 8-gram
    val dir = docsDir(
      1L -> s"p1 p2 $c8",                       // dup start 3 → covers 3..10
      2L -> s"$c8 z1 z2",                       // dup start 1 → covers 1..8
      3L -> (1 to 10).map(i => s"u$i").mkString(" "), // all grams unique
      4L -> s"$c8 $c8")                         // starts 1 AND 9 (self-repeat)
    val got = SparkEntry.queries("q73_dup_ngram_coverage")(spark, dir)
      .select("doc_id", "n_toks", "n_dup_starts", "covered_toks", "covered_bp")
      .as[(Long, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 10L, 1L, 8L, 8000L)))
    assert(got(2L) == ((2L, 10L, 1L, 8L, 8000L)))
    assert(got(3L) == ((3L, 10L, 0L, 0L, 0L)))
    // doc 4: the c1..c8 gram recurs at start 9 (toks 9..16 = toks 1..8),
    // and start 1/9 of doc 4 also match docs 1/2's gram; interior starts
    // 2..8 straddle the repeat boundary and stay unique
    assert(got(4L) == ((4L, 16L, 2L, 16L, 10000L)))
  }

  test("q79: covered positions scrub out, survivors reassemble in order") {
    val c8 = (1 to 8).map(i => s"c$i").mkString(" ")
    val dir = docsDir(
      1L -> s"p1 p2 $c8",  // scrub 3..10 → "p1 p2" survives
      2L -> s"$c8 z1 z2",  // scrub 1..8  → "z1 z2" survives
      3L -> (1 to 10).map(i => s"u$i").mkString(" "), // untouched
      4L -> s"$c8 $c8")    // fully covered → empty text
    val hash = (s0: String) => hash60Of(s0)
    val got = SparkEntry.queries("q79_dedup_scrub")(spark, dir)
      .select("doc_id", "n_toks", "n_removed", "clean_h")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 10L, 8L, hash("p1 p2"))))
    assert(got(2L) == ((2L, 10L, 8L, hash("z1 z2"))))
    assert(got(3L) == ((3L, 10L, 0L,
      hash((1 to 10).map(i => s"u$i").mkString(" ")))))
    assert(got(4L) == ((4L, 16L, 16L, hash(""))))
  }

  private def hash60Of(s0: String): Long =
    spark.sql(s"SELECT CAST(conv(substring(md5('$s0'), 1, 15), 16, 10) AS BIGINT)")
      .as[Long].head()

  test("q74: case/whitespace variants and NFC-composed accents collapse") {
    val dir = docsDir(
      1L -> "Hello   World", // normalizes to doc 2's text
      2L -> "hello world",
      3L -> "plain unique text",
      4L -> "Café",    // decomposed: NFC composes, then casefolds...
      5L -> "café")          // ...into this precomposed form
    val got = SparkEntry.queries("q74_normalize_dedup")(spark, dir)
      .select("doc_id", "changed", "n_chars_norm", "group_n", "is_survivor")
      .as[(Long, Boolean, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, true, 11L, 2L, true)))   // survivor = min doc_id
    assert(got(2L) == ((2L, false, 11L, 2L, false)))
    assert(got(3L) == ((3L, false, 17L, 1L, true)))
    assert(got(4L) == ((4L, true, 4L, 2L, true)))    // 5 code points → 4
    assert(got(5L) == ((5L, false, 4L, 2L, false)))
  }

  test("q108: power iteration locks onto a planted dominant axis") {
    val d = java.nio.file.Files.createTempDirectory("graft_curation").toString
    val e1 = Array.tabulate(64)(i => if (i == 0) 0.5f else 0.0f)
    val e2 = Array.tabulate(64)(i => if (i == 1) 0.25f else 0.0f)
    // 3 vectors on axis 1, 1 on axis 2 → the Gram matrix's top
    // eigendirection is axis 1. Codes: (127,0,…)×3 and (0,127,0,…).
    // v₀ = vec 1's codes = 127·e1; every iteration keeps w ∝ e1 and the
    // int8 rescale pins the component at 126 (the `max DIV 127 + 1`
    // divisor overshoots by a hair — magnitude is arbitrary anyway,
    // the DIRECTION is the result).
    Seq((1L, e1, 0), (2L, e1, 0), (3L, e1, 0), (4L, e2, 1))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$d/embeddings.parquet")
    val got = SparkEntry.queries("q108_power_iteration")(spark, d)
      .as[(Long, Long)].collect().toSeq
    assert(got.head == (1L, 126L))
    assert(got.tail.forall(_._2 == 0L))
    assert(got.map(_._1) == (1L to 64L))
  }

  test("q75: identical-direction vectors share a centroid, argmax is exact") {
    val d = java.nio.file.Files.createTempDirectory("graft_curation").toString
    val up    = Array.fill(64)(0.5f)
    val upToo = Array.fill(64)(0.25f) // same direction, different scale
    val ortho = Array.tabulate(64)(i => if (i % 2 == 0) 0.5f else -0.5f)
    Seq((1L, up, 0), (2L, upToo, 0), (3L, ortho, 1))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$d/embeddings.parquet")
    val got = SparkEntry.queries("q75_centroid_assign")(spark, d)
      .as[(Int, Int, Long)].collect().toSet
    // up/upToo quantize to all-127 → label-0 centroid is all-254: cosine 1
    // for both; ortho is orthogonal to it (alternating signs cancel) and
    // cosine 1 to its own centroid → diagonal confusion matrix
    assert(got == Set((0, 0, 2L), (1, 1, 1L)))
  }

  test("q76: tf*(N-df) ranks rare repeated tokens above corpus-wide ones") {
    val dir = docsDir(
      1L -> "apple apple banana the",
      2L -> "banana the zebra",
      3L -> "the the the")
    val got = SparkEntry.queries("q76_doc_keywords")(spark, dir)
      .select("doc_id", "rank", "tok", "score")
      .as[(Long, Int, String, Long)].collect().toSet
    // N=3; df: apple 1, banana 2, the 3, zebra 1
    assert(got.filter(_._1 == 1L) == Set(
      (1L, 1, "apple", 4L), (1L, 2, "banana", 1L), (1L, 3, "the", 0L)))
    assert(got.filter(_._1 == 2L) == Set(
      (2L, 1, "zebra", 2L), (2L, 2, "banana", 1L), (2L, 3, "the", 0L)))
    assert(got.filter(_._1 == 3L) == Set((3L, 1, "the", 0L)))
  }

  test("q77: the learned merge is applied greedily and recounted") {
    val dir = docsDir(
      1L -> "abab abab", // abab wf 3: round-1 pairs ab(x2), ba — 'ab' wins
      2L -> "abab cdcd")
    val got = SparkEntry.queries("q77_bpe_merge_round2")(spark, dir)
      .as[(String, Long)].collect().toSet
    // abab -> [ab][ab]: one pair of merged symbols, weight 3; cdcd unchanged
    assert(got == Set(("(ab)(ab)", 3L), ("cd", 2L), ("dc", 1L)))
  }

  test("q78: per-source k-holdout is deterministic and append-stable") {
    def write(dir: String, rows: Seq[(Long, String)]): Unit =
      rows.map { case (id, src) => (id, s"text $id", "en", src, 10L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$dir/documents.parquet")
    val d1 = java.nio.file.Files.createTempDirectory("graft_hold").toString
    write(d1, (1L to 7L).map(_ -> "src0"))
    val first = SparkEntry.queries("q78_eval_holdout")(spark, d1)
      .select("source", "rank", "doc_id")
      .as[(String, Int, Long)].collect().toSeq
    assert(first.map(_._2) == (1 to 5)) // k=5 of 7, ranks dense
    // appending docs to a DIFFERENT source must not disturb src0's sample
    val d2 = java.nio.file.Files.createTempDirectory("graft_hold").toString
    write(d2, (1L to 7L).map(_ -> "src0") ++ (101L to 103L).map(_ -> "src1"))
    val second = SparkEntry.queries("q78_eval_holdout")(spark, d2)
      .select("source", "rank", "doc_id")
      .as[(String, Int, Long)].collect().toSeq
    assert(second.filter(_._1 == "src0") == first)
    assert(second.count(_._1 == "src1") == 3) // fewer than k: all kept
  }

  test("graft_nfc: composes decomposed forms, preserves normalized input") {
    val r = spark.sql(
      "SELECT graft_nfc('Café') = 'Café', graft_nfc('plain'), graft_nfc(CAST(NULL AS STRING))")
      .as[(Boolean, String, Option[String])].head()
    assert(r == ((true, "plain", None)))
    // analysis-time type check, not runtime garbage
    val e = intercept[Exception] {
      spark.sql("SELECT graft_nfc(42)").collect()
    }
    assert(e.getMessage.contains("STRING"))
  }
}
