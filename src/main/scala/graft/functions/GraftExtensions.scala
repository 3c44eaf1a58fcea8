package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The one way graft's native expressions reach a session:
  *
  * {{{
  *   spark.sql.extensions=graft.functions.GraftExtensions
  * }}}
  *
  * injects every function of [[GraftExtensions.catalog]] and the
  * [[graft.plans.PushFilterIntoExplode]] optimizer rule at session build
  * time. Every session the repo builds (the mains, the benchmark harness,
  * the test session) sets it; a session built elsewhere (a notebook,
  * `spark-submit`) must set the same conf. Nothing registers functions
  * imperatively.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.catalog.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name), GraftExtensions.info(f), f.builder))
    }
    // Optimizer rule: push element-only filter predicates under explode()
    // (runs in the operator-optimization batch; see the rule's scaladoc).
    ext.injectOptimizerRule(_ => graft.plans.PushFilterIntoExplode)
  }
}

object GraftExtensions {

  /** One native function: its SQL name, the usage string `DESCRIBE
    * FUNCTION` prints, and its arity-checked builder. */
  final case class Native(name: String, usage: String, builder: Seq[Expression] => Expression)

  private def native(name: String, arity: Int, usage: String)(
      f: Seq[Expression] => Expression): Native =
    Native(name, usage, Arity(arity, name)(f))

  // ExpressionInfo's 5-arg constructor slots are (className, db, name,
  // usage, extended) — passing name second would shift it into the db
  // field and print the usage sentence as the function's NAME under
  // DESCRIBE FUNCTION. db is null, as for Spark's built-ins: an empty
  // db prints the name as `spark_catalog..graft_dot` (spark-catalyst 4.1.2)
  private def info(f: Native) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, f.name, f.usage, "")

  /** Every native function, the one list. */
  val catalog: Seq[Native] = Seq(
    native("graft_dot", 2, "sequential-fold dot product of two ARRAY<DOUBLE>")(
      c => DotProduct(c(0), c(1))),
    native("graft_sorted_intersect", 2, "intersection size of two sorted distinct ARRAY<BIGINT>")(
      c => SortedIntersectCount(c(0), c(1))),
    native("graft_minhash_bands", 1, "MinHash LSH band keys of a distinct-hash array")(
      c => MinhashBandKeys(c(0))),
    native("graft_minhash_sig", 1, "one-pass MinHash signature (all permutation minima)")(
      c => MinhashSignature(c(0))),
    native("graft_shingle_hashes3", 1, "sorted distinct 60-bit hashes of word 3-shingles")(
      c => ShingleHashes(c(0), 3)),
    native("graft_winnow_7_4", 1, "winnowing fingerprints (7-gram hashes, window-4 minima)")(
      c => WinnowFingerprints(c(0), 7, 4)),
    native("graft_nfc", 1, "Unicode NFC normalization of a STRING")(c => NfcNormalize(c(0))),
    native("graft_array_min_agg", 1, "elementwise min aggregate over ARRAY<BIGINT> rows")(
      c => ArrayMinAgg(c(0))),
    native("graft_token_buckets64", 1, "word-token feature-bucket counts + bias")(
      c => TokenBucketCounts(c(0), 64)),
    native("graft_rep_stats", 1, "per-doc [n_toks, n_distinct, top_bigram_n]")(
      c => RepetitionStats(c(0))),
    native("graft_pii_stats", 1, "fused PII redaction stats [n_emails, n_ips, clean_len, clean_h]")(
      c => PiiStats(c(0))),
    native("graft_simhash60", 1, "60-bit SimHash signature of a text column")(
      c => SimhashSig(c(0))),
    native("graft_clip_count", 2, "multiset intersection size of two ARRAY<BIGINT>")(
      c => ClipOverlapCount(c(0), c(1))),
    native("graft_int_dot", 2, "integer dot product of two ARRAY<BIGINT>")(
      c => IntDotProduct(c(0), c(1))),
    native("graft_sqdist", 2, "integer squared L2 distance of two ARRAY<BIGINT>")(
      c => IntSqDist(c(0), c(1))),
    native("graft_pairs", 1, "all i<j pairs of an ARRAY<BIGINT> as structs")(
      c => SortedPairs(c(0))),
  ) ++ Seq(1, 2, 8).map { k =>
    native(s"graft_pos_grams$k", 1, s"positional 60-bit hashes of word $k-grams")(
      c => PosGramHashes(c(0), k))
  } ++ Seq(64, 256).map { b =>
    // 64 = the q211/q212 oracle config; 256 = the wide lang-id config
    // (q215/q216 — breadth measurement at 20 classes)
    native(s"graft_trigram_buckets$b", 1, s"char-trigram feature-bucket counts ($b buckets) + bias")(
      c => TrigramBucketCounts(c(0), b))
  }
}
