package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode,
  TTLConfig, ValueState}

/** Streaming NEAR-duplicate candidate detection — the Structured
  * Streaming twin of the batch MinHash+LSH pipeline (q27,
  * [[graft.ops.NearDup]]): as documents arrive, each is checked against
  * the corpus seen SO FAR, without ever holding the corpus itself.
  *
  * Shape: per document, the same 8 LSH band keys the batch path derives
  * (native `graft_shingle_hashes3` → `graft_minhash_bands`, identical
  * constants, so batch and stream agree on what "candidate" means), one
  * row per band. State is keyed by BAND KEY and holds that band's first
  * `maxAnchors` arrivals (id + sorted shingle-hash set); every later
  * arrival in the band emits a candidate pair against EACH stored anchor
  * with the EXACT Jaccard computed in-processor (two-pointer over the
  * sorted arrays — the [[graft.functions.SortedIntersectCount]] loop).
  *
  * RECALL CONTRACT (precisely): a pair (X, Y) is emitted iff X and Y
  * share at least one band in which X is among the first `maxAnchors`
  * arrivals. This is bounded BELOW the batch path (q27 pairs ALL in-band
  * docs): in a band where more than `maxAnchors` docs accumulate, two
  * late arrivals never pair through that band. The single-anchor miss —
  * A arrives first and anchors the band, then B, then C with B~C but
  * A≁C — is covered for any `maxAnchors` ≥ 2 whenever B is among the
  * band's first `maxAnchors` arrivals (B is the 2nd here, so it is).
  * The caller filters on `jaccard` and drops the newcomer.
  *
  * STATE-SCHEMA NOTE: the anchor-list widening renamed the state
  * variable (single anchor → bounded list), which is NOT restartable
  * from a checkpoint written by the earlier single-anchor build —
  * pre-restart anchors would be absent and their near-dups missed.
  * Restart such streams from a fresh checkpoint (re-reading the source
  * from the start re-derives the anchors deterministically).
  *
  * At-least-once output: a pair sharing k bands is emitted up to k times
  * (and re-deliveries re-emit) — candidates are idempotent facts keyed by
  * (first_doc_id, doc_id), so downstream dedup is a `dropDuplicates`,
  * matching the batch path's fixed-width candidate DISTINCT.
  *
  * Scale: one shuffle (groupByKey on band key — the same key the batch
  * equi-join shuffles on); state is O(bands · maxAnchors) = O(corpus)
  * entries of (id + one shingle set), NOT O(corpus²); a production
  * deployment sets a TTL so anchors age out with the dedup horizon —
  * wired here via [[candidates]]' `ttl` parameter (TTLConfig.NONE keeps
  * anchors forever, the exact-corpus semantics the spec pins).
  *
  * Docs with fewer than 3 tokens have no 3-shingles: `graft_minhash_bands`
  * returns NULL and the explode drops them — they never dedup, matching
  * the batch path's size guard.
  */
object StreamNearDup {

  case class Doc(doc_id: Long, text: String)

  /** One row per (document, LSH band). */
  case class BandDoc(doc_id: Long, band_key: Long, hs: Seq[Long])

  /** `first_doc_id` is the matched anchor (one of the band's earliest
    * `maxAnchors` arrivals — always earlier than `doc_id`). */
  case class Candidate(first_doc_id: Long, doc_id: Long, jaccard: Double)

  private case class Anchor(doc_id: Long, hs: Seq[Long])
  private case class Anchors(as: Seq[Anchor])

  /** Exact Jaccard of two SORTED distinct hash arrays. */
  private[streaming] def jaccard(a: Seq[Long], b: Seq[Long]): Double = {
    val x = a.toArray; val y = b.toArray
    var i = 0; var j = 0; var c = 0
    while (i < x.length && j < y.length) {
      if (x(i) < y(j)) i += 1
      else if (x(i) > y(j)) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    val union = x.length + y.length - c
    if (union == 0) 0.0 else c.toDouble / union
  }

  private class AnchorProcessor(maxAnchors: Int, ttl: TTLConfig)
      extends StatefulProcessor[Long, BandDoc, Candidate] {

    @transient private var anchors: ValueState[Anchors] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      anchors = getHandle.getValueState[Anchors]("anchors",
        Encoders.product[Anchors], ttl)

    override def handleInputRows(bandKey: Long, rows: Iterator[BandDoc],
                                 timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[Candidate] = {
      // arrival order within a micro-batch is partition-order —
      // order by doc_id for run-independent determinism
      val sorted = rows.toArray.sortBy(_.doc_id)
      val out = Seq.newBuilder[Candidate]
      var as = if (anchors.exists()) anchors.get().as else Seq.empty[Anchor]
      var changed = false
      sorted.foreach { r =>
        // a re-delivered anchor pairs with nothing (no self-pairs, no
        // later-vs-earlier inversions); a re-delivered non-anchor re-emits
        // its pairs — the documented at-least-once idempotent output
        if (!as.exists(_.doc_id == r.doc_id)) {
          as.foreach(a =>
            out += Candidate(a.doc_id, r.doc_id, jaccard(a.hs, r.hs)))
          if (as.size < maxAnchors) { as = as :+ Anchor(r.doc_id, r.hs); changed = true }
        }
      }
      // write state only when the anchor list grew this batch: rewriting
      // an unchanged list would cost a state-store write per touched band
      // AND refresh its TTL, so anchors in hot bands would never age out
      // with the documented dedup horizon
      if (changed) anchors.update(Anchors(as))
      out.result().iterator
    }
  }

  /** Near-dup candidates of a document stream against all earlier
    * arrivals. Apply `.filter($"jaccard" >= tau).dropDuplicates(
    * "first_doc_id", "doc_id")` downstream for the dedup decision.
    * `maxAnchors` bounds per-band state (see the recall contract above);
    * 4 covers anchor-shadowing chains several deep while keeping state
    * linear in the corpus. */
  def candidates(docs: Dataset[Doc],
                 ttl: TTLConfig = TTLConfig.NONE,
                 maxAnchors: Int = 4): Dataset[Candidate] = {
    require(maxAnchors >= 1, s"maxAnchors must be >= 1, got $maxAnchors")
    implicit val be = Encoders.product[BandDoc]
    implicit val ce = Encoders.product[Candidate]
    implicit val le = Encoders.scalaLong
    docs.toDF()
      .withColumn("hs", expr("graft_shingle_hashes3(text)"))
      .select(col("doc_id"),
        explode(expr("graft_minhash_bands(hs)")).as("band_key"), col("hs"))
      .as[BandDoc]
      .groupByKey(_.band_key)
      .transformWithState(new AnchorProcessor(maxAnchors, ttl),
        TimeMode.None(), OutputMode.Append())
  }
}
