package graft.corpus

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Landing, NearDup, Stages, TextOps}
import graft.sources.JsonlDocuments

/** Streaming corpus ingest — the corpus product's cron loop, mirroring
  * `codstats.Pipeline.continuousRun`: a landing directory of JSONL drops
  * drains through the hardened parse into a parquet document store, one
  * [[graft.ops.Landing.drain]] per tick, resumable from the checkpoint.
  *
  * Production properties carried over from the batch reader and the
  * codstats loop:
  *  - corrupt lines and missing-required-field rows are QUARANTINED to
  *    their own sink by the batch reader's split
  *    ([[graft.sources.JsonlDocuments]]), never dropped and never fatal
  *    (a 100 TB drop always contains garbage); both sinks are fed from ONE
  *    sealed batch pass;
  *  - appends are idempotent ([[graft.ops.Landing.appendNew]] on doc_id):
  *    a re-delivered file (new name, same docs), in a later tick or the
  *    same one, or a foreachBatch crash-replay cannot duplicate documents;
  *  - the store is partitioned by source, the partition key every
  *    downstream curation stage (mixture rates, per-source meters) prunes
  *    on.
  */
object StreamingCuration {

  /** One ingest tick: drain new landing files, quarantine bad lines,
    * append new documents to the store. Over a local landing directory
    * and store it lists its files on the driver
    * ([[graft.ops.Landing.listedOnDriver]]). */
  def ingestTick(spark: SparkSession, landingDir: String, checkpointDir: String,
                 storeDir: String, quarantineDir: String): Unit =
    Landing.listedOnDriver(spark, landingDir, storeDir) {
      Landing.drain(landingStream(spark, landingDir), checkpointDir) { (batch, _) =>
        Stages.release(Seq(ingestBatch(batch, storeDir, quarantineDir)))
      }
    }

  /** One CURATION tick — [[ingestTick]] plus the q107 O(delta) discipline
    * lifted to the product loop: the per-document heavy work (quality
    * rules, classifier, dedup hashes, shingle+minhash signatures, LSH
    * band keys, near-dup PAIR discovery) runs for THIS TICK'S new
    * documents only, against materialized state tables, and the results
    * append to that state. Survivor SELECTION is deferred to [[release]],
    * which runs transitive components over the accumulated pair state and
    * the corpus-global release stages — so a release after N ticks equals
    * a from-scratch [[CurationPipeline.run]] over the accumulated store
    * EXACTLY (the parity the spec pins), while each tick's cost is
    * O(delta · state-join), never a corpus recompute.
    *
    * Survivor-equivalence contract: ingest assigns monotonically
    * increasing doc_ids across ticks (re-deliveries are anti-joined
    * away), so "first arrival per duplicate group" — what the incremental
    * path keeps — coincides with the batch rule "min doc_id per group".
    *
    * State tables under `stateDir` (all append-only parquet):
    * `tickaudit` (per-tick stage counts), `hashes` (doc_id, th, nh for
    * every quality survivor — duplicate membership probes), `normdocs`
    * (the accumulated post-normalized-dedup docs), `sigs`/`bands`
    * (shingle signatures + LSH band keys of normdocs), `pairs`
    * (near-dup edges with exact Jaccard — grows only by edges incident
    * to new docs). Like [[ingestTick]], it lists on the driver when the
    * landing directory, the store and the state are all local. */
  def curationTick(spark: SparkSession, landingDir: String,
                   checkpointDir: String, storeDir: String,
                   quarantineDir: String, stateDir: String,
                   cfg: CurationPipeline.Config = CurationPipeline.Config()): Unit =
    Landing.listedOnDriver(spark, landingDir, storeDir, stateDir) {
      Landing.drain(landingStream(spark, landingDir), checkpointDir) { (batch, tick) =>
        val fresh = ingestBatch(batch, storeDir, quarantineDir)
        curateDelta(spark, fresh, stateDir, cfg, tick)
        Stages.release(Seq(fresh)) // tick done; drop its blocks
      }
    }

  /** Survivor selection + release stages over the accumulated state:
    * transitive near-dup components over the pair state
    * ([[graft.ops.NearDup.transitiveSurvivors]]), then the shared
    * [[CurationPipeline.releaseStages]] (scrub → PII → mixture). Returns
    * (curated, audit) in [[CurationPipeline.run]]'s exact shape; the
    * early audit rows are reconstructed from the per-tick sums. */
  def release(spark: SparkSession, storeDir: String, stateDir: String,
              cfg: CurationPipeline.Config = CurationPipeline.Config())
      : (DataFrame, DataFrame) = {
    import spark.implicits._
    val normDocs = spark.read.parquet(s"$stateDir/normdocs")
    val pairs = Landing.readIfExists(spark, s"$stateDir/pairs")
      .getOrElse(spark.emptyDataset[(Long, Long, Double)]
        .toDF("doc_a", "doc_b", "jaccard"))
    val near = NearDup
      .transitiveSurvivors(normDocs, col("doc_id"), pairs).cache()
    val outCols = spark.read.parquet(storeDir).columns.toSeq
    val (curated, tail, caches) =
      CurationPipeline.releaseStages(near, outCols, cfg)
    val sums = spark.read.parquet(s"$stateDir/tickaudit")
      .groupBy(col("stage")).agg(sum(col("n")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val audit = (Seq(
      ("input", sums.getOrElse("input", 0L)),
      ("quality_rules", sums.getOrElse("quality_rules", 0L)),
      ("quality_classifier", sums.getOrElse("quality_classifier", 0L)),
      ("exact_dedup", sums.getOrElse("exact_dedup", 0L)),
      ("normalized_dedup", normDocs.count()),
      ("near_dedup", near.count())) ++
      tail.map { case (stage, t) => (stage, t.docsAfter) })
      .toDF("stage", "docs_after")
    Stages.release(near +: caches)
    (curated, audit)
  }

  // ------------------------------------------------------------- internals

  private def landingStream(spark: SparkSession, landingDir: String): DataFrame =
    spark.readStream.schema(JsonlDocuments.parsedSchema)
      .options(JsonlDocuments.permissive).json(landingDir)

  /** Quarantine + idempotent store append for one micro-batch; returns
    * the FRESH clean docs (sealed — safe to reuse after return). */
  private def ingestBatch(batch0: DataFrame, storeDir: String,
                          quarantineDir: String): DataFrame = {
    val batch = Stages.seal(batch0, eager = true) // one pass feeds both sinks
    val (clean, bad) = JsonlDocuments.split(batch)
    if (!bad.isEmpty)
      bad.write.mode("append").json(quarantineDir)
    val fresh = Landing.appendNew(clean, storeDir, Seq("doc_id"), "source")
    Stages.release(Seq(batch))
    fresh
  }

  /** The O(delta) curation work for one tick's fresh docs (see
    * [[curationTick]]). Every join against state is a membership probe on
    * an id-or-hash-sized table; the per-document text work touches only
    * the delta. */
  private[corpus] def curateDelta(spark: SparkSession, fresh: DataFrame,
      stateDir: String, cfg: CurationPipeline.Config, tick: Long): Unit = {
    import spark.implicits._
    if (fresh.isEmpty) return

    val nIn = fresh.count()
    val (ruled, quality) = CurationPipeline.qualityStages(fresh, cfg)
    val nRuled = ruled.count()
    val nQual = quality.count()

    // dedup hashes for the delta; membership probes against prior state
    val hashes = quality.select(col("doc_id"),
        md5(col("text")).as("th"),
        expr(TextOps.hash60(TextOps.normalizeExpr("text"))).as("nh"))
      .transform(Stages.seal(_, eager = true))
    val prevHashes = Landing.readIfExists(spark, s"$stateDir/hashes")
    // the min doc_id per hash `h` among the rows whose `h` no prior tick saw
    def firstNew(rows: DataFrame, h: String): DataFrame =
      prevHashes.fold(rows)(Landing.newKeysOnly(rows, _, Seq(h)))
        .groupBy(col(h)).agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    // exact: drop texts already in the corpus, keep min id per text in-delta
    val exactHashes = hashes.join(firstNew(hashes, "th"), Seq("doc_id"), "left_semi")
    val nExact = exactHashes.count()
    // normalized: same discipline on the normalization hash. Probing ALL
    // prior quality hashes (not just prior survivors) is sound: an exact
    // duplicate has the identical text, hence the identical nh, so the
    // nh SETS coincide.
    val normDocs = quality.join(firstNew(exactHashes, "nh"), Seq("doc_id"), "left_semi")
      .transform(Stages.seal(_, eager = true))

    // near-dup discovery: delta signatures + band keys vs state ∪ delta —
    // every new edge is incident to a new doc, so the accumulated pair
    // table is exactly the batch pair set over the accumulated survivors
    val hashed = NearDup.shingleHashed(normDocs, "doc_id", "text")
      .transform(Stages.seal(_, eager = true))
    val newBands = NearDup.bandSignatures(hashed)
      .transform(Stages.seal(_, eager = true))
    val allBands = Landing.readIfExists(spark, s"$stateDir/bands")
      .fold(newBands)(_.unionByName(newBands))
    val allSigs = Landing.readIfExists(spark, s"$stateDir/sigs")
      .fold(hashed)(_.unionByName(hashed))
    val cand = newBands.as("x").join(allBands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
      .distinct()
    val newPairs0 = NearDup.jaccardScored(cand, allSigs, "doc_a", "doc_b")
      .filter(col("jaccard") >= cfg.jaccardThreshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    // the q127 confirm (when configured) runs on the SAME pair set the
    // batch pipeline would test — texts come from prior normdocs state
    // plus this delta, and every new edge is incident to a delta doc —
    // so the accumulated pair state stays batch-identical. The docs
    // param is BY-NAME: with the knob off, the state read + union never
    // evaluates (and a state dir written before a wire-schema column
    // was added still resumes — allowMissingColumns admits old parquet
    // with typed nulls; the confirm only reads doc_id/text)
    val newPairs = CurationPipeline.confirmPairs(newPairs0,
      Landing.readIfExists(spark, s"$stateDir/normdocs")
        .fold(normDocs)(_.unionByName(normDocs, allowMissingColumns = true)),
      cfg)

    // append the tick's state (pairs written even when empty so the
    // state dir exists from the first curation tick on)
    hashes.write.mode("append").parquet(s"$stateDir/hashes")
    normDocs.write.mode("append").parquet(s"$stateDir/normdocs")
    hashed.write.mode("append").parquet(s"$stateDir/sigs")
    newBands.write.mode("append").parquet(s"$stateDir/bands")
    newPairs.write.mode("append").parquet(s"$stateDir/pairs")
    Seq(("input", nIn), ("quality_rules", nRuled),
      ("quality_classifier", nQual), ("exact_dedup", nExact))
      .map { case (st, n) => (tick, st, n) }
      .toDF("tick", "stage", "n")
      .write.mode("append").parquet(s"$stateDir/tickaudit")
    // the tick's frames are all fully written to state by now — release
    // their blocks instead of leaving them to ContextCleaner (ticks in
    // one session otherwise accumulate checkpoint blocks)
    Stages.release(Seq(ruled, quality, hashes, normDocs, hashed,
      newBands))
  }
}
