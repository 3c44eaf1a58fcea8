package graft.corpus

import scala.collection.immutable.ListMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{CurationDedup, Inference, Mixture, NearDup, TextOps}

/** The corpus-curation product loop — what `codstats.Pipeline` is for the
  * match-stats product, this is for the training-data product: one call
  * takes a raw document table through the standard curation ladder and
  * returns the curated corpus plus the per-stage audit every data team
  * publishes next to a dataset release.
  *
  * Stages (each delegating to its individually oracle-verified operator):
  *   1. quality    — per-row rules: min tokens, max duplicate-token
  *                   fraction (q59 arithmetic), then the batched
  *                   classifier score ([[graft.ops.Inference]], q69)
  *   2. exact      — one survivor per identical text (md5 groupBy, q26)
  *   3. normalize  — one survivor per NFC+casefold+whitespace-normalized
  *                   text ([[graft.ops.CurationDedup.normalizedSurvivors]],
  *                   q74): catches case/spacing/accent variants exact
  *                   dedup misses
  *   4. neardup    — MinHash+LSH pairs → TRANSITIVE survivors
  *                   ([[graft.ops.NearDup]], q27/q51); docs shorter than
  *                   the shingle minimum (13 chars) pass through unpaired;
  *                   [[Config.editDistanceMax]] adds q127's bounded
  *                   edit-distance confirm before any pair counts
  *   4b. domain cap — registered-domain canonicalization
  *                   ([[graft.ops.UrlOps]], q200) + per-domain survivor
  *                   cap by content-hash rank, when
  *                   [[Config.domainCap]] is set and the corpus carries
  *                   a URL column
  *   5a. line dedup — corpus-wide line-grain dedup
  *                   ([[graft.ops.LineDedup]], q202): over-duplicated
  *                   lines keep only their globally-first occurrence,
  *                   docs reassemble in order, when
  *                   [[Config.lineDedupMaxCount]] is set
  *   5. scrub      — exact-substring dedup removal pass
  *                   ([[graft.ops.CurationDedup.scrubbed]], q79): token
  *                   runs covered by a corpus-duplicated 8-gram drop,
  *                   and docs scrubbed below `minToks` drop entirely
  *   6. pii        — email/IPv4 redaction to fixed placeholder tags
  *                   ([[graft.ops.PiiRedact]], q60); never drops a doc
  *   7. mixture    — per-source keep rate, deterministic hash-bucket
  *                   sampling: token-budget policy (q63) by default, or
  *                   temperature-scaled ∝ mass^α (q89) via
  *                   [[Config.temperatureAlpha]]
  *   8. split      — leakage-aware train/val/test assignment (q208's
  *                   rule, domain-keyed when a URL column exists), when
  *                   [[Config.assignSplit]] is set; drops nothing
  *
  * Stage order: document-level dedups run cheapest-first (exact, then
  * normalized — same shuffle key discipline, raw hash cheaper than NFC
  * — then banded near-dup over the smallest survivor set). The
  * exact-substring scrub runs AFTER document-level dedup, deliberately:
  * it removes ALL copies of a duplicated gram run (q79's verified
  * all-copies semantics), so running it first would mutually annihilate
  * byte-identical or near-dup docs — every one of their grams is
  * corpus-duplicated — destroying content the dedups exist to keep one
  * copy of. After dedup, a still-duplicated 8-gram across the distinct
  * survivors is genuine cross-doc boilerplate, exactly what the removal
  * pass is for (the published composite-pipeline order: fuzzy
  * document dedup first, then exact-substring removal). The mixture
  * budget then counts post-scrub tokens — the tokens a training run
  * would actually see.
  *
  * The audit is O(stages) driver-side counts — each stage is cached
  * before counting so the lineage executes once, and every count is an
  * action the caller would otherwise pay in a separate metrics job.
  * At 100 TB each stage is the operator's own documented shape: the
  * quality/classifier stages are map-side, exact dedup shuffles once on
  * the text hash, near-dup shuffles on LSH band keys, and the mixture
  * stage broadcasts a per-source rate dim.
  */
object CurationPipeline {

  case class Config(
      minToks: Int = 10,
      maxDupTokFrac: Double = 0.6,
      minScore: Double = 0.5,
      scrubGramK: Int = 8,
      scrubMinCount: Int = 2,
      jaccardThreshold: Double = 0.5,
      budgetToksPerSource: Long = 800L,
      batchSize: Int = 64,
      // Some(k) enables the domain-level curation stage (the CCNet /
      // RefinedWeb / Dolma URL stage): docs whose `urlCol` canonicalizes
      // to the same REGISTERED domain ([[graft.ops.UrlOps]]) are capped
      // at k survivors, chosen by content-hash rank (q78's discipline —
      // deterministic on any engine/cluster/arrival order). Docs with no
      // parseable URL are never capped. No-op when the input has no
      // `urlCol` column.
      domainCap: Option[Long] = None,
      urlCol: String = "url",
      // bounded edit-distance confirm for the near-dup stage (q127's
      // precision pass): Some(k) keeps a candidate pair a duplicate only
      // if Levenshtein(a, b) <= k — high-Jaccard bag-of-shingles look-
      // alikes with many small real edits stop collapsing. None keeps
      // the Jaccard-only gate.
      editDistanceMax: Option[Int] = None,
      // Some(k) enables the corpus-wide LINE-grain dedup release stage
      // (the RefinedWeb/Dolma pass; [[graft.ops.LineDedup]], q202): a
      // line occurring more than k times across the corpus keeps only
      // its globally-first occurrence — recurring navigation chrome /
      // cookie banners / license boilerplate drop from every doc IN
      // PLACE, each doc reassembling from its surviving lines in order.
      // Docs whose surviving text falls below `minToks` drop entirely.
      // `lineDedupSep` picks the grain: "\n" = line (default), "\n\n" =
      // paragraph (the Dolma dedupe grain).
      lineDedupMaxCount: Option[Long] = None,
      lineDedupSep: String = "\n",
      // Some(α) switches the mixture stage from the fixed token budget
      // to temperature-scaled rates ∝ mass^α (q89's policy): flatten
      // source imbalance rather than cap each source — the knob a
      // pretraining mix uses when small sources should survive
      temperatureAlpha: Option[Double] = None,
      // true appends a `split` column (train/val/test, 80/10/10) to the
      // release — the q208 leakage-aware rule: the assignment hashes the
      // REGISTERED DOMAIN (PSL extraction) when the corpus carries
      // `urlCol`, so a publisher's pages move as one unit (the standard
      // leakage control — same-site pages correlate even below the
      // near-dup threshold the dedup stages already collapse); docs with
      // no parseable URL (or a url-less corpus) key on their own doc_id.
      // Pure per-row hash arithmetic — the incremental release replays
      // it bit-identically by construction.
      assignSplit: Boolean = false)

  /** A stage's row in a run's ledger: wall seconds of its count — each
    * stage is cached or sealed and counted in pipeline order, so the
    * count IS the stage's incremental cost on top of its materialized
    * predecessors — and the docs surviving it (-1 for a construction
    * phase or a skipped stage, never a real count). */
  final case class StageTime(sec: Double, docsAfter: Long)

  private def timed(stage: String)(count: => Long): (String, StageTime) = {
    val t0 = System.nanoTime(); val n = count
    stage -> StageTime((System.nanoTime() - t0) / 1e9, n)
  }

  /** @return (curated corpus, audit of (stage, docs_after)) */
  def run(docs: DataFrame, cfg: Config = Config()): (DataFrame, DataFrame) = {
    val (curated, audit, _) = runWithLedger(docs, cfg)
    (curated, audit)
  }

  /** [[run]] plus its stage ledger, in pipeline order: every audit stage
    * with its seconds, and the near-dup fixpoint's construction row
    * (`near_dedup_fixpoint`, docs_after = -1) before `near_dedup`. */
  def runWithLedger(docs: DataFrame, cfg: Config = Config())
      : (DataFrame, DataFrame, ListMap[String, StageTime]) = {
    val spark = docs.sparkSession
    import spark.implicits._

    val (ruled, quality) = qualityStages(docs, cfg)

    // 2. exact dedup: min doc_id per identical text
    val firstPerText = quality.groupBy(md5(col("text")).as("th"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val exact = quality.join(firstPerText, Seq("doc_id"), "left_semi").cache()

    // 3. normalization-aware dedup: case/spacing/accent variants collapse
    val norm = CurationDedup.normalizedSurvivors(exact, "doc_id", "text")
      .cache()

    // 4. transitive near-dup survivors over LSH pairs (shingleHashed's
    // contract: the caller caches — pairs() references the hashed frame
    // four times, and the shingle hashing is the dominant per-row cost).
    // With cfg.editDistanceMax set, candidates additionally pass the
    // bounded edit-distance confirm (q127's precision stage) before any
    // doc is declared a duplicate.
    // Stages 1–3 are counted in PIPELINE order FIRST — the near-dup
    // fixpoint below runs eager jobs and would otherwise pay for (and be
    // charged with) them; their counts are the audit's.
    val upstream = Seq(
      timed("input")(docs.count()),
      timed("quality_rules")(ruled.count()),
      timed("quality_classifier")(quality.count()),
      timed("exact_dedup")(exact.count()),
      timed("normalized_dedup")(norm.count()))

    val hashed = NearDup.shingleHashed(norm, "doc_id", "text").cache()
    val pairs = confirmPairs(NearDup.pairs(hashed, cfg.jaccardThreshold),
      norm, cfg)
    // STAGE-BOUNDARY LINEAGE TRUNCATION (ops/Stages — its scaladoc
    // carries the measured driver-overhead defect class this guards
    // against: 33-50 s per action at 12 stages of depth, scale-
    // independent). Lazy seal: materialization lands on the stage's own
    // first action. Sealed frames release deterministically through
    // Stages.release below; recompute after release is impossible
    // (truncated lineage) — callers that need recomputability hold the
    // INPUT, not the stage frames.
    // transitiveSurvivors runs the Components fixpoint EAGERLY (driver-
    // round jobs), pulling the shingle/LSH/confirm chain with it — that
    // work is attributed to its own ledger row (docs_after = -1: a
    // construction phase, not a survivor count; near_dedup's own row
    // then carries just the survivor-set materialization)
    val tFix = System.nanoTime()
    val nearRaw = NearDup.transitiveSurvivors(norm, col("doc_id"), pairs)
    val fixpoint = "near_dedup_fixpoint" ->
      StageTime((System.nanoTime() - tFix) / 1e9, -1L)
    val near = graft.ops.Stages.seal(nearRaw)

    val nearRow = timed("near_dedup")(near.count())
    val (curated, tail, releaseCaches) = releaseStages(near, docs.columns, cfg)

    // each stage's count drove its one materialization; the
    // intermediates are then released — only `curated` stays
    // materialized for the caller (it is a SEALED frame: release it via
    // Stages.release when done; Dataset.unpersist is a no-op on it)
    val ledger = ListMap.from(upstream ++ Seq(fixpoint, nearRow) ++ tail)
    val audit = (upstream ++ Seq(nearRow) ++ tail)
      .map { case (stage, t) => (stage, t.docsAfter) }
      .toDF("stage", "docs_after")
    graft.ops.Stages.release(Seq(ruled, quality, exact, norm, hashed, near) ++
      releaseCaches)
    (curated, audit, ledger)
  }

  /** Stages 1a+1b — per-row work, safe to run on a DELTA in isolation
    * (no corpus-global state enters the decision). Returns both frames
    * cached; the caller counts and unpersists. */
  private[corpus] def qualityStages(docs: DataFrame,
                                    cfg: Config): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = TextOps.tokensExpr("text")
    // 1a. rule-based quality (per-row, map-side)
    val ruled = docs
      .withColumn("n_toks", expr(s"CAST(size($toks) AS BIGINT)"))
      .withColumn("dup_frac",
        expr(s"CAST(n_toks - size(array_distinct($toks)) AS DOUBLE) / n_toks"))
      .filter(col("n_toks") >= cfg.minToks && col("dup_frac") <= cfg.maxDupTokFrac)
      .drop("n_toks", "dup_frac")
      .cache()
    // 1b. classifier gate (batched inference, map-side)
    val keepIds = Inference.scoreBatched(
        ruled.select(col("doc_id"), col("text")).as[Inference.DocIn],
        cfg.batchSize, Inference.stubModel)
      .filter(col("score") >= cfg.minScore).select("doc_id")
    val quality = ruled.join(keepIds, Seq("doc_id"), "left_semi").cache()
    (ruled, quality)
  }

  /** The q127 precision stage as a pair filter: with
    * `cfg.editDistanceMax = Some(k)`, a candidate pair survives only if
    * the bounded Levenshtein distance between the two texts is <= k —
    * high-Jaccard bag-of-shingles look-alikes with many small distinct
    * edits (the boilerplate-variant failure mode) stop collapsing into
    * one survivor. The confirm mechanics (length prefilter, bounded-DP
    * parallelism fence) are [[graft.ops.NearDup.confirmEditDistance]] —
    * q127's shape, shared so the pipeline inherits its plan fixes.
    * Shared by the batch run and the incremental tick so the pair state
    * stays batch-identical. `docs` is BY-NAME so a caller's possibly-costly
    * text source (the incremental path unions normdocs state) is never
    * even constructed when the knob is off. */
  private[corpus] def confirmPairs(pairs: DataFrame, docs: => DataFrame,
      cfg: Config): DataFrame = cfg.editDistanceMax match {
    case Some(k) =>
      graft.ops.NearDup.confirmEditDistance(pairs, docs, k,
          graft.Tables.shufflePartitions(pairs.sparkSession))
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
    case None => pairs
  }

  /** Stages 4b–7 from the near-dup survivor set — the corpus-global
    * RELEASE stages (the domain cap ranks within whole-corpus domains,
    * scrub counts grams across the whole survivor set, mixture rates
    * are corpus totals), shared verbatim by the batch run and the
    * incremental loop's release
    * ([[StreamingCuration.release]]). Returns (curated, ledger tail,
    * caches for the caller to unpersist after counting). */
  private[corpus] def releaseStages(near: DataFrame, outCols: Seq[String],
      cfg: Config): (DataFrame, Seq[(String, StageTime)], Seq[DataFrame]) = {
    // The release stages' token COUNT is a whitespace-class word count,
    // not the space-only split: after the line-dedup stage reassembles a
    // multi-line doc, every kept line boundary is a '\n' between words —
    // a space-only split would fuse the two adjacent words into one
    // token and systematically undercount exactly the corpora the line
    // stage exists for (dropping floor-meeting docs at minToks, and
    // underfunding them in the mixture budget). For single-spaced
    // single-line text the two counts are identical.
    val nToks = "size(split(trim(text), '\\\\s+'))"

    // 4b. domain-level cap (the CCNet/RefinedWeb/Dolma URL stage): docs
    // sharing a registered domain (public-suffix-list extraction,
    // [[graft.ops.Psl]] — `user1.github.io`/`user2.github.io` stay
    // DISTINCT publishers, `a.co.uk`/`b.co.uk` distinct registrants)
    // keep at most cfg.domainCap survivors, chosen by CONTENT-hash rank
    // (q78's discipline — deterministic under any arrival order),
    // tie-broken by doc_id. Docs with no parseable URL are never capped.
    // One window shuffle partitioned by domain; the canonicalization is
    // per-row work + 4 broadcast joins against the KiB rule table.
    val (afterCap, capTail, capCaches) = cfg.domainCap match {
      case Some(cap) if near.columns.contains(cfg.urlCol) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("_domain"))
          .orderBy(col("_h"), col("doc_id"))
        val withDom =
          graft.ops.Psl.withRegisteredDomain(near, cfg.urlCol, "_domain")
        // cap-exempt docs (null/unparseable URL) NEVER enter the window:
        // on a mostly-url-less corpus they would all share the one ''
        // partition and a single task would sort nearly the whole
        // survivor set — the exempt rows bypass, the window shuffles
        // only genuinely-domained docs
        val exempt = withDom.filter(col("_domain") === "").drop("_domain")
        val ranked = withDom.filter(col("_domain") =!= "")
          .withColumn("_h", expr(TextOps.hash60("text")))
          .withColumn("_rk", row_number().over(w))
          .filter(col("_rk") <= cap)
          .drop("_domain", "_h", "_rk")
        // stage-boundary truncation (see the near-dup checkpoint note)
        val capped = graft.ops.Stages.seal(ranked.unionByName(exempt))
        (capped, Seq(timed("domain_cap")(capped.count())), Seq(capped))
      // domainCap configured but the corpus has no `urlCol` column (absent
      // or misspelled): a silently-skipped stage would ship a release the
      // operator believes is capped, uncapped, with no signal. The audit
      // carries an explicit -1 sentinel row (never a real docs_after
      // count) so the miss is visible in the release audit itself.
      case Some(_) =>
        System.err.println(s"[curation] domainCap is set but column " +
          s"'${cfg.urlCol}' is absent — domain-cap stage SKIPPED")
        (near, Seq("domain_cap" -> StageTime(0.0, -1L)), Seq.empty[DataFrame])
      case None => (near, Seq.empty[(String, StageTime)], Seq.empty[DataFrame])
    }
    // 5a. corpus-wide line-grain dedup (q202's pass): a line recurring
    // beyond cfg.lineDedupMaxCount keeps only its globally-first
    // occurrence (min (doc_id, pos) — deterministic under any arrival
    // order, so the incremental release replays it identically) and each
    // doc reassembles in order. Runs BEFORE the 8-gram scrub — published
    // composite order, and dropping whole duplicated lines first keeps
    // their grams out of the scrub's corpus counts. Docs reduced below
    // the quality floor drop, same rule as the scrub below.
    val (afterLines, lineTail, lineCaches) = cfg.lineDedupMaxCount match {
      case Some(k) =>
        val deduped = graft.ops.Stages.seal(graft.ops.LineDedup
          .dedupLines(afterCap, "doc_id", "text", k, cfg.lineDedupSep)
          .filter(col("text") =!= "" && expr(nToks) >= cfg.minToks)
          .drop("n_lines", "n_kept_lines"))
        (deduped, Seq(timed("line_dedup")(deduped.count())), Seq(deduped))
      case None => (afterCap, Seq.empty[(String, StageTime)], Seq.empty[DataFrame])
    }
    // 5. exact-substring scrub over the dedup survivors: residual
    // corpus-duplicated 8-gram runs are cross-doc boilerplate — drop the
    // covered tokens; docs scrubbed below the quality floor drop
    // entirely (a doc that was pure boilerplate has nothing left to
    // train on)
    val gramHashed = CurationDedup.gramHashed(
      afterLines, "text", cfg.scrubGramK).cache()
    // the explicit text != '' guard matters at minToks = 1: splitting an
    // empty string yields ONE empty token, so a fully-scrubbed doc would
    // otherwise pass the size() floor with a phantom token
    val scrub = CurationDedup.scrubbed(gramHashed, "doc_id", "text",
        cfg.scrubGramK, cfg.scrubMinCount)
      .filter(col("text") =!= "" && expr(nToks) >= cfg.minToks)
      .drop("n_toks_orig", "n_removed_toks")
      .cache()

    // 6. PII redaction (q60's pass via graft.ops.PiiRedact, map-side).
    // AFTER the scrub, deliberately: redaction placeholders are identical
    // across documents, so redacting first could mint new duplicated
    // 8-grams out of distinct PII contexts and make the scrub eat the
    // genuine text around them. Counts never drop here — the audit row
    // pins that invariant.
    val redacted = graft.ops.Stages.seal(scrub
      .withColumn("text", graft.ops.PiiRedact.redact(col("text"))))

    // 7. mixture over post-scrub token counts — the tokens a training
    // run would see; policy: fixed token budget (q63) by default, or
    // temperature-scaled rates (q89) when cfg.temperatureAlpha is set
    val withToks = redacted.withColumn("n_toks", expr(s"CAST($nToks AS BIGINT)"))
    val mixed = (cfg.temperatureAlpha match {
      case Some(a) =>
        val rates = Mixture.temperatureRates(withToks, "source", "n_toks", a)
        Mixture.sampleAtRates(withToks, "source", rates,
          rateCol = "rate_pm10k", scale = Mixture.TemperatureScale)
      case None =>
        val rates = Mixture.tokenBudgetRates(withToks, "source", "n_toks",
          cfg.budgetToksPerSource)
        Mixture.sampleAtRates(withToks, "source", rates)
    }).select(outCols.map(col): _*) // input column order, untouched

    // 8. leakage-aware split assignment (q208's rule): hash the registered
    // domain when a URL is present — a publisher's pages land in ONE split
    // — else the doc's own id; thresholds are q44's 80/10/10. Per-row
    // arithmetic (the PSL join is 4 broadcast lookups), drops nothing —
    // the audit row pins that invariant like pii_redact's does.
    val curated0 = (if (!cfg.assignSplit) mixed else {
      require(!mixed.columns.contains("split"),
        "assignSplit reserves output column 'split'; rename or drop the input's")
      val keyed =
        if (mixed.columns.contains(cfg.urlCol))
          graft.ops.Psl.withRegisteredDomain(mixed, cfg.urlCol, "_sdom")
            .withColumn("_skey",
              when(col("_sdom") === "", col("doc_id").cast("string"))
                .otherwise(col("_sdom")))
            .drop("_sdom")
        else {
          // urlCol absent (or misspelled): the split degrades to per-doc
          // hashing — the leakage-prone assignment this stage exists to
          // avoid — so say so the same two ways domainCap does: stderr for
          // the operator, a distinguishable audit stage name for the
          // release audit (split_assign_dockeyed instead of split_assign).
          System.err.println(s"[curation] assignSplit is set but column " +
            s"'${cfg.urlCol}' is absent — split falls back to per-doc keys " +
            "(NOT leakage-safe across a publisher's pages)")
          mixed.withColumn("_skey", col("doc_id").cast("string"))
        }
      val b = TextOps.docBucketExpr("_skey")
      keyed.withColumn("split", expr(
          s"CASE WHEN $b < 80 THEN 'train' WHEN $b < 90 THEN 'val' " +
          "ELSE 'test' END"))
        .drop("_skey")
      // the frame consumers hammer: sealed so every later action
      // analyzes a LogicalRDD, not the full 12-stage tree
    })
    val curated = graft.ops.Stages.seal(curated0)

    // pre-split tail FIRST: textually splitTail ran before these, so
    // its curated.count() paid for scrub+redact+mixture and the stage
    // ledger misattributed; counting in pipeline order keeps each
    // stage's incremental cost on its own row (audit rows unchanged —
    // every later count is a cache hit). mixture_sample counts the
    // final cached frame, so its row carries mixture AND split work;
    // split_assign's row is then the cache-hit ~0 (documented in
    // PIPELINE_BENCH.json's consumers).
    val preSplitTail = capTail ++ lineTail ++ Seq(
      timed("substring_scrub")(scrub.count()),
      timed("pii_redact")(redacted.count()),
      timed("mixture_sample")(curated.count()))
    val splitTail =
      if (cfg.assignSplit) {
        val stage = if (mixed.columns.contains(cfg.urlCol)) "split_assign"
          else "split_assign_dockeyed" // visible misconfiguration marker
        Seq(timed(stage)(curated.count()))
      } else Seq.empty[(String, StageTime)]
    val tail = preSplitTail ++ splitTail
    (curated, tail,
      capCaches ++ lineCaches ++ Seq(gramHashed, scrub, redacted))
  }

  /** Materialize a curation run the way a dataset release ships: the
    * curated corpus as source-partitioned JSONL (the same interchange
    * format [[graft.sources.JsonlDocuments]] reads — a downstream consumer
    * round-trips through the hardened reader) plus the audit document
    * alongside. Source partitioning keeps per-source consumers pruning at
    * the directory level; the audit is O(stages) rows → one file.
    *
    * `shards = Some(k)` additionally deals each source's docs into k
    * near-equal-byte shards ([[graft.ops.ShardPlan]] — the snake packing
    * q105 oracle-verifies) and partitions the layout by (source, shard):
    * the release shape a downstream loader reads shard-parallel with
    * balanced task sizes instead of one skewed file per source. */
  def write(curated: DataFrame, audit: DataFrame, outDir: String,
            shards: Option[Int] = None): Unit = {
    shards match {
      case Some(k) =>
        val sized = curated.withColumn("_mass", length(col("text")).cast("long"))
        graft.ops.ShardPlan.assign(sized, "_mass", "doc_id", Seq("source"), k)
          .drop("_mass")
          .write.mode("overwrite").partitionBy("source", "shard")
          .json(s"$outDir/corpus")
      case None =>
        curated.write.mode("overwrite").partitionBy("source").json(s"$outDir/corpus")
    }
    audit.coalesce(1).write.mode("overwrite").json(s"$outDir/audit")
  }
}
