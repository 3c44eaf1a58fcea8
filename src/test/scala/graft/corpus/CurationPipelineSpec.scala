package graft.corpus

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** End-to-end curation ladder on a corpus planted so every stage drops
  * exactly one known set: rules → classifier → exact dedup → normalized
  * dedup → transitive near-dedup → exact-substring scrub → PII redaction
  * (rewrites, never drops) → mixture. */
class CurationPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val chainBase = "alpha beta gamma delta epsilon zeta eta theta iota " +
    "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
  // shared 8-token boilerplate: exactly one duplicated 8-gram per carrier
  private val boiler = "subscribe to our newsletter for updates and offers"
  private val unique9 = (1 to 12).map(i => s"story$i").mkString(" ")
  private val unique10 = (1 to 12).map(i => s"report$i").mkString(" ")

  test("each stage drops its planted set; audit counts the ladder") {
    val docs = Seq(
      (1L, "one two three four five six seven eight nine ten eleven twelve"),
      (2L, "one two three four five six seven eight nine ten eleven twelve"),
      (3L, chainBase),                    // near-dup component {3,4,5}:
      (4L, chainBase + " phi"),           //   transitive survivor = 3
      (5L, chainBase + " phi chi"),
      (6L, "a a a a"),                    // passes rules (dup 0.75 <= 0.9),
                                          //   classifier score 0.5 < 1.0
      (7L, "x y"),                        // under min tokens
      (8L, "ONE two three four five six  seven eight nine ten eleven twelve"),
                                          // case+spacing variant of doc 1 —
                                          //   only NORMALIZED dedup sees it
      (9L, s"$unique9 $boiler"),          // boilerplate carriers {9,10,11}:
      (10L, s"$unique10 $boiler"),        //   scrub strips the shared 8-gram
      (11L, boiler),                      //   pure boilerplate → scrubbed empty
      (12L, "contact ada@example.org or ping 10.0.0.1 about delivery " +
        "windows tonight"))               // PII carrier — survives, redacted
      .map { case (id, t) => (id, t, "en", s"s${id % 2}", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

    val (curated, audit) = CurationPipeline.run(docs, CurationPipeline.Config(
      minToks = 3, maxDupTokFrac = 0.9, minScore = 1.0,
      jaccardThreshold = 0.5, budgetToksPerSource = 1000000L))

    assert(curated.select("doc_id").as[Long].collect().toSet ==
      Set(1L, 3L, 9L, 10L, 12L))
    val got = audit.as[(String, Long)].collect().toMap
    assert(got == Map(
      "input" -> 12L, "quality_rules" -> 11L, "quality_classifier" -> 10L,
      "exact_dedup" -> 9L, "normalized_dedup" -> 8L, "near_dedup" -> 6L,
      "substring_scrub" -> 5L, "pii_redact" -> 5L, "mixture_sample" -> 5L))
    // the carriers survive with the boilerplate run scrubbed out
    val texts = curated.filter(col("doc_id").isin(9L, 10L, 12L))
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(texts(9L) == unique9 && texts(10L) == unique10)
    // the PII carrier survives with its email and IP masked
    assert(texts(12L) == "contact <EMAIL> or ping <IP> about delivery " +
      "windows tonight")
    // schema passes through curation untouched, in the input column order
    assert(curated.columns.toSeq ==
      Seq("doc_id", "text", "lang", "source", "n_chars"))
  }

  test("write: the released corpus round-trips through the hardened JSONL reader") {
    val docs = Seq(
      (1L, "one two three four five six seven eight nine ten", "en", "s0", 0L),
      (2L, "uno dos tres cuatro cinco seis siete ocho nueve diez", "es", "s1", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val (curated, audit) = CurationPipeline.run(docs, CurationPipeline.Config(
      minToks = 1, maxDupTokFrac = 1.0, minScore = 0.0,
      budgetToksPerSource = 1000000L))
    val out = java.nio.file.Files.createTempDirectory("graft_release").toString
    CurationPipeline.write(curated, audit, out)
    // source-partitioned tree, readable back through the hardened source
    val (clean, quarantined) = graft.sources.JsonlDocuments.read(
      spark, s"$out/corpus")
    assert(clean.count() == 2L && quarantined.count() == 0L)
    assert(spark.read.json(s"$out/audit")
      .filter(col("stage") === "mixture_sample")
      .select("docs_after").as[Long].head() == 2L)
  }

  test("write with shards: balanced (source, shard) layout, still readable") {
    // 4 docs per source, snake-dealt into 2 shards per source; every
    // doc survives (permissive config) so each source splits 2/2.
    val docs = (1L to 8L).map { i =>
      val words = (1 to (4 + i.toInt)).map(w => s"w${i}_$w").mkString(" ")
      (i, words, "en", s"s${i % 2}", 0L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val (curated, audit) = CurationPipeline.run(docs, CurationPipeline.Config(
      minToks = 1, maxDupTokFrac = 1.0, minScore = 0.0,
      budgetToksPerSource = 1000000L))
    val out = java.nio.file.Files.createTempDirectory("graft_release").toString
    CurationPipeline.write(curated, audit, out, shards = Some(2))
    val dirs = new java.io.File(s"$out/corpus").listFiles()
      .filter(_.isDirectory).flatMap(src =>
        src.listFiles().filter(_.isDirectory).map(sh => s"${src.getName}/${sh.getName}"))
      .toSet
    assert(dirs == Set("source=s0/shard=0", "source=s0/shard=1",
      "source=s1/shard=0", "source=s1/shard=1"))
    // each (source, shard) leaf holds exactly 2 of that source's 4 docs
    val back = spark.read.json(s"$out/corpus")
    assert(back.count() == 8L)
    assert(back.groupBy("source", "shard").count()
      .select("count").as[Long].collect().toSeq.forall(_ == 2L))
  }

  test("the mixture stage downsamples against the token budget") {
    val docs = (1L to 200L).map(i =>
      (i, (1 to 20).map(j => s"w${i}_$j").mkString(" "), "en", "s0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val (curated, audit) = CurationPipeline.run(docs, CurationPipeline.Config(
      minToks = 1, maxDupTokFrac = 1.0, minScore = 0.0,
      budgetToksPerSource = 400L)) // 4000 corpus tokens → 10% rate
    val n = curated.count()
    val got = audit.as[(String, Long)].collect().toMap
    assert(got("near_dedup") == 200L && got("mixture_sample") == n)
    assert(n > 0L && n < 50L, s"10% hash-bucket rate should keep few docs, got $n")
  }

  test("a doc scrubbed to nothing drops even at minToks = 1") {
    // splitting an empty string yields ONE empty token, so without the
    // explicit text-nonempty guard the fully-scrubbed doc 1 would pass a
    // size() >= 1 floor on its phantom token
    val docs = Seq(
      (1L, boiler, "en", "s0", 0L),                    // pure boilerplate
      (2L, unique9 + " " + boiler, "en", "s0", 0L),    // carrier
      (3L, unique10, "en", "s0", 0L))                  // untouched
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val (curated, _) = CurationPipeline.run(docs, CurationPipeline.Config(
      minToks = 1, maxDupTokFrac = 1.0, minScore = 0.0,
      budgetToksPerSource = 10000L))
    val ids = curated.select("doc_id").as[Long].collect().toSet
    assert(!ids.contains(1L), "fully-scrubbed doc must drop at minToks = 1")
    assert(ids.contains(2L) && ids.contains(3L))
  }

  test("domain cap: one registered domain keeps cap survivors, chosen " +
      "by content hash, independent of arrival order") {
    // five hosts that all canonicalize to example.com (subdomains, www,
    // case, port) + one other domain + one null URL (never capped)
    def doc(id: Long, url: String) =
      (id, (1 to 12).map(j => s"tok${id}_$j").mkString(" "), "en", "s0", 0L,
        url)
    val docs = Seq(
      doc(1L, "https://cdn.assets.example.com/a"),
      doc(2L, "https://www.example.com/b"),
      doc(3L, "https://Media.Example.COM/c"),
      doc(4L, "https://example.com:8443/d"),
      doc(5L, "https://shop.example.com/e?q=1"),
      doc(6L, "https://docs.python.org/3/"),
      (7L, (1 to 12).map(j => s"tok7_$j").mkString(" "), "en", "s0", 0L,
        null.asInstanceOf[String]))
      .toDF("doc_id", "text", "lang", "source", "n_chars", "url")
    val cfg = CurationPipeline.Config(minToks = 1, maxDupTokFrac = 1.0,
      minScore = 0.0, budgetToksPerSource = 1000000L, domainCap = Some(2L))

    val (curated, audit) = CurationPipeline.run(docs, cfg)
    val kept = curated.select("doc_id").as[Long].collect().toSet
    val exampleKept = kept.intersect(Set(1L, 2L, 3L, 4L, 5L))
    assert(exampleKept.size == 2,
      s"example.com must keep exactly cap=2 docs, kept $exampleKept")
    assert(kept.contains(6L), "the other domain is under its cap")
    assert(kept.contains(7L), "a null URL is never capped")
    assert(audit.as[(String, Long)].collect().toMap.apply("domain_cap") == 4L)
    // determinism: reversed arrival order selects the SAME survivors
    // (content-hash rank, not first-arrival)
    val (curated2, _) = CurationPipeline.run(
      docs.orderBy(col("doc_id").desc).coalesce(1), cfg)
    assert(curated2.select("doc_id").as[Long].collect().toSet == kept)
    // without the knob the audit carries no domain_cap row and nothing
    // is capped
    val (curatedOff, auditOff) = CurationPipeline.run(docs,
      cfg.copy(domainCap = None))
    assert(curatedOff.count() == 7L)
    assert(!auditOff.as[(String, Long)].collect().toMap.contains("domain_cap"))
  }

  test("edit-distance confirm rejects the sentence-swap pair that " +
      "Jaccard alone collapses") {
    // A and B are the SAME two long sentences in swapped order: the
    // shingle bags nearly coincide (high Jaccard -> LSH candidate +
    // Jaccard pass) but the character-level distance is huge — the
    // boilerplate-variant failure mode q127 exists for
    val s1 = (1 to 30).map(j => s"alpha$j").mkString(" ")
    val s2 = (1 to 30).map(j => s"omega$j").mkString(" ")
    val docs = Seq(
      (1L, s"$s1 $s2", "en", "s0", 0L),
      (2L, s"$s2 $s1", "en", "s0", 0L),
      (3L, (1 to 12).map(j => s"other$j").mkString(" "), "en", "s0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // scrubMinCount is raised past the corpus so the substring scrub
    // stays inert: when the confirm KEEPS both swap twins, every 8-gram
    // they share is corpus-duplicated, and the scrub would annihilate
    // both (the documented stage-order hazard) — this test isolates the
    // near-dup decision itself
    val base = CurationPipeline.Config(minToks = 1, maxDupTokFrac = 1.0,
      minScore = 0.0, budgetToksPerSource = 1000000L, scrubMinCount = 99)

    // Jaccard-only: the swapped pair collapses to one survivor
    val (curatedOff, auditOff) = CurationPipeline.run(docs, base)
    assert(curatedOff.select("doc_id").as[Long].collect().toSet ==
      Set(1L, 3L))
    assert(auditOff.as[(String, Long)].collect().toMap.apply("near_dedup") == 2L)

    // with the confirm: the pair's edit distance (hundreds) exceeds the
    // bound, so BOTH docs survive — the audit shows the confirm drop
    val (curatedOn, auditOn) = CurationPipeline.run(docs,
      base.copy(editDistanceMax = Some(40)))
    assert(curatedOn.select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L, 3L))
    assert(auditOn.as[(String, Long)].collect().toMap.apply("near_dedup") == 3L)
  }

  test("line dedup stage: a corpus-recurring line drops from every doc " +
      "but its globally-first carrier, and a boilerplate-only doc drops") {
    // the same cookie-banner line planted in three docs; doc 3 is nothing
    // but the banner. Paragraph break in doc 1 must survive reassembly.
    val banner = "we value your privacy accept all cookies"
    val docs = Seq(
      (1L, s"alpha story one\n\n$banner\nalpha story two", "en", "s0", 0L),
      (2L, s"beta report one\n$banner\nbeta report two", "en", "s1", 0L),
      (3L, banner, "en", "s0", 0L),
      (4L, "gamma notes stand alone here", "en", "s1", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // scrubMinCount past the corpus keeps the 8-gram scrub inert — this
    // test isolates the line-grain decision
    val cfg = CurationPipeline.Config(minToks = 1, maxDupTokFrac = 1.0,
      minScore = 0.0, budgetToksPerSource = 1000000L, scrubMinCount = 99,
      lineDedupMaxCount = Some(1L))
    val (curated, audit) = CurationPipeline.run(docs, cfg)
    val texts = curated.select("doc_id", "text").as[(Long, String)]
      .collect().toMap
    assert(texts.keySet == Set(1L, 2L, 4L),
      "the banner-only doc must drop once its one line dedups away")
    assert(texts(1L) == s"alpha story one\n\n$banner\nalpha story two",
      "the first carrier keeps the line AND its paragraph break")
    assert(texts(2L) == "beta report one\nbeta report two")
    assert(texts(4L) == "gamma notes stand alone here")
    val got = audit.as[(String, Long)].collect().toMap
    assert(got("line_dedup") == 3L && got("mixture_sample") == 3L)
    // knob off: no audit row, nothing dropped
    val (_, auditOff) = CurationPipeline.run(docs,
      cfg.copy(lineDedupMaxCount = None))
    assert(!auditOff.as[(String, Long)].collect().toMap.contains("line_dedup"))
  }

  test("temperature mixture keeps the heaviest source whole and thins the rest") {
    // s_big: 160 docs × 20 tokens; s_small: 40 docs × 20 tokens.
    // α = 0.5 → rate(s_big) = 100%, rate(s_small) = floor(100·√(1/4)) = 50%.
    val docs = (1L to 200L).map { i =>
      val src = if (i <= 160L) "s_big" else "s_small"
      (i, (1 to 20).map(j => s"w${i}_$j").mkString(" "), "en", src, 0L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val (curated, _) = CurationPipeline.run(docs, CurationPipeline.Config(
      minToks = 1, maxDupTokFrac = 1.0, minScore = 0.0,
      temperatureAlpha = Some(0.5)))
    val bySrc = curated.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    assert(bySrc("s_big") == 160L, "heaviest source must keep every doc")
    assert(bySrc("s_small") < 40L && bySrc("s_small") > 0L,
      s"lighter source should thin to ~50%, got ${bySrc("s_small")}")
  }

  test("split stage: domain-keyed assignment keeps a publisher in one split; drops nothing") {
    // 12 docs across 3 registered domains (4 pages each) + 2 url-less docs
    def doc(id: Long, url: String) =
      (id, (1 to 12).map(j => s"w${id}_$j").mkString(" "), "en", "s0", 0L, url)
    val docs = ((for (d <- 0L until 3L; p <- 0L until 4L) yield
      doc(d * 10 + p, s"https://page$p.site$d.co.uk/x")) ++
      Seq(doc(100L, null.asInstanceOf[String]), doc(101L, null.asInstanceOf[String])))
      .toDF("doc_id", "text", "lang", "source", "n_chars", "url")
    val cfg = CurationPipeline.Config(minToks = 1, maxDupTokFrac = 1.0,
      minScore = 0.0, budgetToksPerSource = 1000000L, assignSplit = true)
    val (curated, audit) = CurationPipeline.run(docs, cfg)
    val rows = curated.select(col("doc_id"), col("split"), col("url"))
      .as[(Long, String, String)].collect().toSeq
    assert(rows.size == 14, "split assignment must drop nothing")
    assert(rows.forall(r => Set("train", "val", "test")(r._2)))
    // all 4 pages of each siteN.co.uk publisher share one split
    for (d <- 0L until 3L) {
      val splits = rows.filter(r => r._1 / 10 == d && r._1 < 100).map(_._2).toSet
      assert(splits.size == 1, s"publisher site$d straddles splits: $splits")
    }
    val am = audit.as[(String, Long)].collect().toMap
    assert(am("split_assign") == 14L && am("mixture_sample") == 14L)
    // knob off: no split column, no audit row
    val (off, auditOff) = CurationPipeline.run(docs, cfg.copy(assignSplit = false))
    assert(!off.columns.contains("split"))
    assert(!auditOff.as[(String, Long)].collect().toMap.contains("split_assign"))
  }

  test("the returned stage ledger names the stages in pipeline order and " +
    "matches the audit; runs share no state") {
    def corpus(n: Int) = (1 to n).map(i =>
      (i.toLong, (1 to 12).map(j => s"w${i}_$j").mkString(" "), "en", "s0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val cfg = CurationPipeline.Config(minToks = 1, maxDupTokFrac = 1.0,
      minScore = 0.0, budgetToksPerSource = 1000000L)
    val (c1, a1, l1) = CurationPipeline.runWithLedger(corpus(6),
      cfg.copy(lineDedupMaxCount = Some(2L)))
    assert(l1.keys.toSeq == Seq("input", "quality_rules",
      "quality_classifier", "exact_dedup", "normalized_dedup",
      "near_dedup_fixpoint", "near_dedup", "line_dedup", "substring_scrub",
      "pii_redact", "mixture_sample"))
    // every counted stage is an audit row, in the same order, same count
    assert(a1.as[(String, Long)].collect().toSeq ==
      l1.toSeq.collect { case (s, t) if s != "near_dedup_fixpoint" =>
        (s, t.docsAfter) })
    assert(l1("near_dedup_fixpoint").docsAfter == -1L)
    assert(l1("input").docsAfter == 6L)
    assert(l1.values.forall(_.sec >= 0.0))
    // a second run in the same session gets its own ledger: no stage of
    // the first run's config, its own counts
    val (c2, a2, l2) = CurationPipeline.runWithLedger(corpus(4), cfg)
    assert(!l2.contains("line_dedup") && l2("input").docsAfter == 4L)
    assert(a2.as[(String, Long)].collect().toMap ==
      l2.removed("near_dedup_fixpoint").map { case (s, t) => s -> t.docsAfter })
    assert(l1("input").docsAfter == 6L)
    graft.ops.Stages.release(Seq(c1, c2))
  }
}
