package graft.corpus

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.LandingSpec
import graft.sources.JsonlDocuments

/** Streaming corpus ingest e2e: tick drains landing JSONL, quarantines
  * garbage, and re-delivered documents never duplicate in the store. */
class StreamingCurationSpec extends SparkSpec {
  import spark.implicits._

  test("ticks drain, quarantine, and stay idempotent under redelivery") {
    val landing = Files.createTempDirectory("graft_sc_landing")
    val ckpt = Files.createTempDirectory("graft_sc_ckpt")
    val store = Files.createTempDirectory("graft_sc_store").toString + "/docs"
    val quar = Files.createTempDirectory("graft_sc_quar").toString + "/bad"
    def tick(): Unit = StreamingCuration.ingestTick(
      spark, landing.toString, ckpt.toString, store, quar)

    Files.writeString(landing.resolve("drop1.jsonl"), Seq(
      """{"doc_id": 1, "text": "hello world", "lang": "en", "source": "s0"}""",
      """{"doc_id": 2, "text": "two tokens", "lang": "en", "source": "s1"}""",
      """not json garbage""").mkString("\n"))
    tick()
    assert(spark.read.parquet(store).count() == 2L)
    assert(spark.read.json(quar).count() == 1L)

    // tick 2: one new doc, plus doc 1 RE-DELIVERED under a new filename
    Files.writeString(landing.resolve("drop2.jsonl"), Seq(
      """{"doc_id": 3, "text": "third doc", "lang": "de", "source": "s0"}""",
      """{"doc_id": 1, "text": "hello world", "lang": "en", "source": "s0"}""")
      .mkString("\n"))
    tick()
    val docs = spark.read.parquet(store)
    assert(docs.count() == 3L) // not 4: the redelivery was anti-joined away
    assert(docs.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    // source partitioning holds (the downstream pruning key)
    assert(new java.io.File(store).listFiles()
      .count(_.getName.startsWith("source=")) == 2)
    // a quiet tick changes nothing
    tick()
    assert(spark.read.parquet(store).count() == 3L)
    assert(spark.read.json(quar).count() == 1L)
    // appendNew reads the store with the clean rows' schema: the footers'
    val clean = JsonlDocuments.split(spark.read.schema(JsonlDocuments.parsedSchema)
      .options(JsonlDocuments.permissive).json(landing.toString))._1
    assert(LandingSpec.namesAndTypes(spark.read.parquet(store).schema) ==
      LandingSpec.namesAndTypes(clean.schema))
  }

  test("two copies of one drop landing in the same tick append each doc once") {
    val landing = Files.createTempDirectory("graft_st_landing")
    val ckpt = Files.createTempDirectory("graft_st_ckpt")
    val store = Files.createTempDirectory("graft_st_store").toString + "/docs"
    val quar = Files.createTempDirectory("graft_st_quar").toString + "/bad"
    val drop = Seq(
      """{"doc_id": 1, "text": "hello world", "lang": "en", "source": "s0"}""",
      """{"doc_id": 2, "text": "two tokens", "lang": "en", "source": "s1"}""")
      .mkString("\n")
    // the store does not exist yet, so only the in-batch dedup can drop
    // the copy
    Files.writeString(landing.resolve("drop1.jsonl"), drop)
    Files.writeString(landing.resolve("drop1_copy.jsonl"), drop)
    StreamingCuration.ingestTick(spark, landing.toString, ckpt.toString, store, quar)
    val ids = spark.read.parquet(store).select("doc_id").as[Long].collect()
    assert(ids.sorted.toSeq == Seq(1L, 2L))
  }

  test("a line without text is quarantined with the null field explicit") {
    val landing = Files.createTempDirectory("graft_sn_landing")
    val ckpt = Files.createTempDirectory("graft_sn_ckpt")
    val store = Files.createTempDirectory("graft_sn_store").toString + "/docs"
    val quar = Files.createTempDirectory("graft_sn_quar").toString + "/bad"
    Files.writeString(landing.resolve("drop1.jsonl"), Seq(
      """{"doc_id": 1, "text": "hello world", "lang": "en", "source": "s0"}""",
      """{"doc_id": 7, "lang": "en", "source": "s0"}""").mkString("\n"))
    StreamingCuration.ingestTick(spark, landing.toString, ckpt.toString, store, quar)
    assert(spark.read.parquet(store).count() == 1L)
    val bad = spark.read.json(quar).select("raw_line").as[String].collect().toSeq
    assert(bad.size == 1 && bad.head.contains("\"doc_id\":7") &&
      bad.head.contains("\"text\":null"), s"quarantined: $bad")
  }

  test("incremental curation ticks + release == from-scratch batch run") {
    val landing = Files.createTempDirectory("graft_cc_landing")
    val ckpt = Files.createTempDirectory("graft_cc_ckpt")
    val store = Files.createTempDirectory("graft_cc_store").toString + "/docs"
    val quar = Files.createTempDirectory("graft_cc_quar").toString + "/bad"
    val state = Files.createTempDirectory("graft_cc_state").toString + "/state"
    val cfg = CurationPipeline.Config(minToks = 3, maxDupTokFrac = 0.9,
      minScore = 0.0, jaccardThreshold = 0.5, budgetToksPerSource = 1000000L)
    def tick(): Unit = StreamingCuration.curationTick(
      spark, landing.toString, ckpt.toString, store, quar, state, cfg)

    val base = "one two three four five six seven eight nine ten eleven twelve"
    val chain = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val boiler = "subscribe to our newsletter for updates and offers"
    val unique9 = (1 to 12).map(i => s"story$i").mkString(" ")
    val unique10 = (1 to 12).map(i => s"report$i").mkString(" ")
    def line(id: Long, text: String) =
      s"""{"doc_id": $id, "text": "$text", "lang": "en", "source": "s${id % 2}"}"""

    // tick 1: a unique doc + its in-tick exact dup, the near-dup chain
    // anchor, one boilerplate carrier, a PII carrier
    Files.writeString(landing.resolve("drop1.jsonl"), Seq(
      line(1, base), line(2, base), line(3, chain),
      line(9, s"$unique9 $boiler"),
      line(12, "contact ada@example.org or ping 10.0.0.1 about delivery windows tonight"))
      .mkString("\n"))
    tick()

    // tick 2: cross-tick exact dup (13), cross-tick normalized variant
    // (14), a TRANSITIVE near-dup chain crossing the tick boundary
    // (15 ~ 3, 16 ~ 15 — greedy per-tick survivor selection would keep
    // 16; release-time components must drop it), the second boilerplate
    // carrier (scrub gram counts must span ticks), garbage, and a
    // re-delivery of doc 1
    Files.writeString(landing.resolve("drop2.jsonl"), Seq(
      line(13, base),
      line(14, "ONE two three four five six  seven eight nine ten eleven twelve"),
      line(15, chain + " phi"), line(16, chain + " phi chi"),
      line(17, s"$unique10 $boiler"),
      """not json garbage""",
      line(1, base))
      .mkString("\n"))
    tick()

    // the second tick processed ONLY its delta (5 new docs: the
    // re-delivery was anti-joined, the garbage quarantined)
    val perTick = spark.read.parquet(s"$state/tickaudit")
      .filter(col("stage") === "input")
      .select("tick", "n").as[(Long, Long)].collect().toMap
    assert(perTick.size == 2 && perTick.values.toSeq.sorted == Seq(5L, 5L))

    // release over the accumulated state == CurationPipeline.run from
    // scratch on the accumulated store: same audit, same curated rows
    val (incCurated, incAudit) = StreamingCuration.release(spark, store, state, cfg)
    val (batchCurated, batchAudit) =
      CurationPipeline.run(spark.read.parquet(store), cfg)
    val incA = incAudit.as[(String, Long)].collect().toMap
    val batchA = batchAudit.as[(String, Long)].collect().toMap
    assert(incA == batchA)
    // the ladder actually bit: exact (13), normalized (14), transitive
    // near-dup (15 AND 16) all dropped
    assert(batchA("input") == 10L && batchA("exact_dedup") == 8L &&
      batchA("normalized_dedup") == 7L && batchA("near_dedup") == 5L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "text", "lang", "source")
        .as[(Long, String, String, String)].collect().sortBy(_._1).toSeq
    assert(rows(incCurated) == rows(batchCurated))
    assert(rows(incCurated).map(_._1) == Seq(1L, 3L, 9L, 12L, 17L))
    // cross-tick scrub: both carriers lost the shared 8-gram
    val texts = rows(incCurated).map(r => r._1 -> r._2).toMap
    assert(texts(9L) == unique9 && texts(17L) == unique10)
    incCurated.unpersist(); batchCurated.unpersist()
  }

  test("incremental == batch with the domain cap AND the edit-distance " +
      "confirm enabled") {
    val landing = Files.createTempDirectory("graft_dc_landing")
    val ckpt = Files.createTempDirectory("graft_dc_ckpt")
    val store = Files.createTempDirectory("graft_dc_store").toString + "/docs"
    val quar = Files.createTempDirectory("graft_dc_quar").toString + "/bad"
    val state = Files.createTempDirectory("graft_dc_state").toString + "/state"
    // scrubMinCount past the corpus: the swap twins share every 8-gram,
    // and an active scrub would annihilate both (the documented
    // stage-order hazard) — this test isolates the two new knobs
    val cfg = CurationPipeline.Config(minToks = 1, maxDupTokFrac = 1.0,
      minScore = 0.0, budgetToksPerSource = 1000000L, scrubMinCount = 99,
      domainCap = Some(2L), editDistanceMax = Some(40), assignSplit = true)
    def tick(): Unit = StreamingCuration.curationTick(
      spark, landing.toString, ckpt.toString, store, quar, state, cfg)

    val s1 = (1 to 30).map(j => s"alpha$j").mkString(" ")
    val s2 = (1 to 30).map(j => s"omega$j").mkString(" ")
    def line(id: Long, text: String, url: String) =
      s"""{"doc_id": $id, "text": "$text", "lang": "en",""" +
        s""" "source": "s0", "url": "$url"}"""

    // tick 1: swap-twin A + two docs of the capped domain
    Files.writeString(landing.resolve("drop1.jsonl"), Seq(
      line(1, s"$s1 $s2", "https://docs.python.org/a"),
      line(2, (1 to 12).map(j => s"cap2_$j").mkString(" "),
        "https://cdn.assets.example.com/x"),
      line(3, (1 to 12).map(j => s"cap3_$j").mkString(" "),
        "https://www.example.com/y")).mkString("\n"))
    tick()
    // tick 2: swap-twin B (cross-tick LSH candidate, huge edit distance
    // — the confirm must reject the pair in the DELTA path too) + a
    // third example.com doc that pushes the domain over its cap of 2
    Files.writeString(landing.resolve("drop2.jsonl"), Seq(
      line(4, s"$s2 $s1", "https://docs.python.org/b"),
      line(5, (1 to 12).map(j => s"cap5_$j").mkString(" "),
        "https://Media.Example.COM/z")).mkString("\n"))
    tick()

    val (incCurated, incAudit) = StreamingCuration.release(spark, store, state, cfg)
    val (batchCurated, batchAudit) =
      CurationPipeline.run(spark.read.parquet(store), cfg)
    val incA = incAudit.as[(String, Long)].collect().toMap
    val batchA = batchAudit.as[(String, Long)].collect().toMap
    assert(incA == batchA)
    // the confirm kept both swap twins (near_dedup drops nothing)...
    assert(batchA("near_dedup") == 5L)
    // ...and the domain cap dropped exactly one of the three
    // example.com variants
    assert(batchA("domain_cap") == 4L)
    val incIds = incCurated.select("doc_id").as[Long].collect().sorted.toSeq
    val batchIds = batchCurated.select("doc_id").as[Long].collect().sorted.toSeq
    assert(incIds == batchIds)
    assert(incIds.contains(1L) && incIds.contains(4L),
      "both swap twins must survive with the confirm on")
    assert(incIds.intersect(Seq(2L, 3L, 5L)).size == 2,
      "example.com must keep exactly cap=2 docs")
    // split stage parity: per-doc assignments identical across paths, and
    // the surviving example.com pages (one registered domain) share a split
    val incSplit = incCurated.select(col("doc_id"), col("split"))
      .as[(Long, String)].collect().toMap
    val batchSplit = batchCurated.select(col("doc_id"), col("split"))
      .as[(Long, String)].collect().toMap
    assert(incSplit == batchSplit)
    assert(Seq(2L, 3L, 5L).flatMap(incSplit.get).toSet.size == 1,
      "one publisher's pages must land in one split")
    incCurated.unpersist(); batchCurated.unpersist()
  }

  test("incremental == batch with LINE dedup on: a line duplicated " +
      "ACROSS ticks keeps only its globally-first carrier at release") {
    val landing = Files.createTempDirectory("graft_ld_landing")
    val ckpt = Files.createTempDirectory("graft_ld_ckpt")
    val store = Files.createTempDirectory("graft_ld_store").toString + "/docs"
    val quar = Files.createTempDirectory("graft_ld_quar").toString + "/bad"
    val state = Files.createTempDirectory("graft_ld_state").toString + "/state"
    val cfg = CurationPipeline.Config(minToks = 1, maxDupTokFrac = 1.0,
      minScore = 0.0, budgetToksPerSource = 1000000L, scrubMinCount = 99,
      lineDedupMaxCount = Some(1L))
    def tick(): Unit = StreamingCuration.curationTick(
      spark, landing.toString, ckpt.toString, store, quar, state, cfg)

    val banner = "we value your privacy accept all cookies"
    def line(id: Long, text: String) =
      s"""{"doc_id": $id, "text": "$text", "lang": "en", "source": "s0"}"""
    // tick 1: the banner's first carrier + a banner-only doc
    Files.writeString(landing.resolve("drop1.jsonl"), Seq(
      line(1, s"alpha story one\\n$banner\\nalpha story two"),
      line(3, banner)).mkString("\n"))
    tick()
    // tick 2: another carrier — the line's survivor was fixed in tick 1,
    // and the release (corpus-global recount) must strip it here too
    Files.writeString(landing.resolve("drop2.jsonl"), Seq(
      line(2, s"beta report one\\n$banner\\nbeta report two"),
      line(4, "gamma notes stand alone here")).mkString("\n"))
    tick()

    val (incCurated, incAudit) = StreamingCuration.release(spark, store, state, cfg)
    val (batchCurated, batchAudit) =
      CurationPipeline.run(spark.read.parquet(store), cfg)
    assert(incAudit.as[(String, Long)].collect().toMap ==
      batchAudit.as[(String, Long)].collect().toMap)
    val incRows = incCurated.select("doc_id", "text")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(incRows == batchCurated.select("doc_id", "text")
      .as[(Long, String)].collect().sortBy(_._1).toSeq)
    // doc 1 (globally first) keeps the banner; the tick-2 carrier loses
    // it; the banner-only doc drops entirely
    assert(incRows.map(_._1) == Seq(1L, 2L, 4L))
    val texts = incRows.toMap
    assert(texts(1L) == s"alpha story one\n$banner\nalpha story two")
    assert(texts(2L) == "beta report one\nbeta report two")
    incCurated.unpersist(); batchCurated.unpersist()
  }
}
