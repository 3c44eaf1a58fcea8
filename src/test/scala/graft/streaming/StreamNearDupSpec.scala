package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import StreamNearDup._

/** Streaming near-dup candidates over MemoryStream (transformWithState,
  * RocksDB state store) + the exact-Jaccard helper. */
class StreamNearDupSpec extends SparkSpec {

  // two 30-token texts differing in one token: J(3-shingles) ≈ 26/32,
  // so ≥1 of the 8 LSH bands collides with probability ~1 - 2e-6
  private val baseText = (1 to 30).map(i => s"tok$i").mkString(" ")
  private val editText = ((1 to 15).map(i => s"tok$i") ++ Seq("CHANGED") ++
    (17 to 30).map(i => s"tok$i")).mkString(" ")
  private val otherText = (1 to 30).map(i => s"zzz$i").mkString(" ")

  test("jaccard: exact two-pointer intersection over union") {
    assert(jaccard(Seq(1L, 2L, 3L), Seq(2L, 3L, 4L)) == 2.0 / 4.0)
    assert(jaccard(Seq(1L), Seq(2L)) == 0.0)
    assert(jaccard(Seq(1L, 2L), Seq(1L, 2L)) == 1.0)
  }

  test("e2e: a later near-duplicate pairs with the earlier anchor only") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[Doc]
    val q = candidates(mem.toDS())
      .writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append").start()
    try {
      mem.addData(Doc(1L, baseText), Doc(2L, otherText))
      q.processAllAvailable()
      mem.addData(Doc(3L, editText)) // near-dup of doc 1, later batch
      q.processAllAvailable()
      val pairs = spark.sql(
        "SELECT first_doc_id, doc_id, max(jaccard) FROM neardup_stream " +
          "GROUP BY 1, 2 ORDER BY 1, 2")
        .as[(Long, Long, Double)].collect().toSeq
      val strong = pairs.filter(_._3 >= 0.5)
      assert(strong.map(p => (p._1, p._2)) == Seq((1L, 3L)))
      assert(strong.head._3 > 0.7 && strong.head._3 < 1.0)
      // the unrelated doc never pairs at threshold
      assert(!pairs.exists(p => (p._1 == 2L || p._2 == 2L) && p._3 >= 0.5))
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("e2e: non-anchor near-dup pair is caught (bounded anchor list)") {
    // The single-anchor miss case the recall contract pins: doc 1 arrives
    // first and anchors every band all three share; doc 3 is a near-dup
    // of doc 2 (one edit apart, J ≈ 25/31) and a weaker dup of doc 1
    // (two edits, J ≈ 22/34). With one anchor per band the 2–3 pair is
    // only found if 2 anchors some band 1 missed — NOT guaranteed. With
    // maxAnchors ≥ 2, doc 2 is the second anchor in the shared bands, so
    // 3 pairs against BOTH 1 and 2 deterministically (fixed hashes).
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val chainText = ((1 to 15).map(i => s"tok$i") ++ Seq("CHANGED") ++
      (17 to 24).map(i => s"tok$i") ++ Seq("ALTERED") ++
      (26 to 30).map(i => s"tok$i")).mkString(" ")
    val mem = MemoryStream[Doc]
    val q = candidates(mem.toDS())
      .writeStream.format("memory").queryName("neardup_chain")
      .outputMode("append").start()
    try {
      mem.addData(Doc(1L, baseText))
      q.processAllAvailable()
      mem.addData(Doc(2L, editText)) // dup of 1
      q.processAllAvailable()
      mem.addData(Doc(3L, chainText)) // strong dup of 2, weaker dup of 1
      q.processAllAvailable()
      val strong = spark.sql(
        "SELECT DISTINCT first_doc_id, doc_id FROM neardup_chain " +
          "WHERE jaccard >= 0.5 ORDER BY 1, 2")
        .as[(Long, Long)].collect().toSet
      // the pair a single-anchor design could miss:
      assert(strong.contains((2L, 3L)))
      assert(strong.contains((1L, 2L)))
      // anchors always precede newcomers — no inverted pairs
      assert(strong.forall(p => p._1 < p._2))
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("parity: stream pairs = batch q27 pairs restricted to anchor coverage (sf0.001)") {
    // Shared-fixture equivalence against the documented recall contract:
    // with docs fed in doc_id order, a band's anchors are its maxAnchors
    // lowest doc_ids, so the EXPECTED stream output is computable from the
    // batch side — q27's pairs restricted to those whose earlier doc
    // anchors a shared band. Assert (1) the stream never invents a pair
    // the batch path lacks, and (2) it emits EXACTLY the covered subset —
    // both the recall bound and the no-false-positive direction at once.
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val dir = "/root/testdata/sf0.001"
    val maxAnchors = 4
    val batchPairs = graft.SparkEntry.queries("q27_minhash_lsh")(spark, dir)
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
    // coverage set from the SAME native band derivation the stream uses
    val bandRows = graft.Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(expr("graft_minhash_bands(graft_shingle_hashes3(text))"))
          .as("band_key"))
      .as[(Long, Long)].collect()
    val covered = scala.collection.mutable.Set.empty[(Long, Long)]
    bandRows.groupBy(_._2).foreach { case (_, rows) =>
      val ids = rows.map(_._1).distinct.sorted
      for (a <- ids.take(maxAnchors); d <- ids if d > a) covered += ((a, d))
    }
    val expected = batchPairs.filter(covered)
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).as[Doc]
      .collect().sortBy(_.doc_id)
    val mem = MemoryStream[Doc]
    val q = candidates(mem.toDS(), maxAnchors = maxAnchors)
      .writeStream.format("memory").queryName("neardup_parity")
      .outputMode("append").start()
    try {
      docs.grouped((docs.length + 2) / 3).foreach { chunk =>
        mem.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      val got = spark.sql(
          "SELECT first_doc_id, doc_id FROM neardup_parity WHERE jaccard >= 0.5")
        .as[(Long, Long)].collect().toSet
      assert(batchPairs.nonEmpty) // the fixture genuinely contains near-dups
      assert(got.subsetOf(batchPairs)) // no invented pairs
      assert(got == expected)          // exactly the covered subset
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("e2e: re-delivery of the anchor emits no self-pair") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[Doc]
    val q = candidates(mem.toDS())
      .writeStream.format("memory").queryName("neardup_redeliver")
      .outputMode("append").start()
    try {
      mem.addData(Doc(1L, baseText))
      q.processAllAvailable()
      mem.addData(Doc(1L, baseText)) // at-least-once source re-delivers
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM neardup_redeliver")
        .as[Long].head() == 0L)
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }
}
