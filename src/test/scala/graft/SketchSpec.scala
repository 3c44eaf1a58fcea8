package graft

import org.apache.spark.sql.functions._

/** Sketch-family structural guarantees, pinned on planted fixtures:
  * q40 engine-native HLL error bound, q131 KMV error envelope, q138 CMS one-sided overcount, q139 bloom
  * zero-false-negative, q140 priority sampling vs an independent Scala
  * md5 reimplementation, q141 change-point on a planted step, q137
  * containment asymmetry on a planted quote-in-doc pair. Every fixture
  * is deterministic, so each bound is a hard assert, not a tolerance. */
class SketchSpec extends SparkSpec {
  import spark.implicits._

  /** `users(type)` distinct users per event type, each with `copies`
    * events. */
  private def eventsDir(users: Map[String, Int], copies: Int = 1): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_kmv").toString
    users.toSeq
      .flatMap { case (et, n) =>
        (1 to n).flatMap(u => Seq.fill(copies)((et, u.toLong))) }
      .toDF("event_type", "user_id")
      .withColumn("event_id", col("user_id"))
      .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
      .withColumn("value", lit(1.0))
      .write.parquet(s"$d/events.parquet")
    d
  }

  /** Independent reimplementation of TextOps.hash60 (md5-prefix 60-bit). */
  private def hash60(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  test("q40: HLL++ error stays within 3x the requested 2% rsd; exact column is exact") {
    // q40 has no oracle twin (Spark's HLL++ registers are engine-private);
    // HLL++ hashing is deterministic, so this bound is a hard check
    val users = Map("tiny" -> 7, "mid" -> 900, "big" -> 20000)
    val d = eventsDir(users, copies = 2)
    val got = SparkEntry.queries("q40_approx_distinct")(spark, d)
      .as[(String, Long, Long, Double)].collect()
    assert(got.map(_._1).toSeq == users.keys.toSeq.sorted)
    got.foreach { case (et, exact, approx, errPct) =>
      assert(exact == users(et).toLong, s"$et: n_exact $exact")
      assert(errPct <= 6.0, s"$et: n_approx $approx vs $exact, err_pct $errPct")
    }
  }

  test("q131: sparse branch is exact, sketch branch is within 3 sigma") {
    // "sparse" has 63 users (< k=64) → the sketch IS the set, err 0;
    // "dense" has 5000 → the (k−1)·2⁶⁰/h_k estimator with its ~13% σ
    val d = eventsDir(Map("sparse" -> 63, "dense" -> 5000))
    val got = SparkEntry.queries("q131_kmv_distinct")(spark, d)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("sparse") == ((63L, 63L, 0L)))
    val (exact, est, errPpm) = got("dense")
    assert(exact == 5000L)
    assert(errPpm == 1000000L * math.abs(est - exact) / exact)
    assert(errPpm <= 390000L, s"estimate $est off by $errPpm ppm (> 3 sigma)")
  }

  test("q138: CMS estimates are one-sided — never below the exact count") {
    // user u fires u events (u = 1..30): top-10 = users 30..21, no ties
    val d = java.nio.file.Files.createTempDirectory("graft_cms").toString
    (1 to 30).flatMap(u => (1 to u).map(i => (u.toLong, s"e$i")))
      .toDF("user_id", "event_type")
      .withColumn("event_id", monotonically_increasing_id())
      .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
      .withColumn("value", lit(1.0))
      .write.parquet(s"$d/events.parquet")
    val got = SparkEntry.queries("q138_cms_heavyhitters")(spark, d)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got.map(r => (r._1, r._2)) ==
      (30 to 21 by -1).map(u => (u.toLong, u.toLong)),
      "top-10 selection must be the exact heavy hitters, descending")
    got.foreach { case (u, exact, est, over) =>
      assert(est >= exact, s"CMS undercounted user $u: $est < $exact")
      assert(over == est - exact)
    }
  }

  test("CMS weighted build over the frequency table equals the per-item " +
      "build (the r15 q138 telescoping)") {
    import graft.ops.Cms
    // skewed multiplicities (the inner map runs over the FLATTENED range
    // values, so small ids repeat across many outer keys — u1 is the
    // heavy hitter at ~40 copies): the weighted build over (key, f) must
    // reproduce the per-item counter table cell-for-cell
    val items = (1 to 40).flatMap(u => (1 to (u % 7 + 1) * u))
      .map(u => s"u$u").toDF("k")
    val perItem = Cms.counters(items, "k", d = 4, w = 16)
      .as[(Int, Long, Long)].collect().toSet
    val keyed = items.groupBy("k").agg(count(lit(1)).as("f"))
    val weighted = Cms.weightedCounters(keyed, "k", "f", d = 4, w = 16)
      .as[(Int, Long, Long)].collect().toSet
    assert(weighted == perItem,
      "weighted counters diverged from the per-item build")
  }

  test("CMS probe of an unseen key survives and reads its true 0 when " +
      "any cell is empty") {
    import graft.ops.Cms
    // ONE inserted key, tiny sketch: an unseen probe whose cells are all
    // empty must come back with estimate 0 (never vanish from the
    // output), and the seen key keeps its exact count. An inner join
    // would drop the unseen probe entirely — the membership-probe bug.
    val items = Seq("k1").toDF("k")
    val counters = Cms.counters(items, "k", d = 4, w = 64)
    val probes = Seq("k1", "never-inserted-key").toDF("k")
    val got = Cms.estimate(probes, counters, "k", d = 4, w = 64)
      .as[(String, Long)].collect().toMap
    assert(got.size == 2, s"a probe row vanished: $got")
    assert(got("k1") == 1L)
    assert(got("never-inserted-key") == 0L,
      "an unseen key with an empty cell must estimate 0 (min over cells)")
  }

  test("q139: bloom audit — zero false negatives, members all predicted") {
    val d = java.nio.file.Files.createTempDirectory("graft_bloom").toString
    // every 10th customer is in debt → 20 members of 200
    (1 to 200).map(k => (k.toLong, if (k % 10 == 0) -50.0 else 100.0))
      .toDF("c_custkey", "c_acctbal")
      .write.parquet(s"$d/customer.parquet")
    val r = SparkEntry.queries("q139_bloom_audit")(spark, d)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().head
    val (nMem, nBits, nProbed, tp, fp, fn, fpPpm) = r
    assert(nMem == 20L && nProbed == 200L)
    assert(fn == 0L, "a bloom filter must never miss a member")
    assert(tp == nMem, "every member must be predicted present")
    assert(nBits <= 60L, "20 members x 3 hashes set at most 60 bits")
    assert(fpPpm == 1000000L * fp / (nProbed - nMem))
  }

  test("q140: priority sample matches an independent Scala reimplementation") {
    val d = java.nio.file.Files.createTempDirectory("graft_prio").toString
    // 40 docs (> k+1 = 33), weights 100..4000
    val docs = (1 to 40).map(i => (i.toLong, i * 100L))
    docs.toDF("doc_id", "n_chars")
      .withColumn("text", lit("irrelevant for q140"))
      .write.parquet(s"$d/documents.parquet")
    // reference computation: q = (w * 2^40) div u40, u40 = top-40 bits + 1
    val pri = docs.map { case (id, w) =>
      val u40 = (hash60(id.toString) / 1048576L) + 1L
      (id, w, (w * 1099511627776L) / u40)
    }
    val ranked = pri.sortBy { case (id, _, q) => (-q, id) }
    val tau = ranked(32)._3 // rank 33, 0-indexed
    val expected = ranked.take(32).zipWithIndex.map { case ((id, w, _), i) =>
      (i + 1, id, w, math.max(w, tau))
    }
    val got = SparkEntry.queries("q140_priority_sample")(spark, d)
      .as[(Int, Long, Long, Long)].collect().toSeq
    assert(got == expected)
  }

  test("q141: change-point lands on a planted step") {
    val d = java.nio.file.Files.createTempDirectory("graft_cpt").toString
    // type "a": 4 days at 5/day then 4 days at 20/day → split after day 4
    val rows = (1 to 8).flatMap { day =>
      val n = if (day <= 4) 5 else 20
      (1 to n).map(i => (s"2024-01-0$day 12:00:00", i.toLong))
    }
    rows.toDF("tss", "user_id")
      .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
      .withColumn("event_type", lit("a"))
      .withColumn("event_id", monotonically_increasing_id())
      .withColumn("value", lit(1.0))
      .write.parquet(s"$d/events.parquet")
    val r = SparkEntry.queries("q141_changepoint")(spark, d)
      .as[(String, String, Long, Double, Double, Double)].collect().head
    assert(r._2 == "2024-01-04", "change day must be the last day of the old regime")
    assert(r._3 == 8L && r._4 == 5.0 && r._5 == 20.0)
    assert(r._6 == 15.0, "score is exactly the mean difference at the true split")
  }

  test("q157: trailing median shrugs off a prior burst; cold start never alarms") {
    val d = java.nio.file.Files.createTempDirectory("graft_burst").toString
    // days 1-6: 5/day; day 7: 100 (only 6 days history → cold-start gate,
    // NO alarm); day 8: 5; day 9: 20 (trailing {5,5,5,5,5,100,5} median 5
    // → 20 > 15 bursts — day 7's spike did not poison the baseline);
    // day 10: 14 (≤ 3·5 → quiet).
    val perDay = Map(1 -> 5, 2 -> 5, 3 -> 5, 4 -> 5, 5 -> 5, 6 -> 5,
      7 -> 100, 8 -> 5, 9 -> 20, 10 -> 14)
    val rows = perDay.toSeq.flatMap { case (day, n) =>
      (1 to n).map(i => (f"2024-01-$day%02d 12:00:00", (day * 1000 + i).toLong))
    }
    rows.toDF("tss", "event_id")
      .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
      .withColumn("event_type", lit("a"))
      .withColumn("user_id", col("event_id"))
      .withColumn("value", lit(1.0))
      .write.parquet(s"$d/events.parquet")
    val got = SparkEntry.queries("q157_trailing_burst")(spark, d)
      .as[(String, Long, Long, Long, String)].collect().toSeq
    // eval days = 8,9,10 (the only days with 7 full trailing days);
    // ratios 1000 / 4000 / 2800 → one burst (day 9), peak 4000 on day 9
    assert(got == Seq(("a", 3L, 1L, 4000L, "2024-01-09")))
  }

  test("q142: AMS estimate matches an independent Scala reimplementation") {
    // user u fires u events (u = 1..20): exact F2 = sum(u^2) = 2870
    val d = java.nio.file.Files.createTempDirectory("graft_ams").toString
    (1 to 20).flatMap(u => (1 to u).map(_ => u.toLong)).toDF("user_id")
      .withColumn("event_type", lit("e"))
      .withColumn("event_id", monotonically_increasing_id())
      .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
      .withColumn("value", lit(1.0))
      .write.parquet(s"$d/events.parquet")
    val exactF2 = (1 to 20).map(u => u.toLong * u).sum
    val zs = (0 until 9).map { i =>
      (1 to 20).map { u =>
        val sign = if ((hash60(s"ams$i:$u") & 1L) == 1L) 1L else -1L
        u * sign // f_u = u events, all with the same sign
      }.sum
    }
    val expEst = zs.map(z => z * z).sum / 9
    val expPpm = 1000000L * math.abs(expEst - exactF2) / exactF2
    val r = SparkEntry.queries("q142_ams_f2")(spark, d)
      .as[(Double, Double, Long)].collect().head
    assert(r == ((exactF2.toDouble, expEst.toDouble, expPpm)))
  }

  test("q135: histogram quantile always lands in the true quantile's bucket") {
    // type "a": one event of value i for i = 1..100 → v = 1000·i milli.
    // Exact pXX = 1000·XX; approx_lb = (v DIV 4096)·4096 — the bucket
    // CONTAINING the true quantile, so 0 <= off < 4096 is a hard bound.
    val d = java.nio.file.Files.createTempDirectory("graft_hist").toString
    (1 to 100).map(i => (i.toLong, i.toDouble))
      .toDF("user_id", "value")
      .withColumn("event_type", lit("a"))
      .withColumn("event_id", col("user_id"))
      .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
      .write.parquet(s"$d/events.parquet")
    val got = SparkEntry.queries("q135_hist_quantiles")(spark, d)
      .as[(String, Int, Long, Long, Long, Long)].collect().toSeq
    val expected = Seq(50, 90, 99).map { p =>
      val exact = 1000L * p
      val lb = (exact / 4096L) * 4096L
      ("a", p, 100L, exact, lb, exact - lb)
    }
    assert(got == expected)
    got.foreach { case (_, _, _, _, _, off) =>
      assert(off >= 0L && off < 4096L, "exact quantile must sit in its bucket")
    }
  }

  test("q136: KMV set algebra matches an independent Scala reimplementation") {
    // purchase users 1..20, view users 11..40: union 40, intersection 10.
    // Both sides sparse (< k=32) so each side's k-minima IS its hash set;
    // the union pool (40 distinct) exercises the dense-branch estimator.
    val d = java.nio.file.Files.createTempDirectory("graft_kmvset").toString
    val rows = (1 to 20).map(u => ("purchase", u.toLong)) ++
      (11 to 40).map(u => ("view", u.toLong))
    rows.toDF("event_type", "user_id")
      .withColumn("event_id", col("user_id"))
      .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
      .withColumn("value", lit(1.0))
      .write.parquet(s"$d/events.parquet")
    val aH = (1 to 20).map(u => hash60(u.toString)).sorted.take(32).toSet
    val bH = (11 to 40).map(u => hash60(u.toString)).sorted.take(32).toSet
    val unionK = (aH ++ bH).toSeq.sorted.take(32)
    val ku = unionK.size.toLong
    val hk = unionK.max
    val rho = unionK.count(h => aH(h) && bH(h)).toLong
    val unionEst =
      if (ku < 32) ku
      else ((BigInt(ku - 1) * BigInt(2).pow(60)) / hk).toLong
    val interEst = rho * unionEst / 32L
    val jacPpm = 1000000L * rho / 32L
    val r = SparkEntry.queries("q136_kmv_setops")(spark, d)
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(r == ((40L, 10L, unionEst, interEst, jacPpm)))
  }

  test("q137: containment flags a quote-in-doc pair Jaccard would miss") {
    val d = java.nio.file.Files.createTempDirectory("graft_cont").toString
    val short = (1 to 30).map(i => s"w$i").mkString(" ")
    val long  = short + " " + (1 to 20).map(i => s"x$i").mkString(" ")
    val other = (1 to 30).map(i => s"z$i").mkString(" ")
    Seq((1L, short), (2L, long), (3L, other))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
      .write.parquet(s"$d/documents.parquet")
    val got = SparkEntry.queries("q137_shingle_containment")(spark, d)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // doc1 (28 shingles) fully contained in doc2 (48 shingles):
    // cont_a = 100, jaccard = 2800 div 48 = 58 — the asymmetry signal
    assert(got.contains((1L, 2L, 100L, 58L, 58L)),
      s"expected the planted containment pair, got $got")
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L),
      "the unrelated doc must not pair with anything")
  }
}
