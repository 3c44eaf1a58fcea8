package graft.ops

import java.security.MessageDigest

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Specs for the cross-engine text/vector primitives and their native
  * Catalyst twins. The load-bearing assertions: the NATIVE expressions
  * (graft_dot, graft_sorted_intersect, graft_minhash_bands) are
  * bit-identical to the composed built-in forms they replace — that
  * equivalence is what keeps the DuckDB oracle valid. */
class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  private def onDoc(text: String) = Seq(Tuple1(text)).toDF("text")

  test("hash60 is the first 15 hex digits of md5 as a long") {
    val got = onDoc("hello world")
      .select(expr(TextOps.hash60("text")).as("h")).as[Long].head()
    val md = MessageDigest.getInstance("MD5")
      .digest("hello world".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(15)
    assert(got == java.lang.Long.parseLong(md, 16))
  }

  test("3-word shingles are the distinct consecutive triples") {
    val got = onDoc("a b c d b c d")
      .select(expr(TextOps.shingleExpr("text", 3)).as("s"))
      .as[Seq[String]].head()
    assert(got == Seq("a b c", "b c d", "c d b", "d b c")) // distinct, first-seen order
  }

  test("native minhash band keys == composed array_min/transform form") {
    val df = onDoc("the quick brown fox jumps over the lazy dog again and again")
      .select(expr(TextOps.shingleHashesExpr("text", 3)).as("hs"))
    val native = df.select(expr("graft_minhash_bands(hs)").as("b"))
      .as[Seq[Long]].head()
    val composed = TextOps.bandKeyExprs("hs").map { case (_, e) =>
      df.select(expr(e).cast("long")).as[Long].head()
    }
    assert(native == composed)
  }

  test("native minhash signature == composed array_min/transform form") {
    val df = onDoc("the quick brown fox jumps over the lazy dog again and again")
      .select(expr(TextOps.shingleHashesExpr("text", 3)).as("hs"))
    val native = df.select(expr("graft_minhash_sig(hs)").as("m"))
      .as[Seq[Long]].head()
    val composed = TextOps.minhashExprs("hs").map { e =>
      df.select(expr(e).cast("long")).as[Long].head()
    }
    assert(native == composed)
    // empty input -> null, matching array_min(empty) => null
    val empty = Seq(Tuple1(Seq.empty[Long])).toDF("hs")
      .select(expr("graft_minhash_sig(hs)").as("m"))
    assert(empty.filter(col("m").isNull).count() == 1)
  }

  test("native shingle hashes == composed array_sort/distinct/md5 form") {
    val df = onDoc("the quick brown fox jumps over the quick brown fox again")
    val native = df.select(expr("graft_shingle_hashes3(text)").as("h"))
      .as[Seq[Long]].head()
    val composed = df.select(expr(TextOps.shingleHashesExpr("text", 3)).as("h"))
      .as[Seq[Long]].head()
    assert(native == composed)
  }

  test("native winnow fingerprints == composed rolling-hash window minima") {
    val df = onDoc("a quick brown fox jumps over the lazy dog")
    val native = df.select(expr("graft_winnow_7_4(text)").as("f"))
      .as[Seq[Long]].head().toSet
    val hs = s"transform(sequence(1, length(text) - 6), i -> ${TextOps.hash60("substring(text, i, 7)")})"
    val composed = df.select(expr(hs).as("hs"))
      .select(expr("""array_distinct(transform(sequence(1, size(hs) - 3),
        p -> least(element_at(hs, p), element_at(hs, p + 1),
                   element_at(hs, p + 2), element_at(hs, p + 3))))""").as("f"))
      .as[Seq[Long]].head().toSet
    assert(native == composed && native.nonEmpty)
  }

  test("native winnow matches the composed form on ASTRAL text: grams " +
      "are code-point grams, never split surrogate pairs") {
    // two different astral chars (surrogate pairs in UTF-16): a code-UNIT
    // walk would miscount the grams AND alias both chars to '?' when a
    // lone surrogate half UTF-8-encodes — Spark's substring/length (and
    // the DuckDB oracle) count code POINTS, the contract pinned here
    val astral = "ab𝒜cd😀efghijklm nopq"
    val df = onDoc(astral)
    val native = df.select(expr("graft_winnow_7_4(text)").as("f"))
      .as[Seq[Long]].head().toSet
    val hs = s"transform(sequence(1, length(text) - 6), i -> ${TextOps.hash60("substring(text, i, 7)")})"
    val composed = df.select(expr(hs).as("hs"))
      .select(expr("""array_distinct(transform(sequence(1, size(hs) - 3),
        p -> least(element_at(hs, p), element_at(hs, p + 1),
                   element_at(hs, p + 2), element_at(hs, p + 3))))""").as("f"))
      .as[Seq[Long]].head().toSet
    assert(native == composed && native.nonEmpty)
  }

  test("sorted intersect count == size(array_intersect) on sorted inputs") {
    val df = Seq((Seq(1L, 3L, 5L, 9L), Seq(2L, 3L, 9L, 11L))).toDF("a", "b")
    val native = df.select(expr("graft_sorted_intersect(a, b)")).as[Long].head()
    val builtin = df.select(size(array_intersect($"a", $"b")).cast("long")).as[Long].head()
    assert(native == 2L && native == builtin)
  }

  test("native positional gram hashes == composed transform/md5 form") {
    // duplicates preserved, order preserved, short-doc empty array;
    // astral tokens are safe — the split character (space) is a BMP
    // code unit, so surrogate pairs never split and token bytes match
    for (text <- Seq("a b c a b c", "a", "", "x y", "𝒜b 😀c 中文 𝒜b")) {
      val df = onDoc(text)
        .withColumn("toks", expr(TextOps.tokensExpr("text")))
      for (k <- Seq(1, 2)) {
        val native = df.select(expr(s"graft_pos_grams$k(text)").as("g"))
          .as[Seq[Long]].head()
        val composed = df.select(expr(TextOps.posGramHashesExpr("toks", k)).as("g"))
          .as[Seq[Long]].head()
        assert(native == composed, s"k=$k text='$text'")
      }
    }
  }

  test("clip count is the multiset intersection (Σ min of per-value counts)") {
    val df = Seq(
      // (a, b, want): 1 appears 3× and 2×, 2 appears 1× and 2×, 9 only left
      (Seq(1L, 1L, 1L, 2L, 9L), Seq(2L, 1L, 2L, 1L), 3L),
      (Seq.empty[Long], Seq(1L), 0L),
      (Seq(5L, 5L), Seq(5L, 5L), 2L)
    ).toDF("a", "b", "want")
    assert(df.filter(expr("graft_clip_count(a, b) != want")).count() == 0L)
  }

  test("native simhash signature == composed explode + 60-vote aggregate") {
    val samples = Seq("the quick brown fox", "the the the quick",
      "a", "", "x y z w v u t s r q p")
    val df = samples.toDF("text")
    val native = df.select(expr("graft_simhash60(text)")).as[Long].collect()
    val composed = samples.map { text =>
      val hs = text.split(" ", -1).map { t =>
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(t.getBytes("UTF-8"))
        java.lang.Long.parseLong(md.map(b => f"$b%02x").mkString.take(15), 16)
      }.distinct
      (0 until 60).map { j =>
        val vote = hs.map(h => if (((h >> j) & 1L) == 1L) 1 else -1).sum
        if (vote > 0) 1L << j else 0L
      }.sum
    }
    assert(native.toSeq == composed)
  }

  test("fused PII stats equal the composed count/redact/length/hash chain") {
    val samples = Seq(
      "reach me at bob.smith+x@example.co.uk or 10.0.0.1 ok",
      "two mails a@b.io c@d.org and ips 1.2.3.4 5.6.7.8",
      "no pii here at all",
      "ip-like 999.999.999.999 still matches the ipv4 shape",
      "email@example.com10.0.0.1 adjacency")
    val df = samples.toDF("text")
      .withColumn("ps", expr("graft_pii_stats(text)"))
      .withColumn("clean", graft.ops.PiiRedact.redact(col("text")))
    val bad = df.filter(
      expr(s"ps[0] != ${graft.ops.PiiRedact.countExpr("text", graft.ops.PiiRedact.EmailRe)}") ||
      expr(s"ps[1] != ${graft.ops.PiiRedact.countExpr("text", graft.ops.PiiRedact.Ipv4Re)}") ||
      expr("ps[2] != CAST(length(clean) AS BIGINT)") ||
      expr(s"ps[3] != ${TextOps.hash60("clean")}")).count()
    assert(bad == 0L)
  }

  test("empty-overlap and identical arrays") {
    val df = Seq(
      (Seq(1L, 2L), Seq(3L, 4L), 0L),
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L), 3L),
      (Seq.empty[Long], Seq(1L), 0L)
    ).toDF("a", "b", "want")
    val bad = df.filter(expr("graft_sorted_intersect(a, b) != want")).count()
    assert(bad == 0L)
  }
}

class VectorOpsSpec extends SparkSpec {
  import spark.implicits._

  test("graft_pairs equals the composed nested-transform pair generator") {
    val guarded = Seq(Seq(3L, 7L, 9L, 11L), Seq(1L, 2L)).toDF("ps")
    val native = guarded.select(expr("graft_pairs(ps)").as("p"))
      .as[Seq[(Long, Long)]].collect().toSeq
    val composed = guarded.select(expr(
      """flatten(transform(sequence(1, size(ps) - 1),
        |  i -> transform(sequence(i + 1, size(ps)),
        |    j -> struct(element_at(ps, i) AS a, element_at(ps, j) AS b))))"""
        .stripMargin).as("p"))
      .as[Seq[(Long, Long)]].collect().toSeq
    assert(native == composed && native.head.size == 6)
    // below the size-2 guard the composed form is UNDEFINED (sequence(1,
    // 0) descends and element_at throws under ANSI — why every caller
    // filters size >= 2 first); the native form yields the true empty set
    val short = Seq(Seq(5L), Seq.empty[Long]).toDF("ps")
    assert(short.select(expr("graft_pairs(ps)").as("p"))
      .as[Seq[(Long, Long)]].collect().forall(_.isEmpty))
  }

  test("graft_dot is bit-identical to the interpreted sequential fold") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 50).map(_ => (
      Seq.fill(64)(rnd.nextFloat().toDouble),
      Seq.fill(64)(rnd.nextFloat().toDouble)))
    val df = rows.toDF("a", "b")
    val fast = df.select(expr(VectorOps.fastDot("a", "b"))).as[Double].collect()
    val slow = df.select(expr(VectorOps.dotExpr("a", "b"))).as[Double].collect()
    assert(fast.toSeq.map(java.lang.Double.doubleToLongBits) ==
           slow.toSeq.map(java.lang.Double.doubleToLongBits))
  }

  test("hyperplane buckets are stable and in range") {
    val rnd = new scala.util.Random(11)
    val df = (1 to 20).map(_ => Tuple1(Seq.fill(64)(rnd.nextFloat().toDouble))).toDF("v")
    val buckets = df.select(expr(VectorOps.hyperplaneBucketExpr("v", 8, 64)).as("b"))
      .as[Long].collect()
    assert(buckets.forall(b => b >= 0 && b < 256))
    val again = df.select(expr(VectorOps.hyperplaneBucketExpr("v", 8, 64)).as("b"))
      .as[Long].collect()
    assert(buckets.toSeq == again.toSeq)
  }
}

class MultimodalSpec extends SparkSpec {

  test("decode stub: byte length, first byte, mod-997 checksum") {
    val m = Multimodal.MediaRecord(7L, "abc".getBytes("UTF-8"), "text/plain", 3L)
    val f = Multimodal.decodeStub(m)
    assert(f.n_bytes == 3)
    assert(f.first_byte == 'a'.toInt)
    assert(f.checksum == (97 + 98 + 99) % 997)
    assert(f.fake_label == f.checksum % 10)
  }

  test("container walk finds every frame boundary in concatenated PNGs") {
    val id = 5L // 2 + 5%4 = 3 frames
    val video = Multimodal.syntheticVideo(id)
    val slices = Multimodal.pngFrameSlices(video)
    assert(slices.length == 3)
    // the walk's byte slices must be EXACTLY the encoded frames
    assert(slices.map(_.toSeq) ==
      (0 until 3).map(f => Multimodal.syntheticPng(id * 7 + f).toSeq))
    // and each slice decodes to the frame's own generator dims
    slices.zipWithIndex.foreach { case (s, f) =>
      val fid = id * 7 + f
      val feat = Multimodal.decodePng(fid, s)
      assert(feat.width == (8 + fid % 9).toInt)
      assert(feat.height == (8 + (fid / 9) % 9).toInt)
    }
  }

  test("container walk fails fast on truncated and garbage payloads") {
    val good = Multimodal.syntheticPng(3L)
    intercept[IllegalArgumentException] {
      Multimodal.pngFrameSlices(good.dropRight(2)) // truncated IEND CRC
    }
    intercept[IllegalArgumentException] {
      Multimodal.pngFrameSlices(good ++ Array[Byte](1, 2, 3)) // junk tail
    }
  }

  test("frame sampling keeps every stride-th frame with source indices") {
    val spark2 = spark
    import spark2.implicits._
    val ids = spark.createDataset(Seq(3L)) // 2 + 3%4 = 5 frames
    val fs = Multimodal.videoFrames(ids, stride = 2).collect().sortBy(_.frame_idx)
    assert(fs.map(_.frame_idx).toSeq == Seq(0, 2, 4))
    fs.foreach { fr =>
      val fid = 3L * 7 + fr.frame_idx
      assert(fr.width == (8 + fid % 9).toInt)
      val expR = (for (y <- 0 until fr.height; x <- 0 until fr.width)
        yield (fid * 31 + x * 7 + y) % 256).sum
      assert(fr.sum_r == expR)
    }
  }

  test("real resize samples the decoded pixel grid nearest-neighbor") {
    val id = 13L
    val r = Multimodal.resizePng(id, Multimodal.syntheticPng(id), 4)
    val (w, h) = ((8 + id % 9).toInt, (8 + (id / 9) % 9).toInt)
    assert(r.orig_w == w && r.orig_h == h)
    assert(r.out_w == (w + 3) / 4 && r.out_h == (h + 3) / 4)
    val expR = (for (y <- 0 until r.out_h; x <- 0 until r.out_w)
      yield (id * 31 + (x * 4) * 7 + (y * 4)) % 256).sum
    val expB = (for (y <- 0 until r.out_h; x <- 0 until r.out_w)
      yield (id + (x * 4) + (y * 4) * 3) % 256).sum
    assert(r.sum_r == expR && r.sum_b == expB)
  }

  test("decode over a Dataset preserves one row per record") {
    val spark2 = spark
    import spark2.implicits._
    val ds = spark.createDataset(Seq(
      Multimodal.MediaRecord(1L, Array[Byte](1, 2), "x", 2L),
      Multimodal.MediaRecord(2L, Array[Byte](), "x", 0L)))
    val got = Multimodal.decode(ds).collect().sortBy(_.doc_id)
    assert(got.length == 2)
    assert(got(1).first_byte == -1) // empty payload sentinel
  }

  test("PNG round trip: real javax.imageio decode recovers exact pixels") {
    val id = 13L
    val bytes = Multimodal.syntheticPng(id)
    // a real PNG container: magic bytes \x89PNG
    assert((bytes(0) & 0xff) == 0x89 && bytes(1) == 'P'.toByte)
    val f = Multimodal.decodePng(id, bytes)
    val (w, h) = ((8 + id % 9).toInt, (8 + (id / 9) % 9).toInt)
    assert(f.width == w && f.height == h && f.channels == 3)
    val expR = (for (y <- 0 until h; x <- 0 until w)
      yield (id * 31 + x * 7 + y) % 256).sum
    val expG = (for (y <- 0 until h; x <- 0 until w)
      yield (x * 13L + y * 5) % 256).sum
    val expB = (for (y <- 0 until h; x <- 0 until w)
      yield (id + x + y * 3) % 256).sum
    assert(f.sum_r == expR && f.sum_g == expG && f.sum_b == expB)
  }

  test("PNG decode fails fast on garbage bytes") {
    intercept[IllegalArgumentException] {
      Multimodal.decodePng(1L, Array[Byte](1, 2, 3, 4))
    }
  }

  test("WAV round trip: real javax.sound decode recovers exact samples") {
    val id = 13L
    val bytes = Multimodal.syntheticWav(id)
    // a real RIFF/WAVE container
    assert(new String(bytes.slice(0, 4), "US-ASCII") == "RIFF")
    assert(new String(bytes.slice(8, 12), "US-ASCII") == "WAVE")
    val f = Multimodal.decodeWav(id, bytes)
    val s = Multimodal.syntheticSamples(id).map(_.toLong)
    assert(f.sample_rate == 8000 && f.n_samples == s.length.toLong)
    assert(f.sum_abs == s.map(math.abs).sum)
    assert(f.max_abs == s.map(math.abs).max)
    val zc = s.toSeq.sliding(2).count { case Seq(a, b) => (a < 0) != (b < 0) }
    assert(f.n_zero_cross == zc.toLong)
  }

  test("WAV decode fails fast on garbage bytes") {
    intercept[Exception] {
      Multimodal.decodeWav(1L, Array[Byte](1, 2, 3, 4))
    }
  }
}

class ExactSpec extends SparkSpec {
  import spark.implicits._

  test("cents scales 2-decimal measures to exact integers") {
    // inputs are nearest-doubles of 2-decimal values (the only shape the
    // data contains) plus a float-noise sum; both round unambiguously
    val df = Seq(1.23, 100.0, 0.1 + 0.2, -7.5).toDF("x")
    val got = df.select(graft.Exact.cents(col("x"))).as[Long].collect().toSeq
    assert(got == Seq(123L, 10000L, 30L, -750L))
  }
}
