package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[LinearTrain]] — exact-integer standardized LS-GD classifier
  * training: isqrt exactness, the Scala/SQL hash-bucket twin, learning
  * on a planted concept, determinism, and closure-vs-relational scoring
  * parity. */
class LinearTrainSpec extends SparkSpec {
  import spark.implicits._

  test("isqrt is exactly floor(sqrt) incl. perfect-square boundaries") {
    val cases = Seq[BigInt](0, 1, 2, 3, 4, 8, 9, 10, 15, 16, 17,
      BigInt(Long.MaxValue), BigInt("123456789012345678901234567890")) ++
      (1 to 50).map(i => BigInt(i) * i) ++
      (1 to 50).map(i => BigInt(i) * i - 1) ++
      (1 to 50).map(i => BigInt(i) * i + 1)
    cases.filter(_ >= 0).foreach { v =>
      val s = LinearTrain.isqrt(v)
      assert(s * s <= v && (s + 1) * (s + 1) > v, s"isqrt($v) = $s")
    }
  }

  test("hashBucket matches the Spark pmod(hash60) expression token for token") {
    val toks = Seq("the", "a", "join", "hash", "", "Ünïcode", "x y",
      "0", "9999999", "tok_with_underscores")
    val spark2 = spark
    import spark2.implicits._
    val got = toks.toDF("tok")
      .withColumn("b", expr(s"pmod(${TextOps.hash60("tok")}, ${LinearTrain.B})"))
      .select("tok", "b").as[(String, Long)].collect().toMap
    toks.foreach { t =>
      assert(LinearTrain.hashBucket(t).toLong == got(t),
        s"bucket mismatch for '$t'")
    }
  }

  // a corpus where the label rule (n_chars >= 300) tracks doc length:
  // short docs of 20 tokens, long docs of 80, from a 12-word vocabulary
  private def corpus(nDocs: Int) = {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu")
    (1 to nDocs).map { i =>
      val len = if (i % 2 == 0) 80 else 20
      val text = (0 until len).map(j => vocab((i * 7 + j * 3) % 12))
        .mkString(" ")
      (i.toLong, text, text.length.toLong)
    }
  }

  test("the fixed-iteration loop learns the length gate on a planted " +
      "corpus, and weights are identical under reversed arrival order") {
    val docs = corpus(120).toDF("doc_id", "text", "n_chars")
    val st = LinearTrain.train(docs)
    assert(st.n == 120L)
    assert(st.w.exists(_ != 0L), "training must move off the zero vector")
    val m = LinearTrain.marginDf(docs, st)
      .select(col("y").cast("long"), (col("m") > 0).cast("int") * 2 - 1)
      .as[(Long, Long)].collect()
    val acc = m.count { case (y, p) => y == p }.toDouble / m.length
    assert(acc >= 0.95, s"planted length gate should be learned, acc=$acc")
    // determinism: reversed, single-partition input trains the SAME state
    val st2 = LinearTrain.train(
      docs.orderBy(col("doc_id").desc).coalesce(1))
    assert(st2 == st)
  }

  test("the batched-closure scorer and the relational margin path agree " +
      "on every document (score * W * Q == integer margin)") {
    val docs = corpus(40).toDF("doc_id", "text", "n_chars")
    val st = LinearTrain.train(docs)
    val viaDf = LinearTrain.marginDf(docs, st)
      .select(col("doc_id"), col("m").cast("long"))
      .as[(Long, Long)].collect().toMap
    val ds = docs.select(col("doc_id"), col("text"))
      .as[Inference.DocIn]
    val viaClosure = Inference
      .scoreBatched(ds, 7, LinearTrain.scorer(st))
      .collect().map(s2 => s2.doc_id -> s2.score).toMap
    viaDf.foreach { case (id, m) =>
      assert(viaClosure(id) == m.toDouble / (LinearTrain.W * LinearTrain.Q),
        s"doc $id: closure ${viaClosure(id)} vs margin $m")
    }
  }

  test("one-vs-rest over char trigrams recovers a planted language " +
      "signal, deterministically under reversed arrival order") {
    // three "languages" with disjoint character inventories, so the
    // trigram space separates them linearly
    val vocabs = Map(
      "aa" -> Vector("abba", "baab", "abab", "bbaa"),
      "cc" -> Vector("ccdd", "dccd", "cdcd", "ddcc"),
      "ee" -> Vector("eeff", "feef", "efef", "ffee"))
    val classes = vocabs.keys.toSeq.sorted
    val docs = (1 to 90).map { i =>
      val cls = classes(i % 3)
      val v = vocabs(cls)
      val text = (0 until 30).map(j => v((i * 5 + j) % 4)).mkString(" ")
      (i.toLong, cls, text)
    }.toDF("doc_id", "lang", "text")
    def base(d: org.apache.spark.sql.DataFrame) = d
      .withColumn("cs", expr("split(text, '')"))
      .select(col("doc_id"), col("lang"),
        explode(expr(
          TextOps.charTrigramBucketsExpr("cs", LinearTrain.B))).as("b"))
      .groupBy(col("doc_id"), col("lang"), col("b"))
      .agg(count(lit(1)).as("cnt"))
      .unionByName(d.select(col("doc_id"), col("lang"),
        lit(LinearTrain.B.toLong).as("b"), lit(1L).as("cnt")))
    def states(d: org.apache.spark.sql.DataFrame) = {
      val rows = base(d)
      classes.map { c =>
        c -> LinearTrain.trainOnRows(rows.select(col("doc_id"),
          when(col("lang") === c, 1).otherwise(-1).as("y"),
          col("b"), col("cnt")))
      }
    }
    val sts = states(docs)
    // n comes from bucket B's sum: one bias row per doc
    assert(sts.forall(_._2.n == 90L))
    // argmax margin per doc, ties to the smallest class name, recovers
    // the planted class
    val argmax = sts.flatMap { case (c, st) =>
      LinearTrain.marginsFromRows(base(docs).select(col("doc_id"),
          when(col("lang") === c, 1).otherwise(-1).as("y"),
          col("b"), col("cnt")), st)
        .select(col("doc_id"), col("m").cast("long"))
        .as[(Long, Long)].collect().map { case (id, m) => (id, c, m) }
    }.groupBy(_._1).map { case (id, rs) => id -> rs.minBy(r => (-r._3, r._2))._2 }
    val truth = docs.select("doc_id", "lang").as[(Long, String)]
      .collect().toMap
    val acc = argmax.count { case (id, c) => c == truth(id) }.toDouble /
      truth.size
    assert(acc >= 0.95, s"planted language signal should be learned, acc=$acc")
    // determinism under reversed single-partition arrival
    val sts2 = states(docs.orderBy(col("doc_id").desc).coalesce(1))
    assert(sts2 == sts)
    // the counts-ARRAY kernels (the q211/q212 path: one mapPartitions
    // pass per round, 128-bit gradient accumulators) train BIT-IDENTICAL
    // states to the per-class loop (the oracle twin replays the
    // per-class chains) and predict the same argmax
    val cntsDf = docs.withColumn("cnts",
      expr(s"graft_trigram_buckets${LinearTrain.B}(text)"))
    val fromCounts = LinearTrain
      .trainMultiFromCounts(cntsDf, "lang", "cnts", classes)
    sts.foreach { case (c, st) =>
      assert(fromCounts(c) == st, s"counts-array class $c") }
    val predicted = LinearTrain
      .predictFromCounts(cntsDf, "doc_id", "lang", "cnts",
        classes.map(c => c -> fromCounts(c)))
      .select(col("doc_id"), col("predicted_cls"))
      .as[(Long, String)].collect().toMap
    assert(predicted == argmax)
  }

  test("native trigram-bucket counts equal the composed lambda form on " +
      "ascii, multibyte, short, and empty strings") {
    val B = LinearTrain.B
    val samples = Seq("the quick brown fox", "ab", "", "aaa",
      "tüv äöü ß中文本 €uro", "中中中中", "a中b", "x")
    val df = samples.toDF("text")
      .withColumn("cs", expr("split(text, '')"))
      .withColumn("native", expr(s"graft_trigram_buckets$B(text)"))
      .withColumn("lambda", expr(TextOps.charTrigramBucketsExpr("cs", B)))
    df.select(col("text"), col("native"), col("lambda"))
      .as[(String, Seq[Long], Seq[Long])].collect().foreach {
        case (text, native, lam) =>
          assert(native.size == B + 1 && native(B) == 1L,
            s"'$text': bias slot")
          val fromLambda = lam.groupBy(identity).view.mapValues(_.size.toLong)
          (0 until B).foreach { b =>
            assert(native(b) == fromLambda.getOrElse(b.toLong, 0L),
              s"'$text' bucket $b: native ${native(b)} vs lambda")
          }
      }
  }

  test("native token-bucket counts equal the exploded featureRows aggregation") {
    val docs = corpus(30).toDF("doc_id", "text", "n_chars")
    val exploded = LinearTrain.featureRows(docs)
      .select(col("doc_id"), col("b"), col("cnt"))
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => r._2 -> r._3).toMap).toMap
    val native = docs
      .select(col("doc_id"),
        expr(s"graft_token_buckets${LinearTrain.B}(text)").as("cnts"))
      .as[(Long, Seq[Long])].collect().toMap
    native.foreach { case (id, cnts) =>
      assert(cnts.size == LinearTrain.B + 1 && cnts(LinearTrain.B) == 1L)
      (0 until LinearTrain.B).foreach { b =>
        assert(cnts(b) == exploded(id).getOrElse(b.toLong, 0L),
          s"doc $id bucket $b")
      }
    }
    // and the margin EXPRESSION serves the same integers as the
    // relational margin path
    val st = LinearTrain.train(docs)
    val viaExpr = docs
      .select(col("doc_id"),
        expr(LinearTrain.marginExprFromCounts(
          s"graft_token_buckets${LinearTrain.B}(text)", st)).as("m"))
      .as[(Long, Long)].collect().toMap
    val viaRows = LinearTrain.marginDf(docs, st)
      .select(col("doc_id"), col("m").cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(viaExpr == viaRows)
  }

  test("an empty corpus trains to the zero vector without dividing by zero") {
    val docs = Seq.empty[(Long, String, Long)]
      .toDF("doc_id", "text", "n_chars")
    val st = LinearTrain.train(docs)
    assert(st.n == 0L && st.w.forall(_ == 0L) && st.t0 == BigInt(1))
  }
}
