package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Property-based invariants (SURVEY.md §5.4) over seeded random cases:
  * sessionization partitions events exactly (count = qualifying gaps + 1);
  * global top-k is a prefix of the full sort for any k; cumulative sums
  * are monotone for non-negative measures; team keys are input-order
  * independent. Deterministic seeds keep the suite reproducible. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def cases[A](seed: Int, n: Int)(mk: scala.util.Random => A): Seq[A] = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map(_ => mk(rnd))
  }

  test("sessionize: every event in exactly one session; count = gaps + 1") {
    cases(1, 8) { rnd =>
      (1 to (1 + rnd.nextInt(40))).map(_ => rnd.nextLong(100000L)).toList
    }.foreach { ts =>
      val sorted = ts.sorted
      val gap = 500L
      val df = sorted.zipWithIndex.map { case (t, i) =>
        (1L, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(t)), i.toLong)
      }.toDF("uid", "ts", "eid")
      val seqs = Sessionize.assign(df, col("uid"), col("ts"), col("eid"), gap)
        .select("session_seq").as[Long].collect().toSeq
      val expectedSessions = 1 + sorted.sliding(2).count {
        case List(a, b) => b - a >= gap
        case _          => false
      }
      assert(seqs.length == ts.length)
      assert(seqs.max == expectedSessions && seqs.min == 1L)
    }
  }

  test("global top-k == prefix of full sort, for any k") {
    cases(2, 8) { rnd =>
      val vs = (1 to (1 + rnd.nextInt(60))).map(_ => rnd.nextLong(2000L) - 1000L)
      (vs, 1 + rnd.nextInt(20))
    }.foreach { case (vs, k) =>
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
      val top = TopK.global(df, k, desc("v"), col("id"))
        .select("id").as[Long].collect().toSeq
      val full = df.orderBy(desc("v"), col("id"))
        .select("id").as[Long].collect().take(k).toSeq
      assert(top == full)
    }
  }

  test("cumulative frame is monotone non-decreasing for non-negative measures") {
    cases(3, 6) { rnd =>
      (1 to (1 + rnd.nextInt(40))).map(_ => rnd.nextLong(10000L))
    }.foreach { vs =>
      val df = vs.zipWithIndex.map { case (v, i) => (1L, f"d$i%05d", v) }
        .toDF("uid", "day", "cents")
      val cums = Frames.smoothedAndCumulative(df, col("uid"), col("day"),
          Seq("v" -> col("cents")), Seq(3), 1.0)
        .orderBy("day").select("v_cum").as[Double].collect().toSeq
      assert(cums.zip(cums.tail).forall { case (a, b) => a <= b })
      assert(math.abs(cums.last - vs.map(_.toDouble).sum) < 1e-6)
    }
  }

  test("team key is invariant under input permutation") {
    cases(4, 6) { rnd =>
      val members = (1 to (1 + rnd.nextInt(30))).map(_ => 1L + rnd.nextInt(50)).toList
      (members, new scala.util.Random(rnd.nextInt()).shuffle(members))
    }.foreach { case (members, shuffled) =>
      val a = members.map((1L, _)).toDF("g", "m")
      val b = shuffled.map((1L, _)).toDF("g", "m")
      val ka = TeamKey.teamKey(a, col("g"), col("m")).select("team_key").as[String].head()
      val kb = TeamKey.teamKey(b, col("g"), col("m")).select("team_key").as[String].head()
      assert(ka == kb)
      assert(ka.split(",").map(_.toLong).toSeq == members.distinct.sorted)
    }
  }

  test("prefix-filter pigeonhole: any Jaccard >= 0.5 hash-set pair shares a prefix hash") {
    // the q29 blocking lemma, checked directly on random sorted hash sets:
    // prefixes of length floor(n/2)+1 must intersect whenever J >= 0.5
    cases(5, 200) { rnd =>
      val universe = (1L to 40L).toVector
      val a = rnd.shuffle(universe).take(4 + rnd.nextInt(20)).toSet
      // derive b from a by dropping/adding a few elements -> varied Jaccard
      val b = a.filter(_ => rnd.nextDouble() > 0.2) ++
        rnd.shuffle(universe).take(rnd.nextInt(4))
      (a, b)
    }.foreach { case (a, b) =>
      if (a.nonEmpty && b.nonEmpty) {
        val j = a.intersect(b).size.toDouble / a.union(b).size
        if (j >= 0.5) {
          val pa = a.toSeq.sorted.take(a.size / 2 + 1).toSet
          val pb = b.toSeq.sorted.take(b.size / 2 + 1).toSet
          assert(pa.intersect(pb).nonEmpty,
            s"pigeonhole violated for J=$j a=$a b=$b")
        }
      }
    }
  }

  test("simhash banding: any pair within Hamming 3 shares one of the 4 band keys") {
    // the q54 blocking lemma over random 60-bit values and random <=3-bit flips
    cases(6, 300) { rnd =>
      val v = rnd.nextLong() & ((1L << 60) - 1)
      val flips = (1 to rnd.nextInt(4)).map(_ => rnd.nextInt(60)).distinct
      (v, flips.foldLeft(v)((x, b) => x ^ (1L << b)))
    }.foreach { case (x, y) =>
      def bands(v: Long) = (0 until 4).map(j => (j, (v >> (j * 15)) & 0x7FFFL))
      assert(java.lang.Long.bitCount(x ^ y) > 3 ||
             bands(x).intersect(bands(y)).nonEmpty)
    }
  }

  test("min-label components equal brute-force transitive closure") {
    cases(7, 6) { rnd =>
      (1 to (2 + rnd.nextInt(12))).map(_ =>
        (rnd.nextLong(15L), rnd.nextLong(15L))).filter(p => p._1 != p._2)
    }.filter(_.nonEmpty).foreach { edges =>
      // brute force: repeatedly relabel to the min over each edge
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      var label = nodes.map(n => n -> n).toMap
      var changed = true
      while (changed) {
        changed = false
        edges.foreach { case (a, b) =>
          val m = math.min(label(a), label(b))
          if (label(a) != m || label(b) != m) {
            label += a -> m; label += b -> m; changed = true
          }
        }
      }
      val got = Components.minLabel(edges.toDF("doc_a", "doc_b"), "doc_a", "doc_b")
        .select("id", "component").as[(Long, Long)].collect().toMap
      assert(got == label)
    }
  }

  test("minLabel collapses a 300-node path within the round budget (pointer jumping)") {
    // graph diameter 299 — plain one-hop propagation would need 299
    // rounds and trip the 50-round budget (the q185 sf1 failure mode);
    // the shortcutting step must converge in O(log diameter).
    // localEdgeMax = 0 forces the DISTRIBUTED loop (this is its test —
    // 299 edges would otherwise take the union-find fast path)
    val edges = (0L until 299L).map(i => (i, i + 1))
    val got = Components.minLabel(edges.toDF("doc_a", "doc_b"),
        "doc_a", "doc_b", localEdgeMax = 0)
      .select("id", "component").as[(Long, Long)].collect().toMap
    assert(got.size == 300 && got.values.forall(_ == 0L))
  }

  test("minLabel: driver-side union-find path == distributed fixpoint (long ids)") {
    cases(11, 5) { rnd =>
      (1 to (3 + rnd.nextInt(25))).map(_ =>
        (rnd.nextLong(40L), rnd.nextLong(40L))).filter(p => p._1 != p._2)
    }.filter(_.nonEmpty).foreach { edges =>
      val df = edges.toDF("doc_a", "doc_b")
      val local = Components.minLabel(df, "doc_a", "doc_b")
        .select("id", "component").as[(Long, Long)].collect().toMap
      val dist = Components.minLabel(df, "doc_a", "doc_b", localEdgeMax = 0)
        .select("id", "component").as[(Long, Long)].collect().toMap
      assert(local == dist)
    }
  }

  test("minLabel: union-find path == distributed fixpoint (string ids, q146 shape)") {
    // the ER graph's node type — string min must be UTF8 byte order on
    // BOTH paths; mixed-case + length-prefix names exercise the ordering
    val names = Seq("almond", "Almond", "almon", "beige", "beig", "beigee",
      "chiffon", "chifon", "zzz")
    val rnd = new scala.util.Random(17)
    val edges = (1 to 12).map { _ =>
      (names(rnd.nextInt(names.length)), names(rnd.nextInt(names.length)))
    }.filter(p => p._1 != p._2)
    val df = edges.toDF("na", "nb")
    val local = Components.minLabel(df, "na", "nb")
      .select("id", "component").as[(String, String)].collect().toMap
    val dist = Components.minLabel(df, "na", "nb", localEdgeMax = 0)
      .select("id", "component").as[(String, String)].collect().toMap
    assert(local == dist && local.nonEmpty)
  }

  test("minLabel distributed path: deep planted path (depth 2000) converges without raising maxIter") {
    // the high-diameter stress the SoCC'14 citation is about: pointer
    // jumping must keep rounds ~log2(2000) ≈ 11, far under the 50
    // budget — maxIter = 16 PINS the log-round property (r16): a
    // propagation-only loop would need 1999 rounds and must fail here
    val edges = (0L until 1999L).map(i => (i, i + 1))
    val got = Components.minLabel(edges.toDF("doc_a", "doc_b"),
        "doc_a", "doc_b", maxIter = 16, localEdgeMax = 0)
      .select("id", "component").as[(Long, Long)].collect().toMap
    assert(got.size == 2000 && got.values.forall(_ == 0L))
  }

  test("minLabel: local path at localEdgeMax = n, distributed at n - 1, same labels") {
    // 24 undirected pairs → n = 48 symmetric edges, the count the bound
    // is checked against; a driver-built result is a local relation, the
    // loop's is a checkpoint
    val pairs = (0L until 24L).map(i => (i % 7, 100L + i)).toDF("doc_a", "doc_b")
    val n = 48
    def run(bound: Int) = {
      val out = Components.minLabel(pairs, "doc_a", "doc_b", localEdgeMax = bound)
      val sealedOut = out.queryExecution.logical
        .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
      (out.select("id", "component").as[(Long, Long)].collect().toMap, sealedOut)
    }
    val (local, localSealed) = run(n)
    val (dist, distSealed) = run(n - 1)
    assert(!localSealed && distSealed)
    assert(local == dist && local.size == 31)
  }

  test("minLabel releases its checkpoints: only the result's own stays persisted") {
    val pairs = (0L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    Seq(DriverCollect.Max, 0).foreach { bound =>
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet.toSet
      val out = Components.minLabel(pairs, "doc_a", "doc_b", localEdgeMax = bound)
      val left = sc.getPersistentRDDs.keySet.toSet -- before
      val own = out.queryExecution.logical match {
        case l: org.apache.spark.sql.execution.LogicalRDD => Set(l.rdd.id)
        case _ => Set.empty[Int]
      }
      assert(left == own, s"localEdgeMax = $bound: left $left, result's own $own")
      assert(own.nonEmpty == (bound == 0))
      assert(out.count() == 41)
      Stages.release(Seq(out))
    }
  }
}
