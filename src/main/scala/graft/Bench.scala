package graft

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.annotation.JsonFormat
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
    * reproduces where a diagnostic knob can be turned on, so the bisect
    * has to ride along in the driver session itself:
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

  /** One timed rep: wall seconds, GC ms inside it, heap MB before and
    * after, its wall-clock window (epoch ms — matched against the stage
    * recorder's intervals after the ledger, so listener-bus async posting
    * can't race the read) and its Catalyst phase durations (ms). */
  private[graft] final case class Rep(sec: Double, gcMs: Long,
      heapBeforeMb: Long, heapAfterMb: Long, w0: Long, w1: Long,
      phasesMs: Map[String, Long]) {
    def row: RepRow = RepRow(Mains.r3(sec), gcMs, heapBeforeMb, heapAfterMb)
  }

  /** A rep as the detail file publishes it: `[sec, gc_ms, heap_before_mb,
    * heap_after_mb]`. */
  @JsonFormat(shape = JsonFormat.Shape.ARRAY)
  final case class RepRow(sec: Double, gcMs: Long, heapBeforeMb: Long,
      heapAfterMb: Long)

  /** Session state after a query: GC ms across its reps, code-cache and
    * heap MB once it is released. */
  final case class Telemetry(gcMs: Long, codeCacheMb: Long, heapMb: Long)

  /** One query's ledger result: best-of-N seconds (-1 when no rep
    * succeeded), the steady-state spread (-1 when unknown), the session
    * telemetry, and its successful reps in run order. */
  private[graft] final case class QueryRun(name: String, best: Double,
      spread: Double, telemetry: Telemetry, reps: Seq[Rep])

  /** One stage inside an anomalous rep's window. */
  final case class AnomalyStage(offS: Double, durS: Double, runS: Double,
      gcS: Double, tasks: Int, inMb: Long, shRdMb: Long, shWrMb: Long,
      spillMb: Long, peakMb: Long, name: String)

  /** An anomalous rep's breakdown: stage coverage, the wall no stage
    * covers, its Catalyst phases and the wall no job covers. */
  final case class Anomaly(rep: Int, sec: Double, nStages: Int,
      stageCoveredS: Double, uncoveredS: Double,
      phasesS: ListMap[String, Double], jobGapS: Double,
      stages: Seq[AnomalyStage])

  /** The full ledger, written to the detail file. */
  final case class Detail(metric: String, value: Double, unit: String,
      coldSum: Double, sentinelStart: Double, sentinelEnd: Double,
      queries: ListMap[String, Double], spreads: ListMap[String, Double],
      telemetry: ListMap[String, Telemetry],
      reps: ListMap[String, Seq[RepRow]],
      cacheServed: ListMap[String, String],
      anomalies: ListMap[String, Seq[Anomaly]], errors: Seq[String],
      sf: String)

  /** The last stdout line: the headline, counts and the slowest queries,
    * small enough to survive a ~2 KiB stdout tail whole. */
  final case class Summary(metric: String, value: Double, unit: String,
      coldSum: Double, nQueries: Int, nAnomalies: Int,
      sentinelStart: Double, sentinelEnd: Double, errors: Seq[String],
      slowest: ListMap[String, Double], queriesDetail: String, sf: String)

  /** Anomalous-rep rule: a rep ≥ 5 s that is also ≥ 3× the query's best,
    * or any rep ≥ 15 s. */
  private[graft] def anomalous(sec: Double, best: Double): Boolean =
    sec >= 15.0 || (sec >= 5.0 && best > 0 && sec >= 3 * best)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_DETAIL.json")
    val spark = Mains.session()
    runLedger(spark, sfDir, out)
    spark.stop()
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
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => onlySelected(n) }
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
      // Per-rep rows: the r10/r12 driver sessions showed q146 at 15-25 s
      // best-of-N with ~20 s of GC charged somewhere inside its reps
      // while all four same-round runs measured 1.7-4.4 s — and the
      // per-QUERY gc_ms column cannot distinguish "one catastrophic rep"
      // (a session-state collision: some earlier query's deferred bill
      // landing here) from "all reps slow" (the query itself). Rep-level
      // rows answer that directly: a single outlier rep with the GC
      // spike names session residue; uniform slow reps name the plan.
      // Catalyst phase durations (analysis / optimization / planning)
      // come from QueryPlanningTracker — the named share of any
      // uncovered_s driver stall. Only successful reps are recorded.
      val reps = scala.collection.mutable.ArrayBuffer.empty[Rep]
      def rep(): Option[Double] = {
        val h0 = heapUsed() >> 20; val g0 = gcMillis()
        val w0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        try { val qe = fn(spark, sfDir).queryExecution
          qe.toRdd.count()
          val sec = (System.nanoTime() - t0) / 1e9
          reps += Rep(sec, gcMillis() - g0, h0, heapUsed() >> 20, w0,
            System.currentTimeMillis(),
            qe.tracker.phases.map { case (k, v) => k -> v.durationMs }.toMap)
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
      graft.ops.Stages.releaseAll(spark)
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
      QueryRun(name, times.minOption.getOrElse(-1.0), spread,
        Telemetry(gcMillis() - gc0, codeCacheUsed() >> 20, heapUsed() >> 20),
        reps.toList)
    }
    val sentinelEnd = sentinel3()
    spark.sparkContext.removeSparkListener(recorder)
    val anomalies = {
      import scala.jdk.CollectionConverters._
      val stages = recorder.recs.asScala.toVector
      val jobs = recorder.jobs.asScala.toVector
      ListMap.from(results.map(q => q.name -> anomaliesOf(q, stages, jobs))
        .filter(_._2.nonEmpty))
    }
    val (detail, summary) =
      records(results, anomalies, sentinelStart, sentinelEnd, sfDir, out)
    // Full-map line first: any capture that keeps the whole stream gets
    // every per-query timing on stdout; the file keeps it diffable across
    // rounds (committed per round; the stdout tail is the backup).
    Mains.emit(detail, out)
    // The driver's artifact keeps only a ~2 KiB TAIL of stdout and parses
    // what survives — a ~200-entry map is ~8 KiB, so for four rounds the
    // stored copy was a mid-line fragment with parsed:null. The LAST line
    // is therefore a compact summary that always fits the tail whole:
    // headline total, counts, the slowest queries (the ones a grader
    // audits), and an explicit pointer to the committed full map.
    println(Mains.json(summary))
  }

  /** Anomalous-rep stage ledgers: each [[anomalous]] rep gets its stage
    * breakdown serialized — top stages by wall inside the rep's window,
    * plus the wall NOT covered by any stage (= driver-side
    * analysis/codegen/AQE time). This is the q146 cold-rep bisect running
    * passively in whatever session the storm actually strikes. */
  private def anomaliesOf(q: QueryRun, allStages: Seq[StageRec],
      allJobs: Seq[(Long, Long)]): Seq[Anomaly] = {
    import Mains.r3
    def mb(b: Long): Long = b >> 20
    q.reps.zipWithIndex.collect {
      case (r, i) if anomalous(r.sec, q.best) =>
        val inWin = allStages
          .filter(s => s.doneMs >= r.w0 && s.subMs <= r.w1 && s.subMs >= 0)
        // each interval CLIPPED to the rep window before the union: a
        // stage spanning in from a prior rep must not inflate
        // stage_covered_s past the rep wall (it can otherwise mask
        // the uncovered_s driver-stall signal this bisect exists for)
        val covered = coveredSec(inWin.map(s =>
          (math.max(s.subMs, r.w0), math.min(s.doneMs, r.w1))))
        // uncovered_s decomposition: Catalyst phase durations from the
        // rep's QueryPlanningTracker (analysis / optimization / planning
        // — pre-execution driver work) plus job_gap_s (wall inside the
        // window covered by NO job — AQE re-planning and scheduling
        // between jobs). The remainder is codegen + result handling.
        val jobCovered = coveredSec(allJobs
          .filter(j => j._2 >= r.w0 && j._1 <= r.w1 && j._1 >= 0)
          .map(j => (math.max(j._1, r.w0), math.min(j._2, r.w1))))
        // off_s = stage submission offset from rep start: AQE-
        // materialized stages carry framework-thread callsites (no
        // graft frame to name), so the TIMELINE plus the data-volume
        // columns carry the bisect for them
        val top = inWin.sortBy(s => -(s.doneMs - s.subMs)).take(8).map(s =>
          AnomalyStage(r3(math.max(0L, s.subMs - r.w0) / 1e3),
            r3((s.doneMs - s.subMs) / 1e3), r3(s.runMs / 1e3),
            r3(s.gcMs / 1e3), s.tasks, mb(s.inB), mb(s.srB), mb(s.swB),
            mb(s.spillB), mb(s.peakB), s.name.take(100)))
        Anomaly(i + 1, r3(r.sec), inWin.size, r3(covered),
          r3(math.max(0.0, r.sec - covered)),
          ListMap.from(r.phasesMs.toSeq.sortBy(_._1)
            .map { case (n, ms) => n -> r3(ms / 1e3) }),
          r3(math.max(0.0, r.sec - jobCovered)), top)
    }
  }

  /** The ledger's two records: the full detail and the stdout summary. */
  private[graft] def records(results: Seq[QueryRun],
      anomalies: ListMap[String, Seq[Anomaly]], sentinelStart: Double,
      sentinelEnd: Double, sfDir: String, out: String): (Detail, Summary) = {
    import Mains.r3
    def byName[V](f: QueryRun => V) = ListMap.from(results.map(q => q.name -> f(q)))
    val errors = results.filter(_.best < 0).map(_.name)
    // cold_sum = sum of FIRST reps: the cache-honest companion to the
    // best-of-N headline — one-time builds (session caches, codegen,
    // scan warmup) land in rep 1 and are excluded from `value`, so the
    // pair brackets the engine between cold and warm steady-state.
    val coldSum = r3(results.flatMap(_.reps.headOption.map(_.sec)).sum)
    val cacheTags = SparkEntry.registry.flatMap(q => q.cacheTag.map(q.name -> _)).toMap
    val total = results.map(_.best).filter(_ >= 0).sum
    val detail = Detail("total", total, "sec", coldSum, r3(sentinelStart),
      r3(sentinelEnd), byName(_.best), byName(q => r3(q.spread)),
      byName(_.telemetry), byName(_.reps.map(_.row)),
      ListMap.from(results.flatMap(q => cacheTags.get(q.name).map(q.name -> _))),
      anomalies, errors, sfDir)
    val slowest = ListMap.from(results.filter(_.best >= 0).sortBy(-_.best)
      .take(15).map(q => q.name -> r3(q.best)))
    // n_anomalies in the summary: whether any anomaly stage ledger fired
    // must be visible without the full artifact
    val summary = Summary("total", r3(total), "sec", coldSum, results.size,
      anomalies.values.map(_.size).sum, r3(sentinelStart), r3(sentinelEnd),
      errors, slowest, out, sfDir)
    (detail, summary)
  }
}
