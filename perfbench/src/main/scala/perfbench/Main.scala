package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one workload, one fresh session, one scratch
  * directory. Prints one JSON result as its last stdout line.
  *
  *   perfbench.Main --workload <cron_steady|query_ledger>
  *     --seed <n> --seconds <s> --trace <0|1> --work <dir> --data <dir>
  *
  * The timed phase is a fixed amount of work, whatever `--seconds` says,
  * so that every commit measures the same operations: one cron tick with
  * its compaction, or `Sizes.ledgerPasses` passes over the ledger's
  * queries, the first of them cold. Both take longer than the 10 s the
  * benchmark is run with. With `--trace 1` every operation runs with the
  * passive listeners and spans, and the result holds the per-layer metrics
  * instead.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, data: String)

  final case class Metric(name: String, value: Double, unit: String)

  /** One timed operation. `ok` is false when it threw or its output check
    * failed; a failed operation contributes no time. */
  final case class Op(startMs: Long, endMs: Long, seconds: Double, ok: Boolean)

  final case class Outcome(setupS: Double, runS: Double, opP50S: Double, ops: Seq[Op],
                           layers: Seq[Metric])

  def parseArgs(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), need("data"))
  }

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a.work)
    val run = new Run(spark, a)
    val out = a.workload match {
      case "cron_steady"   => run.cronSteady()
      case "query_ledger"  => run.queryLedger()
      case w               => sys.error(s"unknown workload $w")
    }
    val setupS = (run.sessionReadyMs - jvmStart) / 1e3 + out.setupS
    System.err.println(f"[perfbench] session ${(run.sessionReadyMs - jvmStart) / 1e3}%.3f s, set-up $setupS%.3f s")
    if (a.trace) run.writeSpans(s"${a.work}/spans.jsonl")
    println(resultJson(a, setupS, out))
    spark.stop()
  }

  /** Resident-set high-water of this process in MB (Linux), else 0. */
  def peakRssMb(): Double = {
    val f = Paths.get("/proc/self/status")
    if (!Files.exists(f)) 0.0
    else scala.io.Source.fromFile(f.toFile).getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  def resultJson(a: Args, setupS: Double, out: Outcome): String = {
    val attempted = out.ops.size
    val failed = out.ops.count(!_.ok)
    val metrics =
      if (!a.trace) Seq(
        Metric("setup_s", setupS, "s"),
        Metric("run_s", out.runS, "s"))
      else {
        val given = out.layers.map(m => m.name -> m).toMap
        Layers.all.map { case (n, u) => given.getOrElse(n, Metric(n, 0.0, u)) } ++ Seq(
          Metric("trace.run_s", out.runS, "s"),
          Metric("run.op_p50_s", out.opP50S, "s"),
          Metric("run.ops", out.ops.count(_.ok).toDouble, "count"),
          Metric("run.fail_ratio", Stats.ratio(failed, attempted), "ratio"),
          Metric("run.peak_rss_mb", peakRssMb(), "MB"))
      }
    val ms = metrics.map(m => s""""${m.name}":{"value":${fmt(m.value)},"unit":"${m.unit}"}""")
    s"""{"correct":${failed == 0 && attempted > 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${ms.mkString(",")}}}"""
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  // ---- file-system helpers ------------------------------------------------

  def dataFiles(dir: File): Seq[File] =
    if (!dir.exists()) Nil
    else Files.walk(dir.toPath).toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path].toFile)
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))

  def bytes(files: Seq[File]): Long = files.map(_.length).sum

  /** Copies the tree under `from` to `to` with plain file I/O. */
  def copyTree(from: File, to: File): Unit = {
    val src = from.toPath
    Files.walk(src).toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path]).foreach { p =>
      val t = to.toPath.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }
  }

  /** Order-insensitive digest of every report line under `dir`. */
  def reportDigest(dir: File): String = {
    val root = dir.toPath
    val files = dataFiles(dir).filter(_.getName.startsWith("part-")).sortBy(_.getPath)
    Stats.digest(files.iterator.flatMap { f =>
      val rel = root.relativize(f.getParentFile.toPath).toString
      scala.io.Source.fromFile(f, "UTF-8").getLines().toVector.map(l => (rel, l))
    })
  }
}

/** Every per-layer metric the traced run reports, with its unit, in the
  * order printed. Metrics a workload does not exercise read 0. */
object Layers {
  val reportDirs: Seq[String] = graft.codstats.Pipeline.reportInventory

  /** query_ledger's queries: the most table reads (q149 8, q03 4), one of
    * the most jobs (q114), and the paper's sessionize operator (q06). */
  val ledgerQueries: Seq[String] = Seq(
    "q03_revenue_by_nation", "q114_dup_cluster_histogram", "q149_fk_audit",
    "q06_sessionize")

  val all: Seq[(String, String)] = Seq(
    "ingest.batches" -> "count", "ingest.list_s" -> "s", "ingest.batch_s" -> "s",
    "ingest.rows_in" -> "count", "ingest.useful_ratio" -> "ratio",
    "normalize.s" -> "s", "normalize.rows_valid" -> "count",
    "dedup.s" -> "s", "dedup.rows_dropped" -> "count",
    "store.files" -> "count", "store.day_partitions" -> "count",
    "store.write_files" -> "count", "store.write_mb" -> "MB", "store.write_amp" -> "ratio",
    "store.mb" -> "MB", "compact.s" -> "s", "compact.rewritten_mb" -> "MB",
    "reports.scan_files" -> "count",
    "reports.s" -> "s", "reports.jobs" -> "count", "reports.store_scans" -> "count") ++
    reportDirs.map(d => s"report.$d.s" -> "s") ++ Seq(
    "sink.files" -> "count", "sink.mb" -> "MB", "sink.write_s" -> "s",
    "tables.schema_jobs" -> "count", "tables.schema_s" -> "s",
    "query.construct_s" -> "s", "query.construct_jobs" -> "count") ++
    ledgerQueries.map(q => s"query.${q.takeWhile(_ != '_')}.s" -> "s") ++ Seq(
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.job_s" -> "s", "spark.driver_gap_s" -> "s", "spark.executor_run_s" -> "s",
    "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.shuffle_read_mb" -> "MB",
    "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.peak_exec_mem_mb" -> "MB", "spark.task_skew" -> "ratio",
    "spark.failed_tasks" -> "count",
    "host.sentinel_start_s" -> "s", "host.sentinel_end_s" -> "s")
}

/** Prints the DuckDB twin of every ledger query as one JSON object, the
  * input of `perfbench/oracle.py derive`. */
object OracleSql {
  def json: String =
    graft.SparkEntry.oracleSql.filter { case (k, _) => Layers.ledgerQueries.contains(k) }
      .toSeq.sortBy(_._1).map { case (k, v) => s"${Expected.quote(k)}:${Expected.quote(v)}" }
      .mkString("{", ",\n", "}\n")

  def main(args: Array[String]): Unit = print(json)
}
