package graft

/** Scaling-curve runner: the FULL ledger at several scale factors in ONE
  * session (one JVM, one JIT/codegen/code-cache state, back-to-back) —
  * the variance control a cross-SF slope needs; per-SF sentinels still
  * bracket host drift within the run. Emits one BENCH_SCALING_<tag>.json
  * per directory (Bench's full-detail format, reps included); the
  * committed SCALING.md table and per-family log-log slopes are derived
  * from these by tools/scaling_report.py.
  *
  * Usage: runMain graft.Scaling <tag>=<dir> [<tag>=<dir> ...]
  * (default: 0.01=/root/testdata/sf0.01 0.1=/root/testdata/sf0.1
  *  1=testdata-sf1)
  */
object Scaling {
  def main(args: Array[String]): Unit = {
    val dirs: Seq[(String, String)] =
      if (args.nonEmpty) args.toSeq.map { a =>
        val i = a.indexOf('=')
        require(i > 0, s"expected <tag>=<dir>, got '$a'")
        (a.substring(0, i), a.substring(i + 1))
      }
      else Seq("0.01" -> "/root/testdata/sf0.01",
        "0.1" -> "/root/testdata/sf0.1",
        "1" -> "testdata-sf1")
    val spark = Mains.session()
    dirs.foreach { case (tag, dir) =>
      System.err.println(s"[scaling] ledger sf=$tag dir=$dir")
      Bench.runLedger(spark, dir, s"BENCH_SCALING_$tag.json")
    }
    spark.stop()
  }
}
