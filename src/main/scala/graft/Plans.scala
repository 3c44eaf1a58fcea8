package graft

import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for every SPARK_GRAFT_ONLY-selected
  * SparkEntry query (all when unset), in one of two modes:
  *  - `Plans [sfDir] [out]`: one file (default PLANS.md), a `## <query>`
  *    section per plan — the plan-review artifact. Grep it for
  *    `PushedFilters`, `ReadSchema`, `BroadcastHashJoin`, `WholeStageCodegen`
  *    to confirm scans prune, dims broadcast, and hot paths stay in codegen.
  *  - `Plans <sfDir> <outDir> <suffix>`: one file per query,
  *    `<outDir>/<query>_<suffix>.txt` — the before/after plan evidence of
  *    an optimization (plans/rNN/<query>_{before,after}.txt).
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = Mains.session()
    val only = QueryFilter.fromEnv()
    val sections = SparkEntry.queries.toSeq.sortBy(_._1).filter(t => only(t._1))
      .map { case (name, fn) =>
        val plan =
          try fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          catch { case e: Throwable => s"ERROR: ${e.getMessage}" }
        name -> s"## $name\n```\n$plan```\n"
      }
    args match {
      case Array(_, outDir, suffix) =>
        Files.createDirectories(Paths.get(outDir))
        sections.foreach { case (name, section) =>
          Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), section)
          println(s"wrote $outDir/${name}_$suffix.txt")
        }
      case _ =>
        val out = if (args.length > 1) args(1) else "PLANS.md"
        Files.writeString(Paths.get(out),
          "# Physical plans (explain formatted) — generated by graft.Plans\n" +
            s"Scale dir: $sfDir\n" + sections.map("\n" + _._2).mkString)
        println(s"wrote $out")
    }
    spark.stop()
  }
}
