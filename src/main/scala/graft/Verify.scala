package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Mains.session()
    new java.io.File(outDir).mkdirs()
    // local-iteration filter (driver leaves it unset → all queries)
    val selected = QueryFilter.fromEnv()
    SparkEntry.queries
      .filter { case (name, _) => selected(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release SQL caches AND localCheckpoint blocks between queries —
      // same hygiene as Bench: 200 queries' worth of fence RDDs would
      // otherwise accumulate in storage memory for the whole dump
      graft.ops.Stages.releaseAll(spark)
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Mains.json(SparkEntry.oracleSql))
    spark.stop()
  }
}
