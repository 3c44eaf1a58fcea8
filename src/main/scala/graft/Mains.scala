package graft

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.PropertyNamingStrategies
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** What the CLI mains (Bench, Scaling, PipelineBench, QuantileSweep,
  * Verify, Plans) share: one session and one JSON writer for the run
  * artifacts they publish. */
object Mains {

  /** The session every main runs in: `local[SPARK_GRAFT_CPUS]` (default
    * 4), SPARK_GRAFT_SHUFFLE_PARTS shuffle partitions (default: the thread
    * count; the scaling study decouples the two to attribute a plateau to
    * bandwidth vs a serial stage), UTC, no UI, and [[functions.GraftExtensions]]
    * — so the plan Plans prints is the plan Bench times and Verify dumps. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS", cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val mapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .propertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)
    .build()

  /** `record` as one line of JSON: case-class fields in declaration order
    * under snake_case keys (`coldSum` → `cold_sum`), maps in iteration
    * order (pass a `ListMap` where order matters), doubles as
    * `Double.toString`, and every control char in a string escaped — a tab
    * or CR in an oracle SQL string must not make a `json.load` fail. */
  def json(record: Any): String = mapper.writeValueAsString(record)

  /** Prints `record` as one stdout line and writes the same line to
    * `path`. A failed write is reported on stderr, not thrown: the stdout
    * line is then the artifact. */
  def emit(record: Any, path: String): Unit = {
    val line = json(record)
    println(line)
    try Files.write(Paths.get(path), (line + "\n").getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"[emit] could not write $path: ${e.getMessage}")
    }
  }

  /** Seconds rounded to the millisecond, the precision artifacts publish. */
  def r3(v: Double): Double = math.round(v * 1000) / 1000.0
}
