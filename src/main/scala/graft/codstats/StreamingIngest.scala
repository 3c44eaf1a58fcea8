package graft.codstats

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row

import Model._

/** Streaming file-source ingest — the Structured Streaming equivalence of
  * the reference's incremental new-files-only scan (SURVEY.md §2.1 S4:
  * directory listing → NOT-IN anti-join, `parse_matches.sh:580-596`).
  *
  * The file source's checkpointed file tracking IS the exactly-once
  * new-file detection: each micro-batch sees only unseen files, the
  * normalize pass is the same declarative projection as batch
  * ([[Normalize.validGames]] composes over it unchanged), and
  * `Trigger.AvailableNow` reproduces the reference's cron-style "drain
  * everything then stop" run loop with checkpoint-backed resume.
  *
  * At 100 TB: `maxFilesPerTrigger` bounds batch size; the sink appends
  * parquet partitioned by ingest date so the derived layer prunes.
  */
object StreamingIngest {

  /** Open the landing directory as a stream of raw match documents
    * (one JSON document per file, whole-file mode). */
  def readLanding(spark: SparkSession, landingDir: String,
                  maxFilesPerTrigger: Int = 1000): DataFrame =
    spark.readStream
      .schema(matchSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(landingDir)

  /** Drain-all-then-stop ingest run (cron-equivalent). Returns the writer
    * so callers choose sink/location. */
  def ingestWriter(valid: DataFrame, checkpointDir: String): DataStreamWriter[Row] =
    valid.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .outputMode("append")
}
