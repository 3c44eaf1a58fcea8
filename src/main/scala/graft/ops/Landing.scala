package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

/** The landing tick of both products (`codstats.Pipeline.continuousRun`,
  * `corpus.StreamingCuration`) — the reference's cron loop: fetch, then
  * parse only new files with INSERT OR IGNORE (parse_matches.sh:580-596).
  *
  * [[drain]] is the tick: the file source's checkpointed file tracking is
  * the exactly-once new-file detection, and the AvailableNow trigger
  * drains everything then stops. [[appendNew]] is each micro-batch's
  * idempotent append: a document re-delivered under a new filename (in a
  * later tick or the same one) and a foreachBatch replay after a crash
  * before the checkpoint commit append nothing. The store read is
  * column-pruned to the key columns.
  */
object Landing {

  /** One cron tick: every landed file not yet in `checkpointDir` goes
    * through `perBatch(batch, batchId)`, then the query stops. */
  def drain(stream: DataFrame, checkpointDir: String)(
      perBatch: (DataFrame, Long) => Unit): Unit =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .outputMode("append")
      .foreachBatch(perBatch)
      .start()
      .awaitTermination()

  /** The parquet store at `dir`, if one has been written. */
  def readIfExists(spark: SparkSession, dir: String): Option[DataFrame] =
    if (new java.io.File(dir).exists()) Some(spark.read.parquet(dir))
    else None

  /** Rows whose `keys` are not in `existing` (left-anti join). */
  def newKeysOnly(rows: DataFrame, existing: DataFrame,
                  keys: Seq[String]): DataFrame =
    rows.join(existing.select(keys.map(col): _*), keys, "left_anti")

  /** Append to the store at `storeDir` one row per `keys` of `rows`,
    * skipping keys the store already holds. Returns the fresh rows sealed
    * ([[Stages.seal]]); the caller releases them ([[Stages.release]]). A
    * zero-row result writes nothing: a data-less store breaks the next
    * read. */
  def appendNew(rows: DataFrame, storeDir: String, keys: Seq[String],
                partitionCol: String): DataFrame = {
    val unique = rows.dropDuplicates(keys)
    val fresh = Stages.seal(readIfExists(rows.sparkSession, storeDir)
      .fold(unique)(newKeysOnly(unique, _, keys)), eager = true)
    if (!fresh.isEmpty)
      fresh.write.mode("append").partitionBy(partitionCol).parquet(storeDir)
    fresh
  }
}
