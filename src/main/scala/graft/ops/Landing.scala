package graft.ops

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

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
  * column-pruned to the key columns and declares its schema, so it runs
  * no footer-inference job. [[listedOnDriver]] wraps a tick so that, over
  * a local store, its file listings run on the driver instead of as
  * Spark jobs.
  */
object Landing {

  private val listingThreshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"

  /** Runs `body`, one tick reading `dirs`, with every file listing on the
    * driver when all of `dirs` resolve to the local file system ([[allLocal]]):
    * the session's parallel-listing threshold is `Int.MaxValue` for the
    * tick, and its previous value, or its unset state, comes back after.
    * Spark lists more than 32 paths with a Spark job; a tick meets that for
    * the landed files of a batch and for the store's partitions. On a local
    * file system such a job cannot list faster than the driver, and it costs
    * a tick 2–4 s (400 landed files, a 4-core host). On any other file
    * system Spark's default stays.
    *
    * The conf is the session's, so the tick owns the session while it
    * runs: the single-writer contract of the store extends to it. A query
    * run in the same session meanwhile lists on the driver too, and two
    * ticks overlapping in one session could restore each other's value.
    * A streaming query clones the session when it starts, so the tick's
    * [[drain]] must start inside `body`. */
  def listedOnDriver[T](spark: SparkSession, dirs: String*)(body: => T): T =
    if (!allLocal(spark.sessionState.newHadoopConf(), dirs)) body
    else {
      val previous = spark.conf.getAll.get(listingThreshold)
      spark.conf.set(listingThreshold, Int.MaxValue.toLong)
      try body
      finally previous.fold(spark.conf.unset(listingThreshold))(
        spark.conf.set(listingThreshold, _))
    }

  /** Whether every one of `dirs` is on the local file system: its URI's
    * scheme, or the default file system's for a path without one, is
    * `file`. Reads no remote `FileSystem`. */
  private[ops] def allLocal(conf: Configuration, dirs: Seq[String]): Boolean = {
    lazy val defaultScheme = FileSystem.getDefaultUri(conf).getScheme
    dirs.forall(d =>
      Option(new Path(d).toUri.getScheme).getOrElse(defaultScheme) == "file")
  }

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

  /** The parquet store at `dir`, if one has been written; read with
    * `schema` when it is given, which skips the footer-inference job.
    * Existence is checked on the path's own Hadoop file system, so a
    * `file:` URI or a remote store is found. */
  def readIfExists(spark: SparkSession, dir: String,
                   schema: Option[StructType] = None): Option[DataFrame] = {
    val path = new Path(dir)
    if (path.getFileSystem(spark.sessionState.newHadoopConf()).exists(path))
      Some(schema.fold(spark.read)(spark.read.schema).parquet(dir))
    else None
  }

  /** Rows whose `keys` are not in `existing` (left-anti join). */
  def newKeysOnly(rows: DataFrame, existing: DataFrame,
                  keys: Seq[String]): DataFrame =
    rows.join(existing.select(keys.map(col): _*), keys, "left_anti")

  /** Append to the store at `storeDir` one row per `keys` of `rows`,
    * skipping keys the store already holds. The store is written only from
    * such rows, so it is read with `rows.schema`. Returns the fresh rows
    * sealed ([[Stages.seal]]); the caller releases them
    * ([[Stages.release]]). A zero-row result writes nothing: a data-less
    * store breaks the next read. */
  def appendNew(rows: DataFrame, storeDir: String, keys: Seq[String],
                partitionCol: String): DataFrame = {
    val unique = rows.dropDuplicates(keys)
    val stored = readIfExists(rows.sparkSession, storeDir, Some(rows.schema))
    val fresh = Stages.seal(stored.fold(unique)(newKeysOnly(unique, _, keys)),
      eager = true)
    if (!fresh.isEmpty)
      fresh.write.mode("append").partitionBy(partitionCol).parquet(storeDir)
    fresh
  }
}
