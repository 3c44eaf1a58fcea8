package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow

/** Stage-boundary lineage truncation for multi-stage pipelines — the
  * defect class this exists for is DRIVER-side and scale-independent:
  * with N stages of accumulated lineage, every action on every
  * downstream frame re-carries the whole nested plan tree through
  * analysis/AQE/codegen. Measured in `corpus/CurationPipeline` before
  * the fix: a count() of the FINAL 200-row frame cost 33–50 s of
  * per-action driver overhead, identical at sf0.1 and sf1, and each
  * stage's first action grew with its depth (2 → 7 → 12 → 33 s).
  * `localCheckpoint` cuts the logical plan to a LogicalRDD at the stage
  * boundary, so downstream plans stay shallow.
  *
  * What plain `df.localCheckpoint()` does NOT give you is a release
  * contract: `Dataset.unpersist()` on a checkpointed frame is a
  * CacheManager no-op (the blocks belong to the internal RDD, not the
  * SQL cache), so the blocks live until the GC-driven ContextCleaner
  * collects the RDD — repeated pipeline runs in one session accumulate
  * checkpoint blocks nondeterministically. [[seal]] captures the
  * internal RDD actually persisted (the LogicalRDD the checkpointed
  * frame wraps) and [[release]] unpersists THAT, synchronously.
  *
  * Contract: a sealed frame's lineage is truncated — after [[release]],
  * touching the sealed frame again throws (no recompute); callers that
  * need recomputability hold the INPUT, not the sealed stage. Lazy by
  * default (the stage materializes on its own first action, so a stage
  * ledger charges each stage's work to its own row).
  */
object Stages {

  /** Truncate `df`'s lineage at this stage boundary. Returns the sealed
    * frame; pass it to [[release]] for deterministic block release. */
  def seal(df: DataFrame, eager: Boolean = false): DataFrame =
    df.localCheckpoint(eager)

  /** The internal RDD holding a sealed frame's checkpoint blocks (the
    * LogicalRDD the truncation produced), if `df` is a sealed frame. */
  private def checkpointRdd(df: DataFrame): Option[RDD[InternalRow]] =
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
      case _ => None
    }

  /** Synchronously drop each frame's blocks: a `.cache()`d frame's SQL
    * cache entry and a sealed frame's checkpoint blocks. Safe to call on
    * never-materialized or already-released frames (unpersist is
    * idempotent) and a no-op on frames neither cached nor sealed. A
    * sealed frame must not be used afterwards — lineage is truncated,
    * there is no recompute path; a cached one recomputes. */
  def release(dfs: Seq[DataFrame]): Unit =
    dfs.foreach { df =>
      df.unpersist(blocking = true)
      checkpointRdd(df).foreach(_.unpersist(blocking = true))
    }

  /** Synchronously drop EVERY cached frame and persistent RDD of the
    * session — the between-query drain of Verify and Bench. A sealed
    * frame's blocks live as a plain persistent RDD, invisible to
    * `clearCache`, so both are released. */
  def releaseAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }
}
