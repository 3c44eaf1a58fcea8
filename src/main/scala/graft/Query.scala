package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One inventory query: its name (the key of [[SparkEntry.queries]]), the
  * Spark implementation over a scale-factor directory, and the metadata
  * every main reads from [[SparkEntry.registry]] instead of keeping its own
  * table.
  *
  * @param oracleSql the DuckDB twin [[Verify]] dumps for the hash compare;
  *   None only for an engine-native result no SQL expresses (q40's HLL
  *   sketch, checked rows-only)
  * @param cacheTag the session-level driver-side cache that serves the
  *   query after its first build, published in [[Bench]]'s `cache_served`
  *   to tell cache-served timings from plan wins: its best-of-N time
  *   measures the warm path and the one-time build lands in rep 1 (and in
  *   cold_sum). `cents` = the trained-centroid memo
  *   (QueriesSimilarity.trainedCents; the one KMeans.train is rep 1 of
  *   whichever of q41/q64/q83 runs first), `merges` = the trained BPE merge
  *   memo (QueriesTokenizer.trainedMerges), `cut` = the shared co-purchase
  *   cut (QueriesGraph.copurchaseEdges), `state` = the trained-state cache
  *   (LinearTrain.cachedStates)
  */
final case class Query(name: String, run: (SparkSession, String) => DataFrame,
    oracleSql: Option[String], cacheTag: Option[String] = None)
