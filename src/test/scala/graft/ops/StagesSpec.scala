package graft.ops

import graft.SparkSpec

/** ops/Stages: seal must truncate lineage (downstream plans see a
  * LogicalRDD) and release must drop cached frames and checkpoint
  * blocks DETERMINISTICALLY — the contract Dataset.unpersist cannot
  * provide on a checkpointed frame (CacheManager no-op; ContextCleaner
  * is GC-driven). */
class StagesSpec extends SparkSpec {

  test("release drops a sealed frame's blocks synchronously") {
    val s = spark
    import s.implicits._
    val sealedDf = Stages.seal((1 to 100).toDF("x"), eager = true)
    assert(sealedDf.count() == 100)
    val persisted = spark.sparkContext.getPersistentRDDs
    // the sealed frame's internal RDD is among the persistent RDDs
    val before = persisted.size
    assert(before >= 1, "eager seal must persist its internal RDD")
    Stages.release(Seq(sealedDf))
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after == before - 1,
      s"release must unpersist exactly the sealed RDD ($before -> $after)")
  }

  test("release is a no-op on unsealed frames and idempotent on sealed") {
    val s = spark
    import s.implicits._
    val plain = (1 to 10).toDF("x")
    Stages.release(Seq(plain)) // must not throw
    val sealedDf = Stages.seal(plain, eager = true)
    Stages.release(Seq(sealedDf))
    Stages.release(Seq(sealedDf)) // second release: idempotent
    assert(plain.count() == 10) // the INPUT stays recomputable
  }

  test("release drops a materialized .cache()d frame's cache entry") {
    val s = spark
    import s.implicits._
    val cached = (1 to 100).toDF("x").where($"x" % 7 === 0).cache()
    assert(cached.count() == 14)
    def lookup = spark.sharedState.cacheManager
      .lookupCachedData(cached.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
    assert(lookup.nonEmpty)
    Stages.release(Seq(cached))
    assert(lookup.isEmpty,
      "release must unpersist a cached frame")
  }

  test("lazy seal materializes on first action and still releases") {
    val s = spark
    import s.implicits._
    val sealedDf = Stages.seal((1 to 50).toDF("x"))
    assert(sealedDf.count() == 50) // first action materializes
    Stages.release(Seq(sealedDf))
  }
}
