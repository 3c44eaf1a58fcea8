package graft.ops

import org.apache.spark.sql.SparkSession

/** Cheap content fingerprint of a data directory — the invalidation key
  * the session-level caches ([[graft.QueriesGraph]]'s co-purchase cut,
  * [[LinearTrain.cachedStates]]) fold into their lookup keys so that a
  * cache entry is a pure function of the DATA, not of the path string.
  *
  * Without it, a path-keyed entry silently serves a stale cut/model when
  * the files under `dir` change within a session — exactly what an
  * ingest run appending to the same directory does
  * (`codstats/Pipeline`, `corpus/StreamingCuration`). With it, any file added,
  * removed, resized, or rewritten (mtime) produces a new key, and the
  * stale entry is simply never hit again (the weak session map bounds
  * the orphaned entries; they are dimension-sized).
  *
  * Cost: one recursive file listing per cache LOOKUP — the same
  * metadata operation every Spark scan of `dir` performs to plan
  * splits, so at 100 TB this is one namenode listing round-trip
  * (milliseconds) guarding a corpus-sized rebuild. Listing order is
  * normalized by sorting, so the fingerprint is stable across
  * filesystems. Data-lake formats with real snapshot ids would use the
  * snapshot id instead; for plain parquet directories (this repo's
  * layout) name+length+mtime is the strongest signal available without
  * reading data.
  */
object DirFingerprint {

  /** FNV-1a 64-bit over the sorted (path, length, mtime) file listing,
    * hex-encoded. Missing paths fingerprint as "absent" rather than
    * throwing — the consumer's scan will produce the real error with
    * the real message. A LISTING FAILURE (transient FS error) returns
    * an `unlistable:*` value that consumers must treat as
    * never-cacheable ([[FingerprintedMemo]] bypasses its cache for it):
    * two failed listings bracketing a data change would otherwise share
    * a key and serve the stale value — the exact bug the fingerprint
    * exists to prevent. */
  def of(spark: SparkSession, dir: String): String = {
    try {
      val path = new org.apache.hadoop.fs.Path(dir)
      val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(path)) return "absent"
      val files = scala.collection.mutable.ArrayBuffer.empty[String]
      val it = fs.listFiles(path, true)
      while (it.hasNext) {
        val f = it.next()
        files += s"${f.getPath.toUri.getPath}|${f.getLen}|${f.getModificationTime}"
      }
      var h = 0xcbf29ce484222325L
      files.sorted.foreach { line =>
        line.getBytes("UTF-8").foreach { b =>
          h ^= (b & 0xffL); h *= 0x100000001b3L
        }
        h ^= '\n'.toLong; h *= 0x100000001b3L
      }
      java.lang.Long.toHexString(h)
    } catch {
      case e: java.io.IOException => s"unlistable:${e.getClass.getSimpleName}"
    }
  }
}
