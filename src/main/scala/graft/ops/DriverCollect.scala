package graft.ops

import org.apache.spark.sql.Dataset

/** The one collect-if-small decision: every site that chooses between a
  * driver-side kernel and a distributed plan gets its rows from [[upTo]].
  *
  * Rule: one `limit(max + 1).collect()`, which Spark plans as
  * `CollectLimit` (it stops reading once it has the rows), so no count
  * probe runs first and at most `max + 1` rows ever reach the driver;
  * `max + 1` rows back means the input is over the bound, and the caller
  * runs its distributed path instead. [[Max]] (~100k narrow rows, a few
  * MB) bounds vocabulary-sized data, which does not grow with the corpus,
  * so it is the same at every scale.
  */
object DriverCollect {

  val Max: Int = 100000

  /** All rows of `ds` if it has at most `max`, else None. */
  def upTo[T](ds: Dataset[T], max: Int = Max): Option[Array[T]] = {
    val rows = ds.limit(max + 1).collect()
    if (rows.length > max) None else Some(rows)
  }
}
