package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sliding ("smoothed") and cumulative window frames over ordered series.
  *
  * Reference: per-day / per-game series with `ROWS BETWEEN k PRECEDING AND
  * CURRENT ROW` smoothing (k ∈ {2,6,9,24}) and unbounded cumulative frames
  * (`/root/reference/frontend/generate_lookup_data.sh:734-775,827-868`).
  *
  * Measures are passed as exact integer columns (see [[graft.Exact]]) so the
  * frame sums are order-independent — required for the DuckDB oracle, whose
  * segment-tree windowed aggregation sums in a different order than Spark's
  * buffer scan.
  *
  * Each function adds all of its frames in ONE projection, appended after the
  * input's columns in a fixed order. The analyzer groups window expressions
  * that share a (partition, order) spec into one logical `Window` operator,
  * so every k-frame and the cumulative frame of every measure come out of
  * exactly one `Window`: one shuffle on the partition key and one sort,
  * whatever the number of measures × frames. A fold of `withColumn` calls
  * instead leaves one `Window` per few columns, each with its own sort (7
  * for a 12-measure × 2-frame series). `FramesPlanSpec` pins the single
  * `Window` and the column order. Frames are per-entity, so a series of any
  * length streams through a single ordered scan.
  */
object Frames {

  /** Adds, for each (name, intCol) measure: `<name>_sma<k>` (sliding mean over
    * the trailing k-row frame, exact integer sum / actual frame row count,
    * then /scale) and `<name>_cum` (running exact sum / scale).
    */
  def smoothedAndCumulative(df: DataFrame, entity: Column, order: Column,
                            measures: Seq[(String, Column)], ks: Seq[Int],
                            scale: Double): DataFrame = {
    val base = Window.partitionBy(entity).orderBy(order)
    val cumW = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col("*") +: measures.flatMap { case (name, m) =>
      ks.map { k =>
        val w = base.rowsBetween(-(k - 1), Window.currentRow)
        (sum(m).over(w).cast("double") / (count(lit(1)).over(w) * scale).cast("double"))
          .as(s"${name}_sma$k")
      } :+ (sum(m).over(cumW).cast("double") / scale).as(s"${name}_cum")
    }: _*)
  }

  /** The reference's series buckets verbatim: trailing-k-frame SUMS (its
    * `smoothed_k` keys are windowed sums, not means) for count measures and
    * trailing-frame AVGs for ratio measures, plus the cumulative twins
    * (`/root/reference/frontend/generate_lookup_data.sh:734-775,827-868`:
    * sum(...) OVER k-frames for 10 measures, avg(kdRatio/scorePerMinute)).
    *
    * Emits `<name>_s<k>` + `<name>_cum` per sum measure and `<name>_a<k>`
    * + `<name>_cuma` per avg measure, in that order (sum measures first).
    * All frames sit in one logical `Window` over the (entity, order) sort.
    */
  def rollingSumsAndAvgs(df: DataFrame, entity: Seq[Column], order: Column,
                         sumMeasures: Seq[(String, Column)],
                         avgMeasures: Seq[(String, Column)],
                         ks: Seq[Int]): DataFrame = {
    val base = Window.partitionBy(entity: _*).orderBy(order)
    val cumW = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def frames(measures: Seq[(String, Column)], agg: Column => Column,
               kSuffix: String, cumSuffix: String): Seq[Column] =
      measures.flatMap { case (name, m) =>
        ks.map(k => agg(m).over(base.rowsBetween(-(k - 1), Window.currentRow))
          .as(s"${name}_$kSuffix$k")) :+ agg(m).over(cumW).as(s"${name}_$cumSuffix")
      }
    df.select(col("*") +: (frames(sumMeasures, sum, "s", "cum") ++
      frames(avgMeasures, avg, "a", "cuma")): _*)
  }
}
