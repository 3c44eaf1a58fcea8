package graft

import org.apache.spark.sql.functions._

/** Committed k-vs-error tradeoff for the mergeable quantile sketch
  * (q217/q218): runs the SAME serve + realized-rank-error pass the
  * oracle gates (QueriesSketch.quantileServe), at k ∈ {64, 256, 1024},
  * and publishes per k the worst and mean realized rank error (ppm of
  * n) across all (group, quantile) cells plus the pass's wall time —
  * so a 100 TB owner picks k from a measured curve (the q188
  * banding-sweep discipline applied to the quantile sketch). Expected
  * shape: error ~ 1/sqrt(k) (classical sampling bound), sketch state =
  * groups × k rows, build cost flat in k until k rows per group per
  * map task stop fitting the WindowGroupLimit heaps.
  *
  * One JSON line on stdout, written to SPARK_GRAFT_QSWEEP_OUT
  * (default QUANTILE_SWEEP.json); run at sf1 for the committed ledger.
  */
object QuantileSweep {

  /** One k's realized rank error (ppm of n) and serve wall seconds. */
  final case class KRow(k: Int, maxRankErrPm: Long, meanRankErrPm: Double,
      cells: Long, serveSec: Double)
  final case class Sweep(metric: String, ks: Seq[KRow], sf: String)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_QSWEEP_OUT", "QUANTILE_SWEEP.json")
    val spark = Mains.session()
    val ks = Seq(64, 256, 1024).map { k =>
      val t0 = System.nanoTime()
      val served = QueriesSketch.quantileServe(spark, sfDir, k)
        .agg(max(col("rank_err_pm")).as("max_err"),
          avg(col("rank_err_pm")).as("mean_err"),
          count(lit(1)).as("cells"))
        .collect()(0)
      KRow(k, served.getLong(0), Mains.r3(served.getDouble(1)),
        served.getLong(2), Mains.r3((System.nanoTime() - t0) / 1e9))
    }
    Mains.emit(Sweep("quantile_k_sweep", ks, sfDir), out)
    spark.stop()
  }
}
