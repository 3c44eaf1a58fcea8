package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.functions._

import graft.corpus.CurationPipeline

/** End-to-end CurationPipeline throughput ledger: one full 12-stage run
  * over the documents table at SPARK_GRAFT_SF_DIR with EVERY optional
  * stage enabled, per-stage wall time + surviving doc count printed as
  * one JSON line and written to PIPELINE_BENCH.json — where a real
  * curation run's time goes, measured not asserted.
  *
  * The documents table carries no URL column, so a deterministic one is
  * synthesized (500 publishers on a real registered-domain shape) to
  * exercise the PSL canonicalization, domain-cap and leakage-aware
  * split stages for real. Attribution note: each stage's time is its
  * INCREMENTAL cost on top of cached predecessors (stages forced in
  * pipeline order); `mixture_sample` carries mixture AND split-column
  * work (one cached frame), `split_assign`'s own row is the cache-hit
  * residual.
  */
object PipelineBench {

  final case class Record(metric: String, value: Double, unit: String,
      stagesSum: Double, stages: ListMap[String, CurationPipeline.StageTime],
      sf: String)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_PIPE_OUT", "PIPELINE_BENCH.json")
    val spark = Mains.session()
    // 100 DISTINCT registrable domains (siteN.com — each its own PSL
    // registrant; a shared-suffix shape like siteN.example.com would
    // canonicalize every doc to ONE registered domain and the cap would
    // collapse the corpus to `domainCap` rows)
    val docs = Tables.documents(spark, sfDir)
      .withColumn("url", expr(
        "concat('https://site', CAST(pmod(doc_id, 100) AS STRING), " +
          "'.com/p/', CAST(doc_id AS STRING))"))
    val cfg = CurationPipeline.Config(
      domainCap = Some(200),
      editDistanceMax = Some(80),
      lineDedupMaxCount = Some(2),
      assignSplit = true)
    val t0 = System.nanoTime()
    val (_, audit, ledger) = CurationPipeline.runWithLedger(docs, cfg)
    audit.collect() // audit rows were already forced by the stage counts
    val total = (System.nanoTime() - t0) / 1e9
    // stages_sum < value: the remainder is lazy-construction and
    // driver overhead between stage actions (plan building, broadcast
    // builds) — published so the unattributed share is visible, not hidden
    Mains.emit(Record("pipeline_total", Mains.r3(total), "sec",
      Mains.r3(ledger.values.map(_.sec).sum),
      ledger.map { case (stage, t) => stage -> t.copy(sec = Mains.r3(t.sec)) },
      sfDir), out)
    spark.stop()
  }
}
