package graft

/** The driver's SparkEntry contract, pinned: the flagship entry() query
  * returns rows (the driver smoke-checks rows > 0 on sf0.001), and the
  * query↔oracle maps stay aligned — every query has a DuckDB twin
  * except the documented engine-native exception, and no twin is
  * orphaned. The registry behind both maps holds each name once and
  * carries Bench's cache-served tags. */
class EntryContractSpec extends SparkSpec {

  test("entry() returns rows on the smoke scale factor") {
    assert(SparkEntry.entry(spark).count() > 0L)
  }

  test("every query has an oracle twin (q40 is the one documented " +
      "rows-only exception) and no twin is orphaned") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert(qs -- os == Set("q40_approx_distinct"),
      s"queries without a DuckDB twin: ${qs -- os}")
    assert((os -- qs).isEmpty, s"orphaned oracle entries: ${os -- qs}")
  }

  test("registry names are unique and both maps cover the whole inventory") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size == names.size,
      s"duplicate names: ${names.diff(names.distinct)}")
    assert(SparkEntry.registry.filter(_.oracleSql.isEmpty).map(_.name) ==
      Seq("q40_approx_distinct"))
    assert(SparkEntry.queries.size == 219)
    assert(SparkEntry.oracleSql.size == 218)
  }

  test("exactly the session-cache-served queries carry a cache tag") {
    val tags = SparkEntry.registry.flatMap(q => q.cacheTag.map(q.name -> _)).toMap
    assert(tags == Map(
      "q41_ann_ivf_probe" -> "cents",
      "q64_semantic_dedup" -> "cents",
      "q83_kmeans_train" -> "cents",
      "q104_bpe_encode" -> "merges",
      "q118_copurchase" -> "cut",
      "q130_triangle_count" -> "cut",
      "q133_kcore" -> "cut",
      "q144_bfs_hops" -> "cut",
      "q154_label_propagation" -> "cut",
      "q167_weighted_paths" -> "cut",
      "q69_classifier_score" -> "state",
      "q203_classifier_train" -> "state",
      "q204_classifier_eval" -> "state",
      "q211_langid_train" -> "state",
      "q212_langid_eval" -> "state",
      "q215_langid_wide_train" -> "state",
      "q216_langid_wide_eval" -> "state"))
  }
}
