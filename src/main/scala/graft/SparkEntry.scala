package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `registry` is the full operator inventory (one entry per implemented
  * SURVEY §2 operator family, plus the 100 TB-scale extensions); each
  * [[Query]] carries the DuckDB twin of every SQL-expressible query, and
  * `queries`/`oracleSql` are its name-keyed views. Column names and
  * numeric representations are kept bit-compatible across engines — see
  * [[Exact]].
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q03_revenue_by_nation")(spark, "/root/testdata/sf0.001")

  lazy val registry: Seq[Query] = {
    val all = QueriesCore.registry ++ QueriesRelational.registry ++
      QueriesDedup.registry ++ QueriesSimilarity.registry ++ QueriesText.registry ++
      QueriesCorpus.registry ++ QueriesCuration.registry ++
      QueriesTokenizer.registry ++ QueriesSearch.registry ++
      QueriesChange.registry ++ QueriesStats.registry ++
      QueriesBehavior.registry ++ QueriesGraph.registry ++
      QueriesSketch.registry ++ QueriesQuant.registry
    val dups = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
    all
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  lazy val oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracleSql.map(q.name -> _)).toMap
}
