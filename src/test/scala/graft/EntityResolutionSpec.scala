package graft

/** q146 entity resolution: planted variant clusters with hand-picked edit
  * distances — a 1-edit typo merges, a 3-edit adjective swap does not, and
  * blocking keeps identical-distance names in DIFFERENT noun blocks apart. */
class EntityResolutionSpec extends SparkSpec {
  import spark.implicits._

  test("q146: typo variants cluster transitively; blocks and min-label canon") {
    val d = java.nio.file.Files.createTempDirectory("graft_er").toString
    Seq(
      (1L, "red widget"),   // canonical of the widget-typo cluster (min name)
      (2L, "red widget"),   // exact duplicate row — mass 2 under one name
      (3L, "red widgett"),  // 1 edit from "red widget" → merges
      (4L, "blue widget"),  // 3 edits from "red widget" → stays its own entity
      (5L, "tiny bolt"),    // 1 edit from "tin bolt" → merges, canon "tin bolt"
      (6L, "tin bolt"))
      .toDF("p_partkey", "p_name")
      .write.parquet(s"$d/part.parquet")
    val got = SparkEntry.queries("q146_entity_resolution")(spark, d)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("blue widget", 1L, 1L, 4L),
      ("red widget", 2L, 3L, 1L),
      ("tin bolt", 2L, 2L, 5L)))
  }

  test("q146: driver-side fast path == distributed pipeline (r16 kernel)") {
    // Deterministic name grid with planted hazards for the driver kernel:
    // typo chains (transitivity), shared first vs last tokens, repeated
    // inner spaces (split keeps empties), a one-token name (block-key
    // dedup), and a non-ASCII name whose UTF-8 byte order differs from
    // naive UTF-16 ordering within its cluster.
    val names = Seq(
      "red widget", "red widgett", "red widgettt", // chain: a~b~c one entity
      "red gadget", "rad gadget",                  // 1-edit, shared last token
      "blue widget",                               // 3 edits from red widget
      "green  bolt", "green bolt",                 // double space: 1 edit
      "bolt",                                      // one-token name
      "zz top", "zz tops",                         // suffix edit
      "éclair pastry", "eclair pastry")       // é vs e: 1 edit, utf8 min
    val d = java.nio.file.Files.createTempDirectory("graft_er2").toString
    names.zipWithIndex.flatMap { case (n, i) =>
      Seq((i * 2 + 1L, n), (i * 2 + 2L, n)) // two part rows per name
    }.toDF("p_partkey", "p_name").write.parquet(s"$d/part.parquet")
    val fast = SparkEntry.queries("q146_entity_resolution")(spark, d)
      .as[(String, Long, Long, Long)].collect().toSeq
    val parts = Tables.part(spark, d)
      .select(org.apache.spark.sql.functions.col("p_partkey"),
        org.apache.spark.sql.functions.col("p_name"))
    val dist = QueriesDedup.erDistributed(spark, parts)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(fast == dist)
    assert(fast.nonEmpty && fast.map(_._1) == fast.map(_._1).sorted)
  }
}
