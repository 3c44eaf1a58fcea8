package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Native elementwise-min aggregate: fold semantics, ignore rules,
  * fail-fast on mismatched shapes, and equivalence to the composed
  * (explode + per-component min) form it replaces. */
class ArrayMinAggSpec extends SparkSpec {
  import spark.implicits._

  test("elementwise min across rows; empty and null rows are ignored") {
    val df = Seq(
      ("g1", Seq(5L, 1L, 9L)),
      ("g1", Seq(2L, 7L, 9L)),
      ("g1", Seq.empty[Long]),       // contributes nothing
      ("g2", Seq(4L, 4L, 4L)))
      .toDF("g", "a")
      .union(Seq(("g1", null.asInstanceOf[Seq[Long]])).toDF("g", "a"))
    val got = df.groupBy(col("g"))
      .agg(expr("graft_array_min_agg(a)").as("m"))
      .as[(String, Seq[Long])].collect().toMap
    assert(got == Map("g1" -> Seq(2L, 1L, 9L), "g2" -> Seq(4L, 4L, 4L)))
  }

  test("a group with no contributing rows evaluates to null") {
    val got = Seq(("g", Seq.empty[Long])).toDF("g", "a")
      .groupBy(col("g")).agg(expr("graft_array_min_agg(a)").as("m"))
      .select(col("m").isNull).as[Boolean].collect().toSeq
    assert(got == Seq(true))
  }

  test("mismatched lengths fail fast instead of zipping silently") {
    val ex = intercept[Exception] {
      Seq(("g", Seq(1L, 2L)), ("g", Seq(1L, 2L, 3L))).toDF("g", "a")
        .groupBy(col("g")).agg(expr("graft_array_min_agg(a)").as("m"))
        .collect()
    }
    assert(ex.getMessage != null)
  }

  test("equivalent to the composed posexplode + per-component min") {
    val df = (1L to 50L).map(i =>
      (s"g${i % 3}", Seq(i * 7 % 13, i * 5 % 11, i * 3 % 7)))
      .toDF("g", "a")
    val native = df.groupBy(col("g"))
      .agg(expr("graft_array_min_agg(a)").as("m"))
      .as[(String, Seq[Long])].collect().toMap
    val composed = df
      .select(col("g"), posexplode(col("a")).as(Seq("i", "v")))
      .groupBy(col("g"), col("i")).agg(min(col("v")).as("mv"))
      .as[(String, Int, Long)].collect()
      .groupBy(_._1).map { case (g, rs) =>
        g -> rs.sortBy(_._2).map(_._3).toSeq
      }
    assert(native == composed)
  }
}
