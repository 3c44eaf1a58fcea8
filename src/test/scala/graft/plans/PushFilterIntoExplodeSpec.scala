package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ArrayFilter
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The explode-pushdown rule, which the shared session carries through
  * `GraftExtensions`: plan shape + result equivalence against the
  * rule-off plans, including the cases the rule must refuse to touch. */
class PushFilterIntoExplodeSpec extends SparkSpec {
  import spark.implicits._

  /** `body` under `spark.graft.explodePushdown=false`: the rule-off
    * reference every rule-on plan is checked against. */
  private def ruleOff[A](body: => A): A = {
    spark.conf.set("spark.graft.explodePushdown", "false")
    try body
    finally spark.conf.unset("spark.graft.explodePushdown")
  }

  private def hasArrayFilterUnderExplode(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect { case g: Generate => g.generator }
      .exists(_.exists(_.isInstanceOf[ArrayFilter]))

  private def hasFilterAboveGenerate(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case Filter(_, _: Generate) => true
    }.nonEmpty

  private lazy val base = Seq(
    (1L, Seq(1, 5, 7)), (2L, Seq(2, 3)), (3L, Seq.empty[Int]))
    .toDF("id", "arr")

  test("element-only predicate moves under the explode, same rows out") {
    def q = base.select(col("id"), explode(col("arr")).as("el"))
      .filter(col("el") > 3)
    val plain = ruleOff(q.as[(Long, Int)].collect().toSet)
    assert(hasArrayFilterUnderExplode(q))
    assert(!hasFilterAboveGenerate(q))
    assert(q.as[(Long, Int)].collect().toSet == plain)
    assert(plain == Set((1L, 5), (1L, 7)))
  }

  test("mixed conjuncts split: element part pushes, child part survives") {
    def q = base.select(col("id"), explode(col("arr")).as("el"))
      .filter(col("el") > 1 && col("id") < 2)
    val plain = ruleOff(q.as[(Long, Int)].collect().toSet)
    assert(hasArrayFilterUnderExplode(q))
    // the id conjunct is Spark's own job (pushed below the Generate,
    // onto the child) — either way it must not be lost
    assert(q.as[(Long, Int)].collect().toSet == plain)
    assert(plain == Set((1L, 5), (1L, 7)))
  }

  test("null elements: dropped identically on both plans") {
    def q = Seq((1L, Seq[Integer](1, null, 9))).toDF("id", "arr")
      .select(col("id"), explode(col("arr")).as("el"))
      .filter(col("el") > 0)
    val plain = ruleOff(q.as[(Long, Int)].collect().toSet)
    assert(hasArrayFilterUnderExplode(q))
    assert(q.as[(Long, Int)].collect().toSet == plain)
    assert(plain == Set((1L, 1), (1L, 9)))
  }

  test("outer explode is NOT rewritten (empty-array null row semantics)") {
    def q = base.select(col("id"), explode_outer(col("arr")).as("el"))
      .filter(col("el") > 3 || col("el").isNull)
    val plain = ruleOff(q.as[(Long, Option[Int])].collect().toSet)
    assert(!hasArrayFilterUnderExplode(q))
    assert(q.as[(Long, Option[Int])].collect().toSet == plain)
    assert(plain == Set((1L, Some(5)), (1L, Some(7)), (3L, None)))
  }

  test("posexplode is NOT rewritten (indices would shift)") {
    def q = base.select(col("id"), posexplode(col("arr")).as(Seq("pos", "el")))
      .filter(col("el") > 3)
    val plain = ruleOff(q.as[(Long, Int, Int)].collect().toSet)
    assert(!hasArrayFilterUnderExplode(q))
    assert(q.as[(Long, Int, Int)].collect().toSet == plain)
    assert(plain == Set((1L, 1, 5), (1L, 2, 7))) // original positions
  }

  test("spark.graft.explodePushdown=false disables the rewrite") {
    def q = base.select(col("id"), explode(col("arr")).as("el"))
      .filter(col("el") > 3)
    ruleOff {
      assert(!hasArrayFilterUnderExplode(q))
      assert(q.as[(Long, Int)].collect().toSet == Set((1L, 5), (1L, 7)))
    }
    assert(hasArrayFilterUnderExplode(q)) // back on by default
  }

  test("the q62 shape: token IN-list filter plans as an array filter") {
    def q = Seq((1L, "spark join scan the a"), (2L, "the a of"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok").isin("spark", "join", "of"))
    val plain = ruleOff(q.as[(Long, String)].collect().toSet)
    assert(hasArrayFilterUnderExplode(q))
    assert(q.as[(Long, String)].collect().toSet == plain)
    assert(plain == Set((1L, "spark"), (1L, "join"), (2L, "of")))
  }
}
