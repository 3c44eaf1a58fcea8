package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, ArrayFilter, Attribute,
  Explode, Expression, LambdaFunction, NamedLambdaVariable, PlanExpression,
  PredicateHelper, Unevaluable}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.ArrayType

/** Optimizer rule closing a real Spark gap: a predicate on `explode()`
  * OUTPUT cannot move below the `Generate`, so every array element is
  * materialized as a row only for the filter to discard it. Spark's own
  * `PushPredicateThroughNonJoin` pushes conjuncts that reference the
  * generate's CHILD columns; this rule handles the complementary case —
  * conjuncts referencing only the exploded element — by rewriting them
  * into an `ArrayFilter` UNDER the explode:
  *
  * {{{
  *   Filter(p(el), Generate(Explode(arr), ..., [el], child))
  *     ==> Generate(Explode(filter(arr, x -> p(x))), ..., [el], child)
  * }}}
  *
  * At 100 TB the difference is the Generate's output volume: a selective
  * token filter (q62's shape) drops elements before they ever become rows.
  * The queries in this repo already hand-write `explode(filter(...))`
  * where it matters; the rule makes the naive spelling plan identically,
  * so USERS of the library don't need to know the trick.
  *
  * Deliberately NOT rewritten (semantics would change):
  *  - `outer = true`: filtering the array can make it empty, turning a
  *    row-preserving outer explode into a null-emitting one;
  *  - `posexplode`: element indices shift when elements are removed;
  *  - map explode (two output attrs) and multi-attr generators;
  *  - non-deterministic conjuncts and subquery predicates.
  *
  * Cost tradeoff (why there is an off switch): `ArrayFilter` is a
  * higher-order function, i.e. CodegenFallback — the pushed predicate
  * runs interpreted per ELEMENT, while the Filter it replaces ran
  * whole-stage-codegen'd per generated ROW. What the rewrite buys is
  * never materializing the discarded rows through the Generate and the
  * operators above it; what it pays is the interpreted lambda. For
  * selective predicates (the q62 token-IN shape) the balance is clearly
  * positive; for a cheap predicate that keeps nearly everything it can be
  * a small loss. `spark.graft.explodePushdown=false` disables the rule
  * per session (it cannot inspect selectivity — Catalyst carries no
  * element-level stats).
  *
  * Injected via [[graft.functions.GraftExtensions]] (the
  * `spark.sql.extensions` conf every session the repo builds sets) into
  * the operator-optimization batch. Fixed-point safe: each application
  * strictly removes pushable conjuncts from the Filter.
  */
object PushFilterIntoExplode extends Rule[LogicalPlan] with PredicateHelper {

  private def pushable(cond: Expression, el: Attribute): Boolean =
    cond.deterministic &&
      cond.references.size == 1 && cond.references.head.semanticEquals(el) &&
      !cond.exists(_.isInstanceOf[PlanExpression[_]]) &&
      // non-attribute Unevaluables (PythonUDF is the real case: it is
      // deterministic and references only el) must stay ABOVE the
      // Generate — inside an ArrayFilter lambda the Python-UDF extractor
      // cannot hoist them and the query dies with "Cannot evaluate
      // expression". Attributes are themselves Unevaluable, so exempt
      // them — they become the bound lambda variable.
      !cond.exists {
        case _: Attribute => false
        case _: Unevaluable => true
        case _ => false
      }

  private def enabled: Boolean =
    conf.getConfString("spark.graft.explodePushdown", "true").toBoolean

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan else applyEnabled(plan)

  private def applyEnabled(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond,
        g @ Generate(Explode(arr), _, false, _, Seq(el), _))
        if arr.dataType.isInstanceOf[ArrayType] =>
      val (push, keep) = splitConjunctivePredicates(cond).partition(pushable(_, el))
      if (push.isEmpty) f
      else {
        val ArrayType(et, containsNull) = arr.dataType: @unchecked
        val lv = NamedLambdaVariable("el", et, containsNull)
        val body = push.reduce(And).transform {
          case a: Attribute if a.semanticEquals(el) => lv
        }
        val filtered = ArrayFilter(arr, LambdaFunction(body, Seq(lv)))
        val newGen = g.copy(generator = Explode(filtered))
        keep.reduceOption(And).map(Filter(_, newGen)).getOrElse(newGen)
      }
  }
}
