package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native Catalyst expression for the sequential-fold dot product of two
  * `ARRAY<DOUBLE>` columns.
  *
  * Semantically identical to
  * `aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v)`
  * — a strict left-to-right fold with a 0.0 accumulator, so results stay
  * bit-identical to the DuckDB oracle twin
  * (`list_reduce([0.0] || products, ...)`, see [[graft.ops.VectorOps]]).
  *
  * Why a custom expression: Spark's higher-order functions
  * (ArrayAggregate/ZipWith) are CodegenFallback — interpreted, row-boxed —
  * which dominates runtime when the dot product sits inside an all-pairs
  * join (millions of evaluations). This expression generates a tight
  * primitive loop inside whole-stage codegen: no allocation, no boxing,
  * ~50× faster per evaluation, and the hot path stays in one codegen stage.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  // Registered session-wide, so wrong-typed SQL calls must fail at analysis
  // time instead of reading garbage through ArrayData.getDouble. (No
  // ExpectsInputTypes outside org.apache.spark — AbstractDataType is
  // private[sql].) Ragged inputs FAIL at runtime (ArrayMinAgg's
  // discipline): a 384-dim embedding dotted against a 768-dim one is a
  // mixed-model-version mistake, and a silently truncated partial sum
  // looks exactly like a valid similarity score. Engine callers
  // (VectorOps) always construct equal-dim arrays, so the check never
  // fires on the oracle paths.
  override def checkInputDataTypes(): TypeCheckResult = {
    // containsNull accepted either way (lambda-derived arrays are typed
    // containsNull=true even when provably null-free); null ELEMENTS are
    // unsupported.
    def check(e: Expression, pos: Int): Option[String] = e.dataType match {
      case ArrayType(DoubleType, _) => None
      case other =>
        Some(s"$prettyName argument $pos must be ARRAY<DOUBLE>, got ${other.sql}")
    }
    check(left, 1).orElse(check(right, 2))
      .map(TypeCheckResult.TypeCheckFailure)
      .getOrElse(TypeCheckResult.TypeCheckSuccess)
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) throw new IllegalArgumentException(
      s"$prettyName: array lengths differ ($n vs ${y.numElements()})")
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements())
         |  throw new IllegalArgumentException(
         |    "graft_dot: array lengths differ (" + $n + " vs " + $y.numElements() + ")");
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $x.getDouble($i) * $y.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Shared typing/eval plumbing for the INTEGER array-pair folds
  * (`graft_int_dot`, `graft_sqdist`): ARRAY<BIGINT> × ARRAY<BIGINT> →
  * BIGINT, equal lengths required. Integer addition is associative and
  * commutative, so a tight loop is bit-identical to the interpreted
  * `aggregate(zip_with(...))` fold it replaces in ANY order — unlike
  * the float fold, no sequential-order discipline is needed. Arithmetic
  * is Math.*Exact: the composed form under ANSI mode throws on int64
  * overflow, and a silent wrap here would be a silently-wrong score. */
private[functions] abstract class IntArrayFold extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = InputCheck.result(
    InputCheck.arrayOfLong(left, prettyName, 1),
    InputCheck.arrayOfLong(right, prettyName, 2))

  /** (acc, x, y) => new acc — loud-exact. */
  protected def step(acc: Long, x: Long, y: Long): Long

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) throw new IllegalArgumentException(
      s"$prettyName: array lengths differ ($n vs ${y.numElements()})")
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) throw new IllegalArgumentException(
        s"$prettyName: null array element (null elements are unsupported)")
      acc = step(acc, x.getLong(i), y.getLong(i))
      i += 1
    }
    acc
  }
}

/** Σ xᵢ·yᵢ over two ARRAY<BIGINT> — the integer dot product (quantized
  * embedding scoring: q68/q71's int8 path, centroid assignment). */
case class IntDotProduct(left: Expression, right: Expression)
    extends IntArrayFold {
  override def prettyName: String = "graft_int_dot"
  override protected def step(acc: Long, x: Long, y: Long): Long =
    Math.addExact(acc, Math.multiplyExact(x, y))
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements())
         |  throw new IllegalArgumentException("graft_int_dot: array lengths differ");
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($x.isNullAt($i) || $y.isNullAt($i))
         |    throw new IllegalArgumentException("graft_int_dot: null array element");
         |  $acc = java.lang.Math.addExact($acc,
         |    java.lang.Math.multiplyExact($x.getLong($i), $y.getLong($i)));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntDotProduct =
    copy(left = newLeft, right = newRight)
}

/** Σ (xᵢ−yᵢ)² over two ARRAY<BIGINT> — the integer squared L2 distance
  * (PQ encode/ADC and the exact int8 re-rank, q155). */
case class IntSqDist(left: Expression, right: Expression)
    extends IntArrayFold {
  override def prettyName: String = "graft_sqdist"
  override protected def step(acc: Long, x: Long, y: Long): Long = {
    val d = Math.subtractExact(x, y)
    Math.addExact(acc, Math.multiplyExact(d, d))
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val acc = ctx.freshName("acc"); val d = ctx.freshName("d")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements())
         |  throw new IllegalArgumentException("graft_sqdist: array lengths differ");
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($x.isNullAt($i) || $y.isNullAt($i))
         |    throw new IllegalArgumentException("graft_sqdist: null array element");
         |  long $d = java.lang.Math.subtractExact($x.getLong($i), $y.getLong($i));
         |  $acc = java.lang.Math.addExact($acc, java.lang.Math.multiplyExact($d, $d));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntSqDist =
    copy(left = newLeft, right = newRight)
}

/** All ordered pairs (xs[i], xs[j]) with i < j of an ARRAY<BIGINT> as
  * ARRAY<STRUCT<a, b>> — the basket pair generator behind the
  * co-purchase family (q118/q130/q133/q134/q144/q154/q167/q172). The
  * composed form (`flatten(transform(sequence(...), i ->
  * transform(sequence(...), j -> struct(...))))`) evaluates two nested
  * interpreted lambdas and allocates a boxed array-of-arrays per basket
  * before flattening; this is one flat loop. Pair ORDER matches the
  * composed form (i ascending, then j) — consumers aggregate by pair, so
  * order never reaches results, but explode determinism is preserved.
  * Callers cap basket size upstream (the q118 guard); the expression
  * still bounds n loudly so an uncapped 10⁶-item basket fails instead of
  * allocating 5·10¹¹ structs. */
case class SortedPairs(child: Expression)
    extends UnaryExpression with CodegenFallback {

  import org.apache.spark.sql.types.{StructField, StructType}

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("a", LongType, nullable = false),
      StructField("b", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_pairs"

  override def checkInputDataTypes(): TypeCheckResult =
    InputCheck.result(InputCheck.arrayOfLong(child, prettyName, 1))

  override def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    val n = xs.numElements()
    // bound must be TASK-sized to actually prevent the allocation it
    // guards: 2^10 elements is ~524k boxed pair structs (a few tens of
    // MB, survivable); the old 2^14 bound admitted ~1.34e8 structs —
    // past where an executor OOMs before the "guard" fired. Every
    // caller caps baskets at 50, so 1024 is still 20× headroom.
    require(n <= (1 << 10),
      s"$prettyName: $n elements => ${n.toLong * (n - 1) / 2} pairs — cap " +
        "the group upstream (the q118 basket guard) before pair generation")
    val out = new Array[Any](n * (n - 1) / 2)
    var p = 0
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i)) throw new IllegalArgumentException(
        s"$prettyName: null array element (null elements are unsupported)")
      val a = xs.getLong(i)
      var j = i + 1
      while (j < n) {
        out(p) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](a, xs.getLong(j)))
        p += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): SortedPairs =
    copy(child = newChild)
}
