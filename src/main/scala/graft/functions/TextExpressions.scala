package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Analysis-time input typing shared by the graft expressions: these are
  * registered session-wide, so a wrong-typed SQL call (`graft_sorted_
  * intersect(array<int>, ...)`) must fail at analysis rather than read
  * garbage through `ArrayData.getLong`. (`ExpectsInputTypes` is not an
  * option outside org.apache.spark — `AbstractDataType` is private[sql].) */
private[functions] object InputCheck {
  def arrayOfLong(e: Expression, fn: String, pos: Int): Option[String] =
    e.dataType match {
      // containsNull is accepted either way: engine-constructed arrays are
      // null-free, and lambda-derived arrays are typed containsNull=true
      // even when provably null-free. Null ELEMENTS remain unsupported.
      case ArrayType(LongType, _) => None
      case other =>
        Some(s"$fn argument $pos must be ARRAY<BIGINT>, got ${other.sql}")
    }

  def string(e: Expression, fn: String, pos: Int): Option[String] =
    e.dataType match {
      case StringType => None
      case other => Some(s"$fn argument $pos must be STRING, got ${other.sql}")
    }

  def result(problems: Option[String]*): TypeCheckResult =
    problems.flatten.headOption
      .map(TypeCheckResult.TypeCheckFailure)
      .getOrElse(TypeCheckResult.TypeCheckSuccess)
}

/** Exact-arity wrapper for function-registry builders: Spark hands the
  * builder whatever argument list the SQL call wrote, and a bare
  * `c(0)/c(1)` body would silently DROP extra arguments (a 3-way
  * `graft_sorted_intersect(a, b, c)` returning a plausible 2-way count)
  * or die with a raw IndexOutOfBoundsException on missing ones. */
private[functions] object Arity {
  def apply(n: Int, name: String)(f: Seq[Expression] => Expression)
      : Seq[Expression] => Expression =
    c => {
      if (c.size != n) throw new IllegalArgumentException(
        s"$name expects exactly $n argument(s), got ${c.size}")
      f(c)
    }
}

/** The 60-bit MD5-prefix content hash (first 15 hex digits == first 60
  * bits big-endian) — ONE implementation for every native expression, so
  * the oracle-parity-load-bearing convention can never drift between
  * copies. Thread-cached digest: expression instances are shared across
  * executor threads under whole-stage codegen. */
private[functions] object Hash60 {
  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def apply(s: String): Long = {
    val md = mdLocal.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var acc = 0L
    var i = 0
    while (i < 7) { acc = (acc << 8) | (d(i) & 0xffL); i += 1 }
    (acc << 4) | ((d(7) & 0xf0L) >> 4)
  }

  /** Drain a TreeSet of boxed longs to a sorted primitive array. */
  def drain(set: java.util.TreeSet[java.lang.Long]): Array[Long] = {
    val out = new Array[Long](set.size)
    val it = set.iterator()
    var p = 0
    while (it.hasNext) { out(p) = it.next(); p += 1 }
    out
  }
}

import graft.ops.TextOps

/** Native Catalyst expressions for the text-dedup hot paths.
  *
  * Spark's array built-ins cover the semantics but not the throughput:
  * `array_intersect` builds two hash sets per CALL — ruinous when the call
  * sits inside a candidate-pair join (hundreds of thousands of evaluations)
  * — and a MinHash signature as 16 interpreted `transform`s re-walks the
  * shingle array 16 times with boxed arithmetic. Both replacements below
  * are single tight loops over primitive `long[]`s.
  */

/** Intersection SIZE of two SORTED distinct LONG arrays via a two-pointer
  * merge — O(n+m), zero allocation, whole-stage-codegen'd.
  *
  * Equivalent to `size(array_intersect(a, b))` when both inputs are sorted
  * and duplicate-free (guaranteed by `TextOps.shingleHashesExpr`, which
  * wraps `array_sort(array_distinct(...))`). Matches the DuckDB oracle's
  * `len(list_intersect(a, b))` — sortedness never changes set semantics.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sorted_intersect"

  override def checkInputDataTypes(): TypeCheckResult = InputCheck.result(
    InputCheck.arrayOfLong(left, prettyName, 1),
    InputCheck.arrayOfLong(right, prettyName, 2))

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements(); val m = y.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < n && j < m) {
      // fail-fast on null ELEMENTS (ArrayMinAgg's discipline): getLong on
      // a null slot reads a silent 0 on UnsafeArrayData and NPEs on
      // GenericArrayData — neither is an answer
      if (x.isNullAt(i) || y.isNullAt(j)) throw new IllegalArgumentException(
        s"$prettyName: null array element (null elements are unsupported)")
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else { c += 1L; i += 1; j += 1 }
    }
    c
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $n = $x.numElements(); int $m = $y.numElements();
         |int $i = 0; int $j = 0; long $c = 0L;
         |while ($i < $n && $j < $m) {
         |  if ($x.isNullAt($i) || $y.isNullAt($j))
         |    throw new IllegalArgumentException(
         |      "graft_sorted_intersect: null array element (null elements are unsupported)");
         |  long $xv = $x.getLong($i); long $yv = $y.getLong($j);
         |  if ($xv < $yv) $i++;
         |  else if ($xv > $yv) $j++;
         |  else { $c++; $i++; $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** MinHash LSH band keys of a distinct-hash array in ONE pass: all
  * `TextOps.NumPerm` permutation minima tracked simultaneously, then packed
  * into `TextOps.Bands` band keys (m_{2j}·P + m_{2j+1}).
  *
  * Bit-identical to the composed form in `TextOps.bandKeyExprs` (same P /
  * permA / permB constants — asserted by MinhashSpec) and to the DuckDB
  * oracle in `TextOps.sql.bandKeys`. Evaluated once per document row, so
  * interpreted eval (primitive loops, no boxing) is already off the hot
  * path; no doGenCode needed.
  */
case class MinhashBandKeys(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_bands"
  // nullSafeEval returns null for an EMPTY hash array even when the child
  // itself is non-nullable (e.g. graft_shingle_hashes3 over a non-null
  // column yields empty, not null, for short texts) — without this
  // override Catalyst would treat the result as non-null and consumers
  // could NPE in generated code.
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    InputCheck.result(InputCheck.arrayOfLong(child, prettyName, 1))

  private val P = TextOps.P
  private val as = TextOps.permA.toArray
  private val bs = TextOps.permB.toArray

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    if (n == 0) return null // matches array_min(empty) => null key semantics
    val nPerm = as.length
    val ms = Array.fill(nPerm)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (hs.isNullAt(i)) throw new IllegalArgumentException(
        s"$prettyName: null array element (null elements are unsupported)")
      val hp = hs.getLong(i) % P
      var k = 0
      while (k < nPerm) {
        val v = (as(k) * hp + bs(k)) % P
        if (v < ms(k)) ms(k) = v
        k += 1
      }
      i += 1
    }
    val keys = Array.tabulate(TextOps.Bands)(j => ms(2 * j) * P + ms(2 * j + 1))
    new GenericArrayData(keys)
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashBandKeys =
    copy(child = newChild)
}

/** The raw MinHash signature (all `TextOps.NumPerm` permutation minima)
  * of a distinct-hash array in ONE pass — [[MinhashBandKeys]]'s sibling
  * for consumers that need the minima themselves (per-source signature
  * folds, the banding-sweep key builders) rather than packed band keys.
  * The composed form (`TextOps.minhashExprs`) runs NumPerm separate
  * transform+array_min passes, each materializing a permuted COPY of the
  * hash array; this tracks all minima in one loop with zero allocation
  * per element. Bit-identical to the composed form (same P/permA/permB
  * constants — asserted by MinhashSpec) and to the DuckDB twin
  * (`TextOps.sql.minhash`). Empty input → null, matching
  * `array_min(empty) => null`. One eval per document row; interpreted
  * eval with primitive loops is off the hot path, no doGenCode needed.
  */
case class MinhashSignature(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    InputCheck.result(InputCheck.arrayOfLong(child, prettyName, 1))

  private val P = TextOps.P
  private val as = TextOps.permA.toArray
  private val bs = TextOps.permB.toArray

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    if (n == 0) return null
    val nPerm = as.length
    val ms = Array.fill(nPerm)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (hs.isNullAt(i)) throw new IllegalArgumentException(
        s"$prettyName: null array element (null elements are unsupported)")
      val hp = hs.getLong(i) % P
      var k = 0
      while (k < nPerm) {
        val v = (as(k) * hp + bs(k)) % P
        if (v < ms(k)) ms(k) = v
        k += 1
      }
      i += 1
    }
    new GenericArrayData(ms)
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSignature =
    copy(child = newChild)
}

/** Unicode NFC normalization — Spark has no built-in normalizer, and a
  * Scala UDF would box every row and block codegen. This stays inside
  * whole-stage codegen via a static helper call; the fast path
  * (`Normalizer.isNormalized`, true for virtually all real text) returns
  * the input `UTF8String` without any allocation.
  *
  * DuckDB oracle twin: `nfc_normalize(s)` (both implement Unicode NFC;
  * parity on the composed/decomposed forms is oracle-checked by q74).
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_nfc"

  override def checkInputDataTypes(): TypeCheckResult =
    InputCheck.result(InputCheck.string(child, prettyName, 1))

  override def nullSafeEval(input: Any): Any =
    NfcNormalize.nfc(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcNormalize.nfc($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {
  import java.text.Normalizer
  import org.apache.spark.unsafe.types.UTF8String

  /** Static entry point shared by interpreted eval and generated code. */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (Normalizer.isNormalized(str, Normalizer.Form.NFC)) s
    else UTF8String.fromString(Normalizer.normalize(str, Normalizer.Form.NFC))
  }
}

/** Sorted distinct 60-bit MD5-prefix hashes of the word k-shingles of a
  * text column — the whole `TextOps.shingleHashesExpr` chain (split →
  * shingle concat → md5 → hex-prefix parse → distinct → sort) in one
  * per-row eval with primitive arrays and a single reused MessageDigest.
  *
  * Bit-identical to the composed form (asserted by TextOpsSpec): tokens
  * split on single spaces with trailing empties kept (Java split limit -1
  * == Spark's split), shingles joined with ' ', hash = first 15 hex
  * digits of MD5 == first 60 bits big-endian.
  */
case class ShingleHashes(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // matches the REGISTERED name (graft_shingle_hashes3) so analysis
  // errors cite a function the user can actually find
  override def prettyName: String = s"graft_shingle_hashes$k"

  override def checkInputDataTypes(): TypeCheckResult =
    InputCheck.result(InputCheck.string(child, prettyName, 1))

  override def nullSafeEval(input: Any): Any = {
    val text = input.toString
    val toks = text.split(" ", -1)
    val n = toks.length - k + 1
    if (n <= 0) return new GenericArrayData(Array.emptyLongArray)
    val set = new java.util.TreeSet[java.lang.Long]()
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < n) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      set.add(Hash60(sb.toString))
      i += 1
    }
    new GenericArrayData(Hash60.drain(set))
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** POSITIONAL (non-distinct, in order) 60-bit MD5-prefix hashes of the
  * word k-grams of a text column — the `TextOps.posGramHashesExpr(split(
  * text, ' '), k)` chain in one per-row eval. Bit-identical to the
  * composed form (asserted by TextVectorSpec): tokens split on single
  * spaces with trailing empties kept, grams joined with ' ', hash =
  * first 15 hex digits of MD5 == first 60 bits big-endian; documents
  * shorter than k yield the empty (typed) array. Unlike
  * [[ShingleHashes]], duplicates and order are preserved — position
  * identity is what exact-substring dedup (q73/q201) and clipped n-gram
  * overlap (q205) count. The composed form evaluates its lambda
  * INTERPRETED per gram with an md5 expression chain per element — the
  * same 83-s-vs-2-s class of gap the lang-id feature pass measured.
  */
case class PosGramHashes(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // matches the REGISTERED names (graft_pos_grams1/2/8)
  override def prettyName: String = s"graft_pos_grams$k"

  override def checkInputDataTypes(): TypeCheckResult =
    InputCheck.result(InputCheck.string(child, prettyName, 1))

  override def nullSafeEval(input: Any): Any = {
    val toks = input.toString.split(" ", -1)
    val n = toks.length - k + 1
    if (n <= 0) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](n)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < n) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out(i) = Hash60(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): PosGramHashes =
    copy(child = newChild)
}

/** MULTISET intersection size of two LONG arrays — Σ_v min(count_a(v),
  * count_b(v)), the clipped n-gram overlap at the core of BLEU/ROUGE
  * (q205). Inputs need NOT be sorted or distinct: each eval copies both
  * sides to primitive `long[]`s, sorts, and two-pointer-merges counting
  * one match per consumed element — with duplicates, equal values pair
  * off one-for-one, which IS the per-value min. Evaluated once per
  * candidate/reference PAIR (not per gram), so the per-eval sort is off
  * the hot path; what it replaces is a corpus-sized explode + groupBy +
  * equi-join over every gram occurrence.
  */
case class ClipOverlapCount(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_clip_count"

  override def checkInputDataTypes(): TypeCheckResult = InputCheck.result(
    InputCheck.arrayOfLong(left, prettyName, 1),
    InputCheck.arrayOfLong(right, prettyName, 2))

  private def toSorted(x: ArrayData): Array[Long] = {
    val n = x.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) throw new IllegalArgumentException(
        s"$prettyName: null array element (null elements are unsupported)")
      out(i) = x.getLong(i)
      i += 1
    }
    java.util.Arrays.sort(out)
    out
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = toSorted(a.asInstanceOf[ArrayData])
    val y = toSorted(b.asInstanceOf[ArrayData])
    var i = 0; var j = 0; var c = 0L
    while (i < x.length && j < y.length) {
      if (x(i) < y(j)) i += 1
      else if (x(i) > y(j)) j += 1
      else { c += 1L; i += 1; j += 1 }
    }
    c
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ClipOverlapCount =
    copy(left = newLeft, right = newRight)
}

/** Per-document char-trigram feature-bucket COUNTS + bias — the lang-id
  * feature pass (q211/q212) in ONE per-row compiled loop. Returns
  * ARRAY<BIGINT> of length b+1: index j < b is the count of trigram
  * positions whose 3-round sqMix fold lands in bucket j; index b is the
  * constant 1 bias row every doc carries ([[graft.ops.LinearTrain]]
  * featureRows convention), so the caller posexplodes straight into the
  * (b, cnt) feature shape with NO second scan, NO 20M-row explode and
  * NO groupBy shuffle. The composed higher-order-function form
  * (`TextOps.charTrigramBucketsExpr`, kept as the oracle-shaped
  * reference and spec-pinned equal) evaluates its lambda INTERPRETED
  * per element — measured 83 s for the sf1 corpus vs ~2 s here.
  *
  * Walks CODE POINTS (like [[WinnowFingerprints]]): the DuckDB twin
  * folds `ascii(string_split(text, '')[i])`, which yields full code
  * points — a UTF-16 code-unit walk would split surrogate pairs. The
  * mix must stay bit-equal to `TextOps.sqMix` composed three times:
  * all values non-negative, products < 2⁶³. */
case class TrigramBucketCounts(child: Expression, b: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = s"graft_trigram_buckets$b"

  override def checkInputDataTypes(): TypeCheckResult =
    InputCheck.result(InputCheck.string(child, prettyName, 1))

  private val P = 1000000007L
  @inline private def mix(x: Long): Long = {
    val v1 = ((x % P) * 2654435761L) % P
    (v1 * (v1 + 1) / 2) % P
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.toString
    val counts = new Array[Long](b + 1)
    counts(b) = 1L // the per-doc bias row
    val len = s.length
    if (len >= 3) {
      var i1 = 0
      var cp1 = if (len > 0) s.codePointAt(0) else 0
      var i2 = i1 + Character.charCount(cp1)
      if (i2 < len) {
        var cp2 = s.codePointAt(i2)
        var i3 = i2 + Character.charCount(cp2)
        while (i3 < len) {
          val cp3 = s.codePointAt(i3)
          val h = mix(mix(mix(cp1) + cp2) + cp3)
          counts((h % b).toInt) += 1
          cp1 = cp2
          cp2 = cp3
          i3 += Character.charCount(cp3)
        }
      }
    }
    new GenericArrayData(counts)
  }

  override protected def withNewChildInternal(
      newChild: Expression): TrigramBucketCounts = copy(child = newChild)
}

/** Per-document word-token feature-bucket COUNTS + bias — the
  * quality-classifier feature pass (q203/q69/q204) in ONE per-row eval:
  * index j < b counts the doc's tokens whose 60-bit MD5-prefix hash
  * lands in bucket j (`pmod(hash60(tok), b)` — hash60 is non-negative,
  * so `%` == pmod), index b is the constant-1 bias
  * ([[graft.ops.LinearTrain]] featureRows convention). The exploded
  * form it replaces hashed every token occurrence into its own row and
  * shuffled the (doc, y, b) stream through a count aggregate — corpus
  * token-count rows and md5 expression chains per element vs one
  * compiled loop with a thread-cached digest here. Bit-equality with
  * the exploded form is spec-pinned (LinearTrainSpec). */
case class TokenBucketCounts(child: Expression, b: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = s"graft_token_buckets$b"

  override def checkInputDataTypes(): TypeCheckResult =
    InputCheck.result(InputCheck.string(child, prettyName, 1))

  override def nullSafeEval(input: Any): Any = {
    val toks = input.toString.split(" ", -1)
    val counts = new Array[Long](b + 1)
    counts(b) = 1L // the per-doc bias row
    var i = 0
    while (i < toks.length) {
      counts((Hash60(toks(i)) % b).toInt) += 1L
      i += 1
    }
    new GenericArrayData(counts)
  }

  override protected def withNewChildInternal(
      newChild: Expression): TokenBucketCounts = copy(child = newChild)
}

/** Per-document repetition statistics (the Gopher-rule inputs, q59) in
  * ONE per-row eval: returns ARRAY<BIGINT> [n_toks, n_distinct_toks,
  * top_bigram_n]. Counts DISTINCT TOKEN STRINGS and the max-multiplicity
  * BIGRAM STRING — exact string semantics, never hash-key shortcuts, so
  * the result matches the oracle's string grouping even in the
  * (astronomically unlikely) event of a hash collision. Replaces a
  * per-position bigram string concat + explode + two corpus-sized
  * (doc, bigram) shuffles with a per-row hash map. Tokens split on
  * single spaces with trailing empties kept (Java split -1 == Spark
  * split); bigrams joined with ' '. */
case class RepetitionStats(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_rep_stats"

  override def checkInputDataTypes(): TypeCheckResult =
    InputCheck.result(InputCheck.string(child, prettyName, 1))

  override def nullSafeEval(input: Any): Any = {
    val toks = input.toString.split(" ", -1)
    val distinct = new java.util.HashSet[String]()
    var i = 0
    while (i < toks.length) { distinct.add(toks(i)); i += 1 }
    var top = 0L
    if (toks.length >= 2) {
      val counts = new java.util.HashMap[String, Long]()
      val sb = new java.lang.StringBuilder
      i = 0
      while (i < toks.length - 1) {
        sb.setLength(0)
        sb.append(toks(i)).append(' ').append(toks(i + 1))
        val key = sb.toString
        val c = counts.merge(key, 1L, (a, b) => a + b)
        if (c > top) top = c
        i += 1
      }
    }
    new GenericArrayData(
      Array(toks.length.toLong, distinct.size.toLong, top))
  }

  override protected def withNewChildInternal(
      newChild: Expression): RepetitionStats = copy(child = newChild)
}

/** 60-bit SimHash signature of a text column in ONE per-row eval (q28's
  * chain: whitespace tokens → 60-bit MD5-prefix hashes → DISTINCT hash
  * values → per-bit ±1 vote → bit j set iff votes > 0). Bit-identical
  * to the composed explode + 60×SUM(CASE) aggregate form — votes are a
  * commutative sum over the distinct hash SET, so iteration order never
  * matters — with no 25M-row explode, no 60-column shuffle, and the
  * token md5s in a compiled loop instead of an interpreted lambda. */
case class SimhashSig(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash60"

  override def checkInputDataTypes(): TypeCheckResult =
    InputCheck.result(InputCheck.string(child, prettyName, 1))

  private val nBits = 60

  override def nullSafeEval(input: Any): Any = {
    val toks = input.toString.split(" ", -1)
    val seen = new java.util.HashSet[java.lang.Long]()
    val votes = new Array[Int](nBits)
    var i = 0
    while (i < toks.length) {
      val h = Hash60(toks(i))
      if (seen.add(h)) {
        var j = 0
        while (j < nBits) {
          if (((h >> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < nBits) {
      if (votes(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression): SimhashSig =
    copy(child = newChild)
}

/** Fused PII detection + redaction statistics (q60) in one eval:
  * returns ARRAY<BIGINT> [n_emails, n_ips, clean_len, clean_h] where
  * clean = the [[graft.ops.PiiRedact.redact]] chain (emails then IPv4s
  * replaced by fixed tags), clean_len counts CODE POINTS (Spark's
  * `length()` and DuckDB's `length()` semantics, not UTF-16 units) and
  * clean_h is the 60-bit MD5-prefix hash of clean. Three regex walks
  * (email count fused with its replace; IP count on the ORIGINAL text —
  * q60's published semantics; IP replace on the email-replaced text)
  * replace the four separate regexp_count/regexp_replace expression
  * walks plus the md5 + length passes. Patterns are the shared
  * [[graft.ops.PiiRedact]] constants, compiled once; replacement tags
  * contain no `$`/`\`, so Matcher.appendReplacement inserts them
  * literally — identical to Spark's regexp_replace. */
case class PiiStats(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_pii_stats"

  override def checkInputDataTypes(): TypeCheckResult =
    InputCheck.result(InputCheck.string(child, prettyName, 1))

  override def nullSafeEval(input: Any): Any = {
    val text = input.toString
    // email: count + replace in one walk
    val em = PiiStats.Email.matcher(text)
    var nEmails = 0L
    val sb = new java.lang.StringBuffer
    while (em.find()) { nEmails += 1L; em.appendReplacement(sb, graft.ops.PiiRedact.EmailTag) }
    em.appendTail(sb)
    val afterEmail = sb.toString
    // ip count on the ORIGINAL text (q60's published semantics)
    val ipCount = PiiStats.Ipv4.matcher(text)
    var nIps = 0L
    while (ipCount.find()) nIps += 1L
    // ip replace on the email-replaced text (the redact chain's order)
    val ipM = PiiStats.Ipv4.matcher(afterEmail)
    val sb2 = new java.lang.StringBuffer
    while (ipM.find()) ipM.appendReplacement(sb2, graft.ops.PiiRedact.IpTag)
    ipM.appendTail(sb2)
    val clean = sb2.toString
    new GenericArrayData(Array(nEmails, nIps,
      clean.codePointCount(0, clean.length).toLong, Hash60(clean)))
  }

  override protected def withNewChildInternal(newChild: Expression): PiiStats =
    copy(child = newChild)
}

object PiiStats {
  private val Email = java.util.regex.Pattern.compile(graft.ops.PiiRedact.EmailRe)
  private val Ipv4 = java.util.regex.Pattern.compile(graft.ops.PiiRedact.Ipv4Re)
}

/** Winnowing fingerprints: distinct minima of every w-window over the
  * rolling k-char-gram 60-bit hashes of a text column — the q36 chain in
  * one eval. Returns the distinct minima SORTED (the consumer explodes and
  * re-sorts, so order never reaches results).
  *
  * Grams are CODE-POINT grams: the DuckDB oracle's `substr`/`length` and
  * Spark's own `length()` count code points, so a UTF-16 code-unit walk
  * would both miscount the grams of astral-character text AND split
  * surrogate pairs (whose lone halves UTF-8-encode as '?', aliasing
  * distinct characters into one hash). BMP-only text (the overwhelmingly
  * common case) takes the allocation-free code-unit fast path — the two
  * walks are identical there. */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // matches the REGISTERED name (graft_winnow_7_4)
  override def prettyName: String = s"graft_winnow_${k}_$w"

  override def checkInputDataTypes(): TypeCheckResult =
    InputCheck.result(InputCheck.string(child, prettyName, 1))

  override def nullSafeEval(input: Any): Any = {
    val text = input.toString
    // fast path: no surrogate pairs -> code units ARE code points
    val cps: Array[Int] =
      if (text.length == text.codePointCount(0, text.length)) null
      else text.codePoints().toArray
    val nChars = if (cps == null) text.length else cps.length
    val nGrams = nChars - k + 1
    val nWin = nGrams - w + 1
    if (nWin <= 0) return new GenericArrayData(Array.emptyLongArray)
    val hs = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      val gram = if (cps == null) text.substring(i, i + k)
                 else new String(cps, i, k)
      hs(i) = Hash60(gram)
      i += 1
    }
    val set = new java.util.TreeSet[java.lang.Long]()
    var p = 0
    while (p < nWin) {
      var m = hs(p)
      var j = 1
      while (j < w) { if (hs(p + j) < m) m = hs(p + j); j += 1 }
      set.add(m)
      p += 1
    }
    new GenericArrayData(Hash60.drain(set))
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)
}
