package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native intersection-count kernel for SORTED distinct long arrays — the
  * per-candidate verify of every exact set-similarity join (Jaccard,
  * containment) and of the LSH families' exact confirm step.
  *
  * The `functions`-level formulation `size(array_intersect(a, b))` is
  * correct but allocation-bound: Spark's `ArrayIntersect` builds an
  * `OpenHashSet` over one side AND materializes the full intersection
  * array per row — only for `size` to read its length and drop it. On a
  * pair-verify stage that runs once per CANDIDATE (not per doc), that is
  * the dominant allocation source of the whole join: one driver bench run
  * measured 48 s of GC on d131's 688 tasks where the quiet-box run of the
  * same plan pays 2.4 s. This expression counts common elements
  * with a two-pointer merge — ZERO allocation, no boxing, whole-stage
  * codegen-friendly — and returns the count directly.
  *
  * CONTRACT: both inputs must be ascending-sorted with distinct elements,
  * which is exactly what [[graft.functions.MinHashLSH.shingleArrays]]
  * emits (`sort_array(array_distinct(...))` — the one producer every
  * call site derives from; property-pinned in `SortedIntersectSpec`).
  * Unsorted input silently undercounts — never pass arrays from any
  * other derivation without sorting them first.
  */
case class SortedLongIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_intersect_count"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedLongIntersectCount =
    copy(left = newLeft, right = newRight)

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedLongIntersectCount.compute(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.SortedLongIntersectCount.compute($a, $b);")
}

object SortedLongIntersectCount {
  /** Two-pointer merge count; 0 for empty inputs.
    *
    * Null ELEMENTS are refused loudly: `ArrayType(LongType)` defaults to
    * `containsNull = true`, and `ArrayData.getLong` on a null slot reads
    * whatever bytes sit there — a silent miscount, not an error. No
    * producer in this engine emits null shingles (they come from
    * xxhash64), so the branch below is never-taken in the hot path
    * (predicted free); it exists to turn a future bad producer into an
    * exception instead of a wrong Jaccard.
    */
  def compute(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      if (a.isNullAt(i) || b.isNullAt(j))
        throw new IllegalArgumentException(
          "graft_intersect_count: null array element — inputs must be " +
            "ascending-sorted DISTINCT NON-NULL long arrays " +
            "(the shingleArrays contract)")
      val va = a.getLong(i)
      val vb = b.getLong(j)
      if (va < vb) i += 1
      else if (va > vb) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }
}

/** Native 6dp HALF_UP ratio rounding — `round(num / den, 6)` for
  * non-negative integer numerator/denominator, computed with one long
  * division instead of Spark's `Round(double)` path, which per row does
  * `Double.toString` → `new BigDecimal(String)` → `setScale` →
  * `doubleValue` (measured 4-6% of the containment family's executor
  * samples, since the verify evaluates it once per CANDIDATE).
  *
  * BIT-FOR-BIT equal to `round(CAST(num AS DOUBLE) / den, 6)` on the
  * fast path, proven as follows: HALF_UP at scale 6 of the EXACT rational
  * num/den is `(2·num·10^6 + den) div (2·den)` scaled by 1e-6. Spark's
  * value rounds the shortest-decimal representation r of the correctly
  * rounded double quotient y; |r − num/den| ≤ |r − y| + |y − num/den| ≤
  * 2.3e-16 for num ≤ den, while a non-midpoint rational is at least
  * 1/(2·10^6·den) away from any 1e-6-grid midpoint — so for
  * den < 2·10^9 both sides of every midpoint agree; when num/den IS a
  * midpoint, its ≤7-significant-digit decimal is the unique shortest
  * representation in y's rounding interval, so both paths see the exact
  * midpoint and round HALF_UP together. The final `m / 1e6` double
  * division is correctly rounded, identical to
  * `BigDecimal.setScale(6).doubleValue`. Outside the proven envelope
  * (negative inputs, den ≥ 2·10^9, num ≥ 4.6·10^12) the kernel falls
  * back to Spark's own BigDecimal sequence — never a different answer,
  * only a slower identical one. Exhaustively property-pinned against
  * `round(num/den, 6)` in `RoundRatioSpec`.
  *
  * Null if either input is null; den = 0 reproduces the double path
  * (num/0.0 = Infinity/NaN → BigDecimal throws there, so the kernel
  * refuses loudly too — no verify site divides by an empty set).
  */
case class RoundRatio6(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(LongType, LongType)
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "graft_round_ratio"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RoundRatio6 =
    copy(left = newLeft, right = newRight)

  override def nullSafeEval(a: Any, b: Any): Any =
    RoundRatio6.compute(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.RoundRatio6.compute($a, $b);")
}

object RoundRatio6 {
  def compute(num: Long, den: Long): Double = {
    if (den == 0)
      throw new ArithmeticException(
        "graft_round_ratio: zero denominator (verify sites never divide " +
          "by an empty set)")
    if (num >= 0 && den > 0 && den < 2000000000L && num <= 4600000000000L) {
      // HALF_UP of the exact rational on the 1e-6 grid, one long division
      val m = (2L * num * 1000000L + den) / (2L * den)
      m / 1e6
    } else {
      // Spark Round(double, 6) verbatim — the semantics being replicated
      java.math.BigDecimal.valueOf(num.toDouble / den.toDouble)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    }
  }
}

/** The guarded builders and `Column` helpers for `graft_intersect_count`
  * ([[SortedLongIntersectCount]]) and `graft_round_ratio` ([[RoundRatio6]]);
  * [[GraftFunctions]] registers them.
  */
object ArrayExpressions {

  private[plans] val builder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2,
      s"graft_intersect_count expects 2 arguments, got ${exprs.length}")
    SortedLongIntersectCount(exprs.head, exprs(1))
  }

  private[plans] val ratioBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2,
      s"graft_round_ratio expects 2 arguments, got ${exprs.length}")
    RoundRatio6(exprs.head, exprs(1))
  }

  /** `Column` surface: |a ∩ b| for ascending-sorted distinct long arrays. */
  def intersectCountColumn(spark: SparkSession, a: Column, b: Column): Column = {
    GraftFunctions.register(spark)
    org.apache.spark.sql.functions.call_function(
      "graft_intersect_count", a, b)
  }

  /** `Column` surface: `round(num / den, 6)` for integer columns — see
    * [[RoundRatio6]]. */
  def roundRatioColumn(spark: SparkSession, num: Column, den: Column): Column = {
    GraftFunctions.register(spark)
    org.apache.spark.sql.functions.call_function(
      "graft_round_ratio", num, den)
  }
}
