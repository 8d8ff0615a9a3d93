package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for the embedding dot product.
  *
  * The pure-`functions` formulation (`aggregate(zip_with(a, b, _*_), …)`)
  * is correct but interpreted: higher-order functions sit outside
  * whole-stage codegen and allocate a lambda frame per element. This
  * expression compiles to a tight primitive `double` loop inside the
  * generated code — the preferred extension order from the builder brief:
  * native `Expression` with `doGenCode` beats a Scala UDF.
  *
  * Shares the `PairwiseDoubleFold` loop with [[SqDistance]]; the one
  * difference is the per-element term, `a_i · b_i`.
  */
case class DotProduct(left: Expression, right: Expression)
    extends PairwiseDoubleFold("graft_dot") {

  override protected def term(x: Double, y: Double): Double = x * y
  override protected def termCode(x: String, y: String): String = s"$x * $y"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Native squared-L2 distance for the PQ family
  * ([[graft.functions.VectorPQ]]): `Σ (a_i − b_i)²` as one primitive
  * `double` loop in generated code, bit-for-bit the HOF formulation
  * `aggregate(zip_with(a, b, (x,y) => (x−y)*(x−y)), 0.0, +)`, so the
  * DuckDB `list_reduce` oracles replay it unchanged.
  *
  * Shares the `PairwiseDoubleFold` loop with [[DotProduct]]; the one
  * difference is the per-element term, `(a_i − b_i)²`.
  */
case class SqDistance(left: Expression, right: Expression)
    extends PairwiseDoubleFold("graft_l2") {

  override protected def term(x: Double, y: Double): Double = (x - y) * (x - y)
  override protected def termCode(x: String, y: String): String =
    s"($x - $y) * ($x - $y)"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqDistance =
    copy(left = newLeft, right = newRight)
}

/** `Σ term(a_i, b_i)` over two double arrays, the loop shared by
  * [[DotProduct]] and [[SqDistance]] in its interpreted and generated
  * forms. Result semantics match the HOF formulation
  * `aggregate(zip_with(a, b, term), 0.0, +)` bit-for-bit: left-to-right
  * summation, `null` out if either array (or any element) is null, and
  * `null` when the lengths differ — `zip_with` null-pads the shorter
  * array, so the HOF sum is null there too; ragged vectors must not
  * silently score as a prefix fold.
  */
private[plans] abstract class PairwiseDoubleFold(name: String)
    extends BinaryExpression with ImplicitCastInputTypes with Serializable {

  // Serializable here, not only on the case class: tasks Java-deserialize
  // the expression, which needs this constructor-argument parent restored
  // from the stream rather than through a no-arg constructor

  /** One element's term, and the same term as Java source over the
    * element variables `x` and `y`. */
  protected def term(x: Double, y: Double): Double
  protected def termCode(x: String, y: String): String

  // AbstractDataType is private[sql]; the inferred Seq[ArrayType] conforms.
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = name

  /** Nullable even when both arrays are non-null: a null ELEMENT nulls the
    * result, so the default child-derived nullability would under-report
    * (and let the null decay to 0.0 in non-nullable readers).
    */
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += term(x.getDouble(i), y.getDouble(i))
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |double $acc = 0.0;
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $x = $a.getDouble($i);
         |    double $y = $b.getDouble($i);
         |    $acc += ${termCode(x, y)};
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
}

/** The guarded builders and `Column` helpers for `graft_dot` ([[DotProduct]])
  * and `graft_l2` ([[SqDistance]]); [[GraftFunctions]] registers them.
  */
object VectorExpressions {

  private[plans] val builder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, s"graft_dot expects 2 arguments, got ${exprs.length}")
    DotProduct(exprs.head, exprs(1))
  }

  private[plans] val l2Builder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, s"graft_l2 expects 2 arguments, got ${exprs.length}")
    SqDistance(exprs.head, exprs(1))
  }

  /** `Column` surface: registers on first use, then plain `call_function`. */
  def dotColumn(spark: SparkSession, a: Column, b: Column): Column = {
    GraftFunctions.register(spark)
    org.apache.spark.sql.functions.call_function("graft_dot", a, b)
  }

  /** `Column` surface for the squared-L2 kernel. */
  def l2Column(spark: SparkSession, a: Column, b: Column): Column = {
    GraftFunctions.register(spark)
    org.apache.spark.sql.functions.call_function("graft_l2", a, b)
  }
}
