package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native PQ encoder — the codegen replacement for the per-subspace
  * argmin HOFs in [[graft.functions.VectorPQ.encode]] (measured as the
  * whole ~1.6 s floor of d94/d95: m·ksub·dsub interpreted fold
  * evaluations per corpus row; this expression is one flat primitive
  * loop).
  *
  * Semantics are the HOF formulation's BIT-FOR-BIT (VectorPQSpec pins
  * equality): for each subspace j, the code is the index of the codeword
  * minimizing the left-to-right-summed squared L2 distance to the j-th
  * subvector, ties to the SMALLEST code (strict `<` on the running
  * minimum). The codebook ships inside the expression as a flat
  * `[m·ksub·dsub]` double array — the same plan-literal budget class as
  * the Column version's `typedlit`, serialized once per task with the
  * expression tree, not per row.
  *
  * Null contract: null input array → null; a null ELEMENT anywhere in
  * the vector → null (the HOF's `zip_with`/`aggregate` null propagation
  * collapses any subspace distance to null, making every argmin
  * undefined — emitting partial codes would silently mis-encode).
  * Length ≠ m·dsub → null (the HOF's zip_with padding yields null
  * distances the same way).
  */
case class PqEncode(child: Expression, m: Int, ksub: Int, dsub: Int,
                    codebook: Array[Double])
    extends UnaryExpression with ImplicitCastInputTypes {
  require(m > 0 && ksub > 0 && dsub > 0, s"bad PQ geometry m=$m ksub=$ksub dsub=$dsub")
  require(codebook.length == m * ksub * dsub,
    s"codebook length ${codebook.length} != m*ksub*dsub = ${m * ksub * dsub}")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pq_encode"

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)

  override def nullSafeEval(v: Any): Any =
    PqEncode.compute(v.asInstanceOf[ArrayData], m, ksub, dsub, codebook)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", codebook, "double[]")
    val resultTerm = ctx.freshName("pqCodes")
    nullSafeCodeGen(ctx, ev, v =>
      s"""org.apache.spark.sql.catalyst.util.ArrayData $resultTerm =
         |  graft.plans.PqEncode.compute($v, $m, $ksub, $dsub, $cbRef);
         |if ($resultTerm == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $resultTerm; }""".stripMargin)
  }
}

object PqEncode {

  /** One flat pass: for subspace j, scan ksub codewords over dsub dims,
    * tracking the strict running minimum. Returns null on any null
    * element or a length mismatch (see the class doc).
    */
  def compute(v: ArrayData, m: Int, ksub: Int, dsub: Int,
              cb: Array[Double]): ArrayData = {
    if (v.numElements() != m * dsub) return null
    val x = new Array[Double](m * dsub)
    var i = 0
    while (i < x.length) {
      if (v.isNullAt(i)) return null
      x(i) = v.getDouble(i)
      i += 1
    }
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      val xOff = j * dsub
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < ksub) {
        val cbOff = (j * ksub + c) * dsub
        var acc = 0.0
        var d = 0
        while (d < dsub) {
          val t = x(xOff + d) - cb(cbOff + d)
          acc += t * t
          d += 1
        }
        if (acc < bestD) { bestD = acc; best = c }
        c += 1
      }
      codes(j) = best
      j += 1
    }
    new GenericArrayData(codes)
  }
}

/** The guarded builder for `graft_pq_encode(vec, m, ksub,
  * dsub, codebook_literal)` — the codebook rides as a foldable array
  * literal that the builder collapses into the expression's constructor
  * (plan-literal budget class; shipped once with the tree, not per row).
  */
object PqExpressions {

  private[plans] val builder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 5,
      s"graft_pq_encode expects 5 arguments, got ${exprs.length}")
    require(exprs.drop(1).forall(_.foldable),
      "graft_pq_encode geometry and codebook must be literals")
    val Seq(m, ksub, dsub) =
      exprs.slice(1, 4).map(_.eval().asInstanceOf[Number].intValue)
    val cb = exprs(4).eval().asInstanceOf[ArrayData].toDoubleArray()
    PqEncode(exprs.head, m, ksub, dsub, cb)
  }

  /** `Column` surface used by [[graft.functions.VectorPQ.encode]]. */
  def encodeColumn(spark: SparkSession, v: Column, m: Int, ksub: Int,
                   dsub: Int, codebook: Array[Array[Array[Double]]]): Column = {
    GraftFunctions.register(spark)
    val flat = new Array[Double](m * ksub * dsub)
    var i = 0
    for (j <- 0 until m; c <- 0 until ksub; d <- 0 until dsub) {
      flat(i) = codebook(j)(c)(d); i += 1
    }
    org.apache.spark.sql.functions.call_function("graft_pq_encode", v,
      org.apache.spark.sql.functions.lit(m),
      org.apache.spark.sql.functions.lit(ksub),
      org.apache.spark.sql.functions.lit(dsub),
      org.apache.spark.sql.functions.typedlit(flat))
  }
}
