package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst expression for the per-document shingle-hash loop — the
  * hot inner loop of every text-dedup operator (MinHash, exact Jaccard,
  * winnowing, n-gram decontamination).
  *
  * The `functions`-level formulation
  * (`transform(sequence(...), i => conv(substring(md5(concat_ws(" ",
  * element_at(w, i+1)...)), 1, 15), 16, 10))`) is correct but interpreted:
  * higher-order lambdas evaluate outside whole-stage codegen, re-walking an
  * expression tree of n `element_at`s plus a hex round-trip (md5 bytes →
  * hex string → substring → base-16 string parse) per gram. This expression
  * keeps the row pipeline in codegen and computes each gram in one tight
  * JVM loop, deriving the 60-bit value directly from the digest bytes.
  *
  * Result semantics match the column formula BIT-FOR-BIT (property-pinned
  * in `NativeShingleSpec`): grams start at every 0-based position
  * `0..size-n` (an array shorter than n yields an EMPTY array — never an
  * out-of-range access, so inferred-filter duplication cannot throw);
  * null elements are skipped exactly as `concat_ws` skips them (no
  * separator emitted); the hash is the first 15 hex digits of the md5 of
  * the UTF-8 gram bytes read as a base-16 number — 60 bits, the same value
  * `conv(substring(md5(x), 1, 15), 16, 10)` produces and every DuckDB
  * oracle replays.
  */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(n > 0, s"n=$n must be positive")

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)

  override def nullSafeEval(words: Any): Any =
    ShingleHashes.compute(words.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, w =>
      s"${ev.value} = graft.plans.ShingleHashes.compute($w, $n);")
}

object ShingleHashes {
  // MessageDigest is stateful and not thread-safe; one per executor thread,
  // reset per gram — no per-gram allocation (DigestUtils.md5 in the column
  // path constructs a fresh instance per call).
  private val digests: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** One hash per gram start; empty output for arrays shorter than n. */
  def compute(words: ArrayData, n: Int): ArrayData = {
    val m = words.numElements()
    if (m < n) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](m - n + 1)
    val md = digests.get()
    var i = 0
    while (i < out.length) {
      md.reset()
      var first = true
      var k = 0
      while (k < n) {
        // concat_ws semantics: a null element contributes nothing, not
        // even its separator
        if (!words.isNullAt(i + k)) {
          if (!first) md.update(' '.toByte)
          md.update(words.getUTF8String(i + k).getBytes)
          first = false
        }
        k += 1
      }
      val d = md.digest()
      // first 15 hex digits of the md5 = 7 full bytes + the high nibble of
      // byte 7, read big-endian as one 60-bit value — exactly
      // conv(substring(hex, 1, 15), 16, 10)
      var v = 0L
      var b = 0
      while (b < 7) { v = (v << 8) | (d(b) & 0xFFL); b += 1 }
      out(i) = (v << 4) | ((d(7) & 0xF0L) >>> 4)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Native TEXT-gram kernel — [[ShingleHashes]]' sibling for operators
  * whose consumer reads the gram STRINGS (the d68 top-n-gram census),
  * not their hashes. The `functions`-level formulation
  * (`transform(sequence(...), i => array_join(slice(w, i, n), " "))`) is
  * interpreted: per gram it walks a lambda tree, `slice` allocates an
  * intermediate array and `array_join` re-concatenates it. This kernel
  * emits each gram in one codegen'd JVM loop as a direct byte concat.
  *
  * Semantics match `array_join(slice(w, i+1, n), " ")` per 1-based start
  * i+1 in 1..size-n+1 exactly: null elements are SKIPPED without a
  * separator (array_join's default null handling, same as concat_ws);
  * arrays shorter than n yield an empty array. Pinned against the column
  * formulation in `TopNgramsSpec`.
  */
case class GramStrings(child: Expression, n: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(n > 0, s"n=$n must be positive")

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_grams"

  override protected def withNewChildInternal(newChild: Expression): GramStrings =
    copy(child = newChild)

  override def nullSafeEval(words: Any): Any =
    GramStrings.compute(words.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, w =>
      s"${ev.value} = graft.plans.GramStrings.compute($w, $n);")
}

object GramStrings {
  private val Space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")

  /** One gram string per start; empty output for arrays shorter than n. */
  def compute(words: ArrayData, n: Int): ArrayData = {
    val m = words.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m - n + 1)
    val parts = new Array[org.apache.spark.unsafe.types.UTF8String](n)
    var i = 0
    while (i < out.length) {
      var k = 0
      while (k < n) {
        // UTF8String.concatWs skips null inputs — array_join semantics
        parts(k) = if (words.isNullAt(i + k)) null else words.getUTF8String(i + k)
        k += 1
      }
      out(i) = org.apache.spark.unsafe.types.UTF8String.concatWs(Space, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Native per-row character-entropy kernel — the scalar twin of
  * [[graft.functions.TextAnalysis.charEntropy]] (same
  * `H = ln n − (Σ round(c·ln c·1e6))/1e6/n` integer-grid formula,
  * property-pinned equal in `NativeEntropySpec`), evaluated in one pass
  * over the string's code points with a local histogram. The aggregation
  * shape is right for corpus audits; THIS shape is right where a
  * stateless per-row gate is needed — a streaming filter
  * ([[graft.streaming.DocStream.entropyGate]]) or a scored-view column —
  * since an explode+groupBy cannot run as a stream projection. NULL for
  * null/empty input (the aggregation's no-row case).
  */
case class CharEntropy(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_entropy"

  override protected def withNewChildInternal(newChild: Expression): CharEntropy =
    copy(child = newChild)

  override def nullSafeEval(text: Any): Any =
    CharEntropy.compute(text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val resultTerm = ctx.freshName("entropyBoxed")
    nullSafeCodeGen(ctx, ev, t =>
      s"""java.lang.Double $resultTerm = graft.plans.CharEntropy.compute($t);
         |if ($resultTerm == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $resultTerm.doubleValue(); }""".stripMargin)
  }
}

object CharEntropy {
  /** Boxed so the empty-string case can surface as SQL NULL. */
  def compute(text: org.apache.spark.unsafe.types.UTF8String): java.lang.Double = {
    val row = CharCensus.compute(text)
    if (row == null) null else row.getDouble(2)
  }
}

/** Per-row character CENSUS — the d67 aggregation
  * ([[graft.functions.TextAnalysis.charEntropy]]) collapsed to one
  * map-only struct: (n_chars, n_distinct, entropy) from a single pass
  * over the string's code points with a local histogram.
  *
  * Why this exists ("aggregate before you shuffle" taken to its limit):
  * the aggregation form explodes one row PER CHARACTER and
  * shuffles the (doc, char) census twice — at corpus scale that is a
  * shuffle sized by total corpus CHARACTERS for a per-doc result that
  * never needed to leave its row. This kernel computes the identical
  * three values with ZERO shuffles; `n_chars` counts code points exactly
  * as the exploded `split(text, '')` did, `n_distinct` is the histogram
  * size, and `entropy` is the same `H = ln n − (Σ round(c·ln c·1e6))/1e6/n`
  * integer-grid formula rounded HALF_UP to 6dp (property-pinned equal to
  * the aggregation in `NativeEntropySpec`). NULL for null/empty input —
  * the aggregation's no-row case, which the caller turns back into
  * row absence with a filter.
  */
case class CharCensusExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = CharCensus.schema
  override def nullable: Boolean = true
  override def prettyName: String = "graft_char_census"

  override protected def withNewChildInternal(newChild: Expression): CharCensusExpr =
    copy(child = newChild)

  override def nullSafeEval(text: Any): Any =
    CharCensus.compute(text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val resultTerm = ctx.freshName("censusRow")
    nullSafeCodeGen(ctx, ev, t =>
      s"""org.apache.spark.sql.catalyst.InternalRow $resultTerm =
         |  graft.plans.CharCensus.compute($t);
         |if ($resultTerm == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $resultTerm; }""".stripMargin)
  }
}

object CharCensus {
  val schema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_chars", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_distinct", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("entropy",
        org.apache.spark.sql.types.DoubleType, nullable = false)))

  /** Null for null/empty input; otherwise (n_chars, n_distinct, entropy). */
  def compute(text: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.InternalRow = {
    if (text == null) return null
    val s = text.toString
    if (s.isEmpty) return null
    val counts = new java.util.HashMap[Integer, Array[Long]]()
    var i = 0
    var n = 0L
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val slot = counts.computeIfAbsent(cp, _ => new Array[Long](1))
      slot(0) += 1
      n += 1
      i += Character.charCount(cp)
    }
    var terms = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next()(0).toDouble
      // c >= 1 so c·ln c >= 0: HALF_UP == Math.round on the grid term
      terms += Math.round(c * Math.log(c) * 1e6)
    }
    val h = Math.log(n.toDouble) - terms.toDouble / 1e6 / n
    val entropy = java.math.BigDecimal.valueOf(h)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, counts.size().toLong, entropy))
  }
}

/** The guarded builders and `Column` helpers for `graft_shingles`
  * ([[ShingleHashes]]), `graft_entropy` ([[CharEntropy]]), `graft_grams`
  * ([[GramStrings]]) and `graft_char_census` ([[CharCensusExpr]]);
  * [[GraftFunctions]] registers them.
  */
object TextExpressions {

  private[plans] val builder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, s"graft_shingles expects 2 arguments, got ${exprs.length}")
    require(exprs(1).foldable, "graft_shingles n must be a literal")
    ShingleHashes(exprs.head, exprs(1).eval().asInstanceOf[Number].intValue)
  }

  private[plans] val entropyBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 1,
      s"graft_entropy expects 1 argument, got ${exprs.length}")
    CharEntropy(exprs.head)
  }

  private[plans] val gramsBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2,
      s"graft_grams expects 2 arguments, got ${exprs.length}")
    require(exprs(1).foldable, "graft_grams n must be a literal")
    GramStrings(exprs.head, exprs(1).eval().asInstanceOf[Number].intValue)
  }

  private[plans] val censusBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 1,
      s"graft_char_census expects 1 argument, got ${exprs.length}")
    CharCensusExpr(exprs.head)
  }

  /** `Column` surface: hashes of the n-word grams of a string-array column. */
  def shinglesColumn(spark: SparkSession, words: Column, n: Int): Column = {
    GraftFunctions.register(spark)
    org.apache.spark.sql.functions.call_function(
      "graft_shingles", words, org.apache.spark.sql.functions.lit(n))
  }

  /** `Column` surface: per-row char-entropy in nats (null for empty). */
  def entropyColumn(spark: SparkSession, text: Column): Column = {
    GraftFunctions.register(spark)
    org.apache.spark.sql.functions.call_function("graft_entropy", text)
  }

  /** `Column` surface: the n-word gram STRINGS of a string-array column —
    * see [[GramStrings]]. */
  def gramsColumn(spark: SparkSession, words: Column, n: Int): Column = {
    GraftFunctions.register(spark)
    org.apache.spark.sql.functions.call_function(
      "graft_grams", words, org.apache.spark.sql.functions.lit(n))
  }

  /** `Column` surface: per-row char census struct (n_chars, n_distinct,
    * entropy); null for null/empty text — see [[CharCensusExpr]]. */
  def charCensusColumn(spark: SparkSession, text: Column): Column = {
    GraftFunctions.register(spark)
    org.apache.spark.sql.functions.call_function("graft_char_census", text)
  }
}
