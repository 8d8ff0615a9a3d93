package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native KMV (k-minimum-values) distinct-count sketch — the scale path
  * for `COUNT(DISTINCT x)` over a 100 TB corpus.
  *
  * An exact distinct count shuffles every distinct value (the partial
  * aggregate collapses within-partition duplicates only); over a corpus's
  * n-gram set that is billions of rows through the exchange. This
  * aggregate keeps ONLY the k smallest distinct 60-bit hash values per
  * partition in a bounded sorted buffer, so the exchange carries at most
  * `partitions × k` longs regardless of input size, and the merged sketch
  * yields the classic estimator `(k−1) / U(k)` where `U(k)` is the kth
  * smallest hash normalized to (0,1] (Bar-Yossef et al., "Counting
  * distinct elements in a data stream", RANDOM 2002; the same bottom-k
  * construction as DataSketches' theta sketch with sampling probability
  * θ = U(k)).
  *
  * Everything is deterministic and engine-replayable: inputs are the
  * repo-standard 60-bit md5 hashes (`conv(substring(md5(x),1,15),16,10)`,
  * the [[ShingleHashes]] value space), so a DuckDB oracle rebuilds the
  * identical sketch with `SELECT DISTINCT h ORDER BY h LIMIT k` and the
  * identical estimate with the same double arithmetic. The sketch is also
  * MERGEABLE across corpus shards (merge = union + re-trim), which is what
  * makes it a standing artifact: per-dump sketches persist tiny (k longs)
  * and any union's cardinality is answerable without re-reading a dump.
  *
  * Unlike Spark's built-in `approx_count_distinct` (HLL++, whose binary
  * registers no other engine replays bit-for-bit), the KMV sketch VALUE is
  * the k smallest hashes themselves — an oracle can hash-compare the whole
  * sketch, so approximation quality is itself gate-checked (d86/d87).
  *
  * Null inputs are skipped (SQL aggregate convention); fewer than k
  * distinct inputs produce a short sketch whose estimate is exact (= its
  * size). Output: `array<long>` ascending, no nulls.
  */
case class KmvSketch(child: Expression, k: Int,
                     mutableAggBufferOffset: Int = 0,
                     inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
    with ImplicitCastInputTypes with UnaryLike[Expression] {
  require(k > 0, s"graft_kmv k=$k must be positive")

  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_kmv"

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  override def update(buf: java.util.TreeSet[java.lang.Long],
                      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      val l = v.asInstanceOf[Long]
      // bounded insert: skip values already above the current kth minimum
      if (buf.size() < k) { buf.add(l) }
      else if (l < buf.last()) { buf.add(l); if (buf.size() > k) buf.pollLast() }
    }
    buf
  }

  override def merge(buf: java.util.TreeSet[java.lang.Long],
                     other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = other.iterator()
    var continue = true
    while (continue && it.hasNext) {
      val l = it.next()
      if (buf.size() < k) buf.add(l)
      else if (l < buf.last()) { buf.add(l); if (buf.size() > k) buf.pollLast() }
      // `other` iterates ascending: once an element fails the bound, the
      // rest of it cannot enter either
      else continue = false
    }
    buf
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val out = new Array[Long](buf.size())
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.size())
    bb.putInt(buf.size())
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < n) { buf.add(bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KmvSketch =
    copy(child = newChild)
}

/** Native Count-Min sketch — the bounded-state FREQUENCY counterpart of
  * [[KmvSketch]]'s distinct count: "how often does item x occur" over a
  * 100 TB stream of items, answered from `depth × width` longs instead of
  * a census whose exchange carries every distinct item (Cormode &
  * Muthukrishnan, "An improved data stream summary: the count-min sketch
  * and its applications", J. Algorithms 2005).
  *
  * Each input hash increments one bucket per row; a point estimate is the
  * MIN over the rows' buckets — never an undercount, overcounts bounded
  * by collisions (≈ e/width · N with probability 1−e^−depth). The buffer
  * is a dense `depth × width` long array (row-major), so the exchange
  * carries ≤ partitions × depth × width longs regardless of input size,
  * and merge is element-wise addition — per-shard sketches persist tiny
  * and any union's sketch is the sum, the same standing-artifact property
  * the KMV family has.
  *
  * Deterministic and engine-replayable: inputs are the repo-standard
  * 60-bit md5 hashes, and the per-row bucket is the Kirsch–Mitzenmacher
  * double-hash (ESA 2006) in exact integer arithmetic any SQL engine
  * reproduces —
  * `((h & M) + r·(1 + ((h >> 31) & M))) % P % width` with
  * `M = P = 2^31−1` — so a DuckDB oracle rebuilds the ENTIRE sketch
  * bit-for-bit from a bucket-count census and the estimates from the same
  * min-over-rows splice (no private hash seeds, unlike Spark's built-in
  * CountMinSketchAgg whose binary layout no second engine replays).
  *
  * Shares the `RowHashTable` aggregate body with [[CountSketch]]; the one
  * difference is the increment: 1 per row. Null inputs are skipped (SQL
  * aggregate convention). Output: `array<long>` of length depth·width,
  * row-major, no nulls.
  */
case class CmsSketch(child: Expression, depth: Int, width: Int,
                     mutableAggBufferOffset: Int = 0,
                     inputAggBufferOffset: Int = 0)
    extends RowHashTable("graft_cms", depth, width) {

  override protected def increment(h1: Long, h2: Long, r: Int): Long = 1L

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CmsSketch =
    copy(child = newChild)
}

/** The aggregate body shared by [[CmsSketch]] and [[CountSketch]]: a dense
  * `depth × width` long table, row-major, where each non-null input hash
  * `h` adds `increment(h1, h2, r)` to bucket
  * `((h1 + r·h2) % P) % width` of every row r (h1 = h & M,
  * h2 = 1 + ((h >>> 31) & M)); merge is element-wise addition. The two
  * sketches differ only in the increment: 1 for Count-Min, the row's ±1
  * sign for Count-Sketch.
  */
private[plans] abstract class RowHashTable(name: String, depth: Int, width: Int)
    extends TypedImperativeAggregate[Array[Long]]
    with ImplicitCastInputTypes with UnaryLike[Expression] with Serializable {
  require(depth > 0 && depth <= 16, s"$name depth=$depth must be in [1,16]")
  require(width > 0, s"$name width=$width must be positive")
  // the buffer is depth·width longs PER GROUP (per partition while
  // partial): cap the table at 2^24 cells (128 MB of longs) so a typo'd
  // width fails loudly here instead of as an executor OOM mid-stage
  require(depth.toLong * width <= (1L << 24),
    s"$name table depth*width=${depth.toLong * width} exceeds 2^24 cells")

  // Serializable here, not only on the case class: tasks Java-deserialize
  // the expression, which needs this constructor-argument parent restored
  // from the stream rather than through a no-arg constructor

  /** What row r adds to its bucket for the hash halves (h1, h2). */
  protected def increment(h1: Long, h2: Long, r: Int): Long

  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = name

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      val h1 = h & CmsSketch.M
      val h2 = 1L + ((h >>> 31) & CmsSketch.M)
      var r = 0
      while (r < depth) {
        val b = (((h1 + r.toLong * h2) % CmsSketch.P) % width).toInt
        buf(r * width + b) += increment(h1, h2, r)
        r += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any =
    new GenericArrayData(buf.clone())

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * buf.length)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < buf.length) { buf(i) = bb.getLong; i += 1 }
    buf
  }
}

object CmsSketch {
  /** 2^31−1: both the low-31-bit mask and the mixing modulus — small
    * enough that `h1 + 15·h2 < 2^36` never overflows a long, and exactly
    * reproducible as `(x & 2147483647) % 2147483647` in any BIGINT SQL.
    */
  val P: Long = 2147483647L
  val M: Long = 2147483647L
}

/** Native Count-Sketch (AMS) — the SIGNED sibling of [[CmsSketch]], and
  * the estimator that fixes CMS's one structural weakness: on SPARSE
  * wide-domain streams the CMS inner product is a sound but loose upper
  * bound (collision mass is all positive, ~N_A·N_B/width additive error —
  * the d113 regime, measured ~7× at sf0.01). Count-Sketch flips each
  * update's sign with a pairwise-independent ±1 hash, so collision terms
  * cancel in EXPECTATION and the per-row inner product
  * `Σ_b a_r[b]·b_r[b]` is an UNBIASED estimate of `Σ_x fA(x)·fB(x)`;
  * the median over rows concentrates it (Alon–Matias–Szegedy, STOC 1996;
  * Charikar–Chen–Farach-Colton, ICALP 2002 — the "tug-of-war" sketch).
  *
  * Shares the `RowHashTable` aggregate body with [[CmsSketch]] (same
  * buckets, exchange, merge and standing-artifact contract); the one
  * difference is the increment: the row's ±1 sign instead of 1, so the
  * counts are SIGNED.
  *
  * Deterministic and engine-replayable — both hashes come from the SAME
  * Kirsch–Mitzenmacher family `g_i(h) = (h1 + i·h2) mod P` the CMS uses
  * (h1 = h & M, h2 = 1 + ((h >>> 31) & M)), with DISTINCT family rows for
  * the two roles:
  *   bucket_r = g_r(h) mod width            (rows 0..depth−1, = CMS)
  *   sign_r   = 1 − 2·(g_{depth+r}(h) & 1)  (rows depth..2depth−1)
  * so a DuckDB oracle rebuilds the ENTIRE signed sketch bit-for-bit from
  * a (row, bucket, Σsign) census. depth ≤ 16 keeps the family index
  * < 32 and every product within long range.
  *
  * Null inputs are skipped. Output: `array<long>` of length depth·width,
  * row-major (values may be negative — that is the point).
  */
case class CountSketch(child: Expression, depth: Int, width: Int,
                       mutableAggBufferOffset: Int = 0,
                       inputAggBufferOffset: Int = 0)
    extends RowHashTable("graft_countsketch", depth, width) {

  override protected def increment(h1: Long, h2: Long, r: Int): Long =
    1L - 2L * (((h1 + (depth + r).toLong * h2) % CmsSketch.P) & 1L)

  override def withNewMutableAggBufferOffset(newOffset: Int): CountSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CountSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CountSketch =
    copy(child = newChild)
}

/** The guarded builders and `Column` helpers for `graft_kmv`
  * ([[KmvSketch]]), `graft_cms` ([[CmsSketch]]) and `graft_countsketch`
  * ([[CountSketch]]); [[GraftFunctions]] registers them.
  */
object SketchExpressions {

  private[plans] val builder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, s"graft_kmv expects 2 arguments, got ${exprs.length}")
    require(exprs(1).foldable, "graft_kmv k must be a literal")
    KmvSketch(exprs.head, exprs(1).eval().asInstanceOf[Number].intValue)
      .toAggregateExpression()
  }

  private[plans] val cmsBuilder = tableBuilder("graft_cms")(CmsSketch(_, _, _))

  private[plans] val csBuilder = tableBuilder("graft_countsketch")(CountSketch(_, _, _))

  /** The guarded builder of a `(h, depth, width)` table sketch. */
  private def tableBuilder(name: String)(
      make: (Expression, Int, Int) => RowHashTable): Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 3, s"$name expects 3 arguments, got ${exprs.length}")
    require(exprs(1).foldable && exprs(2).foldable,
      s"$name depth and width must be literals")
    make(exprs.head,
      exprs(1).eval().asInstanceOf[Number].intValue,
      exprs(2).eval().asInstanceOf[Number].intValue)
      .toAggregateExpression()
  }

  /** `Column` surface: the KMV sketch (k smallest distinct hashes,
    * ascending) of a 60-bit-hash column, as an aggregate.
    */
  def kmvColumn(spark: SparkSession, h: Column, k: Int): Column = {
    GraftFunctions.register(spark)
    org.apache.spark.sql.functions.call_function(
      "graft_kmv", h, org.apache.spark.sql.functions.lit(k))
  }

  /** `Column` surface: the Count-Min sketch (row-major `depth × width`
    * bucket counts) of a 60-bit-hash column, as an aggregate.
    */
  def cmsColumn(spark: SparkSession, h: Column, depth: Int, width: Int): Column =
    tableColumn(spark, "graft_cms", h, depth, width)

  /** `Column` surface: the Count-Sketch (row-major `depth × width` SIGNED
    * bucket counts) of a 60-bit-hash column, as an aggregate.
    */
  def csColumn(spark: SparkSession, h: Column, depth: Int, width: Int): Column =
    tableColumn(spark, "graft_countsketch", h, depth, width)

  private def tableColumn(spark: SparkSession, name: String, h: Column,
                          depth: Int, width: Int): Column = {
    GraftFunctions.register(spark)
    org.apache.spark.sql.functions.call_function(
      name, h, org.apache.spark.sql.functions.lit(depth),
      org.apache.spark.sql.functions.lit(width))
  }
}
