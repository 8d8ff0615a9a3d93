package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The one table of native `graft_*` SQL functions. Both registration
  * paths read it — [[register]] at runtime (the driver owns the
  * SparkSession in the harness, so config-time extensions aren't
  * guaranteed; every `*Column` helper calls it) and [[GraftExtensions]]
  * at session build — so the two cannot cover different sets.
  *
  * Each builder is the family's guarded one (arity and literal-argument
  * `require`s), so a one-arg or non-literal-n SQL call fails with a clear
  * message on either path. Entries are built once: Spark logs "replaced a
  * previously registered function" whenever `registerFunction` gets an
  * `(info, builder)` pair that is a new instance, and the `Column` helpers
  * re-register on every call.
  */
object GraftFunctions {

  type Entry = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def entry(name: String, cls: Class[_ <: Expression],
                    builder: Seq[Expression] => Expression): Entry =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)

  val Table: Seq[Entry] = Seq(
    entry("graft_dot", classOf[DotProduct], VectorExpressions.builder),
    entry("graft_l2", classOf[SqDistance], VectorExpressions.l2Builder),
    entry("graft_pq_encode", classOf[PqEncode], PqExpressions.builder),
    entry("graft_shingles", classOf[ShingleHashes], TextExpressions.builder),
    entry("graft_entropy", classOf[CharEntropy], TextExpressions.entropyBuilder),
    entry("graft_grams", classOf[GramStrings], TextExpressions.gramsBuilder),
    entry("graft_char_census", classOf[CharCensusExpr], TextExpressions.censusBuilder),
    entry("graft_intersect_count", classOf[SortedLongIntersectCount],
      ArrayExpressions.builder),
    entry("graft_round_ratio", classOf[RoundRatio6], ArrayExpressions.ratioBuilder),
    entry("graft_kmv", classOf[KmvSketch], SketchExpressions.builder),
    entry("graft_cms", classOf[CmsSketch], SketchExpressions.cmsBuilder),
    entry("graft_countsketch", classOf[CountSketch], SketchExpressions.csBuilder))

  /** Idempotently register every table entry into an existing session. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    Table.foreach { case (id, info, builder) =>
      registry.registerFunction(id, info, builder)
    }
  }
}

/** `spark.sql.extensions=graft.plans.GraftExtensions` for deployments that
  * own the session config (a real cluster) — the same table, injected at
  * session build instead of first use.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.Table.foreach(ext.injectFunction)
}
