package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression: round `x` to the nearest multiple of
  * `base` with HALF_UP ties (the reference's round-to-arbitrary-base
  * helper, `capacity_change.py:221-223`, `shade.py:20`).
  *
  * Semantics exactly match `round(x / base, 0) * base` built from
  * Spark built-ins (BigDecimal HALF_UP), so plans using either form
  * agree bit-for-bit — but this runs as ONE codegen'd expression
  * instead of three, demonstrating the custom-`Expression` extension
  * path (`doGenCode`, not a Scala UDF: stays inside whole-stage
  * codegen, null-safe, Catalyst-foldable when inputs are literals).
  */
case class RoundToBase(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_round_to_base"

  override protected def nullSafeEval(x: Any, b: Any): Any = {
    val base = b.asInstanceOf[Double]
    val v = x.asInstanceOf[Double]
    if (base == 0.0 || base.isNaN || v.isNaN) Double.NaN
    else
      java.math.BigDecimal
        .valueOf(v / base)
        .setScale(0, java.math.RoundingMode.HALF_UP)
        .doubleValue() * base
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, b) =>
      s"""(($b == 0.0 || Double.isNaN($b) || Double.isNaN($x))
         |  ? Double.NaN
         |  : java.math.BigDecimal.valueOf($x / $b)
         |      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue() * $b)""".stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Registration of graft's native expressions into a session's
  * function registry (per-session, idempotent) — usable from SQL and
  * `expr(...)` without `SparkSessionExtensions` wiring, and from a
  * `withExtensions` builder via [[GraftExtensions]].
  */
object GraftFunctions {
  /** Builder with explicit double casts (keeps the expression itself
    * monomorphic — SQL decimal/int literals are welcome).
    */
  def build(exprs: Seq[Expression]): Expression =
    RoundToBase(Cast(exprs(0), DoubleType), Cast(exprs(1), DoubleType))

  // sessions already registered (weak keys: a stopped session must not
  // be pinned by the guard) — lets library Column builders call
  // [[ensure]] on every invocation without re-registering or spamming
  // "replaced a previously registered function" warnings
  private val registered = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Idempotently register into the current active (or default)
    * session. Library Column builders that resolve a graft function
    * BY NAME (`call_function`) call this first, so a consumer holding
    * a plain `SparkSession` — one that never went through
    * `GraftSession.local` — still resolves the functions at analysis
    * time instead of failing with "undefined function".
    */
  def ensure(): Unit =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(ensure)

  /** Session-explicit variant for call sites that hold a DataFrame. */
  def ensure(spark: SparkSession): Unit =
    if (registered.put(spark, java.lang.Boolean.TRUE) == null) register(spark)

  /** Every graft SQL function, listed once: (name, expression class,
    * builder). [[register]] and [[GraftExtensions]] both iterate it.
    */
  val functions: Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] = Seq(
    ("graft_round_to_base", classOf[RoundToBase], build),
    ("graft_dot", classOf[ArrayDot], ArrayDot.buildDot),
    ("graft_dist2", classOf[ArrayDist2], ArrayDot.buildDist2),
    ("graft_rolling_hashes", classOf[RollingHashes], buildRollingHashes),
    ("graft_bloom_contains", classOf[BloomContains], buildBloomContains),
    ("graft_deflate_ratio", classOf[DeflateRatio], buildDeflateRatio),
    ("graft_lsh_band_sigs", classOf[LshBandSigs], buildLshBandSigs),
    ("graft_barrier", classOf[graft.plans.PredicateBarrier], buildBarrier),
    ("graft_dup_ngram_frac", classOf[DupNgramFrac], buildDupNgramFrac),
    ("graft_stopword_ratio", classOf[StopwordRatio], buildStopwordRatio),
    ("graft_alpha_word_frac", classOf[AlphaWordFrac], buildAlphaWordFrac),
    ("graft_rolling_minhash_sig", classOf[RollingMinhashSig], buildRollingMinhashSig),
    ("graft_double_order_bits", classOf[DoubleOrderBits], buildDoubleOrderBits)
  )

  /** The engine's Catalyst rewrites: naive abs-range joins and
    * point-in-interval band joins become bucketed equi-joins.
    * `GraftSession.local` installs them as `extraOptimizations`;
    * [[GraftExtensions]] injects them as optimizer rules.
    */
  val rules: Seq[Rule[LogicalPlan]] = Seq(graft.plans.RangeJoinRule, graft.plans.IntervalJoinRule)

  def register(spark: SparkSession): Unit = {
    registered.put(spark, java.lang.Boolean.TRUE)
    functions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  def buildDoubleOrderBits(exprs: Seq[Expression]): Expression =
    DoubleOrderBits(Cast(exprs(0), DoubleType))

  def buildRollingHashes(exprs: Seq[Expression]): Expression =
    RollingHashes(
      Cast(exprs(0), org.apache.spark.sql.types.StringType),
      Cast(exprs(1), org.apache.spark.sql.types.IntegerType))

  def buildBloomContains(exprs: Seq[Expression]): Expression =
    BloomContains(
      Cast(exprs(0), org.apache.spark.sql.types.BinaryType),
      Cast(exprs(1), org.apache.spark.sql.types.LongType))

  def buildDeflateRatio(exprs: Seq[Expression]): Expression =
    DeflateRatio(Cast(exprs(0), org.apache.spark.sql.types.StringType))

  def buildLshBandSigs(exprs: Seq[Expression]): Expression =
    LshBandSigs(
      Cast(exprs(0), org.apache.spark.sql.types.StringType),
      Cast(exprs(1), org.apache.spark.sql.types.IntegerType),
      Cast(exprs(2), org.apache.spark.sql.types.IntegerType),
      Cast(exprs(3), org.apache.spark.sql.types.IntegerType))

  def buildBarrier(exprs: Seq[Expression]): Expression =
    graft.plans.PredicateBarrier(Cast(exprs(0), org.apache.spark.sql.types.BooleanType))

  def buildDupNgramFrac(exprs: Seq[Expression]): Expression =
    DupNgramFrac(
      Cast(exprs(0), org.apache.spark.sql.types.StringType),
      Cast(exprs(1), org.apache.spark.sql.types.IntegerType))

  def buildStopwordRatio(exprs: Seq[Expression]): Expression =
    StopwordRatio(Cast(exprs(0), org.apache.spark.sql.types.StringType))

  def buildAlphaWordFrac(exprs: Seq[Expression]): Expression =
    AlphaWordFrac(Cast(exprs(0), org.apache.spark.sql.types.StringType))

  def buildRollingMinhashSig(exprs: Seq[Expression]): Expression =
    RollingMinhashSig(
      Cast(exprs(0), org.apache.spark.sql.types.StringType),
      Cast(exprs(1), org.apache.spark.sql.types.IntegerType),
      Cast(exprs(2), org.apache.spark.sql.types.IntegerType))
}

/** `SparkSessionExtensions` hook: `.withExtensions(new GraftExtensions)`
  * or `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach { case (name, cls, builder) =>
      e.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder))
    }
    GraftFunctions.rules.foreach(rule => e.injectOptimizerRule(_ => rule))
  }
}
