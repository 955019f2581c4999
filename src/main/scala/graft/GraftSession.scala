package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, CreateArray, Expression, ExpressionInfo, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.types.{Decimal, DoubleType, LongType}
import org.apache.spark.unsafe.types.UTF8String

import graft.expressions.{BloomAgg, BloomContains, Cms, CmsAgg, CmsEstimate, CosineSim, DotProduct, HllAgg, KmvAgg, KqAgg, KqQuantile, MinHashSig, PushdownBarrier, ShingleHashes, SimHash64, SortedArrayJaccard, SortedArrayOverlap, TopKByAgg, UnicodeNormalize, UnicodeNormalizeImpl, ZOrderKey}

/** The engine's native SQL functions, one row per name. Each builder
  * validates arity and parses optional integer-literal parameters — a
  * call like `minhash_sig(text, 5, 32)` configures the expression instead
  * of silently running with the defaults, and an over-arity call errors
  * instead of being ignored. [[GraftExtensions]] injects this table at
  * session build time and [[GraftFunctions]] registers it at run time.
  */
private[graft] object GraftBuilders {
  type Builder = Seq[Expression] => Expression

  /** A call's arguments; `fn` names the function in error messages. */
  final class Args(fn: String, val exprs: Seq[Expression]) {
    def apply(pos: Int): Expression = exprs(pos)

    private def literal(pos: Int): Any =
      if (exprs(pos).foldable) exprs(pos).eval() else null

    private def bad(pos: Int, kind: String, got: Any) =
      new IllegalArgumentException(
        s"$fn: argument ${pos + 1} must be $kind literal, got $got")

    def int(pos: Int): Int = literal(pos) match {
      case n: Number => n.intValue()
      case other => throw bad(pos, "an integer", other)
    }

    def optInt(pos: Int, default: Int): Int =
      if (exprs.length > pos) int(pos) else default

    def double(pos: Int): Double = literal(pos) match {
      case n: Number => n.doubleValue()
      case d: Decimal => d.toDouble
      case other => throw bad(pos, "a numeric", other)
    }

    def optString(pos: Int, default: String): String =
      if (exprs.length <= pos) default
      else literal(pos) match {
        case s: UTF8String => s.toString
        case other => throw bad(pos, "a string", other)
      }
  }

  private def fn(name: String, min: Int, max: Int)(
      build: Args => Expression): (String, Builder) =
    name -> { exprs =>
      if (exprs.length < min || exprs.length > max)
        throw new IllegalArgumentException(
          s"$name expects $min to $max arguments, got ${exprs.length}")
      build(new Args(name, exprs))
    }

  /** The seeded row hash the sketch functions key on. */
  private def xx(e: Expression, seed: Long = 42L): Expression =
    XxHash64(Seq(e), seed)

  val functions: Seq[(String, Builder)] = Seq(
    fn("simhash64", 1, 1)(a => SimHash64(a(0))),
    fn("minhash_sig", 1, 3)(a =>
      MinHashSig(a(0), a.optInt(1, 3), a.optInt(2, 16))),
    fn("shingle_hashes", 1, 2)(a => ShingleHashes(a(0), a.optInt(1, 3))),
    fn("sorted_array_jaccard", 2, 2)(a => SortedArrayJaccard(a(0), a(1))),
    fn("sorted_array_overlap", 2, 2)(a => SortedArrayOverlap(a(0), a(1))),
    fn("cosine_sim", 2, 2)(a => CosineSim(a(0), a(1))),
    fn("dot_product", 2, 2)(a => DotProduct(a(0), a(1))),
    fn("top_k_by", 3, 3)(a => TopKByAgg(a(0), a(1), a.int(2))),
    fn("pushdown_barrier", 1, 1)(a => PushdownBarrier(a(0))),
    fn("kmv_distinct", 2, 2)(a =>
      KmvAgg(xx(a(0)), a.int(1), fromState = false, toState = false)),
    fn("kmv_state", 2, 2)(a =>
      KmvAgg(xx(a(0)), a.int(1), fromState = false, toState = true)),
    fn("kmv_merge_est", 1, 1)(a =>
      KmvAgg(a(0), 0, fromState = true, toState = false)),
    fn("hll_distinct", 1, 1)(a =>
      HllAgg(xx(a(0)), fromState = false, toState = false)),
    fn("hll_state", 1, 1)(a =>
      HllAgg(xx(a(0)), fromState = false, toState = true)),
    fn("hll_merge_est", 1, 1)(a =>
      HllAgg(a(0), fromState = true, toState = false)),
    fn("bloom_agg", 3, 3)(a =>
      BloomAgg(Seq(xx(a(0)), xx(a(0), 43L)), a.int(1), a.int(2))),
    fn("bloom_contains", 2, 2)(a =>
      BloomContains(a(0), CreateArray(Seq(xx(a(1)), xx(a(1), 43L))))),
    fn("bloom_merge", 1, 1)(a => BloomAgg(Seq(a(0)), 64, 1)),
    fn("cms_state", 3, 3)(a =>
      CmsAgg(Cms.rowHashExprsOf(a(0), a.int(1)), a.int(2))),
    fn("cms_estimate", 3, 3)(a =>
      CmsEstimate(a(0), CreateArray(Cms.rowHashExprsOf(a(1), a.int(2))))),
    fn("zorder_key", 2, 7)(a =>
      ZOrderKey(CreateArray(a.exprs.tail.map(e => Cast(e, LongType))),
        a.int(0))),
    fn("kq_state", 3, 8)(a =>
      KqAgg(Seq(XxHash64(a.exprs.drop(2), 42L), Cast(a(0), DoubleType)),
        a.int(1))),
    fn("kq_quantile", 2, 2)(a => KqQuantile(a(0), a.double(1))),
    fn("kq_merge", 1, 1)(a => KqAgg(Seq(a(0)), 1)),
    fn("unicode_normalize", 1, 2)(a => UnicodeNormalize(a(0),
      UnicodeNormalizeImpl.formOrdinal(a.optString(1, "NFC")))))
}

/** Session extension registering the engine's plan rules and its native
  * expressions for SQL use (`SELECT simhash64(text) FROM docs`), via the
  * standard `SparkSessionExtensions` hook. [[GraftSession.builder]] adds
  * it; a session built elsewhere can load it with
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // plan rewrite: windowed inequality joins -> bucketed equi-join
    e.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
    // custom operator: AsOfJoinNode -> partition-local merge exec
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    GraftBuilders.functions.foreach { case (name, build) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), build))
    }
  }
}

/** Runtime registration for an already-running session (notebooks,
  * shells) — same functions as [[GraftExtensions]], no restart needed.
  * Temp-function builders must return a complete expression, so the
  * aggregates are wrapped here; the injected builders leave that to the
  * analyzer.
  */
object GraftFunctions {
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    GraftBuilders.functions.foreach { case (name, build) =>
      reg.createOrReplaceTempFunction(name, exprs => build(exprs) match {
        case agg: AggregateFunction => agg.toAggregateExpression()
        case other => other
      }, "scala_udf")
    }
  }
}

/** The one session factory: every main, the benchmark and the test suite
  * build their `SparkSession` here, so production, benchmark, oracle and
  * tests run one configuration — [[GraftExtensions]] plus the defaults
  * below. Shuffle partitions follow the master: N for `local[N]` (or
  * `local[N,F]`), the machine's processors for `local` and `local[*]`,
  * and Spark's 200 for any other master, where AQE coalescing sizes
  * them at run time.
  */
object GraftSession {
  private val LocalMaster = """local(?:\[(\d+|\*)(?:\s*,\s*\d+)?\])?""".r

  private[graft] def shufflePartitions(master: String): Int = master match {
    case LocalMaster(n) if n != null && n != "*" => n.toInt
    case LocalMaster(_) => Runtime.getRuntime.availableProcessors()
    case _ => 200
  }

  def builder(master: String = "local[*]"): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions",
        shufflePartitions(master).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS); read as long + convert
      // (Tables.load) instead of failing the scan
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Generated-code cache size (static conf, Spark default 100). This
      // engine's surface compiles thousands of distinct whole-stage-codegen
      // sources per pass over its queries; at the 100-entry default the LRU
      // thrashes and every repetition re-pays driver-side Janino
      // compilation for every stage (measured on the 20 most expensive
      // queries: 65.2 s → 51.3 s at 8192, runs=3 medians). The cache is
      // keyed on the generated Java source text — a deterministic function
      // of the physical plan — so it caches compiled code the way the JVM
      // caches JIT output, never data or results. Compiled classes live in
      // metaspace; ~8k entries is a few hundred MB at worst.
      .config("spark.sql.codegen.cache.maxEntries", "8192")
}
