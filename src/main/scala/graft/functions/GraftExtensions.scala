package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Session extensions: the engine's native functions registered
  * first-class (usable from any SQL text, lambda body or
  * `call_function`, in every session — `newSession()` ones included),
  * plus the [[VecDotRewrite]] optimizer rule.
  * Wired via `spark.sql.extensions=graft.functions.GraftExtensions`
  * (GraftSession sets it). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    def info(name: String) =
      new ExpressionInfo(classOf[GraftExtensions].getName, name)
    ext.injectFunction((FunctionIdentifier("graft_polyhash"),
      info("graft_polyhash"), (e: Seq[Expression]) => PolyHash(e.head)))
    ext.injectFunction((FunctionIdentifier("graft_simhash"),
      info("graft_simhash"), (e: Seq[Expression]) => SimHash(e.head)))
    ext.injectFunction((FunctionIdentifier("graft_shingle_hashes"),
      info("graft_shingle_hashes"), (e: Seq[Expression]) => ShingleHashes(e.head)))
    ext.injectFunction((FunctionIdentifier("graft_minhash32"),
      info("graft_minhash32"), (e: Seq[Expression]) => MinHashSig(e.head)))
    ext.injectFunction((FunctionIdentifier("graft_sorted_intersect_count"),
      info("graft_sorted_intersect_count"),
      (e: Seq[Expression]) => SortedIntersectCount(e(0), e(1))))
    ext.injectFunction((FunctionIdentifier("graft_positional_eq_count"),
      info("graft_positional_eq_count"),
      (e: Seq[Expression]) => PositionalEqCount(e(0), e(1))))
    ext.injectFunction((FunctionIdentifier("graft_vec_dot"),
      info("graft_vec_dot"), (e: Seq[Expression]) => VecDot(e(0), e(1))))
    ext.injectFunction((FunctionIdentifier("graft_cdc_chunks"),
      info("graft_cdc_chunks"), (e: Seq[Expression]) => CdcChunksGen(e.head)))
    ext.injectFunction((FunctionIdentifier("graft_sign_pack"),
      info("graft_sign_pack"), (e: Seq[Expression]) => SignPack(e.head)))
    ext.injectFunction((FunctionIdentifier("graft_int_dot"),
      info("graft_int_dot"), (e: Seq[Expression]) => IntVecDot(e(0), e(1))))
    ext.injectFunction((FunctionIdentifier("graft_int_l2sq"),
      info("graft_int_l2sq"), (e: Seq[Expression]) => IntVecL2Sq(e(0), e(1))))
    ext.injectFunction((FunctionIdentifier("graft_cdc_cuts"),
      info("graft_cdc_cuts"), (e: Seq[Expression]) => CdcCutsExpr(e.head)))
    // aggregate: the Analyzer wraps a bare AggregateFunction from the
    // registry in an AggregateExpression, so this composes with
    // groupBy(...).agg(call_function("graft_topk", ...)) directly
    ext.injectFunction((FunctionIdentifier("graft_topk"), info("graft_topk"),
      (e: Seq[Expression]) => TopKStruct(e(0), e(1), e(2), e(3))))
    // Spark's own runtime-filter sketch pair (registered internally as
    // bloom_filter_agg / might_contain, reachable only by the optimizer)
    // surfaced under graft names so queries can call them directly:
    // a distributed TypedImperativeAggregate sketch build and a
    // codegen'd probe expression — no Scala-UDF closure in the hot
    // map-side filter (dd10's regime). Probe values are longs
    // (mightContainLong), so callers hash with xxhash64 on both sides.
    ext.injectFunction((FunctionIdentifier("graft_bloom_agg"),
      info("graft_bloom_agg"),
      (e: Seq[Expression]) => new BloomFilterAggregate(e(0), e(1), e(2))))
    ext.injectFunction((FunctionIdentifier("graft_might_contain"),
      info("graft_might_contain"),
      (e: Seq[Expression]) => BloomFilterMightContain(e(0), e(1))))
    ext.injectOptimizerRule(_ => VecDotRewrite)
    // whole-operator surface: the native as-of join's planner strategy
    // (logical AsOfJoinNode -> physical AsOfJoinExec)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // SQL surface for the same operator: the graft_asof TABLE function
    // (TableFunctionRegistry builder -> unresolved AsOfSqlNode) plus
    // the resolution rule that lowers it once its relations resolve
    ext.injectTableFunction((FunctionIdentifier("graft_asof"),
      info("graft_asof"),
      (e: Seq[Expression]) => graft.plans.AsOfSql.builder(e)))
    ext.injectResolutionRule(s => graft.plans.AsOfSqlResolution(s))
  }
}

/** Catalyst rule: rewrite the higher-order-function dot-product idiom
  *
  *   aggregate(zip_with(a, b, (x, y) -> x * y), 0d, (acc, v) -> acc + v)
  *
  * into the native codegen'd [[VecDot]]. Higher-order functions
  * evaluate their lambdas interpreted, one boxed call per element —
  * on a 64-dim embedding column that's ~128 boxed ops per row where
  * VecDot is one tight loop. Guarded to non-null double arrays and a
  * literal 0.0 seed so the rewrite is exactly semantics-preserving
  * (VecDot nulls on length mismatch just like the padded zip_with).
  */
object VecDotRewrite extends Rule[LogicalPlan] {

  private def isVar(e: Expression, v: NamedLambdaVariable): Boolean =
    e match {
      case nv: NamedLambdaVariable => nv.exprId == v.exprId
      case _ => false
    }

  /** VecDot mirrors the HOF's null semantics (length mismatch or any
    * null element → null), so any double array qualifies. */
  private def doubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayAggregate(
            ZipWith(a, b,
              LambdaFunction(Multiply(mx, my, _), Seq(x: NamedLambdaVariable,
                y: NamedLambdaVariable), _)),
            Literal(0.0d, DoubleType),
            LambdaFunction(Add(ax, av, _), Seq(acc: NamedLambdaVariable,
              v: NamedLambdaVariable), _),
            LambdaFunction(fin, Seq(f: NamedLambdaVariable), _))
          if doubleArray(a) && doubleArray(b) &&
            ((isVar(mx, x) && isVar(my, y)) || (isVar(mx, y) && isVar(my, x))) &&
            ((isVar(ax, acc) && isVar(av, v)) || (isVar(ax, v) && isVar(av, acc))) &&
            isVar(fin, f) =>
        VecDot(a, b)
    }
}
