package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Add, ArrayAggregate, BloomFilterMightContain, Cast, Expression, ExpressionInfo, LambdaFunction, Literal, Multiply, NamedLambdaVariable, ZipWith}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Rewrites the composable higher-order-function dot product
  * (`aggregate(zip_with(a, b, (x,y) -> double(x)*double(y)), 0d, +)` —
  * exactly what Similarity.dot builds) into the native codegen'd
  * [[VectorDot]]. Bit-identical results (same element order, same double
  * adds), so queries keep their DuckDB-oracle hashes while the ANN hot
  * loop drops lambda dispatch and per-element allocation.
  *
  * A miss is silent (no rewrite → still-correct HOF plan), so the rule is
  * deliberately narrow: it only fires on the exact shape it can prove.
  */
object RewriteDotProduct extends Rule[LogicalPlan] {
  private def isFloatArray(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.ArrayType(FloatType, _) => true
      case _ => false
    }

  private object DoubleCastOf {
    def unapply(e: Expression): Option[Expression] = e match {
      case Cast(v, DoubleType, _, _) => Some(v)
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithSubqueries {
      case ArrayAggregate(
            ZipWith(a, b,
              LambdaFunction(Multiply(DoubleCastOf(x: NamedLambdaVariable),
                DoubleCastOf(y: NamedLambdaVariable), _), Seq(lx, ly), _)),
            Literal(zero, DoubleType),
            LambdaFunction(Add(accRef: NamedLambdaVariable, vRef: NamedLambdaVariable, _),
              Seq(acc, v), _),
            LambdaFunction(finishRef: NamedLambdaVariable, Seq(fin), _))
          if zero == 0.0 &&
            isFloatArray(a.dataType) && isFloatArray(b.dataType) &&
            x.exprId == lx.exprId && y.exprId == ly.exprId &&
            accRef.exprId == acc.exprId && vRef.exprId == v.exprId &&
            finishRef.exprId == fin.exprId =>
        VectorDot(a, b)
    }
}

/** Engine extensions, installed via
  * `spark.sql.extensions=graft.plans.GraftExtensions` (works on any
  * cluster submit) or `SparkSession.builder.withExtensions`. Registers the
  * `vector_dot` SQL function and the HOF-dot rewrite rule. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("vector_dot"),
      new ExpressionInfo(classOf[VectorDot].getName, "vector_dot"),
      (children: Seq[Expression]) => {
        // arity here; the array<float> shape is enforced by
        // VectorDot.checkInputDataTypes once children resolve
        if (children.length != 2)
          throw new IllegalArgumentException(
            s"vector_dot requires exactly 2 arguments, got ${children.length}")
        VectorDot(children(0), children(1))
      }))
    // Spark ships a Bloom-filter aggregate + membership probe but registers
    // them INTERNAL-only (the runtime-filter rule builds them directly), so
    // SQL/`call_function` can't reach them. Re-register under graft names:
    // the building blocks of the streaming near-dup gate (a corpus-side
    // Bloom over LSH band keys, probed per row with zero streaming state).
    ext.injectFunction((
      new FunctionIdentifier("hyperplane_bucket"),
      new ExpressionInfo(classOf[HyperplaneBucket].getName, "hyperplane_bucket"),
      (children: Seq[Expression]) => children match {
        // plane count must be a LITERAL: it sizes the codegen'd
        // accumulator array, so it is plan-shape, not data
        case Seq(v) => HyperplaneBucket(v)
        case Seq(v, Literal(p: Int, org.apache.spark.sql.types.IntegerType)) =>
          HyperplaneBucket(v, p)
        case Seq(_, other) => throw new IllegalArgumentException(
          s"hyperplane_bucket: plane count must be an integer literal, got $other")
        case _ => throw new IllegalArgumentException(
          s"hyperplane_bucket(vec[, planes]) takes 1 or 2 arguments, got ${children.length}")
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_rolling_windows"),
      new ExpressionInfo(classOf[RollingWindows].getName, "graft_rolling_windows"),
      (children: Seq[Expression]) => children match {
        // k/base/mod are plan-shape constants the DuckDB oracle rendering
        // must agree on — literals only
        case Seq(v, Literal(k: Int, org.apache.spark.sql.types.IntegerType),
                 RollingWindows.LongLit(base), RollingWindows.LongLit(mod)) =>
          RollingWindows(v, k, base, mod)
        case _ => throw new IllegalArgumentException(
          "graft_rolling_windows(input, k, base, mod) takes a column plus " +
            s"3 integer literals, got ${children.mkString(", ")}")
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_cms_estimate"),
      new ExpressionInfo(classOf[CmsEstimate].getName, "graft_cms_estimate"),
      (children: Seq[Expression]) => {
        if (children.length != 2)
          throw new IllegalArgumentException(
            s"graft_cms_estimate(sketch, item) takes 2 arguments, got ${children.length}")
        CmsEstimate(children(0), children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(classOf[BloomFilterAggregate].getName, "graft_bloom_agg"),
      (children: Seq[Expression]) => {
        if (children.length != 3)
          throw new IllegalArgumentException(
            s"graft_bloom_agg(xxhash64Value, estimatedItems, numBits) takes 3 arguments, got ${children.length}")
        new BloomFilterAggregate(children(0), children(1), children(2))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName, "graft_might_contain"),
      (children: Seq[Expression]) => {
        if (children.length != 2)
          throw new IllegalArgumentException(
            s"graft_might_contain(bloom, xxhash64Value) takes 2 arguments, got ${children.length}")
        BloomFilterMightContain(children(0), children(1))
      }))
    ext.injectOptimizerRule(_ => RewriteDotProduct)
  }
}
