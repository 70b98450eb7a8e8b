package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** Catalyst optimizer rule: rewrite the declarative higher-order dot
  * product — `aggregate(zip_with(a, b, (x,y) => x*y), 0.0, (acc,x) =>
  * acc+x)` — into the codegen'd [[DotProduct]] expression.
  *
  * This is the `extraOptimizations` hook SURVEY.md §4 reserves: user
  * code can keep the idiomatic `functions.aggregate`/`zip_with`
  * formulation and still get the tight generated loop (higher-order
  * lambdas otherwise run interpreted). The rewrite preserves semantics
  * bit-for-bit: same element widening, same left-to-right fold.
  */
object RewriteDotProduct extends Rule[LogicalPlan] {

  private def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  /** Matches x.cast(double) * y.cast(double) (or bare doubles) over the
    * two lambda variables of a zip_with. */
  private def isElementProduct(fn: Expression, xv: NamedExpression,
      yv: NamedExpression): Boolean = fn match {
    case Multiply(l, r, _) =>
      def isVar(e: Expression, v: NamedExpression) = e match {
        case Cast(ref: NamedLambdaVariable, DoubleType, _, _) => ref.exprId == v.exprId
        case ref: NamedLambdaVariable => ref.exprId == v.exprId && ref.dataType == DoubleType
        case _ => false
      }
      (isVar(l, xv) && isVar(r, yv)) || (isVar(l, yv) && isVar(r, xv))
    case _ => false
  }

  private def isAccPlus(fn: Expression, acc: NamedExpression,
      x: NamedExpression): Boolean = fn match {
    case Add(l: NamedLambdaVariable, r: NamedLambdaVariable, _) =>
      (l.exprId == acc.exprId && r.exprId == x.exprId) ||
        (l.exprId == x.exprId && r.exprId == acc.exprId)
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case agg @ ArrayAggregate(
            ZipWith(a, b, LambdaFunction(prod, Seq(xv, yv), _)),
            Literal(0.0, DoubleType),
            LambdaFunction(sum, Seq(accv, xv2), _),
            finish)
          if isFloatArray(a) && isFloatArray(b) &&
            isElementProduct(prod, xv, yv) && isAccPlus(sum, accv, xv2) &&
            isIdentityFinish(finish) =>
        DotProduct(a, b)
    }

  private def isIdentityFinish(finish: Expression): Boolean = finish match {
    case LambdaFunction(ref: NamedLambdaVariable, Seq(v), _) =>
      ref.exprId == v.asInstanceOf[NamedLambdaVariable].exprId
    case _ => false
  }
}

object GraftRules {
  import org.apache.spark.sql.types.{LongType, StringType}

  /** The engine's SQL function surface: every graft capability that is a
    * scalar expression, registered under a `graft_` prefix so pure-SQL
    * users (`spark.sql(...)`) get the same semantics as the DataFrame
    * API. Builders compose raw Catalyst nodes (the registry hands them
    * unresolved argument expressions, so Column-built trees would leave
    * unevaluable ColumnNode wrappers behind); `ExtensionSpec` asserts
    * SQL-path ≡ DataFrame-path so these can't drift from [[graft.Canon]]:
    *
    *  - `graft_dot(a, b)` — the native codegen'd [[DotProduct]]
    *  - `graft_norm(a)` — L2 norm via the same expression
    *  - `graft_cosine(a, b)` — cosine similarity, zero-vector-safe (NULL)
    *  - `graft_md5_residue(s, m)` — THE cross-engine-portable integer
    *    hash ([[graft.Canon.md5Residue]]) used by every deterministic
    *    sampling/hashing path
    *  - `graft_canon_url(u)` — [[graft.Canon.canonUrl]] normalization
    *  - `graft_tokens(s)` — the shared `\S+` tokenizer
    *  - `graft_ngrams(toks, n)` — native streaming n-gram GENERATOR
    *    ([[NgramGen]]): one row in, (len−n+1) rows out, table-valued
    */
  val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> (es => DotProduct(es(0), es(1))),
    "graft_norm" -> (es => Sqrt(DotProduct(es(0), es(0)))),
    "graft_cosine" -> { es =>
      val d = DotProduct(es(0), es(1))
      val norms = Multiply(
        Sqrt(DotProduct(es(0), es(0))), Sqrt(DotProduct(es(1), es(1))))
      Divide(d, new NullIf(norms, Literal(0.0)))
    },
    "graft_md5_residue" -> (es =>
      Remainder(
        Cast(
          Conv(
            Substring(Md5(Cast(es(0), StringType)), Literal(1), Literal(15)),
            Literal(16), Literal(10)),
          LongType),
        es(1))),
    "graft_canon_url" -> (es =>
      new RegExpReplace(
        new RegExpReplace(
          new RegExpReplace(Lower(es(0)),
            Literal("^https?://(www[.])?"), Literal("")),
          Literal("[?#].*$"), Literal("")),
        Literal("/$"), Literal(""))),
    "graft_tokens" -> (es =>
      RegExpExtractAll(es(0), Literal("\\S+"), Literal(0))),
    // the one non-scalar entry: a native table-valued function (Generator)
    "graft_ngrams" -> (es => NgramGen(es(0), es(1)))
  )

  /** Install the engine's optimizer rules + SQL functions into a live
    * session (idempotent). Uses the `experimental.extraOptimizations`
    * slot so stock sessions (driver-created in Verify/Bench) can opt in
    * without rebuilding the session with `withExtensions`. */
  def install(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraOptimizations
    if (!cur.contains(RewriteDotProduct))
      spark.experimental.extraOptimizations = cur :+ RewriteDotProduct
    val cur2 = spark.experimental.extraOptimizations
    if (!cur2.contains(graft.sources.MetadataOnlyAggregates))
      spark.experimental.extraOptimizations =
        cur2 :+ graft.sources.MetadataOnlyAggregates
    sqlFunctions.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }
  }
}

/** `SparkSessionExtensions` entry point — the builder-time form of
  * [[GraftRules.install]] plus SQL function registration, for sessions
  * constructed with `.withExtensions(new GraftExtensions)` on their
  * builder or `spark.sql.extensions=graft.plans.GraftExtensions`
  * ([[graft.GraftSession.build]] sets the latter).
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => RewriteDotProduct)
    // fires in the operator-optimization batch, BEFORE V2 scan
    // pushdown — the one point where the catalog relation is still a
    // bare DataSourceV2Relation and "no filters" is visible in the plan
    e.injectOptimizerRule(_ => graft.sources.MetadataOnlyAggregates)
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    e.injectPlannerStrategy(_ => TopKStrategy)
    GraftRules.sqlFunctions.foreach { case (name, builder) =>
      e.injectFunction((
        new org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[DotProduct].getName, name),
        builder))
    }
  }
}
