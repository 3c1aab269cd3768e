package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal,
  SubqueryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator,
  CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** A literal whose generated code does not depend on its value.
  *
  * Spark's `Literal.doGenCode` writes int, long, short, byte, float,
  * double, date and timestamp values into the Java source (`>= 610L`),
  * so two statements of one shape with different values compile two
  * classes and miss `CodeGenerator`'s cache, which is keyed by source
  * text. A `ParamLiteral` puts its value in the generated class's
  * references array and reads it into a field when the class is
  * initialized, so its source is the same for every value. Strings,
  * decimals and other object-typed literals already take that path in
  * Spark; booleans and nulls are left inlined (two values at most).
  *
  * It is still a `Literal`: `Literal(v, t)` patterns, filter pushdown,
  * file pruning and statistics see its value, and it prints as
  * `Literal` does, so EXPLAIN output does not change.
  *
  * Equality: `Literal.equals` accepts any `Literal` with the same
  * value, and Catalyst keeps a node's old instance whenever the two
  * compare equal. `transformUp`/`transformDown` (and the
  * `transformExpressions*` built on them) compare the old node against
  * the new one, so they silently drop a `ParamLiteral` put in place of
  * a plain literal. `mapChildren` and `mapExpressions` compare the new
  * child against the old one, so a `ParamLiteral` is unequal to a plain
  * `Literal`, and [[ParamLiterals]] rebuilds the tree through those two
  * alone. Two `ParamLiteral`s compare as their values do. */
final class ParamLiteral(v: Any, t: DataType) extends Literal(v, t) {

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("param", value,
      CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param",
      f => s"$f = $boxed.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }

  override def equals(other: Any): Boolean = other match {
    case p: ParamLiteral => super.equals(p)
    case _ => false
  }
}

/** Optimizer rule: every covered literal of the optimized plan, its
  * subqueries included, becomes a [[ParamLiteral]].
  *
  * It runs in the user-provided batch, after constant folding, filter
  * and projection pushdown and partition pruning, so every rule that
  * reads or folds a value has already run on plain literals; what it
  * changes is only the generated code of the physical plan. The
  * rewrite recurses bottom-up through `mapChildren`/`mapExpressions`
  * rather than a `transform*` method, which would keep the old literal
  * (see [[ParamLiteral]] on equality). It is idempotent: a
  * `ParamLiteral` is left as it is, so the batch reaches its fixed
  * point on the second pass. `GraftSession.prepare` installs it. */
object ParamLiterals extends Rule[LogicalPlan] {

  /** The non-null literals whose value `Literal.doGenCode` inlines. */
  private def covers(l: Literal): Boolean = l.value != null &&
    (l.dataType match {
      case IntegerType | LongType | ShortType | ByteType | FloatType |
          DoubleType | DateType | TimestampType | TimestampNTZType => true
      case _ => false
    })

  private def param(e: Expression): Expression = e match {
    case l: Literal if !l.isInstanceOf[ParamLiteral] && covers(l) =>
      new ParamLiteral(l.value, l.dataType)
    case s: SubqueryExpression =>
      s.withNewPlan(apply(s.plan)).mapChildren(param)
    case _ => e.mapChildren(param)
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.mapChildren(apply).mapExpressions(param)
}
