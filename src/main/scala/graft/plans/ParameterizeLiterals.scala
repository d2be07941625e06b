package graft.plans

import scala.collection.immutable.HashSet

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator,
  CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, GenerateExec, ProjectExec,
  SparkPlan}
import org.apache.spark.sql.types._

/** A literal whose generated code does not spell out its value: the value
  * travels in the generated class's reference array and is read into a
  * field once, when the class is initialised, so the per-row code is a
  * field read. Two plans that differ only in such values generate the same
  * Java source and share one compiled class through Spark's codegen cache.
  *
  * It stays foldable and evaluates to its value, so an expression that
  * needs a constant argument (`regexp_replace`'s position, `round`'s
  * scale) reads it as before; it renders as the literal it replaces, and
  * equals another only when their literals are equal, so `sameResult`
  * (and with it ReuseExchange) still tells different values apart.
  */
case class ParamLiteral(literal: Literal) extends LeafExpression {
  override def dataType: DataType = literal.dataType
  override def nullable: Boolean = false
  override def foldable: Boolean = true
  override def eval(input: InternalRow): Any = literal.value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", literal.value,
      CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param",
      v => s"$v = $ref.${javaType}Value();", forceInline = true)
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** Physical rule, injected session-wide by [[graft.GraftExtensions]] before
  * whole-stage codegen collapses each plan (the static plan and every
  * adaptive stage): per-request values stop becoming code.
  *
  * Spark writes a numeric, date or timestamp literal straight into the
  * generated Java, so a gateway read whose only difference from the last
  * is its time bounds, its clock or its step grid misses the codegen cache
  * and compiles again. This rule turns such literals in `FilterExec`
  * conditions, `ProjectExec` lists and `GenerateExec` generators into
  * [[ParamLiteral]]s, and an `In` over literal values into `InSet`, whose
  * value set is data, so the matched-series count does not change the
  * class either. Scans are left alone: month pruning, `scanBytes` and
  * parquet pushdown have already read their pushed filters.
  *
  * A divisor (the right side of `/`, `div`, `%` or `pmod`) stays a
  * literal: the JIT turns an integer division by a constant into a
  * multiply, and by a field it divides per row. Hoisted, the divisors of
  * the PromQL step grid made q376 (sf0.1, 4 cores, three alternating
  * pairs) run 0.897 and 0.802 s against the parent's 0.849 and 0.713 s;
  * kept, it ran level. A new divisor, such as a new PromQL step, compiles
  * once more.
  */
object ParameterizeLiterals extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case p @ (_: FilterExec | _: ProjectExec | _: GenerateExec) =>
      p.mapExpressions(rewrite)
  }

  private def rewrite(e: Expression): Expression = e match {
    case in @ In(value, list) if list.nonEmpty && in.inSetConvertible =>
      InSet(rewrite(value), HashSet.from(list.map(_.eval())))
    case l @ Literal(v, t) if v != null && hoisted(t) => ParamLiteral(l)
    case d @ (_: DivModLike | _: Pmod) if d.children(1).isInstanceOf[Literal] =>
      d.withNewChildren(Seq(rewrite(d.children.head), d.children(1)))
    case _ => e.mapChildren(rewrite)
  }

  private def hoisted(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }
}
