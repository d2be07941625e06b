package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}

import graft.functions.{BpeSplitExpression, CharStatsExpression,
  DotProductExpression, GearChunksExpression, NormalizeExpression,
  SensorUuidExpression, TextShinglesExpression, VecDot8Expression,
  VecQuantize8Expression, WinnowFpsExpression}

/** Engine extensions registered via `SparkSessionExtensions`: the
  * codegen'd Catalyst expressions of [[GraftExtensions.functions]], usable
  * from SQL and `call_function`, plus the [[graft.plans.MonthPruneRule]]
  * optimizer rule (timestamp bounds over store tables imply month
  * partition pruning) and the [[graft.plans.ParameterizeLiterals]]
  * physical rule (per-request values stay out of generated code), which
  * runs before the transitions, so before whole-stage codegen, in the
  * static plan and in every adaptive stage.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => new graft.plans.MonthPruneRule)
    ext.injectPlannerStrategy(_ => new graft.plans.GraftStrategies)
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] =
        graft.plans.ParameterizeLiterals
    })
    GraftExtensions.functions.foreach(f => ext.injectFunction((
      new FunctionIdentifier(f.name),
      new ExpressionInfo(f.cls.getName, f.name),
      f.resolve _)))
  }
}

object GraftExtensions {
  /** One SQL function: `usage` names it and its parameters (its arity is
    * their count), and the parameters at `literals` must be constant —
    * `build` evaluates them once, at resolution.
    */
  final case class SqlFunction(usage: String, cls: Class[_], literals: Int*)(
      build: Seq[Expression] => Expression) {
    val name: String = usage.takeWhile(_ != '(')
    val params: Seq[String] =
      usage.dropWhile(_ != '(').drop(1).takeWhile(_ != ')').split(",")
        .map(_.trim).toSeq
    def arity: Int = params.length

    def resolve(args: Seq[Expression]): Expression = {
      require(args.length == arity,
        s"$usage takes $arity argument${if (arity == 1) "" else "s"}")
      require(literals.forall(args(_).foldable),
        s"$name ${literals.map(params).mkString(" and ")} must be " +
          (if (literals.length == 1) "a literal" else "literals"))
      build(args)
    }
  }

  private def int(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()

  val functions: Seq[SqlFunction] = Seq(
    SqlFunction("sensor_uuid(name, type_name, unit_name, labels)",
      classOf[SensorUuidExpression])(a =>
      SensorUuidExpression(a(0), a(1), a(2), a(3))),
    SqlFunction("vec_dot(a, b)", classOf[DotProductExpression])(a =>
      DotProductExpression(a(0), a(1))),
    SqlFunction("vec_q8(v)", classOf[VecQuantize8Expression])(a =>
      VecQuantize8Expression(a(0))),
    SqlFunction("vec_dot8(a, b)", classOf[VecDot8Expression])(a =>
      VecDot8Expression(a(0), a(1))),
    SqlFunction("text_shingles(text, n)", classOf[TextShinglesExpression], 1)(
      a => TextShinglesExpression(a(0), int(a(1)))),
    SqlFunction("gear_chunks(text, mask_bits)", classOf[GearChunksExpression],
      1)(a => GearChunksExpression(a(0), int(a(1)))),
    SqlFunction("bpe_split(word)", classOf[BpeSplitExpression])(a =>
      BpeSplitExpression(a(0))),
    SqlFunction("char_stats(text)", classOf[CharStatsExpression])(a =>
      CharStatsExpression(a(0))),
    SqlFunction("unicode_normalize(text, form)", classOf[NormalizeExpression],
      1)(a => NormalizeExpression(a(0), a(1).eval()
        .asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)),
    SqlFunction("winnow_fps(text, k, w)", classOf[WinnowFpsExpression], 1, 2)(
      a => WinnowFpsExpression(a(0), int(a(1)), int(a(2)))))
}
