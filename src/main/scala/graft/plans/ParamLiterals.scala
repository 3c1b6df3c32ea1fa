package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.types._

/** A primitive literal whose value is not part of the generated code.
  *
  * Catalyst's `Literal` inlines primitive values into the Java source of
  * whole-stage codegen, and Spark's codegen cache is keyed by that
  * source. Every hillview gesture brings new window bounds, bucket
  * ranges and pivots, so each one compiled its stage afresh (Janino,
  * tens of ms per class). This leaf hands its value to the generated
  * class through the reference array instead and unboxes it once into a
  * primitive field, so one gesture shape compiles once.
  *
  * It prints, evaluates and folds exactly like the `Literal` it
  * replaces. Equality is value-exact on the boxed value: NaN equals NaN,
  * 0.0 differs from -0.0.
  */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null && ParamLiterals.supported(dataType),
    s"ParamLiteral holds a non-null primitive, got $value: $dataType")

  override def foldable: Boolean = true
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override def equals(other: Any): Boolean = other match {
    case p: ParamLiteral =>
      dataType == p.dataType && java.util.Objects.equals(value, p.value)
    case _ => false
  }
  override def hashCode(): Int = 31 * dataType.hashCode() + value.hashCode()

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(CodeGenerator.javaType(dataType), "param",
      v => s"$v = $ref;")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(field, dataType))
  }
}

/** Swaps the non-null primitive literals of filter, projection and
  * hash-aggregate expressions for [[ParamLiteral]]s, after physical
  * planning and before `CollapseCodegenStages` (a columnar rule's
  * pre-transition hook runs there on both the adaptive and the
  * non-adaptive path). Scans keep their literals, so pushed parquet
  * filters and partition pruning are unchanged; exchanges, sorts and
  * joins are left as planned.
  */
object ParamLiterals extends Rule[SparkPlan] {
  def supported(t: DataType): Boolean = t match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** The roots (a condition, an `Alias`, an `AggregateExpression`) are
    * never literals themselves, so each keeps its class. */
  private def params[T <: Expression](es: Seq[T]): Seq[T] = es.map(_.transform {
    case Literal(v, t) if v != null && supported(t) => ParamLiteral(v, t)
  }.asInstanceOf[T])

  // Grouping expressions stay as planned: they must keep matching the
  // child's hash partitioning. Partial and final aggregates may hold
  // differently rewritten copies of a function; the final one binds its
  // input buffer by position (SPARK-31620), so that is safe.
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec => f.copy(condition = params(Seq(f.condition)).head)
    case p: ProjectExec => p.copy(projectList = params(p.projectList))
    case h: HashAggregateExec => h.copy(
      aggregateExpressions = params(h.aggregateExpressions),
      resultExpressions = params(h.resultExpressions))
  }

  /** Session extension registering the rule: `builder.withExtensions(ParamLiterals.inject)`. */
  def inject(ext: SparkSessionExtensions): Unit =
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = ParamLiterals
    })
}
