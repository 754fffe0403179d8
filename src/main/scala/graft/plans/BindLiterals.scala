package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, ExpandExec, FilterExec, GenerateExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.types._

/** A non-null primitive literal whose generated code reads its value from
  * the generated class's reference array (once, into a field) instead of
  * spelling it into the Java source. Spark's class cache is keyed by that
  * source, so with plain literals every new caller value (an id range, a
  * salt, a version's row count) compiles the whole stage again; bound,
  * the same plan shape compiles once.
  *
  * Everything but the generated code behaves like the plain [[Literal]]:
  * it is foldable and `eval` returns the value (expressions that evaluate
  * a foldable argument at planning or codegen time — a `round` scale, a
  * `stack` row count — still work), it canonicalizes to the plain literal
  * (exchange and subquery reuse still match) and it prints the same (the
  * explain output does not change). It is deliberately not a `Literal`
  * subclass: `Literal.equals` ignores the class, so a tree transform would
  * keep the original node and change nothing. */
case class BoundLiteral(value: Any, dataType: DataType) extends LeafExpression {
  private def plain: Literal = Literal(value, dataType)

  override def foldable: Boolean = true
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override lazy val canonicalized: Expression = plain
  override def toString: String = plain.toString
  override def sql: String = plain.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("literal", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "boundLiteral",
      v => s"$v = $ref.${javaType}Value();")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral,
      value = JavaCode.variable(field, dataType))
  }
}

/** Physical-plan rule: inside the operators whole-stage codegen compiles
  * (projections, filters, aggregates, join conditions, expands and
  * generators) every non-null primitive literal becomes a
  * [[BoundLiteral]]. It runs just before `CollapseCodegenStages`, as the
  * pre-transition half of a `ColumnarRule`, which Spark applies on both
  * the adaptive path (each query stage) and the non-adaptive one.
  *
  * Scans and windows keep their literals: `FileSourceScanExec` and
  * `BatchScanExec` push them down (and `StatsFileIndex` prunes files by
  * them), `InMemoryTableScanExec` prunes cached batches by them and
  * `WindowExec` reads its frame bounds from them, all by matching
  * `Literal`. Join keys stay too: they build the broadcast relation.
  * A literal inside an aggregate function makes a new function instance
  * with new buffer attributes; the three aggregate operators rewritten
  * here bind their input buffers by position, but session-window merging
  * (`MergingSessionsExec`) binds them by attribute id, so it is left
  * alone.
  *
  * Applying the rule twice changes nothing (a bound literal is not a
  * `Literal`), so a session that installs it both through
  * `GraftSession.tune` and through `GraftExtensions` is fine. */
object BindLiterals extends Rule[SparkPlan] {

  private val bindable: Set[DataType] = Set(IntegerType, LongType, DoubleType,
    FloatType, ShortType, ByteType, DateType, TimestampType)

  private val binding: PartialFunction[Expression, Expression] = {
    case Literal(v, t) if v != null && bindable(t) => BoundLiteral(v, t)
  }
  private def bind(e: Expression): Expression = e.transform(binding)

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case p @ (_: ProjectExec | _: FilterExec | _: HashAggregateExec |
              _: ObjectHashAggregateExec | _: SortAggregateExec |
              _: ExpandExec | _: GenerateExec) =>
      p.transformExpressions(binding)
    case j: BroadcastHashJoinExec => j.copy(condition = j.condition.map(bind))
    case j: ShuffledHashJoinExec => j.copy(condition = j.condition.map(bind))
    case j: SortMergeJoinExec => j.copy(condition = j.condition.map(bind))
    case j: BroadcastNestedLoopJoinExec => j.copy(condition = j.condition.map(bind))
  }

  /** Installs the rule into a session's extensions. */
  def install(ext: SparkSessionExtensions): Unit =
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = BindLiterals
    })
}
