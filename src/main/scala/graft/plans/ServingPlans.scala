package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  BinaryComparison, Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{
  CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FilterExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.FileSourceStrategy
import org.apache.spark.sql.types._

/** Planning for the serving path: compile once per route SHAPE, not once
  * per request.
  *
  * Whole-stage codegen compiles each stage's generated Java with Janino
  * and caches the class by its source text. Spark inlines primitive
  * literals (`lat >= 12.5D`, `ts <= 946684800000000L`), so each new
  * lat/lon, bbox or time range of [[graft.serve.Server]] was new source
  * text, and every cache miss paid a 2–4 class compile before its first
  * row. [[BoundLiteral]] holds such a value in the generated class's
  * `references` array instead; the text is the same for every value.
  *
  * The server's row cap needs no planning change: it is the root limit
  * of the plan the server renders, which Spark runs outside generated
  * code (see [[graft.serve.Server]]).
  *
  * [[install]] adds [[ServingStrategy]] to a live session through
  * `spark.experimental.extraStrategies` (as [[AsOfMerge.install]] does).
  * It is session-wide: once installed, every later query of the session
  * is planned with it. Results do not change — the bound value is the
  * literal's value.
  */
object ServingPlans {

  /** Types whose literals Spark inlines into generated source. */
  private val Bindable: Set[DataType] = Set(
    IntegerType, LongType, FloatType, DoubleType, DateType, TimestampType, TimestampNTZType)

  /** A non-null primitive constant read from the generated class's
    * `references` array into a field at init, so its value never appears
    * in the source text. Interpreted evaluation returns the value.
    * Not foldable: no code path may turn it back into an inlined literal.
    */
  case class BoundLiteral(value: Any, dataType: DataType) extends LeafExpression {
    require(value != null && Bindable(dataType), s"cannot bind $value: $dataType")
    override def nullable: Boolean = false
    override def foldable: Boolean = false
    override def eval(input: InternalRow): Any = value
    override def toString: String = s"bound(${Literal(value, dataType)})"
    override def sql: String = Literal(value, dataType).sql

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val javaType = CodeGenerator.javaType(dataType)
      val ref = ctx.addReferenceObj("boundLiteral", value, CodeGenerator.boxedType(dataType))
      val field = ctx.addMutableState(javaType, "boundLiteral",
        v => s"$v = $ref.${javaType}Value();")
      ExprCode.forNonNullValue(JavaCode.global(field, dataType))
    }
  }

  /** Replace the primitive literal operands of every comparison in
    * `cond` with [[BoundLiteral]]s. Only comparison operands: they carry
    * the request's values (cell ranges, bbox edges, time bounds), and a
    * comparison's code does not depend on its operand being a literal.
    */
  private def bindComparisonLiterals(cond: Expression): Expression = cond.transformUp {
    case c: BinaryComparison => c.withNewChildren(c.children.map {
      case Literal(v, t) if v != null && Bindable(t) => BoundLiteral(v, t)
      case e => e
    })
  }

  /** Plans every file-source scan with Spark's own `FileSourceStrategy`,
    * then binds the comparison literals of its post-scan `FilterExec`s.
    * It plans with the real literals, so the filters pushed to the parquet
    * reader (row-group statistics, page-index pruning) are exactly
    * Spark's; only the row-by-row re-check above the scan is rewritten.
    */
  object ServingStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] =
      FileSourceStrategy(plan).map(_.transform {
        case f: FilterExec => f.copy(condition = bindComparisonLiterals(f.condition))
      })
  }

  def install(spark: SparkSession): Unit = synchronized {
    val em = spark.experimental
    if (!em.extraStrategies.contains(ServingStrategy))
      em.extraStrategies = em.extraStrategies :+ ServingStrategy
  }
}
