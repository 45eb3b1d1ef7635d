package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression,
  Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator,
  CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec,
  ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** Generated code that depends on a query's shape, not its constants.
  *
  * Spark writes Int, Long, Short, Byte, Date, Timestamp, Float, Double
  * and interval literals straight into the Java source it compiles, so
  * a point read, range read, UPDATE or DELETE with a new key compiles
  * fresh classes (Janino, then a cold JIT) even though its plan is the
  * one the previous key ran. This rule swaps each such non-null literal
  * in `FilterExec` conditions and `ProjectExec` lists for a
  * [[StableLiteral]], whose generated code reads the value from the
  * class's `references` array, so every key of one shape shares one
  * cached class.
  *
  * Boolean literals stay (two values, no churn); String, Binary and
  * Decimal literals already travel by reference. Scan nodes are left
  * alone: partition pruning, [[graft.sources.LakeFileIndex]] and
  * parquet pushdown see exactly the filters they saw before. (The
  * file index compiles its partition predicate through [[stabilize]],
  * so that one class, too, serves every partition value.)
  *
  * Installed by [[graft.GraftSession.configure]] as a columnar rule:
  * `preColumnarTransitions` runs before `CollapseCodegenStages`, in
  * adaptive query stages too.
  */
object StableLiterals extends Rule[SparkPlan] {

  val columnarRule: ColumnarRule = new ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = StableLiterals
  }

  def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec if f.condition.exists(inlined) =>
      f.copy(condition = stabilize(f.condition))
    case p: ProjectExec if p.projectList.exists(_.exists(inlined)) =>
      p.copy(projectList =
        p.projectList.map(stabilize(_).asInstanceOf[NamedExpression]))
  }

  /** `e` with each literal Spark would inline made a [[StableLiteral]]. */
  def stabilize(e: Expression): Expression = e.transformUp {
    case l: Literal if inlined(l) => StableLiteral(l.value, l.dataType)
  }

  /** A non-null literal of a type whose value Spark's
    * `Literal.doGenCode` writes into the source, Boolean aside.
    */
  private def inlined(e: Expression): Boolean = e match {
    case Literal(null, _) => false
    case Literal(_, IntegerType | LongType | ShortType | ByteType |
        DateType | TimestampType | TimestampNTZType | FloatType |
        DoubleType | _: YearMonthIntervalType | _: DayTimeIntervalType) =>
      true
    case _ => false
  }
}

/** A non-null constant whose generated code is the same for every
  * value of its type: the value rides the generated class's
  * `references` array and is unboxed once into a field. `eval`
  * returns it, and it stays `foldable`, so interpreted evaluation and
  * every foldability check see the literal it replaced.
  */
final case class StableLiteral(value: Any, dataType: DataType)
    extends LeafExpression {

  override def foldable: Boolean = true
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("literal", value,
      CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "literal",
      v => s"$v = $boxed.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }

  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql
}
