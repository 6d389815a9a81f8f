package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** A primitive constant that generated code reads from a field of the
  * generated class instead of inlining into its source. Spark writes a
  * `Literal` of an integral, floating, date or timestamp type into the
  * Java text (`k == 42L`), so every new value is a new source and a new
  * Janino class; a `ParamLiteral` goes through the `references` array
  * the class is instantiated with, so one class serves every value of
  * a plan shape (SnappyData's tokenized plan cache, CIDR 2017).
  *
  * Not foldable, so nothing evaluates it away; equality includes the
  * value (by `equals` of the boxed value: -0.0 differs from 0.0), so
  * exchange reuse and subexpression elimination never merge two plans
  * that differ only in a value. Prints as the literal it replaced. */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override def equals(o: Any): Boolean = o match {
    case p: ParamLiteral =>
      dataType == p.dataType && java.util.Objects.equals(value, p.value)
    case _ => false
  }
  override def hashCode: Int = 31 * dataType.hashCode + value.hashCode

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    // unboxed once when the class is initialized: rows read a field
    val term = ctx.addMutableState(javaType, "param",
      v => s"$v = $ref.${javaType}Value();", forceInline = true)
    ExprCode.forNonNullValue(JavaCode.global(term, dataType))
  }
}

/** Physical rule: in code-generated `FilterExec` conditions and
  * `ProjectExec` lists, non-null primitive literals that are direct
  * children of a comparison, an arithmetic operator or an `IN` list
  * become [[ParamLiteral]]s. No operand that must be foldable (a
  * `Round` scale, a `Like` pattern) is touched. Strings and decimals
  * already go through `references`. Scans keep their `Literal`s — file and
  * partition filters, in-memory batch predicates — so pushdown, stats
  * pruning and batch pruning match on the same values as before.
  *
  * Runs as a pre-columnar-transition rule: in `QueryExecution`'s
  * preparations and in each adaptive stage's post-creation rules, both
  * before `CollapseCodegenStages`. */
object ParamLiterals extends Rule[SparkPlan] {

  val columnar: ColumnarRule = new ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = ParamLiterals
  }

  private def param(e: Expression): Expression = e match {
    case Literal(v, dt) if v != null && (dt match {
        case ByteType | ShortType | IntegerType | LongType | FloatType |
             DoubleType | DateType | TimestampType | TimestampNTZType => true
        case _ => false
      }) => ParamLiteral(v, dt)
    case other => other
  }

  private def lift(e: Expression): Expression = e.transformUp {
    case c: BinaryComparison => c.withNewChildren(c.children.map(param))
    case a: BinaryArithmetic => a.withNewChildren(a.children.map(param))
    case in: In => in.withNewChildren(in.value +: in.list.map(param))
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec => f.copy(condition = lift(f.condition))
    case p: ProjectExec =>
      p.copy(projectList = p.projectList.map(lift(_).asInstanceOf[NamedExpression]))
  }
}
