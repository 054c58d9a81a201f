package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryArithmetic, BinaryComparison, Expression, LeafExpression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types.{ByteType, DataType, DateType, DoubleType, FloatType, IntegerType, LongType, ShortType, TimestampNTZType, TimestampType}

/** Physical rule that makes generated code independent of the literals a
  * command carries. Spark inlines a primitive literal into the generated
  * Java, so `k % 7 = 3` and `k % 9 = 4` compile two classes; a stream of
  * SQL commands that differ only in a mod, a range bound or a cut-off
  * date pays a Janino compile per command. This rule wraps such literals
  * as [[HoistedLiteral]]s, whose code reads the value from the generated
  * class's `references` array, so the two commands generate the same
  * source and the second one hits `CodeGenerator`'s class cache.
  *
  * Scope: non-null literals of a primitive, date or timestamp type that
  * are direct children of a `BinaryComparison` or `BinaryArithmetic` in
  * a `FilterExec` condition or a `ProjectExec` project list. Every other
  * literal compiles as before. The rewrite is this columnar rule's
  * post-transition hook (installed by `GraftExtensions` through
  * `injectColumnar`), which Spark applies right before
  * `CollapseCodegenStages` both in the non-adaptive preparations and in
  * every adaptive query stage, so the analyser, the optimiser and the
  * scans' pushed filters only ever see plain literals.
  */
object HoistLiterals extends ColumnarRule {

  private def hoistable(t: DataType): Boolean = t match {
    case IntegerType | LongType | ShortType | ByteType | FloatType | DoubleType |
         DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def hoist(e: Expression): Expression = e.transformUp {
    case op @ (_: BinaryComparison | _: BinaryArithmetic) => op.mapChildren {
      case l: Literal if l.value != null && hoistable(l.dataType) => HoistedLiteral(l)
      case c => c
    }
  }

  override val postColumnarTransitions: Rule[SparkPlan] = _.transformUp {
    case f: FilterExec => f.copy(condition = hoist(f.condition))
    case p: ProjectExec => p.copy(projectList = p.projectList.map(hoist(_).asInstanceOf[NamedExpression]))
  }
}

/** A literal whose generated code loads its value once, from the
  * generated class's `references`, into a field, instead of inlining it.
  * Evaluation, `toString` and `sql` are the wrapped literal's, and two
  * hoisted literals are equal when their literals are, so explain text
  * and exchange reuse are as with `lit` itself.
  */
case class HoistedLiteral(lit: Literal) extends LeafExpression {
  override def dataType: DataType = lit.dataType
  override def nullable: Boolean = lit.nullable
  override def foldable: Boolean = true
  override def eval(input: InternalRow): Any = lit.value
  override def toString: String = lit.toString
  override def sql: String = lit.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("hoisted", lit.value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "hoisted",
      v => s"$v = $ref.${javaType}Value();", forceInline = true)
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(field, dataType))
  }
}
