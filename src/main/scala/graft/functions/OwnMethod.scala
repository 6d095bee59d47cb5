package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** Evaluates `child` in a generated method of its own.
  *
  * Whole-stage codegen inlines every expression of a projection into one
  * method and never splits it: expression splitting needs a row input, and
  * inside a fused stage the inputs are local variables. A wide projection
  * of heavy expressions — the lenient cast of every column of a table —
  * then compiles to a method far beyond HotSpot's 8,000-byte limit for
  * JIT compilation (`-XX:+DontCompileHugeMethods`), and the whole stage
  * runs in the bytecode interpreter. Wrapped, each expression becomes a
  * method taking the input variables it reads as parameters, small enough
  * to be compiled. Outside a fused stage (where projections split their
  * expressions themselves) and in interpreted evaluation it is
  * transparent. */
case class OwnMethod(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val outer = ctx.currentVars
    val refs = child.collect { case b: BoundReference => b }
      .groupBy(_.ordinal).values.map(_.head).toSeq.sortBy(_.ordinal)
    // each input is passed as (value, isNull): at most 3 JVM slots
    if (outer == null || refs.exists(b => outer(b.ordinal) == null) ||
        !CodeGenerator.isValidParamLength(3 * refs.size + 1))
      return child.genCode(ctx)
    // inputs whose evaluation was deferred to their use are evaluated here,
    // in the caller, where their variables live
    val deferred = refs.map { b =>
      val v = outer(b.ordinal); val c = v.code; v.code = EmptyBlock; c.toString
    }.filter(_.nonEmpty).mkString("\n")
    val params = refs.map(b => (b, ctx.freshName("in"), ctx.freshName("inIsNull")))
    val inner = outer.toArray
    params.foreach { case (b, value, isNull) =>
      inner(b.ordinal) = ExprCode(JavaCode.isNullVariable(isNull),
        JavaCode.variable(value, b.dataType))
    }
    ctx.currentVars = inner.toSeq
    val body =
      try ctx.withSubExprEliminationExprs(Map.empty)(Seq(child.genCode(ctx))).head
      finally ctx.currentVars = outer
    val javaType = CodeGenerator.javaType(dataType)
    val isNullState = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "ownIsNull")
    val name = ctx.freshName("ownMethod")
    val decl = params.map { case (b, value, isNull) =>
      s"${CodeGenerator.javaType(b.dataType)} $value, boolean $isNull" }
    val fn = ctx.addNewFunction(name,
      s"""private $javaType $name(${decl.mkString(", ")}) {
         |  ${body.code}
         |  $isNullState = ${body.isNull};
         |  return ${body.value};
         |}""".stripMargin)
    val args = refs.map(b => s"${outer(b.ordinal).value}, ${outer(b.ordinal).isNull}")
    val call =
      s"""$deferred
         |$javaType ${ev.value} = $fn(${args.mkString(", ")});
         |boolean ${ev.isNull} = $isNullState;""".stripMargin
    ev.copy(code = code"$call")
  }

  override protected def withNewChildInternal(newChild: Expression): OwnMethod =
    copy(child = newChild)

  override def prettyName: String = "own_method"
}

object OwnMethod {
  def apply(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      OwnMethod(org.apache.spark.sql.GraftColumnBridge.expression(c)))
}
