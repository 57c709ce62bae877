package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native capture of groups 1..n of a Java regex's first match
  * (`Matcher.find`, as `rlike` and `regexp_extract` use) in ONE match:
  * `ARRAY<STRING>` with a group that took no part as "" (the
  * `regexp_extract` convention), NULL when the pattern does not match.
  * Same engine and pattern as `rlike` + one `regexp_extract` per group,
  * so the groups are byte-identical — at one match per row instead of
  * one per call (a line parser with greedy, backtracking groups pays
  * the match on every call).
  */
case class RegexpGroups(child: Expression, regex: String, n: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if n >= 1 => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING and n >= 1, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "regexp_groups"

  @transient private lazy val pattern = java.util.regex.Pattern.compile(regex)

  def groups(s: UTF8String): ArrayData = {
    val m = pattern.matcher(s.toString)
    if (!m.find()) null
    else new GenericArrayData(Array.tabulate[Any](n) { i =>
      val g = m.group(i + 1)
      if (g == null) UTF8String.EMPTY_UTF8 else UTF8String.fromString(g)
    })
  }

  override def nullSafeEval(s: Any): Any = groups(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("regexpGroups", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $self.groups($c);\n${ev.isNull} = ${ev.value} == null;")
  }

  override protected def withNewChildInternal(newChild: Expression): RegexpGroups =
    copy(child = newChild)
}

object RegexpGroups {
  def apply(s: Column, regex: String, n: Int): Column =
    ColumnShim.column(RegexpGroups(ColumnShim.expression(s), regex, n))
}
