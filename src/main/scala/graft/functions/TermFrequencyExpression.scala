package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shared kernel for [[TermFrequencies]]: one document's term
  * frequencies `count(token) / size(tokens)`, one entry per distinct
  * token (a NULL token counts as a token, as `GROUP BY token` groups
  * it), in token order. The division is `cnt.toDouble / n.toDouble`,
  * bit-identical to `count / size` over the exploded relation.
  */
object TermFrequencyKernel {
  private val nullsFirst: java.util.Comparator[UTF8String] =
    java.util.Comparator.nullsFirst(java.util.Comparator.naturalOrder[UTF8String]())

  def compute(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    val sorted = Array.tabulate(n)(i => if (tokens.isNullAt(i)) null else tokens.getUTF8String(i))
    java.util.Arrays.sort(sorted, nullsFirst)
    val out = Array.newBuilder[Any]
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n && nullsFirst.compare(sorted(i), sorted(j)) == 0) j += 1
      out += new GenericInternalRow(Array[Any](sorted(i), (j - i).toDouble / n.toDouble))
      i = j
    }
    new GenericArrayData(out.result())
  }
}

/** Native per-document term frequencies of an `ARRAY<STRING>` column →
  * `ARRAY<STRUCT<token: STRING, tf: DOUBLE>>`: counts a document's
  * terms from its token array in the row itself, so term frequency is a
  * narrow pass (no `(id, token)` shuffle, no join back of per-doc
  * totals).
  */
case class TermFrequencies(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<STRING>, got ${other.simpleString}")
  }
  override def dataType: DataType = {
    val containsNull = child.dataType.asInstanceOf[ArrayType].containsNull
    ArrayType(StructType(Seq(
      StructField("token", StringType, nullable = containsNull),
      StructField("tf", DoubleType, nullable = false))), containsNull = false)
  }
  override def prettyName: String = "term_frequencies"

  override def nullSafeEval(tokens: Any): Any =
    TermFrequencyKernel.compute(tokens.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TermFrequencyKernel.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): TermFrequencies =
    copy(child = newChild)
}

object TermFrequencies {
  def apply(tokens: Column): Column =
    ColumnShim.column(TermFrequencies(ColumnShim.expression(tokens)))
}
