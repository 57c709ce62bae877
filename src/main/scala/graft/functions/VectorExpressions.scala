package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: dot product of two `ARRAY<FLOAT>` columns,
  * accumulated in double precision.
  *
  * Why not `aggregate(zip_with(...))`: higher-order functions are
  * `CodegenFallback` — every call interprets a lambda tree and allocates
  * an intermediate array, which made the all-pairs cosine query ~20×
  * slower than this expression. Here `doGenCode` emits a tight
  * float-multiply loop straight into whole-stage codegen: no allocation,
  * no virtual calls, stays inside the fused pipeline. Element order is
  * sequential, so results are bit-identical to the higher-order (and
  * DuckDB `list_sum(list_transform(...))`) formulation.
  *
  * Semantics: length = min(len(a), len(b)); elements are assumed
  * non-null (dense embedding vectors). NULL input array → NULL.
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<FLOAT> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |${ev.value} = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value} += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecDot =
    copy(left = newLeft, right = newRight)
}

/** Native Catalyst expression: squared L2 distance between two numeric
  * arrays (`ARRAY<FLOAT>` or `ARRAY<DOUBLE>` on either side,
  * independently — PQ scores raw float vectors, IVF-PQ scores double
  * residuals). Same motivation as [[FloatVecDot]]: the
  * `aggregate(zip_with(...))` formulation is CodegenFallback and this
  * is the hot kernel of every PQ train/assign/ADC loop. Accumulation
  * is sequential (element order), so results are bit-identical to the
  * higher-order form and to DuckDB's `list_sum(list_transform(...))`
  * mirror.
  *
  * Semantics: length = min(len(a), len(b)); elements assumed non-null
  * (dense vectors). NULL input array → NULL.
  */
case class VecSqDist(left: Expression, right: Expression)
    extends BinaryExpression {

  private def elemOk(dt: DataType) = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<FLOAT|DOUBLE> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_sqdist"

  private def isFloat(e: Expression) = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (fx, fy) = (isFloat(left), isFloat(right))
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val xi = if (fx) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (fy) y.getFloat(i).toDouble else y.getDouble(i)
      val d = xi - yi
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      def getter(v: String, float: Boolean) =
        if (float) s"(double) $v.getFloat($i)" else s"$v.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |${ev.value} = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = ${getter(a, isFloat(left))} - ${getter(b, isFloat(right))};
         |  ${ev.value} += $d * $d;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecSqDist =
    copy(left = newLeft, right = newRight)
}

/** Column/SQL surface for the native vector expressions. */
object VectorFunctions {

  /** `vec_dot(a, b)` as a Column — usable in any DataFrame pipeline. */
  def vecDot(a: Column, b: Column): Column =
    ColumnShim.column(
      FloatVecDot(ColumnShim.expression(a), ColumnShim.expression(b)))

  /** `vec_sqdist(a, b)` as a Column — the PQ/IVF-PQ hot kernel. */
  def vecSqDist(a: Column, b: Column): Column =
    ColumnShim.column(
      VecSqDist(ColumnShim.expression(a), ColumnShim.expression(b)))

  /** All native graft kernels, exposed to SQL under one registry. */
  private[functions] val sqlFunctions: Seq[
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[FloatVecDot].getName, "vec_dot"),
      (exprs: Seq[Expression]) => FloatVecDot(exprs.head, exprs(1))),
    (FunctionIdentifier("vec_sqdist"),
      new ExpressionInfo(classOf[VecSqDist].getName, "vec_sqdist"),
      (exprs: Seq[Expression]) => VecSqDist(exprs.head, exprs(1))),
    (FunctionIdentifier("simhash32"),
      new ExpressionInfo(classOf[SimHash32].getName, "simhash32"),
      (exprs: Seq[Expression]) => SimHash32(exprs.head)),
    (FunctionIdentifier("simhash32_bits"),
      new ExpressionInfo(classOf[SimHashBits32].getName, "simhash32_bits"),
      (exprs: Seq[Expression]) => SimHashBits32(exprs.head)),
    (FunctionIdentifier("int8_quant_fidelity"),
      new ExpressionInfo(classOf[Int8QuantFidelity].getName, "int8_quant_fidelity"),
      (exprs: Seq[Expression]) => Int8QuantFidelity(exprs.head)),
    // n-ary kernels take their static parameter as a literal int argument
    (FunctionIdentifier("minhash_sigs"),
      new ExpressionInfo(classOf[MinHashSigs].getName, "minhash_sigs"),
      (exprs: Seq[Expression]) => MinHashSigs(exprs.head, intArg(exprs, 1, "minhash_sigs"))),
    (FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (exprs: Seq[Expression]) => WordShingles(exprs.head, intArg(exprs, 1, "word_shingles"))),
    (FunctionIdentifier("kmv_jaccard"),
      new ExpressionInfo(classOf[KmvJaccard].getName, "kmv_jaccard"),
      (exprs: Seq[Expression]) => KmvJaccard(exprs.head, exprs(1), intArg(exprs, 2, "kmv_jaccard"))),
    (FunctionIdentifier("srp_chunks"),
      new ExpressionInfo(classOf[SrpChunks].getName, "srp_chunks"),
      (exprs: Seq[Expression]) => SrpChunks(exprs.head,
        intArg(exprs, 1, "srp_chunks"), intArg(exprs, 2, "srp_chunks"),
        intArg(exprs, 3, "srp_chunks"))))

  private def intArg(exprs: Seq[Expression], i: Int, fn: String): Int = exprs(i) match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn requires a literal INT as argument ${i + 1}, got $other")
  }

  /** Make `vec_dot`/`simhash32`/`simhash32_bits` callable from SQL text
    * in an existing session (idempotent). For config-time installation
    * use `spark.sql.extensions=graft.functions.GraftExtensions`.
    */
  def register(spark: SparkSession): Unit =
    sqlFunctions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}

/** `SparkSessionExtensions` installer:
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    VectorFunctions.sqlFunctions.foreach(ext.injectFunction)
}
