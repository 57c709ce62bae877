package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** Shared kernel for [[SrpChunks]]: ALL of a vector's banded
  * sign-random-projection chunks in one compiled pass. Semantics are
  * EXACTLY the per-plane formulation in `graft.ann.Knn.srpBands`'s
  * executable spec (parity-tested in KnnSpec): bit r of band b is set
  * iff the [[FloatVecDot]]-semantics dot of the vector with the
  * md5-seeded ±1 hyperplane j = b·rowsPerBand + r is ≥ 0 — double
  * accumulation in element order over min(len(vec), dims), so the
  * signs (and therefore every chunk) are bit-identical to both the
  * expression chain it replaces and the DuckDB oracle.
  *
  * Why: the per-plane chain evaluates nBits separate `vec_dot`s
  * against nBits literal arrays inside one projection — each call
  * re-unwraps the literal `GenericArrayData` element-by-element, and a
  * 64-plane projection is past the point where whole-stage codegen
  * keeps the pipeline fused. Measured on the `graft.Profile banded`
  * synthetic corpus, banding cost ~200 µs/vector; this kernel holds
  * the planes as primitive float arrays built once per (nBits, dims)
  * and walks them in one loop.
  */
object SrpKernel {

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Float]]]()

  /** The deterministic ±1 hyperplanes (the `Knn.srpPlanes` derivation:
    * plane j, dim i is +1 iff the high bit of md5("j:i")'s first byte
    * is set), cached per (nBits, dims) per executor.
    */
  def planes(nBits: Int, dims: Int): Array[Array[Float]] =
    cache.computeIfAbsent((nBits, dims), { key =>
      val (nb, d) = key
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(nb) { j =>
        Array.tabulate(d) { i =>
          md.reset()
          val h = md.digest(s"$j:$i".getBytes("UTF-8"))
          if ((h(0) & 0x80) != 0) 1.0f else -1.0f
        }
      }
    })

  def compute(vec: ArrayData, dims: Int, nBands: Int,
              rowsPerBand: Int): ArrayData = {
    val ps = planes(nBands * rowsPerBand, dims)
    val out = new Array[Any](nBands)
    var b = 0
    while (b < nBands) {
      var chunk = 0
      var r = 0
      while (r < rowsPerBand) {
        val p = ps(b * rowsPerBand + r)
        val n = math.min(vec.numElements(), dims)
        var s = 0.0
        var i = 0
        while (i < n) {
          s += vec.getFloat(i).toDouble * p(i).toDouble
          i += 1
        }
        if (s >= 0) chunk |= 1 << r
        r += 1
      }
      out(b) = chunk
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** Native banded SRP signature of an `ARRAY<FLOAT>` embedding →
  * `ARRAY<INT>` of nBands packed sign-bit chunks (element b is band
  * b's chunk — `posexplode` gives the (band, chunk) rows the LSH
  * blocking joins on).
  */
case class SrpChunks(child: Expression, dims: Int, nBands: Int,
                     rowsPerBand: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _)
        if dims > 0 && nBands > 0 && rowsPerBand > 0 && rowsPerBand <= 31 =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<FLOAT> and dials > 0 (rowsPerBand ≤ 31), " +
        s"got ${other.simpleString} dims=$dims bands=$nBands rows=$rowsPerBand")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "srp_chunks"

  override def nullSafeEval(vec: Any): Any =
    SrpKernel.compute(vec.asInstanceOf[ArrayData], dims, nBands, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.SrpKernel.compute($c, $dims, $nBands, $rowsPerBand)")

  override protected def withNewChildInternal(newChild: Expression): SrpChunks =
    copy(child = newChild)
}

object SrpChunks {
  /** The Column-level funnel every SRP entry point goes through — the
    * dial bounds fail HERE, at construction, not as an opaque Catalyst
    * TypeCheckFailure mid-plan after a caller already accepted them.
    */
  def apply(vec: Column, dims: Int, nBands: Int, rowsPerBand: Int): Column = {
    require(dims > 0 && nBands > 0 && rowsPerBand > 0,
      s"SRP dials must be positive, got dims=$dims bands=$nBands rows=$rowsPerBand")
    require(rowsPerBand <= 31,
      s"SRP banding packs ≤ 31 sign bits per band chunk, got rows=$rowsPerBand")
    ColumnShim.column(
      SrpChunks(ColumnShim.expression(vec), dims, nBands, rowsPerBand))
  }
}
