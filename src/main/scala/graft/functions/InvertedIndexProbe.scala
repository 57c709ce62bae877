package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, TypeUtils}
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Kernel of the broadcast inverted-index cosine (the reference's
  * scalable strategy, textanalyse/ScalableEntityResolution.scala:64-129:
  * build an index of one side, broadcast it, probe it with the other).
  *
  * The build side packs into ONE struct value (see [[indexType]]):
  *  - `ids`: the distinct doc ids, ascending — a doc's position is its
  *    dense index;
  *  - `ss`: each doc's squared norm Σ w²;
  *  - `tokens`: the distinct tokens in UTF-8 byte order;
  *  - `starts`: posting offsets — token t's postings are
  *    `[starts(t), starts(t + 1))`;
  *  - `docs` / `weights`: the packed postings `(doc index, weight)`.
  *
  * Every sum runs in ONE fixed order, (token, weight) per doc, on both
  * sides: a doc's `ss` and a pair's dot never depend on partitioning,
  * shuffle order or AQE, and a doc scored against an identical token bag
  * gets dot == ssA == ssB bit for bit, so its cosine is exactly 1.0
  * (sqrt(x * x) == x in IEEE binary arithmetic).
  */
object InvertedIndexKernel {

  def indexType(idType: DataType): StructType = StructType(Seq(
    StructField("ids", ArrayType(idType, containsNull = false), nullable = false),
    StructField("ss", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("tokens", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("starts", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("docs", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("weights", ArrayType(DoubleType, containsNull = false), nullable = false)))

  /** Positions `0 until n` sorted by `cmp`. */
  private def order(n: Int)(cmp: (Int, Int) => Int): Array[Int] = {
    val boxed = Array.tabulate[Integer](n)(Integer.valueOf)
    java.util.Arrays.sort(boxed, (x: Integer, y: Integer) => cmp(x, y))
    boxed.map(_.intValue)
  }

  /** Dense index of each distinct value, in the order `sorted` gives. */
  private def dictionary[T <: AnyRef](sorted: Array[T]): java.util.HashMap[Any, Integer] = {
    val m = new java.util.HashMap[Any, Integer](sorted.length * 2)
    sorted.indices.foreach(i => m.put(sorted(i), i))
    m
  }

  /** Packs `(id, token, weight)` rows into the index struct. Rows with a
    * NULL field carry no term and are skipped, as the token equi-join and
    * the NULL-ignoring sums of the relational formulation skip them.
    */
  def pack(rows: ArrayData, idType: DataType, ordering: Ordering[Any]): InternalRow = {
    val n = rows.numElements()
    val ids = new Array[AnyRef](n)
    val toks = new Array[UTF8String](n)
    val ws = new Array[Double](n)
    var m = 0
    var i = 0
    while (i < n) {
      val r = rows.getStruct(i, 3)
      if (!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2)) {
        ids(m) = r.get(0, idType).asInstanceOf[AnyRef]
        toks(m) = r.getUTF8String(1)
        ws(m) = r.getDouble(2)
        m += 1
      }
      i += 1
    }
    val docIds = ids.take(m).distinct.sorted(ordering)
    val tokens = toks.take(m).distinct
    java.util.Arrays.sort(tokens.asInstanceOf[Array[AnyRef]])
    val (docOf, tokOf) = (dictionary(docIds), dictionary(tokens))
    val d = Array.tabulate(m)(j => docOf.get(ids(j)).intValue)
    val t = Array.tabulate(m)(j => tokOf.get(toks(j)).intValue)
    val perm = order(m) { (x, y) =>
      val c = Integer.compare(t(x), t(y))
      if (c != 0) c else {
        val c2 = Integer.compare(d(x), d(y))
        if (c2 != 0) c2 else java.lang.Double.compare(ws(x), ws(y))
      }
    }
    val starts = new Array[Int](tokens.length + 1)
    t.foreach(k => starts(k + 1) += 1)
    (1 to tokens.length).foreach(k => starts(k) += starts(k - 1))
    val docs = perm.map(d)
    val weights = perm.map(ws)
    val ss = new Array[Double](docIds.length)
    (0 until m).foreach(p => ss(docs(p)) += weights(p) * weights(p))
    new GenericInternalRow(Array[Any](
      new GenericArrayData(docIds.asInstanceOf[Array[Any]]), new GenericArrayData(ss),
      new GenericArrayData(tokens.asInstanceOf[Array[Any]]), new GenericArrayData(starts),
      new GenericArrayData(docs), new GenericArrayData(weights)))
  }

  /** Reusable dense accumulator: one slot per build doc, reset after
    * each probe doc through the list of touched slots.
    */
  final class Accumulator {
    var dot: Array[Double] = Array.emptyDoubleArray
    var touched: Array[Int] = Array.emptyIntArray
    var seen: Array[Boolean] = Array.emptyBooleanArray
    def ensure(n: Int): Unit = if (dot.length < n) {
      dot = new Array[Double](n)
      touched = new Array[Int](n)
      seen = new Array[Boolean](n)
    }
  }

  private def lookup(tokens: ArrayData, t: UTF8String): Int = {
    var (lo, hi) = (0, tokens.numElements() - 1)
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = tokens.getUTF8String(mid).compareTo(t)
      if (c == 0) return mid
      if (c < 0) lo = mid + 1 else hi = mid - 1
    }
    -1
  }

  /** Number of index ids strictly below `id`. */
  private def rank(ids: ArrayData, idType: DataType, ordering: Ordering[Any], id: Any): Int = {
    var (lo, hi) = (0, ids.numElements())
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ordering.lt(ids.get(mid, idType), id)) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Scores one probe doc's `(token, weight)` terms against the index:
    * `(build id, dot / sqrt(ssA * ssB))` for every build doc sharing a
    * token, ascending by build id. With `below = true` only build ids
    * strictly below `probeId` are scored (the self-join's `a < b`). A
    * doc with a zero squared norm has no defined cosine and scores no
    * pair.
    */
  def score(index: InternalRow, idType: DataType, probeId: Any, terms: ArrayData,
            below: Boolean, ordering: Ordering[Any], acc: Accumulator): ArrayData = {
    val ids = index.getArray(0)
    val ss = index.getArray(1)
    val tokens = index.getArray(2)
    val starts = index.getArray(3)
    val docs = index.getArray(4)
    val weights = index.getArray(5)
    val nDocs = ids.numElements()
    val limit = if (below) rank(ids, idType, ordering, probeId) else nDocs
    val k = terms.numElements()
    val toks = new Array[UTF8String](k)
    val ws = new Array[Double](k)
    var m = 0
    var i = 0
    while (i < k) {
      val r = terms.getStruct(i, 2)
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        toks(m) = r.getUTF8String(0)
        ws(m) = r.getDouble(1)
        m += 1
      }
      i += 1
    }
    val perm = order(m) { (x, y) =>
      val c = toks(x).compareTo(toks(y))
      if (c != 0) c else java.lang.Double.compare(ws(x), ws(y))
    }
    var ssB = 0.0
    perm.foreach(j => ssB += ws(j) * ws(j))
    if (limit == 0 || ssB == 0.0) return new GenericArrayData(Array.empty[Any])
    acc.ensure(nDocs)
    var nTouched = 0
    perm.foreach { j =>
      val t = lookup(tokens, toks(j))
      if (t >= 0) {
        var p = starts.getInt(t)
        val end = starts.getInt(t + 1)
        while (p < end) {
          val d = docs.getInt(p)
          if (d < limit) {
            if (!acc.seen(d)) { acc.seen(d) = true; acc.touched(nTouched) = d; nTouched += 1 }
            acc.dot(d) += ws(j) * weights.getDouble(p)
          }
          p += 1
        }
      }
    }
    java.util.Arrays.sort(acc.touched, 0, nTouched)
    val out = new Array[Any](nTouched)
    var nOut = 0
    (0 until nTouched).foreach { q =>
      val d = acc.touched(q)
      val ssA = ss.getDouble(d)
      if (ssA != 0.0) {
        out(nOut) = new GenericInternalRow(
          Array[Any](ids.get(d, idType), acc.dot(d) / math.sqrt(ssA * ssB)))
        nOut += 1
      }
      acc.dot(d) = 0.0
      acc.seen(d) = false
    }
    new GenericArrayData(if (nOut == out.length) out else out.take(nOut))
  }

  /** Field types of an `ARRAY<STRUCT<..>>`, if that is what `dt` is. */
  private[functions] def rowFields(dt: DataType): Option[Seq[DataType]] = dt match {
    case ArrayType(s: StructType, _) => Some(s.fields.toSeq.map(_.dataType))
    case _ => None
  }

  private[functions] def idTypeOk(dt: DataType): Boolean = dt match {
    case BinaryType | _: ArrayType | _: MapType | _: StructType => false
    case _ => true
  }
}

/** Packs a collected `ARRAY<STRUCT<id, token: STRING, weight: DOUBLE>>`
  * (one row: the build side's whole weight table) into the inverted-index
  * struct of [[InvertedIndexKernel]]. Evaluated once per query, on the
  * single row of the build side's global aggregate, so it stays
  * interpreted.
  */
case class PackPostings(child: Expression) extends UnaryExpression with CodegenFallback {

  private def idType: DataType = InvertedIndexKernel.rowFields(child.dataType).get.head

  override def checkInputDataTypes(): TypeCheckResult =
    InvertedIndexKernel.rowFields(child.dataType) match {
      case Some(Seq(id, StringType, DoubleType)) if InvertedIndexKernel.idTypeOk(id) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires ARRAY<STRUCT<id, token: STRING, weight: DOUBLE>> with an " +
          s"atomic id, got ${child.dataType.simpleString}")
    }
  override def dataType: DataType = InvertedIndexKernel.indexType(idType)
  override def prettyName: String = "pack_postings"

  @transient private lazy val ordering = TypeUtils.getInterpretedOrdering(idType)

  override def nullSafeEval(rows: Any): Any =
    InvertedIndexKernel.pack(rows.asInstanceOf[ArrayData], idType, ordering)

  override protected def withNewChildInternal(newChild: Expression): PackPostings =
    copy(child = newChild)
}

object PackPostings {
  def apply(rows: Column): Column = ColumnShim.column(PackPostings(ColumnShim.expression(rows)))
}

/** Scores one probe doc against a broadcast [[PackPostings]] index →
  * `ARRAY<STRUCT<idName: id, sim: DOUBLE>>`. Compiled into whole-stage
  * codegen as a call into the kernel, so the probe reads the broadcast
  * row in place and the index is never copied per probe doc.
  */
case class ProbeCosine(index: Expression, probeId: Expression, terms: Expression,
                       idName: String, below: Boolean) extends TernaryExpression {

  override def first: Expression = index
  override def second: Expression = probeId
  override def third: Expression = terms

  private def idType: DataType = index.dataType match {
    case s: StructType => s("ids").dataType.asInstanceOf[ArrayType].elementType
    case other => other
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val indexOk = index.dataType match {
      case s: StructType => s == InvertedIndexKernel.indexType(idType)
      case _ => false
    }
    val termsOk = InvertedIndexKernel.rowFields(terms.dataType)
      .contains(Seq(StringType, DoubleType))
    if (indexOk && termsOk && probeId.dataType == idType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a pack_postings index, a probe id of its id type and " +
        s"ARRAY<STRUCT<token: STRING, weight: DOUBLE>> terms, got (" +
        Seq(index, probeId, terms).map(_.dataType.simpleString).mkString(", ") + ")")
  }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField(idName, idType, nullable = false),
    StructField("sim", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "probe_cosine"

  @transient private lazy val ordering = TypeUtils.getInterpretedOrdering(idType)
  @transient private lazy val acc = new InvertedIndexKernel.Accumulator

  def probe(ix: InternalRow, id: Any, ts: ArrayData): ArrayData =
    InvertedIndexKernel.score(ix, idType, id, ts, below, ordering, acc)

  override def nullSafeEval(ix: Any, id: Any, ts: Any): Any =
    probe(ix.asInstanceOf[InternalRow], id, ts.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("probe", this)
    defineCodeGen(ctx, ev, (ix, id, ts) => s"$self.probe($ix, $id, $ts)")
  }

  override protected def withNewChildrenInternal(
      i: Expression, p: Expression, t: Expression): ProbeCosine =
    copy(index = i, probeId = p, terms = t)
}

object ProbeCosine {
  def apply(index: Column, probeId: Column, terms: Column, idName: String,
            below: Boolean): Column =
    ColumnShim.column(ProbeCosine(ColumnShim.expression(index),
      ColumnShim.expression(probeId), ColumnShim.expression(terms), idName, below))
}
