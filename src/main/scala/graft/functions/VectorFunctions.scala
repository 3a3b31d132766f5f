package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Vector math over `Array[Float]` embedding columns as native Catalyst
  * expressions with whole-stage codegen (static kernels, no boxing).
  *
  * The composed built-in forms (`aggregate(zip_with(...))` folds) are
  * semantically identical but evaluate interpreted — one closure call and
  * ArrayData allocation per element — which made every embedding operator
  * (cosine top-k, IVF, LSH bucketing, near-dup join) fold-bound. Kernels
  * fold left-to-right in the same order as both the composed form and the
  * DuckDB oracle's `list_reduce`, so results are bit-identical.
  */
object VectorFunctions {

  /** Σ a_i·b_i with each float widened to double before the multiply —
    * exactly `aggregate(zip_with(a, b, x*y), 0.0, +)` / the oracle's
    * list_reduce. Callers must pre-check equal lengths (the expressions
    * return NULL for ragged inputs — zip_with pads with null and poisons
    * the fold, and DuckDB indexes past the end to NULL; a truncated dot
    * product would be a plausible-looking wrong answer instead). */
  def dotKernel(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  /** cosine = dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b))) — the exact
    * operation order of Similarity.cosine / the oracle. */
  def cosineKernel(a: ArrayData, b: ArrayData): Double =
    dotKernel(a, b) / (math.sqrt(dotKernel(a, a)) * math.sqrt(dotKernel(b, b)))

  /** Random-hyperplane LSH signature: bit p set iff
    * Σ_i x_i · comp(p, i) >= 0, comp(p, i) = centered hash in [-0.5, 0.5)
    * — exactly Similarity.lshSignature / lshSignatureSql. */
  def lshKernel(emb: ArrayData, planes: Int): Long = {
    val n = emb.numElements()
    var sig = 0L
    var p = 0
    while (p < planes) {
      var proj = 0.0
      var i = 0
      while (i < n) {
        val comp = ((i * 2654435761L + p.toLong * 40503L + 12345L) % 1000L).toDouble / 1000.0 - 0.5
        proj += emb.getFloat(i).toDouble * comp
        i += 1
      }
      if (proj >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** Rademacher random projection d → dPrime: out_p = Σ_i ±x_i with the
    * sign for (p, i) drawn from the SAME deterministic hash family as the
    * LSH hyperplanes (comp(p, i) mod 1000 < 500 → +1 else −1 — no RNG,
    * reproducible across runs/engines). Sign-only sums keep the fold a
    * plain left-to-right double addition, bit-identical to the composed
    * `aggregate(zip_with(...))` twin and the DuckDB oracle's
    * `list_reduce`. Scaling is omitted: cosine in the projected space is
    * invariant to the 1/sqrt(dPrime) JL factor. */
  def rpProjectKernel(emb: ArrayData, dPrime: Int): ArrayData = {
    val n = emb.numElements()
    val out = new Array[Double](dPrime)
    var p = 0
    while (p < dPrime) {
      var acc = 0.0
      var i = 0
      while (i < n) {
        val h = (i * 2654435761L + p.toLong * 40503L + 12345L) % 1000L
        val x = emb.getFloat(i).toDouble
        acc += (if (h < 500L) x else -x)
        i += 1
      }
      out(p) = acc
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Double-array twin of `dotKernel` — k-means centroids are
    * Array[Double] (integer-quantized means), so the training assignment
    * reads doubles on both sides; the float kernel stays untouched for the
    * hot ANN paths. */
  def dotKernelD(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  def cosineKernelD(a: ArrayData, b: ArrayData): Double =
    dotKernelD(a, b) / (math.sqrt(dotKernelD(a, a)) * math.sqrt(dotKernelD(b, b)))

  /** All M PQ codes in ONE eval: per subspace `sub`, the argmin-squared-L2
    * codeword over the flattened (m, cid, cemb) codebook array. Arithmetic
    * is the same left-to-right widened-float fold as the composed
    * `aggregate(zip_with(...))` spelling (PqKernelSpec pins bit-parity);
    * ties break to the smallest cid independent of codebook array order. */
  def pqEncodeKernel(emb: ArrayData, books: ArrayData, m: Int, dim: Int): ArrayData = {
    val best = new Array[Long](m)
    val bestD = new Array[Double](m)
    java.util.Arrays.fill(bestD, Double.PositiveInfinity)
    var i = 0
    val n = books.numElements()
    while (i < n) {
      val row = books.getStruct(i, 3)
      val sub = row.getInt(0)
      val cid = row.getLong(1)
      val cemb = row.getArray(2)
      var d = 0.0
      var j = 0
      while (j < dim) {
        val x = emb.getFloat(sub * dim + j).toDouble - cemb.getDouble(j)
        d += x * x
        j += 1
      }
      if (d < bestD(sub) || (d == bestD(sub) && cid < best(sub))) {
        bestD(sub) = d
        best(sub) = cid
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(best)
  }

  /** PQ-ADC distance of one code array against a probe's lookup table:
    * Σ lut(m·K + j) over m = 0..M-1, j the index of code m among the K
    * sorted codeword ids, folded left to right from 0.0 — the order of
    * the composed `array_sort(collect_list(struct(m, d)))` fold, so the
    * distance is bit-identical to it. A code array of another length, or
    * a code the table does not hold, was encoded against another codebook
    * and is refused. */
  def adcKernel(codes: ArrayData, ids: Array[Long], lut: Array[Double], m: Int): Double = {
    if (codes.numElements() != m) throw new IllegalStateException(
      s"PQ code array of ${codes.numElements()} codes, expected $m")
    var acc = 0.0
    var i = 0
    while (i < m) {
      val j = java.util.Arrays.binarySearch(ids, codes.getLong(i))
      if (j < 0) throw new IllegalStateException(
        s"PQ code ${codes.getLong(i)} is not a codeword of the lookup table")
      acc += lut(i * ids.length + j)
      i += 1
    }
    acc
  }

  def dotF(a: Column, b: Column): Column =
    GraftShim.column(DotProductExpr(GraftShim.expression(a), GraftShim.expression(b)))

  def cosineF(a: Column, b: Column): Column =
    GraftShim.column(CosineSimExpr(GraftShim.expression(a), GraftShim.expression(b)))

  def lshSignatureF(emb: Column, planes: Int): Column =
    GraftShim.column(LshSignatureExpr(GraftShim.expression(emb), planes))

  def cosineDF(a: Column, b: Column): Column =
    GraftShim.column(CosineSimDExpr(GraftShim.expression(a), GraftShim.expression(b)))

  def pqEncodeF(emb: Column, books: Column, m: Int, dim: Int): Column =
    GraftShim.column(PqEncodeExpr(
      GraftShim.expression(emb), GraftShim.expression(books), m, dim))

  def adcDistanceF(codes: Column, ids: Array[Long], lut: Array[Double], m: Int): Column =
    GraftShim.column(AdcDistanceExpr(GraftShim.expression(codes), ids, lut, m))

  def rpProjectF(emb: Column, dPrime: Int): Column =
    GraftShim.column(RpProjectExpr(GraftShim.expression(emb), dPrime))
}

/** Ragged inputs (len(a) != len(b)) evaluate to NULL — matching the
  * composed zip_with form (null-padded fold → null) and the DuckDB oracle
  * (index past the end → NULL). */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vector_dot"
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = left.eval(input)
    val b = right.eval(input)
    if (a == null || b == null) null
    else {
      val (aa, bb) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
      if (aa.numElements() != bb.numElements()) null
      else VectorFunctions.dotKernel(aa, bb)
    }
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      if ($a.numElements() != $b.numElements()) { ${ev.isNull} = true; }
      else { ${ev.value} = graft.functions.VectorFunctions.dotKernel($a, $b); }""")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Ragged inputs → NULL (see DotProductExpr). */
case class CosineSimExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_similarity"
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = left.eval(input)
    val b = right.eval(input)
    if (a == null || b == null) null
    else {
      val (aa, bb) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
      if (aa.numElements() != bb.numElements()) null
      else VectorFunctions.cosineKernel(aa, bb)
    }
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      if ($a.numElements() != $b.numElements()) { ${ev.isNull} = true; }
      else { ${ev.value} = graft.functions.VectorFunctions.cosineKernel($a, $b); }""")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Double-array cosine (Array[Double] × Array[Double]); ragged → NULL. */
case class CosineSimDExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_similarity_d"
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = left.eval(input)
    val b = right.eval(input)
    if (a == null || b == null) null
    else {
      val (aa, bb) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
      if (aa.numElements() != bb.numElements()) null
      else VectorFunctions.cosineKernelD(aa, bb)
    }
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      if ($a.numElements() != $b.numElements()) { ${ev.isNull} = true; }
      else { ${ev.value} = graft.functions.VectorFunctions.cosineKernelD($a, $b); }""")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class LshSignatureExpr(child: Expression, planes: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "lsh_signature"
  override protected def nullSafeEval(e: Any): Any =
    VectorFunctions.lshKernel(e.asInstanceOf[ArrayData], planes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, e =>
      s"graft.functions.VectorFunctions.lshKernel($e, $planes)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Rademacher projection of an Array[Float] embedding to dPrime doubles
  * (see VectorFunctions.rpProjectKernel); `dPrime` is a plan-time
  * constant. NULL input → NULL. */
case class RpProjectExpr(child: Expression, dPrime: Int)
    extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rp_project"
  override protected def nullSafeEval(e: Any): Any =
    VectorFunctions.rpProjectKernel(e.asInstanceOf[ArrayData], dPrime)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, e =>
      s"graft.functions.VectorFunctions.rpProjectKernel($e, $dPrime)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** All M PQ codes for one embedding against the flattened codebook array
  * (left: array<float> embedding; right: array<struct<m,cid,cemb>>).
  * NULL input → NULL; `m`/`dim` are plan-time constants. */
case class PqEncodeExpr(left: Expression, right: Expression, m: Int, dim: Int)
    extends BinaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_encode"
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = left.eval(input)
    val b = right.eval(input)
    if (a == null || b == null) null
    else VectorFunctions.pqEncodeKernel(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], m, dim)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorFunctions.pqEncodeKernel($a, $b, $m, $dim);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** PQ-ADC distance of an array<bigint> code column against a lookup table
  * held as plan constants: `ids` the sorted codeword ids, `lut` the
  * m-major M×K distances (see VectorFunctions.adcKernel). NULL → NULL. */
case class AdcDistanceExpr(child: Expression, ids: Array[Long], lut: Array[Double], m: Int)
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "adc_distance"
  override protected def stringArgs: Iterator[Any] = Iterator(child, m)
  override protected def nullSafeEval(c: Any): Any =
    VectorFunctions.adcKernel(c.asInstanceOf[ArrayData], ids, lut, m)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idsRef = ctx.addReferenceObj("adcIds", ids, "long[]")
    val lutRef = ctx.addReferenceObj("adcLut", lut, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.VectorFunctions.adcKernel($c, $idsRef, $lutRef, $m)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
