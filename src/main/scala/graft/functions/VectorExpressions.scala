package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression,
  GenericInternalRow, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.GraftBridge.InputType
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the dense-vector hot path.
  *
  * The `zip_with`/`aggregate` higher-order-function formulations allocate a
  * lambda frame per element and fall out of whole-stage codegen; at
  * embedding scale (64-4096 dims × billions of rows) that is the dominant
  * cost. These expressions run a tight primitive loop instead — one
  * fused pass, no allocation — and stay inside WholeStageCodegen.
  *
  * Each kernel's loop is ONE method on [[VectorRuntime]], called by both
  * `nullSafeEval` and the generated code (the [[PqRuntime]] pattern), with
  * the element type passed as an `isFloat` flag. Each accumulates in
  * double in index order, bit-compatible with the sequential HOF
  * definition (and the DuckDB oracle).
  */
abstract class VectorBinaryExpression extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def inputTypes: Seq[InputType] =
    Seq(VectorExpressions.FloatOrDoubleArray, VectorExpressions.FloatOrDoubleArray)

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType
  protected def leftFloat: Boolean = isFloat(left)
  protected def rightFloat: Boolean = isFloat(right)
}

/** dot(a, b) = Σ a_i * b_i over the common prefix length. */
case class DotProduct(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(l: Any, r: Any): Any =
    VectorRuntime.dot(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData], leftFloat, rightFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VectorRuntime.dot($a, $b, $leftFloat, $rightFloat)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** cosine(a, b) = dot / (||a|| * ||b||), one fused pass. */
case class CosineSimilarity(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(l: Any, r: Any): Any =
    VectorRuntime.cosine(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData], leftFloat, rightFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VectorRuntime.cosine($a, $b, $leftFloat, $rightFloat)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Σ round(a_i*scale) * round(b_i*scale) in exact 64-bit integers; rounding
  * is half-away-from-zero to match SQL ROUND on both Spark and DuckDB.
  */
case class QuantizedDot(left: Expression, right: Expression, scale: Int)
    extends VectorBinaryExpression {
  override def prettyName: String = "graft_quantized_dot"
  override def dataType: DataType = LongType

  override def nullSafeEval(l: Any, r: Any): Any =
    VectorRuntime.quantizedDot(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
      leftFloat, rightFloat, scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VectorRuntime.quantizedDot($a, $b, $leftFloat, $rightFloat, $scale)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** l2(a, b) = sqrt(Σ (a_i - b_i)²), one fused pass. */
case class L2Distance(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "graft_l2"

  override def nullSafeEval(l: Any, r: Any): Any =
    VectorRuntime.l2(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData], leftFloat, rightFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VectorRuntime.l2($a, $b, $leftFloat, $rightFloat)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Signed random-hyperplane LSH signature in ONE pass over the vector.
  *
  * For each element x_i, derive the `bits` pseudo-random hyperplane weights
  * w(p, i) ∈ [-1, 1] from xxHash64(i, seed·bits + p) and accumulate
  * proj[p] += x_i · w(p, i); the signature bit p is sign(proj[p]). The HOF
  * formulation runs `bits` separate aggregate passes, each re-hashing every
  * element — this is bits× less work and stays in whole-stage codegen.
  */
case class HyperplaneSignature(child: Expression, bits: Int, seed: Int)
    extends UnaryExpression with PqVecInput {
  require(bits <= 63, "signature fits one long")
  override def prettyName: String = "graft_hyperplane_sig"
  override def nullable: Boolean = true
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    VectorRuntime.hyperplaneSig(input.asInstanceOf[ArrayData], isFloat, bits, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.VectorRuntime.hyperplaneSig($v, $isFloat, $bits, $seed)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** quantize_int8(v) → struct(scale double, q array<int>): symmetric int8
  * quantization in ONE fused pass (max-abs scan + quantize scan, O(d)) —
  * the Column-composition formulation re-evaluates the scale subtree per
  * element (Spark HOFs do no lambda-invariant hoisting), an O(d²) trap.
  * Truncation toward zero matches the DuckDB oracle's trunc(); a zero
  * vector quantizes to zeros with scale 0. Null elements read as 0.
  */
case class QuantizeInt8(child: Expression) extends UnaryExpression with PqVecInput {
  override def prettyName: String = "graft_quantize_int8"
  override def nullable: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("q", ArrayType(IntegerType, containsNull = false), nullable = false)))

  override def nullSafeEval(input: Any): Any =
    VectorRuntime.quantizeInt8(input.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.functions.VectorRuntime.quantizeInt8($v, $isFloat)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The one body of each vector kernel above, shared by eval and
  * generated code (top-level object ⇒ static forwarders, the
  * [[PqRuntime]] pattern). Null elements are skipped (pairwise kernels:
  * a position counts only when both sides are non-null).
  */
object VectorRuntime {

  private def get(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  private def both(a: ArrayData, b: ArrayData, i: Int): Boolean = !a.isNullAt(i) && !b.isNullAt(i)

  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (both(a, b, i)) acc += get(a, i, aFloat) * get(b, i, bFloat)
      i += 1
    }
    acc
  }

  def cosine(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (both(a, b, i)) {
        val x = get(a, i, aFloat); val y = get(b, i, bFloat)
        dot += x * y; na += x * x; nb += y * y
      }
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def q(v: Double, scale: Int): Long =
    if (v < 0) -Math.round(-v * scale) else Math.round(v * scale)

  def quantizedDot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean,
      scale: Int): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      if (both(a, b, i)) acc += q(get(a, i, aFloat), scale) * q(get(b, i, bFloat), scale)
      i += 1
    }
    acc
  }

  def l2(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (both(a, b, i)) {
        val d = get(a, i, aFloat) - get(b, i, bFloat)
        acc += d * d
      }
      i += 1
    }
    math.sqrt(acc)
  }

  def hyperplaneSig(v: ArrayData, isFloat: Boolean, bits: Int, seed: Int): Long = {
    val proj = new Array[Double](bits)
    val n = v.numElements()
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i)) {
        val x = get(v, i, isFloat)
        var p = 0
        while (p < bits) {
          val h = XXH64.hashLong(i.toLong, seed.toLong * bits + p)
          val w = (java.lang.Math.floorMod(h, 2000001L).toDouble / 1000000.0) - 1.0
          proj(p) += x * w
          p += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var p = 0
    while (p < bits) { if (proj(p) > 0) sig |= (1L << p); p += 1 }
    sig
  }

  def quantizeInt8(v: ArrayData, isFloat: Boolean): InternalRow = {
    val n = v.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i)) {
        val ab = math.abs(get(v, i, isFloat))
        if (ab > s) s = ab
      }
      i += 1
    }
    val q = new Array[Int](n)
    if (s != 0.0) {
      i = 0
      while (i < n) {
        if (!v.isNullAt(i)) q(i) = (get(v, i, isFloat) / s * 127.0).toInt
        i += 1
      }
    }
    new GenericInternalRow(Array[Any](s, UnsafeArrayData.fromPrimitiveArray(q)))
  }
}

object VectorExpressions {
  /** `array<float|double>`, either element nullability: the vector kernels' input. */
  val FloatOrDoubleArray: InputType = GraftBridge.oneOf(ArrayType(FloatType), ArrayType(DoubleType))

  def quantizeInt8(v: Column): Column =
    GraftBridge.column(QuantizeInt8(GraftBridge.expression(v)))
  def dot(a: Column, b: Column): Column =
    GraftBridge.column(DotProduct(GraftBridge.expression(a), GraftBridge.expression(b)))

  def cosine(a: Column, b: Column): Column =
    GraftBridge.column(CosineSimilarity(GraftBridge.expression(a), GraftBridge.expression(b)))

  def quantizedDot(a: Column, b: Column, scale: Int = 1000): Column =
    GraftBridge.column(QuantizedDot(GraftBridge.expression(a), GraftBridge.expression(b), scale))

  def l2(a: Column, b: Column): Column =
    GraftBridge.column(L2Distance(GraftBridge.expression(a), GraftBridge.expression(b)))

  def hyperplaneSig(v: Column, bits: Int, seed: Int): Column =
    GraftBridge.column(HyperplaneSignature(GraftBridge.expression(v), bits, seed))
}
