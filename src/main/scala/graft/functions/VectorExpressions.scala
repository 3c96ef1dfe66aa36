package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
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
  * cost. These expressions generate a tight primitive loop instead — one
  * fused pass, no allocation — and stay inside WholeStageCodegen.
  *
  * Each accumulates in double in index order, bit-compatible with the
  * sequential HOF definition (and the DuckDB oracle).
  */
abstract class VectorBinaryExpression extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def inputTypes: Seq[InputType] =
    Seq(VectorExpressions.FloatOrDoubleArray, VectorExpressions.FloatOrDoubleArray)

  protected def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  /** elementwise getter returning double, for eval. */
  protected def getter(dt: DataType): (ArrayData, Int) => Double = dt match {
    case FloatType => (a, i) => a.getFloat(i).toDouble
    case DoubleType => (a, i) => a.getDouble(i)
    case other => throw new IllegalStateException(s"unexpected element type $other")
  }

  /** java source for an element read as double, for codegen. */
  protected def genGet(dt: DataType, arr: String, i: String): String = dt match {
    case FloatType => s"(double) $arr.getFloat($i)"
    case _ => s"$arr.getDouble($i)"
  }
}

/** dot(a, b) = Σ a_i * b_i over the common prefix length. */
case class DotProduct(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    val (ga, gb) = (getter(elemType(left)), getter(elemType(right)))
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) acc += ga(a, i) * gb(b, i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $acc += (${genGet(elemType(left), a, i)}) * (${genGet(elemType(right), b, i)});
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** cosine(a, b) = dot / (||a|| * ||b||), one fused pass. */
case class CosineSimilarity(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    val (ga, gb) = (getter(elemType(left)), getter(elemType(right)))
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) {
        val x = ga(a, i); val y = gb(b, i)
        dot += x * y; na += x * x; nb += y * y
      }
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    double $x = ${genGet(elemType(left), a, i)};
         |    double $y = ${genGet(elemType(right), b, i)};
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

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

  private def q(v: Double): Long =
    if (v < 0) -Math.round(-v * scale) else Math.round(v * scale)

  override def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    val (ga, gb) = (getter(elemType(left)), getter(elemType(right)))
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) acc += q(ga(a, i)) * q(gb(b, i))
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      def rnd(v: String) =
        s"($v < 0 ? -java.lang.Math.round(-$v * $scale) : java.lang.Math.round($v * $scale))"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    double $x = ${genGet(elemType(left), a, i)};
         |    double $y = ${genGet(elemType(right), b, i)};
         |    $acc += ${rnd(x)} * ${rnd(y)};
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** l2(a, b) = sqrt(Σ (a_i - b_i)²), one fused pass. */
case class L2Distance(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "graft_l2"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    val (ga, gb) = (getter(elemType(left)), getter(elemType(right)))
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) {
        val d = ga(a, i) - gb(b, i)
        acc += d * d
      }
      i += 1
    }
    math.sqrt(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    double $d = (${genGet(elemType(left), a, i)}) - (${genGet(elemType(right), b, i)});
         |    $acc += $d * $d;
         |  }
         |}
         |${ev.value} = java.lang.Math.sqrt($acc);
       """.stripMargin
    })

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
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with ExpectsInputTypes {
  require(bits <= 63, "signature fits one long")
  override def prettyName: String = "graft_hyperplane_sig"
  override def nullable: Boolean = true
  override def dataType: DataType = LongType

  override def inputTypes: Seq[InputType] = Seq(VectorExpressions.FloatOrDoubleArray)

  private def elemT: DataType = child.dataType.asInstanceOf[ArrayType].elementType
  private val xxh = classOf[org.apache.spark.sql.catalyst.expressions.XXH64].getName

  override def nullSafeEval(input: Any): Any = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val arr = input.asInstanceOf[ArrayData]
    val proj = new Array[Double](bits)
    val isFloat = elemT == FloatType
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
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

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val proj = ctx.freshName("proj")
      val i = ctx.freshName("i")
      val p = ctx.freshName("p")
      val n = ctx.freshName("n")
      val x = ctx.freshName("x")
      val h = ctx.freshName("h")
      val w = ctx.freshName("w")
      val sig = ctx.freshName("sig")
      val get = elemT match {
        case FloatType => s"(double) $arr.getFloat($i)"
        case _ => s"$arr.getDouble($i)"
      }
      s"""
         |double[] $proj = new double[$bits];
         |int $n = $arr.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$arr.isNullAt($i)) {
         |    double $x = $get;
         |    for (int $p = 0; $p < $bits; $p++) {
         |      long $h = $xxh.hashLong((long) $i, ${seed.toLong}L * $bits + $p);
         |      double $w = (((double) java.lang.Math.floorMod($h, 2000001L)) / 1000000.0) - 1.0;
         |      $proj[$p] += $x * $w;
         |    }
         |  }
         |}
         |long $sig = 0L;
         |for (int $p = 0; $p < $bits; $p++) {
         |  if ($proj[$p] > 0) $sig |= (1L << $p);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** quantize_int8(v) → struct(scale double, q array<int>): symmetric int8
  * quantization in ONE fused pass (max-abs scan + quantize scan, O(d)) —
  * the Column-composition formulation re-evaluates the scale subtree per
  * element (Spark HOFs do no lambda-invariant hoisting), an O(d²) trap.
  * Truncation toward zero matches the DuckDB oracle's trunc(); a zero
  * vector quantizes to zeros with scale 0. Null elements read as 0.
  */
case class QuantizeInt8(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with PqVecInput {
  override def prettyName: String = "graft_quantize_int8"
  override def nullable: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("q", ArrayType(IntegerType, containsNull = false), nullable = false)))

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
        val ab = math.abs(x)
        if (ab > s) s = ab
      }
      i += 1
    }
    val q = new Array[Int](n)
    if (s != 0.0) {
      i = 0
      while (i < n) {
        if (!a.isNullAt(i)) {
          val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
          q(i) = (x / s * 127.0).toInt
        }
        i += 1
      }
    }
    org.apache.spark.sql.catalyst.InternalRow(s,
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(q))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val sc = ctx.freshName("sc")
      val ab = ctx.freshName("ab")
      val x = ctx.freshName("x")
      val q = ctx.freshName("q")
      val vals = ctx.freshName("vals")
      val get = if (isFloat) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |double $sc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    double $ab = java.lang.Math.abs($get);
         |    if ($ab > $sc) $sc = $ab;
         |  }
         |}
         |int[] $q = new int[$n];
         |if ($sc != 0.0) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if (!$a.isNullAt($i)) {
         |      double $x = $get;
         |      $q[$i] = (int) ($x / $sc * 127.0);
         |    }
         |  }
         |}
         |Object[] $vals = new Object[] { $sc,
         |  org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($q) };
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow($vals);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
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
