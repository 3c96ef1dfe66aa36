package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.GraftBridge.InputType
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scalar-quantization runtime shared by eval and generated code (the
  * [[PqRuntime]] pattern). Per-dimension affine 8-bit codes: the faiss
  * `IndexScalarQuantizer(QT_8bit)` quantizer, the OTHER standard
  * compressed-domain point next to product quantization — no codebook
  * training, 4× fewer bytes than float32, and (unlike PQ) every step is
  * closed-form double arithmetic, so the whole path replays bit-exact in
  * the DuckDB oracle.
  *
  * Arithmetic contract (the oracle depends on the exact op sequence):
  * code_i = clamp(floor(((v_i − mn_i) * 255.0) / (mx_i − mn_i)), 0, 255)
  * (a constant dimension, mx == mn, codes 0), recon_i = mn_i +
  * ((code_i + 0.5) * (mx_i − mn_i)) / 255.0, adist = Σ left-to-right
  * (q_i − recon_i)². Floats widen to double BEFORE any arithmetic on
  * both engines (`CAST(embedding AS DOUBLE[])` ↔ `getFloat(i).toDouble`).
  */
object SqRuntime {

  private def get(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  def encode(vec: ArrayData, mins: Array[Double], maxs: Array[Double],
      isFloat: Boolean): Array[Int] = {
    val dim = mins.length
    require(vec.numElements() == dim,
      s"sq_encode: vector length ${vec.numElements()} != bounds length $dim")
    val codes = new Array[Int](dim)
    var i = 0
    while (i < dim) {
      val span = maxs(i) - mins(i)
      codes(i) =
        if (span == 0.0) 0
        else {
          val f = math.floor(((get(vec, i, isFloat) - mins(i)) * 255.0) / span)
          if (f < 0.0) 0 else if (f > 255.0) 255 else f.toInt
        }
      i += 1
    }
    codes
  }

  /** Asymmetric squared-L2 between a raw query vector and an encoded
    * corpus vector: reconstruct each dimension at its cell midpoint and
    * accumulate left-to-right (the bit-parity fold order).
    */
  def adc(qv: ArrayData, codes: ArrayData, mins: Array[Double],
      maxs: Array[Double], isFloat: Boolean): Double = {
    val dim = mins.length
    require(qv.numElements() == dim && codes.numElements() == dim,
      s"sq_adc: lengths ${qv.numElements()}/${codes.numElements()} != bounds $dim")
    var d = 0.0
    var i = 0
    while (i < dim) {
      val recon = mins(i) + ((codes.getInt(i) + 0.5) * (maxs(i) - mins(i))) / 255.0
      val diff = get(qv, i, isFloat) - recon
      d += diff * diff
      i += 1
    }
    d
  }
}

/** sq_encode(vec): array<int> of per-dimension 8-bit codes. */
case class SqEncode(child: Expression, mins: Array[Double], maxs: Array[Double])
    extends UnaryExpression with PqVecInput {
  override def prettyName: String = "graft_sq_encode"
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(
      SqRuntime.encode(input.asInstanceOf[ArrayData], mins, maxs, isFloat))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mn = ctx.addReferenceObj("sqMins", mins, "double[]")
    val mx = ctx.addReferenceObj("sqMaxs", maxs, "double[]")
    nullSafeCodeGen(ctx, ev, v =>
      s"""${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray(graft.functions.SqRuntime.encode($v, $mn, $mx, $isFloat));
       """.stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): SqEncode = copy(child = c)
}

/** sq_adc(query_vec, codes): estimated squared L2 via midpoint recon. */
case class SqAdc(left: Expression, right: Expression,
    mins: Array[Double], maxs: Array[Double])
    extends BinaryExpression with PqVecInput {
  override def prettyName: String = "graft_sq_adc"
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType

  override def inputTypes: Seq[InputType] =
    Seq(VectorExpressions.FloatOrDoubleArray, ArrayType(IntegerType))

  override def nullSafeEval(l: Any, r: Any): Any =
    SqRuntime.adc(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
      mins, maxs, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mn = ctx.addReferenceObj("sqMins", mins, "double[]")
    val mx = ctx.addReferenceObj("sqMaxs", maxs, "double[]")
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = graft.functions.SqRuntime.adc($l, $r, $mn, $mx, $isFloat);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SqAdc =
    copy(left = l, right = r)
}

/** 8-bit scalar quantization for ANN, shaped for 100 TB vector corpora:
  *
  *  - '''trainBounds''' is ONE aggregation over the corpus (posexplode →
  *    per-dimension min/max with map-side combine down to `dim` keys) —
  *    no k-means, no sample, deterministic by construction. The bounds
  *    (2·dim doubles) ride into codegen as literals; nothing broadcasts
  *    at scoring time beyond the query rows every ANN variant ships.
  *  - '''encode''' is map-side: float32 → uint8 per dimension (4× fewer
  *    bytes), zero shuffles.
  *  - '''topK''' scores query↔code pairs in compressed domain inside
  *    whole-stage codegen (dim multiply-adds per pair, no per-query LUT
  *    memory at all — the structural advantage over PQ when dim is
  *    small) and ships ≤k rows per partition through the shared
  *    bounded-heap tail.
  *
  * Where SQ sits vs PQ on the accuracy/bytes curve: SQ8 is 4× at near-
  * exact recall (midpoint recon error ≤ span/512 per dim); PQ reaches
  * 16-64× but needs trained codebooks and pays recall. Production
  * indexes use SQ8 either as the whole index (mid-size corpora) or as
  * the refine tier between PQ shortlists and raw vectors.
  */
object Sq {

  /** Per-dimension (min, max) over the corpus — the quantizer "training".
    * One hash aggregate over `dim` keys; the `.collect()` is bounded by
    * the embedding dimensionality (64 here), never the corpus.
    */
  def trainBounds(df: DataFrame, vecCol: String): (Array[Double], Array[Double]) = {
    val rows = df.where(col(vecCol).isNotNull)
      .select(posexplode(col(vecCol).cast(ArrayType(DoubleType))).as(Seq("__d", "__v")))
      .groupBy(col("__d"))
      .agg(min("__v").as("__mn"), max("__v").as("__mx"), count("__v").as("__n"))
      .orderBy("__d")
      .collect()
    require(rows.nonEmpty, "sq trainBounds: empty input")
    // every dimension present in every vector: dims are contiguous from 0
    // AND each appears exactly as often as dim 0 (catches both missing
    // dimensions and trailing-truncated vectors in the one aggregate)
    require(rows.length == rows.last.getInt(0) + 1 &&
        rows.forall(_.getLong(3) == rows.head.getLong(3)),
      "sq trainBounds: ragged vectors (inconsistent dimensionality)")
    (rows.map(_.getDouble(1)), rows.map(_.getDouble(2)))
  }

  def encodeCol(vec: Column, mins: Array[Double], maxs: Array[Double]): Column =
    GraftBridge.column(SqEncode(GraftBridge.expression(vec), mins, maxs))

  def adcCol(qv: Column, codes: Column, mins: Array[Double], maxs: Array[Double]): Column =
    GraftBridge.column(SqAdc(GraftBridge.expression(qv), GraftBridge.expression(codes), mins, maxs))

  /** Approximate top-k by ADC over the SQ8-compressed corpus. Output
    * (query_id, neighbor_id, adist, rank), rank tie-broken by neighbor
    * id (the family-wide [[Pq.rankTail]] discipline). Bounds default to
    * corpus-trained; pass `bounds` to reuse a persisted quantizer.
    */
  def topK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, excludeSelf: Boolean = true,
      bounds: Option[(Array[Double], Array[Double])] = None): DataFrame = {
    val (mins, maxs) = bounds.getOrElse(trainBounds(corpus, vecCol))
    val codes = corpus.select(col(idCol).as("neighbor_id"),
      encodeCol(col(vecCol), mins, maxs).as("__codes"))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__qv")))
    Pq.rankTail(
      codes.crossJoin(q)
        .where(if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
        .withColumn("adist", adcCol(col("__qv"), col("__codes"), mins, maxs))
        .where(col("adist").isNotNull),
      "adist", k, keepScore = true)
  }

  /** SQ shortlist (k·refine per query) + exact re-rank from the raw
    * vectors — the faiss `IndexRefineFlat` tail over an SQ8 base. Same
    * [[Pq.refineExact]] leg as the PQ/IVF-PQ variants, so the exact-L2
    * and tie-break semantics are shared, not re-derived.
    */
  def topKRefined(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, refine: Int = 3,
      bounds: Option[(Array[Double], Array[Double])] = None): DataFrame = {
    require(refine >= 1, s"refine must be >= 1, got $refine")
    val shortlist = topK(queries, corpus, idCol, vecCol, k * refine, bounds = bounds)
      .select(col("query_id"), col("neighbor_id"))
    Pq.refineExact(shortlist, queries, corpus, idCol, vecCol, k)
  }

  /** IVF-SQ: coarse-cell pruning composed with the SQ8 compressed sweep
    * — [[Pq.ivfTopK]]'s shape with the codebook-free quantizer. Both
    * corpus passes stay map-side (broadcast centroid assignment, encode
    * in the same projection); candidates are the nProbe nearest cells
    * per query, ADC-scored in compressed domain, ranked through the
    * shared bounded-heap tail. The faiss `IVF<n>,SQ8` index string —
    * the most common production middle ground between IVF-Flat (4× the
    * bytes) and IVF-PQ (trained codebooks, recall loss).
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, nCells: Int = 16, nProbe: Int = 4,
      centroids: Option[DataFrame] = None,
      bounds: Option[(Array[Double], Array[Double])] = None): DataFrame = {
    import graft.operators.Similarity
    val (mins, maxs) = bounds.getOrElse(trainBounds(corpus, vecCol))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      VectorFunctions.l2Norm(col(vecCol)).as("__cn"))
    val centroidRow = broadcast(centroids.getOrElse(Similarity.defaultCells(c, nCells)))
    val assigned = c.join(centroidRow) // broadcast 1-row join: map-side
      .withColumn("__cell",
        element_at(Similarity.nearestCells(col("__cv"), col("__cells"), 1), 1)("cell"))
      .select(col("neighbor_id"), col("__cell"),
        encodeCol(col("__cv"), mins, maxs).as("__codes"))
    val qProbes = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .join(centroidRow)
      .select(col("query_id"), col("__qv"),
        explode(Similarity.nearestCells(col("__qv"), col("__cells"), nProbe)).as("__probe"))
      .select(col("query_id"), col("__qv"), col("__probe")("cell").as("__cell"))
    Pq.rankTail(
      assigned.join(broadcast(qProbes), "__cell")
        .where(col("query_id") =!= col("neighbor_id"))
        .withColumn("adist", adcCol(col("__qv"), col("__codes"), mins, maxs))
        .where(col("adist").isNotNull),
      "adist", k, keepScore = true)
  }
}
