package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.GraftBridge.InputType
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression,
  UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Product-quantization runtime shared by eval and generated code (static
  * forwarders, the [[BpeRuntime]]/XXH64 pattern). Codebooks are
  * `[m][ksub][subDim]` float arrays riding into codegen as referenced
  * objects.
  */
object PqRuntime {

  private def get(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** Nearest-centroid code per subspace (squared L2, ties to the lowest
    * centroid index). The vector length must be m * subDim.
    */
  def encode(vec: ArrayData, books: Array[Array[Array[Float]]], isFloat: Boolean): Array[Int] = {
    val m = books.length
    val subDim = books(0)(0).length
    require(vec.numElements() == m * subDim,
      s"pq_encode: vector length ${vec.numElements()} != m*subDim ${m * subDim}")
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      val base = j * subDim
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < books(j).length) {
        val cent = books(j)(c)
        var d = 0.0
        var t = 0
        while (t < subDim) {
          val diff = get(vec, base + t, isFloat) - cent(t)
          d += diff * diff
          t += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(j) = best
      j += 1
    }
    codes
  }

  /** Per-query ADC lookup table: lut[j*ksub + c] = squared L2 between the
    * query's j-th subvector and centroid c of subspace j. Computed ONCE
    * per query row; corpus-side scoring is then m adds per pair.
    */
  def lut(qv: ArrayData, books: Array[Array[Array[Float]]], isFloat: Boolean): Array[Double] = {
    val m = books.length
    val ksub = books(0).length
    val subDim = books(0)(0).length
    require(qv.numElements() == m * subDim,
      s"pq_lut: vector length ${qv.numElements()} != m*subDim ${m * subDim}")
    val out = new Array[Double](m * ksub)
    var j = 0
    while (j < m) {
      val base = j * subDim
      var c = 0
      while (c < ksub) {
        val cent = books(j)(c)
        var d = 0.0
        var t = 0
        while (t < subDim) {
          val diff = get(qv, base + t, isFloat) - cent(t)
          d += diff * diff
          t += 1
        }
        out(j * ksub + c) = d
        c += 1
      }
      j += 1
    }
    out
  }

  /** Asymmetric distance: Σ_j lut[j*ksub + codes[j]] — the PQ estimate of
    * the squared L2 distance between the query and the encoded vector.
    */
  def adc(lut: ArrayData, codes: ArrayData, ksub: Int): Double = {
    val m = codes.numElements()
    var d = 0.0
    var j = 0
    while (j < m) {
      d += lut.getDouble(j * ksub + codes.getInt(j))
      j += 1
    }
    d
  }
}

/** A kernel whose first child is the `array<float|double>` vector. */
private[functions] trait PqVecInput extends ExpectsInputTypes {
  override def inputTypes: Seq[InputType] = Seq(VectorExpressions.FloatOrDoubleArray)
  protected def isFloat: Boolean =
    children.head.dataType.asInstanceOf[ArrayType].elementType == FloatType
}

/** pq_encode(vec): array<int> of m nearest-centroid codes. */
case class PqEncode(child: Expression, books: Array[Array[Array[Float]]])
    extends UnaryExpression with PqVecInput {
  override def prettyName: String = "graft_pq_encode"
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(
      PqRuntime.encode(input.asInstanceOf[ArrayData], books, isFloat))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("pqBooks", books, "float[][][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"""${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray(graft.functions.PqRuntime.encode($v, $b, $isFloat));
       """.stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): PqEncode = copy(child = c)
}

/** pq_lut(query_vec): array<double> of m*ksub subspace distances. */
case class PqLut(child: Expression, books: Array[Array[Array[Float]]])
    extends UnaryExpression with PqVecInput {
  override def prettyName: String = "graft_pq_lut"
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(
      PqRuntime.lut(input.asInstanceOf[ArrayData], books, isFloat))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("pqBooks", books, "float[][][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"""${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray(graft.functions.PqRuntime.lut($v, $b, $isFloat));
       """.stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): PqLut = copy(child = c)
}

/** pq_adc(lut, codes): the estimated squared L2 distance. */
case class PqAdc(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression with ExpectsInputTypes {
  override def prettyName: String = "graft_pq_adc"
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType

  override def inputTypes: Seq[InputType] = Seq(ArrayType(DoubleType), ArrayType(IntegerType))

  override def nullSafeEval(l: Any, r: Any): Any =
    PqRuntime.adc(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData], ksub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = graft.functions.PqRuntime.adc($l, $r, $ksub);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqAdc =
    copy(left = l, right = r)
}

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search" — the faiss `PQ` building block), shaped for
  * 100 TB vector corpora:
  *
  *  - '''train''' collects a DETERMINISTIC bounded sample (ordered by a
  *    hash of the id, the kmeansCells discipline) and runs per-subspace
  *    Lloyd k-means on the driver — codebooks are sample-trained, the
  *    standard practice; the corpus itself is never collected.
  *  - '''encode''' compresses each vector to m small codes map-side
  *    (64-dim float → m=8 ints ≈ 32× fewer bytes at ksub ≤ 256) — the
  *    compressed corpus is what a 100 TB ANN sweep scans.
  *  - '''topK''' scores query↔code pairs by ADC: the m*ksub lookup table
  *    is computed ONCE per query (broadcast), scoring is m array reads
  *    per pair inside codegen, and the bounded heap ships ≤k rows per
  *    partition — same shuffle shape as bruteForceTopK at a fraction of
  *    the bytes and multiplies.
  */
object Pq {

  /** Train `[m][ksub][subDim]` codebooks. Deterministic end to end:
    * hash-ordered sample, first-k-distinct seeding, ties to the lowest
    * centroid index, empty clusters keep their centroid.
    */
  def train(df: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, ksub: Int = 16, sampleSize: Int = 2048,
      iters: Int = 8): Array[Array[Array[Float]]] = {
    require(m > 0 && ksub > 1 && iters > 0)
    val sample: Array[Array[Float]] = df
      .select(col(vecCol).cast(ArrayType(FloatType)).as("__v"), col(idCol).cast("string").as("__id"))
      .where(col("__v").isNotNull)
      .orderBy(xxhash64(col("__id")), col("__id"))
      .limit(sampleSize)
      .collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "pq train: empty input")
    val dim = sample(0).length
    require(dim % m == 0, s"pq train: dim $dim must divide into m=$m subspaces")
    val subDim = dim / m
    Array.tabulate(m) { j =>
      val base = j * subDim
      val subs = sample.map(v => java.util.Arrays.copyOfRange(v, base, base + subDim))
      trainSubspace(subs, ksub, iters, subDim)
    }
  }

  private def trainSubspace(subs: Array[Array[Float]], ksub: Int, iters: Int,
      subDim: Int): Array[Array[Float]] = {
    // first-k-distinct seeding in sample order (deterministic)
    val seen = scala.collection.mutable.LinkedHashSet.empty[Seq[Float]]
    subs.iterator.takeWhile(_ => seen.size < ksub).foreach(s => seen += s.toSeq)
    val k = math.min(ksub, seen.size)
    var cents = seen.take(k).map(_.toArray).toArray
    def d2(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var i = 0
      while (i < subDim) { val x = a(i) - b(i); d += x * x; i += 1 }
      d
    }
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](subDim))
      val counts = new Array[Long](k)
      for (s <- subs) {
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < k) {
          val dd = d2(s, cents(c))
          if (dd < bestD) { bestD = dd; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < subDim) { sums(best)(i) += s(i); i += 1 }
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) cents(c)
        else Array.tabulate(subDim)(i => (sums(c)(i) / counts(c)).toFloat)
      }
      it += 1
    }
    // Uniform-stride invariant: lut()/adc() index every subspace's LUT
    // region with the SAME ksub stride, so a low-diversity sample (fewer
    // than ksub distinct subvectors — e.g. a constant dimension block)
    // must still yield exactly ksub centroids. Pad by repeating the last
    // centroid: encode ties to the lowest index, so duplicates are never
    // chosen and distances are unchanged.
    if (cents.length < ksub) cents ++ Array.fill(ksub - cents.length)(cents.last.clone)
    else cents
  }

  /** Train codebooks on RESIDUALS `v − nearestCentroid(v)` for
    * residual-mode [[ivfTopK]]: sample (bounded, hash-ordered), assign
    * each sample vector to its nearest centroid driver-side (centroids
    * are the ≤nCells rows of the quantizer's one-row `__cells`
    * relation), subtract, then per-subspace Lloyd as in [[train]].
    */
  def trainResidual(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, m: Int = 8, ksub: Int = 16,
      sampleSize: Int = 2048, iters: Int = 8): Array[Array[Array[Float]]] = {
    val cents: Array[Array[Float]] = centroids
      .select(explode(col("__cells")).as("__c"))
      .select(col("__c")("centroid").cast(ArrayType(FloatType)))
      .collect().map(_.getSeq[Float](0).toArray)
    require(cents.nonEmpty, "pq trainResidual: empty centroid relation")
    val sample: Array[Array[Float]] = df
      .select(col(vecCol).cast(ArrayType(FloatType)).as("__v"),
        col(idCol).cast("string").as("__id"))
      .where(col("__v").isNotNull)
      .orderBy(xxhash64(col("__id")), col("__id"))
      .limit(sampleSize)
      .collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "pq trainResidual: empty input")
    val dim = sample(0).length
    require(dim % m == 0, s"pq trainResidual: dim $dim must divide into m=$m subspaces")
    def d2(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var i = 0
      while (i < dim) { val x = a(i) - b(i); d += x * x; i += 1 }
      d
    }
    val residuals = sample.map { v =>
      val best = cents.minBy(d2(v, _))
      Array.tabulate(dim)(i => v(i) - best(i))
    }
    val subDim = dim / m
    Array.tabulate(m) { j =>
      val base = j * subDim
      val subs = residuals.map(v => java.util.Arrays.copyOfRange(v, base, base + subDim))
      trainSubspace(subs, ksub, iters, subDim)
    }
  }

  /** [[trainResidual]]'s IMI sibling: codebooks trained on the PER-HALF
    * residual (vA − nearestA(vA)) ++ (vB − nearestB(vB)) for
    * residual-mode [[imiTopK]]. `bookA`/`bookB` are the one-row
    * `__cells`-schema half-codebook relations ([[graft.operators.Similarity.imiDefaultBooks]]
    * / kmeansCells on each half); assignment is driver-side over the
    * bounded sample, same as the flat trainer.
    */
  def trainResidualImi(df: DataFrame, idCol: String, vecCol: String,
      bookA: DataFrame, bookB: DataFrame, m: Int = 8, ksub: Int = 16,
      sampleSize: Int = 2048, iters: Int = 8): Array[Array[Array[Float]]] = {
    def cents(book: DataFrame): Array[Array[Float]] = book
      .select(explode(col(book.columns.head)).as("__c"))
      .select(col("__c")("centroid").cast(ArrayType(FloatType)))
      .collect().map(_.getSeq[Float](0).toArray)
    val (ca, cb) = (cents(bookA), cents(bookB))
    require(ca.nonEmpty && cb.nonEmpty, "pq trainResidualImi: empty codebook relation")
    val sample: Array[Array[Float]] = df
      .select(col(vecCol).cast(ArrayType(FloatType)).as("__v"),
        col(idCol).cast("string").as("__id"))
      .where(col("__v").isNotNull)
      .orderBy(xxhash64(col("__id")), col("__id"))
      .limit(sampleSize)
      .collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "pq trainResidualImi: empty input")
    val dim = sample(0).length
    require(dim % m == 0, s"pq trainResidualImi: dim $dim must divide into m=$m subspaces")
    val dA = dim / 2
    def d2(a: Array[Float], b: Array[Float], off: Int, n: Int): Double = {
      var d = 0.0; var i = 0
      while (i < n) { val x = a(off + i) - b(i); d += x * x; i += 1 }
      d
    }
    val residuals = sample.map { v =>
      val bA = ca.minBy(d2(v, _, 0, dA))
      val bB = cb.minBy(d2(v, _, dA, dim - dA))
      Array.tabulate(dim)(i => if (i < dA) v(i) - bA(i) else v(i) - bB(i - dA))
    }
    val subDim = dim / m
    Array.tabulate(m) { j =>
      val base = j * subDim
      val subs = residuals.map(v => java.util.Arrays.copyOfRange(v, base, base + subDim))
      trainSubspace(subs, ksub, iters, subDim)
    }
  }

  /** Every consumer of a codebook (lut's row stride, topK/ivfTopK's ADC
    * stride) assumes a uniform ksub across subspaces; a ragged hand-built
    * codebook would silently read another subspace's LUT region.
    */
  private def requireUniform(books: Array[Array[Array[Float]]], who: String): Unit =
    require(books.nonEmpty && books.forall(_.length == books(0).length),
      s"$who: ragged codebook — all subspaces must have the same ksub " +
        s"(got ${books.map(_.length).mkString(",")})")

  def encodeCol(vec: Column, books: Array[Array[Array[Float]]]): Column = {
    requireUniform(books, "pq_encode")
    GraftBridge.column(PqEncode(GraftBridge.expression(vec), books))
  }

  def lutCol(vec: Column, books: Array[Array[Array[Float]]]): Column = {
    requireUniform(books, "pq_lut")
    GraftBridge.column(PqLut(GraftBridge.expression(vec), books))
  }

  def adcCol(lut: Column, codes: Column, ksub: Int): Column =
    GraftBridge.column(PqAdc(GraftBridge.expression(lut), GraftBridge.expression(codes), ksub))

  /** IVF-PQ: the standard billion-scale composition (faiss `IVFPQ`) —
    * coarse cells prune the candidate set ([[graft.operators.Similarity]]'s
    * quantizer), PQ codes compress what remains, ADC scores only the
    * probed cells' candidates. Corpus-side work is map-side (cell
    * assignment AND encoding against broadcast structures); the join key
    * is the cell id, so a query touches `nProbe`/`nCells` of the
    * compressed corpus instead of all of it.
    *
    * `residual = true` encodes `v − cellCentroid` instead of `v` (the
    * faiss IVFPQ default): codes then spend their bits on WITHIN-cell
    * structure rather than re-describing the cell's position, and the
    * query LUT is computed per probed cell against `q − cellCentroid`
    * (ADC still estimates ‖q − v‖², the centroid cancels). Train books
    * with [[trainResidual]] when enabling it; centroid subtraction is a
    * map-side `zip_with`, no extra shuffle anywhere.
    *
    * Measured both ways (ProbePq, m=8/ksub=64/nProbe=8): residual mode is
    * the clear win when the coarse cells capture REAL structure (planted
    * clusters: exact recall 0.60 → ≥0.85, PqSpec) and a small LOSS on
    * structureless random vectors (0.39 → 0.31 — cells barely reduce
    * variance there, and books train on residuals pooled across
    * heterogeneous cells). Default stays false; enable it for clustered
    * corpora, which real embeddings are.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      books: Array[Array[Array[Float]]], k: Int,
      nCells: Int = 16, nProbe: Int = 4,
      centroids: Option[DataFrame] = None,
      residual: Boolean = false): DataFrame = {
    import graft.operators.Similarity
    val ksub = books(0).length
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      graft.functions.VectorFunctions.l2Norm(col(vecCol)).as("__cn"))
    val centroidRow = broadcast(centroids.getOrElse(Similarity.defaultCells(c, nCells)))
    def centroidOf(cell: Column): Column =
      element_at(filter(col("__cells"), cc => cc("cell") === cell), 1)("centroid")
    def maybeResid(vec: Column, cell: Column): Column =
      if (residual) zip_with(vec, centroidOf(cell), (a, b) => a - b) else vec
    val assigned = c.join(centroidRow) // broadcast 1-row join: map-side
      .withColumn("__cell",
        element_at(Similarity.nearestCells(col("__cv"), col("__cells"), 1), 1)("cell"))
      .select(col("neighbor_id"), col("__cell"),
        encodeCol(maybeResid(col("__cv"), col("__cell")), books).as("__codes"))
    val qProbes = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .join(centroidRow)
      .select(col("query_id"), col("__qv"), col("__cells"),
        explode(Similarity.nearestCells(col("__qv"), col("__cells"), nProbe)).as("__probe"))
      .select(col("query_id"),
        lutCol(maybeResid(col("__qv"), col("__probe")("cell")), books).as("__lut"),
        col("__probe")("cell").as("__cell"))
    rankTail(
      assigned.join(broadcast(qProbes), "__cell")
        .where(col("query_id") =!= col("neighbor_id"))
        .withColumn("adist", adcCol(col("__lut"), col("__codes"), ksub))
        .where(col("adist").isNotNull),
      "adist", k, keepScore = true)
  }

  /** IMI-PQ: the two-level coarse quantizer composed with the ADC
    * compressed sweep — hierarchical assignment
    * ([[graft.operators.Similarity.imiTopK]]'s product split, O(2√c)
    * half-distances per vector) over PQ codes, so BOTH corpus-linear
    * costs of a 10⁹-vector index are sublinear/compressed: assignment
    * beats flat IVF's O(n·c) and the candidate sweep reads m-byte codes
    * instead of raw vectors. Codes are whole-vector (no residual mode:
    * an IMI residual would need the concatenated composite centroid —
    * compose with [[ivfTopK]]'s `residual` once a trained composite
    * quantizer exists). Same deterministic id-seeded default books as
    * the exact IMI probe, so the whole chain hash-replays (q_ann_imipq*).
    */
  def imiTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      books: Array[Array[Array[Float]]], k: Int,
      nPerHalf: Int = 8, nProbe: Int = 4,
      codebooks: Option[(DataFrame, DataFrame)] = None,
      residual: Boolean = false): DataFrame = {
    import graft.operators.Similarity
    val ksub = books(0).length
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val (bookA, bookB) = codebooks match {
      case Some((a, b)) =>
        (a.withColumnRenamed("__cells", "__cellsA"),
          b.withColumnRenamed("__cells", "__cellsB"))
      case None => Similarity.imiDefaultBooks(c, nPerHalf)
    }
    val withBooks = (df: DataFrame) => df.join(broadcast(bookA)).join(broadcast(bookB))
    // residual = true encodes the PER-HALF residual (vA − centroidA(ca)) ++
    // (vB − centroidB(cb)) — the paper's IMI-ADC form: PQ spends its bits
    // on the within-composite-cell remainder instead of re-describing the
    // cell position. The query LUT is built from the SAME per-probe
    // residual ([[graft.operators.Similarity.imiResidual]], shared with
    // the persistent index), so adist estimates the true residual
    // distance per cell.
    def maybeResid(vec: Column): Column =
      if (residual) Similarity.imiResidual(vec) else vec
    val assigned = Similarity.imiAssigned(withBooks(c), col("__cv"))
      .select(col("neighbor_id"), col("__ca"), col("__cb"),
        encodeCol(maybeResid(col("__cv")), books).as("__codes"))
    val qProbes = Similarity.imiProbed(withBooks(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))),
      col("__qv"), nProbe)
      .select(col("query_id"),
        lutCol(maybeResid(col("__qv")), books).as("__lut"),
        col("__ca"), col("__cb"))
    rankTail(
      assigned.join(broadcast(qProbes), Seq("__ca", "__cb"))
        .where(col("query_id") =!= col("neighbor_id"))
        .withColumn("adist", adcCol(col("__lut"), col("__codes"), ksub))
        .where(col("adist").isNotNull),
      "adist", k, keepScore = true)
  }

  /** IMI-PQ with the exact re-rank tail — the full production probe of a
    * corpus-scale index: hierarchical coarse cells → ADC shortlist of
    * k·refine → exact L2 on shortlisted raw vectors only.
    */
  def imiTopKRefined(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      books: Array[Array[Array[Float]]], k: Int,
      nPerHalf: Int = 8, nProbe: Int = 4, refine: Int = 3,
      codebooks: Option[(DataFrame, DataFrame)] = None,
      residual: Boolean = false): DataFrame = {
    require(refine >= 1, s"refine must be >= 1, got $refine")
    val shortlist = imiTopK(queries, corpus, idCol, vecCol, books, k * refine,
      nPerHalf, nProbe, codebooks, residual)
      .select(col("query_id"), col("neighbor_id"))
    refineExact(shortlist, queries, corpus, idCol, vecCol, k)
  }

  /** IVF-PQ with an exact re-rank tail (the faiss IndexRefineFlat /
    * IVFPQR discipline): ADC ranks `k * refine` candidates per query in
    * the compressed domain, then ONLY those candidates' raw vectors are
    * scored with the exact metric. Refinement fixes ADC's ORDERING
    * errors inside the shortlist — it cannot recover a neighbor the
    * compressed sweep missed entirely, so raise `refine` (or `nProbe`)
    * to widen the net before trusting a dial (ProbePq measures both).
    *
    * Scale shape: the shortlist is |Q|·k·refine (query, neighbor) id
    * pairs — broadcast-sized by construction since queries are the
    * bounded side — so the re-rank is ONE more corpus scan with a
    * map-side broadcast semi-join picking out shortlisted rows and a
    * bounded-heap top-k. No corpus shuffle, no second ADC pass, and the
    * raw vectors read are exactly the |Q|·k·refine shortlisted ones.
    */
  def ivfTopKRefined(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      books: Array[Array[Array[Float]]], k: Int,
      nCells: Int = 16, nProbe: Int = 4, refine: Int = 3,
      centroids: Option[DataFrame] = None,
      residual: Boolean = false): DataFrame = {
    require(refine >= 1, s"refine must be >= 1, got $refine")
    val shortlist = ivfTopK(queries, corpus, idCol, vecCol, books, k * refine,
      nCells, nProbe, centroids, residual)
      .select(col("query_id"), col("neighbor_id"))
    refineExact(shortlist, queries, corpus, idCol, vecCol, k)
  }

  /** Exact-L2 re-rank of a (query_id, neighbor_id) shortlist down to
    * top-k. The shortlist and the query vectors broadcast; the corpus
    * contributes raw vectors through a map-side broadcast join, so the
    * only aggregation state is the per-query k-row heap. The shortlist
    * is deduped first: a repeated pair (a replayed ingest batch, a
    * caller union) would otherwise score twice and occupy two of the k
    * ranks, displacing a true candidate.
    */
  def refineExact(shortlist: DataFrame, queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val cands = broadcast(shortlist.select(col("query_id"), col("neighbor_id")).distinct())
    val qv = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv")))
    val scored = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__nv"))
      .join(cands, Seq("neighbor_id"))
      .join(qv, Seq("query_id"))
      .withColumn("dist",
        graft.functions.VectorFunctions.l2Distance(col("__qv"), col("__nv")))
      .where(col("dist").isNotNull)
    rankTail(scored, "dist", k, keepScore = false)
  }

  /** Shared deterministic top-k tail for the ANN family: bounded-heap
    * per query (≤k rows cross the shuffle), rank tie-broken by neighbor
    * id. ONE definition so the tie-break discipline the oracles depend
    * on cannot drift between the ADC variants, the index probe, and the
    * exact re-rank.
    */
  private[graft] def rankTail(scored: DataFrame, scoreCol: String, k: Int,
      keepScore: Boolean): DataFrame = {
    val exploded = scored
      .groupBy(col("query_id"))
      .agg(AggExpressions.bottomK(struct(col(scoreCol), col("neighbor_id")), k).as("__top"))
      .select(col("query_id"), posexplode(col("__top")))
    val cols = Seq(col("query_id"), col("col.neighbor_id").as("neighbor_id")) ++
      (if (keepScore) Seq(col(s"col.$scoreCol").as(scoreCol)) else Nil) :+
      (col("pos") + 1).cast("int").as("rank")
    exploded.select(cols: _*)
  }

  /** Approximate top-k by ADC distance over the PQ-compressed corpus.
    * Output (query_id, neighbor_id, adist, rank), rank tie-broken by
    * neighbor id. Exactness caveat by construction: distances are the
    * quantized estimate — measure recall on YOUR vectors before trusting
    * a dial (ProbePq). On worst-case RANDOM vectors recall@10 vs exact
    * L2 runs 0.20 (m=4/ksub=16, 64×) → 0.41 (8/64, 32×) → 0.71 (16/256,
    * 16×); clustered real corpora sit far higher (PqSpec's planted
    * fixture: ≥0.95 cluster purity at 32×). Raise `m` first, then
    * `ksub`, to buy recall with bytes.
    */
  def topK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      books: Array[Array[Array[Float]]], k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val ksub = books(0).length
    val codes = corpus.select(col(idCol).as("neighbor_id"),
      encodeCol(col(vecCol), books).as("__codes"))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      lutCol(col(vecCol), books).as("__lut")))
    rankTail(
      codes.crossJoin(q)
        .where(if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
        .withColumn("adist", adcCol(col("__lut"), col("__codes"), ksub))
        .where(col("adist").isNotNull),
      "adist", k, keepScore = true)
  }
}
