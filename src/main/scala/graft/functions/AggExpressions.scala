package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.types._

/** Bounded-heap top-k aggregate as a native Catalyst aggregate function.
  *
  * `top_k(expr, k)` keeps the k largest values of `expr` (any orderable
  * type; use a struct for compound score/tie-break ordering) in a bounded
  * buffer. Because it is an aggregate function, Spark automatically runs it
  * partial+final: every map task sends AT MOST k values per group to the
  * shuffle — the scale-correct replacement for `row_number().over(window)
  * <= k` top-k, which shuffles and sorts EVERY candidate row per group.
  * (SURVEY.md §2.5 "top/top-by: bounded-heap Aggregator at scale" — this is
  * the DataFrame-lane version; [[graft.core.Fold.topBy]] is the typed one.)
  */

/** The TopK aggregation state: the candidate buffer plus a REJECTION
  * BOUND — once a trim has proven k elements ≤ `bound` exist, any
  * incoming value not strictly better than `bound` is dropped WITHOUT
  * the per-row deep copy + append (and the 2k-sort those appends feed).
  * On the knn x16 ladder (ProbeKnn) the heap stage saw 128.6M pair
  * structs for 32k final top-5 lists — the bound rejects ~all of the
  * stream after warm-up, which is what makes the aggregate's cost track
  * OUTPUT size, not candidate count.
  */
final class TopKBuffer(
    val buf: scala.collection.mutable.ArrayBuffer[Any],
    var bound: Any)

case class TopK(
    child: Expression,
    k: Int,
    largest: Boolean = true,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] {
  require(k > 0, "k must be positive")

  override def prettyName: String = if (largest) "graft_top_k" else "graft_bottom_k"
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    TypeUtils.checkForOrderingExpr(child.dataType, prettyName)

  @transient private lazy val ordering: Ordering[Any] = {
    val natural = TypeUtils.getInterpretedOrdering(child.dataType)
    if (largest) natural.reverse else natural
  }

  override def createAggregationBuffer(): TopKBuffer =
    new TopKBuffer(new scala.collection.mutable.ArrayBuffer[Any](k + 16), null)

  /** Sort, keep the best k, and set the rejection bound to the worst
    * kept element (only meaningful once k elements exist).
    */
  private def trim(b: TopKBuffer): Unit = {
    val kept = b.buf.sorted(ordering).take(k)
    b.buf.clear()
    b.buf ++= kept
    if (kept.length >= k) b.bound = kept.last
  }

  override def update(b: TopKBuffer, input: InternalRow): TopKBuffer = {
    val v = child.eval(input)
    if (v != null) {
      // bound rejection: compare BEFORE copying — equal-to-bound values
      // are rejected too (compare == 0 on the full struct means an
      // identical value; sorted take(k) would exclude it anyway)
      if (b.bound == null || ordering.compare(v, b.bound) < 0) {
        // deep copy: unsafe rows/arrays AND generic rows with interior
        // UTF8String/array fields alias scanner-reused buffers
        b.buf += InternalRow.copyValue(v)
        if (b.buf.length > 2 * k) trim(b)
      }
    }
    b
  }

  override def merge(a: TopKBuffer, b: TopKBuffer): TopKBuffer = {
    a.buf ++= b.buf
    // the tighter bound stays valid: each bound certifies k elements at
    // or below it in ITS stream, and a merge only adds elements
    if (a.bound == null ||
        (b.bound != null && ordering.compare(b.bound, a.bound) < 0))
      a.bound = b.bound
    if (a.buf.length > 2 * k) trim(a)
    a
  }

  override def eval(b: TopKBuffer): Any =
    new GenericArrayData(b.buf.sorted(ordering).take(k).toArray)

  // serialize the buffer as length-prefixed single-column unsafe rows
  // (the bound is derivable: deserialize re-trims, which restores it)
  @transient private lazy val proj = UnsafeProjection.create(Array(child.dataType))

  override def serialize(b: TopKBuffer): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(b.buf.length)
    b.buf.foreach { v =>
      val r = proj(InternalRow(v))
      out.writeInt(r.getSizeInBytes)
      out.write(r.getBytes)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val b = createAggregationBuffer()
    var i = 0
    while (i < n) {
      val sz = in.readInt()
      val arr = new Array[Byte](sz)
      in.readFully(arr)
      val row = new UnsafeRow(1)
      row.pointTo(arr, sz)
      b.buf += InternalRow.copyValue(row.get(0, child.dataType))
      i += 1
    }
    if (b.buf.length >= k) trim(b)
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(child = cs.head)
}

object AggExpressions {
  /** Array of the k largest values of `e` (descending). Use a struct column
    * for compound (score, tie-break) ordering.
    */
  def topK(e: Column, k: Int): Column =
    GraftBridge.column(TopK(GraftBridge.expression(e), k).toAggregateExpression())

  /** Array of the k smallest values of `e` (ascending). For mixed-direction
    * compound orderings (score desc, id asc), negate the numeric score and
    * use bottomK — works for ANY tie-break type, numeric or not.
    */
  def bottomK(e: Column, k: Int): Column =
    GraftBridge.column(TopK(GraftBridge.expression(e), k, largest = false)
      .toAggregateExpression())
}
