package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression,
  GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.GraftBridge.InputType
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Winnowing document-fingerprint selection (Schleimer, Wilkerson &
  * Aiken, "Winnowing: Local Algorithms for Document Fingerprinting",
  * SIGMOD 2003 — the MOSS algorithm). Over a document's k-gram hash
  * sequence, every window of `w` consecutive hashes selects its minimum
  * (ties to the LEFTMOST position — the total order (hash, pos), so the
  * oracle's `list_min` + first-`list_position` replays it exactly);
  * consecutive windows re-selecting the same gram dedupe.
  *
  * Guarantee (the reason this beats sampling): any two documents sharing
  * a run of ≥ w + k − 1 tokens share at least one selected fingerprint,
  * while the expected index density is 2/(w+1) of all grams — the
  * substring-dedup index a 100 TB corpus can afford to persist.
  *
  * O(g) per document via a monotonic deque (the window-minimum classic),
  * not the O(g·w) per-window rescan the SQL replay spells out — same
  * output by construction: strict `>` pops keep the earliest of equal
  * hashes at the front, so the front is always the leftmost minimum.
  */
object WinnowRuntime {

  def select(hashes: ArrayData, w: Int): GenericArrayData = {
    val g = hashes.numElements()
    if (g == 0) return new GenericArrayData(Array.empty[Any])
    val nWin = math.max(g - w + 1, 1)
    val deque = new java.util.ArrayDeque[Int]()
    val out = new scala.collection.mutable.ArrayBuffer[Any]
    var lastSel = -1
    var i = 0
    var j = 0
    while (j < nWin) {
      val end = math.min(j + w - 1, g - 1)
      while (i <= end) {
        val h = hashes.getUTF8String(i)
        while (!deque.isEmpty &&
            hashes.getUTF8String(deque.peekLast()).compareTo(h) > 0)
          deque.pollLast()
        deque.addLast(i)
        i += 1
      }
      while (deque.peekFirst() < j) deque.pollFirst()
      val sel = deque.peekFirst()
      if (sel != lastSel) {
        // 1-based position + a defensive copy (the input array may be
        // backed by a reused unsafe buffer inside codegen pipelines)
        out += new GenericInternalRow(
          Array[Any](sel + 1, hashes.getUTF8String(sel).clone()))
        lastSel = sel
      }
      j += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** [[select]] over an integer gram-hash sequence (the fixture/xxhash
    * window-hash lanes): same deque, same leftmost tie-break, the total
    * order now plain signed-long comparison. Kept as a twin rather than
    * genericized — the hot loop stays primitive (no boxing, no
    * comparator dispatch).
    */
  def selectLong(hashes: ArrayData, w: Int): GenericArrayData = {
    val g = hashes.numElements()
    if (g == 0) return new GenericArrayData(Array.empty[Any])
    val nWin = math.max(g - w + 1, 1)
    val deque = new java.util.ArrayDeque[Int]()
    val out = new scala.collection.mutable.ArrayBuffer[Any]
    var lastSel = -1
    var i = 0
    var j = 0
    while (j < nWin) {
      val end = math.min(j + w - 1, g - 1)
      while (i <= end) {
        val h = hashes.getLong(i)
        while (!deque.isEmpty && hashes.getLong(deque.peekLast()) > h)
          deque.pollLast()
        deque.addLast(i)
        i += 1
      }
      while (deque.peekFirst() < j) deque.pollFirst()
      val sel = deque.peekFirst()
      if (sel != lastSel) {
        out += new GenericInternalRow(Array[Any](sel + 1, hashes.getLong(sel)))
        lastSel = sel
      }
      j += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** One-pass word-shingle builder shared by [[shingleStrings]] and
    * [[shingleMd5s]]. Window semantics mirror the original
    * `TextFunctions.wordShingles` column composition exactly:
    * max(1, t−n+1) windows, short/empty token lists degrade to one
    * whole-text gram, null tokens omitted the way `array_join` omits
    * them. The composition it replaces re-evaluated `split(text)` inside
    * the per-gram lambda (interpreted HOFs have no subexpression cache),
    * an O(tokens × bytes) regex term per DOCUMENT that pinned the
    * length-lane sweep — the FixtureHashes lesson again; this kernel is
    * one linear pass inside codegen.
    */
  private def buildShingles(tokens: ArrayData, n: Int)(f: String => Any): GenericArrayData = {
    val t = tokens.numElements()
    val windows = math.max(t - n + 1, 1)
    val out = new Array[Any](windows)
    val sb = new java.lang.StringBuilder()
    var j = 0
    while (j < windows) {
      sb.setLength(0)
      var first = true
      var i = j
      val end = math.min(j + n, t)
      while (i < end) {
        if (!tokens.isNullAt(i)) {
          if (!first) sb.append(' ')
          sb.append(tokens.getUTF8String(i).toString)
          first = false
        }
        i += 1
      }
      out(j) = f(sb.toString)
      j += 1
    }
    new GenericArrayData(out)
  }

  def shingleStrings(tokens: ArrayData, n: Int): GenericArrayData =
    buildShingles(tokens, n)(org.apache.spark.unsafe.types.UTF8String.fromString)

  def shingleMd5s(tokens: ArrayData, n: Int): GenericArrayData =
    buildShingles(tokens, n) { g =>
      org.apache.spark.unsafe.types.UTF8String.fromString(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(
          g.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    }
}

/** word_shingles(tokens, n): array<string> of space-joined word n-grams
  * in ONE codegen pass — the kernel behind
  * [[TextFunctions.wordShingles]].
  */
case class WordShingleStrings(child: Expression, n: Int) extends ShingleHashExpression {
  require(n > 0)
  override def prettyName: String = "graft_word_shingles"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    WinnowRuntime.shingleStrings(input.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.WinnowRuntime.shingleStrings($v, $n);")
  override protected def withNewChildInternal(c: Expression): WordShingleStrings =
    copy(child = c)
}

/** word_shingle_md5s(tokens, n): the md5-hex fingerprints of each word
  * n-gram, one codegen pass — gram text and digest never materialize as
  * separate plan nodes. Hex digests are Spark `md5()`-identical
  * (lowercase hex over the gram's UTF-8 bytes), so the DuckDB `md5()`
  * oracle replay is unchanged.
  */
case class WordShingleMd5s(child: Expression, n: Int) extends ShingleHashExpression {
  require(n > 0)
  override def prettyName: String = "graft_word_shingle_md5s"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    WinnowRuntime.shingleMd5s(input.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.WinnowRuntime.shingleMd5s($v, $n);")
  override protected def withNewChildInternal(c: Expression): WordShingleMd5s =
    copy(child = c)
}

/** winnow_select(hashes, w): array<struct<pos:int, fp:string>> of the
  * winnowed (position, fingerprint) selections over the gram-hash array.
  */
case class WinnowSelect(child: Expression, w: Int) extends UnaryExpression with ExpectsInputTypes {
  require(w >= 2, s"winnow window must be >= 2, got $w")
  override def prettyName: String = "graft_winnow_select"
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("fp", StringType, nullable = false))),
    containsNull = false)

  override def inputTypes: Seq[InputType] = Seq(ArrayType(StringType))

  override def nullSafeEval(input: Any): Any =
    WinnowRuntime.select(input.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.WinnowRuntime.select($v, $w);")

  override protected def withNewChildInternal(c: Expression): WinnowSelect =
    copy(child = c)
}

/** winnow_select_long(hashes, w): [[WinnowSelect]] over an integer
  * gram-hash sequence — array<struct<pos:int, fp:bigint>>. The variant
  * the bloom-gated decontamination lanes use (fixture window hashes mod
  * P for the oracle, xxhash64 for production).
  */
case class WinnowSelectLong(child: Expression, w: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(w >= 2, s"winnow window must be >= 2, got $w")
  override def prettyName: String = "graft_winnow_select_long"
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("fp", LongType, nullable = false))),
    containsNull = false)

  override def inputTypes: Seq[InputType] = Seq(ArrayType(LongType))

  override def nullSafeEval(input: Any): Any =
    WinnowRuntime.selectLong(input.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.WinnowRuntime.selectLong($v, $w);")

  override protected def withNewChildInternal(c: Expression): WinnowSelectLong =
    copy(child = c)
}

object WinnowFunctions {
  /** Space-joined word n-grams of a token-array column, one codegen pass. */
  def wordShingleStrings(tokens: Column, n: Int): Column =
    GraftBridge.column(WordShingleStrings(GraftBridge.expression(tokens), n))

  /** md5-hex word-n-gram fingerprints of a token-array column, one pass. */
  def wordShingleMd5s(tokens: Column, n: Int): Column =
    GraftBridge.column(WordShingleMd5s(GraftBridge.expression(tokens), n))

  /** Winnowed selections over a gram-hash array column. */
  def winnowSelect(hashes: Column, w: Int): Column =
    GraftBridge.column(WinnowSelect(GraftBridge.expression(hashes), w))

  /** Winnowed selections over an INTEGER gram-hash array column. */
  def winnowSelectLong(hashes: Column, w: Int): Column =
    GraftBridge.column(WinnowSelectLong(GraftBridge.expression(hashes), w))
}
