package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.GraftBridge.InputType
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined chunking runtime (the FastCDC/gear-hash family —
  * Xia et al., "FastCDC: a Fast and Efficient Content-Defined Chunking
  * Approach for Data Deduplication", USENIX ATC 2016; rolling-hash
  * boundaries go back to LBFS, Muthitacharoen et al. SOSP 2001).
  *
  * Why fixed-size chunking fails on crawled corpora: inserting ONE byte
  * near the head of a re-crawled page shifts every later fixed-window
  * boundary, so no downstream chunk fingerprint matches the previous
  * crawl. Content-DEFINED boundaries depend only on a rolling hash of
  * the local bytes, so an edit perturbs at most the chunks it touches
  * and every later boundary re-synchronizes — chunk-level dedup then
  * sees the unchanged tail again. This is the standard backup/dedup
  * technique, applied to text corpora.
  *
  * Determinism contract (the oracle replays this bit for bit):
  *  - gear hash over UTF-8 BYTES: h' = ((h << 1) + GEAR[b]) mod 2^32
  *  - a boundary closes the chunk after byte i when the chunk has
  *    reached `minSize` bytes and (h' & mask) == 0, mask = 2^avgBits−1;
  *    a chunk is force-closed at `maxSize`; h resets to 0 at each
  *    chunk start; the final partial chunk always emits.
  *  - GEAR is 256 constants from splitmix64 (Steele et al. 2014, the
  *    public fmix/splitmix constants) truncated to 31 bits so the SQL
  *    replay's BIGINT arithmetic can never overflow.
  */
object CdcRuntime {

  /** splitmix64 (public-domain constants), truncated to 31 bits. */
  private def splitmix31(seed: Long): Long = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    z & 0x7FFFFFFFL
  }

  val Gear: Array[Long] = Array.tabulate(256)(i => splitmix31(i.toLong))

  private val Mask32 = 0xFFFFFFFFL

  /** Chunk boundaries of `text`'s UTF-8 bytes: (start, len) pairs in
    * BYTE offsets, concatenated flat [s0, l0, s1, l1, ...]. A cut point
    * that would split a multi-byte codepoint snaps FORWARD past its
    * continuation bytes, so every chunk is valid UTF-8 on its own and
    * chunk-granular removal can never corrupt surviving text (a chunk
    * may exceed maxSize by up to 3 bytes at the snap; on ASCII the snap
    * never fires, so the SQL oracle's per-character replay is
    * unaffected).
    */
  def boundaries(bytes: Array[Byte], minSize: Int, avgBits: Int, maxSize: Int): Array[Int] = {
    val mask = (1L << avgBits) - 1
    val out = new scala.collection.mutable.ArrayBuffer[Int](8)
    var start = 0
    var h = 0L
    var i = 0
    val n = bytes.length
    while (i < n) {
      h = ((h << 1) + Gear(bytes(i) & 0xff)) & Mask32
      val len = i - start + 1
      if ((len >= minSize && (h & mask) == 0L) || len >= maxSize) {
        // snap: absorb continuation bytes so the cut lands on a
        // codepoint boundary (h resets at the new chunk start anyway,
        // so the absorbed bytes' hash contributions are irrelevant)
        while (i + 1 < n && (bytes(i + 1) & 0xC0) == 0x80) i += 1
        out += start
        out += (i - start + 1)
        start = i + 1
        h = 0L
      }
      i += 1
    }
    if (start < n) { out += start; out += (n - start) }
    out.toArray
  }

  /** (pos, len, fp, piece) rows for one document — fp is the md5 hex of
    * the chunk BYTES (the oracle-replayable fixture fingerprint; md5 of
    * a UTF-8 substring is exactly DuckDB's md5(substr(...)) on ASCII),
    * `piece` the chunk's own text (valid UTF-8 by the snap rule — the
    * byte-accurate slice DataFrame-level char substring can't provide).
    * pos is the 1-based BYTE offset.
    */
  def chunks(text: UTF8String, minSize: Int, avgBits: Int, maxSize: Int): ArrayData = {
    val bytes = text.getBytes
    val b = boundaries(bytes, minSize, avgBits, maxSize)
    val rows = new Array[Any](b.length / 2)
    val md = java.security.MessageDigest.getInstance("MD5")
    var k = 0
    while (k < b.length) {
      val start = b(k); val len = b(k + 1)
      md.reset()
      md.update(bytes, start, len)
      val hex = md.digest().map(x => f"$x%02x").mkString
      rows(k / 2) = InternalRow(start + 1, len, UTF8String.fromString(hex),
        UTF8String.fromBytes(bytes, start, len))
      k += 2
    }
    new GenericArrayData(rows)
  }
}

/** cdc_chunks(text): array<struct<pos int, len int, fp string,
  * piece string>> — the content-defined chunks of one document.
  * min/avg/max ride as plan-time constants into generated code.
  */
case class CdcChunks(child: Expression, minSize: Int, avgBits: Int, maxSize: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(minSize >= 1 && maxSize >= minSize && avgBits >= 1 && avgBits <= 28,
    s"bad CDC dials: min=$minSize avgBits=$avgBits max=$maxSize")
  override def prettyName: String = "graft_cdc_chunks"
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("len", IntegerType, nullable = false),
    StructField("fp", StringType, nullable = false),
    StructField("piece", StringType, nullable = false))), containsNull = false)
  override def nullable: Boolean = true

  override def inputTypes: Seq[InputType] = Seq(StringType)

  override def nullSafeEval(input: Any): Any =
    CdcRuntime.chunks(input.asInstanceOf[UTF8String], minSize, avgBits, maxSize)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.CdcRuntime.chunks($t, $minSize, $avgBits, $maxSize);")

  override protected def withNewChildInternal(c: Expression): CdcChunks =
    copy(child = c)
}

object CdcChunks {
  def chunksCol(text: Column, minSize: Int = 32, avgBits: Int = 6,
      maxSize: Int = 256): Column =
    GraftBridge.column(CdcChunks(GraftBridge.expression(text), minSize, avgBits, maxSize))
}
