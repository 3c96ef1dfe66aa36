package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.GraftBridge.InputType
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding runtime shared by interpreted eval and generated
  * code (top-level object ⇒ static forwarders, callable from codegen'd
  * Java the same way XXH64 is in [[HashExpressions]]).
  */
object BpeRuntime {

  /** Ordered in-place rule application over a symbol list: for each rule
    * `(lefts(m), rights(m))` replace every adjacent symbol pair —
    * left-to-right, non-overlapping — with the concatenation (textbook
    * BPE application, Sennrich et al. 2016 §3; shared by the
    * code-point and byte-level kernels).
    */
  private def runMerges(syms: java.util.ArrayList[String],
      lefts: Array[String], rights: Array[String]): Unit = {
    var m = 0
    while (m < lefts.length) {
      val a = lefts(m); val b = rights(m)
      var j = 0
      while (j < syms.size - 1) {
        if (syms.get(j) == a && syms.get(j + 1) == b) {
          syms.set(j, a + b)
          syms.remove(j + 1)
        }
        // advance past the (possibly merged) symbol either way:
        // left-to-right NON-overlapping, matching string-replace semantics
        j += 1
      }
      m += 1
    }
  }

  def applyWord(word: UTF8String, lefts: Array[String], rights: Array[String]): UTF8String = {
    val w = word.toString
    if (w.isEmpty) return UTF8String.EMPTY_UTF8
    // initial symbols are CODE POINTS, not UTF-16 units: a surrogate pair
    // is one symbol (what char-level BPE and the SQL oracle's
    // per-character split both mean by "character")
    val syms = new java.util.ArrayList[String](w.length)
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      syms.add(new String(Character.toChars(cp)))
      i += Character.charCount(cp)
    }
    runMerges(syms, lefts, rights)
    UTF8String.fromString(String.join(" ", syms))
  }

  private val HexDigits = "0123456789ABCDEF".toCharArray

  /** Byte-level BPE application for one word (the GPT-2/tiktoken-style
    * variant over the 256-byte base alphabet): initial symbols are the
    * word's UTF-8 BYTES, so every string tokenizes with no `[UNK]` and
    * no whitespace-convention caveats — an unmerged non-ASCII character
    * falls back to its individual bytes. Symbols ride as UPPERCASE hex
    * (two digits per byte), the byte-faithful printable encoding that
    * DuckDB's `hex()` emits, so the oracle replays the merge chain with
    * plain string replaces. Pieces are space-joined hex strings.
    */
  def applyWordBytes(word: UTF8String, lefts: Array[String], rights: Array[String]): UTF8String = {
    val bytes = word.getBytes
    if (bytes.length == 0) return UTF8String.EMPTY_UTF8
    val syms = new java.util.ArrayList[String](bytes.length)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      syms.add(new String(Array(HexDigits(b >>> 4), HexDigits(b & 0xf))))
      i += 1
    }
    runMerges(syms, lefts, rights)
    UTF8String.fromString(String.join(" ", syms))
  }

  /** Hex "AABB…" → bytes; the decoded form of a byte-level merge symbol.
    * Malformed symbols fail LOUDLY: an odd-length symbol would silently
    * drop its trailing nibble — a symbol that could never match under
    * string comparison could then falsely match its truncated decoding.
    */
  def decodeHex(sym: String): Array[Byte] = {
    require(sym.length % 2 == 0,
      s"byte-BPE merge symbol must be whole hex bytes (even length): '$sym'")
    val out = new Array[Byte](sym.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = java.lang.Integer.parseInt(sym.substring(2 * i, 2 * i + 2), 16).toByte
      i += 1
    }
    out
  }

  /** [[applyWordBytes]] without the per-byte String churn (r15): every
    * BPE symbol is a CONTIGUOUS span of the word's UTF-8 bytes (initial
    * symbols are single bytes; merges only ever join adjacent spans), so
    * the symbol list is two int arrays (start, len) compacted in place
    * per rule, symbol equality is a byte-region compare against the
    * PRE-DECODED rule bytes, and the hex rendering is emitted once into
    * the output buffer at the end. The left-to-right non-overlapping
    * scan replicates [[runMerges]] exactly (after a merge the next pair
    * examined starts at the element following the merged pair — the
    * read-cursor r += 2 below); spec-pinned equal to the string-based
    * reference on random words × random merge tables.
    */
  def applyWordBytesFast(word: UTF8String,
      lefts: Array[Array[Byte]], rights: Array[Array[Byte]]): UTF8String = {
    val bytes = word.getBytes
    val nb = bytes.length
    if (nb == 0) return UTF8String.EMPTY_UTF8
    val starts = new Array[Int](nb)
    val lens = new Array[Int](nb)
    var i = 0
    while (i < nb) { starts(i) = i; lens(i) = 1; i += 1 }
    val n = runMergesSpans(bytes, 0, nb, starts, lens, lefts, rights)
    // render "HEX HEX …" directly: 2 hex chars per byte + n-1 spaces
    val out = new Array[Byte](2 * nb + n - 1)
    val o = renderHexSpans(bytes, starts, lens, n, out, 0)
    UTF8String.fromBytes(out, 0, o)
  }

  /** The span-compaction merge loop of [[applyWordBytesFast]] over one
    * word's byte region [from, to) with caller-provided scratch arrays
    * (starts/lens must arrive initialized to the region's single-byte
    * spans and hold ≥ to−from entries). Returns the surviving span
    * count. `n > 1` early exit: no rule can match a 1-span list, so the
    * remaining rule scans are skipped (exact — the inner scan never
    * enters at n = 1).
    */
  private def runMergesSpans(bytes: Array[Byte], from: Int, to: Int,
      starts: Array[Int], lens: Array[Int],
      lefts: Array[Array[Byte]], rights: Array[Array[Byte]]): Int = {
    var n = to - from
    def eq(s: Int, l: Int, t: Array[Byte]): Boolean = {
      if (l != t.length) return false
      var k = 0
      while (k < l) { if (bytes(s + k) != t(k)) return false; k += 1 }
      true
    }
    var m = 0
    while (m < lefts.length && n > 1) {
      val a = lefts(m); val b = rights(m)
      var r = 0; var w = 0
      while (r < n) {
        if (r < n - 1 && eq(starts(r), lens(r), a) && eq(starts(r + 1), lens(r + 1), b)) {
          starts(w) = starts(r); lens(w) = lens(r) + lens(r + 1); r += 2
        } else { starts(w) = starts(r); lens(w) = lens(r); r += 1 }
        w += 1
      }
      n = w
      m += 1
    }
    n
  }

  /** Render n spans as "HEX HEX …" into `out` at offset `o`; returns the
    * new offset. */
  private def renderHexSpans(bytes: Array[Byte], starts: Array[Int], lens: Array[Int],
      n: Int, out: Array[Byte], o0: Int): Int = {
    var o = o0
    var i = 0
    while (i < n) {
      if (i > 0) { out(o) = ' '; o += 1 }
      var k = starts(i)
      val end = starts(i) + lens(i)
      while (k < end) {
        val v = bytes(k) & 0xff
        out(o) = HexDigits(v >>> 4).toByte
        out(o + 1) = HexDigits(v & 0xf).toByte
        o += 2
        k += 1
      }
      i += 1
    }
    o
  }

  /** Whole-document byte-level BPE (r16): the exact composition
    * `concat_ws(" ", transform(split(trim(text), "\\s+"), w =>
    * applyWordBytesFast(w)))` in ONE call over the document's UTF-8
    * bytes — no per-word UTF8String slices, no interpreted HOF lambda
    * dispatch, no intermediate piece array. Composition semantics
    * replicated piece by piece (property-tested, ByteBpeSpec):
    *  - Spark `trim` strips ASCII SPACES (0x20) only;
    *  - Spark `split(_, "\\s+")` is Java-regex split with limit −1:
    *    separators are runs of [ \t\n\x0B\f\r] — all single ASCII
    *    bytes, and multi-byte UTF-8 sequences never contain ASCII
    *    values, so the byte-level scan is exact; a LEADING separator
    *    run yields a leading empty token, and limit −1 KEEPS trailing
    *    empty tokens;
    *  - `concat_ws(" ")` keeps empty strings, so empty tokens survive
    *    as empty piece lists between separators.
    */
  def applyTextBytes(text: UTF8String,
      lefts: Array[Array[Byte]], rights: Array[Array[Byte]]): UTF8String = {
    val bytes = text.getBytes
    var lo = 0
    var hi = bytes.length
    while (lo < hi && bytes(lo) == ' ') lo += 1
    while (hi > lo && bytes(hi - 1) == ' ') hi -= 1
    if (hi == lo) return UTF8String.EMPTY_UTF8 // split("") = [""] → ""
    def isSep(b: Byte): Boolean =
      b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'
    // output bound: each word emits ≤ 3·wb − 1 bytes (2 hex per byte +
    // ≤ wb−1 intra-word spaces), word boundaries ≤ separator-run count
    val out = new Array[Byte](3 * (hi - lo) + 1)
    // scratch span arrays sized to the longest possible word
    val starts = new Array[Int](hi - lo)
    val lens = new Array[Int](hi - lo)
    var o = 0
    var pos = lo
    var first = true
    var done = false
    while (!done) {
      val ws = pos
      while (pos < hi && !isSep(bytes(pos))) pos += 1
      if (!first) { out(o) = ' '; o += 1 }
      first = false
      if (pos > ws) { // non-empty word: merge spans, render hex
        var i = 0
        while (i < pos - ws) { starts(i) = ws + i; lens(i) = 1; i += 1 }
        val n = runMergesSpans(bytes, ws, pos, starts, lens, lefts, rights)
        o = renderHexSpans(bytes, starts, lens, n, out, o)
      }
      if (pos >= hi) done = true
      else {
        while (pos < hi && isSep(bytes(pos))) pos += 1
        if (pos >= hi) { // trailing separator run → one trailing empty token
          out(o) = ' '; o += 1
          done = true
        }
      }
    }
    UTF8String.fromBytes(out, 0, o)
  }

  /** Occurrences of byte `b` in the string's UTF-8 bytes. */
  def byteOccurrences(s: UTF8String, b: Byte): Int = {
    val bytes = s.getBytes
    var n = 0
    var i = 0
    while (i < bytes.length) { if (bytes(i) == b) n += 1; i += 1 }
    n
  }

  private val Whitespace = java.util.regex.Pattern.compile("\\s+")

  /** Whole-text application: the exact composition
    * `concat_ws(" ", transform(split(trim(text), "\\s+"), applyWord))`
    * in one call — replicating Spark's semantics piece by piece:
    * `trim` strips ASCII SPACES only (not tabs/newlines), `split` with
    * limit -1 keeps leading AND trailing empty tokens, `concat_ws` keeps
    * empty strings. BpeSpec property-tests the equivalence on
    * whitespace-laden random inputs.
    */
  def applyText(text: UTF8String, lefts: Array[String], rights: Array[String]): UTF8String = {
    val s = text.toString
    var from = 0
    var to = s.length
    while (from < to && s.charAt(from) == ' ') from += 1
    while (to > from && s.charAt(to - 1) == ' ') to -= 1
    val words = Whitespace.split(s.substring(from, to), -1)
    val out = new java.lang.StringBuilder(s.length * 2)
    var i = 0
    while (i < words.length) {
      if (i > 0) out.append(' ')
      out.append(applyWord(UTF8String.fromString(words(i)), lefts, rights))
      i += 1
    }
    UTF8String.fromString(out.toString)
  }
}

/** bpe_apply_word(word, merges): the merged-symbol string for ONE word.
  * The merge table is a plan-time constant: it rides into generated code
  * as a referenced object (two String[] halves), so application is a
  * single virtual call per word inside WholeStageCodegen — no UDF, no
  * serialization per row.
  */
case class BpeApplyWord(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "graft_bpe_apply_word"
  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override def inputTypes: Seq[InputType] = Seq(StringType)

  @transient private lazy val lefts: Array[String] = merges.map(_._1).toArray
  @transient private lazy val rights: Array[String] = merges.map(_._2).toArray

  override def nullSafeEval(input: Any): Any =
    BpeRuntime.applyWord(input.asInstanceOf[UTF8String], lefts, rights)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = ctx.addReferenceObj("bpeLefts", lefts, "java.lang.String[]")
    val r = ctx.addReferenceObj("bpeRights", rights, "java.lang.String[]")
    nullSafeCodeGen(ctx, ev, w =>
      s"${ev.value} = graft.functions.BpeRuntime.applyWord($w, $l, $r);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeApplyWord =
    copy(child = newChild)
}

/** bpe_apply_text(text, merges): whole-document BPE — whitespace words,
  * each word's pieces space-joined — as ONE scalar expression (the SQL
  * surface's standalone form). Byte-equal to the `transform` composition
  * (property-tested); the composition measures slightly faster on the
  * DataFrame path, so [[Bpe.bpeText]] prefers it — see its scaladoc for
  * the numbers.
  */
case class BpeApplyText(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "graft_bpe_apply_text"
  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override def inputTypes: Seq[InputType] = Seq(StringType)

  @transient private lazy val lefts: Array[String] = merges.map(_._1).toArray
  @transient private lazy val rights: Array[String] = merges.map(_._2).toArray

  override def nullSafeEval(input: Any): Any =
    BpeRuntime.applyText(input.asInstanceOf[UTF8String], lefts, rights)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = ctx.addReferenceObj("bpeLefts", lefts, "java.lang.String[]")
    val r = ctx.addReferenceObj("bpeRights", rights, "java.lang.String[]")
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.BpeRuntime.applyText($t, $l, $r);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeApplyText =
    copy(child = newChild)
}

/** Real BPE train/apply (Sennrich et al. 2016, "Neural Machine Translation
  * of Rare Words with Subword Units"), shaped for a 100 TB corpus:
  *
  *  - '''train''' compresses the corpus to its word-frequency dictionary
  *    with ONE count shuffle (the dictionary is tiny relative to any
  *    corpus — the standard practical-BPE reduction), bounds it with
  *    `maxVocabWords`, and runs the iterative pair-count argmax on the
  *    driver over that bounded dictionary. Deterministic: ties in the
  *    pair-count argmax break to the lexicographically smallest pair, and
  *    the dictionary cut is ordered (count desc, word asc).
  *  - '''apply''' is [[BpeApplyWord]] — codegen'd, merge table as a
  *    plan-time constant; tokenizing the corpus is one narrow stage.
  */
object Bpe {

  /** Learn `numMerges` merge rules from the corpus' word-frequency
    * dictionary. Stops early when no adjacent pair occurs at least twice
    * (weighted) — merging a once-seen pair encodes nothing.
    */
  def train(df: DataFrame, textCol: String, numMerges: Int,
      maxVocabWords: Int = 50000): Seq[(String, String)] =
    learnMerges(df, textCol, numMerges, maxVocabWords, splitCodePoints)

  /** The merge-learning loop both BPE lanes share; `symbolize` splits a
    * dictionary word into its initial symbols (code points, or hex bytes
    * for [[ByteBpe]]).
    */
  private[functions] def learnMerges(df: DataFrame, textCol: String, numMerges: Int,
      maxVocabWords: Int, symbolize: String => Array[String]): Seq[(String, String)] = {
    val dict: Array[(Array[String], Long)] = df
      .select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .where(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc)
      .limit(maxVocabWords)
      .collect()
      .map(r => (symbolize(r.getString(0)), r.getLong(1)))

    val merges = Vector.newBuilder[(String, String)]
    var words = dict
    var done = false
    var it = 0
    while (it < numMerges && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((syms, c) <- words; j <- 0 until syms.length - 1) {
        val p = (syms(j), syms(j + 1))
        counts.update(p, counts.getOrElse(p, 0L) + c)
      }
      if (counts.isEmpty) done = true
      else {
        val ((a, b), c) = counts.minBy { case ((x, y), n) => (-n, x, y) }
        if (c < 2) done = true
        else {
          merges += ((a, b))
          words = words.map { case (syms, n) => (mergeOnce(syms, a, b), n) }
          it += 1
        }
      }
    }
    merges.result()
  }

  /** One symbol per code point (surrogate pairs stay whole — mirrors
    * [[BpeRuntime.applyWord]]'s initial symbolization).
    */
  private def splitCodePoints(w: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](w.length)
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.toArray
  }

  private def mergeOnce(syms: Array[String], a: String, b: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    var j = 0
    while (j < syms.length) {
      if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
        out += a + b; j += 2
      } else { out += syms(j); j += 1 }
    }
    out.toArray
  }

  /** One word → its space-joined BPE pieces under `merges`. */
  def bpeWord(word: Column, merges: Seq[(String, String)]): Column =
    GraftBridge.column(BpeApplyWord(GraftBridge.expression(word), merges))

  /** Whole text → all pieces of all whitespace words, space-joined (word
    * boundaries never merge across, as in word-level BPE).
    *
    * Formulation chosen by measurement, not intuition (ProbeBpe, sf0.1
    * documents, min-of-3): this `transform`-HOF composition runs ~20%
    * FASTER than the single whole-text expression ([[BpeApplyText]]) —
    * 330 vs 420 ms at 16 merges, 490 vs 580 at 64 — because the per-word
    * merge scan dominates both paths identically and Spark's native
    * `split` beats a Java-side re-split; the HOF lambda's interpreted
    * dispatch is noise by comparison. Both forms are property-tested
    * byte-equal (BpeSpec).
    */
  def bpeText(text: Column, merges: Seq[(String, String)]): Column =
    bpeTextHof(text, merges)

  /** The higher-order-function formulation (the measured-faster primary;
    * see [[bpeText]]).
    */
  private[graft] def bpeTextHof(text: Column, merges: Seq[(String, String)]): Column =
    concat_ws(" ", transform(TextFunctions.tokens(text), w => bpeWord(w, merges)))

  /** The single-expression formulation: one [[BpeApplyText]] call per row.
    * Kept for SQL-surface use (`graft_bpe_apply_text`) where a standalone
    * scalar function is wanted; measured slightly slower than the HOF
    * composition on the corpus path (see [[bpeText]]).
    */
  def bpeTextExpr(text: Column, merges: Seq[(String, String)]): Column =
    GraftBridge.column(BpeApplyText(GraftBridge.expression(text), merges))

  /** Piece count of [[bpeText]] (pieces never contain spaces). */
  def bpePieceCount(text: Column, merges: Seq[(String, String)]): Column =
    size(split(bpeText(text, merges), " "))

  /** Piece count of an ALREADY-RENDERED space-joined piece string whose
    * pieces cannot contain spaces (the [[bpeText]]/[[ByteBpe.byteBpeText]]
    * output contract): `byte_occurrences(s, ' ') + 1`, value-identical to
    * `size(split(s, " "))` (one boundary per space byte, empty pieces
    * included — spec-pinned) without materializing the piece array.
    */
  def spacePieceCount(pieces: Column): Column =
    GraftBridge.column(ByteOccurrences(GraftBridge.expression(pieces), ' '.toByte)) + lit(1)
}

/** byte_bpe_apply_word(word, merges): space-joined hex pieces of ONE
  * word under byte-level merges ([[BpeRuntime.applyWordBytes]]). Same
  * plan shape as [[BpeApplyWord]]: merge table rides into generated code
  * as two referenced String[] halves, one virtual call per word inside
  * WholeStageCodegen.
  */
case class ByteBpeApplyWord(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "graft_byte_bpe_apply_word"
  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override def inputTypes: Seq[InputType] = Seq(StringType)

  // pre-decoded rule bytes for the span-based fast path (r15) — the
  // hex decode happens once per expression instance, not per word
  @transient private lazy val lefts: Array[Array[Byte]] =
    merges.map(m => BpeRuntime.decodeHex(m._1)).toArray
  @transient private lazy val rights: Array[Array[Byte]] =
    merges.map(m => BpeRuntime.decodeHex(m._2)).toArray

  override def nullSafeEval(input: Any): Any =
    BpeRuntime.applyWordBytesFast(input.asInstanceOf[UTF8String], lefts, rights)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = ctx.addReferenceObj("byteBpeLefts", lefts, "byte[][]")
    val r = ctx.addReferenceObj("byteBpeRights", rights, "byte[][]")
    nullSafeCodeGen(ctx, ev, w =>
      s"${ev.value} = graft.functions.BpeRuntime.applyWordBytesFast($w, $l, $r);")
  }

  override protected def withNewChildInternal(newChild: Expression): ByteBpeApplyWord =
    copy(child = newChild)
}

/** byte_bpe_apply_text(text, merges): whole-document byte-level BPE —
  * ONE scalar call per document ([[BpeRuntime.applyTextBytes]]) instead
  * of the split + transform(HOF) + concat_ws composition: the HOF layer
  * dispatches an interpreted lambda frame per word and materializes the
  * piece array, measured at ~1.3 s of q_bpe_bytes' 6.0 s length-lane
  * cost (r15 ProbeBpeParts attribution: tokenize 0.9 s + HOF machinery
  * 0.4 s; r16 switch). Byte-equal to the composition (property-tested,
  * ByteBpeSpec).
  */
case class ByteBpeApplyText(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "graft_byte_bpe_apply_text"
  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override def inputTypes: Seq[InputType] = Seq(StringType)

  @transient private lazy val lefts: Array[Array[Byte]] =
    merges.map(m => BpeRuntime.decodeHex(m._1)).toArray
  @transient private lazy val rights: Array[Array[Byte]] =
    merges.map(m => BpeRuntime.decodeHex(m._2)).toArray

  override def nullSafeEval(input: Any): Any =
    BpeRuntime.applyTextBytes(input.asInstanceOf[UTF8String], lefts, rights)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = ctx.addReferenceObj("byteBpeLefts", lefts, "byte[][]")
    val r = ctx.addReferenceObj("byteBpeRights", rights, "byte[][]")
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.BpeRuntime.applyTextBytes($t, $l, $r);")
  }

  override protected def withNewChildInternal(newChild: Expression): ByteBpeApplyText =
    copy(child = newChild)
}

/** byte_occurrences(s, b): how many times byte `b` occurs in the
  * string's UTF-8 bytes — one codegen'd scan. For a space-joined piece
  * string whose pieces cannot contain spaces (BPE hex symbols, char-BPE
  * symbols of whitespace-split words), `byte_occurrences(s, ' ') + 1`
  * equals `size(split(s, " "))` EXACTLY (split on a single-space regex
  * puts one boundary per space byte; empty pieces count like split's
  * empty tokens) without materializing the piece array — the n_pieces
  * tail was ~1.9 s of q_bpe_bytes' 4.7 s length-lane cost (r16
  * ProbeBpeParts A/B). Multi-byte UTF-8 sequences never contain ASCII
  * values, so the byte scan equals a character scan for ASCII targets.
  */
case class ByteOccurrences(child: Expression, b: Byte)
    extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "graft_byte_occurrences"
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def inputTypes: Seq[InputType] = Seq(StringType)

  override def nullSafeEval(input: Any): Any =
    BpeRuntime.byteOccurrences(input.asInstanceOf[UTF8String], b)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.BpeRuntime.byteOccurrences($s, (byte) $b);")

  override protected def withNewChildInternal(newChild: Expression): ByteOccurrences =
    copy(child = newChild)
}

/** Byte-level BPE train/apply — the GPT-2/tiktoken-style variant
  * (Radford et al. 2019 §2.2: BPE over the 256-byte base alphabet) the
  * word-segmenting families ([[Bpe]], unigram-LM, WordPiece) don't
  * cover: every string tokenizes exactly (no `[UNK]`), non-ASCII falls
  * back to raw bytes, and the learned merges re-assemble multi-byte
  * characters only when the corpus makes them frequent.
  *
  * Same 100 TB shape as [[Bpe]]: train compresses the corpus to its
  * word-frequency dictionary with ONE count shuffle, bounds it with
  * `maxVocabWords`, and runs the pair-count argmax on the driver over
  * that bounded dictionary (deterministic: ordered dictionary cut,
  * lexicographic pair tie-break); apply is one codegen'd scalar call
  * per word. Word boundaries never merge across (whitespace
  * pre-tokenization — the convention this engine's whole tokenizer
  * family shares; GPT-2's regex pre-tokenizer is the q_bpe_token_count
  * pattern and slots in front unchanged if wanted). Symbols are
  * uppercase-hex byte strings end to end — the printable, byte-faithful
  * alphabet DuckDB's `hex()` shares, so oracles replay bit-exactly.
  */
object ByteBpe {

  /** Learn `numMerges` byte-pair rules from the corpus' word-frequency
    * dictionary. Stops early when no adjacent pair occurs at least twice
    * (weighted). Merge symbols are uppercase hex byte strings.
    */
  def train(df: DataFrame, textCol: String, numMerges: Int,
      maxVocabWords: Int = 50000): Seq[(String, String)] =
    Bpe.learnMerges(df, textCol, numMerges, maxVocabWords, splitHexBytes)

  /** One hex symbol per UTF-8 byte (mirrors
    * [[BpeRuntime.applyWordBytes]]'s initial symbolization).
    */
  private def splitHexBytes(w: String): Array[String] = {
    val bytes = w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new Array[String](bytes.length)
    var i = 0
    while (i < bytes.length) {
      out(i) = f"${bytes(i) & 0xff}%02X"
      i += 1
    }
    out
  }

  /** One word → its space-joined hex byte-BPE pieces under `merges`. */
  def byteBpeWord(word: Column, merges: Seq[(String, String)]): Column =
    GraftBridge.column(ByteBpeApplyWord(GraftBridge.expression(word), merges))

  /** Whole text → all hex pieces of all whitespace words, space-joined.
    * ONE whole-document kernel call since r16 ([[ByteBpeApplyText]]):
    * unlike the char-level lane (where [[Bpe.bpeText]]'s HOF composition
    * measured faster because its whole-text form re-split through Java
    * Strings), the byte-level whole-text kernel runs entirely over the
    * document's UTF-8 bytes — no per-word UTF8String slices, no
    * interpreted lambda dispatch, no piece-array materialization.
    * Byte-equal to the HOF composition (property-tested, ByteBpeSpec);
    * measured on the 9.6 KB-doc length lane: q_bpe_bytes 6.0 → 3.0 s
    * (together with the spacePieceCount n_pieces tail).
    */
  def byteBpeText(text: Column, merges: Seq[(String, String)]): Column =
    GraftBridge.column(ByteBpeApplyText(GraftBridge.expression(text), merges))

  /** The split + transform(HOF) + concat_ws composition (the pre-r16
    * primary) — kept as the property-test reference for
    * [[ByteBpeApplyText]]'s composition semantics.
    */
  private[graft] def byteBpeTextHof(text: Column, merges: Seq[(String, String)]): Column =
    concat_ws(" ", transform(TextFunctions.tokens(text), w => byteBpeWord(w, merges)))

  /** Piece count of [[byteBpeText]] (hex pieces never contain spaces). */
  def byteBpePieceCount(text: Column, merges: Seq[(String, String)]): Column =
    size(split(byteBpeText(text, merges), " "))
}
