package graft.functions

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.GraftBridge.InputType
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** WordPiece application runtime (Wu et al. 2016, "Google's Neural
  * Machine Translation System"; the BERT tokenizer's segmentation):
  * greedy LONGEST-MATCH-FIRST within each word — the first piece is
  * looked up plain, every continuation with the `##` prefix, and a word
  * with any unmatchable position becomes the single `[UNK]` piece
  * (whole-word fallback, the published behavior — no partial output).
  * Top-level object ⇒ static forwarders callable from codegen'd code
  * (the [[BpeRuntime]] pattern).
  */
object WordPieceRuntime {

  val Unk = "[UNK]"

  /** One word → its space-joined WordPiece pieces. `maxLen` bounds the
    * longest-match scan to the longest RAW piece length in the vocab
    * (continuation `##` not counted), making each word O(len · maxLen).
    */
  def applyWord(word: UTF8String, vocab: java.util.HashSet[String],
      maxLen: Int): UTF8String = {
    val s = word.toString
    val n = s.length
    if (n == 0) return UTF8String.EMPTY_UTF8
    val sb = new java.lang.StringBuilder()
    var pos = 0
    while (pos < n) {
      var len = math.min(maxLen, n - pos)
      var hit = -1
      while (len >= 1 && hit < 0) {
        val raw = s.substring(pos, pos + len)
        val key = if (pos == 0) raw else "##" + raw
        if (vocab.contains(key)) hit = len else len -= 1
      }
      if (hit < 0) return UTF8String.fromString(Unk)
      if (sb.length > 0) sb.append(' ')
      if (pos > 0) sb.append("##")
      sb.append(s, pos, pos + hit)
      pos += hit
    }
    UTF8String.fromString(sb.toString)
  }
}

/** wordpiece_apply_word(word): space-joined greedy longest-match pieces.
  * The vocab rides the generated class as a referenced HashSet, so
  * application is one codegen'd per-word scan.
  */
case class WordPieceApplyWord(child: Expression, vocab: Seq[String])
    extends UnaryExpression with ExpectsInputTypes {
  require(vocab.nonEmpty, "wordpiece vocab must be non-empty")
  override def prettyName: String = "graft_wordpiece_apply_word"
  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override def inputTypes: Seq[InputType] = Seq(StringType)

  @transient private lazy val set: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](vocab.size * 2)
    vocab.foreach(s.add)
    s
  }
  // lazy val, not def: the interpreted nullSafeEval path would otherwise
  // rescan the whole vocab (map+max) on every row
  @transient private lazy val maxRawLen: Int =
    vocab.map(p => if (p.startsWith("##")) p.length - 2 else p.length).max

  override def nullSafeEval(input: Any): Any =
    WordPieceRuntime.applyWord(input.asInstanceOf[UTF8String], set, maxRawLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val vs = ctx.addReferenceObj("wpVocab", set, "java.util.HashSet")
    val ml = maxRawLen
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.WordPieceRuntime.applyWord($v, $vs, $ml);")
  }

  override protected def withNewChildInternal(c: Expression): WordPieceApplyWord =
    copy(child = c)
}

/** WordPiece train/apply, shaped for a 100 TB corpus exactly like
  * [[Bpe]]:
  *
  *  - '''train''' compresses the corpus to its word-frequency dictionary
  *    with ONE count shuffle, bounds it with `maxVocabWords`, and runs
  *    the merge loop on the driver over that bounded dictionary. The
  *    difference from BPE is ONLY the argmax objective: WordPiece picks
  *    the pair maximizing the likelihood score count(ab) /
  *    (count(a)·count(b)) — compared by exact integer cross-
  *    multiplication, ties to the lexicographically smallest pair, so
  *    training is deterministic. Symbols carry the `##` continuation
  *    prefix from initialization (c₀, ##c₁, ##c₂, …), merged pieces
  *    concatenate with the right side's `##` stripped — the final vocab
  *    IS the lookup alphabet [[WordPieceRuntime.applyWord]] scans.
  *  - '''apply''' is [[WordPieceApplyWord]] — codegen'd, vocab as a
  *    plan-time constant; tokenizing the corpus is one narrow stage.
  */
object WordPiece {

  /** Learn a WordPiece vocabulary of `numMerges` merged pieces (plus the
    * single-codepoint base alphabet, which is always retained for
    * coverage). Stops early when no adjacent pair occurs at least twice
    * (weighted).
    */
  def train(df: DataFrame, textCol: String, numMerges: Int,
      maxVocabWords: Int = 50000): Seq[String] = {
    val dict: Array[(Array[String], Long)] = df
      .select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .where(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc)
      .limit(maxVocabWords)
      .collect()
      .map(r => (symbolize(r.getString(0)), r.getLong(1)))

    val vocab = scala.collection.mutable.LinkedHashSet.empty[String]
    dict.foreach { case (syms, _) => syms.foreach(vocab.add) }

    var words = dict
    var it = 0
    var done = false
    while (it < numMerges && !done) {
      val pair = scala.collection.mutable.HashMap.empty[(String, String), Long]
      val unit = scala.collection.mutable.HashMap.empty[String, Long]
      for ((syms, c) <- words) {
        for (s <- syms) unit.update(s, unit.getOrElse(s, 0L) + c)
        for (j <- 0 until syms.length - 1) {
          val p = (syms(j), syms(j + 1))
          pair.update(p, pair.getOrElse(p, 0L) + c)
        }
      }
      if (pair.isEmpty) done = true
      else {
        // argmax of c_ab / (c_a * c_b) by exact cross-multiplication:
        // candidate (a,b) beats incumbent (x,y) iff
        // c_ab * (c_x * c_y) > c_xy * (c_a * c_b). Counts are bounded by
        // the dictionary's total weighted length; products use BigInt so
        // no scale assumption is needed.
        var best: ((String, String), Long) = null
        for ((p, c) <- pair if c >= 2) {
          if (best == null) best = (p, c)
          else {
            val (bp, bc) = best
            val l = BigInt(c) * (BigInt(unit(bp._1)) * BigInt(unit(bp._2)))
            val r = BigInt(bc) * (BigInt(unit(p._1)) * BigInt(unit(p._2)))
            if (l > r || (l == r && (p._1 < bp._1 ||
                (p._1 == bp._1 && p._2 < bp._2)))) best = (p, c)
          }
        }
        if (best == null) done = true
        else {
          val (a, b) = best._1
          val merged = a + b.stripPrefix("##")
          vocab.add(merged)
          words = words.map { case (syms, n) => (mergeOnce(syms, a, b, merged), n) }
          it += 1
        }
      }
    }
    vocab.toSeq
  }

  /** Initial symbolization: one symbol per code point, continuations
    * `##`-prefixed (surrogate pairs stay whole — mirrors
    * [[WordPieceRuntime.applyWord]]'s substring scan over chars; BMP
    * test corpora, the [[Bpe]] caveat).
    */
  private def symbolize(w: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](w.length)
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      val c = new String(Character.toChars(cp))
      out += (if (i == 0) c else "##" + c)
      i += Character.charCount(cp)
    }
    out.toArray
  }

  private def mergeOnce(syms: Array[String], a: String, b: String,
      merged: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    var j = 0
    while (j < syms.length) {
      if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
        out += merged; j += 2
      } else { out += syms(j); j += 1 }
    }
    out.toArray
  }

  /** One word → its space-joined WordPiece pieces under `vocab`. */
  def wordpieceWord(word: Column, vocab: Seq[String]): Column =
    GraftBridge.column(WordPieceApplyWord(GraftBridge.expression(word), vocab))

  /** Whole text → all pieces of all whitespace words, space-joined
    * (word boundaries never merge across — the [[Bpe.bpeText]] HOF
    * formulation, measured faster than a whole-text expression there).
    */
  def wordpieceText(text: Column, vocab: Seq[String]): Column =
    concat_ws(" ", transform(TextFunctions.tokens(text),
      w => wordpieceWord(w, vocab)))
}
