package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.GraftBridge.InputType
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Unigram-LM (SentencePiece-style) tokenizer runtime — Viterbi
  * segmentation under per-piece integer costs, shared by interpreted
  * eval and generated code (the [[BpeRuntime]] discipline).
  *
  * Objective, stated exactly: segment the WHOLE text (spaces are
  * ordinary symbols a piece may contain — the sentence-level model of
  * Kudo 2018, "Subword Regularization", arXiv:1804.10959) into vocab
  * pieces of ≤ maxLen codepoints minimizing the PACKED integer
  * `totalCost · 2^16 + nPieces`: primary key total cost (sum of piece
  * costs, each a surprisal in 1/256-bit units), tie-break FEWEST
  * pieces. All-integer, so Spark and the DuckDB oracle's list_reduce DP
  * agree bit-exactly — the q_lm_score whole-bits discipline. A
  * codepoint with no 1-length vocab entry costs `unkCost` (coverage:
  * every text is segmentable). Codepoint semantics throughout (a
  * surrogate pair is ONE symbol), matching DuckDB's substr/length.
  */
object UnigramRuntime {

  /** dp over codepoint positions; returns `cost·2^16 + nPieces`, 0 for
    * the empty string. Texts are capped at 2^16−1 codepoints by the
    * packing (a document longer than that should be chunked first).
    */
  def segmentPacked(text: UTF8String, vocab: java.util.HashMap[String, java.lang.Long],
      maxLen: Int, unkCost: Long): Long = {
    val s = text.toString
    val n = s.codePointCount(0, s.length)
    if (n == 0) return 0L
    require(n < 65536, s"unigram packing caps texts at 65535 codepoints, got $n")
    val off = codepointOffsets(s, n)
    val dp = new Array[Long](n + 1)
    var j = 1
    while (j <= n) {
      var best = Long.MaxValue
      val maxI = if (maxLen < j) maxLen else j
      var len = 1
      while (len <= maxI) {
        val c = vocab.get(s.substring(off(j - len), off(j)))
        val pieceCost =
          if (c != null) c.longValue()
          else if (len == 1) unkCost
          else -1L
        if (pieceCost >= 0L) {
          val cand = dp(j - len) + (pieceCost << 16) + 1L
          if (cand < best) best = cand
        }
        len += 1
      }
      dp(j) = best
      j += 1
    }
    dp(n)
  }

  /** The argmin path of [[segmentPacked]] as the piece array (same DP,
    * parent pointers, deterministic: on packed ties the SHORTEST last
    * piece wins — scanned first — which matches min-of-candidates order
    * in the packed form only when costs differ; the packed tie-break
    * already makes full-path ties impossible to observe in the packed
    * value, and the piece array is spec-gated against a reference
    * implementation, not an SQL oracle).
    */
  def segmentPieces(text: UTF8String, vocab: java.util.HashMap[String, java.lang.Long],
      maxLen: Int, unkCost: Long): GenericArrayData = {
    val s = text.toString
    val n = s.codePointCount(0, s.length)
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    require(n < 65536, s"unigram packing caps texts at 65535 codepoints, got $n")
    val off = codepointOffsets(s, n)
    val dp = new Array[Long](n + 1)
    val from = new Array[Int](n + 1)
    var j = 1
    while (j <= n) {
      var best = Long.MaxValue
      var bestFrom = j - 1
      val maxI = if (maxLen < j) maxLen else j
      var len = 1
      while (len <= maxI) {
        val c = vocab.get(s.substring(off(j - len), off(j)))
        val pieceCost =
          if (c != null) c.longValue()
          else if (len == 1) unkCost
          else -1L
        if (pieceCost >= 0L) {
          val cand = dp(j - len) + (pieceCost << 16) + 1L
          if (cand < best) { best = cand; bestFrom = j - len }
        }
        len += 1
      }
      dp(j) = best
      from(j) = bestFrom
      j += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[Any]
    var p = n
    while (p > 0) {
      out += UTF8String.fromString(s.substring(off(from(p)), off(p)))
      p = from(p)
    }
    new GenericArrayData(out.reverseIterator.toArray)
  }

  private def codepointOffsets(s: String, n: Int): Array[Int] = {
    val off = new Array[Int](n + 1)
    var i = 0; var c = 0
    while (c < n) {
      off(c) = i
      i += Character.charCount(s.codePointAt(i))
      c += 1
    }
    off(n) = s.length
    off
  }

  /** The vocab as the HashMap the DP probes — built once per expression
    * instance, referenced from generated code.
    */
  def buildMap(pieces: Array[String], costs: Array[Long]): java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](pieces.length * 2)
    var i = 0
    while (i < pieces.length) { m.put(pieces(i), costs(i)); i += 1 }
    m
  }
}

/** unigram_packed(text): `cost·2^16 + nPieces` of the Viterbi
  * segmentation — vocab rides into generated code as a referenced
  * HashMap, one static call per row inside WholeStageCodegen.
  */
case class UnigramPacked(child: Expression, vocab: Seq[(String, Long)],
    maxLen: Int, unkCost: Long) extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "graft_unigram_packed"
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def inputTypes: Seq[InputType] = Seq(StringType)

  @transient private lazy val map: java.util.HashMap[String, java.lang.Long] =
    UnigramRuntime.buildMap(vocab.map(_._1).toArray, vocab.map(_._2).toArray)

  override def nullSafeEval(input: Any): Any =
    UnigramRuntime.segmentPacked(input.asInstanceOf[UTF8String], map, maxLen, unkCost)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("unigramVocab", map, "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.UnigramRuntime.segmentPacked($t, $m, $maxLen, ${unkCost}L);")
  }

  override protected def withNewChildInternal(newChild: Expression): UnigramPacked =
    copy(child = newChild)
}

/** unigram_pieces(text): the Viterbi piece array itself (the production
  * tokenization output; [[UnigramPacked]] is its cost/count summary).
  */
case class UnigramPieces(child: Expression, vocab: Seq[(String, Long)],
    maxLen: Int, unkCost: Long) extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "graft_unigram_pieces"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  override def inputTypes: Seq[InputType] = Seq(StringType)

  @transient private lazy val map: java.util.HashMap[String, java.lang.Long] =
    UnigramRuntime.buildMap(vocab.map(_._1).toArray, vocab.map(_._2).toArray)

  override def nullSafeEval(input: Any): Any =
    UnigramRuntime.segmentPieces(input.asInstanceOf[UTF8String], map, maxLen, unkCost)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("unigramVocab", map, "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.UnigramRuntime.segmentPieces($t, $m, $maxLen, ${unkCost}L);")
  }

  override protected def withNewChildInternal(newChild: Expression): UnigramPieces =
    copy(child = newChild)
}

/** Unigram-LM train/apply (Kudo 2018) shaped for a 100 TB corpus.
  *
  *  - '''train''' is Viterbi-EM (hard EM — the standard deterministic
  *    approximation of the paper's soft EM; segmentation counts replace
  *    lattice posteriors): seed candidates are the corpus' frequent
  *    substrings (ONE distributed enumerate+count shuffle, top-K cut),
  *    then each iteration re-segments the corpus with the CURRENT costs
  *    (one codegen kernel pass + a vocab-bounded count aggregate — the
  *    only per-iteration corpus work) and re-estimates costs as integer
  *    surprisal in 1/256-bit units; pruning keeps the top `vocabSize`
  *    pieces by count with every seen single codepoint retained for
  *    coverage. Deterministic end to end: ordered cuts (count desc,
  *    piece asc), integer costs, no RNG.
  *  - '''apply''' is [[UnigramPieces]]/[[UnigramPacked]] — codegen'd,
  *    vocab as a plan-time constant; tokenizing the corpus is one
  *    narrow stage.
  *
  * Reference behavior anchor: pigpen's udf/code-eval lane has no
  * tokenizer; this extends the training-data lane beside [[Bpe]]
  * (pigpen-core/src/main/clojure/pigpen/code.clj is the closest UDF
  * surface). Costs fit the packing: ≤ ~2^13 per piece (30 bits · 256),
  * so a 65535-piece document packs below 2^45.
  */
object Unigram {

  /** 1/256-bit integer surprisal of `cnt` among `total`; ≥ 1 so every
    * piece costs something (a zero-cost piece would make the DP prefer
    * infinitely many of it under cost-first ordering's tie-break).
    */
  private def surprisal(cnt: Long, total: Long): Long =
    math.max(1L, math.round(-math.log(cnt.toDouble / total.toDouble) / math.log(2.0) * 256.0))

  /** All substrings of 1..maxPieceLen codepoints, distributed — the seed
    * candidate enumerator. The payload is consumed INSIDE the lambda
    * (substring per candidate), so the Generate fans out short pieces,
    * never the document (the PlanAssert.payloadExplodes discipline).
    */
  private def candidates(df: DataFrame, textCol: String, maxPieceLen: Int): DataFrame =
    df.select(explode(expr(
      s"""flatten(transform(sequence(1, length($textCol)),
         |  p -> transform(sequence(1, least($maxPieceLen, length($textCol) - p + 1)),
         |    l -> substring($textCol, p, l))))""".stripMargin)).as("piece"))

  /** Learn a `(piece, cost)` vocabulary. `seed` bounds the candidate
    * table (top-K frequent substrings); train on a sample for very large
    * corpora — seeding enumerates maxPieceLen× the corpus bytes, the EM
    * iterations are one kernel pass each.
    */
  def train(df: DataFrame, textCol: String, vocabSize: Int, maxPieceLen: Int = 4,
      iters: Int = 3, seed: Int = 4096, unkCost: Long = 10000L): Seq[(String, Long)] = {
    require(vocabSize > 0 && maxPieceLen >= 1 && iters >= 1)
    val cand = candidates(df, textCol, maxPieceLen)
      .groupBy("piece").agg(count(lit(1)).as("c"))
    // single codepoints are ALWAYS kept (coverage); the multi-codepoint
    // candidates take the remaining seed slots by frequency
    val chars = cand.where(length(col("piece")) === 1)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val multi = cand.where(length(col("piece")) > 1)
      .orderBy(col("c").desc, col("piece").asc).limit(seed)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    var counts: Map[String, Long] = (chars ++ multi).toMap
    var vocab: Seq[(String, Long)] = toCosts(counts)
    var it = 0
    while (it < iters) {
      // E-step (hard): Viterbi-segment the corpus under current costs;
      // M-step: surprisal of the observed piece counts. The aggregate is
      // vocab-bounded (a piece is a vocab member or a single-codepoint
      // unk), so collect() is safe by construction.
      val segCounts = df
        .select(explode(pieces(col(textCol), vocab, maxPieceLen, unkCost)).as("piece"))
        .groupBy("piece").agg(count(lit(1)).as("c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val kept = counts.keys.map { p =>
        p -> segCounts.getOrElse(p, 0L)
      }.filter { case (p, c) => c > 0 || p.codePointCount(0, p.length) == 1 }
      // prune toward vocabSize: order by (count desc, piece asc), keep
      // every single codepoint plus the best multi-codepoint pieces
      val (singles, multis) = kept.toSeq.partition {
        case (p, _) => p.codePointCount(0, p.length) == 1
      }
      val room = math.max(0, vocabSize - singles.size)
      counts = (singles ++ multis.sortBy { case (p, c) => (-c, p) }.take(room)).toMap
      vocab = toCosts(counts.map { case (p, c) => p -> math.max(c, 1L) })
      it += 1
    }
    vocab.sortBy(_._1)
  }

  private def toCosts(counts: Map[String, Long]): Seq[(String, Long)] = {
    val total = math.max(counts.values.sum, 1L)
    counts.toSeq.map { case (p, c) => p -> surprisal(math.max(c, 1L), total) }
  }

  /** text → Viterbi piece array under `vocab` (codegen kernel). */
  def pieces(text: Column, vocab: Seq[(String, Long)], maxLen: Int,
      unkCost: Long): Column =
    GraftBridge.column(UnigramPieces(GraftBridge.expression(text), vocab, maxLen, unkCost))

  /** text → packed `cost·2^16 + nPieces` (the oracle-able summary). */
  def packed(text: Column, vocab: Seq[(String, Long)], maxLen: Int,
      unkCost: Long): Column =
    GraftBridge.column(UnigramPacked(GraftBridge.expression(text), vocab, maxLen, unkCost))
}
