package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Vocabulary coverage signals — the n-gram-LM quality proxy a curation
  * pipeline runs when a real perplexity model is too expensive for a first
  * pass: a document whose tokens are mostly OUTSIDE the corpus vocabulary
  * (boilerplate hashes, base64 runs, OCR noise, wrong-language text) is a
  * low-quality candidate regardless of its surface statistics. OOV rate
  * against a frequency-thresholded vocabulary is the standard cheap stand-in
  * (the unigram special case of "fraction of n-grams unseen in the LM"),
  * and unlike perplexity it is exact integer/ratio arithmetic — so the
  * driver's DuckDB oracle hash-gates it end to end.
  *
  * Scale shape (100 TB): two corpus passes. Pass 1 builds the vocabulary
  * as a hash aggregate keyed by word (map-side combine collapses each task
  * to its distinct words before the shuffle; Heaps' law puts a
  * minCount=20 web-corpus vocabulary around 10^7 rows). Pass 2 scores
  * each document. When the thresholded vocabulary fits the distillation
  * budget (the common case) it is collected once, bounded, and pass 2 is
  * one codegen'd scan against it ([[graft.functions.OovRateScore]]): no
  * explode, join or re-aggregation. Past the budget the vocabulary is
  * materialized and pass 2 is a token-keyed join (AQE broadcasts it when
  * it fits, shuffled hash join otherwise) plus a per-doc aggregate.
  */
object Vocabulary {

  /** Exploded words ([[graft.functions.TextFunctions.words]]): (`__id`, `__w`). */
  private def explodeTokens(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("__id"),
      explode(graft.functions.TextFunctions.words(col(textCol))).as("__w"))

  private def vocabularyFromTokens(tok: DataFrame, minCount: Long): DataFrame =
    tok.groupBy(col("__w").as("word"))
      .agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)

  /** The corpus vocabulary: words with global count >= minCount.
    * Output: (word, n).
    */
  def vocabulary(df: DataFrame, idCol: String, textCol: String,
      minCount: Long): DataFrame =
    vocabularyFromTokens(explodeTokens(df, idCol, textCol), minCount)

  /** Per-document out-of-vocabulary rate against [[vocabulary]] built from
    * the SAME corpus (self-coverage — the usual first-pass configuration;
    * use [[oovRateAgainst]] to score against a reference corpus instead).
    * Output: (idCol, n_tokens, n_oov, oov_rate).
    *
    * The corpus is read twice: once by the vocabulary aggregate, whose
    * thresholded output is collected, and once by the scoring pass
    * ([[oovAgainstAuto]]).
    */
  def oovRate(df: DataFrame, idCol: String, textCol: String,
      minCount: Long, maxDistillEntries: Int = 500000): DataFrame =
    oovAgainstAuto(df, idCol, textCol,
      vocabulary(df, idCol, textCol, minCount), maxDistillEntries)

  def oovRateAgainst(df: DataFrame, idCol: String, textCol: String,
      vocabDf: DataFrame, maxDistillEntries: Int = 500000): DataFrame =
    oovAgainstAuto(df, idCol, textCol, vocabDf, maxDistillEntries)

  /** Vocabulary-size adaptive scoring (r16, the scoreDocsAuto
    * discipline): the vocabulary is collected once, capped one row past
    * `maxDistillEntries`; when it fits, the corpus pass is ONE codegen'd
    * scan against a distilled membership set
    * ([[graft.functions.OovRateScore]]) — no token-array checkpoint, no
    * corpus-sized explode, no vocabulary join, no per-doc re-aggregation
    * — with arithmetic identical to the join path (spec-gated; the
    * oracle replays the join form). Past the budget (Heaps' law at web
    * scale with low minCount) the probe falls back to the join path
    * against the vocabulary materialized once; the fallback re-tokenizes
    * for the probe pass instead of checkpointing corpus-sized token
    * arrays — at the scale where the fallback triggers, re-running the
    * narrow tokenize stage is cheaper than writing (and 2x-replicating,
    * on a cluster) the token stream.
    */
  private def oovAgainstAuto(df: DataFrame, idCol: String, textCol: String,
      vocabDf: DataFrame, maxDistillEntries: Int): DataFrame = {
    Materialize.collectUpTo(vocabDf.select(col("word")), maxDistillEntries) match {
      case Some(words) =>
        val score = org.apache.spark.sql.GraftBridge.column(
          graft.functions.OovRateScore(org.apache.spark.sql.GraftBridge.expression(col(textCol)),
            words.toSeq.map(_.getString(0))))
        KeepRows.nonNull(df.select(col(idCol), col(textCol)), "__s", score)
          .select(col(idCol), col("__s.n_tokens").as("n_tokens"),
            col("__s.n_oov").as("n_oov"), col("__s.oov_rate").as("oov_rate"))
      case None =>
        oovFromTokens(explodeTokens(df, idCol, textCol), idCol,
          Materialize.once(vocabDf))
    }
  }

  private def oovFromTokens(tok: DataFrame, idCol: String,
      vocabDf: DataFrame): DataFrame = {
    val vocab = vocabDf.select(col("word").as("__w"), lit(1).as("__known"))
    tok
      .join(vocab, Seq("__w"), "left")
      .groupBy("__id")
      .agg(count(lit(1)).as("n_tokens"),
        (count(lit(1)) - count(col("__known"))).as("n_oov"))
      .select(col("__id").as(idCol),
        col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens"), 6).as("oov_rate"))
  }
}
