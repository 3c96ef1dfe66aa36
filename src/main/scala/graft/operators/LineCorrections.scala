package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Line-wise corrections (Penedo et al. 2023, "The RefinedWeb Dataset
  * for Falcon LLM" §3.3 — the MacroData-refinement line rules): crawled
  * pages carry interaction boilerplate at LINE granularity (all-caps
  * headers, bare counters, "sign in"/"read more" stubs, numeric-only
  * rows) that survives document- and paragraph-level dedup because it
  * differs page to page. Each line is judged independently; if the
  * removed lines exceed `maxRemovedNum/maxRemovedDen` of the document's
  * line bytes the WHOLE document drops (mostly-boilerplate pages are
  * not worth keeping — the paper's 5% default).
  *
  * Rules (ASCII-letter arithmetic, every ratio an integer
  * cross-multiplication — the whole operator replays exactly in SQL):
  *  1. mostly-uppercase: upper / letters > 0.6 (and has letters)
  *  2. no letters at all (bare numbers / punctuation; blank lines KEPT —
  *     they are document structure, not content)
  *  3. social counter: `^\s*\d+ (likes?|comments?|shares?|views?)\s*$`
  *  4. short interaction stub: ≤ 3 words containing sign in / log in /
  *     click here / read more / accept cookies
  *
  * Scale shape: ONE zero-shuffle projection + filter (array HOFs over
  * the per-doc line list; bounded by document length) — like
  * [[Dedup.paragraphDedupWithin]] it needs no corpus state, so it runs
  * at map speed and is trivially streamable. Output: (idCol,
  * clean_text) for surviving documents.
  */
object LineCorrections {

  /** True when the line should be REMOVED — one codegen'd char scan
    * ([[graft.functions.LineDrop]]). The Column-arithmetic formulation
    * this replaces (three regexp_replace + two rlike + a split per
    * line) measured 39.8 s warm on the 4.8 KB length twin with the
    * regex passes themselves as the floor; the kernel computes
    * letter/upper/word counts in a single pass and only runs the
    * counter/stub regexes behind their cheap gates (first-non-space
    * digit; ≤ 3 words).
    */
  private def dropLine(l: Column): Column = graft.functions.LineDrop.dropCol(l)

  def clean(df: DataFrame, idCol: String, textCol: String,
      maxRemovedNum: Int = 1, maxRemovedDen: Int = 20): DataFrame = {
    require(maxRemovedNum >= 0 && maxRemovedDen > 0,
      s"maxRemoved fraction must be a valid ratio, got $maxRemovedNum/$maxRemovedDen")
    // judge each line ONCE under a named column (the Bloom.score
    // two-projection split — CollapseProject keeps non-cheap multiply-
    // referenced arrays materialized): the rule chain is ~6 regex passes
    // per line, and the naive form re-ran it in the filter AND both byte
    // sums — measured 46 s → linear-regex floor on the 4.8 KB length twin
    val lines = split(col(textCol), "\n")
    val judged = transform(lines, l => struct(l.as("l"), dropLine(l).as("d")))
    df.select(col(idCol), judged.as("__j"))
      .select(col(idCol),
        array_join(transform(filter(col("__j"), s => !s("d")), s => s("l")), "\n")
          .as("clean_text"),
        // 64-bit byte sums: Int seeds would wrap past ~2^31/den chars
        // and silently flip the whole-doc verdict on extreme-length docs
        aggregate(transform(col("__j"),
            s => when(s("d"), length(s("l")).cast("long")).otherwise(lit(0L))),
          lit(0L), (a, x) => a + x).as("__rm"),
        aggregate(transform(col("__j"), s => length(s("l")).cast("long")),
          lit(0L), (a, x) => a + x).as("__tot"))
      .where(col("__rm") * maxRemovedDen <= col("__tot") * maxRemovedNum)
      .select(col(idCol), col("clean_text"))
  }
}
