package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data pipelines.
  *
  * Everything here is a composition of native Catalyst expressions
  * (`split`, `transform`, `aggregate`, `xxhash64`, …) — no Scala UDFs — so
  * the whole pipeline stays inside WholeStageCodegen and scales linearly
  * with executors. (The reference has no scalar-function library at all,
  * SURVEY.md §2.8; these are the extension surface.)
  */
object TextFunctions {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Lowercased whitespace words, empties dropped: the one word rule of
    * the vocabulary, LM, DSIR, frequency and BM25 operators (the DuckDB
    * oracles replay it as `regexp_split_to_array(trim(lower(text)), '\s+')`
    * minus ''). `array_remove` is a codegen'd built-in; a
    * `filter(_ =!= "")` lambda is interpreted and measured 3–17% slower
    * on a tokenize-only select. [[KernelWords]] is the kernel-side twin.
    */
  def words(text: Column): Column =
    array_remove(split(trim(lower(text)), "\\s+"), "")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: GPT-2-style pre-tokenizer regex (contractions,
    * letter runs, digit runs, punctuation runs) — a cheap, deterministic
    * proxy for "model tokens" used for corpus budgeting.
    */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text,
      lit("'(?:s|t|re|ve|m|ll|d)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+"), lit(0)))

  /** Canonical-text fingerprint: collapse whitespace, lowercase, md5.
    * Content-addressed id for exact dedup across 100 TB — 128-bit, so
    * collision-safe at corpus scale.
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** 64-bit rolling-hash fingerprint (xxhash64 of canonical text): cheaper
    * join key than md5 when 64 bits of collision resistance suffice.
    */
  def fingerprint64(text: Column): Column =
    xxhash64(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Word n-gram shingles: `["a b c", "b c d", ...]`. Building block for
    * minhash / jaccard dedup. One codegen kernel pass
    * ([[WordShingleStrings]]) — the previous
    * `transform(sequence, i -> array_join(slice(tokens(text), i, n)))`
    * composition re-evaluated the `split` INSIDE the interpreted
    * per-gram lambda (HOFs have no subexpression cache), an
    * O(tokens × bytes) regex term per document that pinned the
    * length-lane sweep on 4.8 KB docs.
    */
  def wordShingles(text: Column, n: Int): Column =
    WinnowFunctions.wordShingleStrings(tokens(text), n)

  /** Repetition signal (Gopher-style quality rule): the fraction of word
    * occurrences that are repeats — `1 - |distinct words| / |words|`.
    * Pure column, codegen'd, no shuffle. High values flag boilerplate
    * and degenerate generations.
    */
  def dupWordFraction(text: Column): Column = {
    val t = tokens(text)
    round(lit(1.0) -
      size(array_distinct(t)).cast("double") / greatest(size(t), lit(1)).cast("double"), 6)
  }

  /** Canonical text normalization for training corpora: Unicode NFC,
    * control characters stripped (tab/newline kept), whitespace runs
    * collapsed, trimmed. Pure Column composition.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        // NFC first so combining sequences compare equal across sources;
        // explicit Cc ranges minus \n \t (portable across regex dialects,
        // matching the DuckDB oracle exactly)
        HashExpressions.nfc(text),
        "[\\x00-\\x08\\x0B-\\x1F\\x7F-\\x9F]", ""),
      "[ \\t]+", " "))

  /** Token-window chunks for context-length-bounded training samples:
    * windows of `size` tokens advancing by `stride` (= size - overlap),
    * each re-joined with single spaces. The final partial window is kept
    * iff it starts within the text (standard sliding-window chunking).
    * Pure Column composition — chunking 100 TB is one narrow stage.
    */
  def tokenChunks(text: Column, size: Int, stride: Int): Column = {
    require(size > 0 && stride > 0, "size and stride must be positive")
    val toks = tokens(text)
    val n = org.apache.spark.sql.functions.size(toks)
    // number of windows: 1 + ceil(max(n - size, 0) / stride), capped so
    // every window start i*stride is < n (when stride > size the uncapped
    // formula would emit an empty window past the last token), floor 1 so
    // empty/short texts still yield their single partial window
    val extra = greatest(n - size, lit(0))
    val uncapped = lit(1) + ceil(extra.cast("double") / stride).cast("int")
    val nWin = greatest(
      least(uncapped, ceil(n.cast("double") / stride).cast("int")), lit(1))
    transform(sequence(lit(0), nWin - 1),
      i => array_join(slice(toks, i * stride + 1, lit(size)), " "))
  }

  /** PII redaction for training corpora: emails, URLs, and phone-like
    * number runs replaced with typed placeholder tags (the standard
    * pre-training scrub). Regex-only — portable to any engine, and kept
    * deliberately conservative: a redactor that over-matches destroys
    * ordinary text (version numbers, dates) at corpus scale.
    * Order matters: emails before URLs (an email contains no scheme but a
    * URL may contain '@'), phones last (emails/URLs already removed their
    * digits).
    *
    * A phone match must be anchored by a leading '+' (international) or a
    * parenthesized group (area code): a bare digit run like an ISO date,
    * year range, IP address, or ISBN never matches — that anchor is what
    * keeps the redactor conservative.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPattern, "<EMAIL>"),
        UrlPattern, "<URL>"),
      PhonePattern, "<PHONE>")

  /** All URL matches in a text (the SAME pattern the redactor replaces —
    * one definition, so audit and scrub cannot disagree about what a URL
    * is), and the host/domain of one URL — the inputs to per-domain
    * corpus audits and blocklist gating.
    */
  def extractUrls(text: Column): Column =
    regexp_extract_all(text, lit(UrlPattern), lit(0))

  def urlDomain(url: Column): Column =
    lower(regexp_extract(url, DomainPattern, 1))

  // shared with the q_redact oracle SQL (the subset of regex syntax used
  // here means one pattern string works in both Java regex and RE2)
  private[graft] val EmailPattern = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private[graft] val UrlPattern = """(https?|ftp)://[^\s]+"""
  private[graft] val DomainPattern = """://([^/\s:?#]+)"""
  private[graft] val PhonePattern =
    """(\+[0-9][0-9()\[\] .-]{6,}[0-9])|(\([0-9]{2,4}\)[ .-]?[0-9]{2,4}([ .-][0-9]{2,4}){1,2})"""

  /** Quality-score heuristics (0..1-ish features + a blended score),
    * returned as a struct column: length, word stats, alpha ratio,
    * punctuation ratio, stopword ratio, mean word length, repetition.
    * A single-pass native codegen expression
    * ([[graft.functions.QualityFeaturesExpr]]) since round 9 — the
    * Column composition it replaced paid two char-class regexp_replace
    * passes plus an interpreted `filter(toks, isin(...))` HOF pass per
    * document (TextFunctionsSpec pins exact equivalence against the old
    * composition, kept there as the reference implementation).
    */
  def qualityFeatures(text: Column): Column =
    HashExpressions.qualityFeaturesExpr(text)

  /** Blended [0,1] quality score (Gopher/C4-style rule blend). */
  def qualityScore(text: Column): Column = {
    val f = qualityFeatures(text)
    val lengthOk = when(f("n_words").between(5, 100000), 1.0).otherwise(0.0)
    val wordLenOk = when(f("mean_word_len").between(2.0, 12.0), 1.0).otherwise(0.0)
    val alphaOk = f("alpha_ratio")
    val notPunct = lit(1.0) - least(f("punct_ratio") * 5.0, lit(1.0))
    val diverse = least(f("distinct_ratio") * 2.0, lit(1.0))
    round((lengthOk + wordLenOk + alphaOk + notPunct + diverse) / 5.0, 6)
  }

  /** Language ID: n-gram-free stopword + script heuristic. Scores each
    * candidate language by stopword hits; CJK/Cyrillic/etc. decided by
    * Unicode script ratio first. A single-pass native codegen expression
    * ([[graft.functions.LangIdHeuristic]]) since round 9 — the x16 sweep
    * measured the previous 6-HOF-pass Column composition at 0.2 ms/doc,
    * a real corpus-pass cost for an every-document operator.
    */
  def langId(text: Column): Column =
    HashExpressions.langIdHeuristic(text)

  // private[graft]: the DuckDB oracle SQL interpolates these same lists,
  // so the heuristic and its oracle can never drift apart
  private[graft] val EnStop = Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "was", "for", "on", "are", "with", "as", "his", "they", "at", "be", "this")
  private[graft] val DeStop = Seq("der", "die", "das", "und", "ist", "ein", "eine", "nicht", "mit", "sich", "auf", "für", "im", "den", "von", "zu", "des", "auch", "es", "dem")
  private[graft] val FrStop = Seq("le", "la", "les", "de", "des", "et", "est", "un", "une", "dans", "que", "qui", "pour", "pas", "sur", "au", "avec", "ce", "il", "ne")
  private[graft] val EsStop = Seq("el", "la", "los", "las", "de", "y", "es", "un", "una", "en", "que", "no", "por", "con", "para", "se", "del", "su", "al", "lo")
  private[graft] val ItStop = Seq("il", "lo", "la", "gli", "di", "e", "è", "un", "una", "che", "non", "per", "con", "del", "della", "si", "sono", "come", "anche", "nel")
  private[graft] val PtStop = Seq("o", "a", "os", "as", "de", "e", "é", "um", "uma", "em", "que", "não", "por", "com", "para", "se", "do", "da", "no", "na")
}
