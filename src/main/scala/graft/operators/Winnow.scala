package graft.operators

import graft.functions.WinnowFunctions.{winnowSelect, winnowSelectLong}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Winnowing fingerprints as corpus operators (Schleimer et al. 2003 —
  * see [[graft.functions.WinnowRuntime]] for the selection kernel and
  * its guarantee). Positioning vs the existing substring machinery: the
  * duplicated-gram index ([[Dedup.duplicateSpans]], `buildGramIndex`)
  * carries EVERY gram — exact span recovery, full-size index; winnowing
  * persists an expected 2/(w+1) of grams yet still detects every shared
  * run of ≥ w + k − 1 tokens. At 100 TB the winnowed index is the one
  * you can afford to keep hot: selection is map-side per document (zero
  * shuffles), matching is one equi-join on the 128-bit fingerprint.
  */
object Winnow {

  /** (id, pos, fp): the winnowed fingerprints of each document. `pos` is
    * the 1-based k-gram index, `fp` the md5 of the gram text (hex — the
    * total order the selection rule uses, identical bytewise in SQL).
    * Documents shorter than k tokens contribute their whole text as the
    * single gram (the [[graft.functions.TextFunctions.wordShingles]]
    * convention shared with the jaccard/minhash family).
    */
  def fingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4): DataFrame = {
    val hashes = graft.functions.WinnowFunctions.wordShingleMd5s(
      graft.functions.TextFunctions.tokens(col(textCol)), k)
    df.select(col(idCol), explode(winnowSelect(hashes, w)).as("__s"))
      .select(col(idCol), col("__s.pos").as("pos"), col("__s.fp").as("fp"))
  }

  /** Candidate near-duplicate pairs: documents sharing ≥ `minShared`
    * distinct winnowed fingerprints, with the shared count — the
    * [[Dedup.ngramJaccardPairs]] shape over an index 2/(w+1) the size.
    * Mined by [[PairBudget.sharedKeyPairs]], which documents both
    * auto-derived dials (the `budget` df cap and the `minShared` bar).
    */
  def pairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4, minShared: Option[Int] = None,
      budget: PairBudget = PairBudget.Auto()): DataFrame =
    PairBudget.sharedKeyPairs(fingerprints(df, idCol, textCol, k, w), idCol, "fp",
      minShared, budget)

  /** Benchmark contamination through the winnowed index: per corpus
    * document, the fraction of its distinct winnowed fingerprints that
    * appear anywhere in the (winnowed) benchmark pool. The
    * [[Dedup.ngramContamination]] contract and plan
    * ([[Dedup.poolContainment]]) at 2/(w+1) of the index bytes.
    */
  def contamination(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, benchTextCol: String,
      k: Int = 3, w: Int = 4): DataFrame =
    Dedup.poolContainment(
      fingerprints(corpus, idCol, textCol, k, w)
        .select(col(idCol).as("__id"), col("fp")).distinct(),
      fingerprints(bench.select(col(benchTextCol)), benchTextCol, benchTextCol, k, w)
        .select(col("fp")).distinct(),
      "fp", idCol, "winnow_contamination")

  // ---- Bloom-gated winnow contamination: [[Bloom]]'s mBits-bounded
  // membership filter built over the benchmark's WINNOWED fingerprints —
  // 2/(w+1) of the grams set bits, and the scored side probes 2/(w+1)
  // of its grams, so at a fixed false-positive rate the filter is
  // ~(w+1)/2 × smaller than the all-grams bloom (or, same bits, the fp
  // rate drops superlinearly) while keeping the ≥ w+k−1-token detection
  // guarantee. Scoring stays a pure zero-shuffle projection, which also
  // makes it the stateless streaming gate
  // ([[graft.streaming.GraftStreaming]] winnowDecontaminateStream).

  /** Distinct winnowed integer fingerprints per document: the family's
    * window hashes in sequence order, winnow-selected, fp-projected,
    * distinct. One map-side kernel chain.
    */
  private def winnowFps(text: Column, shingle: Int, w: Int, family: HashFamily): Column =
    array_distinct(winnowSelectLong(family.windowHashes(text, shingle), w).getField("fp"))

  /** Build the production filter from a static benchmark table — the
    * streaming entry point's first half.
    */
  def buildFilter(benchmark: DataFrame, textCol: String, shingle: Int = 3,
      w: Int = 4, mBits: Int = 1 << 20, k: Int = 3): Array[Long] =
    winnowFilter(benchmark, textCol, shingle, w, mBits, k, HashFamily.Xxhash)

  private def winnowFilter(benchmark: DataFrame, textCol: String, shingle: Int,
      w: Int, mBits: Int, k: Int, family: HashFamily): Array[Long] =
    Bloom.buildBitsFromHashes(benchmark,
      winnowFps(col(textCol), shingle, w, family),
      family.bloomPositions(_, mBits, k), mBits)

  /** Stateless scoring column against a pre-built filter — build once
    * from the static benchmark ([[buildFilter]]), then score rows with
    * zero state (the streaming gate's second half).
    */
  def contaminationBloomColumn(text: Column, bits: Array[Long],
      shingle: Int = 3, w: Int = 4, mBits: Int = 1 << 20, k: Int = 3): Column =
    Bloom.containment(winnowFps(text, shingle, w, HashFamily.Xxhash), bits, mBits, k,
      HashFamily.Xxhash.foldWide)

  /** (idCol, winnow_contamination_bloom) — one zero-shuffle projection
    * over the corpus against the winnowed benchmark filter. Under
    * [[HashFamily.Fixture]] DuckDB replays selection, filter build AND
    * false positives bit-identically (the [[Bloom.ngramContaminationBloom]]
    * discipline over the winnowed index).
    */
  def contaminationBloom(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, shingle: Int = 3, w: Int = 4,
      mBits: Int = 1 << 20, k: Int = 3,
      family: HashFamily = HashFamily.Xxhash): DataFrame =
    Bloom.score(corpus, idCol, winnowFps(col(textCol), shingle, w, family),
      "winnow_contamination_bloom",
      winnowFilter(benchmark, textCol, shingle, w, mBits, k, family), mBits, k,
      family.foldWide)
}
