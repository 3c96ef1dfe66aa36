package graft.operators

import graft.functions.TextFunctions.wordShingles
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
    * distinct winnowed fingerprints, with the shared count. One
    * self-join on the fingerprint + one per-pair aggregation — the
    * [[Dedup.ngramJaccardPairs]] shape over an index 2/(w+1) the size.
    *
    * Both dials auto-derive from the corpus' winnowed-df profile by
    * default (the knn-family `autoCells` discipline):
    *  - `budget` ([[PairBudget.Auto]]) bounds candidate generation to a
    *    linear-in-corpus row budget, deriving the df cap that drops hot
    *    boilerplate fingerprints only when the exact join would not fit
    *    (a fingerprint capped at df ≤ c contributes ≤ c(c−1)/2 join rows
    *    — the quadratic term is bounded per fingerprint, never
    *    corpus-wide). Manual [[PairBudget.Cap]]/[[PairBudget.Exact]]
    *    override.
    *  - `minShared = None` derives the report threshold from the
    *    per-document fingerprint profile: max(2, p50/20) distinct shared
    *    fingerprints, where p50 is the (approximate, bounded-memory)
    *    median per-doc distinct-fp count. Winnowing emits ~2/(w+1)
    *    fingerprints per token, so a fixed absolute threshold that is
    *    right for 200-token pages is output-explosion on 5 KB documents
    *    — the length-twin measurement behind this dial (4.39 M pairs at
    *    minShared=2, SCALE.md r13): scaling with document length keeps
    *    full near-duplicates (which share ~p50 fingerprints, 20× the
    *    bar) while cutting weak-overlap pairs. Pass `Some(n)` to pin.
    */
  def pairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4, minShared: Option[Int] = None,
      budget: PairBudget = PairBudget.Auto()): DataFrame = {
    val fpAll = Materialize.once(
      fingerprints(df, idCol, textCol, k, w)
        .select(col(idCol).as("__id"), col("fp")).distinct())
    // ONE per-doc aggregate serves both auto dials: its row count is
    // nDocs (handed to the budget resolver, saving a second full
    // distinct shuffle over the index) and its approx-median is the
    // minShared profile (fixed-memory sketch, never a per-doc collect)
    val needsProfile = minShared.isEmpty || budget.isInstanceOf[PairBudget.Auto]
    val perDoc = if (needsProfile)
      Some(Materialize.once(fpAll.groupBy(col("__id")).agg(count(lit(1)).as("__n"))))
    else None
    val fp = PairBudget.resolve(fpAll, "__id", "fp", budget,
        knownDocs = perDoc.map(_.count())).fold(fpAll) { cap =>
      val hot = fpAll.groupBy("fp").agg(count(lit(1)).as("__df"))
        .where(col("__df") > cap).select(col("fp"))
      fpAll.join(broadcast(hot), Seq("fp"), "left_anti")
    }
    val bar = minShared.getOrElse {
      // empty index (empty corpus, or every doc shorter than k tokens)
      // makes approx_percentile return null — fall back to the floor
      val row = perDoc.get
        .agg(expr("approx_percentile(__n, 0.5)").as("__p50"))
        .first()
      val p50 = if (row.isNullAt(0)) 0L else row.getLong(0)
      math.max(2L, p50 / 20L).toInt
    }
    fp.as("a").join(fp.as("b"), col("a.fp") === col("b.fp"))
      .where(col("a.__id") < col("b.__id"))
      .groupBy(col("a.__id").as("idA"), col("b.__id").as("idB"))
      .agg(count(lit(1)).cast("long").as("shared"))
      .where(col("shared") >= bar)
  }

  /** Benchmark contamination through the winnowed index: per corpus
    * document, the fraction of its distinct winnowed fingerprints that
    * appear anywhere in the (winnowed) benchmark pool. The
    * [[Dedup.ngramContamination]] contract at 2/(w+1) of the index
    * bytes: the pool is a distinct fingerprint SET (its size is the
    * benchmark's, not the corpus's), the corpus side is one semi-join +
    * two counts per document.
    */
  def contamination(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, benchTextCol: String,
      k: Int = 3, w: Int = 4): DataFrame = {
    val corpusFp = Materialize.once(
      fingerprints(corpus, idCol, textCol, k, w)
        .select(col(idCol), col("fp")).distinct())
    val pool = fingerprints(bench.select(col(benchTextCol)), benchTextCol,
        benchTextCol, k, w)
      .select(col("fp")).distinct()
    val hits = corpusFp.join(pool, Seq("fp"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("__h"))
    corpusFp.groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        round(coalesce(col("__h"), lit(0L)).cast("double") / col("__n"), 6)
          .as("winnow_contamination"))
  }

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
    array_distinct(transform(
      winnowSelectLong(family.windowHashes(text, shingle), w),
      s => s.getField("fp")))

  private def scoreBloom(corpus: DataFrame, idCol: String, fpArr: Column,
      bits: Array[Long], mBits: Int, k: Int, foldWide: Boolean): DataFrame =
    corpus.select(col(idCol), fpArr.as("__fps"))
      .select(col(idCol),
        round(graft.functions.HashExpressions
            .bloomHits(col("__fps"), bits, mBits, k, foldWide)
            .cast("double") / size(col("__fps")), 6)
          .as("winnow_contamination_bloom"))

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
    // bind the fingerprint array ONCE via a singleton-array transform —
    // the lambda variable is evaluated a single time, so the
    // tokenize/hash/winnow chain never re-runs for the denominator
    // (the re-evaluation pitfall LineCorrections.clean documents)
    element_at(
      transform(array(winnowFps(text, shingle, w, HashFamily.Xxhash)), fps =>
        round(graft.functions.HashExpressions
            .bloomHits(fps, bits, mBits, k, HashFamily.Xxhash.foldWide)
            .cast("double") / size(fps), 6)),
      1)

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
    scoreBloom(corpus, idCol, winnowFps(col(textCol), shingle, w, family),
      winnowFilter(benchmark, textCol, shingle, w, mBits, k, family), mBits, k,
      family.foldWide)
}
