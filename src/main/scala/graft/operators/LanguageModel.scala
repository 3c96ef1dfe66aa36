package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.words

/** N-gram language-model quality scoring — the CCNet/Wenzek et al.
  * perplexity-filter discipline (arXiv:1911.00359) re-expressed with
  * exact integer arithmetic so the driver's DuckDB oracle hash-gates it
  * end to end: train a unigram+bigram count LM with add-one smoothing on
  * a trusted reference slice, then score every candidate document by its
  * per-token surprisal under that model. Gibberish, OCR noise, base64
  * runs, and wrong-language text are built from tokens (and token
  * transitions) the reference never saw → high surprisal; fluent text in
  * the reference's language scores low. CCNet ranks a web corpus by
  * exactly this signal (with a 5-gram Kneser–Ney LM) and keeps the
  * low-perplexity head.
  *
  * The transcendental-free trick (q_quality_model discipline): true log
  * probabilities need `ln`, whose libm rounding is not cross-engine
  * reproducible. Surprisal is measured in WHOLE BITS instead:
  *
  *   bits(p = num/den) ≈ ilog2(den) - ilog2(num),   ilog2(x) = |bin(x)| - 1
  *
  * where |bin(x)| is the length of x's minimal binary representation —
  * exact integer arithmetic both engines compute identically (Spark
  * `bin`, DuckDB `bin`), within 1 bit of -log2(p) per n-gram. Summed over
  * a document the proxy orders documents the same way a float log-prob
  * would, up to per-token rounding — and it is bit-replayable, so the
  * ORACLE gates the production arithmetic, not a fixture twin.
  *
  * Model (add-one smoothing, integer counts):
  *   p(w)        = (c(w) + 1) / (T + V)            — first token
  *   p(w | u)    = (c(u,w) + 1) / (c(u) + V)       — subsequent tokens
  *   doc bits    = bits(p(t1)) + Σ_{i≥2} bits(p(t_i | t_{i-1}))
  *
  * Scale shape (100 TB corpus, bounded reference): training is two hash
  * aggregations over the REFERENCE slice only (CCNet trains on Wikipedia,
  * not on the corpus being scored) — vocabulary-bounded outputs, two
  * scalar driver values (T, V). Scoring is one corpus pass: per-doc token
  * arrays explode to a transition stream that left-joins the two count
  * tables (AQE broadcasts them when they fit, shuffled hash join when
  * not) and re-aggregates by doc id. The only driver-side state is a
  * unigram table within the distillation budget ([[fromRaw]]).
  */
object LanguageModel {

  /** A trained count LM. `unigrams`: (word, c); `bigrams`: (w1, w2, c);
    * `totalTokens` = T (reference token count, minCount-surviving words
    * only); `vocabSize` = V. The unigram table is a snapshot: held on the
    * driver when it fits [[DistillBudget]], materialized once otherwise
    * (see [[fromRaw]]). The bigram table is a plan over the raw counts,
    * computed by whichever consumer reads it.
    */
  final case class NgramLm(unigrams: DataFrame, bigrams: DataFrame,
      totalTokens: Long, vocabSize: Long)

  /** Default entry budget of a distilled model, and the size up to which
    * [[fromRaw]] keeps the unigram table on the driver.
    */
  val DistillBudget = 500000

  /** Lowercased whitespace token array per doc, empties dropped so token
    * POSITIONS (bigram adjacency) survive multi-space runs identically in
    * both engines: (`__id`, `__t`). May include zero-token rows: every
    * consumer explodes `__t` (empty arrays generate nothing), so a
    * `size >= 1` filter here would be semantically inert — and it is a
    * measured pessimization: predicate pushdown substitutes the filter
    * through the Project, inlining the whole split+filter tokenizer into
    * the scan Filter, so every document pays the regex tokenize TWICE
    * (r15 plan audit, plans/r15/q_dsir_before.txt Filter(2)+Project(3)).
    */
  private def tokenArrays(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("__id"), words(col(textCol)).as("__t"))

  /** Train the count LM on a reference corpus. `minCount` bounds the
    * vocabulary (words below it are dropped from BOTH tables and from T,
    * exactly as if they were never in the reference — they score as
    * unseen); at web scale Heaps' law keeps the minCount≥20 unigram table
    * around 10^7 rows and the bigram table within a small multiple of the
    * reference size, which is the bounded slice, not the 100 TB corpus.
    */
  def train(ref: DataFrame, idCol: String, textCol: String,
      minCount: Long = 1L): NgramLm = {
    val (uni, bi) = rawCounts(ref, idCol, textCol)
    fromRaw(uni, bi, minCount)
  }

  /** Raw (uncut) count tables — the PERSISTABLE form of the model
    * ([[graft.operators.AnnIndex.buildLm]]): `minCount` is applied at
    * model-assembly time ([[fromRaw]]), never at count time, so an
    * incremental catalog can merge deltas by plain count addition
    * (associative — ingest order cannot change the model) and a word can
    * cross the vocabulary threshold as later deltas arrive. Nothing is
    * materialized: the two aggregates are read by different actions (the
    * two catalog writes, [[fromRaw]]'s unigram collect and the bigram
    * consumer), and each tokenizes the reference slice itself — a narrow
    * stage over a bounded slice, cheaper than the extra job a token
    * checkpoint costs. Output: ((word, c), (w1, w2, c)).
    */
  def rawCounts(ref: DataFrame, idCol: String, textCol: String): (DataFrame, DataFrame) = {
    val toks = tokenArrays(ref, idCol, textCol)
    val uni = toks.select(explode(col("__t")).as("__w"))
      .groupBy(col("__w").as("word"))
      .agg(count(lit(1)).as("c"))
    val bi = bigramPairs(toks)
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c"))
    (uni, bi)
  }

  /** (w1, w2) bigram adjacency stream from per-doc token arrays (no
    * cross-doc bigrams) — plus any extra passthrough columns.
    *
    * Shape (r16): posexplode + element_at — the transitionEvents pattern —
    * instead of `explode(zip_with(slice, slice, struct))`: zip_with is
    * CodegenFallback, so the struct-array form materialized two sliced
    * arrays plus an interpreted struct array PER DOCUMENT before the
    * explode (measured inside q_lm_score's 2.9 s length-lane train
    * phase, ProbeLmParts). Here the Generate and the element_at backref
    * are both codegen'd and nothing is materialized. Pair multiset is
    * identical: position p ≥ 1 of each doc yields (t[p-1], t[p]) exactly
    * once, and docs with < 2 tokens yield nothing (pos 0 is filtered).
    */
  private def bigramPairs(toks: DataFrame, extra: Column*): DataFrame =
    toks.select(Seq(col("__t"), posexplode(col("__t"))) ++ extra: _*)
      .where(col("pos") >= 1)
      .select(element_at(col("__t"), col("pos")).as("w1") +:
        col("col").as("w2") +: extra: _*)

  /** Assemble a scoring model from raw count tables: vocabulary =
    * words with count >= minCount; bigrams restricted to in-vocab ends
    * (the standard closed-vocabulary construction — p(w|u) conditions on
    * an in-vocab context); T/V from the surviving vocabulary. Filtering
    * aggregated counts here equals filtering pairs before aggregation,
    * so train == fromRaw∘rawCounts by construction.
    *
    * The vocabulary is collected once, bounded by [[DistillBudget]]: when
    * it fits, it becomes a driver-held table and T/V are summed on the
    * driver, so a model the distiller will take costs one bounded
    * collect here and no checkpoint. A vocabulary past the budget is the
    * join scorer's case: it is materialized once (the scorer reads it twice,
    * the T/V aggregate once more) and T/V come from one aggregate over
    * it. The bigram table stays a plan either way.
    */
  def fromRaw(uniRaw: DataFrame, biRaw: DataFrame, minCount: Long = 1L): NgramLm = {
    val cut = uniRaw.where(col("c") >= minCount).select("word", "c")
    val rows = cut.limit(DistillBudget + 1).collect()
    val (uni, t, v) =
      if (rows.length <= DistillBudget)
        (cut.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), cut.schema),
          rows.iterator.map(_.getLong(1)).sum, rows.length.toLong)
      else {
        val m = Materialize.once(cut)
        val agg = m.agg(coalesce(sum(col("c")), lit(0L)), count(lit(1))).head()
        (m, agg.getLong(0), agg.getLong(1))
      }
    // re-pin column ORDER after the using-column semi-joins (they move
    // the join column first); consumers that collect read positionally
    val bi = biRaw.join(uni.select(col("word").as("w1")), Seq("w1"), "left_semi")
      .join(uni.select(col("word").as("w2")), Seq("w2"), "left_semi")
      .select("w1", "w2", "c")
    NgramLm(uni, bi, t, v)
  }

  /** Per-token transition stream (`__id`, `__n`, `__w`, `__prev`): the
    * first token carries (null → t1) scored by the unigram model; token
    * i≥2 carries (t_i-1 → t_i) scored by the bigram model. One explode;
    * `__prev` reads the previous token from the pre-explode array
    * (pipelined inside the same codegen stage, never shuffled). `__pos`
    * itself is NOT emitted (r16): `__prev IS NULL` carries the
    * first-token bit — tokens are non-null non-empty strings, so `__prev`
    * is null exactly at position 0 — and dropping the int column narrows
    * the stream that rides through the three count-table joins (free
    * inside one codegen stage locally; 4 bytes/transition fewer on every
    * corpus-sized exchange once the count tables outgrow broadcast).
    */
  private def transitionEvents(toks: DataFrame): DataFrame =
    toks.select(col("__id"), col("__t"), size(col("__t")).as("__n"),
        posexplode(col("__t")))
      .withColumnsRenamed(Map("pos" -> "__pos", "col" -> "__w"))
      .withColumn("__prev",
        when(col("__pos") === 0, lit(null).cast("string"))
          .otherwise(element_at(col("__t"), col("__pos"))))
      .select(col("__id"), col("__n"), col("__w"), col("__prev"))

  /** One model of a [[wholeBits]] pass: the name of its count column in
    * the shared unigram and bigram tables, its (T, V) scalars, and the
    * name of its per-doc bit sum.
    */
  private final case class BitsModel(c: String, t: Long, v: Long, out: String)

  /** The whole-bits scorer behind [[scoreDocs]], [[dsirWeights]] and the
    * fused DSIR tail: k models whose counts sit side by side in one
    * unigram table (word, c…) and one bigram table (w1, w2, c…); a model
    * that lacks a gram carries null there, which scores as count 0. One
    * transition stream, three left joins (AQE broadcasts the tables that
    * fit), one per-doc sum: (`__id`, n_tokens, out…).
    *
    * A transition's bigram count counts for a model only when both its
    * ends are in that model's vocabulary (its unigram lookups are
    * non-null): the closed-vocabulary construction. [[fromRaw]]'s bigram
    * tables already keep only such pairs; the fused DSIR tail's raw pair
    * counts need the gate.
    */
  private def wholeBits(toks: DataFrame, uni: DataFrame, bi: DataFrame,
      models: Seq[BitsModel]): DataFrame = {
    def counts(t: DataFrame, keys: Seq[Column], pre: String): DataFrame =
      t.select(keys ++ models.map(m => col(m.c).as(pre + m.c)): _*)
    val uniW = counts(uni, Seq(col("word").as("__wordW")), "__cw")
    val uniP = counts(uni, Seq(col("word").as("__wordP")), "__cu")
    val biC = counts(bi, Seq(col("w1").as("__w1"), col("w2").as("__w2")), "__cb")
    def binLen(c: Column): Column = graft.functions.HashExpressions.binLength(c)
    def orZero(c: Column): Column = coalesce(c, lit(0L))
    // ilog2 difference: the +1/-1 of |bin| cancels across the ratio
    def bits(m: BitsModel): Column = {
      val (cw, cu, cb) = (col("__cw" + m.c), col("__cu" + m.c), col("__cb" + m.c))
      when(col("__prev").isNull,
        binLen(lit(m.t + m.v)) - binLen(orZero(cw) + lit(1L)))
        .otherwise(binLen(orZero(cu) + lit(m.v)) -
          binLen(orZero(when(cu.isNotNull && cw.isNotNull, cb)) + lit(1L)))
    }
    transitionEvents(toks)
      .join(uniW, col("__w") === col("__wordW"), "left").drop("__wordW")
      .join(uniP, col("__prev") === col("__wordP"), "left").drop("__wordP")
      .join(biC, col("__prev") === col("__w1") && col("__w") === col("__w2"), "left")
      .drop("__w1", "__w2")
      .withColumns(models.map(m => ("__" + m.out) -> bits(m)).toMap)
      .groupBy(col("__id"))
      .agg(max(col("__n")).cast("long").as("n_tokens"),
        models.map(m => sum(col("__" + m.out)).cast("long").as(m.out)): _*)
  }

  /** Score documents under a trained LM: (idCol, n_tokens, lm_bits,
    * bits_per_token). Higher bits-per-token = more surprising = worse
    * fit to the reference (CCNet keeps the LOW end). Docs with zero
    * tokens are absent from the output (no probability is defined for
    * them), matching the oovRate contract.
    */
  def scoreDocs(df: DataFrame, idCol: String, textCol: String,
      lm: NgramLm): DataFrame = {
    require(lm.vocabSize >= 1, "reference vocabulary is empty")
    wholeBits(tokenArrays(df, idCol, textCol), lm.unigrams, lm.bigrams,
        Seq(BitsModel("c", lm.totalTokens, lm.vocabSize, "lm_bits")))
      .select(col("__id").as(idCol), col("n_tokens"), col("lm_bits"),
        round(col("lm_bits").cast("double") / col("n_tokens"), 6).as("bits_per_token"))
  }

  /** Train-on-slice + score-corpus composition (the q_lm_score shape).
    * Scoring goes through [[scoreDocsAuto]] (r16): when the trained
    * model fits the distillation budget the corpus pass pays ZERO joins
    * and zero shuffles ([[scoreDocsDistilled]] — identical output,
    * spec-gated); a model past the budget falls back to the join-based
    * [[scoreDocs]] unchanged. The join-based scorer stays exercised on
    * an oracled path via q_lm_score_indexed (which scores through the
    * persistent-catalog NgramLm directly).
    */
  def scoreAgainstSlice(df: DataFrame, idCol: String, textCol: String,
      ref: DataFrame, minCount: Long = 1L): DataFrame =
    scoreDocsAuto(df, idCol, textCol, train(ref, idCol, textCol, minCount))

  /** Model-size adaptive scorer (r16, guide §3 "replace the join when a
    * side fits"): [[scoreDocsDistilled]] when the count tables fit
    * `maxEntries` (one codegen'd hash-lookup pass, no corpus joins),
    * [[scoreDocs]]' three-join pipeline otherwise. Output is IDENTICAL
    * either way — the distilled kernel replicates the join arithmetic
    * bit for bit (spec-gated both sides of the gate; q_lm_score's oracle
    * hash-gates the composed result). The size probe is the distiller's
    * own bounded collect ([[distillIfFits]]) — at most `maxEntries + 1`
    * rows, never a corpus pass.
    */
  def scoreDocsAuto(df: DataFrame, idCol: String, textCol: String,
      lm: NgramLm, maxEntries: Int = DistillBudget): DataFrame =
    distillIfFits(lm, maxEntries) match {
      case Some(d) => scoreDocsDistilled(df, idCol, textCol, d)
      case None => scoreDocs(df, idCol, textCol, lm)
    }

  /** CCNet head/middle/tail perplexity bucketing (Wenzek et al.,
    * arXiv:1911.00359 §4.4): language-partitioned quality tiers — each
    * document is language-identified, LM-scored, and assigned to a
    * per-LANGUAGE bits-per-token tercile (nBins = 3: bin 0 = head =
    * most reference-like; CCNet's standard corpus cut keeps head+middle).
    * Bucketing is per language because absolute perplexity is not
    * comparable across languages — a global cut would keep whichever
    * language the reference models best and discard the rest wholesale.
    *
    * Scale shape: CCNet's own design point — per-language THRESHOLDS,
    * not a per-language sort. A `Window.partitionBy(lang)` would funnel
    * the dominant language (most of a web corpus) through ONE task; here
    * the cut values come from one grouped streaming percentile sketch
    * ([[Split.quantileCutsBy]], ≤ |languages|·(nBins−1) scalars) and
    * assignment is a broadcast join + map-side comparison fold
    * ([[Split.assignBinsBy]]) — nothing corpus-sized leaves the
    * executors, and the same distilled cuts drive the streaming gate
    * ([[graft.streaming.GraftStreaming.ccnetGateStream]]). With
    * `accuracy ≥ n` the sketch is exact-discrete, so the whole operator
    * hash-replays in SQL (the byQuantileApproxBy oracle discipline).
    *
    * Documents with zero tokens have no LM score and are dropped (the
    * scoreDocs contract). Output: (idCol, n_tokens, lm_bits,
    * bits_per_token, lang, bin) — bin ∈ [0, nBins).
    */
  def ccnetBuckets(df: DataFrame, idCol: String, textCol: String,
      ref: DataFrame, minCount: Long = 1L, nBins: Int = 3,
      accuracy: Int = 10000): DataFrame = {
    val scored = scoreAgainstSlice(df, idCol, textCol, ref, minCount)
    val lang = df.select(col(idCol),
      graft.functions.TextFunctions.langId(col(textCol)).as("lang"))
    // materialized once: the scored⋈lang relation feeds TWO consumers —
    // the grouped cut sketch and the assignment join — and without the
    // barrier the whole LM-scoring DAG executes twice while constraint
    // inference pushes isnotnull(langid-kernel) into the cuts branch as
    // a kernel-in-filter (the q_quality_gate discipline; PlanAssertSpec
    // gates this registry-wide)
    val t = Materialize.once(scored.join(lang, Seq(idCol)))
    Split.byQuantileApproxBy(t, "lang", "bits_per_token", nBins, accuracy)
  }

  /** DSIR importance weights (Xie et al., "Data Selection for Language
    * Models via Importance Resampling", arXiv:2302.03169) under the
    * whole-bits discipline: weight w(x) = p_target(x) / p_raw(x) under
    * two n-gram LMs, so log2 w(x) ≈ bits_raw(x) − bits_target(x) — the
    * same |bin| integer surprisal as [[scoreDocs]], computed under BOTH
    * models. Documents that look much more like the target distribution
    * than the raw one get large positive `dsir_bits`; DSIR keeps the
    * high-weight head (see `Split.curriculumSample` over
    * `dsir_bits_per_token` for the resampling step).
    *
    * Scale shape: the two models' count tables are joined full-outer
    * (bounded tables), and ONE corpus tokenize + transition stream probes
    * them in one [[wholeBits]] pass. Spec-gated exactly equal to two
    * independent [[scoreDocs]] passes.
    */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
      lmTarget: NgramLm, lmRaw: NgramLm): DataFrame = {
    require(lmTarget.vocabSize >= 1, "target vocabulary is empty")
    require(lmRaw.vocabSize >= 1, "raw vocabulary is empty")
    def both(keys: Seq[String], target: DataFrame, raw: DataFrame): DataFrame =
      target.select(keys.map(col) :+ col("c").as("cT"): _*)
        .join(raw.select(keys.map(col) :+ col("c").as("cR"): _*), keys, "full_outer")
    dsirColumns(wholeBits(tokenArrays(df, idCol, textCol),
      both(Seq("word"), lmTarget.unigrams, lmRaw.unigrams),
      both(Seq("w1", "w2"), lmTarget.bigrams, lmRaw.bigrams),
      dsirModels(lmTarget.totalTokens, lmTarget.vocabSize, lmRaw.totalTokens, lmRaw.vocabSize)),
      idCol)
  }

  /** The target and raw models of a DSIR [[wholeBits]] pass. */
  private def dsirModels(tT: Long, vT: Long, tR: Long, vR: Long): Seq[BitsModel] =
    Seq(BitsModel("cT", tT, vT, "bits_target"), BitsModel("cR", tR, vR, "bits_raw"))

  /** The five DSIR output columns from a two-model [[wholeBits]] sum. */
  private def dsirColumns(bits: DataFrame, idCol: String): DataFrame =
    bits.select(col("__id").as(idCol), col("n_tokens"),
      col("bits_target"), col("bits_raw"),
      (col("bits_raw") - col("bits_target")).as("dsir_bits"),
      round((col("bits_raw") - col("bits_target")).cast("double") / col("n_tokens"), 6)
        .as("dsir_bits_per_token"))

  /** Train-both-slices + weigh-corpus composition (the q_dsir shape):
    * the target slice plays Wikipedia/The Pile's trusted subset, the raw
    * slice plays the web crawl being re-weighted.
    *
    * FUSED since r15 (spec-gated exactly equal to
    * `dsirWeights(train(target), train(raw))`): the two models share one
    * physical plan instead of two independent [[train]]s —
    *
    *  - ONE tagged tokenize pass over the union of both reference slices
    *    (was: each slice scanned and tokenized separately);
    *  - conditional count aggregates produce BOTH models' unigram and
    *    bigram tables in one shuffle each, with the per-model
    *    `minCount`/in-vocab-ends cuts applied as column nulling on the
    *    combined tables (a count below its model's threshold scores as
    *    unseen — exactly the rows the per-model tables dropped);
    *  - both models' (T, V) scalars come from ONE driver action;
    *  - the corpus transition stream probes THREE combined count tables
    *    instead of six per-model ones — at broadcast size that halves
    *    the per-token hash probes, and when vocabulary outgrows
    *    broadcast it halves the number of corpus-sized shuffles.
    *
    * Arithmetic parity: a gram absent from one model's side of a
    * combined table carries NULL there, and `coalesce(c, 0)` in the bits
    * terms is exactly the old left-join miss.
    */
  def dsirAgainstSlices(df: DataFrame, idCol: String, textCol: String,
      targetRef: DataFrame, rawRef: DataFrame, minCount: Long = 1L): DataFrame = {
    val tagged = targetRef.select(col(idCol).as("__id"), col(textCol).as("__x"),
        lit(true).as("__tgt"))
      .unionAll(rawRef.select(col(idCol).as("__id"), col(textCol).as("__x"),
        lit(false).as("__tgt")))
    val toks = Materialize.once(tagged.select(words(col("__x")).as("__t"), col("__tgt")))
    dsirScore(toks, tokenArrays(df, idCol, textCol), idCol, minCount)
  }

  /** [[dsirAgainstSlices]] for the common case where both reference
    * slices are ID-predicate cuts of the SCORED corpus itself (the
    * q_dsir shape: target = doc_id%3=0, raw = doc_id%3=1): ONE corpus
    * tokenize feeds the model builders AND the scoring event stream —
    * the general entry tokenized the corpus twice (the tagged slice
    * union + the event stream; with 2/3-corpus slices that is 1.67
    * tokenize passes too many). Filtering after the per-row tokenize
    * equals tokenizing the filtered slice (tokens are a pure function of
    * the row), so this is spec-gated exactly equal to the general path.
    * Checkpoint trade: the shared token table covers the full corpus
    * where the general path checkpointed only the slice union — for
    * slice fractions this large (2/3) that is +1/3 checkpoint bytes for
    * −40% tokenize compute and one fewer corpus scan; for SMALL
    * reference slices keep the general entry (its checkpoint is
    * reference-bounded, the CCNet scale shape).
    */
  def dsirAgainstSlicePreds(df: DataFrame, idCol: String, textCol: String,
      targetPred: Column => Column, rawPred: Column => Column,
      minCount: Long = 1L): DataFrame = {
    val toksAll = Materialize.once(tokenArrays(df, idCol, textCol))
    val tagged = toksAll.where(targetPred(col("__id")))
        .select(col("__t"), lit(true).as("__tgt"))
      .unionAll(toksAll.where(rawPred(col("__id")))
        .select(col("__t"), lit(false).as("__tgt")))
    dsirScore(tagged, toksAll, idCol, minCount)
  }

  /** The shared fused-two-model scoring tail: `taggedToks` = the model
    * builders' token stream (`__t`, `__tgt`); `scoredToks` = the scored
    * corpus' token arrays (`__id`, `__t`).
    */
  private def dsirScore(taggedToks: DataFrame, scoredToks: DataFrame,
      idCol: String, minCount: Long): DataFrame = {
    val toks = taggedToks
    def sideCount(isTarget: Boolean) =
      sum(when(col("__tgt") === isTarget, 1L).otherwise(0L))
    // combined unigram table: per-model counts, each nulled below its
    // model's vocabulary threshold (== dropped from that model's table)
    val uniBoth = Materialize.once(
      toks.select(col("__tgt"), explode(col("__t")).as("word"))
        .groupBy("word")
        .agg(sideCount(true).as("__ct0"), sideCount(false).as("__cr0"))
        .select(col("word"),
          when(col("__ct0") >= minCount, col("__ct0")).as("cT"),
          when(col("__cr0") >= minCount, col("__cr0")).as("cR"))
        .where(col("cT").isNotNull || col("cR").isNotNull))
    // combined bigram table: raw per-model pair counts, NO vocab joins —
    // the closed-vocabulary restriction (count only if BOTH ends are in
    // that model's vocabulary) is applied at SCORING time from the
    // unigram lookups' nullness, which the event stream carries anyway
    // (__cw/__cu null ⇔ that end is out of that model's vocabulary).
    // Besides deleting two build-side joins, this keeps the table's
    // lineage a plain aggregate: the join-based construction inflated
    // the size estimate past the broadcast threshold and demoted the
    // event-stream bigram join to a SortMergeJoin that SHUFFLED the
    // whole corpus transition stream (r15 plan audit, q_dsir).
    val biBoth = Materialize.once(
      bigramPairs(toks, col("__tgt"))
        .groupBy("w1", "w2")
        .agg(sideCount(true).as("cT"), sideCount(false).as("cR")))
    // both models' (T, V) from ONE action
    val tv = uniBoth.agg(
      coalesce(sum(col("cT")), lit(0L)), count(col("cT")),
      coalesce(sum(col("cR")), lit(0L)), count(col("cR"))).head()
    val (tT, vT, tR, vR) = (tv.getLong(0), tv.getLong(1), tv.getLong(2), tv.getLong(3))
    require(vT >= 1, "target vocabulary is empty")
    require(vR >= 1, "raw vocabulary is empty")
    dsirColumns(wholeBits(scoredToks, uniBoth, biBoth, dsirModels(tT, vT, tR, vR)), idCol)
  }

  /** A distilled LM: the count tables collected into driver maps, bounded
    * by `maxEntries` (the Bloom-mBits / BPE-maxVocab driver-state
    * discipline — distillation REFUSES an unbounded model rather than
    * silently OOMing the driver). Bigram keys are `"w1 w2"` — tokens are
    * whitespace-split, so the space join is collision-free.
    */
  final case class DistilledLm(uni: Map[String, Long], bi: Map[String, Long],
      totalTokens: Long, vocabSize: Long)

  /** Collect a trained LM into plan-literal maps for [[scoreColumn]].
    * Use a `minCount`-bounded [[train]] (Heaps' law) to keep the tables
    * inside `maxEntries`; CCNet itself ships a compact distilled model to
    * its scoring pass rather than joining against raw counts.
    */
  def distill(lm: NgramLm, maxEntries: Int = DistillBudget): DistilledLm =
    distillIfFits(lm, maxEntries).getOrElse(throw new IllegalArgumentException(
      s"LM too large to distill: uni+bi > $maxEntries entries " +
        "(raise minCount at train time, or score with the join-based scoreDocs)"))

  /** [[distill]]'s size probe without the hard failure: Some(distilled)
    * when uni+bi fits `maxEntries`, None otherwise — the gate behind
    * [[scoreDocsAuto]]'s distilled-vs-join decision. Each table is
    * collected once, capped one row past what is left of the budget, so
    * the probe IS the distillation and the driver never holds more than
    * `maxEntries + 1` rows. A driver-held unigram table (the common case,
    * see [[fromRaw]]) collects without a job.
    */
  def distillIfFits(lm: NgramLm, maxEntries: Int = DistillBudget): Option[DistilledLm] =
    for {
      uni <- Materialize.collectUpTo(lm.unigrams.select("word", "c"), maxEntries)
      bi <- Materialize.collectUpTo(lm.bigrams.select("w1", "w2", "c"), maxEntries - uni.length)
    } yield DistilledLm(
      uni.map(r => r.getString(0) -> r.getLong(1)).toMap,
      bi.map(r => r.getString(0) + " " + r.getString(1) -> r.getLong(2)).toMap,
      lm.totalTokens, lm.vocabSize)

  /** Per-row surprisal under a distilled LM: ONE map-side expression —
    * token array fold with plan-literal map lookups, no joins, no
    * shuffle, no state — so it is streaming-append-safe (the stateless
    * quality gate, [[graft.streaming.GraftStreaming.lmScoreStream]]) and,
    * by construction, computes EXACTLY the same bits as the join-based
    * [[scoreDocs]] (spec-gated equal).
    *
    * Returns struct(n_tokens, lm_bits, bits_per_token); null for texts
    * with zero tokens (no probability is defined — the scoreDocs rows
    * that simply don't exist).
    */
  def scoreColumn(text: Column, d: DistilledLm): Column = {
    require(d.vocabSize >= 1, "reference vocabulary is empty")
    // ONE codegen'd imperative scan with real hash-table lookups
    // ([[graft.functions.DistilledLmScore]], r15). The previous Column
    // formulation — an aggregate() fold over element_at(typedLit(map))
    // lookups — was O(|model|) PER TOKEN: Catalyst's GetMapValue over a
    // literal map is a linear scan, and the whole higher-order-function
    // chain ran interpreted (CodegenFallback). Measured 107 s → sub-
    // second for a 15k-entry model over the x16 twin (ProbeDistill).
    // Arithmetic and tokenization parity are the kernel's contract
    // (spec-gated equal to the join-based scoreDocs; oracle-replayed).
    org.apache.spark.sql.GraftBridge.column(graft.functions.DistilledLmScore(
      org.apache.spark.sql.GraftBridge.expression(text),
      d.uni, d.bi, d.totalTokens, d.vocabSize))
  }

  /** [[scoreDocs]]' exact output through the distilled map-side scorer —
    * same schema, same rows, zero shuffles and zero joins on the corpus
    * pass (the 100 TB shape when the model fits the plan).
    */
  def scoreDocsDistilled(df: DataFrame, idCol: String, textCol: String,
      d: DistilledLm): DataFrame =
    // KeepRows: an isNotNull where on the aliased fold would re-inline
    // the WHOLE scoring fold into the pushed-down Filter (no
    // subexpression elimination there) — the fold evaluates once here
    KeepRows.nonNull(df.select(col(idCol), col(textCol)), "__s",
        scoreColumn(col(textCol), d))
      .select(col(idCol), col("__s.n_tokens").as("n_tokens"),
        col("__s.lm_bits").as("lm_bits"),
        col("__s.bits_per_token").as("bits_per_token"))
}
