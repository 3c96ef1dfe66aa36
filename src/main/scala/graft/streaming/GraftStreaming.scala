package graft.streaming

import graft.core.Fold
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Structured Streaming extension surface.
  *
  * The reference has no distributed streaming at all (its Rx platform is a
  * push-based LOCAL evaluator — SURVEY.md §2.10), so this module is pure
  * extension: the same operator algebra over unbounded input. The design
  * carries over directly because every [[graft.core.Fold]] is algebraic
  * (associative merge + finisher): a fold is a streaming-compatible
  * aggregation by construction — Spark keeps the fold buffer as incremental
  * state per key/window, identical to the batch map-side combine.
  *
  * Scale notes: watermarks bound state; window+key grouping shuffles on the
  * same native-lane keys as batch; session state is one small case class
  * per open session, evicted by event-time timeout.
  */
object GraftStreaming {

  // ---- sources (streaming duals of GraftIO loaders) ----

  def loadStreamJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).json(path)

  def loadStreamCsv(spark: SparkSession, path: String, schema: StructType,
      sep: String = ","): DataFrame =
    spark.readStream.schema(schema).option("sep", sep).csv(path)

  def loadStreamParquet(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(path)

  // ---- windowed aggregation ----

  /** Event-time tumbling (or sliding, if `slide` differs from `windowDur`)
    * window aggregation with a watermark: `readStream → groupBy(window, keys)
    * → agg`. Late rows beyond `watermarkDelay` are dropped; in append mode a
    * window emits once, when the watermark passes its end.
    */
  def windowedAgg(df: DataFrame, tsCol: String, watermarkDelay: String,
      windowDur: String, slide: Option[String] = None)(
      groupCols: Seq[Column], aggs: Seq[Column]): DataFrame = {
    require(aggs.nonEmpty, "windowedAgg needs at least one aggregate column")
    df.withWatermark(tsCol, watermarkDelay)
      .groupBy(groupCols :+ slide.fold(window(col(tsCol), windowDur))(
        s => window(col(tsCol), windowDur, s)): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Windowed fold: per (key, tumbling window) algebraic aggregation. The
    * fold buffer is the incremental streaming state — nothing about the fold
    * changes between batch and stream. The fold consumes [[Row]]s (the
    * window groupBy is an untyped grouping); `premap` from the row shape.
    */
  def windowedFold[B, C](df: DataFrame, tsCol: String, watermarkDelay: String,
      windowDur: String, keyCol: Column)(fold: Fold[org.apache.spark.sql.Row, B, C])(
      implicit cEnc: Encoder[C]): DataFrame =
    df.withWatermark(tsCol, watermarkDelay)
      .groupBy(keyCol.as("key"), window(col(tsCol), windowDur).as("win"))
      .agg(fold.toColumn.asInstanceOf[org.apache.spark.sql.TypedColumn[Any, C]].as("agg"))

  /** Streaming top-k: per (key, tumbling window) the k largest (or
    * smallest) values via the same bounded-heap aggregate the batch lane
    * uses ([[graft.functions.AggExpressions.topK]]) — streaming state per
    * open window is the O(k) heap buffer, never the value bag, so a
    * hot key at ingest scale holds k elements of state, not its history.
    * Append mode: each window's top-k emits once, when the watermark
    * passes the window end.
    */
  def windowedTopK(df: DataFrame, tsCol: String, watermarkDelay: String,
      windowDur: String, keyCol: Column, valueCol: Column, k: Int,
      largest: Boolean = true): DataFrame = {
    val agg = if (largest) graft.functions.AggExpressions.topK(valueCol, k)
      else graft.functions.AggExpressions.bottomK(valueCol, k)
    df.withWatermark(tsCol, watermarkDelay)
      .groupBy(keyCol.as("key"), window(col(tsCol), windowDur).as("win"))
      .agg(agg.as("topk"))
  }

  /** Streaming heavy hitters: one Misra-Gries summary per group key,
    * updated each trigger and emitted in Update mode as (group, word, est,
    * n). State is the sketch itself — k counters + processed-count, so
    * per-group state is O(k) regardless of stream length or vocabulary
    * (the reason to sketch at all: an exact streaming token count would
    * hold vocabulary-sized state forever). Within a group the sketch
    * evolves by sequential `reduce` across batches, so the classic
    * guarantee holds over everything processed so far: every token with
    * true count > n/(k+1) is present, and reported counts undershoot by
    * at most n/(k+1) (spec-gated, not SQL-replayable — the summary
    * depends on arrival order).
    */
  def heavyHittersStream(df: DataFrame, groupCol: String, textCol: String,
      k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val agg = new graft.operators.Frequent.MisraGriesAgg(k)
    df.select(col(groupCol).cast("string").as("grp"),
        explode(graft.functions.TextFunctions.words(col(textCol))).as("word"))
      .as[(String, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[graft.operators.Frequent.MgState, (String, Map[String, Long], Long)](
        GroupStateTimeout.NoTimeout) {
        (grp: String, rows: Iterator[(String, String)],
            state: GroupState[graft.operators.Frequent.MgState]) =>
          var s = state.getOption.getOrElse(agg.zero)
          rows.foreach { case (_, w) => s = agg.reduce(s, w) }
          state.update(s)
          (grp, agg.finish(s), s.n)
      }
      .toDF("grp", "summary", "n")
      .select(col("grp").as(groupCol), col("n"),
        explode(col("summary")).as(Seq("word", "est")))
      .select(col(groupCol), col("word"), col("est"), col("n"))
  }

  // ---- sessionization (custom state via flatMapGroupsWithState) ----

  /** Event-time sessionization: events for a key belong to one session while
    * gaps stay under `gapMs`; a session closes (and emits, append-mode) when
    * the watermark passes its end + gap. State per open session is one
    * 3-field struct — bounded, watermark-evicted.
    *
    * `tsCol` must be a TimestampType column of `ds`'s schema (watermark
    * anchor); `eventMs` extracts the same instant from the typed row.
    */
  def sessionize[T, K](ds: Dataset[T], tsCol: String, watermarkDelay: String,
      gapMs: Long)(key: T => K, eventMs: T => Long)(
      implicit kEnc: Encoder[K], sEnc: Encoder[Session[K]]): Dataset[Session[K]] = {
    implicit val tEnc: Encoder[T] = ds.encoder
    implicit val stEnc: Encoder[SessionState] = Encoders.product[SessionState]
    ds.withWatermark(tsCol, watermarkDelay)
      .groupByKey(key)
      .flatMapGroupsWithState[SessionState, Session[K]](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (k: K, events: Iterator[T], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(k, s.startMs, s.endMs, s.events))
          } else {
            var s = state.getOption.getOrElse(SessionState(Long.MaxValue, Long.MinValue, 0L))
            var closed = List.empty[Session[K]]
            // events within one trigger arrive unordered: fold min/max/count;
            // a gap larger than gapMs inside the batch splits sessions
            val sorted = events.map(eventMs).toArray
            java.util.Arrays.sort(sorted)
            sorted.foreach { t =>
              if (s.events > 0 && t - s.endMs > gapMs) {
                closed ::= Session(k, s.startMs, s.endMs, s.events)
                s = SessionState(t, t, 1L)
              } else {
                s = SessionState(math.min(s.startMs, t), math.max(s.endMs, t), s.events + 1)
              }
            }
            state.update(s)
            state.setTimeoutTimestamp(s.endMs + gapMs)
            closed.reverseIterator
          }
      }
  }

  // ---- streaming dedup (training-pipeline ingest path) ----

  /** Streaming exact dedup on `keyCols`: the first row per key within the
    * watermark horizon survives; duplicates arriving later than
    * `watermarkDelay` after the original are dropped as late data. State
    * (one entry per distinct key) is watermark-evicted — the unbounded
    * "seen set" of a naive streaming dedup is exactly what this avoids at
    * corpus-ingest scale.
    */
  /** Stateless streaming decontamination: score each arriving doc against
    * a Bloom filter built ONCE from the static benchmark table when the
    * stream is DEFINED, keep rows at or below `maxContamination`. The
    * probe is a pure codegen'd projection
    * ([[graft.operators.Bloom.contaminationColumn]]) — no state, no
    * watermark, append-safe; the scored column rides along as
    * `contamination_bloom`. Refresh cadence for a moving benchmark set is
    * the caller's restart policy (the filter is immutable per run — the
    * same property that makes it exactly replayable).
    */
  def decontaminateStream(stream: DataFrame, textCol: String,
      benchmark: DataFrame, maxContamination: Double, shingle: Int = 3,
      mBits: Int = 1 << 20, k: Int = 3): DataFrame = {
    val bits = graft.operators.Bloom.buildFilter(benchmark, textCol, shingle, mBits, k)
    // KeepRows: a withColumn+where shape would re-evaluate the bloom
    // probe kernel in the pushed-down Filter (r15; KeepRows scaladoc)
    graft.operators.KeepRows.matching(stream, "contamination_bloom",
      graft.operators.Bloom.contaminationColumn(col(textCol), bits, shingle, mBits, k),
      _ <= maxContamination)
  }

  /** Stateless line-wise corrections on a stream
    * ([[graft.operators.LineCorrections.clean]] — RefinedWeb §3.3): the
    * per-line rules and the whole-doc removed-bytes drop are pure
    * column arithmetic with no corpus state, so the gate is append-safe
    * with no watermark; output replaces `textCol` with the cleaned
    * text under the same name (the downstream pipeline sees corrected
    * documents transparently).
    */
  def lineCorrectionsStream(stream: DataFrame, idCol: String, textCol: String,
      maxRemovedNum: Int = 1, maxRemovedDen: Int = 20): DataFrame =
    graft.operators.LineCorrections.clean(stream, idCol, textCol,
        maxRemovedNum, maxRemovedDen)
      .withColumnRenamed("clean_text", textCol)

  /** [[decontaminateStream]] through the WINNOWED index
    * ([[graft.operators.Winnow]]): the filter is built from the
    * benchmark's winnowed fingerprints — an expected 2/(w+1) of its
    * grams, so the in-plan bitmap is ~(w+1)/2 × smaller at the same
    * false-positive rate while keeping winnowing's ≥ w+k−1-token
    * detection guarantee. Same stateless append-safe shape; the scored
    * column rides along as `winnow_contamination_bloom`.
    */
  def winnowDecontaminateStream(stream: DataFrame, textCol: String,
      benchmark: DataFrame, maxContamination: Double, shingle: Int = 3,
      w: Int = 4, mBits: Int = 1 << 20, k: Int = 3): DataFrame = {
    val bits = graft.operators.Winnow.buildFilter(benchmark, textCol, shingle, w, mBits, k)
    graft.operators.KeepRows.matching(stream, "winnow_contamination_bloom",
      graft.operators.Winnow.contaminationBloomColumn(col(textCol), bits, shingle, w, mBits, k),
      _ <= maxContamination)
  }

  /** [[winnowDecontaminateStream]] with CONTENT-DEFINED chunk
    * fingerprints ([[graft.operators.Cdc]]): the catalog (previous
    * crawls / benchmark pools) distills once to an mBits-bounded bloom
    * over its chunk fps, and each arriving document scores as the
    * fraction of its own chunks present — shift-robust where the
    * winnowed-gram gate needs token alignment (a re-crawl with one
    * inserted byte still matches its unchanged tail chunks). Same
    * stateless append-safe shape; the score rides along as
    * `cdc_contamination_bloom`.
    */
  def cdcDecontaminateStream(stream: DataFrame, textCol: String,
      catalog: DataFrame, maxContamination: Double,
      minSize: Int = 32, avgBits: Int = 6, maxSize: Int = 256,
      mBits: Int = 1 << 20, k: Int = 3): DataFrame = {
    val bits = graft.operators.Cdc.buildFilter(catalog, textCol,
      minSize, avgBits, maxSize, mBits, k)
    graft.operators.KeepRows.matching(stream, "cdc_contamination_bloom",
      graft.operators.Cdc.contaminationBloomColumn(col(textCol), bits,
        minSize, avgBits, maxSize, mBits, k),
      _ <= maxContamination)
  }

  /** Stateless blocklist gate — the C4 badwords stage at ingest
    * ([[graft.operators.Blocklist.gate]]): one Aho–Corasick scan per
    * arriving document for the whole pattern set (a plan-constant
    * automaton — no join, no shuffle, no state, append-safe), drop past
    * `maxHits` total occurrences. `blocklist_hits` rides along;
    * stream==batch agreement is definitional (same column expression)
    * and spec-gated.
    */
  def blocklistStream(stream: DataFrame, textCol: String,
      patterns: Seq[String], maxHits: Long = 0L): DataFrame =
    graft.operators.Blocklist.gate(stream, textCol, patterns, maxHits)

  /** Stateless streaming CDC chunk REMOVAL — the exact ingest form of
    * [[graft.operators.Cdc.dedupAgainst]] (the bloom gate
    * [[cdcDecontaminateStream]] DROPS contaminated documents; this one
    * EXCISES the cataloged chunks and keeps the rest): chunk each
    * arriving document in-row via the gear-hash kernel, filter out
    * chunks whose fp is in the DISTILLED catalog
    * ([[graft.operators.Cdc.distillCatalog]] — bounded, plan-literal,
    * the [[paragraphDedupStream]] driver-state discipline), and rejoin
    * the surviving pieces in order (in-row arrays preserve chunk order —
    * no explode, no join, no shuffle, no state; append-safe). Documents
    * whose every chunk is cataloged drop wholesale; EMPTY documents
    * chunk to nothing and survive as '' — both exactly the batch
    * operator's contract, so stream==batch is spec-gated EXACT.
    *
    * `textCol` is replaced by the cleaned text in the output. Catalog
    * refresh is the caller's restart policy; a catalog too large to
    * distill belongs in the batch join form run as compaction.
    */
  def cdcDedupAgainstStream(stream: DataFrame, textCol: String,
      catalogFps: Array[String], minSize: Int = 32, avgBits: Int = 6,
      maxSize: Int = 256): DataFrame = {
    val chunks = graft.functions.CdcChunks.chunksCol(col(textCol),
      minSize, avgBits, maxSize)
    val kept =
      if (catalogFps.isEmpty) chunks
      else {
        val catM = typedLit[Map[String, Int]](catalogFps.map(_ -> 1).toMap)
        filter(chunks, c => element_at(catM, c.getField("fp")).isNull)
      }
    // judge emptiness on the ORIGINAL text (an input-empty doc survives
    // as ''; an all-cataloged doc's clean text is also '' and must DROP),
    // so the clean text stages through a temp column before replacing.
    // KeepRows: the chunk-scan+reassembly evaluates once — the old
    // withColumn+where shape re-inlined it into the pushed-down filter
    graft.operators.KeepRows.matching(stream, "__cdc_clean",
        array_join(transform(kept, c => c.getField("piece")), ""),
        c => coalesce(length(col(textCol)), lit(0)) === 0 || c =!= "")
      .withColumn(textCol, col("__cdc_clean"))
      .drop("__cdc_clean")
  }

  /** The round-15 composed streaming curation — the streaming dual of the
    * batch q_pipeline_v5 stack: stateless RefinedWeb line corrections →
    * stateless EXACT CDC chunk removal against a distilled catalog
    * ([[cdcDedupAgainstStream]]) → stateless distilled-LM surprisal gate.
    * Every stage is a pure per-row projection/filter over plan literals —
    * no joins, no shuffle, no state, no watermark — so the composition is
    * append-safe end to end and EXACTLY equals the batch composition of
    * the same stages on the same rows (spec-gated). The batch pipeline's
    * packing tail is deliberately absent: example packing is a
    * cumulative-order fold (inherently batch/compaction work); the
    * streaming tail hands gated, cleaned documents to
    * [[mixtureStream]]/[[unimaxStream]] or a packing compaction job.
    * Output: (`idCol`, `textCol` cleaned twice, `bits_per_token`) — the
    * line-corrections stage projects to (id, text) like its batch
    * operator.
    */
  def curateStreamV5(stream: DataFrame, textCol: String, idCol: String,
      catalogFps: Array[String],
      lm: graft.operators.LanguageModel.DistilledLm, maxBitsPerToken: Double,
      maxRemovedNum: Int = 1, maxRemovedDen: Int = 20,
      minSize: Int = 32, avgBits: Int = 6, maxSize: Int = 256): DataFrame =
    lmScoreStream(
      cdcDedupAgainstStream(
        lineCorrectionsStream(stream, idCol, textCol, maxRemovedNum, maxRemovedDen),
        textCol, catalogFps, minSize, avgBits, maxSize),
      textCol, lm, maxBitsPerToken)

  /** Stateless temperature-mixture gate — the streaming source
    * re-weighter the batch lane gets from
    * [[graft.operators.Mixture.sqrtMixtureSample]]. The per-source keep
    * thresholds are distilled ONCE from a STATIC corpus profile (the
    * same sqrt-share arithmetic, bit-identical), and because the keep
    * decision is a pure function of (source, id) — the replayable LCG
    * threshold scheme — the stream form is a broadcast join + map-side
    * filter: no state, no watermark, append-safe, and EXACTLY the rows
    * the batch operator keeps on the same data (spec-gated against the
    * q_mixture oracle config). Re-profiling a drifting source
    * distribution is the caller's restart policy, same contract as
    * [[decontaminateStream]]'s benchmark filter.
    *
    * Unseen-source contract (spec-pinned): a source that first appears
    * MID-STREAM — one the static profile never saw — is DROPPED by the
    * default inner rate join until a restart re-profiles it; pass
    * `defaultRate = Some(r)` to gate unseen sources at `r` instead
    * (Some(1.0) = pass through whole) when losing a brand-new source
    * until the next restart is the wrong trade.
    */
  def mixtureStream(stream: DataFrame, sourceCol: String, idCol: String,
      profile: DataFrame, targetFraction: Double,
      defaultRate: Option[Double] = None): DataFrame =
    graft.operators.Mixture.applyRates(stream, sourceCol, idCol,
      graft.operators.Mixture.sqrtMixtureRates(profile, sourceCol, targetFraction),
      defaultRate)

  /** [[mixtureStream]] under a TOKEN-mass profile — the production
    * budget unit ([[graft.operators.Mixture.sqrtMixtureRatesBy]]):
    * thresholds distill once from the static profile's per-source token
    * sums; the per-row gate is the same stateless broadcast-join LCG
    * filter, so stream and batch keep exactly the same rows (spec-gated
    * against the q_mixture_tokens config). Unseen sources follow the
    * [[mixtureStream]] contract: dropped by default, `defaultRate`
    * opts into a pass-through rate.
    */
  def mixtureStreamBy(stream: DataFrame, sourceCol: String, idCol: String,
      profile: DataFrame, weight: org.apache.spark.sql.Column,
      targetFraction: Double, defaultRate: Option[Double] = None): DataFrame =
    graft.operators.Mixture.applyRates(stream, sourceCol, idCol,
      graft.operators.Mixture.sqrtMixtureRatesBy(
        profile, sourceCol, weight, targetFraction), defaultRate)

  /** Streaming UniMax gate — materialize a budget-capped mixture plan
    * ([[graft.operators.Mixture.unimaxQuotas]], distilled ONCE from a
    * static profile) on an unbounded ingest stream: each arriving row is
    * repeated for its source's full epochs plus the LCG-thresholded
    * partial epoch, exactly the batch [[graft.operators.Mixture.unimaxApply]]
    * arithmetic. Broadcast quota join + pure per-row explode — no state,
    * no watermark, append-safe; `epoch` rides along. Quota refresh on a
    * drifting profile is the caller's restart policy, same contract as
    * [[mixtureStream]].
    *
    * Unseen-source contract (spec-pinned): a source with NO quota row —
    * one that appeared after the quotas were distilled — is DROPPED by
    * the inner quota join until a restart re-plans. There is
    * deliberately no pass-through default here: a UniMax quota is a
    * BUDGET allocation, and admitting an unplanned source at any default
    * epoch count would silently overspend the budget the quotas exist to
    * enforce (the rate gates' `defaultRate` has no such invariant).
    */
  def unimaxStream(stream: DataFrame, sourceCol: String, idCol: String,
      quotas: DataFrame): DataFrame =
    graft.operators.Mixture.unimaxApply(stream, sourceCol, idCol, quotas)

  /** Streaming quantile-bin gate — assign arriving rows to population
    * quantile bins whose cut edges were distilled ONCE from a static
    * corpus profile ([[graft.operators.Split.quantileCuts]], the sketch
    * aggregate). Assignment is the pure map-side comparison chain
    * ([[graft.operators.Split.assignBins]]): no state, no watermark,
    * append-safe, and bit-identical to the batch
    * [[graft.operators.Split.byQuantileApprox]] when the profile IS the
    * data (spec-gated). Re-profiling a drifting score distribution is
    * the caller's restart policy — the [[mixtureStream]] contract.
    */
  def quantileBinStream(stream: DataFrame, scoreCol: String,
      profile: DataFrame, nBins: Int, accuracy: Int = 10000): DataFrame =
    graft.operators.Split.assignBins(stream, scoreCol,
      graft.operators.Split.quantileCuts(profile, scoreCol, nBins, accuracy), nBins)

  /** Per-GROUP streaming quantile-bin gate — arriving rows bin against
    * THEIR GROUP's cut edges, distilled once from a static profile
    * ([[graft.operators.Split.quantileCutsBy]] — one grouped sketch
    * aggregate) and applied as a stream-static broadcast join + in-row
    * fold ([[graft.operators.Split.assignBinsBy]]). No state, no
    * watermark, append-safe; bit-identical to the batch
    * [[graft.operators.Split.byQuantileApproxBy]] when the profile is
    * the data (spec-gated). Groups unseen at profile time bin 0 — the
    * restart-to-reprofile contract.
    */
  def quantileBinStreamBy(stream: DataFrame, groupCol: String, scoreCol: String,
      profile: DataFrame, nBins: Int, accuracy: Int = 10000): DataFrame =
    graft.operators.Split.assignBinsBy(stream, groupCol, scoreCol,
      graft.operators.Split.quantileCutsBy(profile, groupCol, scoreCol, nBins, accuracy),
      nBins)

  /** Streaming curriculum gate — [[quantileBinStream]] composed with the
    * per-bin LCG keep ladder ([[graft.operators.Split.rateThresholds]]):
    * keep an arriving row iff lcg31(id) clears its distilled bin's rate.
    * Pure per-row arithmetic on distilled literals — no state, no
    * watermark, append-safe — and exactly the rows the batch
    * [[graft.operators.Split.curriculumSampleApprox]] keeps on the same
    * data when the profile is the corpus itself (spec-gated).
    */
  def curriculumStream(stream: DataFrame, scoreCol: String, idCol: String,
      profile: DataFrame, rates: Seq[(Long, Long)],
      accuracy: Int = 10000): DataFrame = {
    val binned = quantileBinStream(stream, scoreCol, profile, rates.length, accuracy)
    val thr = graft.operators.Split.rateThresholds(rates)
    // literal lookup, not a join: `bin` here is already a cheap chain over
    // the stream's own score column, and stream-side broadcast joins add a
    // per-microbatch plan cost for no pruning win on 10 literals. (The
    // BATCH operator routes this through a broadcast join because ITS bin
    // rides a heavy projected kernel — ProbeQap; a stream caller passing a
    // heavy score column should project it to a real column first.)
    binned.where(graft.operators.Split.lcg31(col(idCol)) <
      element_at(typedlit(thr), col("bin") + 1))
  }

  /** Streaming RAG chunking — [[graft.operators.Retrieval.chunkByTokens]]
    * applied at ingest: every arriving document explodes into its
    * fixed-token overlapping windows (chunk_id, n_tokens, chunk_text).
    * Pure projection + explode (no shuffle/state/watermark), so the
    * stream layout is byte-identical to the batch operator's on the same
    * rows — the natural upstream of a streaming embedding/indexing sink.
    */
  def chunkStream(stream: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, stride: Int): DataFrame =
    graft.operators.Retrieval.chunkByTokens(stream, idCol, textCol, chunkTokens, stride)

  /** Stateless n-gram LM quality gate — CCNet's perplexity filter as a
    * streaming stage: score each arriving document's per-token surprisal
    * under a DISTILLED count LM
    * ([[graft.operators.LanguageModel.scoreColumn]] — plan-literal maps,
    * one map-side fold, no joins/shuffle/state) and drop everything above
    * `maxBitsPerToken`. The scored column rides along as
    * `bits_per_token`; texts with zero tokens are dropped (no probability
    * is defined). Model refresh is the caller's restart policy, same
    * contract as [[decontaminateStream]]'s benchmark filter.
    */
  def lmScoreStream(stream: DataFrame, textCol: String,
      lm: graft.operators.LanguageModel.DistilledLm,
      maxBitsPerToken: Double): DataFrame =
    // one LM fold per row (KeepRows; the old withColumn+where shape
    // re-evaluated the fold in the pushed-down null/threshold filters)
    graft.operators.KeepRows.matching(stream, "__lm",
        graft.operators.LanguageModel.scoreColumn(col(textCol), lm),
        s => s.isNotNull && s.getField("bits_per_token") <= maxBitsPerToken)
      .withColumn("bits_per_token", col("__lm.bits_per_token"))
      .drop("__lm")

  /** Stateless DSIR importance gate — the streaming form of
    * [[graft.operators.LanguageModel.dsirWeights]]: score each arriving
    * document under TWO distilled count LMs (target and raw), keep rows
    * whose importance weight in whole bits (bits_raw − bits_target, the
    * log2 of the DSIR weight) is at least `minDsirBits`. Both scores are
    * plan-literal map-side folds — no joins, no shuffle, no state — so
    * the gate is append-safe; the weight rides along as `dsir_bits`.
    * Zero-token texts are dropped (no probability is defined). Exactly
    * the batch arithmetic: scoreColumn is spec-gated equal to the
    * join-based scoreDocs, and dsirWeights to two scoreDocs passes, so
    * stream==batch agreement is compositional (and spec-tripped in
    * GraftStreamingSpec).
    */
  def dsirStream(stream: DataFrame, textCol: String,
      lmTarget: graft.operators.LanguageModel.DistilledLm,
      lmRaw: graft.operators.LanguageModel.DistilledLm,
      minDsirBits: Long): DataFrame =
    // each fold evaluates once (KeepRows); the dsir_bits threshold then
    // filters on attribute field arithmetic, nothing re-inlines
    graft.operators.KeepRows.nonNull(
        graft.operators.KeepRows.nonNull(stream, "__t",
          graft.operators.LanguageModel.scoreColumn(col(textCol), lmTarget)),
        "__r", graft.operators.LanguageModel.scoreColumn(col(textCol), lmRaw))
      .withColumn("dsir_bits", col("__r.lm_bits") - col("__t.lm_bits"))
      .drop("__t", "__r")
      .where(col("dsir_bits") >= minDsirBits)

  /** Stateless CCNet bucket gate — the streaming form of
    * [[graft.operators.LanguageModel.ccnetBuckets]]: each arriving
    * document is language-identified (one codegen kernel), LM-scored
    * under a DISTILLED count model (plan-literal map-side fold), then
    * assigned to ITS LANGUAGE's distilled bits-per-token bucket via the
    * stream-static broadcast cut join
    * ([[graft.operators.Split.assignBinsBy]]); rows binning past
    * `maxBin` are dropped (CCNet's standard corpus keeps head+middle =
    * maxBin 1 of 3). `cuts` is the (lang, __cs) relation distilled once
    * from a static profile ([[graft.operators.Split.quantileCutsBy]]
    * over a ccnetBuckets-scored corpus — the batch output carries both
    * columns). No state, no watermark, append-safe; bin assignment is
    * bit-identical to the batch operator's on the same cuts because
    * scoreColumn is spec-gated equal to the join-based scorer
    * (stream==batch gated in GraftStreamingSpec). Languages unseen at
    * profile time bin 0 — the restart-to-reprofile contract.
    */
  def ccnetGateStream(stream: DataFrame, textCol: String,
      lm: graft.operators.LanguageModel.DistilledLm, cuts: DataFrame,
      nBins: Int, maxBin: Int): DataFrame = {
    val scored = graft.operators.KeepRows.nonNull(stream, "__lm",
        graft.operators.LanguageModel.scoreColumn(col(textCol), lm))
      .withColumn("bits_per_token", col("__lm.bits_per_token"))
      .drop("__lm")
      .withColumn("lang", graft.functions.TextFunctions.langId(col(textCol)))
    graft.operators.Split.assignBinsBy(scored, "lang", "bits_per_token",
        cuts, nBins)
      .where(col("bin") <= maxBin)
  }

  /** Stateless cross-corpus SoftDeDup gate — the streaming form of
    * [[graft.operators.Dedup.softWeightsAgainst]]: each arriving document
    * is weighed against a DISTILLED reference gram-df map
    * ([[graft.operators.Dedup.distillGramDf]] over an
    * [[graft.operators.AnnIndex.loadGramDf]] catalog — bounded, loudly
    * require-guarded) via one kernel pass + one plan-literal map fold
    * ([[graft.operators.Dedup.softWeightColumn]]); rows whose weight
    * falls below `minWeight` (too much of their content recurs in the
    * reference) are dropped, the weight rides along as `soft_weight`.
    * No joins, no shuffle, no state, append-safe; spec-gated exactly
    * equal to the batch join form on the same counts
    * (GraftStreamingSpec). Catalog refresh is the caller's restart
    * policy — the [[decontaminateStream]] contract.
    */
  def softDedupStream(stream: DataFrame, textCol: String,
      dfMap: Map[Long, Long], minWeight: Double,
      shingle: Int = 2): DataFrame =
    graft.operators.KeepRows.matching(stream, "soft_weight",
      graft.operators.Dedup.softWeightColumn(col(textCol), dfMap, shingle)
        .getField("weight"),
      _ >= minWeight)

  /** The composed streaming curation pipeline — the streaming dual of the
    * batch q_pipeline (quality gate → exact dedup → decontamination):
    * stateless quality filter, watermark-bounded canonical-text dedup,
    * stateless Bloom decontamination against a static benchmark. Output
    * carries `contamination_bloom`; the only stateful stage is the dedup
    * (watermark-evicted seen-fingerprints), so the pipeline's state bound
    * is exactly [[dedupTextStream]]'s.
    */
  def curateStream(stream: DataFrame, tsCol: String, watermarkDelay: String,
      textCol: String, minQuality: Double, benchmark: DataFrame,
      maxContamination: Double, shingle: Int = 3,
      mBits: Int = 1 << 20, k: Int = 3): DataFrame =
    decontaminateStream(
      dedupTextStream(
        stream.where(
          graft.functions.TextFunctions.qualityScore(col(textCol)) >= minQuality),
        tsCol, watermarkDelay, textCol),
      textCol, benchmark, maxContamination, shingle, mBits, k)

  /** The round-9 composed streaming curation — every signal the batch
    * q_pipeline_signals/q_pipeline_curated stack uses, in its streaming
    * form. Stage order mirrors cost: the three STATELESS gates run first
    * (byte-entropy band and distilled-LM surprisal are pure map-side
    * expressions; the mixture gate is a broadcast join + pure filter), so
    * the only stateful stage — watermark-bounded exact dedup — and the
    * stateless Bloom decontamination see only surviving rows. State
    * bound is exactly [[dedupTextStream]]'s; everything else is
    * append-safe with no watermark interaction. Scored columns ride
    * along (`bits_per_token`, `contamination_bloom`).
    */
  def curateStreamSignals(stream: DataFrame, tsCol: String, watermarkDelay: String,
      textCol: String, idCol: String, sourceCol: String,
      lm: graft.operators.LanguageModel.DistilledLm, maxBitsPerToken: Double,
      minBitsPerChar: Double, maxBitsPerChar: Double,
      mixtureProfile: DataFrame, targetFraction: Double,
      benchmark: DataFrame, maxContamination: Double): DataFrame = {
    // the entropy kernel appears twice in the band predicate; FilterExec
    // has no subexpression elimination, so stage it as a KeepRows column
    // (one kernel eval) instead of a raw two-sided where
    val nChars = length(col(textCol))
    val entropyGated = graft.operators.KeepRows.matching(
        stream.where(nChars > 0), "__ent",
        graft.functions.HashExpressions.byteEntropyBits(
          encode(col(textCol), "UTF-8")),
        e => e >= nChars * minBitsPerChar && e <= nChars * maxBitsPerChar)
      .drop("__ent")
    val lmGated = lmScoreStream(entropyGated, textCol, lm, maxBitsPerToken)
    val mixed = mixtureStream(lmGated, sourceCol, idCol, mixtureProfile, targetFraction)
    decontaminateStream(
      dedupTextStream(mixed, tsCol, watermarkDelay, textCol),
      textCol, benchmark, maxContamination)
  }

  def dedupExactStream(df: DataFrame, tsCol: String, watermarkDelay: String,
      keyCols: Seq[String]): DataFrame =
    df.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-vs-static exact dedup: drop arriving docs whose canonical
    * fingerprint already exists in a STATIC reference corpus — "don't
    * re-ingest what the lake already holds", the stateless complement of
    * [[dedupTextStream]] (within-stream) and of the persistent
    * fingerprint catalog ([[graft.operators.AnnIndex]], for a reference
    * that itself grows). Planned as a stream-static left-anti hash join;
    * the reference side broadcasts under AQE when it fits.
    */
  def dedupAgainstStream(stream: DataFrame, textCol: String,
      reference: DataFrame, refTextCol: String): DataFrame = {
    val refFp = reference.select(
      graft.functions.TextFunctions.fingerprint(col(refTextCol)).as("__fp")).distinct()
    stream.withColumn("__fp", graft.functions.TextFunctions.fingerprint(col(textCol)))
      .join(refFp, Seq("__fp"), "left_anti")
      .drop("__fp")
  }

  /** Stateless streaming paragraph dedup — the RefinedWeb/Dolma
    * boilerplate stage ([[graft.operators.Dedup.paragraphDedup]]) as an
    * ingest gate: drop every paragraph of an arriving document whose
    * canonical fingerprint appears in a DISTILLED static catalog
    * ([[graft.operators.Dedup.distillParagraphCatalog]] — bounded,
    * plan-literal, the [[lmScoreStream]] driver-state discipline),
    * reassemble the survivors in original order, and drop documents left
    * all-boilerplate. Pure per-row column arithmetic — no explode, no
    * join, no shuffle, no state — so the gate is append-safe; spec-gated
    * EXACTLY equal to the join-based batch form
    * ([[graft.operators.Dedup.paragraphDedupAgainst]]) on the same data.
    * Catalog refresh is the caller's restart policy, same contract as
    * [[decontaminateStream]]'s benchmark filter; a catalog too large to
    * distill belongs in the batch join form run as compaction.
    *
    * `textCol` is replaced by the deduped text in the output.
    */
  def paragraphDedupStream(stream: DataFrame, textCol: String,
      catalogFps: Array[String], sepRegex: String = "\\n{2,}"): DataFrame = {
    val catM = typedLit[Map[String, Int]](catalogFps.map(_ -> 1).toMap)
    val paras = filter(split(col(textCol), sepRegex), p => trim(p) =!= "")
    val kept =
      if (catalogFps.isEmpty) paras
      else filter(paras, p =>
        element_at(catM, graft.functions.TextFunctions.fingerprint(p)).isNull)
    // KeepRows: the split+fingerprint-probe chain evaluates once (the
    // old withColumn+where shape re-inlined it into the pushed filter)
    graft.operators.KeepRows.matching(stream, "__pd_clean",
        array_join(kept, "\n\n"), _ =!= "")
      .withColumn(textCol, col("__pd_clean"))
      .drop("__pd_clean")
  }

  /** Stateless streaming SURGICAL decontamination — the ingest form of
    * [[graft.operators.Dedup.removeContaminationSpans]]: excise every
    * maximal ≥ `minSpan`-token span of an arriving document whose every
    * k-gram window hash is in the DISTILLED benchmark gram set
    * ([[graft.operators.Dedup.distillBenchmarkGrams]] — bounded driver
    * state, same discipline as the distilled LM / paragraph catalog),
    * keep the rest of the document. Adds `dedup_text`; spec-gated
    * EXACTLY equal to the batch operator on the same rows.
    *
    * Implementation note (the one deliberate UDF in the streaming lane):
    * the per-row islands scan over window-hash hits has no shuffle-free
    * Column form — the batch path's gaps-and-islands needs a window
    * function (not append-stream-safe) and an `aggregate` HOF fold would
    * copy the accumulator array per token (O(n²/doc)). The UDF walks the
    * token array once per row, and its window hashes come from
    * [[graft.functions.HashRuntime.windowHashes]], the one body the batch
    * NgramHashes expression calls too, so the two paths cannot drift
    * (and the agreement spec would trip if they did). It is a pure map —
    * no state, no watermark, append-safe.
    */
  def decontaminateSpanStream(stream: DataFrame, textCol: String,
      benchGrams: Array[Long], k: Int = 3, minSpan: Int = 5): DataFrame = {
    require(k >= 1 && minSpan >= k, "need minSpan >= k >= 1")
    val grams = benchGrams.clone()
    java.util.Arrays.sort(grams)
    val clean = udf { (text: String) =>
      if (text == null) null
      else {
        // tokens exactly as tokens() + NgramHashes(dedupe = false): Spark's
        // own trim (spaces only) and split (limit -1, so edge whitespace
        // yields empty tokens), window hashes from the batch kernel's body
        val toks = UTF8String.fromString(text).trim().split(UTF8String.fromString("\\s+"), -1)
        val t = toks.length
        if (t < k) toks.mkString(" ") // no window can exist; normalize like stripSpans
        else {
          val wh = graft.functions.HashRuntime.windowHashes(
            new org.apache.spark.sql.catalyst.util.GenericArrayData(toks.toArray[Any]), k)
          val windows = wh.length
          val covered = new Array[Boolean](t)
          var w = 0
          while (w < windows) {
            if (java.util.Arrays.binarySearch(grams, wh(w)) >= 0) {
              var e = w
              while (e + 1 < windows &&
                java.util.Arrays.binarySearch(grams, wh(e + 1)) >= 0) e += 1
              if (e - w + k >= minSpan) {
                var j = w
                while (j <= e + k - 1) { covered(j) = true; j += 1 }
              }
              w = e + 1
            } else w += 1
          }
          // concat_ws(" ", kept tokens): empty tokens keep their separators
          toks.indices.filterNot(covered(_)).map(toks(_)).mkString(" ")
        }
      }
    }
    stream.withColumn("dedup_text", clean(col(textCol)))
  }

  /** Streaming content dedup: exact dedup keyed on the canonical text
    * fingerprint ([[graft.functions.TextFunctions.fingerprint]]), so
    * whitespace/case variants of the same document dedup too — the
    * streaming dual of [[graft.operators.Dedup.exact]].
    */
  def dedupTextStream(df: DataFrame, tsCol: String, watermarkDelay: String,
      textCol: String): DataFrame =
    dedupExactStream(
      df.withColumn("__fp", graft.functions.TextFunctions.fingerprint(col(textCol))),
      tsCol, watermarkDelay, Seq("__fp"))
      .drop("__fp")

  /** Streaming MinHash near-dup dedup — the incremental dual of
    * [[graft.operators.Dedup.minhashNearDuplicates]]. Each doc's MinHash
    * signature is computed map-side; docs are keyed by their FIRST LSH
    * band hash and each bucket's state holds the signatures accepted
    * there; an arrival whose signature agrees >= `threshold` with any
    * held signature is dropped as a near-duplicate, otherwise it is
    * emitted and its signature joins the bucket state.
    *
    * Semantics/scale notes:
    *  - Batch LSH probes all `bands` buckets; the streaming path probes
    *    ONE bucket per doc (a second stateful hop per band would need a
    *    per-doc aggregation across stateful operators, which streaming
    *    append mode can't chain) — detection probability per true dup is
    *    that of a single band, so run the batch dedup periodically as the
    *    backstop (the standard ingest-plus-compaction split).
    *  - State is bounded two ways: buckets idle past `horizonMs` are
    *    evicted by event-time timeout, and a bucket holds at most
    *    `bucketCap` signatures (oldest dropped first — a bucket that hot
    *    is one near-dup cluster anyway).
    *  - Returns the accepted (id, ts) stream; payloads stay in the source
    *    (join back by id downstream, batch-side).
    */
  def dedupMinHashStream(df: DataFrame, tsCol: String, watermarkDelay: String,
      idCol: String, textCol: String, shingle: Int = 3, numHashes: Int = 64,
      bands: Int = 16, threshold: Double = 0.7, horizonMs: Long = 3600000L,
      bucketCap: Int = 256): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    implicit val inEnc: Encoder[MinHashDocIn] = Encoders.product[MinHashDocIn]
    implicit val outEnc: Encoder[MinHashAccepted] = Encoders.product[MinHashAccepted]
    implicit val stEnc: Encoder[MinHashBucketState] = Encoders.product[MinHashBucketState]
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    def signature(s: Seq[Long]) =
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(s.toArray)
    val sigCol = graft.operators.Dedup.minhashSignature(col(textCol), shingle, numHashes)
    val prepared = df.select(
        col(idCol).cast("string").as("id"),
        col(tsCol).as("ts"),
        element_at(graft.functions.HashExpressions.bandHashes(sigCol, bands), 1).as("bucket"),
        sigCol.as("sig"))
      .withWatermark("ts", watermarkDelay)
      .as[MinHashDocIn]
    prepared.groupByKey(_.bucket)
      .flatMapGroupsWithState[MinHashBucketState, MinHashAccepted](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, docs: Iterator[MinHashDocIn], state: GroupState[MinHashBucketState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var held = state.getOption.map(_.sigs).getOrElse(Vector.empty)
            var lastMs = state.getOption.map(_.lastMs).getOrElse(0L)
            val out = Vector.newBuilder[MinHashAccepted]
            // intra-batch arrivals are unordered: process in event-time order
            for (d <- docs.toArray.sortBy(x => (x.ts.getTime, x.id))) {
              val sig = signature(d.sig)
              val isDup = held.exists(s =>
                graft.functions.HashRuntime.agreement(signature(s), sig) >= threshold)
              if (!isDup) {
                out += MinHashAccepted(d.id, d.ts)
                held = (held :+ d.sig).takeRight(bucketCap)
              }
              lastMs = math.max(lastMs, d.ts.getTime)
            }
            state.update(MinHashBucketState(held, lastMs))
            state.setTimeoutTimestamp(lastMs + horizonMs)
            out.result().iterator
          }
      }
      .toDF("id", "ts")
  }

  // ---- stream-stream as-of join ----

  /** Watermarked stream-stream BACKWARD as-of join: each left row matches
    * the latest right row of the same key with `rightTs <= leftTs` (and
    * `leftTs - rightTs <= toleranceMs` when set) — the streaming dual of
    * [[graft.operators.AsofJoin.asof]], via the union +
    * flatMapGroupsWithState pattern sessionize/minhash dedup use (no
    * built-in stream-stream join shape expresses "latest earlier row").
    *
    * Column contract (the generic-payload idiom — callers `to_json` their
    * columns in, `from_json` out): both inputs are
    * `(key string, ts timestamp, payload string)`; output is
    * `(key, ts, payload, match_ts, match_payload)` with null match columns
    * for unmatched lefts (left-outer semantics, as the batch op).
    *
    * Correctness under reordering: a left row FINALIZES only once the
    * watermark passes its event time strictly — any right row arriving
    * after that moment must carry `rightTs >= watermark > leftTs` (older
    * arrivals are dropped by the watermark operator as late data), so the
    * emitted match can never be invalidated. Until then the left waits in
    * state. Unmatched lefts flush by event-time timeout when the watermark
    * advances with no new rows for the key.
    *
    * State per key is bounded three ways, the 100 TB-ingest shape:
    *  - rights at or before the watermark COMPRESS to one carry row (the
    *    latest; every pending/future left prefers it over anything older —
    *    shadowing makes the compression exact, including under tolerance,
    *    since shadowed rows are only further out of tolerance);
    *  - rights newer than the watermark are the only list kept, and the
    *    watermark bounds that horizon;
    *  - idle keys (no pending lefts) drop their carry after `horizonMs`.
    */
  def asofJoinStream(left: DataFrame, right: DataFrame, watermarkDelay: String,
      toleranceMs: Option[Long] = None,
      horizonMs: Long = 3600000L): DataFrame = {
    implicit val inEnc: Encoder[AsofIn] = Encoders.product[AsofIn]
    implicit val outEnc: Encoder[AsofMatched] = Encoders.product[AsofMatched]
    implicit val stEnc: Encoder[AsofJoinState] = Encoders.product[AsofJoinState]
    implicit val keyEnc: Encoder[String] = Encoders.STRING
    val tol = toleranceMs.getOrElse(Long.MaxValue)
    def shape(df: DataFrame, isLeft: Boolean): Dataset[AsofIn] = df
      .select(col("key"), col("ts"), lit(isLeft).as("isLeft"), col("payload"))
      .withWatermark("ts", watermarkDelay)
      .as[AsofIn]
    shape(left, isLeft = true).unionByName(shape(right, isLeft = false))
      .groupByKey(_.key)
      .flatMapGroupsWithState[AsofJoinState, AsofMatched](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: String, rows: Iterator[AsofIn], state: GroupState[AsofJoinState]) =>
          var s = state.getOption.getOrElse(
            AsofJoinState(0L, null, hasCarry = false, Nil, Nil, Nil, Nil))
          if (!state.hasTimedOut) {
            // ingest this trigger's arrivals (unordered within the batch)
            val (ls, rs) = rows.toArray.partition(_.isLeft)
            s = s.copy(
              leftTs = s.leftTs ++ ls.map(_.ts.getTime),
              leftPayloads = s.leftPayloads ++ ls.map(_.payload),
              rightTs = s.rightTs ++ rs.map(_.ts.getTime),
              rightPayloads = s.rightPayloads ++ rs.map(_.payload))
          }
          val wm = state.getCurrentWatermarkMs()
          // finalize lefts strictly before the watermark, in event-time order
          val lefts = s.leftTs.zip(s.leftPayloads).sortBy(_._1)
          val (ready, pending) = lefts.partition(_._1 < wm)
          val rightsAll = s.rightTs.zip(s.rightPayloads).sortBy(_._1)
          val out = ready.map { case (lt, lp) =>
            val fromList = rightsAll.takeWhile(_._1 <= lt).lastOption
            val best = fromList.orElse(
              if (s.hasCarry && s.carryTs <= lt) Some((s.carryTs, s.carryPayload)) else None)
            best.filter { case (rt, _) => lt - rt <= tol } match {
              case Some((rt, rp)) => AsofMatched(key, new java.sql.Timestamp(lt), lp,
                new java.sql.Timestamp(rt), rp)
              case None => AsofMatched(key, new java.sql.Timestamp(lt), lp, null, null)
            }
          }
          // compress rights at/before the watermark into the single carry —
          // MONOTONICALLY: should the engine ever hand us a late right
          // older than the current carry (late-input filtering ahead of
          // the state op is an engine detail, not a guarantee we rely
          // on), it must not regress the carry to an older match
          val (past, live) = rightsAll.partition(_._1 < wm)
          val carry = past.lastOption.filter(c => !s.hasCarry || c._1 >= s.carryTs)
          val s2 = AsofJoinState(
            carryTs = carry.map(_._1).getOrElse(s.carryTs),
            carryPayload = carry.map(_._2).getOrElse(s.carryPayload),
            hasCarry = s.hasCarry || carry.nonEmpty,
            rightTs = live.map(_._1), rightPayloads = live.map(_._2),
            leftTs = pending.map(_._1), leftPayloads = pending.map(_._2))
          if (pending.isEmpty && live.isEmpty && state.hasTimedOut) {
            // idle past the horizon with nothing in flight: evict entirely
            state.remove()
          } else {
            state.update(s2)
            // flush pending lefts as soon as the watermark passes them;
            // otherwise hold the carry for `horizonMs` then evict
            val target = if (pending.nonEmpty) pending.head._1 + 1
              else math.max(wm, s2.rightTs.lastOption.getOrElse(wm)) + horizonMs
            state.setTimeoutTimestamp(math.max(target, wm + 1))
          }
          out.iterator
      }
      .toDF("key", "ts", "payload", "match_ts", "match_payload")
  }

  // ---- stream-stream range join ----

  /** Watermarked stream-stream RANGE (point-in-interval) join: each point
    * row pairs with every interval row of the same key whose
    * `[lo, hi]` contains the point's event time — the streaming dual of
    * [[graft.operators.RangeJoin.rangeJoin]], inner semantics.
    *
    * Column contract: `points` are `(key string, ts timestamp,
    * payload string)`; `intervals` are `(key string, lo timestamp,
    * hi timestamp, payload string)` with the WATERMARK ANCHORED ON `lo` —
    * the contract is that an interval is published no earlier than its
    * start (true of session windows, validity ranges, market hours; rows
    * arriving with `lo` behind the watermark are dropped as late data).
    * Output: `(key, ts, payload, lo, hi, match_payload)`, one row per
    * matched pair.
    *
    * Finalization mirrors [[asofJoinStream]]: a point emits when the
    * watermark strictly passes its event time — any interval arriving
    * later has `lo >= watermark > ts`, so it cannot contain the point.
    * Intervals evict once `hi` falls strictly behind the watermark
    * (points still pending have `ts >= watermark > hi`; points are always
    * finalized before eviction within an invoke, so no match is lost) —
    * state per key is pending points within the watermark horizon plus
    * intervals whose span is still open, both watermark-bounded.
    */
  def rangeJoinStream(points: DataFrame, intervals: DataFrame,
      watermarkDelay: String, horizonMs: Long = 3600000L): DataFrame = {
    implicit val inEnc: Encoder[RangeIn] = Encoders.product[RangeIn]
    implicit val outEnc: Encoder[RangeMatched] = Encoders.product[RangeMatched]
    implicit val stEnc: Encoder[RangeJoinState] = Encoders.product[RangeJoinState]
    implicit val keyEnc: Encoder[String] = Encoders.STRING
    val p = points
      .select(col("key"), col("ts"), lit(null).cast("long").as("hiMs"),
        lit(true).as("isPoint"), col("payload"))
      .withWatermark("ts", watermarkDelay)
      .as[RangeIn]
    val iv = intervals
      .select(col("key"), col("lo").as("ts"),
        unix_millis(col("hi")).as("hiMs"), lit(false).as("isPoint"), col("payload"))
      .withWatermark("ts", watermarkDelay)
      .as[RangeIn]
    p.unionByName(iv)
      .groupByKey(_.key)
      .flatMapGroupsWithState[RangeJoinState, RangeMatched](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: String, rows: Iterator[RangeIn], state: GroupState[RangeJoinState]) =>
          var s = state.getOption.getOrElse(RangeJoinState(Nil, Nil, Nil, Nil, Nil))
          if (!state.hasTimedOut) {
            val (ps, ivs) = rows.toArray.partition(_.isPoint)
            s = s.copy(
              pointTs = s.pointTs ++ ps.map(_.ts.getTime),
              pointPayloads = s.pointPayloads ++ ps.map(_.payload),
              loMs = s.loMs ++ ivs.map(_.ts.getTime),
              hiMs = s.hiMs ++ ivs.map(_.hiMs.getOrElse(
                throw new IllegalStateException("interval row without hi"))),
              ivPayloads = s.ivPayloads ++ ivs.map(_.payload))
          }
          val wm = state.getCurrentWatermarkMs()
          val pts = s.pointTs.zip(s.pointPayloads)
          val (ready, pending) = pts.partition(_._1 < wm)
          val ivsAll = s.loMs.lazyZip(s.hiMs).lazyZip(s.ivPayloads).toSeq
          // match BEFORE evicting: an interval with hi < wm can still
          // contain a point finalizing in this very invoke
          val out = for {
            (pt, pp) <- ready.sortBy(_._1)
            (lo, hi, ip) <- ivsAll
            if lo <= pt && pt <= hi
          } yield RangeMatched(key, new java.sql.Timestamp(pt), pp,
            new java.sql.Timestamp(lo), new java.sql.Timestamp(hi), ip)
          val live = ivsAll.filter(_._2 >= wm)
          val s2 = RangeJoinState(
            pointTs = pending.map(_._1), pointPayloads = pending.map(_._2),
            loMs = live.map(_._1), hiMs = live.map(_._2),
            ivPayloads = live.map(_._3))
          if (pending.isEmpty && live.isEmpty && state.hasTimedOut) {
            state.remove()
          } else {
            state.update(s2)
            val target =
              if (pending.nonEmpty) pending.map(_._1).min + 1
              else if (live.nonEmpty) live.map(_._2).min + 1 // earliest hi expiry
              else wm + horizonMs
            state.setTimeoutTimestamp(math.max(target, wm + 1))
          }
          out.iterator
      }
      .toDF("key", "ts", "payload", "lo", "hi", "match_payload")
  }

  // ---- streaming index ingest: the append half of the
  // [[graft.operators.AnnIndex]] lifecycle (era layout, exactly-once
  // replay, compaction and crash healing are stated there once) ----

  /** The one index-ingest starter: a checkpointed append query whose sink
    * runs `sink(microbatch, batchId)`. Every `indexStream*` starts here;
    * the path-based ones sink into [[graft.operators.AnnIndex.writeEra]].
    */
  private def ingestEach(stream: DataFrame, checkpoint: String)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) => sink(batch, batchId) }
      .start()

  /** Stream embeddings INTO a persistent IVF-PQ index
    * ([[graft.operators.AnnIndex.buildIvfPq]] layout): each arriving vector
    * assigns to its coarse cell and encodes to PQ codes map-side through
    * the build's encoder (stream-static broadcast join against the one-row
    * centroid relation — no state, no shuffle). The quantizer is fixed at
    * ingest time (the faiss operational split: train/build batch-side, or
    * persist the sidecars with
    * [[graft.operators.AnnIndex.writeIvfPqMeta]]; then append forever;
    * retrain = rebuild). Compaction =
    * [[graft.operators.AnnIndex.compactIvfPq]].
    *
    * `stream` columns: (`idCol`, `vecCol`). Returns the running query.
    */
  def indexStreamIvfPq(stream: DataFrame, idCol: String, vecCol: String,
      path: String, checkpoint: String, centroids: DataFrame,
      books: Array[Array[Array[Float]]]): org.apache.spark.sql.streaming.StreamingQuery =
    ingestEach(graft.operators.AnnIndex.ivfCodeRows(stream, idCol, vecCol, centroids,
        graft.functions.Pq.encodeCol(_, books)), checkpoint)((batch, id) =>
      graft.operators.AnnIndex.writeEra(batch, path, id, Seq("__cell")))

  /** Stream embeddings INTO a persistent IVF-SQ index
    * ([[graft.operators.AnnIndex.buildIvfSq]] layout). The quantizer
    * (centroids AND the per-dimension SQ bounds) is READ FROM THE INDEX
    * SIDECARS at stream definition rather than passed by the caller, so
    * streamed codes can never land in a different affine domain than the
    * batch build. Compaction = [[graft.operators.AnnIndex.compactIvfSq]].
    *
    * `stream` columns: (`idCol`, `vecCol`). Returns the running query.
    */
  def indexStreamIvfSq(stream: DataFrame, idCol: String, vecCol: String,
      path: String, checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = stream.sparkSession
    val (mins, maxs) = graft.operators.AnnIndex.readSqBounds(spark, path)
    ingestEach(graft.operators.AnnIndex.ivfCodeRows(stream, idCol, vecCol,
        spark.read.parquet(path + "/_centroids"),
        graft.functions.Sq.encodeCol(_, mins, maxs)), checkpoint)((batch, id) =>
      graft.operators.AnnIndex.writeEra(batch, path, id, Seq("__cell")))
  }

  /** Stream documents INTO a persistent CDC chunk-fp catalog
    * ([[graft.operators.Cdc.buildCatalogIndex]] layout): each microbatch
    * chunks map-side via the gear-hash kernel and distincts its own fps
    * (one bounded shuffle per microbatch — deterministic for the batch's
    * offset range). Cross-batch duplicate fps (re-crawled boilerplate) are
    * tolerated by every reader ([[graft.operators.Cdc.readCatalog]] feeds
    * set-semantic consumers) and collapsed by
    * [[graft.operators.AnnIndex.compactCdcCatalog]]'s exact distinct.
    * This is what lets a rolling crawl GROW the decontamination catalog
    * without batch rebuilds; the stateless scoring gate over the result
    * is [[cdcDecontaminateStream]].
    *
    * `stream` columns: (`textCol`). Returns the running query.
    */
  def indexStreamCdc(stream: DataFrame, textCol: String, path: String,
      checkpoint: String, buckets: Int = 32, minSize: Int = 32,
      avgBits: Int = 6, maxSize: Int = 256): org.apache.spark.sql.streaming.StreamingQuery =
    ingestEach(stream, checkpoint)((batch, id) =>
      graft.operators.AnnIndex.writeEra(
        graft.operators.Cdc.catalogRows(batch, textCol, buckets, minSize, avgBits, maxSize),
        path, id, Seq("__b")))

  /** Stream embeddings INTO a persistent IMI-PQ index
    * ([[graft.operators.AnnIndex.buildImiPq]] layout): each arriving vector
    * assigns to its (ca, cb) composite cell map-side (two one-row
    * broadcast half-codebook joins + in-row argmin) and encodes to PQ codes
    * through the build's encoder. `bookA`/`bookB` carry
    * `__cellsA`/`__cellsB` and are persisted by
    * [[graft.operators.AnnIndex.writeImiPqMeta]] (or a build) before the
    * stream starts. Compaction = [[graft.operators.AnnIndex.compactImiPq]].
    */
  def indexStreamImiPq(stream: DataFrame, idCol: String, vecCol: String,
      path: String, checkpoint: String, bookA: DataFrame, bookB: DataFrame,
      books: Array[Array[Array[Float]]],
      residual: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery = {
    // residual must match the _meta flag writeImiPqMeta persisted — a
    // mismatch would append codes in the wrong domain (whole-vector vs
    // per-half residual) while probeImiPqRefined builds LUTs from _meta,
    // silently returning wrong neighbors. Checked here, before any
    // microbatch runs.
    val persisted = graft.operators.AnnIndex.imiPqResidual(stream.sparkSession, path)
    require(persisted == residual,
      s"indexStreamImiPq residual=$residual contradicts the index _meta at " +
        s"$path (residual=$persisted); streamed codes must share the batch " +
        "build's domain or the probe's ADC LUTs are wrong")
    ingestEach(graft.operators.AnnIndex.imiPqRows(stream, idCol, vecCol,
        bookA, bookB, books, residual), checkpoint)((batch, id) =>
      graft.operators.AnnIndex.writeEra(batch, path, id, Seq("__ca", "__cb")))
  }

  /** Stream documents INTO the persistent exact-dedup fingerprint catalog
    * ([[graft.operators.AnnIndex.buildFingerprint]] layout): each
    * microbatch folds into the bucketed table by the catalog's staged
    * merge (the first batch builds the table), exactly-once through every
    * crash window ([[graft.operators.AnnIndex.ingestCatalogBatch]]).
    */
  def indexStreamFingerprint(stream: DataFrame, idCol: String, textCol: String,
      tableName: String, checkpoint: String, buckets: Int = 32)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ingestEach(stream, checkpoint)((batch, id) =>
      graft.operators.AnnIndex.ingestCatalogBatch(batch,
        graft.operators.AnnIndex.fingerprintCatalog(idCol, textCol),
        tableName, buckets, id, checkpoint))

  /** Rolling-crawl ingest into the cross-corpus SoftDeDup gram-df catalog
    * ([[graft.operators.AnnIndex.buildGramDf]] layout): each microbatch's
    * distinct-gram document frequencies fold into the bucketed catalog by
    * its staged merge (the associative count sum), exactly-once through
    * every crash window ([[graft.operators.AnnIndex.ingestCatalogBatch]]),
    * so [[graft.operators.Dedup.softWeightsAgainstCounts]] probes (and the
    * distilled [[softDedupStream]] gate after a re-distill) always see
    * everything ingested so far.
    */
  def indexStreamGramDf(stream: DataFrame, textCol: String,
      tableName: String, checkpoint: String, shingle: Int = 2,
      buckets: Int = 32): org.apache.spark.sql.streaming.StreamingQuery =
    ingestEach(stream, checkpoint)((batch, id) =>
      graft.operators.AnnIndex.ingestCatalogBatch(batch,
        graft.operators.AnnIndex.gramDfCatalog(textCol, shingle),
        tableName, buckets, id, checkpoint))

  // ---- sinks ----

  /** `writeStream` to files with checkpointing; returns the query handle.
    *
    * Exactly-once via Spark's file-sink `_spark_metadata` log: a replayed
    * batch's files are written again but only the LOGGED set is visible
    * to (log-aware) readers, so duplicates never surface. The flip side:
    * the log pins the file set, so files under `path` must never be
    * rewritten or deleted out-of-band (no external compaction) — an
    * index that needs compaction uses the log-free era layout of
    * [[graft.operators.AnnIndex]] instead.
    */
  def storeStreamParquet(df: DataFrame, path: String, checkpoint: String,
      outputMode: String = "append"): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream.outputMode(outputMode)
      .option("checkpointLocation", checkpoint)
      .format("parquet").option("path", path).start()

  /** In-memory sink for tests/interactive inspection. */
  def storeStreamMemory(df: DataFrame, name: String,
      outputMode: String = "append"): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream.outputMode(outputMode).format("memory").queryName(name).start()

  /** Streaming cardinality sketch — [[graft.operators.Profile.hllRegistersBy]]
    * run UNCHANGED as an update-mode streaming aggregation: per (group,
    * bucket) max-rho registers over an unbounded ingest stream, state
    * bounded at |groups|·2^p rows regardless of stream length (the
    * bounded-state answer to "how many distinct documents/grams has this
    * source sent so far" — a naive distinct-count's state grows with the
    * stream). Registers are monotone (MAX only rises), so any emitted
    * snapshot is a valid sketch and the final one equals the batch
    * registers exactly (spec-gated).
    */
  def hllRegistersStream(stream: DataFrame, groupCol: String, hashCol: String,
      p: Int): DataFrame =
    graft.operators.Profile.hllRegistersBy(stream, groupCol, hashCol, p)

  /** Stateful streaming funnel — the unbounded dual of
    * [[graft.operators.Sessions.funnelStages]]: per key, the earliest
    * IN-SEQUENCE completion time of each stage 0..nStages−1, maintained
    * as custom state ([[org.apache.spark.sql.KeyValueGroupedDataset
    * .mapGroupsWithState]], Update mode). State per key is one bounded
    * array of completed stage times (≤ nStages longs — no event
    * retention), and completions are MONOTONE: a stage time, once set,
    * is never revised, so every emitted row extends the previous one and
    * the row with the longest completed prefix IS the key's current
    * funnel.
    *
    * Ordering contract: events are folded in (ts, stage) order WITHIN a
    * trigger; across triggers the fold is greedy — a late event with an
    * earlier timestamp than an already-committed stage cannot rewrite
    * history (stream processors don't un-emit). When events arrive
    * ts-ordered per key (the usual log-ingest case) the final state
    * equals the batch operator exactly (spec-gated); out-of-order
    * arrivals can only DELAY stage credit, never corrupt the sequence
    * invariant t_0 ≤ t_1 ≤ … .
    *
    * Output per update: (key, times) with `times(i)` = stage-i
    * completion epoch, −1 while incomplete.
    */
  def funnelStream[T, K](ds: Dataset[T], nStages: Int)(
      key: T => K, eventTs: T => Long, stage: T => Int)(
      implicit kEnc: Encoder[K],
      oEnc: Encoder[(K, Seq[Long])]): Dataset[(K, Seq[Long])] = {
    require(nStages >= 1 && nStages <= 16, s"nStages must be in [1, 16], got $nStages")
    implicit val tEnc: Encoder[T] = ds.encoder
    implicit val stEnc: Encoder[FunnelState] = Encoders.product[FunnelState]
    ds.groupByKey(key)
      .mapGroupsWithState[FunnelState, (K, Seq[Long])](GroupStateTimeout.NoTimeout) {
        (k: K, events: Iterator[T], state: GroupState[FunnelState]) =>
          var done = state.getOption.map(_.times).getOrElse(Seq.empty)
          val batch = events.map(e => (eventTs(e), stage(e))).toArray.sorted
          batch.foreach { case (t, st) =>
            if (done.size < nStages && st == done.size &&
                (done.isEmpty || t >= done.last)) done = done :+ t
          }
          state.update(FunnelState(done))
          (k, done ++ Seq.fill(nStages - done.size)(-1L))
      }
  }
}

// Top-level (not object-nested): Spark's codegen instantiates state/output
// case classes reflectively and cannot supply an outer-object pointer.

/** A closed session: [start, end] in epoch millis plus event count. */
final case class Session[K](key: K, startMs: Long, endMs: Long, events: Long)

private[streaming] final case class SessionState(startMs: Long, endMs: Long, events: Long)

/** Funnel progress: completion times of the stages completed so far (a
  * strict prefix — bounded by nStages, never event-sized).
  */
private[streaming] final case class FunnelState(times: Seq[Long])

/** Incoming doc for the streaming MinHash dedup: id, event time, primary
  * LSH bucket, full signature.
  */
private[streaming] final case class MinHashDocIn(
    id: String, ts: java.sql.Timestamp, bucket: Long, sig: Seq[Long])

/** An accepted (non-duplicate) doc. */
final case class MinHashAccepted(id: String, ts: java.sql.Timestamp)

/** Per-bucket state: accepted signatures (bounded) + newest event ms. */
private[streaming] final case class MinHashBucketState(sigs: Seq[Seq[Long]], lastMs: Long)

/** Tagged union row for the stream-stream as-of join. */
private[streaming] final case class AsofIn(
    key: String, ts: java.sql.Timestamp, isLeft: Boolean, payload: String)

/** As-of output: left row + its matched right (null columns if none). */
final case class AsofMatched(key: String, ts: java.sql.Timestamp, payload: String,
    matchTs: java.sql.Timestamp, matchPayload: String)

/** Per-key as-of state: one compressed carry (latest right at/before the
  * watermark), live rights and pending lefts past the watermark.
  */
private[streaming] final case class AsofJoinState(
    carryTs: Long, carryPayload: String, hasCarry: Boolean,
    rightTs: Seq[Long], rightPayloads: Seq[String],
    leftTs: Seq[Long], leftPayloads: Seq[String])

/** Tagged union row for the stream-stream range join: a point
  * (isPoint, hiMs null) or an interval anchored at its `lo` (ts = lo).
  */
private[streaming] final case class RangeIn(
    key: String, ts: java.sql.Timestamp, hiMs: Option[Long],
    isPoint: Boolean, payload: String)

/** Range-join output: one row per (point, containing interval) pair. */
final case class RangeMatched(key: String, ts: java.sql.Timestamp, payload: String,
    lo: java.sql.Timestamp, hi: java.sql.Timestamp, matchPayload: String)

/** Per-key range state: pending points and open intervals. */
private[streaming] final case class RangeJoinState(
    pointTs: Seq[Long], pointPayloads: Seq[String],
    loMs: Seq[Long], hiMs: Seq[Long], ivPayloads: Seq[String])
