package graft.queries

import graft.functions.TextFunctions._
import graft.operators.{Bloom, HashFamily, Pooling, Resample, Split, Vocabulary}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-signal operators over the documents/embeddings/events tables:
  * Bloom-filter decontamination, vocabulary-coverage (OOV) scoring,
  * time-series resampling with gap/forward fill, embedding mean-pooling,
  * and population-quantile quality binning. Every query is fully
  * DuckDB-oracled; shared arithmetic (bloom positions, bin cuts) is
  * generated from the same Scala definitions the Spark path executes.
  */
object SignalQueries {

  private def q(name: String, oracle: String = null, bench: Boolean = false)(
      fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, Option(oracle), bench)

  // ---- Bloom decontamination: same corpus/pool cut as q_contamination
  // (pool = every 50th doc), fixture gram hashes, 2^16-bit filter, k=3.

  private val BloomM = 1 << 16
  private val BloomK = 3

  /** Fixture-hash CTEs (documents -> per-doc DISTINCT window hashes →
    * exploded gram rows) — rendered from the ONE shared generator
    * ([[HashFamily.Fixture.windowHashCtes]], shingle 3, set form), so the
    * bloom oracles can never drift from the minhash/simhash families.
    */
  private val FixtureGramCtes =
    s"""${HashFamily.Fixture.windowHashCtes("documents", 3, distinct = true)},
       g AS (SELECT doc_id, unnest(wh) AS g FROM wh)"""

  // bench headliner: the corpus pass is a shuffle-free projection while
  // the oracle must replay it relationally — the ratio is the point
  private val contaminationBloomQ = q("q_contamination_bloom", bench = true, oracle = {
    val pos = HashFamily.Fixture.positionSqls("g", BloomM, BloomK).mkString("[", ", ", "]")
    s"""WITH $FixtureGramCtes,
       poolpos AS (SELECT DISTINCT pos FROM
                     (SELECT unnest($pos) AS pos FROM
                       (SELECT DISTINCT g FROM g WHERE doc_id % 50 = 0) pg)),
       cpos AS (SELECT doc_id, g, unnest($pos) AS pos FROM g WHERE doc_id % 50 <> 0),
       mk AS (SELECT cpos.doc_id, cpos.g,
                CASE WHEN pp.pos IS NULL THEN 0 ELSE 1 END AS hit
              FROM cpos LEFT JOIN poolpos pp ON cpos.pos = pp.pos),
       gv AS (SELECT doc_id, g, MIN(hit) AS allhit FROM mk GROUP BY 1, 2)
       SELECT doc_id, round(CAST(SUM(allhit) AS DOUBLE) / COUNT(*), 6) AS contamination_bloom
       FROM gv GROUP BY doc_id"""
  }) { (s, d) =>
    val docs = Tables.df(s, d, "documents")
    Bloom.ngramContaminationBloom(
      docs.where(col("doc_id") % 50 =!= 0),
      docs.where(col("doc_id") % 50 === 0),
      "doc_id", "text", shingle = 3, mBits = BloomM, k = BloomK, family = HashFamily.Fixture)
  }

  // ---- OOV rate against the self-built minCount=20 vocabulary.

  private val oovRateQ = q("q_oov_rate", bench = true,
    oracle = raw"""WITH tok AS (SELECT doc_id, w FROM
             (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
              FROM documents) t
           WHERE w <> ''),
       vc AS (SELECT w, COUNT(*) AS n FROM tok GROUP BY 1),
       v AS (SELECT w FROM vc WHERE n >= 20),
       j AS (SELECT tok.doc_id, CASE WHEN v.w IS NULL THEN 1 ELSE 0 END AS oov
             FROM tok LEFT JOIN v ON tok.w = v.w)
       SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
              CAST(SUM(oov) AS BIGINT) AS n_oov,
              round(CAST(SUM(oov) AS DOUBLE) / COUNT(*), 6) AS oov_rate
       FROM j GROUP BY doc_id""") { (s, d) =>
    Vocabulary.oovRate(Tables.df(s, d, "documents"), "doc_id", "text", minCount = 20)
  }

  /** OOV against a REFERENCE corpus (every 3rd doc, minCount 5) — the
    * cross-corpus configuration: score candidate text by coverage in a
    * trusted vocabulary rather than self-coverage.
    */
  private val oovRefQ = q("q_oov_ref",
    raw"""WITH rtok AS (SELECT w FROM
             (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
              FROM documents WHERE doc_id % 3 = 0) t
           WHERE w <> ''),
       v AS (SELECT w FROM (SELECT w, COUNT(*) AS n FROM rtok GROUP BY 1) WHERE n >= 5),
       tok AS (SELECT doc_id, w FROM
             (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
              FROM documents) t
           WHERE w <> ''),
       j AS (SELECT tok.doc_id, CASE WHEN v.w IS NULL THEN 1 ELSE 0 END AS oov
             FROM tok LEFT JOIN v ON tok.w = v.w)
       SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
              CAST(SUM(oov) AS BIGINT) AS n_oov,
              round(CAST(SUM(oov) AS DOUBLE) / COUNT(*), 6) AS oov_rate
       FROM j GROUP BY doc_id""") { (s, d) =>
    val docs = Tables.df(s, d, "documents")
    Vocabulary.oovRateAgainst(docs, "doc_id", "text",
      Vocabulary.vocabulary(docs.where(col("doc_id") % 3 === 0),
        "doc_id", "text", minCount = 5))
  }

  // ---- N-gram LM quality scoring (the CCNet/Wenzek perplexity-filter
  // discipline): unigram+bigram count LM with add-one smoothing trained
  // on the every-3rd-doc reference slice (the q_oov_ref cut), surprisal
  // in whole bits via the |bin(x)| integer log2 — the PRODUCTION
  // arithmetic is integer/rational end to end, so the oracle replays the
  // real operator, no fixture twin needed.

  private val LmMinCount = 2L

  /** The q_lm_score CTE chain (`rel(doc_id, text)` → per-doc (doc_id,
    * n_tokens, lm_bits)) as a shareable fragment parameterized by the
    * scored relation, so composed pipeline oracles (q_pipeline_signals
    * over documents, q_pipeline_v5 over its cleaned/decontaminated
    * relation) reuse the EXACT same arithmetic instead of a
    * re-derivation. The reference slice stays the relation's own
    * doc_id % 3 = 0 cut — train on the corpus being scored.
    */
  private[queries] def lmScoreCtesOver(rel: String): String =
    raw"""tok0 AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), w -> w <> '') AS t
           FROM $rel),
       td AS (SELECT doc_id, t, len(t) AS n FROM tok0 WHERE len(t) >= 1),
       refu AS (SELECT unnest(t) AS w FROM td WHERE doc_id % 3 = 0),
       uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM refu GROUP BY 1
               HAVING COUNT(*) >= $LmMinCount),
       tv AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS t_tok,
                     CAST(COUNT(*) AS BIGINT) AS v FROM uni),
       refp AS (SELECT p['w1'] AS w1, p['w2'] AS w2 FROM
                 (SELECT unnest(list_transform(range(1, len(t)),
                    i -> {'w1': t[i], 'w2': t[i+1]})) AS p
                  FROM td WHERE doc_id % 3 = 0)),
       bi0 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM refp GROUP BY 1, 2),
       bi AS (SELECT bi0.w1, bi0.w2, bi0.c FROM bi0
              JOIN uni u1 ON bi0.w1 = u1.w JOIN uni u2 ON bi0.w2 = u2.w),
       ev AS (SELECT doc_id, n, i, t[i+1] AS w,
                     CASE WHEN i = 0 THEN NULL ELSE t[i] END AS prev
              FROM (SELECT doc_id, t, n, unnest(range(0, n)) AS i FROM td)),
       sc AS (SELECT e.doc_id, e.n,
                CASE WHEN e.i = 0
                  THEN len(bin((SELECT t_tok + v FROM tv))) - len(bin(COALESCE(u.c, 0) + 1))
                  ELSE len(bin(COALESCE(up.c, 0) + (SELECT v FROM tv))) - len(bin(COALESCE(b.c, 0) + 1))
                END AS bits
              FROM ev e
              LEFT JOIN uni u ON e.w = u.w
              LEFT JOIN uni up ON e.prev = up.w
              LEFT JOIN bi b ON e.prev = b.w1 AND e.w = b.w2),
       lmdoc AS (SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_tokens,
                   CAST(SUM(bits) AS BIGINT) AS lm_bits
                 FROM sc GROUP BY doc_id)"""

  private val LmScoreCtes = lmScoreCtesOver("documents")

  private val lmScoreQ = q("q_lm_score", bench = true,
    oracle = s"""WITH $LmScoreCtes
       SELECT doc_id, n_tokens, lm_bits,
              round(CAST(lm_bits AS DOUBLE) / n_tokens, 6) AS bits_per_token
       FROM lmdoc""") { (s, d) =>
    val docs = Tables.df(s, d, "documents")
    graft.operators.LanguageModel.scoreAgainstSlice(docs, "doc_id", "text",
      docs.where(col("doc_id") % 3 === 0), minCount = LmMinCount)
  }

  /** Same relation as q_lm_score through the DISTILLED map-side scorer
    * (zero joins/shuffles on the corpus pass) — reuses q_lm_score's
    * oracle VERBATIM, the q_join_salted equivalence discipline: the
    * distilled path must reproduce the join-based arithmetic exactly.
    */
  private val lmScoreDistilledQ = q("q_lm_score_distilled",
    lmScoreQ.oracle.get) { (s, d) =>
    val docs = Tables.df(s, d, "documents")
    val lm = graft.operators.LanguageModel.train(
      docs.where(col("doc_id") % 3 === 0), "doc_id", "text", minCount = LmMinCount)
    graft.operators.LanguageModel.scoreDocsDistilled(docs, "doc_id", "text",
      graft.operators.LanguageModel.distill(lm))
  }

  /** Same relation as q_lm_score through the PERSISTENT LM catalog,
    * exercising the full lifecycle on the oracled path: build on half
    * the reference slice, fold the other half in via the associative
    * count merge, load under the same minCount — must equal training on
    * the whole slice at once, so q_lm_score's oracle is reused VERBATIM.
    */
  private val lmScoreIndexedQ = q("q_lm_score_indexed",
    lmScoreQ.oracle.get) { (s, d) =>
    import graft.operators.AnnIndex
    val docs = Tables.df(s, d, "documents")
    val ref = docs.where(col("doc_id") % 3 === 0)
    AnnIndex.buildLm(ref.where(col("doc_id") % 2 === 0), "doc_id", "text", "graft_lm_idx")
    AnnIndex.updateLm(s, "graft_lm_idx",
      ref.where(col("doc_id") % 2 =!= 0), "doc_id", "text")
    graft.operators.LanguageModel.scoreDocs(docs, "doc_id", "text",
      AnnIndex.loadLm(s, "graft_lm_idx", minCount = LmMinCount))
  }

  // ---- CCNet head/middle/tail buckets (Wenzek et al., arXiv:1911.00359
  // §4.4): per-LANGUAGE perplexity terciles — langid kernel + the shared
  // LM chain + the byQuantileApproxBy exact-discrete cut rule, all three
  // replayed from their existing oracle fragments (langIdCtesOver /
  // lmScoreCtesOver / the per-group ⌈p·n_g⌉ rank join), so the composed
  // operator can never drift from its parts.

  private val CcnetPs = (1 until 3).map(_.toDouble / 3)

  private val ccnetBucketsQ = q("q_ccnet_buckets",
    oracle = s"""WITH ${lmScoreCtesOver("documents")},
       ${ExtQueries.langIdCtesOver("documents")},
       cb AS (SELECT lmdoc.doc_id, lmdoc.n_tokens, lmdoc.lm_bits,
                round(CAST(lm_bits AS DOUBLE) / n_tokens, 6) AS bits_per_token,
                langd.lang
              FROM lmdoc JOIN langd USING (doc_id)),
       cr AS (SELECT doc_id, lang, bits_per_token,
                row_number() OVER (PARTITION BY lang ORDER BY bits_per_token) AS rn,
                COUNT(*) OVER (PARTITION BY lang) AS n
              FROM cb),
       cps AS (SELECT unnest([${CcnetPs.mkString(", ")}]) AS p),
       ccj AS (SELECT cr.lang, cr.bits_per_token AS cv, cps.p
               FROM cr JOIN cps ON cr.rn = CAST(ceil(cps.p * cr.n) AS BIGINT)),
       ccuts AS (SELECT lang, list(cv ORDER BY p) AS cs FROM ccj GROUP BY lang)
       SELECT cb.doc_id, cb.n_tokens, cb.lm_bits, cb.bits_per_token, cb.lang,
              CAST(len(list_filter(ccuts.cs, c -> cb.bits_per_token > c)) AS INT) AS bin,
              (['head', 'middle', 'tail'])[
                len(list_filter(ccuts.cs, c -> cb.bits_per_token > c)) + 1] AS bucket
       FROM cb JOIN ccuts USING (lang)""") { (s, d) =>
    val docs = Tables.df(s, d, "documents")
    graft.operators.LanguageModel.ccnetBuckets(docs, "doc_id", "text",
        docs.where(col("doc_id") % 3 === 0), minCount = LmMinCount,
        nBins = 3, accuracy = 1000000)
      .withColumn("bucket",
        element_at(typedlit(Seq("head", "middle", "tail")), col("bin") + 1))
  }

  // ---- DSIR importance resampling (Xie et al., arXiv:2302.03169):
  // importance weight log2(p_target/p_raw) in whole bits = bits_raw −
  // bits_target under two add-one-smoothed n-gram LMs (target slice =
  // every-3rd-doc, raw slice = the doc_id%3=1 cut), then quantile-rate
  // resampling of the high-weight head. Production arithmetic is
  // integer/rational end to end, so the oracle replays the real operator.

  private val DsirTargetPred = "doc_id % 3 = 0"
  private val DsirRawPred = "doc_id % 3 = 1"

  /** One model's CTE chain under prefix `px` over the shared `td` token
    * table — the q_lm_score model construction verbatim (minCount cut,
    * closed-vocabulary bigrams), prefixed so two models coexist.
    */
  private def lmModelCtes(px: String, slicePred: String): String =
    raw"""${px}refu AS (SELECT unnest(t) AS w FROM td WHERE $slicePred),
       ${px}uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM ${px}refu GROUP BY 1
               HAVING COUNT(*) >= $LmMinCount),
       ${px}tv AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS t_tok,
                     CAST(COUNT(*) AS BIGINT) AS v FROM ${px}uni),
       ${px}refp AS (SELECT p['w1'] AS w1, p['w2'] AS w2 FROM
                 (SELECT unnest(list_transform(range(1, len(t)),
                    i -> {'w1': t[i], 'w2': t[i+1]})) AS p
                  FROM td WHERE $slicePred)),
       ${px}bi0 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM ${px}refp GROUP BY 1, 2),
       ${px}bi AS (SELECT b0.w1, b0.w2, b0.c FROM ${px}bi0 b0
              JOIN ${px}uni u1 ON b0.w1 = u1.w JOIN ${px}uni u2 ON b0.w2 = u2.w)"""

  /** documents → (doc_id, n_tokens, bits_target, bits_raw): one
    * transition stream scored under both models, six per-model count
    * table joins — the SQL mirror of LanguageModel.dsirWeights.
    */
  private val DsirCtes =
    raw"""tok0 AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), w -> w <> '') AS t
           FROM documents),
       td AS (SELECT doc_id, t, len(t) AS n FROM tok0 WHERE len(t) >= 1),
       ${lmModelCtes("t_", DsirTargetPred)},
       ${lmModelCtes("r_", DsirRawPred)},
       ev AS (SELECT doc_id, n, i, t[i+1] AS w,
                     CASE WHEN i = 0 THEN NULL ELSE t[i] END AS prev
              FROM (SELECT doc_id, t, n, unnest(range(0, n)) AS i FROM td)),
       sc AS (SELECT e.doc_id, e.n,
                CASE WHEN e.i = 0
                  THEN len(bin((SELECT t_tok + v FROM t_tv))) - len(bin(COALESCE(tu.c, 0) + 1))
                  ELSE len(bin(COALESCE(tup.c, 0) + (SELECT v FROM t_tv))) - len(bin(COALESCE(tb.c, 0) + 1))
                END AS bt,
                CASE WHEN e.i = 0
                  THEN len(bin((SELECT t_tok + v FROM r_tv))) - len(bin(COALESCE(ru.c, 0) + 1))
                  ELSE len(bin(COALESCE(rup.c, 0) + (SELECT v FROM r_tv))) - len(bin(COALESCE(rb.c, 0) + 1))
                END AS br
              FROM ev e
              LEFT JOIN t_uni tu ON e.w = tu.w
              LEFT JOIN t_uni tup ON e.prev = tup.w
              LEFT JOIN t_bi tb ON e.prev = tb.w1 AND e.w = tb.w2
              LEFT JOIN r_uni ru ON e.w = ru.w
              LEFT JOIN r_uni rup ON e.prev = rup.w
              LEFT JOIN r_bi rb ON e.prev = rb.w1 AND e.w = rb.w2),
       dsird AS (SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_tokens,
                   CAST(SUM(bt) AS BIGINT) AS bits_target,
                   CAST(SUM(br) AS BIGINT) AS bits_raw
                 FROM sc GROUP BY doc_id)"""

  private def dsirSpark(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.df(s, d, "documents")
    // slice-pred entry (r16): both reference slices are doc_id cuts of
    // the scored corpus, so ONE shared tokenize feeds the model builders
    // and the scoring event stream (spec-gated equal to the general
    // dsirAgainstSlices composition — LanguageModelSpec)
    graft.operators.LanguageModel.dsirAgainstSlicePreds(docs, "doc_id", "text",
      _ % 3 === 0, _ % 3 === 1, minCount = LmMinCount)
  }

  private val dsirQ = q("q_dsir", bench = true,
    oracle = s"""WITH $DsirCtes
       SELECT doc_id, n_tokens, bits_target, bits_raw,
              bits_raw - bits_target AS dsir_bits,
              round(CAST(bits_raw - bits_target AS DOUBLE) / n_tokens, 6)
                AS dsir_bits_per_token
       FROM dsird""")(dsirSpark)

  private val DsirRates: Seq[(Long, Long)] = (1L to 10L).map(b => (b, 10L))

  /** The resampling half of DSIR: decile-rate sampling rising with the
    * importance weight (the deterministic LCG analogue of
    * weight-proportional sampling — the top decile keeps 10/10, the
    * bottom 1/10), on the Split.curriculumSample machinery.
    */
  private val dsirSelectQ = q("q_dsir_select",
    s"""WITH $DsirCtes,
       w AS (SELECT doc_id,
               round(CAST(bits_raw - bits_target AS DOUBLE) / n_tokens, 6)
                 AS dsir_bits_per_token
             FROM dsird),
       r AS (SELECT doc_id, dsir_bits_per_token,
               row_number() OVER (ORDER BY dsir_bits_per_token, doc_id) AS rn,
               COUNT(*) OVER () AS n
             FROM w),
       b AS (SELECT doc_id, dsir_bits_per_token,
               ${Split.quantileBinSql("rn", "n", 10)} AS bin
             FROM r)
       SELECT doc_id, dsir_bits_per_token, bin FROM b
       WHERE ${OracleSql.lcg31("doc_id")} < ${Split.rateThresholdSql("bin", DsirRates)}""") { (s, d) =>
    Split.curriculumSample(
      dsirSpark(s, d).select(col("doc_id"), col("dsir_bits_per_token")),
      "dsir_bits_per_token", "doc_id", DsirRates)
  }

  /** Paragraph-level exact dedup (RefinedWeb/Dolma boilerplate removal).
    * The synthetic docs are single-line, so the query SYNTHESIZES a
    * multi-paragraph corpus both engines derive identically: doc i =
    * text_i + "\n\n" + text_{i+1} (adjacent-pair join — scale-free, no
    * corpus-size constants). Every source text then appears as a
    * paragraph of two synthesized docs; the (doc_id, pos) winner rule
    * keeps its first occurrence and the reassembly is hash-gated.
    */
  private val paragraphDedupQ = q("q_dedup_paragraph", bench = true,
    oracle = raw"""WITH corpus AS (
         SELECT a.doc_id, a.text || chr(10) || chr(10) || b.text AS text
         FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
       pl AS (SELECT doc_id, regexp_split_to_array(text, '\n{2,}') AS l FROM corpus),
       pe AS (SELECT doc_id, unnest(range(0, len(l))) AS pos, l FROM pl),
       ps AS (SELECT doc_id, pos, l[pos+1] AS para FROM pe WHERE trim(l[pos+1]) <> ''),
       fp AS (SELECT doc_id, pos, para,
                md5(regexp_replace(lower(trim(para)), '\s+', ' ', 'g')) AS fp FROM ps),
       keep AS (SELECT doc_id, pos, para FROM
                 (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS rn
                  FROM fp)
                WHERE rn = 1)
       SELECT doc_id, string_agg(para, chr(10)||chr(10) ORDER BY pos) AS dedup_text
       FROM keep GROUP BY doc_id""") { (s, d) =>
    val docs = Tables.df(s, d, "documents")
    val nxt = docs.select((col("doc_id") - 1).as("doc_id"), col("text").as("__t2"))
    val corpus = docs.join(nxt, "doc_id")
      .select(col("doc_id"), concat(col("text"), lit("\n\n"), col("__t2")).as("text"))
    graft.operators.Dedup.paragraphDedup(corpus, "doc_id", "text")
  }

  /** INTRA-document paragraph dedup (Dedup.paragraphDedupWithin — the
    * Dolma/RefinedWeb repeated-paragraph-within-a-page stage, a pure
    * zero-shuffle projection). The synthesized corpus PLANTS an
    * intra-doc repeat both engines derive identically: doc i = text_i ++
    * text_{i+1} ++ text_i — the third paragraph is a within-doc copy of
    * the first, so exactly it must drop while cross-doc copies (every
    * text appears in three synthesized docs) are deliberately KEPT —
    * pinning the within-doc scope against the cross-doc operator.
    */
  private val paragraphDedupWithinQ = q("q_dedup_paragraph_within",
    oracle = raw"""WITH corpus AS (
         SELECT a.doc_id,
                a.text || chr(10) || chr(10) || b.text || chr(10) || chr(10) || a.text AS text
         FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
       pl AS (SELECT doc_id, regexp_split_to_array(text, '\n{2,}') AS ps FROM corpus),
       f AS (SELECT doc_id, ps,
               list_transform(ps, x -> md5(regexp_replace(lower(trim(x)), '\s+', ' ', 'g'))) AS fps
             FROM pl)
       SELECT doc_id,
              array_to_string(
                list_filter(ps, (x, i) -> trim(x) <> '' AND
                  list_position(fps, md5(regexp_replace(lower(trim(x)), '\s+', ' ', 'g'))) = i),
                chr(10) || chr(10)) AS dedup_text
       FROM f""") { (s, d) =>
    val docs = Tables.df(s, d, "documents")
    val nxt = docs.select((col("doc_id") - 1).as("doc_id"), col("text").as("__t2"))
    val corpus = docs.join(nxt, "doc_id")
      .select(col("doc_id"),
        concat(col("text"), lit("\n\n"), col("__t2"), lit("\n\n"), col("text")).as("text"))
    graft.operators.Dedup.paragraphDedupWithin(corpus, "doc_id", "text")
  }

  /** RefinedWeb line-wise corrections (LineCorrections.clean): the four
    * line rules + whole-doc drop past the removed-bytes budget, every
    * ratio an integer cross-multiplication so the WHOLE operator
    * oracle-replays. The synthesized corpus plants one firing line per
    * rule between two real texts: an all-caps header, a bare number, a
    * social counter, and a sign-in stub — the clean text must be exactly
    * the two real lines, and docs whose planted noise exceeds half their
    * line bytes drop wholesale.
    */
  /** One line's drop verdict (the LineDrop kernel's four rules), shared
    * by q_line_corrections and the composed q_pipeline_v5 oracle. */
  private[queries] val lineDropSql = (l: String) =>
    raw"""((length(regexp_replace($l, '[^A-Za-z]', '', 'g')) > 0
            AND length(regexp_replace($l, '[^A-Z]', '', 'g')) * 10 > length(regexp_replace($l, '[^A-Za-z]', '', 'g')) * 6)
           OR (trim($l) <> '' AND length(regexp_replace($l, '[^A-Za-z]', '', 'g')) = 0)
           OR regexp_matches($l, '^\s*[0-9]+ (likes?|comments?|shares?|views?)\s*$$', 'i')
           OR (len(regexp_split_to_array(trim($l), '\s+')) <= 3
               AND regexp_matches($l, '(sign in|log in|click here|read more|accept cookies)', 'i')))"""

  /** The line-corrections CTE pair over `src(doc_id, …, text)` at the
    * maxRemoved = num/den budget: `${p}lc` is the cleaned relation
    * (text replaced, surviving docs only) — q_line_corrections' oracle
    * body as a shareable fragment.
    */
  private[queries] def lineCleanCtes(p: String, src: String, num: Int, den: Int): String =
    raw"""${p}lsx AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM $src),
       ${p}lc AS (SELECT doc_id,
              array_to_string(list_filter(ls, l -> NOT ${lineDropSql("l")}), chr(10)) AS text
            FROM ${p}lsx
            WHERE list_sum(list_transform(ls, l -> CASE WHEN ${lineDropSql("l")} THEN length(l) ELSE 0 END)) * $den
                  <= list_sum(list_transform(ls, l -> length(l))) * $num)"""

  private val lineCorrectionsQ = {
    val dropSql = lineDropSql
    q("q_line_corrections",
      oracle = raw"""WITH corpus AS (
           SELECT a.doc_id,
                  a.text || chr(10) || upper(substr(b.text, 1, 40)) || chr(10) ||
                  '12345' || chr(10) || '3 likes' || chr(10) || 'please sign in' ||
                  chr(10) || 'log in now' || chr(9) ||
                  chr(10) || 'please log in' || chr(13) ||
                  chr(10) || '42 likes' || chr(11) ||
                  chr(10) || b.text AS text
           FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
         lsx AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM corpus)
         SELECT doc_id,
                array_to_string(list_filter(ls, l -> NOT ${dropSql("l")}), chr(10)) AS clean_text
         FROM lsx
         WHERE list_sum(list_transform(ls, l -> CASE WHEN ${dropSql("l")} THEN length(l) ELSE 0 END)) * 2
               <= list_sum(list_transform(ls, l -> length(l)))""") { (s, d) =>
      val docs = Tables.df(s, d, "documents")
      val nxt = docs.select((col("doc_id") - 1).as("doc_id"), col("text").as("__t2"))
      val corpus = docs.join(nxt, "doc_id")
        .select(col("doc_id"), concat(
          col("text"), lit("\n"), upper(substring(col("__t2"), 1, 40)), lit("\n"),
          lit("12345"), lit("\n"), lit("3 likes"), lit("\n"),
          lit("please sign in"), lit("\n"),
          // boundary pins: a trailing tab / CR is a kept edge-empty split
          // field (4 words -> stub rule off), and \x0B is NOT RE2 \s so
          // the counter's \s*$ must not consume it — all three KEPT
          lit("log in now\t"), lit("\n"),
          lit("please log in\r"), lit("\n"),
          lit("42 likes" + "\u000B"), lit("\n"), col("__t2")).as("text"))
      graft.operators.LineCorrections.clean(corpus, "doc_id", "text",
        maxRemovedNum = 1, maxRemovedDen = 2)
    }
  }

  /** Against-catalog paragraph dedup (Dedup.paragraphDedupAgainst — the
    * batch join form the streaming gate is spec-gated equal to): drop
    * every corpus paragraph whose canonical fingerprint appears in a
    * static reference catalog (ALL copies — the catalog is the winner
    * set), reassemble survivors in order, drop all-boilerplate docs.
    * Corpus docs pair text(k) with text(k+7); the catalog is the
    * doc_id % 7 == 0 slice, so docs with doc_id % 7 == 0 lose BOTH
    * paragraphs (the whole-doc-drop path) while most docs lose at most
    * one. The raw synthetic texts are single-paragraph (no newlines), so
    * the reference split is the identity and the oracle fingerprints the
    * whole text; empty-trim guards mirror the operator's filter.
    */
  private val paragraphDedupCatalogQ = q("q_dedup_paragraph_catalog",
    oracle = raw"""WITH corpus AS (
         SELECT a.doc_id, a.text || chr(10) || chr(10) || b.text AS text
         FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 7),
       ref AS (SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
               FROM documents WHERE doc_id % 7 = 0 AND trim(text) <> ''),
       pl AS (SELECT doc_id, regexp_split_to_array(text, '\n{2,}') AS l FROM corpus),
       pe AS (SELECT doc_id, unnest(range(0, len(l))) AS pos, l FROM pl),
       ps AS (SELECT doc_id, pos, l[pos+1] AS para FROM pe WHERE trim(l[pos+1]) <> ''),
       fp AS (SELECT doc_id, pos, para,
                md5(regexp_replace(lower(trim(para)), '\s+', ' ', 'g')) AS fp FROM ps),
       keep AS (SELECT doc_id, pos, para FROM fp
                WHERE fp NOT IN (SELECT fp FROM ref))
       SELECT doc_id, string_agg(para, chr(10)||chr(10) ORDER BY pos) AS dedup_text
       FROM keep GROUP BY doc_id""") { (s, d) =>
    val docs = Tables.df(s, d, "documents")
    val nxt = docs.select((col("doc_id") - 7).as("doc_id"), col("text").as("__t2"))
    val corpus = docs.join(nxt, "doc_id")
      .select(col("doc_id"), concat(col("text"), lit("\n\n"), col("__t2")).as("text"))
    val catalog = graft.operators.Dedup.paragraphCatalog(
      docs.where(col("doc_id") % 7 === 0), "text")
    graft.operators.Dedup.paragraphDedupAgainst(corpus, "doc_id", "text", catalog)
  }

  /** Byte-entropy quality signal — Shannon entropy's integer-bits
    * stand-in (ByteEntropyBits scaladoc): flags base64/compressed payloads
    * high and degenerate repetition low. The production expression is
    * all-integer, so the oracle replays it exactly (ASCII corpus:
    * characters == bytes, the PhashBytes boundary). One shuffle-free
    * codegen'd projection over the corpus.
    */
  private val entropyQ = q("q_entropy", bench = true,
    oracle = raw"""WITH pb AS (SELECT doc_id, len(text) AS n,
                list_transform(range(1, len(text) + 1),
                  i -> CAST(unicode(text[i:i]) AS BIGINT)) AS bv
              FROM documents WHERE len(text) > 0),
       f AS (SELECT doc_id, n, b, COUNT(*) AS c FROM
              (SELECT doc_id, n, unnest(bv) AS b FROM pb) GROUP BY 1, 2, 3),
       e AS (SELECT doc_id, n, SUM(c * (len(bin(n)) - len(bin(c)))) AS num
             FROM f GROUP BY 1, 2)
       SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
              CAST(num AS BIGINT) AS entropy_num,
              round(CAST(num AS DOUBLE) / n, 6) AS bits_per_char
       FROM e""") { (s, d) =>
    val num = graft.functions.HashExpressions.byteEntropyBits(
      encode(col("text"), "UTF-8"))
    Tables.df(s, d, "documents")
      .where(length(col("text")) > 0)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
        num.as("entropy_num"))
      .withColumn("bits_per_char",
        round(col("entropy_num").cast("double") / col("n_chars"), 6))
  }

  /** Composed corpus-preparation v4 — the round-9 signal stack end to
    * end in ONE declarative plan: byte-entropy band (drop compressed/
    * random-looking AND degenerate-repetition tails) ∧ n-gram LM
    * surprisal gate (CCNet keep-the-low-perplexity-head) → exact-dedup
    * winners → (doc_id, n_tokens). Every gate compares INTEGERS
    * cross-multiplied (10·num vs 36·n_chars, 1000·lm_bits vs
    * 4970·n_tokens), so no float threshold can flip a row between
    * engines; the LM half reuses the q_lm_score CTE chain verbatim.
    */
  private val pipelineSignalsQ = q("q_pipeline_signals",
    s"""WITH $LmScoreCtes,
       pb AS (SELECT doc_id, len(text) AS n,
                list_transform(range(1, len(text) + 1),
                  i -> CAST(unicode(text[i:i]) AS BIGINT)) AS bv
              FROM documents WHERE len(text) > 0),
       f AS (SELECT doc_id, n, b, COUNT(*) AS c FROM
              (SELECT doc_id, n, unnest(bv) AS b FROM pb) GROUP BY 1, 2, 3),
       ent AS (SELECT doc_id, n AS n_chars,
                 SUM(c * (len(bin(n)) - len(bin(c)))) AS num
               FROM f GROUP BY 1, 2),
       gated AS (SELECT lmdoc.doc_id, lmdoc.n_tokens
                 FROM lmdoc JOIN ent USING (doc_id)
                 WHERE 10 * ent.num >= 36 * ent.n_chars
                   AND 10 * ent.num <= 44 * ent.n_chars
                   AND 1000 * lmdoc.lm_bits <= 4970 * lmdoc.n_tokens),
       gfp AS (SELECT d.doc_id, g.n_tokens,
                 md5(regexp_replace(lower(trim(d.text)), '\\s+', ' ', 'g')) AS fp
               FROM documents d JOIN gated g USING (doc_id)),
       win AS (SELECT fp, MIN(doc_id) AS doc_id FROM gfp GROUP BY 1)
       SELECT gfp.doc_id, gfp.n_tokens
       FROM gfp JOIN win ON gfp.fp = win.fp AND gfp.doc_id = win.doc_id""") { (s, d) =>
    val docs = Tables.df(s, d, "documents")
    val lm = graft.operators.LanguageModel.scoreAgainstSlice(docs, "doc_id", "text",
      docs.where(col("doc_id") % 3 === 0), minCount = LmMinCount)
    // aggregate barrier (PlanAssert/ProbeQap discipline): the band
    // predicate references `num` twice, and pushdown would split the
    // conjunction and inline the entropy kernel into the ent-side
    // Filter — doc_id is unique, so max-per-doc is the identity, the
    // predicate stays above the agg, and the kernel runs exactly once
    val ent = docs.where(length(col("text")) > 0)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
        graft.functions.HashExpressions.byteEntropyBits(
          encode(col("text"), "UTF-8")).as("num"))
      .groupBy(col("doc_id"))
      .agg(max(col("n_chars")).as("n_chars"), max(col("num")).as("num"))
    val gated = lm.join(ent, "doc_id")
      .where(col("num") * 10 >= col("n_chars") * 36 &&
        col("num") * 10 <= col("n_chars") * 44 &&
        col("lm_bits") * 1000 <= col("n_tokens") * 4970)
      .select("doc_id", "n_tokens")
    val gfp = docs.join(gated, "doc_id")
      .select(col("doc_id"), col("n_tokens"), fingerprint(col("text")).as("__fp"))
    val win = gfp.groupBy("__fp").agg(min(col("doc_id")).as("doc_id"))
    gfp.join(win, Seq("__fp", "doc_id"), "left_semi")
      .select("doc_id", "n_tokens")
  }

  /** Composed corpus-preparation v5 — the round-13/14 families end to end
    * in ONE declarative plan: RefinedWeb line corrections (two planted
    * noise lines per doc: a bare number and a social counter; docs whose
    * noise exceeds half their line bytes drop wholesale) → EXACT CDC
    * chunk decontamination against a catalog (every 5th raw document's
    * content-defined chunks; cleaned docs whose chunks re-synchronize
    * onto cataloged content lose exactly those chunks, all-cataloged
    * docs drop) → n-gram LM surprisal gate trained on the DECONTAMINATED
    * corpus' own %3 slice (integer cross-multiplied threshold at 5.17
    * bits/token — keep-the-head: chunk removal splices words at byte
    * boundaries, so this corpus scores ~[5.04, 5.48], a fifth of a bit
    * hotter than the raw corpus under q_pipeline_signals' 4.97 bar) →
    * per-source 512-token sequence packing.
    * Every stage reuses its family's shared oracle fragment verbatim
    * (lineCleanCtes / ExtQueries.cdcChunkCtes / lmScoreCtesOver / the
    * q_pack window), so the end-to-end hash gate replays the REAL
    * operators, no fixture twins. Streaming dual (stateless stages):
    * [[graft.streaming.GraftStreaming.curateStreamV5]].
    */
  private val pipelineV5Q = q("q_pipeline_v5",
    s"""WITH corpus AS (
         SELECT a.doc_id, a.source,
                a.text || chr(10) || '12345' || chr(10) || '3 likes' || chr(10) || b.text AS text
         FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 11),
       ${lineCleanCtes("", "corpus", 1, 2)},
       cat AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
       ${ExtQueries.cdcGearCte},
       ${ExtQueries.cdcChunkCtes("", "lc")},
       ${ExtQueries.cdcChunkCtes("k_", "cat")},
       catf AS (SELECT DISTINCT fp FROM k_cidx),
       keep AS (SELECT c.doc_id, c.pos, substr(t.text, c.pos, c.len) AS piece
                FROM cidx c JOIN lc t USING (doc_id)
                WHERE c.fp NOT IN (SELECT fp FROM catf)),
       dc AS (SELECT doc_id, string_agg(piece, '' ORDER BY pos) AS text
              FROM keep GROUP BY doc_id),
       ${lmScoreCtesOver("dc")},
       gated AS (SELECT doc_id, n_tokens FROM lmdoc
                 WHERE 1000 * lm_bits <= 5170 * n_tokens),
       gs AS (SELECT g.doc_id, c.source, g.n_tokens
              FROM gated g JOIN corpus c USING (doc_id)),
       pk AS (SELECT doc_id, source, n_tokens,
                COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
              FROM gs)
       SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
              CAST(bef // 512 AS BIGINT) AS example_id,
              CAST(bef % 512 AS BIGINT) AS offset
       FROM pk""") { (s, d) =>
    val docs = Tables.df(s, d, "documents")
    val nxt = docs.select((col("doc_id") - 11).as("doc_id"), col("text").as("__t2"))
    val corpus = docs.join(nxt, "doc_id")
      .select(col("doc_id"), col("source"),
        concat(col("text"), lit("\n12345\n3 likes\n"), col("__t2")).as("text"))
    val cleaned = graft.operators.LineCorrections.clean(corpus, "doc_id", "text",
        maxRemovedNum = 1, maxRemovedDen = 2)
      .withColumnRenamed("clean_text", "text")
    val catalog = graft.operators.Cdc.chunkCatalog(
      docs.where(col("doc_id") % 5 === 0), "text")
    // materialized once: the decontaminated relation feeds BOTH the LM
    // reference slice (training) and the scored corpus pass — without
    // this the chunk kernel + anti-join lineage runs twice
    val clean2 = graft.operators.Materialize.once(
      graft.operators.Cdc.dedupAgainst(cleaned, "doc_id", "text", catalog)
        .withColumnRenamed("clean_text", "text"))
    val lm = graft.operators.LanguageModel.scoreAgainstSlice(clean2, "doc_id", "text",
      clean2.where(col("doc_id") % 3 === 0), minCount = LmMinCount)
    val gated = lm.where(col("lm_bits") * 1000 <= col("n_tokens") * 5170)
      .select(col("doc_id"), col("n_tokens"))
    // source comes straight off the base table: corpus's synthesis join
    // preserves (doc_id, source) from docs, and every gated id flowed
    // out of corpus, so joining docs instead of re-running the synthesis
    // join + concat lineage yields identical rows one scan cheaper (r15)
    val withSource = gated.join(docs.select(col("doc_id"), col("source")), "doc_id")
    graft.operators.Packing.packByBudget(withSource, "source", "doc_id",
        "n_tokens", budget = 512L)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("example_id"), col("offset"))
  }

  /** Shared entropy-score CTEs: documents → (doc_id, bits_per_char s,
    * lang-is-en label y) — the evaluation queries' input relation. */
  private val EntropyScoreCtes =
    raw"""pb2 AS (SELECT doc_id, len(text) AS n,
                list_transform(range(1, len(text) + 1),
                  i -> CAST(unicode(text[i:i]) AS BIGINT)) AS bv
              FROM documents WHERE len(text) > 0),
       f2 AS (SELECT doc_id, n, b, COUNT(*) AS c FROM
              (SELECT doc_id, n, unnest(bv) AS b FROM pb2) GROUP BY 1, 2, 3),
       ent2 AS (SELECT doc_id, n, SUM(c * (len(bin(n)) - len(bin(c)))) AS num
                FROM f2 GROUP BY 1, 2),
       scl AS (SELECT round(CAST(num AS DOUBLE) / n, 6) AS s,
                      CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
               FROM ent2 JOIN documents d USING (doc_id))"""

  /** Exact Mann–Whitney AUC of the byte-entropy score against the
    * lang='en' label — evaluation of a quality signal as a first-class
    * oracled aggregate (2U integer accumulation over distinct-score
    * groups, tie-corrected; Eval.auc scaladoc).
    */
  private val aucQ = q("q_auc",
    s"""WITH $EntropyScoreCtes,
       g AS (SELECT s, SUM(y) AS p, SUM(1 - y) AS q FROM scl GROUP BY 1),
       cq AS (SELECT s, p, q,
                COALESCE(SUM(q) OVER (ORDER BY s
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumq
              FROM g)
       SELECT CAST(SUM(p) AS BIGINT) AS n_pos, CAST(SUM(q) AS BIGINT) AS n_neg,
              round(CAST(SUM(p * (2 * cumq + q)) AS DOUBLE)
                    / (SUM(p) * SUM(q) * 2), 6) AS auc
       FROM cq""") { (s, d) =>
    graft.operators.Eval.auc(entropyScored(s, d), "s", "y")
  }

  /** Per-source disaggregated AUC of the same entropy-vs-lang signal —
    * the slice-level evaluation (Eval.aucBy); the aggregate q_auc can
    * hide a slice where the signal inverts.
    */
  private val aucBySourceQ = q("q_auc_by_source",
    s"""WITH $EntropyScoreCtes,
       scl2 AS (SELECT d.source, round(CAST(num AS DOUBLE) / n, 6) AS s,
                       CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
                FROM ent2 JOIN documents d USING (doc_id)),
       g AS (SELECT source, s, SUM(y) AS p, SUM(1 - y) AS q FROM scl2 GROUP BY 1, 2),
       cq AS (SELECT source, s, p, q,
                COALESCE(SUM(q) OVER (PARTITION BY source ORDER BY s
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumq
              FROM g)
       SELECT source, CAST(SUM(p) AS BIGINT) AS n_pos, CAST(SUM(q) AS BIGINT) AS n_neg,
              CASE WHEN SUM(p) > 0 AND SUM(q) > 0
                   THEN round(CAST(SUM(p * (2 * cumq + q)) AS DOUBLE)
                        / (SUM(p) * SUM(q) * 2), 6) END AS auc
       FROM cq GROUP BY 1""") { (s, d) =>
    val docs = Tables.df(s, d, "documents")
    // materialized: aucBy null-filters `s` (the entropyScored rationale)
    val scored = graft.operators.Materialize.once(
      docs.where(length(col("text")) > 0)
        .select(col("source"),
          round(graft.functions.HashExpressions.byteEntropyBits(
            encode(col("text"), "UTF-8")).cast("double") / length(col("text")), 6).as("s"),
          when(col("lang") === "en", 1).otherwise(0).as("y")))
    graft.operators.Eval.aucBy(scored, "source", "s", "y")
  }

  /** Confusion counts + precision/recall/f1 for the gate s >= 4.0 on the
    * same scored relation — exact integer counts, rational metrics.
    */
  private val confusionQ = q("q_confusion",
    s"""WITH $EntropyScoreCtes,
       c AS (SELECT CASE WHEN s >= 4.0 THEN 1 ELSE 0 END AS pred, y FROM scl)
       SELECT CAST(SUM(pred * y) AS BIGINT) AS tp,
              CAST(SUM(pred * (1 - y)) AS BIGINT) AS fp,
              CAST(SUM((1 - pred) * y) AS BIGINT) AS fn,
              CAST(SUM((1 - pred) * (1 - y)) AS BIGINT) AS tn,
              round(CAST(SUM(pred * y) AS DOUBLE) / SUM(pred), 6) AS precision,
              round(CAST(SUM(pred * y) AS DOUBLE) / SUM(y), 6) AS recall,
              round(CAST(2 * SUM(pred * y) AS DOUBLE)
                    / (2 * SUM(pred * y) + SUM(pred * (1 - y)) + SUM((1 - pred) * y)), 6) AS f1
       FROM c""") { (s, d) =>
    graft.operators.Eval.confusionAt(entropyScored(s, d), "s", "y", lit(4.0))
  }

  // ---- Portable HLL cardinality sketch over the fixture gram-hash
  // stream (vocabulary-size estimation): register table + raw estimate,
  // all integer except the single final division, so BOTH are
  // hash-oracled (Profile.hllRegisters scaladoc).

  private val HllP = 8

  private val HllRegisterCtes =
    s"""g2 AS (SELECT g FROM g),
       hreg AS (SELECT g & ${(1 << HllP) - 1} AS bucket,
                MAX(CASE WHEN (g >> $HllP) = 0 THEN ${30 - HllP + 1}
                    ELSE ${30 - HllP + 1} - len(bin(g >> $HllP)) END) AS rho
              FROM g2 GROUP BY 1)"""

  private def hllGramStream(s: SparkSession, d: String): DataFrame =
    Tables.df(s, d, "documents").select(
      explode(HashFamily.Fixture.windowHashes(col("text"), 3)).as("g"))

  /** The sketch itself: (bucket, max-rho) — the engine-portable,
    * mergeable artifact, hash-gated row for row.
    */
  private val hllRegistersQ = q("q_hll_registers",
    s"""WITH $FixtureGramCtes,
       $HllRegisterCtes
       SELECT CAST(bucket AS BIGINT) AS bucket, CAST(rho AS BIGINT) AS rho
       FROM hreg""") { (s, d) =>
    graft.operators.Profile.hllRegisters(hllGramStream(s, d), "g", HllP)
  }

  /** Raw HLL estimate next to the exact distinct count — the sketch's
    * integer-scaled harmonic sum and its single-division estimate,
    * oracle-gated against the same constant both engines interpolate
    * from ONE Scala definition (Profile.hllConstant).
    */
  private val hllEstimateQ = q("q_hll_estimate",
    s"""WITH $FixtureGramCtes,
       $HllRegisterCtes,
       agg AS (SELECT COUNT(*) AS v,
                      SUM(CAST(1 << (${30 - HllP + 2} - rho) AS BIGINT)) AS sp
               FROM hreg),
       sc AS (SELECT ${1L << HllP} AS m, CAST(v AS BIGINT) AS v_nonzero,
                     CAST(sp + (${1L << HllP} - v) * ${1L << (30 - HllP + 2)} AS BIGINT) AS s_scaled
              FROM agg)
       SELECT m, v_nonzero, s_scaled,
              round(${graft.operators.Profile.hllConstant(HllP)} / s_scaled, 6) AS estimate,
              (SELECT CAST(COUNT(DISTINCT g) AS BIGINT) FROM g2) AS n_exact
       FROM sc""") { (s, d) =>
    val grams = hllGramStream(s, d)
    val est = graft.operators.Profile.hllEstimate(
      graft.operators.Profile.hllRegisters(grams, "g", HllP), HllP)
    est.crossJoin(
      grams.agg(countDistinct(col("g")).cast("long").as("n_exact")))
  }

  /** Per-source grouped HLL: one register set per `source`, estimates
    * next to exact distinct counts — the sharded/streaming shape of the
    * sketch (groups are shards; merge is per-(group, bucket) MAX).
    */
  private val hllBySourceQ = q("q_hll_by_source",
    s"""WITH ${HashFamily.Fixture.windowHashCtes("documents", 3, distinct = true)},
       gj AS (SELECT d.source, u.g
              FROM (SELECT doc_id, unnest(wh) AS g FROM wh) u
              JOIN documents d USING (doc_id)),
       hreg AS (SELECT source, g & ${(1 << HllP) - 1} AS bucket,
                MAX(CASE WHEN (g >> $HllP) = 0 THEN ${30 - HllP + 1}
                    ELSE ${30 - HllP + 1} - len(bin(g >> $HllP)) END) AS rho
              FROM gj GROUP BY 1, 2),
       agg AS (SELECT source, COUNT(*) AS v,
                      SUM(CAST(1 << (${30 - HllP + 2} - rho) AS BIGINT)) AS sp
               FROM hreg GROUP BY 1),
       ex AS (SELECT source, CAST(COUNT(DISTINCT g) AS BIGINT) AS n_exact
              FROM gj GROUP BY 1)
       SELECT agg.source, CAST(v AS BIGINT) AS v_nonzero,
              CAST(sp + (${1L << HllP} - v) * ${1L << (30 - HllP + 2)} AS BIGINT) AS s_scaled,
              round(${graft.operators.Profile.hllConstant(HllP)} /
                (sp + (${1L << HllP} - v) * ${1L << (30 - HllP + 2)}), 6) AS estimate,
              n_exact
       FROM agg JOIN ex USING (source)""") { (s, d) =>
    val grams = Tables.df(s, d, "documents").select(col("source"),
      explode(HashFamily.Fixture.windowHashes(col("text"), 3)).as("g"))
    val est = graft.operators.Profile.hllEstimateBy(
      graft.operators.Profile.hllRegistersBy(grams, "source", "g", HllP),
      "source", HllP)
    est.join(grams.groupBy("source")
      .agg(countDistinct(col("g")).cast("long").as("n_exact")), "source")
  }

  // ---- Ranking-quality evaluation (IR metrics over a deterministic
  // retrieval shape): queries = customers, candidates = their orders
  // ranked by o_totalprice DESC (o_orderkey breaks ties), relevant =
  // priority 1/2. Every per-query metric is an integer (LCM-scaled
  // reciprocal ranks — Eval.rankingQuality scaladoc), so the full
  // per-query table hash-oracles.

  private val RankK = 10
  private val RankScale = graft.operators.Eval.lcmTo(RankK) // 2520

  /** Shared ranking CTEs: per-query ranked relevance → per-query integer
    * metrics — the SQL twin of [[graft.operators.Eval.rankingQuality]].
    */
  private val RankingCtes =
    s"""r AS (SELECT o_custkey AS q, o_orderkey AS id,
                CASE WHEN o_orderpriority LIKE '1%' OR o_orderpriority LIKE '2%'
                     THEN 1 ELSE 0 END AS y,
                row_number() OVER (PARTITION BY o_custkey
                  ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
              FROM orders),
       tot AS (SELECT q, SUM(y) AS r_total FROM r GROUP BY 1),
       topk AS (SELECT q, y, rk,
                  SUM(y) OVER (PARTITION BY q ORDER BY rk
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hits
                FROM r WHERE rk <= $RankK),
       pq AS (SELECT q, SUM(y) AS r_at_k,
                MIN(CASE WHEN y = 1 THEN rk END) AS first_rank,
                COALESCE($RankScale // MIN(CASE WHEN y = 1 THEN rk END), 0) AS mrr_num,
                COALESCE(SUM(CASE WHEN y = 1 THEN hits * ($RankScale // rk) END), 0) AS ap_num
              FROM topk GROUP BY 1)"""

  private def rankedOrders(s: SparkSession, d: String): DataFrame =
    Tables.df(s, d, "orders").select(
      col("o_custkey"), col("o_totalprice"), col("o_orderkey"),
      when(substring(col("o_orderpriority"), 1, 1).isin("1", "2"), 1)
        .otherwise(0).as("y"))

  /** Per-query ranking metrics table — hit/precision/recall inputs, MRR
    * and AP numerators at the LCM(1..10)=2520 scale, all BIGINT.
    */
  private val evalRankQ = q("q_eval_rank",
    s"""WITH $RankingCtes
       SELECT pq.q AS o_custkey,
              CAST(r_at_k AS BIGINT) AS r_at_k,
              CAST(r_total AS BIGINT) AS r_total,
              CAST(first_rank AS BIGINT) AS first_rank,
              CAST(mrr_num AS BIGINT) AS mrr_num,
              CAST(ap_num AS BIGINT) AS ap_num
       FROM pq JOIN tot ON pq.q = tot.q""") { (s, d) =>
    graft.operators.Eval.rankingQuality(rankedOrders(s, d),
      "o_custkey", "o_totalprice", "o_orderkey", "y", RankK)
  }

  /** One-row corpus rollup of the per-query table: exact integer sums +
    * single-division rounded metrics (hit rate, macro precision@k, micro
    * recall, MRR).
    */
  private val evalRankAggQ = q("q_eval_rank_agg",
    s"""WITH $RankingCtes,
       j AS (SELECT pq.*, tot.r_total FROM pq JOIN tot ON pq.q = tot.q)
       SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
              CAST(SUM(CASE WHEN first_rank IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
              CAST(SUM(r_at_k) AS BIGINT) AS sum_r_at_k,
              CAST(SUM(r_total) AS BIGINT) AS sum_r_total,
              round(CAST(SUM(CASE WHEN first_rank IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                    / COUNT(*), 6) AS hit_rate,
              round(CAST(SUM(r_at_k) AS DOUBLE) / (COUNT(*) * $RankK), 6) AS precision_at_k,
              CASE WHEN SUM(r_total) > 0
                   THEN round(CAST(SUM(r_at_k) AS DOUBLE) / SUM(r_total), 6) END AS micro_recall,
              round(CAST(SUM(mrr_num) AS DOUBLE)
                    / (CAST(COUNT(*) AS DOUBLE) * $RankScale), 6) AS mrr
       FROM j""") { (s, d) =>
    graft.operators.Eval.rankingSummary(
      graft.operators.Eval.rankingQuality(rankedOrders(s, d),
        "o_custkey", "o_totalprice", "o_orderkey", "y", RankK), RankK)
  }

  /** Expected-calibration-error bins: confidence = byte-entropy mapped to
    * integer milli-units ((num·125)//n, clamped to [0,999] — 8 bits/char
    * spans the unit interval), label = lang='en', 10 equal bins. Per-bin
    * integer counts + the exact |1000·n_pos − conf_sum| ECE numerator
    * (Eval.calibrationBins scaladoc); ECE = Σ ece_num / (1000·N).
    */
  private val evalEceQ = q("q_eval_ece",
    s"""WITH $EntropyScoreCtes,
       conf AS (SELECT least((num * 125) // n, 999) AS c,
                       CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
                FROM ent2 JOIN documents d USING (doc_id))
       SELECT CAST(c // 100 AS BIGINT) AS bin,
              CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(c) AS BIGINT) AS conf_sum,
              CAST(SUM(y) AS BIGINT) AS n_pos,
              CAST(abs(SUM(y) * 1000 - SUM(c)) AS BIGINT) AS ece_num
       FROM conf GROUP BY 1""") { (s, d) =>
    val docs = Tables.df(s, d, "documents")
    // (num·125) // n — IntegralDivide so the clamp input is the oracle's
    // `//` value, not a truncated double quotient
    val confMilli = org.apache.spark.sql.GraftBridge.column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.GraftBridge.expression(
          graft.functions.HashExpressions.byteEntropyBits(
            encode(col("text"), "UTF-8")).cast("long") * 125L),
        org.apache.spark.sql.GraftBridge.expression(
          length(col("text")).cast("long"))))
    // materialized for the same reason as entropyScored: calibrationBins
    // range-filters `c`, which would otherwise inline the entropy kernel
    // into the filter and re-run it per row
    val scored = graft.operators.Materialize.once(
      docs.where(length(col("text")) > 0)
        .select(
          least(confMilli, lit(999L)).cast("long").as("c"),
          when(col("lang") === "en", 1).otherwise(0).as("y")))
    graft.operators.Eval.calibrationBins(scored, "c", "y", nBins = 10)
  }

  /** Cohen's kappa of the s ≥ 4.0 entropy gate against the lang='en'
    * label — chance-corrected agreement as the exact integer ratio
    * 2(tp·tn − fp·fn) / ((tp+fp)(fp+tn) + (tp+fn)(fn+tn)).
    */
  private val evalKappaQ = q("q_eval_kappa",
    s"""WITH $EntropyScoreCtes,
       c AS (SELECT CASE WHEN s >= 4.0 THEN 1 ELSE 0 END AS pred, y FROM scl),
       m AS (SELECT CAST(SUM(pred * y) AS BIGINT) AS tp,
                    CAST(SUM(pred * (1 - y)) AS BIGINT) AS fp,
                    CAST(SUM((1 - pred) * y) AS BIGINT) AS fn,
                    CAST(SUM((1 - pred) * (1 - y)) AS BIGINT) AS tn
             FROM c)
       SELECT tp, fp, fn, tn,
              CAST((tp * tn - fp * fn) * 2 AS BIGINT) AS kappa_num,
              CAST((tp + fp) * (fp + tn) + (tp + fn) * (fn + tn) AS BIGINT) AS kappa_den,
              CASE WHEN (tp + fp) * (fp + tn) + (tp + fn) * (fn + tn) > 0
                   THEN round(CAST((tp * tn - fp * fn) * 2 AS DOUBLE)
                        / ((tp + fp) * (fp + tn) + (tp + fn) * (fn + tn)), 6) END AS kappa
       FROM m""") { (s, d) =>
    graft.operators.Eval.kappa(
      entropyScored(s, d).select(
        when(col("s") >= 4.0, 1).otherwise(0).as("pred"), col("y")),
      "pred", "y")
  }

  /** (s = rounded bits_per_char, y = lang-is-en) scored relation shared
    * by the evaluation queries — the Spark twin of [[EntropyScoreCtes]].
    */
  private def entropyScored(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.df(s, d, "documents")
    // materialized (PlanAssert discipline, ProbePlanGate r12): every eval
    // consumer null-filters the score, and a filter on the projected `s`
    // would be pushdown-inlined and re-run the entropy kernel per row;
    // the checkpoint is an eval-sized (score, label) relation read by up
    // to three downstream aggregates, so one materialization also
    // deduplicates the kernel across them
    graft.operators.Materialize.once(
      docs.where(length(col("text")) > 0)
        .select(
          round(graft.functions.HashExpressions.byteEntropyBits(
            encode(col("text"), "UTF-8")).cast("double") / length(col("text")), 6).as("s"),
          when(col("lang") === "en", 1).otherwise(0).as("y")))
  }

  // ---- 6-hour resample of the events stream, per user.

  private val ResampleBucketNs = 21600000000000L // 6 hours

  private val ResampleOracleSql =
    s"""WITH e AS (SELECT user_id, epoch_ns(ts) // $ResampleBucketNs AS bucket, value FROM events),
       b AS (SELECT user_id, bucket, COUNT(*) AS n,
               SUM(CAST(value AS DECIMAL(28,4))) AS tot
             FROM e GROUP BY 1, 2),
       r AS (SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi FROM b GROUP BY 1),
       dense AS (SELECT user_id, unnest(range(lo, hi + 1)) AS bucket FROM r),
       f AS (SELECT dense.user_id, dense.bucket, COALESCE(b.n, 0) AS n, b.tot
             FROM dense LEFT JOIN b
               ON dense.user_id = b.user_id AND dense.bucket = b.bucket)
       SELECT user_id, bucket, CAST(n AS BIGINT) AS n,
              CAST(COALESCE(tot, 0) AS DOUBLE) AS total,
              CAST(last_value(tot IGNORE NULLS)
                     OVER (PARTITION BY user_id ORDER BY bucket) AS DOUBLE) AS filled
       FROM f"""

  private val resampleQ = q("q_resample", ResampleOracleSql) { (s, d) =>
    Resample.resample(Tables.eventsNs(s, d), "user_id", "ts", "value", ResampleBucketNs)
  }

  /** Rolling 4-bucket mean over the DENSIFIED series — the consumer the
    * gap-fill exists for (over sparse buckets a ROWS frame silently spans
    * arbitrary time). Decimal frame sum / frame count keeps the window
    * engine-deterministic.
    */
  private val resampleRollingQ = q("q_resample_rolling",
    s"""SELECT user_id, bucket, n, total,
         CAST(SUM(CAST(total AS DECIMAL(28,4))) OVER w AS DOUBLE)
           / COUNT(*) OVER w AS rolling
       FROM ($ResampleOracleSql) base
       WINDOW w AS (PARTITION BY user_id ORDER BY bucket
                    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""") { (s, d) =>
    Resample.rollingMean(
      Resample.resample(Tables.eventsNs(s, d), "user_id", "ts", "value", ResampleBucketNs)
        .drop("filled"),
      "user_id", "bucket", "total", nRows = 4)
  }

  // ---- Chunk->doc embedding mean-pool (8 chunks per synthetic doc),
  // exact explode shape; the array-native twin is PoolingSpec-gated.

  private val embedPoolQ = q("q_embed_pool",
    """WITH e AS (SELECT vec_id // 8 AS grp, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       x AS (SELECT grp, i - 1 AS dim, v[CAST(i AS INT)] AS val
             FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS i) idx),
       a AS (SELECT grp, dim, COUNT(*) AS n,
               SUM(CAST(val AS DECIMAL(28,8))) AS s
             FROM x GROUP BY 1, 2)
       SELECT grp, CAST(dim AS BIGINT) AS dim, CAST(n AS BIGINT) AS n,
              CAST(s AS DOUBLE) / n AS avg
       FROM a""") { (s, d) =>
    Pooling.meanPoolExact(
      Tables.embeddings(s, d).select(expr("vec_id div 8").as("grp"), col("embedding")),
      "grp", "embedding")
  }

  // ---- Decile quality binning via the distributed rank cut.

  private val qualityBinsQ = q("q_quality_bins",
    s"""WITH qd AS (${ExtQueries.QualityDocsSql}),
       r AS (SELECT doc_id, quality,
               row_number() OVER (ORDER BY quality, doc_id) AS rn,
               COUNT(*) OVER () AS n
             FROM qd)
       SELECT doc_id, quality, ${Split.quantileBinSql("rn", "n", 10)} AS bin
       FROM r""") { (s, d) =>
    val scored = Tables.df(s, d, "documents")
      .select(col("doc_id"), qualityScore(col("text")).as("quality"))
    Split.byQuantile(scored, "quality", "doc_id", nBins = 10)
  }

  /** The sketch twin of q_quality_bins (the q_profile_numeric_approx
    * discipline): accuracy ≥ n makes the GK sketch exact-discrete — cut_b
    * is the element at 1-based rank ⌈(b/10)·n⌉ — so the 100 TB code path
    * itself (one streaming aggregate + map-side comparisons, NO global
    * sort) sits behind the hash gate. Bins are value-based: tied scores
    * share a bin (vs q_quality_bins' rank-split by doc_id).
    */
  private val qualityBinsApproxQ = q("q_quality_bins_approx",
    s"""WITH qd AS (${ExtQueries.QualityDocsSql}),
       nn AS (SELECT COUNT(*) AS n FROM qd),
       r AS (SELECT quality, row_number() OVER (ORDER BY quality) AS rn FROM qd),
       cuts AS (SELECT list(quality ORDER BY rn) AS cs FROM r
                WHERE rn IN (SELECT unnest(${Split.approxCutRanksSql("nn.n", 10)}) FROM nn))
       SELECT doc_id, quality,
              CAST(len(list_filter(cuts.cs, c -> quality > c)) AS INT) AS bin
       FROM qd CROSS JOIN cuts""") { (s, d) =>
    val scored = Tables.df(s, d, "documents")
      .select(col("doc_id"), qualityScore(col("text")).as("quality"))
    Split.byQuantileApprox(scored, "quality", nBins = 10, accuracy = 1000000)
  }

  // ---- Quality-curriculum sampling: keep rate rises with the decile
  // ((b+1)/10 — drop 90% of the worst bin, keep all of the best), every
  // decision replayed from (id, bin) alone.

  private val CurriculumRates: Seq[(Long, Long)] = (1L to 10L).map(b => (b, 10L))

  private val curriculumQ = q("q_curriculum",
    s"""WITH qd AS (${ExtQueries.QualityDocsSql}),
       r AS (SELECT doc_id, quality,
               row_number() OVER (ORDER BY quality, doc_id) AS rn,
               COUNT(*) OVER () AS n
             FROM qd),
       b AS (SELECT doc_id, quality, ${Split.quantileBinSql("rn", "n", 10)} AS bin
             FROM r)
       SELECT doc_id, quality, bin FROM b
       WHERE ${OracleSql.lcg31("doc_id")} < ${Split.rateThresholdSql("bin", CurriculumRates)}""") { (s, d) =>
    val scored = Tables.df(s, d, "documents")
      .select(col("doc_id"), qualityScore(col("text")).as("quality"))
    Split.curriculumSample(scored, "quality", "doc_id", CurriculumRates)
  }

  /** The 100 TB curriculum (Split.curriculumSampleApprox): sketch-edge
    * value bins + the same per-bin LCG keep ladder — no global sort
    * anywhere, and still fully hash-replayed (the byQuantileApprox
    * exact-discrete discipline composed with the threshold SQL).
    */
  private val curriculumApproxQ = q("q_curriculum_approx",
    s"""WITH qd AS (${ExtQueries.QualityDocsSql}),
       nn AS (SELECT COUNT(*) AS n FROM qd),
       r AS (SELECT quality, row_number() OVER (ORDER BY quality) AS rn FROM qd),
       cuts AS (SELECT list(quality ORDER BY rn) AS cs FROM r
                WHERE rn IN (SELECT unnest(${Split.approxCutRanksSql("nn.n", 10)}) FROM nn)),
       b AS (SELECT doc_id, quality,
               CAST(len(list_filter(cuts.cs, c -> quality > c)) AS INT) AS bin
             FROM qd CROSS JOIN cuts)
       SELECT doc_id, quality, bin FROM b
       WHERE ${OracleSql.lcg31("doc_id")} < ${Split.rateThresholdSql("bin", CurriculumRates)}""") { (s, d) =>
    val scored = Tables.df(s, d, "documents")
      .select(col("doc_id"), qualityScore(col("text")).as("quality"))
    Split.curriculumSampleApprox(scored, "quality", "doc_id", CurriculumRates,
      accuracy = 1000000)
  }

  private val CuratedParts = Seq(("train", 90L), ("val", 5L), ("test", 5L))

  /** The round-8 composed pipeline: quality-decile curriculum sampling →
    * Bloom decontamination gate (benchmark pool = every 50th doc; pool
    * members surviving the curriculum self-identify at contamination 1.0
    * and are gated out) → exact-dup-aware split (every doc follows its
    * min-id fingerprint representative). Every stage is an operator
    * oracled on its own elsewhere; this query pins their COMPOSITION as
    * one declarative plan, the q_pipeline discipline.
    */
  private val pipelineCuratedQ = q("q_pipeline_curated", {
    val pos = HashFamily.Fixture.positionSqls("g", BloomM, BloomK).mkString("[", ", ", "]")
    s"""WITH qd AS (${ExtQueries.QualityDocsSql}),
       r AS (SELECT doc_id, quality,
               row_number() OVER (ORDER BY quality, doc_id) AS rn,
               COUNT(*) OVER () AS n
             FROM qd),
       b AS (SELECT doc_id, quality, ${Split.quantileBinSql("rn", "n", 10)} AS bin
             FROM r),
       cur AS (SELECT doc_id, quality, bin FROM b
               WHERE ${OracleSql.lcg31("doc_id")} < ${Split.rateThresholdSql("bin", CurriculumRates)}),
       $FixtureGramCtes,
       poolpos AS (SELECT DISTINCT pos FROM
                     (SELECT unnest($pos) AS pos FROM
                       (SELECT DISTINCT g FROM g WHERE doc_id % 50 = 0) pg)),
       cg AS (SELECT g.doc_id, g.g FROM g JOIN cur ON g.doc_id = cur.doc_id),
       cpos AS (SELECT doc_id, g, unnest($pos) AS pos FROM cg),
       mk AS (SELECT cpos.doc_id, cpos.g,
                CASE WHEN pp.pos IS NULL THEN 0 ELSE 1 END AS hit
              FROM cpos LEFT JOIN poolpos pp ON cpos.pos = pp.pos),
       gv AS (SELECT doc_id, g, MIN(hit) AS allhit FROM mk GROUP BY 1, 2),
       cont AS (SELECT doc_id,
                  round(CAST(SUM(allhit) AS DOUBLE) / COUNT(*), 6) AS contamination
                FROM gv GROUP BY doc_id),
       gated AS (SELECT cur.doc_id AS doc_id, quality, bin, contamination
                 FROM cur JOIN cont ON cur.doc_id = cont.doc_id
                 WHERE contamination <= 0.2),
       fps AS (SELECT gated.doc_id AS doc_id, quality, bin, contamination,
                 md5(regexp_replace(lower(trim(d.text)), '\\s+', ' ', 'g')) AS fp
               FROM gated JOIN documents d ON gated.doc_id = d.doc_id),
       reps AS (SELECT fp, MIN(doc_id) AS rep FROM fps GROUP BY 1)
       SELECT fps.doc_id AS doc_id, quality, bin, contamination,
              ${Split.assignSql(OracleSql.lcg31("reps.rep"), CuratedParts)} AS split
       FROM fps JOIN reps ON fps.fp = reps.fp"""
  }) { (s, d) =>
    val docs = Tables.df(s, d, "documents")
    val scored = docs.select(col("doc_id"), col("text"),
      qualityScore(col("text")).as("quality"))
    val kept = Split.curriculumSample(scored, "quality", "doc_id", CurriculumRates)
    val contam = Bloom.ngramContaminationBloom(
      kept, docs.where(col("doc_id") % 50 === 0),
      "doc_id", "text", shingle = 3, mBits = BloomM, k = BloomK, family = HashFamily.Fixture)
      .withColumnRenamed("contamination_bloom", "contamination")
    // aggregate barrier (PlanAssert/ProbeQap discipline): filtering the
    // projected contamination directly pushes the predicate below the
    // join and INLINES the gram+bloom kernel into the Filter (evaluated
    // there AND again in the output projection). doc_id is unique, so a
    // max-per-doc aggregate is the identity — but the predicate lands
    // ABOVE it, the kernel runs exactly once, and the agg's hash
    // partitioning on doc_id is reused by the join (no new exchange).
    val contamB = contam.groupBy(col("doc_id"))
      .agg(max(col("contamination")).as("contamination"))
    val gated = kept.join(contamB, Seq("doc_id"))
      .where(col("contamination") <= 0.2)
    // narrow barrier (r15): withFp feeds TWO consumers (reps aggregate +
    // final join) — without it the whole gated lineage, including the
    // gram+bloom contamination branch, executes once per consumer. Text
    // is dropped first so the checkpoint stays id/score/fp-narrow.
    val withFp = graft.operators.Materialize.once(
      gated.withColumn("fp", fingerprint(col("text"))).drop("text"))
    val reps = withFp.groupBy("fp").agg(min(col("doc_id")).as("rep"))
    Split.groupAware(withFp.join(reps, Seq("fp")), "rep", CuratedParts)
      .select("doc_id", "quality", "bin", "contamination", "split")
  }

  // ---- Deterministic pretraining shuffle order.

  private val shuffleQ = q("q_shuffle",
    s"""SELECT doc_id,
         CAST(row_number() OVER (ORDER BY ${OracleSql.lcg31("doc_id")}, doc_id) - 1 AS BIGINT) AS pos
       FROM documents""") { (s, d) =>
    Split.shufflePositions(Tables.df(s, d, "documents").select("doc_id"), "doc_id")
  }

  // ---- Embedding-column intake profile.

  private val profileVecQ = q("q_profile_vec",
    """WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       n AS (SELECT list_sum(list_transform(v, x -> x * x)) AS n2 FROM e)
       SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(SUM(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_vecs,
              MIN(n2) AS min_norm2, MAX(n2) AS max_norm2,
              CAST(SUM(CAST(n2 AS DECIMAL(28,8))) AS DOUBLE) / COUNT(*) AS avg_norm2
       FROM n""") { (s, d) =>
    graft.operators.Profile.vector(Tables.embeddings(s, d), "embedding")
  }

  val all: Seq[QueryDef] = Seq(
    contaminationBloomQ, oovRateQ, oovRefQ, lmScoreQ, lmScoreDistilledQ,
    lmScoreIndexedQ, ccnetBucketsQ, dsirQ, dsirSelectQ, paragraphDedupQ, paragraphDedupWithinQ, lineCorrectionsQ, paragraphDedupCatalogQ, entropyQ, pipelineSignalsQ,
    aucQ, aucBySourceQ, confusionQ, evalRankQ, evalRankAggQ, evalEceQ, evalKappaQ,
    hllRegistersQ, hllEstimateQ, hllBySourceQ,
    resampleQ, resampleRollingQ,
    embedPoolQ, qualityBinsQ, qualityBinsApproxQ, curriculumQ, curriculumApproxQ, profileVecQ, pipelineCuratedQ,
    pipelineV5Q, shuffleQ)
}
