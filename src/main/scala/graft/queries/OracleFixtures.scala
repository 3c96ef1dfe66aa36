package graft.queries

import graft.operators.HashFamily

/** Fixed literal parameters for the oracle-fixture twins of the hash/
  * quantization query family, plus the DuckDB SQL fragments generated FROM
  * the same constants — the q_pq_encode discipline (ExtQueries): Spark and
  * the oracle read one definition, so they cannot drift.
  *
  * Why fixtures oracle cleanly where the production operators cannot:
  * xxhash64 re-seeding and iterative float k-means are not replayable in
  * DuckDB SQL, but the OPERATOR pipelines (encode→LUT→ADC ranking, sign
  * bucket→multi-probe→re-rank, sign→band→candidate→verify) are hash-
  * agnostic. Pinning literal parameters whose arithmetic both engines
  * compute bit-identically — dyadic centroids/planes (float products and
  * argmins in exact doubles), sub-2³¹ modular integer chains — puts the
  * full pipeline behind the driver's hash-compare gate.
  */
object OracleFixtures {

  // ---- PQ: m=4 subspaces x 16 dims over the 64-dim embeddings; ksub=4
  // constant centroids per subspace at exactly-representable quarters.
  // (x - c) is exact for float x and dyadic c; its square fits a double's
  // 53-bit mantissa, so per-subspace distances differ across engines only
  // via summation ORDER — and both sum left-to-right (measured bit-exact:
  // max adist delta 0.0 on sf0.01).
  val PqCents: Array[Double] = Array(0.75, 0.25, -0.25, -0.75)
  val PqM = 4
  val PqSubDim = 16

  def pqBooks: Array[Array[Array[Float]]] =
    Array.fill(PqM)(PqCents.map(c => Array.fill(PqSubDim)(c.toFloat)))

  /** CTEs `dc` (per-subspace distance arrays — the encode input AND the
    * per-query ADC lookup table) and `cc` (adds 1-based argmin codes,
    * ties to the lowest index via list_position-of-min) over `embeddings`.
    */
  def pqCodeCtes: String = {
    def dexpr(sl: String, c: Double): String = {
      val op = if (c > 0) s"- $c" else s"+ ${-c}"
      s"list_sum(list_transform($sl, x -> (x $op) * (x $op)))"
    }
    def darr(sl: String): String =
      PqCents.map(c => dexpr(sl, c)).mkString("[", ",\n       ", "]")
    val slices = (0 until PqM).map(j => s"v[${j * PqSubDim + 1}:${(j + 1) * PqSubDim}]")
    val dcols = slices.zipWithIndex
      .map { case (sl, j) => s"${darr(sl)} AS d${j + 1}" }.mkString(",\n     ")
    val ccols = (1 to PqM)
      .map(j => s"list_position(d$j, list_min(d$j)) AS c$j").mkString(", ")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       dc AS (SELECT vec_id, v,
     $dcols FROM e),
       cc AS (SELECT vec_id, v, ${(1 to PqM).map(j => s"d$j").mkString(", ")}, $ccols FROM dc)"""
  }

  /** `q.dJ[n.cJ]` ADC sum — query `q`'s distance arrays are its LUT. */
  def pqAdcExpr(q: String, n: String): String =
    (1 to PqM).map(j => s"$q.d$j[$n.c$j]").mkString(" + ")

  // ---- LSH: 8 literal hyperplanes over 64 dims, entries dyadic
  // (±1, ±0.5, ±0.25) by a deterministic pattern, so every product with an
  // embedding float is EXACT in double and the sign decision (the bucket
  // bit — where an ulp changes the candidate set, not just a rank) is
  // bit-stable across engines.
  val LshBits = 8
  val LshProbeHamming = 3

  def lshPlanes: Array[Array[Double]] =
    Array.tabulate(LshBits, 64) { (i, d) =>
      (if ((i * 7 + d * 3) % 2 == 0) 1.0 else -1.0) * Array(1.0, 0.5, 0.25)((i + d) % 3)
    }

  /** `b` CTE: per-vector bucket = Σ 2^i·[dot(v, plane_i) ≥ 0]. */
  def lshBucketCte: String = {
    val planes = lshPlanes
    def dot(i: Int): String =
      (0 until 64).map(d => s"v[${d + 1}]*(${planes(i)(d)})").mkString(" + ")
    val bucket = (0 until LshBits)
      .map(i => s"(CASE WHEN ${dot(i)} >= 0 THEN ${1L << i} ELSE 0 END)")
      .mkString("\n       + ")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       b AS (SELECT vec_id, v, CAST($bucket AS BIGINT) AS bkt FROM e)"""
  }

  // ---- MinHash under HashFamily.Fixture: all-integer modular chains,
  // coefficients (2s+3, 5s+7) small enough that a*h never leaves 64 bits.
  val MhShingle = 3
  val MhNumHashes = 64
  val MhBands = 16
  val MhRows: Int = MhNumHashes / MhBands
  val MhThreshold = 0.7

  // ---- SimHash under HashFamily.Fixture: per-bit parity votes of modular integer chains over distinct windows, summed
  // into a 60-bit signature (top 4 bits zero, so chunk-key shifts are
  // plain nonnegative arithmetic in both engines).
  val ShShingle = 2
  val ShMaxHamming = 3
  val ShChunks: Int = ShMaxHamming + 1
  val ShWidth: Int = 64 / ShChunks
  val ShMask: Long = (1L << ShWidth) - 1

  /** CTEs from `documents` (∪ shifted copies) to the per-doc fixture
    * simhash signature — the DuckDB replay of
    * [[graft.operators.Dedup.simhashNearDuplicates]]' signatures under
    * [[HashFamily.Fixture]].
    */
  def simhashSigCtes: String =
    s"""corpus AS (SELECT doc_id, text FROM documents
                   UNION ALL SELECT doc_id + 10000, text FROM documents),
       ${HashFamily.Fixture.windowHashCtes("corpus", ShShingle, distinct = true)},
       sig AS (SELECT doc_id,
                ${HashFamily.Fixture.simhashSigSql("wh")} AS sig FROM wh)"""

  /** `(sig >> chunk*width) & mask` — one definition for both join keys and
    * the first-agreeing-chunk filter.
    */
  def shChunkKey(sig: String, chunk: String): String =
    s"(($sig >> ($chunk*$ShWidth)) & $ShMask)"

  /** CTEs from `documents` (∪ shifted copies, the docsWithDups corpus) to
    * per-doc fixture signature + band-hash arrays.
    */
  def minhashSigCtes: String =
    s"""corpus AS (SELECT doc_id, text FROM documents
                   UNION ALL SELECT doc_id + 10000, text FROM documents),
       ${HashFamily.Fixture.windowHashCtes("corpus", MhShingle, distinct = false)},
       sig AS (SELECT doc_id, ${HashFamily.Fixture.minhashSigSql("wh", MhNumHashes)} AS sig FROM wh),
       bh AS (SELECT doc_id, sig, ${HashFamily.Fixture.bandHashesSql("sig", MhBands, MhRows)} AS bh FROM sig)"""

  // ---- Perceptual average-hash (Multimodal.phash / PhashBytes): integer
  // cell-mean-vs-payload-mean votes over payload bytes, 60 bits (the
  // fixture simhash discipline: nonnegative signature, plain `>>` chunk
  // keys). Unlike the minhash/simhash families this needs NO fixture
  // twin — the production arithmetic is already all-integer, so the
  // oracle replays the REAL operator.
  val PhBits = 60

  /** CTEs pb/pagg/sig: per-doc average-hash signature from `src` (a
    * relation with doc_id, text) — the DuckDB replay of
    * [[graft.functions.PhashBytes]] over the UTF-8 payload bytes that
    * [[graft.operators.Multimodal.fromKeyedText]] derives from the text
    * (ASCII corpus: characters == bytes, the q_io_binary_files
    * assumption). Cross-multiplied integer comparisons, no division.
    */
  def phashSigCtes(src: String): String = phashSigCtesKeyed(src, "doc_id")

  /** The same average-hash replay keyed by an arbitrary key list — the
    * video-keyframe oracle applies it per (doc_id, frame_index) over
    * frame slices instead of per doc_id over whole payloads; ONE formula
    * for both so the two lanes cannot drift.
    */
  def phashSigCtesKeyed(src: String, keys: String): String =
    s"""pb AS (SELECT $keys, len(text) AS n,
                list_transform(range(1, len(text) + 1),
                  i -> CAST(unicode(text[i:i]) AS BIGINT)) AS bv FROM $src),
       pagg AS (SELECT $keys, n, bv, list_sum(bv) AS tot FROM pb),
       sig AS (SELECT $keys,
                CASE WHEN n = 0 THEN CAST(0 AS BIGINT) ELSE
                list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(range(0, $PhBits), c ->
                    CASE WHEN list_sum(list_transform(range(1, n+1), i ->
                          CASE WHEN ((i-1) * $PhBits) // n = c THEN bv[i] ELSE CAST(0 AS BIGINT) END)) * n
                        > tot * len(list_filter(range(1, n+1), i -> ((i-1) * $PhBits) // n = c))
                    THEN CAST(2**c AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
                  (a, v) -> a + v) END AS sig FROM pagg)"""

  // ---- Acoustic fingerprint (Multimodal.audioFingerprint /
  // AudioFingerprint): sign-of-delta-frame-energy bits over payload
  // samples, 60 bits. Like phash, production arithmetic is all-integer
  // — the oracle replays the REAL operator, no fixture twin.
  val AfBits = 60

  /** CTEs ab/ae/asig: per-doc acoustic fingerprint from `src` (doc_id,
    * text) — the DuckDB replay of [[graft.functions.AudioFingerprint]]
    * over the UTF-8 payload bytes as unsigned samples (ASCII corpus:
    * characters == bytes). `AfBits`+1 frames of Σv² energy; bit c =
    * [E_{c+1} > E_c].
    */
  def audioSigCtes(src: String): String =
    s"""ab AS (SELECT doc_id, len(text) AS n,
                list_transform(range(1, len(text) + 1),
                  i -> CAST(unicode(text[i:i]) AS BIGINT)) AS sv FROM $src),
       ae AS (SELECT doc_id, n,
                list_transform(range(0, ${AfBits + 1}), f ->
                  list_sum(list_transform(range(1, n+1), i ->
                    CASE WHEN ((i-1) * ${AfBits + 1}) // n = f
                         THEN sv[i] * sv[i] ELSE CAST(0 AS BIGINT) END))) AS e
              FROM ab),
       asig AS (SELECT doc_id,
                CASE WHEN n = 0 THEN CAST(0 AS BIGINT) ELSE
                list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(range(0, $AfBits), c ->
                    CASE WHEN e[c+2] > e[c+1]
                    THEN CAST(2**c AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
                  (a, v) -> a + v) END AS sig FROM ae)"""

  // ---- Quality-model fixture: literal logistic weights over the
  // QualityModel.featureVector order [bias, alpha_ratio, punct_ratio,
  // mean_word_len/12, min(distinct_ratio,1), min(n_words/100,1)]. Dyadic
  // values, and the logit is a fixed left-to-right chain of rational
  // arithmetic — no transcendentals — so both engines round identically.
  val QmWeights: Seq[Double] = Seq(-1.5, 2.0, -4.0, 0.5, 1.25, 0.75)

  /** Banding → candidate pairs → first-agree filter → signature-agreement
    * threshold over the [[minhashSigCtes]] `bh` CTE — ONE definition for
    * the batch fixture twin (`pairWhere` = "l.doc_id < r.doc_id") and the
    * persistent-index twin (delta-vs-corpus membership filter), exactly
    * as Dedup.minhashPairsFromSigs is shared on the Spark side.
    */
  /** The banding→candidate→first-agree→verify pipeline as CTEs ending in
    * `mpairs(idA, idB, est_jaccard)` — the composable form, so oracles
    * that post-process the LSH pair set (q_eval_dedup) share the exact
    * text the plain pair queries render.
    */
  def minhashPairsCtes(pairWhere: String): String = {
    val est = s"CAST(len(list_filter(range(0, $MhNumHashes), k -> sigA[k+1] = sigB[k+1])) AS DOUBLE) / $MhNumHashes"
    s"""banded AS (SELECT doc_id, sig, bh, unnest(range(0, $MhBands)) AS band FROM bh),
       pairs AS (
         SELECT l.doc_id AS idA, r.doc_id AS idB, l.sig AS sigA, r.sig AS sigB, l.band,
                list_position(list_transform(range(0, $MhBands),
                  k -> l.bh[k+1] = r.bh[k+1]), true) - 1 AS first_agree
         FROM banded l JOIN banded r ON l.band = r.band AND l.bh[l.band+1] = r.bh[r.band+1]
         WHERE $pairWhere),
       mpairs AS (
         SELECT idA, idB, $est AS est_jaccard
         FROM pairs
         WHERE band = first_agree AND $est >= $MhThreshold)"""
  }

  def minhashPairsSql(pairWhere: String,
      aliasA: String = "idA", aliasB: String = "idB"): String =
    s"""${minhashPairsCtes(pairWhere)}
       SELECT idA AS $aliasA, idB AS $aliasB, est_jaccard FROM mpairs"""
}
