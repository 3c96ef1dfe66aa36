package graft.operators

import graft.functions.TextFunctions.{tokens, words}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BM25 ranked retrieval over the corpus, transcendental-free.
  *
  * Textbook BM25 (Robertson/Spärck Jones) scores
  * `idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))` with
  * `idf = ln((N-df+0.5)/(df+0.5))`. Two determinism obstacles for the
  * oracle gate: `ln` (engines differ in the last ulp) and cross-term
  * float summation order. Both are removed without changing the RANKING
  * semantics the operator exists for:
  *
  *  - the idf log is monotone, so scoring with the RAW odds ratio
  *    `(N-df+0.5)/(df+0.5)` = `(2(N-df)+1)/(2df+1)` preserves per-term
  *    orderings; doubled-integer form keeps it exact;
  *  - `avgdl = SUMDL/N` is cleared by scaling numerator and denominator
  *    by `k1d*bd*SUMDL` (k1 = k1n/k1d, b = bn/bd as exact rationals),
  *    leaving INTEGER numerator/denominator:
  *      Nu = (k1n+k1d)*bd*SUMDL*tf
  *      D  = k1d*bd*SUMDL*tf + k1n*(bd-bn)*SUMDL + k1n*bn*dl*N
  *    and the score is three IEEE-exact double ops in fixed order:
  *    `(idfn/idfd) * (Nu/D)` — bit-identical across engines;
  *  - output is per-(term, doc) rows ranked per term, so no float is ever
  *    summed. (Multi-term additive retrieval would sum per-term scores;
  *    do that through the DECIMAL-sum discipline if needed.)
  *
  * Overflow bound: D < k1d*bd*SUMDL*tf + k1n*bd*SUMDL + k1n*bn*dl*N.
  * With default k1=6/5, b=3/4 and a 100 TB corpus (SUMDL ~ 2.5e13 tokens,
  * N ~ 1e11 docs, tf ≤ 1e4, dl ≤ 1e6): the tf term ~ 5e18 exceeds Long —
  * at that scale cap tf (BM25 saturates anyway) or shift to DECIMAL(38).
  * Long arithmetic is exact through PB-scale corpora with tf ≤ ~1e3.
  *
  * Scale shape: token stats are two hash aggregations over the exploded
  * stream; (N, SUMDL) is a 1-row broadcast; per-term df is a terms-sized
  * broadcast; tf⋈dl joins two aggregations of the SAME shuffle key
  * (doc id) — co-partitioned, no extra exchange; the per-term top-k is a
  * rank window over |terms| partitions of candidate docs only (docs with
  * tf ≥ 1), never the corpus.
  */
object Retrieval {

  /** Integer coefficients (nuTf, dTf, dConst, dDlN) for k1 = k1n/k1d,
    * b = bn/bd — shared by the Column path and [[bm25ScoreSql]] so the
    * two engines cannot drift.
    */
  def bm25Coefficients(k1n: Long, k1d: Long, bn: Long, bd: Long): (Long, Long, Long, Long) =
    ((k1n + k1d) * bd, k1d * bd, k1n * (bd - bn), k1n * bn)

  /** DuckDB score expression over columns tf, dl, dfn (per-term doc freq),
    * nn (corpus doc count), sumdl (corpus token count).
    */
  def bm25ScoreSql(k1n: Long, k1d: Long, bn: Long, bd: Long): String = {
    val (nuTf, dTf, dConst, dDlN) = bm25Coefficients(k1n, k1d, bn, bd)
    s"""(CAST(2*(nn - dfn) + 1 AS DOUBLE) / CAST(2*dfn + 1 AS DOUBLE)) *
        (CAST($nuTf * sumdl * tf AS DOUBLE) /
         CAST($dTf * sumdl * tf + $dConst * sumdl + $dDlN * dl * nn AS DOUBLE))"""
  }

  /** Top-k docs per query term: (term, rank, doc_id-named idCol, score). */
  def bm25(docs: DataFrame, idCol: String, textCol: String, terms: Seq[String],
      topK: Int = 10, k1n: Long = 6, k1d: Long = 5, bn: Long = 3, bd: Long = 4): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    val (nuTf, dTf, dConst, dDlN) = bm25Coefficients(k1n, k1d, bn, bd)
    val toks = docs.select(col(idCol).as("__id"), explode(words(col(textCol))).as("term"))
    val dl = toks.groupBy("__id").agg(count(lit(1)).as("dl"))
    val totals = dl.agg(count(lit(1)).as("nn"), sum(col("dl")).as("sumdl"))
    val tf = toks.where(col("term").isin(terms: _*))
      .groupBy("__id", "term").agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy("term").agg(count(lit(1)).as("dfn"))
    val scored = tf.join(dl, "__id")
      .crossJoin(broadcast(totals))
      .join(broadcast(dfc), "term")
      .withColumn("score",
        (((lit(2L) * (col("nn") - col("dfn")) + lit(1L)).cast("double") /
          (lit(2L) * col("dfn") + lit(1L)).cast("double")) *
         ((lit(nuTf) * col("sumdl") * col("tf")).cast("double") /
          (lit(dTf) * col("sumdl") * col("tf") + lit(dConst) * col("sumdl") +
            lit(dDlN) * col("dl") * col("nn")).cast("double"))))
    val w = Window.partitionBy(col("term")).orderBy(col("score").desc, col("__id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .select(col("term"), col("rank"), col("__id").as(idCol), col("score"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009) —
    * the standard hybrid-retrieval combiner (lexical BM25 list + vector
    * ANN list → one ranking) that needs no score calibration: each
    * ranking contributes 1/(k + rank) per item.
    *
    * Determinism: the reciprocal is computed as the INTEGER fixed point
    * `10^12 // (k + rank)` (integral division — both engines agree
    * exactly), so fused scores are exact BIGINT sums: no float summation
    * order, no last-ulp rank flips. With r rankings of ≤ n items each,
    * scores stay < r·10^12/(k+1) — overflow-free for any real fan-in.
    *
    * Input: rows (queryCol, itemCol, rankCol, [sourceCol]) — the UNION
    * of the per-source rankings (ranks 1-based within (query, source));
    * items missing from a source simply contribute nothing (the RRF
    * convention). Output: (query, item, rrf_score, fused_rank) — ranked
    * per query, score-desc with item-asc tiebreak, top `topK`.
    *
    * Scale shape: one hash aggregate on (query, item) + one rank window
    * per QUERY partition (candidates per query, never corpus-length).
    */
  def reciprocalRankFusion(df: DataFrame, queryCol: String, itemCol: String,
      rankCol: String, topK: Int = 10, k: Long = 60L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val contrib = org.apache.spark.sql.GraftBridge.column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.catalyst.expressions.Literal(1000000000000L),
        org.apache.spark.sql.GraftBridge.expression(
          lit(k) + col(rankCol).cast("long"))))
    val fused = df.groupBy(col(queryCol), col(itemCol))
      .agg(sum(contrib).cast("long").as("rrf_score"))
    val w = Window.partitionBy(col(queryCol))
      .orderBy(col("rrf_score").desc, col(itemCol).asc)
    fused.withColumn("fused_rank", row_number().over(w).cast("long"))
      .where(col("fused_rank") <= topK)
  }

  /** Fixed-size token-window chunking with overlap — the RAG/embedding
    * prep stage (split every document into ≤ `chunkTokens`-token pieces,
    * consecutive pieces sharing `chunkTokens − stride` tokens so no
    * boundary sentence is ever lost to both neighbors).
    *
    * Chunk i covers tokens [i·stride, i·stride + chunkTokens); the number
    * of chunks is 1 + ⌈max(n − chunkTokens, 0) / stride⌉, so a document
    * of ≤ `chunkTokens` tokens yields exactly one chunk and the last
    * chunk always ends at the document's end (it may be shorter than
    * `chunkTokens`, but keeps > chunkTokens − stride tokens — the
    * overlap region alone never forms a trailing chunk).
    *
    * Output: idCol, `chunk_id` (0-based), `n_tokens` (of the chunk),
    * `chunk_text` (tokens re-joined with single spaces — the
    * whitespace-canonical form the dedup/fingerprint family already
    * uses, so chunk fingerprints compose with the catalog machinery).
    *
    * Scale shape: pure per-row projection + explode — no shuffle, no
    * window, no state; the chunk fan-out is bounded by n/stride per doc.
    * Tokenization is the house whitespace split ([[tokens]]), and all
    * boundary arithmetic is integer, so a DuckDB oracle replays the
    * layout exactly.
    */
  def chunkByTokens(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, stride: Int): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive, got $chunkTokens")
    require(stride > 0 && stride <= chunkTokens,
      s"stride must be in [1, chunkTokens], got $stride (chunkTokens=$chunkTokens)")
    val toks = tokens(col(textCol))
    val n = size(toks)
    // ⌈max(n − C, 0) / S⌉ + 1 chunks, all-integer (floor((x + S − 1)/S))
    val nChunks = (greatest(n - chunkTokens, lit(0)) + (stride - 1)) / stride
    df.select(col(idCol), toks.as("__toks"),
        explode(sequence(lit(0), floor(nChunks).cast("int"))).as("chunk_id"))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        least(lit(chunkTokens), size(col("__toks")) - col("chunk_id") * stride)
          .cast("long").as("n_tokens"),
        array_join(slice(col("__toks"), col("chunk_id") * stride + 1,
          lit(chunkTokens)), " ").as("chunk_text"))
  }
}
