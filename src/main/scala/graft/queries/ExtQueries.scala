package graft.queries

import graft.core.{Flow, Fold}
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import graft.operators.{AnnIndex, AsofJoin, Dedup, HashFamily, Multimodal, PairBudget, Profile, RangeJoin,
  Sessions, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline operators (BASELINE.json north star):
  * dedup, similarity search, text analysis, multimodal plumbing. Oracles
  * mirror the exact arithmetic in DuckDB where expressible; LSH/heuristic
  * ops are registered without an oracle (rows-only) and verified by
  * ScalaTest with constructed fixtures instead.
  */
object ExtQueries {

  private def q(name: String, oracle: String = null, bench: Boolean = false,
      twin: String = null)(
      fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, Option(oracle), bench, Option(twin))

  private def qb(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, Option(oracle), bench = true)

  /** SQL literal list from a Scala stopword seq — the oracles interpolate
    * the SAME lists the Scala heuristic uses, so they cannot drift.
    */
  private def inList(ws: Seq[String]): String = ws.map(w => s"'$w'").mkString(",")

  /** Shared oracle CTEs: the exact 2-gram-Jaccard pair graph over
    * `documents` (threshold 0.1) plus its transitive closure — used by both
    * q_dedup_clusters and q_dedup_apply (always under WITH RECURSIVE).
    */
  private[queries] val NgramCcCtes =
    """toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
       sh AS (SELECT DISTINCT doc_id,
                unnest(list_transform(range(1, greatest(len(w) - 1, 0) + 1),
                       i -> array_to_string(w[i:i+1], ' '))) AS s
              FROM toks),
       sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       common AS (SELECT a.doc_id AS idA, b.doc_id AS idB, COUNT(*) AS c
                  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
       pairs AS (SELECT idA, idB FROM common
                 JOIN sizes sa ON sa.doc_id = idA
                 JOIN sizes sb ON sb.doc_id = idB
                 WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.1),
       edges AS (SELECT idA AS a, idB AS b FROM pairs
                 UNION SELECT idB, idA FROM pairs),
       reach(node, x) AS (
         SELECT a, b FROM edges
         UNION
         SELECT r.node, e.b FROM reach r JOIN edges e ON r.x = e.a)"""

  /** documents ∪ (documents with shifted ids): guaranteed duplicate pairs
    * so dedup ops have non-trivial work and deterministic output.
    */
  private def docsWithDups(s: SparkSession, d: String): DataFrame = {
    // UNION ALL of the same table (two scans) — deliberately NOT the
    // single-scan explode-over-shift-array form: the r12 A/B on the
    // document-LENGTH twin measured explode ~40% SLOWER on 4.8 KB docs
    // (min-of-3 1.50 vs 1.07 s) and only a wash on the short-doc x16 twin
    // (0.61 vs 0.56 s) — duplicating long strings through a Generate
    // copies every payload byte, while the second scan re-reads
    // page-cached compressed parquet. Scan count is not the cost; bytes
    // moved per row are.
    val base = Tables.df(s, d, "documents")
    base.unionByName(base.withColumn("doc_id", col("doc_id") + 10000))
  }

  private val dedupExactQ = q("q_dedup_exact",
    """SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id, CAST(COUNT(*) AS BIGINT) AS dup_count
       FROM (SELECT doc_id, text FROM documents
             UNION ALL SELECT doc_id + 10000, text FROM documents)
       GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))""",
    bench = true) { (s, d) =>
    Dedup.exact(docsWithDups(s, d), "doc_id", "text")
  }

  /** RAG chunking: 40-token windows, stride 30 (10-token overlap) — the
    * boundary arithmetic is all-integer and the chunk text re-joins the
    * house whitespace tokens, so the full (doc, chunk) layout
    * hash-oracles. DuckDB replays it with list slicing (1-based inclusive
    * `w[a:b]`, end-clamped — exactly Spark's `slice(arr, a, len)`).
    */
  private val chunkOverlapQ = q("q_chunk_overlap",
    """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
       nc AS (SELECT doc_id, w, (greatest(len(w) - 40, 0) + 29) // 30 AS last_chunk FROM toks),
       c AS (SELECT doc_id, w, unnest(range(0, last_chunk + 1)) AS chunk_id FROM nc)
       SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
              CAST(least(40, len(w) - chunk_id * 30) AS BIGINT) AS n_tokens,
              array_to_string(w[chunk_id * 30 + 1 : chunk_id * 30 + 40], ' ') AS chunk_text
       FROM c""") { (s, d) =>
    graft.operators.Retrieval.chunkByTokens(
      Tables.df(s, d, "documents"), "doc_id", "text", chunkTokens = 40, stride = 30)
  }

  private val tokenCountQ = q("q_token_count",
    """SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
       FROM documents""") { (s, d) =>
    Tables.df(s, d, "documents")
      .select(col("doc_id"), tokenCount(col("text")).cast("long").as("n_tokens"))
  }

  private val bpeTokenCountQ = q("q_bpe_token_count",
    """SELECT doc_id,
              CAST(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+')) AS BIGINT) AS n_bpe
       FROM documents""") { (s, d) =>
    Tables.df(s, d, "documents")
      .select(col("doc_id"), bpeTokenCount(col("text")).cast("long").as("n_bpe"))
  }

  /** Fixture merge table for q_bpe_apply: real BPE rules trained once on
    * the sf0.01 documents corpus, `Bpe.train(docs, "text", numMerges =
    * 16)` over `documents.parquet` (training is deterministic —
    * count-desc/lexicographic dictionary cut, lexicographic tie-break on
    * the pair argmax).
    * Constants here so the DuckDB oracle can interpolate the SAME rules.
    */
  private[graft] val BpeFixtureMerges: Seq[(String, String)] = Seq(
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"), ("m", "er"),
    ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"), ("j", "o"), ("jo", "in"),
    ("a", "s"), ("as", "h"), ("h", "ash"), ("r", "ow"))

  /** Sequential-replace BPE application in SQL: symbols ride
    * DOUBLE-delimited ("|a||b||c|" — every symbol '|'-anchored on BOTH
    * edges), each rule is one `replace('|x||y|' -> '|xy|')`. Both anchors
    * matter: a trailing-only anchor lets a rule whose left symbol is a
    * proper SUFFIX of an earlier merge mis-fire (rule (r,ow) rewriting the
    * tail of merged 'er'), and single shared delimiters ('|a|b|') make two
    * ADJACENT matches overlap by one '|' so left-to-right replace misses
    * the second. With doubled boundaries each match is self-contained, so
    * non-overlapping replace IS textbook BPE rule application. Valid
    * because corpus text contains no '|' (synthetic lowercase words).
    */
  private def bpeChainSql(inner: String): String =
    BpeFixtureMerges.foldLeft(inner) { case (acc, (a, b)) =>
      s"replace($acc, '|$a||$b|', '|$a$b|')" }

  private val bpeApplyQ = q("q_bpe_apply",
    raw"""WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                     FROM documents)
       SELECT doc_id,
              array_to_string(list_transform(w, x ->
                trim(replace(${bpeChainSql("'|' || array_to_string(string_split(x, ''), '||') || '|'")}, '||', ' '), '|')), ' ') AS bpe_text,
              CAST(len(string_split(array_to_string(list_transform(w, x ->
                trim(replace(${bpeChainSql("'|' || array_to_string(string_split(x, ''), '||') || '|'")}, '||', ' '), '|')), ' '), ' ')) AS BIGINT) AS n_pieces
       FROM toks""") { (s, d) =>
    val b = graft.functions.Bpe
    // n_pieces derives from the ALREADY-TOKENIZED column (stacked
    // projections; CollapseProject keeps them apart because the non-cheap
    // alias is referenced twice) — bpePieceCount(text) as a sibling
    // expression re-ran the whole tokenize+merge chain per row, and
    // ProjectExec's subexpression elimination does not unify the two
    // lambda-bearing trees (r15; measured on q_bpe_bytes, same shape)
    Tables.df(s, d, "documents")
      .select(col("doc_id"), b.bpeText(col("text"), BpeFixtureMerges).as("bpe_text"))
      // spacePieceCount: see q_bpe_bytes — char-BPE symbols come from
      // code points of whitespace-split words, so pieces cannot contain
      // spaces and the byte-count form is value-identical
      .select(col("doc_id"), col("bpe_text"),
        (graft.functions.Bpe.spacePieceCount(col("bpe_text"))).cast("long").as("n_pieces"))
  }

  /** Fixture merge table for q_bpe_bytes: byte-level (GPT-2-style) BPE
    * rules trained once on the sf0.01 documents corpus by
    * `ByteBpe.train(docs, "text", numMerges = 16)` over
    * `documents.parquet` (training is deterministic —
    * count-desc/lexicographic dictionary cut, lexicographic pair
    * tie-break). Symbols are UPPERCASE-hex
    * UTF-8 bytes — on this ASCII corpus the learned rules mirror the
    * char-level [[BpeFixtureMerges]] byte for byte (er/in/ow/or/st/...),
    * which is itself a fixture-level consistency check between the two
    * lanes; they diverge exactly where corpora go non-ASCII.
    */
  private[graft] val ByteBpeFixtureMerges: Seq[(String, String)] = Seq(
    ("65", "72"), ("69", "6E"), ("6F", "77"), ("6F", "72"), ("73", "74"),
    ("6D", "6572"), ("61", "74"), ("6C", "75"), ("61", "72"), ("70", "6172"),
    ("6A", "6F"), ("6A6F", "696E"), ("61", "73"), ("6173", "68"),
    ("68", "617368"), ("72", "6F77"))

  /** The q_bpe_apply replace-chain replay over HEX-BYTE symbols: each
    * word's `hex()` splits into two-digit symbols, DOUBLE-delimited and
    * '|'-anchored on both edges exactly like [[bpeChainSql]] (same
    * suffix-misfire and adjacent-match-overlap hazards), then each rule
    * is one whole-symbol string replace — byte-level BPE is the same
    * sequential-replace algebra in a different base alphabet, and hex is
    * injective on bytes so no corpus character can collide with a
    * separator.
    */
  private def byteBpeChainSql(inner: String): String =
    ByteBpeFixtureMerges.foldLeft(inner) { case (acc, (a, b)) =>
      s"replace($acc, '|$a||$b|', '|$a$b|')" }

  private val bpeBytesQ = q("q_bpe_bytes", bench = true, oracle =
    raw"""WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                     FROM documents)
       SELECT doc_id,
              array_to_string(list_transform(w, x ->
                trim(replace(${byteBpeChainSql(raw"'|' || array_to_string(regexp_extract_all(hex(x), '..'), '||') || '|'")}, '||', ' '), '|')), ' ') AS bpe_bytes,
              CAST(len(string_split(array_to_string(list_transform(w, x ->
                trim(replace(${byteBpeChainSql(raw"'|' || array_to_string(regexp_extract_all(hex(x), '..'), '||') || '|'")}, '||', ' '), '|')), ' '), ' ')) AS BIGINT) AS n_pieces
       FROM toks""") { (s, d) =>
    val b = graft.functions.ByteBpe
    // n_pieces from the already-tokenized column (see q_bpe_apply note):
    // the sibling byteBpePieceCount re-ran the whole per-word byte-merge
    // kernel — measured 5.16 s → ~half on the 9.6 KB-doc length lane
    Tables.df(s, d, "documents")
      .select(col("doc_id"), b.byteBpeText(col("text"), ByteBpeFixtureMerges).as("bpe_bytes"))
      // spacePieceCount (r16): value-identical to size(split(_, " ")) on
      // the space-joined hex pieces, one byte scan instead of a piece
      // array (~1.9 s of the 4.7 s length-lane row was the split tail)
      .select(col("doc_id"), col("bpe_bytes"),
        (graft.functions.Bpe.spacePieceCount(col("bpe_bytes"))).cast("long").as("n_pieces"))
  }

  /** Fixture vocabulary for q_unigram_apply: a real unigram-LM
    * (SentencePiece-style) vocab trained once on the sf0.01 documents
    * corpus, `Unigram.train(docs, "text", vocabSize = 160, maxPieceLen
    * = 4, iters = 3, seed = 2048)` over `documents.parquet` (Viterbi-EM
    * is deterministic — ordered cuts, integer surprisal costs in
    * 1/256-bit units). Constants here so the DuckDB oracle can
    * interpolate the SAME pieces/costs.
    */
  private val UnigramFixture: Seq[(String, Long)] = Seq(
    (" ", 1011L), (" a ", 1809L), (" a s", 2515L), (" agg", 1791L),
    (" b", 2515L), (" bat", 1658L), (" big", 1812L), (" col", 1520L),
    (" fil", 1752L), (" gro", 1611L), (" key", 1804L), (" lin", 1939L),
    (" mer", 1882L), (" ord", 1577L), (" que", 1688L), (" row", 1750L),
    (" s", 1317L), (" sma", 2039L), (" spa", 2052L), (" str", 1519L),
    (" tab", 1888L), (" the", 1829L), (" val", 1922L), (" vec", 1553L),
    (" win", 1713L), ("a", 2109L), ("a ", 1941L), ("a s", 2530L),
    ("agg ", 1607L), ("am s", 2530L), ("atch", 2515L), ("b", 3944L),
    ("batc", 1808L), ("big ", 1611L), ("c", 3944L), ("can ", 1806L),
    ("ch ", 1721L), ("ch s", 2340L), ("colu", 2020L), ("cust", 1418L),
    ("d", 2741L), ("data", 1429L), ("dow ", 1713L), ("e", 1766L),
    ("e ", 1354L), ("e a ", 2278L), ("e ba", 2345L), ("e co", 2573L),
    ("e gr", 2350L), ("e qu", 2345L), ("e s", 1783L), ("eam ", 1519L),
    ("er", 1898L), ("er ", 1508L), ("er s", 2037L), ("ery ", 2345L),
    ("f", 3944L), ("fast", 1451L), ("filt", 1611L), ("g", 1907L),
    ("ge ", 1882L), ("h", 2274L), ("h ", 1931L), ("hash", 1413L),
    ("i", 3944L), ("j", 3944L), ("join", 1407L), ("k", 3944L),
    ("key ", 1603L), ("l", 3944L), ("le ", 1888L), ("line", 1534L),
    ("ll ", 2039L), ("low ", 1815L), ("lumn", 2573L), ("m", 3944L),
    ("mall", 1497L), ("merg", 1551L), ("mn ", 2020L), ("n", 3944L),
    ("o", 3133L), ("omer", 1418L), ("or", 2003L), ("or s", 2365L),
    ("orde", 1833L), ("ort ", 1813L), ("oup ", 2350L), ("ow ", 1743L),
    ("ow s", 2386L), ("p", 2755L), ("park", 1519L), ("part", 1441L),
    ("q", 3944L), ("quer", 1786L), ("r", 2492L), ("r ", 1944L),
    ("r s", 2714L), ("ream", 2147L), ("rk ", 2052L), ("roup", 1907L),
    ("row ", 1605L), ("ry ", 1748L), ("ry s", 2386L), ("s", 2063L),
    ("scan", 1576L), ("slow", 1582L), ("sort", 1613L), ("st", 2147L),
    ("stre", 2530L), ("t", 3944L), ("tabl", 1554L), ("tch ", 2345L),
    ("ter ", 1752L), ("the ", 1625L), ("tor ", 1553L), ("u", 2755L),
    ("ue ", 1922L), ("umn", 2024L), ("umn ", 1628L), ("up ", 1657L),
    ("up s", 2403L), ("v", 3944L), ("valu", 1548L), ("vect", 1885L),
    ("w", 3133L), ("wind", 1676L), ("y", 2266L), ("y ", 1904L))

  private val UnigramMaxLen = 4
  private val UnigramUnkCost = 10000L

  /** Viterbi in DuckDB: list_reduce over positions, accumulator = the dp
    * list itself (seeded [[0]]; elements are wrapped positions so the
    * 2-arg reduce's acc type matches). dp values are the SAME packed
    * `cost·2^16 + nPieces` integers the Spark kernel minimizes — min
    * cost, tie-break fewest pieces, bit-exact across engines. The vocab
    * map is hoisted into a one-row CTE (inlining it re-built the map per
    * lambda call: 132 s → 1.0 s at sf0.01).
    */
  private def unigramOracleSql: String = {
    val ps = UnigramFixture.map { case (p, _) => s"'${p.replace("'", "''")}'" }
    val cs = UnigramFixture.map { case (_, c) => s"CAST(${c * 65536L + 1L} AS BIGINT)" }
    val unk = UnigramUnkCost * 65536L + 1L
    raw"""WITH vm AS (SELECT map([${ps.mkString(",")}],[${cs.mkString(",")}]) AS m),
       dp AS (
         SELECT doc_id,
           list_reduce(
             list_concat([[CAST(0 AS BIGINT)]],
               list_transform(range(1, length(text)+1), j -> [CAST(j AS BIGINT)])),
             (acc, x) -> list_append(acc,
               list_min(list_transform(range(1, least($UnigramMaxLen, x[1])+1), i ->
                 acc[CAST(x[1]-i+1 AS INT)] +
                 CASE WHEN i = 1
                      THEN coalesce(m[substr(text, CAST(x[1] AS INT), 1)][1], CAST($unk AS BIGINT))
                      ELSE m[substr(text, CAST(x[1]-i+1 AS INT), CAST(i AS INT))][1] END)))
           ) AS d
         FROM documents, vm)
       SELECT doc_id, d[-1] // 65536 AS cost_bits, d[-1] % 65536 AS n_pieces FROM dp"""
  }

  private val unigramApplyQ = q("q_unigram_apply", unigramOracleSql) { (s, d) =>
    // stage the packed Viterbi result once, unpack from the attribute
    // (guaranteed single kernel eval; see the q_bpe_apply note)
    val packed = graft.functions.Unigram.packed(col("text"), UnigramFixture,
      UnigramMaxLen, UnigramUnkCost)
    Tables.df(s, d, "documents")
      .select(col("doc_id"), packed.as("__pk"))
      .select(col("doc_id"), shiftright(col("__pk"), 16).as("cost_bits"),
        (col("__pk") % 65536L).as("n_pieces"))
  }

  /** Fixture vocab for q_wordpiece_apply: a real WordPiece vocabulary
    * (likelihood-score merges, Wu et al. 2016) trained once on the
    * sf0.01 documents corpus, `WordPiece.train(docs, "text", numMerges
    * = 24)` over `documents.parquet` (training is deterministic —
    * integer cross-multiplied score argmax, lexicographic ties, ordered
    * dictionary cut). Constants here so the DuckDB oracle can
    * interpolate the SAME pieces.
    */
  private val WordPieceFixture: Seq[String] = Seq(
    "j", "##o", "##i", "##n", "h", "##a", "##s", "##h",
    "r", "##w", "b", "##t", "##c", "s", "c", "##l",
    "##u", "##m", "##e", "##r", "f", "m", "##g", "o",
    "##d", "v", "l", "d", "t", "##b", "a", "k",
    "##y", "w", "##p", "##k", "g", "p", "q", "qu",
    "li", "wi", "lin", "win", "wind", "fi", "bi", "##in",
    "big", "ag", "agg", "th", "##sh", "##ch", "##bl", "fil",
    "##us", "cus", "##up", "##lu", "sp", "##lum", "##lumn")

  private val WpMaxLen = 4

  /** Greedy longest-match WordPiece segmentation of one word `x` in
    * SQL: list_reduce over character positions, accumulator a VARCHAR
    * `"<nextpos>;<pieces>"` (seeded `'1;'`, the unigram-oracle
    * prepend-the-seed trick so acc and element types match), `'U'` the
    * whole-word-[UNK] absorbing state. Each step at its own position
    * tries lengths maxLen..1 — first piece plain, continuations
    * `##`-prefixed — and advances past the longest vocab hit; a word
    * with any unmatchable position collapses to `[UNK]`, exactly
    * [[graft.functions.WordPieceRuntime.applyWord]]. Valid because the
    * synthetic corpus words contain no `;` (the q_bpe_apply `|`
    * argument).
    */
  private def wpSegSql(x: String): String = {
    val tries = (WpMaxLen to 1 by -1).map { l =>
      val key = s"(CASE WHEN CAST(iv AS INTEGER) = 1 THEN substr($x, CAST(iv AS INTEGER), $l) " +
        s"ELSE '##' || substr($x, CAST(iv AS INTEGER), $l) END)"
      s"""CASE WHEN CAST(iv AS INTEGER) + ${l - 1} <= len($x) AND list_contains(vv, $key)
         THEN CAST(CAST(iv AS INTEGER) + $l AS VARCHAR) || ';' ||
              (CASE WHEN string_split(acc, ';')[2] = '' THEN '' ELSE string_split(acc, ';')[2] || ' ' END) ||
              (CASE WHEN CAST(iv AS INTEGER) = 1 THEN '' ELSE '##' END) || substr($x, CAST(iv AS INTEGER), $l) END"""
    }.mkString(",\n               ")
    s"""(CASE WHEN r0 = 'U' THEN '[UNK]' ELSE string_split(r0, ';')[2] END)""".replace("r0",
      s"""list_reduce(
             list_prepend('1;', list_transform(range(1, len($x) + 1), j -> CAST(j AS VARCHAR))),
             (acc, iv) -> CASE
               WHEN acc = 'U' THEN 'U'
               WHEN CAST(iv AS INTEGER) <> CAST(string_split(acc, ';')[1] AS INTEGER) THEN acc
               ELSE coalesce(
               $tries,
               'U') END)""")
  }

  private val wordpieceApplyQ = q("q_wordpiece_apply",
    raw"""WITH vv0 AS (SELECT [${WordPieceFixture.map(p => s"'$p'").mkString(", ")}] AS vv),
       toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
       seg AS (SELECT doc_id,
                 array_to_string(list_transform(w, x -> ${wpSegSql("x")}), ' ') AS wp_text
               FROM toks, vv0)
       SELECT doc_id, wp_text,
              CAST(len(string_split(wp_text, ' ')) AS BIGINT) AS n_pieces
       FROM seg""") { (s, d) =>
    val wp = graft.functions.WordPiece
    // n_pieces from the already-segmented column (see q_bpe_apply note)
    Tables.df(s, d, "documents")
      .select(col("doc_id"), wp.wordpieceText(col("text"), WordPieceFixture).as("wp_text"))
      .select(col("doc_id"), col("wp_text"),
        size(split(col("wp_text"), " ")).cast("long").as("n_pieces"))
  }

  private val fingerprintQ = q("q_fingerprint",
    """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
       FROM documents""") { (s, d) =>
    Tables.df(s, d, "documents")
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
  }

  /** Oracle snippet: (doc_id, source, quality) per document — the full SQL
    * mirror of [[graft.functions.TextFunctions.qualityScore]]; shared by
    * q_quality and q_quality_gate so heuristic and oracles stay in
    * lockstep.
    */
  private[queries] val QualityDocsSql =
    raw"""SELECT doc_id, source,
              round(((CASE WHEN n_words BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.0 END)
                   + (CASE WHEN n_chars / greatest(n_words, 1.0) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
                   + alpha / greatest(n_chars, 1.0)
                   + (1.0 - least(punct / greatest(n_chars, 1.0) * 5.0, 1.0))
                   + least(uniq / greatest(n_words, 1.0) * 2.0, 1.0)) / 5.0, 6) AS quality
       FROM (
         SELECT doc_id, source,
           length(trim(text)) * 1.0 AS n_chars,
           len(regexp_split_to_array(trim(text), '\s+')) * 1.0 AS n_words,
           length(regexp_replace(trim(text), '[^\p{L}]', '', 'g')) * 1.0 AS alpha,
           length(regexp_replace(trim(text), '[^[:punct:]]', '', 'g')) * 1.0 AS punct,
           len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) * 1.0 AS uniq
         FROM documents) f"""

  private val qualityQ = q("q_quality",
    raw"""SELECT doc_id, quality FROM ($QualityDocsSql) qd""") { (s, d) =>
    Tables.df(s, d, "documents")
      .select(col("doc_id"), qualityScore(col("text")).as("quality"))
  }

  /** Model-based quality scoring under the literal fixture weights
    * (OracleFixtures.QmWeights): the logistic logit over
    * QualityModel.featureVector, oracled term-for-term — each feature is
    * a ratio of counts the q_quality oracle already replays, the weights
    * are literal dyadics, and the add chain associates left-to-right in
    * both engines, so logit and the keep decision (logit > 0) hash-match
    * bit-exactly. The TRAINED path (QualityModel.trainLogistic) is
    * iterative float and keeps its ScalaTest gate (QualityModelSpec).
    */
  private val qualityModelQ = q("q_quality_model", {
    val w = OracleFixtures.QmWeights
    raw"""SELECT doc_id,
              round((1.0)*(${w(0)})
                  + (alpha / greatest(n_chars, 1.0))*(${w(1)})
                  + (punct / greatest(n_chars, 1.0))*(${w(2)})
                  + ((n_chars / greatest(n_words, 1.0)) / 12.0)*(${w(3)})
                  + (least(uniq / greatest(n_words, 1.0), 1.0))*(${w(4)})
                  + (least(n_words / 100.0, 1.0))*(${w(5)}), 6) AS logit,
              ((1.0)*(${w(0)})
                  + (alpha / greatest(n_chars, 1.0))*(${w(1)})
                  + (punct / greatest(n_chars, 1.0))*(${w(2)})
                  + ((n_chars / greatest(n_words, 1.0)) / 12.0)*(${w(3)})
                  + (least(uniq / greatest(n_words, 1.0), 1.0))*(${w(4)})
                  + (least(n_words / 100.0, 1.0))*(${w(5)})) > 0 AS keep
       FROM (
         SELECT doc_id,
           length(trim(text)) * 1.0 AS n_chars,
           len(regexp_split_to_array(trim(text), '\s+')) * 1.0 AS n_words,
           length(regexp_replace(trim(text), '[^\p{L}]', '', 'g')) * 1.0 AS alpha,
           length(regexp_replace(trim(text), '[^[:punct:]]', '', 'g')) * 1.0 AS punct,
           len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) * 1.0 AS uniq
         FROM documents) f"""
  }) { (s, d) =>
    graft.operators.QualityModel.scoreDocs(
      Tables.df(s, d, "documents"), "doc_id", "text", OracleFixtures.QmWeights)
  }

  private val qualityGateQ = q("q_quality_gate",
    // per-source above-average quality filter. The threshold is an EXACT
    // per-source mean: round-6 qualities scaled to integer micros, summed
    // as BIGINT (order-independent), divided in one double op both
    // engines mirror — so the q > thr boundary can't flip on summation
    // order or interpolation ulps (a quantile_cont threshold could)
    raw"""WITH qd AS ($QualityDocsSql),
       t AS (SELECT source,
               CAST(SUM(CAST(round(quality * 1000000) AS BIGINT)) AS DOUBLE)
                 / COUNT(*) / 1000000.0 AS thr
             FROM qd GROUP BY source)
       SELECT qd.doc_id, qd.source FROM qd JOIN t USING(source)
       WHERE qd.quality > t.thr""") { (s, d) =>
    // materialized once: the regex-heavy scoring feeds both the threshold
    // aggregate and the join probe — without it the whole table is scored
    // twice (two scans, one per DAG branch)
    val docs = graft.operators.Materialize.once(Tables.df(s, d, "documents")
      .select(col("doc_id"), col("source"), qualityScore(col("text")).as("quality")))
    val thr = docs.groupBy("source")
      .agg((sum(round(col("quality") * 1000000).cast("long")).cast("double")
        / count(lit(1)) / 1000000.0).as("thr"))
    docs.join(broadcast(thr), "source")
      .where(col("quality") > col("thr"))
      .select(col("doc_id"), col("source"))
  }

  /** Per-doc language-ID CTE chain (`rel(doc_id, text)` → `langd(doc_id,
    * lang)`): the full SQL mirror of TextFunctions.langId — script-ratio
    * gates (ja/ko/zh/ru), then argmax of six stopword ratios with
    * first-wins ties in en,de,fr,es,it,pt order; all ratios are int/int
    * double divisions, bit-identical across engines. Shared (the
    * lmScoreCtesOver discipline) so per-language compositions
    * (q_ccnet_buckets) replay the EXACT kernel arithmetic instead of a
    * re-derivation; CTE names are l*-prefixed to coexist with the LM
    * chain in one WITH block.
    */
  private[queries] def langIdCtesOver(rel: String): String =
    raw"""lt0 AS (SELECT doc_id, lower(trim(text)) AS t FROM $rel),
       lfl AS (SELECT doc_id, t, greatest(length(t) * 1.0, 1.0) AS nc,
                    regexp_split_to_array(t, '\s+') AS toks FROM lt0),
       lgc AS (SELECT doc_id,
               length(regexp_replace(t, '[^\x{4e00}-\x{9fff}]', '', 'g')) / nc AS han,
               length(regexp_replace(t, '[^\x{3040}-\x{30ff}]', '', 'g')) / nc AS kana,
               length(regexp_replace(t, '[^\x{ac00}-\x{d7af}]', '', 'g')) / nc AS hangul,
               length(regexp_replace(t, '[^\x{0400}-\x{04ff}]', '', 'g')) / nc AS cyr,
               greatest(len(toks) * 1.0, 1.0) AS nw,
               len(list_filter(toks, w -> w IN (${inList(EnStop)}))) AS c_en,
               len(list_filter(toks, w -> w IN (${inList(DeStop)}))) AS c_de,
               len(list_filter(toks, w -> w IN (${inList(FrStop)}))) AS c_fr,
               len(list_filter(toks, w -> w IN (${inList(EsStop)}))) AS c_es,
               len(list_filter(toks, w -> w IN (${inList(ItStop)}))) AS c_it,
               len(list_filter(toks, w -> w IN (${inList(PtStop)}))) AS c_pt
             FROM lfl),
       lsc AS (SELECT doc_id, han, kana, hangul, cyr,
               c_en / nw AS s_en, c_de / nw AS s_de, c_fr / nw AS s_fr,
               c_es / nw AS s_es, c_it / nw AS s_it, c_pt / nw AS s_pt,
               greatest(c_en / nw, c_de / nw, c_fr / nw,
                        c_es / nw, c_it / nw, c_pt / nw) AS m
             FROM lgc),
       langd AS (SELECT doc_id,
               CASE WHEN kana > 0.05 THEN 'ja' WHEN hangul > 0.05 THEN 'ko'
                    WHEN han > 0.05 THEN 'zh' WHEN cyr > 0.3 THEN 'ru'
                    WHEN m > 0 THEN (CASE WHEN s_en = m THEN 'en'
                                          WHEN s_de = m THEN 'de'
                                          WHEN s_fr = m THEN 'fr'
                                          WHEN s_es = m THEN 'es'
                                          WHEN s_it = m THEN 'it' ELSE 'pt' END)
                    ELSE 'und' END AS lang
             FROM lsc)"""

  private val langIdQ = q("q_langid",
    s"""WITH ${langIdCtesOver("documents")}
       SELECT lang AS lang_pred, CAST(COUNT(*) AS BIGINT) AS n
       FROM langd GROUP BY 1""") { (s, d) =>
    Tables.df(s, d, "documents")
      .groupBy(langId(col("text")).as("lang_pred"))
      .agg(count(lit(1)).as("n"))
  }

  private val minhashQ = q("q_dedup_minhash", bench = true, twin = "q_dedup_minhash_fixed") { (s, d) => // LSH: rows-only + ScalaTest
    Dedup.minhashNearDuplicates(docsWithDups(s, d), "doc_id", "text",
      shingle = 3, numHashes = 64, bands = 16, threshold = 0.7)
  }

  /** The minhash PIPELINE under the fixture hash family
    * (Dedup.minhashNearDuplicatesFixture): same banding → bucket join →
    * first-agreeing-band exact-once filter → full-signature verify as
    * q_dedup_minhash, with signatures/band hashes as modular integer
    * chains a DuckDB oracle replays exactly — signatures, band collisions,
    * candidate pairs, and est_jaccard (count/64: exact dyadic) all
    * hash-gated end to end. est_jaccard division parity: both engines
    * compute agree-count / 64, a power of two, so the double is exact.
    */
  private val minhashFixedQ = q("q_dedup_minhash_fixed",
    s"""WITH ${OracleFixtures.minhashSigCtes},
       ${OracleFixtures.minhashPairsSql("l.doc_id < r.doc_id")}""") { (s, d) =>
    Dedup.minhashNearDuplicates(docsWithDups(s, d), "doc_id", "text",
      shingle = OracleFixtures.MhShingle, numHashes = OracleFixtures.MhNumHashes,
      bands = OracleFixtures.MhBands, threshold = OracleFixtures.MhThreshold,
      family = HashFamily.Fixture)
  }

  /** Cross-corpus doc-level decontamination: originals probe their shifted
    * twins as the "reference" set. Fixture lane fully oracle-replayed
    * (same sig/band CTEs as q_dedup_minhash_fixed; only the pair
    * restriction changes from id-order to side membership); production
    * xxhash lane rows-only with the exact-agreement spec in DedupSpec.
    */
  private val minhashCrossFixedQ = q("q_dedup_cross_fixed",
    s"""WITH ${OracleFixtures.minhashSigCtes},
       ${OracleFixtures.minhashPairsSql(
        "l.doc_id < 10000 AND r.doc_id >= 10000", "probe_id", "ref_id")}""") { (s, d) =>
    val base = Tables.df(s, d, "documents")
    Dedup.minhashCrossDuplicates(
      base, base.withColumn("doc_id", col("doc_id") + 10000),
      "doc_id", "text",
      shingle = OracleFixtures.MhShingle, numHashes = OracleFixtures.MhNumHashes,
      bands = OracleFixtures.MhBands, threshold = OracleFixtures.MhThreshold,
      family = HashFamily.Fixture)
  }

  /** Dedup-quality eval: precision/recall of the fixture minhash-LSH
    * pair set against exact Jaccard over the SAME distinct window-hash
    * sets (integer cross-multiplied threshold 7/10 = MhThreshold). The
    * oracle composes the verbatim q_dedup_minhash_fixed pair CTEs with
    * an exact inverted-index side, so the measured pipeline and the
    * measured truth are both replayed end to end.
    */
  private val evalDedupQ = q("q_eval_dedup",
    s"""WITH ${OracleFixtures.minhashSigCtes},
       ${OracleFixtures.minhashPairsCtes("l.doc_id < r.doc_id")},
       exg AS (SELECT doc_id, unnest(list_distinct(wh)) AS g FROM wh),
       exsz AS (SELECT doc_id, COUNT(*) AS n FROM exg GROUP BY 1),
       excom AS (SELECT a.doc_id AS idA, b.doc_id AS idB, COUNT(*) AS c
                 FROM exg a JOIN exg b ON a.g = b.g AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
       expairs AS (SELECT idA, idB FROM excom
                   JOIN exsz sa ON sa.doc_id = idA
                   JOIN exsz sb ON sb.doc_id = idB
                   WHERE c * 10 >= (sa.n + sb.n - c) * 7),
       u AS (SELECT (e.idA IS NOT NULL) AS ex, (l.idA IS NOT NULL) AS ls
             FROM expairs e FULL OUTER JOIN mpairs l
               ON e.idA = l.idA AND e.idB = l.idB),
       m AS (SELECT CAST(SUM(CASE WHEN ex THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
                    CAST(SUM(CASE WHEN ls THEN 1 ELSE 0 END) AS BIGINT) AS n_lsh,
                    CAST(SUM(CASE WHEN ex AND ls THEN 1 ELSE 0 END) AS BIGINT) AS n_common
             FROM u)
       SELECT n_exact, n_lsh, n_common,
              CASE WHEN n_lsh > 0
                   THEN round(CAST(n_common AS DOUBLE) / n_lsh, 6) END AS precision,
              CASE WHEN n_exact > 0
                   THEN round(CAST(n_common AS DOUBLE) / n_exact, 6) END AS recall
       FROM m""") { (s, d) =>
    Dedup.minhashEvalFixture(docsWithDups(s, d), "doc_id", "text",
      shingle = OracleFixtures.MhShingle, numHashes = OracleFixtures.MhNumHashes,
      bands = OracleFixtures.MhBands, thresholdNum = 7, thresholdDen = 10)
  }

  private val minhashCrossQ = q("q_dedup_cross", twin = "q_dedup_cross_fixed") { (s, d) => // LSH: rows-only + ScalaTest
    val base = Tables.df(s, d, "documents")
    Dedup.minhashCrossDuplicates(
      base, base.withColumn("doc_id", col("doc_id") + 10000), "doc_id", "text")
  }

  private val simhashQ = q("q_dedup_simhash", twin = "q_dedup_simhash_fixed") { (s, d) => // LSH: rows-only + ScalaTest
    Dedup.simhashNearDuplicates(docsWithDups(s, d), "doc_id", "text",
      shingle = 2, maxHamming = 3)
  }

  /** The simhash PIPELINE under the fixture hash family
    * (Dedup.simhashNearDuplicates with HashFamily.Fixture): same chunk-LSH → bucket join →
    * first-agreeing-chunk exact-once filter → hamming verify as
    * q_dedup_simhash, with the signature swapped for parity votes of
    * modular integer chains a DuckDB oracle replays exactly — signatures,
    * chunk collisions, candidate pairs, and hamming distances all
    * hash-gated end to end.
    */
  private val simhashFixedQ = q("q_dedup_simhash_fixed",
    s"""WITH ${OracleFixtures.simhashSigCtes},
       keyed AS (SELECT doc_id, sig, unnest(range(0, ${OracleFixtures.ShChunks})) AS chunk FROM sig),
       pairs AS (
         SELECT l.doc_id AS idA, r.doc_id AS idB, l.sig AS sigA, r.sig AS sigB, l.chunk,
                list_position(list_transform(range(0, ${OracleFixtures.ShChunks}),
                  c -> ${OracleFixtures.shChunkKey("l.sig", "c")} = ${OracleFixtures.shChunkKey("r.sig", "c")}), true) - 1 AS first_agree
         FROM keyed l JOIN keyed r
           ON l.chunk = r.chunk AND ${OracleFixtures.shChunkKey("l.sig", "l.chunk")} = ${OracleFixtures.shChunkKey("r.sig", "r.chunk")}
         WHERE l.doc_id < r.doc_id)
       SELECT idA, idB, CAST(bit_count(xor(sigA, sigB)) AS INTEGER) AS hamming
       FROM pairs
       WHERE chunk = first_agree AND bit_count(xor(sigA, sigB)) <= ${OracleFixtures.ShMaxHamming}""") { (s, d) =>
    Dedup.simhashNearDuplicates(docsWithDups(s, d), "doc_id", "text",
      shingle = OracleFixtures.ShShingle, maxHamming = OracleFixtures.ShMaxHamming,
      family = HashFamily.Fixture)
  }

  private val ngramJaccardQ = q("q_ngram_jaccard",
    """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
       sh AS (SELECT DISTINCT doc_id,
                unnest(list_transform(range(1, greatest(len(w) - 1, 0) + 1),
                       i -> array_to_string(w[i:i+1], ' '))) AS s
              FROM toks),
       sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       common AS (SELECT a.doc_id AS idA, b.doc_id AS idB, COUNT(*) AS c
                  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
       SELECT idA, idB, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
       FROM common
       JOIN sizes sa ON sa.doc_id = idA
       JOIN sizes sb ON sb.doc_id = idB
       WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.1""") { (s, d) =>
    Dedup.ngramJaccardPairs(Tables.df(s, d, "documents"), "doc_id", "text",
      shingle = 2, threshold = 0.1, budget = PairBudget.Exact)
  }

  /** The df-capped candidate-generation path of ngramJaccardPairs under
    * its own hash gate: shingles in > 25 documents are dropped from the
    * JOIN only (sizes stay exact, so the reported jaccard is the exact
    * cold-shingle underestimate both engines compute identically). The
    * cap is the 100 TB Zipf-head defense; it binds at every test SF
    * (632-669 hot shingles excluded) so the gate exercises the real
    * pruned plan, not a no-op.
    */
  private val ngramJaccardCappedQ = q("q_ngram_jaccard_capped",
    """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
       sh AS (SELECT DISTINCT doc_id,
                unnest(list_transform(range(1, greatest(len(w) - 1, 0) + 1),
                       i -> array_to_string(w[i:i+1], ' '))) AS s
              FROM toks),
       sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       hot AS (SELECT s FROM (SELECT s, COUNT(*) AS f FROM sh GROUP BY 1) t WHERE f > 25),
       shc AS (SELECT * FROM sh WHERE s NOT IN (SELECT s FROM hot)),
       common AS (SELECT a.doc_id AS idA, b.doc_id AS idB, COUNT(*) AS c
                  FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
       SELECT idA, idB, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
       FROM common
       JOIN sizes sa ON sa.doc_id = idA
       JOIN sizes sb ON sb.doc_id = idB
       WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.1""") { (s, d) =>
    Dedup.ngramJaccardPairs(Tables.df(s, d, "documents"), "doc_id", "text",
      shingle = 2, threshold = 0.1, budget = PairBudget.Cap(25L))
  }

  /** The AUTO-budget default lane end-to-end: the df cap is DERIVED from
    * the corpus' own df histogram (largest cap whose Σ f(f−1)/2 fits
    * rowsPerDoc × nDocs — exact integer arithmetic), then applied as in
    * q_ngram_jaccard_capped. rowsPerDoc = 16 forces the budget to bind
    * at every test SF (500-doc corpora vs ~380 k exact candidate rows;
    * derived caps 20/19) while threshold 0.02 keeps the output non-empty
    * (115/85 rows), so the oracle replays the derivation AND the pruned
    * mining: the whole safe-default path hash-gates, never a 0-row gate.
    */
  private val ngramJaccardAutoQ = q("q_ngram_jaccard_auto",
    """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
       sh AS (SELECT DISTINCT doc_id,
                unnest(list_transform(range(1, greatest(len(w) - 1, 0) + 1),
                       i -> array_to_string(w[i:i+1], ' '))) AS s
              FROM toks),
       sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       dfh AS (SELECT s, COUNT(*) AS f FROM sh GROUP BY 1),
       hist AS (SELECT f, COUNT(*) AS k FROM dfh GROUP BY 1),
       cum AS (SELECT f, SUM(k * f * (f - 1) // 2) OVER (ORDER BY f) AS cr FROM hist),
       bdg AS (SELECT 16 * COUNT(DISTINCT doc_id) AS b FROM sh),
       cap AS (SELECT GREATEST(2, COALESCE(
                 (SELECT MAX(CASE WHEN cr <= (SELECT b FROM bdg) THEN f END) FROM cum), 2)) AS c),
       shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN dfh USING (s)
               WHERE dfh.f <= (SELECT c FROM cap)),
       common AS (SELECT a.doc_id AS idA, b.doc_id AS idB, COUNT(*) AS c2
                  FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
       SELECT idA, idB, CAST(c2 AS DOUBLE) / (sa.n + sb.n - c2) AS jaccard
       FROM common
       JOIN sizes sa ON sa.doc_id = idA
       JOIN sizes sb ON sb.doc_id = idB
       WHERE CAST(c2 AS DOUBLE) / (sa.n + sb.n - c2) >= 0.02""") { (s, d) =>
    Dedup.ngramJaccardPairs(Tables.df(s, d, "documents"), "doc_id", "text",
      shingle = 2, threshold = 0.02, budget = PairBudget.Auto(rowsPerDoc = 16L))
  }

  /** SoftDeDup commonness weights (He, Xue et al., ACL 2024 — reweight
    * duplicates instead of removing them): per doc, mean document
    * frequency of its distinct word 2-grams and the inverse weight, both
    * single divisions of exact BIGINTs (Dedup.softWeights scaladoc). The
    * gram/df CTEs are the q_ngram_jaccard fragments verbatim — same index,
    * pair-free consumption.
    */
  private val softDedupQ = q("q_softdedup",
    """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
       sh AS (SELECT DISTINCT doc_id,
                unnest(list_transform(range(1, greatest(len(w) - 1, 1) + 1),
                       i -> array_to_string(w[i:i+1], ' '))) AS s
              FROM toks),
       dfq AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS f FROM sh GROUP BY 1),
       a AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
                    CAST(SUM(f) AS BIGINT) AS sum_df
             FROM sh JOIN dfq USING (s) GROUP BY doc_id)
       SELECT d.doc_id,
              COALESCE(a.n_grams, 0) AS n_grams,
              COALESCE(a.sum_df, 0) AS sum_df,
              round(CASE WHEN a.n_grams IS NULL THEN 1.0
                         ELSE CAST(a.sum_df AS DOUBLE) / a.n_grams END, 6) AS commonness,
              round(CASE WHEN a.n_grams IS NULL THEN 1.0
                         ELSE CAST(a.n_grams AS DOUBLE) / a.sum_df END, 6) AS weight
       FROM (SELECT doc_id FROM documents) d LEFT JOIN a USING (doc_id)""") { (s, d) =>
    Dedup.softWeights(Tables.df(s, d, "documents"), "doc_id", "text", shingle = 2)
  }

  /** The exact-cluster limit of SoftDeDup over the doubled corpus: every
    * text appears ≥ 2×, so weight = 1/dup_count binds on every row (the
    * q_dedup_exact md5-fingerprint key, kept per ROW instead of reduced
    * to a winner).
    */
  private val softDedupExactQ = q("q_softdedup_exact",
    raw"""WITH u AS (SELECT doc_id, text FROM documents
             UNION ALL SELECT doc_id + 10000, text FROM documents),
       f AS (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp FROM u),
       c AS (SELECT fp, CAST(COUNT(*) AS BIGINT) AS dup_count FROM f GROUP BY 1)
       SELECT f.doc_id, c.dup_count, round(1.0 / c.dup_count, 6) AS weight
       FROM f JOIN c USING (fp)""") { (s, d) =>
    Dedup.softWeightsExact(docsWithDups(s, d), "doc_id", "text")
  }

  /** SoftDeDup applied as a sampler: keep iff lcg31(doc_id) < ⌊weight·2³¹⌋
    * — the sampling-family threshold scheme over the q_softdedup weights,
    * so the soft-dedup'd corpus itself (not just the weights) hash-gates.
    */
  private val softDedupSampleQ = q("q_softdedup_sample",
    raw"""WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
       sh AS (SELECT DISTINCT doc_id,
                unnest(list_transform(range(1, greatest(len(w) - 1, 1) + 1),
                       i -> array_to_string(w[i:i+1], ' '))) AS s
              FROM toks),
       dfq AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS f FROM sh GROUP BY 1),
       a AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
                    CAST(SUM(f) AS BIGINT) AS sum_df
             FROM sh JOIN dfq USING (s) GROUP BY doc_id),
       w AS (SELECT d.doc_id,
               round(CASE WHEN a.n_grams IS NULL THEN 1.0
                          ELSE CAST(a.n_grams AS DOUBLE) / a.sum_df END, 6) AS weight
             FROM (SELECT doc_id FROM documents) d LEFT JOIN a USING (doc_id))
       SELECT doc_id, weight FROM w
       WHERE ${OracleSql.lcg31("doc_id")}
             < CAST(floor(weight * 2147483648.0) AS BIGINT)""") { (s, d) =>
    Dedup.softSample(Tables.df(s, d, "documents"), "doc_id", "text", shingle = 2)
  }

  /** Cross-corpus SoftDeDup: weigh every document against the every-3rd-doc
    * reference slice (the q_oov_ref cut) — each probe gram contributes
    * reference-df + 1, so reference-disjoint docs read exactly 1.0. The
    * probe/reference gram CTEs are the q_softdedup fragments instanced
    * twice.
    */
  private val SoftDedupAgainstSql =
    raw"""WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
       sh AS (SELECT DISTINCT doc_id,
                unnest(list_transform(range(1, greatest(len(w) - 1, 1) + 1),
                       i -> array_to_string(w[i:i+1], ' '))) AS s
              FROM toks),
       rsh AS (SELECT DISTINCT doc_id,
                unnest(list_transform(range(1, greatest(len(w) - 1, 1) + 1),
                       i -> array_to_string(w[i:i+1], ' '))) AS s
              FROM toks WHERE doc_id % 3 = 0),
       rdf AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS f FROM rsh GROUP BY 1),
       a AS (SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
                    CAST(SUM(COALESCE(rdf.f, 0) + 1) AS BIGINT) AS sum_df
             FROM sh LEFT JOIN rdf ON sh.s = rdf.s GROUP BY sh.doc_id)
       SELECT doc_id, n_grams, sum_df,
              round(CAST(sum_df AS DOUBLE) / n_grams, 6) AS commonness,
              round(CAST(n_grams AS DOUBLE) / sum_df, 6) AS weight
       FROM a"""

  private val softDedupAgainstQ = q("q_softdedup_against", SoftDedupAgainstSql) { (s, d) =>
    val docs = Tables.df(s, d, "documents")
    Dedup.softWeightsAgainst(docs, "doc_id", "text",
      docs.where(col("doc_id") % 3 === 0), shingle = 2)
  }

  /** The same relation through the PERSISTENT gram-df catalog, exercising
    * the full lifecycle on the oracle gate (the q_lm_score_indexed
    * discipline): build on half the reference slice, fold the other half
    * in via the associative df sum, load, weigh — must equal the
    * in-flight reference counts, so the oracle is reused VERBATIM.
    */
  private val softDedupAgainstIndexedQ = q("q_softdedup_against_indexed",
    SoftDedupAgainstSql) { (s, d) =>
    import graft.operators.AnnIndex
    val docs = Tables.df(s, d, "documents")
    val ref = docs.where(col("doc_id") % 3 === 0)
    AnnIndex.buildGramDf(ref.where(col("doc_id") % 2 === 0), "text",
      "graft_gramdf_idx", shingle = 2)
    AnnIndex.updateGramDf(s, "graft_gramdf_idx",
      ref.where(col("doc_id") % 2 =!= 0), "text", shingle = 2)
    Dedup.softWeightsAgainstCounts(docs, "doc_id", "text",
      AnnIndex.loadGramDf(s, "graft_gramdf_idx"), shingle = 2)
  }

  private val dedupClustersQ = q("q_dedup_clusters",
    // connected components over the exact ngram-Jaccard pair graph
    // (same edge set as q_ngram_jaccard): every member doc labeled with
    // its component's min id. Oracle = transitive closure via recursive
    // CTE; components are tiny so the closure stays small
    raw"""WITH RECURSIVE
       $NgramCcCtes
       SELECT node AS id, least(node, MIN(x)) AS cluster
       FROM reach GROUP BY node""") { (s, d) =>
    Dedup.connectedComponents(
      Dedup.ngramJaccardPairs(Tables.df(s, d, "documents"), "doc_id", "text",
        shingle = 2, threshold = 0.1, budget = PairBudget.Exact),
      "idA", "idB")
  }

  private val dedupApplyQ = q("q_dedup_apply",
    // corpus in → deduplicated corpus out: documents minus every
    // non-canonical member of the q_dedup_clusters components
    raw"""WITH RECURSIVE
       $NgramCcCtes,
       cc AS (SELECT node, least(node, MIN(x)) AS cluster FROM reach GROUP BY node)
       SELECT d.doc_id, d.n_chars FROM documents d
       LEFT JOIN (SELECT node FROM cc WHERE node <> cluster) dropped
         ON d.doc_id = dropped.node
       WHERE dropped.node IS NULL""") { (s, d) =>
    Dedup.dropNearDuplicates(Tables.df(s, d, "documents"), "doc_id", "text",
        shingle = 2, threshold = 0.1, budget = PairBudget.Exact)
      .select(col("doc_id"), col("n_chars"))
  }

  /** Canonical-by-quality dedup apply: the q_dedup_apply component graph,
    * but each cluster keeps its HIGHEST-quality member (ties to smallest
    * id) — the realistic canonicalization rule, oracled with the same
    * recursive-CTE closure plus the shared quality SQL.
    */
  private val dedupApplyPrefQ = q("q_dedup_apply_pref",
    raw"""WITH RECURSIVE
       $NgramCcCtes,
       cc AS (SELECT node, least(node, MIN(x)) AS cluster FROM reach GROUP BY node),
       qd AS ($QualityDocsSql),
       member AS (SELECT cc.node AS id, cc.cluster, qd.quality
                  FROM cc JOIN qd ON cc.node = qd.doc_id),
       win AS (SELECT id, row_number() OVER (PARTITION BY cluster
                 ORDER BY quality DESC, id ASC) AS rk FROM member),
       dropped AS (SELECT id FROM win WHERE rk > 1)
       SELECT d.doc_id, d.n_chars FROM documents d
       LEFT JOIN dropped ON d.doc_id = dropped.id
       WHERE dropped.id IS NULL""") { (s, d) =>
    val docs = Tables.df(s, d, "documents")
      .withColumn("quality", qualityScore(col("text")))
    Dedup.dropNearDuplicatesBy(docs, "doc_id", "text", "quality",
        shingle = 2, threshold = 0.1, budget = PairBudget.Exact)
      .select(col("doc_id"), col("n_chars"))
  }

  private val embDedupQ = q("q_dedup_embedding",
    // at threshold 0.98 the LSH answer IS the exact answer for this data:
    // duplicate pairs (identical vectors, cos=1) always share a bucket,
    // and the closest DISTINCT pair sits at cos≈0.51 — so an exact
    // brute-force oracle is valid; cosine rounded to 4dp on both sides
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
                  UNION ALL
                  SELECT vec_id + 10000, CAST(embedding AS DOUBLE[]) FROM embeddings),
       p AS (SELECT a.vec_id AS idA, b.vec_id AS idB,
                    list_cosine_similarity(a.v, b.v) AS cos
             FROM e a JOIN e b ON a.vec_id < b.vec_id)
       SELECT idA, idB, round(cos, 4) AS cosine FROM p WHERE cos >= 0.98""") { (s, d) =>
    val base = Tables.df(s, d, "embeddings")
    val dups = base.unionByName(base.withColumn("vec_id", col("vec_id") + 10000))
    Dedup.embeddingNearDuplicates(dups, "vec_id", "embedding", threshold = 0.98, bits = 16)
      .withColumn("cosine", round(col("cosine"), 4))
  }

  /** SemDeDup over the embeddings table with planted duplicates (the
    * q_dedup_embedding union trick: a +10000-shifted copy of every
    * vector — dup pairs sit at cosine 1.0, the closest DISTINCT pair at
    * ≈0.51, so the 0.9 threshold has a wide engine-stability margin).
    * Cells are the id-seeded IVF quantizer (first 16 vectors), making
    * assignment AND verdicts fully SQL-replayable: copies assign to the
    * same cell as their original (identical vectors, identical
    * tie-break), so every copy reports dup_of = its original, and no
    * original is anyone's duplicate.
    */
  private val semDedupQ = q("q_semdedup",
    """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
                  UNION ALL
                  SELECT vec_id + 10000, CAST(embedding AS DOUBLE[]) FROM embeddings),
       cent AS (SELECT vec_id AS cell, v AS cv FROM c ORDER BY vec_id LIMIT 16),
       assigned AS (
         SELECT vec_id, v, cell FROM (
           SELECT c.vec_id, c.v, cent.cell,
                  row_number() OVER (PARTITION BY c.vec_id
                    ORDER BY list_distance(c.v, cent.cv), cent.cell) AS r
           FROM c, cent) WHERE r = 1),
       p AS (SELECT a.vec_id AS id, MIN(b.vec_id) AS dup_of
             FROM assigned a JOIN assigned b
               ON a.cell = b.cell AND b.vec_id < a.vec_id
             WHERE list_cosine_similarity(a.v, b.v) >= 0.9
             GROUP BY a.vec_id)
       SELECT c.vec_id, p.dup_of FROM c LEFT JOIN p ON c.vec_id = p.id""") { (s, d) =>
    val base = Tables.df(s, d, "embeddings")
    val dups = base.unionByName(base.withColumn("vec_id", col("vec_id") + 10000))
    Dedup.semanticDedup(dups, "vec_id", "embedding", tau = 0.9, nCells = 16)
  }

  private val annQuantQ = q("q_ann_topk",
    """WITH pairs AS (
         SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                (SELECT CAST(SUM(CAST(round(CAST(qe AS DOUBLE) * 1000) AS BIGINT)
                           * CAST(round(CAST(ce AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT)
                 FROM (SELECT UNNEST(q.embedding) AS qe, UNNEST(c.embedding) AS ce) z) AS dot
         FROM embeddings q, embeddings c
         WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
       SELECT query_id, neighbor_id, dot,
              CAST(row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, neighbor_id) AS INTEGER) AS rank
       FROM pairs QUALIFY rank <= 5""") { (s, d) =>
    val emb = Tables.df(s, d, "embeddings")
    val queries = broadcast(emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("__q")))
    val scored = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("__c"))
      .crossJoin(queries)
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("dot", quantizedDot(col("__q"), col("__c")))
    // bounded-heap top-k, not a rank window: ships |Q|·k rows to the one
    // shuffle instead of sorting the full |Q|×|corpus| scored cross product
    scored.groupBy(col("query_id"))
      .agg(graft.functions.AggExpressions.bottomK(
        struct((-col("dot")).as("negdot"), col("neighbor_id")), 5).as("__top"))
      .select(col("query_id"), posexplode(col("__top")))
      .select(col("query_id"), col("col.neighbor_id").as("neighbor_id"),
        (-col("col.negdot")).as("dot"), (col("pos") + 1).cast("int").as("rank"))
  }

  private val annCosineQ = q("q_ann_cosine",
    // exact brute force, rank-only output: engines accumulate the cosine
    // in different ulp patterns, but ranks can only flip when two cosines
    // sit within that noise (score values are covered by ScalaTest)
    """WITH pairs AS (
         SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                       CAST(c.embedding AS DOUBLE[])) AS cos
         FROM embeddings q, embeddings c
         WHERE q.vec_id < 50 AND c.vec_id <> q.vec_id)
       SELECT query_id, neighbor_id,
              CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
       FROM pairs QUALIFY rank <= 10""", bench = true) { (s, d) =>
    val emb = Tables.df(s, d, "embeddings")
    Similarity.bruteForceTopK(emb.where(col("vec_id") < 50), emb, "vec_id", "embedding", k = 10)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** Multi-probe hyperplane LSH under FIXED literal planes
    * (OracleFixtures.lshPlanes — dyadic entries, so the sign/bucket
    * decision is exact double arithmetic), oracle-gated end to end:
    * signature, hamming-≤3 multi-probe candidate set (equivalently a
    * bit_count(xor) join in SQL), and exact cosine re-rank. The seeded
    * xxhash-hyperplane path keeps its recall gates in SimilaritySpec/
    * ProbeLsh. Dial notes (measured on these embeddings, worst-case
    * unstructured vectors): bits=8/probe=3 → 56% recall probing 93/256
    * buckets; bits=6/probe=3 → 81% at 2/3 of the corpus.
    */
  private val annLshQ = q("q_ann_lsh",
    s"""WITH ${OracleFixtures.lshBucketCte},
       pairs AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           list_cosine_similarity(q.v, n.v) AS cos
         FROM b q JOIN b n ON bit_count(xor(q.bkt, n.bkt)) <= ${OracleFixtures.LshProbeHamming}
         WHERE q.vec_id < 50 AND n.vec_id <> q.vec_id)
       SELECT query_id, neighbor_id,
              CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
       FROM pairs QUALIFY rank <= 10""") { (s, d) =>
    val emb = Tables.df(s, d, "embeddings")
    Similarity.lshTopK(emb.where(col("vec_id") < 50), emb, "vec_id", "embedding",
      k = 10, probeHamming = OracleFixtures.LshProbeHamming,
      planes = Some(OracleFixtures.lshPlanes))
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** Z-order (Morton) value for multi-column data skipping, oracle-gated
    * end to end: [[graft.functions.ZOrder.zSqlExpr]] generates the SAME
    * bit-interleave for DuckDB that [[graft.functions.ZOrder.zValue]]
    * plans in Spark (one generator, zero drift). The layout effect — each
    * z-sorted file covering a compact rectangle of the key plane, so
    * min/max footers prune on BOTH columns — is gated by ZOrderSpec.
    */
  private val zorderQ = q("q_zorder",
    s"""SELECT l_orderkey, l_linenumber,
              ${graft.functions.ZOrder.zSqlExpr("l_partkey", "l_suppkey")} AS zv
       FROM lineitem""") { (s, d) =>
    Tables.df(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        graft.functions.ZOrder.zValue(col("l_partkey"), col("l_suppkey")).as("zv"))
  }

  /** N-column z-value (3 keys, 21 bits each — the full 63-bit BIGINT):
    * the corpus-layout shape (source, lang, time-bucket, …) where
    * 2-column Morton is not enough. Same one-generator-for-both-engines
    * discipline as q_zorder.
    */
  private val zorderNQ = q("q_zorder_n",
    s"""SELECT l_orderkey, l_linenumber,
              ${graft.functions.ZOrder.zSqlExpr(
                 Seq("l_partkey", "l_suppkey", "l_linenumber"), bits = 21)} AS zv
       FROM lineitem""") { (s, d) =>
    Tables.df(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        graft.functions.ZOrder.zValue(
          Seq(col("l_partkey"), col("l_suppkey"), col("l_linenumber")), bits = 21).as("zv"))
  }

  private val quantizeQ = q("q_quantize",
    // int8 storage quantization, integer-summarized so the oracle is
    // exact: trunc-toward-zero is bit-identical across engines (round's
    // .5 behavior is not), float→double widening is exact, and the
    // per-row scale surfaces as floor(micros)
    """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS s FROM c),
       qd AS (SELECT vec_id, s,
               CASE WHEN s = 0 THEN list_transform(v, x -> 0)
                    ELSE list_transform(v, x -> CAST(trunc(x / s * 127) AS INTEGER)) END AS qv
             FROM m)
       SELECT vec_id, CAST(floor(s * 1000000) AS BIGINT) AS scale_micros,
              CAST(list_sum(qv) AS BIGINT) AS q_sum,
              CAST(list_min(qv) AS BIGINT) AS q_min,
              CAST(list_max(qv) AS BIGINT) AS q_max
       FROM qd""") { (s, d) =>
    val qv = quantizeInt8(col("embedding"))
    Tables.df(s, d, "embeddings")
      .select(col("vec_id"), qv.as("__qv"))
      .select(col("vec_id"),
        floor(col("__qv.scale") * 1000000).cast("long").as("scale_micros"),
        aggregate(col("__qv.q"), lit(0L), (acc, x) => acc + x).as("q_sum"),
        array_min(col("__qv.q")).cast("long").as("q_min"),
        array_max(col("__qv.q")).cast("long").as("q_max"))
  }

  // trained-quantizer IVF: farthest-point seeding + Lloyd steps are
  // iterative float means, not SQL-replayable → rows-only gate here;
  // semantics pinned by SimilaritySpec's planted-cluster fixture
  private val annIvfTrainedQ = q("q_ann_ivf_trained", twin = "q_ann_ivf") { (s, d) =>
    val emb = Tables.df(s, d, "embeddings")
    val cells = Similarity.kmeansCells(emb, "vec_id", "embedding", nCells = 16, iters = 2)
    Similarity.ivfTopK(emb.where(col("vec_id") < 50), emb, "vec_id", "embedding",
      k = 10, nCells = 16, nProbe = 4, centroids = Some(cells))
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  // the IVF pipeline is fully deterministic (centroids = 16 lowest ids,
  // L2 assignment tie-broken by cell, probe 4 cells, cosine rank), so
  // the whole thing is SQL-expressible; rank-only for ulp robustness.
  // Shared by q_ann_ivf (in-flight) and q_ann_ivf_indexed (persistent
  // index + partition-pruned probe): same quantizer → same answer.
  private val IvfOracleSql =
    """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       cent AS (SELECT vec_id AS cell, v AS cv FROM c ORDER BY vec_id LIMIT 16),
       assigned AS (
         SELECT vec_id, v, cell FROM (
           SELECT c.vec_id, c.v, cent.cell,
                  row_number() OVER (PARTITION BY c.vec_id
                    ORDER BY list_distance(c.v, cent.cv), cent.cell) AS r
           FROM c, cent) WHERE r = 1),
       qa AS (
         SELECT vec_id AS query_id, v AS qv, cell FROM (
           SELECT c.vec_id, c.v, cent.cell,
                  row_number() OVER (PARTITION BY c.vec_id
                    ORDER BY list_distance(c.v, cent.cv), cent.cell) AS r
           FROM c, cent WHERE c.vec_id < 50) WHERE r <= 4),
       scored AS (
         SELECT qa.query_id, a.vec_id AS neighbor_id,
                list_cosine_similarity(qa.qv, a.v) AS cos
         FROM qa JOIN assigned a ON qa.cell = a.cell
         WHERE qa.query_id <> a.vec_id)
       SELECT query_id, neighbor_id,
              CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
       FROM scored QUALIFY rank <= 10"""

  /** Corpus-wide kNN self-join (Similarity.knnJoin): every vector's top-5
    * neighbors through the id-seeded IVF quantizer, nProbe 2 — the SQL
    * mirror replays assignment, probing, and the (cos DESC, neighbor)
    * rank exactly (the IvfOracleSql discipline with the probe side = the
    * whole corpus). A (query, neighbor) candidate appears at most once:
    * the neighbor lives in exactly one cell, so only the probe row
    * landing on that cell pairs them.
    */
  /** The knnJoin CTE chain up to a ranked `knn(query_id, neighbor_id,
    * rank)` table — shared by q_knn_join and the q_knn_cluster
    * composition so the graph oracle can never drift from the join
    * oracle.
    */
  private def knnCtes(k: Int): String =
    s"""c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       cent AS (SELECT vec_id AS cell, v AS cv FROM c ORDER BY vec_id LIMIT 16),
       pc AS (SELECT vec_id, v, cell, r FROM (
           SELECT c.vec_id, c.v, cent.cell,
                  row_number() OVER (PARTITION BY c.vec_id
                    ORDER BY list_distance(c.v, cent.cv), cent.cell) AS r
           FROM c, cent) WHERE r <= 2),
       assigned AS (SELECT vec_id, v, cell FROM pc WHERE r = 1),
       scored AS (
         SELECT pc.vec_id AS query_id, a.vec_id AS neighbor_id,
                list_cosine_similarity(pc.v, a.v) AS cos
         FROM pc JOIN assigned a ON pc.cell = a.cell
         WHERE pc.vec_id <> a.vec_id),
       knn AS (SELECT query_id, neighbor_id, rank FROM (
           SELECT query_id, neighbor_id,
                  CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
           FROM scored) WHERE rank <= $k)"""

  private val knnJoinQ = q("q_knn_join",
    s"""WITH ${knnCtes(5)}
       SELECT query_id, neighbor_id, rank FROM knn""") { (s, d) =>
    Similarity.knnJoin(Tables.df(s, d, "embeddings"), "vec_id", "embedding",
      k = 5, nCells = 16, nProbe = 2)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** The PRODUCTION configuration of the kNN self-join: the auto cell
    * dial (nCells ∝ corpus, ~1000 vectors per cell) with Lloyd-trained
    * centroids, instead of q_knn_join's oracle-pinned 16 id-seeded cells.
    * Not oracle-replayable (iterative float k-means); gated by
    * SimilaritySpec's auto-dial equivalence + recall fixtures with
    * q_knn_join as the oracle-green twin of the same operator. This is
    * the dial that takes the x16 join 35 s → 4 s (ProbeKnn) — cell count
    * grows with the corpus, per-cell quadratic cost stays flat.
    */
  private val knnJoinAutoQ = q("q_knn_join_auto", twin = "q_knn_join") { (s, d) =>
    val emb = Tables.df(s, d, "embeddings")
    val nCells = Similarity.autoCells(emb.count(), nProbe = 2)
    val cells = Similarity.kmeansCells(emb, "vec_id", "embedding", nCells = nCells, iters = 2)
    Similarity.knnJoin(emb, "vec_id", "embedding", k = 5, nProbe = 2,
      centroids = Some(cells))
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** Embedding clustering: the k=3 kNN graph under 3 rounds of min-label
    * propagation (Graph.labelPropagate over the knnJoin edges) — the
    * graph-based semantic-grouping pass (mixture balancing, per-cluster
    * caps, SemDeDup pre-grouping). The oracle unrolls the label rounds
    * over the SAME knn CTE chain.
    */
  /** The knn-graph clustering chain through `l3(v, l)` — shared by
    * q_knn_cluster and the q_diversity_cap composition.
    */
  private val KnnClusterCtes: String = {
    val head =
      s"""${knnCtes(3)},
       nodes AS (SELECT vec_id AS v FROM c),
       und AS (SELECT query_id AS src, neighbor_id AS dst FROM knn
               UNION SELECT neighbor_id, query_id FROM knn),
       l0 AS (SELECT v, v AS l FROM nodes)"""
    val iterCtes = (1 to 3).map { i =>
      val p = s"l${i - 1}"
      s"""n$i AS (SELECT u.dst AS v, MIN($p.l) AS nl
             FROM und u JOIN $p ON $p.v = u.src GROUP BY 1),
         l$i AS (SELECT $p.v AS v, least($p.l, COALESCE(n$i.nl, $p.l)) AS l
                 FROM $p LEFT JOIN n$i ON $p.v = n$i.v)"""
    }.mkString(",\n")
    s"$head,\n$iterCtes"
  }

  /** The Spark side of [[KnnClusterCtes]]: knnJoin edges under 3 rounds
    * of min-label propagation → (v, l). `auto = true` is the PRODUCTION
    * quantizer configuration (nCells ∝ corpus via the knnJoin auto dial +
    * Lloyd-trained centroids — per-cell population and quadratic cost
    * stay flat as the corpus grows); `auto = false` pins nCells=16 for
    * the deterministic cross-engine oracle replay.
    */
  private def knnClusters(s: SparkSession, d: String,
      auto: Boolean = false): DataFrame = {
    val emb = Tables.df(s, d, "embeddings")
    val knn =
      if (auto) {
        val nCells = Similarity.autoCells(emb.count(), nProbe = 2)
        val cells = Similarity.kmeansCells(emb, "vec_id", "embedding",
          nCells = nCells, iters = 2)
        Similarity.knnJoin(emb, "vec_id", "embedding", k = 3, nProbe = 2,
          centroids = Some(cells))
      } else Similarity.knnJoin(emb, "vec_id", "embedding",
        k = 3, nCells = 16, nProbe = 2)
    graft.operators.Graph.labelPropagate(
      emb.select(col("vec_id").as("v")),
      knn.select(col("query_id").as("src"), col("neighbor_id").as("dst")),
      iters = 3)
  }

  private val knnClusterQ = q("q_knn_cluster",
    s"""WITH $KnnClusterCtes
       SELECT v AS vec_id, CAST(l AS BIGINT) AS label FROM l3""") { (s, d) =>
    knnClusters(s, d).select(col("v").as("vec_id"), col("l").as("label"))
  }

  /** Diversity cap: at most 10 representatives per semantic cluster
    * (kNN-graph labels), lowest ids kept — the per-cluster dual of
    * q_cap_per_source's per-domain cap, and the standard
    * semantic-diversity pass after clustering (cap over-represented
    * regions of embedding space instead of over-represented domains).
    * Same scale shape: a bounded-heap fold, ≤10 rows per cluster cross
    * the shuffle, never a rank window sorting every row.
    */
  private val diversityCapQ = q("q_diversity_cap",
    s"""WITH $KnnClusterCtes
       SELECT v AS vec_id, CAST(l AS BIGINT) AS cluster FROM l3
       QUALIFY row_number() OVER (PARTITION BY l ORDER BY v ASC) <= 10""") { (s, d) =>
    import s.implicits._
    Flow(knnClusters(s, d).select(col("v").cast("long"), col("l").cast("long"))
        .as[(Long, Long)])
      .groupBy(_._2)
      .fold(Fold.topBy[(Long, Long), Long](10)(t => -t._1))
      .mapcat(p => p._2.map(t => (t._1, p._1)))
      .toDF.toDF("vec_id", "cluster")
  }

  /** Production-config twins of the two knn-graph queries: the auto
    * quantizer dial + trained centroids (the 100 TB configuration —
    * ProbeKnn measured the pinned-16 oracle config 35 s vs 4 s at x16 on
    * identical output rows). Rows-only by the same argument as
    * q_knn_join_auto: cell boundaries shift with the trained centroids,
    * so the approximate neighbor set is not oracle-replayable; each
    * declares its pinned oracle-green twin.
    */
  private val knnClusterAutoQ = q("q_knn_cluster_auto", twin = "q_knn_cluster") { (s, d) =>
    knnClusters(s, d, auto = true).select(col("v").as("vec_id"), col("l").as("label"))
  }

  private val diversityCapAutoQ = q("q_diversity_cap_auto", twin = "q_diversity_cap") { (s, d) =>
    import s.implicits._
    Flow(knnClusters(s, d, auto = true).select(col("v").cast("long"), col("l").cast("long"))
        .as[(Long, Long)])
      .groupBy(_._2)
      .fold(Fold.topBy[(Long, Long), Long](10)(t => -t._1))
      .mapcat(p => p._2.map(t => (t._1, p._1)))
      .toDF.toDF("vec_id", "cluster")
  }

  private val annIvfQ = q("q_ann_ivf", IvfOracleSql) { (s, d) =>
    val emb = Tables.df(s, d, "embeddings")
    Similarity.ivfTopK(emb.where(col("vec_id") < 50), emb, "vec_id", "embedding",
      k = 10, nCells = 16, nProbe = 4)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** The PRODUCTION configuration of the IMI probe: Lloyd-trained
    * half-codebooks (kmeansCells on each product half) instead of the
    * oracle-pinned id-seeded halves — the q_ann_ivf_trained discipline.
    * Rows-only (iterative float k-means is not oracle-replayable) with
    * the pinned q_ann_imi as the oracle-green twin of the same operator.
    */
  private val annImiTrainedQ = q("q_ann_imi_trained", twin = "q_ann_imi") { (s, d) =>
    val emb = Tables.df(s, d, "embeddings")
    def trained(h: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      Similarity.kmeansCells(emb.select(col("vec_id"), h(col("embedding")).as("__h")),
        "vec_id", "__h", nCells = 8, iters = 2)
    Similarity.imiTopK(emb.where(col("vec_id") < 50), emb, "vec_id", "embedding",
      k = 10, nProbe = 4,
      codebooks = Some((trained(Similarity.halfA), trained(Similarity.halfB))))
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** The PRODUCTION IMI-PQ configuration: Lloyd-trained half-codebooks +
    * per-half RESIDUAL codes (Pq.trainResidualImi — PQ bits spent on the
    * within-composite-cell remainder) + exact re-rank tail. Rows-only
    * (trained quantizer + residual floats are not oracle-replayable)
    * with the pinned q_ann_imipq_refined as the oracle-green twin of the
    * same operator chain; PqSpec's grid fixture pins the residual win.
    */
  private val annImiPqResidQ = q("q_ann_imipq_resid", twin = "q_ann_imipq_refined") { (s, d) =>
    val emb = Tables.df(s, d, "embeddings")
    def halfBook(h: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      Similarity.kmeansCells(emb.select(col("vec_id"), h(col("embedding")).as("__h")),
        "vec_id", "__h", nCells = 8, iters = 2)
    val (ba, bb) = (halfBook(Similarity.halfA), halfBook(Similarity.halfB))
    val books = graft.functions.Pq.trainResidualImi(emb, "vec_id", "embedding",
      ba, bb, m = 8, ksub = 16, sampleSize = 2048)
    graft.functions.Pq.imiTopKRefined(emb.where(col("vec_id") < 50), emb,
      "vec_id", "embedding", books, k = 10, nProbe = 4, refine = 3,
      codebooks = Some((ba, bb)), residual = true)
  }

  /** Two-level IMI coarse quantizer (Similarity.imiTopK): 8 id-seeded
    * half-centroids per half = 64 composite cells at O(n·16)
    * half-distance assignment work — the hierarchical quantizer that
    * closes flat IVF's O(n·c) boundary beyond ~10⁸ vectors. The oracle
    * replays BOTH per-half argmin assignments, the exact top-4
    * combined-distance (dA+dB) probe combos, and the (cos DESC,
    * neighbor) rank — the IvfOracleSql discipline on the product split.
    */
  private val annImiQ = q("q_ann_imi",
    """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       cent AS (SELECT vec_id AS cell, v FROM c ORDER BY vec_id LIMIT 8),
       cba AS (SELECT cell, v[1:32] AS cv FROM cent),
       cbb AS (SELECT cell, v[33:64] AS cv FROM cent),
       aa AS (SELECT vec_id, v, cell AS ca FROM (
           SELECT c.vec_id, c.v, cba.cell,
                  row_number() OVER (PARTITION BY c.vec_id
                    ORDER BY list_distance(c.v[1:32], cba.cv), cba.cell) AS r
           FROM c, cba) WHERE r = 1),
       ab AS (SELECT vec_id, cell AS cb FROM (
           SELECT c.vec_id, cbb.cell,
                  row_number() OVER (PARTITION BY c.vec_id
                    ORDER BY list_distance(c.v[33:64], cbb.cv), cbb.cell) AS r
           FROM c, cbb) WHERE r = 1),
       assigned AS (SELECT aa.vec_id, aa.v, aa.ca, ab.cb FROM aa JOIN ab USING (vec_id)),
       qa AS (SELECT vec_id, v, ca, da FROM (
           SELECT c.vec_id, c.v, cba.cell AS ca,
                  list_distance(c.v[1:32], cba.cv) AS da,
                  row_number() OVER (PARTITION BY c.vec_id
                    ORDER BY list_distance(c.v[1:32], cba.cv), cba.cell) AS r
           FROM c, cba WHERE c.vec_id < 50) WHERE r <= 4),
       qb AS (SELECT vec_id, cb, db FROM (
           SELECT c.vec_id, cbb.cell AS cb,
                  list_distance(c.v[33:64], cbb.cv) AS db,
                  row_number() OVER (PARTITION BY c.vec_id
                    ORDER BY list_distance(c.v[33:64], cbb.cv), cbb.cell) AS r
           FROM c, cbb WHERE c.vec_id < 50) WHERE r <= 4),
       combos AS (SELECT vec_id, v, ca, cb FROM (
           SELECT qa.vec_id, qa.v, qa.ca, qb.cb,
                  row_number() OVER (PARTITION BY qa.vec_id
                    ORDER BY qa.da + qb.db, qa.ca, qb.cb) AS r
           FROM qa JOIN qb USING (vec_id)) WHERE r <= 4),
       scored AS (SELECT combos.vec_id AS query_id, a.vec_id AS neighbor_id,
                         list_cosine_similarity(combos.v, a.v) AS cos
                  FROM combos JOIN assigned a ON combos.ca = a.ca AND combos.cb = a.cb
                  WHERE combos.vec_id <> a.vec_id)
       SELECT query_id, neighbor_id,
              CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
       FROM scored QUALIFY rank <= 10""") { (s, d) =>
    val emb = Tables.df(s, d, "embeddings")
    Similarity.imiTopK(emb.where(col("vec_id") < 50), emb, "vec_id", "embedding",
      k = 10, nPerHalf = 8, nProbe = 4)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** Same relation (and same oracle) as q_ann_ivf through the PERSISTENT
    * index: cell assignments written as cell-partitioned parquet once,
    * then probed with planning-time partition pruning — the probe scans
    * only the queries' nProbe cells, no Exchange on the index lineage.
    */
  private val annIvfIndexedQ = q("q_ann_ivf_indexed", IvfOracleSql) { (s, d) =>
    val emb = Tables.df(s, d, "embeddings")
    val path = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_ivf_idx_" + Integer.toHexString(d.hashCode)).getAbsolutePath
    AnnIndex.buildIvf(emb, "vec_id", "embedding", path, nCells = 16)
    AnnIndex.probeIvf(s, path, emb.where(col("vec_id") < 50), "vec_id", "embedding",
      k = 10, nProbe = 4)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** Incremental-ingest dedup through the PERSISTENT MinHash index: the
    * corpus is signed/banded once into bucketed tables; the shifted-id
    * copies arrive as the delta and only they shuffle. Rows-only gate
    * (LSH, like q_dedup_minhash); batch-parity is property-tested in
    * DedupSpec.
    */
  private val minhashIndexedQ = q("q_dedup_minhash_indexed", twin = "q_dedup_minhash_indexed_fixed") { (s, d) =>
    val docs = Tables.df(s, d, "documents")
    AnnIndex.buildMinhash(docs, "doc_id", "text", "graft_mh_idx",
      shingle = 3, numHashes = 64, bands = 16)
    AnnIndex.probeMinhash(s, "graft_mh_idx",
      docs.withColumn("doc_id", col("doc_id") + 10000), "doc_id", "text",
      shingle = 3, numHashes = 64, bands = 16, threshold = 0.7)
  }

  /** Incremental exact dedup through the persistent fingerprint catalog:
    * the corpus's canonical-text fingerprints live in a bucketed table;
    * the delta (shifted ids, a third of the texts made novel) probes it
    * and every document gets a dup-or-new verdict without re-scanning the
    * corpus. Fully oracle-gated — md5-over-canonical-text replays exactly
    * in SQL, making this the one persistent-index probe whose PRODUCTION
    * hash is already DuckDB-expressible (the LSH indexes need fixture
    * twins for that).
    */
  private val dedupExactIndexedQ = q("q_dedup_exact_indexed",
    """WITH corpus_fp AS (
         SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
                MIN(doc_id) AS dup_of
         FROM documents GROUP BY 1),
       delta AS (
         SELECT doc_id + 10000 AS doc_id,
                CASE WHEN doc_id % 3 = 0 THEN concat(text, ' novel') ELSE text END AS text
         FROM documents)
       SELECT d.doc_id, c.dup_of
       FROM (SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
             FROM delta) d
       LEFT JOIN corpus_fp c USING (fp)""") { (s, d) =>
    val docs = Tables.df(s, d, "documents")
    AnnIndex.buildFingerprint(docs, "doc_id", "text", "graft_fp_idx")
    val delta = docs.select((col("doc_id") + 10000).as("doc_id"),
      when(col("doc_id") % 3 === 0, concat(col("text"), lit(" novel")))
        .otherwise(col("text")).as("text"))
    AnnIndex.probeFingerprint(s, "graft_fp_idx", delta, "doc_id", "text")
  }

  /** The persistent-index probe path under the fixture hash family: the
    * corpus is signed/banded into the bucketed tables with SQL-replayable
    * integer chains, the shifted-id delta probes them, and the DuckDB
    * oracle replays the whole thing — build-side signatures, bucket
    * collisions, first-agreeing-band survival, and est_jaccard. Together
    * with q_dedup_minhash_fixed this puts both halves of the minhash
    * story (batch pipeline AND index probe) behind the hash-compare gate;
    * the delta side of the oracle is doc_id >= 10000 (the shifted copies),
    * the index side doc_id < 10000, mirroring probeMinhash's
    * delta-vs-corpus-only contract.
    */
  private val minhashIndexedFixedQ = q("q_dedup_minhash_indexed_fixed",
    s"""WITH ${OracleFixtures.minhashSigCtes},
       ${OracleFixtures.minhashPairsSql("l.doc_id >= 10000 AND r.doc_id < 10000")}""") { (s, d) =>
    val docs = Tables.df(s, d, "documents")
    AnnIndex.buildMinhash(docs, "doc_id", "text", "graft_mh_idx_fx",
      shingle = OracleFixtures.MhShingle, numHashes = OracleFixtures.MhNumHashes,
      bands = OracleFixtures.MhBands, family = HashFamily.Fixture)
    AnnIndex.probeMinhash(s, "graft_mh_idx_fx",
      docs.withColumn("doc_id", col("doc_id") + 10000), "doc_id", "text",
      shingle = OracleFixtures.MhShingle, numHashes = OracleFixtures.MhNumHashes,
      bands = OracleFixtures.MhBands, threshold = OracleFixtures.MhThreshold,
      family = HashFamily.Fixture)
  }

  /** PQ ENCODE under a fixed literal codebook — the deterministic half of
    * product quantization, oracle-gated: m=2 subspaces over the 64-dim
    * embedding, ksub=2 centroids per subspace at all-(+0.5) / all-(−0.5)
    * (exactly representable floats, so the squared-L2 argmin computes in
    * identical double arithmetic on both engines; ties, d0 == d1, pick
    * centroid 0 — `<=` on both sides).
    */
  private val pqEncodeQ = q("q_pq_encode",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       h AS (SELECT vec_id, v[1:32] AS h1, v[33:64] AS h2 FROM e),
       d AS (SELECT vec_id,
               list_sum(list_transform(h1, x -> (x - 0.5) * (x - 0.5))) AS d10,
               list_sum(list_transform(h1, x -> (x + 0.5) * (x + 0.5))) AS d11,
               list_sum(list_transform(h2, x -> (x - 0.5) * (x - 0.5))) AS d20,
               list_sum(list_transform(h2, x -> (x + 0.5) * (x + 0.5))) AS d21
             FROM h)
       SELECT vec_id,
              CAST(CASE WHEN d10 <= d11 THEN 0 ELSE 1 END AS INTEGER) AS code0,
              CAST(CASE WHEN d20 <= d21 THEN 0 ELSE 1 END AS INTEGER) AS code1
       FROM d""") { (s, d) =>
    val books = Array(
      Array(Array.fill(32)(0.5f), Array.fill(32)(-0.5f)),
      Array(Array.fill(32)(0.5f), Array.fill(32)(-0.5f)))
    Tables.df(s, d, "embeddings")
      .select(col("vec_id"),
        graft.functions.Pq.encodeCol(col("embedding"), books).as("__c"))
      .select(col("vec_id"),
        element_at(col("__c"), 1).as("code0"),
        element_at(col("__c"), 2).as("code1"))
  }

  /** PQ-compressed ANN sweep under the FIXED literal codebook
    * (OracleFixtures.pqBooks), oracle-gated end to end: encode, per-query
    * LUT, ADC scoring, and (adist, neighbor_id) ranking all replay in
    * DuckDB — measured bit-exact including adist (max delta 0.0 at
    * sf0.01), because dyadic-centroid squares are exact doubles and both
    * engines fold distances left-to-right. The TRAINED-codebook path
    * (iterative float k-means, not SQL-replayable) keeps its gates in
    * PqSpec/ProbePq.
    */
  private val annPqQ = q("q_ann_pq",
    s"""WITH ${OracleFixtures.pqCodeCtes},
       pairs AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           ${OracleFixtures.pqAdcExpr("q", "n")} AS adist
         FROM cc q, cc n WHERE q.vec_id < 50 AND n.vec_id <> q.vec_id)
       SELECT query_id, neighbor_id, adist,
              CAST(row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS INTEGER) AS rank
       FROM pairs QUALIFY rank <= 10""") { (s, d) =>
    val emb = Tables.df(s, d, "embeddings")
    graft.functions.Pq.topK(emb.where(col("vec_id") < 50), emb,
      "vec_id", "embedding", OracleFixtures.pqBooks, k = 10)
  }

  /** IVF-PQ: coarse-cell pruning + compressed-domain ADC scoring — the
    * billion-scale composition, oracle-gated under the fixed codebook +
    * the deterministic default quantizer (16 lowest-id centroids, the
    * q_ann_ivf oracle's proven assignment CTEs). Rank-only output for ulp
    * robustness across the extra assignment layer. Shared by the
    * persistent-index twin below.
    */
  /** Shared CTE prefix for the IVF-PQ oracle family (cells → assignment
    * → probed pairs with ADC distances) — ONE definition (the
    * OracleFixtures discipline) so the base, indexed, and refined twins
    * cannot drift in assignment tie-break or probe count.
    */
  private val IvfPqPairsCtes =
    s"""${OracleFixtures.pqCodeCtes},
       cent AS (SELECT vec_id AS cell, v AS cv FROM e ORDER BY vec_id LIMIT 16),
       assigned AS (
         SELECT vec_id, cell FROM (
           SELECT cc.vec_id, cent.cell,
                  row_number() OVER (PARTITION BY cc.vec_id
                    ORDER BY list_distance(cc.v, cent.cv), cent.cell) AS r
           FROM cc, cent) WHERE r = 1),
       qa AS (
         SELECT vec_id AS query_id, cell FROM (
           SELECT cc.vec_id, cent.cell,
                  row_number() OVER (PARTITION BY cc.vec_id
                    ORDER BY list_distance(cc.v, cent.cv), cent.cell) AS r
           FROM cc, cent WHERE cc.vec_id < 50) WHERE r <= 4),
       pairs AS (SELECT qa.query_id, n.vec_id AS neighbor_id,
           ${OracleFixtures.pqAdcExpr("q", "n")} AS adist
         FROM qa
         JOIN assigned a ON qa.cell = a.cell
         JOIN cc q ON q.vec_id = qa.query_id
         JOIN cc n ON n.vec_id = a.vec_id
         WHERE qa.query_id <> a.vec_id)"""

  private val IvfPqOracleSql =
    s"""WITH $IvfPqPairsCtes
       SELECT query_id, neighbor_id,
              CAST(row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS INTEGER) AS rank
       FROM pairs QUALIFY rank <= 10"""

  private val annIvfPqQ = q("q_ann_ivfpq", IvfPqOracleSql) { (s, d) =>
    val emb = Tables.df(s, d, "embeddings")
    graft.functions.Pq.ivfTopK(emb.where(col("vec_id") < 50), emb,
      "vec_id", "embedding", OracleFixtures.pqBooks, k = 10, nCells = 16, nProbe = 4)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** q_ann_ivfpq through the PERSISTENT compressed index (cell-partitioned
    * codes on disk, partition-pruned probe) — SAME oracle as the in-flight
    * twin, the q_ann_ivf_indexed discipline: same quantizer + same
    * codebooks → same answer, now hash-gated rather than only spec-gated.
    */
  /** Build-once fixture index shared by the indexed IVF-PQ twins (same
    * path, same quantizer, same codebooks): one definition so the twins
    * cannot drift apart on build parameters, and one build per JVM per
    * sfDir instead of a redundant rebuild per query.
    */
  private val ivfPqFixtureIndexes = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def ivfPqFixtureIndex(s: SparkSession, d: String): String =
    ivfPqFixtureIndexes.computeIfAbsent(d, _ => {
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_ivfpq_idx_" + Integer.toHexString(d.hashCode)).getAbsolutePath
      AnnIndex.buildIvfPq(Tables.df(s, d, "embeddings"), "vec_id", "embedding",
        path, OracleFixtures.pqBooks, nCells = 16)
      path
    })

  private val annIvfPqIndexedQ = q("q_ann_ivfpq_indexed", IvfPqOracleSql) { (s, d) =>
    val emb = Tables.df(s, d, "embeddings")
    AnnIndex.probeIvfPq(s, ivfPqFixtureIndex(s, d), emb.where(col("vec_id") < 50),
      "vec_id", "embedding", k = 10, nProbe = 4)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** IVF-PQ + exact re-rank tail (faiss IndexRefineFlat): the ADC
    * shortlist (k·refine = 30 per query) re-ranks by exact L2 from the
    * raw vectors — oracle-gated end to end under the fixture codebook.
    * The exact leg replays as `list_distance` over the same DOUBLE[]
    * (Spark's L2Distance widens each float to double BEFORE subtracting,
    * sums left-to-right, then sqrt — the q_ann_pq bit-parity argument);
    * rank-only output tie-broken by neighbor id.
    */
  private val IvfPqRefinedOracleSql =
    s"""WITH $IvfPqPairsCtes,
       short AS (SELECT query_id, neighbor_id FROM (
         SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS r
         FROM pairs) WHERE r <= 30),
       ex AS (SELECT s.query_id, s.neighbor_id,
                     list_distance(q.v, n.v) AS dist
              FROM short s
              JOIN e q ON q.vec_id = s.query_id
              JOIN e n ON n.vec_id = s.neighbor_id)
       SELECT query_id, neighbor_id,
              CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS INTEGER) AS rank
       FROM ex QUALIFY rank <= 10"""

  // bench = true since round 11: q_ann_cosine (brute force) is the ANN
  // family's ORACLE baseline row and grows quadratically by design; this
  // is the path a 100 TB corpus actually runs (coarse cells + ADC
  // shortlist + exact re-rank tail), so the artifact tracks both.
  private val annIvfPqRefinedQ = q("q_ann_ivfpq_refined", IvfPqRefinedOracleSql,
    bench = true) { (s, d) =>
    val emb = Tables.df(s, d, "embeddings")
    graft.functions.Pq.ivfTopKRefined(emb.where(col("vec_id") < 50), emb,
      "vec_id", "embedding", OracleFixtures.pqBooks, k = 10, nCells = 16,
      nProbe = 4, refine = 3)
  }

  /** The refined probe over the PERSISTENT compressed index — SAME oracle
    * as the in-flight twin (the q_ann_ivfpq_indexed discipline): pruned
    * index scan shortlists, the raw-vector corpus supplies the exact tail.
    */
  private val annIvfPqRefinedIndexedQ = q("q_ann_ivfpq_refined_indexed", IvfPqRefinedOracleSql) { (s, d) =>
    val emb = Tables.df(s, d, "embeddings")
    AnnIndex.probeIvfPqRefined(s, ivfPqFixtureIndex(s, d), emb.where(col("vec_id") < 50),
      emb, "vec_id", "embedding", k = 10, nProbe = 4, refine = 3)
  }

  /** IMI-PQ with the exact re-rank tail (Pq.imiTopKRefined) — the
    * hierarchical coarse quantizer COMPOSED with the ADC sweep, so both
    * corpus-linear costs of a 10⁹-vector probe are addressed at once:
    * O(2√c) assignment + m-byte code scan + exact tail on the shortlist
    * only. The oracle replays the full chain: both per-half argmins, the
    * exact top-4 dA+dB probe combos, the per-subvector ADC sum, the
    * k·refine shortlist, and the exact-L2 re-rank.
    */
  // shared by q_ann_imipq_refined (in-flight) and
  // q_ann_imipq_refined_indexed (persistent two-level layout): same
  // quantizer + same codebooks -> same answer
  private val ImiPqRefinedOracleSql =
    s"""WITH ${OracleFixtures.pqCodeCtes},
       cent AS (SELECT vec_id AS cell, v FROM e ORDER BY vec_id LIMIT 8),
       cba AS (SELECT cell, v[1:32] AS cv FROM cent),
       cbb AS (SELECT cell, v[33:64] AS cv FROM cent),
       aa AS (SELECT vec_id, cell AS ca FROM (
           SELECT e.vec_id, cba.cell,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY list_distance(e.v[1:32], cba.cv), cba.cell) AS r
           FROM e, cba) WHERE r = 1),
       ab AS (SELECT vec_id, cell AS cb FROM (
           SELECT e.vec_id, cbb.cell,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY list_distance(e.v[33:64], cbb.cv), cbb.cell) AS r
           FROM e, cbb) WHERE r = 1),
       assigned AS (SELECT aa.vec_id, aa.ca, ab.cb FROM aa JOIN ab USING (vec_id)),
       iqa AS (SELECT vec_id, ca, da FROM (
           SELECT e.vec_id, cba.cell AS ca,
                  list_distance(e.v[1:32], cba.cv) AS da,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY list_distance(e.v[1:32], cba.cv), cba.cell) AS r
           FROM e, cba WHERE e.vec_id < 50) WHERE r <= 4),
       iqb AS (SELECT vec_id, cb, db FROM (
           SELECT e.vec_id, cbb.cell AS cb,
                  list_distance(e.v[33:64], cbb.cv) AS db,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY list_distance(e.v[33:64], cbb.cv), cbb.cell) AS r
           FROM e, cbb WHERE e.vec_id < 50) WHERE r <= 4),
       combos AS (SELECT vec_id, ca, cb FROM (
           SELECT iqa.vec_id, iqa.ca, iqb.cb,
                  row_number() OVER (PARTITION BY iqa.vec_id
                    ORDER BY iqa.da + iqb.db, iqa.ca, iqb.cb) AS r
           FROM iqa JOIN iqb USING (vec_id)) WHERE r <= 4),
       pairs AS (SELECT combos.vec_id AS query_id, a.vec_id AS neighbor_id,
                        ${OracleFixtures.pqAdcExpr("q", "n")} AS adist
                 FROM combos
                 JOIN assigned a ON combos.ca = a.ca AND combos.cb = a.cb
                 JOIN cc q ON q.vec_id = combos.vec_id
                 JOIN cc n ON n.vec_id = a.vec_id
                 WHERE combos.vec_id <> a.vec_id),
       short AS (SELECT query_id, neighbor_id FROM (
           SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS r
           FROM pairs) WHERE r <= 30),
       ex AS (SELECT s.query_id, s.neighbor_id, list_distance(q.v, n.v) AS dist
              FROM short s
              JOIN e q ON q.vec_id = s.query_id
              JOIN e n ON n.vec_id = s.neighbor_id)
       SELECT query_id, neighbor_id,
              CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS INTEGER) AS rank
       FROM ex QUALIFY rank <= 10"""

  private val annImiPqRefinedQ = q("q_ann_imipq_refined", ImiPqRefinedOracleSql) { (s, d) =>
    val emb = Tables.df(s, d, "embeddings")
    graft.functions.Pq.imiTopKRefined(emb.where(col("vec_id") < 50), emb,
      "vec_id", "embedding", OracleFixtures.pqBooks, k = 10, nPerHalf = 8,
      nProbe = 4, refine = 3)
  }

  /** q_ann_imipq_refined through the PERSISTENT two-level index
    * (AnnIndex.buildImiPq: PQ codes under `__ca=<a>/__cb=<b>` directory
    * partitioning, probe prunes both levels) — SAME oracle as the
    * in-flight twin, the q_ann_ivfpq_refined_indexed discipline.
    */
  private val annImiPqRefinedIndexedQ = q("q_ann_imipq_refined_indexed",
    ImiPqRefinedOracleSql) { (s, d) =>
    val emb = Tables.df(s, d, "embeddings")
    val path = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_imipq_idx_" + Integer.toHexString(d.hashCode)).getAbsolutePath
    AnnIndex.buildImiPq(emb, "vec_id", "embedding", path,
      OracleFixtures.pqBooks, nPerHalf = 8)
    AnnIndex.probeImiPqRefined(s, path, emb.where(col("vec_id") < 50), emb,
      "vec_id", "embedding", k = 10, nProbe = 4, refine = 3)
  }

  /** The PRODUCTION IMI-PQ configuration through the PERSISTENT index:
    * the q_ann_imipq_resid chain (Lloyd-trained half-codebooks +
    * Pq.trainResidualImi residual codes + exact tail) with codes built
    * once into the two-level `__ca/__cb` layout (`residual = true`
    * recorded in `_meta`) and probed with both-level partition pruning —
    * per-probe residual LUTs, identical results to the in-flight
    * residual probe (AnnIndexSpec equality). Rows-only (trained
    * quantizer + residual floats are not oracle-replayable) with the
    * pinned q_ann_imipq_refined_indexed as the oracle-green twin of the
    * same index chain.
    */
  private val annImiPqResidIndexedQ = q("q_ann_imipq_resid_indexed",
      twin = "q_ann_imipq_refined_indexed") { (s, d) =>
    val emb = Tables.df(s, d, "embeddings")
    def halfBook(h: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      Similarity.kmeansCells(emb.select(col("vec_id"), h(col("embedding")).as("__h")),
        "vec_id", "__h", nCells = 8, iters = 2)
    val (ba, bb) = (halfBook(Similarity.halfA), halfBook(Similarity.halfB))
    val books = graft.functions.Pq.trainResidualImi(emb, "vec_id", "embedding",
      ba, bb, m = 8, ksub = 16, sampleSize = 2048)
    val path = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_imipq_resid_idx_" + Integer.toHexString(d.hashCode)).getAbsolutePath
    AnnIndex.buildImiPq(emb, "vec_id", "embedding", path, books,
      codebooks = Some((ba, bb)), residual = true)
    AnnIndex.probeImiPqRefined(s, path, emb.where(col("vec_id") < 50), emb,
      "vec_id", "embedding", k = 10, nProbe = 4, refine = 3)
  }

  private val multimodalQ = q("q_multimodal", twin = "q_multimodal_meta") { (s, d) => // synthetic payloads; rows-only
    import s.implicits._
    val media = Multimodal.synthetic(s, 300)
    val feats = Multimodal.extractFeatures(media, dim = 16)
    media.toDF().select(col("id"), col("meta.mediaType").as("media_type"))
      .join(feats.toDF().select(col("id"), col("featureDim")), "id")
      .groupBy("media_type")
      .agg(count(lit(1)).as("n"), max(col("featureDim")).as("dim"))
  }

  private val redactQ = q("q_redact",
    // PII is injected deterministically (doc_id-derived email + phone) so
    // the redaction path has guaranteed work; both engines build and
    // scrub the identical string
    raw"""SELECT doc_id,
              regexp_replace(regexp_replace(regexp_replace(
                text || ' contact: user' || doc_id || '@example.com or call +1 (555) 010-' || (doc_id % 10000) || ' now',
                '${EmailPattern}', '<EMAIL>', 'g'),
                '${UrlPattern}', '<URL>', 'g'),
                '${PhonePattern}', '<PHONE>', 'g') AS redacted
       FROM documents""") { (s, d) =>
    Tables.df(s, d, "documents")
      .select(col("doc_id"),
        redactPii(concat(col("text"), lit(" contact: user"), col("doc_id"),
          lit("@example.com or call +1 (555) 010-"), pmod(col("doc_id"), lit(10000)),
          lit(" now"))).as("redacted"))
  }

  /** PII audit: per-source counts of email/URL/phone matches over the
    * SAME injected corpus q_redact scrubs (guaranteed work in every
    * doc) — the privacy-report pass that runs BEFORE a redaction job to
    * size it and AFTER to prove it converged to zero. Patterns are the
    * shared TextFunctions constants, so the audit can never disagree
    * with the redactor about what counts as PII.
    */
  private val piiStatsQ = q("q_pii_stats",
    raw"""WITH t AS (SELECT source,
              text || ' contact: user' || doc_id || '@example.com or call +1 (555) 010-' || (doc_id % 10000) || ' now' AS text
            FROM documents)
       SELECT source,
              CAST(SUM(len(regexp_extract_all(text, '${EmailPattern}'))) AS BIGINT) AS n_emails,
              CAST(SUM(len(regexp_extract_all(text, '${UrlPattern}'))) AS BIGINT) AS n_urls,
              CAST(SUM(len(regexp_extract_all(text, '${PhonePattern}'))) AS BIGINT) AS n_phones,
              CAST(COUNT(*) AS BIGINT) AS n_docs
       FROM t GROUP BY 1""") { (s, d) =>
    Tables.df(s, d, "documents")
      .select(col("source"),
        concat(col("text"), lit(" contact: user"), col("doc_id"),
          lit("@example.com or call +1 (555) 010-"), pmod(col("doc_id"), lit(10000)),
          lit(" now")).as("__t"))
      .groupBy("source")
      .agg(
        sum(size(regexp_extract_all(col("__t"), lit(EmailPattern), lit(0)))).as("n_emails"),
        sum(size(regexp_extract_all(col("__t"), lit(UrlPattern), lit(0)))).as("n_urls"),
        sum(size(regexp_extract_all(col("__t"), lit(PhonePattern), lit(0)))).as("n_phones"),
        count(lit(1)).as("n_docs"))
  }

  /** Per-domain URL audit with a blocklist flag — the link-profile pass
    * of web-corpus curation (what domains does this corpus cite, and how
    * much of it would a blocklist gate drop). URLs are planted
    * deterministically (doc_id mod 7 picks the host; every third doc
    * cites the blocklisted host twice); extraction reuses the SAME
    * UrlPattern the redactor scrubs and the domain comes from one shared
    * DomainPattern, so audit, gate, and scrub can never disagree.
    */
  private val domainStatsQ = q("q_domain_stats",
    raw"""WITH t AS (SELECT doc_id, source,
              text || ' see https://site' || (doc_id % 7) || '.example.org/p/' || doc_id
                   || CASE WHEN doc_id % 3 = 0
                           THEN ' and http://spam.bad.net/x http://spam.bad.net/y'
                           ELSE '' END AS text
            FROM documents),
       u AS (SELECT doc_id, source, unnest(regexp_extract_all(text, '${UrlPattern}')) AS url FROM t),
       d AS (SELECT doc_id, source, lower(regexp_extract(url, '${graft.functions.TextFunctions.DomainPattern}', 1)) AS domain FROM u)
       SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_urls,
              CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
              domain = 'spam.bad.net' AS blocklisted
       FROM d GROUP BY 1""") { (s, d) =>
    import graft.functions.TextFunctions.{extractUrls, urlDomain}
    val t = Tables.df(s, d, "documents").select(col("doc_id"), col("source"),
      concat(col("text"), lit(" see https://site"), pmod(col("doc_id"), lit(7)),
        lit(".example.org/p/"), col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          lit(" and http://spam.bad.net/x http://spam.bad.net/y"))
          .otherwise(lit(""))).as("__t"))
    t.select(col("doc_id"), explode(extractUrls(col("__t"))).as("url"))
      .select(col("doc_id"), urlDomain(col("url")).as("domain"))
      .groupBy("domain")
      .agg(count(lit(1)).cast("long").as("n_urls"),
        countDistinct(col("doc_id")).cast("long").as("n_docs"))
      .withColumn("blocklisted", col("domain") === "spam.bad.net")
  }

  // ---- Multi-pattern blocklist (C4/RefinedWeb badwords stage) over the
  // Aho–Corasick kernel: one codegen'd scan per document for the whole
  // pattern set. The oracle replays each pattern's OVERLAPPING occurrence
  // count as an exact position scan (substr at every ending offset) —
  // one scan per pattern in SQL vs ONE TOTAL in the kernel, which is the
  // point of the automaton. Pattern set chosen to exercise the automaton
  // where naive contains() breaks: "slow" ⊂ "merge slow" (a hit of the
  // long pattern also ends the short one there — fail-closure output),
  // "batch batch" self-overlaps ("batch batch batch" counts 2), and
  // "a batch"/"batch batch" share the " batch" suffix (fail links).
  private val BlockPatterns = Seq("slow", "batch batch", "a batch", "dup", "merge slow")

  private def acHitSql(p: String): String = {
    val L = p.length
    s"""len(list_filter(range(1, greatest(len(text) - $L + 2, CAST(1 AS BIGINT))),
          i -> substr(text, CAST(i AS INT), $L) = '$p'))"""
  }

  private val blocklistQ = q("q_blocklist", {
    val hits = BlockPatterns.map(acHitSql).mkString(" + ")
    val distinct = BlockPatterns.map(p => s"CASE WHEN ${acHitSql(p)} > 0 THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""SELECT doc_id, CAST($hits AS BIGINT) AS hits,
              CAST($distinct AS BIGINT) AS patterns_hit
       FROM documents"""
  }) { (s, d) =>
    graft.operators.Blocklist.matchCounts(
      Tables.df(s, d, "documents"), "doc_id", "text", BlockPatterns)
  }

  /** The gating form (C4 drops on any badword; this config tolerates one
    * occurrence): documents with > 1 total occurrences of the rarer
    * pattern subset drop; survivors carry the count.
    */
  private val blocklistGateQ = q("q_blocklist_gate", {
    val pats = Seq("batch batch", "dup", "vector window")
    val hits = pats.map(acHitSql).mkString(" + ")
    s"""WITH h AS (SELECT doc_id, CAST($hits AS BIGINT) AS blocklist_hits FROM documents)
       SELECT doc_id, blocklist_hits FROM h WHERE blocklist_hits <= 1"""
  }) { (s, d) =>
    val pats = Seq("batch batch", "dup", "vector window")
    // materialize the narrow (id, hits) projection before the filter —
    // the q_quality_gate barrier: pushdown would otherwise inline the AC
    // kernel into the Filter and run it twice per row (Blocklist.gate
    // itself stays the stateless one-projection form the streaming gate
    // needs; a localCheckpoint is illegal on a stream)
    val counts = graft.operators.Materialize.once(
      Tables.df(s, d, "documents").select(col("doc_id"),
        aggregate(graft.operators.Blocklist.countsCol(col("text"), pats),
          lit(0L), (a, x) => a + x).as("blocklist_hits")))
    counts.where(col("blocklist_hits") <= 1)
  }

  /** Exact Spearman rank correlation (price vs order date over orders) —
    * the monotone-association profile next to q_profile_corr's Pearson.
    * Deterministic row_number ranks (value, id), Σd² exact BIGINT, one
    * final division ([[graft.operators.Profile.spearman]]; ranks on the
    * Spark side come from the distributed prefix-scan, not a global
    * window).
    */
  private val profileSpearmanQ = q("q_profile_spearman",
    """WITH v AS (SELECT o_orderkey AS id, o_totalprice AS x,
                         epoch_ns(o_orderdate) AS y FROM orders),
       rx AS (SELECT id, row_number() OVER (ORDER BY x, id) AS r FROM v),
       ry AS (SELECT id, row_number() OVER (ORDER BY y, id) AS r FROM v),
       j AS (SELECT rx.r AS a, ry.r AS b FROM rx JOIN ry USING (id))
       SELECT CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM((a - b) * (a - b)) AS BIGINT) AS sum_d2,
              round(1.0 - (SUM((a - b) * (a - b)) * 6.0)
                    / (CAST(COUNT(*) AS DOUBLE) * (COUNT(*) * COUNT(*) - 1)), 6) AS spearman
       FROM j""") { (s, d) =>
    graft.operators.Profile.spearman(
      Tables.df(s, d, "orders").select(col("o_orderkey"),
        col("o_totalprice").as("x"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("y")),
      "o_orderkey", "x", "y")
  }

  /** The corpus-scale spearman (Profile.spearmanSampled): exact rank
    * correlation over a deterministic 1/4 LCG hash sample — the
    * bounded-sample path q_profile_spearman's scaladoc promised, itself
    * hash-gated because the keep decision replays from the id alone and
    * everything downstream is the exact integer machinery.
    */
  private val profileSpearmanSampledQ = q("q_profile_spearman_sampled",
    s"""WITH v AS (SELECT o_orderkey AS id, o_totalprice AS x,
                         epoch_ns(o_orderdate) AS y FROM orders
                  WHERE ${OracleSql.lcg31("o_orderkey")} < ${1L * 2147483648L / 4L}),
       rx AS (SELECT id, row_number() OVER (ORDER BY x, id) AS r FROM v),
       ry AS (SELECT id, row_number() OVER (ORDER BY y, id) AS r FROM v),
       j AS (SELECT rx.r AS a, ry.r AS b FROM rx JOIN ry USING (id))
       SELECT CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM((a - b) * (a - b)) AS BIGINT) AS sum_d2,
              round(1.0 - (SUM((a - b) * (a - b)) * 6.0)
                    / (CAST(COUNT(*) AS DOUBLE) * (COUNT(*) * COUNT(*) - 1)), 6) AS spearman
       FROM j""") { (s, d) =>
    graft.operators.Profile.spearmanSampled(
      Tables.df(s, d, "orders").select(col("o_orderkey"),
        col("o_totalprice").as("x"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("y")),
      "o_orderkey", "x", "y", num = 1L, den = 4L)
  }

  /** Exact Pearson correlation per group — the profiling aggregate for
    * "are these columns related" (feature audits, leakage checks). All
    * five sums run in integer units through DECIMAL(28,0) (quantity
    * units / price cents: each per-row product is ≤ 1e14, exact in
    * double before the cast, and the decimal SUM is exact at any corpus
    * size — the q_q1 exact-summation discipline), then ONE double
    * formula both engines evaluate with the identical expression text.
    * Correlation is scale-invariant, so the unit scaling changes
    * nothing.
    */
  /** The shared exact-sums CTE for the correlation/regression pair:
    * (flag, n, Σx, Σy, Σx², Σy², Σxy) in integer units through
    * DECIMAL(28,0).
    */
  private val CorrSumsSql =
    """a AS (SELECT l_returnflag AS flag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(l_quantity) AS DECIMAL(28,0))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS DECIMAL(28,0))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(round(l_quantity) * round(l_quantity) AS DECIMAL(28,0))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(round(l_extendedprice * 100) * round(l_extendedprice * 100) AS DECIMAL(28,0))) AS DOUBLE) AS syy,
           CAST(SUM(CAST(round(l_quantity) * round(l_extendedprice * 100) AS DECIMAL(28,0))) AS DOUBLE) AS sxy
         FROM lineitem GROUP BY 1)"""

  private def corrSums(s: SparkSession, d: String): DataFrame = {
    val qi = round(col("l_quantity"))
    val pc = round(col("l_extendedprice") * 100)
    def dsum0(c: org.apache.spark.sql.Column) =
      sum(c.cast("decimal(28,0)")).cast("double")
    Tables.df(s, d, "lineitem")
      .groupBy(col("l_returnflag").as("flag"))
      .agg(count(lit(1)).as("n"),
        dsum0(qi).as("sx"), dsum0(pc).as("sy"),
        dsum0(qi * qi).as("sxx"), dsum0(pc * pc).as("syy"),
        dsum0(qi * pc).as("sxy"))
  }

  private val profileCorrQ = q("q_profile_corr",
    s"""WITH $CorrSumsSql
       SELECT flag, n,
              round((n * sxy - sx * sy) /
                sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr
       FROM a""") { (s, d) =>
    corrSums(s, d).select(col("flag"), col("n"),
      round((col("n") * col("sxy") - col("sx") * col("sy")) /
        sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
          (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("corr"))
  }

  /** Grouped least-squares fit y = slope·x + intercept (y in price
    * cents, x in quantity units) over the SAME exact sums: slope =
    * (n·Σxy − Σx·Σy)/(n·Σx² − Σx²·), intercept = (Σy − slope·Σx)/n —
    * both engines evaluate the identical double expression over
    * identical decimal-exact inputs. The per-group regression audit
    * (pricing curves, drift checks) without any ML dependency.
    */
  private val regressionQ = q("q_regression",
    s"""WITH $CorrSumsSql
       SELECT flag, n,
              round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
              round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6) AS intercept
       FROM a""") { (s, d) =>
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    corrSums(s, d).select(col("flag"), col("n"),
      round(slope, 6).as("slope"),
      round((col("sy") - slope * col("sx")) / col("n"), 6).as("intercept"))
  }

  /** Fixed-width histogram profiling in integer cents: bin width is the
    * integer ⌈(max−min+1)/nBins⌉ and bin assignment (x−min) div w — all
    * BIGINT arithmetic, so bin edges can never flip on a double ulp
    * between engines. Two aggregations (global min/max broadcast back,
    * then the bin count) — the scale shape of every range-bucketing
    * profile at 100 TB.
    */
  private val profileHistQ = q("q_profile_hist",
    """WITH x AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem),
       mm AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM x),
       b AS (SELECT (v - (SELECT lo FROM mm)) //
                    CAST(ceil(((SELECT hi FROM mm) - (SELECT lo FROM mm) + 1) / 20.0) AS BIGINT) AS bin
             FROM x)
       SELECT CAST(bin AS BIGINT) AS bin, CAST(COUNT(*) AS BIGINT) AS n
       FROM b GROUP BY 1""") { (s, d) =>
    val x = Tables.df(s, d, "lineitem")
      .select(round(col("l_extendedprice") * 100).cast("long").as("v"))
    val mm = x.agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    x.crossJoin(broadcast(mm))
      // `div` = BIGINT floor division, the exact mirror of DuckDB's `//`
      .select(expr("(v - lo) div CAST(ceil((hi - lo + 1) / 20.0) AS BIGINT)").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
  }

  private val tokenStatsQ = q("q_token_stats",
    // corpus token-budget stats per source: doc count, total tokens, and
    // exact interpolated median/p95 (Spark `percentile` ⟷ DuckDB
    // `quantile_cont`, both lower+(higher-lower)*frac), rounded to 2dp
    """SELECT source,
              CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
              round(quantile_cont(len(regexp_split_to_array(trim(text), '\s+')), 0.5), 2) AS p50_tokens,
              round(quantile_cont(len(regexp_split_to_array(trim(text), '\s+')), 0.95), 2) AS p95_tokens
       FROM documents GROUP BY source""") { (s, d) =>
    Tables.df(s, d, "documents")
      .select(col("source"), tokenCount(col("text")).as("__n"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__n")).cast("long").as("total_tokens"),
        round(expr("percentile(__n, 0.5)"), 2).as("p50_tokens"),
        round(expr("percentile(__n, 0.95)"), 2).as("p95_tokens"))
  }

  private val samplePerSourceQ = q("q_sample_per_source",
    // stratified deterministic sample: 5 random-but-reproducible docs per
    // source, chosen as the lowest sampling-hash ids — bounded-heap fold,
    // so ≤5 rows per group cross the shuffle
    s"""SELECT source, doc_id FROM documents
       QUALIFY row_number() OVER (PARTITION BY source
         ORDER BY ${OracleSql.lcg31("doc_id")} ASC, doc_id ASC) <= 5""") { (s, d) =>
    import s.implicits._
    Flow(Tables.documents(s, d))
      .map(doc => (doc.source, doc.doc_id))
      .groupBy(_._1)
      .fold(Fold.topBy[(String, Long), (Long, Long)](5)(t =>
        (-Flow.lcg31(t._2), -t._2)))
      .mapcat(p => p._2.map(t => (p._1, t._2)))
      .toDF.toDF("source", "doc_id")
  }

  private val vocabQ = q("q_vocab",
    // tokenizer-vocabulary building: global token frequencies, top 500.
    // Scale shape: partial+final hash agg absorbs hot-word skew map-side,
    // and the ordered limit is a TakeOrderedAndProject, not a full sort
    """WITH w AS (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
                  FROM documents)
       SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM w
       WHERE word <> '' GROUP BY word
       ORDER BY n DESC, word ASC LIMIT 500""") { (s, d) =>
    graft.operators.Vocabulary.vocabulary(Tables.df(s, d, "documents"), "doc_id", "text", 1)
      .orderBy(col("n").desc, col("word").asc).limit(500)
  }

  private val capPerSourceQ = q("q_cap_per_source",
    // "cap docs per domain": keep the 20 largest docs per source. The
    // Spark path is a bounded-heap fold (≤20 rows per group cross the
    // shuffle), NOT a rank window that would sort every row per source
    """SELECT source, doc_id, n_chars FROM documents
       QUALIFY row_number() OVER
         (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) <= 20""") { (s, d) =>
    import s.implicits._
    // project to the (source, doc_id, n_chars) triple BEFORE grouping:
    // typed groupBy blocks column pruning, so folding whole Docs would
    // carry every text payload through the heap buffers and the shuffle
    Flow(Tables.documents(s, d))
      .map(doc => (doc.source, doc.doc_id, doc.n_chars))
      .groupBy(_._1)
      .fold(Fold.topBy[(String, Long, Long), (Long, Long)](20)(t => (t._3, -t._2)))
      .mapcat(p => p._2.map(t => (p._1, t._2, t._3)))
      .toDF.toDF("source", "doc_id", "n_chars")
  }

  private val multimodalMetaQ = q("q_multimodal_meta",
    // media table derived from documents via Multimodal.fromKeyedText
    // (engine-portable id arithmetic + UTF-8 payload bytes): aggregates
    // metadata and payload sizes without any stubbed codec in the path
    """SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
                   WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
              CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(octet_length(encode(text))) AS BIGINT) AS payload_bytes,
              CAST(MAX(64 + (doc_id % 8) * 32) AS INTEGER) AS max_width
       FROM documents GROUP BY 1""") { (s, d) =>
    Multimodal.fromKeyedText(Tables.df(s, d, "documents"), "doc_id", "text")
      .groupBy(col("meta.mediaType").as("media_type"))
      .agg(count(lit(1)).as("n"),
        sum(length(col("payload"))).as("payload_bytes"),
        max(col("meta.width")).as("max_width"))
  }

  /** Per-payload perceptual average-hash — the production
    * [[graft.functions.PhashBytes]] expression is all-integer, so the
    * oracle replays the REAL operator bit for bit (no fixture twin
    * needed, unlike the xxhash dedup families).
    */
  private val phashQ = q("q_phash", bench = true, // headliner: payload-length-sensitive, the len lane's multimodal row
    oracle = s"""WITH ${OracleFixtures.phashSigCtes("documents")}
       SELECT doc_id, sig AS phash FROM sig""") { (s, d) =>
    Multimodal.fromKeyedText(Tables.df(s, d, "documents"), "doc_id", "text")
      .select(col("id").as("doc_id"),
        Multimodal.phash(col("payload"), OracleFixtures.PhBits).as("phash"))
  }

  /** Multimodal payload dedup: perceptual phash signatures Hamming-banded
    * through the SAME chunk-LSH spine as q_dedup_simhash_fixed
    * (Dedup.simhashPairsFromSigs — chunk keys, bucket join,
    * first-agreeing-chunk exact-once filter, exact Hamming verify), over
    * the duplicated-corpus payload bytes. Closes the dedup half of the
    * multimodal boundary without a codec: swap byte stream for decoded
    * pixels in production, everything downstream is unchanged.
    */
  private val dedupMultimodalQ = q("q_dedup_multimodal",
    s"""WITH corpus AS (SELECT doc_id, text FROM documents
                        UNION ALL SELECT doc_id + 10000, text FROM documents),
       ${OracleFixtures.phashSigCtes("corpus")},
       keyed AS (SELECT doc_id, sig, unnest(range(0, ${OracleFixtures.ShChunks})) AS chunk FROM sig),
       pairs AS (
         SELECT l.doc_id AS idA, r.doc_id AS idB, l.sig AS sigA, r.sig AS sigB, l.chunk,
                list_position(list_transform(range(0, ${OracleFixtures.ShChunks}),
                  c -> ${OracleFixtures.shChunkKey("l.sig", "c")} = ${OracleFixtures.shChunkKey("r.sig", "c")}), true) - 1 AS first_agree
         FROM keyed l JOIN keyed r
           ON l.chunk = r.chunk AND ${OracleFixtures.shChunkKey("l.sig", "l.chunk")} = ${OracleFixtures.shChunkKey("r.sig", "r.chunk")}
         WHERE l.doc_id < r.doc_id)
       SELECT idA, idB, CAST(bit_count(xor(sigA, sigB)) AS INTEGER) AS hamming
       FROM pairs
       WHERE chunk = first_agree AND bit_count(xor(sigA, sigB)) <= ${OracleFixtures.ShMaxHamming}""") { (s, d) =>
    val media = Multimodal.fromKeyedText(docsWithDups(s, d), "doc_id", "text")
    Multimodal.payloadNearDuplicates(media, "id", "payload",
      maxHamming = OracleFixtures.ShMaxHamming, bits = OracleFixtures.PhBits)
  }

  /** Per-payload integer audio stats — the production
    * [[graft.functions.AudioStatsBytes]] single-pass kernel (n_samples,
    * Σv² energy, mean-crossing count via sign-of-cross-multiplied
    * comparisons). All-integer, so the oracle replays the REAL operator.
    */
  private val audioEnergyQ = q("q_audio_energy",
    """WITH ab AS (SELECT doc_id, len(text) AS n,
            list_transform(range(1, len(text) + 1),
              i -> CAST(unicode(text[i:i]) AS BIGINT)) AS sv FROM documents),
       at AS (SELECT doc_id, n, sv, list_sum(sv) AS tot FROM ab)
       SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
              CAST(COALESCE(list_sum(list_transform(range(1, n+1), i -> sv[i] * sv[i])), 0) AS BIGINT) AS energy,
              CAST(COALESCE(list_sum(list_transform(range(2, n+1), i ->
                CASE WHEN sign(sv[i]*n - tot) * sign(sv[i-1]*n - tot) = -1 THEN 1 ELSE 0 END)), 0) AS BIGINT) AS mean_crossings
       FROM at""") { (s, d) =>
    Multimodal.fromKeyedText(Tables.df(s, d, "documents"), "doc_id", "text")
      .select(col("id").as("doc_id"),
        graft.functions.HashExpressions.audioStats(col("payload")).as("st"))
      .select(col("doc_id"), col("st.n_samples").as("n_samples"),
        col("st.energy").as("energy"),
        col("st.mean_crossings").as("mean_crossings"))
  }

  /** Per-payload acoustic fingerprint — the production
    * [[graft.functions.AudioFingerprint]] sign-of-delta-frame-energy
    * expression; all-integer, oracle on the REAL arithmetic (the audio
    * analog of q_phash).
    */
  private val audioFingerprintQ = q("q_audio_fingerprint",
    s"""WITH ${OracleFixtures.audioSigCtes("documents")}
       SELECT doc_id, sig AS afp FROM asig""") { (s, d) =>
    Multimodal.fromKeyedText(Tables.df(s, d, "documents"), "doc_id", "text")
      .select(col("id").as("doc_id"),
        Multimodal.audioFingerprint(col("payload"), OracleFixtures.AfBits).as("afp"))
  }

  /** Acoustic payload dedup: audio fingerprints Hamming-banded through
    * the SAME chunk-LSH spine as q_dedup_multimodal
    * (Dedup.simhashPairsFromSigs), over the duplicated-corpus payloads.
    * Scale note: payloads shorter than the frame count leave zero-energy
    * tail frames, so very short rows concentrate in the zero high-chunk
    * bucket — a length-class prefilter is the 100 TB mitigation; at the
    * verified scales the bucket stays O(percent of corpus).
    */
  private val dedupAudioQ = q("q_dedup_audio",
    s"""WITH corpus AS (SELECT doc_id, text FROM documents
                        UNION ALL SELECT doc_id + 10000, text FROM documents),
       ${OracleFixtures.audioSigCtes("corpus")},
       keyed AS (SELECT doc_id, sig, unnest(range(0, ${OracleFixtures.ShChunks})) AS chunk FROM asig),
       pairs AS (
         SELECT l.doc_id AS idA, r.doc_id AS idB, l.sig AS sigA, r.sig AS sigB, l.chunk,
                list_position(list_transform(range(0, ${OracleFixtures.ShChunks}),
                  c -> ${OracleFixtures.shChunkKey("l.sig", "c")} = ${OracleFixtures.shChunkKey("r.sig", "c")}), true) - 1 AS first_agree
         FROM keyed l JOIN keyed r
           ON l.chunk = r.chunk AND ${OracleFixtures.shChunkKey("l.sig", "l.chunk")} = ${OracleFixtures.shChunkKey("r.sig", "r.chunk")}
         WHERE l.doc_id < r.doc_id)
       SELECT idA, idB, CAST(bit_count(xor(sigA, sigB)) AS INTEGER) AS hamming
       FROM pairs
       WHERE chunk = first_agree AND bit_count(xor(sigA, sigB)) <= ${OracleFixtures.ShMaxHamming}""") { (s, d) =>
    val media = Multimodal.fromKeyedText(docsWithDups(s, d), "doc_id", "text")
    Multimodal.audioNearDuplicates(media, "id", "payload",
      maxHamming = OracleFixtures.ShMaxHamming, bits = OracleFixtures.AfBits)
  }

  /** Video keyframe selection: fixed-64-byte frame slices, per-frame
    * perceptual hash ([[graft.queries.OracleFixtures.phashSigCtesKeyed]]
    * replays the production PhashBytes per (doc, frame)), keyframe =
    * first frame or >10 Hamming bits of perceptual motion — the
    * shot-boundary detector over the engine-portable payload fixture.
    */
  private val keyframesQ = q("q_keyframes",
    s"""WITH vf AS (SELECT doc_id, CAST(f AS INTEGER) AS frame_index,
              substr(text, CAST(f AS INTEGER) * 64 + 1, 64) AS text
            FROM documents, UNNEST(range(0, (len(text) + 63) // 64)) AS u(f)),
       ${OracleFixtures.phashSigCtesKeyed("vf", "doc_id, frame_index")},
       lagged AS (SELECT doc_id, frame_index, sig,
           lag(sig) OVER (PARTITION BY doc_id ORDER BY frame_index) AS prev FROM sig)
       SELECT doc_id, frame_index, sig AS fhash,
         CAST(CASE WHEN prev IS NULL THEN -1 ELSE bit_count(xor(sig, prev)) END AS INTEGER) AS hamming_prev,
         CAST(CASE WHEN prev IS NULL OR bit_count(xor(sig, prev)) > 10 THEN 1 ELSE 0 END AS INTEGER) AS keyframe
       FROM lagged""") { (s, d) =>
    Multimodal.keyframes(
      Multimodal.fromKeyedText(Tables.df(s, d, "documents"), "doc_id", "text"),
      "id", "payload", frameBytes = 64, changeBits = 10)
      .withColumnRenamed("id", "doc_id")
  }

  private val normalizeQ = q("q_normalize",
    // explicit Cc ranges (minus \n \t): Java's [..&&[^..]] class
    // intersection is not RE2 syntax, so spell the class out — both
    // engines agree on plain ranges
    """SELECT doc_id,
              trim(regexp_replace(regexp_replace(nfc_normalize(text),
                   '[\x00-\x08\x0B-\x1F\x7F-\x9F]', '', 'g'), '[ \t]+', ' ', 'g')) AS norm
       FROM documents""") { (s, d) =>
    Tables.df(s, d, "documents")
      .select(col("doc_id"), normalizeText(col("text")).as("norm"))
  }

  private val chunkQ = q("q_chunk",
    // 40-token windows, stride 30 (10-token overlap); nw mirrors
    // TextFunctions.tokenChunks incl. the start<n cap and floor of 1
    """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
       n AS (SELECT doc_id, w,
               greatest(least(1 + CAST(ceil(greatest(len(w) - 40, 0) / 30.0) AS INTEGER),
                              CAST(ceil(len(w) / 30.0) AS INTEGER)), 1) AS nw FROM t)
       SELECT doc_id, CAST(i - 1 AS INTEGER) AS chunk_id,
              array_to_string(w[(i-1)*30 + 1 : (i-1)*30 + 40], ' ') AS chunk
       FROM n, UNNEST(range(1, nw + 1)) AS u(i)""") { (s, d) =>
    Tables.df(s, d, "documents")
      .select(col("doc_id"),
        posexplode(tokenChunks(col("text"), size = 40, stride = 30)))
      .withColumnsRenamed(Map("pos" -> "chunk_id", "col" -> "chunk"))
  }

  /** ONE oracle for the backward as-of twins (default/skew-bucket/fast) —
    * DuckDB's NATIVE ASOF JOIN: every event matched to the latest
    * preceding marker (every 10th event) of the same user; ts compared at
    * micro precision (nanos truncate differently per engine).
    */
  private val AsofOracleSql =
    """WITH l AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS tsu FROM events),
       r AS (SELECT user_id, epoch_ns(ts) // 1000 AS mtsu, MAX(event_id) AS marker_id
             FROM events WHERE event_id % 10 = 0 GROUP BY 1, 2)
       SELECT l.event_id, l.user_id, r.marker_id
       FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.mtsu <= l.tsu"""

  private def asofEventsMarkers(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val ev = Tables.eventsNs(s, d)
      .select(col("event_id"), col("user_id"), expr("ts DIV 1000").as("tsu"))
    val markers = ev.where(col("event_id") % 10 === 0)
      .groupBy(col("user_id"), col("tsu").as("mtsu"))
      .agg(max(col("event_id")).as("marker_id"))
    (ev, markers)
  }

  private val asofQ = q("q_asof_join", AsofOracleSql) { (s, d) =>
    val (ev, markers) = asofEventsMarkers(s, d)
    AsofJoin.asof(ev, markers, "user_id", "tsu", "mtsu", Seq("marker_id"))
      .select(col("event_id"), col("user_id"), col("marker_id"))
  }

  /** The single-window fast path ([[AsofJoin.asofSingleWindow]]),
    * oracle-gated on the same SQL as the default: the opt-out for known
    * well-distributed keys must stay result-identical.
    */
  private val asofFastQ = q("q_asof_fast", AsofOracleSql) { (s, d) =>
    val (ev, markers) = asofEventsMarkers(s, d)
    AsofJoin.asofSingleWindow(ev, markers, "user_id", "tsu", "mtsu", Seq("marker_id"))
      .select(col("event_id"), col("user_id"), col("marker_id"))
  }

  private val packQ = q("q_pack",
    // sequence packing: docs concatenated per source in doc_id order,
    // split into 512-token examples; the cumulative-sum-before is pure
    // BIGINT arithmetic, bit-identical across engines
    """WITH t AS (SELECT doc_id, source,
            CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
          FROM documents),
       c AS (SELECT doc_id, source, n_tokens,
            COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
          FROM t)
       SELECT doc_id, source, CAST(bef // 512 AS BIGINT) AS example_id,
              CAST(bef % 512 AS BIGINT) AS offset
       FROM c""") { (s, d) =>
    graft.operators.Packing.packByBudget(
      Tables.df(s, d, "documents")
        .select(col("doc_id"), col("source"),
          tokenCount(col("text")).cast("long").as("n_tokens")),
      "source", "doc_id", "n_tokens", budget = 512L)
      .select(col("doc_id"), col("source"), col("example_id"), col("offset"))
  }

  /** SFT packing with loss masks: documents split into a deterministic
    * (prompt = ⌊n/3⌋, response = n − ⌊n/3⌋) token pair, packed at 512
    * per stream; each doc reports where its response span starts in the
    * packed layout. Pure BIGINT window arithmetic on both engines.
    */
  private val packMaskedQ = q("q_pack_masked",
    """WITH t AS (SELECT doc_id, source,
            CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n
          FROM documents),
       pr AS (SELECT doc_id, source, n // 3 AS p, n - n // 3 AS r FROM t),
       c AS (SELECT doc_id, source, p, r,
            COALESCE(SUM(p + r) OVER (PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
          FROM pr)
       SELECT doc_id, source,
              CAST(bef // 512 AS BIGINT) AS example_id,
              CAST(bef % 512 AS BIGINT) AS offset,
              CAST((bef + p) // 512 AS BIGINT) AS mask_example_id,
              CAST((bef + p) % 512 AS BIGINT) AS mask_offset,
              CAST(r AS BIGINT) AS mask_len
       FROM c""") { (s, d) =>
    val docs = Tables.df(s, d, "documents")
      .select(col("doc_id"), col("source"), tokenCount(col("text")).cast("long").as("n"))
      .withColumn("p", expr("n DIV 3"))
      .withColumn("r", col("n") - col("p"))
    graft.operators.Packing.packWithLossMask(docs, "source", "doc_id", "p", "r", budget = 512L)
      .select(col("doc_id"), col("source"), col("example_id"), col("offset"),
        col("mask_example_id"), col("mask_offset"), col("mask_len"))
  }

  /** Length-bucketed packing — the padding-minimizing inference/training
    * batch prep: quantile-bin documents by token count (so a batch never
    * mixes 10-token and 5000-token docs), then pack each (source, bin)
    * stream independently at the 512-token budget. Buckets come from the
    * sketch-based [[graft.operators.Split.byQuantileApprox]] — the 100 TB
    * path (one streaming cut aggregate + map-side assignment, no global
    * token-count sort); accuracy ≥ n makes it exact-discrete so the whole
    * composition stays behind the hash gate. Token-count ties share a
    * bucket by construction — exactly what length-bucketing wants.
    */
  private val packBucketedQ = q("q_pack_bucketed",
    s"""WITH t AS (SELECT doc_id, source,
            CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
          FROM documents),
       nn AS (SELECT COUNT(*) AS n FROM t),
       r AS (SELECT n_tokens, row_number() OVER (ORDER BY n_tokens) AS rn FROM t),
       cuts AS (SELECT list(n_tokens ORDER BY rn) AS cs FROM r
                WHERE rn IN (SELECT unnest(${graft.operators.Split.approxCutRanksSql("nn.n", 4)}) FROM nn)),
       b AS (SELECT doc_id, source, n_tokens,
               CAST(len(list_filter(cuts.cs, c -> n_tokens > c)) AS INT) AS bin
             FROM t CROSS JOIN cuts),
       c AS (SELECT doc_id, source, bin, n_tokens,
               COALESCE(SUM(n_tokens) OVER (PARTITION BY source, bin ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
             FROM b)
       SELECT doc_id, source, CAST(bin AS BIGINT) AS bin,
              CAST(bef // 512 AS BIGINT) AS example_id,
              CAST(bef % 512 AS BIGINT) AS offset
       FROM c""") { (s, d) =>
    val t = Tables.df(s, d, "documents")
      .select(col("doc_id"), col("source"), tokenCount(col("text")).cast("long").as("n_tokens"))
    val binned = graft.operators.Split.byQuantileApprox(t, "n_tokens", nBins = 4,
        accuracy = 1000000)
      .withColumn("__sb", concat_ws("|", col("source"), col("bin")))
    graft.operators.Packing.packByBudget(binned, "__sb", "doc_id", "n_tokens", budget = 512L)
      .select(col("doc_id"), col("source"), col("bin").cast("long").as("bin"),
        col("example_id"), col("offset"))
  }

  /** Per-source bucketed packing — the q_pack_bucketed composition with
    * PER-GROUP bucket edges (Split.byQuantileApproxBy): each source's
    * documents bucket against that source's own token-count quartiles
    * before packing per (source, bin) at the 512 budget, so one verbose
    * source cannot push every other source's docs into the bottom bins.
    */
  private val packBucketedByQ = q("q_pack_bucketed_by", {
    val psList = (1 until 4).map(_.toDouble / 4).mkString("[", ", ", "]")
    s"""WITH t AS (SELECT doc_id, source,
            CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
          FROM documents),
       r AS (SELECT doc_id, source, n_tokens,
               row_number() OVER (PARTITION BY source ORDER BY n_tokens) AS rn,
               COUNT(*) OVER (PARTITION BY source) AS n
             FROM t),
       ps AS (SELECT unnest($psList) AS p),
       cj AS (SELECT r.source, r.n_tokens, ps.p
              FROM r JOIN ps ON r.rn = CAST(ceil(ps.p * r.n) AS BIGINT)),
       cuts AS (SELECT source, list(n_tokens ORDER BY p) AS cs FROM cj GROUP BY source),
       b AS (SELECT t.doc_id, t.source, t.n_tokens,
               CAST(len(list_filter(cuts.cs, c -> t.n_tokens > c)) AS INT) AS bin
             FROM t JOIN cuts USING (source)),
       c AS (SELECT doc_id, source, bin, n_tokens,
               COALESCE(SUM(n_tokens) OVER (PARTITION BY source, bin ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
             FROM b)
       SELECT doc_id, source, CAST(bin AS BIGINT) AS bin,
              CAST(bef // 512 AS BIGINT) AS example_id,
              CAST(bef % 512 AS BIGINT) AS offset
       FROM c"""}) { (s, d) =>
    val t = Tables.df(s, d, "documents")
      .select(col("doc_id"), col("source"),
        tokenCount(col("text")).cast("long").as("n_tokens"))
    val binned = graft.operators.Split.byQuantileApproxBy(t, "source", "n_tokens",
        nBins = 4, accuracy = 1000000)
      .withColumn("__sb", concat_ws("|", col("source"), col("bin")))
    graft.operators.Packing.packByBudget(binned, "__sb", "doc_id", "n_tokens", budget = 512L)
      .select(col("doc_id"), col("source"), col("bin").cast("long").as("bin"),
        col("example_id"), col("offset"))
  }

  /** Per-SOURCE sketch length-bucketing (Split.byQuantileApproxBy):
    * independent quartile edges per source — the batch-prep shape where
    * a global quantile would let one verbose source claim every top
    * bin. Oracle replays the per-group ⌈p·n_g⌉ rank rule via an unnest
    * join (duplicate cut values preserved per percentile, matching the
    * sketch's array), then the same value-based assignment.
    */
  private val lengthBinsBySourceQ = q("q_length_bins_by_source", {
    val psList = (1 until 4).map(_.toDouble / 4).mkString("[", ", ", "]")
    s"""WITH t AS (SELECT doc_id, source,
            CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
          FROM documents),
       r AS (SELECT doc_id, source, n_tokens,
               row_number() OVER (PARTITION BY source ORDER BY n_tokens) AS rn,
               COUNT(*) OVER (PARTITION BY source) AS n
             FROM t),
       ps AS (SELECT unnest($psList) AS p),
       cj AS (SELECT r.source, r.n_tokens, ps.p
              FROM r JOIN ps ON r.rn = CAST(ceil(ps.p * r.n) AS BIGINT)),
       cuts AS (SELECT source, list(n_tokens ORDER BY p) AS cs FROM cj GROUP BY source)
       SELECT t.doc_id, t.source, t.n_tokens,
              CAST(len(list_filter(cuts.cs, c -> t.n_tokens > c)) AS INT) AS bin
       FROM t JOIN cuts USING (source)"""}) { (s, d) =>
    val t = Tables.df(s, d, "documents")
      .select(col("doc_id"), col("source"),
        tokenCount(col("text")).cast("long").as("n_tokens"))
    graft.operators.Split.byQuantileApproxBy(t, "source", "n_tokens",
      nBins = 4, accuracy = 1000000)
  }

  private val mixtureQ = q("q_mixture",
    // temperature mixing (alpha=0.5): per-source keep-rate ∝ sqrt(share),
    // replayed exactly — sqrt is IEEE-exactly-rounded, weights are
    // integer-scaled before the normalizing sum, and the keep decision
    // is the shared LCG threshold scheme
    s"""WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
       w AS (SELECT source, n,
               CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT) AS w
             FROM c),
       t AS (SELECT SUM(w) AS sumw, SUM(n) AS total FROM w),
       r AS (SELECT source,
               CAST(floor(least(1.0,
                 (CAST(w AS DOUBLE) / CAST(sumw AS DOUBLE))
                   * (CAST(total AS DOUBLE) * 0.5) / CAST(n AS DOUBLE))
                 * 2147483648.0) AS BIGINT) AS thr
             FROM w CROSS JOIN t)
       SELECT d.doc_id, d.source FROM documents d JOIN r USING (source)
       WHERE ${OracleSql.lcg31("d.doc_id")} < r.thr""") { (s, d) =>
    graft.operators.Mixture.sqrtMixtureSample(
      Tables.df(s, d, "documents"), "source", "doc_id", targetFraction = 0.5)
      .select(col("doc_id"), col("source"))
  }

  /** Token-budget temperature mixing — [[mixtureQ]]'s production twin:
    * source mass is the TOKEN sum (a source of few huge documents
    * outweighs one of many tiny ones), rates ∝ sqrt(token share), the
    * keep decision the same per-row LCG threshold. Expected kept TOKEN
    * mass per source = 0.5·total·sqrt-share. Fully hash-replayed: token
    * counts are the integer whitespace tokenization both engines share
    * (q_token_count), sqrt is IEEE-exactly-rounded, weights
    * integer-scale before the normalizing sum.
    */
  private val mixtureTokensQ = q("q_mixture_tokens",
    s"""WITH c AS (SELECT source,
                SUM(len(regexp_split_to_array(trim(text), '\\s+'))) AS n
              FROM documents GROUP BY 1),
       w AS (SELECT source, n,
               CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT) AS w
             FROM c),
       t AS (SELECT SUM(w) AS sumw, SUM(n) AS total FROM w),
       r AS (SELECT source,
               CAST(floor(least(1.0,
                 (CAST(w AS DOUBLE) / CAST(sumw AS DOUBLE))
                   * (CAST(total AS DOUBLE) * 0.5) / CAST(n AS DOUBLE))
                 * 2147483648.0) AS BIGINT) AS thr
             FROM w CROSS JOIN t)
       SELECT d.doc_id, d.source FROM documents d JOIN r USING (source)
       WHERE ${OracleSql.lcg31("d.doc_id")} < r.thr""") { (s, d) =>
    val docs = Tables.df(s, d, "documents")
    graft.operators.Mixture.applyRates(docs, "source", "doc_id",
      graft.operators.Mixture.sqrtMixtureRatesBy(
        docs, "source", tokenCount(col("text")).cast("long"), targetFraction = 0.5))
      .select(col("doc_id"), col("source"))
  }

  // ---- UniMax budget-capped mixture (Chung et al. 2023): quotas spend
  // the budget uniformly across sources except nothing repeats more than
  // E epochs. Sources are a synthetic power-law tiering of documents
  // (tier k holds ~2^k of every 255 ids) so the cap actually binds;
  // budget = 150% of the corpus, E = 4.

  private val UnimaxE = 4L

  /** Shared quota CTEs — the SQL twin of [[graft.operators.Mixture.unimaxQuotas]]'
    * closed-form window math (ascending sizes; capped iff the full n·E
    * fits the fair share at its turn; uncapped sources split the
    * remainder with floor division).
    */
  private def unimaxQuotaCtesWith(nExpr: String): String =
    s"""src AS (SELECT doc_id, text, 't' || len(bin(1 + (doc_id % 255))) AS source FROM documents),
       cnt AS (SELECT source, $nExpr AS n FROM src GROUP BY 1),
       rk AS (SELECT source, n,
                row_number() OVER (ORDER BY n ASC, source ASC) AS j,
                COALESCE(SUM(n) OVER (ORDER BY n ASC, source ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix,
                SUM(n) OVER () AS total,
                COUNT(*) OVER () AS m
              FROM cnt),
       fl AS (SELECT *, (total * 3) // 2 AS b,
                (n * $UnimaxE * (m - j + 1) + $UnimaxE * prefix <= (total * 3) // 2) AS capped
              FROM rk),
       ct AS (SELECT COALESCE(SUM(CASE WHEN capped THEN n END), 0) AS pk,
                     COALESCE(SUM(CASE WHEN capped THEN 1 END), 0) AS k
              FROM fl),
       qt AS (SELECT source, n,
                CASE WHEN capped THEN n * $UnimaxE
                     ELSE (b - $UnimaxE * pk) // (m - k) END AS quota
              FROM fl, ct)"""

  private val UnimaxQuotaCtes = unimaxQuotaCtesWith("COUNT(*)")

  private def unimaxDocs(s: SparkSession, d: String): DataFrame =
    Tables.df(s, d, "documents").select(col("doc_id"),
      concat(lit("t"),
        length(bin(pmod(col("doc_id"), lit(255)) + 1)).cast("string")).as("source"))

  /** Per-source UniMax quota table (source, n, quota) — all BIGINT. */
  private val mixtureUnimaxQ = q("q_mixture_unimax",
    s"""WITH $UnimaxQuotaCtes
       SELECT source, CAST(n AS BIGINT) AS n, CAST(quota AS BIGINT) AS quota
       FROM qt""") { (s, d) =>
    graft.operators.Mixture.unimaxQuotas(unimaxDocs(s, d), "source",
      budgetNum = 3, budgetDen = 2, maxEpochs = UnimaxE.toInt)
  }

  /** UniMax quotas over TOKEN mass — the paper's actual budget unit
    * (Chung et al. 2023 define n_l as per-language token counts): the
    * same closed-form window math with `n` = Σ whitespace tokens per
    * source. Fully hash-replayed (integer token counts, integer quota
    * arithmetic). `unimaxApply` spends a token quota unchanged: full
    * epochs repeat rows, the partial epoch's hash-slice carries the
    * residual mass in expectation.
    */
  private val mixtureUnimaxTokensQ = q("q_mixture_unimax_tokens",
    s"""WITH ${unimaxQuotaCtesWith("SUM(len(regexp_split_to_array(trim(text), '\\s+')))")}
       SELECT source, CAST(n AS BIGINT) AS n, CAST(quota AS BIGINT) AS quota
       FROM qt""") { (s, d) =>
    val docs = Tables.df(s, d, "documents").select(col("doc_id"), col("text"),
      concat(lit("t"),
        length(bin(pmod(col("doc_id"), lit(255)) + 1)).cast("string")).as("source"))
    graft.operators.Mixture.unimaxQuotasBy(docs, "source",
      tokenCount(col("text")).cast("long"),
      budgetNum = 3, budgetDen = 2, maxEpochs = UnimaxE.toInt)
  }

  /** Materialized UniMax plan: (doc_id, source, epoch) — ⌊quota/n⌋ full
    * epochs per row plus the LCG-thresholded partial epoch (up-sampling
    * small sources, down-sampling the big ones; deterministic, so the
    * whole repeated corpus hash-oracles).
    */
  private val mixtureUnimaxApplyQ = q("q_mixture_unimax_apply",
    s"""WITH $UnimaxQuotaCtes,
       j AS (SELECT s.doc_id, s.source,
                    qt.quota // qt.n AS fe,
                    ((qt.quota % qt.n) * 2147483648) // qt.n AS thr
             FROM src s JOIN qt USING (source)),
       k AS (SELECT doc_id, source,
                    fe + CASE WHEN ${OracleSql.lcg31("doc_id")} < thr
                         THEN 1 ELSE 0 END AS reps
             FROM j)
       SELECT doc_id, source,
              CAST(unnest(range(0, CAST(reps AS BIGINT))) AS BIGINT) AS epoch
       FROM k WHERE reps > 0""") { (s, d) =>
    val docs = unimaxDocs(s, d)
    graft.operators.Mixture.unimaxApply(docs, "source", "doc_id",
      graft.operators.Mixture.unimaxQuotas(docs, "source",
        budgetNum = 3, budgetDen = 2, maxEpochs = UnimaxE.toInt))
  }

  /** Curriculum selection by multi-signal rank fusion — the composition
    * query tying the eval and curation lanes together: per source, fuse
    * the quality ranking (shared QualityDocsSql arithmetic) with a
    * target-length ranking (|n_chars − 300| ascending) via integer
    * fixed-point RRF and keep the top-5 fused docs. No score calibration
    * across heterogeneous signals — exactly RRF's job.
    */
  private val curriculumFusedQ = q("q_curriculum_fused",
    raw"""WITH qd AS ($QualityDocsSql),
       d2 AS (SELECT d.doc_id, d.source, qd.quality, abs(d.n_chars - 300) AS dist
              FROM documents d JOIN qd ON d.doc_id = qd.doc_id),
       r1 AS (SELECT source, doc_id, row_number() OVER (PARTITION BY source
                ORDER BY quality DESC, doc_id ASC) AS rk FROM d2),
       r2 AS (SELECT source, doc_id, row_number() OVER (PARTITION BY source
                ORDER BY dist ASC, doc_id ASC) AS rk FROM d2),
       u AS (SELECT * FROM r1 WHERE rk <= 10
             UNION ALL SELECT * FROM r2 WHERE rk <= 10),
       f AS (SELECT source, doc_id, SUM(1000000000000 // (60 + rk)) AS rrf_score
             FROM u GROUP BY 1, 2),
       rr AS (SELECT source, doc_id, CAST(rrf_score AS BIGINT) AS rrf_score,
                row_number() OVER (PARTITION BY source
                  ORDER BY rrf_score DESC, doc_id ASC) AS fused_rank
              FROM f)
       SELECT source, doc_id, rrf_score, CAST(fused_rank AS BIGINT) AS fused_rank
       FROM rr WHERE fused_rank <= 5""") { (s, d) =>
    val docs = Tables.df(s, d, "documents")
      .withColumn("quality", qualityScore(col("text")))
      .withColumn("dist", abs(col("n_chars") - 300))
    // ONE corpus pass: both per-source top-10 heaps ride a single bounded
    // aggregate (k rows per source to the shuffle) — the rank-window form
    // scanned the corpus twice (regex quality recomputed per branch) and
    // sorted whole source partitions in single tasks. Both heaps unpack in
    // one indexed-transform explode, so the aggregate has exactly one
    // consumer (no re-execution, no checkpoint needed).
    val heaps = docs.groupBy(col("source")).agg(
      graft.functions.AggExpressions.bottomK(
        struct((-col("quality")).as("nq"), col("doc_id")), 10).as("__hq"),
      graft.functions.AggExpressions.bottomK(
        struct(col("dist").as("dd"), col("doc_id")), 10).as("__hd"))
    def ranksOf(h: String) = transform(col(h), (x, i) =>
      struct((i + 1).cast("int").as("rk"), x.getField("doc_id").as("doc_id")))
    val u = heaps
      .select(col("source"), explode(concat(ranksOf("__hq"), ranksOf("__hd"))).as("e"))
      .select(col("source"), col("e.doc_id").as("doc_id"), col("e.rk").as("rk"))
    graft.operators.Retrieval.reciprocalRankFusion(
      u, "source", "doc_id", "rk", topK = 5, k = 60L)
  }

  /** Shared scored-candidate CTE for the preference queries: customers'
    * orders with integer-cents scores (decimal-exact in both engines).
    */
  private val PrefCandCtes =
    """c AS (SELECT o_custkey AS q, o_orderkey AS cand,
              CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS s
            FROM orders)"""

  private def prefCands(s: SparkSession, d: String): DataFrame =
    Tables.df(s, d, "orders").select(
      col("o_custkey").as("q"), col("o_orderkey").as("cand"),
      (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("s"))

  /** DPO preference pairs: per customer the max-margin (chosen, rejected)
    * order pair at a $1000 minimum score gap
    * ([[graft.operators.Preference.preferencePairs]]).
    */
  private val dpoPairsQ = q("q_dpo_pairs",
    s"""WITH $PrefCandCtes,
       r AS (SELECT *, row_number() OVER (PARTITION BY q ORDER BY s DESC, cand ASC) AS rt,
                    row_number() OVER (PARTITION BY q ORDER BY s ASC, cand ASC) AS rb
             FROM c),
       t AS (SELECT q, cand AS chosen, s AS score_chosen FROM r WHERE rt = 1),
       b AS (SELECT q, cand AS rejected, s AS score_rejected FROM r WHERE rb = 1)
       SELECT t.q, chosen, score_chosen, rejected, score_rejected,
              score_chosen - score_rejected AS margin
       FROM t JOIN b ON t.q = b.q
       WHERE chosen <> rejected AND score_chosen - score_rejected >= 100000""") { (s, d) =>
    graft.operators.Preference.preferencePairs(prefCands(s, d),
      "q", "cand", "s", "cand", minMargin = 100000L)
  }

  /** Deterministic contrastive negatives: 4 LCG-drawn pool items per
    * (customer, top-order) positive, accidental-positive draws dropped
    * ([[graft.operators.Preference.negativeSample]]).
    */
  private val negativesQ = q("q_negatives",
    s"""WITH $PrefCandCtes,
       r AS (SELECT q, cand, row_number() OVER (PARTITION BY q ORDER BY s DESC, cand ASC) AS rt FROM c),
       p AS (SELECT q, cand AS pos FROM r WHERE rt = 1),
       pool AS (SELECT item, row_number() OVER (ORDER BY item) - 1 AS idx
                FROM (SELECT DISTINCT o_orderkey AS item FROM orders)),
       nn AS (SELECT COUNT(*) AS n FROM pool),
       d AS (SELECT q, pos, unnest(range(0, 4)) AS j FROM p),
       dd AS (SELECT q, pos, j,
                ${OracleSql.lcg31("(q * 16 + j)")} % (SELECT n FROM nn) AS idx
              FROM d)
       SELECT q, pos, CAST(j AS BIGINT) AS j, item AS negative
       FROM dd JOIN pool USING (idx) WHERE item <> pos""") { (s, d) =>
    val cands = prefCands(s, d)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q")).orderBy(col("s").desc, col("cand").asc)
    val positives = cands.withColumn("__rt", row_number().over(w))
      .where(col("__rt") === 1).select(col("q"), col("cand").as("pos"))
    graft.operators.Preference.negativeSample(positives, "q", "pos",
      Tables.df(s, d, "orders").select(col("o_orderkey")), "o_orderkey", k = 4)
  }

  /** Ordered funnel over the events stream: signup → view → click →
    * purchase, each stage's earliest completion AT OR AFTER the previous
    * stage's (Sessions.funnelStages — one MIN aggregate per stage, all
    * keyed by user, no windows). Nanos timestamps, integer end to end.
    */
  private val funnelQ = q("q_funnel",
    """WITH e AS (SELECT user_id, epoch_ns(ts) AS tsn,
            CASE event_type WHEN 'signup' THEN 0 WHEN 'view' THEN 1
                 WHEN 'click' THEN 2 WHEN 'purchase' THEN 3 END AS st
          FROM events WHERE event_type <> 'error'),
       s0 AS (SELECT user_id, MIN(tsn) AS t_stage_0 FROM e WHERE st = 0 GROUP BY 1),
       s1 AS (SELECT e.user_id, MIN(tsn) AS t_stage_1 FROM e JOIN s0 USING (user_id)
              WHERE st = 1 AND tsn >= t_stage_0 GROUP BY 1),
       s2 AS (SELECT e.user_id, MIN(tsn) AS t_stage_2 FROM e JOIN s1 USING (user_id)
              WHERE st = 2 AND tsn >= t_stage_1 GROUP BY 1),
       s3 AS (SELECT e.user_id, MIN(tsn) AS t_stage_3 FROM e JOIN s2 USING (user_id)
              WHERE st = 3 AND tsn >= t_stage_2 GROUP BY 1)
       SELECT s0.user_id, t_stage_0, t_stage_1, t_stage_2, t_stage_3
       FROM s0 LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
       LEFT JOIN s3 USING (user_id)""") { (s, d) =>
    val ev = Tables.eventsNs(s, d)
      .where(col("event_type") =!= "error")
      .select(col("user_id"), col("ts"),
        when(col("event_type") === "signup", 0)
          .when(col("event_type") === "view", 1)
          .when(col("event_type") === "click", 2)
          .when(col("event_type") === "purchase", 3).as("st"))
    graft.operators.Sessions.funnelStages(ev, "user_id", "ts", "st", nStages = 4)
  }

  /** One-row funnel conversion rollup: users reaching each stage plus
    * stepwise and end-to-end conversion (single divisions of exact
    * counts).
    */
  private val funnelAggQ = q("q_funnel_agg",
    """WITH e AS (SELECT user_id, epoch_ns(ts) AS tsn,
            CASE event_type WHEN 'signup' THEN 0 WHEN 'view' THEN 1
                 WHEN 'click' THEN 2 WHEN 'purchase' THEN 3 END AS st
          FROM events WHERE event_type <> 'error'),
       s0 AS (SELECT user_id, MIN(tsn) AS t0 FROM e WHERE st = 0 GROUP BY 1),
       s1 AS (SELECT e.user_id, MIN(tsn) AS t1 FROM e JOIN s0 USING (user_id)
              WHERE st = 1 AND tsn >= t0 GROUP BY 1),
       s2 AS (SELECT e.user_id, MIN(tsn) AS t2 FROM e JOIN s1 USING (user_id)
              WHERE st = 2 AND tsn >= t1 GROUP BY 1),
       s3 AS (SELECT e.user_id, MIN(tsn) AS t3 FROM e JOIN s2 USING (user_id)
              WHERE st = 3 AND tsn >= t2 GROUP BY 1)
       SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM s0) AS n_stage_0,
              (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n_stage_1,
              (SELECT CAST(COUNT(*) AS BIGINT) FROM s2) AS n_stage_2,
              (SELECT CAST(COUNT(*) AS BIGINT) FROM s3) AS n_stage_3,
              round(CAST((SELECT COUNT(*) FROM s3) AS DOUBLE)
                    / (SELECT COUNT(*) FROM s0), 6) AS conversion""") { (s, d) =>
    val ev = Tables.eventsNs(s, d)
      .where(col("event_type") =!= "error")
      .select(col("user_id"), col("ts"),
        when(col("event_type") === "signup", 0)
          .when(col("event_type") === "view", 1)
          .when(col("event_type") === "click", 2)
          .when(col("event_type") === "purchase", 3).as("st"))
    val f = graft.operators.Sessions.funnelStages(ev, "user_id", "ts", "st", nStages = 4)
    f.agg(
      count(col("t_stage_0")).cast("long").as("n_stage_0"),
      count(col("t_stage_1")).cast("long").as("n_stage_1"),
      count(col("t_stage_2")).cast("long").as("n_stage_2"),
      count(col("t_stage_3")).cast("long").as("n_stage_3"))
      .withColumn("conversion",
        round(col("n_stage_3").cast("double") / col("n_stage_0"), 6))
  }

  /** Weekly cohort retention matrix over events: users bucketed by
    * first-activity week, counted in every later week they appear
    * (Sessions.cohortRetention — integer floor-division periods).
    */
  private val retentionQ = q("q_retention",
    """WITH p AS (SELECT DISTINCT user_id, epoch_ns(ts) // 604800000000000 AS p FROM events),
       f AS (SELECT user_id, MIN(p) AS cohort FROM p GROUP BY 1)
       SELECT cohort, p.p - cohort AS period_offset,
              CAST(COUNT(*) AS BIGINT) AS n_active
       FROM p JOIN f USING (user_id) GROUP BY 1, 2""") { (s, d) =>
    graft.operators.Sessions.cohortRetention(
      Tables.eventsNs(s, d), "user_id", "ts", bucket = 604800000000000L)
  }

  /** Same relation as q_asof_join (same DuckDB native-ASOF oracle) through
    * the skew-safe two-phase operator: per-(user, 6-hour-bucket) running
    * match + bucket-boundary carry — identical answers without the
    * hot-key single-task sort.
    */
  private val asofSkewQ = q("q_asof_skew", AsofOracleSql) { (s, d) =>
    val (ev, markers) = asofEventsMarkers(s, d)
    AsofJoin.asofSkewSafe(ev, markers, "user_id", "tsu", "mtsu", Seq("marker_id"),
      bucket = 21600000000L) // 6 h of micros — narrower than the default's auto width
      .select(col("event_id"), col("user_id"), col("marker_id"))
  }

  private val asofForwardQ = q("q_asof_forward",
    // forward as-of: every event matched to the EARLIEST marker at or
    // after it (DuckDB native ASOF with the inequality flipped)
    """WITH l AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS tsu FROM events),
       r AS (SELECT user_id, epoch_ns(ts) // 1000 AS mtsu, MAX(event_id) AS marker_id
             FROM events WHERE event_id % 10 = 0 GROUP BY 1, 2)
       SELECT l.event_id, l.user_id, r.marker_id
       FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.mtsu >= l.tsu""") { (s, d) =>
    val ev = Tables.eventsNs(s, d)
      .select(col("event_id"), col("user_id"), expr("ts DIV 1000").as("tsu"))
    val markers = ev.where(col("event_id") % 10 === 0)
      .groupBy(col("user_id"), col("tsu").as("mtsu"))
      .agg(max(col("event_id")).as("marker_id"))
    AsofJoin.asof(ev, markers, "user_id", "tsu", "mtsu", Seq("marker_id"),
      direction = "forward")
      .select(col("event_id"), col("user_id"), col("marker_id"))
  }

  private val asofToleranceQ = q("q_asof_tolerance",
    // backward as-of with a 60-second tolerance: matches further than
    // 60s behind the event null out (pandas merge_asof tolerance)
    """WITH l AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS tsu FROM events),
       r AS (SELECT user_id, epoch_ns(ts) // 1000 AS mtsu, MAX(event_id) AS marker_id
             FROM events WHERE event_id % 10 = 0 GROUP BY 1, 2)
       SELECT l.event_id, l.user_id,
              CASE WHEN l.tsu - r.mtsu <= 60000000 THEN r.marker_id END AS marker_id
       FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.mtsu <= l.tsu""") { (s, d) =>
    val ev = Tables.eventsNs(s, d)
      .select(col("event_id"), col("user_id"), expr("ts DIV 1000").as("tsu"))
    val markers = ev.where(col("event_id") % 10 === 0)
      .groupBy(col("user_id"), col("tsu").as("mtsu"))
      .agg(max(col("event_id")).as("marker_id"))
    AsofJoin.asof(ev, markers, "user_id", "tsu", "mtsu", Seq("marker_id"),
      tolerance = Some(60000000L))
      .select(col("event_id"), col("user_id"), col("marker_id"))
  }

  private val rangeJoinQ = q("q_range_join",
    // binned range join vs a plain BETWEEN join: every event paired with
    // each 60s marker window containing it (micro-precision ts)
    """WITH p AS (SELECT event_id, epoch_ns(ts) // 1000 AS tsu FROM events),
       i AS (SELECT event_id AS interval_id, epoch_ns(ts) // 1000 AS lo,
                    epoch_ns(ts) // 1000 + 60000000 AS hi
             FROM events WHERE event_id % 100 = 0)
       SELECT p.event_id, i.interval_id
       FROM p JOIN i ON p.tsu BETWEEN i.lo AND i.hi""") { (s, d) =>
    val ev = Tables.eventsNs(s, d)
      .select(col("event_id"), expr("ts DIV 1000").as("tsu"))
    val iv = ev.where(col("event_id") % 100 === 0)
      .select(col("event_id").as("interval_id"), col("tsu").as("lo"),
        (col("tsu") + 60000000L).as("hi"))
    RangeJoin.pointInInterval(ev, "tsu", iv, "lo", "hi", binWidth = 60000000L)
      .select(col("event_id"), col("interval_id"))
  }

  /** Interval-overlap join (span-conflict shape): two derived interval
    * sets over the events timeline, paired iff they overlap — the binned
    * emit-at-first-shared-bin formulation vs the oracle's plain
    * inequality join. Deterministic derivation (event_id arithmetic), so
    * the pair set hash-compares.
    */
  private val intervalOverlapQ = q("q_interval_overlap",
    """WITH a AS (SELECT event_id AS a_id, epoch_ns(ts) // 1000 AS a_lo,
                         epoch_ns(ts) // 1000 + 7200000000 AS a_hi
                  FROM events WHERE event_id % 100 = 0),
       b AS (SELECT event_id AS b_id, epoch_ns(ts) // 1000 AS b_lo,
                    epoch_ns(ts) // 1000 + 3600000000 AS b_hi
             FROM events WHERE event_id % 100 = 5)
       SELECT a_id, b_id FROM a JOIN b ON a_lo <= b_hi AND b_lo <= a_hi""") { (s, d) =>
    val ev = Tables.eventsNs(s, d)
      .select(col("event_id"), expr("ts DIV 1000").as("tsu"))
    val a = ev.where(col("event_id") % 100 === 0)
      .select(col("event_id").as("a_id"), col("tsu").as("a_lo"),
        (col("tsu") + 7200000000L).as("a_hi"))
    val b = ev.where(col("event_id") % 100 === 5)
      .select(col("event_id").as("b_id"), col("tsu").as("b_lo"),
        (col("tsu") + 3600000000L).as("b_hi"))
    // binWidth near the typical interval width (the scaladoc dial): 1h
    // bins keep the 1-2h intervals in 2-3 bins each; the exactly-once
    // emission under binWidth << width is what the property test stresses
    RangeJoin.intervalOverlap(a, "a_lo", "a_hi", b, "b_lo", "b_hi",
      binWidth = 3600000000L)
      .select(col("a_id"), col("b_id"))
  }

  /** ONE oracle for all three sessionize twins (default/skew-bucket/fast):
    * the operator variants are result-identical by contract, so they must
    * all hash-match the same SQL.
    */
  /** Per-event session rows (`s`: user_id, tns, event_id, session_id) —
    * shared by the sessionize aggregate oracle and the attribution join.
    */
  private val SessionRowCtes =
    """e AS (
         SELECT user_id, epoch_ns(ts) AS tns, event_id,
                CASE WHEN epoch_ns(ts) - lag(epoch_ns(ts)) OVER w > 1800000000000 THEN 1 ELSE 0 END AS brk
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       s AS (
         SELECT user_id, tns, event_id,
                SUM(brk) OVER (PARTITION BY user_id ORDER BY tns, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
         FROM e)"""

  private val SessionizeOracleSql =
    s"""WITH $SessionRowCtes
       SELECT user_id AS key, CAST(session_id AS BIGINT) AS session_id,
              MIN(tns) // 1000 AS start_us, MAX(tns) // 1000 AS end_us,
              CAST(COUNT(*) AS BIGINT) AS n_events
       FROM s GROUP BY 1, 2"""

  private def sessionizeOut(df: DataFrame): DataFrame =
    // compare at micro precision: DuckDB reads TIMESTAMP(NANOS) truncated
    // to micros, Spark (nanosAsLong) keeps full nanos
    df.select(col("key"), col("session_id"),
      expr("start_ts DIV 1000").as("start_us"),
      expr("end_ts DIV 1000").as("end_us"), col("n_events"))

  /** Same relation as q_sessionize through the skew-safe two-phase
    * operator with an EXPLICIT narrow bucket (6 h — many boundary merges
    * at this gap), stressing the merge pass harder than the default's
    * auto-width.
    */
  private val sessionizeSkewQ = q("q_sessionize_skew", SessionizeOracleSql) { (s, d) =>
    sessionizeOut(Sessions.batchSkewSafe(Tables.eventsNs(s, d),
      col("user_id"), col("ts"), col("event_id"),
      gap = 1800000000000L, bucket = 21600000000000L))
  }

  /** The minimal-plan single-window fast path ([[Sessions.batchSingleWindow]]),
    * oracle-gated on the same SQL: the opt-out users take for known
    * well-distributed keys must stay result-identical to the default.
    */
  private val sessionizeFastQ = q("q_sessionize_fast", SessionizeOracleSql) { (s, d) =>
    sessionizeOut(Sessions.batchSingleWindow(Tables.eventsNs(s, d),
      col("user_id"), col("ts"), col("event_id"), gap = 1800000000000L))
  }

  /** Session attribution: every event joined to ITS session — composed
    * as Sessions.batch + a backward AS-OF on the session start (sessions
    * never overlap and every event lies in one, so "last session starting
    * at or before ts" is exact), which keeps attribution LINEAR (one
    * asof shuffle) instead of the |events_u| x |sessions_u| equi-join +
    * range-filter a naive formulation pays per user. The oracle reuses
    * the shared per-event session rows.
    */
  private val sessionAttributionQ = q("q_session_attribution",
    s"""WITH $SessionRowCtes,
       sess AS (SELECT user_id, session_id, MIN(tns) AS st,
                  CAST(COUNT(*) AS BIGINT) AS n_events
                FROM s GROUP BY 1, 2)
       SELECT s.event_id, s.user_id, CAST(s.session_id AS BIGINT) AS session_id,
              sess.st // 1000 AS start_us, sess.n_events
       FROM s JOIN sess ON s.user_id = sess.user_id AND s.session_id = sess.session_id""") { (s, d) =>
    val ev = Tables.eventsNs(s, d)
    val sessions = Sessions.batch(ev, col("user_id"), col("ts"), col("event_id"),
        gap = 1800000000000L)
      .select(col("key").as("user_id"), col("session_id"),
        col("start_ts"), col("start_ts").as("sess_start"), col("n_events"))
    graft.operators.AsofJoin.asof(
      ev.select("event_id", "user_id", "ts"), sessions,
      "user_id", "ts", "start_ts",
      payload = Seq("session_id", "sess_start", "n_events"))
      .select(col("event_id"), col("user_id"), col("session_id"),
        expr("sess_start DIV 1000").as("start_us"), col("n_events"))
  }

  // 30-minute gap sessionization over the events stream table (ts is
  // nanos-since-epoch) through the DEFAULT (skew-safe) path
  private val sessionizeQ = qb("q_sessionize", SessionizeOracleSql) { (s, d) =>
    sessionizeOut(Sessions.batch(Tables.eventsNs(s, d),
      col("user_id"), col("ts"), col("event_id"), gap = 1800000000000L))
  }

  /** Shared SQL fragment: per-doc word 2-grams with the same short-text
    * fallback as [[graft.functions.TextFunctions.wordShingles]] (a doc
    * with <n tokens contributes its whole text as one shingle).
    */
  private def gramsSql(n: Int): String = {
    val last = n - 1
    raw"""SELECT doc_id, unnest(
            CASE WHEN len(w) < $n THEN [array_to_string(w, ' ')]
                 ELSE list_transform(range(1, len(w) - $last + 1),
                        i -> array_to_string(w[i:i+$last], ' ')) END) AS g
          FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                FROM documents)"""
  }

  /** Gopher-style repetition metrics, one row per doc: duplicate-word
    * fraction (pure map-side column), top-2-gram fraction and
    * duplicate-2-gram fraction (word-count-shaped explode + two-level
    * aggregate — the heavy lifting is a hash aggregate keyed by
    * (doc, gram), the canonical scalable shape, never a per-row
    * quadratic scan of the doc).
    */
  private val repetitionQ = q("q_repetition",
    raw"""WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
       cnt AS (SELECT doc_id, g, COUNT(*) AS c FROM (${gramsSql(2)}) grams GROUP BY 1, 2),
       agg AS (SELECT doc_id,
                 round(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top2_frac,
                 round(1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(c), 6) AS dup2_frac
               FROM cnt GROUP BY 1),
       wf AS (SELECT doc_id,
                round(1.0 - CAST(len(list_distinct(w)) AS DOUBLE)
                        / greatest(len(w), 1), 6) AS dup_word_frac
              FROM toks)
       SELECT wf.doc_id, dup_word_frac, top2_frac, dup2_frac
       FROM wf JOIN agg USING (doc_id)""") { (s, d) =>
    val docs = Tables.df(s, d, "documents")
    val wf = docs.select(col("doc_id"), dupWordFraction(col("text")).as("dup_word_frac"))
    // hashed gram identities with duplicates kept (ngramHashesAll): the
    // occurrence counts only need identity, so no 2-gram strings are
    // built or shuffled
    val agg = docs
      .select(col("doc_id"), explode(graft.functions.HashExpressions.ngramHashesAll(
        graft.functions.TextFunctions.tokens(col("text")), 2)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(round(max("c").cast("double") / sum("c"), 6).as("top2_frac"),
        round(lit(1.0) - count(lit(1)).cast("double") / sum("c"), 6).as("dup2_frac"))
    wf.join(agg, "doc_id")
  }

  /** The rest of the Gopher repetition family (Rae et al. 2021, Table A1):
    * top-n-gram fraction and duplicated-n-gram fraction for n = 3, 4, 5 —
    * one row per (doc, n). ONE pass over the corpus: each doc's token
    * array expands to (n, gram-hash) pairs for all three n's in a single
    * explode (no gram strings are built or shuffled — hashed identities
    * only), then the same two-level hash aggregate as q_repetition. At
    * 100 TB this is one narrow gram stage + one shuffle keyed by
    * (doc, n, gram), never three corpus scans.
    */
  private val repetitionNgramsQ = q("q_repetition_ngrams",
    raw"""WITH cnt AS (
         SELECT doc_id, n, g, COUNT(*) AS c FROM (
           SELECT doc_id, 3 AS n, g FROM (${gramsSql(3)}) g3
           UNION ALL SELECT doc_id, 4 AS n, g FROM (${gramsSql(4)}) g4
           UNION ALL SELECT doc_id, 5 AS n, g FROM (${gramsSql(5)}) g5
         ) u GROUP BY 1, 2, 3)
       SELECT doc_id, n,
              round(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_frac,
              round(1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(c), 6) AS dup_frac
       FROM cnt GROUP BY 1, 2""") { (s, d) =>
    val toks = graft.functions.TextFunctions.tokens(col("text"))
    def tagged(n: Int) = transform(
      graft.functions.HashExpressions.ngramHashesAll(toks, n),
      g => struct(lit(n).as("n"), g.as("g")))
    Tables.df(s, d, "documents")
      .select(col("doc_id"),
        explode(flatten(array(tagged(3), tagged(4), tagged(5)))).as("t"))
      .select(col("doc_id"), col("t.n").as("n"), col("t.g").as("g"))
      .groupBy("doc_id", "n", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id", "n")
      .agg(round(max("c").cast("double") / sum("c"), 6).as("top_frac"),
        round(lit(1.0) - count(lit(1)).cast("double") / sum("c"), 6).as("dup_frac"))
  }

  /** Benchmark decontamination: docs whose id is a multiple of 50 stand in
    * as the held-out benchmark; every other doc gets the containment of
    * its distinct 3-gram set in the pooled benchmark 3-grams.
    */
  private val contaminationQ = q("q_contamination",
    raw"""WITH grams AS (SELECT DISTINCT doc_id, g FROM (${gramsSql(3)}) g0),
       pool AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
       corpus AS (SELECT * FROM grams WHERE doc_id % 50 <> 0),
       tot AS (SELECT doc_id, COUNT(*) AS n FROM corpus GROUP BY 1),
       hit AS (SELECT doc_id, COUNT(*) AS h FROM corpus JOIN pool USING (g) GROUP BY 1)
       SELECT tot.doc_id,
              round(CAST(coalesce(h, 0) AS DOUBLE) / n, 6) AS contamination
       FROM tot LEFT JOIN hit USING (doc_id)""") { (s, d) =>
    val docs = Tables.df(s, d, "documents")
    Dedup.ngramContamination(
      docs.where(col("doc_id") % 50 =!= 0),
      docs.where(col("doc_id") % 50 === 0),
      "doc_id", "text", shingle = 3)
  }

  /** End-to-end corpus preparation — the composed pipeline a training-data
    * user actually runs, as ONE declarative plan: quality gate → exact
    * dedup (min-id winner per canonical fingerprint) → benchmark
    * decontamination (drop docs with >0.2 containment in the benchmark
    * 3-gram pool). Every stage is an operator oracled on its own
    * elsewhere; this query pins their composition.
    *
    * Scan accounting (the 100 TB concern): quality score + fingerprint
    * are computed in ONE projection over the corpus and the narrow
    * result (id, source, quality, fp — no text) is materialized, because
    * it feeds two DAG branches (dedup winners + final join) that would
    * otherwise each re-scan and re-score the corpus. The contamination
    * branch intentionally re-scans instead: its exploded gram table is
    * LARGER than the corpus, so materializing it would cost more I/O
    * than the recompute.
    */
  private val pipelineQ = qb("q_pipeline",
    raw"""WITH qd AS ($QualityDocsSql),
       q1 AS (SELECT d.doc_id, d.source, d.text, qd.quality
              FROM documents d JOIN qd USING (doc_id)
              WHERE qd.quality > 0.5 AND d.doc_id % 50 <> 0),
       win AS (SELECT MIN(doc_id) AS doc_id FROM q1
               GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))),
       grams AS (SELECT DISTINCT doc_id, g FROM (${gramsSql(3)}) g0),
       pool AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
       tot AS (SELECT doc_id, COUNT(*) AS n FROM grams WHERE doc_id % 50 <> 0 GROUP BY 1),
       hit AS (SELECT c.doc_id, COUNT(*) AS h
               FROM (SELECT * FROM grams WHERE doc_id % 50 <> 0) c JOIN pool USING (g)
               GROUP BY 1),
       cont AS (SELECT tot.doc_id,
                       round(CAST(coalesce(h, 0) AS DOUBLE) / n, 6) AS contamination
                FROM tot LEFT JOIN hit USING (doc_id))
       SELECT q1.doc_id, q1.source, q1.quality
       FROM q1 JOIN win USING (doc_id) LEFT JOIN cont USING (doc_id)
       WHERE coalesce(contamination, 0.0) <= 0.2""") { (s, d) =>
    val docs = Tables.df(s, d, "documents")
    // The quality cut is applied AFTER the checkpoint barrier, not inside
    // the scored projection's lineage: a `.where(quality > 0.5)` below the
    // barrier gets pushdown-substituted under the Project, inlining the
    // whole qualityScore tree into a FilterExec — which does not run
    // subexpression elimination, so the five feature-field reads each
    // re-evaluated the quality kernel per document (measured 8.9 s vs
    // 2.2 s for this pass on the 9.6 KB-doc length twin, ProbePipelineParts
    // r15). Checkpointing every non-benchmark doc's narrow row (id,
    // source, quality, fp — no text) and filtering the materialized
    // column costs a few percent more checkpoint bytes and removes the
    // duplicated kernel evaluation entirely.
    val scored = graft.operators.Materialize.once(docs
      .where(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), col("source"),
        qualityScore(col("text")).as("quality"),
        fingerprint(col("text")).as("__fp")))
      .where(col("quality") > 0.5)
    // Dedup.exact's min-id-per-fingerprint on the precomputed fp column
    val winners = scored.groupBy("__fp").agg(min("doc_id").as("doc_id")).select("doc_id")
    val cont = Dedup.ngramContamination(
      docs.where(col("doc_id") % 50 =!= 0),
      docs.where(col("doc_id") % 50 === 0),
      "doc_id", "text", shingle = 3)
    scored.join(winners, "doc_id")
      .join(cont, Seq("doc_id"), "left")
      .where(coalesce(col("contamination"), lit(0.0)) <= 0.2)
      .select(col("doc_id"), col("source"), col("quality"))
  }

  /** Shared oracle CTEs for substring-level dedup (Lee et al. spans):
    * 3-gram positions over `rel` (any relation with doc_id + text),
    * duplicated grams (count ≥ 2, self-repeats included),
    * gaps-and-islands maximal runs, spans ≥ 5 tokens — the exact dual of
    * Dedup.duplicateSpans(k=3, minSpan=5). Also emits `tk`/`kept`/`dt`
    * (the removal half: per-token NOT-EXISTS against spans,
    * whitespace-normalized rebuild) so composed pipelines can reuse the
    * dedup_text relation.
    */
  private def substringCtesFor(rel: String) =
    raw"""toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM $rel),
       g0 AS (SELECT doc_id,
                unnest(list_transform(range(1, greatest(len(w) - 2, 0) + 1),
                       i -> {'p': i - 1, 's': array_to_string(w[i:i+2], ' ')})) AS pg
              FROM toks WHERE len(w) >= 3),
       gr AS (SELECT doc_id, pg.p AS pos, pg.s AS gram FROM g0),
       dup AS (SELECT gram FROM gr GROUP BY gram HAVING COUNT(*) >= 2),
       dp AS (SELECT gr.doc_id, gr.pos FROM gr JOIN dup ON gr.gram = dup.gram),
       isl AS (SELECT doc_id, pos,
                 pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
               FROM dp),
       spans AS (SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
                        CAST(MAX(pos) + 2 AS BIGINT) AS span_end
                 FROM isl GROUP BY doc_id, grp
                 HAVING MAX(pos) + 2 - MIN(pos) + 1 >= 5),
       tk AS (SELECT doc_id,
                unnest(list_transform(range(1, len(w) + 1),
                       i -> {'p': i - 1, 't': w[i]})) AS e
              FROM toks),
       kept AS (SELECT tk.doc_id, (tk.e).p AS pos, (tk.e).t AS tok FROM tk
                WHERE NOT EXISTS (SELECT 1 FROM spans s
                                  WHERE s.doc_id = tk.doc_id
                                    AND (tk.e).p BETWEEN s.span_start AND s.span_end)),
       dt AS (SELECT r.doc_id, coalesce(k.txt, '') AS dedup_text
              FROM $rel r
              LEFT JOIN (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS txt
                         FROM kept GROUP BY doc_id) k USING (doc_id))"""

  private val SubstringSpanCtes = substringCtesFor("documents")

  /** CTE chain for SURGICAL decontamination — [[substringCtesFor]]'s
    * duplicated-gram detector swapped for a join against the BENCHMARK
    * relation's distinct gram set; islands/spans/removal rendering
    * identical (one shared SQL shape per concern, so the two span
    * families cannot drift).
    */
  private def contamSpanCtesFor(rel: String, benchRel: String) =
    raw"""toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM $rel),
       g0 AS (SELECT doc_id,
                unnest(list_transform(range(1, greatest(len(w) - 2, 0) + 1),
                       i -> {'p': i - 1, 's': array_to_string(w[i:i+2], ' ')})) AS pg
              FROM toks WHERE len(w) >= 3),
       gr AS (SELECT doc_id, pg.p AS pos, pg.s AS gram FROM g0),
       btoks AS (SELECT regexp_split_to_array(trim(text), '\s+') AS w FROM $benchRel),
       bpool AS (SELECT DISTINCT unnest(list_transform(range(1, greatest(len(w) - 2, 0) + 1),
                        i -> array_to_string(w[i:i+2], ' '))) AS gram
                 FROM btoks WHERE len(w) >= 3),
       dp AS (SELECT gr.doc_id, gr.pos FROM gr JOIN bpool USING (gram)),
       isl AS (SELECT doc_id, pos,
                 pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
               FROM dp),
       spans AS (SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
                        CAST(MAX(pos) + 2 AS BIGINT) AS span_end
                 FROM isl GROUP BY doc_id, grp
                 HAVING MAX(pos) + 2 - MIN(pos) + 1 >= 5),
       tk AS (SELECT doc_id,
                unnest(list_transform(range(1, len(w) + 1),
                       i -> {'p': i - 1, 't': w[i]})) AS e
              FROM toks),
       kept AS (SELECT tk.doc_id, (tk.e).p AS pos, (tk.e).t AS tok FROM tk
                WHERE NOT EXISTS (SELECT 1 FROM spans s
                                  WHERE s.doc_id = tk.doc_id
                                    AND (tk.e).p BETWEEN s.span_start AND s.span_end)),
       dt AS (SELECT r.doc_id, coalesce(k.txt, '') AS dedup_text
              FROM $rel r
              LEFT JOIN (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS txt
                         FROM kept GROUP BY doc_id) k USING (doc_id))"""

  private val ContamSpanPrelude =
    """corp AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0),
       bench AS (SELECT text FROM documents WHERE doc_id % 50 = 0)"""

  /** Surgical decontamination, span DISCOVERY (Dedup.contaminationSpans):
    * maximal ≥5-token spans whose every trigram window also occurs in the
    * benchmark pool (the q_contamination %50 cut) — localizes WHICH text
    * overlaps an eval set instead of scoring the whole document.
    */
  private val contaminationSpansQ = q("q_contamination_spans",
    s"""WITH $ContamSpanPrelude,
       ${contamSpanCtesFor("corp", "bench")}
       SELECT doc_id, span_start, span_end,
              span_end - span_start + 1 AS span_tokens
       FROM spans""") { (s, d) =>
    val docs = Tables.df(s, d, "documents")
    Dedup.contaminationSpans(docs.where(col("doc_id") % 50 =!= 0), "doc_id", "text",
      docs.where(col("doc_id") % 50 === 0), "text", k = 3, minSpan = 5)
  }

  /** Surgical decontamination, REMOVAL: the benchmark-overlapping spans
    * excised, the rest of every document KEPT — the span-level
    * alternative to dropping contaminated documents wholesale.
    */
  private val decontaminateSpansQ = q("q_decontaminate_spans",
    s"""WITH $ContamSpanPrelude,
       ${contamSpanCtesFor("corp", "bench")}
       SELECT doc_id, dedup_text FROM dt""") { (s, d) =>
    val docs = Tables.df(s, d, "documents")
    Dedup.removeContaminationSpans(docs.where(col("doc_id") % 50 =!= 0), "doc_id", "text",
        docs.where(col("doc_id") % 50 === 0), "text", k = 3, minSpan = 5)
      .select(col("doc_id"), col("dedup_text"))
  }

  // bench headline since r5 (set-boundary note in SCALE.md: totals are not
  // comparable across the r4→r5 boundary, compare per-query)
  private val substringSpansQ = q("q_substring_spans",
    s"""WITH $SubstringSpanCtes
       SELECT doc_id, span_start, span_end,
              span_end - span_start + 1 AS span_tokens
       FROM spans""",
    bench = true) { (s, d) =>
    Dedup.duplicateSpans(Tables.df(s, d, "documents"), "doc_id", "text",
      k = 3, minSpan = 5)
  }

  /** End-to-end corpus preparation v2 — the composed flagship extended
    * with substring-level dedup: quality gate → repeated-span REMOVAL
    * (over the gated corpus only, so gram counts reflect what survives
    * the gate) → exact dedup on the CLEANED text → benchmark
    * decontamination of the cleaned text → (doc_id, n_tokens). One
    * Spark plan; the whole thing is SQL-expressible so the composition
    * itself is oracle-gated, not just the pieces.
    */
  private val pipelineFullQ = q("q_pipeline_full",
    raw"""WITH qd AS ($QualityDocsSql),
       corp AS (SELECT d.doc_id, d.text FROM documents d JOIN qd USING (doc_id)
                WHERE qd.quality > 0.5 AND d.doc_id % 50 <> 0),
       ${substringCtesFor("corp")},
       win AS (SELECT MIN(doc_id) AS doc_id FROM dt
               GROUP BY md5(regexp_replace(lower(trim(dedup_text)), '\s+', ' ', 'g'))),
       dtoks AS (SELECT doc_id, regexp_split_to_array(trim(dedup_text), '\s+') AS w FROM dt),
       dgrams AS (SELECT DISTINCT doc_id, unnest(
                    CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                         ELSE list_transform(range(1, len(w) - 2 + 1),
                                i -> array_to_string(w[i:i+2], ' ')) END) AS g
                  FROM dtoks),
       btoks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                 FROM documents WHERE doc_id % 50 = 0),
       pool AS (SELECT DISTINCT unnest(
                  CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                       ELSE list_transform(range(1, len(w) - 2 + 1),
                              i -> array_to_string(w[i:i+2], ' ')) END) AS g
                FROM btoks),
       tot AS (SELECT doc_id, COUNT(*) AS n FROM dgrams GROUP BY 1),
       hit AS (SELECT c.doc_id, COUNT(*) AS h FROM dgrams c JOIN pool USING (g)
               GROUP BY 1),
       cont AS (SELECT tot.doc_id,
                       round(CAST(coalesce(h, 0) AS DOUBLE) / n, 6) AS contamination
                FROM tot LEFT JOIN hit USING (doc_id))
       SELECT dt.doc_id,
              CAST(len(regexp_split_to_array(trim(dedup_text), '\s+')) AS BIGINT) AS n_tokens
       FROM dt JOIN win USING (doc_id) LEFT JOIN cont USING (doc_id)
       WHERE coalesce(contamination, 0.0) <= 0.2""") { (s, d) =>
    val docs = Tables.df(s, d, "documents")
    val gated = docs.where(col("doc_id") % 50 =!= 0)
      .where(qualityScore(col("text")) > 0.5)
    // cleaned text feeds THREE consumers (dedup winners, contamination,
    // final projection): materialize the span-removal once
    val cleaned = graft.operators.Materialize.once(
      Dedup.removeDuplicateSpans(gated, "doc_id", "text", k = 3, minSpan = 5)
        .select(col("doc_id"), col("dedup_text")))
    val winners = cleaned
      .groupBy(fingerprint(col("dedup_text")).as("__fp"))
      .agg(min("doc_id").as("doc_id")).select("doc_id")
    val cont = Dedup.ngramContamination(
      cleaned.select(col("doc_id"), col("dedup_text").as("text")),
      docs.where(col("doc_id") % 50 === 0),
      "doc_id", "text", shingle = 3)
    cleaned.join(winners, "doc_id")
      .join(cont, Seq("doc_id"), "left")
      .where(coalesce(col("contamination"), lit(0.0)) <= 0.2)
      .select(col("doc_id"),
        tokenCount(col("dedup_text")).cast("long").as("n_tokens"))
  }

  /** Same relation (and same oracle) as q_substring_spans through the
    * PERSISTENT duplicated-gram index: gram set written once as a
    * bucketed table, probe re-grams and semi-joins it shuffle-free on
    * the index side.
    */
  private val substringSpansIndexedQ = q("q_substring_spans_indexed",
    s"""WITH $SubstringSpanCtes
       SELECT doc_id, span_start, span_end,
              span_end - span_start + 1 AS span_tokens
       FROM spans""") { (s, d) =>
    val docs = Tables.df(s, d, "documents")
    AnnIndex.buildGramIndex(docs, "doc_id", "text", "graft_gram_idx", k = 3)
    AnnIndex.probeSpans(s, "graft_gram_idx", docs, "doc_id", "text",
      k = 3, minSpan = 5)
  }

  private val substringDedupQ = q("q_substring_dedup",
    s"""WITH $SubstringSpanCtes
       SELECT doc_id, dedup_text FROM dt""") { (s, d) =>
    Dedup.removeDuplicateSpans(Tables.df(s, d, "documents"), "doc_id", "text",
        k = 3, minSpan = 5)
      .select(col("doc_id"), col("dedup_text"))
  }

  /** Key-skew audit (Profile.keySkew) on the orders.o_custkey join key:
    * exact integer Gini numerator over the ranked count table, replayed
    * by the oracle with a window the ENGINE never uses (the distributed
    * rank is range-sort + zipWithIndex).
    */
  private val keySkewQ = q("q_key_skew",
    """WITH c AS (SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS cnt
                  FROM orders GROUP BY 1),
       s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cnt) AS BIGINT) AS tot,
                    CAST(MAX(cnt) AS BIGINT) AS mx FROM c),
       r AS (SELECT cnt, row_number() OVER (ORDER BY cnt, k) AS i FROM c),
       g AS (SELECT CAST(SUM((2*i - (SELECT n FROM s) - 1) * cnt) AS BIGINT) AS num FROM r)
       SELECT (SELECT n FROM s) AS n_keys, (SELECT tot FROM s) AS total,
              round(CAST((SELECT mx FROM s) AS DOUBLE) / (SELECT tot FROM s), 6) AS top1_share,
              round(CAST((SELECT num FROM g) AS DOUBLE)
                / ((SELECT n FROM s) * (SELECT tot FROM s)), 6) AS gini""") { (s, d) =>
    Profile.keySkew(Tables.df(s, d, "orders"), "o_custkey")
  }

  private val profileQ = q("q_profile",
    """SELECT 'doc_id' AS column, CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(COUNT(*) - COUNT(doc_id) AS BIGINT) AS n_nulls,
              CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct,
              CAST(MIN(doc_id) AS VARCHAR) AS min, CAST(MAX(doc_id) AS VARCHAR) AS max
       FROM documents
       UNION ALL
       SELECT 'lang', COUNT(*), COUNT(*) - COUNT(lang), COUNT(DISTINCT lang),
              MIN(lang), MAX(lang) FROM documents
       UNION ALL
       SELECT 'source', COUNT(*), COUNT(*) - COUNT(source), COUNT(DISTINCT source),
              MIN(source), MAX(source) FROM documents
       UNION ALL
       SELECT 'n_chars', COUNT(*), COUNT(*) - COUNT(n_chars), COUNT(DISTINCT n_chars),
              CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR)
       FROM documents""") { (s, d) =>
    graft.operators.Profile.profile(Tables.df(s, d, "documents"),
      Seq("doc_id", "lang", "source", "n_chars"))
  }

  private val profileNumericQ = q("q_profile_numeric",
    """SELECT 'n_chars' AS column, round(avg(n_chars), 6) AS mean,
              round(stddev_samp(n_chars), 6) AS stddev,
              round(quantile_cont(n_chars, 0.25), 6) AS p25,
              round(quantile_cont(n_chars, 0.5), 6) AS p50,
              round(quantile_cont(n_chars, 0.75), 6) AS p75
       FROM documents
       UNION ALL
       SELECT 'doc_id', round(avg(doc_id), 6), round(stddev_samp(doc_id), 6),
              round(quantile_cont(doc_id, 0.25), 6), round(quantile_cont(doc_id, 0.5), 6),
              round(quantile_cont(doc_id, 0.75), 6)
       FROM documents""") { (s, d) =>
    graft.operators.Profile.numeric(Tables.df(s, d, "documents"),
      Seq("n_chars", "doc_id"))
  }

  /** The sketch-percentile twin of q_profile_numeric: accuracy ≥ n makes
    * approx_percentile exact DISCRETE percentiles (quantile_disc), so
    * the 100 TB code path itself sits behind the hash gate; the sketch-
    * error regime (accuracy < n) is bounded by ProfileSpec.
    */
  private val profileNumericApproxQ = q("q_profile_numeric_approx",
    """SELECT 'n_chars' AS column, round(avg(n_chars), 6) AS mean,
              round(stddev_samp(n_chars), 6) AS stddev,
              round(CAST(quantile_disc(n_chars, 0.25) AS DOUBLE), 6) AS p25,
              round(CAST(quantile_disc(n_chars, 0.5) AS DOUBLE), 6) AS p50,
              round(CAST(quantile_disc(n_chars, 0.75) AS DOUBLE), 6) AS p75
       FROM documents
       UNION ALL
       SELECT 'doc_id', round(avg(doc_id), 6), round(stddev_samp(doc_id), 6),
              round(CAST(quantile_disc(doc_id, 0.25) AS DOUBLE), 6),
              round(CAST(quantile_disc(doc_id, 0.5) AS DOUBLE), 6),
              round(CAST(quantile_disc(doc_id, 0.75) AS DOUBLE), 6)
       FROM documents""") { (s, d) =>
    graft.operators.Profile.numericApprox(Tables.df(s, d, "documents"),
      Seq("n_chars", "doc_id"), accuracy = 1000000)
  }

  private val profileTopQ = q("q_profile_top",
    """WITH pairs AS (
         SELECT 'lang' AS "column", lang AS value FROM documents WHERE lang IS NOT NULL
         UNION ALL
         SELECT 'source', source FROM documents WHERE source IS NOT NULL),
       counts AS (SELECT "column", value, CAST(COUNT(*) AS BIGINT) AS cnt
                  FROM pairs GROUP BY "column", value),
       ranked AS (SELECT "column", value, cnt,
                    row_number() OVER (PARTITION BY "column"
                                       ORDER BY cnt DESC, value ASC) AS r
                  FROM counts)
       SELECT "column", value, cnt FROM ranked WHERE r <= 3""") { (s, d) =>
    graft.operators.Profile.topValues(Tables.df(s, d, "documents"),
      Seq("lang", "source"), k = 3)
  }

  // ---- Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD
  // 2003 — the MOSS algorithm): the 2/(w+1)-density substring index with
  // the ≥ w+k−1-token detection guarantee. The selection rule is a total
  // order (md5 hex asc, then position asc — leftmost minimum per
  // window), so the whole family replays in SQL: list_min picks the
  // minimal hash, first list_position its leftmost offset. One CTE
  // definition, prefix-parametrized, shared by all three queries.
  private def winnowCtes(p: String, rel: String): String =
    s"""${p}toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk FROM $rel),
       ${p}gr AS (SELECT doc_id,
                CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                     ELSE list_transform(range(1, len(tk) - 2 + 1),
                            i -> array_to_string(tk[i:i+2], ' '))
                END AS gs
              FROM ${p}toks),
       ${p}hl AS (SELECT doc_id, list_transform(gs, x -> md5(x)) AS hs FROM ${p}gr),
       ${p}win AS (SELECT doc_id, hs,
                unnest(range(1, greatest(len(hs) - 4 + 1, 1) + 1)) AS j
              FROM ${p}hl),
       ${p}sel AS (SELECT DISTINCT doc_id,
                CAST(j - 1 + list_position(hs[j:j+3], list_min(hs[j:j+3])) AS INTEGER) AS pos,
                list_min(hs[j:j+3]) AS fp
              FROM ${p}win)"""

  /** Winnowed fingerprint SELECTION, every (doc, position, fingerprint)
    * triple hash-gated — the O(g) monotonic-deque kernel against the
    * oracle's per-window rescan, proving the deque IS the window
    * minimum with the leftmost tie-break.
    */
  /** Shared CDC oracle CTEs over `src(doc_id, text)`: the gear-hash
    * boundary scan replayed as a list_reduce position fold (the
    * unigram-oracle seed-prepend trick: accumulator = BIGINT list
    * [h, start, s0, l0, s1, l1, ...], elements = wrapped positions).
    * GEAR is interpolated from [[graft.functions.CdcRuntime.Gear]] and
    * hoisted into a one-row CTE (the vocab-hoist lesson — inlining
    * 256 literals per lambda call re-parses them per byte). Arithmetic
    * is the kernel's bit for bit: h' = (h*2 + g[b]) mod 2^32, boundary
    * when len >= min AND (h' & mask) = 0, force-close at max, final
    * partial chunk emits; md5(substr(..)) = the kernel's md5-of-bytes
    * because this corpus is pure ASCII (char offsets == byte offsets —
    * checked max codepoint 121; the production kernel is byte-defined).
    */
  private[queries] def cdcGearCte: String = {
    val gear = graft.functions.CdcRuntime.Gear.map(g => s"CAST($g AS BIGINT)").mkString(", ")
    s"""gm AS (SELECT [$gear] AS g)"""
  }

  private[queries] def cdcChunkCtes(p: String, src: String, minSize: Int = 32, avgBits: Int = 6,
      maxSize: Int = 256): String = {
    val mask = (1L << avgBits) - 1
    raw"""${p}cst AS (
         SELECT doc_id, text,
           list_reduce(
             list_concat([[CAST(0 AS BIGINT), CAST(0 AS BIGINT)]],
               list_transform(range(1, length(text) + 1), j -> [CAST(j AS BIGINT)])),
             (acc, x) -> CASE
               WHEN ((x[1] - acc[2] >= $minSize AND
                      (((acc[1] * 2 + g[CAST(ascii(substr(text, CAST(x[1] AS INT), 1)) AS INT) + 1]) % 4294967296) & $mask) = 0)
                     OR x[1] - acc[2] >= $maxSize)
               THEN list_concat([CAST(0 AS BIGINT), x[1]],
                                list_concat(acc[3:], [acc[2] + 1, x[1] - acc[2]]))
               ELSE list_concat([(acc[1] * 2 + g[CAST(ascii(substr(text, CAST(x[1] AS INT), 1)) AS INT) + 1]) % 4294967296, acc[2]],
                                acc[3:])
             END) AS st
         FROM $src, gm),
       ${p}cfin AS (SELECT doc_id, text,
                  CASE WHEN st[2] < length(text)
                       THEN list_concat(st[3:], [st[2] + 1, length(text) - st[2]])
                       ELSE st[3:] END AS ch
                FROM ${p}cst),
       ${p}cpos AS (SELECT doc_id, text, ch, unnest(range(1, len(ch) // 2 + 1)) AS k FROM ${p}cfin),
       ${p}cidx AS (SELECT doc_id, CAST(ch[2*k-1] AS INT) AS pos, CAST(ch[2*k] AS INT) AS len,
                       md5(substr(text, CAST(ch[2*k-1] AS INT), CAST(ch[2*k] AS INT))) AS fp
                FROM ${p}cpos)"""
  }

  /** Content-defined chunk index (Cdc.chunkIndex): gear-hash boundaries
    * + md5 chunk fingerprints, fully replayed in SQL.
    */
  private val cdcChunksQ = q("q_cdc_chunks",
    s"""WITH $cdcGearCte,
       ${cdcChunkCtes("", "documents")}
       SELECT doc_id, pos, len, fp FROM cidx""") { (s, d) =>
    graft.operators.Cdc.chunkIndex(Tables.df(s, d, "documents"), "doc_id", "text")
  }

  /** Chunk-level decontamination against a catalog (Cdc.dedupAgainst —
    * the Lee et al. substring-removal contract at content-defined
    * granularity): corpus docs pair text(k) with text(k+23); the
    * catalog is every 5th document's chunk set, so corpus chunks that
    * re-synchronize onto a cataloged document's content drop and the
    * survivors reassemble in byte order. The oracle replays BOTH chunk
    * scans (corpus + catalog, prefixed CTEs over the shared gear table)
    * and the ordered reassembly.
    */
  private val cdcDedupAgainstQ = q("q_cdc_dedup_against",
    s"""WITH corpus AS (SELECT a.doc_id, a.text || ' ' || b.text AS text
                    FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 23),
       cat AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
       $cdcGearCte,
       ${cdcChunkCtes("", "corpus")},
       ${cdcChunkCtes("k_", "cat")},
       catf AS (SELECT DISTINCT fp FROM k_cidx),
       keep AS (SELECT c.doc_id, c.pos, substr(t.text, c.pos, c.len) AS piece
                FROM cidx c JOIN corpus t USING (doc_id)
                WHERE c.fp NOT IN (SELECT fp FROM catf))
       SELECT doc_id, string_agg(piece, '' ORDER BY pos) AS clean_text
       FROM keep GROUP BY doc_id
       UNION ALL
       SELECT doc_id, '' AS clean_text FROM corpus
       WHERE coalesce(length(text), 0) = 0""") { (s, d) =>
    val docs = Tables.df(s, d, "documents")
    val nxt = docs.select((col("doc_id") - 23).as("doc_id"), col("text").as("__t2"))
    val corpus = docs.join(nxt, "doc_id")
      .select(col("doc_id"), concat(col("text"), lit(" "), col("__t2")).as("text"))
    val cat = graft.operators.Cdc.chunkCatalog(
      docs.where(col("doc_id") % 5 === 0), "text")
    graft.operators.Cdc.dedupAgainst(corpus, "doc_id", "text", cat)
  }

  /** Same relation (and same oracle) as q_cdc_dedup_against through the
    * PERSISTENT chunk-fp catalog's FULL lifecycle on the oracled path —
    * the q_lm_score_indexed discipline applied to the CDC family: the
    * build era from half the catalog slice (Cdc.buildCatalogIndex, which
    * replaces the root, so every run starts from the same layout), the
    * other half appended as era 0 through the era write a stream
    * microbatch uses (AnnIndex.writeEra), compacted with the exact
    * cross-era distinct (AnnIndex.compactCdcCatalog), then read back
    * through the healing reader and consumed by the same anti-join — must
    * equal building the catalog in one shot.
    */
  private val cdcDedupAgainstIndexedQ = q("q_cdc_dedup_against_indexed",
    cdcDedupAgainstQ.oracle.get) { (s, d) =>
    val docs = Tables.df(s, d, "documents")
    val nxt = docs.select((col("doc_id") - 23).as("doc_id"), col("text").as("__t2"))
    val corpus = docs.join(nxt, "doc_id")
      .select(col("doc_id"), concat(col("text"), lit(" "), col("__t2")).as("text"))
    val path = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_cdc_cat_idx_" + Integer.toHexString(d.hashCode)).getAbsolutePath
    graft.operators.Cdc.buildCatalogIndex(docs.where(col("doc_id") % 10 === 0), "text", path)
    AnnIndex.writeEra(
      graft.operators.Cdc.catalogRows(docs.where(col("doc_id") % 5 === 0 && col("doc_id") % 10 =!= 0),
        "text", buckets = 32, minSize = 32, avgBits = 6, maxSize = 256),
      path, era = 0L, partCols = Seq("__b"))
    AnnIndex.compactCdcCatalog(s, path)
    graft.operators.Cdc.dedupAgainst(corpus, "doc_id", "text",
      graft.operators.Cdc.readCatalog(s, path))
  }

  /** Shift-robust near-duplicate pairs (Cdc.pairs): every 19th document
    * re-added under id+10^7 with a 3-byte PREFIX — the edit that makes
    * every fixed-window fingerprint downstream miss — must still pair
    * with its original through re-synchronized content-defined chunks.
    */
  private val cdcDedupQ = q("q_cdc_dedup",
    s"""WITH corpus AS (SELECT doc_id, text FROM documents
                    UNION ALL
                    SELECT doc_id + 10000000 AS doc_id, 'zq ' || text AS text
                    FROM documents WHERE doc_id % 19 = 0),
       $cdcGearCte,
       ${cdcChunkCtes("", "corpus")},
       wfp AS (SELECT DISTINCT doc_id, fp FROM cidx),
       wdf AS (SELECT fp FROM wfp GROUP BY fp HAVING COUNT(*) <= 50),
       wk AS (SELECT doc_id, fp FROM wfp JOIN wdf USING (fp)),
       pr AS (SELECT a.doc_id AS idA, b.doc_id AS idB,
                     CAST(COUNT(*) AS BIGINT) AS shared
              FROM wk a JOIN wk b ON a.fp = b.fp AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
       SELECT idA, idB, shared FROM pr WHERE shared >= 2""") { (s, d) =>
    val docs = Tables.df(s, d, "documents")
    val corpus = docs.select(col("doc_id"), col("text")).union(
      docs.where(col("doc_id") % 19 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(lit("zq "), col("text")).as("text")))
    graft.operators.Cdc.pairs(corpus, "doc_id", "text",
      minShared = Some(2), budget = PairBudget.Cap(50L))
  }

  private val winnowFpQ = q("q_winnow_fp",
    s"""WITH ${winnowCtes("w", "documents")}
       SELECT doc_id, pos, fp FROM wsel""") { (s, d) =>
    graft.operators.Winnow.fingerprints(
      Tables.df(s, d, "documents"), "doc_id", "text", k = 3, w = 4)
  }

  /** Candidate near-duplicate pairs through the winnowed index
    * (≥ 2 shared distinct fingerprints, df ≤ 50 cap on candidate
    * generation — the production guard against head fingerprints).
    */
  private val winnowPairsQ = q("q_winnow_pairs",
    s"""WITH ${winnowCtes("w", "documents")},
       wfp AS (SELECT DISTINCT doc_id, fp FROM wsel),
       wdf AS (SELECT fp FROM wfp GROUP BY fp HAVING COUNT(*) <= 50),
       wk AS (SELECT doc_id, fp FROM wfp JOIN wdf USING (fp)),
       pr AS (SELECT a.doc_id AS idA, b.doc_id AS idB,
                     CAST(COUNT(*) AS BIGINT) AS shared
              FROM wk a JOIN wk b ON a.fp = b.fp AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
       SELECT idA, idB, shared FROM pr WHERE shared >= 2""") { (s, d) =>
    graft.operators.Winnow.pairs(Tables.df(s, d, "documents"), "doc_id", "text",
      k = 3, w = 4, minShared = Some(2), budget = PairBudget.Cap(50L))
  }

  /** Benchmark contamination through the winnowed index — the
    * q_contamination contract at 2/(w+1) of the index bytes.
    */
  private val winnowContaminationQ = q("q_winnow_contamination",
    s"""WITH corp AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0),
       bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
       ${winnowCtes("c", "corp")},
       ${winnowCtes("b", "bench")},
       cfp AS (SELECT DISTINCT doc_id, fp FROM csel),
       pool AS (SELECT DISTINCT fp FROM bsel),
       tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM cfp GROUP BY 1),
       hit AS (SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS h
               FROM cfp c JOIN pool USING (fp) GROUP BY 1)
       SELECT tot.doc_id,
              round(CAST(coalesce(h, 0) AS DOUBLE) / n, 6) AS winnow_contamination
       FROM tot LEFT JOIN hit USING (doc_id)""") { (s, d) =>
    val docs = Tables.df(s, d, "documents")
    graft.operators.Winnow.contamination(
      docs.where(col("doc_id") % 50 =!= 0),
      docs.where(col("doc_id") % 50 === 0),
      "doc_id", "text", "text", k = 3, w = 4)
  }

  /** Bloom-gated contamination through the WINNOWED index: the filter's
    * bits are set by the benchmark pool's winnowed fingerprints (an
    * expected 2/(w+1) of its grams — the (w+1)/2 × filter-size win at a
    * fixed fp rate), and the corpus side probes its own winnowed fps in
    * one zero-shuffle projection. Fixture window hashes + literal
    * position mixes, so DuckDB replays selection, filter build, AND the
    * false positives bit-identically (the q_contamination_bloom
    * discipline; integer winnow = list_min per window, tie-break
    * irrelevant for the fp SET).
    */
  private val winnowContaminationBloomQ = q("q_winnow_contamination_bloom", {
    val pos = HashFamily.Fixture.positionSqls("g", 1 << 16, 3).mkString("[", ", ", "]")
    s"""WITH ${HashFamily.Fixture.windowHashCtes("documents", 3, distinct = false)},
       wwin AS (SELECT doc_id, wh,
                  unnest(range(1, greatest(len(wh) - 4 + 1, 1) + 1)) AS j
                FROM wh),
       wsel AS (SELECT DISTINCT doc_id, list_min(wh[j:j+3]) AS g FROM wwin),
       poolpos AS (SELECT DISTINCT pos FROM
                     (SELECT unnest($pos) AS pos FROM
                       (SELECT DISTINCT g FROM wsel WHERE doc_id % 50 = 0) pg)),
       cpos AS (SELECT doc_id, g, unnest($pos) AS pos FROM wsel WHERE doc_id % 50 <> 0),
       mk AS (SELECT cpos.doc_id, cpos.g,
                CASE WHEN pp.pos IS NULL THEN 0 ELSE 1 END AS hit
              FROM cpos LEFT JOIN poolpos pp ON cpos.pos = pp.pos),
       gv AS (SELECT doc_id, g, MIN(hit) AS allhit FROM mk GROUP BY 1, 2)
       SELECT doc_id,
              round(CAST(SUM(allhit) AS DOUBLE) / COUNT(*), 6) AS winnow_contamination_bloom
       FROM gv GROUP BY doc_id"""
  }) { (s, d) =>
    val docs = Tables.df(s, d, "documents")
    graft.operators.Winnow.contaminationBloom(
      docs.where(col("doc_id") % 50 =!= 0),
      docs.where(col("doc_id") % 50 === 0),
      "doc_id", "text", shingle = 3, w = 4, mBits = 1 << 16, k = 3,
      family = HashFamily.Fixture)
  }

  // ---- SQ8 scalar quantization (faiss IndexScalarQuantizer QT_8bit):
  // the codebook-free compressed-domain point next to PQ. Unlike PQ's
  // trained-codebook path, EVERY step — per-dimension min/max bounds,
  // affine 8-bit encode, midpoint reconstruction, ADC — is closed-form
  // double arithmetic, so the full family is oracle-gated (no fixture
  // twin needed). Shared CTEs, one definition so encode / sweep /
  // refined cannot drift in quantizer arithmetic.
  private val SqCtes =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       b AS (SELECT i, MIN(v[i]) AS mn, MAX(v[i]) AS mx
             FROM e, range(1, 65) t(i) GROUP BY i),
       cd AS (SELECT vec_id, i,
                CASE WHEN mx = mn THEN 0
                     ELSE CAST(least(greatest(floor(((v[i] - mn) * 255.0) / (mx - mn)), 0.0), 255.0) AS INTEGER)
                END AS code, mn, mx
              FROM e, b),
       r AS (SELECT vec_id,
               list(mn + ((CAST(code AS DOUBLE) + 0.5) * (mx - mn)) / 255.0 ORDER BY i) AS rv
             FROM cd GROUP BY vec_id)"""

  /** Shared ADC-pair CTE: every corpus vector scored against every
    * query (vec_id < 50) in compressed domain — midpoint recon, squared
    * L2 folded left-to-right (list_sum over the ordered 64-list ↔ the
    * SqAdc kernel's loop).
    */
  private val SqPairsCte =
    """pairs AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         list_sum(list_transform(range(1, 65),
           i -> (q.v[i] - n.rv[i]) * (q.v[i] - n.rv[i]))) AS adist
       FROM e q, r n WHERE q.vec_id < 50 AND n.vec_id <> q.vec_id)"""

  /** SQ8 ENCODE, every (vector, dimension, code) triple hash-gated —
    * the quantizer arithmetic itself under the oracle, including the
    * corpus-trained bounds (one 64-key aggregate, driver-bounded by the
    * embedding dimensionality, never the corpus).
    */
  private val sqEncodeQ = q("q_sq_encode",
    s"""WITH $SqCtes
       SELECT vec_id, CAST(i AS INTEGER) AS dim, code FROM cd""") { (s, d) =>
    val emb = Tables.df(s, d, "embeddings")
    val (mins, maxs) = graft.functions.Sq.trainBounds(emb, "embedding")
    emb.select(col("vec_id"),
        posexplode(graft.functions.Sq.encodeCol(col("embedding"), mins, maxs))
          .as(Seq("__p", "code")))
      .select(col("vec_id"), (col("__p") + 1).cast("int").as("dim"), col("code"))
  }

  /** SQ8-compressed ANN sweep: ADC scoring over uint8 codes (4× fewer
    * corpus bytes, dim multiply-adds per pair inside codegen, no
    * per-query LUT memory at all — the structural difference from PQ).
    * Rank-only output tie-broken by neighbor id, the family discipline.
    */
  private val annSqQ = q("q_ann_sq",
    s"""WITH $SqCtes,
       $SqPairsCte
       SELECT query_id, neighbor_id,
              CAST(row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS INTEGER) AS rank
       FROM pairs QUALIFY rank <= 10""") { (s, d) =>
    val emb = Tables.df(s, d, "embeddings")
    graft.functions.Sq.topK(emb.where(col("vec_id") < 50), emb,
      "vec_id", "embedding", k = 10)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** SQ8 shortlist (k·3) + exact re-rank from raw vectors — the faiss
    * IndexRefineFlat tail over an SQ base, sharing [[graft.functions.Pq.refineExact]]
    * with the PQ/IVF-PQ variants so exact-L2 + tie-break semantics have
    * ONE definition. The exact leg replays as `list_distance` (the
    * q_ann_pq bit-parity argument).
    */
  private val annSqRefinedQ = q("q_ann_sq_refined",
    s"""WITH $SqCtes,
       $SqPairsCte,
       short AS (SELECT query_id, neighbor_id FROM (
         SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rr
         FROM pairs) WHERE rr <= 30),
       ex AS (SELECT s.query_id, s.neighbor_id, list_distance(q.v, n.v) AS dist
              FROM short s
              JOIN e q ON q.vec_id = s.query_id
              JOIN e n ON n.vec_id = s.neighbor_id)
       SELECT query_id, neighbor_id,
              CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS INTEGER) AS rank
       FROM ex QUALIFY rank <= 10""") { (s, d) =>
    val emb = Tables.df(s, d, "embeddings")
    graft.functions.Sq.topKRefined(emb.where(col("vec_id") < 50), emb,
      "vec_id", "embedding", k = 10, refine = 3)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** Shared CTE prefix for the IVF-SQ oracle pair (SQ quantizer CTEs +
    * cell assignment + probed pairs with SQ ADC distances) — one
    * definition so the in-flight and persistent-index twins cannot
    * drift. Assignment CTEs are the q_ann_ivfpq shape (list_distance
    * argmin, cell-id tie-break, 16 lowest-id centroids, nProbe 4).
    */
  private val IvfSqPairsCtes =
    s"""$SqCtes,
       cent AS (SELECT vec_id AS cell, v AS cv FROM e ORDER BY vec_id LIMIT 16),
       assigned AS (
         SELECT vec_id, cell FROM (
           SELECT e.vec_id, cent.cell,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY list_distance(e.v, cent.cv), cent.cell) AS rr
           FROM e, cent) WHERE rr = 1),
       qa AS (
         SELECT vec_id AS query_id, cell FROM (
           SELECT e.vec_id, cent.cell,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY list_distance(e.v, cent.cv), cent.cell) AS rr
           FROM e, cent WHERE e.vec_id < 50) WHERE rr <= 4),
       pairs AS (SELECT qa.query_id, a.vec_id AS neighbor_id,
           list_sum(list_transform(range(1, 65),
             i -> (q.v[i] - n.rv[i]) * (q.v[i] - n.rv[i]))) AS adist
         FROM qa
         JOIN assigned a ON qa.cell = a.cell
         JOIN e q ON q.vec_id = qa.query_id
         JOIN r n ON n.vec_id = a.vec_id
         WHERE qa.query_id <> a.vec_id)"""

  private val IvfSqOracleSql =
    s"""WITH $IvfSqPairsCtes
       SELECT query_id, neighbor_id,
              CAST(row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS INTEGER) AS rank
       FROM pairs QUALIFY rank <= 10"""

  /** IVF-SQ: coarse-cell pruning + SQ8 ADC — faiss's `IVF16,SQ8`, the
    * production middle ground between IVF-Flat (4× the bytes) and
    * IVF-PQ (trained codebooks, recall loss). Oracle-gated end to end:
    * the quantizer is closed-form, so unlike IVF-PQ no fixture codebook
    * is needed — the oracle replays the CORPUS-TRAINED bounds.
    */
  private val annIvfSqQ = q("q_ann_ivfsq", IvfSqOracleSql) { (s, d) =>
    val emb = Tables.df(s, d, "embeddings")
    graft.functions.Sq.ivfTopK(emb.where(col("vec_id") < 50), emb,
      "vec_id", "embedding", k = 10, nCells = 16, nProbe = 4)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** Build-once IVF-SQ index shared across a JVM (the ivfPqFixtureIndex
    * discipline): cell-partitioned uint8 codes + `_centroids` +
    * `_sqbounds` sidecars.
    */
  private val ivfSqIndexes = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def ivfSqIndex(s: SparkSession, d: String): String =
    ivfSqIndexes.computeIfAbsent(d, _ => {
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_ivfsq_idx_" + Integer.toHexString(d.hashCode)).getAbsolutePath
      graft.operators.AnnIndex.buildIvfSq(Tables.df(s, d, "embeddings"),
        "vec_id", "embedding", path, nCells = 16)
      path
    })

  /** q_ann_ivfsq through the PERSISTENT index (cell-partitioned codes on
    * disk, partition-pruned probe) — SAME oracle as the in-flight twin:
    * same quantizer + same bounds → same answer, hash-gated.
    */
  private val annIvfSqIndexedQ = q("q_ann_ivfsq_indexed", IvfSqOracleSql) { (s, d) =>
    val emb = Tables.df(s, d, "embeddings")
    graft.operators.AnnIndex.probeIvfSq(s, ivfSqIndex(s, d),
      emb.where(col("vec_id") < 50), "vec_id", "embedding", k = 10, nProbe = 4)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  val all: Seq[QueryDef] = Seq(
    profileQ, profileNumericQ, profileNumericApproxQ, profileTopQ, keySkewQ,
    repetitionQ, repetitionNgramsQ, contaminationQ, pipelineQ,
    dedupExactQ, tokenCountQ, chunkOverlapQ, bpeTokenCountQ, bpeApplyQ, bpeBytesQ, unigramApplyQ, wordpieceApplyQ, fingerprintQ, qualityQ, qualityGateQ, qualityModelQ,
    samplePerSourceQ, langIdQ,
    minhashQ, minhashFixedQ, evalDedupQ, minhashCrossQ, minhashCrossFixedQ, minhashIndexedQ, minhashIndexedFixedQ, dedupExactIndexedQ, simhashQ, simhashFixedQ, ngramJaccardQ, ngramJaccardCappedQ, ngramJaccardAutoQ, softDedupQ, softDedupExactQ, softDedupSampleQ, softDedupAgainstQ, softDedupAgainstIndexedQ, dedupClustersQ, dedupApplyQ, dedupApplyPrefQ, embDedupQ, semDedupQ, annQuantQ, annCosineQ, annLshQ, pqEncodeQ, annPqQ, sqEncodeQ, annSqQ, annSqRefinedQ, annIvfSqQ, annIvfSqIndexedQ, annIvfPqQ, annIvfPqIndexedQ, annIvfPqRefinedQ, annIvfPqRefinedIndexedQ, annImiPqRefinedQ, annImiPqRefinedIndexedQ, annImiPqResidQ, annImiPqResidIndexedQ,
    annIvfQ, annImiQ, annImiTrainedQ, annIvfIndexedQ, annIvfTrainedQ, knnJoinQ, knnJoinAutoQ, knnClusterQ, knnClusterAutoQ, diversityCapQ, diversityCapAutoQ, quantizeQ, zorderQ, zorderNQ, multimodalQ, multimodalMetaQ, phashQ, dedupMultimodalQ, audioEnergyQ, audioFingerprintQ, dedupAudioQ, keyframesQ, normalizeQ, chunkQ, sessionizeQ, sessionizeSkewQ, sessionizeFastQ, sessionAttributionQ,
    redactQ, piiStatsQ, domainStatsQ, blocklistQ, blocklistGateQ, profileCorrQ, profileSpearmanQ, profileSpearmanSampledQ, regressionQ, profileHistQ, tokenStatsQ, capPerSourceQ, vocabQ, mixtureQ, mixtureTokensQ, mixtureUnimaxQ, mixtureUnimaxTokensQ, mixtureUnimaxApplyQ, packQ, packMaskedQ, packBucketedQ, packBucketedByQ, lengthBinsBySourceQ, dpoPairsQ, negativesQ, curriculumFusedQ, funnelQ, funnelAggQ, retentionQ, asofQ, asofSkewQ, asofFastQ,
    asofForwardQ, asofToleranceQ, rangeJoinQ, intervalOverlapQ,
    substringSpansQ, substringSpansIndexedQ, substringDedupQ, pipelineFullQ,
    contaminationSpansQ, decontaminateSpansQ,
    winnowFpQ, winnowPairsQ, winnowContaminationQ, winnowContaminationBloomQ, cdcChunksQ, cdcDedupQ, cdcDedupAgainstQ,
    cdcDedupAgainstIndexedQ)
}
