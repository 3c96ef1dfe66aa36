package graft.operators

import graft.functions.{FixtureBandHashes, FixtureSimhashSig, FixtureTextHashes, HashExpressions}
import graft.functions.TextFunctions.tokens
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge.{column, expression}
import org.apache.spark.sql.functions._

/** The hash lane a dedup or decontamination operator runs in, as a value.
  *
  * Every hashing operator ([[Dedup]]'s minhash and simhash pipelines,
  * [[AnnIndex]]'s minhash index, [[Bloom]] and [[Winnow]]'s bloom gates)
  * has ONE entry point that takes a `family`; its banding, bucket join,
  * verify and bloom probe are the same code in both lanes, and only the
  * primitives below change:
  *  - [[HashFamily.Xxhash]] (the default): xxhash64 over token-chained
  *    windows — production hash quality, full 64-bit range, rows-only
  *    gates plus ScalaTest replicas.
  *  - [[HashFamily.Fixture]]: plain modular integer arithmetic (all values
  *    nonnegative and below 2^31) that DuckDB replays exactly, so the
  *    oracle gate covers the whole pipeline — signatures, band collisions,
  *    candidate pairs and bloom false positives included. Its SQL
  *    renderings live next to its Spark columns, so the two engines read
  *    one definition.
  */
sealed trait HashFamily {

  /** Window hashes of every `shingle`-token window, in sequence order
    * (duplicates kept) — the winnow input. */
  def windowHashes(text: Column, shingle: Int): Column

  /** The document's distinct window-hash set — the bloom gram identity. */
  def windowHashSet(text: Column, shingle: Int): Column

  /** The `numHashes`-long minhash signature over `shingle`-token windows. */
  def minhashSig(text: Column, shingle: Int, numHashes: Int): Column

  /** One bucket key per band of a `bands × rowsPerBand` signature. */
  def bandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column

  /** The simhash signature over distinct `shingle`-token windows. */
  def simhashSig(text: Column, shingle: Int): Column

  /** The k bloom-filter positions (each in [0, mBits)) of one gram hash. */
  def bloomPositions(g: Column, mBits: Int, k: Int): Seq[Column]

  /** The [[graft.functions.BloomHits]] flag that matches [[bloomPositions]]:
    * xor-fold a full-range hash to 31 bits before the position mixes. */
  def foldWide: Boolean
}

object HashFamily {

  /** The position mix `((2j+3)·g + (5j+7)) mod P mod m` of both lanes. */
  private def mixes(g: Column, mBits: Int, k: Int): Seq[Column] =
    (0 until k).map(j => ((lit(2L * j + 3) * g + lit(5L * j + 7)) % Fixture.FixtureP) % mBits)

  /** Production lane: xxhash64 over chained token hashes, string-free. */
  case object Xxhash extends HashFamily {
    def windowHashes(text: Column, shingle: Int): Column =
      HashExpressions.ngramHashesAll(tokens(text), shingle)

    def windowHashSet(text: Column, shingle: Int): Column =
      HashExpressions.ngramHashes(tokens(text), shingle)

    def minhashSig(text: Column, shingle: Int, numHashes: Int): Column =
      HashExpressions.minhashTokens(tokens(text), shingle, numHashes)

    def bandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
      HashExpressions.bandHashes(sig, bands)

    def simhashSig(text: Column, shingle: Int): Column =
      HashExpressions.simhashTokens(tokens(text), shingle)

    /** The hash is xor-folded to 31 nonnegative bits first, so the mix
      * products stay far under 2^63 (ANSI mode overflow-checks
      * multiplication); the fold costs a vanishing extra collision rate
      * next to the filter's own false-positive rate.
      */
    def bloomPositions(g: Column, mBits: Int, k: Int): Seq[Column] =
      mixes(g.bitwiseXOR(shiftrightunsigned(g, 33)).bitwiseAND(lit(0x7FFFFFFFL)), mBits, k)

    val foldWide: Boolean = true
  }

  /** Oracle lane: per-char polynomial token hash, chained window hash,
    * literal-coefficient LCG finalizers and chained band hash, all mod
    * [[FixtureP]] — one codegen'd kernel each
    * ([[graft.functions.FixtureHashes]]). Window semantics mirror the
    * production kernels (max(1, T-n+1) windows; short texts degrade to one
    * whole-text window). Codepoint-level hashing assumes BMP text (the test
    * corpora are ASCII); the xxhash lane has no such caveat.
    */
  case object Fixture extends HashFamily {

    /** The SQL-replayable modulus: a prime just under 2^30, so every
      * intermediate (`acc*1000003 + v` with acc < p) stays far inside a
      * 64-bit integer on both engines.
      */
    final val FixtureP = 1000000007L

    /** Effective bit width of the simhash signature: the top 64-60 bits
      * are zero, so chunk keys come from plain nonnegative shifts — Spark's
      * `shiftrightunsigned` and DuckDB's `>>` agree on every nonnegative
      * long, with no sign-extension caveat to replay.
      */
    final val SimFixtureBits = 60

    def windowHashes(text: Column, shingle: Int): Column =
      column(FixtureTextHashes(expression(text), shingle, 0))

    def windowHashSet(text: Column, shingle: Int): Column =
      array_distinct(windowHashes(text, shingle))

    def minhashSig(text: Column, shingle: Int, numHashes: Int): Column = {
      require(numHashes > 0) // 0 selects the window hashes in FixtureTextHashes
      column(FixtureTextHashes(expression(text), shingle, numHashes))
    }

    def bandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
      column(FixtureBandHashes(expression(sig), bands, rowsPerBand))

    /** Per-bit parity votes of the window hashes over DISTINCT windows
      * (the production kernel's dedup), summed into a [[SimFixtureBits]]-bit
      * signature.
      */
    def simhashSig(text: Column, shingle: Int): Column =
      column(FixtureSimhashSig(expression(text), shingle, SimFixtureBits))

    /** Gram hashes are already nonnegative and below 2^31: products stay
      * under 2^36, exact in 64-bit arithmetic on both engines. */
    def bloomPositions(g: Column, mBits: Int, k: Int): Seq[Column] = mixes(g, mBits, k)

    val foldWide: Boolean = false

    // ---- DuckDB renderings of the same arithmetic

    /** toks/th/wh CTE chain over `src` (a relation with doc_id, text):
      * [[windowHashes]] per doc as `wh`; `distinct` list_distincts the
      * windows (the [[windowHashSet]] form).
      */
    def windowHashCtes(src: String, shingle: Int, distinct: Boolean): String = {
      val windows =
        s"""list_transform(range(1, greatest(len(th) - ${shingle - 1}, 1) + 1), w ->
                  list_reduce(list_prepend(CAST(0 AS BIGINT), th[w:w+${shingle - 1}]),
                    (a, h) -> (a*1000003 + h) % $FixtureP))"""
      val whExpr = if (distinct) s"list_distinct(\n                $windows)" else windows
      s"""toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM $src),
       th AS (SELECT doc_id, list_transform(w, t ->
                list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(range(1, len(t)+1), i -> CAST(unicode(t[i:i]) AS BIGINT))),
                  (a, c) -> (a*31 + c) % $FixtureP)) AS th FROM toks),
       wh AS (SELECT doc_id, $whExpr AS wh FROM th)"""
    }

    /** [[minhashSig]] of the window-hash list `wh`. */
    def minhashSigSql(wh: String, numHashes: Int): String =
      s"""list_transform(range(0, $numHashes), s ->
                list_min(list_transform($wh, h -> ((s*2+3)*h + (s*5+7)) % $FixtureP)))"""

    /** [[bandHashes]] of the signature list `sig`. */
    def bandHashesSql(sig: String, bands: Int, rowsPerBand: Int): String =
      s"""list_transform(range(0, $bands), b ->
                list_reduce(list_prepend(CAST(0 AS BIGINT), $sig[b*$rowsPerBand+1:b*$rowsPerBand+$rowsPerBand]),
                  (a, v) -> (a*1000003 + v) % $FixtureP))"""

    /** [[simhashSig]] of the DISTINCT window-hash list `wh`. */
    def simhashSigSql(wh: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(range(0, $SimFixtureBits), i ->
                    CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform($wh, h -> (((i*2+3)*h + (i*5+7)) % $FixtureP % 2) * 2 - 1)),
                        (a, v) -> a + v) > 0
                    THEN CAST(2**i AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
                  (a, v) -> a + v)"""

    /** [[bloomPositions]] of the gram `g`. */
    def positionSqls(g: String, mBits: Int, k: Int): Seq[String] =
      (0 until k).map(j => s"(((${2 * j + 3}*$g + ${5 * j + 7}) % $FixtureP) % $mBits)")
  }
}
