package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bloom-filter benchmark decontamination — the 100 TB variant of
  * [[Dedup.ngramContamination]].
  *
  * The exact operator broadcasts the benchmark's distinct n-gram set; at
  * corpus scale that pool can reach hundreds of millions of grams (every
  * eval suite, every contest problem, every held-out shard), and an exact
  * broadcast set stops fitting the executor heap. A Bloom filter holds the
  * SAME membership signal in `mBits` bits — ~10 bits per gram for a 1%
  * false-positive rate — at the cost of a deterministic, quantifiable
  * overcount: false positives only ever INFLATE a doc's contamination
  * fraction, never hide a hit, which is the safe direction for a
  * decontamination gate (you drop slightly more than you must, never less).
  *
  * Scale shape: building the filter is one distinct-aggregate over the
  * benchmark grams (shuffled by position, bounded output ≤ mBits rows)
  * followed by a driver-side bitset of mBits/8 bytes — the WHOLE point is
  * that this is small. Scoring is then a PURE PROJECTION: the doc's gram
  * array is probed by the native `BloomHits` Catalyst expression (the
  * bitmap rides the plan as an `addReferenceObj` long-array, the per-gram
  * O(1) bit tests are emitted by `doGenCode` inside whole-stage codegen —
  * the array-`filter`-HOF form was rejected because HOFs are
  * CodegenFallback; see [[containment]]), so the corpus pass has NO
  * explode, NO join and NO shuffle — which also
  * makes the operator stateless-streamable
  * ([[graft.streaming.GraftStreaming]] `decontaminateStream`). The exact
  * operator needs the relational explode+join shape because its pool is a
  * broadcast TABLE; the bloom probe needs nothing relational at all. For
  * filters past ~10^8 bits, embed-in-plan stops being the right vehicle —
  * keep the exact semi-join path for that regime instead of a broadcast
  * variable + UDF, which would leave codegen.
  *
  * Two hash lanes, one operator: the `family` parameter
  * ([[HashFamily]]) picks the gram identities and the position mixes.
  * [[HashFamily.Xxhash]] (the default) hashes grams with xxhash64 and is
  * gated on rows only. [[HashFamily.Fixture]] uses SQL-replayable modular
  * gram hashes and the mixes `((2j+3)·g + (5j+7)) mod P mod m`, which the
  * DuckDB oracle renders from [[HashFamily.Fixture.positionSqls]] — fully
  * oracle-green, INCLUDING the false positives, which both engines
  * reproduce bit-identically.
  */
object Bloom {

  /** Build the bitmap from an integer hash-array column of a benchmark
    * table: the distinct filter positions of its hashes, collected to a
    * driver bitset. Driver state is bounded by mBits/64 longs REGARDLESS
    * of pool size — that bound is the operator's reason to exist. The
    * winnow lanes pass winnowed FINGERPRINTS (an expected 2/(w+1) of the
    * grams) instead of raw gram hashes.
    */
  private[graft] def buildBitsFromHashes(benchmark: DataFrame, hashArr: Column,
      posOf: Column => Seq[Column], mBits: Int): Array[Long] = {
    require(mBits > 0 && mBits % 64 == 0, s"mBits must be a positive multiple of 64, got $mBits")
    val words = new Array[Long](mBits / 64)
    benchmark
      .select(explode(hashArr).as("__g"))
      .select(explode(array(posOf(col("__g")): _*)).as("__pos"))
      .distinct()
      .collect()
      .foreach { r =>
        val p = r.getLong(0).toInt
        words(p >> 6) |= 1L << (p & 63)
      }
    words
  }

  /** The bloom-containment fraction of a DISTINCT fingerprint array: the
    * share of its fps whose k filter positions are all set, rounded to
    * 6 dp. The probe is the native [[graft.functions.BloomHits]]
    * expression (one codegen'd loop of O(1) bit tests, the bitmap riding
    * the generated class as a referenced object); a `filter` HOF counts
    * the same through interpreted lambda eval, measured equivalent at
    * corpus scale (gram hashing dominates), and stays out for the
    * no-codegen-fallback discipline. The divisor is
    * `greatest(size, 1)` rather than a `when` guard: an empty array
    * still scores 0.0, a null one NULL, and with no conditional in the
    * way subexpression elimination evaluates a twice-referenced `fps`
    * once. The one scoring definition of every bloom lane (n-gram,
    * winnow, content-defined chunks; batch and streaming).
    */
  private[operators] def containment(fps: Column, bits: Array[Long], mBits: Int, k: Int,
      foldWide: Boolean): Column =
    round(graft.functions.HashExpressions.bloomHits(fps, bits, mBits, k, foldWide)
      .cast("double") / greatest(size(fps), lit(1)), 6)

  /** (idCol, `name`) in TWO chained projections: the fingerprint array
    * materializes under a name first, then [[containment]] reads that
    * column. CollapseProject keeps the split (the array is non-cheap and
    * referenced twice), so the tokenize+hash work runs once per row
    * whatever the fingerprint expression holds (lambdas included).
    */
  private[operators] def score(corpus: DataFrame, idCol: String, fps: Column, name: String,
      bits: Array[Long], mBits: Int, k: Int, foldWide: Boolean): DataFrame =
    corpus.select(col(idCol), fps.as("__grams"))
      .select(col(idCol),
        containment(col("__grams"), bits, mBits, k, foldWide).as(name))

  /** Output: (idCol, contamination_bloom) — one projection over the
    * corpus, zero shuffles.
    */
  def ngramContaminationBloom(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, shingle: Int = 3,
      mBits: Int = 1 << 20, k: Int = 3,
      family: HashFamily = HashFamily.Xxhash): DataFrame = {
    val grams = family.windowHashSet(_: Column, shingle)
    val bits = buildBitsFromHashes(benchmark, grams(col(textCol)),
      family.bloomPositions(_, mBits, k), mBits)
    score(corpus, idCol, grams(col(textCol)), "contamination_bloom", bits, mBits, k,
      family.foldWide)
  }

  /** The production-lane scoring expression against a pre-built filter —
    * the streaming entry point: build once from the static benchmark,
    * then score rows statelessly. The gram array sits inline, referenced
    * twice, and subexpression elimination evaluates it once; for a batch
    * table prefer [[ngramContaminationBloom]].
    */
  def contaminationColumn(text: Column, bits: Array[Long], shingle: Int,
      mBits: Int, k: Int): Column =
    containment(HashFamily.Xxhash.windowHashSet(text, shingle), bits, mBits, k,
      HashFamily.Xxhash.foldWide)

  /** Build the production-lane filter from a static benchmark table. */
  def buildFilter(benchmark: DataFrame, textCol: String, shingle: Int = 3,
      mBits: Int = 1 << 20, k: Int = 3): Array[Long] =
    buildBitsFromHashes(benchmark,
      HashFamily.Xxhash.windowHashSet(col(textCol), shingle),
      HashFamily.Xxhash.bloomPositions(_, mBits, k), mBits)
}
