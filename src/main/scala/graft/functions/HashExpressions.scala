package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression,
  UnsafeArrayData, XXH64}
import org.apache.spark.sql.GraftBridge.InputType
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen expressions for the LSH/dedup hot path.
  *
  * The HOF formulation of a 64-hash MinHash signature is 64 independent
  * `transform` passes over the shingle array (64 lambda frames per shingle);
  * SimHash's per-bit vote is 64 `aggregate` passes. At corpus scale
  * (billions of documents × hundreds of shingles) signature computation
  * dominates the dedup job. These expressions make each signature ONE pass
  * over the shingles: the shingle is hashed once (xxHash64, the same
  * primitive behind Spark's `xxhash64`), and the k derived hashes come from
  * re-seeding the finalizer on that 8-byte value — standard
  * "one hash + k rehashes" MinHash (Broder's scheme as used in
  * Spark MLlib's MinHashLSH, mllib/feature/MinHashLSH.scala).
  *
  * Every kernel here has ONE body: its algorithm is a method on a
  * top-level runtime object ([[HashRuntime]] for the signature kernels,
  * the object of the same name for the rest), and both `nullSafeEval`
  * and the generated code call that method — so eval and codegen agree
  * by construction.
  *
  * (Capability surface: extension ops beyond the reference, which has no
  * scalar/hash library at all — SURVEY.md §2.8.)
  */
abstract class ShingleHashExpression extends UnaryExpression with ExpectsInputTypes {
  override def nullable: Boolean = true

  override def inputTypes: Seq[InputType] = Seq(ArrayType(StringType))
}

/** minhash(shingles, k): array<long> of per-seed minima in one pass. Empty
  * or all-null input yields Long.MaxValue sentinels (no shingles = matches
  * nothing).
  */
case class MinHashSignatures(child: Expression, numHashes: Int)
    extends ShingleHashExpression {
  override def prettyName: String = "graft_minhash"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    HashRuntime.minhash(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, arr => s"graft.functions.HashRuntime.minhash($arr, $numHashes)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** minhash_tokens(tokens, n, k): MinHash signature over word n-gram
  * shingles WITHOUT materializing shingle strings. Each token is hashed
  * once; a window's hash chains its n token hashes; k minima come from
  * re-seeded finalizers. O(T·(n+k)) with zero string allocation — vs the
  * compose-strings path that builds and hashes a `n`-token string per
  * window (O(T·n·len) bytes touched plus allocator pressure). Duplicate
  * windows can't change a minimum, so no distinct pass is needed.
  * Fewer than n tokens degrade to one whole-text window (mirrors
  * `wordShingles`' short-text behavior).
  */
case class MinHashTokens(child: Expression, n: Int, numHashes: Int)
    extends ShingleHashExpression {
  require(n > 0 && numHashes > 0)
  override def prettyName: String = "graft_minhash_tokens"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    HashRuntime.minhashTokens(input.asInstanceOf[ArrayData], n, numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, arr =>
      s"graft.functions.HashRuntime.minhashTokens($arr, $n, $numHashes)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** ngram_hashes(tokens, n): the DISTINCT chained-hash identities of the
  * token array's n-gram windows, sorted ascending — the string-free dual
  * of `array_distinct(wordShingles(text, n))` for joins that only need
  * shingle IDENTITY (containment, jaccard): no shingle strings are ever
  * concatenated. Windows mirror `wordShingles`' short-text fallback
  * (fewer than n tokens → one window over what's there). 64-bit hashes
  * stand in for string equality; a collision would need ~2^32 distinct
  * shingles per doc to matter.
  */
case class NgramHashes(child: Expression, n: Int, dedupe: Boolean = true)
    extends ShingleHashExpression {
  require(n > 0)
  override def prettyName: String = "graft_ngram_hashes"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    HashRuntime.ngramHashes(input.asInstanceOf[ArrayData], n, dedupe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, arr => s"graft.functions.HashRuntime.ngramHashes($arr, $n, $dedupe)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** simhash(shingles): 64-bit signature via per-bit majority vote of shingle
  * hashes, one pass. Empty input hashes to 0.
  */
case class SimHash64(child: Expression) extends ShingleHashExpression {
  override def prettyName: String = "graft_simhash"
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    HashRuntime.simhash(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, arr => s"graft.functions.HashRuntime.simhash($arr)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** simhash_tokens(tokens, n): SimHash over word n-gram windows without
  * building shingle strings. Window hashes are chained token hashes (as in
  * [[MinHashTokens]]); unlike MinHash, SimHash votes are multiplicity-
  * sensitive, so duplicate windows are removed by sorting the window-hash
  * array and skipping runs — mirroring the `array_distinct(wordShingles)`
  * semantics of the string path.
  */
case class SimHashTokens(child: Expression, n: Int) extends ShingleHashExpression {
  require(n > 0)
  override def prettyName: String = "graft_simhash_tokens"
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    HashRuntime.simhashTokens(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, arr => s"graft.functions.HashRuntime.simhashTokens($arr, $n)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** band_hashes(signature, bands): chain-hash each contiguous signature band
  * of `len/bands` longs down to one 64-bit bucket key — the LSH banding
  * step without the array-slice + string-cast detour. A signature that
  * does not split into `bands` bands of at least one long is rejected.
  */
case class BandHashes(child: Expression, bands: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "graft_band_hashes"
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def inputTypes: Seq[InputType] = Seq(ArrayType(LongType))

  override def nullSafeEval(input: Any): Any =
    HashRuntime.bandHashes(input.asInstanceOf[ArrayData], bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, arr => s"graft.functions.HashRuntime.bandHashes($arr, $bands)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Bloom-filter hit count over an array of gram hashes: how many grams
  * have ALL k filter positions set in the `words` bitset. The scoring
  * kernel of [[graft.operators.Bloom]] — a higher-order `filter` would be
  * CodegenFallback (interpreted per gram), while this is one codegen'd
  * call with O(1) bit tests per gram; the bitmap rides the generated
  * class as a referenced object, not a plan literal.
  *
  * Position arithmetic is EXACTLY the operator's two lanes: `foldWide`
  * xor-folds a full-range 64-bit hash to 31 nonnegative bits first (the
  * production xxhash lane); without it the input must already be a
  * sub-2^31 nonnegative hash (the SQL-replayable fixture lane, mixes
  * mirrored in Bloom.positionSqls).
  */
case class BloomHits(child: Expression, words: Array[Long], mBits: Int, k: Int,
    foldWide: Boolean) extends UnaryExpression with ExpectsInputTypes {
  require(mBits > 0 && mBits % 64 == 0 && words.length == mBits / 64,
    s"words must hold exactly mBits/64 longs (mBits=$mBits, got ${words.length})")
  require(k > 0, s"k must be positive, got $k — k=0 would count EVERY gram as a hit")
  override def prettyName: String = "graft_bloom_hits"
  override def nullable: Boolean = true
  override def dataType: DataType = IntegerType

  override def inputTypes: Seq[InputType] = Seq(ArrayType(LongType))

  override def nullSafeEval(input: Any): Any =
    HashRuntime.bloomHits(input.asInstanceOf[ArrayData], words, mBits, k, foldWide)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val w = ctx.addReferenceObj("bloomWords", words, "long[]")
    defineCodeGen(ctx, ev, arr =>
      s"graft.functions.HashRuntime.bloomHits($arr, $w, $mBits, $k, $foldWide)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Unicode NFC normalization (no Spark built-in exists). Composed
  * sequences compare equal across sources — required before fingerprint/
  * dedup of multi-source corpora.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "graft_nfc"
  override def nullable: Boolean = true
  override def dataType: DataType = StringType

  override def inputTypes: Seq[InputType] = Seq(StringType)

  override def nullSafeEval(input: Any): Any = HashRuntime.nfc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, in => s"graft.functions.HashRuntime.nfc($in)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** agreement(a, b): fraction of positions where two equal-length
  * array<long> signatures agree — the MinHash Jaccard estimate — in one
  * fused loop instead of `aggregate(zip_with(...))`.
  */
case class SignatureAgreement(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with ExpectsInputTypes {
  override def prettyName: String = "graft_sig_agreement"
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType

  override def inputTypes: Seq[InputType] = Seq(ArrayType(LongType), ArrayType(LongType))

  override def nullSafeEval(l: Any, r: Any): Any =
    HashRuntime.agreement(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashRuntime.agreement($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** first_agree_pos(a, b): the 1-based position of the FIRST index where
  * two array<long> signatures agree, 0 when none does — value-identical
  * to `array_position(zip_with(a, b, (x, y) -> x = y), true)` on every
  * input (spec-pinned): positions past the shorter array and null slots
  * never agree, since `x = y` is null there, not true.
  * That composition is the exact-once dedup condition of the LSH bucket
  * join (a pair colliding in k bands keeps only its first-agreeing-band
  * copy), and as a JOIN CONDITION it ran INTERPRETED per collision row:
  * higher-order functions are CodegenFallback, so every (band, bucket)
  * collision paid a lambda-frame zip_with + array build + array_position
  * scan (r16 ProbeMinhash: the candidates stage was 1.2 s of the 1.5 s
  * x16 pipeline). This kernel is one fused loop with an early exit.
  */
case class FirstAgreePos(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with ExpectsInputTypes {
  override def prettyName: String = "graft_first_agree_pos"
  override def nullable: Boolean = true
  override def dataType: DataType = LongType

  override def inputTypes: Seq[InputType] = Seq(ArrayType(LongType), ArrayType(LongType))

  override def nullSafeEval(l: Any, r: Any): Any =
    HashRuntime.firstAgreePos(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashRuntime.firstAgreePos($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** bin_length(x): `length(bin(x))` as pure integer arithmetic —
  * 64 − numberOfLeadingZeros(x) (1 for x = 0; 64 for negatives, whose
  * two's-complement rendering always fills 64 digits) — value-identical
  * to Spark's `length(bin(x))` and DuckDB's `len(bin(x))` on BIGINT for
  * EVERY long (spec-pinned across 0, ±1, powers of two, Long.Min/Max,
  * random). The whole-bits surprisal family (|bin| ilog2, LanguageModel)
  * evaluates this per TOKEN TRANSITION per model: the builtin chain
  * allocates a up-to-64-char UTF8String per call just to read its
  * length, this kernel is a single branch-free intrinsic (r15).
  */
case class BinLength(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "graft_bin_length"
  override def nullable: Boolean = child.nullable
  override def dataType: DataType = IntegerType

  override def inputTypes: Seq[InputType] = Seq(LongType)

  override def nullSafeEval(input: Any): Any = HashRuntime.binLength(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.functions.HashRuntime.binLength($v)")

  override protected def withNewChildInternal(newChild: Expression): BinLength =
    copy(child = newChild)
}

/** phash(payload, bits): integer average-hash (aHash) perceptual signature
  * of a binary payload. The payload's bytes are partitioned into `bits`
  * contiguous cells (cell of byte i = i*bits div n — the integer
  * downsample an 8x8 aHash does over pixels); bit c is set iff cell c's
  * byte mean exceeds the payload mean, compared by exact integer
  * cross-multiplication (cellSum*n > totalSum*cellCount — no division, no
  * floats), so a DuckDB oracle replays every bit. Near-identical payloads
  * flip few cells, so Hamming distance over the signature is the
  * perceptual near-dup metric; `bits` <= 60 keeps the signature a
  * NONNEGATIVE long (the SimFixtureBits discipline: both engines agree on
  * plain `>>` chunk keys with no sign-extension caveat).
  *
  * Exactness bound: the cross-products stay inside a signed 64-bit long
  * for payloads up to ~1.5 GB (255*n*(n/bits+1) < 2^63) — far beyond any
  * sane single-row media payload. Empty payloads hash to 0.
  */
case class PhashBytes(child: Expression, bits: Int) extends UnaryExpression with ExpectsInputTypes {
  require(bits > 0 && bits <= 60, s"bits must be in [1, 60], got $bits")
  override def prettyName: String = "graft_phash"
  override def nullable: Boolean = true
  override def dataType: DataType = LongType

  override def inputTypes: Seq[InputType] = Seq(BinaryType)

  override def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[Array[Byte]]
    PhashBytes.hash(b, bits)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      val helper = PhashBytes.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $helper.hash($in, $bits);"
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object PhashBytes {
  /** Shared by eval and codegen — ONE definition of the arithmetic. */
  def hash(bytes: Array[Byte], bits: Int): Long = {
    val n = bytes.length
    if (n == 0) return 0L
    var tot = 0L
    val cs = new Array[Long](bits)
    val cc = new Array[Long](bits)
    var i = 0
    while (i < n) {
      val v = (bytes(i) & 0xff).toLong
      val c = ((i.toLong * bits) / n).toInt
      cs(c) += v
      cc(c) += 1
      tot += v
      i += 1
    }
    var sig = 0L
    var c = 0
    while (c < bits) {
      if (cs(c) * n > tot * cc(c)) sig |= 1L << c
      c += 1
    }
    sig
  }
}

/** Acoustic fingerprint of a PCM-ish sample stream: `bits`+1 equal-span
  * frames over the stream, per-frame energy E_f = Σ v², signature bit c =
  * [E_{c+1} > E_c] — the sign-of-delta-energy discipline of the classic
  * audio fingerprints (Haitsma–Kalker / Chromaprint's coarsest band),
  * reduced to its integer core. Unlike [[PhashBytes]] (cell mean vs
  * global mean) this hashes the energy CONTOUR, so it is invariant under
  * amplitude scaling (E scales by k² uniformly; strict comparisons are
  * unchanged) — the property an audio near-dup signature needs that an
  * image hash does not.
  *
  * Byte payloads hash their unsigned byte values as samples (the
  * ASCII-fixture oracle replays this arithmetic character-by-character);
  * the decoded lane ([[graft.operators.Multimodal.audioFingerprintDecoded]])
  * feeds real 16-bit PCM through [[AudioFingerprint.hashSamples]] — ONE
  * energy/bit definition for both. Exactness bound: E_f ≤ 32768²·len/frames
  * stays inside a signed long for any payload under ~8 GB of 16-bit
  * samples. Empty payloads hash to 0; `bits` ≤ 60 keeps the signature a
  * nonnegative long (the SimFixtureBits chunk-key discipline).
  */
case class AudioFingerprint(child: Expression, bits: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(bits > 0 && bits <= 60, s"bits must be in [1, 60], got $bits")
  override def prettyName: String = "graft_audio_fingerprint"
  override def nullable: Boolean = true
  override def dataType: DataType = LongType

  override def inputTypes: Seq[InputType] = Seq(BinaryType)

  override def nullSafeEval(input: Any): Any =
    AudioFingerprint.hashBytes(input.asInstanceOf[Array[Byte]], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      val helper = AudioFingerprint.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $helper.hashBytes($in, $bits);"
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object AudioFingerprint {
  /** Bytes-as-samples lane (unsigned byte values): one pass, no
    * intermediate array — shared by eval and codegen. */
  def hashBytes(bytes: Array[Byte], bits: Int): Long = {
    val n = bytes.length
    if (n == 0) return 0L
    val frames = bits + 1
    val e = new Array[Long](frames)
    var i = 0
    while (i < n) {
      val v = (bytes(i) & 0xff).toLong
      e(((i.toLong * frames) / n).toInt) += v * v
      i += 1
    }
    fromEnergies(e, bits)
  }

  /** Decoded-PCM lane (signed samples, any bit depth that fits an Int). */
  def hashSamples(samples: Array[Int], bits: Int): Long = {
    val n = samples.length
    if (n == 0) return 0L
    val frames = bits + 1
    val e = new Array[Long](frames)
    var i = 0
    while (i < n) {
      val v = samples(i).toLong
      e(((i.toLong * frames) / n).toInt) += v * v
      i += 1
    }
    fromEnergies(e, bits)
  }

  /** ONE definition of the bit rule for every lane. */
  def fromEnergies(e: Array[Long], bits: Int): Long = {
    var sig = 0L
    var c = 0
    while (c < bits) {
      if (e(c + 1) > e(c)) sig |= 1L << c
      c += 1
    }
    sig
  }
}

/** Single-pass integer audio statistics of a sample stream:
  * `n_samples`, total `energy` = Σ v², and `mean_crossings` — the
  * zero-crossing-rate numerator computed against the stream's own mean
  * (sign changes of v_i·n − Σv between consecutive samples; exact
  * integer cross-multiplication, no division). For unsigned byte
  * payloads a plain zero-crossing count is degenerate (all values
  * nonnegative), so crossing the MEAN is the informative rate — high
  * for noisy/oscillating signals, near zero for flat ones. Sign-based
  * comparison (never a product of two cross-multiplied terms) keeps the
  * arithmetic overflow-free for any payload under ~2⁵⁶ total amplitude.
  */
case class AudioStatsBytes(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "graft_audio_stats"
  override def nullable: Boolean = true
  override def dataType: DataType = AudioStatsBytes.schema

  override def inputTypes: Seq[InputType] = Seq(BinaryType)

  override def nullSafeEval(input: Any): Any =
    AudioStatsBytes.stats(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      val helper = AudioStatsBytes.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $helper.stats($in);"
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object AudioStatsBytes {
  val schema: StructType = StructType(Seq(
    StructField("n_samples", LongType), StructField("energy", LongType),
    StructField("mean_crossings", LongType)))

  def stats(bytes: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow = {
    val n = bytes.length
    var tot = 0L
    var energy = 0L
    var i = 0
    while (i < n) {
      val v = (bytes(i) & 0xff).toLong
      tot += v
      energy += v * v
      i += 1
    }
    var crossings = 0L
    if (n > 1) {
      var prev = bytes(0).toLong
      prev = ((prev & 0xff)) * n - tot
      i = 1
      while (i < n) {
        val cur = (bytes(i) & 0xff).toLong * n - tot
        if ((cur > 0 && prev < 0) || (cur < 0 && prev > 0)) crossings += 1
        prev = cur
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n.toLong, energy, crossings))
  }
}

/** Integer surprisal total of a byte stream under its OWN byte
  * distribution — the transcendental-free Shannon-entropy stand-in (the
  * q_lm_score whole-bits discipline applied at byte level):
  *
  *   num = Σ_b f_b · (|bin(n)| − |bin(f_b)|),  |bin(x)| = 64 − nlz(x)
  *
  * num/n approximates H(bytes) in bits/byte within 1 bit (each term is
  * floor-log2 of n/f_b). All-integer ⇒ a DuckDB oracle replays it
  * exactly. High values flag base64/compressed/random payloads, low
  * values flag degenerate repetition — the standard cheap corpus-quality
  * cut at both tails. One pass, 256-long histogram, codegen'd.
  */
case class ByteEntropyBits(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "graft_byte_entropy_bits"
  override def nullable: Boolean = true
  override def dataType: DataType = LongType

  override def inputTypes: Seq[InputType] = Seq(BinaryType)

  override def nullSafeEval(input: Any): Any =
    ByteEntropyBits.num(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      val helper = ByteEntropyBits.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $helper.num($in);"
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object ByteEntropyBits {
  /** Shared by eval and codegen — ONE definition of the arithmetic. */
  def num(bytes: Array[Byte]): Long = {
    val n = bytes.length
    if (n == 0) return 0L
    val f = new Array[Long](256)
    var i = 0
    while (i < n) { f(bytes(i) & 0xff) += 1; i += 1 }
    val ln = 64 - java.lang.Long.numberOfLeadingZeros(n.toLong)
    var s = 0L
    var b = 0
    while (b < 256) {
      val c = f(b)
      if (c > 0) s += c * (ln - (64 - java.lang.Long.numberOfLeadingZeros(c)))
      b += 1
    }
    s
  }
}

/** Single-pass language-ID heuristic — semantically IDENTICAL to the
  * Column composition it replaced (script-range char ratios → stopword
  * ratios → the same strictly-greater fold and threshold chain, same
  * double arithmetic, q_langid's oracle unchanged), but one pass: the
  * x16 sweep caught the HOF form at 16.7 s for 80k docs (6 interpreted
  * `filter(toks, isin(20 words))` passes + 4 char-class regex replaces
  * per document — language-ID runs over EVERY document at 100 TB, so
  * 0.2 ms/doc is a real corpus-pass cost). Here: one codepoint loop for
  * the script counts, one whitespace split with a shared stopword→langs
  * hash map for all six ratios.
  */
case class LangIdHeuristic(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "graft_langid"
  override def nullable: Boolean = true
  override def dataType: DataType = StringType

  override def inputTypes: Seq[InputType] = Seq(StringType)

  override def nullSafeEval(input: Any): Any =
    LangIdHeuristic.id(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      val helper = LangIdHeuristic.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $helper.id($in);"
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object LangIdHeuristic {
  private val Langs = Array("en", "de", "fr", "es", "it", "pt")
  // word → indexes of every language whose stopword list contains it
  // (e.g. "la" is fr AND es AND it) — built once from the SAME lists the
  // oracle SQL interpolates
  private lazy val stopLangs: java.util.HashMap[String, Array[Int]] = {
    val lists = Array(TextFunctions.EnStop, TextFunctions.DeStop, TextFunctions.FrStop,
      TextFunctions.EsStop, TextFunctions.ItStop, TextFunctions.PtStop)
    val m = new java.util.HashMap[String, Array[Int]]()
    for (i <- lists.indices; w <- lists(i)) {
      val prev = Option(m.get(w)).getOrElse(Array.empty[Int])
      m.put(w, prev :+ i)
    }
    m
  }

  /** Shared by eval and codegen — ONE definition of the heuristic.
    * Mirrors `lower(trim(text))` exactly: UTF8String.trim (spaces only,
    * like Catalyst StringTrim) then UTF8String.toLowerCase.
    */
  def id(raw: UTF8String): UTF8String = {
    val t = raw.trim().toLowerCase.toString
    // script counts over CODEPOINTS (length()/regexp_replace count
    // codepoints, so the ratios must too)
    var nChars = 0L
    var han = 0L; var kana = 0L; var hangul = 0L; var cyr = 0L
    var ci = 0
    while (ci < t.length) {
      val cp = t.codePointAt(ci)
      nChars += 1
      if (cp >= 0x4e00 && cp <= 0x9fff) han += 1
      else if (cp >= 0x3040 && cp <= 0x30ff) kana += 1
      else if (cp >= 0xac00 && cp <= 0xd7af) hangul += 1
      else if (cp >= 0x0400 && cp <= 0x04ff) cyr += 1
      ci += Character.charCount(cp)
    }
    val nc = math.max(nChars, 1L).toDouble
    // tokens: split("\s+") on the trimmed lowered string — after trim
    // there are no boundary whitespace runs, so Java split == Spark split
    // here ("" still yields the single empty token both ways)
    val toks = t.split("\\s+", -1)
    val nWords = math.max(toks.length, 1L).toDouble
    val hits = new Array[Long](Langs.length)
    var wi = 0
    while (wi < toks.length) {
      val ls = stopLangs.get(toks(wi))
      if (ls != null) { var j = 0; while (j < ls.length) { hits(ls(j)) += 1; j += 1 } }
      wi += 1
    }
    // the SAME strictly-greater fold (ties keep the EARLIER language)
    var bestIdx = 0
    var bestScore = hits(0) / nWords
    var li = 1
    while (li < Langs.length) {
      val s = hits(li) / nWords
      if (s > bestScore) { bestIdx = li; bestScore = s }
      li += 1
    }
    val out =
      if (kana / nc > 0.05) "ja"
      else if (hangul / nc > 0.05) "ko"
      else if (han / nc > 0.05) "zh"
      else if (cyr / nc > 0.3) "ru"
      else if (bestScore > 0.0) Langs(bestIdx)
      else "und"
    UTF8String.fromString(out)
  }
}

/** Single-pass quality-features struct — semantically IDENTICAL to the
  * Column composition it replaced (TextFunctions.qualityFeatures r1-r8:
  * trim → codepoint counts for chars/letters/ASCII-punct, whitespace
  * split for word count / lowercased-stopword hits / distinct tokens,
  * the same greatest(·,1.0) guards and double divisions — q_quality's
  * oracle unchanged), but ONE pass instead of two char-class
  * `regexp_replace` passes plus an interpreted `filter(toks, isin(20
  * words))` HOF pass per document. Same x16-sweep rationale as
  * [[LangIdHeuristic]]: quality scoring runs over EVERY document, so
  * per-document interpreted passes are a full-corpus-pass cost at
  * 100 TB.
  *
  * Char classes mirror the Java-regex semantics the composition used
  * (Spark compiles `regexp_replace` patterns with default flags):
  * `\p{L}` = Character.isLetter's five L* categories; `\p{Punct}` =
  * the 32-char POSIX ASCII set. Per-token lowercase mirrors Spark's
  * `lower` (UTF8String.toLowerCase: ASCII fast path, full mapping
  * otherwise).
  */
case class QualityFeaturesExpr(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "graft_quality_features"
  override def nullable: Boolean = true
  override def dataType: DataType = QualityFeaturesExpr.schema

  override def inputTypes: Seq[InputType] = Seq(StringType)

  override def nullSafeEval(input: Any): Any =
    QualityFeaturesExpr.features(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      val helper = QualityFeaturesExpr.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $helper.features($in);"
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object QualityFeaturesExpr {
  val schema: StructType = StructType(Seq(
    StructField("n_chars", DoubleType), StructField("n_words", DoubleType),
    StructField("alpha_ratio", DoubleType), StructField("punct_ratio", DoubleType),
    StructField("stopword_ratio", DoubleType), StructField("mean_word_len", DoubleType),
    StructField("distinct_ratio", DoubleType)))

  private val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    TextFunctions.EnStop.foreach(s.add)
    s
  }

  // Java \p{Punct}: !"#$%&'()*+,-./ : ;<=>?@ [\]^_` {|}~ (ASCII-only
  // under default Pattern flags, which is what regexp_replace compiles)
  private def isAsciiPunct(cp: Int): Boolean =
    (cp >= 33 && cp <= 47) || (cp >= 58 && cp <= 64) ||
      (cp >= 91 && cp <= 96) || (cp >= 123 && cp <= 126)

  /** Spark `lower` on one token: ASCII fast path, UTF8String full
    * mapping otherwise — exactly UTF8String.toLowerCase's strategy.
    */
  private def lowerLikeSpark(w: String): String = {
    var i = 0
    var ascii = true
    while (ascii && i < w.length) { if (w.charAt(i) >= 0x80) ascii = false; i += 1 }
    if (ascii) {
      val a = new Array[Char](w.length)
      var j = 0
      while (j < w.length) {
        val c = w.charAt(j)
        a(j) = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
        j += 1
      }
      new String(a)
    } else UTF8String.fromString(w).toLowerCase.toString
  }

  /** Shared by eval and codegen — ONE definition of the features. */
  def features(raw: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    // mirrors trim(text): UTF8String.trim (spaces only, like Catalyst
    // StringTrim); counts are over CODEPOINTS like length/regexp_replace
    val t = raw.trim().toString
    var nChars = 0L; var alpha = 0L; var punct = 0L
    var ci = 0
    while (ci < t.length) {
      val cp = t.codePointAt(ci)
      nChars += 1
      if (Character.isLetter(cp)) alpha += 1
      else if (isAsciiPunct(cp)) punct += 1
      ci += Character.charCount(cp)
    }
    // tokens(trim(text)): split("\s+") on the trimmed string — no
    // boundary whitespace runs left, so Java split == Spark split here
    // ("" still yields the single empty token both ways)
    val toks = t.split("\\s+", -1)
    var stop = 0L
    val seen = new java.util.HashSet[String](math.max(16, toks.length * 2))
    var wi = 0
    while (wi < toks.length) {
      val w = toks(wi)
      seen.add(w)
      if (stopSet.contains(lowerLikeSpark(w))) stop += 1
      wi += 1
    }
    val ncD = nChars.toDouble
    val nwD = toks.length.toDouble
    val ncG = math.max(ncD, 1.0)
    val nwG = math.max(nwD, 1.0)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      ncD, nwD, alpha.toDouble / ncG, punct.toDouble / ncG,
      stop.toDouble / nwG, ncD / nwG, seen.size.toDouble / nwG))
  }
}

/** Native kernels for the FIXTURE hash family (the DuckDB-replayable
  * integer chains behind q_dedup_minhash_fixed / q_dedup_simhash_fixed /
  * q_contamination_bloom: per-char polynomial token hash, chained k-gram
  * window hash, LCG-finalized minhash/simhash, chained band hash — all
  * mod 1000000007).
  *
  * Bit-identical to the HOF Column compositions they replaced (kept
  * verbatim in FixtureHashEquivalenceSpec as the reference
  * implementation): same trim/split tokenization, codepoint-level char
  * chain, max(1, T-n+1) window rule, strictly-positive simhash votes,
  * and modular coefficients — so every fixture oracle replays unchanged.
  * The HOF forms were interpreted (nested ArrayAggregate/ArrayTransform
  * evaluate per-lambda-frame, no codegen): the round-9 x16 robustness
  * sweep caught a fixture signature pass pinning 32 cores for minutes on
  * 160k docs, which also taxed every per-round Verify. One codegen'd
  * pass per document now, same shape as the production xxhash kernels.
  */
object FixtureHashes {
  private final val P = graft.operators.HashFamily.Fixture.FixtureP

  /** Chained window hashes: per-token char chain (a*31+cp)%P over the
    * codepoints of each whitespace token of trim(text), then per-window
    * chain (a*1000003+h)%P over `shingle`-length slices; max(1, T-n+1)
    * windows (short texts degrade to one whole-text window).
    */
  def windowHashes(raw: UTF8String, shingle: Int): Array[Long] = {
    val t = raw.trim().toString
    val toks = t.split("\\s+", -1)
    val th = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) {
      val tok = toks(i)
      var a = 0L
      var ci = 0
      while (ci < tok.length) {
        val cp = tok.codePointAt(ci)
        a = (a * 31 + cp) % P
        ci += Character.charCount(cp)
      }
      th(i) = a
      i += 1
    }
    val nWin = math.max(th.length - (shingle - 1), 1)
    val wh = new Array[Long](nWin)
    var w = 0
    while (w < nWin) {
      var a = 0L
      var j = w
      val end = math.min(w + shingle, th.length)
      while (j < end) { a = (a * 1000003 + th(j)) % P; j += 1 }
      wh(w) = a
      w += 1
    }
    wh
  }

  def windowHashArray(raw: UTF8String, shingle: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(windowHashes(raw, shingle))

  /** MinHash: sig(s) = min over windows of ((2s+3)·h + (5s+7)) % P. */
  def minhashSig(raw: UTF8String, shingle: Int, numHashes: Int): ArrayData = {
    val wh = windowHashes(raw, shingle)
    val sig = new Array[Long](numHashes)
    var s = 0
    while (s < numHashes) {
      val m1 = s.toLong * 2 + 3
      val m2 = s.toLong * 5 + 7
      var mn = Long.MaxValue
      var w = 0
      while (w < wh.length) {
        val v = (m1 * wh(w) + m2) % P
        if (v < mn) mn = v
        w += 1
      }
      sig(s) = mn
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** SimHash: per-bit ±1 votes of the DISTINCT window hashes under the
    * same LCG finalizers, bit set iff the vote is strictly positive;
    * 60 bits (SimFixtureBits) so chunk keys shift nonnegatively.
    */
  def simhashSig(raw: UTF8String, shingle: Int, bits: Int): Long = {
    val wh = windowHashes(raw, shingle)
    // dedupe once (array_distinct in the HOF form); votes are sums, so
    // first-occurrence order is irrelevant
    val seen = new java.util.HashSet[java.lang.Long](math.max(16, wh.length * 2))
    val dw = new Array[Long](wh.length)
    var nd = 0
    var w = 0
    while (w < wh.length) {
      if (seen.add(wh(w))) { dw(nd) = wh(w); nd += 1 }
      w += 1
    }
    var sig = 0L
    var i = 0
    while (i < bits) {
      val m1 = i.toLong * 2 + 3
      val m2 = i.toLong * 5 + 7
      var vote = 0L
      var d = 0
      while (d < nd) {
        vote += ((m1 * dw(d) + m2) % P % 2) * 2 - 1
        d += 1
      }
      if (vote > 0) sig |= 1L << i
      i += 1
    }
    sig
  }

  /** Per-band chained hash over a signature array: (a*1000003+v)%P. The
    * signature must hold exactly `bands × rowsPerBand` entries.
    */
  def bandHashes(sig: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    HashRuntime.requireBanded(sig, bands, rowsPerBand)
    val s = sig.toLongArray()
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var a = 0L
      var j = b * rowsPerBand
      val end = j + rowsPerBand
      while (j < end) { a = (a * 1000003 + s(j)) % P; j += 1 }
      out(b) = a
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** String → array<long> fixture kernels ([[FixtureHashes]]); `mode`
  * selects windowHashes or the minhash signature.
  */
case class FixtureTextHashes(child: Expression, shingle: Int, numHashes: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(shingle > 0)
  override def prettyName: String =
    if (numHashes == 0) "graft_fixture_window_hashes" else "graft_fixture_minhash_sig"
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def inputTypes: Seq[InputType] = Seq(StringType)

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    if (numHashes == 0) FixtureHashes.windowHashArray(s, shingle)
    else FixtureHashes.minhashSig(s, shingle, numHashes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      val helper = FixtureHashes.getClass.getName.stripSuffix("$") + "$.MODULE$"
      if (numHashes == 0)
        s"${ev.value} = $helper.windowHashArray($in, $shingle);"
      else
        s"${ev.value} = $helper.minhashSig($in, $shingle, $numHashes);"
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** String → long fixture simhash signature ([[FixtureHashes.simhashSig]]). */
case class FixtureSimhashSig(child: Expression, shingle: Int, bits: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(shingle > 0 && bits > 0 && bits < 63)
  override def prettyName: String = "graft_fixture_simhash_sig"
  override def nullable: Boolean = true
  override def dataType: DataType = LongType

  override def inputTypes: Seq[InputType] = Seq(StringType)

  override def nullSafeEval(input: Any): Any =
    FixtureHashes.simhashSig(input.asInstanceOf[UTF8String], shingle, bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      val helper = FixtureHashes.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $helper.simhashSig($in, $shingle, $bits);"
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** array<long> signature → array<long> per-band chained fixture hash. */
case class FixtureBandHashes(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(bands > 0 && rowsPerBand > 0)
  override def prettyName: String = "graft_fixture_band_hashes"
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def inputTypes: Seq[InputType] = Seq(ArrayType(LongType))

  override def nullSafeEval(input: Any): Any =
    FixtureHashes.bandHashes(input.asInstanceOf[ArrayData], bands, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      val helper = FixtureHashes.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $helper.bandHashes($in, $bands, $rowsPerBand);"
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Threshold-banded Levenshtein distance with common-affix stripping:
  * returns the exact edit distance when it is ≤ `maxDist`, −1 otherwise —
  * the contract of Spark's `levenshtein(l, r, threshold)`, which this
  * replaces on the fuzzy-dedup verify path. Two optimizations the
  * builtin lacks, both exact:
  *
  *  - strip the common prefix and suffix first (unit-cost edit distance
  *    is invariant under shared affixes). Near-duplicate verification is
  *    the regime where candidates are near-IDENTICAL, so a 300-char pair
  *    differing by one edit leaves a ≤3-codepoint remainder — the DP
  *    runs on that, not on 300×300;
  *  - Ukkonen band of width 2·maxDist+1 over the remainder with an
  *    early-exit when a row's minimum exceeds maxDist.
  *
  * Codepoint-level like the builtin (surrogate pairs are one unit);
  * distances ≤ maxDist are THE Levenshtein distance, so any correct
  * engine (the DuckDB oracle included) agrees on every emitted value.
  */
case class BandedLevenshtein(left: Expression, right: Expression, maxDist: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with ExpectsInputTypes {
  require(maxDist >= 0, "maxDist must be >= 0")
  override def prettyName: String = "graft_banded_levenshtein"
  override def nullable: Boolean = true
  override def dataType: DataType = IntegerType

  override def inputTypes: Seq[InputType] = Seq(StringType, StringType)

  override def nullSafeEval(l: Any, r: Any): Any =
    BandedLevenshtein.dist(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String], maxDist)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val helper = BandedLevenshtein.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $helper.dist($l, $r, $maxDist);"
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object BandedLevenshtein {
  /** Exact distance if ≤ tau, else −1. Shared by eval and codegen. */
  def dist(ua: UTF8String, ub: UTF8String, tau: Int): Int = {
    val sa = ua.toString
    val sb = ub.toString
    // codepoint arrays (the builtin's unit); cheap relative to the DP it
    // replaces, and what makes affix stripping surrogate-safe
    val a = sa.codePoints().toArray
    val b = sb.codePoints().toArray
    var lo = 0
    var aHi = a.length
    var bHi = b.length
    if (math.abs(aHi - bHi) > tau) return -1
    while (lo < aHi && lo < bHi && a(lo) == b(lo)) lo += 1
    while (aHi > lo && bHi > lo && a(aHi - 1) == b(bHi - 1)) { aHi -= 1; bHi -= 1 }
    val n = aHi - lo
    val m = bHi - lo
    if (n == 0) return m // m ≤ tau by the length guard above
    if (m == 0) return n
    // banded DP: prev(j)/cur(j) = distance over a[0..i) × b[0..j), only
    // the |i−j| ≤ tau diagonal band is live
    val INF = Int.MaxValue / 2
    val prev = new Array[Int](m + 1)
    val cur = new Array[Int](m + 1)
    var j = 0
    while (j <= m) { prev(j) = if (j <= tau) j else INF; j += 1 }
    var i = 1
    while (i <= n) {
      val jLo = math.max(1, i - tau)
      val jHi = math.min(m, i + tau)
      if (jLo > 1) cur(jLo - 1) = INF
      cur(0) = if (i <= tau) i else INF
      var best = if (jLo == 1) cur(0) else INF
      j = jLo
      while (j <= jHi) {
        val sub = prev(j - 1) + (if (a(lo + i - 1) == b(lo + j - 1)) 0 else 1)
        val del = (if (j <= i + tau - 1) prev(j) else INF) + 1
        val ins = cur(j - 1) + 1
        val v = math.min(sub, math.min(del, ins))
        cur(j) = v
        if (v < best) best = v
        j += 1
      }
      if (best > tau) return -1
      System.arraycopy(cur, 0, prev, 0, m + 1)
      i += 1
    }
    if (prev(m) <= tau) prev(m) else -1
  }
}

/** The one body of each signature kernel above, shared by eval and
  * generated code (top-level object ⇒ static forwarders callable from
  * generated code, the BpeRuntime pattern). Each method reads
  * `ArrayData`/`UTF8String` plus primitive parameters and returns a
  * primitive or `ArrayData`, so nothing is boxed on either path.
  */
object HashRuntime {
  // XXH64's primes (public constants of the xxHash spec; Spark's
  // catalyst XXH64 uses the same values)
  private final val P1 = -7046029288634856825L
  private final val P2 = -4417276706812531889L
  private final val P3 = 1609587929392839161L
  private final val P4 = -8796714831421723037L
  private final val P5 = 2870177450012600261L

  private final val Seed = HashExpressions.ShingleSeed

  /** For every lane s in [0, mins.length):
    * `v = XXH64.hashLong(h, s); if (v < mins[s]) mins[s] = v` —
    * BIT-IDENTICAL to the per-seed calls (spec-pinned against
    * XXH64.hashLong itself), but with the seed-independent subterm
    * `rotl(h·P2, 31)·P1` hoisted out of the lane loop: hashLong mixes
    * its INPUT independently of the seed before the seed-bearing state
    * touches it, so the k re-seeded finalizers share one input mix —
    * ~2 of the ~11 per-lane ops paid once instead of k times (r16,
    * the "cut the re-seeded chains" directive, value-preserving form:
    * deriving lanes from a single 128-bit hash would CHANGE signature
    * values and with them the declared queries' outputs).
    */
  def minhashLanes(h: Long, mins: Array[Long]): Unit = {
    val k = java.lang.Long.rotateLeft(h * P2, 31) * P1
    val n = mins.length
    var s = 0
    while (s < n) {
      var v = java.lang.Long.rotateLeft((P5 + 8L + s) ^ k, 27) * P1 + P4
      v ^= v >>> 33; v *= P2; v ^= v >>> 29; v *= P3; v ^= v >>> 32
      if (v < mins(s)) mins(s) = v
      s += 1
    }
  }

  private def noMins(numHashes: Int): Array[Long] = {
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    mins
  }

  /** [[MinHashSignatures]]: each non-null shingle hashed once, k lanes. */
  def minhash(shingles: ArrayData, numHashes: Int): ArrayData = {
    val mins = noMins(numHashes)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i))
        minhashLanes(XXH64.hashUTF8String(shingles.getUTF8String(i), Seed), mins)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  /** The chained n-gram window hashes of a token array — THE one
    * definition behind [[MinHashTokens]], [[NgramHashes]],
    * [[SimHashTokens]] and the stream-side span strip
    * ([[graft.streaming.GraftStreaming.decontaminateSpanStream]]). Each
    * token is xxhash64'd once at [[HashExpressions.ShingleSeed]] (a null
    * slot hashes as 0); a window's hash chains its n token hashes,
    * starting from the same seed. max(1, T − n + 1) windows in order:
    * fewer than n tokens make one window over what is there, no tokens
    * make none.
    */
  def windowHashes(tokens: ArrayData, n: Int): Array[Long] = {
    val t = tokens.numElements()
    if (t == 0) return Array.emptyLongArray
    val th = new Array[Long](t)
    var i = 0
    while (i < t) {
      th(i) = if (tokens.isNullAt(i)) 0L else XXH64.hashUTF8String(tokens.getUTF8String(i), Seed)
      i += 1
    }
    val wh = new Array[Long](math.max(1, t - n + 1))
    var w = 0
    while (w < wh.length) {
      var h = Seed
      var j = w
      val end = math.min(w + n, t)
      while (j < end) { h = XXH64.hashLong(th(j), h); j += 1 }
      wh(w) = h
      w += 1
    }
    wh
  }

  /** [[MinHashTokens]]: k lanes over the window hashes. */
  def minhashTokens(tokens: ArrayData, n: Int, numHashes: Int): ArrayData = {
    val mins = noMins(numHashes)
    val wh = windowHashes(tokens, n)
    var w = 0
    while (w < wh.length) { minhashLanes(wh(w), mins); w += 1 }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  /** [[NgramHashes]]: the window hashes, sorted and distinct when `dedupe`. */
  def ngramHashes(tokens: ArrayData, n: Int, dedupe: Boolean): ArrayData = {
    val wh = windowHashes(tokens, n)
    UnsafeArrayData.fromPrimitiveArray(
      if (dedupe) java.util.Arrays.copyOf(wh, sortDistinct(wh)) else wh)
  }

  /** [[SimHash64]]: the vote over every non-null shingle's hash. */
  def simhash(shingles: ArrayData): Long = {
    val n = shingles.numElements()
    val hs = new Array[Long](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        hs(m) = XXH64.hashUTF8String(shingles.getUTF8String(i), Seed)
        m += 1
      }
      i += 1
    }
    simhashVote(hs, m)
  }

  /** [[SimHashTokens]]: the vote over the DISTINCT window hashes. */
  def simhashTokens(tokens: ArrayData, n: Int): Long = {
    val wh = windowHashes(tokens, n)
    simhashVote(wh, sortDistinct(wh))
  }

  /** Sorts `hs` and packs its distinct values to the front; returns
    * their count. */
  private def sortDistinct(hs: Array[Long]): Int = {
    java.util.Arrays.sort(hs)
    var out = 0
    var k = 0
    while (k < hs.length) {
      if (out == 0 || hs(k) != hs(out - 1)) { hs(out) = hs(k); out += 1 }
      k += 1
    }
    out
  }

  /** The 64-bit SimHash vote over `hs[0, len)`: bit b is set iff more
    * hashes have bit b set than clear (0 for no hashes). */
  private def simhashVote(hs: Array[Long], len: Int): Long = {
    val votes = new Array[Int](64)
    var i = 0
    while (i < len) {
      val h = hs(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  /** [[BandHashes]]: band b chains its `len/bands` longs from 42 ^ b. */
  def bandHashes(sig: ArrayData, bands: Int): ArrayData = {
    val r = sig.numElements() / bands
    requireBanded(sig, bands, r)
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 42L ^ b
      var j = 0
      while (j < r) { h = XXH64.hashLong(sig.getLong(b * r + j), h); j += 1 }
      out(b) = h
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** A banded signature holds exactly `bands × rowsPerBand` non-null
    * entries with at least one row per band; anything else would leave
    * entries outside every band, hash empty bands to a constant that
    * collides everywhere, or read a null slot as a 0 that collides with
    * a real 0.
    */
  def requireBanded(sig: ArrayData, bands: Int, rowsPerBand: Int): Unit = {
    val len = sig.numElements()
    if (rowsPerBand < 1 || len != bands * rowsPerBand)
      throw new IllegalArgumentException(
        s"signature of length $len does not split into $bands bands of $rowsPerBand rows")
    var i = 0
    while (i < len) {
      if (sig.isNullAt(i)) throw new IllegalArgumentException(s"signature slot $i is null")
      i += 1
    }
  }

  /** [[BloomHits]]: grams whose k positions are all set in `words`. The
    * modulus is the ONE fixture modulus: build-side positions
    * (HashFamily.bloomPositions / positionSqls) derive from the same
    * constant, so build and probe can never mix moduli. Without
    * `foldWide` a gram must already lie in the fixture lane's domain,
    * [0, 2^31).
    */
  def bloomHits(grams: ArrayData, words: Array[Long], mBits: Int, k: Int,
      foldWide: Boolean): Int = {
    val p = graft.operators.HashFamily.Fixture.FixtureP
    val n = grams.numElements()
    var hits = 0
    var i = 0
    while (i < n) {
      val g = grams.getLong(i)
      if (!foldWide && (g >>> 31) != 0L)
        throw new IllegalArgumentException(
          s"fixture-lane bloom gram hash $g is outside its domain [0, 2^31)")
      val base = if (foldWide) (g ^ (g >>> 33)) & 0x7FFFFFFFL else g
      var all = true
      var j = 0
      while (all && j < k) {
        val pos = (((2L * j + 3) * base + (5L * j + 7)) % p % mBits).toInt
        all = (words(pos >> 6) >>> (pos & 63) & 1L) == 1L
        j += 1
      }
      if (all) hits += 1
      i += 1
    }
    hits
  }

  /** [[NfcNormalize]]. */
  def nfc(s: UTF8String): UTF8String = {
    val j = s.toString
    UTF8String.fromString(
      if (java.text.Normalizer.isNormalized(j, java.text.Normalizer.Form.NFC)) j
      else java.text.Normalizer.normalize(j, java.text.Normalizer.Form.NFC))
  }

  /** [[SignatureAgreement]]: agreeing positions over the common prefix; a
    * null slot never agrees (as in [[firstAgreePos]]).
    */
  def agreement(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    if (n == 0) return 0.0
    var same = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i)) same += 1
      i += 1
    }
    same.toDouble / n
  }

  /** [[FirstAgreePos]]: a null slot never agrees. */
  def firstAgreePos(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i)) return i + 1L
      i += 1
    }
    0L
  }

  /** [[BinLength]]. */
  def binLength(v: Long): Int = if (v == 0L) 1 else 64 - java.lang.Long.numberOfLeadingZeros(v)
}

object HashExpressions {
  /** The shingle-hash seed (= Spark's xxhash64 default, so base hashes
    * agree with the built-in function) — the single definition behind
    * every ShingleHashExpression, all of which hash through
    * [[HashRuntime]]; the stream-side span strip
    * ([[graft.streaming.GraftStreaming.decontaminateSpanStream]]) calls
    * [[HashRuntime.windowHashes]] too, so the two can never drift.
    */
  final val ShingleSeed = 42L

  /** One-pass MinHash signature of an array<string> shingle column. */
  def minhash(shingles: Column, numHashes: Int): Column =
    GraftBridge.column(MinHashSignatures(GraftBridge.expression(shingles), numHashes))

  /** One-pass 64-bit SimHash of an array<string> shingle column. */
  def simhash64(shingles: Column): Column =
    GraftBridge.column(SimHash64(GraftBridge.expression(shingles)))

  /** LSH band bucket keys from a MinHash signature. */
  def bandHashes(signature: Column, bands: Int): Column =
    GraftBridge.column(BandHashes(GraftBridge.expression(signature), bands))

  /** Fraction of agreeing positions between two signatures (est. Jaccard). */
  def signatureAgreement(a: Column, b: Column): Column =
    GraftBridge.column(SignatureAgreement(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** 1-based first index where two array<bigint> agree; 0 if none. */
  def firstAgreePos(a: Column, b: Column): Column =
    GraftBridge.column(FirstAgreePos(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** `length(bin(x))` as one integer intrinsic (bigint in, int out). */
  def binLength(x: Column): Column =
    GraftBridge.column(BinLength(GraftBridge.expression(x)))

  /** Unicode NFC normalization. */
  def nfc(s: Column): Column =
    GraftBridge.column(NfcNormalize(GraftBridge.expression(s)))

  /** String-free MinHash over word n-grams of a token array. */
  def minhashTokens(tokens: Column, n: Int, numHashes: Int): Column =
    GraftBridge.column(MinHashTokens(GraftBridge.expression(tokens), n, numHashes))

  /** String-free SimHash over distinct word n-grams of a token array. */
  def simhashTokens(tokens: Column, n: Int): Column =
    GraftBridge.column(SimHashTokens(GraftBridge.expression(tokens), n))

  /** Distinct n-gram identities (sorted hashes) of a token array. */
  def ngramHashes(tokens: Column, n: Int): Column =
    GraftBridge.column(NgramHashes(GraftBridge.expression(tokens), n))

  /** ALL n-gram identities in window order (duplicates kept) — for
    * occurrence counting (repetition metrics), not set joins.
    */
  def ngramHashesAll(tokens: Column, n: Int): Column =
    GraftBridge.column(NgramHashes(GraftBridge.expression(tokens), n, dedupe = false))

  /** Integer average-hash perceptual signature of a binary payload. */
  def phashBytes(payload: Column, bits: Int = 60): Column =
    GraftBridge.column(PhashBytes(GraftBridge.expression(payload), bits))

  /** Integer byte-entropy surprisal total (bits numerator) of a binary
    * payload; divide by its length for ≈ bits/byte. */
  def byteEntropyBits(payload: Column): Column =
    GraftBridge.column(ByteEntropyBits(GraftBridge.expression(payload)))

  /** Sign-of-delta-frame-energy acoustic fingerprint of a binary
    * payload's samples; see [[AudioFingerprint]]. */
  def audioFingerprint(payload: Column, bits: Int = 60): Column =
    GraftBridge.column(AudioFingerprint(GraftBridge.expression(payload), bits))

  /** Single-pass integer audio stats struct (n_samples, energy,
    * mean_crossings); see [[AudioStatsBytes]]. */
  def audioStats(payload: Column): Column =
    GraftBridge.column(AudioStatsBytes(GraftBridge.expression(payload)))

  /** Single-pass language-ID heuristic (script ratios + stopword
    * ratios); see [[LangIdHeuristic]]. */
  def langIdHeuristic(text: Column): Column =
    GraftBridge.column(LangIdHeuristic(GraftBridge.expression(text)))

  /** Single-pass quality-features struct; see [[QualityFeaturesExpr]]. */
  def qualityFeaturesExpr(text: Column): Column =
    GraftBridge.column(QualityFeaturesExpr(GraftBridge.expression(text)))

  /** Threshold-banded Levenshtein with common-affix stripping; returns
    * the distance if ≤ maxDist else −1 (the builtin 3-arg contract);
    * see [[BandedLevenshtein]].
    */
  def bandedLevenshtein(l: Column, r: Column, maxDist: Int): Column =
    GraftBridge.column(BandedLevenshtein(
      GraftBridge.expression(l), GraftBridge.expression(r), maxDist))

  /** Bloom hit count over an array<bigint> of gram hashes. */
  def bloomHits(grams: Column, words: Array[Long], mBits: Int, k: Int,
      foldWide: Boolean): Column =
    GraftBridge.column(BloomHits(GraftBridge.expression(grams), words, mBits, k, foldWide))
}
