package graft.functions

import graft.SparkTestSession
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The r1-r8 HOF Column compositions of the fixture hash family, kept
  * VERBATIM as reference implementations, compared bit-for-bit against
  * the round-9 native codegen kernels ([[FixtureHashes]]) that replaced
  * them. The fixture oracles (q_dedup_minhash_fixed,
  * q_dedup_simhash_fixed, q_contamination_bloom, the indexed twins)
  * replay these exact integer chains in DuckDB, so the kernels must be
  * IDENTICAL, not merely equivalent-under-threshold.
  */
class FixtureHashEquivalenceSpec extends AnyFunSuite {
  private val P = 1000000007L

  private def tokens(text: Column): Column = split(trim(text), "\\s+")

  // --- reference implementations (the retired HOF compositions) ---

  private def legacyWindowHashes(text: Column, shingle: Int): Column = {
    val toks = tokens(text)
    val th = transform(toks, t =>
      aggregate(
        transform(sequence(lit(1), length(t)), i => ascii(t.substr(i, lit(1))).cast("long")),
        lit(0L), (a, c) => (a * 31 + c) % P))
    transform(sequence(lit(1), greatest(size(th) - (shingle - 1), lit(1))), w =>
      aggregate(slice(th, w, lit(shingle)), lit(0L), (a, h) => (a * 1000003 + h) % P))
  }

  private def legacyMinhashSig(text: Column, shingle: Int, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)), s =>
      array_min(transform(legacyWindowHashes(text, shingle), h =>
        ((s.cast("long") * 2 + 3) * h + (s.cast("long") * 5 + 7)) % P)))

  private def legacySimhashSig(text: Column, shingle: Int, bits: Int): Column = {
    val dwh = array_distinct(legacyWindowHashes(text, shingle))
    aggregate(sequence(lit(0), lit(bits - 1)), lit(0L), (acc, i) => {
      val vote = aggregate(dwh, lit(0L), (a, w) =>
        a + ((((i.cast("long") * 2 + 3) * w + (i.cast("long") * 5 + 7)) % P) % 2) * 2 - 1)
      acc + when(vote > 0, pow(lit(2.0), i).cast("long")).otherwise(lit(0L))
    })
  }

  private def legacyBandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      aggregate(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)),
        lit(0L), (a, v) => (a * 1000003 + v) % P))

  // the fixture corpora are ASCII by contract (Dedup scaladoc: "assumes
  // BMP text"); samples exercise the edges the chains depend on — empty
  // text, single token, fewer tokens than the shingle, repeated windows,
  // multi-space runs, punctuation-heavy tokens
  private val samples = Seq(
    "", " ", "one", "one two", "one two three four five six",
    "a b a b a b a b", "dup dup dup",
    "  leading and   inner   runs  ",
    "punct-uation: (tokens) [with] {ascii} @symbols #123",
    "numbers 123 456 789 0",
    "The quick brown fox jumps over the lazy dog")

  test("native fixture window hashes == HOF composition") {
    val sp = SparkTestSession.spark
    import sp.implicits._
    val rows = samples.toDF("t").select(
      graft.operators.HashFamily.Fixture.windowHashes(col("t"), 3).as("n"),
      legacyWindowHashes(col("t"), 3).as("l")).collect()
    rows.zip(samples).foreach { case (r, s) =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"window hashes diverge on: '$s'")
    }
  }

  test("native fixture minhash signature == HOF composition") {
    val sp = SparkTestSession.spark
    import sp.implicits._
    val rows = samples.toDF("t").select(
      graft.operators.HashFamily.Fixture.minhashSig(col("t"), 3, 64).as("n"),
      legacyMinhashSig(col("t"), 3, 64).as("l")).collect()
    rows.zip(samples).foreach { case (r, s) =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"minhash sig diverges on: '$s'")
    }
  }

  test("native fixture simhash signature == HOF composition") {
    val sp = SparkTestSession.spark
    import sp.implicits._
    val rows = samples.toDF("t").select(
      graft.operators.HashFamily.Fixture.simhashSig(col("t"), 2).as("n"),
      legacySimhashSig(col("t"), 2, 60).as("l")).collect()
    rows.zip(samples).foreach { case (r, s) =>
      assert(r.getLong(0) == r.getLong(1), s"simhash sig diverges on: '$s'")
    }
  }

  test("native fixture band hashes == HOF composition") {
    val sp = SparkTestSession.spark
    import sp.implicits._
    val rows = samples.toDF("t")
      .select(graft.operators.HashFamily.Fixture.minhashSig(col("t"), 3, 64).as("sig"))
      .select(
        graft.operators.HashFamily.Fixture.bandHashes(col("sig"), 16, 4).as("n"),
        legacyBandHashes(col("sig"), 16, 4).as("l")).collect()
    rows.zip(samples).foreach { case (r, s) =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"band hashes diverge on: '$s'")
    }
  }
}
