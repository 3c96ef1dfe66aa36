package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The hand-written doGenCode of the custom expressions must actually
  * compile: Spark silently falls back to interpreted execution when
  * generated code fails to compile, which would pass every functional
  * test while quietly dropping the whole stage out of codegen. This
  * session sets `spark.sql.codegen.fallback=false` so a codegen break
  * fails loudly here.
  */
class CodegenNoFallbackSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-codegen-test")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.sql.codegen.fallback", "false")
      .config("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  test("all custom expressions execute with codegen fallback disabled") {
    import spark.implicits._
    val df = Seq(
      ("the quick brown fox jumps over the lazy dog", Array(0.5f, -1.0f, 0.25f, 0.75f)),
      ("spam spam spam", Array(0f, 0f, 0f, 0f))).toDF("text", "vec")
    val toks = TextFunctions.tokens(col("text"))
    val out = df.select(
      VectorFunctions.quantizeInt8(col("vec")).as("qv"),
      VectorFunctions.dot(col("vec"), col("vec")).as("d"),
      VectorFunctions.cosineSimilarity(col("vec"), col("vec")).as("c"),
      VectorFunctions.l2Distance(col("vec"), col("vec")).as("l2"),
      HashExpressions.ngramHashes(toks, 3).as("gh"),
      HashExpressions.ngramHashesAll(toks, 2).as("gha"),
      HashExpressions.minhashTokens(toks, 3, 16).as("mh"),
      HashExpressions.simhashTokens(toks, 2).as("sh"),
      HashExpressions.minhash(TextFunctions.wordShingles(col("text"), 3), 16).as("mhs"),
      HashExpressions.bandHashes(HashExpressions.minhashTokens(toks, 3, 16), 4).as("bh"),
      HashExpressions.signatureAgreement(
        HashExpressions.minhashTokens(toks, 3, 16),
        HashExpressions.minhashTokens(toks, 3, 16)).as("agree"),
      HashExpressions.nfc(col("text")).as("nfc"),
      HashExpressions.phashBytes(encode(col("text"), "UTF-8"), 60).as("ph"),
      HashExpressions.bloomHits(HashExpressions.ngramHashes(toks, 3),
        Array.fill(64)(-1L), mBits = 4096, k = 3, foldWide = true).as("bloom_all"),
      HashExpressions.bloomHits(HashExpressions.ngramHashes(toks, 3),
        new Array[Long](64), mBits = 4096, k = 3, foldWide = true).as("bloom_none"),
      Bpe.bpeText(col("text"), Seq(("t", "h"), ("th", "e"))).as("bpe"),
      Bpe.bpeTextExpr(col("text"), Seq(("t", "h"), ("th", "e"))).as("bpeExpr"),
      HashExpressions.byteEntropyBits(encode(col("text"), "UTF-8")).as("ent"),
      HashExpressions.audioFingerprint(encode(col("text"), "UTF-8"), 60).as("afp"),
      HashExpressions.audioStats(encode(col("text"), "UTF-8")).as("ast"),
      HashExpressions.langIdHeuristic(col("text")).as("lang"),
      HashExpressions.qualityFeaturesExpr(col("text")).as("qf"),
      HashExpressions.bandedLevenshtein(col("text"), col("text"), 2).as("blev"),
      graft.operators.HashFamily.Fixture.windowHashes(col("text"), 3).as("fwh"),
      graft.operators.HashFamily.Fixture.minhashSig(col("text"), 3, 8).as("fmh"),
      graft.operators.HashFamily.Fixture.simhashSig(col("text"), 2).as("fsh"),
      graft.operators.HashFamily.Fixture.bandHashes(
        graft.operators.HashFamily.Fixture.minhashSig(col("text"), 3, 8), 4, 2).as("fbh"),
      Unigram.packed(col("text"), Seq(("t", 5L), ("th", 7L)), 2, 100L).as("upk"),
      Unigram.pieces(col("text"), Seq(("t", 5L), ("th", 7L)), 2, 100L).as("upc"),
      LineDrop.dropCol(col("text")).as("ldrop"),
      WordPiece.wordpieceWord(col("text"), Seq("a", "##b", "t")).as("wpw"),
      WinnowFunctions.winnowSelect(
        graft.functions.WinnowFunctions.wordShingleMd5s(TextFunctions.tokens(col("text")), 3), 4).as("wsel"),
      WinnowFunctions.winnowSelectLong(
        HashExpressions.ngramHashesAll(TextFunctions.tokens(col("text")), 3), 4).as("wsell")).collect()
    assert(out.length == 2)
    // all-ones bitmap hits every gram; all-zeros hits none
    assert(out(0).getInt(13) == out(0).getSeq[Long](4).size &&
      out(0).getInt(14) == 0, "bloom hit count bounds under CODEGEN_ONLY")
    val r0 = out(0)
    assert(r0.getStruct(0).getDouble(0) == 1.0) // quantize scale = maxabs
    assert(r0.getDouble(1) > 0)
    assert(r0.getSeq[Long](4).nonEmpty)
    assert(r0.getDouble(10) == 1.0, "identical signatures agree fully")
    // zero vector: scale 0, all-zero q
    assert(out(1).getStruct(0).getDouble(0) == 0.0)
    assert(out(1).getStruct(0).getSeq[Int](1).forall(_ == 0))
  }
}
