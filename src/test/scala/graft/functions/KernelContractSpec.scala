package graft.functions

import java.io.File
import java.lang.reflect.Modifier

import scala.util.Try

import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{DataTypeMismatch, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BoundReference, Expression,
  Literal, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The type contract of every Catalyst kernel under `graft.functions`, as
  * data: one row per concrete `Expression` class, holding a factory over
  * the children, the input types its analysis check accepts and one
  * wrong-typed input. Every accepted type (arrays with either element
  * nullability) must pass `checkInputDataTypes`; the wrong one must fail
  * with Spark's mismatch error naming the offending parameter. A class
  * scan keeps the table complete.
  *
  * The same table drives the eval ≡ codegen check: every row kernel runs
  * on edge inputs of its first accepted types (null, empty, null slots,
  * non-ASCII text, extreme and non-finite numbers) through `eval` and
  * through a generated `UnsafeProjection`; both must give the same value,
  * or both must fail with the same exception class.
  */
class KernelContractSpec extends AnyFunSuite {

  private case class Row(
      make: Seq[Expression] => Expression,
      accepted: Seq[Seq[DataType]],
      wrong: Seq[DataType],
      errorSubClass: String = "UNEXPECTED_INPUT_TYPE") {
    lazy val cls: Class[_] = make(accepted.head.map(Literal.default)).getClass
  }

  private val str = Seq(Seq(StringType))
  private val strings = Seq(Seq(ArrayType(StringType)))
  private val longs = Seq(Seq(ArrayType(LongType)))
  private val bin = Seq(Seq(BinaryType))
  private val vec = Seq(ArrayType(FloatType), ArrayType(DoubleType))
  private val vecPairs = for (l <- vec; r <- vec) yield Seq(l, r)
  private val merges = Seq(("a", "b"))
  private val hexMerges = Seq(("61", "62")) // byte-level merges spell bytes in hex

  private def unary(f: Expression => Expression, accepted: Seq[Seq[DataType]],
      wrong: DataType = IntegerType): Row =
    Row(c => f(c.head), accepted, Seq(wrong))
  private def binary(f: (Expression, Expression) => Expression, accepted: Seq[Seq[DataType]],
      wrong: Seq[DataType]): Row =
    Row(c => f(c(0), c(1)), accepted, wrong)

  private val table: Seq[Row] = Seq(
    Row(c => TopK(c.head, 3), Seq(Seq(LongType), Seq(StringType),
      Seq(StructType(Seq(StructField("s", DoubleType), StructField("id", LongType))))),
      Seq(MapType(StringType, LongType)), "INVALID_ORDERING_TYPE"),
    unary(AcCounts(_, Seq("a")), str),
    unary(BpeApplyWord(_, merges), str),
    unary(BpeApplyText(_, merges), str),
    unary(ByteBpeApplyWord(_, hexMerges), str),
    unary(ByteBpeApplyText(_, hexMerges), str),
    unary(ByteOccurrences(_, 'a'.toByte), str, BinaryType),
    unary(CdcChunks(_, 1, 4, 64), str),
    unary(MinHashSignatures(_, 4), strings, StringType),
    unary(MinHashTokens(_, 2, 4), strings, StringType),
    unary(NgramHashes(_, 2), strings, ArrayType(LongType)),
    unary(SimHash64(_), strings, StringType),
    unary(SimHashTokens(_, 2), strings, ArrayType(IntegerType)),
    unary(WordShingleStrings(_, 2), strings, StringType),
    unary(WordShingleMd5s(_, 2), strings, StringType),
    unary(BandHashes(_, 2), longs, ArrayType(IntegerType)),
    unary(BloomHits(_, Array(0L), 64, 1, foldWide = false), longs, LongType),
    unary(NfcNormalize(_), str, BinaryType),
    binary(SignatureAgreement(_, _), Seq(Seq(ArrayType(LongType), ArrayType(LongType))),
      Seq(ArrayType(LongType), ArrayType(IntegerType))),
    binary(FirstAgreePos(_, _), Seq(Seq(ArrayType(LongType), ArrayType(LongType))),
      Seq(ArrayType(LongType), ArrayType(StringType))),
    unary(BinLength(_), Seq(Seq(LongType))),
    unary(PhashBytes(_, 8), bin, StringType),
    unary(AudioFingerprint(_, 8), bin, StringType),
    unary(AudioStatsBytes(_), bin, StringType),
    unary(ByteEntropyBits(_), bin, StringType),
    unary(LangIdHeuristic(_), str, BinaryType),
    unary(QualityFeaturesExpr(_), str, ArrayType(StringType)),
    unary(FixtureTextHashes(_, 2, 4), str),
    unary(FixtureSimhashSig(_, 2, 8), str),
    unary(FixtureBandHashes(_, 2, 2), longs, ArrayType(DoubleType)),
    binary(BandedLevenshtein(_, _, 2), Seq(Seq(StringType, StringType)),
      Seq(StringType, BinaryType)),
    unary(LineDrop(_), str),
    unary(OovRateScore(_, Seq("a")), str),
    unary(DistilledLmScore(_, Map("a" -> 1L), Map.empty, 1L, 1L), str),
    unary(PqEncode(_, Array(Array(Array(0f)))), vec.map(Seq(_)), ArrayType(IntegerType)),
    unary(PqLut(_, Array(Array(Array(0f)))), vec.map(Seq(_)), ArrayType(LongType)),
    binary(PqAdc(_, _, 1), Seq(Seq(ArrayType(DoubleType), ArrayType(IntegerType))),
      Seq(ArrayType(FloatType), ArrayType(IntegerType))),
    unary(SqEncode(_, Array(0.0), Array(1.0)), vec.map(Seq(_)), ArrayType(IntegerType)),
    binary(SqAdc(_, _, Array(0.0), Array(1.0)), vec.map(Seq(_, ArrayType(IntegerType))),
      Seq(ArrayType(DoubleType), ArrayType(LongType))),
    unary(UnigramPacked(_, Seq(("a", 1L)), 1, 10L), str),
    unary(UnigramPieces(_, Seq(("a", 1L)), 1, 10L), str),
    binary(DotProduct(_, _), vecPairs, Seq(ArrayType(IntegerType), ArrayType(DoubleType))),
    binary(CosineSimilarity(_, _), vecPairs, Seq(ArrayType(DoubleType), ArrayType(LongType))),
    binary(QuantizedDot(_, _, 1000), vecPairs, Seq(ArrayType(FloatType), DoubleType)),
    binary(L2Distance(_, _), vecPairs, Seq(StringType, ArrayType(FloatType))),
    unary(HyperplaneSignature(_, 8, 1), vec.map(Seq(_)), ArrayType(IntegerType)),
    unary(QuantizeInt8(_), vec.map(Seq(_)), ArrayType(DecimalType(10, 2))),
    unary(WinnowSelect(_, 2), strings, ArrayType(LongType)),
    unary(WinnowSelectLong(_, 2), longs, ArrayType(StringType)),
    unary(WordPieceApplyWord(_, Seq("a")), str))

  /** Edge values of a kernel input type, Scala-side (arrays as Seqs). */
  private def edgeValues(dt: DataType): Seq[Any] = dt match {
    case StringType => Seq(null, "", "  the  cat ", "héllo wörld 日本語 😀",
      "the cat sat on the mat the cat sat", "\tlead\ntrail \u0001 x")
    case LongType => Seq(null, 0L, 1L, -1L, 1L << 40, Long.MinValue, Long.MaxValue)
    case BinaryType => Seq(null, Array.emptyByteArray, Array[Byte](7),
      Array[Byte](0, -1, 127, -128, 5, 5, 9, 0, 1, 2, 3, 4, -7, 64, 32, 16))
    case ArrayType(StringType, _) => Seq(null, Seq(), Seq(null), Seq("a", null, "b"),
      Seq("é", "日本", "😀", "é"), "the cat sat on the mat the cat sat".split(" ").toSeq)
    case ArrayType(LongType, _) => Seq(null, Seq(), Seq(Long.MinValue, Long.MaxValue, 0L, -1L),
      Seq(1L, null, 3L, 4L), (1L to 8L).toList, Seq(5L, 1L << 40, 5L, 123456789L))
    case ArrayType(IntegerType, _) => Seq(null, Seq(), Seq(0), Seq(null, 0), Seq(0, 0, 0, 0))
    case ArrayType(DoubleType, _) => Seq(null, Seq(), Seq(1.0), Seq(Double.NaN, 0.0, -0.0, 1.5),
      Seq(null, 2.0, -3.0, 0.25), Seq(Double.MaxValue, -Double.MaxValue, Double.MinPositiveValue, -0.0),
      Seq(0.0, -0.0, 0.0, -0.0))
    case ArrayType(FloatType, _) => Seq(null, Seq(), Seq(1.0f), Seq(Float.NaN, 0.0f, -0.0f, 1.5f),
      Seq(null, 2.0f, -3.0f, 0.25f), Seq(Float.MaxValue, -Float.MaxValue, Float.MinPositiveValue, -0.0f),
      Seq(0.0f, -0.0f, 0.0f, -0.0f))
    case other => fail(s"no edge values for ${other.sql}")
  }

  /** Values equal as the engine sees them: NaN equals NaN, 0.0 differs
    * from -0.0, byte arrays and nested values compare by content. */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => java.lang.Double.valueOf(x).equals(y)
    case (x: Float, y: Float) => java.lang.Float.valueOf(x).equals(y)
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.length == y.length && x.zip(y).forall { case (p, q) => same(p, q) }
    case (x: org.apache.spark.sql.Row, y: org.apache.spark.sql.Row) => same(x.toSeq, y.toSeq)
    case _ => a == b
  }

  /** eval and the generated projection of `e` on one input row, each as a
    * Scala value or the class of the exception it threw. The projection
    * is compiled directly (no interpreted fallback), so a codegen compile
    * error fails the test instead of hiding behind eval. */
  private def bothPaths(e: Expression, types: Seq[DataType], input: Seq[Any]): (Any, Any) = {
    // the UnsafeRow form, as a plan feeds it
    val row = UnsafeProjection.create(types.toArray)(
      InternalRow.fromSeq(input.map(CatalystTypeConverters.convertToCatalyst)))
    val toScala = CatalystTypeConverters.createToScalaConverter(e.dataType)
    def outcome(f: => Any): Any =
      Try(toScala(f)).fold(t => t.getClass, identity)
    val proj = GenerateUnsafeProjection.generate(Seq(e))
    (outcome(e.eval(row)), outcome(proj(row).get(0, e.dataType)))
  }

  /** Both element nullabilities of an array type; any other type as is. */
  private def variants(dt: DataType): Seq[DataType] = dt match {
    case ArrayType(e, _) => Seq(ArrayType(e, containsNull = true), ArrayType(e, containsNull = false))
    case other => Seq(other)
  }

  private def combos(types: Seq[DataType]): Seq[Seq[DataType]] =
    types.foldRight(Seq(Seq.empty[DataType]))((t, acc) => for (v <- variants(t); a <- acc) yield v +: a)

  for (row <- table) test(s"${row.cls.getSimpleName}: accepts its declared input types, rejects a wrong one") {
    for (types <- row.accepted.flatMap(combos)) {
      val e = row.make(types.map(Literal.default))
      assert(e.checkInputDataTypes() == TypeCheckSuccess, s"$e rejected ${types.map(_.sql)}")
    }
    val badParam = row.wrong.indices.find(i => !row.accepted.exists(_(i) == row.wrong(i)))
    assert(badParam.isDefined, s"wrong inputs ${row.wrong.map(_.sql)} are all accepted types")
    row.make(row.wrong.map(Literal.default)).checkInputDataTypes() match {
      case DataTypeMismatch(sub, params) =>
        assert(sub == row.errorSubClass)
        if (sub == "UNEXPECTED_INPUT_TYPE") {
          assert(params("paramIndex") == ordinal(badParam.get))
          assert(params("inputType") == s"\"${row.wrong(badParam.get).sql}\"")
        }
      case other => fail(s"${row.cls.getSimpleName} accepted ${row.wrong.map(_.sql)}: $other")
    }
  }

  for (row <- table if !classOf[AggregateFunction].isAssignableFrom(row.cls))
    test(s"${row.cls.getSimpleName}: eval equals the generated projection on edge inputs") {
      // first accepted types, arrays with null slots allowed
      val types = row.accepted.head.map {
        case ArrayType(e, _) => ArrayType(e, containsNull = true)
        case other => other
      }
      val e = row.make(types.zipWithIndex.map { case (t, i) => BoundReference(i, t, nullable = true) })
      val inputs = types.foldRight(Seq(Seq.empty[Any]))((t, acc) =>
        for (v <- edgeValues(t); a <- acc) yield v +: a)
      for (input <- inputs) {
        val (evaluated, generated) = bothPaths(e, types, input)
        assert(same(evaluated, generated),
          s"$e on $input: eval $evaluated, codegen $generated")
      }
    }

  test("the contract table covers every concrete Expression class in graft.functions") {
    val root = new File(classOf[TopK].getProtectionDomain.getCodeSource.getLocation.toURI)
    val dir = new File(root, "graft/functions")
    val loader = getClass.getClassLoader
    val kernels = dir.listFiles().map(_.getName).filter(_.endsWith(".class"))
      .map(f => Class.forName("graft.functions." + f.stripSuffix(".class"), false, loader))
      .filter(c => classOf[Expression].isAssignableFrom(c) &&
        !c.isInterface && !Modifier.isAbstract(c.getModifiers))
      .map(_.getName).toSet
    val covered = table.map(_.cls.getName)
    assert(covered.distinct.size == covered.size, "a kernel has two rows")
    assert(kernels.size >= 50)
    assert(kernels -- covered == Set.empty, "kernels with no contract row")
    assert(covered.toSet -- kernels == Set.empty)
  }

  test("OovRateScore compares by vocabulary value: equal vocabularies, equal canonical forms") {
    val text = AttributeReference("text", StringType)()
    val a = OovRateScore(text, Array("the", "cat").toSeq)
    val b = OovRateScore(text, Array("the", "cat").toSeq)
    assert(a == b && a.hashCode == b.hashCode)
    assert(a.canonicalized == b.canonicalized && a.semanticEquals(b))
    assert(a != OovRateScore(text, Seq("the", "dog")))
  }

  /** Spark's `paramIndex` wording ("first", "second", ...). */
  private def ordinal(i: Int): String =
    org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes.ordinalNumber(i)
}
