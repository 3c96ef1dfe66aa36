package graft.functions

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Single-pass LSH hash expressions: codegen/eval agreement, statistical
  * behavior of the MinHash estimate, and banding stability.
  */
class HashExpressionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def shingleDf = Seq(
    (1L, Seq("a b c", "b c d", "c d e", "d e f")),
    (2L, Seq("a b c", "b c d", "c d e", "d e x")), // 3/5 jaccard with 1
    (3L, Seq("q r s", "r s t")),
    (4L, Seq.empty[String])
  ).toDF("id", "sh")

  test("minhash: identical shingle sets → identical signatures; empty set → MaxValue sentinels") {
    val sig = shingleDf.select($"id", HashExpressions.minhash($"sh", 32).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sig(1).length == 32)
    assert(sig(1) != sig(3))
    assert(sig(4).forall(_ == Long.MaxValue))
    // deterministic across evaluations
    val again = shingleDf.select(HashExpressions.minhash($"sh", 32)).collect()
    assert(again.map(_.getSeq[Long](0)).head == sig(1))
  }

  test("minhash estimate approximates true jaccard on planted sets") {
    // sets share 3 of 5 distinct shingles → J = 3/5
    val est = shingleDf.where($"id".isin(1, 2))
      .select(HashExpressions.minhash($"sh", 512).as("sig"))
      .collect().map(_.getSeq[Long](0))
    val same = est(0).zip(est(1)).count { case (a, b) => a == b }
    val j = same.toDouble / 512
    assert(math.abs(j - 0.6) < 0.1, s"est=$j want ~0.6")
  }

  test("minhashLanes (hoisted lane loop) == per-seed XXH64.hashLong, bit for bit") {
    // the r16 strength reduction hoists hashLong's seed-independent input
    // mix out of the 64-lane loop — any algebra slip here would silently
    // change every minhash signature (and with it q_dedup_minhash's
    // declared output), so the helper is pinned against the original
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val rnd = new scala.util.Random(20260818)
    val hs = Seq(0L, 1L, -1L, Long.MinValue, Long.MaxValue, 42L) ++
      Seq.fill(200)(rnd.nextLong())
    for (h <- hs; k <- Seq(1, 16, 64)) {
      val viaHelper = Array.fill(k)(Long.MaxValue)
      HashRuntime.minhashLanes(h, viaHelper)
      val viaXxh = Array.tabulate(k)(s => XXH64.hashLong(h, s))
      assert(viaHelper.toSeq == viaXxh.toSeq, s"lane mismatch for h=$h k=$k")
    }
    // and min-accumulation semantics: a second window only lowers lanes
    val acc = Array.fill(8)(Long.MaxValue)
    HashRuntime.minhashLanes(7L, acc)
    val first = acc.clone()
    HashRuntime.minhashLanes(9L, acc)
    acc.zip(first).zipWithIndex.foreach { case ((now, was), s) =>
      assert(now == math.min(was, XXH64.hashLong(9L, s)))
    }
  }

  test("firstAgreePos == array_position(zip_with(_ === _), true) on band-hash arrays") {
    val rnd = new scala.util.Random(16)
    // random pairs with planted agreements at controlled first positions
    val rows = (0 until 300).map { i =>
      val n = 1 + rnd.nextInt(16)
      val a = Array.fill(n)(rnd.nextLong())
      val b = Array.fill(n)(rnd.nextLong())
      if (i % 3 == 0) { val p = rnd.nextInt(n); b(p) = a(p) } // ≥1 agreement
      if (i % 7 == 0) Array.copy(a, 0, b, 0, n) // full agreement → pos 1
      (a.toSeq, b.toSeq)
    }
    val df = rows.toDF("a", "b")
    val got = df.select(HashExpressions.firstAgreePos($"a", $"b")).collect().map(_.getLong(0))
    val want = df.select(
      array_position(zip_with($"a", $"b", (x, y) => x === y), lit(true))).collect()
      .map(_.getLong(0))
    assert(got.toSeq == want.toSeq)
    // interpreted eval agrees with the plan path
    val lit2 = org.apache.spark.sql.catalyst.expressions.Literal.create(
      rows.head._1, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType))
    val lit3 = org.apache.spark.sql.catalyst.expressions.Literal.create(
      rows.head._2, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType))
    assert(FirstAgreePos(lit2, lit3).eval(null) == want.head)

    // nullable elements: a null slot never agrees (x === null is null,
    // not true), even where the other slot is null too or the value a
    // null slot would read as (0); the HOF composition skips those
    // positions, and so must both the interpreted and codegen kernels
    val planted = Seq(
      (Seq(None, Some(5L)), Seq(Some(0L), Some(5L))),
      (Seq(Some(0L), Some(5L)), Seq(None, Some(5L))),
      (Seq(None, Some(7L)), Seq(None, Some(7L))),
      (Seq(None, None), Seq(None, None)),
      (Seq(None, Some(1L)), Seq(Some(0L))),
      (Seq(Some(3L), None), Seq(Some(3L), None)))
    val nullRows = planted ++ (0 until 200).map { _ =>
      val n = 1 + rnd.nextInt(8)
      def slot() = if (rnd.nextInt(3) == 0) None else Some(rnd.nextInt(3).toLong)
      (Seq.fill(n)(slot()), Seq.fill(n)(slot()))
    }
    // repartition keeps the projection above a real exchange, so it is
    // compiled rather than folded into a local relation
    val ndf = nullRows.toDF("a", "b").repartition(2)
      .withColumn("want", array_position(zip_with($"a", $"b", (x, y) => x === y), lit(true)))
      .withColumn("got", HashExpressions.firstAgreePos($"a", $"b"))
    assert(ndf.schema("a").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, true))
    ndf.select($"a", $"b", $"want", $"got").collect().foreach { r =>
      assert(r.getLong(3) == r.getLong(2), s"codegen: a=${r.get(0)} b=${r.get(1)}")
    }
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val arrT = org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, true)
    val expr = FirstAgreePos(BoundReference(0, arrT, true), BoundReference(1, arrT, true))
    val compiled = UnsafeProjection.create(Seq(expr))
    val wantPlanted = Seq(2L, 2L, 2L, 0L, 0L, 1L)
    planted.zip(wantPlanted).foreach { case ((a, b), w) =>
      def arr(xs: Seq[Option[Long]]) = new GenericArrayData(xs.map(_.map(Long.box).orNull))
      val row = InternalRow(arr(a), arr(b))
      assert(expr.eval(row) == w, s"eval: a=$a b=$b")
      assert(compiled(row).getLong(0) == w, s"codegen: a=$a b=$b")
    }
  }

  test("interpreted eval matches codegen result") {
    // force interpreted path by eval'ing the expression directly
    val shingles = Seq("a b c", "b c d", "c d e")
    val arrExpr = org.apache.spark.sql.catalyst.expressions.Literal.create(
      shingles, org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType))
    val interpreted = MinHashSignatures(arrExpr, 16).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray.toSeq
    val viaPlan = Seq(Tuple1(shingles)).toDF("sh")
      .select(HashExpressions.minhash($"sh", 16)).collect().head.getSeq[Long](0)
    assert(interpreted == viaPlan)

    val simInterp = SimHash64(arrExpr).eval(null).asInstanceOf[Long]
    val simPlan = Seq(Tuple1(shingles)).toDF("sh")
      .select(HashExpressions.simhash64($"sh")).collect().head.getLong(0)
    assert(simInterp == simPlan)
  }

  test("simhash: identical sets → same signature, disjoint sets differ, empty → 0") {
    val sig = shingleDf.select($"id", HashExpressions.simhash64($"sh").as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(3) != sig(1))
    assert(sig(4) == 0L)
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // near-identical sets → small hamming distance
    assert(hamming(sig(1), sig(2)) < hamming(sig(1), sig(3)))
  }

  test("band hashes: equal bands collide, any differing row changes its band only") {
    val df = Seq(
      (1L, Seq(10L, 20L, 30L, 40L)),
      (2L, Seq(10L, 20L, 30L, 41L)) // band 1 differs (2 bands × 2 rows)
    ).toDF("id", "sig")
    val bh = df.select($"id", HashExpressions.bandHashes($"sig", 2).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(bh(1)(0) == bh(2)(0), "identical first band must collide")
    assert(bh(1)(1) != bh(2)(1), "differing second band must not collide")
  }

  test("minhashTokens: matches string-shingle minhash estimates; short/empty inputs") {
    // identical token arrays → identical signatures; estimate still tracks jaccard
    val docs = Seq(
      (1L, (1 to 40).map(i => s"w$i")),
      (2L, (1 to 40).map(i => s"w$i")),                       // identical
      (3L, ((1 to 30).map(i => s"w$i") ++ (100 to 109).map(i => s"w$i"))), // ~70% shared tokens
      (4L, (200 to 240).map(i => s"w$i")),                    // disjoint
      (5L, Seq("only")),                                      // < n tokens
      (6L, Seq.empty[String])                                 // empty
    ).toDF("id", "toks")
    val sig = docs.select($"id", HashExpressions.minhashTokens($"toks", 3, 128).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def est(a: Seq[Long], b: Seq[Long]) = a.zip(b).count { case (x, y) => x == y } / 128.0
    assert(sig(1L) == sig(2L))
    assert(est(sig(1L), sig(3L)) > 0.3, "overlapping docs should agree on many minima")
    assert(est(sig(1L), sig(4L)) < 0.1, "disjoint docs should agree on almost none")
    assert(sig(5L).length == 128 && sig(5L) != sig(6L))
    assert(sig(6L).forall(_ == Long.MaxValue), "empty input matches nothing")
    // interpreted eval == codegen
    val lit = org.apache.spark.sql.catalyst.expressions.Literal.create(
      (1 to 40).map(i => s"w$i"), org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType))
    val interp = MinHashTokens(lit, 3, 128).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray.toSeq
    assert(interp == sig(1L))
  }

  test("simhashTokens: identical == 0 hamming, near-dup < unrelated, dup windows ignored") {
    val docs = Seq(
      (1L, (1 to 30).map(i => s"w$i")),
      (2L, (1 to 30).map(i => s"w$i")),                  // identical
      (3L, ((1 to 28).map(i => s"w$i") ++ Seq("x", "y"))), // near-dup
      (4L, (100 to 130).map(i => s"w$i")),               // unrelated
      (5L, ((1 to 30).map(i => s"w$i") ++ (1 to 30).map(i => s"w$i"))), // doubled content
      (6L, Seq.empty[String])
    ).toDF("id", "toks")
    val sig = docs.select($"id", HashExpressions.simhashTokens($"toks", 2).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sig(1L), sig(2L)) == 0)
    assert(ham(sig(1L), sig(3L)) < ham(sig(1L), sig(4L)))
    // doubled content repeats every interior window PLUS adds a bridge
    // window ("w30 w1"); distinct-window voting keeps the signature close
    assert(ham(sig(1L), sig(5L)) <= 2)
    assert(sig(6L) == 0L)
    // interpreted == codegen
    val lit = org.apache.spark.sql.catalyst.expressions.Literal.create(
      (1 to 30).map(i => s"w$i"), org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType))
    assert(SimHashTokens(lit, 2).eval(null).asInstanceOf[Long] == sig(1L))
  }

  test("signature agreement fraction") {
    val df = Seq((Seq(1L, 2L, 3L, 4L), Seq(1L, 2L, 9L, 4L))).toDF("a", "b")
    val r = df.select(HashExpressions.signatureAgreement($"a", $"b")).collect().head.getDouble(0)
    assert(r == 0.75)
  }

  /** `e` over one row of array<bigint> inputs (null elements are null
    * slots), through eval and through a generated projection: each a
    * value or the class it threw. */
  private def evalAndCompiled(e: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
      org.apache.spark.sql.catalyst.expressions.Expression,
      inputs: Seq[Any]*): (Any, Any) = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val arrT = org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, true)
    val expr = e(inputs.indices.map(BoundReference(_, arrT, true)))
    val row = InternalRow.fromSeq(inputs.map(new GenericArrayData(_)))
    val toScala = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(expr.dataType)
    def outcome(f: => Any): Any = scala.util.Try(toScala(f)).fold(_.getClass, identity)
    val compiled = GenerateUnsafeProjection.generate(Seq(expr))
    (outcome(expr.eval(row)), outcome(compiled(row).get(0, expr.dataType)))
  }
  test("signature agreement: a null slot never agrees (eval and codegen)") {
    val both = (a: Seq[Any], b: Seq[Any]) => evalAndCompiled(c => SignatureAgreement(c(0), c(1)), a, b)
    assert(both(Seq(null, 1L), Seq(null, 1L)) == ((0.5, 0.5)))
    assert(both(Seq(null, 1L), Seq(0L, 1L)) == ((0.5, 0.5)))
    assert(both(Seq(1L, 2L), Seq(1L, 2L)) == ((1.0, 1.0)))
  }

  test("bloom hits: a fixture-lane gram outside [0, 2^31) fails naming the domain") {
    val words = Array.fill(1)(-1L)
    for (g <- Seq(-1L, Long.MinValue, 1L << 31)) {
      val (ev, gen) = evalAndCompiled(c => BloomHits(c(0), words, 64, 2, foldWide = false), Seq(g))
      assert(ev == classOf[IllegalArgumentException] && gen == ev, s"gram $g: $ev / $gen")
      val msg = intercept[IllegalArgumentException](
        HashRuntime.bloomHits(new org.apache.spark.sql.catalyst.util.GenericArrayData(Array[Any](g)),
          words, 64, 2, foldWide = false)).getMessage
      assert(msg.contains("[0, 2^31)"), msg)
    }
    // in-domain grams and the wide lane are unaffected: every bit is set
    assert(evalAndCompiled(c => BloomHits(c(0), words, 64, 2, foldWide = false),
      Seq(0L, (1L << 31) - 1)) == ((2, 2)))
    assert(evalAndCompiled(c => BloomHits(c(0), words, 64, 2, foldWide = true),
      Seq(-1L, Long.MinValue)) == ((2, 2)))
  }

  test("band hashes: a signature that is not bands × rows (rows ≥ 1) fails loudly, both lanes") {
    val iae = classOf[IllegalArgumentException]
    for (sig <- Seq(Seq(1L), Seq(1L, 2L, 3L), Seq.empty)) {
      assert(evalAndCompiled(c => BandHashes(c(0), 2), sig) == ((iae, iae)), s"xxhash $sig")
      assert(evalAndCompiled(c => FixtureBandHashes(c(0), 2, 2), sig) == ((iae, iae)), s"fixture $sig")
    }
    // exact bands × rows still hashes; the fixture lane takes rowsPerBand literally
    assert(evalAndCompiled(c => FixtureBandHashes(c(0), 2, 2), Seq(1L, 2L, 3L, 4L, 5L, 6L)) ==
      ((iae, iae)))
    val (ev, gen) = evalAndCompiled(c => BandHashes(c(0), 2), Seq(1L, 2L, 3L, 4L))
    assert(ev == gen && ev.asInstanceOf[scala.collection.Seq[_]].length == 2)
  }

  /** A null signature slot must fail, not hash like a 0: through eval and
    * a generated projection, and with a message naming the slot. */
  private def assertNullSlotFails(kernel: org.apache.spark.sql.catalyst.expressions.Expression =>
      org.apache.spark.sql.catalyst.expressions.Expression,
      runtime: org.apache.spark.sql.catalyst.util.ArrayData => Any): Unit = {
    val iae = classOf[IllegalArgumentException]
    assert(evalAndCompiled(c => kernel(c(0)), Seq(null, 1L)) == ((iae, iae)))
    val msg = intercept[IllegalArgumentException](runtime(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(Array[Any](1L, 2L, 3L, null)))).getMessage
    assert(msg.contains("slot 3 is null"), msg)
    // [0, 1] still hashes, identically on both paths
    val (ev, gen) = evalAndCompiled(c => kernel(c(0)), Seq(0L, 1L))
    assert(ev == gen && ev.asInstanceOf[scala.collection.Seq[_]].length == 2, s"$ev / $gen")
  }

  test("band hashes: a null signature slot fails naming the slot (BandHashes)") {
    assertNullSlotFails(BandHashes(_, 2), HashRuntime.bandHashes(_, 2))
  }

  test("band hashes: a null signature slot fails naming the slot (FixtureBandHashes)") {
    assertNullSlotFails(FixtureBandHashes(_, 2, 1), FixtureHashes.bandHashes(_, 2, 2))
  }

  test("audio stats: hand-computed energy + mean-crossings, empty, eval==codegen") {
    import org.apache.spark.sql.functions.col
    // bytes [10, 20, 10]: n=3, tot=40, energy=600; v*n-tot = [-10, 20, -10]
    // → two sign changes
    val df = Seq((0L, Array[Byte](10, 20, 10)), (1L, Array.empty[Byte]),
      (2L, Array[Byte](5, 5, 5, 5))).toDF("id", "payload")
    val got = df.select(col("id"), HashExpressions.audioStats(col("payload")).as("st"))
      .select(col("id"), col("st.n_samples"), col("st.energy"), col("st.mean_crossings"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(0L) == ((3L, 600L, 2L)))
    assert(got(1L) == ((0L, 0L, 0L)))
    assert(got(2L) == ((4L, 100L, 0L)), "flat signal never crosses its mean")
    // interpreted eval agrees with the codegen'd column path
    val ir = AudioStatsBytes.stats(Array[Byte](10, 20, 10))
    assert(ir.getLong(0) == 3L && ir.getLong(1) == 600L && ir.getLong(2) == 2L)
  }

  test("binLength == length(bin(x)) for every long, including 0, negatives and extremes") {
    // the r15 integer intrinsic behind the |bin| whole-bits surprisal
    // family must be value-identical to the builtin string chain
    val edges = Seq(0L, 1L, -1L, 2L, 3L, 63L, 64L, 255L, 256L,
      Long.MaxValue, Long.MinValue, Long.MaxValue - 1, Long.MinValue + 1) ++
      (0 to 62).map(1L << _) ++ (0 to 62).map(i => (1L << i) - 1) ++
      { val r = new scala.util.Random(42); Seq.fill(200)(r.nextLong()) }
    val df = edges.toDF("v")
    val bad = df.select(col("v"),
        HashExpressions.binLength(col("v")).as("fast"),
        length(bin(col("v"))).as("ref"))
      .where(col("fast") =!= col("ref"))
      .collect()
    assert(bad.isEmpty, s"binLength diverges at: ${bad.map(_.getLong(0)).mkString(",")}")
    // null propagates
    val n = Seq[java.lang.Long](null).toDF("v")
      .select(HashExpressions.binLength(col("v"))).collect()
    assert(n.head.isNullAt(0))
  }
}
