package graft.operators

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Dedup operators verified on constructed fixtures with planted
  * near-duplicates (the synthetic documents table has none).
  */
class DedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat sleeps " +
      "near the warm fire and dreams of chasing mice through green fields"
  private val nearDup = base.replace("green fields", "golden meadows") // small edit
  private val unrelated =
    "spark executes distributed dataframes with catalyst optimizing the " +
      "logical plan into whole stage codegen physical operators at scale"

  private def docs() = Seq(
    (0L, base), (1L, nearDup), (2L, unrelated), (3L, base) // 3 = exact dup of 0
  ).toDF("doc_id", "text")

  test("exact dedup keeps min id per canonical text and counts duplicates") {
    val r = Dedup.exact(docs(), "doc_id", "text")
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(r == Set((0L, 2L), (1L, 1L), (2L, 1L))) // 0 wins over 3
    // canonicalization: whitespace/case-insensitive
    val r2 = Dedup.exact(Seq((0L, "A  B"), (1L, "a b")).toDF("doc_id", "text"), "doc_id", "text")
    assert(r2.count() == 1)
  }

  test("minhash LSH finds exact and near duplicates, not unrelated pairs") {
    val pairs = Dedup.minhashNearDuplicates(docs(), "doc_id", "text",
      shingle = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L)), "exact dup pair must be found")
    assert(pairs.contains((0L, 1L)) || pairs.contains((1L, 3L)), "near dup should collide")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L), "unrelated doc must not pair")
  }

  test("minhashEvalFixture: counts equal independently-computed pair sets; ratios exact") {
    import org.apache.spark.sql.functions._
    // a corpus with exact dups, partial overlaps, and noise so the two
    // sides can disagree: the eval must equal the set arithmetic over
    // independently-computed LSH and exact-Jaccard pair sets
    val dupText = "alpha beta gamma delta epsilon zeta eta theta " * 3
    val rows = (0L until 12L).map { i =>
      val words = (0 until 20).map { j =>
        // overlap structure: docs i and i+1 share ~75% of their tokens
        s"tok${(i * 5 + j) % 97}"
      }
      (i, words.mkString(" "))
    } ++ Seq((100L, dupText), (101L, dupText)) // planted exact dup pair
    val df = rows.toDF("doc_id", "text")
    val got = Dedup.minhashEvalFixture(df, "doc_id", "text",
      shingle = 3, numHashes = 64, bands = 16, thresholdNum = 7, thresholdDen = 10).head()
    // reference LSH side: the oracle-gated fixture pipeline itself
    val lsh = Dedup.minhashNearDuplicates(df, "doc_id", "text", 3, 64, 16, 0.7, HashFamily.Fixture)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // reference exact side: per-doc distinct fixture window-hash sets,
    // brute-forced pairwise with the integer threshold
    val whs = df.select(col("doc_id"),
        HashFamily.Fixture.windowHashSet(col("text"), 3))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val exact = (for {
      a <- whs.keys; b <- whs.keys if a < b
      c = (whs(a) intersect whs(b)).size
      if c * 10L >= (whs(a).size + whs(b).size - c) * 7L
    } yield (a, b)).toSet
    assert(got.getLong(0) == exact.size, s"n_exact ${got.getLong(0)} != ${exact.size}")
    assert(got.getLong(1) == lsh.size, s"n_lsh ${got.getLong(1)} != ${lsh.size}")
    assert(got.getLong(2) == (exact intersect lsh).size)
    assert(exact.nonEmpty && lsh.nonEmpty, "fixture must exercise both sides")
    val prec = BigDecimal(got.getLong(2).toDouble / got.getLong(1))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.getDouble(3) == prec)
  }

  test("minhash est_jaccard is 1.0 for exact duplicates") {
    val est = Dedup.minhashNearDuplicates(docs(), "doc_id", "text")
      .where($"idA" === 0 && $"idB" === 3).collect()
    assert(est.length == 1 && est.head.getDouble(2) == 1.0)
  }

  test("cross-corpus minhash: only (probe, reference) pairs; agrees with self-dedup on the union") {
    import org.apache.spark.sql.functions.col
    val probe = docs()
    val ref = docs().withColumn("doc_id", col("doc_id") + 1000)
    val cross = Dedup.minhashCrossDuplicates(probe, ref, "doc_id", "text",
      shingle = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // sides respected: probe ids < 1000, ref ids >= 1000
    assert(cross.forall(p => p._1 < 1000 && p._2 >= 1000))
    // every doc exactly matches its own copy at est 1.0
    probe.select("doc_id").collect().map(_.getLong(0)).foreach { i =>
      assert(cross.exists(p => p._1 == i && p._2 == i + 1000 && p._3 == 1.0),
        s"doc $i must match its cross copy exactly")
    }
    // reference restriction: self-dedup on the union, filtered to
    // cross-side pairs, is the same pair set
    val union = probe.unionByName(ref)
    val self = Dedup.minhashNearDuplicates(union, "doc_id", "text",
      shingle = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(p => p._1 < 1000 && p._2 >= 1000).toSet
    assert(cross.toSet == self, "cross pairs must equal side-filtered self-dedup pairs")
  }

  test("fixture minhash family: same pipeline semantics as the xxhash family") {
    // fixture hashes are SQL-replayable integer chains; the PIPELINE
    // (band→candidate→first-agree→verify) is shared, so the behavioral
    // contract must hold under either family
    val pairs = Dedup.minhashNearDuplicates(docs(), "doc_id", "text",
      shingle = 3, numHashes = 64, bands = 16, threshold = 0.5, family = HashFamily.Fixture)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((0L, 3L)), "exact dup pair must be found")
    assert(pairs.find(p => p._1 == 0L && p._2 == 3L).get._3 == 1.0)
    assert(!keys.exists(p => p._1 == 2L || p._2 == 2L), "unrelated doc must not pair")
    // short-text degenerate window: fewer tokens than the shingle width
    // must still sign (one whole-text window), mirroring MinHashTokens
    val short = Seq((0L, "ab"), (1L, "ab"), (2L, "zq")).toDF("doc_id", "text")
    val sp = Dedup.minhashNearDuplicates(short, "doc_id", "text", family = HashFamily.Fixture)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sp == Set((0L, 1L)))
  }

  test("simhash hamming distance: 0 for exact dups, small for near dups, pairs exclude unrelated") {
    val pairs = Dedup.simhashNearDuplicates(docs(), "doc_id", "text",
      shingle = 2, maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue)).toList
    val exact = pairs.find(p => p._1 == 0 && p._2 == 3)
    assert(exact.exists(_._3 == 0L))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("fixture simhash family: same pipeline semantics as the xxhash family") {
    // shared chunk-LSH pipeline (simhashPairsFromSigs); only the signature
    // swaps to SQL-replayable parity-vote integer arithmetic
    val pairs = Dedup.simhashNearDuplicates(docs(), "doc_id", "text",
      shingle = 2, maxHamming = 8, family = HashFamily.Fixture)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue)).toList
    val exact = pairs.find(p => p._1 == 0 && p._2 == 3)
    assert(exact.exists(_._3 == 0L), s"exact dup must pair at hamming 0, got $pairs")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L), "unrelated doc must not pair")
    // the signature stays inside the declared 60-bit envelope (top bits
    // zero — the cross-engine shift-semantics invariant)
    import org.apache.spark.sql.functions.{col, max}
    val sigs = docs().select(
      HashFamily.Fixture.simhashSig(col("text"), 2).as("sig"))
    val maxSig = sigs.agg(max(col("sig"))).head.getLong(0)
    assert(maxSig >= 0 && maxSig < (1L << HashFamily.Fixture.SimFixtureBits))
  }

  test("ngram jaccard matches a locally computed exact jaccard") {
    def shingles(s: String, n: Int) =
      s.split("\\s+").sliding(n).map(_.mkString(" ")).toSet
    val expected = {
      val a = shingles(base, 2); val b = shingles(nearDup, 2)
      a.intersect(b).size.toDouble / a.union(b).size
    }
    val got = Dedup.ngramJaccardPairs(docs(), "doc_id", "text", shingle = 2, threshold = 0.1)
      .where($"idA" === 0 && $"idB" === 1).collect()
    assert(got.length == 1)
    assert(math.abs(got.head.getDouble(2) - expected) < 1e-12)
  }

  test("ngram jaccard maxDocFreq drops hot-shingle candidates, keeps exact sizes") {
    import spark.implicits._
    // "common ground" appears in EVERY doc (hot); docs 0 & 1 also share a
    // rare shingle; docs 2 & 3 share ONLY the hot shingle
    val docs = Seq(
      (0L, "common ground alpha beta"),
      (1L, "common ground alpha beta"),
      (2L, "common ground gamma delta"),
      (3L, "common ground epsilon zeta")).toDF("doc_id", "text")
    val capped = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingle = 2, threshold = 0.0, budget = PairBudget.Cap(3))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((0L, 1L)), "rare-shingle pair survives the cap")
    assert(!capped.contains((2L, 3L)), "hot-only pair is dropped from candidates")
    // uncapped default finds both
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingle = 2, threshold = 0.0, budget = PairBudget.Exact)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.contains((2L, 3L)))
    // jaccard of the exact-dup pair is still 1.0 with the cap active?
    // no: its hot shingle is excluded from common but NOT from sizes, so
    // the estimate is a documented lower bound — assert it's below 1
    val est = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingle = 2, threshold = 0.0, budget = PairBudget.Cap(3))
      .where($"idA" === 0 && $"idB" === 1).collect().head.getDouble(2)
    assert(est > 0 && est < 1.0)
  }

  test("connectedComponents labels chains and separate cliques with the component min id") {
    // component {1,2,3,4} as a chain (diameter 3 forces >1 propagation
    // round), component {10,11,12} as a triangle, pair {20,21}
    val pairs = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)
    ).toDF("idA", "idB")
    val got = Dedup.connectedComponents(pairs, "idA", "idB")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents converges on a long chain in O(log diameter) rounds") {
    // a 300-hop chain: plain min-label propagation needs 300 rounds (and
    // would THROW at maxIter 12); pointer jumping must land it in
    // ceil(log2) + a few — maxIter 12 makes the complexity claim a gate,
    // not a comment
    val chain = (0L until 300L).map(i => (i, i + 1)).toDF("idA", "idB")
    val got = Dedup.connectedComponents(chain, "idA", "idB", maxIter = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 301 && got.forall(_._2 == 0L))
  }

  test("connectedComponents matches a reference union-find on seeded random graphs") {
    // reference: plain union-find with path compression
    def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(k => k -> find(k)).toMap
    }
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 30 + trial * 10
      val edges = Seq.fill(n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val expected = unionFind(n, edges)
      val got = Dedup.connectedComponents(edges.toDF("idA", "idB"), "idA", "idB")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == expected, s"trial $trial: random graph with ${edges.size} edges")
    }
  }

  test("ngramContamination: containment fractions exact; pool probe is a broadcast semi join") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),  // 3 grams, 2 in benchmark pool
      (2L, "zeta eta theta iota kappa"),       // disjoint from benchmark → 0
      (3L, "alpha beta gamma delta unknown")   // 3 grams, 2 in benchmark pool
    ).toDF("doc_id", "text")
    val benchmark = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val res = Dedup.ngramContamination(corpus, benchmark, "doc_id", "text", shingle = 3)
    val got = res.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    // doc 1: grams {abc, bcd, cde}; pool {abc, bcd} → 2/3
    assert(got == Map(1L -> 0.666667, 2L -> 0.0, 3L -> 0.666667))
    val plan = res.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftOuter"),
      s"pool probe must be a broadcast hit-marker join:\n$plan")
    // one pass over the corpus grams: a single aggregate (partial+final)
    // produces both the total and the hit count
    assert("HashAggregate\\(keys=\\[__id".r.findAllIn(plan).size == 2,
      s"total and hits must come from ONE aggregate pass:\n$plan")
  }

  test("duplicateSpans finds exactly the planted cross-doc repeated span, merged maximal") {
    // docs 10/11 share an 8-token run; everything else is unique
    val shared = "one two three four five six seven eight"
    val d = Seq(
      (10L, s"aa bb $shared cc dd"),
      (11L, s"xx yy zz $shared qq"),
      (12L, "totally different words without any repeats here at all")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(d, "doc_id", "text", k = 3, minSpan = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // doc 10: shared run at tokens 2..9; doc 11: at tokens 3..10
    assert(spans == Set((10L, 2L, 9L, 8L), (11L, 3L, 10L, 8L)))
  }

  test("contaminationSpans localizes the planted benchmark fragment; removal keeps the rest") {
    // doc 1 quotes an 8-token benchmark sentence verbatim mid-document;
    // doc 2 shares nothing with the benchmark
    val leaked = "the quick brown fox jumps over lazy dogs"
    val corpus = Seq(
      (1L, s"intro words here $leaked and a unique tail follows"),
      (2L, "completely unrelated content with no benchmark overlap at all")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, s"some eval context $leaked more eval text"))
      .toDF("bid", "btext")
    val spans = Dedup.contaminationSpans(corpus, "doc_id", "text",
        bench, "btext", k = 3, minSpan = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // the leaked run sits at tokens 3..10 of doc 1; doc 2 is clean
    assert(spans == Set((1L, 3L, 10L, 8L)), s"got $spans")
    val cleaned = Dedup.removeContaminationSpans(corpus, "doc_id", "text",
        bench, "btext", k = 3, minSpan = 5)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("dedup_text")).toMap
    assert(cleaned(1L) == "intro words here and a unique tail follows",
      "only the benchmark-overlapping span is excised; the document survives")
    assert(cleaned(2L) == "completely unrelated content with no benchmark overlap at all")
  }

  test("duplicateSpans counts within-doc self-repeats (Lee et al. semantics)") {
    val d = Seq(
      (1L, "a b c d e x y z a b c d e"), // "a b c d e" twice in ONE doc
      (2L, "p q r s t u v w")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(d, "doc_id", "text", k = 3, minSpan = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(spans == Set((1L, 0L, 4L), (1L, 8L, 12L)))
  }

  test("duplicateSpans excludes docs shorter than k (short-text window fallback)") {
    val d = Seq((1L, "a b"), (2L, "a b"), (3L, "a b c d e f")).toDF("doc_id", "text")
    // the two 2-token docs are identical but can't contain a >=5-token span;
    // without the length guard the whole-doc fallback window would fabricate
    // span_end = 2 on a 2-token doc
    assert(Dedup.duplicateSpans(d, "doc_id", "text", k = 3, minSpan = 5).isEmpty)
  }

  test("removeDuplicateSpans strips covered tokens, passes unpaired docs through") {
    val shared = "one two three four five"
    val d = Seq(
      (10L, s"aa bb $shared cc"),
      (11L, s"$shared zz"),
      (12L, "untouched words stay put")
    ).toDF("doc_id", "text")
    val got = Dedup.removeDuplicateSpans(d, "doc_id", "text", k = 3, minSpan = 5)
      .select("doc_id", "dedup_text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == Map(10L -> "aa bb cc", 11L -> "zz", 12L -> "untouched words stay put"))
  }

  test("duplicateSpans matches a brute-force local reference on seeded random corpora") {
    // independent O(n²)-ish reference: string grams, explicit island scan
    def brute(docs: Seq[(Long, String)], k: Int, minSpan: Int): Set[(Long, Long, Long, Long)] = {
      val toks = docs.map { case (id, t) => id -> t.trim.split("\\s+").toSeq }
      val grams = toks.flatMap { case (id, w) =>
        if (w.length >= k) w.sliding(k).zipWithIndex.map { case (g, p) => (id, p, g.mkString(" ")) }
        else Seq.empty }
      val freq = grams.groupBy(_._3).view.mapValues(_.size).toMap
      grams.filter(g => freq(g._3) >= 2).groupBy(_._1).flatMap { case (id, ps) =>
        val sorted = ps.map(_._2).sorted
        val islands = sorted.foldLeft(List.empty[List[Int]]) {
          case (Nil, p) => List(List(p))
          case (h :: t, p) if p == h.head + 1 => (p :: h) :: t
          case (acc, p) => List(p) :: acc
        }
        islands.map(i => (id, i.min.toLong, (i.max + k - 1).toLong,
          (i.max + k - 1 - i.min + 1).toLong))
      }.filter(s => s._4 >= minSpan).toSet
    }
    val rnd = new scala.util.Random(20260812L)
    for (trial <- 1 to 3) {
      val vocab = Seq("a", "b", "c", "d", "e")
      val docsSeq = (0 until 8).map { id =>
        val n = rnd.nextInt(30)
        (id.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }.filter(_._2.nonEmpty)
      val got = Dedup.duplicateSpans(docsSeq.toDF("doc_id", "text"), "doc_id", "text",
          k = 3, minSpan = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == brute(docsSeq, 3, 4), s"trial $trial on $docsSeq")
    }
  }

  test("removeDuplicateSpans matches token filtering by the brute-force span set") {
    val rnd = new scala.util.Random(411L)
    val vocab = Seq("a", "b", "c", "d")
    val docsSeq = (0 until 6).map { id =>
      (id.toLong, Seq.fill(rnd.nextInt(25))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    // reference removal: recompute spans the brute way (string grams),
    // drop covered tokens, rejoin
    def bruteClean(docs: Seq[(Long, String)], k: Int, minSpan: Int): Map[Long, String] = {
      val toks = docs.map { case (id, t) => id -> t.trim.split("\\s+").toSeq }.toMap
      val grams = toks.toSeq.flatMap { case (id, w) =>
        if (w.length >= k) w.sliding(k).zipWithIndex.map { case (g, p) => (id, p, g.mkString(" ")) }
        else Seq.empty }
      val freq = grams.groupBy(_._3).view.mapValues(_.size).toMap
      val dupPos = grams.filter(g => freq(g._3) >= 2).groupBy(_._1)
        .view.mapValues(_.map(_._2).sorted).toMap
      docs.map { case (id, _) =>
        val covered = dupPos.getOrElse(id, Seq.empty)
          .foldLeft(List.empty[List[Int]]) {
            case (Nil, p) => List(List(p))
            case (h :: t, p) if p == h.head + 1 => (p :: h) :: t
            case (acc, p) => List(p) :: acc
          }
          .filter(i => i.max + k - 1 - i.min + 1 >= minSpan)
          .flatMap(i => i.min to (i.max + k - 1)).toSet
        id -> toks(id).zipWithIndex.collect { case (t, i) if !covered(i) => t }.mkString(" ")
      }.toMap
    }
    val got = Dedup.removeDuplicateSpans(docsSeq.toDF("doc_id", "text"),
        "doc_id", "text", k = 3, minSpan = 4)
      .select("doc_id", "dedup_text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == bruteClean(docsSeq, 3, 4), s"on $docsSeq")
  }

  test("duplicateSpans scale shape: gram index is hashed, islands window is per-doc") {
    val d = docs()
    val plan = Dedup.duplicateSpans(d, "doc_id", "text", k = 3, minSpan = 5)
      .queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // candidate marking is a semi join on the 64-bit gram hash — no gram
    // strings are shuffled anywhere
    assert(plan.contains("LeftSemi"), s"dup-gram mark must be a semi join:\n$plan")
    // islands merge partitions by doc id only (per-doc work, sessionize's
    // skew envelope) — exactly one Window over (__id, __pos)
    assert("Window \\[".r.findAllIn(plan).size == 1, s"one island window:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"no quadratic join may appear:\n$plan")
  }

  test("embedding near-duplicates: identical vectors pair at cosine 1.0; orthogonal don't") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(1f, 0f, 0f, 0f)),     // dup of 0
      (2L, Array(0.99f, 0.1f, 0f, 0f)), // near-dup of 0
      (3L, Array(0f, 1f, 0f, 0f))       // orthogonal
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDuplicates(vecs, "vec_id", "embedding",
      threshold = 0.95, bits = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("semanticDedup matches a local cluster-then-prune reference; pair join is cell-keyed") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(29)
    val dim = 16
    // seeded random base + exact copies + near-copies (one flipped sign
    // at low magnitude keeps cosine high but < 1)
    val base = (0L until 60L).map(i => (i, Array.fill(dim)(rnd.nextFloat() * 2 - 1)))
    val copies = base.take(20).map { case (i, v) => (i + 100, v.clone()) }
    val near = base.slice(20, 30).map { case (i, v) =>
      val w = v.clone(); w(dim - 1) = w(dim - 1) + 0.01f; (i + 200, w)
    }
    val all = base ++ copies ++ near
    val df = all.toDF("vec_id", "embedding")
    val nCells = 4
    val got = Dedup.semanticDedup(df, "vec_id", "embedding", tau = 0.95, nCells = nCells)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap

    // local reference: same cell rule (nearest of the first nCells ids,
    // L2, tie to lower cell id), same verdict rule
    val cents = all.sortBy(_._1).take(nCells)
    def d2(a: Array[Float], b: Array[Float]) =
      a.zip(b).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum
    def cos(a: Array[Float], b: Array[Float]) = {
      val dp = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      dp / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val cell = all.map { case (i, v) =>
      i -> cents.minBy { case (ci, cv) => (d2(v, cv), ci) }._1
    }.toMap
    val want = all.map { case (i, v) =>
      val partners = all.filter { case (j, w) =>
        j < i && cell(j) == cell(i) && cos(v, w) >= 0.95 }
      i -> partners.map(_._1).sorted.headOption
    }.toMap
    assert(got == want)
    // every exact copy must be verdict'd against its original (same cell
    // by construction: identical vectors, identical tie-break)
    copies.foreach { case (i, _) => assert(got(i).contains(i - 100), s"copy $i") }

    // scale shape: the pair join is keyed on the cell column — never a
    // cartesian across cells
    val plan = Dedup.semanticDedup(df, "vec_id", "embedding", tau = 0.95, nCells = nCells)
      .queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("CartesianProduct"),
      s"semanticDedup pair join must be cell-keyed:\n$plan")
  }

  test("paragraphDedup: boilerplate keeps its first occurrence only; all-boilerplate docs drop") {
    val boiler = "accept all cookies to continue reading"
    val docs = Seq(
      (1L, s"unique intro one\n\n$boiler\n\nunique body one"),
      (2L, s"$boiler\n\nunique body two"),      // boilerplate already seen
      (3L, boiler),                              // NOTHING but boilerplate
      (4L, s"unique body two\n\nunique tail"),   // cross-DOC paragraph dup
      (5L, s"Accept   ALL cookies to continue reading")) // canonical dup (case/ws)
      .toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == s"unique intro one\n\n$boiler\n\nunique body one")
    assert(out(2L) == "unique body two")
    assert(!out.contains(3L), "all-boilerplate doc must drop")
    assert(out(4L) == "unique tail", "paragraph seen in an earlier doc must drop")
    assert(!out.contains(5L), "canonical (case/whitespace) dup must drop")
    // within-doc repetition: second copy loses to the first by position
    val rep = Seq((7L, "same para\n\nmiddle\n\nsame para")).toDF("doc_id", "text")
    assert(Dedup.paragraphDedup(rep, "doc_id", "text").head.getString(1)
      == "same para\n\nmiddle")
  }

  test("paragraphDedupWithin: intra-doc repeats drop, cross-doc copies KEPT; zero shuffles") {
    val boiler = "accept all cookies"
    val docs = Seq(
      (1L, s"intro\n\n$boiler\n\nbody\n\n$boiler\n\nIntro"),    // repeat + canonical repeat
      (2L, s"$boiler\n\nunique two"),           // cross-doc copy of boiler: KEPT (scope is within-doc)
      (3L, s"$boiler\n\n\n\n$boiler"),          // all repeats/blanks -> one survivor
      (4L, "")).toDF("doc_id", "text")          // empty doc -> empty string, still present
    val out = Dedup.paragraphDedupWithin(docs, "doc_id", "text")
    val m = out.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(1L) == s"intro\n\n$boiler\n\nbody",
      "later exact AND canonical (case) copies within the doc must drop")
    assert(m(2L) == s"$boiler\n\nunique two",
      "a paragraph seen in ANOTHER doc is out of scope and must be kept")
    assert(m(3L) == boiler)
    assert(m(4L) == "", "empty docs stay (no cross-dup winner to defer to)")
    // the operator is a pure projection: no Exchange anywhere
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"),
      "paragraphDedupWithin must be zero-shuffle")
  }

  test("softWeights: unique corpus weighs 1.0; k-fold dup weighs 1/k; short docs weigh 1.0") {
    // three documents with fully disjoint vocabularies -> every 2-gram has
    // df=1 -> commonness 1.0, weight 1.0 for all
    val uniq = Seq(
      (0L, "alpha beta gamma delta"),
      (1L, "one two three four"),
      (2L, "red green blue cyan")).toDF("doc_id", "text")
    val wU = Dedup.softWeights(uniq, "doc_id", "text", shingle = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(wU.values.forall(_ == 1.0), s"disjoint corpus must weigh 1.0: $wU")
    // a text duplicated 3x: every gram has df=3 -> weight exactly 1/3;
    // the unrelated doc stays at 1.0
    val tri = Seq(
      (0L, base), (1L, base), (2L, base), (3L, unrelated)).toDF("doc_id", "text")
    val wT = Dedup.softWeights(tri, "doc_id", "text", shingle = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(4)))
    wT.filter(_._1 <= 2L).foreach { case (_, n, sumDf, w) =>
      assert(sumDf == 3 * n && w == math.rint(1.0 / 3.0 * 1e6) / 1e6,
        s"3x dup must weigh round(1/3): $wT")
    }
    assert(wT.find(_._1 == 3L).get._4 == 1.0)
    // docs shorter than the shingle emit ONE partial-window gram (the
    // kernel's max(1, t-n+1) rule): still weighed, and a duplicated short
    // doc still thins — (3,4) share the single-token gram "word"
    val shorty = Seq((0L, ""), (1L, "a b"), (3L, "word"), (4L, "word"))
      .toDF("doc_id", "text")
    val wS = Dedup.softWeights(shorty, "doc_id", "text", shingle = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    assert(wS.length == 4, "every input id must appear in the output")
    assert(wS.forall(_._2 == 1L), s"each doc emits exactly one gram: ${wS.toSeq}")
    assert(wS.filter(_._1 <= 1L).forall(_._3 == 1.0))
    assert(wS.filter(_._1 >= 3L).forall(_._3 == 0.5),
      s"duplicated 1-token docs must weigh 1/2: ${wS.toSeq}")
  }

  test("softWeights: partial overlap lands strictly between unique and duplicate") {
    // doc 1 shares roughly half its grams with doc 0 -> weight strictly
    // inside (1/2, 1): the smooth degradation removal can't express
    val a = "alpha beta gamma delta epsilon zeta eta theta"
    val b = "alpha beta gamma delta nine ten eleven twelve"
    val df = Seq((0L, a), (1L, b)).toDF("doc_id", "text")
    val w = Dedup.softWeights(df, "doc_id", "text", shingle = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(w(0L) > 0.5 && w(0L) < 1.0, s"partial overlap must sit in (1/2, 1): $w")
    assert(w(1L) > 0.5 && w(1L) < 1.0)
  }

  test("softWeightsExact equals 1/dup_count per row; softSample keeps iff lcg clears weight") {
    import org.apache.spark.sql.functions._
    val df = Seq((0L, base), (1L, base), (2L, unrelated), (3L, "  " + base.toUpperCase))
      .toDF("doc_id", "text")
    // canonicalization folds 0,1,3 into one cluster of 3
    val ex = Dedup.softWeightsExact(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(ex.length == 4, "every row keeps its weight (no winner reduction)")
    ex.foreach { case (id, k, w) =>
      val expK = if (id == 2L) 1L else 3L
      assert(k == expK && w == math.rint(1e6 / expK) / 1e6, s"row $id: ($k, $w)")
    }
    // softSample = softWeights filtered by the house LCG threshold — verify
    // the decision row-for-row against an independent recomputation
    val corpus = (0L until 40L).map(i =>
        (i, if (i < 20) base else s"u${i}a u${i}b u${i}c u${i}d"))
      .toDF("doc_id", "text")
    val weights = Dedup.softWeights(corpus, "doc_id", "text", shingle = 2)
      .select(col("doc_id"), col("weight"),
        (graft.operators.Split.lcg31(col("doc_id")) <
          floor(col("weight") * lit(2147483648.0)).cast("long")).as("keep"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
    val kept = Dedup.softSample(corpus, "doc_id", "text", shingle = 2)
      .collect().map(_.getLong(0)).toSet
    assert(weights.filter(_._3).map(_._1).toSet == kept,
      "softSample must keep exactly the rows whose lcg31 clears their weight")
    assert(weights.filter(_._1 >= 20L).forall(_._3), "weight-1.0 docs always survive")
    assert(kept.count(_ < 20L) < 20, "duplicated mass must actually thin")
  }

  test("softWeightsAgainst: disjoint = 1.0, k-fold reference dup = 1/(k+1); distilled == join form") {
    import org.apache.spark.sql.functions.col
    val ref = Seq((0L, base), (1L, base), (2L, "shared words here plus tail"))
      .toDF("doc_id", "text")
    val probe = Seq(
      (10L, base),                           // twice in ref -> every gram df 2 -> 1/3
      (11L, unrelated),                      // disjoint -> exactly 1.0
      (12L, "shared words here plus tail"))  // once in ref -> 1/2
      .toDF("doc_id", "text")
    val w = Dedup.softWeightsAgainst(probe, "doc_id", "text", ref, shingle = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(w(10L) == math.rint(1e6 / 3) / 1e6, s"2x-in-ref must weigh 1/3: $w")
    assert(w(11L) == 1.0, s"reference-disjoint must weigh exactly 1.0: $w")
    assert(w(12L) == 0.5, s"1x-in-ref must weigh 1/2: $w")
    // the distilled map-side scorer reproduces the join form bit-for-bit
    val counts = Dedup.refGramCounts(ref, "text", shingle = 2)
    val dfMap = Dedup.distillGramDf(counts)
    val viaCol = probe.select(col("doc_id"),
        Dedup.softWeightColumn(col("text"), dfMap, shingle = 2).as("s"))
      .collect().map(r => (r.getLong(0), r.getStruct(1).getLong(0),
        r.getStruct(1).getLong(1), r.getStruct(1).getDouble(2)))
    val viaJoin = Dedup.softWeightsAgainstCounts(probe, "doc_id", "text", counts, shingle = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(4)))
    assert(viaCol.sortBy(_._1).toSeq == viaJoin.sortBy(_._1).toSeq,
      "distilled fold must equal the join form exactly")
    // the distill guard refuses oversized catalogs LOUDLY, from one row over
    intercept[IllegalArgumentException](Dedup.distillGramDf(counts, maxEntries = 3))
    assert(Dedup.distillGramDf(counts, maxEntries = dfMap.size) == dfMap)
    intercept[IllegalArgumentException](Dedup.distillGramDf(counts, maxEntries = dfMap.size - 1))
    // empty-map degenerate: all weights 1.0
    val w0 = probe.select(Dedup.softWeightColumn(col("text"), Map.empty, 2).getField("weight"))
      .collect().map(_.getDouble(0))
    assert(w0.forall(_ == 1.0))
  }

  test("distillers: accept maxEntries = n, refuse n - 1, and read their input once") {
    val dir = java.nio.file.Files.createTempDirectory("graft_distill").resolve("docs").toString
    val rows = Seq((0L, s"$base\n\n$unrelated"), (1L, s"$nearDup\n\n$base"), (2L, unrelated))
    rows.toDF("doc_id", "text").write.parquet(dir)
    val ref = spark.read.parquet(dir)
    // each distiller over a shuffling upstream aggregate of the file
    val distillers: Seq[(String, Int => Int)] = Seq(
      "distillGramDf" -> (m => Dedup.distillGramDf(
        Dedup.refGramCounts(ref, "text", shingle = 2), m).size),
      "distillBenchmarkGrams" -> (m => Dedup.distillBenchmarkGrams(ref, "text", 3, m).length),
      "distillParagraphCatalog" -> (m => Dedup.distillParagraphCatalog(
        Dedup.paragraphCatalog(ref, "text"), m).length),
      "Cdc.distillCatalog" -> (m => Cdc.distillCatalog(
        Cdc.chunkCatalog(ref, "text", minSize = 8, avgBits = 4, maxSize = 32), m).length))
    for ((name, distill) <- distillers) {
      val (n, read) = org.apache.spark.JobCount.inputRecords(spark.sparkContext)(distill(100000))
      assert(n > 1, name)
      assert(read == rows.size, s"$name must read its input once, read $read records")
      assert(distill(n) == n, name)
      intercept[IllegalArgumentException](distill(n - 1))
    }
  }
}
