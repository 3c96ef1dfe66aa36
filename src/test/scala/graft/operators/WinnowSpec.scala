package graft.operators

import graft.SparkTestSession
import graft.functions.WinnowFunctions.winnowSelect
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Winnowing: the O(g) deque kernel against a per-window rescan
  * reference (including tie cases), the w+k−1 detection guarantee on a
  * planted shared run, the 2/(w+1) density expectation, and the
  * pair/contamination operators end to end.
  */
class WinnowSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Per-window rescan: min by (hash, pos) — leftmost minimum — then
    * dedupe; the semantics the oracle SQL spells out.
    */
  private def reference(hashes: Seq[String], w: Int): Seq[(Int, String)] = {
    val g = hashes.length
    if (g == 0) return Nil
    (0 until math.max(g - w + 1, 1)).map { j =>
      val win = hashes.slice(j, math.min(j + w, g))
      val m = win.min
      (j + win.indexOf(m) + 1, m)
    }.distinct
  }

  test("deque kernel == per-window rescan on seeded arrays with heavy ties") {
    val rnd = new scala.util.Random(5L)
    // small alphabet -> frequent equal hashes, exercising the leftmost
    // tie-break; lengths 0..29 cover empty, shorter-than-window, exact
    val trials = (0 until 300).map { t =>
      val g = rnd.nextInt(30)
      (t, Seq.fill(g)(s"${rnd.nextInt(6)}${rnd.nextInt(6)}"))
    }
    val got = trials.toDF("t", "hs")
      .select($"t", winnowSelect($"hs", 4).as("sel"))
      .collect()
      .map(r => r.getInt(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(s => (s.getInt(0), s.getString(1))))
      .toMap
    trials.foreach { case (t, hs) =>
      assert(got(t) == reference(hs, 4), s"trial $t: $hs")
    }
  }

  test("detection guarantee: a shared run of w+k-1 tokens always shares a fingerprint") {
    // k=3, w=4 -> any shared run of >= 6 tokens must intersect
    val shared = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, s"xx1 xx2 xx3 $shared yy1 yy2"),
      (2L, s"zz1 $shared qq1 qq2 qq3 qq4"),
      (3L, "unrelated words only here nothing shared at all")).toDF("doc_id", "text")
    val pairs = Winnow.pairs(docs, "doc_id", "text", k = 3, w = 4, minShared = Some(1))
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("density tracks 2/(w+1) on random text") {
    val rnd = new scala.util.Random(9L)
    val words = Seq.fill(2000)(s"w${rnd.nextInt(100000)}").mkString(" ")
    val df = Seq((1L, words)).toDF("doc_id", "text")
    val nGrams = 2000 - 2
    val selected = Winnow.fingerprints(df, "doc_id", "text", k = 3, w = 4).count()
    val density = selected.toDouble / nGrams
    // expectation 2/(w+1) = 0.4; generous band for one sample
    assert(density > 0.3 && density < 0.5, s"density $density")
  }

  test("contamination: full overlap -> 1.0, disjoint -> 0.0") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different content with no benchmark words at all")).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog today")).toDF("doc_id", "text")
    val got = Winnow.contamination(corpus, bench, "doc_id", "text", "text",
        k = 3, w = 4)
      .as[(Long, Double)].collect().toMap
    assert(got(1L) == 1.0)
    assert(got(2L) == 0.0)
  }

  test("integer deque kernel == per-window rescan (signed longs, ties)") {
    import graft.functions.WinnowFunctions.winnowSelectLong
    val rnd = new scala.util.Random(13L)
    // small value set -> ties; negatives exercise signed comparison (the
    // xxhash production lane is full-range)
    val trials = (0 until 300).map { t =>
      val g = rnd.nextInt(30)
      (t, Seq.fill(g)(rnd.nextInt(7).toLong - 3L))
    }
    def ref(hs: Seq[Long], w: Int): Seq[(Int, Long)] = {
      val g = hs.length
      if (g == 0) return Nil
      (0 until math.max(g - w + 1, 1)).map { j =>
        val win = hs.slice(j, math.min(j + w, g))
        val m = win.min
        (j + win.indexOf(m) + 1, m)
      }.distinct
    }
    val got = trials.toDF("t", "hs")
      .select($"t", winnowSelectLong($"hs", 4).as("sel"))
      .collect()
      .map(r => r.getInt(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(s => (s.getInt(0), s.getLong(1))))
      .toMap
    trials.foreach { case (t, hs) => assert(got(t) == ref(hs, 4), s"trial $t: $hs") }
  }

  test("bloom lanes: full overlap -> 1.0, disjoint -> 0.0 (both hash families)") {
    // the batch operator in both families and the streaming gate; rows
    // 3-6 are edge text: null scores NULL, empty, blank and one-token
    // text score 0.0
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different content with no benchmark words at all"),
      (3L, null: String), (4L, ""), (5L, "   "), (6L, "zz")).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog today")).toDF("doc_id", "text")
    val bits = Winnow.buildFilter(bench, "text", mBits = 1 << 12)
    for (df <- Seq(
        Winnow.contaminationBloom(corpus, bench, "doc_id", "text", mBits = 1 << 12),
        Winnow.contaminationBloom(corpus, bench, "doc_id", "text", mBits = 1 << 12,
          family = HashFamily.Fixture),
        corpus.select(col("doc_id"),
          Winnow.contaminationBloomColumn(col("text"), bits, mBits = 1 << 12)))) {
      val got = df.collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
      assert(got(1L).contains(1.0), "identical doc: every winnowed fp hits")
      // disjoint text can still alias into set bits at tiny mBits — allow
      // the bloom's own (deterministic) false-positive rate, bounded well
      // below the gate thresholds the operator exists to serve
      assert(got(2L).exists(_ < 0.5), s"disjoint doc scored ${got(2L)}")
      assert(got(3L).isEmpty && Seq(4L, 5L, 6L).forall(got(_).contains(0.0)),
        s"edge rows scored $got")
    }
  }

  test("bloom gates score inside whole-stage codegen, with no lambda in the scoring projection") {
    import graft.functions.BloomHits
    import org.apache.spark.sql.catalyst.expressions.LambdaFunction
    import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, SparkPlan,
      WholeStageCodegenExec}
    val benchText = "the quick brown fox jumps over the lazy dog today"
    val bench = Seq(Tuple1(benchText)).toDF("text")
    // a Range source, not a local relation the optimizer would fold away
    val docs = spark.range(2).select(col("id").as("doc_id"),
      when(col("id") === 0L, lit(benchText)).otherwise(lit("other words entirely here"))
        .as("text"))
    def inStage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case other => other +: other.children.flatMap(inStage)
    }
    for ((lane, gate) <- Seq(
        "winnow" -> Winnow.contaminationBloomColumn(col("text"),
          Winnow.buildFilter(bench, "text", mBits = 1 << 12), mBits = 1 << 12),
        "bloom" -> Bloom.contaminationColumn(col("text"),
          Bloom.buildFilter(bench, "text", mBits = 1 << 12), 3, 1 << 12, 3))) {
      val kept = KeepRows.matching(docs, "c", gate, _ >= 0.0)
      assert(kept.count() == 2L)
      val plan = kept.queryExecution.executedPlan
      def scoring(ps: Seq[SparkPlan]) = ps.collect {
        case p: ProjectExec if p.projectList.exists(_.exists(_.isInstanceOf[BloomHits])) => p
      }
      val all = scoring(plan.collect { case p => p })
      val staged = scoring(plan.collect { case w: WholeStageCodegenExec => w }
        .flatMap(w => inStage(w.child)))
      assert(all.nonEmpty && staged.size == all.size,
        s"$lane: scoring projection outside whole-stage codegen\n$plan")
      assert(!all.exists(_.projectList.exists(_.exists(_.isInstanceOf[LambdaFunction]))),
        s"$lane: lambda in the scoring projection\n$plan")
    }
  }

  test("pairs maxDocFreq cap drops boilerplate fingerprints from candidates") {
    // 20 docs all sharing one boilerplate sentence; a cap below 20 kills
    // the fingerprints of that run, so no pairs survive minShared=1
    val docs = (1L to 20L).map(i =>
      (i, s"unique$i lead$i boilerplate legal footer text here tail$i end$i"))
      .toDF("doc_id", "text")
    val uncapped = Winnow.pairs(docs, "doc_id", "text", minShared = Some(1),
      budget = PairBudget.Exact).count()
    val capped = Winnow.pairs(docs, "doc_id", "text", minShared = Some(1),
      budget = PairBudget.Cap(5L)).count()
    assert(uncapped > 0L)
    assert(capped == 0L)
  }

  test("pairs on an empty corpus returns empty (auto minShared must not NPE on a null percentile)") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Winnow.pairs(empty, "doc_id", "text").count() == 0L)
  }
}
