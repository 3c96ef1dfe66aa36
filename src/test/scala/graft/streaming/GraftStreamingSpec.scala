package graft.streaming

import graft.SparkTestSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming semantics driven through MemoryStream: windowed aggregation
  * emits exactly once per closed window; sessionization closes sessions on
  * watermark passage and splits on intra-batch gaps.
  */
class GraftStreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def ts(sec: Long): java.sql.Timestamp = new java.sql.Timestamp(sec * 1000)

  test("windowed aggregation: append mode emits a window once its watermark passes") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "k", "v")
    val agg = GraftStreaming.windowedAgg(df, "ts", "0 seconds", "10 seconds")(
      Seq(col("k")), Seq(count(lit(1)).as("n"), sum(col("v")).as("total")))
    val query = GraftStreaming.storeStreamMemory(agg, "win_test")
    try {
      input.addData((ts(1), "a", 1.0), (ts(5), "a", 2.0), (ts(8), "b", 5.0))
      query.processAllAvailable()
      // watermark still at 8s: window [0,10) not closed yet
      assert(spark.table("win_test").count() == 0)
      input.addData((ts(25), "a", 9.0)) // advances watermark past 10s
      query.processAllAvailable()
      val rows = spark.table("win_test")
        .select(col("k"), col("n"), col("total")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows == Set(("a", 2L, 3.0), ("b", 1L, 5.0)))
    } finally query.stop()
  }

  test("windowedTopK: bounded-heap top-k per key+window, emitted once on window close") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Int)]
    val df = input.toDF().toDF("ts", "k", "v")
    val topk = GraftStreaming.windowedTopK(df, "ts", "0 seconds", "10 seconds",
      col("k"), col("v"), k = 2)
    val query = GraftStreaming.storeStreamMemory(topk, "topk_test")
    try {
      input.addData((ts(1), "a", 3), (ts(2), "a", 9), (ts(5), "a", 7), (ts(8), "b", 4))
      query.processAllAvailable()
      assert(spark.table("topk_test").count() == 0, "window [0,10) not closed yet")
      input.addData((ts(25), "a", 1)) // watermark past 10s closes the window
      query.processAllAvailable()
      val rows = spark.table("topk_test")
        .select(col("key"), col("topk")).collect()
        .map(r => (r.getString(0), r.getSeq[Int](1).toList)).toSet
      assert(rows == Set(("a", List(9, 7)), ("b", List(4))))
    } finally query.stop()
  }

  test("windowedTopK: heap state survives a checkpoint kill-resume; each window emits exactly once") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_topk_ckpt").toString
    val input = MemoryStream[(java.sql.Timestamp, String, Int)]
    val df = input.toDF().toDF("ts", "k", "v")
    val topk = GraftStreaming.windowedTopK(df, "ts", "0 seconds", "10 seconds",
      col("k"), col("v"), k = 2)
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(String, List[Int])]()
    def start() = topk.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select(col("key"), col("topk")).collect()
          .foreach(r => emitted.add((r.getString(0), r.getSeq[Int](1).toList)))
      }.start()
    val q1 = start()
    // window [0,10) stays OPEN: its heap buffers are checkpoint state only
    input.addData((ts(1), "a", 3), (ts(2), "a", 9), (ts(5), "a", 7), (ts(8), "b", 4))
    q1.processAllAvailable()
    q1.stop() // the kill
    import scala.jdk.CollectionConverters._
    assert(emitted.isEmpty, "no window closed before the kill")
    // arrives while the query is down: one more value for a's open window,
    // then a watermark-advancing row that closes [0,10)
    input.addData((ts(8), "a", 8), (ts(25), "a", 1))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val rows = emitted.asScala.toList
      // 9 and 7 exist ONLY in the restored heap; 8 only post-restart — the
      // emitted top-2 proves the checkpointed buffer merged across the kill
      assert(rows.count(_._1 == "a") == 1 && rows.count(_._1 == "b") == 1,
        s"each key+window must emit exactly once across the restart: $rows")
      assert(rows.toSet == Set(("a", List(9, 8)), ("b", List(4))),
        s"restored-heap merge wrong: $rows")
      // key b had NO post-restart rows at all — its emission is pure
      // restored state
    } finally q2.stop()
  }

  test("dedupMinHashStream: bucket state survives a checkpoint kill-resume; accepts exactly once") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_mh_ckpt").toString
    val base = "the quick brown fox jumps over the lazy dog while the cat watches " +
      "from the warm windowsill and the birds sing in the old oak tree outside"
    val other = "completely different content about distributed query engines " +
      "planning shuffles partitions and columnar storage formats at scale"
    val third = "a third unrelated document describing checkpoint recovery " +
      "semantics for stateful stream operators under kill restart testing"
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val df = input.toDF().toDF("ts", "doc_id", "text")
    val dd = GraftStreaming.dedupMinHashStream(df, "ts", "10 seconds",
      "doc_id", "text", threshold = 0.5)
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def start() = dd.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("id").collect().foreach(r => emitted.add(r.getString(0)))
      }.start()
    val q1 = start()
    input.addData((ts(1), 1L, base), (ts(2), 2L, other))
    q1.processAllAvailable()
    q1.stop() // the kill: held signatures live only in the checkpoint now
    import scala.jdk.CollectionConverters._
    assert(emitted.asScala.toSet == Set("1", "2"))
    // arrives while the query is down: an EXACT duplicate of doc 1 (same
    // signature, same bucket — droppable only if the restored bucket still
    // holds doc 1's signature) and a novel doc
    input.addData((ts(3), 3L, base), (ts(4), 4L, third))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val ids = emitted.asScala.toList
      assert(!ids.contains("3"),
        s"doc 3 is an exact dup of pre-kill doc 1 — accepting it means the " +
          s"restored state lost doc 1's signature: $ids")
      assert(ids.count(_ == "4") == 1, s"novel doc accepted exactly once: $ids")
      assert(ids.sorted == List("1", "2", "4"),
        s"exactly-once accepted set across the restart: $ids")
    } finally q2.stop()
  }

  test("asofJoinStream: carry + pending state survive a checkpoint kill-resume; matches exactly once") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_asof_ckpt").toString
    val lIn = MemoryStream[(String, java.sql.Timestamp, String)]
    val rIn = MemoryStream[(String, java.sql.Timestamp, String)]
    val out = GraftStreaming.asofJoinStream(
      lIn.toDF().toDF("key", "ts", "payload"),
      rIn.toDF().toDF("key", "ts", "payload"), "0 seconds")
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, String, String)]()
    def start() = out.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => emitted.add((r.getString(0),
          r.getTimestamp(1).getTime / 1000,
          r.getString(2), Option(r.getString(4)).orNull)))
      }.start()
    val q1 = start()
    // pre-kill: the right row that must become the restored CARRY, and a
    // left row that stays PENDING (watermark has not passed it yet)
    rIn.addData(("k", ts(10), "r10")); lIn.addData(("k", ts(20), "l20"))
    q1.processAllAvailable()
    q1.stop() // the kill: carry + pending left live only in the checkpoint
    import scala.jdk.CollectionConverters._
    assert(emitted.isEmpty, "nothing finalizes before the watermark moves")
    lIn.addData(("k", ts(50), "l50")) // arrives while the query is down
    val q2 = start()
    try {
      q2.processAllAvailable()
      // advance BOTH input watermarks past the lefts (the global
      // watermark is their minimum), then one more trigger so the
      // advanced watermark is visible to the state operator
      lIn.addData(("k", ts(200), "l200")); rIn.addData(("k", ts(200), "r200"))
      q2.processAllAvailable()
      lIn.addData(("k2", ts(201), "x")); rIn.addData(("k2", ts(201), "y"))
      q2.processAllAvailable()
      val rows = emitted.asScala.toList
      // both matches are only possible from RESTORED state: right(10)
      // and left(20) existed solely before the kill
      assert(rows.count(_ == (("k", 20L, "l20", "r10"))) == 1,
        s"pre-kill left must match the pre-kill right exactly once: $rows")
      assert(rows.count(_ == (("k", 50L, "l50", "r10"))) == 1,
        s"post-restart left must match the restored carry exactly once: $rows")
      // no pre-kill left may ever re-emit differently (e.g. unmatched
      // after a state reset) — every k-keyed emission is one of the two
      // expected matches or the watermark-advancing l200
      assert(rows.filter(_._1 == "k").forall(r =>
        r == (("k", 20L, "l20", "r10")) || r == (("k", 50L, "l50", "r10")) ||
          r._3 == "l200"), s"contradictory emission: $rows")
    } finally q2.stop()
  }

  test("rangeJoinStream: open intervals + pending points survive a checkpoint kill-resume") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_range_ckpt").toString
    val pIn = MemoryStream[(String, java.sql.Timestamp, String)]
    val iIn = MemoryStream[(String, java.sql.Timestamp, java.sql.Timestamp, String)]
    val out = GraftStreaming.rangeJoinStream(
      pIn.toDF().toDF("key", "ts", "payload"),
      iIn.toDF().toDF("key", "lo", "hi", "payload"), "0 seconds")
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, String, String)]()
    def start() = out.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => emitted.add((r.getString(0),
          r.getTimestamp(1).getTime / 1000, r.getString(2), r.getString(5)))) }
      .start()
    val q1 = start()
    // pre-kill: one OPEN interval and one pending point inside it
    iIn.addData(("k", ts(10), ts(100), "I")); pIn.addData(("k", ts(50), "p50"))
    q1.processAllAvailable()
    q1.stop() // the kill
    import scala.jdk.CollectionConverters._
    assert(emitted.isEmpty, "nothing finalizes before the watermark moves")
    pIn.addData(("k", ts(60), "p60")) // arrives while the query is down
    val q2 = start()
    try {
      q2.processAllAvailable()
      // advance BOTH streams' watermarks past the points (the global
      // watermark is their minimum)
      pIn.addData(("k", ts(300), "p300")); iIn.addData(("k", ts(300), ts(310), "I3"))
      q2.processAllAvailable()
      // one more trigger so the advanced watermark is visible to state
      pIn.addData(("k2", ts(301), "x")); iIn.addData(("k2", ts(301), ts(302), "y"))
      q2.processAllAvailable()
      val rows = emitted.asScala.toList
      // both pairs need the RESTORED interval; p50 is itself pre-kill
      assert(rows.count(_ == (("k", 50L, "p50", "I"))) == 1,
        s"pre-kill point must match the pre-kill interval exactly once: $rows")
      assert(rows.count(_ == (("k", 60L, "p60", "I"))) == 1,
        s"post-restart point must match the restored interval exactly once: $rows")
    } finally q2.stop()
  }

  test("heavyHittersStream: Misra-Gries guarantee holds over everything processed so far") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, String)]
    val df = input.toDF().toDF("ts", "src", "text")
    val hh = GraftStreaming.heavyHittersStream(df, "src", "text", k = 3)
    val query = GraftStreaming.storeStreamMemory(hh, "hh_test", outputMode = "update")
    try {
      // batch 1: hot:8, warm:3, c1..c4 ×1 → n=15
      input.addData((ts(1), "g", ("hot " * 8) + ("warm " * 3) + "c1 c2 c3 c4"))
      query.processAllAvailable()
      // batch 2: hot:4 more, warm:3 more, d1..d3 ×1 → n=25 total
      input.addData((ts(2), "g", ("hot " * 4) + ("warm " * 3) + "d1 d2 d3"))
      query.processAllAvailable()
      // latest update per word (update mode appends re-emissions; take max n)
      val t = spark.table("hh_test").collect()
        .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
      val n = t.map(_._3).max
      assert(n == 25, s"processed-count must track the full stream, got $n")
      val latest = t.filter(_._3 == n).map(x => (x._1, x._2)).toMap
      assert(latest.size <= 3)
      val truth = Map("hot" -> 12L, "warm" -> 6L)
      val bound = n / 4 // n/(k+1)
      truth.foreach { case (w, c) =>
        if (c > bound) assert(latest.contains(w), s"heavy $w missing")
      }
      latest.foreach { case (w, e) =>
        val c = truth.getOrElse(w, 1L)
        assert(e <= c && c - e <= bound, s"$w estimate $e outside [${c - bound}, $c]")
      }
    } finally query.stop()
  }

  test("dedupMinHashStream: exact dup dropped; stream agrees with replayed signature semantics") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog while the cat watches " +
      "from the warm windowsill and the birds sing in the old oak tree outside"
    val docs = Seq(
      (1L, base),
      (2L, "completely different content about distributed query engines " +
        "planning shuffles partitions and columnar storage formats at scale"),
      (3L, base), // exact dup of 1: same signature, same bucket — always dropped
      (4L, base.replace("lazy", "sleepy"))) // near-dup: dropped iff bucket collides
    // replay the operator's own semantics from the (deterministic) batch
    // signatures to derive the expected accepted set — near-dup detection
    // through ONE band is probabilistic by design, so the oracle is the
    // signature algebra, not a hardcoded outcome
    val threshold = 0.5
    val sigs = docs.toDF("doc_id", "text").select(col("doc_id"),
        element_at(graft.functions.HashExpressions.bandHashes(
          graft.operators.Dedup.minhashSignature(col("text"), 3, 64), 16), 1).as("bucket"),
        graft.operators.Dedup.minhashSignature(col("text"), 3, 64).as("sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toList
    val expected = scala.collection.mutable.Set.empty[String]
    val held = scala.collection.mutable.Map.empty[Long, Vector[Seq[Long]]]
    for ((id, bucket, sig) <- sigs) {
      val isDup = held.getOrElse(bucket, Vector.empty).exists(s =>
        s.zip(sig).count { case (a, b) => a == b }.toDouble / 64 >= threshold)
      if (!isDup) { expected += id.toString; held(bucket) = held.getOrElse(bucket, Vector.empty) :+ sig }
    }
    assert(!expected.contains("3"), "exact dup must be dropped in the replay too")
    assert(expected.contains("1") && expected.contains("2"))

    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val df = input.toDF().toDF("ts", "doc_id", "text")
    val dd = GraftStreaming.dedupMinHashStream(df, "ts", "10 seconds", "doc_id", "text",
      threshold = threshold)
    val query = GraftStreaming.storeStreamMemory(dd, "minhash_dedup_test")
    try {
      input.addData((ts(1), 1L, docs(0)._2), (ts(2), 2L, docs(1)._2))
      query.processAllAvailable()
      input.addData((ts(3), 3L, docs(2)._2), (ts(4), 4L, docs(3)._2)) // later batch
      query.processAllAvailable()
      val ids = spark.table("minhash_dedup_test").select("id").collect().map(_.getString(0)).toSet
      assert(ids == expected.toSet, s"stream decisions must match the replayed semantics")
    } finally query.stop()
  }

  test("dedupTextStream: first doc per canonical text survives across batches, state watermark-bounded") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val df = input.toDF().toDF("ts", "doc_id", "text")
    val dd = GraftStreaming.dedupTextStream(df, "ts", "10 seconds", "text")
    val query = GraftStreaming.storeStreamMemory(dd, "dedup_test")
    try {
      input.addData((ts(1), 1L, "Hello   World"), (ts(2), 2L, "other doc"))
      query.processAllAvailable()
      // duplicate content in a later batch, with whitespace/case variance
      input.addData((ts(3), 3L, "hello world"), (ts(4), 4L, "third doc"))
      query.processAllAvailable()
      val ids = spark.table("dedup_test").select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L, 4L), "doc 3 is a canonical duplicate of doc 1")
    } finally query.stop()
  }

  test("curateStream: composed quality->dedup->decontaminate agrees with the batch stages") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val bench = Seq((900L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "a decent document with reasonably many distinct words here"),
      (2L, "x"),                                              // fails quality gate
      (3L, "a decent document with reasonably many distinct words here"), // dup of 1
      (4L, "alpha beta gamma delta epsilon zeta and more"),   // contaminated
      (5L, "another clean piece of text with enough variety inside"))
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val out = GraftStreaming.curateStream(
      input.toDF().toDF("ts", "doc_id", "text"), "ts", "10 seconds", "text",
      minQuality = 0.7, bench, maxContamination = 0.4,
      shingle = 3, mBits = 1 << 12)
    val query = GraftStreaming.storeStreamMemory(out, "curate_test")
    try {
      docs.zipWithIndex.foreach { case ((id, text), i) =>
        input.addData((ts(i + 1), id, text))
      }
      query.processAllAvailable()
      val got = spark.table("curate_test")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      // batch replica of the three stages, first-arrival == min-id here
      val batch = docs.toDF("doc_id", "text")
        .where(graft.functions.TextFunctions.qualityScore(col("text")) >= 0.7)
      val deduped = graft.operators.Dedup.exact(batch, "doc_id", "text")
        .select("doc_id")
      val want = graft.operators.Bloom.ngramContaminationBloom(
          batch.join(deduped, Seq("doc_id"), "left_semi"), bench,
          "doc_id", "text", shingle = 3, mBits = 1 << 12)
        .where(col("contamination_bloom") <= 0.4)
        .collect().map(_.getLong(0)).toSet
      assert(got == want, s"stream $got vs batch $want")
      assert(got.contains(1L) && got.contains(5L) && !got.contains(2L) &&
        !got.contains(3L) && !got.contains(4L))
    } finally query.stop()
  }

  test("dedupAgainstStream: arriving docs already in the static reference are dropped") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val reference = Seq((100L, "Known   Doc"), (101L, "other known")).toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val out = GraftStreaming.dedupAgainstStream(
      input.toDF().toDF("doc_id", "text"), "text", reference, "text")
    val query = GraftStreaming.storeStreamMemory(out, "dedup_static_test")
    try {
      // canonical variant of a known doc + two novel docs across batches
      input.addData((1L, "known doc"), (2L, "fresh content"))
      query.processAllAvailable()
      input.addData((3L, "OTHER KNOWN"), (4L, "also new"))
      query.processAllAvailable()
      val ids = spark.table("dedup_static_test")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids == Set(2L, 4L),
        s"canonical matches of reference docs must drop, got $ids")
    } finally query.stop()
  }

  test("hllRegistersStream: final streamed registers equal the batch sketch exactly") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def mix(x: Long): Long = {
      var z = x + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val rows = (0 until 3000).map(i =>
      (if (i % 3 == 0) "a" else "b", java.lang.Math.floorMod(mix(i.toLong), 1000000007L)))
    val input = MemoryStream[(String, Long)]
    val out = GraftStreaming.hllRegistersStream(
      input.toDF().toDF("src", "h"), "src", "h", p = 7)
    val query = GraftStreaming.storeStreamMemory(out, "hll_stream_test", "update")
    try {
      input.addData(rows.take(1000): _*); query.processAllAvailable()
      input.addData(rows.drop(1000): _*); query.processAllAvailable()
      // update-mode emissions are monotone per key; the max rho per
      // (src, bucket) is the final register
      val streamed = spark.table("hll_stream_test")
        .groupBy("src", "bucket")
        .agg(org.apache.spark.sql.functions.max("rho").as("rho"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      val batch = graft.operators.Profile.hllRegistersBy(
          rows.toDF("src", "h"), "src", "h", p = 7)
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(streamed == batch)
    } finally query.stop()
  }

  test("funnelStream: ts-ordered ingest ends in exactly the batch funnel; state is monotone") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // (user, ts, stage): user 1 completes 0→1→2 across TRIGGERS; user 2's
    // stage-1 event precedes its stage-0 (ineligible both engines); user 3
    // only reaches stage 0
    val batch1 = Seq((1L, 10L, 0), (2L, 5L, 1), (3L, 7L, 0))
    val batch2 = Seq((1L, 20L, 1), (2L, 30L, 0), (1L, 25L, 2), (2L, 40L, 1))
    val input = MemoryStream[(Long, Long, Int)]
    val out = GraftStreaming.funnelStream(input.toDS(), nStages = 3)(
      _._1, _._2, _._3)
    val query = out.toDF().toDF("user", "times").writeStream
      .outputMode("update").format("memory").queryName("funnel_stream_test").start()
    try {
      input.addData(batch1: _*); query.processAllAvailable()
      input.addData(batch2: _*); query.processAllAvailable()
      // monotone completions: the row with the longest completed prefix is
      // the key's final funnel (earlier update rows are strict prefixes)
      val rows = spark.table("funnel_stream_test")
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
      for ((u, ts) <- rows; (u2, ts2) <- rows if u == u2) {
        val (a, b) = (ts.filter(_ >= 0), ts2.filter(_ >= 0))
        assert(a.startsWith(b) || b.startsWith(a), s"non-monotone updates for $u: $ts vs $ts2")
      }
      val fin = rows.groupBy(_._1).map { case (u, g) =>
        u -> g.map(_._2).maxBy(_.count(_ >= 0))
      }
      val batchRes = graft.operators.Sessions.funnelStages(
          (batch1 ++ batch2).toDF("user", "ts", "st"), "user", "ts", "st", nStages = 3)
        .collect().map(r => r.getLong(0) ->
          (1 to 3).map(i => if (r.isNullAt(i)) -1L else r.getLong(i)).toSeq).toMap
      assert(fin == batchRes, s"stream $fin != batch $batchRes")
      assert(fin(1L) == Seq(10L, 20L, 25L) && fin(2L) == Seq(30L, 40L, -1L))
    } finally query.stop()
  }

  test("funnelStream: state survives a checkpoint kill-resume; completions exactly once") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_funnel_ckpt").toString
    val batch1 = Seq((1L, 10L, 0), (2L, 5L, 0), (3L, 7L, 0))
    val batch2 = Seq((1L, 20L, 1), (1L, 25L, 2), (2L, 30L, 1), (2L, 40L, 2))
    val input = MemoryStream[(Long, Long, Int)]
    val out = GraftStreaming.funnelStream(input.toDS(), nStages = 3)(
      _._1, _._2, _._3)
    // memory sinks cannot recover from a checkpoint; foreachBatch can
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Long])]()
    def start() = out.writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[(Long, Seq[Long])], _: Long) =>
        df.collect().foreach(emitted.add)
      }.start()
    val q1 = start()
    input.addData(batch1: _*); q1.processAllAvailable()
    q1.stop() // the kill: state lives only in the checkpoint now
    import scala.jdk.CollectionConverters._
    assert(emitted.asScala.toSet ==
      Set((1L, Seq(10L, -1L, -1L)), (2L, Seq(5L, -1L, -1L)), (3L, Seq(7L, -1L, -1L))))
    input.addData(batch2: _*) // arrives while the query is down
    val q2 = start()
    try {
      q2.processAllAvailable()
      val rows = emitted.asScala.toSeq
      // stage 1/2 credit is only possible if the RESTORED state still holds
      // stage 0 (the fold requires st == done.size): equality with the batch
      // operator proves the checkpoint round-trip restored every key
      val fin = rows.groupBy(_._1).map { case (u, g) =>
        u -> g.map(_._2).maxBy(_.count(_ >= 0)) }
      val batchRes = graft.operators.Sessions.funnelStages(
          (batch1 ++ batch2).toDF("user", "ts", "st"), "user", "ts", "st", nStages = 3)
        .collect().map(r => r.getLong(0) ->
          (1 to 3).map(i => if (r.isNullAt(i)) -1L else r.getLong(i)).toSeq).toMap
      assert(fin == batchRes, s"stream $fin != batch $batchRes")
      assert(fin(1L) == Seq(10L, 20L, 25L) && fin(2L) == Seq(5L, 30L, 40L))
      // exactly-once completions: across BOTH query incarnations every
      // emitted row is a prefix-extension — no completion is ever re-issued
      // with a different time (double-credit) or lost (state reset would
      // restart user 1 at stage 0 with ts 20)
      for ((u, ts1) <- rows; (u2, ts2) <- rows if u == u2) {
        val (a, b) = (ts1.filter(_ >= 0), ts2.filter(_ >= 0))
        assert(a.startsWith(b) || b.startsWith(a),
          s"contradicting completions for $u across restart: $ts1 vs $ts2")
      }
    } finally q2.stop()
  }

  test("unimaxStream: epochs agree exactly with the batch apply on the same rows") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // profile: skewed static corpus; quotas distilled once
    val profile = ((0L until 4L).map(i => ("small", i)) ++
      (0L until 100L).map(i => ("big", 1000L + i))).toDF("src", "id")
    val quotas = graft.operators.Mixture.unimaxQuotas(profile, "src", 1, 2, 4)
    val rows = Seq(("small", 0L), ("small", 1L), ("big", 1000L), ("big", 1001L),
      ("big", 1042L), ("small", 3L))
    val input = MemoryStream[(String, Long)]
    val out = GraftStreaming.unimaxStream(
      input.toDF().toDF("src", "id"), "src", "id", quotas)
    val query = GraftStreaming.storeStreamMemory(out, "unimax_stream_test")
    try {
      input.addData(rows.take(3): _*)
      query.processAllAvailable()
      input.addData(rows.drop(3): _*)
      query.processAllAvailable()
      val streamed = spark.table("unimax_stream_test")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
      val batch = graft.operators.Mixture.unimaxApply(
          rows.toDF("src", "id"), "src", "id", quotas)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
      assert(streamed.sameElements(batch), s"stream ${streamed.toSeq} != batch ${batch.toSeq}")
      // the capped small source really is up-sampled: 4 full epochs each
      assert(streamed.count(_._1 == "small") == 3 * 4)
    } finally query.stop()
  }

  test("chunkStream: chunk layout agrees exactly with the batch operator") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val rows = Seq((1L, words(10)), (2L, words(3)), (3L, words(7)))
    val input = MemoryStream[(Long, String)]
    val out = GraftStreaming.chunkStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", chunkTokens = 5, stride = 3)
    val query = GraftStreaming.storeStreamMemory(out, "chunk_stream_test")
    try {
      input.addData(rows.take(2): _*)
      query.processAllAvailable()
      input.addData(rows.drop(2): _*)
      query.processAllAvailable()
      val streamed = spark.table("chunk_stream_test")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).sorted
      val batch = graft.operators.Retrieval.chunkByTokens(
          rows.toDF("doc_id", "text"), "doc_id", "text", 5, 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).sorted
      assert(streamed.sameElements(batch), s"stream ${streamed.toSeq} != batch ${batch.toSeq}")
    } finally query.stop()
  }

  test("paragraphDedupStream: stateless gate agrees exactly with the batch join form") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val reference = Seq(
      (100L, "COOKIE BANNER\n\nreference body"),
      (101L, "license   header\n\nmore reference text")).toDF("doc_id", "text")
    val catalog = graft.operators.Dedup.paragraphCatalog(reference, "text")
    val fps = graft.operators.Dedup.distillParagraphCatalog(catalog)
    val docs = Seq(
      (1L, "cookie   banner\n\nunique body one\n\nLicense Header"), // boilerplate stripped
      (2L, "Cookie Banner\n\nlicense header"),                      // all boilerplate → dropped
      (3L, "fresh paragraph\n\n\n\nanother fresh one"))             // untouched (empty para skipped)
    val input = MemoryStream[(Long, String)]
    val out = GraftStreaming.paragraphDedupStream(
      input.toDF().toDF("doc_id", "text"), "text", fps)
    val query = GraftStreaming.storeStreamMemory(out, "para_dedup_stream_test")
    try {
      input.addData(docs.take(2): _*)
      query.processAllAvailable()
      input.addData(docs.drop(2): _*)
      query.processAllAvailable()
      val streamed = spark.table("para_dedup_stream_test")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val batch = graft.operators.Dedup.paragraphDedupAgainst(
          docs.toDF("doc_id", "text"), "doc_id", "text", catalog)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(streamed == batch, s"stream $streamed must equal batch $batch")
      assert(!streamed.contains(2L), "all-boilerplate doc must disappear")
      assert(streamed(1L) == "unique body one",
        "canonical-variant boilerplate paragraphs strip; the body survives")
    } finally query.stop()
  }

  test("decontaminateSpanStream: surgical excision agrees exactly with the batch operator") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val leaked = "the quick brown fox jumps over lazy dogs"
    val second = "pack my box with five dozen jugs"
    val bench = Seq((100L, s"eval context $leaked more text"),
      (101L, s"other eval $second tail")).toDF("bid", "btext")
    val docs = Seq(
      (1L, s"intro words here $leaked and a unique tail follows"),   // one excision
      (2L, s"aa $leaked bb cc dd $second ee"),                       // two spans, one doc
      (3L, "completely unrelated content with no benchmark overlap at all"),
      (4L, "shorty"),                                                // < k tokens
      (5L, s"  spaced   out    $leaked   text  "),                   // whitespace variants
      // Spark's trim strips spaces only and split keeps edge empties:
      // a leading tab / trailing newline yields empty edge tokens, and a
      // leading control char stays glued to the first token
      (6L, s"\t$leaked tail\n"),
      (7L, s"\u0001$leaked ctrl tail"))
    val grams = graft.operators.Dedup.distillBenchmarkGrams(bench, "btext", k = 3)
    val input = MemoryStream[(Long, String)]
    val out = GraftStreaming.decontaminateSpanStream(
      input.toDF().toDF("doc_id", "text"), "text", grams, k = 3, minSpan = 5)
    val query = GraftStreaming.storeStreamMemory(out, "decontam_span_stream_test")
    try {
      input.addData(docs.take(3): _*)
      query.processAllAvailable()
      input.addData(docs.drop(3): _*)
      query.processAllAvailable()
      val streamed = spark.table("decontam_span_stream_test")
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("dedup_text")).toMap
      val batch = graft.operators.Dedup.removeContaminationSpans(
          docs.toDF("doc_id", "text"), "doc_id", "text", bench, "btext",
          k = 3, minSpan = 5)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("dedup_text")).toMap
      assert(streamed == batch, s"stream $streamed must equal batch $batch")
      assert(streamed(1L) == "intro words here and a unique tail follows")
      assert(streamed(2L) == "aa bb cc dd ee", "both leaked fragments excised")
      assert(streamed(5L) == "spaced out text", "whitespace-normalized like the batch renderer")
      assert(streamed(6L) == " tail ", "edge tab/newline tokenize as empty tokens")
      assert(streamed(7L) == "\u0001the ctrl tail", "a control char is not trimmed")
    } finally query.stop()
  }

  test("decontaminateStream: stateless gate agrees exactly with the batch operator") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // heavy overlap → dropped
      (2L, "totally different words here now"),
      (3L, "alpha beta unrelated tail words okay"))
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "text")
    val out = GraftStreaming.decontaminateStream(df, "text", bench,
      maxContamination = 0.5, shingle = 3, mBits = 1 << 12)
    val query = GraftStreaming.storeStreamMemory(out, "decontam_test")
    try {
      input.addData(docs.take(2): _*)
      query.processAllAvailable()
      input.addData(docs.drop(2): _*)
      query.processAllAvailable()
      val streamed = spark.table("decontam_test")
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      // batch replica: same filter params, same corpus
      val batch = graft.operators.Bloom.ngramContaminationBloom(
        docs.toDF("doc_id", "text"), bench, "doc_id", "text",
        shingle = 3, mBits = 1 << 12)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val expect = batch.filter(_._2 <= 0.5)
      assert(streamed == expect,
        s"stream $streamed must equal batch-gated $expect")
      assert(!streamed.contains(1L), "the contaminated doc must be dropped")
    } finally query.stop()
  }

  test("lineCorrectionsStream: stateless line rules == batch operator, doc drop included") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val docs = Seq(
      (1L, "real content line here\nTHIS IS AN ALL CAPS HEADER\nmore real content"),
      (2L, "ok\nA GIANT SHOUTING ALL CAPS HEADER BLOCK FILLING THE WHOLE DOCUMENT"),
      (3L, "fine document with no offending lines at all"))
    val input = MemoryStream[(Long, String)]
    val out = GraftStreaming.lineCorrectionsStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      maxRemovedNum = 1, maxRemovedDen = 2)
    val query = GraftStreaming.storeStreamMemory(out, "line_corr_stream_test")
    try {
      input.addData(docs: _*)
      query.processAllAvailable()
      val streamed = spark.table("line_corr_stream_test")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val batch = graft.operators.LineCorrections.clean(
          docs.toDF("doc_id", "text"), "doc_id", "text",
          maxRemovedNum = 1, maxRemovedDen = 2)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(streamed == batch, s"stream $streamed must equal batch $batch")
      assert(!streamed.contains(2L), "mostly-boilerplate doc must drop in-stream")
    } finally query.stop()
  }

  test("winnowDecontaminateStream: stateless winnow-bloom gate agrees exactly with the batch operator") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"), // identical → dropped
      (2L, "totally different words here now nothing shared"),
      (3L, "alpha beta gamma delta unrelated tail words okay"))
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "text")
    val out = GraftStreaming.winnowDecontaminateStream(df, "text", bench,
      maxContamination = 0.5, shingle = 3, w = 4, mBits = 1 << 12)
    val query = GraftStreaming.storeStreamMemory(out, "winnow_decontam_test")
    try {
      input.addData(docs.take(2): _*)
      query.processAllAvailable()
      input.addData(docs.drop(2): _*)
      query.processAllAvailable()
      val streamed = spark.table("winnow_decontam_test")
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      val batch = graft.operators.Winnow.contaminationBloom(
        docs.toDF("doc_id", "text"), bench, "doc_id", "text",
        shingle = 3, w = 4, mBits = 1 << 12)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val expect = batch.filter(_._2 <= 0.5)
      assert(streamed == expect, s"stream $streamed must equal batch-gated $expect")
      assert(!streamed.contains(1L), "the contaminated doc must be dropped")
    } finally query.stop()
  }

  test("sessionize: watermark closes sessions; in-batch gap splits sessions") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val ds = input.toDS().map { case (t, k) => StreamEvent(t, k) }
    val sessions = GraftStreaming.sessionize(ds, "ts", "0 seconds", gapMs = 10000L)(
      _.k, _.ts.getTime)
    val query = GraftStreaming.storeStreamMemory(sessions.toDF(), "sess_test")
    try {
      // key a: events at 1s and 5s (one session); key a again at 30s in the
      // same batch — 25s gap > 10s gap splits it inside the batch
      input.addData((ts(1), "a"), (ts(5), "a"), (ts(30), "a"))
      query.processAllAvailable()
      val afterBatch1 = spark.table("sess_test")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(afterBatch1 == Set(("a", 1000L, 5000L, 2L)), "split session emits immediately")
      // advance watermark way past 30s+gap: open session times out and emits
      input.addData((ts(100), "b"))
      query.processAllAvailable()
      input.addData((ts(200), "c")) // push watermark past b's session too
      query.processAllAvailable()
      val all = spark.table("sess_test")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(all.contains(("a", 30000L, 30000L, 1L)), "timed-out session emitted")
      assert(all.contains(("b", 100000L, 100000L, 1L)))
    } finally query.stop()
  }

  test("windowed fold: algebraic Fold runs unchanged as streaming state") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Long)]
    val df = input.toDF().toDF("ts", "k", "v")
    val agg = GraftStreaming.windowedFold(df, "ts", "0 seconds", "10 seconds", col("k"))(
      graft.core.Fold.sum[Long].premap[org.apache.spark.sql.Row](_.getAs[Long]("v")))
    val query = GraftStreaming.storeStreamMemory(agg, "fold_test")
    try {
      input.addData((ts(2), "a", 10L), (ts(7), "a", 32L))
      query.processAllAvailable()
      input.addData((ts(50), "a", 1L))
      query.processAllAvailable()
      val rows = spark.table("fold_test").select(col("key"), col("agg")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(rows == Set(("a", 42L)))
    } finally query.stop()
  }

  test("asofJoinStream: lefts match the latest earlier right, emitted only after watermark passes") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val lefts = MemoryStream[(String, java.sql.Timestamp, String)]
    val rights = MemoryStream[(String, java.sql.Timestamp, String)]
    val out = GraftStreaming.asofJoinStream(
      lefts.toDF().toDF("key", "ts", "payload"),
      rights.toDF().toDF("key", "ts", "payload"), "0 seconds")
    val query = GraftStreaming.storeStreamMemory(out, "asof_test")
    def table() = spark.table("asof_test")
      .select("key", "ts", "payload", "match_payload").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime / 1000,
        r.getString(2), r.getString(3))).toSet
    try {
      rights.addData(("a", ts(10), "r10"), ("a", ts(20), "r20"))
      lefts.addData(("a", ts(5), "l5"), ("a", ts(15), "l15"), ("a", ts(25), "l25"))
      query.processAllAvailable()
      query.processAllAvailable()
      // global watermark = MIN over sources = min(25, 20) = 20: l5 (no
      // earlier right -> null) and l15 -> r10 finalize; l25 must NOT
      // (finalization is strict: leftTs < watermark)
      assert(table() == Set(("a", 5L, "l5", null), ("a", 15L, "l15", "r10")))
      lefts.addData(("a", ts(100), "l100"))
      rights.addData(("a", ts(100), "r100"))
      query.processAllAvailable()
      query.processAllAvailable()
      // watermark 100: l25 -> r20; l100 still pending (100 < 100 fails)
      assert(table() == Set(("a", 5L, "l5", null), ("a", 15L, "l15", "r10"),
        ("a", 25L, "l25", "r20")))
      lefts.addData(("a", ts(200), "l200"))
      rights.addData(("a", ts(200), "r200"))
      query.processAllAvailable()
      query.processAllAvailable()
      // watermark 200: l100 -> r100 (tie allowed: rightTs <= leftTs)
      assert(table() == Set(("a", 5L, "l5", null), ("a", 15L, "l15", "r10"),
        ("a", 25L, "l25", "r20"), ("a", 100L, "l100", "r100")))
    } finally query.stop()
  }

  test("asofJoinStream: late right beyond the watermark is dropped, not matched") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val lefts = MemoryStream[(String, java.sql.Timestamp, String)]
    val rights = MemoryStream[(String, java.sql.Timestamp, String)]
    val out = GraftStreaming.asofJoinStream(
      lefts.toDF().toDF("key", "ts", "payload"),
      rights.toDF().toDF("key", "ts", "payload"), "0 seconds")
    val query = GraftStreaming.storeStreamMemory(out, "asof_late")
    def table() = spark.table("asof_late")
      .select("key", "ts", "match_payload").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime / 1000, r.getString(2))).toSet
    try {
      lefts.addData(("a", ts(50), "l50"))
      rights.addData(("a", ts(60), "r60")) // after l50: can never match it
      query.processAllAvailable()
      lefts.addData(("a", ts(100), "l100"))
      rights.addData(("a", ts(100), "r100b")) // watermark -> min(100,100)=100
      query.processAllAvailable()
      query.processAllAvailable()
      // l50 finalized as unmatched (watermark 50 -> 100 passed it; the only
      // right then known, r60, is later than 50)
      assert(table().contains(("a", 50L, null)), s"l50 unmatched: ${table()}")
      // LATE right: event time 40 < watermark 100 -> dropped; it must not
      // retro-match the already-emitted l50 nor affect anything later
      rights.addData(("a", ts(40), "r40-late"))
      query.processAllAvailable()
      lefts.addData(("a", ts(300), "l300"))
      rights.addData(("a", ts(300), "r300")) // watermark -> 300; flush l100
      query.processAllAvailable()
      query.processAllAvailable()
      val got = table()
      assert(got.contains(("a", 50L, null)), s"late r40 must not match l50: $got")
      assert(got.contains(("a", 100L, "r100b")), s"l100 matches the tie r100b: $got")
      assert(!got.exists(_._3 == "r40-late"), s"late right must never appear: $got")
    } finally query.stop()
  }

  test("asofJoinStream: tolerance excludes stale rights; pending lefts flush by timeout") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val lefts = MemoryStream[(String, java.sql.Timestamp, String)]
    val rights = MemoryStream[(String, java.sql.Timestamp, String)]
    val out = GraftStreaming.asofJoinStream(
      lefts.toDF().toDF("key", "ts", "payload"),
      rights.toDF().toDF("key", "ts", "payload"), "0 seconds",
      toleranceMs = Some(5000L))
    val query = GraftStreaming.storeStreamMemory(out, "asof_tol")
    try {
      rights.addData(("a", ts(10), "r10"))
      lefts.addData(("a", ts(12), "l12"), ("a", ts(30), "l30"))
      query.processAllAvailable()
      // advance the watermark via a DIFFERENT key (both sources — the
      // global watermark is their min): key a's pending lefts must flush
      // through the event-time timeout path, not a data batch
      lefts.addData(("b", ts(500), "lb"))
      rights.addData(("b", ts(500), "rb"))
      query.processAllAvailable()
      query.processAllAvailable()
      val got = spark.table("asof_tol")
        .select("key", "ts", "match_payload").collect()
        .map(r => (r.getString(0), r.getTimestamp(1).getTime / 1000, r.getString(2))).toSet
      // l12 within 5s of r10 -> match; l30 is 20s past r10 -> out of tolerance
      assert(got.contains(("a", 12L, "r10")), s"in-tolerance match missing: $got")
      assert(got.contains(("a", 30L, null)), s"out-of-tolerance left must be unmatched: $got")
    } finally query.stop()
  }

  test("asofJoinStream agrees with a local as-of reference on seeded random streams") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rnd = new scala.util.Random(424242L)
    val keys = Seq("a", "b", "c")
    // unique (key, ts) per side so "latest right <= left" is unambiguous
    def gen(n: Int, tag: String): Seq[(String, Long, String)] =
      rnd.shuffle((1 to n).map(i =>
        (keys(rnd.nextInt(keys.size)), (i * 3 + rnd.nextInt(2)).toLong, s"$tag$i")))
    val ls = gen(30, "l")
    val rs = gen(30, "r")
    val expected = ls.map { case (k, t, p) =>
      val m = rs.filter(r => r._1 == k && r._2 <= t).sortBy(_._2).lastOption
      (k, t, p, m.map(_._3).orNull)
    }.toSet
    val lefts = MemoryStream[(String, java.sql.Timestamp, String)]
    val rights = MemoryStream[(String, java.sql.Timestamp, String)]
    // delay > the whole event range: NOTHING is ever late-dropped, so the
    // shuffled two-batch feed is a pure reordering test (the zero-delay
    // late-drop path is covered by the dedicated late-right test above)
    val out = GraftStreaming.asofJoinStream(
      lefts.toDF().toDF("key", "ts", "payload"),
      rights.toDF().toDF("key", "ts", "payload"), "1000 seconds")
    val query = GraftStreaming.storeStreamMemory(out, "asof_prop")
    try {
      // two unordered batches, then a far-future sentinel on BOTH sources
      // to push the global watermark past every left
      def row(e: (String, Long, String)) = (e._1, ts(e._2), e._3)
      val (l1, l2) = ls.splitAt(ls.size / 2)
      val (r1, r2) = rs.splitAt(rs.size / 2)
      lefts.addData(l1.map(row)); rights.addData(r1.map(row))
      query.processAllAvailable()
      lefts.addData(l2.map(row)); rights.addData(r2.map(row))
      query.processAllAvailable()
      lefts.addData(("zz", ts(100000), "sentinel"))
      rights.addData(("zz", ts(100000), "sentinel"))
      query.processAllAvailable()
      query.processAllAvailable()
      val got = spark.table("asof_prop")
        .where(col("key") =!= "zz")
        .select("key", "ts", "payload", "match_payload").collect()
        .map(r => (r.getString(0), r.getTimestamp(1).getTime / 1000,
          r.getString(2), r.getString(3))).toSet
      assert(got == expected,
        s"\ngot:      ${got.map(_.toString).toSeq.sorted}" +
          s"\nexpected: ${expected.map(_.toString).toSeq.sorted}")
    } finally query.stop()
  }

  test("rangeJoinStream: points pair with containing intervals; expired intervals still match in-flight points") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val points = MemoryStream[(String, java.sql.Timestamp, String)]
    val intervals = MemoryStream[(String, java.sql.Timestamp, java.sql.Timestamp, String)]
    val out = GraftStreaming.rangeJoinStream(
      points.toDF().toDF("key", "ts", "payload"),
      intervals.toDF().toDF("key", "lo", "hi", "payload"), "0 seconds")
    val query = GraftStreaming.storeStreamMemory(out, "range_test")
    def table() = spark.table("range_test")
      .select("key", "ts", "payload", "match_payload").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime / 1000,
        r.getString(2), r.getString(3))).toSet
    try {
      intervals.addData(("a", ts(10), ts(30), "i10-30"), ("a", ts(20), ts(25), "i20-25"))
      points.addData(("a", ts(22), "p22"), ("a", ts(5), "p5"), ("a", ts(28), "p28"))
      query.processAllAvailable()
      query.processAllAvailable()
      // watermark = min(28, 20) = 20: p5 finalizes (matches nothing)
      // without appearing; inner join emits nothing for it
      assert(table().isEmpty, s"nothing final should match yet: ${table()}")
      points.addData(("a", ts(100), "p100"))
      intervals.addData(("a", ts(100), ts(101), "i100"))
      query.processAllAvailable()
      query.processAllAvailable()
      // watermark 100: p22 hits both intervals, p28 only the long one —
      // i20-25's hi(25) < wm but it matched p22/p28 BEFORE eviction
      assert(table() == Set(
        ("a", 22L, "p22", "i10-30"), ("a", 22L, "p22", "i20-25"),
        ("a", 28L, "p28", "i10-30")), s"got: ${table()}")
    } finally query.stop()
  }

  test("rangeJoinStream agrees with a local point-in-interval reference on seeded random streams") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rnd = new scala.util.Random(777L)
    val keys = Seq("a", "b")
    val pts = rnd.shuffle((1 to 25).map(i =>
      (keys(rnd.nextInt(keys.size)), (rnd.nextInt(80) + 1).toLong, s"p$i")))
    val ivs = rnd.shuffle((1 to 15).map { i =>
      val lo = (rnd.nextInt(70) + 1).toLong
      (keys(rnd.nextInt(keys.size)), lo, lo + rnd.nextInt(20), s"i$i")
    })
    val expected = (for {
      (pk, pt, pp) <- pts
      (ik, lo, hi, ip) <- ivs
      if pk == ik && lo <= pt && pt <= hi
    } yield (pk, pt, pp, ip)).toSet
    val points = MemoryStream[(String, java.sql.Timestamp, String)]
    val intervals = MemoryStream[(String, java.sql.Timestamp, java.sql.Timestamp, String)]
    // delay > whole event range: nothing late-dropped, pure reordering test
    val out = GraftStreaming.rangeJoinStream(
      points.toDF().toDF("key", "ts", "payload"),
      intervals.toDF().toDF("key", "lo", "hi", "payload"), "1000 seconds")
    val query = GraftStreaming.storeStreamMemory(out, "range_prop")
    try {
      val (p1, p2) = pts.splitAt(pts.size / 2)
      val (i1, i2) = ivs.splitAt(ivs.size / 2)
      points.addData(p1.map(e => (e._1, ts(e._2), e._3)))
      intervals.addData(i1.map(e => (e._1, ts(e._2), ts(e._3), e._4)))
      query.processAllAvailable()
      points.addData(p2.map(e => (e._1, ts(e._2), e._3)))
      intervals.addData(i2.map(e => (e._1, ts(e._2), ts(e._3), e._4)))
      query.processAllAvailable()
      points.addData(("zz", ts(100000), "sentinel"))
      intervals.addData(("zz", ts(100000), ts(100001), "sentinel"))
      query.processAllAvailable()
      query.processAllAvailable()
      val got = spark.table("range_prop")
        .where(col("key") =!= "zz")
        .select("key", "ts", "payload", "match_payload").collect()
        .map(r => (r.getString(0), r.getTimestamp(1).getTime / 1000,
          r.getString(2), r.getString(3))).toSet
      assert(got == expected,
        s"\ngot:      ${got.map(_.toString).toSeq.sorted}" +
          s"\nexpected: ${expected.map(_.toString).toSeq.sorted}")
    } finally query.stop()
  }

  test("indexStreamFingerprint: streamed catalog equals a batch build; verdicts replay-proof") {
    import spark.implicits._
    val texts = (0L until 60L).map(i => (i, s"document body number ${i % 20} shared text")) // 3x dups
    val df = texts.toDF("doc_id", "text")
    val table = "fp_stream_idx"
    Seq(table).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t").collect())
    try {
      // drive microbatches directly (the foreachBatch body, explicit ids)
      val ckpt = "target/io_tmp/fp_stream_ckpt_a"
      val (b1, b2) = texts.splitAt(30)
      graft.operators.AnnIndex.ingestCatalogBatch(b1.toDF("doc_id", "text"),
        graft.operators.AnnIndex.fingerprintCatalog("doc_id", "text"),
        table, buckets = 4, batchId = 0L, checkpoint = ckpt)
      graft.operators.AnnIndex.ingestCatalogBatch(b2.toDF("doc_id", "text"),
        graft.operators.AnnIndex.fingerprintCatalog("doc_id", "text"),
        table, buckets = 4, batchId = 1L, checkpoint = ckpt)
      def state() = spark.table(table).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val streamed = state()
      graft.operators.AnnIndex.buildFingerprint(df, "doc_id", "text", "fp_stream_full", buckets = 4)
      val batchBuilt = spark.table("fp_stream_full").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batchBuilt && streamed.nonEmpty)
      // normal replay (mark guard): same batch id again is a NO-OP
      graft.operators.AnnIndex.ingestCatalogBatch(b2.toDF("doc_id", "text"),
        graft.operators.AnnIndex.fingerprintCatalog("doc_id", "text"),
        table, buckets = 4, batchId = 1L, checkpoint = ckpt)
      assert(state() == batchBuilt, "guarded replay must not change the catalog")
      // crash-window replay (mark lost): counts may inflate, but WINNERS
      // are idempotent under min — the dedup verdicts cannot change
      graft.operators.AnnIndex.updateFingerprint(spark, table,
        b2.toDF("doc_id", "text"), "doc_id", "text", buckets = 4)
      val winners = state().map(t => (t._1, t._2))
      assert(winners == batchBuilt.map(t => (t._1, t._2)),
        "winner ids must survive an unguarded batch re-apply")
      // crash between updateFingerprint's drop and rename: live table
      // gone, complete staging present — the next batch heals via
      // recoverSwap instead of rebuilding from one batch
      val staging = graft.operators.AnnIndex.stagingName(table)
      spark.sql(s"ALTER TABLE `$table` RENAME TO `$staging`")
      val healedState = state _ // call only after recovery
      graft.operators.AnnIndex.ingestCatalogBatch(
        Seq((900L, "post crash new document")).toDF("doc_id", "text"),
        graft.operators.AnnIndex.fingerprintCatalog("doc_id", "text"),
        table, buckets = 4, batchId = 7L, checkpoint = ckpt)
      assert(healedState().map(_._1).size > 1,
        "recovered catalog must retain pre-crash fingerprints, not just the new batch")
      assert(!spark.catalog.tableExists(staging), "staging must be renamed back in")
      // fresh checkpoint over the SAME table: batch ids restart at 0 and
      // must APPLY (a per-table mark would silently drop them)
      val before = state()
      graft.operators.AnnIndex.ingestCatalogBatch(
        Seq((901L, "second stream novel document")).toDF("doc_id", "text"),
        graft.operators.AnnIndex.fingerprintCatalog("doc_id", "text"),
        table, buckets = 4, batchId = 0L,
        checkpoint = "target/io_tmp/fp_stream_ckpt_b")
      assert(state().size == before.size + 1,
        "a fresh checkpoint's batch 0 must ingest into the existing table")
      // wiped-and-recreated checkpoint at the SAME path: Spark stamps a
      // new query uuid into <ckpt>/metadata, so the mark scope changes
      // and the restarted stream's batch 0 must apply — a path-string-
      // only scope would read the old mark and silently discard it
      val ckptC = new java.io.File("target/io_tmp/fp_stream_ckpt_c")
      def writeMeta(uuid: String): Unit = {
        ckptC.mkdirs()
        java.nio.file.Files.writeString(
          new java.io.File(ckptC, "metadata").toPath, s"""{"id":"$uuid"}""")
      }
      writeMeta("run-a")
      graft.operators.AnnIndex.ingestCatalogBatch(
        Seq((902L, "third stream doc one")).toDF("doc_id", "text"),
        graft.operators.AnnIndex.fingerprintCatalog("doc_id", "text"),
        table, buckets = 4, batchId = 0L,
        checkpoint = ckptC.getPath)
      graft.operators.AnnIndex.ingestCatalogBatch(
        Seq((903L, "third stream doc two")).toDF("doc_id", "text"),
        graft.operators.AnnIndex.fingerprintCatalog("doc_id", "text"),
        table, buckets = 4, batchId = 1L,
        checkpoint = ckptC.getPath)
      val beforeWipe = state()
      // the operator's standard reset: delete the checkpoint, same path
      org.apache.commons.io.FileUtils.deleteDirectory(ckptC)
      writeMeta("run-b")
      graft.operators.AnnIndex.ingestCatalogBatch(
        Seq((904L, "fourth stream novel doc")).toDF("doc_id", "text"),
        graft.operators.AnnIndex.fingerprintCatalog("doc_id", "text"),
        table, buckets = 4, batchId = 0L,
        checkpoint = ckptC.getPath)
      assert(state().size == beforeWipe.size + 1,
        "batch 0 after a checkpoint wipe must apply (new query uuid => new mark scope)")
    } finally Seq(table, "fp_stream_full", table + "__staging")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`").collect())
  }

  test("fingerprint ingest: counts exactly-once through every crash window (atomic state+mark swap)") {
    import spark.implicits._
    val table = "fp_eo_idx"
    val ckpt = "target/io_tmp/fp_eo_ckpt"
    def batch(lo: Long, hi: Long) =
      (lo until hi).map(i => (i, s"shared body ${i % 5}")).toDF("doc_id", "text")
    def truthOn(hi: Long, name: String) = {
      graft.operators.AnnIndex.buildFingerprint(batch(0, hi), "doc_id", "text", name, buckets = 4)
      spark.table(name).collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    }
    def state() = spark.table(table).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def ingest(df: org.apache.spark.sql.DataFrame, id: Long) =
      graft.operators.AnnIndex.ingestCatalogBatch(df,
        graft.operators.AnnIndex.fingerprintCatalog("doc_id", "text"), table,
        buckets = 4, batchId = id, checkpoint = ckpt)
    val staging = graft.operators.AnnIndex.stagingName(table)
    Seq(table, staging, "fp_eo_t1", "fp_eo_t2")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`").collect())
    try {
      ingest(batch(0, 20), 0L)
      // crash window A: batch 1 staged (no mark yet), live still present.
      // The replay must re-apply ONCE against the pre-swap state — the
      // dangling staging is overwritten, counts land exact.
      graft.operators.AnnIndex.stageMerge(spark, table,
        graft.operators.AnnIndex.fingerprintCatalog("doc_id", "text"),
        batch(20, 40), buckets = 4, onto = true)
      ingest(batch(20, 40), 1L)
      assert(state() == truthOn(40, "fp_eo_t1"),
        "crash-before-swap replay must yield exactly-once COUNTS, not just winners")
      // crash window B: batch 2 fully staged AND marked, live dropped,
      // rename not yet run (simulated by renaming live away after a
      // completed ingest — the staged dir carries state + mark as one
      // unit). The replay must heal the install and SKIP: re-applying
      // here is what used to inflate __n.
      ingest(batch(40, 60), 2L)
      spark.sql(s"ALTER TABLE `$table` RENAME TO `$staging`")
      ingest(batch(40, 60), 2L)
      assert(state() == truthOn(60, "fp_eo_t2"),
        "crash-between-drop-and-rename replay must heal then skip — counts exact")
      assert(!spark.catalog.tableExists(staging))
    } finally Seq(table, staging, "fp_eo_t1", "fp_eo_t2")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`").collect())
  }

  test("gram-df ingest: df counts exactly-once through every crash window (atomic state+mark swap)") {
    import spark.implicits._
    val table = "gramdf_eo_idx"
    val ckpt = "target/io_tmp/gramdf_eo_ckpt"
    // five recurring bodies so gram df counts GROW with every batch —
    // a replayed batch inflates df unless the mark skips it
    def batch(lo: Long, hi: Long) =
      (lo until hi).map(i => (i, s"shared body text ${i % 5} tail")).toDF("doc_id", "text")
    def truthOn(hi: Long, name: String) = {
      graft.operators.AnnIndex.buildGramDf(batch(0, hi), "text", name,
        shingle = 2, buckets = 4)
      spark.table(name).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    def state() = spark.table(table).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def ingest(df: org.apache.spark.sql.DataFrame, id: Long) =
      graft.operators.AnnIndex.ingestCatalogBatch(df,
        graft.operators.AnnIndex.gramDfCatalog("text", shingle = 2), table,
        buckets = 4, batchId = id, checkpoint = ckpt)
    val staging = graft.operators.AnnIndex.stagingName(table)
    Seq(table, staging, "gramdf_eo_t1", "gramdf_eo_t2")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`").collect())
    try {
      ingest(batch(0, 20), 0L)
      // crash window A: batch 1 staged (no mark yet), live still present —
      // the replay must re-apply ONCE against the pre-swap state
      graft.operators.AnnIndex.stageMerge(spark, table,
        graft.operators.AnnIndex.gramDfCatalog("text", shingle = 2),
        batch(20, 40), buckets = 4, onto = true)
      ingest(batch(20, 40), 1L)
      assert(state() == truthOn(40, "gramdf_eo_t1"),
        "crash-before-swap replay must yield exactly-once df counts")
      // crash window B: batch 2 fully staged AND marked, live dropped,
      // rename pending — the replay must heal the install and SKIP
      ingest(batch(40, 60), 2L)
      spark.sql(s"ALTER TABLE `$table` RENAME TO `$staging`")
      ingest(batch(40, 60), 2L)
      assert(state() == truthOn(60, "gramdf_eo_t2"),
        "crash-between-drop-and-rename replay must heal then skip — df exact")
      assert(!spark.catalog.tableExists(staging))
      // the healed catalog weighs identically to a one-shot reference build
      val probe = Seq((900L, "shared body text 1 tail"), (901L, "nothing in common whatsoever"))
        .toDF("doc_id", "text")
      val viaCatalog = graft.operators.Dedup.softWeightsAgainstCounts(
        probe, "doc_id", "text", graft.operators.AnnIndex.loadGramDf(spark, table),
        shingle = 2).collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
      val viaFresh = graft.operators.Dedup.softWeightsAgainst(
        probe, "doc_id", "text", batch(0, 60), shingle = 2)
        .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
      assert(viaCatalog == viaFresh && viaCatalog(901L) == 1.0)
    } finally Seq(table, staging, "gramdf_eo_t1", "gramdf_eo_t2")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`").collect())
  }

  test("indexStreamIvfSq: sidecar-read quantizer; streamed codes probe == in-flight; replay + compaction stable") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rnd = new scala.util.Random(37L)
    val vecs = (0L until 200L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val (mins, maxs) = graft.functions.Sq.trainBounds(df, "embedding")
    val cells = graft.operators.Similarity.kmeansCells(df, "vec_id", "embedding",
      nCells = 8, iters = 2)
    val path = "target/io_tmp/ivfsq_stream_idx"
    val checkpoint = "target/io_tmp/ivfsq_stream_ckpt"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(checkpoint))
    // persist the quantizer FIRST; the stream reads it from the sidecars
    graft.operators.AnnIndex.writeIvfSqMeta(spark, path, cells, mins, maxs)
    val input = MemoryStream[(Long, Array[Float])]
    val query = GraftStreaming.indexStreamIvfSq(
      input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      path, checkpoint)
    try {
      val (b1, b2) = vecs.splitAt(100)
      input.addData(b1); query.processAllAvailable()
      input.addData(b2); query.processAllAvailable()
    } finally query.stop()
    val queries = df.where(col("vec_id") < 10)
    def probe() = graft.operators.AnnIndex.probeIvfSq(spark, path, queries,
        "vec_id", "embedding", k = 5, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    val got = probe()
    val want = graft.functions.Sq.ivfTopK(queries, df, "vec_id", "embedding",
        k = 5, nCells = 8, nProbe = 3, centroids = Some(cells),
        bounds = Some((mins, maxs)))
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    assert(got == want && got.nonEmpty)
    // replay idempotence: re-writing an already-written batch id leaves
    // counts and probes unchanged (batch=<id> replaced wholesale)
    val before = spark.read.parquet(path).count()
    val replay = df.where(col("vec_id") >= 100)
      .join(broadcast(cells))
      .withColumn("__cell", element_at(
        graft.operators.Similarity.nearestCells(col("embedding"), col("__cells"), 1), 1)("cell"))
      .select(col("vec_id").as("neighbor_id"), col("__cell"),
        graft.functions.Sq.encodeCol(col("embedding"), mins, maxs).as("__codes"))
    graft.operators.AnnIndex.writeEra(replay, path, era = 1L, partCols = Seq("__cell"))
    assert(spark.read.parquet(path).count() == before, "replayed batch must not duplicate rows")
    assert(probe() == want, "probe must be stable under batch replay")
    // compaction (the shared era machinery on the identical layout):
    // probe-identical, counts exact, all data in the fresh negative era
    graft.operators.AnnIndex.compactIvfSq(spark, path)
    assert(probe() == want && spark.read.parquet(path).count() == before)
    val eras = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName).toSet
    assert(eras == Set("batch=-1"), s"all data must land in the compacted era, got $eras")
  }

  test("indexStreamIvfPq: streamed code rows probe identically to the batch-built index") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rnd = new scala.util.Random(31L)
    val vecs = (0L until 200L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val books = graft.functions.Pq.train(df, "vec_id", "embedding",
      m = 4, ksub = 8, sampleSize = 200)
    val cells = graft.operators.Similarity.kmeansCells(df, "vec_id", "embedding",
      nCells = 8, iters = 2)
    val path = "target/io_tmp/ivfpq_stream_idx"
    val checkpoint = "target/io_tmp/ivfpq_stream_ckpt"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(checkpoint))
    graft.operators.AnnIndex.writeIvfPqMeta(spark, path, cells, books)
    val input = MemoryStream[(Long, Array[Float])]
    val query = GraftStreaming.indexStreamIvfPq(
      input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      path, checkpoint, cells, books)
    try {
      val (b1, b2) = vecs.splitAt(100)
      input.addData(b1); query.processAllAvailable()
      input.addData(b2); query.processAllAvailable()
    } finally query.stop()
    val queries = df.where(col("vec_id") < 10)
    def probe() = graft.operators.AnnIndex.probeIvfPq(spark, path, queries,
        "vec_id", "embedding", k = 5, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    val got = probe()
    val want = graft.functions.Pq.ivfTopK(queries, df, "vec_id", "embedding",
        books, k = 5, nCells = 8, nProbe = 3, centroids = Some(cells))
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    assert(got == want && got.nonEmpty)

    // ---- replay idempotence (the foreachBatch at-least-once contract):
    // re-writing an ALREADY-WRITTEN batch id must leave probe results and
    // row counts unchanged — batch=<id> is replaced wholesale
    val before = spark.read.parquet(path).count()
    val replay = df.where(col("vec_id") >= 100) // the second microbatch's rows
      .join(broadcast(cells))
      .withColumn("__cell", element_at(
        graft.operators.Similarity.nearestCells(col("embedding"), col("__cells"), 1), 1)("cell"))
      .select(col("vec_id").as("neighbor_id"), col("__cell"),
        graft.functions.Pq.encodeCol(col("embedding"), books).as("__codes"))
    graft.operators.AnnIndex.writeEra(replay, path, era = 1L, partCols = Seq("__cell"))
    assert(spark.read.parquet(path).count() == before, "replayed batch must not duplicate rows")
    assert(probe() == want, "probe must be stable under batch replay")

    // ---- compaction: per-microbatch directories fold into one batch=-1
    // era, one file per cell; probe results identical, file count drops
    def dataFiles() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(path)).filter(f => f.getName.endsWith(".parquet") &&
        !f.getAbsolutePath.contains("/_centroids") &&
        !f.getAbsolutePath.contains("/_codebooks"))
    }
    val filesBefore = dataFiles().size
    graft.operators.AnnIndex.compactIvfPq(spark, path)
    val filesAfter = dataFiles().size
    assert(probe() == want, "probe must be identical after compaction")
    assert(spark.read.parquet(path).count() == before)
    assert(filesAfter < filesBefore,
      s"compaction must shrink the file count ($filesBefore -> $filesAfter)")
    // compacted eras carry fresh NEGATIVE ids (batch=-1, then -2, …) so
    // an install target can never appear in any manifest's source list
    def eras() = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName).toSet
    assert(eras() == Set("batch=-1"), s"all data must land in the compacted era, got ${eras()}")
    // idempotent result-wise: re-compacting folds the era into the next one
    graft.operators.AnnIndex.compactIvfPq(spark, path)
    assert(probe() == want && spark.read.parquet(path).count() == before)
    assert(eras() == Set("batch=-2"), s"re-compaction must install a fresh era, got ${eras()}")

    // crash-window recovery: a compaction killed between the staged
    // rename and the final flip leaves only `.compact_staged` (complete,
    // _SUCCESS inside) and NO visible era — the next probe must heal the
    // install and read the full index, never a partial layout
    val rootP = new org.apache.hadoop.fs.Path(path)
    val fsP = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val currentEra = eras().head
    assert(fsP.rename(new org.apache.hadoop.fs.Path(rootP, currentEra),
      new org.apache.hadoop.fs.Path(rootP, ".compact_staged")))
    assert(probe() == want, "probe must heal a crashed compaction install")
    val erasHealed = eras()
    assert(erasHealed.head.stripPrefix("batch=").toLong < 0,
      s"healed layout must be a compacted era, got $erasHealed")
    assert(erasHealed.size == 1 && spark.read.parquet(path).count() == before)
  }

  test("indexStreamImiPq: streamed two-level rows probe identically; compaction + torn-window heal") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rnd = new scala.util.Random(47L)
    val vecs = (0L until 200L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val books = graft.functions.Pq.train(df, "vec_id", "embedding",
      m = 4, ksub = 8, sampleSize = 200)
    // half-codebooks distilled batch-side once (train/build batch, append
    // forever) — the same defaults the batch twin derives from the corpus
    val (bookA, bookB) = graft.operators.Similarity.imiDefaultBooks(
      df.select(col("vec_id").as("neighbor_id"), col("embedding").as("__cv")),
      nPerHalf = 4)
    val path = "target/io_tmp/imipq_stream_idx"
    val checkpoint = "target/io_tmp/imipq_stream_ckpt"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(checkpoint))
    graft.operators.AnnIndex.writeImiPqMeta(spark, path, bookA, bookB, books)
    val input = MemoryStream[(Long, Array[Float])]
    val query = GraftStreaming.indexStreamImiPq(
      input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      path, checkpoint, bookA, bookB, books)
    try {
      val (b1, b2) = vecs.splitAt(100)
      input.addData(b1); query.processAllAvailable()
      input.addData(b2); query.processAllAvailable()
    } finally query.stop() // ingest STOPPED: the compaction contract below
    val queries = df.where(col("vec_id") < 10)
    def probe() = graft.operators.AnnIndex.probeImiPqRefined(spark, path, queries,
        df, "vec_id", "embedding", k = 5, nProbe = 3, refine = 2)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(1))).toSet
    val got = probe()
    val want = graft.functions.Pq.imiTopKRefined(queries, df, "vec_id", "embedding",
        books, k = 5, nPerHalf = 4, nProbe = 3, refine = 2)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(1))).toSet
    assert(got == want && got.nonEmpty)

    // replay idempotence (foreachBatch at-least-once): re-writing an
    // already-written batch id replaces batch=<id> wholesale
    val before = spark.read.parquet(path).count()
    val replay = graft.operators.Similarity.imiAssigned(
        df.where(col("vec_id") >= 100)
          .select(col("vec_id").as("neighbor_id"), col("embedding").as("__cv"))
          .join(broadcast(bookA)).join(broadcast(bookB)),
        col("__cv"))
      .select(col("neighbor_id"), col("__ca"), col("__cb"),
        graft.functions.Pq.encodeCol(col("__cv"), books).as("__codes"))
    graft.operators.AnnIndex.writeEra(replay, path, era = 1L,
      partCols = Seq("__ca", "__cb"))
    assert(spark.read.parquet(path).count() == before, "replayed batch must not duplicate rows")
    assert(probe() == want, "probe must be stable under batch replay")

    // compaction with ingest stopped: identical probe, fewer files, all
    // data in one fresh NEGATIVE era; re-compaction rolls the era
    def dataFiles() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(path)).filter(f => f.getName.endsWith(".parquet") &&
        !f.getAbsolutePath.contains("/_cells") &&
        !f.getAbsolutePath.contains("/_codebooks"))
    }
    val filesBefore = dataFiles().size
    graft.operators.AnnIndex.compactImiPq(spark, path)
    assert(probe() == want, "probe must be identical after compaction")
    assert(spark.read.parquet(path).count() == before)
    assert(dataFiles().size < filesBefore,
      s"compaction must shrink the file count ($filesBefore -> ${dataFiles().size})")
    def eras() = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName).toSet
    assert(eras() == Set("batch=-1"), s"all data must land in the compacted era, got ${eras()}")
    graft.operators.AnnIndex.compactImiPq(spark, path)
    assert(probe() == want && spark.read.parquet(path).count() == before)
    assert(eras() == Set("batch=-2"), s"re-compaction must install a fresh era, got ${eras()}")

    // torn window: a compaction killed between the staged rename and the
    // final flip leaves only `.compact_staged` (complete, _SUCCESS inside)
    // and NO visible era — the next probe must heal the install and read
    // the full two-level index, never a partial layout
    val rootP = new org.apache.hadoop.fs.Path(path)
    val fsP = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fsP.rename(new org.apache.hadoop.fs.Path(rootP, eras().head),
      new org.apache.hadoop.fs.Path(rootP, ".compact_staged")))
    assert(probe() == want, "probe must heal a crashed compaction install")
    val erasHealed = eras()
    assert(erasHealed.size == 1 &&
      erasHealed.head.stripPrefix("batch=").toLong < 0,
      s"healed layout must be a single compacted era, got $erasHealed")
    assert(spark.read.parquet(path).count() == before)
  }

  test("indexStreamImiPq residual: streamed residual codes probe == in-flight residual probe") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rnd = new scala.util.Random(53L)
    val vecs = (0L until 150L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val (bookA, bookB) = graft.operators.Similarity.imiDefaultBooks(
      df.select(col("vec_id").as("neighbor_id"), col("embedding").as("__cv")),
      nPerHalf = 4)
    // residual books trained against the SAME default half-codebooks the
    // stream assigns with (the _meta contract: flag and transform agree)
    val books = graft.functions.Pq.trainResidualImi(df, "vec_id", "embedding",
      bookA.withColumnRenamed("__cellsA", "__cells"),
      bookB.withColumnRenamed("__cellsB", "__cells"),
      m = 4, ksub = 8, sampleSize = 150)
    val path = "target/io_tmp/imipq_resid_stream_idx"
    val checkpoint = "target/io_tmp/imipq_resid_stream_ckpt"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(checkpoint))
    graft.operators.AnnIndex.writeImiPqMeta(spark, path, bookA, bookB, books,
      residual = true)
    val input = MemoryStream[(Long, Array[Float])]
    val query = GraftStreaming.indexStreamImiPq(
      input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      path, checkpoint, bookA, bookB, books, residual = true)
    try { input.addData(vecs); query.processAllAvailable() } finally query.stop()
    val queries = df.where(col("vec_id") < 10)
    val got = graft.operators.AnnIndex.probeImiPqRefined(spark, path, queries,
        df, "vec_id", "embedding", k = 5, nProbe = 3, refine = 2)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(1))).toSet
    val want = graft.functions.Pq.imiTopKRefined(queries, df, "vec_id", "embedding",
        books, k = 5, nPerHalf = 4, nProbe = 3, refine = 2, residual = true)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(1))).toSet
    assert(got == want && got.nonEmpty)
    // the flag/_meta mismatch guard: a caller claiming the OPPOSITE code
    // domain from what the sidecar persisted must fail before any
    // microbatch can append codes the probe's LUTs would mis-score
    val e = intercept[IllegalArgumentException] {
      GraftStreaming.indexStreamImiPq(
        input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        path, checkpoint + "_bad", bookA, bookB, books, residual = false)
    }
    assert(e.getMessage.contains("residual"))
  }

  test("mixtureStream == batch sqrtMixtureSample on the same rows (q_mixture config)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // skewed source distribution: web dominates, books is tiny — the
    // sqrt-temperature gate must down-weight web and keep books whole
    val rows = (0 until 600).map(i => (i.toLong, "web")) ++
      (600 until 700).map(i => (i.toLong, "wiki")) ++
      (700 until 710).map(i => (i.toLong, "books"))
    val staticDf = rows.toDF("doc_id", "source")
    val batch = graft.operators.Mixture
      .sqrtMixtureSample(staticDf, "source", "doc_id", targetFraction = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(batch.nonEmpty && batch.size < rows.size)
    // tiny source survives whole (rate capped at 1), dominant is thinned
    assert((700L until 710L).forall(batch.contains))
    assert(batch.count(_ < 600) < 600)

    val input = MemoryStream[(Long, String)]
    val gated = GraftStreaming.mixtureStream(
      input.toDF().toDF("doc_id", "source"), "source", "doc_id",
      profile = staticDf, targetFraction = 0.5)
    val query = GraftStreaming.storeStreamMemory(gated, "mixture_test")
    try {
      val (a, b) = rows.splitAt(350) // two batches, arbitrary split
      input.addData(a)
      query.processAllAvailable()
      input.addData(b)
      query.processAllAvailable()
      val streamed = spark.table("mixture_test")
        .select("doc_id").as[Long].collect().toSet
      assert(streamed == batch, "stateless gate must keep EXACTLY the batch rows")
    } finally query.stop()
  }

  test("mixtureStreamBy == batch token-weighted mixture on the same rows") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // few huge docs vs many tiny ones: token weighting must gate by MASS
    val rows = (0 until 10).map(i => (i.toLong, "big", 100L)) ++
      (100 until 400).map(i => (i.toLong, "many", 1L))
    val staticDf = rows.toDF("doc_id", "source", "n_tok")
    val batch = graft.operators.Mixture.applyRates(staticDf, "source", "doc_id",
        graft.operators.Mixture.sqrtMixtureRatesBy(
          staticDf, "source", col("n_tok"), targetFraction = 0.5))
      .select("doc_id").as[Long].collect().toSet
    assert(batch.nonEmpty && batch.size < rows.size)
    val input = MemoryStream[(Long, String, Long)]
    val gated = GraftStreaming.mixtureStreamBy(
      input.toDF().toDF("doc_id", "source", "n_tok"), "source", "doc_id",
      profile = staticDf, weight = col("n_tok"), targetFraction = 0.5)
    val query = GraftStreaming.storeStreamMemory(gated, "mixture_tok_test")
    try {
      val (a, b) = rows.splitAt(150)
      input.addData(a); query.processAllAvailable()
      input.addData(b); query.processAllAvailable()
      val streamed = spark.table("mixture_tok_test")
        .select("doc_id").as[Long].collect().toSet
      assert(streamed == batch, "stateless gate must keep EXACTLY the batch rows")
    } finally query.stop()
  }

  test("mixture gates unseen-source contract: default drops, defaultRate passes through, unimax always drops") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // the profile saw web+wiki only; "fresh" appears mid-stream
    val profiled = (0 until 200).map(i => (i.toLong, "web")) ++
      (200 until 260).map(i => (i.toLong, "wiki"))
    val staticDf = profiled.toDF("doc_id", "source")
    val freshRows = (1000 until 1020).map(i => (i.toLong, "fresh"))

    // default: the inner rate join DROPS every unseen-source row
    val in1 = MemoryStream[(Long, String)]
    val dropGate = GraftStreaming.mixtureStream(
      in1.toDF().toDF("doc_id", "source"), "source", "doc_id",
      profile = staticDf, targetFraction = 0.5)
    val q1 = GraftStreaming.storeStreamMemory(dropGate, "mix_unseen_drop")
    try {
      in1.addData(profiled.take(50) ++ freshRows); q1.processAllAvailable()
      val got = spark.table("mix_unseen_drop").select("source").as[String].collect()
      assert(!got.contains("fresh"), "unseen source must be dropped by default")
      assert(got.nonEmpty, "profiled sources still flow")
    } finally q1.stop()

    // defaultRate = Some(1.0): every unseen-source row passes through
    // whole; profiled sources gate exactly as before
    val in2 = MemoryStream[(Long, String)]
    val passGate = GraftStreaming.mixtureStream(
      in2.toDF().toDF("doc_id", "source"), "source", "doc_id",
      profile = staticDf, targetFraction = 0.5, defaultRate = Some(1.0))
    val q2 = GraftStreaming.storeStreamMemory(passGate, "mix_unseen_pass")
    try {
      in2.addData(profiled.take(50) ++ freshRows); q2.processAllAvailable()
      val tbl = spark.table("mix_unseen_pass")
      assert(tbl.where(col("source") === "fresh").count() == freshRows.size,
        "defaultRate=1.0 must keep every unseen-source row")
      // profiled rows keep the SAME set the no-default gate kept
      val baseline = spark.table("mix_unseen_drop").select("doc_id").as[Long].collect().toSet
      val withDefault = tbl.where(col("source") =!= "fresh")
        .select("doc_id").as[Long].collect().toSet
      assert(withDefault == baseline, "defaultRate must not change profiled-source gating")
    } finally q2.stop()

    // unimax: a source with no quota row is ALWAYS dropped (budget
    // invariant — no pass-through exists by design)
    val quotas = graft.operators.Mixture.unimaxQuotas(
      staticDf, "source", budgetNum = 1L, budgetDen = 2L, maxEpochs = 2)
    val in3 = MemoryStream[(Long, String)]
    val uni = GraftStreaming.unimaxStream(
      in3.toDF().toDF("doc_id", "source"), "source", "doc_id", quotas)
    val q3 = GraftStreaming.storeStreamMemory(uni, "unimax_unseen")
    try {
      in3.addData(profiled.take(50) ++ freshRows); q3.processAllAvailable()
      val got = spark.table("unimax_unseen").select("source").as[String].collect()
      assert(!got.contains("fresh"), "unimax must drop unplanned sources")
      assert(got.nonEmpty)
    } finally q3.stop()
  }

  test("quantileBinStream / curriculumStream == batch approx twins on the same rows") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rows = (0 until 500).map(i => (i.toLong, (i * 37 % 500).toDouble))
    val staticDf = rows.toDF("id", "score")
    val batchBins = graft.operators.Split
      .byQuantileApprox(staticDf, "score", nBins = 10, accuracy = 1000000)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val rates = (1L to 10L).map(b => (b, 10L))
    val batchKept = graft.operators.Split
      .curriculumSampleApprox(staticDf, "score", "id", rates, accuracy = 1000000)
      .select("id").as[Long].collect().toSet
    assert(batchKept.nonEmpty && batchKept.size < rows.size)

    val input = MemoryStream[(Long, Double)]
    val df = input.toDF().toDF("id", "score")
    val binned = GraftStreaming.quantileBinStream(df, "score",
      profile = staticDf, nBins = 10, accuracy = 1000000)
    val kept = GraftStreaming.curriculumStream(df, "score", "id",
      profile = staticDf, rates, accuracy = 1000000)
    val q1 = GraftStreaming.storeStreamMemory(binned, "qbin_stream_test")
    val q2 = GraftStreaming.storeStreamMemory(kept, "curr_stream_test")
    try {
      val (a, b) = rows.splitAt(200)
      input.addData(a); q1.processAllAvailable(); q2.processAllAvailable()
      input.addData(b); q1.processAllAvailable(); q2.processAllAvailable()
      val sBins = spark.table("qbin_stream_test")
        .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
      assert(sBins == batchBins, "stateless bin gate must assign EXACTLY the batch bins")
      val sKept = spark.table("curr_stream_test")
        .select("id").as[Long].collect().toSet
      assert(sKept == batchKept, "stateless curriculum gate must keep EXACTLY the batch rows")
    } finally { q1.stop(); q2.stop() }
  }

  test("quantileBinStreamBy == batch byQuantileApproxBy; unseen group bins 0") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rows = (0 until 100).map(i => ("a", i.toLong, i.toDouble)) ++
      (0 until 20).map(i => ("b", 100L + i, 1000.0 + i))
    val staticDf = rows.toDF("src", "id", "score")
    val batch = graft.operators.Split
      .byQuantileApproxBy(staticDf, "src", "score", nBins = 4, accuracy = 1000000)
      .collect().map(r => r.getLong(1) -> r.getInt(3)).toMap
    val input = MemoryStream[(String, Long, Double)]
    val binned = GraftStreaming.quantileBinStreamBy(
      input.toDF().toDF("src", "id", "score"), "src", "score",
      profile = staticDf, nBins = 4, accuracy = 1000000)
    val query = GraftStreaming.storeStreamMemory(binned, "qbinby_stream_test")
    try {
      val (x, y) = rows.splitAt(60)
      input.addData(x); query.processAllAvailable()
      // a group the profile never saw arrives mid-stream -> bin 0
      input.addData(y :+ (("zzz_new", 999L, 5.0))); query.processAllAvailable()
      val streamed = spark.table("qbinby_stream_test")
        .collect().map(r => r.getLong(1) -> r.getInt(3)).toMap
      assert(streamed(999L) == 0, "unseen group must bin 0 (restart-to-reprofile contract)")
      assert((streamed - 999L) == batch,
        "stateless per-group gate must assign EXACTLY the batch bins")
    } finally query.stop()
  }

  test("lmScoreStream: stateless surprisal gate keeps exactly the batch-scored rows") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.operators.LanguageModel
    val ref = (0 until 30).map(i =>
      (i.toLong, "the quick fox jumps over the lazy dog and the fox runs"))
      .toDF("doc_id", "text")
    val lm = LanguageModel.distill(LanguageModel.train(ref, "doc_id", "text"))
    val cand = Seq(
      (100L, "the quick fox jumps over the lazy dog"), // fluent: low bits
      (101L, "zq1xv7 qb9ke lw0pj mmz4t"),              // gibberish: high bits
      (102L, "fox runs over the dog"),
      (103L, "   "))                                    // zero tokens: dropped
    val batchKept = LanguageModel.scoreDocsDistilled(
      cand.toDF("doc_id", "text"), "doc_id", "text", lm)
      .where(col("bits_per_token") <= 3.5)
      .select("doc_id").as[Long].collect().toSet
    assert(batchKept.contains(100L) && !batchKept.contains(101L))

    val input = MemoryStream[(Long, String)]
    val gated = GraftStreaming.lmScoreStream(
      input.toDF().toDF("doc_id", "text"), "text", lm, maxBitsPerToken = 3.5)
    val query = GraftStreaming.storeStreamMemory(gated, "lm_gate_test")
    try {
      input.addData(cand.take(2))
      query.processAllAvailable()
      input.addData(cand.drop(2))
      query.processAllAvailable()
      val streamed = spark.table("lm_gate_test")
        .select("doc_id").as[Long].collect().toSet
      assert(streamed == batchKept, "stream gate must keep EXACTLY the batch rows")
    } finally query.stop()
  }

  test("ccnetGateStream: per-language bucket gate keeps exactly the batch head+middle") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.operators.LanguageModel
    // the SignalOpsSpec ccnet fixture: two languages with a planted
    // perplexity gradient (doc i appends i never-seen tokens)
    val enBase = "the fox is in the den and it is warm near the fire"
    val deBase = "der hund ist ein tier und die katze ist klein im haus"
    val rows = (0 until 12).map { i =>
      (i.toLong, (enBase + " " + (0 until i).map(j => s"zq${i}x$j").mkString(" ")).trim)
    } ++ (0 until 12).map { i =>
      (100L + i, (deBase + " " + (0 until i).map(j => s"vw${i}k$j").mkString(" ")).trim)
    }
    val docs = rows.toDF("doc_id", "text")
    val ref = docs.where(col("doc_id") % 3 === 0)
    val batchBuckets = LanguageModel.ccnetBuckets(docs, "doc_id", "text", ref,
      minCount = 1L, nBins = 3, accuracy = 100000)
    val batchKept = batchBuckets.where(col("bin") <= 1)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("bin")).toMap
    assert(batchKept.nonEmpty && batchKept.size < rows.size,
      "fixture must exercise both keep and drop")
    // distill once from the profile: the cut relation (lang, __cs) and the
    // map-side LM — the stream side carries NO join-based scoring
    val cuts = graft.operators.Split.quantileCutsBy(
      batchBuckets, "lang", "bits_per_token", nBins = 3, accuracy = 100000)
    val lm = LanguageModel.distill(LanguageModel.train(ref, "doc_id", "text", minCount = 1L))
    val input = MemoryStream[(Long, String)]
    val gated = GraftStreaming.ccnetGateStream(
      input.toDF().toDF("doc_id", "text"), "text", lm, cuts, nBins = 3, maxBin = 1)
    val query = GraftStreaming.storeStreamMemory(gated, "ccnet_gate_test")
    try {
      val (x, y) = rows.splitAt(15)
      input.addData(x); query.processAllAvailable()
      input.addData(y :+ ((999L, "   "))) // zero tokens: dropped, not binned
      query.processAllAvailable()
      val streamed = spark.table("ccnet_gate_test")
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("bin")).toMap
      assert(streamed == batchKept,
        "stateless per-language gate must keep EXACTLY the batch head+middle with identical bins")
    } finally query.stop()
  }

  test("softDedupStream: stateless cross-corpus weight gate keeps exactly the batch rows") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.operators.{AnnIndex, Dedup}
    val base = "the quick brown fox jumps over the lazy dog near the fire"
    val ref = ((0 until 6).map(i => (i.toLong, base)) :+
      ((6L, "boilerplate cookie banner accept all"))).toDF("doc_id", "text")
    val table = "gramdf_stream_spec"
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    try {
      AnnIndex.buildGramDf(ref, "text", table, shingle = 2, buckets = 2)
      val counts = AnnIndex.loadGramDf(spark, table)
      val cand = Seq(
        (100L, base),                                    // 6x in ref: weight 1/7
        (101L, "boilerplate cookie banner accept all"),  // 1x in ref: 1/2
        (102L, "fresh unique prose about new topics"))   // disjoint: 1.0
      val batch = Dedup.softWeightsAgainstCounts(cand.toDF("doc_id", "text"),
        "doc_id", "text", counts, shingle = 2)
        .where(col("weight") >= 0.4)
        .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
      assert(batch.keySet == Set(101L, 102L), s"fixture must split: $batch")
      val dfMap = Dedup.distillGramDf(counts)
      val input = MemoryStream[(Long, String)]
      val gated = GraftStreaming.softDedupStream(
        input.toDF().toDF("doc_id", "text"), "text", dfMap, minWeight = 0.4)
      val query = GraftStreaming.storeStreamMemory(gated, "softdedup_gate_test")
      try {
        input.addData(cand.take(1)); query.processAllAvailable()
        input.addData(cand.drop(1)); query.processAllAvailable()
        val streamed = spark.table("softdedup_gate_test")
          .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("soft_weight")).toMap
        assert(streamed == batch,
          "stateless gate must keep EXACTLY the batch rows with identical weights")
      } finally query.stop()
    } finally spark.sql(s"DROP TABLE IF EXISTS `$table`")
  }

  test("dsirStream: stateless dual-LM importance gate keeps exactly the batch-weighed rows") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.operators.LanguageModel
    // target distribution: phrase A; raw distribution: phrase B
    val target = (0 until 25).map(i => (i.toLong, "alpha beta gamma delta alpha beta"))
      .toDF("doc_id", "text")
    val raw = (0 until 25).map(i => (i.toLong + 100, "omega psi chi phi omega psi"))
      .toDF("doc_id", "text")
    val lmT = LanguageModel.distill(LanguageModel.train(target, "doc_id", "text"))
    val lmR = LanguageModel.distill(LanguageModel.train(raw, "doc_id", "text"))
    val cand = Seq(
      (1000L, "alpha beta gamma delta"),  // target-like: big positive dsir_bits
      (1001L, "omega psi chi phi"),       // raw-like: negative
      (1002L, "alpha beta omega psi"),    // mixed
      (1003L, ""))                        // zero tokens: dropped
    // batch truth via the join-based dual scorer (already spec-gated
    // equal to two scoreDocs passes)
    val batchKept = LanguageModel.dsirWeights(
      cand.toDF("doc_id", "text"),
      "doc_id", "text",
      LanguageModel.train(target, "doc_id", "text"),
      LanguageModel.train(raw, "doc_id", "text"))
      .where(col("dsir_bits") >= 1L)
      .select("doc_id").as[Long].collect().toSet
    assert(batchKept.contains(1000L) && !batchKept.contains(1001L))

    val input = MemoryStream[(Long, String)]
    val gated = GraftStreaming.dsirStream(
      input.toDF().toDF("doc_id", "text"), "text", lmT, lmR, minDsirBits = 1L)
    val query = GraftStreaming.storeStreamMemory(gated, "dsir_gate_test")
    try {
      input.addData(cand.take(2))
      query.processAllAvailable()
      input.addData(cand.drop(2))
      query.processAllAvailable()
      val streamed = spark.table("dsir_gate_test")
        .select("doc_id").as[Long].collect().toSet
      assert(streamed == batchKept, "stream gate must keep EXACTLY the batch rows")
    } finally query.stop()
  }

  test("curateStreamSignals: every gate fires; stream == hand-composed batch stack") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.operators.{LanguageModel, Mixture}
    val fluent = "the quick fox jumps over the lazy dog and the fox runs"
    val ref = (0 until 30).map(i => (i.toLong, fluent)).toDF("doc_id", "text")
    val lm = LanguageModel.distill(LanguageModel.train(ref, "doc_id", "text"))
    val benchmark = Seq((900L, "held out evaluation answer string")).toDF("doc_id", "text")
    // candidates: each row exists to trip exactly one gate
    val rows = Seq(
      (100L, "web", fluent),                                   // survives everything
      (101L, "web", "zq1xv7 qb9ke lw0pj mmz4t zq1xv7 qb9ke lw0pj mmz4t"), // LM gate
      (102L, "web", "aaaa aaaa aaaa aaaa aaaa aaaa"),          // entropy low tail
      (103L, "web", fluent + " extra"),                        // survives (distinct text)
      (104L, "web", fluent),                                   // dedup: dup of 100
      (105L, "web", "held out evaluation answer string")       // decontamination
    ) ++ (200L until 230L).map(i => (i, "filler", fluent + s" tail $i")) // mixture thinning
    val staticDf = rows.toDF("doc_id", "source", "text")
      .withColumn("ts", lit(new java.sql.Timestamp(1000L)))

    // hand-composed batch mirror: the SAME stateless stages (they are
    // plain column programs, so they run on a static frame), dedup as
    // first-arrival == min id (ids are assigned in arrival order)
    val ent = graft.functions.HashExpressions.byteEntropyBits(encode(col("text"), "UTF-8"))
    val e1 = staticDf.where(length(col("text")) > 0)
      .where(ent >= length(col("text")) * 2.0 && ent <= length(col("text")) * 4.6)
    val l1 = GraftStreaming.lmScoreStream(e1, "text", lm, maxBitsPerToken = 3.5)
    val m1 = Mixture.applyRates(l1, "source", "doc_id",
      Mixture.sqrtMixtureRates(staticDf, "source", targetFraction = 0.6))
    val d1fp = m1.withColumn("__fp",
      graft.functions.TextFunctions.fingerprint(col("text")))
    val d1 = d1fp.join(d1fp.groupBy("__fp").agg(min(col("doc_id")).as("doc_id")),
      Seq("__fp", "doc_id"), "left_semi").drop("__fp")
    val batchKept = GraftStreaming.decontaminateStream(d1, "text", benchmark,
      maxContamination = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(batchKept.contains(100L) && batchKept.contains(103L))
    assert(!batchKept.contains(101L) && !batchKept.contains(102L) &&
      !batchKept.contains(104L) && !batchKept.contains(105L))
    assert(batchKept.count(_ >= 200L) < 30, "mixture gate must thin the filler source")

    val input = MemoryStream[(Long, String, String, java.sql.Timestamp)]
    val curated = GraftStreaming.curateStreamSignals(
      input.toDF().toDF("doc_id", "source", "text", "ts"),
      "ts", "10 seconds", "text", "doc_id", "source",
      lm, maxBitsPerToken = 3.5, minBitsPerChar = 2.0, maxBitsPerChar = 4.6,
      mixtureProfile = staticDf, targetFraction = 0.6,
      benchmark = benchmark, maxContamination = 0.5)
    val query = GraftStreaming.storeStreamMemory(curated, "curate_sig_test")
    try {
      val data = rows.map { case (id, src, t) => (id, src, t, new java.sql.Timestamp(1000L)) }
      input.addData(data.take(8)) // id order: first arrival == min id
      query.processAllAvailable()
      input.addData(data.drop(8))
      query.processAllAvailable()
      val streamed = spark.table("curate_sig_test")
        .select("doc_id").as[Long].collect().toSet
      assert(streamed == batchKept, "stream must keep EXACTLY the batch rows")
    } finally query.stop()
  }

  test("cdcDecontaminateStream: stateless chunk-bloom gate agrees exactly with the batch operator") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rnd = new scala.util.Random(59)
    def words(n: Int) = (1 to n).map(_ => s"w${rnd.nextInt(9999)}").mkString(" ")
    val cataloged = words(80)
    val catalog = Seq((100L, cataloged)).toDF("doc_id", "text")
    val docs = Seq(
      (1L, cataloged),                       // identical -> dropped
      (2L, words(80)),                       // unrelated -> kept
      (3L, "zq " + cataloged))               // SHIFTED copy -> resynced chunks still hit -> dropped
    val input = MemoryStream[(Long, String)]
    val out = GraftStreaming.cdcDecontaminateStream(
      input.toDF().toDF("doc_id", "text"), "text", catalog,
      maxContamination = 0.5, mBits = 1 << 12)
    val query = GraftStreaming.storeStreamMemory(out, "cdc_decontam_test")
    try {
      input.addData(docs.take(2): _*)
      query.processAllAvailable()
      input.addData(docs.drop(2): _*)
      query.processAllAvailable()
      val streamed = spark.table("cdc_decontam_test")
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      val batch = graft.operators.Cdc.contaminationBloom(
        docs.toDF("doc_id", "text"), catalog, "doc_id", "text", mBits = 1 << 12)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val expect = batch.filter(_._2 <= 0.5)
      assert(streamed == expect, s"stream $streamed must equal batch-gated $expect")
      assert(!streamed.contains(1L), "the identical doc must be dropped")
      assert(!streamed.contains(3L),
        "the 3-byte-shifted copy must be dropped through re-synced chunks")
      assert(streamed.contains(2L), "the unrelated doc must pass")
    } finally query.stop()
  }

  test("blocklistStream: stateless Aho-Corasick gate keeps exactly the batch rows") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val pats = Seq("bad phrase", "bad", "spam spam")
    val docs = Seq(
      (1L, "clean text with nothing flagged"),
      (2L, "one bad word only"),                       // 1 hit -> kept at maxHits=1
      (3L, "a bad phrase fires two patterns at once"), // "bad" + "bad phrase" -> dropped
      (4L, "spam spam spam overlaps"),                 // self-overlap: 2 hits -> dropped
      (5L, ""))
    val batch = graft.operators.Blocklist.gate(docs.toDF("doc_id", "text"),
        "text", pats, maxHits = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(batch == Set((1L, 0L), (2L, 1L), (5L, 0L)),
      "fail-closure and overlap semantics must gate docs 3 and 4 out")
    val input = MemoryStream[(Long, String)]
    val out = GraftStreaming.blocklistStream(
      input.toDF().toDF("doc_id", "text"), "text", pats, maxHits = 1L)
    val query = GraftStreaming.storeStreamMemory(out, "blocklist_stream_test")
    try {
      input.addData(docs.take(3): _*)
      query.processAllAvailable()
      input.addData(docs.drop(3): _*)
      query.processAllAvailable()
      val streamed = spark.table("blocklist_stream_test")
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      assert(streamed == batch, "stream must keep EXACTLY the batch gate's rows")
    } finally query.stop()
  }

  test("cdcDedupAgainstStream: stateless exact chunk removal == batch dedupAgainst (empty kept as '', all-cataloged dropped)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rnd = new scala.util.Random(61)
    def words(n: Int) = (1 to n).map(_ => s"w${rnd.nextInt(9999)}").mkString(" ")
    val cataloged = words(80)
    val catalog = graft.operators.Cdc.chunkCatalog(
      Seq((100L, cataloged)).toDF("doc_id", "text"), "text")
    val fps = graft.operators.Cdc.distillCatalog(catalog)
    val docs = Seq(
      (1L, cataloged),                               // every chunk cataloged -> dropped wholesale
      (2L, words(60)),                               // unrelated -> kept intact
      (3L, "zq " + cataloged + " " + words(5)),      // shifted copy + novel tail -> partial removal
      (4L, ""))                                      // empty -> kept as ''
    val input = MemoryStream[(Long, String)]
    val out = GraftStreaming.cdcDedupAgainstStream(
      input.toDF().toDF("doc_id", "text"), "text", fps)
    val query = GraftStreaming.storeStreamMemory(out, "cdc_da_stream_test")
    try {
      input.addData(docs.take(2): _*)
      query.processAllAvailable()
      input.addData(docs.drop(2): _*)
      query.processAllAvailable()
      val streamed = spark.table("cdc_da_stream_test")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val batch = graft.operators.Cdc.dedupAgainst(docs.toDF("doc_id", "text"),
          "doc_id", "text", catalog)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(streamed == batch, "stream must equal the batch join form EXACTLY")
      assert(!streamed.contains(1L), "all-cataloged doc must drop wholesale")
      assert(streamed(2L) == docs(1)._2, "unrelated doc must pass untouched")
      assert(streamed(3L).nonEmpty && streamed(3L).length < docs(2)._2.length,
        "shifted copy must lose its re-synchronized cataloged chunks, keep the rest")
      assert(streamed(4L) == "", "empty doc must survive as '' (not confused with all-cataloged)")
    } finally query.stop()
  }

  test("curateStreamV5: composed stateless stack == the batch operators (line rules -> exact CDC removal -> distilled-LM gate)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rnd = new scala.util.Random(67)
    def words(n: Int) = (1 to n).map(_ => s"w${rnd.nextInt(99)}").mkString(" ")
    val cataloged = words(80)
    val catalog = graft.operators.Cdc.chunkCatalog(
      Seq((100L, cataloged)).toDF("doc_id", "text"), "text")
    val fps = graft.operators.Cdc.distillCatalog(catalog)
    // every doc carries two firing noise lines; every 3rd embeds the
    // cataloged band so the CDC stage has real work on a subset
    val docs = (0L until 24L).map { i =>
      (i, words(40) + "\n12345\n3 likes\n" +
        (if (i % 3 == 0) cataloged else words(30)))
    }
    val df = docs.toDF("doc_id", "text")
    val lm = graft.operators.LanguageModel.distill(
      graft.operators.LanguageModel.train(df, "doc_id", "text", minCount = 2))
    // batch dual from the REAL batch operators (not the stream fns on a
    // batch frame): clean -> exact dedupAgainst -> distilled scoring gate
    val cleaned = graft.operators.LineCorrections.clean(df, "doc_id", "text")
      .withColumnRenamed("clean_text", "text")
    val dc = graft.operators.Cdc.dedupAgainst(cleaned, "doc_id", "text", catalog)
      .withColumnRenamed("clean_text", "text")
    val scored = graft.operators.LanguageModel.scoreDocsDistilled(dc, "doc_id", "text", lm)
      .join(dc, "doc_id")
    // median-of-scores threshold so the gate provably splits the corpus
    val thr = scored.select(col("bits_per_token")).collect().map(_.getDouble(0)).sorted
      .apply(docs.length / 2)
    val batchKept = scored.where(col("bits_per_token") <= thr)
      .select(col("doc_id"), col("text"), col("bits_per_token"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(batchKept.nonEmpty && batchKept.size < docs.length,
      "precondition: the LM gate must actually split the corpus")
    val input = MemoryStream[(Long, String)]
    val curated = GraftStreaming.curateStreamV5(
      input.toDF().toDF("doc_id", "text"), "text", "doc_id", fps, lm,
      maxBitsPerToken = thr)
    val query = GraftStreaming.storeStreamMemory(curated, "curate_v5_test")
    try {
      input.addData(docs.take(10): _*)
      query.processAllAvailable()
      input.addData(docs.drop(10): _*)
      query.processAllAvailable()
      val streamed = spark.table("curate_v5_test")
        .select(col("doc_id"), col("text"), col("bits_per_token"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      assert(streamed == batchKept,
        "stream must keep EXACTLY the batch composition's rows, texts and scores")
    } finally query.stop()
  }

  // shared fixture for the CDC catalog streams: deterministic docs with a
  // common boilerplate band (shared fps WITHIN and ACROSS batches — the
  // cross-era duplicate case compaction must collapse) plus a unique tail
  private def cdcDoc(i: Long): String =
    s"document $i begins " + ("shared boilerplate band across the corpus " * 6) +
      s"unique tail $i " + ("x" * (i % 7).toInt)

  test("indexStreamCdc: batch build + streamed eras == batch catalog; replay idempotent; compaction collapses cross-era duplicates") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val docs = (0L until 90L).map(i => (i, cdcDoc(i)))
    val df = docs.toDF("doc_id", "text")
    val path = "target/io_tmp/cdc_stream_cat"
    val checkpoint = "target/io_tmp/cdc_stream_cat_ckpt"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(checkpoint))
    val (mn, ab, mx) = (8, 4, 64)
    // build era from the first crawl, stream the next two crawls in
    graft.operators.Cdc.buildCatalogIndex(df.where(col("doc_id") < 30),
      "text", path, buckets = 8, minSize = mn, avgBits = ab, maxSize = mx)
    val input = MemoryStream[(Long, String)]
    val query = GraftStreaming.indexStreamCdc(
      input.toDF().toDF("doc_id", "text"), "text", path, checkpoint,
      buckets = 8, minSize = mn, avgBits = ab, maxSize = mx)
    try {
      input.addData(docs.slice(30, 60)); query.processAllAvailable()
      input.addData(docs.slice(60, 90)); query.processAllAvailable()
    } finally query.stop()
    def catFps() = graft.operators.Cdc.readCatalog(spark, path)
      .collect().map(_.getString(0)).toSet
    val want = graft.operators.Cdc.chunkCatalog(df, "text", mn, ab, mx)
      .collect().map(_.getString(0)).toSet
    assert(catFps() == want && want.nonEmpty,
      "batch-built era + streamed eras must cover exactly the batch catalog's fp set")
    // the consumer contract: dedupAgainst against the STREAMED catalog ==
    // against the batch catalog (set semantics absorb cross-era dups)
    val corpus = (200L until 210L)
      .map(i => (i, cdcDoc(i % 3) + s" novel suffix $i")).toDF("doc_id", "text")
    def cleaned(cat: org.apache.spark.sql.DataFrame) =
      graft.operators.Cdc.dedupAgainst(corpus, "doc_id", "text", cat, mn, ab, mx)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val wantClean = cleaned(graft.operators.Cdc.chunkCatalog(df, "text", mn, ab, mx))
    assert(cleaned(graft.operators.Cdc.readCatalog(spark, path)) == wantClean)
    // replay idempotence: re-writing an already-written batch id leaves
    // row counts unchanged (batch=<id> replaced wholesale)
    val before = spark.read.parquet(path).count()
    graft.operators.AnnIndex.writeEra(
      graft.operators.Cdc.catalogRows(docs.slice(60, 90).toDF("doc_id", "text"),
        "text", 8, mn, ab, mx),
      path, era = 1L, partCols = Seq("__b"))
    assert(spark.read.parquet(path).count() == before,
      "replayed batch must not duplicate catalog rows")
    // cross-era duplicates exist (the boilerplate band repeats per crawl)…
    assert(before > want.size, "precondition: cross-era duplicate fps present")
    // …and compaction collapses them exactly: one fresh negative era below
    // the build era, fp multiset == fp set == the batch catalog
    graft.operators.AnnIndex.compactCdcCatalog(spark, path)
    assert(spark.read.parquet(path).count() == want.size,
      "compaction must distinct the catalog down to the exact fp set")
    assert(catFps() == want && cleaned(graft.operators.Cdc.readCatalog(spark, path)) == wantClean)
    val eras = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName).toSet
    assert(eras == Set("batch=-2"), s"all rows must land in the fresh era below the build's, got $eras")
  }

  test("batch-built IVF-PQ, IVF-SQ and IMI-PQ indexes take stream appends: probe == in-flight over build + stream") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.operators.{AnnIndex, Similarity}
    val rnd = new scala.util.Random(59L)
    val vecs = (0L until 160L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val built = df.where(col("vec_id") < 80)
    val queries = df.where(col("vec_id") < 10)
    val books = graft.functions.Pq.train(df, "vec_id", "embedding",
      m = 4, ksub = 8, sampleSize = 160)
    val (mins, maxs) = graft.functions.Sq.trainBounds(df, "embedding")
    // one quantizer for build, stream and the in-flight reference
    val cells = Similarity.kmeansCells(df, "vec_id", "embedding", nCells = 8, iters = 2).persist()
    def halfBook(h: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      Similarity.kmeansCells(df.select(col("vec_id"), h(col("embedding")).as("__h")),
        "vec_id", "__h", nCells = 4, iters = 2).persist()
    val (ba, bb) = (halfBook(Similarity.halfA), halfBook(Similarity.halfB))
    // build from the first half of the vectors, then stream the second
    // half into the SAME path as one microbatch
    def buildThenStream(name: String)(build: String => Unit)(
        start: (org.apache.spark.sql.DataFrame, String, String) =>
          org.apache.spark.sql.streaming.StreamingQuery): String = {
      val path = s"target/io_tmp/${name}_build_stream_idx"
      val checkpoint = s"target/io_tmp/${name}_build_stream_ckpt"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(checkpoint))
      build(path)
      val input = MemoryStream[(Long, Array[Float])]
      val query = start(input.toDF().toDF("vec_id", "embedding"), path, checkpoint)
      try { input.addData(vecs.drop(80)); query.processAllAvailable() } finally query.stop()
      path
    }
    def ranked(r: org.apache.spark.sql.Row, rankAt: Int) = (r.getLong(0), r.getInt(rankAt), r.getLong(1))
    try {
      val pq = buildThenStream("ivfpq")(
        AnnIndex.buildIvfPq(built, "vec_id", "embedding", _, books, nCells = 8,
          centroids = Some(cells)))(
        GraftStreaming.indexStreamIvfPq(_, "vec_id", "embedding", _, _, cells, books))
      val gotPq = AnnIndex.probeIvfPq(spark, pq, queries, "vec_id", "embedding",
        k = 5, nProbe = 3).collect().map(ranked(_, 3)).toSet
      val wantPq = graft.functions.Pq.ivfTopK(queries, df, "vec_id", "embedding",
        books, k = 5, nCells = 8, nProbe = 3, centroids = Some(cells))
        .collect().map(ranked(_, 3)).toSet
      assert(gotPq == wantPq && gotPq.nonEmpty, "IVF-PQ: build + stream must probe like the whole corpus")

      val sqPath = buildThenStream("ivfsq")(
        AnnIndex.buildIvfSq(built, "vec_id", "embedding", _, nCells = 8,
          centroids = Some(cells), bounds = Some((mins, maxs))))(
        GraftStreaming.indexStreamIvfSq(_, "vec_id", "embedding", _, _))
      val gotSq = AnnIndex.probeIvfSq(spark, sqPath, queries, "vec_id", "embedding",
        k = 5, nProbe = 3).collect().map(ranked(_, 3)).toSet
      val wantSq = graft.functions.Sq.ivfTopK(queries, df, "vec_id", "embedding",
        k = 5, nCells = 8, nProbe = 3, centroids = Some(cells), bounds = Some((mins, maxs)))
        .collect().map(ranked(_, 3)).toSet
      assert(gotSq == wantSq && gotSq.nonEmpty, "IVF-SQ: build + stream must probe like the whole corpus")

      val imi = buildThenStream("imipq")(
        AnnIndex.buildImiPq(built, "vec_id", "embedding", _, books,
          codebooks = Some((ba, bb))))(
        GraftStreaming.indexStreamImiPq(_, "vec_id", "embedding", _, _,
          ba.withColumnRenamed("__cells", "__cellsA"),
          bb.withColumnRenamed("__cells", "__cellsB"), books))
      val gotImi = AnnIndex.probeImiPqRefined(spark, imi, queries, df, "vec_id", "embedding",
        k = 5, nProbe = 3, refine = 2).collect().map(ranked(_, 2)).toSet
      val wantImi = graft.functions.Pq.imiTopKRefined(queries, df, "vec_id", "embedding",
        books, k = 5, nProbe = 3, refine = 2, codebooks = Some((ba, bb)))
        .collect().map(ranked(_, 2)).toSet
      assert(gotImi == wantImi && gotImi.nonEmpty, "IMI-PQ: build + stream must probe like the whole corpus")
      // the build wrote era -1 and the stream appended era 0 beside it
      val eras = new java.io.File(imi).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName).toSet
      assert(eras == Set("batch=-1", "batch=0"), s"expected the build era and one stream era, got $eras")
    } finally Seq(cells, ba, bb).foreach(_.unpersist())
  }

  test("indexStreamCdc: kill-resume matrix — between-batch kill and mid-batch torn write both heal to the exact catalog") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val docs = (0L until 60L).map(i => (i, cdcDoc(i)))
    val df = docs.toDF("doc_id", "text")
    val path = "target/io_tmp/cdc_kill_cat"
    val checkpoint = "target/io_tmp/cdc_kill_cat_ckpt"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(checkpoint))
    val (mn, ab, mx) = (8, 4, 64)
    val input = MemoryStream[(Long, String)]
    def start() = GraftStreaming.indexStreamCdc(
      input.toDF().toDF("doc_id", "text"), "text", path, checkpoint,
      buckets = 8, minSize = mn, avgBits = ab, maxSize = mx)
    // kill BETWEEN batches: batch 0 lands, query dies, data arrives down
    val q1 = start()
    try { input.addData(docs.take(30)); q1.processAllAvailable() } finally q1.stop()
    input.addData(docs.drop(30)) // becomes batch 1 on resume
    // kill MID-batch: a TORN batch=1 directory (a few rows, no checkpoint
    // commit). The resumed stream must replace it WHOLESALE.
    graft.operators.Cdc.catalogRows(
        docs.slice(30, 33).toDF("doc_id", "text"), "text", 8, mn, ab, mx)
      .write.mode("overwrite").partitionBy("__b").parquet(s"$path/batch=1")
    val tornCount = spark.read.parquet(path).count()
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    // exactly-once: per-era counts are each era's own distinct-fp count
    val perBatchWant = Seq(docs.take(30), docs.drop(30)).map(b =>
      graft.operators.Cdc.chunkCatalog(b.toDF("doc_id", "text"), "text", mn, ab, mx).count()).sum
    assert(spark.read.parquet(path).count() == perBatchWant,
      s"kill-resume must heal the torn batch to exactly-once catalog rows (torn state had $tornCount)")
    val got = graft.operators.Cdc.readCatalog(spark, path)
      .collect().map(_.getString(0)).toSet
    val want = graft.operators.Cdc.chunkCatalog(df, "text", mn, ab, mx)
      .collect().map(_.getString(0)).toSet
    assert(got == want && want.nonEmpty,
      "post-resume catalog must equal the batch-built reference")
  }

  test("indexStreamIvfSq: kill-resume matrix — between-batch kill and mid-batch torn write both heal to identical probes") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rnd = new scala.util.Random(53L)
    val vecs = (0L until 200L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val (mins, maxs) = graft.functions.Sq.trainBounds(df, "embedding")
    val cells = graft.operators.Similarity.kmeansCells(df, "vec_id", "embedding",
      nCells = 8, iters = 2)
    val path = "target/io_tmp/ivfsq_kill_idx"
    val checkpoint = "target/io_tmp/ivfsq_kill_ckpt"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(checkpoint))
    graft.operators.AnnIndex.writeIvfSqMeta(spark, path, cells, mins, maxs)
    val input = MemoryStream[(Long, Array[Float])]
    def start() = GraftStreaming.indexStreamIvfSq(
      input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      path, checkpoint)
    // ---- kill BETWEEN batches: batch 0 lands, query dies, data arrives
    // while the stream is down
    val q1 = start()
    val (b1, b2) = vecs.splitAt(100)
    try { input.addData(b1); q1.processAllAvailable() } finally q1.stop()
    input.addData(b2) // arrives while down; becomes batch 1 on resume
    // ---- kill MID-batch: simulate the sink dying partway through the
    // upcoming batch-1 write — a TORN batch=1 directory exists (a few
    // rows, no checkpoint commit). The resumed stream must replay batch 1
    // and writeEra must replace the torn directory WHOLESALE.
    val torn = df.where(col("vec_id") >= 100 && col("vec_id") < 105)
      .join(broadcast(cells))
      .withColumn("__cell", element_at(
        graft.operators.Similarity.nearestCells(col("embedding"), col("__cells"), 1), 1)("cell"))
      .select(col("vec_id").as("neighbor_id"), col("__cell"),
        graft.functions.Sq.encodeCol(col("embedding"), mins, maxs).as("__codes"))
    torn.write.mode("overwrite").partitionBy("__cell").parquet(s"$path/batch=1")
    assert(spark.read.parquet(path).count() < 200, "precondition: the torn batch is partial")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    // exactly-once across both kills: every vector exactly once, the torn
    // rows healed (not duplicated, not lost)
    assert(spark.read.parquet(path).count() == 200,
      "kill-resume must heal the torn batch to exactly-once row counts")
    val queries = df.where(col("vec_id") < 10)
    val got = graft.operators.AnnIndex.probeIvfSq(spark, path, queries,
        "vec_id", "embedding", k = 5, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    val want = graft.functions.Sq.ivfTopK(queries, df, "vec_id", "embedding",
        k = 5, nCells = 8, nProbe = 3, centroids = Some(cells),
        bounds = Some((mins, maxs)))
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    assert(got == want && got.nonEmpty,
      "post-resume probe must equal the batch-built reference")
  }
}

case class StreamEvent(ts: java.sql.Timestamp, k: String)
case class KV(ts: java.sql.Timestamp, k: String, v: Long)
