package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

class AnnIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def corpus() = {
    val rnd = new scala.util.Random(11)
    (0L until 300L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
  }

  test("probeIvf == ivfTopK with the same quantizer (persisted index round-trip)") {
    val df = corpus()
    val queries = df.where($"vec_id" < 20)
    val path = "target/io_tmp/ivf_idx_spec"
    AnnIndex.buildIvf(df, "vec_id", "embedding", path, nCells = 8)
    val got = AnnIndex.probeIvf(spark, path, queries, "vec_id", "embedding", k = 5, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    val want = Similarity.ivfTopK(queries, df, "vec_id", "embedding", k = 5,
        nCells = 8, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("probeIvf with a trained quantizer matches ivfTopK given the same centroids") {
    val df = corpus()
    val queries = df.where($"vec_id" < 10)
    val cells = Similarity.kmeansCells(df, "vec_id", "embedding", nCells = 6, iters = 1)
      .persist() // both consumers must see the SAME (iterative, float) centroids
    try {
      val path = "target/io_tmp/ivf_idx_trained_spec"
      AnnIndex.buildIvf(df, "vec_id", "embedding", path, nCells = 6, centroids = Some(cells))
      val got = AnnIndex.probeIvf(spark, path, queries, "vec_id", "embedding", k = 5, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
      val want = Similarity.ivfTopK(queries, df, "vec_id", "embedding", k = 5,
          nCells = 6, nProbe = 2, centroids = Some(cells))
        .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
      assert(got == want && got.nonEmpty)
    } finally cells.unpersist()
  }

  test("probeIvf plan: partition-pruned index scan, no Exchange before the top-k aggregate") {
    val df = corpus()
    val path = "target/io_tmp/ivf_idx_plan_spec"
    AnnIndex.buildIvf(df, "vec_id", "embedding", path, nCells = 8)
    val probe = AnnIndex.probeIvf(spark, path, df.where($"vec_id" < 5),
      "vec_id", "embedding", k = 5, nProbe = 2)
    probe.count()
    val plan = probe.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("PartitionFilters") && plan.contains("__cell"),
      s"expected __cell partition filters on the index scan:\n$plan")
    // the only shuffle is the final bounded-heap top-k aggregate; the index
    // lineage (scan -> broadcast join -> project) must not exchange
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"expected exactly one Exchange (the top-k agg):\n$plan")
  }

  private def docs() = {
    // clusters of near-identical docs + unique fillers, same fixture shape
    // as DedupSpec: shared long prefix, distinct tails
    val base = "the quick brown fox jumps over the lazy dog again and again " * 3
    val rows =
      (0L until 20L).map(i => (i, base + s"cluster one tail $i")) ++
      (100L until 115L).map(i => (i, base + s"cluster two variant tail marker $i")) ++
      (200L until 260L).map(i => (i, s"unique document number $i with its own words " +
        s"entirely different content stream ${i * 31} ${i * 17}"))
    rows.toDF("doc_id", "text")
  }

  test("probeMinhash == batch minhashNearDuplicates restricted to delta-vs-corpus pairs") {
    val corpus = docs()
    val delta = corpus.withColumn("doc_id", col("doc_id") + 10000)
    AnnIndex.buildMinhash(corpus, "doc_id", "text", "mh_idx_spec",
      shingle = 3, numHashes = 64, bands = 16, buckets = 4)
    try {
      val got = AnnIndex.probeMinhash(spark, "mh_idx_spec", delta, "doc_id", "text",
          shingle = 3, numHashes = 64, bands = 16, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // batch twin over corpus ∪ delta, keeping only cross pairs (batch
      // orients idA < idB, so cross pairs are (corpus id, delta id))
      val want = Dedup.minhashNearDuplicates(corpus.unionByName(delta), "doc_id", "text",
          shingle = 3, numHashes = 64, bands = 16, threshold = 0.5)
        .where(col("idA") < 10000 && col("idB") >= 10000)
        .collect().map(r => (r.getLong(1), r.getLong(0), r.getDouble(2))).toSet
      assert(got == want && got.nonEmpty)
      // every delta doc is an exact copy of a corpus doc: its own twin must
      // be among the pairs at est_jaccard 1.0
      assert(got.exists { case (a, b, j) => a == b + 10000 && j == 1.0 })
    } finally spark.sql("DROP TABLE IF EXISTS mh_idx_spec")
      .collect() -> spark.sql("DROP TABLE IF EXISTS mh_idx_spec_sigs").collect()
  }

  test("probeFingerprint: dup-or-new verdicts match batch exact-dedup semantics") {
    val corpus = docs()
    AnnIndex.buildFingerprint(corpus, "doc_id", "text", "fp_idx_spec", buckets = 4)
    try {
      // delta: doc 0's text verbatim (dup), doc 1 with novel text (new),
      // a whitespace/case variant of doc 2 (dup via canonicalization)
      val delta = Seq(
        (100L, corpus.where(col("doc_id") === 0).head.getString(1)),
        (101L, "entirely novel text never indexed"),
        (102L, "  " + corpus.where(col("doc_id") === 2).head.getString(1).toUpperCase + "  ")
      ).toDF("doc_id", "text")
      val got = AnnIndex.probeFingerprint(spark, "fp_idx_spec", delta, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
      assert(got(100L).contains(0L), "verbatim copy must resolve to the corpus winner")
      assert(got(101L).isEmpty, "novel text must be null (new)")
      assert(got(102L).contains(2L), "canonicalization variant must still resolve")
      // winner is the MINIMUM corpus id per fingerprint (Dedup.exact rule)
      val dupOf = AnnIndex.probeFingerprint(spark, "fp_idx_spec",
        corpus.withColumn("doc_id", col("doc_id") + 500), "doc_id", "text")
      val want = Dedup.exact(corpus, "doc_id", "text")
        .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1))).head.getLong(0)
      assert(dupOf.select("dup_of").distinct().count() == want,
        "distinct winners must equal the batch exact-dedup group count")
    } finally spark.sql("DROP TABLE IF EXISTS fp_idx_spec").collect()
  }

  test("updateFingerprint: incremental ingest equals a fresh build on the union") {
    val corpus = docs()
    val half1 = corpus.where(col("doc_id") < 200)
    val half2 = corpus.where(col("doc_id") >= 200)
      // overlap: re-ingest two docs verbatim so counts must MERGE, and the
      // min-id winner rule must hold across the boundary
      .unionByName(corpus.where(col("doc_id") === 0).withColumn("doc_id", lit(999L)))
    AnnIndex.buildFingerprint(half1, "doc_id", "text", "fp_inc_spec", buckets = 4)
    AnnIndex.updateFingerprint(spark, "fp_inc_spec", half2, "doc_id", "text", buckets = 4)
    AnnIndex.buildFingerprint(corpus.unionByName(
        corpus.where(col("doc_id") === 0).withColumn("doc_id", lit(999L))),
      "doc_id", "text", "fp_full_spec", buckets = 4)
    try {
      val inc = spark.table("fp_inc_spec").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val full = spark.table("fp_full_spec").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(inc == full && inc.nonEmpty)
      // the overlapped doc's fingerprint kept the ORIGINAL min id, count 2
      val dup = AnnIndex.probeFingerprint(spark, "fp_inc_spec",
        corpus.where(col("doc_id") === 0).withColumn("doc_id", lit(5000L)),
        "doc_id", "text").head
      assert(dup.getLong(1) == 0L)
    } finally Seq("fp_inc_spec", "fp_full_spec")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t").collect())
  }

  test("updateFingerprint heals a torn swap first: live table dropped, staging complete") {
    val corpus = docs()
    val table = "fp_torn_update_spec"
    val staging = AnnIndex.stagingName(table)
    def drop(): Unit = Seq(table, staging, "fp_torn_full_spec")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`").collect())
    drop()
    try {
      AnnIndex.buildFingerprint(corpus.where(col("doc_id") < 200), "doc_id", "text", table,
        buckets = 4)
      // crash between a swap's drop and rename: only the complete staging
      // table is left
      spark.sql(s"ALTER TABLE `$table` RENAME TO `$staging`")
      AnnIndex.updateFingerprint(spark, table, corpus.where(col("doc_id") >= 200),
        "doc_id", "text", buckets = 4)
      AnnIndex.buildFingerprint(corpus, "doc_id", "text", "fp_torn_full_spec", buckets = 4)
      def rows(t: String) = spark.table(t).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows(table) == rows("fp_torn_full_spec") && rows(table).nonEmpty,
        "the update must heal the swap and fold the delta onto the pre-crash state")
      assert(!spark.catalog.tableExists(staging), "staging must be renamed back in")
      // with no staging to heal from, an update must fail rather than
      // build a catalog from the delta alone
      drop()
      intercept[org.apache.spark.sql.AnalysisException](AnnIndex.updateFingerprint(
        spark, table, corpus, "doc_id", "text", buckets = 4))
      intercept[org.apache.spark.sql.AnalysisException](AnnIndex.updateGramDf(
        spark, table, corpus, "text", buckets = 4))
      assert(!spark.catalog.tableExists(table) && !spark.catalog.tableExists(staging))
    } finally drop()
  }

  test("probeMinhashFixture == batch fixture twin restricted to delta-vs-corpus pairs") {
    // the oracle-replayable analogue of the probeMinhash parity test: same
    // shared pipeline, fixture hash family on both build and probe sides
    val corpus = docs()
    val delta = corpus.withColumn("doc_id", col("doc_id") + 10000)
    AnnIndex.buildMinhash(corpus, "doc_id", "text", "mh_idx_fx_spec",
      shingle = 3, numHashes = 64, bands = 16, buckets = 4, family = HashFamily.Fixture)
    try {
      val got = AnnIndex.probeMinhash(spark, "mh_idx_fx_spec", delta, "doc_id", "text",
          shingle = 3, numHashes = 64, bands = 16, threshold = 0.5, family = HashFamily.Fixture)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val want = Dedup.minhashNearDuplicates(corpus.unionByName(delta), "doc_id", "text",
          shingle = 3, numHashes = 64, bands = 16, threshold = 0.5, family = HashFamily.Fixture)
        .where(col("idA") < 10000 && col("idB") >= 10000)
        .collect().map(r => (r.getLong(1), r.getLong(0), r.getDouble(2))).toSet
      assert(got == want && got.nonEmpty)
      assert(got.exists { case (a, b, j) => a == b + 10000 && j == 1.0 })
    } finally spark.sql("DROP TABLE IF EXISTS mh_idx_fx_spec")
      .collect() -> spark.sql("DROP TABLE IF EXISTS mh_idx_fx_spec_sigs").collect()
  }

  test("probeMinhash plan: the indexed corpus is read pre-bucketed — no Exchange above the index scans") {
    val corpus = docs()
    val delta = corpus.withColumn("doc_id", col("doc_id") + 10000).limit(10)
    AnnIndex.buildMinhash(corpus, "doc_id", "text", "mh_idx_plan_spec",
      shingle = 3, numHashes = 64, bands = 16, buckets = 4)
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    // disable broadcast so the candidate join NEEDS co-location (the test
    // then proves the index side satisfies it from the bucketed layout);
    // disable AQE so the physical tree is traversable directly
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val probe = AnnIndex.probeMinhash(spark, "mh_idx_plan_spec", delta,
        "doc_id", "text", shingle = 3, numHashes = 64, bands = 16, threshold = 0.5)
      val plan = probe.queryExecution.executedPlan
      val indexScans = plan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.tableIdentifier.exists(_.table.startsWith("mh_idx_plan_spec")) => f
      }
      assert(indexScans.size == 2, s"expected band + sig table scans:\n$plan")
      assert(indexScans.forall(_.bucketedScan),
        s"index scans must use the bucketed layout:\n$plan")
      // the join CONSUMING each index table must read it straight off the
      // bucketed scan — no Exchange on the scan→join path. (Downstream
      // re-shuffles of join RESULTS are delta-sized and legitimate.)
      def pathToScan(p: org.apache.spark.sql.execution.SparkPlan)
          : Option[(Boolean, String)] = p match {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          Some((false, f.tableIdentifier.map(_.table).getOrElse("")))
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          pathToScan(e.child).map { case (_, t) => (true, t) }
        case u if u.children.size == 1 => pathToScan(u.children.head)
        case _ => None
      }
      val joinSides = plan.collect {
        case j if j.children.size == 2 => j.children.flatMap(pathToScan)
      }.flatten
      val indexSides = joinSides.filter(_._2.startsWith("mh_idx_plan_spec"))
      assert(indexSides.size == 2, s"both index tables must feed a join directly:\n$plan")
      assert(indexSides.forall(!_._1),
        s"the indexed corpus must never re-shuffle on its way into a join:\n$plan")
      assert(probe.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP TABLE IF EXISTS mh_idx_plan_spec").collect()
      spark.sql("DROP TABLE IF EXISTS mh_idx_plan_spec_sigs").collect()
    }
  }

  test("probeIvfPq == Pq.ivfTopK with the same quantizer and codebooks (compressed index round-trip)") {
    val df = corpus()
    val queries = df.where($"vec_id" < 20)
    val books = graft.functions.Pq.train(df, "vec_id", "embedding",
      m = 4, ksub = 8, sampleSize = 300)
    val path = "target/io_tmp/ivfpq_idx_spec"
    AnnIndex.buildIvfPq(df, "vec_id", "embedding", path, books, nCells = 8)
    val got = AnnIndex.probeIvfPq(spark, path, queries, "vec_id", "embedding",
        k = 5, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    val want = graft.functions.Pq.ivfTopK(queries, df, "vec_id", "embedding",
        books, k = 5, nCells = 8, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("probeIvfPq plan: partition-pruned index scan (literal cell filters, no cast)") {
    val df = corpus()
    val books = graft.functions.Pq.train(df, "vec_id", "embedding",
      m = 4, ksub = 8, sampleSize = 300)
    val path = "target/io_tmp/ivfpq_idx_plan_spec"
    AnnIndex.buildIvfPq(df, "vec_id", "embedding", path, books, nCells = 8)
    // AQE hides scans inside query stages — plan asserts need it off
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val scans = try {
      val probe = AnnIndex.probeIvfPq(spark, path, df.where($"vec_id" < 5),
        "vec_id", "embedding", k = 5, nProbe = 2)
      probe.count()
      probe.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.partitionFilters.nonEmpty => f
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    assert(scans.nonEmpty, "expected a partition-filtered index scan")
    val pf = scans.flatMap(_.partitionFilters)
    assert(pf.exists(_.references.map(_.name).toSet == Set("__cell")),
      s"partition filters must target __cell: $pf")
    // the probe side computes Long cell ids while the directory column
    // type-infers as Integer — literals must be cast, NOT the partition
    // column, or pruning happens under a cast (unverifiable at best)
    assert(!pf.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Cast])),
      s"partition filter wraps the partition column in a cast: $pf")
  }

  test("residual IMI-PQ index: probe == in-flight residual probe; _meta round-trips the flag") {
    val df = corpus()
    val queries = df.where($"vec_id" < 20)
    import org.apache.spark.sql.functions.col
    def halfBook(h: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      Similarity.kmeansCells(
        df.select(col("vec_id"), h(col("embedding")).as("__h")),
        "vec_id", "__h", nCells = 4, iters = 2)
    val (ba, bb) = (halfBook(Similarity.halfA), halfBook(Similarity.halfB))
    val books = graft.functions.Pq.trainResidualImi(df, "vec_id", "embedding",
      ba, bb, m = 4, ksub = 8, sampleSize = 300)
    val path = "target/io_tmp/imipq_resid_idx_spec"
    AnnIndex.buildImiPq(df, "vec_id", "embedding", path, books,
      codebooks = Some((ba, bb)), residual = true)
    // the _meta flag is what routes the probe to per-probe residual LUTs
    assert(spark.read.parquet(path + "/_meta").head().getBoolean(0))
    val got = AnnIndex.probeImiPqRefined(spark, path, queries, df,
        "vec_id", "embedding", k = 5, nProbe = 3, refine = 2)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(1))).toSet
    val want = graft.functions.Pq.imiTopKRefined(queries, df, "vec_id", "embedding",
        books, k = 5, nProbe = 3, refine = 2,
        codebooks = Some((ba, bb)), residual = true)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(1))).toSet
    assert(got == want && got.nonEmpty)
    // a non-residual layout on the same corpus must NOT read the same —
    // residual codes are a different compressed domain (guards against a
    // probe that ignores _meta yet passes by coincidence)
    val pathPlain = "target/io_tmp/imipq_plain_idx_spec"
    val plainBooks = graft.functions.Pq.train(df, "vec_id", "embedding",
      m = 4, ksub = 8, sampleSize = 300)
    AnnIndex.buildImiPq(df, "vec_id", "embedding", pathPlain, plainBooks,
      codebooks = Some((ba, bb)))
    assert(!spark.read.parquet(pathPlain + "/_meta").head().getBoolean(0))
  }

  test("probeImiPqRefined == Pq.imiTopKRefined; plan prunes BOTH directory levels") {
    val df = corpus()
    val queries = df.where($"vec_id" < 20)
    val books = graft.functions.Pq.train(df, "vec_id", "embedding",
      m = 4, ksub = 8, sampleSize = 300)
    val path = "target/io_tmp/imipq_idx_spec"
    AnnIndex.buildImiPq(df, "vec_id", "embedding", path, books, nPerHalf = 4)
    val got = AnnIndex.probeImiPqRefined(spark, path, queries, df,
        "vec_id", "embedding", k = 5, nProbe = 3, refine = 2)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(1))).toSet
    val want = graft.functions.Pq.imiTopKRefined(queries, df, "vec_id", "embedding",
        books, k = 5, nPerHalf = 4, nProbe = 3, refine = 2)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(1))).toSet
    assert(got == want && got.nonEmpty)
    // both composite-cell directory levels must prune at planning time
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val scans = try {
      val probe = AnnIndex.probeImiPqRefined(spark, path, queries, df,
        "vec_id", "embedding", k = 5, nProbe = 3, refine = 2)
      probe.count()
      probe.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.partitionFilters.nonEmpty => f
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    assert(scans.nonEmpty, "expected a partition-filtered index scan")
    val refs = scans.flatMap(_.partitionFilters).flatMap(_.references.map(_.name)).toSet
    assert(refs == Set("__ca", "__cb"),
      s"partition filters must target both __ca and __cb: $refs")
    assert(!scans.flatMap(_.partitionFilters).exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Cast])),
      s"partition filter wraps a partition column in a cast")
  }

  test("probeSpans == duplicateSpans when probing the build corpus; index side reads bucketed") {
    val shared = "one two three four five six seven eight nine ten"
    val d = Seq(
      (1L, s"aa bb $shared cc"),
      (2L, s"xx $shared yy zz"),
      (3L, "entirely different words that repeat nowhere else at all")
    ).toDF("doc_id", "text")
    AnnIndex.buildGramIndex(d, "doc_id", "text", "gram_idx_spec", k = 3, buckets = 4)
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val probe = AnnIndex.probeSpans(spark, "gram_idx_spec", d, "doc_id", "text",
        k = 3, minSpan = 5)
      val got = probe.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = Dedup.duplicateSpans(d, "doc_id", "text", k = 3, minSpan = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want && got.nonEmpty)
      val plan = probe.queryExecution.executedPlan
      val indexScans = plan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.tableIdentifier.exists(_.table == "gram_idx_spec") => f
      }
      assert(indexScans.size == 1 && indexScans.head.bucketedScan,
        s"gram index must read through its bucketed layout:\n$plan")
      // no Exchange on the scan→join path (downstream shuffles of the JOIN
      // RESULT — the islands window — are probe-sized and legitimate)
      def pathToScan(p: org.apache.spark.sql.execution.SparkPlan)
          : Option[(Boolean, String)] = p match {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          Some((false, f.tableIdentifier.map(_.table).getOrElse("")))
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          pathToScan(e.child).map { case (_, t) => (true, t) }
        case u if u.children.size == 1 => pathToScan(u.children.head)
        case _ => None
      }
      val indexSides = plan.collect {
        case j if j.children.size == 2 => j.children.flatMap(pathToScan)
      }.flatten.filter(_._2 == "gram_idx_spec")
      assert(indexSides.size == 1, s"the gram index must feed the semi join directly:\n$plan")
      assert(!indexSides.head._1,
        s"the gram index must never re-shuffle on its way into the semi join:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP TABLE IF EXISTS gram_idx_spec").collect()
    }
  }

  test("minhash pair-table build: staged swap heals every torn window; old pair survives a crashed write") {
    val d = docs()
    val delta = d.where(col("doc_id") >= 90)
    val table = "mh_torn_idx"
    val sigs = table + "_sigs"
    val stag = AnnIndex.stagingName(table)
    val stagS = AnnIndex.stagingName(sigs)
    def drop(): Unit = Seq(table, sigs, stag, stagS)
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`").collect())
    drop()
    try {
      AnnIndex.buildMinhash(d, "doc_id", "text", table, shingle = 2, numHashes = 16, bands = 8)
      def probe() = AnnIndex.probeMinhash(spark, table, delta, "doc_id", "text",
          shingle = 2, numHashes = 16, bands = 8, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = probe()
      assert(want.nonEmpty)
      // torn window: crash between the two metadata swaps — bands swapped
      // (staging consumed), sigs staging still waiting. Simulate by
      // re-staging the SAME pair and consuming only the bands swap.
      spark.sql(s"CREATE TABLE `$stagS` AS SELECT * FROM `$sigs`")
      assert(probe() == want, "pair recovery must finish the second swap")
      assert(!spark.catalog.tableExists(stagS), "sigs staging must be consumed")
      // torn window: crash between sigs-staging drop and rename
      // (recoverSwap's window) — live sigs gone, staging complete
      spark.sql(s"ALTER TABLE `$sigs` RENAME TO `$stagS`")
      assert(probe() == want, "probe must heal the drop/rename window")
      assert(spark.catalog.tableExists(sigs) && !spark.catalog.tableExists(stagS))
      // crash BEFORE any swap (both stagings complete, old pair live):
      // the old pair stays the durable state; a rebuild converges
      spark.sql(s"CREATE TABLE `$stag` AS SELECT * FROM `$table`")
      spark.sql(s"CREATE TABLE `$stagS` AS SELECT * FROM `$sigs`")
      assert(probe() == want, "a not-yet-committed staged pair must not change answers")
      AnnIndex.buildMinhash(d, "doc_id", "text", table, shingle = 2, numHashes = 16, bands = 8)
      assert(probe() == want && !spark.catalog.tableExists(stag) &&
        !spark.catalog.tableExists(stagS))
    } finally drop()
  }

  test("compaction torn-state matrix: probe heals EVERY crash window to identical results") {
    import org.apache.commons.io.FileUtils
    import org.apache.spark.sql.functions.{broadcast, element_at, explode}
    val rnd = new scala.util.Random(47)
    val df = (0L until 200L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val books = graft.functions.Pq.train(df, "vec_id", "embedding",
      m = 4, ksub = 8, sampleSize = 200)
    val cells = Similarity.kmeansCells(df, "vec_id", "embedding", nCells = 8, iters = 2)
    val base = "target/io_tmp/ivfpq_torn"
    FileUtils.deleteQuietly(new java.io.File(base))

    def codeRows(part: org.apache.spark.sql.DataFrame) = part
      .join(broadcast(cells))
      .withColumn("__cell",
        element_at(Similarity.nearestCells(col("embedding"), col("__cells"), 1), 1)("cell"))
      .select(col("vec_id").as("neighbor_id"), col("__cell"),
        graft.functions.Pq.encodeCol(col("embedding"), books).as("__codes"))
    def buildPristine(dir: String): Unit = {
      AnnIndex.writeIvfPqMeta(spark, dir, cells, books)
      AnnIndex.writeEra(codeRows(df.where(col("vec_id") < 100)), dir, 0L, Seq("__cell"))
      AnnIndex.writeEra(codeRows(df.where(col("vec_id") >= 100)), dir, 1L, Seq("__cell"))
    }
    val queries = df.where(col("vec_id") < 10)
    def probe(dir: String) = AnnIndex.probeIvfPq(spark, dir, queries,
        "vec_id", "embedding", k = 5, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    def eras(dir: String) = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName).toSet

    val pristine = s"$base/pristine"
    buildPristine(pristine)
    val want = probe(pristine)
    assert(want.nonEmpty)
    // donor: a completed compaction whose era dir carries the EXACT
    // staged content (parquet _SUCCESS + manifest naming batch=0/batch=1
    // as sources and batch=-1 as target) every torn state below re-stages
    val donor = s"$base/donor"
    buildPristine(donor)
    AnnIndex.compactIvfPq(spark, donor)
    val donorEra = new java.io.File(donor).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).head

    // every intermediate state a crash can leave, checked on a FRESH
    // pristine copy each time: heal-on-probe must return identical
    // results and converge the layout with no staged dir left behind
    val matrix = Seq(
      // crash immediately after the staging rename: sources all present
      "staged-sources-present" -> Seq.empty[String],
      // crash mid-install: one source deleted, one left
      "half-installed" -> Seq("batch=0"),
      // crash after all source deletes, before the final flip
      "staged-only" -> Seq("batch=0", "batch=1"),
      // torn staged writes ("cannot exist" by construction, healed
      // defensively): missing commit marker / missing manifest
      "no-success-marker" -> Seq.empty[String],
      "no-manifest" -> Seq.empty[String])
    matrix.foreach { case (state, deletedSources) =>
      val dir = s"$base/$state"
      buildPristine(dir)
      FileUtils.copyDirectory(donorEra, new java.io.File(dir, ".compact_staged"))
      deletedSources.foreach(sd =>
        FileUtils.deleteDirectory(new java.io.File(dir, sd)))
      if (state == "no-success-marker")
        assert(new java.io.File(dir, ".compact_staged/_SUCCESS").delete())
      if (state == "no-manifest")
        assert(new java.io.File(dir, ".compact_staged/_COMPACTION_MANIFEST").delete())
      assert(probe(dir) == want, s"torn state '$state' must heal to identical results")
      assert(!new java.io.File(dir, ".compact_staged").exists,
        s"torn state '$state' must not leave a staged dir")
      val e = eras(dir)
      if (state.startsWith("no-"))
        // incomplete staged: discarded, the untouched sources remain live
        assert(e == Set("batch=0", "batch=1"), s"$state kept wrong eras: $e")
      else
        assert(e == Set("batch=-1"), s"$state must finish the install, got $e")
    }
  }

  test("LM catalog: incremental update == fresh train; vocab threshold crossing; torn pair heals") {
    val d = docs()
    val table = "lm_idx_spec"
    val stagBi = AnnIndex.stagingName(table + "_bi")
    def drop(): Unit = Seq(table, table + "_bi",
        AnnIndex.stagingName(table), stagBi)
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`").collect())
    drop()
    try {
      // build on half, fold the other half in — must equal one-shot train
      AnnIndex.buildLm(d.where(col("doc_id") % 2 === 0), "doc_id", "text", table, buckets = 4)
      AnnIndex.updateLm(spark, table, d.where(col("doc_id") % 2 =!= 0),
        "doc_id", "text", buckets = 4)
      val inc = AnnIndex.loadLm(spark, table, minCount = 2)
      val fresh = LanguageModel.train(d, "doc_id", "text", minCount = 2)
      assert(inc.totalTokens == fresh.totalTokens && inc.vocabSize == fresh.vocabSize)
      def scores(lm: LanguageModel.NgramLm) =
        LanguageModel.scoreDocs(d, "doc_id", "text", lm)
          .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      val want = scores(fresh)
      assert(scores(inc) == want && want.nonEmpty)
      // torn window: crash between the two pair swaps (uni committed, bi
      // staging waiting) — loadLm must finish the second swap, unchanged
      spark.sql(s"CREATE TABLE `$stagBi` AS SELECT * FROM `${table}_bi`")
      assert(scores(AnnIndex.loadLm(spark, table, minCount = 2)) == want)
      assert(!spark.catalog.tableExists(stagBi), "bi staging must be consumed")
      // raw-count persistence: a word below minCount in the first slice
      // must CROSS the vocabulary threshold once a later delta lifts it
      drop()
      AnnIndex.buildLm(Seq((1L, "rare common common")).toDF("doc_id", "text"),
        "doc_id", "text", table, buckets = 2)
      assert(AnnIndex.loadLm(spark, table, minCount = 2).vocabSize == 1)
      AnnIndex.updateLm(spark, table,
        Seq((2L, "rare common")).toDF("doc_id", "text"), "doc_id", "text", buckets = 2)
      val crossed = AnnIndex.loadLm(spark, table, minCount = 2)
      assert(crossed.vocabSize == 2 && crossed.totalTokens == 5)
    } finally drop()
  }

  test("gram-df catalog: era append == one-shot build; staged-swap crash heals; probe join stays Exchange-free on the index side") {
    val d = docs()
    val table = "gramdf_idx_spec"
    def drop(): Unit = Seq(table, AnnIndex.stagingName(table))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`").collect())
    drop()
    try {
      AnnIndex.buildGramDf(d.where(col("doc_id") % 2 === 0), "text",
        table, shingle = 2, buckets = 4)
      AnnIndex.updateGramDf(spark, table, d.where(col("doc_id") % 2 =!= 0),
        "text", shingle = 2, buckets = 4)
      def weigh(counts: org.apache.spark.sql.DataFrame) =
        Dedup.softWeightsAgainstCounts(d, "doc_id", "text", counts, shingle = 2)
          .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(4))).toSet
      val want = weigh(Dedup.refGramCounts(d, "text", shingle = 2))
      assert(weigh(AnnIndex.loadGramDf(spark, table)) == want && want.nonEmpty,
        "build+append catalog must weigh exactly like in-flight whole-corpus counts")
      // catalog is bucketed+sorted on the join key, so a shuffle-join probe
      // reads the index side without an Exchange (the buildGramIndex
      // layout contract — asserted via the persisted table metadata)
      val desc = spark.sql(s"DESCRIBE EXTENDED `$table`").collect().map(_.mkString(" "))
      assert(desc.exists(l => l.contains("Bucket") && l.contains("__sh")),
        s"catalog must be bucketed on __sh:\n${desc.mkString("\n")}")
      // crash window: staging table complete, live table dropped — load
      // heals (content equality; this CTAS simulation does not preserve
      // the bucketed layout, the real staged build does)
      spark.sql(s"CREATE TABLE `${AnnIndex.stagingName(table)}` AS SELECT * FROM `$table`")
      spark.sql(s"DROP TABLE `$table`")
      assert(weigh(AnnIndex.loadGramDf(spark, table)) == want, "torn swap must heal on load")
      assert(!spark.catalog.tableExists(AnnIndex.stagingName(table)))
    } finally drop()
  }
}
