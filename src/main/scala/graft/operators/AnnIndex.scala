package graft.operators

import graft.functions.VectorFunctions._
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent ANN / dedup indexes — the last rung of the 100 TB story.
  *
  * Every query-time operator in [[Similarity]]/[[Dedup]] recomputes
  * signatures and cell assignments from the raw corpus; at scale the
  * index IS the asset: built once, laid out so a probe reads only the
  * slice it needs, and shared by every downstream query.
  *
  *  - IVF ([[buildIvf]]/[[probeIvf]]): cell assignments land as parquet
  *    PARTITIONED by cell id. A probe plans `__cell IN (...)` partition
  *    filters, so pruned cells cost zero bytes — the probe side has NO
  *    Exchange before the final top-k aggregate, and scan volume is
  *    nProbe/nCells of the corpus regardless of corpus size.
  *  - MinHash ([[buildMinhash]]/[[probeMinhash]]): banded signatures land
  *    as a BUCKETED table keyed by the band-bucket hash. Incremental
  *    dedup of a delta against the corpus then shuffles ONLY the delta
  *    (Spark aligns it to the table's bucketing); the indexed corpus —
  *    the 100 TB side — is never re-shuffled or re-signed.
  *
  * ==Lifecycle==
  * Every persistent index is built once and appended forever, by one
  * lifecycle written here.
  *
  *  - Path-based indexes (IVF, IVF-PQ, IVF-SQ, IMI-PQ, the
  *    [[Cdc.buildCatalogIndex]] chunk catalog) are parquet roots of ERAS,
  *    `<path>/batch=<era>/<cell dirs>/`, with `_`-prefixed sidecars
  *    (quantizer, codebooks) beside them. One encoder per layout turns a
  *    DataFrame into code rows ([[ivfCodeRows]], [[imiPqRows]],
  *    [[Cdc.catalogRows]]); the batch build and the stream ingest
  *    ([[graft.streaming.GraftStreaming]] `indexStream*`) both call it.
  *  - A build REPLACES the root and writes era -1. A stream APPENDS one
  *    era per microbatch, `batch=<id>` ([[writeEra]]: heal, then overwrite
  *    that era wholesale, so a replayed batch id is exactly-once by
  *    idempotent rewrite — no file-sink log pins the file set).
  *  - Compaction ([[compactIvfPq]]) folds every era into a fresh NEGATIVE
  *    era below the lowest one, through a manifest and a staged rename.
  *    Every reader and writer heals a crashed install first
  *    ([[readEras]], [[writeEra]]).
  *  - Catalog tables (fingerprint, gram-df) are bucketed session-catalog
  *    tables, each given by a [[Catalog]]: its partial aggregate, its key
  *    and its merge aggregate. Build, update and stream ingest all run one
  *    staged merge ([[mergeCatalog]]): stage `merge(live ∪ partial(delta))`
  *    (a build stages `partial(ref)`) under the staging name, run the mark
  *    hook on the staged directory, swap. An update or ingest heals a torn
  *    swap first; an update of a missing table fails, and only a stream's
  *    first batch builds the table. A stream's batch mark is stamped
  *    inside the staged directory, so state and mark publish in one
  *    rename ([[ingestCatalogBatch]]).
  *  - Table pairs (minhash bands + `_sigs`, LM unigrams + `_bi`) stage both
  *    tables before two swaps ([[persistPair]] / [[recoverPair]]).
  *
  * The reference has no persistent-index surface (its platforms rebuild
  * relations per script); this extends the dedup/ANN family the same way
  * pigpen-parquet extended its io layer — storage layout as an operator
  * (pigpen-parquet/src/main/clojure/pigpen/parquet.clj:105-124).
  */
object AnnIndex {

  // ---- the era lifecycle of the path-based indexes (header: Lifecycle) ----

  /** The era a build writes. Microbatch ids are >= 0 and compactions count
    * down from the lowest era, so a built index takes stream appends and
    * compactions with no layout change.
    */
  private val BuildEra = -1L

  private def fsRoot(spark: SparkSession, path: String): (FileSystem, Path) = {
    val root = new Path(path)
    (root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  /** The one era write: heal a crashed compaction install, then overwrite
    * `batch=<era>` wholesale, so writing an era id again yields the same
    * rows (a replayed microbatch is exactly-once). The streaming engine
    * commits offsets before the sink runs, so a replay carries the same
    * input.
    */
  private[graft] def writeEra(rows: DataFrame, path: String, era: Long,
      partCols: Seq[String]): Unit = {
    val (fs, root) = fsRoot(rows.sparkSession, path)
    recoverCompaction(fs, root)
    rows.write.mode("overwrite").partitionBy(partCols: _*).parquet(s"$path/batch=$era")
  }

  /** A build: replace the whole root with the one era [[BuildEra]]. The
    * caller writes its sidecars afterwards.
    */
  private[graft] def buildEra(rows: DataFrame, path: String, partCols: Seq[String]): Unit = {
    val (fs, root) = fsRoot(rows.sparkSession, path)
    fs.delete(root, true)
    writeEra(rows, path, BuildEra, partCols)
  }

  /** The one healing read of an era layout: a probe never reads a
    * half-installed compaction.
    */
  private[graft] def readEras(spark: SparkSession, path: String): DataFrame = {
    val (fs, root) = fsRoot(spark, path)
    recoverCompaction(fs, root)
    spark.read.parquet(path)
  }

  /** PQ codebooks as flattened (sub, centroid, values) rows under
    * `_codebooks/` — the IVF-PQ and IMI-PQ sidecar.
    */
  private def writeCodebooks(spark: SparkSession, path: String,
      books: Array[Array[Array[Float]]]): Unit = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (sub, j) =>
      sub.zipWithIndex.map { case (cent, ci) => (j, ci, cent.toSeq) }
    }.toSeq.toDF("sub", "centroid", "values")
      .write.mode("overwrite").parquet(path + "/_codebooks")
  }

  private def readCodebooks(spark: SparkSession, path: String): Array[Array[Array[Float]]] =
    spark.read.parquet(path + "/_codebooks")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toArray).toArray

  // ---- the layout encoders: one per layout, shared by build and stream ----

  /** (neighbor_id, __cv): the row shape every quantizer reads. */
  private def vectors(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))

  /** The IVF default-centroid rule: the trained centroid row when given,
    * else the deterministic quantizer [[Similarity.ivfTopK]] uses (lowest
    * `nCells` ids).
    */
  private def cellsOrDefault(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int, centroids: Option[DataFrame]): DataFrame =
    centroids.getOrElse(Similarity.defaultCells(vectors(corpus, idCol, vecCol), nCells))

  /** The IVF cell assignment: each `__cv` row takes its nearest centroid's
    * id as `__cell`, map-side against the broadcast one-row centroid
    * relation (stream-static in the ingest) — no state, no shuffle.
    */
  private def ivfAssigned(rows: DataFrame, centroids: DataFrame): DataFrame =
    rows.join(broadcast(centroids))
      .withColumn("__cell",
        element_at(Similarity.nearestCells(col("__cv"), col("__cells"), 1), 1)("cell"))

  /** The IVF-PQ / IVF-SQ encoder: (neighbor_id, __cell, __codes) rows, with
    * `encode` the PQ or SQ8 code column.
    */
  private[graft] def ivfCodeRows(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, encode: Column => Column): DataFrame =
    ivfAssigned(vectors(df, idCol, vecCol), centroids)
      .select(col("neighbor_id"), col("__cell"), encode(col("__cv")).as("__codes"))

  /** The IMI-PQ encoder: (neighbor_id, __ca, __cb, __codes) rows against the
    * `__cellsA`/`__cellsB` half-codebooks. `residual` codes the per-half
    * residual ([[Similarity.imiResidual]]) instead of the whole vector.
    */
  private[graft] def imiPqRows(df: DataFrame, idCol: String, vecCol: String,
      bookA: DataFrame, bookB: DataFrame, books: Array[Array[Array[Float]]],
      residual: Boolean): DataFrame =
    Similarity.imiAssigned(
        vectors(df, idCol, vecCol).join(broadcast(bookA)).join(broadcast(bookB)),
        col("__cv"))
      .select(col("neighbor_id"), col("__ca"), col("__cb"),
        graft.functions.Pq.encodeCol(
          if (residual) Similarity.imiResidual(col("__cv")) else col("__cv"),
          books).as("__codes"))

  // ---- IVF: partitioned cell layout ----

  /** Assign every corpus vector to its nearest centroid and build the
    * assignment layout partitioned by `__cell` (columns: neighbor_id,
    * __cv, __cn, __cell — the exact shape [[Similarity.ivfTopK]] builds
    * in-flight). Centroids default to the same deterministic quantizer
    * as ivfTopK (lowest `nCells` ids) or take a trained
    * [[Similarity.kmeansCells]] row; they are persisted alongside the
    * data under `_centroids/`, so the probe needs only `path`.
    *
    * Assignment is map-side against the broadcast centroid array — the
    * only shuffle in the build is the partitioned write's own file
    * routing.
    */
  def buildIvf(corpus: DataFrame, idCol: String, vecCol: String, path: String,
      nCells: Int = 16, centroids: Option[DataFrame] = None): Unit = {
    val centroidRow = cellsOrDefault(corpus, idCol, vecCol, nCells, centroids)
    buildEra(ivfAssigned(vectors(corpus, idCol, vecCol).withColumn("__cn", l2Norm(col("__cv"))),
        centroidRow).select(col("neighbor_id"), col("__cv"), col("__cn"), col("__cell")),
      path, Seq("__cell"))
    centroidRow.write.mode("overwrite").parquet(path + "/_centroids")
  }

  /** Top-k by cosine against a [[buildIvf]] index, probing the `nProbe`
    * cells nearest each query. Identical results to
    * `Similarity.ivfTopK(queries, corpus, ...)` with the same quantizer.
    *
    * The probed cell ids are collected to the driver (bounded by the
    * cell count — the faiss pattern: the coarse index lives with the
    * query planner) and planned as literal partition filters, so the
    * scan reads ONLY those cells' files: no filter-then-shuffle over the
    * corpus, no Exchange anywhere on the index lineage before the final
    * bounded-heap top-k.
    */
  def probeIvf(spark: SparkSession, path: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int = 4): DataFrame = {
    val idx = readEras(spark, path)
    val centroidRow = broadcast(spark.read.parquet(path + "/_centroids"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        l2Norm(col(vecCol)).as("__qn"))
      .join(centroidRow)
      .select(col("query_id"), col("__qv"), col("__qn"),
        explode(Similarity.nearestCells(col("__qv"), col("__cells"), nProbe)).as("__probe"))
      .select(col("query_id"), col("__qv"), col("__qn"), col("__probe")("cell").as("__cell"))
    val probed = Materialize.once(q)
    val scored = pruneCells(idx, probed).join(broadcast(probed), "__cell")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", Similarity.pairCosine)
    Similarity.topKByCosine(scored, k)
  }

  // ---- IVF-PQ: partitioned cell layout over the COMPRESSED corpus ----

  /** [[buildIvf]]'s compressed sibling: assignments carry PQ CODES instead
    * of raw vectors — at m=8 codes per 64-dim float vector the on-disk
    * index is ~32× smaller, which is the asset that makes a 100 TB ANN
    * store scannable. Sidecars: centroids under `_centroids/`, codebooks
    * under `_codebooks/`, so the probe needs only `path`.
    */
  def buildIvfPq(corpus: DataFrame, idCol: String, vecCol: String, path: String,
      books: Array[Array[Array[Float]]], nCells: Int = 16,
      centroids: Option[DataFrame] = None): Unit = {
    val centroidRow = cellsOrDefault(corpus, idCol, vecCol, nCells, centroids)
    buildEra(ivfCodeRows(corpus, idCol, vecCol, centroidRow,
      graft.functions.Pq.encodeCol(_, books)), path, Seq("__cell"))
    writeIvfPqMeta(corpus.sparkSession, path, centroidRow, books)
  }

  /** Centroid + codebook sidecars for an IVF-PQ layout — written by
    * [[buildIvfPq]], or first by a stream-first setup whose ingest
    * ([[graft.streaming.GraftStreaming.indexStreamIvfPq]]) appends code
    * rows but never changes the quantizer.
    */
  def writeIvfPqMeta(spark: SparkSession, path: String, centroids: DataFrame,
      books: Array[Array[Array[Float]]]): Unit = {
    centroids.write.mode("overwrite").parquet(path + "/_centroids")
    writeCodebooks(spark, path, books)
  }

  /** ADC top-k against a [[buildIvfPq]] index: probed cell ids plan as
    * literal partition filters (the probeIvf pruning discipline — the
    * scan reads ONLY those cells' files), scoring reads codes, never
    * vectors. Identical results to [[graft.functions.Pq.ivfTopK]] with
    * the same quantizer and codebooks.
    */
  def probeIvfPq(spark: SparkSession, path: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int = 4): DataFrame = {
    val idx = readEras(spark, path)
    val books = readCodebooks(spark, path)
    val ksub = books(0).length
    val centroidRow = broadcast(spark.read.parquet(path + "/_centroids"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .join(centroidRow)
      .select(col("query_id"),
        graft.functions.Pq.lutCol(col("__qv"), books).as("__lut"),
        explode(Similarity.nearestCells(col("__qv"), col("__cells"), nProbe)).as("__probe"))
      .select(col("query_id"), col("__lut"), col("__probe")("cell").as("__cell"))
    val probed = Materialize.once(q)
    graft.functions.Pq.rankTail(
      pruneCells(idx, probed).join(broadcast(probed), "__cell")
        .where(col("query_id") =!= col("neighbor_id"))
        .withColumn("adist", graft.functions.Pq.adcCol(col("__lut"), col("__codes"), ksub))
        .where(col("adist").isNotNull),
      "adist", k, keepScore = true)
  }

  /** [[probeIvfPq]] with the exact re-rank tail
    * ([[graft.functions.Pq.ivfTopKRefined]]'s discipline on the
    * PERSISTENT index): the partition-pruned compressed probe shortlists
    * k·refine candidates per query, then ONLY those raw vectors are
    * re-scored exactly from `corpus` — the caller supplies the raw-vector
    * table because the index stores codes, not vectors (that 32× gap is
    * the point of the index). One corpus scan with a broadcast semi-join;
    * no corpus shuffle; the pruned index scan is unchanged.
    */
  def probeIvfPqRefined(spark: SparkSession, path: String, queries: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      nProbe: Int = 4, refine: Int = 3): DataFrame = {
    require(refine >= 1, s"refine must be >= 1, got $refine")
    graft.functions.Pq.refineExact(
      probeIvfPq(spark, path, queries, idCol, vecCol, k * refine, nProbe)
        .select(col("query_id"), col("neighbor_id")),
      queries, corpus, idCol, vecCol, k)
  }

  // ---- IVF-SQ: partitioned cell layout over SQ8 codes ----

  /** [[buildIvfPq]]'s scalar-quantized sibling (faiss `IVF<n>,SQ8`):
    * assignments carry per-dimension uint8 codes — 4× smaller than raw
    * float32 with NO trained codebooks (the quantizer is the corpus's
    * per-dimension min/max, one aggregate over `dim` keys). Sidecars:
    * centroids under `_centroids/`, the (dim, mn, mx) bounds under
    * `_sqbounds/`, so the probe needs only `path`.
    */
  def buildIvfSq(corpus: DataFrame, idCol: String, vecCol: String, path: String,
      nCells: Int = 16, centroids: Option[DataFrame] = None,
      bounds: Option[(Array[Double], Array[Double])] = None): Unit = {
    val (mins, maxs) = bounds.getOrElse(graft.functions.Sq.trainBounds(corpus, vecCol))
    val centroidRow = cellsOrDefault(corpus, idCol, vecCol, nCells, centroids)
    buildEra(ivfCodeRows(corpus, idCol, vecCol, centroidRow,
      graft.functions.Sq.encodeCol(_, mins, maxs)), path, Seq("__cell"))
    writeIvfSqMeta(corpus.sparkSession, path, centroidRow, mins, maxs)
  }

  /** Centroid + quantizer-bounds sidecars for an IVF-SQ layout (the
    * [[writeIvfPqMeta]] contract). Stream-first setups persist the
    * quantizer here, then
    * [[graft.streaming.GraftStreaming.indexStreamIvfSq]] appends forever
    * (it reads BOTH sidecars from `path`, so streamed codes cannot
    * disagree with the persisted quantizer).
    */
  def writeIvfSqMeta(spark: SparkSession, path: String, centroids: DataFrame,
      mins: Array[Double], maxs: Array[Double]): Unit = {
    require(mins.length == maxs.length && mins.nonEmpty,
      s"ivf-sq bounds: mins/maxs must be same-length non-empty, got ${mins.length}/${maxs.length}")
    centroids.write.mode("overwrite").parquet(path + "/_centroids")
    import spark.implicits._
    mins.indices.map(i => (i, mins(i), maxs(i))).toDF("dim", "mn", "mx")
      .write.mode("overwrite").parquet(path + "/_sqbounds")
  }

  /** The (mins, maxs) quantizer bounds persisted beside an IVF-SQ index —
    * the quantizer lives WITH the index, so probes and streaming ingest
    * read it from `path` and can never disagree with the build about the
    * affine domain.
    */
  private[graft] def readSqBounds(spark: SparkSession, path: String): (Array[Double], Array[Double]) = {
    val boundRows = spark.read.parquet(path + "/_sqbounds")
      .orderBy("dim").collect()
    require(boundRows.nonEmpty && boundRows.length == boundRows.last.getInt(0) + 1,
      s"ivf-sq index at $path: corrupt _sqbounds sidecar")
    (boundRows.map(_.getDouble(1)), boundRows.map(_.getDouble(2)))
  }

  /** ADC top-k against a [[buildIvfSq]] index: probed cell ids plan as
    * literal partition filters (the probeIvf pruning discipline),
    * scoring reads uint8 codes against the raw query vector — dim
    * multiply-adds per pair, no per-query LUT memory (the structural
    * difference from PQ). Identical results to
    * [[graft.functions.Sq.ivfTopK]] with the same quantizer and bounds.
    */
  def probeIvfSq(spark: SparkSession, path: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int = 4): DataFrame = {
    val idx = readEras(spark, path)
    val (mins, maxs) = readSqBounds(spark, path)
    val centroidRow = broadcast(spark.read.parquet(path + "/_centroids"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .join(centroidRow)
      .select(col("query_id"), col("__qv"),
        explode(Similarity.nearestCells(col("__qv"), col("__cells"), nProbe)).as("__probe"))
      .select(col("query_id"), col("__qv"), col("__probe")("cell").as("__cell"))
    val probed = Materialize.once(q)
    graft.functions.Pq.rankTail(
      pruneCells(idx, probed).join(broadcast(probed), "__cell")
        .where(col("query_id") =!= col("neighbor_id"))
        .withColumn("adist",
          graft.functions.Sq.adcCol(col("__qv"), col("__codes"), mins, maxs))
        .where(col("adist").isNotNull),
      "adist", k, keepScore = true)
  }

  /** [[buildIvfPq]]'s hierarchical sibling: PQ codes laid out under the
    * IMI composite cell as TWO-LEVEL directory partitioning
    * (`__ca=<a>/__cb=<b>/`), so a probe prunes on both halves at
    * planning time. At 10⁹ vectors this is the index whose BUILD is also
    * sublinear in the cell count: assignment scores 2√c half-centroids
    * per vector ([[Similarity.imiTopK]]'s boundary argument), and the
    * on-disk asset stays m bytes per vector. `residual = true` stores
    * per-half-residual codes (the production accuracy dial at fixed m —
    * train `books` with Pq.trainResidualImi); the flag is persisted in
    * `_meta` so the probe builds its LUTs from the same residual.
    */
  def buildImiPq(corpus: DataFrame, idCol: String, vecCol: String, path: String,
      books: Array[Array[Array[Float]]], nPerHalf: Int = 8,
      codebooks: Option[(DataFrame, DataFrame)] = None,
      residual: Boolean = false): Unit = {
    val (bookA, bookB) = codebooks match {
      case Some((a, b)) =>
        (a.withColumnRenamed("__cells", "__cellsA"),
          b.withColumnRenamed("__cells", "__cellsB"))
      case None => Similarity.imiDefaultBooks(vectors(corpus, idCol, vecCol), nPerHalf)
    }
    buildEra(imiPqRows(corpus, idCol, vecCol, bookA, bookB, books, residual),
      path, Seq("__ca", "__cb"))
    writeImiPqMeta(corpus.sparkSession, path, bookA, bookB, books, residual)
  }

  /** Half-codebook + PQ-codebook sidecars for an IMI-PQ layout — the
    * [[writeIvfPqMeta]] sibling, written by [[buildImiPq]] or first by a
    * stream-first setup
    * ([[graft.streaming.GraftStreaming.indexStreamImiPq]] appends code rows
    * but never changes the quantizer). `bookA`/`bookB` must already carry
    * `__cellsA`/`__cellsB` columns ([[Similarity.imiDefaultBooks]]'s shape).
    */
  def writeImiPqMeta(spark: SparkSession, path: String, bookA: DataFrame,
      bookB: DataFrame, books: Array[Array[Array[Float]]],
      residual: Boolean = false): Unit = {
    bookA.write.mode("overwrite").parquet(path + "/_cellsA")
    bookB.write.mode("overwrite").parquet(path + "/_cellsB")
    writeCodebooks(spark, path, books)
    // one-row layout descriptor; absent (pre-r12 indexes) reads as
    // whole-vector codes
    import spark.implicits._
    Seq(residual).toDF("residual")
      .write.mode("overwrite").parquet(path + "/_meta")
  }

  /** Whether an IMI-PQ layout stores per-half-residual codes ([[buildImiPq]]
    * `residual = true`); indexes without a `_meta` sidecar predate the
    * flag and store whole-vector codes. Only a genuinely ABSENT sidecar
    * defaults to false — a present-but-unreadable `_meta` propagates its
    * error rather than silently probing a residual index with
    * whole-vector LUTs (which would return wrong neighbors with no
    * signal).
    */
  private[graft] def imiPqResidual(spark: SparkSession, path: String): Boolean = {
    val (fs, meta) = fsRoot(spark, path + "/_meta")
    if (!fs.exists(meta)) false
    else spark.read.parquet(meta.toString).head().getAs[Boolean]("residual")
  }

  /** ADC + exact-tail probe of a [[buildImiPq]] index. Pruning is the
    * RECTANGLE of probed half-cells (`__ca IN (…) AND __cb IN (…)` —
    * partition filters on both directory levels, ≤ nProbe² cells read
    * where the probed combos are ≤ nProbe); the exact combo selection
    * happens in the (ca, cb) equi-join, so results are identical to
    * [[graft.functions.Pq.imiTopKRefined]] with the same quantizer and
    * codebooks. `corpus` supplies raw vectors for the exact tail — the
    * index stores codes only.
    */
  def probeImiPqRefined(spark: SparkSession, path: String, queries: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      nProbe: Int = 4, refine: Int = 3): DataFrame = {
    require(refine >= 1, s"refine must be >= 1, got $refine")
    val idx = readEras(spark, path)
    val books = readCodebooks(spark, path)
    val ksub = books(0).length
    val bookA = broadcast(spark.read.parquet(path + "/_cellsA"))
    val bookB = broadcast(spark.read.parquet(path + "/_cellsB"))
    // residual layouts build the LUT from the query's PER-PROBE residual
    // (one LUT per probed composite cell — the same imiResidual the build
    // encoded with), so adist estimates the true residual distance
    val residual = imiPqResidual(spark, path)
    val qVec =
      if (residual) Similarity.imiResidual(col("__qv")) else col("__qv")
    val q = Similarity.imiProbed(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
        .join(bookA).join(bookB), col("__qv"), nProbe)
      .select(col("query_id"),
        graft.functions.Pq.lutCol(qVec, books).as("__lut"),
        col("__ca"), col("__cb"))
    val probed = Materialize.once(q)
    def pruneOn(c: String) = {
      val t = idx.schema(c).dataType
      val vs = probed.select(col(c)).distinct().collect().map(r => lit(r.get(0)).cast(t))
      col(c).isin(vs.toIndexedSeq: _*)
    }
    val pruned = idx.where(pruneOn("__ca") && pruneOn("__cb"))
    val shortlist = graft.functions.Pq.rankTail(
      pruned.join(broadcast(probed), Seq("__ca", "__cb"))
        .where(col("query_id") =!= col("neighbor_id"))
        .withColumn("adist", graft.functions.Pq.adcCol(col("__lut"), col("__codes"), ksub))
        .where(col("adist").isNotNull),
      "adist", k * refine, keepScore = false)
    graft.functions.Pq.refineExact(
      shortlist.select(col("query_id"), col("neighbor_id")),
      queries, corpus, idCol, vecCol, k)
  }

  /** Compact an IVF-PQ index: streamed eras (one `batch=<id>` directory
    * per microbatch) are the classic small-files decay — probe cost grows
    * with FILE count even when pruned bytes do not. Rewrites every code
    * row into one fresh negative era with one file per cell partition,
    * preserving the probe layout and the sidecars — [[probeIvfPq]]
    * results are identical pre/post (spec-gated).
    *
    * Operational contract: run with the ingest STOPPED after a clean
    * `processAllAvailable()`/`stop()` — a trailing batch whose sink write
    * committed but whose checkpoint offset did not would replay AFTER
    * compaction beside its compacted copy. Compacted eras count down
    * from the lowest existing era (`batch=-1` from a stream-only root,
    * `batch=-2` after a build or a first compaction, …), which never
    * collide with microbatch ids, so ingest resumes against the same
    * checkpoint and compaction itself is idempotent result-wise.
    *
    * Crash discipline (the catalog tables' stage-then-swap applied to a
    * directory layout): the rewrite lands COMPLETE in a sibling tmp dir
    * together with a `_COMPACTION_MANIFEST` naming the target era and the
    * EXACT source dirs folded in, atomically renames to an invisible
    * `.compact_staged` inside the root, and only then are the manifest's
    * source dirs deleted and the staged dir flipped to the target era in
    * one rename. The manifest is what makes every heal SAFE against
    * concurrent progress: an era written AFTER the staging rename (crash,
    * stream resumed — [[writeEra]] also heals before appending) is not in
    * the manifest and can never be deleted by the install, and the target
    * era name is fresh per compaction, so a racing second healer
    * replaying the same manifest can delete only already-deleted sources
    * — never the installed era. Every crash window is healed by the
    * recovery scan at the next compact/probe/ingest: staged present →
    * re-run the install from its manifest; only tmp present → the source
    * dirs are untouched, delete tmp and start over. No window leaves a
    * silently PARTIAL index: readers during the install see missing data
    * only if they race the stop-the-world maintenance op itself.
    */
  def compactIvfPq(spark: SparkSession, path: String): Unit =
    compactEras(spark, path, Seq("neighbor_id", "__codes"), Seq("__cell"))

  /** The IVF-SQ layout is column- and partition-identical to IVF-PQ
    * (`(neighbor_id, __codes)` under `__cell`; only the sidecars differ),
    * so era compaction is the SAME rewrite — aliased for API symmetry.
    */
  def compactIvfSq(spark: SparkSession, path: String): Unit =
    compactIvfPq(spark, path)

  /** [[compactIvfPq]] on the two-level IMI layout: one file per (ca, cb)
    * composite cell after the rewrite, sidecars untouched —
    * [[probeImiPqRefined]] results are identical pre/post (spec-gated).
    */
  def compactImiPq(spark: SparkSession, path: String): Unit =
    compactEras(spark, path, Seq("neighbor_id", "__codes"), Seq("__ca", "__cb"))

  /** [[compactIvfPq]] on the CDC chunk-fp catalog layout, PLUS a distinct —
    * the catalog is a fingerprint SET, and re-crawled boilerplate would
    * otherwise accumulate one copy per ingest batch forever. Distinct is
    * exact here because (fp, __b) is the entire row and __b derives from
    * fp.
    */
  def compactCdcCatalog(spark: SparkSession, path: String): Unit =
    compactEras(spark, path, Seq("fp"), Seq("__b"), dedup = true)

  /** The shared era-compaction body: rewrite every code row under the
    * given partition columns into a single fresh NEGATIVE era with one
    * file per partition directory, with the manifest/staged-swap crash
    * discipline documented on [[compactIvfPq]]. `dedup` collapses exact
    * duplicate rows across eras — only valid when the row IS the set
    * element (the CDC fp catalog), never for id-carrying code rows.
    */
  private def compactEras(spark: SparkSession, path: String,
      dataCols: Seq[String], partCols: Seq[String], dedup: Boolean = false): Unit = {
    val (fs, root) = fsRoot(spark, path)
    // refuse a file-sink-logged layout outright: spark.read would serve
    // only the logged files and the install would delete files the log
    // still references — log-unaware compaction corrupts such an index
    require(!fs.exists(new Path(root, "_spark_metadata")),
      s"$path carries a streaming file-sink log (_spark_metadata); " +
        "era compaction only supports the era layout (writeEra)")
    recoverCompaction(fs, root) // heal a crashed prior install first
    // everything partition discovery sees is data; sidecars are _-prefixed
    val dataDirs = fs.listStatus(root).filter(s => s.isDirectory &&
      !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
    if (dataDirs.isEmpty) return // nothing ingested yet
    val sources = dataDirs.map(_.getPath.getName).toSeq
    // fresh era per compaction: one below the lowest compacted era so the
    // install target can never appear in ANY manifest's source list
    val nextEra = sources.flatMap(eraId).filter(_ < 0L).minOption.getOrElse(0L) - 1L
    val all = spark.read.parquet(path)
      .select((dataCols ++ partCols).map(col): _*)
    val rows = if (dedup) all.distinct() else all
    val tmp = new Path(path + ".__compact_tmp")
    fs.delete(tmp, true)
    // one shuffle keyed by the partition columns → one file per partition
    // directory; the parquet commit protocol leaves _SUCCESS in tmp on
    // completion
    rows.repartition(partCols.map(col): _*)
      .write.mode("overwrite").partitionBy(partCols: _*).parquet(tmp.toString)
    writeManifest(fs, tmp, s"batch=$nextEra", sources)
    fs.delete(stagedPath(root), true)
    require(fs.rename(tmp, stagedPath(root)), s"staging rename failed: $tmp")
    installStaged(fs, root)
  }

  private def stagedPath(root: Path) = new Path(root, ".compact_staged")

  private val ManifestName = "_COMPACTION_MANIFEST"

  private def eraId(dirName: String): Option[Long] =
    if (dirName.startsWith("batch=")) dirName.stripPrefix("batch=").toLongOption else None

  /** First line: target era dir name; remaining lines: the source dirs
    * this compaction folded in. Underscore-prefixed, so invisible to
    * parquet readers; written into tmp BEFORE the staging rename, so a
    * staged dir always carries the manifest that describes it.
    */
  private def writeManifest(fs: FileSystem, dir: Path, target: String,
      sources: Seq[String]): Unit = {
    val out = fs.create(new Path(dir, ManifestName), true)
    try out.write((target +: sources).mkString("\n").getBytes("UTF-8")) finally out.close()
  }

  private def readManifest(fs: FileSystem, staged: Path): (String, Seq[String]) = {
    val in = fs.open(new Path(staged, ManifestName))
    val lines = try new String(in.readAllBytes(), "UTF-8").split("\n").toSeq finally in.close()
    (lines.head, lines.tail)
  }

  /** Install a complete staged compaction: delete ONLY the source dirs
    * recorded in the staged manifest (a dir ingested after the staging
    * rename is live data the snapshot does not contain — it must survive)
    * and flip the staged dir to the manifest's target era in one atomic
    * rename. The `_SUCCESS` marker and manifest ride along inside the era
    * dir; readers ignore `_` files.
    *
    * Two healers can race here (probes are reads; callers won't serialize
    * them): both replay the SAME manifest, so the loser's deletes hit
    * already-deleted sources (no-ops) and can never touch the winner's
    * installed era — the target name is fresh per compaction and by
    * construction absent from every source list. Losing the rename is
    * fine iff the winner installed the era; only a rename that failed
    * with neither dir in place is a real error.
    */
  private def installStaged(fs: FileSystem, root: Path): Unit = {
    val staged = stagedPath(root)
    val (target, sources) = readManifest(fs, staged)
    sources.foreach(n => fs.delete(new Path(root, n), true))
    val targetPath = new Path(root, target)
    if (!fs.rename(staged, targetPath))
      require(!fs.exists(staged) && fs.exists(targetPath),
        s"compaction flip failed under $root")
  }

  /** Heal a compaction killed mid-install: a staged dir bearing the
    * parquet `_SUCCESS` marker AND its manifest is a COMPLETE rewrite, so
    * finish the install; a staged dir missing either cannot exist (both
    * land in tmp before the staging rename) but is deleted defensively —
    * the source dirs are untouched until the staged rename succeeds.
    * Run by every era write and read, so a resumed stream converges a
    * crashed install instead of appending beside it forever.
    */
  private def recoverCompaction(fs: FileSystem, root: Path): Unit = {
    val staged = stagedPath(root)
    if (fs.exists(staged)) {
      if (fs.exists(new Path(staged, "_SUCCESS")) && fs.exists(new Path(staged, ManifestName)))
        installStaged(fs, root)
      else fs.delete(staged, true)
    }
  }

  /** Restrict an index scan to the probed cells as LITERAL partition
    * filters. The probed cell ids are collected to the driver (bounded by
    * the cell count — the faiss pattern: the coarse index lives with the
    * query planner) and cast to the SCAN's partition-column type: the
    * read-back `__cell` directory column is type-INFERRED (IntegerType
    * for small ids) while the probe side computes LongType, and an
    * uncast `isin` would wrap the partition column in a cast instead of
    * planning a plain `__cell IN (...)`.
    */
  private def pruneCells(idx: DataFrame, probed: DataFrame): DataFrame = {
    val cellType = idx.schema("__cell").dataType
    val cells = probed.select(col("__cell")).distinct().collect()
      .map(r => lit(r.get(0)).cast(cellType))
    idx.where(col("__cell").isin(cells.toIndexedSeq: _*))
  }

  // ---- MinHash: bucketed band + signature tables ----

  /** (doc, band-hash array, full signature) per document — signed once
    * under `family`; band rows and the sig table both derive from this.
    */
  private def signed(df: DataFrame, idCol: String, textCol: String,
      shingle: Int, numHashes: Int, bands: Int, family: HashFamily): DataFrame =
    // spread before signing (Dedup.spread: conditional — only when the
    // file layout is narrower than the session)
    Dedup.spread(df)
      .select(col(idCol).as("__id"), family.minhashSig(col(textCol), shingle, numHashes).as("__sig"))
      .withColumn("__bh", family.bandHashes(col("__sig"), bands, numHashes / bands))

  /** One row per (doc, band), keyed by `__bb` — the 64-bit hash of
    * (band index, band hash), one column so the table can bucket on it.
    * The band-hash array rides along for the exact-once
    * first-agreeing-band filter at probe time.
    */
  private def bandedRows(s: DataFrame): DataFrame =
    s.select(col("__id"), col("__bh"), posexplode(col("__bh")))
      .select(col("__id"), col("__bh"), xxhash64(col("pos"), col("col")).as("__bb"))

  /** Sign + band the corpus ONCE and persist two bucketed tables
    * (session catalog, like [[graft.sources.GraftIO.storeBucketedTable]]):
    * `tableName` — band rows bucketed+sorted by `__bb` (candidate
    * generation), and `tableName_sigs` — (id, signature) bucketed+sorted
    * by `__id` (verification). Signature parameters and the hash family
    * are baked into the layout; [[probeMinhash]] must be called with the
    * same values. Under [[HashFamily.Fixture]] a DuckDB oracle gates the
    * persistent-index probe path end to end (q_dedup_minhash_indexed_fixed).
    */
  def buildMinhash(df: DataFrame, idCol: String, textCol: String, tableName: String,
      shingle: Int = 3, numHashes: Int = 64, bands: Int = 16, buckets: Int = 32,
      family: HashFamily = HashFamily.Xxhash): Unit = {
    requireBands(numHashes, bands)
    val s = Materialize.once(signed(df, idCol, textCol, shingle, numHashes, bands, family))
    persistPair(bandedRows(s), "__bb", s.select(col("__id"), col("__sig")), "__id",
      tableName, "_sigs", buckets)
  }

  /** Same contract as Dedup.minhashNearDuplicates: a non-dividing band
    * count would silently leave `numHashes % bands` signature positions
    * outside every band (weaker candidate recall than the batch twin).
    */
  private def requireBands(numHashes: Int, bands: Int): Unit =
    require(bands > 0 && numHashes % bands == 0,
      s"numHashes ($numHashes) must divide into bands ($bands)")

  /** Commit a PAIR of tables that must stay coherent — `tableName` and its
    * sidecar `tableName + suffix` (the minhash index's `_sigs`, the LM
    * catalog's `_bi`): both stage completely first, then two metadata
    * swaps commit — the torn window shrinks from two distributed writes
    * to two catalog renames, and [[recoverPair]] rolls the second swap
    * forward whenever the first committed (staging(primary) consumed ⇒
    * the new pair is the durable state).
    */
  private def persistPair(primary: DataFrame, primaryKey: String,
      sidecar: DataFrame, sidecarKey: String,
      tableName: String, suffix: String, buckets: Int): Unit = {
    val spark = primary.sparkSession
    recoverPair(spark, tableName, suffix) // converge any torn predecessor first
    replaceTable(primary, stagingName(tableName), primaryKey, buckets)
    replaceTable(sidecar, stagingName(tableName + suffix), sidecarKey, buckets)
    swapStaging(spark, tableName)
    swapStaging(spark, tableName + suffix)
  }

  /** Heal every crash window of [[persistPair]]'s two-table commit:
    * per-table drop/rename windows first, then pair coherence — the
    * sidecar staging surviving AFTER the primary staging was consumed can
    * only mean the crash hit between the two swaps, so finish the
    * second. Both stagings still present = crash before either swap: the
    * OLD pair is the durable state, stagings are dead weight the next
    * build overwrites. Called from the probes, the loads and the next
    * build.
    */
  private def recoverPair(spark: SparkSession, tableName: String, suffix: String): Unit = {
    recoverSwap(spark, tableName)
    recoverSwap(spark, tableName + suffix)
    if (!spark.catalog.tableExists(stagingName(tableName)) &&
        spark.catalog.tableExists(stagingName(tableName + suffix)) &&
        spark.catalog.tableExists(tableName))
      swapStaging(spark, tableName + suffix)
  }

  /** `mode(overwrite).saveAsTable` replaces a table the CATALOG knows, but
    * a managed table's warehouse directory can outlive its catalog entry
    * (a previous session's in-memory catalog is gone, the files are not)
    * and then CREATE fails with LOCATION_ALREADY_EXISTS — so drop the
    * entry AND delete an orphaned location before writing.
    */
  private def replaceTable(df: DataFrame, tableName: String,
      bucketCol: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$tableName`")
    val loc = tableLocation(spark, tableName)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .format("parquet").saveAsTable(tableName)
  }

  /** Near-duplicate pairs between `delta` (new documents) and a
    * [[buildMinhash]] index: (idA = delta id, idB = indexed id,
    * est_jaccard) — the incremental-ingest dedup shape, with semantics
    * IDENTICAL to [[Dedup.minhashNearDuplicates]] (same band collision
    * rule, same full-signature agreement estimate, same threshold).
    *
    * Scale shape: the delta is signed and banded in-flight and shuffled
    * INTO the tables' bucketing; the indexed corpus — the 100 TB side —
    * is read pre-bucketed (no Exchange) and never re-signed. A pair
    * colliding in several bands is kept only at its FIRST agreeing band
    * (map-side, both sides carry the band-hash array), and the
    * verification join probes `tableName_sigs` bucket-aligned, so every
    * shuffle in the probe is delta-sized.
    *
    * Delta-internal duplicates are NOT found here — run the batch
    * operator over the delta for those; a full ingest is the union of
    * both (plus [[Dedup.connectedComponents]] if clusters are needed).
    * The delta is signed under `family`, which must be the family the
    * index was built with.
    */
  def probeMinhash(spark: SparkSession, tableName: String, delta: DataFrame,
      idCol: String, textCol: String,
      shingle: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.7, family: HashFamily = HashFamily.Xxhash): DataFrame = {
    requireBands(numHashes, bands)
    val s = Materialize.once(signed(delta, idCol, textCol, shingle, numHashes, bands, family))
    // a crashed build swap leaves a torn bands/sigs pair — converge it
    // before reading either table (the compactIvfPq heal-on-probe rule)
    recoverPair(spark, tableName, "_sigs")
    val d = bandedRows(s)
      .select(col("__bb"), col("__id").as("idA"), col("__bh").as("__bhA"))
    val idx = spark.table(tableName)
      .select(col("__bb"), col("__id").as("idB"), col("__bh").as("__bhB"))
    // exact-once: keep the copy whose band is the FIRST band where the two
    // band-hash arrays agree (the band that produced this row is the one
    // whose (pos, hash) pair hashed to __bb). `get` (0-based, null-safe)
    // instead of element_at: firstAgree = 0 (no agreeing band — possible
    // only on an xxhash64 collision between different (band, hash) pairs)
    // must drop the row, not throw on index 0.
    // codegen'd first-agree kernel (r16) — value-identical to the
    // array_position∘zip_with composition it replaces (see
    // Dedup.minhashPairsFromSigs; the HOF form is CodegenFallback and
    // ran interpreted per collision row)
    val firstAgree =
      graft.functions.HashExpressions.firstAgreePos(col("__bhA"), col("__bhB"))
    val pairs = d.join(idx, "__bb")
      .where(col("__bb") === xxhash64(firstAgree.cast("int") - 1,
        get(col("__bhA"), firstAgree.cast("int") - 1)))
      .select(col("idA"), col("idB"))
    KeepRows.matching(pairs
        .join(s.select(col("__id").as("idA"), col("__sig").as("__sigA")), "idA")
        .join(spark.table(tableName + "_sigs")
          .select(col("__id").as("idB"), col("__sig").as("__sigB")), "idB"),
        "est_jaccard",
        graft.functions.HashExpressions.signatureAgreement(col("__sigA"), col("__sigB")),
        _ >= threshold)
      .select(col("idA"), col("idB"), col("est_jaccard"))
  }

  // ---- exact dedup: persistent fingerprint catalog ----

  /** The exact-dedup catalog ([[Dedup.exact]] semantics): one row per
    * distinct canonical-text fingerprint with its winning (minimum) id and
    * duplicate count. Min winner and summed counts are associative, so
    * ingest order cannot change the table.
    */
  private[graft] def fingerprintCatalog(idCol: String, textCol: String): Catalog =
    Catalog("__fp",
      _.select(col(idCol).as("__id"),
          graft.functions.TextFunctions.fingerprint(col(textCol)).as("__fp"))
        .groupBy("__fp")
        .agg(min(col("__id")).as("__id"), count(lit(1)).as("__n")),
      Seq(min(col("__id")).as("__id"), sum(col("__n")).as("__n")))

  /** Persist the corpus's exact-dedup state as a bucketed+sorted catalog
    * table keyed by the fingerprint. The exact-dedup member of the
    * persistent-index family: screening NEW data against an indexed
    * 100 TB corpus becomes a delta-sized bucket-aligned join instead of a
    * corpus re-scan, and [[updateFingerprint]] folds deltas in.
    */
  def buildFingerprint(df: DataFrame, idCol: String, textCol: String,
      tableName: String, buckets: Int = 32): Unit =
    mergeCatalog(df.sparkSession, tableName, fingerprintCatalog(idCol, textCol),
      df, buckets, onto = false)

  /** Screen a delta against a [[buildFingerprint]] index: one row per
    * delta document with `dup_of` = the corpus winner id when its
    * canonical text is already indexed, null when the document is new —
    * the incremental-ingest twin of [[Dedup.exact]]. The delta is
    * fingerprinted in-flight and shuffled INTO the table's bucketing; the
    * indexed corpus is read pre-bucketed (no Exchange) and never
    * re-fingerprinted, so every shuffle in the probe is delta-sized.
    */
  def probeFingerprint(spark: SparkSession, tableName: String, delta: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    recoverSwap(spark, tableName) // heal a crashed staged swap
    delta.select(col(idCol),
        graft.functions.TextFunctions.fingerprint(col(textCol)).as("__fp"))
      .join(spark.table(tableName).select(col("__fp"), col("__id").as("dup_of")),
        Seq("__fp"), "left")
      .select(col(idCol), col("dup_of"))
  }

  /** Fold a delta INTO a [[buildFingerprint]] index by the staged merge
    * (header: Lifecycle). The table side arrives pre-bucketed; only the
    * delta and the merged aggregate shuffle.
    */
  def updateFingerprint(spark: SparkSession, tableName: String, delta: DataFrame,
      idCol: String, textCol: String, buckets: Int = 32): Unit = {
    recoverSwap(spark, tableName)
    mergeCatalog(spark, tableName, fingerprintCatalog(idCol, textCol), delta,
      buckets, onto = true)
  }

  // ---- persistent n-gram LM catalog ---------------------------------
  // A PAIR of bucketed count tables (tableName = unigrams (word, c),
  // tableName_bi = bigrams (w1, w2, c)) holding RAW counts: minCount is
  // applied at loadLm time (LanguageModel.fromRaw), never at count time,
  // so updates merge by plain count addition (associative — ingest order
  // cannot change the model) and words can cross the vocabulary
  // threshold as deltas arrive. Committed and healed as a pair with the
  // `_bi` sidecar (persistPair / recoverPair, the minhash index's
  // protocol).

  /** Persist a reference corpus's LM counts as a coherent two-table
    * catalog. Word-bucketed so [[updateLm]]'s merge re-aggregation and
    * [[loadLm]]'s vocabulary semi-joins read pre-bucketed.
    */
  def buildLm(ref: DataFrame, idCol: String, textCol: String,
      tableName: String, buckets: Int = 32): Unit = {
    val (uni, bi) = graft.operators.LanguageModel.rawCounts(ref, idCol, textCol)
    persistPair(uni, "word", bi, "w1", tableName, "_bi", buckets)
  }

  /** Fold a delta corpus into the LM catalog: counts add (associative).
    * The table sides arrive pre-bucketed; only the delta counts and the
    * merged aggregates shuffle. Both merged tables stage completely
    * before either swap — a crash anywhere leaves a state
    * [[recoverPair]] converges.
    */
  def updateLm(spark: SparkSession, tableName: String, delta: DataFrame,
      idCol: String, textCol: String, buckets: Int = 32): Unit = {
    recoverPair(spark, tableName, "_bi")
    val (du, db) = graft.operators.LanguageModel.rawCounts(delta, idCol, textCol)
    persistPair(
      spark.table(tableName).unionByName(du)
        .groupBy("word").agg(sum(col("c")).as("c")), "word",
      spark.table(tableName + "_bi").unionByName(db)
        .groupBy("w1", "w2").agg(sum(col("c")).as("c")), "w1",
      tableName, "_bi", buckets)
  }

  /** Assemble a scoring model from the catalog under a `minCount`
    * vocabulary cut (heals any torn predecessor first). The result feeds
    * [[graft.operators.LanguageModel.scoreDocs]] directly, or
    * [[graft.operators.LanguageModel.distill]] for the map-side/streaming
    * scorer.
    */
  def loadLm(spark: SparkSession, tableName: String,
      minCount: Long = 1L): graft.operators.LanguageModel.NgramLm = {
    recoverPair(spark, tableName, "_bi")
    graft.operators.LanguageModel.fromRaw(
      spark.table(tableName), spark.table(tableName + "_bi"), minCount)
  }

  // ---- catalog tables: one staged merge (header: Lifecycle) ----

  /** A catalog table as the staged merge sees it: `partial` turns a delta
    * into rows keyed by `key`, and `merge` re-aggregates any union of such
    * rows grouped by `key`. The merge must be associative, so a table
    * grown by deltas equals one built from their union.
    */
  private[graft] final case class Catalog(key: String,
      partial: DataFrame => DataFrame, merge: Seq[Column])

  /** The first half of the staged merge: `merge(live ∪ partial(delta))`
    * when `onto`, else `partial(delta)` alone (a build), lands complete
    * under the staging name, then `mark` runs with the staging table's
    * directory. `onto` reads the live table, so a missing one fails here
    * (TABLE_OR_VIEW_NOT_FOUND) before anything is staged. Package-visible
    * so the crash-window specs can stop before the swap.
    */
  private[graft] def stageMerge(spark: SparkSession, tableName: String,
      catalog: Catalog, delta: DataFrame, buckets: Int, onto: Boolean,
      mark: Path => Unit = _ => ()): Unit = {
    val partial = catalog.partial(delta)
    val rows = if (!onto) partial else spark.table(tableName).unionByName(partial)
      .groupBy(catalog.key).agg(catalog.merge.head, catalog.merge.tail: _*)
    val staging = stagingName(tableName)
    replaceTable(rows, staging, catalog.key, buckets)
    mark(tableLocation(spark, staging))
  }

  /** The one staged merge of every catalog build, update and ingest:
    * stage, mark, swap. NOT drop-then-rewrite: a crash inside a drop-first
    * replace would lose the ACCUMULATED catalog. A build (`onto = false`)
    * replaces the table; an update or ingest heals a torn swap
    * ([[recoverSwap]]) before it calls this.
    */
  private def mergeCatalog(spark: SparkSession, tableName: String, catalog: Catalog,
      delta: DataFrame, buckets: Int, onto: Boolean,
      mark: Path => Unit = _ => ()): Unit = {
    stageMerge(spark, tableName, catalog, delta, buckets, onto, mark)
    swapStaging(spark, tableName)
  }

  /** One microbatch of a catalog stream
    * ([[graft.streaming.GraftStreaming.indexStreamFingerprint]],
    * [[graft.streaming.GraftStreaming.indexStreamGramDf]]) — package-visible
    * so the replay specs can drive it with explicit batch ids. Batch ids
    * at or below the stream's mark are skipped. Otherwise the staged
    * merge stamps the mark INSIDE the staged directory, so the swap
    * publishes (state, mark) in one rename: a replay after any crash
    * either sees the old state without the mark (re-applies, the correct
    * fold) or the new state with it (skips) — exactly-once counts. The
    * mark is scoped to (table, CHECKPOINT): batch ids restart at 0 under
    * a fresh checkpoint, so a per-table mark would silently discard the
    * first batches of a new stream appending to an existing table.
    */
  private[graft] def ingestCatalogBatch(batch: DataFrame, catalog: Catalog,
      tableName: String, buckets: Int, batchId: Long, checkpoint: String): Unit = {
    val spark = batch.sparkSession
    val live = recoverSwap(spark, tableName)
    if (batchId > (if (live) readBatchMark(spark, tableName, checkpoint) else -1L))
      mergeCatalog(spark, tableName, catalog, batch, buckets, onto = live, staged => {
        // other checkpoints' marks must survive the swap
        if (live) copyMarks(spark, tableName, staged)
        writeMarkInto(spark, staged, checkpoint, batchId)
      })
  }

  private val MarkPrefix = "_INGEST_MARK_"

  /** Checkpoint-identity tag for a mark sidecar file name: scope by the
    * checkpoint's query uuid, not just its path string — Spark stamps a
    * fresh uuid into <checkpoint>/metadata whenever the dir is
    * (re)created, so "operator wiped the checkpoint in place and
    * restarted" (same path, batch ids back at 0) gets a NEW tag and
    * starts from mark -1 instead of inheriting the old stream's mark and
    * silently discarding its first batches. The path string stays in the
    * digest for distinct checkpoints that carry no metadata (directly
    * driven batches in specs).
    */
  private def markTag(spark: SparkSession, checkpoint: String): String = {
    val queryId = scala.util.Try {
      val p = new Path(checkpoint, "metadata")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) "" else {
        val in = fs.open(p)
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      }
    }.getOrElse("")
    java.security.MessageDigest.getInstance("MD5")
      .digest((checkpoint + " " + queryId).getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
  }

  /** The mark sidecar lives INSIDE the table's data directory
    * (underscore-prefixed — parquet readers skip it): it dies with the
    * table and MOVES with the staging-swap rename, which is what makes
    * (state, mark) one atomic publication.
    */
  private def markPath(spark: SparkSession, tableName: String, checkpoint: String): Path =
    new Path(tableLocation(spark, tableName), MarkPrefix + markTag(spark, checkpoint))

  private def writeMarkInto(spark: SparkSession, dir: Path, checkpoint: String,
      batchId: Long): Unit = {
    val p = new Path(dir, MarkPrefix + markTag(spark, checkpoint))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(s"$batchId\n".getBytes("UTF-8")) finally out.close()
  }

  /** Copy every checkpoint's mark sidecar from the live table dir into
    * the staging dir, so OTHER streams' progress survives this stream's
    * swap (each stream only ever overwrites its own tag).
    */
  private def copyMarks(spark: SparkSession, tableName: String, stagingDir: Path): Unit = {
    val live = tableLocation(spark, tableName)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(new Path(live, MarkPrefix + "*"))).getOrElse(Array.empty).foreach { st =>
      val in = fs.open(st.getPath)
      val bytes = try in.readAllBytes() finally in.close()
      val out = fs.create(new Path(stagingDir, st.getPath.getName), true)
      try out.write(bytes) finally out.close()
    }
  }

  /** Unreadable/empty/garbage marks degrade to -1 (one batch re-applies
    * against the PRE-swap state it describes — safe, because the mark
    * and the state publish atomically), never a crash loop: a
    * crash between `fs.create`'s truncate and the write leaves a 0-byte
    * file in exactly the window this scheme exists to tolerate.
    */
  private def readBatchMark(spark: SparkSession, tableName: String, checkpoint: String): Long = {
    val p = markPath(spark, tableName, checkpoint)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) -1L
    else scala.util.Try {
      val in = fs.open(p)
      try new java.io.BufferedReader(new java.io.InputStreamReader(in)).readLine().trim.toLong
      finally in.close()
    }.getOrElse(-1L)
  }

  /** Second half: drop the old table and rename the staging table in. A
    * crash between the two leaves the complete staging table (sidecars
    * included) for [[recoverSwap]].
    */
  private[graft] def swapStaging(spark: SparkSession, tableName: String): Unit = {
    val staging = stagingName(tableName)
    spark.sql(s"DROP TABLE IF EXISTS `$tableName`")
    // a managed dir can outlive its catalog entry (previous session's
    // in-memory catalog is gone, the files are not — the replaceTable
    // defense): the rename would fail LOCATION_ALREADY_EXISTS. Deleting
    // here is safe: the complete staged table is the durable state, and a
    // crash before the rename is exactly recoverSwap's window.
    val loc = tableLocation(spark, tableName)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!spark.catalog.tableExists(tableName) && fs.exists(loc)) fs.delete(loc, true)
    spark.sql(s"ALTER TABLE `$staging` RENAME TO `$tableName`")
  }

  /** Managed-table data directory (the same warehouse/name resolution
    * [[replaceTable]] cleans) — where in-table sidecar files (underscore-
    * prefixed, invisible to parquet readers) live and MOVE with the
    * table on rename.
    */
  private[graft] def tableLocation(spark: SparkSession, tableName: String): Path =
    new Path(new Path(spark.conf.get("spark.sql.warehouse.dir")), tableName)

  private[graft] def stagingName(tableName: String): String = tableName + "__staging"

  /** Recover from a crash between [[swapStaging]]'s drop and rename: if
    * the live table is gone but a complete staging table exists, rename
    * it in. Returns true when the table exists afterwards.
    */
  private[graft] def recoverSwap(spark: SparkSession, tableName: String): Boolean = {
    val exists = spark.catalog.tableExists(tableName)
    val staged = spark.catalog.tableExists(stagingName(tableName))
    if (!exists && staged) {
      spark.sql(s"ALTER TABLE `${stagingName(tableName)}` RENAME TO `$tableName`")
      true
    } else exists
  }

  // ---- substring dedup: persistent duplicated-gram index ----

  /** Persist the duplicated-gram set of [[Dedup.duplicateSpans]] (k-gram
    * hashes with corpus count ≥ 2) as a bucketed+sorted catalog table —
    * the reusable half of substring-level dedup: re-marking spans on the
    * same corpus, or screening NEW data against an old corpus's repeated
    * spans, skips the count pass entirely and the bucketed index side of
    * the probe join reads shuffle-free.
    */
  def buildGramIndex(df: DataFrame, idCol: String, textCol: String,
      tableName: String, k: Int = 3, buckets: Int = 32): Unit = {
    val grams = Dedup.gramPositions(df, idCol, textCol, k)
    val dup = grams.groupBy("__gh").agg(count(lit(1)).as("__c"))
      .where(col("__c") >= 2).select("__gh")
    // staged, so a crash during the write leaves the old index live
    replaceTable(dup, stagingName(tableName), "__gh", buckets)
    swapStaging(df.sparkSession, tableName)
  }

  /** [[Dedup.duplicateSpans]] through a [[buildGramIndex]] table: gram the
    * probe corpus, left-semi join the bucketed index (index side scans
    * its buckets without an Exchange), islands-merge as in the in-flight
    * op. Same k as the build; identical output when probing the corpus
    * the index was built from.
    */
  def probeSpans(spark: SparkSession, tableName: String, df: DataFrame,
      idCol: String, textCol: String, k: Int = 3, minSpan: Int = 5): DataFrame = {
    recoverSwap(spark, tableName) // heal a crashed staged-build swap
    val grams = Dedup.gramPositions(df, idCol, textCol, k)
    val dupPos = grams.join(spark.table(tableName), Seq("__gh"), "left_semi")
    Dedup.spansFromDupPositions(dupPos, idCol, k, minSpan)
  }

  // ---- cross-corpus SoftDeDup: persistent gram-df catalog ----

  /** The gram-df catalog: [[Dedup.refGramCounts]] — (__sh, __df)
    * reference gram document frequencies. Frequencies ADD across disjoint
    * corpora (each doc contributes its distinct grams once), so the merge
    * is an associative count sum.
    */
  private[graft] def gramDfCatalog(textCol: String, shingle: Int): Catalog =
    Catalog("__sh", Dedup.refGramCounts(_, textCol, shingle),
      Seq(sum(col("__df")).as("__df")))

  /** Persist the gram-df catalog as a bucketed+sorted catalog table: the
    * reusable half of [[Dedup.softWeightsAgainst]]. Bucketed on __sh, so
    * the index side of every probe join reads its buckets without an
    * Exchange (the [[buildGramIndex]] discipline).
    */
  def buildGramDf(ref: DataFrame, textCol: String,
      tableName: String, shingle: Int = 2, buckets: Int = 32): Unit =
    mergeCatalog(ref.sparkSession, tableName, gramDfCatalog(textCol, shingle),
      ref, buckets, onto = false)

  /** Fold a delta corpus into the gram-df catalog by the staged merge
    * (header: Lifecycle) — era append, never a rebuild.
    */
  def updateGramDf(spark: SparkSession, tableName: String, delta: DataFrame,
      textCol: String, shingle: Int = 2, buckets: Int = 32): Unit = {
    recoverSwap(spark, tableName)
    mergeCatalog(spark, tableName, gramDfCatalog(textCol, shingle), delta,
      buckets, onto = true)
  }

  /** The catalog as a counts relation for
    * [[Dedup.softWeightsAgainstCounts]] / [[Dedup.distillGramDf]];
    * heals a torn swap first.
    */
  def loadGramDf(spark: SparkSession, tableName: String): DataFrame = {
    recoverSwap(spark, tableName)
    spark.table(tableName)
  }
}
