package graft.operators

import graft.functions.CdcChunks
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Content-defined chunking as corpus operators (FastCDC-style gear
  * hash — [[graft.functions.CdcRuntime]] for the kernel and the
  * determinism contract). Positioning vs the existing chunk/dedup
  * machinery: [[Dedup.paragraphDedup]] needs structural separators
  * (\n\n) and [[Dedup.duplicateSpans]] tokenizes; CDC needs NEITHER —
  * boundaries come from the bytes themselves, so a one-byte edit near
  * the head of a re-crawled page perturbs only the chunks it touches
  * and every later boundary re-synchronizes. That makes the chunk
  * fingerprint index SHIFT-ROBUST: the standard backup-dedup property,
  * applied to crawl snapshots where fixed windows lose every downstream
  * match.
  *
  * 100 TB shape: chunking is a map-side kernel (zero shuffles);
  * the index is one explode; pair mining rides the same
  * [[PairBudget]]-guarded inverted-index self-join as
  * [[Winnow.pairs]]. The md5 fingerprint is the oracle-replayable
  * lane; swapping xxhash64 halves index bytes at scale (one function).
  */
object Cdc {

  /** (id, pos, len, fp): the content-defined chunks of each document.
    * `pos` is the 1-based byte offset, `fp` the md5 hex of the chunk
    * bytes.
    */
  def chunkIndex(df: DataFrame, idCol: String, textCol: String,
      minSize: Int = 32, avgBits: Int = 6, maxSize: Int = 256): DataFrame =
    df.select(col(idCol),
        explode(CdcChunks.chunksCol(col(textCol), minSize, avgBits, maxSize)).as("__c"))
      .select(col(idCol), col("__c.pos").as("pos"), col("__c.len").as("len"),
        col("__c.fp").as("fp"))

  /** Chunk fingerprint catalog of a reference corpus: the distinct
    * content-defined chunk fps (the against-catalog side of
    * [[dedupAgainst]] — build once from previous crawls / benchmark
    * pools, reuse across ingests).
    */
  def chunkCatalog(df: DataFrame, textCol: String,
      minSize: Int = 32, avgBits: Int = 6, maxSize: Int = 256): DataFrame =
    df.select(explode(CdcChunks.chunksCol(col(textCol), minSize, avgBits, maxSize))
        .as("__c"))
      .select(col("__c.fp").as("fp")).distinct()

  /** Chunk-level decontamination against a catalog: drop every chunk
    * whose fingerprint appears in `catalog`, reassemble the survivors in
    * byte order — the Lee et al. 2022 substring-removal contract at
    * content-defined granularity, SHIFT-ROBUST where the token-gram span
    * machinery needs exact token alignment. Documents whose every chunk
    * is cataloged drop wholesale (all-boilerplate pages).
    *
    * Scale shape: chunking is map-side; the anti-join is one shuffle on
    * the fp (or a broadcast when the catalog is small); reassembly
    * aggregates per document, bounded by document size — the
    * [[Dedup.paragraphDedupAgainst]] plan with CDC boundaries.
    *
    * Empty (or null) documents chunk to nothing, which is NOT the same
    * as being fully cataloged — they survive with `clean_text = ''`
    * (one extra map-side filter union, zero shuffles), while
    * all-cataloged documents still drop wholesale.
    */
  def dedupAgainst(df: DataFrame, idCol: String, textCol: String,
      catalog: DataFrame,
      minSize: Int = 32, avgBits: Int = 6, maxSize: Int = 256): DataFrame = {
    val pieces = df.select(col(idCol),
        explode(CdcChunks.chunksCol(col(textCol), minSize, avgBits, maxSize)).as("__c"))
      .select(col(idCol), col("__c.pos").as("__pos"), col("__c.fp").as("fp"),
        col("__c.piece").as("__piece"))
    val reassembled = pieces.join(catalog.select(col("fp")), Seq("fp"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(transform(array_sort(collect_list(struct(col("__pos"), col("__piece")))),
        s => s("__piece")), "").as("clean_text"))
    val empties = df.where(coalesce(length(col(textCol)), lit(0)) === 0)
      .select(col(idCol), lit("").as("clean_text"))
    reassembled.unionByName(empties)
  }

  // ---- persistent chunk-fp catalog: an era layout under the
  // [[AnnIndex]] lifecycle, so a rolling crawl can GROW the against-side
  // of [[dedupAgainst]] / [[contaminationBloom]] without batch rebuilds;
  // [[AnnIndex.compactCdcCatalog]] folds eras with an exact cross-era
  // distinct (the catalog is a SET).

  /** Bucket id for a persistent catalog row. Derived from the fp itself,
    * so (fp, __b) is a pure function of chunk content — what makes the
    * compaction-time cross-era `distinct` exact and keeps one fp's rows
    * in one partition directory (a reader filtering a known fp prunes to
    * a single bucket).
    */
  private[graft] def catalogBucket(fp: org.apache.spark.sql.Column, buckets: Int) =
    pmod(xxhash64(fp), lit(buckets.toLong)).cast("int")

  /** The catalog layout's encoder: the rows ONE ingest contributes (batch
    * build or one microbatch) — the ingest corpus' distinct chunk fps,
    * bucketed. Deterministic for a fixed input, so a replayed era rewrite
    * is exactly-once.
    */
  private[graft] def catalogRows(df: DataFrame, textCol: String, buckets: Int,
      minSize: Int, avgBits: Int, maxSize: Int): DataFrame =
    chunkCatalog(df, textCol, minSize, avgBits, maxSize)
      .withColumn("__b", catalogBucket(col("fp"), buckets))

  /** Build the persistent chunk-fp catalog at `path` from a batch corpus:
    * fp rows partitioned by `__b` as the build era of the [[AnnIndex]]
    * lifecycle, which [[graft.streaming.GraftStreaming.indexStreamCdc]]
    * appends to. One shuffle (the distinct), one file per bucket
    * directory.
    */
  def buildCatalogIndex(corpus: DataFrame, textCol: String, path: String,
      buckets: Int = 32, minSize: Int = 32, avgBits: Int = 6, maxSize: Int = 256): Unit =
    AnnIndex.buildEra(catalogRows(corpus, textCol, buckets, minSize, avgBits, maxSize)
      .repartition(col("__b")), path, Seq("__b"))

  /** Read a persistent catalog back as the `fp` relation [[dedupAgainst]]
    * and [[contaminationBloom]] consume, through the healing era read.
    * Cross-era duplicate fps may exist until the next
    * [[AnnIndex.compactCdcCatalog]]; both consumers are set-semantic
    * (anti-join / bloom bits), so duplicates cost bytes, never
    * correctness.
    */
  def readCatalog(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    AnnIndex.readEras(spark, path).select(col("fp"))

  /** Distill a chunk-fp catalog to a bounded, sorted driver array for the
    * plan-literal stateless streaming gate
    * ([[graft.streaming.GraftStreaming.cdcDedupAgainstStream]]) — the
    * [[Dedup.distillParagraphCatalog]] driver-state discipline: the
    * collect is guarded by `maxEntries` (refuse loudly, never a silent
    * OOM); a catalog too large to distill belongs in the join form
    * ([[dedupAgainst]]) run as compaction, or the bloom gate
    * ([[contaminationBloomColumn]] — bounded at any catalog size).
    */
  def distillCatalog(catalog: DataFrame, maxEntries: Int = 500000): Array[String] =
    Materialize.collectUpTo(catalog.select(col("fp")).distinct(), maxEntries).getOrElse(
      throw new IllegalArgumentException(
        s"chunk-fp catalog too large to distill: more than $maxEntries entries — " +
          "use the join-based dedupAgainst (as compaction) or the bloom gate"))
      .map(_.getString(0)).sorted

  // ---- Bloom-gated chunk contamination: the [[Winnow]] bloom-lane
  // discipline over content-defined chunks — the catalog distills to an
  // mBits-bounded in-plan bitmap, scoring is a pure zero-shuffle
  // projection, so the gate is stateless and append-safe in streams
  // ([[graft.streaming.GraftStreaming]] cdcDecontaminateStream).

  /** Distinct 64-bit chunk fingerprints per document (xxhash64 over the
    * md5 hex — one map-side kernel chain, the filter's key domain); an
    * empty array for a null document.
    */
  private[graft] def chunkFpsWide(text: org.apache.spark.sql.Column,
      minSize: Int, avgBits: Int, maxSize: Int): org.apache.spark.sql.Column =
    coalesce(array_distinct(transform(
      CdcChunks.chunksCol(text, minSize, avgBits, maxSize),
      c => xxhash64(c.getField("fp")))), array())

  /** Build the catalog filter — driver state bounded by mBits/64 longs
    * regardless of catalog size.
    */
  def buildFilter(catalog: DataFrame, textCol: String,
      minSize: Int = 32, avgBits: Int = 6, maxSize: Int = 256,
      mBits: Int = 1 << 20, k: Int = 3): Array[Long] =
    Bloom.buildBitsFromHashes(catalog,
      chunkFpsWide(col(textCol), minSize, avgBits, maxSize),
      HashFamily.Xxhash.bloomPositions(_, mBits, k), mBits)

  /** Stateless scoring column against a pre-built filter: the fraction
    * of the document's distinct chunk fingerprints present in the
    * catalog bitmap ([[Bloom.containment]]). Empty and null documents
    * chunk to nothing and score 0.0: an empty document is trivially
    * uncontaminated, so the streaming gate keeps it at any threshold.
    */
  def contaminationBloomColumn(text: org.apache.spark.sql.Column, bits: Array[Long],
      minSize: Int = 32, avgBits: Int = 6, maxSize: Int = 256,
      mBits: Int = 1 << 20, k: Int = 3): org.apache.spark.sql.Column =
    // bound once through a singleton array: the fp chain's xxhash64 lambda defeats CSE
    element_at(transform(array(chunkFpsWide(text, minSize, avgBits, maxSize)),
      fps => Bloom.containment(fps, bits, mBits, k, foldWide = true)), 1)

  /** (idCol, cdc_contamination_bloom) — one zero-shuffle projection over
    * the corpus against the cataloged-chunk filter.
    */
  def contaminationBloom(corpus: DataFrame, catalog: DataFrame,
      idCol: String, textCol: String,
      minSize: Int = 32, avgBits: Int = 6, maxSize: Int = 256,
      mBits: Int = 1 << 20, k: Int = 3): DataFrame =
    Bloom.score(corpus, idCol, chunkFpsWide(col(textCol), minSize, avgBits, maxSize),
      "cdc_contamination_bloom",
      buildFilter(catalog, textCol, minSize, avgBits, maxSize, mBits, k), mBits, k,
      foldWide = true)

  /** Shift-robust near-duplicate pairs: documents sharing ≥ `minShared`
    * distinct chunk fingerprints, with the shared count — the
    * [[Winnow.pairs]] contract over content-defined chunks instead of
    * winnowed k-grams (catches re-crawls whose edits BREAK token
    * n-grams across the whole tail). Mined by
    * [[PairBudget.sharedKeyPairs]], which documents both auto-derived
    * dials; a document of L bytes carries ~L/avgChunk chunks, which is
    * what the length-scaled `minShared` bar follows here.
    */
  def pairs(df: DataFrame, idCol: String, textCol: String,
      minSize: Int = 32, avgBits: Int = 6, maxSize: Int = 256,
      minShared: Option[Int] = None, budget: PairBudget = PairBudget.Auto()): DataFrame =
    PairBudget.sharedKeyPairs(chunkIndex(df, idCol, textCol, minSize, avgBits, maxSize),
      idCol, "fp", minShared, budget)
}
