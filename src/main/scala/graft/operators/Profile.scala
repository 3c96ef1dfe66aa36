package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column-level data profiling — the "what is in this table" pass every
  * corpus intake runs first: per column the row count, null count,
  * distinct count, and min/max (stringified for a uniform output schema).
  *
  * Shape: ONE aggregation job over the input. The exact variant's
  * multi-column `count(distinct)` plans through Catalyst's Expand (rows ×
  * profiled columns before partial aggregation) — exact but paying
  * |cols|× the scan volume in the aggregate, which is why [[approx]]
  * exists: HyperLogLog++ sketches for every column in one UN-expanded
  * pass (relative error `rsd`, default 5%), the right profile at 100 TB.
  *
  * Output: (column, n_rows, n_nulls, n_distinct, min, max) — one row per
  * profiled column, stable order = input order.
  */
object Profile {

  def profile(df: DataFrame, cols: Seq[String]): DataFrame =
    build(df, cols, c => countDistinct(col(c)))

  /** HLL++ distinct counts (`rsd` relative standard deviation); row/null
    * counts and min/max stay exact.
    */
  def approx(df: DataFrame, cols: Seq[String], rsd: Double = 0.05): DataFrame =
    build(df, cols, c => approx_count_distinct(col(c), rsd))

  /** Numeric summary: mean, sample stddev, and EXACT interpolated
    * percentiles per column (Spark `percentile` ≡ DuckDB/Postgres
    * `quantile_cont`/`percentile_cont` semantics, so it oracles).
    * Values round to 6dp — the cross-engine double-parity discipline.
    * Exact percentiles sort per column; at 100 TB profile with
    * `approx_percentile` instead (same output shape, sketch-based) —
    * exactness is for the oracle gate and small-table intake checks.
    */
  def numeric(df: DataFrame, cols: Seq[String],
      ps: Seq[Double] = Seq(0.25, 0.5, 0.75)): DataFrame =
    numericBy(df, cols, ps, (c, p) => percentile(c, lit(p)))

  /** The 100 TB numeric profile: same output shape as [[numeric]], but
    * percentiles come from the Greenwald-Khanna sketch
    * (`approx_percentile`) — ONE streaming pass, no per-column sort.
    * `accuracy` bounds the rank error at n/accuracy rows; with accuracy
    * ≥ n the sketch degenerates to exact DISCRETE percentiles (an actual
    * element at the target rank, `quantile_disc` semantics — not the
    * interpolated `quantile_cont` the exact twin reports), which is what
    * lets the driver hash-gate this path on the small-SF tables while
    * the same code runs sketched at scale.
    */
  def numericApprox(df: DataFrame, cols: Seq[String],
      ps: Seq[Double] = Seq(0.25, 0.5, 0.75), accuracy: Int = 10000): DataFrame =
    numericBy(df, cols, ps,
      (c, p) => approx_percentile(c, lit(p), lit(accuracy)).cast("double"))

  /** The numeric profile with the percentile aggregate `pct(column, p)`:
    * ONE aggregation row, unpivoted to one row per column. */
  private def numericBy(df: DataFrame, cols: Seq[String], ps: Seq[Double],
      pct: (Column, Double) => Column): DataFrame = {
    require(cols.nonEmpty, "numeric profile needs at least one column")
    val aggs = cols.flatMap { c =>
      Seq(round(avg(col(c)), 6).as(s"__avg_$c"),
        round(stddev_samp(col(c)), 6).as(s"__sd_$c")) ++
        ps.zipWithIndex.map { case (p, i) => round(pct(col(c), p), 6).as(s"__p${i}_$c") }
    }
    val one = df.agg(count(lit(1)).as("__total"), aggs: _*)
    one.select(explode(array(cols.map(c => struct(
        Seq(lit(c).as("column"), col(s"__avg_$c").as("mean"),
          col(s"__sd_$c").as("stddev")) ++
          ps.zipWithIndex.map { case (p, i) =>
            col(s"__p${i}_$c").as(s"p${(p * 100).round}") }: _*)): _*)).as("__p"))
      .select("__p.*")
  }

  /** Per-column most-frequent values — the categorical half of intake
    * profiling. ONE pass: rows explode to (column, value) pairs (nulls
    * skipped), one count shuffle on that pair, then a per-COLUMN top-k.
    * The rank window partitions by column over post-aggregation rows
    * (each column's distinct values, already reduced), with the
    * deterministic (count desc, value asc) tiebreak so top-k is stable
    * and oracle-able. Returns (column, value, cnt), values stringified.
    */
  def topValues(df: DataFrame, cols: Seq[String], k: Int = 5): DataFrame = {
    require(cols.nonEmpty && k > 0, "topValues needs columns and k > 0")
    import org.apache.spark.sql.expressions.Window
    val pairs = df.select(explode(array(cols.map(c =>
        struct(lit(c).as("column"), col(c).cast("string").as("value"))): _*)).as("__e"))
      .select("__e.*")
      .where(col("value").isNotNull)
    val counts = pairs.groupBy("column", "value").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("column").orderBy(col("cnt").desc, col("value").asc)
    counts.withColumn("__r", row_number().over(w))
      .where(col("__r") <= k)
      .drop("__r")
  }

  /** Embedding-column intake profile: row count, zero vectors (broken
    * upstream encoders show up here first), norm-squared min/max and
    * exact mean. Per-vector norm² is a fixed left-to-right array reduce
    * (bit-stable across engines — the PQ-oracle discipline); the mean
    * crosses rows through DECIMAL so it is summation-order independent.
    * One narrow aggregation pass, no shuffle beyond the single global agg.
    */
  def vector(df: DataFrame, vecCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val norm2 = aggregate(v, lit(0.0d), (a, x) => a + x * x)
    df.select(norm2.as("__n2"))
      .agg(count(lit(1)).as("n_rows"),
        count(when(col("__n2") === 0.0, 1)).as("zero_vecs"),
        min(col("__n2")).as("min_norm2"),
        max(col("__n2")).as("max_norm2"),
        (sum(col("__n2").cast("decimal(28,8)")).cast("double") /
          count(lit(1))).as("avg_norm2"))
  }

  /** Key-skew audit for a prospective join/aggregation key: distinct-key
    * count, total rows, the heaviest key's share, and the exact Gini
    * coefficient of the key-count distribution — the decision input for
    * the skew toolbox (AQE skew join vs `SkewJoin.saltedJoin` vs a
    * repartition). Gini here is the standard sorted-rank form
    *
    *   G = Σ_i (2i − n − 1)·c_(i)  /  (n·Σc),   c_(1) ≤ … ≤ c_(n)
    *
    * whose numerator is EXACT integer arithmetic over ranked counts, so
    * the metric oracles bit-for-bit. Scale shape: one count aggregation
    * (distinct-key-bounded), a distributed rank over the count table
    * (range sort + zipWithIndex — one long per partition to the driver,
    * never a global window), one broadcast of the 1-row stats, one sum.
    * Keys must be long-typed (hash non-numeric keys first).
    *
    * Output: one row (n_keys, total, top1_share, gini). G≈0 = uniform
    * keys (skew machinery unnecessary), G→1 = a handful of hot keys own
    * the table (salt or isolate before the join).
    */
  def keySkew(df: DataFrame, keyCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val counts = graft.operators.Materialize.once(
      df.groupBy(col(keyCol).cast("long").as("k"))
        .agg(count(lit(1)).cast("long").as("cnt")))
    val stats = counts.agg(count(lit(1)).as("n"),
      sum(col("cnt")).cast("long").as("tot"), max(col("cnt")).cast("long").as("mx"))
    val ranked = graft.core.Flow(counts.select(col("cnt"), col("k")).as[(Long, Long)])
      .rankBy(t => t)
      .toDF.toDF("i", "ck")
    val num = ranked.crossJoin(broadcast(stats))
      .agg(sum((lit(2L) * (col("i") + 1) - col("n") - 1) * col("ck._1"))
        .cast("long").as("num"))
    num.crossJoin(broadcast(stats))
      .select(col("n").as("n_keys"), col("tot").as("total"),
        round(col("mx").cast("double") / col("tot"), 6).as("top1_share"),
        round(col("num").cast("double") / (col("n") * col("tot")), 6).as("gini"))
  }

  /** Exact Spearman rank correlation between two numeric columns —
    * the monotone-association profile (Pearson, [[graft.queries]]
    * q_profile_corr's operator, sees only LINEAR association; a feature
    * audit wants both). Ranks are deterministic row_number ranks ordered
    * by (value, id) — the id tiebreak makes every rank an exact integer
    * in both engines (classical tie-averaging would introduce .5 ranks
    * AND an engine-ordering hazard), so Σd² is an exact BIGINT and
    *
    *   ρ = 1 − 6·Σd² / (n·(n²−1))
    *
    * is one division of exact integers. Overflow: Σd² < n³ — exact in a
    * signed long for n < 2^21, and the double quotient is exact-rounded
    * at any n (document: corpus-scale profiling should rank on a SAMPLE
    * or use the decimal form; the oracle gate runs at test scale).
    *
    * Scale shape: two distributed prefix-scan ranks ([[graft.core.Flow.rankBy]]
    * — range-partitioned, never a global single-task window) joined on
    * the row id, then one aggregate.
    */
  def spearman(df: DataFrame, idCol: String, xCol: String, yCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // pairwise deletion: a null in EITHER column excludes the row from both
    // rankings (same null discipline as auc/aucBy) instead of failing at
    // Dataset encoding time
    val clean = df.where(col(xCol).isNotNull && col(yCol).isNotNull)
    def ranks(c: String) = graft.core.Flow(
        clean.select(col(c).cast("double"), col(idCol).cast("long")).as[(Double, Long)])
      .rankBy(identity)
      .toDF.toDF("__r", "__vk")
      .select(col("__vk._2").as("__id"), col("__r"))
    val rx = ranks(xCol).withColumnRenamed("__r", "__rx")
    val ry = ranks(yCol).withColumnRenamed("__r", "__ry")
    rx.join(ry, Seq("__id"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum((col("__rx") - col("__ry")) * (col("__rx") - col("__ry")))
          .cast("long").as("sum_d2"))
      .withColumn("spearman",
        when(col("n") > 1,
          round(lit(1.0) - (col("sum_d2") * 6.0) /
            (col("n").cast("double") * (col("n") * col("n") - 1)), 6))
          .otherwise(lit(null)))
  }

  /** The corpus-scale spearman: exact rank correlation over a
    * DETERMINISTIC hash sample — rank statistics on 10^11 rows are a
    * sampling problem, not a sorting problem ([[spearman]]'s scaladoc
    * boundary, closed here). The keep decision is the sampling family's
    * LCG threshold (lcg31(id) < num·2^31/den), so the sample — and
    * therefore the whole statistic — replays bit-for-bit in any engine
    * and sits behind the driver's hash gate; downstream is [[spearman]]
    * itself, exact on the sampled rows. Standard error of rank
    * correlation is ~1/√m for a sample of m, so den/num only needs to
    * bring m to ~10^6 for 3-decimal confidence at any corpus size.
    */
  def spearmanSampled(df: DataFrame, idCol: String, xCol: String, yCol: String,
      num: Long, den: Long): DataFrame = {
    require(den > 0 && num > 0 && num <= den, s"rate must be in (0,1]: $num/$den")
    // multiplyExact: num ≥ 2^32 would overflow the scaled threshold into a
    // negative long and silently sample nothing — raise instead
    spearman(
      df.where(Split.lcg31(col(idCol)) <
        lit(Math.multiplyExact(num, 2147483648L) / den)),
      idCol, xCol, yCol)
  }

  /** Hash width of [[HashFamily.Fixture]] (modulus 10^9+7 < 2^30) — the HLL value bits are what remains above the
    * bucket index.
    */
  private val HllHashBits = 30

  /** Portable HyperLogLog register table (Flajolet et al. 2007) over a
    * 30-bit fixture-family hash column: bucket = low `p` bits, rho =
    * leading-zero count of the remaining `30−p` value bits + 1, register
    * = max rho per bucket. One hash aggregate with map-side combining on
    * ≤ 2^p keys — the mergeable-sketch shape (register tables from any
    * number of slices/engines merge by per-bucket MAX), emitted as plain
    * (bucket, rho) rows so the sketch itself is an oracle-checkable,
    * engine-portable artifact (build in Spark, merge or estimate
    * anywhere that can MAX and shift). Only non-empty buckets appear.
    *
    * This deliberately does NOT replace `approx_count_distinct` (Spark's
    * HLL++ is the production profiling path, [[approx]]); it exists for
    * the INTEROP/evaluation lane: replayable integer arithmetic end to
    * end, so the driver's DuckDB oracle hash-gates registers AND
    * estimate. The fixture hash is ~uniform on [0, 10^9+7), slightly
    * short of 2^30 — a ≤7% density deficit in the top value range,
    * amortized into the estimator's already ±1.04/√m error band.
    */
  def hllRegisters(df: DataFrame, hashCol: String, p: Int): DataFrame =
    registers(df, Nil, hashCol, p)

  /** The (groups…, bucket, rho) register table of [[hllRegisters]] and
    * [[hllRegistersBy]]. */
  private def registers(df: DataFrame, groups: Seq[Column], hashCol: String,
      p: Int): DataFrame = {
    require(p >= 7 && p <= 16, s"p must be in [7, 16], got $p")
    val w = HllHashBits - p
    val h = col(hashCol).cast("long")
    val v = shiftright(h, p)
    val rho = when(v === 0, lit(w + 1))
      .otherwise(lit(w + 1) - graft.functions.HashExpressions.binLength(v))
    df.groupBy(groups :+ (h.bitwiseAND((1L << p) - 1)).cast("long").as("bucket"): _*)
      .agg(max(rho).cast("long").as("rho"))
  }

  /** `alpha_m · m² · 2^(w+2)` — the whole numerator of the raw HLL
    * estimate as ONE double constant, computed here and interpolated
    * into oracle SQL, so the two engines perform the identical single
    * division `C / s_scaled`.
    */
  def hllConstant(p: Int): Double = {
    require(p >= 7 && p <= 16, s"p must be in [7, 16], got $p")
    val m = 1 << p
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    alpha * java.lang.Math.scalb(1.0, 2 * p + (HllHashBits - p) + 2)
  }

  /** [[hllRegisters]] with a group key: one register table per group —
    * per-source vocabulary cardinality in a single aggregate whose key
    * space is |groups| × 2^p. The merge law is unchanged (per-(group,
    * bucket) MAX), and because the register transform is a plain
    * groupBy/max it runs UNCHANGED as a streaming update-mode
    * aggregation with bounded state (≤ |groups|·2^p rows) — cardinality-
    * so-far on an unbounded ingest stream
    * ([[graft.streaming.GraftStreaming]] spec-gates stream == batch).
    */
  def hllRegistersBy(df: DataFrame, groupCol: String, hashCol: String,
      p: Int): DataFrame =
    registers(df, Seq(col(groupCol)), hashCol, p)

  /** Per-group raw estimates from a grouped register table: one row per
    * group (group, v_nonzero, s_scaled, estimate) — the [[hllEstimate]]
    * arithmetic applied group-wise.
    */
  def hllEstimateBy(registers: DataFrame, groupCol: String, p: Int): DataFrame =
    estimate(registers, Seq(col(groupCol)), col(groupCol), p)

  /** One-row raw HLL estimate from a register table: the harmonic sum is
    * kept INTEGER by scaling each 2^−rho term to 2^(w+2−rho) (max rho is
    * w+1, so every term ≥ 2; empty buckets contribute 2^(w+2) each), and
    * the estimate is a single division of [[hllConstant]] by that exact
    * integer — bit-identical across engines. Raw estimator only (no
    * linear-counting small-range branch: its m·ln(m/V) is not
    * cross-engine exact; below ~3m distinct values use exact counting or
    * Spark's HLL++).
    */
  def hllEstimate(registers: DataFrame, p: Int): DataFrame =
    estimate(registers, Nil, lit(1L << p).as("m"), p)

  /** (lead, v_nonzero, s_scaled, estimate) per `groups` of a register
    * table: the integer harmonic sum and the one division of
    * [[hllEstimate]]. */
  private def estimate(registers: DataFrame, groups: Seq[Column], lead: Column,
      p: Int): DataFrame = {
    val m = 1L << p
    val sc = (HllHashBits - p) + 2
    registers.groupBy(groups: _*)
      .agg(
        count(lit(1)).cast("long").as("v_nonzero"),
        sum(org.apache.spark.sql.GraftBridge.column(
          org.apache.spark.sql.catalyst.expressions.ShiftLeft(
            org.apache.spark.sql.catalyst.expressions.Literal(1L),
            org.apache.spark.sql.GraftBridge.expression(
              (lit(sc) - col("rho")).cast("int"))))).cast("long").as("__sp"))
      .select(lead, col("v_nonzero"),
        (col("__sp") + (lit(m) - col("v_nonzero")) * (1L << sc)).as("s_scaled"))
      .withColumn("estimate",
        round(lit(hllConstant(p)) / col("s_scaled").cast("double"), 6))
  }

  private def build(df: DataFrame, cols: Seq[String],
      distinctAgg: String => Column): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"__cnt_$c"),
        distinctAgg(c).as(s"__dist_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    val one = df.agg(count(lit(1)).as("__total"), aggs: _*)
    // unpivot the single wide row into one row per column
    one.select(explode(array(cols.map(c => struct(
        lit(c).as("column"),
        col("__total").as("n_rows"),
        (col("__total") - col(s"__cnt_$c")).as("n_nulls"),
        col(s"__dist_$c").as("n_distinct"),
        col(s"__min_$c").as("min"),
        col(s"__max_$c").as("max"))): _*)).as("__p"))
      .select("__p.*")
  }
}
