package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Link-graph scoring (PageRank) in exact integer arithmetic.
  *
  * Crawl prioritization and source weighting over a 100 TB corpus need a
  * link-graph score, and the float version is oracle-hostile twice over:
  * per-node contribution sums depend on float summation order, and the
  * damping multiply compounds ulp drift across iterations. This variant
  * keeps ALL mass in integer rank units (Scale = 1e15 total mass):
  *
  *   r0(v)   = Scale ÷ N
  *   r_i+1(v) = ((Scale ÷ N) * (dampD − dampN)) ÷ dampD
  *            + (dampN * (Σ_{u→v} (r_i(u) ÷ deg(u)) + dangling_i ÷ N)) ÷ dampD
  *
  * where ÷ is truncating integer division (Spark `DIV`, DuckDB `//` —
  * identical on the nonnegative values here), `deg` is out-degree and
  * `dangling` the summed rank of zero-out-degree nodes, redistributed
  * uniformly. Every operation is a BIGINT add/multiply/divide, so sums
  * are order-independent and iterations replay bit-for-bit in any
  * engine. Truncation loses < 1 unit (1e-15 of total mass) per division
  * versus real PageRank — far below anything that could reorder ranks.
  *
  * The update expression is rendered from ONE template ([[rankUpdateExpr]])
  * for both engines, so the arithmetic cannot drift.
  *
  * Scale shape per iteration: one shuffle join of ranks against edges on
  * the source key + one aggregation on the destination key; (N, dangling)
  * are 1-row broadcasts. Ranks are re-materialized each iteration
  * ([[Materialize.once]]) to truncate lineage — at cluster scale,
  * pre-partition `edges` by src and the rank join reuses that layout
  * every iteration.
  */
object Graph {

  val Scale = 1000000000000000L

  /** The shared iteration-update template. `div` is the engine's integer
    * division token ("DIV" for Spark SQL, "//" for DuckDB); `c`, `dm`,
    * `n` are SQL fragments for the contribution sum (nullable — no
    * in-edges), dangling mass, and node count.
    */
  def rankUpdateExpr(div: String, c: String, dm: String, n: String,
      dampN: Long = 85, dampD: Long = 100): String =
    s"((($Scale $div $n) * ${dampD - dampN}) $div $dampD) + " +
      s"(($dampN * (COALESCE($c, CAST(0 AS BIGINT)) + ($dm $div $n))) $div $dampD)"

  /** `iters` synchronous PageRank iterations over `nodes` (column `v`) and
    * `edges` (columns `src`, `dst`; self-loops and duplicates are the
    * caller's contract). Returns (v, r) in integer rank units.
    */
  def pageRank(nodes: DataFrame, edges: DataFrame, iters: Int,
      dampN: Long = 85, dampD: Long = 100): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    val base = nodes.crossJoin(broadcast(nodes.agg(count(lit(1)).as("n"))))
    iterate(base, Seq(col("v")), expr(s"$Scale DIV n"),
      rankUpdateExpr("DIV", "c", "dm", "n", dampN, dampD), edges, iters)
  }

  /** The synchronous iteration both PageRanks share. `base` carries one
    * row per node with the columns `keep` and the update read; r0 =
    * `base` projected to `keep` + r; each round joins ranks to out-degree
    * (the dangling nodes have none), sums the contributions `r DIV deg`
    * per destination and the dangling mass `dm`, and projects `base`
    * (+ dm, + c) through the `update` SQL to the next r.
    */
  private def iterate(base: DataFrame, keep: Seq[Column], r0: Column, update: String,
      edges: DataFrame, iters: Int): DataFrame = {
    val outd = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    var r = base.select(keep :+ r0.as("r"): _*)
    for (_ <- 1 to iters) {
      val rd = Materialize.once(
        r.join(outd, r("v") === outd("src"), "left")
          .select(r("v").as("u"), col("r"), col("deg")))
      val contrib = rd.where(col("deg").isNotNull)
        .join(edges, col("u") === edges("src"))
        .groupBy(edges("dst").as("v"))
        .agg(sum(expr("r DIV deg")).as("c"))
      val dang = rd.where(col("deg").isNull)
        .agg(coalesce(sum(col("r")), lit(0L)).as("dm"))
      r = base.crossJoin(broadcast(dang))
        .join(contrib, Seq("v"), "left")
        .select(keep :+ expr(update).as("r"): _*)
    }
    r
  }

  /** The personalized-PageRank iteration-update template: teleport mass
    * and dangling redistribution land ONLY on seed nodes (`isSeed` — a
    * SQL boolean fragment; `s` = seed count). Non-seeds receive purely
    * propagated mass. Same integer-exactness contract as
    * [[rankUpdateExpr]].
    */
  def pprUpdateExpr(div: String, c: String, dm: String, s: String,
      isSeed: String, dampN: Long = 85, dampD: Long = 100): String =
    s"(CASE WHEN $isSeed THEN (($Scale $div $s) * ${dampD - dampN}) $div $dampD " +
      s"ELSE CAST(0 AS BIGINT) END) + " +
      s"(($dampN * (COALESCE($c, CAST(0 AS BIGINT)) + " +
      s"(CASE WHEN $isSeed THEN ($dm $div $s) ELSE CAST(0 AS BIGINT) END))) $div $dampD)"

  /** Personalized PageRank: random walks restart at the SEED set instead
    * of uniformly — the crawl-frontier / trusted-source-expansion scorer
    * (relevance radiates from seeds; spam far from any seed scores ~0).
    * `seeds` is a single-column (`v`) DataFrame, a subset of `nodes`.
    * Same per-iteration shape and integer-exact arithmetic as
    * [[pageRank]]; r0 puts Scale÷|S| on each seed and 0 elsewhere.
    */
  def pageRankPersonalized(nodes: DataFrame, edges: DataFrame,
      seeds: DataFrame, iters: Int,
      dampN: Long = 85, dampD: Long = 100): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    // seeds restricted to real nodes: a stale seed id must not inflate s
    // (its teleport share would silently vanish from the total mass)
    val seedTbl = seeds.select(col("v")).distinct()
      .join(nodes.select(col("v")), Seq("v"), "left_semi")
    require(!seedTbl.isEmpty,
      "pageRankPersonalized: the seed set is empty (or disjoint from nodes)")
    val marked = nodes
      .join(seedTbl.withColumn("__isSeed", lit(true)), Seq("v"), "left")
      .select(col("v"), coalesce(col("__isSeed"), lit(false)).as("is_seed"))
    val base = marked.crossJoin(broadcast(seedTbl.agg(count(lit(1)).as("s"))))
    iterate(base, Seq(col("v"), col("is_seed")),
      when(col("is_seed"), expr(s"$Scale DIV s")).otherwise(lit(0L)),
      pprUpdateExpr("DIV", "c", "dm", "s", "is_seed", dampN, dampD), edges, iters)
      .select(col("v"), col("r"))
  }

  /** `iters` rounds of synchronous min-label propagation over the
    * UNDIRECTED view of `edges`: l_0(v) = v,
    * l_{i+1}(v) = min(l_i(v), min over neighbors l_i(u)).
    *
    * Run to convergence this computes connected components; BOUNDED
    * rounds give "communities within `iters` hops" — the cheap
    * domain-clustering pass for link-spam and mirror detection, where
    * real web neighborhoods have small diameter and a full CC fixpoint
    * (with its data-dependent iteration count) is oracle-hostile and
    * often unnecessary. All arithmetic is integer MIN over joins, so
    * every round replays bit-for-bit in SQL (unrolled CTEs — the
    * PageRank discipline).
    *
    * Scale shape per round: one shuffle join of labels against the
    * undirected edge list on the source key + one MIN aggregation on the
    * destination key; labels re-materialized to truncate lineage. Same
    * pre-partition-by-src reuse note as [[pageRank]].
    */
  def labelPropagate(nodes: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    // materialized ONCE: the edge lineage can be arbitrarily expensive
    // (q_knn_cluster feeds the IVF knnJoin here) and `und` is consumed by
    // EVERY iteration — without the checkpoint each round re-executes the
    // whole upstream plan (measured: 3-iter propagation over knnJoin
    // edges 35.6 s -> ~14 s at x16, the same consumed-twice class as the
    // r9 tokenize front-half finding)
    val und = Materialize.once(edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    var l = nodes.select(col("v"), col("v").as("l"))
    for (_ <- 1 to iters) {
      val viaNbr = l.join(und, l("v") === und("src"))
        .groupBy(und("dst").as("v")).agg(min(col("l")).as("nl"))
      l = Materialize.once(l.join(viaNbr, Seq("v"), "left")
        .select(col("v"), least(col("l"), coalesce(col("nl"), col("l"))).as("l")))
    }
    l
  }

  /** Per-node triangle counts — the clustering-coefficient numerator and
    * the standard cohesion signal for link-graph profiling (spam rings
    * and mirror farms are triangle-dense; crawl frontiers are not).
    *
    * Algorithm: degree-ordered wedge counting (Suri & Vassilvitskii,
    * "Counting triangles and the curse of the last reducer", WWW 2011).
    * Edges are canonicalized undirected-distinct, then ORIENTED from the
    * (degree, id)-smaller endpoint to the larger; every triangle has
    * exactly one node with two outgoing oriented edges (its
    * lowest-(degree, id) corner), so joining oriented edges on the
    * source and semi-joining the closing pair against the canonical edge
    * set counts each triangle once. The orientation is the scale story:
    * out-degree is bounded by O(√m) on ANY graph (a node of degree d has
    * ≥ d neighbors of degree ≥ d only if d ≤ √(2m)), so wedge volume is
    * Σ d_out² = O(m^1.5) worst case — a plain id-ordered join on a star
    * graph would be Θ(d²) on the hub.
    *
    * Output: (v, n_tri) for every node of ≥ 1 triangle — integer counts,
    * fully SQL-replayable (q_triangles). Global count = sum(n_tri)/3.
    */
  def triangleCounts(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val canon = Materialize.once(
      edges.select(least(col(aCol), col(bCol)).as("a"),
          greatest(col(aCol), col(bCol)).as("b"))
        .where(col("a") =!= col("b")).distinct())
    val deg = canon.select(col("a").as("v")).unionByName(canon.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    // orient each edge toward the (degree, id)-larger endpoint
    val oriented = Materialize.once(canon
      .join(deg.withColumnsRenamed(Map("v" -> "a", "d" -> "da")), "a")
      .join(deg.withColumnsRenamed(Map("v" -> "b", "d" -> "db")), "b")
      .select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          col("a")).otherwise(col("b")).as("src"),
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          col("b")).otherwise(col("a")).as("dst")))
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("x"), col("e1.dst").as("y"), col("e2.dst").as("z"))
    val tri = wedges.join(canon,
      least(col("y"), col("z")) === col("a") && greatest(col("y"), col("z")) === col("b"),
      "left_semi")
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("v"))
      .groupBy("v").agg(count(lit(1)).cast("long").as("n_tri"))
  }
}
