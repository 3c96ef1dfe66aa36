package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Candidate-generation budget for the exact pair miners, applied by
  * [[PairBudget.capHot]] for all three: [[Dedup.ngramJaccardPairs]]
  * (hashed n-grams, exact Jaccard) and, through the shared-key miner
  * [[PairBudget.sharedKeyPairs]], [[Winnow.pairs]] (winnowed
  * fingerprints) and [[Cdc.pairs]] (content-defined chunks).
  *
  * The miners are inverted-index self-joins: a key (shingle /
  * fingerprint) appearing in f documents contributes f(f−1)/2 candidate
  * pair rows, so Σ_key f(f−1)/2 — quadratic in per-key document
  * frequency — is the irreducible cost of the exact lane. On a
  * deduplicated test corpus that sum is benign; on a 100 TB crawl with
  * boilerplate-heavy duplication it is a job-killer (measured: Σ df² =
  * 4.8 B join rows on a 512 k-doc twin, SCALE.md r13). The DEFAULT dial
  * must therefore be safe:
  *
  *  - [[PairBudget.Auto]] (the default): derive the largest df cap whose
  *    candidate join stays within `rowsPerDoc × nDocs` rows from the
  *    index's own df histogram — one cheap aggregate — and mine exactly
  *    when the whole corpus fits the budget. The budget is LINEAR in
  *    corpus size by construction, so the plan survives any scale-up;
  *    the cap binds only when the corpus would actually explode.
  *  - [[PairBudget.Cap]]: a manual df cap (the measured-dial form).
  *  - [[PairBudget.Exact]]: uncapped exact mining, OPT-IN. This stays a
  *    legitimate lane — it is the oracle baseline, and on corpora whose
  *    df head is vocabulary rather than boilerplate ANY binding cap
  *    destroys recall (round-11 measurement: the synthetic corpus' df
  *    histogram is bimodal and true near-duplicates share mostly
  *    template shingles, so a df-quantile default would silently miss
  *    them — which is why Auto budgets ROWS instead of capping a
  *    quantile: when the corpus affords exactness, Auto IS exact).
  */
sealed trait PairBudget

object PairBudget {

  /** Uncapped exact all-pairs mining — opt-in: Σ_key df·(df−1)/2 rows. */
  case object Exact extends PairBudget

  /** Drop keys with document frequency > `maxDocFreq` from candidate
    * generation (sizes/denominators stay exact in the jaccard miner).
    */
  final case class Cap(maxDocFreq: Long) extends PairBudget {
    require(maxDocFreq >= 1L, s"maxDocFreq must be >= 1, got $maxDocFreq")
  }

  /** Derive the cap from the index's df histogram: the largest cap c
    * such that Σ_{df ≤ c} count(df) · df·(df−1)/2 ≤ rowsPerDoc × nDocs.
    * No cap at all when the full exact join fits the budget. Fully
    * deterministic given the corpus (exact integer arithmetic — the
    * derivation replays in SQL).
    */
  final case class Auto(rowsPerDoc: Long = 256L) extends PairBudget {
    require(rowsPerDoc >= 1L, s"rowsPerDoc must be >= 1, got $rowsPerDoc")
  }

  /** Resolve a dial against a posting index (one row per (doc, key)):
    * None = mine exact, Some(cap) = drop keys with df > cap from
    * candidate generation. For [[Auto]] this runs two bounded
    * aggregations over the (caller-materialized) index: the df
    * histogram — output rows = distinct df VALUES, at most O(√|index|)
    * — plus an exact distinct-doc count; the cumulative-cost scan runs
    * over that tiny histogram (single-partition window is fine there)
    * and only a 1-row aggregate ever reaches the driver. decimal(38,0)
    * cost arithmetic: count(df) · df² products overflow long on
    * billion-doc corpora.
    */
  def resolve(index: DataFrame, idCol: String, keyCol: String,
      budget: PairBudget, knownDocs: Option[Long] = None): Option[Long] = budget match {
    case Exact => None
    case Cap(c) => Some(c)
    case Auto(rowsPerDoc) =>
      val dfTab = index.groupBy(col(keyCol)).agg(count(lit(1)).as("__df"))
      val byDf = dfTab.groupBy(col("__df")).agg(count(lit(1)).as("__k"))
        .select(col("__df"),
          (col("__k").cast("decimal(38,0)") * col("__df") * (col("__df") - 1) / 2)
            .cast("decimal(38,0)").as("__rows"))
      // callers that already aggregate per-doc stats pass the doc count
      // in (knownDocs) — saves one full distinct shuffle over the index
      val nDocs = knownDocs.getOrElse(index.select(col(idCol)).distinct().count())
      val budgetRows = new java.math.BigDecimal(rowsPerDoc)
        .multiply(new java.math.BigDecimal(nDocs))
      val w = Window.orderBy(col("__df").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val row = byDf
        .withColumn("__cum", sum(col("__rows")).over(w))
        .agg(
          max(when(col("__cum") <= lit(budgetRows), col("__df"))).as("__cap"),
          max(col("__cum")).as("__total"))
        .first()
      if (row.isNullAt(1)) None // empty index: nothing to cap
      else {
        val total = row.getDecimal(1)
        if (total.compareTo(budgetRows) <= 0) None // exact fits the budget
        // floor 2: df ≤ 1 keys generate zero pairs, so a sub-2 cap would
        // degenerate to "no candidates at all" — at cap 2 every surviving
        // key contributes exactly one pair, still linearly bounded
        else Some(math.max(2L, if (row.isNullAt(0)) 2L else row.getLong(0)))
      }
  }

  /** `index` under `budget`: itself when the dial resolves to exact,
    * otherwise without the keys whose document frequency exceeds the cap
    * (one df aggregate, broadcast as a left-anti probe). `knownDocs` as
    * in [[resolve]].
    */
  def capHot(index: DataFrame, idCol: String, keyCol: String, budget: PairBudget,
      knownDocs: Option[Long] = None): DataFrame =
    resolve(index, idCol, keyCol, budget, knownDocs).fold(index) { cap =>
      val hot = index.groupBy(keyCol).agg(count(lit(1)).as("__df"))
        .where(col("__df") > cap).select(col(keyCol))
      index.join(broadcast(hot), Seq(keyCol), "left_anti")
    }

  /** Candidate near-duplicate pairs (idA < idB, shared) over a posting
    * index of (idCol, keyCol) rows: document pairs sharing ≥ `minShared`
    * distinct keys. One self-join on the key + one per-pair count, the
    * candidates bounded by [[capHot]] (a key capped at df ≤ c contributes
    * ≤ c(c−1)/2 join rows — the quadratic term is bounded per key, never
    * corpus-wide).
    *
    * Both dials auto-derive from the index's own per-document profile by
    * default (the knn-family `autoCells` discipline):
    *  - `budget` ([[Auto]]) bounds candidate generation to a
    *    linear-in-corpus row budget, capping hot boilerplate keys only
    *    when the exact join would not fit. Manual [[Cap]]/[[Exact]]
    *    override.
    *  - `minShared = None` sets the report bar to max(2, p50/20) distinct
    *    shared keys, where p50 is the (approximate, bounded-memory)
    *    median per-document distinct-key count. Keys per document grow
    *    with document length, so a fixed absolute bar that is right for
    *    200-token pages is output-explosion on 5 KB documents — the
    *    length-twin measurement behind this dial (4.39 M winnow pairs at
    *    minShared=2, SCALE.md r13): scaling with length keeps full
    *    near-duplicates (which share ~p50 keys, 20× the bar) while
    *    cutting weak-overlap pairs. Pass `Some(n)` to pin.
    */
  private[operators] def sharedKeyPairs(index: DataFrame, idCol: String, keyCol: String,
      minShared: Option[Int], budget: PairBudget): DataFrame = {
    val all = Materialize.once(index.select(col(idCol).as("__id"), col(keyCol)).distinct())
    // ONE per-doc aggregate serves both auto dials: its row count is
    // nDocs (handed to the budget resolver, saving a second full
    // distinct shuffle over the index) and its approx-median is the
    // minShared profile (fixed-memory sketch, never a per-doc collect)
    val perDoc = if (minShared.isEmpty || budget.isInstanceOf[Auto])
      Some(Materialize.once(all.groupBy(col("__id")).agg(count(lit(1)).as("__n"))))
    else None
    val keys = capHot(all, "__id", keyCol, budget, knownDocs = perDoc.map(_.count()))
    val bar = minShared.getOrElse {
      // empty index (empty corpus, or no document yields a key) makes
      // approx_percentile return null — fall back to the floor
      val row = perDoc.get
        .agg(expr("approx_percentile(__n, 0.5)").as("__p50"))
        .first()
      val p50 = if (row.isNullAt(0)) 0L else row.getLong(0)
      math.max(2L, p50 / 20L).toInt
    }
    keys.as("a").join(keys.as("b"), col(s"a.$keyCol") === col(s"b.$keyCol"))
      .where(col("a.__id") < col("b.__id"))
      .groupBy(col("a.__id").as("idA"), col("b.__id").as("idB"))
      .agg(count(lit(1)).cast("long").as("shared"))
      .where(col("shared") >= bar)
  }
}
