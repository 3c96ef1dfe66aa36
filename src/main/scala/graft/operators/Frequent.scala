package graft.operators

import graft.functions.TextFunctions.words
import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Heavy-hitter mining over token streams.
  *
  * [[frequentTokens]] is the exact relative-support variant (every token
  * whose in-group frequency is ≥ supNum/supDen of the group's token
  * count) — two hash aggregations, map-side partials absorb hot-token
  * skew, and the support test is exact integer cross-multiplication so
  * the oracle replays it bit-for-bit.
  *
  * [[misraGries]] is the mergeable bounded-memory sketch for the 100 TB
  * path, where the exact per-group token dictionary would itself be a
  * shuffle of corpus-vocabulary size: k counters per group, one pass,
  * partial sketches merged associatively (classic Misra-Gries summary;
  * merge = counter-wise sum, then subtract the (k+1)-largest value and
  * drop non-positives — Agarwal et al., "Mergeable Summaries", PODS'12).
  * Guarantee: every item with true count > n/(k+1) survives, and each
  * reported count underestimates truth by at most n/(k+1). Not SQL-
  * replayable (the summary depends on merge topology), so it is spec-
  * gated against exact counts (FrequentSpec) rather than oracled; the
  * exact variant carries the oracle.
  */
object Frequent {

  /** Exact: (group, word, n) for tokens with n * supDen >= total * supNum
    * within their group. Lower-cased whitespace tokens, empties dropped —
    * the q_vocab tokenization.
    */
  def frequentTokens(df: DataFrame, groupCol: String, textCol: String,
      supNum: Long, supDen: Long): DataFrame = {
    val toks = df.select(col(groupCol).as("grp"), explode(words(col(textCol))).as("word"))
    val counts = toks.groupBy("grp", "word").agg(count(lit(1)).as("n"))
    val totals = toks.groupBy("grp").agg(count(lit(1)).as("total"))
    counts.join(totals, "grp")
      .where(col("n") * lit(supDen) >= col("total") * lit(supNum))
      .select(col("grp").as(groupCol), col("word"), col("n"))
  }

  /** Misra-Gries summary state: counters + processed-count n (n drives the
    * error bound in specs; it is exact — decrements don't change it).
    */
  final case class MgState(counters: Map[String, Long], n: Long)

  final class MisraGriesAgg(k: Int) extends Aggregator[String, MgState, Map[String, Long]] {
    require(k >= 1, "k must be >= 1")

    def zero: MgState = MgState(Map.empty, 0L)

    def reduce(s: MgState, item: String): MgState = {
      val c = s.counters
      val next =
        if (c.contains(item)) c.updated(item, c(item) + 1L)
        else if (c.size < k) c.updated(item, 1L)
        else {
          // decrement-all step: drop every counter by 1, evict zeros
          c.flatMap { case (w, v) => if (v > 1L) Some(w -> (v - 1L)) else None }
        }
      MgState(next, s.n + 1L)
    }

    def merge(a: MgState, b: MgState): MgState = {
      val summed = b.counters.foldLeft(a.counters) { case (m, (w, v)) =>
        m.updated(w, m.getOrElse(w, 0L) + v)
      }
      val trimmed =
        if (summed.size <= k) summed
        else {
          val cut = summed.values.toSeq.sorted(Ordering[Long].reverse)(k)
          summed.flatMap { case (w, v) => if (v > cut) Some(w -> (v - cut)) else None }
        }
      MgState(trimmed, a.n + b.n)
    }

    def finish(s: MgState): Map[String, Long] = s.counters

    def bufferEncoder: Encoder[MgState] = Encoders.product[MgState]
    def outputEncoder: Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
  }

  /** One Misra-Gries summary per group: (group, word, est) rows, est the
    * sketch's lower-bound count. k counters per group; the only shuffle
    * moves partial sketches (≤ k entries each), never the token stream.
    */
  def misraGries(df: DataFrame, groupCol: String, textCol: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val toks = df.select(col(groupCol).cast("string").as("grp"),
        explode(words(col(textCol))).as("word"))
      .as[(String, String)]
    toks.groupByKey(_._1).mapValues(_._2)
      .agg(new MisraGriesAgg(k).toColumn.name("summary"))
      .toDF("grp", "summary")
      .select(col("grp").as(groupCol), explode(col("summary")).as(Seq("word", "est")))
  }
}
