package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.storage.StorageLevel

/** Materialize a mid-pipeline table exactly once with a bounded lifetime:
  * EAGER localCheckpoint, so (a) blocks are freed by the ContextCleaner
  * when the result plan becomes unreachable (persist() entries live in
  * the CacheManager until an explicit unpersist), and (b) on a CLUSTER,
  * 2x-replicated storage, so losing a single executor loses no blocks.
  *
  * Eager, not lazy, is load-bearing: a LAZY localCheckpoint defers the
  * synchronized RDDCheckpointData state transition to whichever job
  * touches the RDD first — and when that plan feeds BOTH a broadcast
  * exchange (which runs its own job on a broadcast-exchange thread) and
  * the main query, the two jobs can take the RDD monitor and the
  * RDDCheckpointData monitor in opposite orders and deadlock the DAG
  * scheduler (observed live: dag-scheduler-event-loop vs
  * broadcast-exchange-*, jstack-confirmed Java-level deadlock). Eager
  * materialization completes the transition synchronously at creation,
  * before the RDD is ever visible to a second job, so the race cannot
  * exist. The cost — the materializing job runs now instead of
  * piggybacking on the first consumer — is one scheduling round trip;
  * the compute and storage were already being paid.
  * The residual tradeoff vs persist(): simultaneous loss of both replicas
  * fails the job instead of recomputing from (truncated) lineage — for
  * multi-hour jobs on preemptible nodes, prefer a reliable `checkpoint()`
  * to durable storage upstream.
  *
  * In LOCAL mode replication is pure overhead: there are no peers, so
  * every block write serializes its bytes, asks the block manager for
  * replica targets, finds none, and logs a warning — measured as the
  * dominant term of the historical q_dedup_minhash run-to-run variance
  * (ProbeMinhash stage breakdown: the same pipeline is ~1.7 s with plain
  * MEMORY_AND_DISK and 2.9-11.4 s through the replicated lazy path at
  * x16, while losing an "executor" in a single-JVM session is process
  * death anyway). So: replicate on clusters, not in local mode.
  */
object Materialize {
  def once(df: DataFrame): DataFrame = {
    val level =
      if (df.sparkSession.sparkContext.isLocal) StorageLevel.MEMORY_AND_DISK
      else StorageLevel.MEMORY_AND_DISK_2
    df.localCheckpoint(eager = true, storageLevel = level)
  }

  /** The rows of `df` when there are at most `maxRows` of them, in ONE
    * query: the collect is capped one row past the budget, so an
    * oversized input shows as `None` without a separate `count()` that
    * would run the upstream plan a second time, and the driver never
    * holds more than `maxRows + 1` rows. The driver-side distillers'
    * size gate.
    */
  def collectUpTo(df: DataFrame, maxRows: Int): Option[Array[Row]] = {
    val rows = df.limit(math.min(maxRows.toLong + 1, Int.MaxValue).toInt).collect()
    if (rows.length > maxRows) None else Some(rows)
  }
}
