package graft

import graft.queries.Queries
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * The real registry lives in [[graft.queries.Queries]]; one entry per
  * implemented operator from SURVEY.md §2 plus the LLM-pipeline extensions.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Queries.queries("q_q1")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.queries

  def oracleSql: Map[String, String] = Queries.oracleSql

  /** The engine's local session recipe, shared by every main and the test
    * session: `cores` task slots and as many shuffle partitions, UTC
    * session time, nanos parquet timestamps read as longs, no UI.
    */
  def sessionBuilder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      // InferFiltersFromGenerate duplicates every kernel-array generator
      // into a Filter below the Generate (size(kernel(..)) > 0 AND ..
      // IS NOT NULL) that pushdown re-inlines -- the gram/band kernels
      // then run TWICE per row, and the Generate already skips null/empty
      // arrays on its own (outer = false). Always a pessimization for
      // this engine's plans (measured r12), so excluded.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts physical type has varied by round (int64 ns, then
      // timestamp[us]); nanosAsLong covers the ns variant and
      // Tables.eventsNs normalizes whichever arrives to nanos longs
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
}
