package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, lit, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

// Typed views of the driver-generated tables (TESTDATA.md). Timestamps use
// java.sql.Timestamp (micros); parquet ns values truncate on read, which is
// fine — no query keys on sub-micro precision.
case class Lineitem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long, l_linenumber: Int,
    l_quantity: Double, l_extendedprice: Double, l_discount: Double, l_tax: Double,
    l_returnflag: String, l_linestatus: String, l_shipdate: java.sql.Timestamp)
case class Orders(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
    o_totalprice: Double, o_orderdate: java.sql.Timestamp, o_orderpriority: String)
case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
    c_acctbal: Double, c_mktsegment: String)
case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
case class Region(r_regionkey: Int, r_name: String)
case class Supplier(s_suppkey: Long, s_name: String, s_nationkey: Int, s_acctbal: Double)
case class Part(p_partkey: Long, p_name: String, p_brand: String, p_type: String,
    p_size: Int, p_retailprice: Double)
// ts normalized to nanos-since-epoch long (see Tables.eventsNs)
case class Event(event_id: Long, ts: Long, user_id: Long,
    event_type: String, value: Double, props: String)
case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

object Tables {
  def df(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.GraftIO.loadParquet(spark, s"$dir/$name.parquet")

  /** Normalize a timestamp-ish column to nanos-since-epoch BIGINT,
    * whatever physical type the data generator used for it that round:
    * int64 nanos (read via nanosAsLong), TIMESTAMP (micros, LTZ), or
    * TIMESTAMP_NTZ (micros, wall clock — interpreted as UTC; every graft
    * session pins spark.sql.session.timeZone=UTC, so the NTZ→LTZ cast is
    * the identity on the stored value and matches DuckDB's epoch_ns(ts)
    * reading of the SAME parquet). Keeping every downstream operator on
    * integral epoch arithmetic (gap/bucket/tolerance in plain longs) is
    * deliberate: it is engine-portable, overflow-checkable, and avoids
    * interval-typed window frames that Catalyst cannot constant-fold.
    */
  def tsNanos(dataType: org.apache.spark.sql.types.DataType, c: Column): Column =
    dataType match {
      case LongType         => c
      case TimestampType    => unix_micros(c) * lit(1000L)
      case TimestampNTZType => unix_micros(c.cast(TimestampType)) * lit(1000L)
      case other => throw new IllegalArgumentException(
        s"unsupported timestamp physical type for normalization: $other")
    }

  /** The events table with `ts` normalized to nanos-since-epoch long —
    * the ONE accessor every events query goes through, so a generator-
    * side schema change (int64 ns ↔ timestamp[us], as happened between
    * rounds) is absorbed here instead of breaking 11 operators.
    */
  def eventsNs(spark: SparkSession, dir: String): DataFrame = {
    val raw = df(spark, dir, "events")
    raw.withColumn("ts", tsNanos(raw.schema("ts").dataType, col("ts")))
  }

  def lineitem(spark: SparkSession, dir: String): Dataset[Lineitem] = {
    import spark.implicits._; df(spark, dir, "lineitem").as[Lineitem]
  }
  def orders(spark: SparkSession, dir: String): Dataset[Orders] = {
    import spark.implicits._; df(spark, dir, "orders").as[Orders]
  }
  def customer(spark: SparkSession, dir: String): Dataset[Customer] = {
    import spark.implicits._; df(spark, dir, "customer").as[Customer]
  }
  def nation(spark: SparkSession, dir: String): Dataset[Nation] = {
    import spark.implicits._; df(spark, dir, "nation").as[Nation]
  }
  def region(spark: SparkSession, dir: String): Dataset[Region] = {
    import spark.implicits._; df(spark, dir, "region").as[Region]
  }
  def supplier(spark: SparkSession, dir: String): Dataset[Supplier] = {
    import spark.implicits._; df(spark, dir, "supplier").as[Supplier]
  }
  def part(spark: SparkSession, dir: String): Dataset[Part] = {
    import spark.implicits._; df(spark, dir, "part").as[Part]
  }
  def events(spark: SparkSession, dir: String): Dataset[Event] = {
    import spark.implicits._; eventsNs(spark, dir).as[Event]
  }
  def documents(spark: SparkSession, dir: String): Dataset[Doc] = {
    import spark.implicits._; df(spark, dir, "documents").as[Doc]
  }
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    df(spark, dir, "embeddings")
}
