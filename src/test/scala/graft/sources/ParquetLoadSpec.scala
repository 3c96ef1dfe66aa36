package graft.sources

import java.nio.file.{Files, Path => JPath}

import graft.SparkTestSession
import org.apache.spark.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `GraftIO.loadParquet` reads the schema from one footer on the driver:
  * it must give exactly the schema (and rows) `spark.read.parquet` infers,
  * launch no Spark job, and fail the way `spark.read.parquet` fails.
  */
class ParquetLoadSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(): JPath = Files.createTempDirectory("graft-parquet-load")

  private def frame: DataFrame =
    (0 until 20).map(i => (i.toLong, s"text $i", i % 3, BigDecimal(i) / 7, Seq(i, i + 1)))
      .toDF("id", "text", "grp", "amount", "xs")
      .withColumn("ts", timestamp_seconds(col("id") * 3600))
      .withColumn("nested", struct(col("grp").as("g"), col("text").as("t")))

  /** Same schema and rows as `spark.read.parquet`; building the
    * DataFrame launches `jobs` Spark jobs (none, unless the load is left
    * to inference).
    */
  private def assertSameAsInference(path: String, jobs: Int = 0): DataFrame = {
    val (loaded, launched) = JobCount(spark.sparkContext)(GraftIO.loadParquet(spark, path))
    val inferred = spark.read.parquet(path)
    assert(loaded.schema == inferred.schema)
    assert(loaded.collect().toSet == inferred.collect().toSet)
    assert(launched == jobs, s"loadParquet launched $launched Spark jobs")
    loaded
  }

  test("a Spark-written file: the row-metadata schema, no job") {
    val dir = tmp().resolve("t.parquet").toString
    frame.coalesce(1).write.parquet(dir)
    val loaded = assertSameAsInference(dir)
    assert(loaded.columns.toSeq == frame.columns.toSeq)
    // the one data file itself, not its directory
    val file = Files.list(java.nio.file.Paths.get(dir)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    assertSameAsInference(file)
  }

  test("a hive-partitioned directory: partition columns are still appended") {
    val dir = tmp().resolve("p.parquet").toString
    GraftIO.storePartitionedParquet(dir, Seq("grp"))(frame)
    val loaded = assertSameAsInference(dir)
    assert(loaded.columns.last == "grp")
    assert(loaded.where(col("grp") === 1).count() == frame.where(col("grp") === 1).count())
    // a partition column that the files also hold is left to inference
    // and its one-task schema job
    val both = tmp().resolve("b.parquet")
    frame.where(col("grp") === 1).write.parquet(both.resolve("grp=1").toString)
    assertSameAsInference(both.toString, jobs = 1)
  }

  test("_SUCCESS and .crc files beside the data are skipped") {
    val dir = tmp().resolve("s.parquet")
    frame.repartition(3).write.parquet(dir.toString)
    val names = Files.list(dir).toArray.map(_.asInstanceOf[JPath].getFileName.toString)
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")),
      s"expected _SUCCESS and .crc files, got ${names.mkString(", ")}")
    assertSameAsInference(dir.toString)
  }

  test("a file without Spark row metadata converts under the session's conf") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // int64 nanos timestamps read as longs under the session's
    // spark.sql.legacy.parquet.nanosAsLong, as the generated tables' were
    val schema = MessageTypeParser.parseMessageType(
      """message doc {
        |  required int64 id;
        |  optional binary text (STRING);
        |  optional int64 ts (TIMESTAMP(NANOS,true));
        |  optional double value;
        |}""".stripMargin)
    val dir = tmp().resolve("x.parquet")
    Files.createDirectories(dir)
    val out = new org.apache.hadoop.fs.Path(dir.resolve("part-0.parquet").toString)
    val writer = ExampleParquetWriter.builder(out).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try (0 until 5).foreach { i =>
      writer.write(groups.newGroup().append("id", i.toLong).append("text", s"t$i")
        .append("ts", i * 1000000000L).append("value", i * 0.5))
    } finally writer.close()
    val loaded = assertSameAsInference(dir.toString)
    assert(loaded.schema("ts").dataType == org.apache.spark.sql.types.LongType)
  }

  test("a missing path fails with the same exception class as spark.read.parquet") {
    val missing = tmp().resolve("absent.parquet").toString
    val want = intercept[Exception](spark.read.parquet(missing))
    val got = intercept[Exception](GraftIO.loadParquet(spark, missing))
    assert(got.getClass == want.getClass)
    // a directory with no data file at all: inference's own error
    val empty = tmp().resolve("empty.parquet")
    Files.createDirectories(empty)
    Files.createFile(empty.resolve("_SUCCESS"))
    val wantEmpty = intercept[Exception](spark.read.parquet(empty.toString))
    assert(intercept[Exception](GraftIO.loadParquet(spark, empty.toString)).getClass ==
      wantEmpty.getClass)
  }
}
