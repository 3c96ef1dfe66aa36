package graft.sources

import graft.core.Flow
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.types.StructType

/** Sources and sinks (reference pigpen/io.clj + pigpen-parquet, SURVEY.md
  * §2.2). Each maps to a Spark DataSource, so partition discovery, split
  * computation, predicate pushdown, and column pruning come from the
  * platform — a loader here is a schema + options, not an execution path.
  */
object GraftIO {

  // ---- text-ish loads (reference io.clj:59-149) ----

  /** One string per line (reference `load-string`, io.clj:59-70). */
  def loadString(spark: SparkSession, path: String): Flow[String] =
    Flow(spark.read.textFile(path))

  /** Line → vector of fields (reference `load-tsv`, io.clj:72-86; split
    * keeps trailing empty cells, extensions/core.clj:95-108 — hence
    * `split(d, -1)`). `load-lazy` (io.clj:140-149) is the same relation.
    */
  def loadTsv(spark: SparkSession, path: String, delimiter: String = "\t"): Flow[Seq[String]] = {
    implicit val e: Encoder[Seq[String]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[String]]()
    Flow(spark.read.textFile(path).map(_.split(java.util.regex.Pattern.quote(delimiter), -1).toSeq))
  }

  /** RFC-4180 CSV, no embedded newlines (reference `load-csv`,
    * io.clj:88-104). Schema optional: supply to get typed native columns
    * (the fast lane); otherwise all-string. Quote-escaping is RFC-4180
    * doubled quotes (`""` inside a quoted cell → `"`), like the
    * reference's clojure-csv — hence escape defaults to the quote char.
    */
  def loadCsv(spark: SparkSession, path: String, schema: Option[StructType] = None,
      sep: String = ",", quote: String = "\""): DataFrame = {
    val r = spark.read.option("sep", sep).option("quote", quote).option("escape", quote)
    schema.fold(r)(s => r.schema(s)).csv(path)
  }

  /** JSON-per-line (reference `load-json`, io.clj:122-138). */
  def loadJson(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(s => r.schema(s)).json(path)
  }

  /** EDN-per-line (reference `load-clj`, io.clj:106-120). Parses the EDN
    * subset the reference's io tests exercise: maps w/ keyword keys,
    * vectors, strings, longs, doubles, booleans, nil.
    */
  def loadClj(spark: SparkSession, path: String): Flow[EdnValue] = {
    implicit val e: Encoder[EdnValue] = org.apache.spark.sql.Encoders.kryo[EdnValue]
    Flow(spark.read.textFile(path).map(Edn.parse _))
  }

  /** Columnar storage (reference pigpen-parquet:105-124). Filters and
    * projections over the result push down to the scan.
    *
    * The schema is read on the driver from one data file's footer and
    * handed to the reader, so a load launches no Spark job. It is the
    * rule Spark's own inference follows when `mergeSchema` is off (the
    * first data file by path, its Spark row metadata if present, else the
    * parquet schema converted under the session's conf), but inference
    * reads that one footer in a one-task job, ~0.1 s a load in local mode.
    * Partition columns are still discovered from the directory names.
    * Anything outside that rule goes through `spark.read.parquet`
    * unchanged, errors included: `mergeSchema` on, a glob or missing path,
    * summary files, no data file, or a partition column that is also a
    * column in the file.
    */
  def loadParquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.Footer
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
      ParquetFooterReader, ParquetToSparkSchemaConverter}
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(hadoopConf)
    // the leaf files Spark's file index lists, by its own hidden-name rule
    def leaves(s: FileStatus): Seq[FileStatus] =
      if (!s.isDirectory) Seq(s)
      else fs.listStatus(s.getPath).toSeq
        .filterNot(c => org.apache.spark.sql.GraftBridge.hiddenPathName(c.getPath.getName))
        .flatMap(leaves)
    val plain = !conf.isParquetSchemaMergingEnabled && !path.exists("{}[]*?\\".contains(_)) &&
      fs.exists(root)
    val files = if (plain) leaves(fs.getFileStatus(root)) else Nil
    // a remaining `_` name is a summary file, which inference reads first
    files.sortBy(_.getPath.toString).headOption
      .filterNot(_ => files.exists(_.getPath.getName.startsWith("_")))
      .flatMap { first =>
        val partCols = first.getPath.getParent.toString
          .stripPrefix(fs.makeQualified(root).toString).split('/')
          .filter(_.contains("=")).map(_.takeWhile(_ != '=').toLowerCase).toSet
        // an unreadable footer is left to inference: it fails or skips
        // the file exactly as `ignoreCorruptFiles` says
        val footer = try Some(ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(first, hadoopConf), ParquetMetadataConverter.SKIP_ROW_GROUPS))
          catch { case _: RuntimeException => None }
        footer.map(m => ParquetFileFormat.readSchemaFromFooter(new Footer(first.getPath, m),
            new ParquetToSparkSchemaConverter(conf)))
          .filterNot(_.fieldNames.exists(f => partCols(f.toLowerCase)))
      }
  }

  /** ORC — beyond the reference's format list (it had no columnar store
    * besides parquet); included because warehouse interchange at corpus
    * scale regularly lands ORC. Same pushdown/pruning properties via
    * Spark's native vectorized ORC source.
    */
  def loadOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def storeOrc(path: String)(df: DataFrame): Unit =
    df.write.mode("overwrite").orc(path)

  /** Arbitrary-source escape hatch (reference `load-tap`,
    * pigpen-cascading/cascading.clj:50-70 wrapped any Cascading tap): any
    * registered DataSource format with options.
    */
  def loadFormat(spark: SparkSession, format: String, path: String,
      options: Map[String, String] = Map.empty,
      schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.format(format).options(options)
    schema.fold(r)(s => r.schema(s)).load(path)
  }

  /** Arbitrary-sink escape hatch (reference `store-tap`). */
  def storeFormat(format: String, path: String,
      options: Map[String, String] = Map.empty)(df: DataFrame): Unit =
    df.write.mode("overwrite").format(format).options(options).save(path)

  /** Raw-file ingestion via Spark's `binaryFile` source: one row per file
    * with (path, modificationTime, length, content) — the intake path for
    * multimodal payloads that arrive as loose image/audio files before
    * they are compacted into parquet (`graft.operators.Multimodal`).
    * Pushdown note: a `length < N` predicate prunes at the FILE listing
    * (the source's supported filter), so oversized payloads never read.
    */
  def loadBinaryFiles(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("binaryFile").load(dir)

  /** Per-row file export: each row becomes one file `nameCol` holding
    * `payloadCol` bytes, written per-partition straight to the target
    * filesystem (no driver funnel). The EXPORT side of the loose-file
    * boundary — corpus-scale storage should pack payloads into parquet
    * instead (small-files problem); this exists for interchange with
    * tools that want real files.
    */
  def storeBinaryFiles(dir: String, nameCol: String = "name",
      payloadCol: String = "payload")(df: DataFrame): Unit = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.{col, count, lit}
    val spark = df.sparkSession
    // Validate BEFORE the destructive delete: names are data, so a '..'
    // or '/' would escape the target directory, a null name/payload NPEs
    // mid-write, and duplicate names across rows overwrite each other
    // nondeterministically (last writer wins per partition order). One
    // name-column-only aggregate catches all of it up front.
    val bad = df
      .select(col(nameCol).as("__name"),
        (col(payloadCol).isNull).cast("int").as("__nullPayload"))
      .groupBy("__name")
      .agg(count(lit(1)).as("__n"),
        org.apache.spark.sql.functions.sum(col("__nullPayload")).as("__nulls"))
      .where(col("__name").isNull || col("__name") === "" ||
        col("__name").contains("/") || col("__name").contains("\\") ||
        col("__name").contains("..") || col("__n") > 1 || col("__nulls") > 0)
      .select("__name").limit(5).collect().map(r => String.valueOf(r.get(0)))
    require(bad.isEmpty,
      s"storeBinaryFiles: invalid export names (null/empty/path-separator/" +
        s"'..'/duplicate, or null payload): ${bad.mkString(", ")}")
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    fs.mkdirs(root)
    // ship the SESSION's Hadoop conf to executors (credentials, scheme
    // registrations, defaultFS) — a bare new Configuration() would write
    // against a different filesystem view than the driver just prepared
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    df.select(org.apache.spark.sql.functions.col(nameCol),
        org.apache.spark.sql.functions.col(payloadCol))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        val pfs = new Path(dir).getFileSystem(serConf.value)
        it.foreach { r =>
          val out = pfs.create(new Path(dir, r.getString(0)), true)
          try out.write(r.getAs[Array[Byte]](1)) finally out.close()
        }
      }
  }

  /** Opaque-blob storage (reference `load-binary`, io.clj:30-35: nippy
    * blobs; here: java-serialized values in a one-binary-column parquet).
    */
  def loadBinary[T: Encoder](spark: SparkSession, path: String): Flow[T] = {
    import org.apache.spark.sql.functions.col
    Flow(spark.read.parquet(path).select(col("value"))
      .as(org.apache.spark.sql.Encoders.BINARY)
      .map((b: Array[Byte]) => deserialize[T](b)))
  }

  // ---- stores (reference io.clj:151-263) ----

  /** `str` per line (reference `store-string`, io.clj:182-194). */
  def storeString[T](path: String)(f: Flow[T]): Unit =
    f.ds.toDF().selectExpr("cast(" + f.ds.columns.head + " as string) as value")
      .write.mode("overwrite").text(path)

  /** Cells joined by delimiter (reference `store-tsv`, io.clj:196-212). */
  def storeTsv(path: String, delimiter: String = "\t")(f: Flow[Seq[String]]): Unit = {
    implicit val e: Encoder[String] = org.apache.spark.sql.Encoders.STRING
    f.map(_.mkString(delimiter)).ds.write.mode("overwrite").text(path)
  }

  /** RFC-4180 writer (doubled-quote escaping) so [[loadCsv]] round-trips. */
  def storeCsv(path: String)(df: DataFrame): Unit =
    df.write.mode("overwrite").option("escape", "\"").csv(path)

  def storeJson(path: String)(df: DataFrame): Unit =
    df.write.mode("overwrite").json(path)

  /** EDN per line (reference `store-clj`, io.clj:214-228). */
  def storeClj(path: String)(f: Flow[EdnValue]): Unit = {
    implicit val e: Encoder[String] = org.apache.spark.sql.Encoders.STRING
    f.map(Edn.print _).ds.write.mode("overwrite").text(path)
  }

  def storeParquet(path: String)(df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Hive-style partitioned parquet layout: the physical organization that
    * makes 100 TB scannable — a predicate on a partition column prunes
    * whole directories at planning time (`PartitionFilters` in the scan,
    * zero bytes read for pruned partitions).
    */
  def storePartitionedParquet(path: String, partitionCols: Seq[String])(df: DataFrame): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed table (requires the session catalog): co-locates both sides
    * of a frequent equi-join so the join is shuffle-free. `tableName` lands
    * in `spark.sql.warehouse.dir`.
    */
  def storeBucketedTable(tableName: String, bucketCol: String, buckets: Int)(df: DataFrame): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .format("parquet").saveAsTable(tableName)

  def storeBinary[T](path: String)(f: Flow[T]): Unit = {
    implicit val e: Encoder[Array[Byte]] = org.apache.spark.sql.Encoders.BINARY
    f.map((t: T) => serialize(t)).ds.toDF("value").write.mode("overwrite").parquet(path)
  }

  /** Multiple outputs from shared lineage (reference `store-many`,
    * io.clj:248-263). Persists every flow consumed more than once — the
    * Spark equivalent of the oven's structural dedup (oven.clj:122-159),
    * which Spark does NOT do across actions on its own.
    */
  def storeMany(outputs: (DataFrame => Unit, DataFrame)*): Unit = {
    val byPlan = outputs.groupBy(_._2)
    val shared = byPlan.collect { case (df, os) if os.size > 1 => df }
    shared.foreach(_.persist())
    try outputs.foreach { case (sink, df) => sink(df) }
    finally shared.foreach(_.unpersist())
  }

  /** Debug taps (reference oven.clj:163-184: `debug` mode appends a store
    * after every command, landing each intermediate at `<location><id>`).
    * Spark translation: stages are tapped by NAME (Spark plans have no
    * stable command ids) and land as typed parquet, not strings — Pig
    * relations are untyped so the reference pretty-prints; a columnar tap
    * preserves schema and stays scannable at any size. Tapped stages are
    * persisted for the duration of the store so the tap write and every
    * downstream sink share one computation of the stage (the oven gets
    * this from structural dedup, oven.clj:150-159; Spark's CacheManager
    * matches the persisted subplan inside the downstream plans).
    */
  final class DebugTaps(val location: String) {
    private val stages = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]

    /** Register a stage; returns the input unchanged so taps chain inline. */
    def tap(name: String, df: DataFrame): DataFrame = { stages.update(name, df); df }
    def tap[T](name: String, f: Flow[T]): Flow[T] = { stages.update(name, f.ds.toDF()); f }

    def stageNames: Seq[String] = stages.keys.toSeq
    def pathOf(name: String): String = location + "/" + name

    /** Write every tapped stage to `location/<name>` parquet, then run the
      * final sinks (same contract as [[storeMany]]).
      */
    def storeAll(outputs: (DataFrame => Unit, DataFrame)*): Unit = {
      stages.values.foreach(_.persist())
      try {
        stages.foreach { case (name, df) => storeParquet(pathOf(name))(df) }
        storeMany(outputs: _*)
      } finally stages.values.foreach(_.unpersist())
    }
  }

  private def serialize[T](t: T): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(t); oos.close(); bos.toByteArray
  }
  private def deserialize[T](b: Array[Byte]): T = {
    val ois = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(b))
    ois.readObject().asInstanceOf[T]
  }
}

/** EDN value model + reader/printer with the full printed-value surface the
  * reference's load-clj/store-clj round-trips (pigpen-core io.clj:106-120,
  * 214-228 — `clojure.edn/read-string` / `pr-str` accept ANY printed value):
  * nil, booleans, longs/doubles, strings, characters, keywords (incl.
  * namespaced), symbols, vectors, lists, sets, maps, and tagged forms
  * (#inst/#uuid/#custom/tag), nested arbitrarily. Insertion order is
  * preserved for maps and sets so print(parse(s)) is byte-stable.
  */
sealed trait EdnValue extends Serializable
object EdnValue {
  case object Nil extends EdnValue
  final case class Bool(b: Boolean) extends EdnValue
  final case class Num(d: Double, isInt: Boolean) extends EdnValue
  /** Integers outside Double's exact range (|v| > 2^53): kept as Long so
    * `pr-str` round-trips bit-exactly, as the reference's
    * clojure.edn/read-string does. Small integers stay [[Num]] (the shape
    * the rest of the codebase constructs/matches).
    */
  final case class LongNum(l: Long) extends EdnValue
  /** Clojure's wider numeric tower, round-tripped exactly: ratio `1/3`,
    * arbitrary-precision integer `3N`, arbitrary-precision decimal `1.5M`
    * (pr-str emits all three; clojure.edn reads them back).
    */
  final case class Ratio(n: Long, d: Long) extends EdnValue
  final case class BigIntNum(v: BigInt) extends EdnValue
  final case class BigDecNum(v: BigDecimal) extends EdnValue
  final case class Str(s: String) extends EdnValue
  final case class Ch(c: Char) extends EdnValue
  final case class Kw(name: String) extends EdnValue
  final case class Sym(name: String) extends EdnValue
  final case class Vec(items: Vector[EdnValue]) extends EdnValue
  final case class Lst(items: Vector[EdnValue]) extends EdnValue
  final case class SetV(items: Vector[EdnValue]) extends EdnValue
  final case class M(entries: Vector[(EdnValue, EdnValue)]) extends EdnValue
  final case class Tagged(tag: String, value: EdnValue) extends EdnValue
}

object Edn {
  import EdnValue._

  def parse(s: String): EdnValue = new P(s).value()

  /** Named characters the printer/reader agree on (clojure.core/char-name-string). */
  private val CharNames: Map[Char, String] = Map(
    '\n' -> "newline", ' ' -> "space", '\t' -> "tab", '\r' -> "return",
    '\b' -> "backspace", '\f' -> "formfeed")
  private val NameChars: Map[String, Char] = CharNames.map(_.swap)

  def print(v: EdnValue): String = v match {
    case Nil => "nil"
    case Bool(b) => b.toString
    case Num(d, true) => d.toLong.toString
    case Num(d, false) => d.toString
    case LongNum(l) => l.toString
    case Ratio(n2, d2) => s"$n2/$d2"
    case BigIntNum(v) => v.toString + "N"
    case BigDecNum(v) => v.toString + "M"
    case Str(s) => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\t' => "\\t"
      case '\r' => "\\r"
      case c => c.toString
    } + "\""
    case Ch(c) => "\\" + CharNames.getOrElse(c,
      if (c < ' ') f"u${c.toInt}%04x" else c.toString)
    case Kw(n) => ":" + n
    case Sym(n) => n
    case Vec(items) => items.map(print).mkString("[", " ", "]")
    case Lst(items) => items.map(print).mkString("(", " ", ")")
    case SetV(items) => items.map(print).mkString("#{", " ", "}")
    case M(es) => es.map { case (k, v2) => print(k) + " " + print(v2) }.mkString("{", ", ", "}")
    case Tagged(tag, v2) => "#" + tag + " " + print(v2)
  }

  private final class P(s: String) {
    private var i = 0
    private def ws(): Unit = {
      var more = true
      while (more) {
        while (i < s.length && (s(i).isWhitespace || s(i) == ',')) i += 1
        if (i < s.length && s(i) == ';') { // line comment
          while (i < s.length && s(i) != '\n') i += 1
        } else if (i + 1 < s.length && s(i) == '#' && s(i + 1) == '_') {
          // #_ discard reads like whitespace: skip the next form, then
          // keep scanning — this makes a discard legal anywhere a form
          // is (including as the LAST element before a closing
          // delimiter, where handling it inside v0 would parse the
          // closing bracket position as an empty symbol)
          i += 2; value(); ()
        } else more = false
      }
    }
    private def delim(c: Char): Boolean = c.isWhitespace || ",]})(}{[\";".contains(c)
    private def token(): String = {
      val st = i
      while (i < s.length && !delim(s(i))) i += 1
      s.substring(st, i)
    }
    def value(): EdnValue = {
      ws()
      if (i >= s.length)
        throw new IllegalArgumentException(
          s"unexpected end of EDN input at offset $i (a '#_' discard with no following value?)")
      v0()
    }
    private def seq0(close: Char): Vector[EdnValue] = {
      val b = Vector.newBuilder[EdnValue]
      ws(); while (s(i) != close) { b += value(); ws() }
      i += 1; b.result()
    }
    private def v0(): EdnValue = s(i) match {
      case '{' => i += 1; val b = Vector.newBuilder[(EdnValue, EdnValue)]
        ws(); while (s(i) != '}') { val k = value(); val v = value(); b += ((k, v)); ws() }
        i += 1; M(b.result())
      case '[' => i += 1; Vec(seq0(']'))
      case '(' => i += 1; Lst(seq0(')'))
      case '#' =>
        i += 1
        if (s(i) == '{') { i += 1; SetV(seq0('}')) }
        // '#_' never reaches here: ws() consumes discards as whitespace
        else { val tag = token(); Tagged(tag, value()) }
      case '"' => i += 1; val sb = new StringBuilder
        while (s(i) != '"') {
          if (s(i) == '\\') {
            i += 1
            s(i) match {
              case 'n' => sb += '\n'
              case 't' => sb += '\t'
              case 'r' => sb += '\r'
              case 'b' => sb += '\b'
              case 'f' => sb += '\f'
              case 'u' =>
                sb += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar
                i += 4
              case c => sb += c
            }
          }
          else sb += s(i)
          i += 1
        }
        i += 1; Str(sb.result())
      case '\\' =>
        i += 1
        val tok = token()
        if (tok.length == 1) Ch(tok.head)
        else if (tok.startsWith("u") && tok.length == 5)
          Ch(Integer.parseInt(tok.substring(1), 16).toChar)
        else Ch(NameChars.getOrElse(tok,
          throw new IllegalArgumentException(s"unreadable char literal \\$tok")))
      case ':' => i += 1; Kw(token())
      case c if c.isDigit || ((c == '-' || c == '+') && i + 1 < s.length && s(i + 1).isDigit) =>
        val st = i; i += 1
        while (i < s.length && (s(i).isDigit || s(i) == '.' || s(i) == 'e' || s(i) == 'E' ||
            s(i) == '-' || s(i) == '+' || s(i) == '/' || s(i) == 'N' || s(i) == 'M')) i += 1
        val tok = s.substring(st, i)
        if (tok.endsWith("N")) BigIntNum(BigInt(tok.dropRight(1)))
        else if (tok.endsWith("M")) BigDecNum(BigDecimal(tok.dropRight(1)))
        else if (tok.contains('/')) {
          val Array(n, d) = tok.split("/", 2)
          Ratio(n.toLong, d.toLong)
        }
        else if (tok.exists(c2 => c2 == '.' || c2 == 'e' || c2 == 'E')) Num(tok.toDouble, isInt = false)
        else {
          val l = tok.toLong
          // 2^53 bound: beyond it Double can't hold the integer exactly
          if (l >= -9007199254740992L && l <= 9007199254740992L) Num(l.toDouble, isInt = true)
          else LongNum(l)
        }
      case _ =>
        token() match {
          case "nil" => Nil
          case "true" => Bool(true)
          case "false" => Bool(false)
          case other => Sym(other)
        }
    }
  }
}
