package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import graft.core.{Flow, Fold}
import graft.functions.{ByteBpe, TextFunctions}
import graft.operators.{Bloom, Dedup, LanguageModel, Sessions, Similarity, Vocabulary}
import graft.queries.{ExtQueries, Lineitem, Queries, QueryDef, Tables}
import graft.sources.GraftIO
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions.{col, length, sum}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** How a job's result leaves the engine. */
sealed trait Sink
case object Noop extends Sink
case object Parquet extends Sink
final case class Partitioned(cols: Seq[String]) extends Sink

final case class Job(qd: QueryDef, sink: Sink) {
  def name: String = qd.name
}

/** Times of one pass over the job list; a job that threw holds its message. */
final case class PassResult(label: String, seconds: Double,
    jobs: mutable.LinkedHashMap[String, Either[String, Double]])

/** The benchmark's JVM side. Invoked by `perfbench/run.py` as
  * `Harness key=value ...`; modes:
  *  - `setup`: build the session, run one trivial job, record setup time;
  *  - `oracles`: dump the registry's oracle SQL (no session);
  *  - `run`: a cold pass that stores every result for the output check,
  *    warm passes for at least `seconds` and, with `trace=1`, a traced pass
  *    plus per-layer probes.
  * Results go to the JSON file named by `result=`.
  */
object Harness {
  val MB = 1e6

  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    if (a("mode") == "oracles") {
      write(a("result"), Queries.oracleSql)
      return
    }
    val spark = session(a("cores").toInt, a("out"))
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1).count()
    val setupS = epochNow() - a("spawn").toDouble
    val result = mutable.LinkedHashMap[String, Any]("setup_s" -> setupS)
    try {
      if (a("mode") == "run") result ++= new Run(spark, a).apply()
    } finally {
      result("peak_rss_mb") = vmHwmMb()
      write(a("result"), result)
      spark.stop()
    }
  }

  def session(cores: Int, out: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()

  /** Total collection time of this JVM so far. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def epochNow(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond + i.getNano / 1e9
  }

  /** The JVM's resident-memory high-water mark (VmHWM), in MB. */
  def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble * 1024 / MB
  }

  def message(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse(""))
      .replaceAll("[\\x00-\\x1f]+", " ").take(300)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Computes every row and discards it, as the `noop` sink does, but on
    * the plan already forced by the caller, so planning is paid once.
    * Returns the row count.
    */
  def drain(df: DataFrame): Long = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("perfbench-drain")) {
      qe.toRdd.mapPartitions { it =>
        var n = 0L
        while (it.hasNext) { it.next(); n += 1 }
        Iterator.single(n)
      }.collect().sum
    }
  }

  /** Every physical node, looking through AQE wrappers and query stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Interpreted expressions in a plan: `CodegenFallback` and `ScalaUDF`. */
  def fallbackExprs(p: SparkPlan): Int =
    nodes(p).map(_.expressions.map(_.collect {
      case e: CodegenFallback => e
      case u: ScalaUDF => u
    }.size).sum).sum

  def dirBytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.endsWith(".parquet")) f.length else 0L
    walk(new File(path))
  }

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  def write(path: String, v: Any): Unit =
    Files.writeString(Paths.get(path), json(v) + "\n")
}

/** One `mode=run` invocation. */
final class Run(spark: SparkSession, a: Map[String, String]) {
  import Harness._

  private val MinWarmPasses = 3
  private val workload = a("workload")
  private val data = a("data")
  private val out = a("out")
  private val cores = a("cores").toInt
  private val registry = Queries.all.map(q => q.name -> q).toMap

  private def parseJob(spec: String): Job = {
    val (name, sink) = spec.split("@", 2) match {
      case Array(n) => (n, Noop)
      case Array(n, "parquet") => (n, Parquet)
      case Array(n, s) if s.startsWith("partitioned:") =>
        (n, Partitioned(s.stripPrefix("partitioned:").split("\\+").toSeq))
      case _ => throw new IllegalArgumentException(s"bad job spec $spec")
    }
    Job(registry.getOrElse(name, throw new IllegalArgumentException(s"unknown query $name")), sink)
  }

  private val jobs = a("jobs").split(",").toSeq.map(parseJob)

  private def store(j: Job, path: String, df: DataFrame): Unit = j.sink match {
    case Partitioned(cols) => GraftIO.storePartitionedParquet(path, cols)(df)
    case _ => GraftIO.storeParquet(path)(df)
  }

  /** One job as a user runs it: build the DataFrame through the registry,
    * plan it, then run its sink; with `keep`, every job stores its result
    * under that directory instead. Returns the DataFrame for plan reading.
    */
  private def runJob(j: Job, tr: Trace, keep: Option[String]): DataFrame = {
    val df = tr.span("queries.build")(j.qd.fn(spark, data))
    tr.span("plans.plan")(df.queryExecution.executedPlan)
    tr.span("exec.run") {
      (j.sink, keep) match {
        case (Noop, None) => drain(df)
        case _ => store(j, s"${keep.getOrElse(s"$out/store")}/${j.name}", df)
      }
    }
    df
  }

  private def pass(label: String, tr: Trace, list: Seq[Job] = jobs,
      keep: Option[String] = None,
      after: (Job, DataFrame) => Unit = (_, _) => ()): PassResult = {
    val times = mutable.LinkedHashMap[String, Either[String, Double]]()
    val t0 = System.nanoTime()
    list.foreach { j =>
      val s = System.nanoTime()
      times(j.name) =
        try {
          val df = tr.span(s"job.${j.name}")(runJob(j, tr, keep))
          val t = (System.nanoTime() - s) / 1e9
          after(j, df)
          Right(t)
        } catch { case e: Throwable => Left(message(e)) }
    }
    PassResult(label, (System.nanoTime() - t0) / 1e9, times)
  }

  private def passJson(p: PassResult) = Map(
    "label" -> p.label, "seconds" -> p.seconds,
    "jobs" -> p.jobs.map { case (n, r) => n -> r.fold(e => Map("error" -> e), t => Map("s" -> t)) })

  /** Traced only: each job's result is cached, then written again, so the
    * `sources.store` span holds only the write.
    */
  private def storeProbe(tr: Tracer): Unit = jobs.foreach { j =>
    val cached = j.qd.fn(spark, data).persist(StorageLevel.MEMORY_AND_DISK)
    cached.count()
    tr.span("sources.store")(store(j, s"$out/stored/${j.name}", cached))
    cached.unpersist(blocking = true)
  }

  /** The cold pass is the one-shot batch run: every job stores its result
    * under `out/check`, where the output check reads it. Warm passes then
    * run each job with its own sink until `seconds` have passed and at
    * least [[MinWarmPasses]] have run: the JIT is still speeding the first
    * warm pass up, and the median of three leaves it out.
    */
  def apply(): Map[String, Any] = {
    val seconds = a("seconds").toDouble
    val cold = pass("cold", NoTrace, keep = Some(s"$out/check"))
    val warm = mutable.ArrayBuffer[PassResult]()
    val w0 = System.nanoTime()
    while (warm.size < MinWarmPasses || (System.nanoTime() - w0) / 1e9 < seconds)
      warm += pass(s"warm${warm.size}", NoTrace)
    val base = Map[String, Any]("cold" -> passJson(cold), "warm" -> warm.map(passJson))
    if (a("trace") == "1") base ++ new Probes(new Tracer(spark.sparkContext, workload),
      warm.toSeq).apply()
    else base
  }

  /** The traced run: a traced pass over the jobs, then one probe per layer
    * entry point on cached inputs. Every probe's spans and listener
    * counters become the per-layer metrics.
    */
  final class Probes(tr: Tracer, warm: Seq[PassResult]) {
    private val listener = new SpanListener
    private val metrics = mutable.LinkedHashMap[String, Double]()
    private val errors = mutable.LinkedHashMap[String, String]()
    private var fallbacks = 0
    private var attempted = 0

    private def spans(name: String) = tr.spans.filter(_.name == name)
    private def secs(name: String) = spans(name).map(_.seconds).sum
    private def counters(name: String) = listener.sum(spans(name).map(_.id))

    /** Runs one probe; a probe that throws is reported, not fatal. */
    private def probe(name: String)(body: => Unit): Unit = {
      attempted += 1
      try body catch { case e: Throwable => errors(name) = message(e) }
    }

    private def cache(df: DataFrame): DataFrame = {
      val c = df.persist(StorageLevel.MEMORY_AND_DISK)
      c.count()
      c
    }

    private def table(t: String) = s"$data/$t.parquet"

    def apply(): Map[String, Any] = {
      val sc = spark.sparkContext
      sc.addSparkListener(listener)
      tr.pass = "traced"
      val gc0 = gcMs()
      val tracedPass = pass("traced", tr,
        after = (_, df) => fallbacks += fallbackExprs(df.queryExecution.executedPlan))
      // local mode runs every task in this JVM, so its collections are the
      // tasks' GC time; per-task jvmGCTime misses most of the short passes
      metrics("exec.gc_s") = (gcMs() - gc0) / 1e3
      // warm passes still speed up pass by pass, so the traced pass is set
      // against the untraced passes on either side of it
      sc.removeSparkListener(listener)
      val afterPass = pass("after-traced", NoTrace)
      metrics("trace.overhead_s") =
        tracedPass.seconds - (warm.last.seconds + afterPass.seconds) / 2
      sc.addSparkListener(listener)
      tr.pass = "probes"
      probe("sources.store")(storeProbe(tr))
      sources()
      val docs = cache(GraftIO.loadParquet(spark, table("documents")).select("doc_id", "text"))
      operatorsAndFunctions(docs)
      docs.unpersist(blocking = true)
      core()
      PerfbenchBus.drain(sc)
      sc.removeSparkListener(listener)
      layerMetrics()
      foreignJobs()
      val self = tr.selfSeconds
      Files.writeString(Paths.get(s"$out/spans.json"), json(tr.spans.map(s => Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "workload" -> s.workload,
        "pass" -> s.pass, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_s" -> self(s.id)))) + "\n")
      val layerSelf = tr.spans.groupBy(_.name.takeWhile(_ != '.'))
        .map { case (layer, ss) => layer -> ss.map(s => self(s.id)).sum }
      Map("traced" -> passJson(tracedPass), "after_traced" -> passJson(afterPass),
        "layer_metrics" -> metrics,
        "probe_errors" -> errors, "probe_attempted" -> attempted, "layer_self_s" -> layerSelf)
    }

    private def sources(): Unit = a("scan").split(",").foreach { t =>
      probe(s"sources.scan:$t") {
        tr.span("sources.scan")(drain(GraftIO.loadParquet(spark, table(t))))
      }
    }

    private def operatorsAndFunctions(docs: DataFrame): Unit = {
      val emb = cache(GraftIO.loadParquet(spark, table("embeddings")))
      val events = cache(Tables.eventsNs(spark, data))
      probe("operators.dedup_exact") {
        tr.span("operators.dedup_exact")(drain(Dedup.exact(docs, "doc_id", "text")))
      }
      probe("operators.minhash") {
        val pairs = tr.span("operators.minhash") {
          val df = Dedup.minhashNearDuplicates(docs, "doc_id", "text",
            shingle = 3, numHashes = 64, bands = 16, threshold = 0.7)
          df -> drain(df)
        }
        // candidate-join rows: the largest join output in the final plan,
        // which is the band-bucket self-join that proposes the pairs
        val candidates = nodes(pairs._1.queryExecution.executedPlan).collect {
          case j: BaseJoinExec => j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        }.foldLeft(0L)(math.max)
        metrics("operators.minhash_pairs") = pairs._2.toDouble
        metrics("operators.minhash_candidates") = candidates.toDouble
        metrics("operators.minhash_yield") =
          if (candidates > 0) pairs._2.toDouble / candidates else 0.0
      }
      var lm: Option[LanguageModel.NgramLm] = None
      probe("operators.lm_train") {
        lm = Some(tr.span("operators.lm_train")(LanguageModel.train(
          docs.where(col("doc_id") % 3 === 0), "doc_id", "text", minCount = 2)))
      }
      probe("operators.lm_score") {
        tr.span("operators.lm_score")(drain(
          LanguageModel.scoreDocsAuto(docs, "doc_id", "text", lm.get)))
      }
      probe("operators.oov") {
        val vocab = cache(Vocabulary.vocabulary(docs, "doc_id", "text", minCount = 20))
        tr.span("operators.oov")(drain(Vocabulary.oovRateAgainst(docs, "doc_id", "text", vocab)))
        vocab.unpersist(blocking = true)
      }
      probe("operators.knn") {
        tr.span("operators.knn")(drain(Similarity.bruteForceTopK(
          emb.where(col("vec_id") < 50), emb, "vec_id", "embedding", k = 10)))
      }
      probe("operators.sessions") {
        tr.span("operators.sessions")(drain(Sessions.batch(events,
          col("user_id"), col("ts"), col("event_id"), gap = 1800000000000L)))
      }
      emb.unpersist(blocking = true)
      events.unpersist(blocking = true)

      val textMb = docs.agg(sum(length(col("text")))).head().getLong(0) / MB
      val bloomM = 1 << 16
      val kernels = Seq(
        "functions.quality" -> (() => TextFunctions.qualityScore(col("text"))),
        "functions.fingerprint" -> (() => TextFunctions.fingerprint(col("text"))),
        "functions.lm_score" -> (() =>
          LanguageModel.scoreColumn(col("text"), LanguageModel.distill(lm.get))),
        "functions.bpe_bytes" -> (() =>
          ByteBpe.byteBpeText(col("text"), ExtQueries.ByteBpeFixtureMerges)),
        "functions.bloom_probe" -> (() => Bloom.contaminationColumn(col("text"),
          Bloom.buildFilter(docs.where(col("doc_id") % 50 === 0), "text", 3, bloomM, 3),
          3, bloomM, 3)),
        "functions.minhash_sig" -> (() => Dedup.minhashSignature(col("text"), 3, 64)))
      kernels.foreach { case (name, kernel) =>
        probe(name) {
          val df = docs.select(col("doc_id"), kernel().as("k"))
          tr.span(name)(drain(df))
        }
      }
      val kernelS = kernels.map { case (n, _) => secs(n) }.sum
      metrics("functions.kernel_mb_s") = if (kernelS > 0) textMb * kernels.size / kernelS else 0.0
    }

    private def core(): Unit = {
      import spark.implicits._
      val li = Tables.lineitem(spark, data).persist(StorageLevel.MEMORY_AND_DISK)
      val od = Tables.orders(spark, data).persist(StorageLevel.MEMORY_AND_DISK)
      li.count(); od.count()
      probe("core.fold") {
        tr.span("core.fold")(drain(
          Flow(li).groupBy(_.l_returnflag).fold(Fold.count[Lineitem]).toDF))
      }
      probe("core.cogroup") {
        tr.span("core.cogroup")(drain(
          Flow(od).cogroup(Flow(li))(_.o_orderkey)(_.l_orderkey)(
            (k, os, ls) => Iterator.single((k, os.size.toLong, ls.size.toLong))).toDF))
      }
      probe("core.reduce") {
        tr.span("core.reduce")(drain(Flow(li).map(_.l_quantity).reduce(_ + _).toDF))
      }
      li.unpersist(blocking = true)
      od.unpersist(blocking = true)
    }

    private def layerMetrics(): Unit = {
      val m = metrics
      val scanS = secs("sources.scan")
      val scanBytes = a("scan").split(",").map(t => dirBytes(table(t))).sum
      m("sources.scan_s") = scanS
      m("sources.scan_mb_s") = if (scanS > 0) scanBytes / MB / scanS else 0.0
      m("sources.scan_tasks") = counters("sources.scan").tasks.toDouble
      m("sources.store_s") = secs("sources.store")
      m("sources.store_mb") = dirBytes(s"$out/stored") / MB
      m("queries.build_s") = secs("queries.build")
      m("queries.build_jobs") = counters("queries.build").jobs.toDouble
      m("plans.plan_s") = secs("plans.plan")
      m("plans.fallback_exprs") = fallbacks.toDouble
      val runS = secs("exec.run")
      val ex = counters("exec.run")
      m("exec.run_s") = runS
      m("exec.tasks") = ex.tasks.toDouble
      m("exec.task_cpu_s") = ex.cpuNs / 1e9
      m("exec.core_util") = if (runS > 0) ex.runMs / 1e3 / (runS * cores) else 0.0
      m("exec.spill_mb") = ex.spillBytes / MB
      m("exec.peak_task_mem_mb") = ex.peakTaskMem / MB
      val xc = listener.sum(tr.spans.filter(_.pass == "traced").map(_.id))
      m("exchange.shuffle_write_mb") = xc.shuffleWrite / MB
      m("exchange.shuffle_read_mb") = xc.shuffleRead / MB
      m("exchange.records") = xc.shuffleRecords.toDouble
      // local mode reads every shuffle block locally, so fetch wait is always
      // 0; the time spent writing shuffle output is the exchange's busy time
      m("exchange.write_time_s") = xc.shuffleWriteNs / 1e9
      tr.spans.map(_.name).distinct
        .filter(n => Seq("functions.", "operators.", "core.").exists(n.startsWith))
        .foreach(n => m(s"${n}_s") = secs(n))
      jobs.foreach { j =>
        m(s"job.${j.name}_s") = median(warm.flatMap(_.jobs(j.name).toOption))
      }
    }

    /** Registry jobs of the other workloads, on this workload's inputs: the
      * second of two untraced runs is the warm time.
      */
    private def foreignJobs(): Unit = {
      val mine = jobs.map(_.name).toSet
      a("alljobs").split(",").filterNot(mine).foreach { name =>
        val j = Job(registry(name), Noop)
        attempted += 1
        val p = (1 to 2).map(_ => pass(s"foreign.$name", NoTrace, Seq(j))).last
        p.jobs(name) match {
          case Right(t) => metrics(s"job.${name}_s") = t
          case Left(e) => errors(s"job.$name") = e
        }
      }
    }
  }
}
