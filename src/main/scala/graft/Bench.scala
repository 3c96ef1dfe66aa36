package graft

import graft.queries.{Queries, QueryDef}
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs the headline queries (QueryDef.bench) and emits
  * the bench artifact. One warm-up pass primes the JVM/codegen caches,
  * then each query is timed SPARK_GRAFT_BENCH_N times (default 3) and
  * the STEADY-STATE MEDIAN over every clean pass of every attempt is the
  * number of record (round 14 — totals, per-query times and the
  * reported `spark_over_duckdb*` ratios all read it); the cross-attempt
  * MIN is retained as `queries_min*`/`spark_over_duckdb_min*` in the
  * full artifact, and the VALIDITY GUARD evaluates on the mins — the
  * best-known-good history is min-based, so min-vs-min is the only
  * like-for-like comparison (guarding medians against that history
  * flagged a clean idle-box run wholesale: 6 phantom 2-3× "jumps", all
  * the median/min statistic gap — measured r14). Rationale: min-of-attempts on a box whose idleness
  * varies round to round produced wholesale +19% "regressions" with no
  * plan diffs (r12→r13 sf0.1 lane) — the median is the number two
  * different rounds can actually compare, while the min remains the
  * best-achievable floor for A/B work. A
  * query that throws is reported as value -1 with its message in an
  * "errors" field, and the headline total becomes -1 as well — a failure
  * can never read as a fast success at either level.
  *
  * Three lanes since r10:
  *  - the PRIMARY lane on the driver's sf dir (unchanged contract);
  *  - an INFLATED-ROWS lane (`*_x16` fields) on the deterministic 16×
  *    twin (InflatedCorpus) with its own DuckDB anchor at the same
  *    scale — sf0.1 keeps most headliners inside Spark's fixed
  *    ~0.1-0.3 s scheduling overhead, so only inflated ratios measure
  *    WORK. Disable with SPARK_GRAFT_X16=0.
  *  - a DOCUMENT-LENGTH lane (`*_len` fields, documents-only headliners)
  *    on the 4×-rows ~16×-length twin: at ~300 bytes/doc even 16× rows
  *    never leaves the fixed-cost regime for per-document operators
  *    (ProbeFingerprint: scan is 209 ms of a 457 ms job), so this lane
  *    is where langid/LM/quality/fingerprint ratios measure real
  *    per-document work. Disable with SPARK_GRAFT_LEN=0.
  *  Both secondary twins are materialized once per machine
  *  (marker-gated) and reused across runs.
  *
  * Lane validity (round 12, per-query; round 13, ratchet-proof): with a
  * guard reference (DuckDB anchors + at least one prior valid artifact)
  * a lane is valid iff NO headliner's merged-MIN spark/duckdb ratio
  * exceeds 2× its BEST-KNOWN-GOOD ratio — the element-wise min across
  * every prior valid artifact (bench_out.json + all BENCH_r*.json), not
  * just last round's, so sustained contention can never ratchet the
  * accepted baseline upward; an invalid lane names the contended queries
  * in `ratio_guard` instead of discarding every good row. The suite-level calibration
  * drift sentinel (same query timed before/after the suite, median-of-3
  * per read) is still measured and reported as `drift_pct` but is
  * ADVISORY in this mode — the r11 driver record invalidated a whole
  * 16-row x16 lane on 61% calibration drift while every per-query ratio
  * was green. Without a guard reference, drift (> 25%) gates validity as
  * it did in r10-r11. Contaminated lanes RE-RUN bounded
  * (SPARK_GRAFT_BENCH_ATTEMPTS, default 3) on merged-median evidence
  * (extra attempts add clean passes, pulling the median to steady state);
  * if contamination persists the artifact self-labels `"valid": false`
  * in-band with the culprit queries named.
  *
  * Artifact plumbing (r10): the FULL JSON (raw per-query times, DuckDB
  * anchors, calibration reads, all lanes) is written to bench_out.json
  * (SPARK_GRAFT_BENCH_OUT); stdout gets ONE COMPACT line — totals,
  * primary per-query times, spark/duckdb ratios, drift sentinels — that
  * stays inside the driver's 2000-char tail-capture window. The r9
  * stdout line outgrew that window and the machine-readable artifact
  * became `"parsed": null`.
  *
  * Contention sentinel (r15): every attempt of every lane records
  * 1-minute loadavg + running-process count at start and end plus the
  * attempt's wall time (`box`/`box_x16`/`box_len` arrays — full
  * artifact always, compact line when the lane is invalid), so an
  * invalid lane is attributable to box load vs code from the artifact
  * alone (the r14 driver x16 lane shipped `valid: false` on a 39-minute
  * wall with no way to tell).
  */
object Bench {
  private val DriftValidPct = 25.0

  /** Median of a non-empty sample — the per-query number of record. */
  private def median(ts: Seq[Double]): Double = {
    val s = ts.sorted; val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Documents-only headliners: the queries the LENGTH lane runs (every
    * other bench query reads tables the length recipe does not change).
    */
  private val LenLaneQueries = Set(
    "q_dedup_exact", "q_dedup_paragraph", "q_substring_spans",
    "q_contamination_bloom", "q_oov_rate", "q_lm_score", "q_entropy",
    "q_pipeline", "q_phash", "q_bpe_bytes")

  private def jstr(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Locale-independent 4-decimal rendering (an f"%.4f" would emit a
    * comma decimal separator — invalid JSON — under e.g. de_DE locale).
    */
  private def fmt(d: Double): String = (math.rint(d * 10000) / 10000).toString

  /** One timed pass; Left(message) on failure, message flattened so it
    * can never break the single-JSON-line contract.
    *
    * TIMED ACTION = the noop sink since r15 (guide §1.4): it computes
    * EVERY output column of every row and discards the result, exactly
    * what the DuckDB anchor pays (`fetchall()` materializes the full
    * oracle result). The historical `.count()` action let the optimizer
    * prune computed output columns — ProbeAction (r15, sf0.1) measured
    * q_bpe_bytes at 3.2× its count-pruned reading, q_q1 2.3× (the
    * decimal sums were pruned under count), q_window_lag 2.4×, q_dsir
    * 1.36×, q_lm_score 1.26× — so count-based rows under-measured the
    * work for every query whose tail is a projection or whose aggregate
    * outputs weren't needed to count rows. The count-action reading is
    * retained per query as `queries_cnt*` (one pass per attempt) for
    * cross-round continuity with r14-and-earlier artifacts, and the
    * artifact self-describes with `"timed_action":"noop"` so the
    * validity guard never compares ratios across methodologies.
    */
  private def timed(spark: SparkSession, qd: QueryDef, dir: String): Either[String, Double] = {
    val t0 = System.nanoTime()
    try {
      qd.fn(spark, dir).write.format("noop").mode("overwrite").save()
      Right((System.nanoTime() - t0) / 1e9)
    } catch {
      case e: Throwable =>
        Left(e.getClass.getSimpleName + ": " +
          Option(e.getMessage).getOrElse("")
            .replaceAll("[\\x00-\\x1f]+", " ").take(200))
    }
  }

  /** One count-action pass — the r14-and-earlier methodology, kept
    * in-band (`queries_cnt*`) so rounds across the action switch stay
    * comparable. Failures surface through the noop passes; here they
    * just omit the row. */
  private def timedCount(spark: SparkSession, qd: QueryDef, dir: String): Option[Double] = {
    val t0 = System.nanoTime()
    try { qd.fn(spark, dir).count(); Some((System.nanoTime() - t0) / 1e9) }
    catch { case _: Throwable => None }
  }

  /** One box-load sample: 1-minute /proc/loadavg + running-process count
    * (numeric /proc entries). -1 on an unreadable procfs — the sentinel
    * must never take down the bench.
    */
  private def boxSample(): (Double, Int) = {
    val load = scala.util.Try(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).split("\\s+")(0).toDouble)
      .getOrElse(-1.0)
    val procs = scala.util.Try(
      new java.io.File("/proc").listFiles()
        .count(f => f.getName.nonEmpty && f.getName.forall(_.isDigit)))
      .getOrElse(-1)
    (load, procs)
  }

  /** Pre-rendered per-attempt contention record (round 15 — the r14
    * driver x16 lane shipped `valid: false` on a 39-minute wall with
    * nothing in the artifact attributing it to box load vs code; these
    * samples make an invalid lane self-describing).
    */
  private def boxJson(start: (Double, Int), end: (Double, Int), wallSec: Double): String =
    s"""{"load0":${fmt(start._1)},"procs0":${start._2},"load1":${fmt(end._1)},"procs1":${end._2},"wall":${fmt(wallSec)}}"""

  private final case class Lane(
      results: Seq[(String, Either[String, Double])],
      calibration: Option[(String, Either[String, Double], Either[String, Double])],
      attempts: Int = 1,
      // one pre-rendered contention record per attempt: loadavg +
      // process count at attempt start/end plus the attempt's wall time
      // — full-artifact always, compact line when the lane is invalid
      box: Seq[String] = Nil,
      // per-attempt raw times (only > 1 entry when a sentinel re-ran the
      // lane) — full-artifact-only, for post-hoc contention attribution
      history: Seq[Seq[(String, Either[String, Double])]] = Nil,
      // every successful pass time per query, across ALL attempts —
      // feeds the steady-state median (the number of record) and the
      // `queries_min*` floor in the full artifact
      raw: Map[String, Seq[Double]] = Map.empty,
      // one count-action pass per query per attempt (min across
      // attempts): the r14-and-earlier methodology, kept for cross-round
      // continuity across the r15 noop-action switch (full artifact only)
      cnt: Map[String, Seq[Double]] = Map.empty,
      // queries whose MIN-based spark/duckdb ratio exceeded 2x the
      // previous VALID artifacts' best-known-good (round 14: the guard
      // reads cross-attempt MINS — like-for-like with the min-based
      // history — while `results` reports the medians)
      ratioJumps: Map[String, Double] = Map.empty,
      // the lane's validity verdict: per-query when the ratio guard has
      // a reference (round 12), calibration-drift fallback otherwise;
      // None = no signal at all (guard inert AND calibration crashed)
      validity: Option[Boolean] = None) {
    /** (drift_pct, valid) when both calibration reads succeeded. */
    def drift: Option[(Double, Boolean)] = calibration match {
      case Some((_, Right(t0), Right(t1))) if math.min(t0, t1) > 0 =>
        val pct = math.rint(math.abs(t1 - t0) / math.min(t0, t1) * 1000) / 10
        Some((pct, pct <= DriftValidPct))
      case _ => None
    }
  }

  /** Warm-up + N timed passes over the bench set on one data dir, with
    * the first/last calibration reads for the drift sentinel. (The
    * per-attempt `results` keep min-of-passes semantics for the retry
    * loop's error bookkeeping; the cross-attempt number of record is the
    * median, computed in [[runValidLane]].) */
  private def runLane(spark: SparkSession, benchSet: Seq[QueryDef], dir: String,
      passes: Int): Lane = {
    val boxStart = boxSample()
    val wall0 = System.nanoTime()
    benchSet.foreach { qd =>
      try qd.fn(spark, dir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    // drift sentinel: the SAME fixed calibration query timed before and
    // after the whole suite. On an idle box the two reads agree to a few
    // percent; host contention mid-run (the r6 artifact's failure mode,
    // SCALE.md drift envelope) shows up as a large spread. Each read is
    // the MEDIAN of 3 runs: sustained contention raises all three (so
    // the sentinel still fires), while a single GC/JIT spike — which on
    // the x16 lane swings a lone q_q1 run 0.27-0.57 s and was tripping
    // the sentinel on an IDLE box (drift_pct 30-48 across three runs,
    // always first>last) — cannot fake a drift reading by itself.
    // min-of-3 would go too far: it hides the very contention this
    // measures.
    def calRead(qd: QueryDef): Either[String, Double] = {
      val runs = Seq.fill(3)(timed(spark, qd, dir))
      runs.collectFirst { case l @ Left(_) => l }
        .getOrElse(Right(runs.collect { case Right(t) => t }.sorted.apply(1)))
    }
    // calibration must sit in the WORK regime, not the scheduling regime:
    // q_q1's x16 median swings 0.24-0.56 s on an IDLE box (ProbeCal — pure
    // task-scheduling jitter on a sub-second 32-task query), which read as
    // 92% phantom drift and invalidated a clean lane. q_pipeline is
    // work-dominated in every lane (~1-4 s) so the same ±0.3 s absolute
    // jitter stays inside the 25% gate while sustained contention still
    // inflates it proportionally.
    val calibration = benchSet.find(_.name == "q_pipeline")
      .orElse(benchSet.find(_.name == "q_q1")).orElse(benchSet.headOption)
    // prime the calibration query specifically (beyond the one suite
    // warm-up pass) so the first read compares a C2-warm JVM against a
    // C2-warm JVM — without this, a fresh-JVM first lane reads its own
    // JIT warm-in as 25-30% "drift" on an idle box
    calibration.foreach(qd => (1 to 3).foreach(_ => timed(spark, qd, dir)))
    val calFirst = calibration.map(calRead)
    val passTimes = benchSet.map { qd =>
      qd.name -> Seq.fill(passes)(timed(spark, qd, dir))
    }
    val results = passTimes.map { case (name, runs) =>
      // min over the good passes; any failed pass poisons the query
      val r = runs.collectFirst { case l @ Left(_) => l }
        .getOrElse(Right(runs.collect { case Right(t) => t }.min))
      name -> r
    }
    // count-action compat passes (the pre-r15 methodology), MIN-of-3 per
    // attempt (r16): one pass per attempt made the r14-comparable rows
    // single-sample readings — in the r15 driver artifact UNTOUCHED
    // queries swung to 0.61-0.71x on them (plans identical mod expr-IDs)
    // while their noop medians were flat, so the continuity series was
    // too noisy to carry cross-era comparisons. Three passes cost ~10 s
    // per lane and put the compat rows on the same min-of-passes footing
    // as the historical records they are compared against.
    val cntTimes = benchSet.map { qd =>
      qd.name -> Seq.fill(3)(timedCount(spark, qd, dir)).flatten
    }
    val calLast = calibration.map(calRead)
    Lane(results, (calibration, calFirst, calLast) match {
      case (Some(qd), Some(f), Some(l)) => Some((qd.name, f, l))
      case _ => None
    }, box = Seq(boxJson(boxStart, boxSample(), (System.nanoTime() - wall0) / 1e9)),
      raw = passTimes.map { case (n, rs) => n -> rs.collect { case Right(t) => t } }.toMap,
      cnt = cntTimes.toMap)
  }

  /** Per-query ratio guard (round 11): queries whose spark/duckdb ratio
    * on THIS lane exceeds 2× the previous VALID artifact's ratio for the
    * same query. Contention inflates — only the worse direction re-runs
    * (an improvement is progress, not contamination). Queries absent
    * from the previous artifact (new headliners) are exempt.
    */
  private def ratioJumps(lane: Lane, duck: Map[String, Double],
      prev: Map[String, Double]): Map[String, Double] =
    lane.results.collect {
      case (k, Right(t)) if duck.get(k).exists(_ > 0) && prev.get(k).exists(_ > 0) &&
          t / duck(k) > 2.0 * prev(k) =>
        k -> math.rint(t / duck(k) / prev(k) * 100) / 100
    }.toMap

  /** Run a lane to a VALID verdict, bounded by `maxAttempts`.
    *
    * Validity is PER-QUERY when the ratio guard has a reference (a
    * previous valid artifact + DuckDB anchors): the lane is valid iff no
    * headliner's spark/duckdb ratio — on the cross-attempt element-wise
    * MIN merge, the statistic the historical reference uses — exceeds 2× its
    * previous valid ratio, and an invalid lane NAMES the contended
    * queries in-band (`ratio_guard`) instead of discarding every good
    * row. The suite-level calibration drift stays in the artifact but is
    * ADVISORY in this mode: the r11 driver record invalidated its whole
    * x16 lane on 61% calibration drift while every per-query ratio in
    * that same run was green — a contended 15-minute window is not
    * evidence that any individual per-query reading is wrong, and the
    * per-query guard sees exactly the readings that are.
    *
    * Retry policy (the merged-minima loop, round 12): the loop gates on
    * the jump set of the RUNNING merge, so a clean merge exits early
    * instead of burning attempts on a last-attempt-only reading; a
    * drifting calibration buys at most ONE extra attempt (more min
    * samples under suspected contention), jump evidence up to
    * `maxAttempts`. Without a guard reference the old drift-gated loop
    * and drift-based validity apply unchanged. A lane whose calibration
    * CRASHED has no drift reading; the failure already surfaces through
    * the query's own error entry, so it is not retried here.
    */
  private def runValidLane(spark: SparkSession, benchSet: Seq[QueryDef], dir: String,
      passes: Int, maxAttempts: Int, duck: Map[String, Double] = Map.empty,
      prevRatios: Map[String, Double] = Map.empty): Lane = {
    var lane = runLane(spark, benchSet, dir, passes)
    val attemptsSeen = scala.collection.mutable.ArrayBuffer(lane.results)
    val rawSeen = scala.collection.mutable.ArrayBuffer(lane.raw)
    val cntSeen = scala.collection.mutable.ArrayBuffer(lane.cnt)
    val boxSeen = scala.collection.mutable.ArrayBuffer(lane.box: _*)
    // steady-state MEDIAN over every clean pass of every attempt so far —
    // the number of record since round 14 (totals, per-query times, the
    // reported ratios); error semantics unchanged: a query is an error
    // iff no attempt produced a clean pass (any failed pass poisons its
    // attempt)
    def mergedRawSoFar: Map[String, Seq[Double]] = rawSeen.flatMap(_.toSeq)
      .groupBy(_._1).map { case (k, vs) => k -> vs.flatMap(_._2).toSeq }
    def pick(stat: Seq[Double] => Double): Seq[(String, Either[String, Double])] = {
      val raws = mergedRawSoFar
      lane.results.map { case (k, last) =>
        val ok = attemptsSeen.exists(_.exists { case (n, r) => n == k && r.isRight })
        val ts = raws.getOrElse(k, Nil)
        k -> (if (ok && ts.nonEmpty) Right(stat(ts)) else last): (String, Either[String, Double])
      }
    }
    def merged = pick(median)
    // the GUARD evaluates on cross-attempt MINS against a min-based
    // best-known-good history — like for like. Guarding medians against
    // that history flags clean lanes wholesale (measured, this round's
    // first flip attempt: drift sentinels 5.4/9.5/2.6% on an idle box,
    // yet 6 "jumps" of 2.0-3.0×, every one the median/min statistic gap,
    // none contention). The min is also the sharper contamination
    // signal: it is the best reading the lane ever saw, so a min that
    // doubles means every single pass was slow.
    def minMerged = pick(_.min)
    val guardActive = duck.nonEmpty && prevRatios.nonEmpty
    def mergedJumps = ratioJumps(lane.copy(results = minMerged), duck, prevRatios)
    def contaminated(attempt: Int): Boolean =
      if (guardActive)
        mergedJumps.nonEmpty || (attempt < 2 && lane.drift.exists(!_._2))
      else lane.drift.exists(!_._2)
    var attempt = 1
    while (attempt < maxAttempts && contaminated(attempt)) {
      attempt += 1
      lane = runLane(spark, benchSet, dir, passes)
      attemptsSeen += lane.results
      rawSeen += lane.raw
      cntSeen += lane.cnt
      boxSeen ++= lane.box
    }
    val mergedCnt = cntSeen.flatMap(_.toSeq).groupBy(_._1)
      .map { case (k, vs) => k -> vs.flatMap(_._2).toSeq }
    val out = lane.copy(results = merged, attempts = attempt,
      history = if (attemptsSeen.length > 1) attemptsSeen.toSeq else Nil,
      box = boxSeen.toSeq, raw = mergedRawSoFar, cnt = mergedCnt)
    val jumps = ratioJumps(lane.copy(results = minMerged, raw = mergedRawSoFar),
      duck, prevRatios)
    out.copy(ratioJumps = jumps,
      validity = if (guardActive) Some(jumps.isEmpty) else lane.drift.map(_._2))
  }

  /** DuckDB anchor: min-of-N wall-times for the SAME oracle SQL on the
    * SAME parquet (scripts/duckdb_bench.py, provenance in BASELINE.md).
    * Missing/unreadable anchor file ⇒ empty map ⇒ fields omitted — a
    * corrupt anchor must never take down the PRIMARY bench output.
    */
  private def duckRef(envVar: String, fileName: String): Map[String, Double] = {
    val candidates = Seq(sys.env.getOrElse(envVar, ""),
      fileName, s"/root/repo/$fileName")
    candidates.filter(_.nonEmpty).map(new java.io.File(_)).find(_.isFile).flatMap { f =>
      scala.util.Try {
        import scala.jdk.CollectionConverters._
        val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
        Option(root.get("queries")).map(_.fields().asScala
          .map(e => e.getKey -> e.getValue.asDouble).toMap)
      }.toOption.flatten
    }.getOrElse(Map.empty)
  }

  /** Best-known-good spark/duckdb ratios for lane `sfx`: the element-wise
    * MIN over EVERY prior artifact whose lane self-labeled valid — the
    * committed bench_out.json, every committed BENCH_r*.json driver
    * record, and SPARK_GRAFT_PREV_BENCH if set. Anchoring to last round
    * alone lets sustained contention RATCHET: q_revenue_by_nation drifted
    * 4.38× → 7.23× (+65%) inside one 2×-leash round, and two such moves
    * compound past any leash. The min over all valid history can only go
    * DOWN, so the accepted baseline never inflates; a deliberate plan
    * change that's slower at this scale must either stay within 2× of the
    * best-ever ratio or carry an explicit re-anchor (new artifact name).
    * Unreadable files are skipped; no valid lane anywhere ⇒ empty map ⇒
    * the guard is inert (never blocks the primary output).
    */
  private def prevValidRatios(sfx: String): Map[String, Double] = {
    val repoArtifacts = Seq(".", "/root/repo").flatMap { d =>
      val dir = new java.io.File(d)
      Option(dir.listFiles()).toSeq.flatten
        .filter(f => f.getName.matches("BENCH_r\\d+\\.json") || f.getName == "bench_out.json")
    }
    val candidates = (Seq(sys.env.getOrElse("SPARK_GRAFT_PREV_BENCH", ""))
      .filter(_.nonEmpty).map(new java.io.File(_)) ++ repoArtifacts)
      .filter(_.isFile).distinct
    val perArtifact = candidates.flatMap { f =>
      scala.util.Try {
        import scala.jdk.CollectionConverters._
        var root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
        // driver records wrap the stdout line under "parsed"
        if (root.has("parsed") && root.get("parsed").isObject) root = root.get("parsed")
        // methodology gate (r15): the guard may only compare like
        // actions. r15+ artifacts self-describe with "timed_action":
        // "noop"; r14-and-earlier records are count-based and their
        // (count-pruned) ratios would false-flag every noop reading that
        // honestly pays the full column computation.
        val sameAction = Option(root.get("timed_action")).exists(_.asText("") == "noop")
        if (sameAction && Option(root.get(s"valid$sfx")).exists(_.asBoolean(false)))
          // prefer the explicit min-based field (r14+ full artifacts);
          // legacy artifacts' spark_over_duckdb IS min-based, and any
          // median-based rows that slip in only raise entries the
          // element-wise min below discards — the reference can only
          // tighten, never ratchet
          Option(root.get(s"spark_over_duckdb_min$sfx"))
            .orElse(Option(root.get(s"spark_over_duckdb$sfx")))
            .map(_.fields().asScala
              .map(e => e.getKey -> e.getValue.asDouble).toMap)
        else None
      }.toOption.flatten
    }
    perArtifact.flatMap(_.toSeq).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).min }
  }

  /** Render one lane's JSON fields; `sfx` is "" (primary), "_x16", or
    * "_len". `compact` is the stdout rendering: it keeps totals, the
    * PRIMARY lane's per-query times, the spark/duckdb ratios, and the
    * drift sentinel, and drops raw anchor values, calibration reads, and
    * secondary-lane per-query times (all preserved in bench_out.json) so
    * the stdout line fits the driver's tail-capture window.
    * Returns (fields, laneTotal) — the primary lane's total is also the
    * artifact's top-level "value".
    */
  private def laneFields(lane: Lane, duck: Map[String, Double], sfx: String,
      compact: Boolean, ratiosToo: Boolean = true): (String, Double) = {
    // `queries$sfx` carries the steady-state MEDIANS (the number of
    // record since round 14); the cross-attempt MIN — the best-achievable
    // floor, the r13-and-earlier number of record — rides in the full
    // artifact as `queries_min$sfx`
    val qs = lane.results.map { case (k, v) =>
      jstr(k) + ":" + v.fold(_ => "-1", fmt)
    }.mkString("{", ",", "}")
    val qField = if (compact && sfx.nonEmpty) "" else s""","queries$sfx":$qs"""
    val minField =
      if (compact || lane.raw.isEmpty) ""
      else lane.results.collect { case (k, Right(_)) if lane.raw.getOrElse(k, Nil).nonEmpty =>
        jstr(k) + ":" + fmt(lane.raw(k).min)
      }.mkString(s""","queries_min$sfx":{""", ",", "}")
    // count-action compat rows (min across attempts) — the pre-r15
    // methodology, full artifact only, so r15+ noop-based artifacts stay
    // directly comparable to the r14-and-earlier count-based records
    val cntField =
      if (compact || lane.cnt.forall(_._2.isEmpty)) ""
      else lane.results.collect { case (k, Right(_)) if lane.cnt.getOrElse(k, Nil).nonEmpty =>
        jstr(k) + ":" + fmt(lane.cnt(k).min)
      }.mkString(s""","queries_cnt$sfx":{""", ",", "}")
    val errs = lane.results.collect { case (k, Left(e)) => jstr(k) + ":" + jstr(e) }
    val errField = if (errs.isEmpty) "" else errs.mkString(s""","errors$sfx":{""", ",", "}")
    val anchorFields = if (duck.isEmpty || (compact && !ratiosToo)) "" else {
      val refs = lane.results.collect { case (k, _) if duck.contains(k) =>
        jstr(k) + ":" + duck(k) }
      val ratios = lane.results.collect {
        case (k, Right(t)) if duck.contains(k) && duck(k) > 0 =>
          jstr(k) + ":" + (math.rint(t / duck(k) * 1000) / 1000).toString
      }
      // min-based ratios (full artifact only): what the validity guard
      // compares — like-for-like against the min-based best-known-good
      // history — while the median-based `spark_over_duckdb$sfx` above
      // is the reported number of record
      val minRatios = lane.results.collect {
        case (k, Right(_)) if duck.get(k).exists(_ > 0) &&
            lane.raw.getOrElse(k, Nil).nonEmpty =>
          jstr(k) + ":" + (math.rint(lane.raw(k).min / duck(k) * 1000) / 1000).toString
      }
      (if (compact) "" else refs.mkString(s""","duckdb_ref$sfx":{""", ",", "}")) +
        ratios.mkString(s""","spark_over_duckdb$sfx":{""", ",", "}") +
        (if (compact || minRatios.isEmpty) ""
         else minRatios.mkString(s""","spark_over_duckdb_min$sfx":{""", ",", "}"))
    }
    // drift_pct describes the FINAL attempt's calibration pair (advisory
    // when the per-query guard carries validity); valid/attempts describe
    // the lane verdict on the cross-attempt merged times the artifact
    // reports — a contaminated run must say so in-band, not in prose
    val driftFields = (lane.calibration match {
      case Some((name, Right(t0), Right(t1))) if math.min(t0, t1) > 0 =>
        val Some((pct, _)) = lane.drift
        (if (compact) ""
         else s""","calibration$sfx":{"query":${jstr(name)},"first":$t0,"last":$t1}""") +
          s""","drift_pct$sfx":$pct"""
      case _ => "" // calibration crash already surfaces via the query's own error entry
    }) + lane.validity.map(v =>
      s""","valid$sfx":$v,"attempts$sfx":${lane.attempts}""").getOrElse("")
    // ratio guard: jumps still present after the cross-attempt merge are
    // labeled in-band (small and rare — carried in both renderings);
    // per-attempt raw times go to the full artifact only
    val guardField =
      if (lane.ratioJumps.isEmpty) ""
      else lane.ratioJumps.toSeq.sortBy(_._1)
        .map { case (k, j) => jstr(k) + ":" + j }
        .mkString(s""","ratio_guard$sfx":{""", ",", "}")
    // contention sentinel: per-attempt loadavg/process-count/wall. Full
    // artifact always; the compact line carries it exactly when the lane
    // is INVALID — the reading that lets the round's record attribute an
    // invalid lane to box load vs code without the builder's file
    val boxField =
      if (lane.box.isEmpty || (compact && !lane.validity.contains(false))) ""
      else lane.box.mkString(s""","box$sfx":[""", ",", "]")
    val historyField =
      if (compact || lane.history.length < 2) ""
      else lane.history.map(_.map { case (k, v) =>
        jstr(k) + ":" + v.fold(_ => "-1", fmt) }.mkString("{", ",", "}"))
        .mkString(s""","attempt_times$sfx":[""", ",", "]")
    // any failure poisons the headline number: a crashed query must never
    // make the total LOOK faster (0-contribution would)
    val total =
      if (errs.nonEmpty) -1.0 else lane.results.map(_._2.getOrElse(0.0)).sum
    (s""","total$sfx":${fmt(total)}$qField$minField$cntField$errField$anchorFields$driftFields$guardField$boxField$historyField""",
      total)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkEntry.sessionBuilder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val benchSet = Queries.all.filter(_.bench)
    val passes = math.max(sys.env.getOrElse("SPARK_GRAFT_BENCH_N", "3").toInt, 1)
    val maxAttempts = math.max(sys.env.getOrElse("SPARK_GRAFT_BENCH_ATTEMPTS", "3").toInt, 1)
    val primaryDuck = duckRef("SPARK_GRAFT_DUCKDB_BASELINE", "duckdb_baseline.json")
    val primary = runValidLane(spark, benchSet, sfDir, passes, maxAttempts,
      primaryDuck, prevValidRatios(""))
    val (primaryFull, primaryTotal) = laneFields(primary, primaryDuck, "", compact = false)
    val (primaryCompact, _) = laneFields(primary, primaryDuck, "", compact = true)

    // secondary lanes — materialize-or-reuse the twin, then the same
    // loop. Any failure (disk full, corrupt twin, …) degrades to an
    // "<lane>_error" field; it can never take down the primary artifact.
    def twinLane(tag: String, enableVar: String, factor: Int, docLen: Int,
        set: Seq[QueryDef], anchorVar: String, anchorFile: String,
        passesVar: String, defPasses: String = "2"): (String, String, String) =
      if (sys.env.getOrElse(enableVar, "1") != "1" || set.isEmpty) ("", "", "")
      else try {
        val dir = sys.env.getOrElse(s"SPARK_GRAFT_${tag.toUpperCase}_DIR",
          InflatedCorpus.defaultDir(sfDir, factor, docLen))
        val build = InflatedCorpus.ensure(spark, sfDir, factor, dir, docLen)
        val lanePasses = math.max(sys.env.getOrElse(passesVar, defPasses).toInt, 1)
        val duck = duckRef(anchorVar, anchorFile)
        val lane = runValidLane(spark, set, dir, lanePasses, maxAttempts,
          duck, prevValidRatios(s"_$tag"))
        val buildSec = math.rint(build.buildSec * 1000) / 1000
        val meta = s""","$tag":{"dir":${jstr(dir)},"factor":$factor""" +
          (if (docLen > 1) s""","doclen":$docLen""" else "") +
          s""","built":${build.built},"build_sec":$buildSec,"passes":$lanePasses}"""
        (meta + laneFields(lane, duck, s"_$tag", compact = false)._1,
          laneFields(lane, duck, s"_$tag", compact = true)._1,
          laneFields(lane, duck, s"_$tag", compact = true, ratiosToo = false)._1)
      } catch {
        case e: Throwable =>
          val err = s""","${tag}_error":${jstr(e.getClass.getSimpleName + ": " +
            Option(e.getMessage).getOrElse("").replaceAll("[\\x00-\\x1f]+", " ").take(160))}"""
          (err, err, err)
      }

    val x16Factor = sys.env.getOrElse("SPARK_GRAFT_X16_FACTOR", "16").toInt
    // min-of-3 on the x16 lane (was 2): the sub-second ratios there swing
    // ±30% between two passes (sessionize read 0.79x and 1.03x in two
    // same-day valid runs); a third pass costs ~1 min and steadies the min
    val (x16Full, x16Compact, x16Min) = twinLane("x16", "SPARK_GRAFT_X16", x16Factor, 1,
      benchSet, "SPARK_GRAFT_DUCKDB_BASELINE_X16", "duckdb_baseline_x16.json",
      "SPARK_GRAFT_X16_N", defPasses = "3")
    val lenSet = benchSet.filter(qd => LenLaneQueries(qd.name))
    // min-of-3 on the len lane too (was 2): with two passes the median
    // is a mean-of-2 and ONE pathological pass poisons it — measured
    // r14: a single 161 s q_lm_score pass (min 4.3 s) read as an 82.7 s
    // "median"; three passes make the median outlier-robust
    val (lenFull, lenCompact, lenMin) = twinLane("len", "SPARK_GRAFT_LEN", 4, 16,
      lenSet, "SPARK_GRAFT_DUCKDB_BASELINE_LEN", "duckdb_baseline_len.json",
      "SPARK_GRAFT_LEN_N", defPasses = "3")

    // full artifact → file; ONE compact line → stdout (driver contract:
    // "metric"/"value" lead fields = the PRIMARY total)
    val head = s"""{"metric":"total","value":${fmt(primaryTotal)},"unit":"sec","timed_action":"noop""""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val full = head + primaryFull + x16Full + lenFull + s""","sf":"$sfDir"}"""
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), full + "\n")
    catch { case _: Throwable => () } // stdout line stands alone if the sink fails
    // the driver captures the LAST 2000 chars of stdout — a line that
    // outgrows that window truncates into unparseable JSON (the r9
    // artifact's "parsed": null). If the ratio-bearing rendering would
    // burst it (e.g. error fields appeared), the secondary lanes fall
    // back to totals + drift sentinels; everything is in the file either way.
    // 1800, not 2000: sbt's trailing "[success] Total time …" line shares
    // the driver's tail window with ours (~90 chars in the r9 capture)
    val tail = s""","sf":"$sfDir","file":${jstr(outPath)}}"""
    val line = head + primaryCompact + x16Compact + lenCompact + tail
    println(if (line.length <= 1800) line
            else head + primaryCompact + x16Min + lenMin + tail)
    spark.stop()
  }
}
