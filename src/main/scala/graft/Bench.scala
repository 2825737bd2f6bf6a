package graft

/** Benchmark main: times the HEADLINE query set on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line for the driver (`BENCH_r{N}.json`).
  *
  * Headline = the flagship plus one representative per operator family
  * (full list below) — the correctness gate (`graft.Verify`) still runs
  * every registered query. Set `SPARK_GRAFT_BENCH_ALL=1` to time the whole
  * registry instead.
  *
  * A warmup action runs first so session bring-up / codegen JIT is not
  * charged to the first query; each timed run drains the full plan with
  * `count()` (scan → transforms → action, no driver materialization); the
  * cache is cleared between queries so storage from one query cannot evict
  * or GC-thrash the next.
  */
object Bench {

  /** Flagship + one per family (text core, relational join/agg/window,
    * events, dedup, similarity, text analysis, custom operator).
    *
    * WIDENED in round 14 (17 → 20): 15 of the original 17 run ≤0.8 s at
    * sf0.1 where the fixed job/AQE overhead floor is ~0.3-0.5 s, so
    * round-over-round ratios were becoming noise-dominated. The three
    * additions are heavier, steady signals: `dedup_setsim_prefix`
    * (prefix-filtered set-similarity self-join), `streaming_dedup_filesrc`
    * (bounded readStream→dedup→sink run), `knn_ivf_pq_serve` (persisted-
    * index ANN serving; its first sample trains the index, the median of
    * three absorbs it). Totals re-base at 20 queries from r14 — compare
    * per-query medians across rounds, not raw totals vs r13-and-earlier.
    */
  val headline: Seq[String] = Seq(
    "wordcount", "wordcount_topn", "q1_pricing_summary", "join_shuffle",
    "join_broadcast", "window_rank", "events_tumbling", "sessionize",
    "dedup_exact", "dedup_minhash_lsh", "knn_bruteforce", "knn_lsh",
    "text_quality", "topk_per_group", "pipeline_clean_corpus",
    "q5_supplier_volume", "multimodal_features",
    "dedup_setsim_prefix", "streaming_dedup_filesrc", "knn_ivf_pq_serve")

  /** JSON string literal: escapes backslash, quote and ALL control chars
    * (< 0x20) — a tab or CR in builder-authored SQL would otherwise make a
    * consumer's `json.load` fail. Shared with [[Verify]]'s `oracle_sql.json`.
    */
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("graft-bench")
    spark.sparkContext.setLogLevel("WARN")
    // warmup: touch every fixture table so file listing + footer reads and
    // JIT warm paths are excluded from timings
    graft.sources.Tables.names.foreach { t =>
      try graft.sources.Tables.table(spark, sfDir, t).count()
      catch { case _: Throwable => () }
    }
    // JIT/codegen warm pass over the flagship plan shape (sf0.001-sized)
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    spark.catalog.clearCache()
    val names = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(only) => only.split(",").toSeq.filter(SparkEntry.queries.contains)
      case None =>
        if (sys.env.get("SPARK_GRAFT_BENCH_ALL").contains("1"))
          SparkEntry.queries.keys.toSeq.sorted
        else headline.filter(SparkEntry.queries.contains)
    }
    // QUIESCE before timing: the official bench has been contention-
    // polluted in 3 of 6 rounds by running seconds after the 266-query
    // verify sweep on the same 32 CPUs (identical job/stage/task counts,
    // 2-4× the wall time). Wait for the 1-min loadavg to drop below a
    // threshold before the first timed run, up to a bounded patience — a
    // cheap, local measurement that costs ~0 s on an idle machine and
    // makes a just-finished sweep's straggler threads drain instead of
    // being measured. Default threshold max(4, CPUs/8): the earlier
    // CPUs/2 (=16) let a half-loaded machine through untreated — r7's
    // official run started at loadavg 9.46, waited 0 s, and inflated one
    // query 2.7× over its idle median.
    val quiesceLoad = sys.env.get("SPARK_GRAFT_BENCH_QUIESCE_LOAD")
      .map(_.toDouble)
      .getOrElse(math.max(4.0, Runtime.getRuntime.availableProcessors() / 8.0))
    val quiesceMaxSec = sys.env.get("SPARK_GRAFT_BENCH_QUIESCE_MAX_SEC")
      .map(_.toInt).getOrElse(180)
    def loadAvg1m(): Double =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split("\\s+")(0).toDouble
      catch { case _: Throwable => 0.0 }
    val quiesceT0 = System.nanoTime()
    var load = loadAvg1m()
    while (load > quiesceLoad && (System.nanoTime() - quiesceT0) / 1e9 < quiesceMaxSec) {
      System.err.println(f"[bench] quiesce: loadavg $load%.1f > $quiesceLoad%.1f, waiting...")
      Thread.sleep(5000)
      load = loadAvg1m()
    }
    val quiesceSec = (System.nanoTime() - quiesceT0) / 1e9
    val tracker = spark.sparkContext.statusTracker
    // median-of-N timing (default 3): a single sample is hostage to
    // whatever else shares the machine's 32 CPUs (the official bench has
    // twice been polluted by a concurrent correctness sweep); the median
    // of three back-to-back runs is robust to one contended sample while
    // keeping total bench time ~3× a single pass.
    val runsPerQuery = sys.env.get("SPARK_GRAFT_BENCH_RUNS").map(_.toInt).getOrElse(3)
    // A failed query must be LOUD: a normal-looking duration with 0 jobs
    // once shipped a 21-query breakage as "pass" — record the error
    // string and surface it in the JSON (errors/n_errors + per-query err;
    // the exit code stays 0 so the driver still harvests the line).
    case class QRes(name: String, sec: Double, jobs: Int, stages: Int,
        tasks: Int, spread: Double, err: Option[String])
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      val samples = (1 to runsPerQuery).map { i =>
        // job group → post-hoc job/stage/task counts: every Spark JOB is a
        // scheduling barrier (and on a contended cluster each costs real
        // wall-clock), so barrier-count regressions matter as much as secs
        val group = s"$name#$i"
        spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
        val t0 = System.nanoTime()
        val err = try { fn(spark, sfDir).count(); None }
          catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.clearJobGroup()
        val jobIds = tracker.getJobIdsForGroup(group)
        val stageIds = jobIds.flatMap(j => tracker.getJobInfo(j).map(_.stageIds.toSeq).getOrElse(Nil))
        val nTasks = stageIds.distinct.flatMap(s => tracker.getStageInfo(s).map(_.numTasks)).sum
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        (dt, jobIds.length, stageIds.distinct.length, nTasks, err)
      }
      // ContextCleaner reclaims shuffle files / broadcasts only when the
      // driver GCs their references; 50+ back-to-back executions otherwise
      // accumulate enough state that tail queries measure the mess left by
      // earlier ones (observed: same query 2-3× slower as #17 than as #1).
      // One explicit GC per QUERY (not per run) keeps samples independent.
      System.gc()
      samples.flatMap(_._5).headOption match {
        case Some(err) => QRes(name, -1.0, 0, 0, 0, 0.0, Some(err))
        case None =>
          val sorted = samples.map(_._1).sorted
          val median = sorted(samples.size / 2)
          // spread = slowest/fastest sample: ~1.0 on a quiet machine; a
          // large value marks THIS query's number as contention-suspect,
          // so a polluted artifact self-identifies per query instead of
          // needing cross-round adjudication
          val spread = if (sorted.head > 0) sorted.last / sorted.head else 1.0
          val (_, j, st, tk, _) = samples.last // counts identical across runs
          QRes(name, median, j, st, tk, spread, None)
      }
    }
    val qs = results.map(r => jsonStr(r.name) + ":" + r.sec).mkString("{", ",", "}")
    val detail = results.map { r =>
      val errField = r.err.fold("")(e => s""","err":${jsonStr(e)}""")
      s"""${jsonStr(r.name)}:{"jobs":${r.jobs},"stages":${r.stages},"tasks":${r.tasks},"spread":${f"${r.spread}%.2f"}$errField}"""
    }.mkString("{", ",", "}")
    val errs = results.collect { case QRes(n, _, _, _, _, _, Some(e)) => jsonStr(n) + ":" + jsonStr(e) }
      .mkString("{", ",", "}")
    val ok = results.filter(_.err.isEmpty)
    val total = ok.map(_.sec).sum
    // `parallelism`/`master` make the scaling run driver-verifiable: the
    // r14 driver flagged `suspect_cpus_ignored` because nothing in the
    // emitted line PROVED the $SPARK_GRAFT_CPUS-sized master took effect
    // (it does — Sessions.local builds local[$cpus] — but the proof
    // belongs in the artifact, not in source archaeology).
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"detail":$detail,"errors":$errs,"n_errors":${results.size - ok.size},"runs_per_query":$runsPerQuery,"quiesce_wait_sec":${f"$quiesceSec%.1f"},"quiesce_threshold":$quiesceLoad,"loadavg_at_start":$load,"sf":"$sfDir","parallelism":${spark.sparkContext.defaultParallelism},"master":${jsonStr(spark.sparkContext.master)},"n_queries_timed":${results.size},"n_queries_registered":${SparkEntry.queries.size}}"""
    // Spark logs stream to stderr; flush it and emit the contract line as
    // ONE atomic stdout write so a concurrently-flushed log line cannot
    // interleave mid-JSON (BENCH_r13's line reached the driver unparseable).
    // Deliberately NOT duplicated to stderr: sbt folds the subprocess's
    // stderr into its own stdout as `[error]` lines, so a second line
    // containing the `"metric"` signature would double-match the
    // `grep '"metric"'` harvest every consumer of this contract uses.
    System.err.flush()
    print(line + "\n")
    System.out.flush()
    // errors are surfaced in the JSON (errors/n_errors + per-query err):
    // exit 0 so the driver still harvests the artifact — a nonzero exit
    // could discard the very line that reports the breakage
    spark.stop()
  }
}
