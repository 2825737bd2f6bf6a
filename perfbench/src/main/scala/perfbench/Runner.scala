package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.PerfbenchShim
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Sessions, SparkEntry}
import graft.operators.TextPipeline
import graft.sources.Tables

/** Runs one workload against the program's public functions from a single
  * client thread in a closed loop, and writes what it saw as one JSON file.
  * `run.py` builds this, makes the inputs and turns the file into metrics.
  *
  * {{{
  * Runner --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --data <dir> --work <dir>
  * }}}
  *
  * A run is: `Setups` set-ups (each a fresh `Sessions.local`, a schema touch
  * of the tables the workload reads and one warm-up op, timed as a whole),
  * one untimed check pass that writes each op's result under
  * `<work>/check`, two untimed warm passes, then timed passes over the ops
  * in an order shuffled from the seed (and rotated by one each pass) until
  * `seconds` have gone by. Timed ops drain through Spark's `noop` sink.
  * With tracing on, passes alternate between traced and untraced so the two
  * can be compared.
  */
object Runner {

  /** One timed unit. `run` returns the frame to drain, after doing any
    * side effects that belong to the op (the word-count sink). */
  final case class Op(name: String, run: (SparkSession, Path) => DataFrame)

  final case class Workload(tables: Seq[String], ops: Seq[Op], warmup: Op)

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  /** Streaming and catalog gates: micro-batches, state-store and manifest
    * commits. Two of about the same latency, so that which of them a short
    * run samples more often barely moves the median. */
  val streamQueries: Seq[String] = Seq("streaming_dedup_filesrc", "dsv2_tvf_stream")

  def registryOp(name: String, data: String): Op =
    Op(name, (spark, _) => Trace.span("operators.build")(SparkEntry.queries(name)(spark, data)))

  /** The paper's pipeline: read, count, sink, top-N. */
  def wordCountOp(data: String): Op = Op("wordcount_corpus", { (spark, out) =>
    val docs = Trace.span("sources.read")(Tables.documents(spark, data))
    val wc = Trace.span("operators.build")(TextPipeline.wordCount(docs))
    Trace.span("sources.sink")(TextPipeline.writeWordCounts(wc, out.resolve("sink").toString))
    Trace.span("operators.build")(TextPipeline.topN(wc, 20))
  })

  def workload(name: String, data: String): Workload = name match {
    case "wordcount_corpus" =>
      val op = wordCountOp(data)
      Workload(Seq("documents"), Seq(op), op)
    case "stream_commit" =>
      val ops = streamQueries.map(registryOp(_, data))
      Workload(Seq("events", "orders"), ops, ops.head)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  final case class OpResult(id: Int, name: String, phase: String, pass: Int, traced: Boolean,
      start: Double, end: Double, error: Option[String], sinkBytes: Long,
      catalogFiles: Long, catalogBytes: Long)

  def loadAvg1m(): Double =
    Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble

  def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  /** Regular files under `root` with their size and mtime. */
  def listTree(root: Path): Map[String, (Long, Long)] =
    if (!Files.exists(root)) Map.empty
    else {
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).flatMap { p =>
        try Some(p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis))
        catch { case _: java.io.IOException => None } // deleted while walking
      }.toMap
      finally walk.close()
    }

  def treeBytes(root: Path): Long = listTree(root).values.map(_._1).sum

  /** The MemCatalog roots, which live directly under java.io.tmpdir. */
  def catalogTree(): Map[String, (Long, Long)] = {
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    val roots = Files.list(tmp)
    try roots.iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("graft-memcat-"))
      .flatMap(listTree).toMap
    finally roots.close()
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val data = opt("data")
    val work = Paths.get(opt("work"))
    val loadStart = loadAvg1m()
    // Static confs read when each session is built, so clones register too.
    sys.props("spark.sql.streaming.streamingQueryListeners") = classOf[StreamListener].getName
    if (trace) {
      sys.props("spark.extraListeners") = classOf[JobListener].getName
      sys.props("spark.sql.queryExecutionListeners") = classOf[QeListener].getName
    }
    val wl = workload(name, data)
    val results = ArrayBuffer[OpResult]()
    var opId = 0

    def runOp(spark: SparkSession, op: Op, phase: String, pass: Int, traced: Boolean): OpResult = {
      // Collect first, so that what the last op left for the ContextCleaner is
      // reclaimed before this one starts rather than during it.
      System.gc()
      opId += 1
      Trace.currentOp = opId
      val out = work.resolve(phase)
      val before = if (traced) catalogTree() else Map.empty[String, (Long, Long)]
      val start = Trace.nowMs()
      val error =
        try {
          Trace.span(s"op:${op.name}") {
            val df = op.run(spark, out)
            if (phase == "check") Trace.span("sources.sink") {
              df.coalesce(1).write.mode("overwrite").parquet(out.resolve(op.name).toString)
            }
            else Trace.span("drain")(df.write.format("noop").mode("overwrite").save())
          }
          None
        } catch {
          case e: Throwable =>
            val msg = s"${e.getClass.getName}: ${e.getMessage}".linesIterator.take(3).mkString(" ")
            System.err.println(s"[perfbench] ${op.name} failed: $msg")
            if (phase == "check") {
              val d = out.resolve(op.name)
              Files.createDirectories(d)
              Files.writeString(d.resolve("_GRAFT_ERROR.txt"), msg + "\n")
            }
            Some(msg)
        }
      val end = Trace.nowMs()
      Trace.currentOp = -1
      val (files, bytes) =
        if (!traced) (0L, 0L)
        else {
          val changed = catalogTree().filter { case (p, v) => !before.get(p).contains(v) }
          (changed.size.toLong, changed.values.map(_._1).sum)
        }
      if (traced) PerfbenchShim.drainListeners(spark.sparkContext)
      val sinkBytes = if (op.name == "wordcount_corpus") treeBytes(out.resolve("sink")) else 0L
      val r = OpResult(opId, op.name, phase, pass, traced, start, end, error, sinkBytes, files, bytes)
      results += r
      r
    }

    // Set-up, several times so its median is steady.
    var spark: SparkSession = null
    val setupSecs = (1 to Setups).map { _ =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = Trace.nowMs()
      spark = Trace.span("Sessions.local")(Sessions.local("perfbench"))
      spark.sparkContext.setLogLevel("ERROR")
      Trace.span("sources.schema")(wl.tables.foreach(t => Tables.table(spark, data, t).schema))
      runOp(spark, wl.warmup, "warmup", 0, traced = false)
      (Trace.nowMs() - t0) / 1000.0
    }

    wl.ops.foreach(runOp(spark, _, "check", 0, traced = false))
    Files.writeString(work.resolve("check").resolve("oracle_sql.json"),
      Json.obj(SparkEntry.oracleSql.filter { case (k, _) => wl.ops.exists(_.name == k) }
        .toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))

    // The first two passes after the check still run 10-40% slower while
    // the JIT settles; two untimed passes keep that out of the timed samples.
    val order = new Random(seed).shuffle(wl.ops)
    for (w <- 0 until 2) order.foreach(runOp(spark, _, "warm", w, traced = false))

    // Pass p runs the seed's order rotated by p, so that over as many
    // passes as there are ops each op runs once in each position.
    val timedStart = Trace.nowMs()
    var pass = 0
    while ((Trace.nowMs() - timedStart) < seconds * 1000 || (trace && pass < 2)) {
      val traced = trace && pass % 2 == 0
      Trace.listening = traced
      val k = pass % order.size
      (order.drop(k) ++ order.take(k)).foreach(runOp(spark, _, "timed", pass, traced))
      pass += 1
    }
    Trace.listening = false
    val timedWall = (Trace.nowMs() - timedStart) / 1000.0

    PerfbenchShim.drainListeners(spark.sparkContext)
    val persisted = spark.sparkContext.getPersistentRDDs.size
    val tmpDirs = {
      val s = Files.list(Paths.get(sys.props("java.io.tmpdir")))
      try s.iterator().asScala.count(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("graft-"))
      finally s.close()
    }
    val active = StreamListener.active.size
    if (active > 0)
      System.err.println(s"[perfbench] WARNING: $active streaming queries still active after the run")
    val hwm = vmHwmKb()
    val parallelism = spark.sparkContext.defaultParallelism
    val master = spark.sparkContext.master
    spark.stop()

    def optStr(o: Option[String]) = o.fold("null")(Json.str)
    val doc = Json.obj(Seq(
      "workload" -> Json.str(name), "seed" -> seed.toString, "trace" -> trace.toString,
      "master" -> Json.str(master), "parallelism" -> parallelism.toString,
      "setup_s" -> Json.arr(setupSecs.map(Json.num)),
      "timed_wall_s" -> Json.num(timedWall), "passes" -> pass.toString,
      "loadavg_start" -> Json.num(loadStart), "loadavg_end" -> Json.num(loadAvg1m()),
      "vmhwm_kb" -> hwm.toString,
      "leaks" -> Json.obj(Seq("streaming.active_after" -> active.toString,
        "spark.storage.persisted_after" -> persisted.toString,
        "sources.tmp_dirs_after" -> tmpDirs.toString)),
      "ops" -> Json.arr(results.toSeq.map(r => Json.obj(Seq(
        "id" -> r.id.toString, "name" -> Json.str(r.name), "phase" -> Json.str(r.phase),
        "pass" -> r.pass.toString, "traced" -> r.traced.toString,
        "start" -> Json.num(r.start), "end" -> Json.num(r.end), "error" -> optStr(r.error),
        "sink_bytes" -> r.sinkBytes.toString, "catalog_files" -> r.catalogFiles.toString,
        "catalog_bytes" -> r.catalogBytes.toString)))),
      "spans" -> Json.arr(Trace.spans.asScala.toSeq.map(s => Json.arr(Seq(
        s.id.toString, Json.str(s.name), Json.num(s.start), Json.num(s.end),
        s.parent.toString, s.op.toString)))),
      "jobs" -> Json.arr(Trace.jobs.asScala.toSeq.map(j =>
        Json.arr(Seq(j.id.toString, Json.num(j.start), Json.num(j.end))))),
      "tasks" -> Json.arr(Trace.tasks.asScala.toSeq.map(t => Json.arr(Seq(
        Json.str(t.stage), Json.num(t.launch), Json.num(t.finish), Json.num(t.runMs),
        Json.num(t.cpuMs), Json.num(t.gcMs), Json.num(t.schedMs), t.inputBytes.toString,
        t.shuffleWriteBytes.toString, Json.num(t.fetchWaitMs), t.spillBytes.toString)))),
      "qes" -> Json.arr(Trace.qes.asScala.toSeq.map(q => Json.arr(Seq(
        Json.num(q.start), Json.num(q.planMs), q.partialIn.toString, q.partialOut.toString)))),
      "progress" -> Json.arr(Trace.progress.asScala.toSeq.map(p => Json.arr(Seq(
        Json.num(p.time), p.batchId.toString, p.inputRows.toString, Json.num(p.addBatchMs),
        Json.num(p.walCommitMs), Json.num(p.stateCommitMs), p.stateRows.toString)))),
    ))
    Files.writeString(work.resolve("raw.json"), doc)
  }
}

/** Just enough JSON writing for the raw dump. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
