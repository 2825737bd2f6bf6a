package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Fault-tolerance exercised EMPIRICALLY — the data-plane proof behind
  * SURVEY §2.1 rows 10/11 (the reference's heartbeat + task-reassignment
  * control plane, `greeter_client.cc:136-294`): Spark's scheduler must
  * detect a failed task, rerun it on another attempt, and produce results
  * indistinguishable from a clean run — including through a shuffle whose
  * map side contains the retried task. The reference reassigns a dead
  * worker's chunk to the first available server; Spark's analog is task
  * rescheduling under `spark.task.maxFailures` (the test session runs
  * `local[4,2]` to allow one retry; production default is 4).
  */
class FaultToleranceSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  test("a transient task failure is retried and the shuffled result is exact") {
    import spark.implicits._
    FaultToleranceSpec.fail.set(true)
    val flaky = spark.range(0, 100000, 1, 8).as[Long]
      .mapPartitions { it =>
        val tc = org.apache.spark.TaskContext.get()
        if (tc.partitionId() == 3 && tc.attemptNumber() == 0 &&
            FaultToleranceSpec.fail.getAndSet(false))
          throw new RuntimeException("graft injected transient task failure")
        it
      }
    // aggregate ACROSS a shuffle: the retried map task's output must be
    // fetched exactly once (no loss, no double count from the failed attempt)
    val total = flaky.toDF("id")
      .groupBy(expr("id % 32").as("b")).agg(sum("id").as("s"))
      .agg(sum("s")).as[Long].head()
    assert(total == 4999950000L, "retried computation must merge exactly once")
    assert(!FaultToleranceSpec.fail.get(), "the injected failure must actually have fired")
  }

  test("the flagship word count survives an injected failure mid-pipeline") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf)
    val clean = operators.TextPipeline.wordCount(docs)
      .as[(String, Long)].collect().toMap
    FaultToleranceSpec.fail.set(true)
    val flakyDocs = docs.as[(Long, String, String, String, Long)]
      .mapPartitions { it =>
        val tc = org.apache.spark.TaskContext.get()
        if (tc.attemptNumber() == 0 && FaultToleranceSpec.fail.getAndSet(false))
          throw new RuntimeException("graft injected transient task failure")
        it
      }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val retried = operators.TextPipeline.wordCount(flakyDocs)
      .as[(String, Long)].collect().toMap
    assert(retried == clean, "word counts must be identical after the retry")
  }

  test("streaming exactly-once through the DSv2 sink: injected crash between epoch publish and checkpoint commit") {
    // THE streaming recovery window: offsets logged -> batch executed ->
    // sink commit(epoch) -> engine's checkpoint commit log. A crash after
    // the sink published but before the commit log recorded it makes the
    // engine RE-EXECUTE the epoch on restart and call the sink's commit
    // AGAIN — the injected failure lands exactly there
    // (failOnCommitOfEpoch throws after the durable publish of epoch 1).
    // The proof is byte-level: the crashed-and-restarted sink must equal
    // a never-crashed twin — same row multiset, same audit totals.
    import java.nio.file.{Files, Path}
    val in = tempDir("graft-eo-in")
    (0 until 3).foreach { i =>
      val f = in.resolve(f"$i%02d.jsonl")
      Files.write(f, (0 until 4)
        .map(j => s"""{"k": ${i * 10 + j}, "tag": "t$i"}""")
        .mkString("\n").getBytes("UTF-8"))
      assert(f.toFile.setLastModified(1700000000000L + i * 60000L)) // batch order
    }
    def runStream(out: Path, ckpt: Path, failEpoch: Option[Long]): Option[Throwable] = {
      val s2 = spark.newSession()
      val src = s2.readStream.schema("k BIGINT, tag STRING")
        .option("maxFilesPerTrigger", "1").json(in.toString)
      var w = src.coalesce(1).writeStream
        .format(classOf[graft.sources.v2.AuditSink].getName)
        .option("path", out.toString)
        .option("checkpointLocation", ckpt.toString)
      failEpoch.foreach(e => w = w.option("failOnCommitOfEpoch", e.toString))
      val q = w.start()
      try { q.processAllAvailable(); q.stop(); None }
      catch { case t: Throwable =>
        scala.util.Try(q.stop()); Some(t)
      }
    }
    def sinkRows(out: Path): Map[(Long, String), Int] = {
      import scala.jdk.CollectionConverters._
      val ls = Files.list(out)
      val parts = try ls.iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq finally ls.close()
      parts.flatMap(p => new String(Files.readAllBytes(p), "UTF-8").split("\n"))
        .filter(_.nonEmpty)
        .map { line =>
          val K = """\{"k": (\d+), "tag": "(t\d)"\}""".r
          line match { case K(k, t) => (k.toLong, t) }
        }
        .groupBy(identity).view.mapValues(_.size).toMap
    }
    // crashed run: epoch 1 publishes, then the "driver" dies
    val crashedOut = tempDir("graft-eo-out1")
    val ckpt = tempDir("graft-eo-ckpt1")
    val err = runStream(crashedOut, ckpt, failEpoch = Some(1L))
    assert(err.exists(e => Option(e.getMessage).toSeq.mkString
      .contains("injected crash") || e.getCause != null &&
      String.valueOf(e.getCause.getMessage).contains("injected crash")),
      s"the injected crash must fail the first incarnation: $err")
    // restart over the SAME checkpoint: the engine replays epoch 1 (its
    // commit-log entry is missing), the sink's ledger makes it a no-op
    assert(runStream(crashedOut, ckpt, failEpoch = None).isEmpty,
      "the second incarnation must recover and drain cleanly")
    // never-crashed twin over the same inputs
    val cleanOut = tempDir("graft-eo-out2")
    assert(runStream(cleanOut, tempDir("graft-eo-ckpt2"), None).isEmpty)
    val expected = (0 until 3).flatMap(i => (0 until 4)
      .map(j => ((i * 10 + j).toLong, s"t$i") -> 1)).toMap
    assert(sinkRows(crashedOut) == expected,
      "every row exactly once through the crash-restart — no loss, no duplicate epoch")
    assert(sinkRows(crashedOut) == sinkRows(cleanOut))
    assert(Files.readAllBytes(crashedOut.resolve("audit.json")).toSeq ==
      Files.readAllBytes(cleanOut.resolve("audit.json")).toSeq,
      "audit totals must be byte-identical to the never-crashed twin")
  }
}

object FaultToleranceSpec {
  /** Armed flag: the injection fires exactly once per arm (first attempt of
    * the chosen task), then disarms — shared across attempts because the
    * local test executor runs in this JVM.
    */
  val fail = new java.util.concurrent.atomic.AtomicBoolean(false)
}
