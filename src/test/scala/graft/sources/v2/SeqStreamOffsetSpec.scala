package graft.sources.v2

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite

/** Offset-contract unit spec for [[SeqMicroBatchStream]]: a checkpoint
  * restart hands the fresh instance its committed offset only through
  * `deserializeOffset`, so `latestOffset` must clamp up to it — returning
  * an end below a start the engine already owns violates the monotone-
  * offset contract and stalls the query until `available` catches up.
  */
class SeqStreamOffsetSpec extends AnyFunSuite with TempDirs {

  test("restart: latestOffset never falls below a deserialized committed offset") {
    val s = new SeqMicroBatchStream(n = 1000L, step = 100L, parts = 4)
    // fresh instance: first trigger advances by one step
    assert(s.latestOffset().asInstanceOf[SeqOffset].pos == 100L)
    // simulate restart recovery on a NEW instance: the offset log replays
    // the committed end offset through deserializeOffset before any trigger
    val restarted = new SeqMicroBatchStream(n = 1000L, step = 100L, parts = 4)
    restarted.deserializeOffset("500")
    val next = restarted.latestOffset().asInstanceOf[SeqOffset].pos
    assert(next == 600L, s"latestOffset after restart at 500 must be 600, got $next")
    // committed offset at the end of the sequence: stream stays bounded at n
    val done = new SeqMicroBatchStream(n = 1000L, step = 100L, parts = 4)
    done.deserializeOffset("1000")
    assert(done.latestOffset().asInstanceOf[SeqOffset].pos == 1000L)
  }

  test("admission-control latestOffset(start, limit) advances from the restored start on a FRESH instance") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    // the restart shape that actually bit: engine calls latestOffset on a
    // brand-new instance (available=0) but passes the committed start —
    // the returned end must advance from 2000, not regress toward 0
    val restarted = new SeqMicroBatchStream(n = 5000L, step = 1000L, parts = 4)
    val end = restarted.latestOffset(SeqOffset(2000L), ReadLimit.allAvailable())
    assert(end.asInstanceOf[SeqOffset].pos == 3000L,
      s"restarted latestOffset(2000) must be 3000, got $end")
    // fresh query: engine passes initialOffset
    val fresh = new SeqMicroBatchStream(n = 5000L, step = 1000L, parts = 4)
    assert(fresh.latestOffset(fresh.initialOffset(), ReadLimit.allAvailable())
      .asInstanceOf[SeqOffset].pos == 1000L)
    // bounded at n
    val done = new SeqMicroBatchStream(n = 1000L, step = 100L, parts = 4)
    assert(done.latestOffset(SeqOffset(1000L), ReadLimit.allAvailable())
      .asInstanceOf[SeqOffset].pos == 1000L)
  }

  test("planInputPartitions slices exactly the restart delta") {
    val s = new SeqMicroBatchStream(n = 1000L, step = 100L, parts = 4)
    s.deserializeOffset("500")
    val parts = s.planInputPartitions(SeqOffset(500L), SeqOffset(600L))
      .map(_.asInstanceOf[SeqPartition])
    assert(parts.nonEmpty)
    assert(parts.map(p => p.end - p.start).sum == 100L)
    assert(parts.head.start == 500L && parts.last.end == 600L)
  }

  test("e2e restart: a second query on the same checkpoint resumes — no loss, no redelivery") {
    // Phase 1 drains a BOUNDED view of the sequence (n=2000); phase 2
    // reopens the SAME checkpoint with more data available (n=5000) in a
    // fresh query — the engine replays the committed offset through
    // deserializeOffset on a brand-new MicroBatchStream instance. The
    // sink is the FILE sink (memory sink refuses checkpoint recovery):
    // its _spark_metadata commit log is the exactly-once contract, and
    // the final read must see id 0..4999 exactly once across both runs.
    val spark = graft.TestSpark.spark
    val ckpt = tempDir("graft-restart-ckpt")
    val outDir = tempDir("graft-restart-out")
    def drain(n: Long): Unit = {
      val q = spark.readStream.format("graft.sources.v2.SeqStreamSource")
        .option("n", n.toString).option("step", "1000").option("parts", "4").load()
        .select("id")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt.toString)
        .format("parquet").option("path", outDir.toString).start()
      try q.processAllAvailable() finally q.stop()
    }
    def committedIds(): Seq[Long] =
      spark.read.parquet(outDir.toString).collect().map(_.getLong(0)).toSeq
    try {
      drain(2000L)
      val phase1 = committedIds()
      assert(phase1.sorted == (0L until 2000L),
        s"phase 1 must commit exactly [0,2000), got ${phase1.size} rows")
      drain(5000L)
      val all = committedIds()
      assert(all.sorted == (0L until 5000L),
        s"after restart the committed set must be [0,5000) exactly once — " +
          s"got ${all.size} rows, ${all.size - all.distinct.size} duplicates")
    } finally {
      import scala.jdk.CollectionConverters._
      Seq(ckpt, outDir).foreach { d =>
        val walk = java.nio.file.Files.walk(d)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
        finally walk.close()
      }
    }
  }
}
