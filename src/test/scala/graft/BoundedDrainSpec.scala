package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryException}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.MemCatalog.deleteRecursively
import graft.streaming.{BoundedDrain, EventStreams}
import graft.streaming.BoundedDrain.Sink

class BoundedDrainSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def drainViews(): Seq[String] =
    spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("graft_drain_")).toSeq

  private def tmpDirs(prefix: String): Set[String] = {
    val ls = Files.list(Paths.get(sys.props("java.io.tmpdir")))
    try ls.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith(prefix)).toSet
    finally ls.close()
  }

  private def fileStream(dir: Path, schema: org.apache.spark.sql.types.StructType) =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir.toString)

  test("drains in one scope share the checkpoint; pinned output outlives the scope") {
    val ids = spark.range(0, 10).toDF("id")
    val now = System.currentTimeMillis()
    val (firstRows, secondRows, out, dirs) = BoundedDrain.scope { s =>
      def incarnation() = s.drain(fileStream(s.sourceDir, ids.schema), Sink.Parquet)
      BoundedDrain.stageFile(s.sourceDir, ids.filter(col("id") < 5), "a.parquet", now - 2000)
      val first = incarnation()
      BoundedDrain.stageFile(s.sourceDir, ids.filter(col("id") >= 5), "b.parquet", now - 1000)
      val second = incarnation()
      (first.progress.map(_.numInputRows).sum, second.progress.map(_.numInputRows).sum,
        second.out.get, Seq(s.checkpoint, s.sinkDir, s.sourceDir))
    }
    // the restart resumed from the shared checkpoint: only the new file
    assert(firstRows == 5 && secondRows == 5)
    // the sink kept both incarnations' commits, and the pinned rows
    // survive the teardown of the directory they were read from
    assert(out.collect().map(_.getLong(0)).sorted.toSeq == (0L until 10L))
    dirs.foreach(d => assert(!Files.exists(d), s"$d left behind"))
  }

  test("once pins a memory sink before dropping its view") {
    val d = BoundedDrain.once(
      spark.readStream.format("graft.sources.v2.SeqStreamSource")
        .option("n", "1000").option("step", "500").option("parts", "2").load()
        .groupBy(col("bucket")).agg(count(lit(1)).as("n")),
      Sink.Memory(OutputMode.Complete()))
    assert(d.out.get.agg(sum("n")).head().getLong(0) == 1000L)
    assert(d.progress.count(_.numInputRows > 0) == 2)
    assert(drainViews().isEmpty)
  }

  test("a foreachBatch sink that throws mid-drain leaves no query, directory or view") {
    val rows = spark.range(0, 6).toDF("id")
    val now = System.currentTimeMillis()
    var dirs = Seq.empty[Path]
    var views = Seq.empty[String]
    val err = intercept[StreamingQueryException] {
      BoundedDrain.scope { s =>
        val stream = fileStream(s.sourceDir, rows.schema)
        // a memory sink cannot recover from a checkpoint, so it runs first
        BoundedDrain.stageFile(s.sourceDir, rows, "a.parquet", now - 3000)
        s.drain(stream, Sink.Memory(OutputMode.Append()))
        BoundedDrain.stageFile(s.sourceDir, rows, "b.parquet", now - 2000)
        s.drain(stream, Sink.Parquet)
        BoundedDrain.stageFile(s.sourceDir, rows, "c.parquet", now - 1000)
        dirs = Seq(s.checkpoint, s.sinkDir, s.sourceDir)
        views = drainViews()
        s.drain(stream, Sink.ForeachBatch((_, _) => throw new IllegalStateException("sink failed")))
      }
    }
    assert(err.getMessage.contains("sink failed"), err.toString)
    assert(spark.streams.active.isEmpty)
    assert(dirs.size == 3 && views.size == 1)
    dirs.foreach(d => assert(!Files.exists(d), s"$d left behind"))
    assert(views.forall(v => !spark.catalog.tableExists(v)))
  }

  test("stream gates over a fixture without ts fail loudly and leave no source dir") {
    val fixture = Files.createTempDirectory("graft-nots-fixture")
    try {
      spark.range(0, 20).selectExpr("id AS event_id", "id % 3 AS user_id",
          "CASE WHEN id % 2 = 0 THEN 'click' ELSE 'purchase' END AS event_type",
          "1.0D AS value", "'' AS props")
        .write.parquet(s"$fixture/events.parquet")
      val before = tmpDirs("graft-stream-")
      Seq("streaming_tws_timers", "streaming_outer_join").foreach { q =>
        intercept[IllegalArgumentException](EventStreams.queries(q)(spark, fixture.toString))
      }
      val left = tmpDirs("graft-stream-") diff before
      assert(left.isEmpty, s"source dirs left behind: $left")
    } finally deleteRecursively(fixture)
  }
}
