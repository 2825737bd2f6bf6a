package graft

import java.nio.file.{Files, Paths}

import graft.Bench.jsonStr

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local("graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Run query dumps concurrently: each is a small independent Spark job
    // (FIFO scheduler interleaves fine); sequential execution would be
    // dominated by per-job fixed overhead at fixture scale.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    // Dev loop: SPARK_GRAFT_VERIFY_ONLY=q1,q2 restricts the dump (the
    // driver runs the full registry; compare.py checks whatever was dumped).
    val selected = sys.env.get("SPARK_GRAFT_VERIFY_ONLY") match {
      case Some(only) =>
        val keep = only.split(",").toSet
        SparkEntry.queries.filter { case (k, _) => keep(k) }
      case None => SparkEntry.queries
    }
    // A failed query must be LOUD, not a silently missing entry: write the
    // stack trace as <name>/_GRAFT_ERROR.txt (the dir exists but holds no
    // parquet, so any compare step reports the query as an error instead
    // of dropping it) and collect everything into verify_errors.json.
    val errors = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val futures = selected.toSeq.map { case (name, fn) =>
      scala.concurrent.Future {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          val sw = new java.io.StringWriter()
          e.printStackTrace(new java.io.PrintWriter(sw))
          val msg = sw.toString.linesIterator.take(40).mkString("\n")
          System.err.println(s"[verify] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
          errors.put(name, msg)
          val d = Paths.get(s"$outDir/$name")
          try {
            // replace any partial dump with an explicit error marker
            graft.sources.v2.MemCatalog.deleteRecursively(d)
            Files.createDirectories(d)
            Files.writeString(d.resolve("_GRAFT_ERROR.txt"), msg + "\n")
          } catch { case _: Throwable => () }
        }
      }
    }
    import scala.concurrent.duration._
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures), 60.minutes)
    pool.shutdown()
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (!errors.isEmpty) {
      import scala.jdk.CollectionConverters._
      val errJson = errors.asScala.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    }
    spark.stop()
  }
}
