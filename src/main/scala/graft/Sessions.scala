package graft

import org.apache.spark.sql.SparkSession

/** Session factory shared by Verify/Bench/tests, and the ONE place a
  * session is wired. Besides the tuning confs below, every session built
  * here carries:
  *  - the `graftmem` ([[graft.sources.v2.MemCatalog]]) and `graftcat`
  *    ([[graft.sources.v2.SeqCatalog]]) catalogs, as builder configs;
  *  - [[GraftExtensions]]: the engine's SQL functions, the `table_changes`
  *    TVF and the top-k planner strategy;
  *  - a fork-free local commit path (below).
  * Builder options and extensions carry over to `spark.newSession()`
  * clones, so a clone is wired exactly like its parent and no query ever
  * sets a catalog or registers a function on a live session (`Verify`
  * runs 8 queries at once on one session).
  *
  * The reference's whole control plane — 1 s heartbeat polling, 4 s
  * (disabled) timeout, death-triggered task reassignment, the `tasks==4`
  * stage barrier (`greeter_client.cc:136-294`) — maps to Spark scheduler
  * CONFIG, not code: `spark.executor.heartbeatInterval` (10s),
  * `spark.network.timeout` (120s), `spark.task.maxFailures` (4), stage
  * barriers from the DAGScheduler. We only tune what differs from a good
  * cluster default.
  *
  * THE LOCAL COMMIT PATH. Without the native Hadoop library (the usual
  * case off a Hadoop cluster), `RawLocalFileSystem.setPermission` forks a
  * `chmod` process, and `create` and `mkdirs` call it for every file and
  * directory they make, `.crc` siblings included. Every offset-log,
  * commit-log, source-log, sink-log, state-changelog and catalog data
  * file paid that fork — the same per-write process cost the reference
  * pays with `popen("hdfs dfs -put ...")`. Two confs remove it:
  *  - `fs.file.impl` is [[graft.sparkutil.NioLocalFileSystem]], still the
  *    checksummed `LocalFileSystem`, which sets the same permission bits
  *    through `java.nio`. In a 200-call loop on a 4-core VM, one `create`
  *    (file and `.crc`) took 5.0 → 0.1–0.3 ms and one `mkdirs`
  *    2.4 → 0.05 ms.
  *  - the streaming checkpoint manager (offset/commit logs, RocksDB state
  *    uploads) is Spark's FileSystem-based one. The default goes through
  *    Hadoop's FileContext, whose local binding hard-wires the stock
  *    `RawLocalFileSystem`, so it never reaches the class above: each
  *    atomic write (temp file, `.crc`, rename) forks again. The
  *    FileSystem manager writes a temp file and renames it into place.
  *    That is safe here because a rename on a local POSIX filesystem is
  *    atomic, and each checkpoint dir has one writer (one running
  *    incarnation of one query).
  * Together they cut the summed `walCommit` time of a `stream_commit`
  * perfbench op (about 3 micro-batches) from 0.185 to 0.005 s; either
  * one alone leaves most of it (0.042 s with only the manager, 0.167 s
  * with only the filesystem).
  */
object Sessions {
  def local(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    build(s"local[$cpus]", cpus.toInt, appName)
  }

  def build(master: String, shufflePartitions: Int, appName: String): SparkSession =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      // match local core count, not the 200 default sized for clusters
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // AQE: runtime partition coalescing, skew-join splitting, plan re-opt
      .config("spark.sql.adaptive.enabled", "true")
      // small fixture files are one row-group: without a floor, explosive
      // map stages (shingling, tokenize) pin to one task. This is the
      // declarative form of a manual repartition-if-narrow — scans already
      // wider than the floor are untouched (the 100 TB case), and no
      // query-build-time RDD/plan introspection is needed.
      .config("spark.sql.files.minPartitionNum", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // RocksDB is the production state-store backend for every streaming
      // run (changelog-checkpointed, spills off-heap). Pinned ONCE here —
      // builder options propagate to spark.newSession() clones — so no
      // query ever set/restores the session-global key (a concurrent
      // restore could flip a restart query's second incarnation back to
      // the HDFS provider mid-recovery). Batch plans never read this key.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // storage-partitioned joins: when two V2 scans report the same
      // KeyGroupedPartitioning (the connector's align=bucket layout), the
      // join plans with ZERO exchanges — the Iceberg/Delta bucketed-join
      // contract. Off by default upstream only for legacy compatibility.
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      // ...and let co-partitioning count when the join keys are a SUPERSET
      // of the reported partition keys (join on (bucket, id), layout on
      // bucket): clustering by bucket already co-locates every (bucket,id)
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      // events.ts is TIMESTAMP(NANOS); surface as long, converted in Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // the fork-free local commit path (see the scaladoc)
      .config("spark.hadoop.fs.file.impl", classOf[graft.sparkutil.NioLocalFileSystem].getName)
      .config("spark.sql.streaming.checkpointFileManagerClass", classOf[
        org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager]
        .getName)
      .config("spark.sql.catalog.graftmem", classOf[graft.sources.v2.MemCatalog].getName)
      .config("spark.sql.catalog.graftcat", classOf[graft.sources.v2.SeqCatalog].getName)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
}
