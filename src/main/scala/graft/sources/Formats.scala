package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.operators.TextPipeline.Oracle
import graft.sparkutil.{Multiset, ScanMetrics}
import graft.sources.v2.MemCatalog
import graft.streaming.BoundedDrain
import graft.streaming.BoundedDrain.Sink

/** Non-parquet SOURCE coverage at the verified-query level: SinksSpec
  * proves CSV/JSON/ORC round-trips in-process, but a registry query must
  * also SCAN a non-parquet source under the driver's DuckDB oracle gate.
  * `csv_source_agg` does that: the orders fixture is exported once per run
  * through [[Sinks.writeCsv]] (distributed header'd CSV, one file per
  * partition), read back as a CSV SCAN with an EXPLICIT schema (the 100 TB
  * discipline — schema inference over CSV is a full extra pass), and
  * aggregated; DuckDB's `read_csv` over the same files is the oracle, so
  * the write→scan→aggregate chain is hash-gated end-to-end.
  *
  * The aggregate is count/min/max only — order-independent and exact under
  * text round-trip (both engines parse decimal text to nearest double), so
  * no summation-order or rounding-boundary risk.
  *
  * Scale posture: the CSV scan supports filter pushdown
  * (`spark.sql.csv.filterPushdown.enabled` defaults true — predicate
  * evaluated during parsing, non-matching rows never materialize) and the
  * explicit schema plus `columnPruning` parse only referenced columns.
  * Single-writer assumption: the export path is fixed per JVM run; Verify
  * and the oracle read it within the same run.
  */
object Formats {

  /** Fixed export path — embedded verbatim in the oracle SQL, so it must
    * be identical in the query and the `read_csv` call; it must also
    * SURVIVE past the Verify run (the oracle reads it afterwards), so it
    * lives under the repo's gitignored warehouse dir, not a temp dir.
    */
  val CsvExportPath = "/root/repo/spark-warehouse/graft_csv_export/orders_csv"

  val OrdersCsvSchema =
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, o_orderpriority STRING"

  /** Export orders → CSV, scan it back with an explicit schema, aggregate
    * urgent orders by status.
    */
  def csvSourceAgg(spark: SparkSession, dir: String): DataFrame = {
    Sinks.writeCsv(
      Tables.orders(spark, dir).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"),
      CsvExportPath)
    spark.read
      .schema(OrdersCsvSchema)
      .option("header", "true")
      .csv(CsvExportPath)
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n_orders"),
        min("o_totalprice").as("min_price"),
        max("o_totalprice").as("max_price"))
  }

  /** Malformed-record QUARANTINE — the ingestion guard every 100 TB CSV
    * intake needs: rows that fail the declared schema must be COUNTED and
    * SET ASIDE, never silently dropped (data loss) or fatal (one bad line
    * kills a petabyte job). A deterministic corruption rule (orderkey
    * ≡ 0 mod 13 → a non-numeric amount plus a trailing extra field; both
    * malformation classes at once) is injected while exporting orders as
    * raw CSV lines; the scan reads them back under PERMISSIVE mode with
    * `columnNameOfCorruptRecord`, so each malformed line surfaces as a
    * NULL-parsed row carrying its raw text. The aggregate audits the
    * split: good/quarantined counts and the exact cents total over good
    * rows only. The oracle replays the corruption rule over the fixture —
    * a parser that dropped, mis-flagged, or double-counted any line
    * breaks the hash. Scale posture: quarantine is a per-row parse
    * decision inside the scan (no extra pass, no shuffle); the corrupt
    * column is pruned away unless referenced.
    */
  def csvQuarantine(spark: SparkSession, dir: String): DataFrame = {
    val path = java.nio.file.Files.createTempDirectory("graft-quarantine")
    // materialize before deleting the temp export (the returned plan is
    // re-executed by Verify/Bench after this function returns)
    val pinned = csvQuarantinePlan(spark, dir, path.toString).localCheckpoint(true)
    MemCatalog.deleteRecursively(path)
    pinned
  }

  /** Exports the corrupted CSV into `path` and returns the UN-pinned audit
    * aggregate over it — split out so PlanShapeSpec can assert the shape
    * (one CSV scan, parse-level quarantine, no second pass) on the live
    * plan before [[csvQuarantine]] checkpoints it away.
    */
  private[graft] def csvQuarantinePlan(spark: SparkSession, dir: String,
      path: String): DataFrame = {
    val lines = Tables.orders(spark, dir)
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .select(when(col("o_orderkey") % 13 === 0,
          concat_ws(",", col("o_orderkey"), lit("NOT_A_NUMBER"), lit("extra_field")))
        .otherwise(concat_ws(",", col("o_orderkey"), col("cents"))).as("value"))
    lines.write.mode("overwrite").text(path)
    val parsed = spark.read
      .schema("o_orderkey LONG, cents LONG, _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path)
    parsed.agg(
      sum(when(col("_corrupt_record").isNull, 1L).otherwise(0L)).as("n_good"),
      sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L)).as("n_quarantined"),
      sum(when(col("_corrupt_record").isNull, col("cents"))).as("good_cents"))
  }

  /** XML export path — same single-writer-per-run lifecycle as
    * [[CsvExportPath]].
    */
  val XmlExportPath = "/root/repo/spark-warehouse/graft_xml_export/orders_xml"

  /** XML round-trip under the oracle gate — Spark 4 ships the (formerly
    * spark-xml) XML datasource in spark-sql proper, completing the
    * text-format matrix (CSV/JSON/text/XML) at the verified-query level.
    * Orders are exported as `<order>` row elements, scanned back with an
    * EXPLICIT schema (no inference pass — same 100 TB discipline as the
    * CSV scan), and aggregated. DuckDB has no XML reader, so the oracle is
    * the same aggregate over the parquet fixture — the gate then proves
    * the write→parse chain preserved every value bit-for-bit (count/min/
    * max survive text round-trip exactly: both engines parse decimal text
    * to nearest double).
    */
  def xmlSourceAgg(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
      .write.mode("overwrite")
      .format("xml")
      .option("rootTag", "orders").option("rowTag", "order")
      .save(XmlExportPath)
    spark.read
      .schema(OrdersCsvSchema)
      .format("xml")
      .option("rowTag", "order")
      .load(XmlExportPath)
      .filter(col("o_orderpriority") === "2-HIGH")
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n_orders"),
        min("o_totalprice").as("min_price"),
        max("o_totalprice").as("max_price"))
  }

  /** CUSTOM CONNECTOR scan under the oracle gate — reads the repo's own
    * DataSource V2 [[graft.sources.v2.SeqSource]] (deterministic synthetic
    * sequence table) with an id-range predicate that the connector pushes
    * into partition planning (rows outside [25000, 75000) never
    * materialize — `Scan.description` echoes the pushed filters into the
    * plan, PlanShapeSpec asserts them) and column pruning driven by the
    * aggregate. The DuckDB oracle regenerates the same sequence with
    * `generate_series` and the same Knuth-hash value formula, so the gate
    * proves the connector's generation, pushdown narrowing, and partition
    * union are all value-correct.
    */
  def dsv2SeqAgg(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft.sources.v2.SeqSource")
      .option("n", "100000").option("parts", "8").load()
      .filter(col("id") >= 25000 && col("id") < 75000)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum("val").as("sum_val"))

  /** AGGREGATE PUSHDOWN through the custom connector
    * (`SupportsPushDownAggregates`): the grouped count/sum/min/max lands
    * INSIDE [[graft.sources.v2.SeqSource]], so each of the 8 input
    * partitions emits at most 32 pre-reduced rows (one per bucket) and the
    * un-aggregated rows never cross the source boundary — Spark's final
    * aggregate merges the ≤256 partials. This is the 100 TB scan-side
    * pre-aggregation contract (parquet footer-stats pushdown, ClickHouse
    * pre-aggregation): the shuffle input is O(parts × groups), not O(N).
    * Composes with filter pushdown (the id-range lands first, the
    * aggregation folds the narrowed range). PlanShapeSpec asserts the
    * scan is the aggregated form; the oracle replays the full
    * sequence + Knuth-hash formula in DuckDB, proving the partial
    * fold + final merge is value-identical to a plain group-by.
    */
  def dsv2AggPushdown(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft.sources.v2.SeqSource")
      .option("n", "200000").option("parts", "8").load()
      .filter(col("id") >= 2048)
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum("val").as("sum_val"),
        min("val").as("min_val"),
        max("val").as("max_val"))

  /** RUNTIME partition pruning through the custom connector
    * (`SupportsRuntimeV2Filtering` + `align=bucket` layout): the fact
    * side is the sequence table laid out one-partition-per-bucket; the
    * dimension side is the (filtered, distinct) bucket-key set derived
    * from `nation`. Spark evaluates the broadcast dimension first, hands
    * the surviving bucket set to the scan's `filter()`, and 28 of the 32
    * aligned partitions are dropped before any task launches — the DSv2
    * dynamic-partition-pruning contract for connectors that own their own
    * layout (Iceberg/Delta file pruning). The oracle replays the join
    * against the regenerated sequence, proving pruning dropped exactly
    * the non-qualifying residue classes and nothing else; PlanShapeSpec
    * asserts the dynamic-pruning subquery is planned on the scan and the
    * runtime prune actually fired (4/32 partitions).
    */
  def dsv2RuntimeFilter(spark: SparkSession, dir: String): DataFrame = {
    val fact = spark.read.format("graft.sources.v2.SeqSource")
      .option("n", "65536").option("align", "bucket").load()
    val dim = Tables.nation(spark, dir)
      .select((col("n_nationkey") % 8).as("bucket_key")).distinct()
      .filter(col("bucket_key") < 4)
    fact.join(broadcast(dim), fact("bucket") === dim("bucket_key"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"), sum("val").as("sum_val"))
  }

  /** STORAGE-PARTITIONED JOIN (`SupportsReportPartitioning` +
    * `HasPartitionKey`): both sides are bucket-aligned sequence tables
    * reporting `KeyGroupedPartitioning(identity(bucket))`, and the join
    * keys include the partition key — so Spark zips the co-located
    * bucket partitions directly and the plan carries ZERO exchanges
    * (asserted by PlanShapeSpec). This is the V2 form of the bucketed
    * co-located join (`join_bucketed_colocated` proves the parquet
    * bucketBy path): at 100 TB it deletes BOTH full-table shuffles from
    * a fact-fact join — the single biggest cost in any large join — in
    * exchange for agreeing on a layout at write time. Both sides are
    * sized past the broadcast threshold (the connector's
    * `SupportsReportStatistics` numbers are what the planner reads), so
    * this is the genuine fact-fact shape: sort-merge over zipped
    * partitions. The id-equality term keeps the match 1:1 inside each
    * bucket; the oracle replays the join arithmetic over the regenerated
    * sequences. The bucket aggregate after the join ALSO rides the
    * reported partitioning — the whole plan has zero exchanges.
    */
  def dsv2SpjJoin(spark: SparkSession, dir: String): DataFrame = {
    def aligned(n: Int) = spark.read.format("graft.sources.v2.SeqSource")
      .option("n", n.toString).option("align", "bucket").load()
    val b = aligned(524288).select(
      col("id").as("b_id"), col("val").as("b_val"), col("bucket").as("b_bucket"))
    aligned(1048576)
      .join(b, col("bucket") === col("b_bucket") && col("id") === col("b_id"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"), sum(col("val") + col("b_val")).as("sum_both"))
  }

  /** STORAGE-PARTITIONED JOIN ON CATALOG TABLES — the Iceberg SPJ on
    * [[MemCatalog]] tables: two tables sharing the
    * partition spec `bucket(8,k)` (routed, so every file is
    * partition-pure), read with `.option("groupByPartition", "true")`
    * (Iceberg's preserve-data-grouping — one input partition per
    * partition TUPLE, `KeyGroupedPartitioning(bucket(8,k))` reported,
    * each tuple partition exposing its key), joined on `k`: the join
    * plans with ZERO exchanges — Spark zips the co-located tuple
    * partitions directly. [[dsv2SpjJoin]] proves the mechanism on the
    * synthetic generator; THIS query proves it on real written tables
    * through the catalog's FunctionCatalog-resolved transform, which is
    * what a 100 TB fact-fact join on a shared bucket layout needs: both
    * full-table shuffles deleted, the single most expensive step of the
    * join gone, because the LAYOUT carries the partitioning. Both sides
    * report real manifest sizes above the broadcast threshold, so the
    * zero-exchange SMJ is the honest plan, not a broadcast in disguise.
    * Opt-in per read because tuple grouping trades scan parallelism
    * (task count = partition count) for exchange elimination.
    */
  def dsv2SpjCatalog(spark: SparkSession, dir: String): DataFrame = {
    def mk(name: String, rows: Long, mul: Long): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS graftmem.tmp.$name")
      spark.sql(
        s"""CREATE TABLE graftmem.tmp.$name (k BIGINT, v BIGINT)
           |TBLPROPERTIES ('graft.partition'='bucket(8,k)',
           |               'graft.partitionRoute'='true', 'clusterParts'='8')""".stripMargin)
      spark.sql(s"INSERT INTO graftmem.tmp.$name SELECT id, id * $mul FROM range(0, $rows)")
    }
    // both sides must exceed the 10 MB broadcast threshold in their
    // REPORTED stats, else the planner rightly broadcasts and the SPJ
    // demonstration is vacuous: ~19 B/row in the mem codec → 700k/600k
    mk("spj_a", 700000L, 1L)
    mk("spj_b", 600000L, 2L)
    val a = spark.read.option("groupByPartition", "true").table("graftmem.tmp.spj_a")
    val b = spark.read.option("groupByPartition", "true").table("graftmem.tmp.spj_b")
      .select(col("k").as("bk"), col("v").as("bv"))
    val joined = a.join(b, col("k") === col("bk"))
    val plan = joined.queryExecution.executedPlan.toString
    val spjZeroExchange = plan.contains("SortMergeJoin") && !plan.contains("Exchange")
    joined
      .groupBy(pmod(col("k") * lit(2654435761L), lit(8L)).as("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum(col("v") + col("bv")).as("sum_both"))
      .withColumn("spj_zero_exchange", lit(spjZeroExchange))
  }

  /** STORAGE-PARTITIONED JOIN on a STRING partition key — the corpus-
    * mixture dimension (language / tenant) a training-data lakehouse
    * naturally lays out by. `identity(lang)` files stamp the lossy
    * 8-byte prefix CODE for pruning, so SPJ additionally records each
    * pure file's exact raw value (`ptv:` manifest stamp) and reports
    * THAT as the partition value — grouping on the code would silently
    * merge distinct keys sharing a prefix. The join keys (lang, v)
    * SUPERSET the partition key, the Iceberg SPJ contract: rows equal
    * on (lang, v) are equal on lang, so the per-lang co-location
    * satisfies the join's clustering with zero exchanges. Both sides
    * exceed the broadcast threshold so the zero-exchange SMJ is honest.
    * MemSpjSpec separately pins the fallbacks: null-bearing files and
    * prefix-colliding raw values must refuse to group.
    */
  def dsv2SpjString(spark: SparkSession, dir: String): DataFrame = {
    val langs = "array('en','de','fr','es','pt','zh','ja','ko')"
    def mk(name: String, rows: Long, mul: Long): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS graftmem.tmp.$name")
      spark.sql(
        s"""CREATE TABLE graftmem.tmp.$name (lang STRING, v BIGINT, w BIGINT)
           |TBLPROPERTIES ('graft.partition'='identity(lang)',
           |               'graft.partitionRoute'='true', 'clusterParts'='8')""".stripMargin)
      spark.sql(s"INSERT INTO graftmem.tmp.$name " +
        s"SELECT element_at($langs, cast(id % 8 AS INT) + 1), id, id * $mul " +
        s"FROM range(0, $rows)")
    }
    mk("spj_sa", 700000L, 1L)
    mk("spj_sb", 600000L, 2L)
    val a = spark.read.option("groupByPartition", "true").table("graftmem.tmp.spj_sa")
    val b = spark.read.option("groupByPartition", "true").table("graftmem.tmp.spj_sb")
      .select(col("lang").as("blang"), col("v").as("bv"), col("w").as("bw"))
    val joined = a.join(b, col("lang") === col("blang") && col("v") === col("bv"))
    val plan = joined.queryExecution.executedPlan.toString
    val spjZeroExchange = plan.contains("SortMergeJoin") && !plan.contains("Exchange")
    joined.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_rows"), sum(col("w") + col("bw")).as("sum_both"))
      .withColumn("spj_zero_exchange", lit(spjZeroExchange))
  }

  /** FIELD-ID SCHEMA EVOLUTION through the catalog's full DDL surface:
    * create → write → RENAME COLUMN → write → DROP COLUMN → write →
    * ADD COLUMN, then one aggregate over ALL the files — each written
    * under a different schema, all resolved by stable field id
    * ([[graft.sources.v2.MemSchema]]): the rename never touched data,
    * the dropped column's bytes decode-and-discard, the added column
    * null-backfills, and no file was rewritten. Riders pin the final
    * schema shape and the Iceberg time-travel contract (an old snapshot
    * reads under the CURRENT schema). MemSchemaEvolutionSpec separately
    * proves id non-reuse (a post-drop ADD must not resurface the
    * dropped bytes), the referenced-column guards, and composition with
    * UPDATE/DELETE/OPTIMIZE. At 100 TB this is the no-rewrite contract:
    * renaming or retiring a column on a petabyte table is a metadata
    * commit, never a data job.
    */
  def dsv2SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    spark.sql("DROP TABLE IF EXISTS graftmem.tmp.evo")
    spark.sql("CREATE TABLE graftmem.tmp.evo (cat BIGINT, amt BIGINT, junk STRING)")
    Tables.orders(spark, dir).createOrReplaceTempView("graft_evo_orders")
    def ins(mod: Long, cols: String): Unit =
      spark.sql(s"INSERT INTO graftmem.tmp.evo SELECT $cols " +
        s"FROM graft_evo_orders WHERE o_orderkey % 3 = $mod")
    val batchCols = "o_orderkey % 4, CAST(round(o_totalprice * 100) AS BIGINT), o_orderpriority"
    ins(0L, batchCols) // v1: schema (cat, amt, junk)
    spark.sql("ALTER TABLE graftmem.tmp.evo RENAME COLUMN amt TO cents")
    ins(1L, batchCols) // v2: same ids, new name
    spark.sql("ALTER TABLE graftmem.tmp.evo DROP COLUMN junk")
    ins(2L, "o_orderkey % 4, CAST(round(o_totalprice * 100) AS BIGINT)") // v3: 2 cols
    spark.sql("ALTER TABLE graftmem.tmp.evo ADD COLUMN gen BIGINT") // fresh id, all null
    val finalSchema = spark.table("graftmem.tmp.evo").schema.fieldNames.toSeq
    val evolved = finalSchema == Seq("cat", "cents", "gen")
    // time travel: the v1 snapshot under the CURRENT schema
    val tt = spark.sql("SELECT * FROM graftmem.tmp.evo VERSION AS OF 1")
    val ttCurrent = tt.schema.fieldNames.toSeq == Seq("cat", "cents", "gen") &&
      tt.count() == spark.sql(
        "SELECT count(*) FROM graft_evo_orders WHERE o_orderkey % 3 = 0").head().getLong(0)
    spark.sql(
      """SELECT cat, count(*) AS n_rows, sum(cents) AS total_cents,
        |       count(gen) AS n_gen
        |FROM graftmem.tmp.evo GROUP BY cat""".stripMargin)
      .withColumn("evolved_schema", lit(evolved))
      .withColumn("tt_current_schema", lit(ttCurrent))
  }

  /** DYNAMIC PARTITION OVERWRITE — the lakehouse partial-rewrite
    * contract: a partitioned table is rewritten for ONLY the partitions
    * present in the incoming frame (`partitionOverwriteMode=dynamic`, set
    * as a WRITE option so no session conf mutates under concurrent
    * queries), while untouched partitions keep their existing files. The
    * run writes all three order-status partitions, then overwrites just
    * the 'O' partition with doubled cents; the final table must show 'O'
    * doubled AND 'F'/'P' intact — under the default STATIC overwrite the
    * second write would have DELETED the other partitions, so the oracle's
    * per-status row counts make that failure loud, not silent. At 100 TB
    * this is the daily-reprocess shape: rewrite yesterday's partition
    * without touching years of history (and without a full-table lock).
    */
  def sinkDynamicOverwrite(spark: SparkSession, dir: String): DataFrame = {
    val path = java.nio.file.Files.createTempDirectory("graft-dpo")
    val base = Tables.orders(spark, dir).select(
      col("o_orderkey"),
      round(col("o_totalprice") * 100).cast("long").as("cents"),
      col("o_orderstatus"))
    base.write.partitionBy("o_orderstatus").mode("overwrite").parquet(path.toString)
    base.filter(col("o_orderstatus") === "O")
      .withColumn("cents", col("cents") * 2)
      .write.partitionBy("o_orderstatus").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(path.toString)
    val pinned = spark.read.parquet(path.toString)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"), sum("cents").as("total_cents"))
      .localCheckpoint(true)
    MemCatalog.deleteRecursively(path)
    pinned
  }

  /** ATOMIC CTAS through the WRITABLE V2 catalog
    * ([[MemCatalog]], a `StagingTableCatalog`):
    * `CREATE OR REPLACE TABLE ... AS SELECT` stages every part file in an
    * invisible directory and publishes with one atomic move — then an
    * `INSERT INTO` appends through the two-phase part-file commit, and the
    * final SELECT reads it all back through the catalog's own scan. The
    * oracle recomputes the aggregate plus the marker row, so the gate
    * covers the full DDL→write→publish→append→scan round-trip through
    * Spark's CatalogManager (the Iceberg/Delta table-lifecycle surface).
    * MemCatalogSpec separately proves the ATOMICITY contracts: a failing
    * CTAS leaves no table; a failing REPLACE leaves the old data intact.
    */
  def dsv2CatalogCtas(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_ctas_orders")
    spark.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.ord_sum AS
        |SELECT o_orderstatus AS status, count(*) AS n_orders,
        |       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |FROM graft_ctas_orders GROUP BY 1""".stripMargin)
    spark.sql("INSERT INTO graftmem.tmp.ord_sum VALUES ('X', 0, 0)")
    spark.sql("SELECT status, n_orders, cents FROM graftmem.tmp.ord_sum")
  }

  /** SQL DELETE through the writable catalog (`SupportsDeleteV2`): CTAS a
    * per-clerk-band aggregate, DELETE one band by predicate, read back —
    * the file-granularity copy-on-write DML lakehouse tables run daily
    * (GDPR erasure, bad-batch retraction) surfaced as plain SQL. The
    * connector accepts only exact-match predicate shapes and REFUSES
    * anything it can't evaluate faithfully (`canDeleteWhere` — failing
    * the statement beats deleting the wrong rows). The oracle recomputes
    * the post-delete table from the fixture.
    */
  def dsv2CatalogDelete(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_del_orders")
    spark.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.clerk_bands AS
        |SELECT CAST(o_custkey % 7 AS BIGINT) AS band, o_orderstatus AS status,
        |       count(*) AS n_orders,
        |       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |FROM graft_del_orders GROUP BY 1, 2""".stripMargin)
    spark.sql("DELETE FROM graftmem.tmp.clerk_bands WHERE band = 3")
    spark.sql("DELETE FROM graftmem.tmp.clerk_bands WHERE status IN ('P')")
    spark.sql("SELECT band, status, n_orders, cents FROM graftmem.tmp.clerk_bands")
  }

  /** SQL UPDATE through `SupportsRowLevelOperations` — group-based
    * copy-on-write at file granularity ([[graft.sources.v2.MemRowLevelOperation]]).
    * The predicate (`band >= 5`) is deliberately a RANGE the connector's
    * `canDeleteWhere` would refuse: the row-level rewrite is what makes
    * arbitrary predicates safe, because Spark evaluates the condition and
    * the connector only swaps whole groups. Spark's runtime group filter
    * (`SELECT DISTINCT _file WHERE band >= 5`) picks which part files are
    * rewritten — the rest are never read. The oracle replays the update
    * arithmetic over the fixture aggregate.
    */
  def dsv2CatalogUpdate(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_upd_orders")
    spark.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.upd_bands AS
        |SELECT CAST(o_custkey % 7 AS BIGINT) AS band, o_orderstatus AS status,
        |       count(*) AS n_orders,
        |       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |FROM graft_upd_orders GROUP BY 1, 2""".stripMargin)
    spark.sql(
      """UPDATE graftmem.tmp.upd_bands
        |SET cents = cents + n_orders, status = concat(status, '+')
        |WHERE band >= 5""".stripMargin)
    spark.sql("SELECT band, status, n_orders, cents FROM graftmem.tmp.upd_bands")
  }

  /** SQL MERGE INTO through `SupportsRowLevelOperations`: the target holds
    * the non-urgent order aggregate, the source batch is the urgent slice,
    * and the MERGE upserts — matched statuses accumulate, unseen statuses
    * insert. Post-merge the table must equal the aggregate over ALL
    * orders, which is exactly what the oracle states — the incremental
    * path and the recompute-from-scratch path must converge bit-for-bit
    * (the idempotent-upsert contract warehouse loads depend on). Same
    * group-based COW machinery as UPDATE; the join and clause arbitration
    * are Spark's rewrite, the connector only swaps files.
    */
  def dsv2CatalogMerge(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_mrg_orders")
    spark.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.mrg_status AS
        |SELECT o_orderstatus AS status, count(*) AS n_orders,
        |       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |FROM graft_mrg_orders WHERE o_orderpriority <> '1-URGENT' GROUP BY 1""".stripMargin)
    spark.sql(
      """MERGE INTO graftmem.tmp.mrg_status t
        |USING (SELECT o_orderstatus AS status, count(*) AS n_orders,
        |              sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |       FROM graft_mrg_orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1) s
        |ON t.status = s.status
        |WHEN MATCHED THEN UPDATE SET
        |  n_orders = t.n_orders + s.n_orders, cents = t.cents + s.cents
        |WHEN NOT MATCHED THEN INSERT (status, n_orders, cents)
        |  VALUES (s.status, s.n_orders, s.cents)""".stripMargin)
    spark.sql("SELECT status, n_orders, cents FROM graftmem.tmp.mrg_status")
  }

  /** A streaming session clone sized from the fixture `orders` table (see
    * [[graft.streaming.EventStreams.streamingSession]]), with that table
    * registered on it as `view`: the source of every orders-fed catalog
    * stream gate. */
  private[graft] def ordersSession(spark: SparkSession, dir: String, view: String): SparkSession = {
    import graft.streaming.EventStreams
    val ss = EventStreams.streamingSession(spark, EventStreams.tableBytes(dir, "orders"))
    Tables.orders(ss, dir).createOrReplaceTempView(view)
    ss
  }

  /** TIME TRAVEL (`VERSION AS OF`) through the writable catalog: the
    * table is snapshot-versioned Iceberg-style — every committing
    * statement publishes a `_v<N>.manifest` file list, DML retires files
    * from the manifest instead of deleting them, and
    * `TableCatalog.loadTable(ident, version)` pins an older manifest
    * ([[MemCatalog]]). The query walks a table through
    * its whole DML life (CTAS → INSERT → COW UPDATE → metadata DELETE)
    * and then reads ALL FOUR snapshots in one statement — the
    * audit/debug/reproduce-yesterday's-report surface every lakehouse
    * format ships. The oracle replays each version's state declaratively
    * from the fixture, so the gate proves the snapshots capture exactly
    * the statement boundaries. MemCatalogSpec separately proves
    * `TIMESTAMP AS OF` resolution and that history files survive on
    * disk. At 100 TB the cost model is the lakehouse one: a snapshot is
    * a manifest pointer, never a data copy; old files accumulate until
    * a VACUUM — a documented trade, not a hidden one.
    */
  def dsv2TimeTravel(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_tt_orders")
    spark.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.tt_bands AS
        |SELECT CAST(o_custkey % 7 AS BIGINT) AS band, o_orderstatus AS status,
        |       count(*) AS n_orders,
        |       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |FROM graft_tt_orders GROUP BY 1, 2""".stripMargin)
    spark.sql("INSERT INTO graftmem.tmp.tt_bands VALUES (99, 'X', 0, 0)")
    spark.sql(
      "UPDATE graftmem.tmp.tt_bands SET cents = cents + n_orders WHERE band >= 5")
    spark.sql("DELETE FROM graftmem.tmp.tt_bands WHERE band = 3")
    spark.sql(
      """SELECT CAST(0 AS BIGINT) AS version, count(*) AS n_rows, sum(cents) AS total_cents
        |  FROM graftmem.tmp.tt_bands VERSION AS OF 0
        |UNION ALL
        |SELECT 1, count(*), sum(cents) FROM graftmem.tmp.tt_bands VERSION AS OF 1
        |UNION ALL
        |SELECT 2, count(*), sum(cents) FROM graftmem.tmp.tt_bands VERSION AS OF 2
        |UNION ALL
        |SELECT 3, count(*), sum(cents) FROM graftmem.tmp.tt_bands""".stripMargin)
  }

  /** `table_changes('<cat.ns.t>', start[, end])` — the SQL TVF surface
    * over the catalog change feed ([[graft.sources.v2.TableChanges]]),
    * the form a SQL-only user reaches for first (Delta's `table_changes`
    * shape; the option-based reader stays the programmatic twin). The
    * gated output is the LAYOUT-INDEPENDENT net reconstruction of the
    * final table from `table_changes(t, 0, head)` — Σ(+insert, −delete)
    * per key equals the declaratively-replayed final state, whatever
    * file groups the COW statements happened to rewrite. Riders:
    * `tvf_equals_stream` (the TVF's rows are multiset-identical to a
    * real drained `readStream.option("changefeed")` run over the same
    * versions — the by-construction equivalence, verified end-to-end),
    * `tvf_bounded_window` (the [2,2] window nets to exactly the UPDATE
    * commit's cents delta, computed from a `VERSION AS OF 1` count, no
    * layout assumptions), and `commit_versions_stamped` (the
    * `_commit_version` column covers exactly 0..head).
    */
  def dsv2TableChangesTvf(spark: SparkSession, dir: String): DataFrame = {
    val ss = ordersSession(spark, dir, "graft_tvf_orders")
    ss.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.tvf_t AS
        |SELECT CAST(o_orderkey % 37 AS BIGINT) AS k, count(*) AS n,
        |       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |FROM graft_tvf_orders GROUP BY 1""".stripMargin) // v0
    ss.sql("INSERT INTO graftmem.tmp.tvf_t VALUES (501, 1, 111)") // v1
    ss.sql("UPDATE graftmem.tmp.tvf_t SET cents = cents + 1 WHERE k % 6 = 2") // v2
    ss.sql("DELETE FROM graftmem.tmp.tvf_t WHERE k % 9 = 4") // v3
    // rider 2: the bounded [2,2] window nets to the UPDATE's exact cents
    // delta — +1 per k%6=2 row present at v1 (counted via time travel,
    // zero layout assumptions; untouched rows of rewritten files cancel)
    val netW2 = ss.sql(
      """SELECT sum(CASE WHEN _change_type = 'insert' THEN cents ELSE -cents END)
        |FROM table_changes('graftmem.tmp.tvf_t', 2, 2)""".stripMargin).scalar()
    val boundedWindow = netW2 === ss.sql(
      "SELECT count(*) FROM graftmem.tmp.tvf_t VERSION AS OF 1 WHERE k % 6 = 2").scalar()
    // rider 3: _commit_version covers exactly 0..3, with one
    // _commit_timestamp per commit, non-decreasing in version (wall-clock
    // values can't be oracle-gated; the ORDER contract can): sorted by
    // (timestamp, version), the versions read 0..3 in order
    val versionsStamped = ss.sql(
      """SELECT transform(array_sort(collect_list(struct(mx, v))), s -> s.v) = sequence(0L, 3L)
        |       AND every(mx = mn)
        |FROM (SELECT _commit_version AS v, max(CAST(_commit_timestamp AS BIGINT)) AS mx,
        |             min(CAST(_commit_timestamp AS BIGINT)) AS mn
        |      FROM table_changes('graftmem.tmp.tvf_t', 0, 3) GROUP BY 1)""".stripMargin).scalar()
    // rider 4: NET mode (4th arg) — the update window emits only Delta-CDC
    // update_preimage/update_postimage rows, whose cents delta matches the
    // raw window's net: untouched rows of the rewritten file groups cancel
    // inside the diff (no insert/delete noise)
    val netWindow = ss.sql(
      """SELECT array_sort(collect_set(_change_type)) AS types,
        |       sum(CASE WHEN _change_type = 'update_postimage' THEN cents ELSE -cents END) AS d
        |FROM table_changes('graftmem.tmp.tvf_t', 2, 2, true)""".stripMargin)
      .select(col("types") === array(lit("update_postimage"), lit("update_preimage")) &&
        col("d") === netW2).scalar()
    // rider 1: the TVF is multiset-identical to a REAL drained streaming
    // change-feed run over the same versions
    val drained = BoundedDrain.once(
      ss.readStream.option("changefeed", "true").table("graftmem.tmp.tvf_t")
        .select(col("k"), col("n"), col("cents"), col("_change_type")),
      Sink.Memory(OutputMode.Append())).out.get
    val equalsStream = Multiset.equal(ss.sql(
      "SELECT k, n, cents, _change_type FROM table_changes('graftmem.tmp.tvf_t', 0, 3)"), drained)
    // rider 5: `WHERE _commit_version = 2` PUSHES DOWN — the physical
    // scan narrows its planned window to versions=[2, 2] (O(one
    // commit's delta), not a full replay filtered after the fact), and
    // the narrowed result still equals the explicit [2,2] window
    val narrowed = ss.sql(
      """SELECT k, n, cents, _change_type
        |FROM table_changes('graftmem.tmp.tvf_t', 0, 3)
        |WHERE _commit_version = 2""".stripMargin)
    val explicitW2 = ss.sql(
      "SELECT k, n, cents, _change_type FROM table_changes('graftmem.tmp.tvf_t', 2, 2)")
    // the planned window is a plan-time fact: reading it runs no job
    val versionPushdown =
      lit(narrowed.queryExecution.executedPlan.toString.contains("versions=[2, 2]")) &&
        Multiset.equal(narrowed, explicitW2)
    // the gate: net reconstruction from the TVF == the final state
    ss.sql(
      """SELECT k,
        |       sum(CASE WHEN _change_type = 'insert' THEN n ELSE -n END) AS n,
        |       sum(CASE WHEN _change_type = 'insert' THEN cents ELSE -cents END) AS cents
        |FROM table_changes('graftmem.tmp.tvf_t', 0, 3)
        |GROUP BY k
        |HAVING sum(CASE WHEN _change_type = 'insert' THEN n ELSE -n END) <> 0""".stripMargin)
      .withColumn("tvf_equals_stream", equalsStream)
      .withColumn("tvf_bounded_window", boundedWindow)
      .withColumn("commit_versions_stamped", versionsStamped)
      .withColumn("tvf_net_window", netWindow)
      .withColumn("version_pushdown_narrows", versionPushdown)
  }

  /** THE TVF'S STREAMING TWIN — `spark.readStream.table(
    * '<table>.changes_<start>_<end>')`: the same bounded change window
    * the `table_changes(...)` TVF serves as a batch, drained as a
    * MICRO-BATCH STREAM — offsets are commit versions, admission is
    * `maxVersionsPerTrigger` commits per trigger (the
    * maxFilesPerTrigger analog at this source's natural granularity),
    * and the stream STOPS at the window's end instead of tailing
    * forever. Both surfaces plan each commit through the same
    * per-version delta unit ([[graft.sources.v2.MemChangesScan]]), so
    * equivalence is by construction and gated here: the drain is
    * multiset-identical to the batch TVF over the same window
    * (`stream_equals_tvf`), and pacing is real — one non-empty
    * micro-batch per commit (`one_commit_per_trigger`). The output gate
    * folds the drained feed back into the final table (net
    * reconstruction, layout-independent). At 100 TB this is the bounded
    * backfill surface: replay versions [s, e] of a feed into a new
    * consumer at a controlled rate, with restart-safe offsets, without
    * ever scanning the base table.
    */
  def dsv2TvfStream(spark: SparkSession, dir: String): DataFrame = {
    val ss = ordersSession(spark, dir, "graft_tvs_orders")
    ss.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.tvs AS
        |SELECT CAST(o_orderkey % 41 AS BIGINT) AS k, count(*) AS n,
        |       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |FROM graft_tvs_orders GROUP BY 1""".stripMargin) // v0
    ss.sql("INSERT INTO graftmem.tmp.tvs VALUES (601, 1, 222)") // v1
    ss.sql("UPDATE graftmem.tmp.tvs SET cents = cents + 2 WHERE k % 7 = 3") // v2
    ss.sql("DELETE FROM graftmem.tmp.tvs WHERE k % 11 = 5") // v3
    val run = BoundedDrain.once(
      ss.readStream.option("maxVersionsPerTrigger", "1")
        .table("graftmem.tmp.tvs.changes_0_3")
        .select(col("k"), col("n"), col("cents"),
          col("_change_type"), col("_commit_version")),
      Sink.Memory(OutputMode.Append()))
    // pacing: four commits, four non-empty micro-batches (one each); a
    // progress fact of the finished drain, so reading it runs no job
    val paced = run.progress.count(_.numInputRows > 0) == 4
    val drained = run.out.get
    val batch = ss.sql(
      """SELECT k, n, cents, _change_type, _commit_version
        |FROM table_changes('graftmem.tmp.tvs', 0, 3)""".stripMargin)
    // fold the drained feed: net reconstruction == the final table
    val sign = when(col("_change_type") === "delete", lit(-1L)).otherwise(lit(1L))
    drained.groupBy("k")
      .agg(sum(sign * col("n")).as("n"), sum(sign * col("cents")).as("cents"))
      .filter(col("n") =!= 0)
      .withColumn("stream_equals_tvf", Multiset.equal(drained, batch))
      .withColumn("one_commit_per_trigger", lit(paced))
  }

  /** INCREMENTAL VIEW MAINTENANCE IN PURE SQL — the composition the
    * `table_changes` TVF exists for: `dsv2_mv_incremental` maintains an
    * aggregate MV from the STREAMING change feed (foreachBatch + MERGE,
    * a Scala program); this query does the same maintenance with ONE SQL
    * STATEMENT and no driver code — a `MERGE INTO mv USING (signed
    * deltas over table_changes(base, w+1, head, true)) ...` that any
    * SQL-only scheduler (dbt, Airflow SQL operator) can run on a cron.
    * The net window's untouched rows cancel inside the diff tasks, so
    * the statement's input is O(change volume) at any base size, and the
    * TVF's reported statistics (delta bytes, not table bytes) let the
    * planner treat the changes as the SMALL side. Gates: the maintained
    * MV equals a full recompute (group-vanish through the MERGE's DELETE
    * clause included); riders pin the single-statement window (all three
    * commits folded at once, `_commit_version` ∈ {1,2,3}) and the
    * bounded stats (the TVF plans strictly smaller than the base scan —
    * what keeps the MERGE's join broadcast-able at 100 TB).
    */
  def dsv2MvSqlIncremental(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_sqlivm_orders")
    spark.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.sqlivm_base AS
        |SELECT /*+ REPARTITION(8, cat) */ * FROM (
        |  SELECT o_orderkey AS k, CAST(o_orderkey % 97 AS BIGINT) AS cat,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM graft_sqlivm_orders)""".stripMargin) // v0
    spark.sql("DROP TABLE IF EXISTS graftmem.tmp.sqlivm_mv")
    spark.sql(
      "CREATE TABLE graftmem.tmp.sqlivm_mv (cat BIGINT, n_rows BIGINT, sum_cents BIGINT)")
    spark.sql("INSERT INTO graftmem.tmp.sqlivm_mv " +
      "SELECT cat, count(*), sum(cents) FROM graftmem.tmp.sqlivm_base GROUP BY cat")
    // three base commits after the seed (watermark = 0)
    spark.sql("INSERT INTO graftmem.tmp.sqlivm_base VALUES (9000000, 77, 1234)") // v1
    spark.sql("UPDATE graftmem.tmp.sqlivm_base SET cents = cents + 3 WHERE cat = 2") // v2
    spark.sql("DELETE FROM graftmem.tmp.sqlivm_base WHERE cat = 96") // v3: group vanishes
    val tvfSql =
      "SELECT cat, cents, _change_type, _commit_version " +
        "FROM table_changes('graftmem.tmp.sqlivm_base', 1, 3, true)"
    // rider: the single statement folds ALL THREE commits at once
    val window = spark.sql(tvfSql)
      .select(array_sort(collect_set("_commit_version")) === array(lit(1L), lit(2L), lit(3L)))
      .scalar()
    // rider: the TVF reports DELTA bytes, strictly under the base scan —
    // the statistic that keeps the maintenance join broadcast-able; plan
    // statistics and manifest sizes are plan-time facts that run no job
    val baseDir = MemCatalog.tableDir(spark, "graftmem.tmp.sqlivm_base")
    val baseBytes = MemCatalog.liveFiles(baseDir)
      .map(java.nio.file.Files.size).sum
    val tvfBytes = spark.sql(tvfSql).queryExecution.optimizedPlan.stats.sizeInBytes
    val statsBounded = tvfBytes > 0 && tvfBytes < BigInt(baseBytes)
    // THE maintenance statement: one SQL MERGE over the net window
    spark.sql(graft.plans.MvRewrite.signedDeltaMerge("graftmem.tmp.sqlivm_mv",
      "table_changes('graftmem.tmp.sqlivm_base', 1, 3, true)"))
    // the gate that makes the timing claim honest: maintained == recompute,
    // read at the versions the MERGE (mv v2) and the DELETE (base v3) made
    val matches = Multiset.equal(
      spark.sql("SELECT cat, n_rows, sum_cents FROM graftmem.tmp.sqlivm_mv VERSION AS OF 2"),
      spark.sql("SELECT cat, count(*), sum(cents) " +
        "FROM graftmem.tmp.sqlivm_base VERSION AS OF 3 GROUP BY cat"))
    spark.sql("SELECT cat, n_rows, sum_cents FROM graftmem.tmp.sqlivm_mv")
      .withColumn("mv_matches_recompute", matches)
      .withColumn("window_single_statement", window)
      .withColumn("changes_stats_bounded", lit(statsBounded))
  }

  /** CHANGE FEED between two snapshots of the versioned catalog table —
    * the Delta "change data feed" / Iceberg changelog shape, composed
    * from [[dsv2TimeTravel]]'s machinery instead of stored row-level
    * change files: diff `VERSION AS OF 0` against the current snapshot
    * with one full-outer join on the table key and classify each key as
    * insert / update / delete (value-identical rows drop out). Both
    * snapshot reads are manifest-pinned scans of the SAME table in one
    * plan — time travel composing inside a join is the point. At 100 TB
    * this is the snapshot-diff fallback every lakehouse supports when
    * CDF wasn't enabled at write time: one co-partitioned join on the
    * key, file pruning via the manifests, no stored change log. The
    * oracle replays the DML against the fixture and classifies the same
    * way.
    */
  def dsv2ChangeFeed(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_cf_orders")
    spark.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.cf_bands AS
        |SELECT CAST(o_custkey % 7 AS BIGINT) AS band, o_orderstatus AS status,
        |       count(*) AS n_orders,
        |       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |FROM graft_cf_orders GROUP BY 1, 2""".stripMargin)
    spark.sql("INSERT INTO graftmem.tmp.cf_bands VALUES (99, 'X', 1, 77)")
    spark.sql(
      "UPDATE graftmem.tmp.cf_bands SET cents = cents + n_orders WHERE band >= 5 AND band < 90")
    spark.sql("DELETE FROM graftmem.tmp.cf_bands WHERE band = 3")
    spark.sql(
      """SELECT coalesce(a.band, b.band) AS band,
        |       coalesce(a.status, b.status) AS status,
        |       CASE WHEN a.band IS NULL THEN 'insert'
        |            WHEN b.band IS NULL THEN 'delete'
        |            ELSE 'update' END AS change,
        |       a.cents AS cents_before, b.cents AS cents_after
        |FROM (SELECT * FROM graftmem.tmp.cf_bands VERSION AS OF 0) a
        |FULL OUTER JOIN graftmem.tmp.cf_bands b
        |  ON a.band = b.band AND a.status = b.status
        |WHERE a.band IS NULL OR b.band IS NULL
        |   OR a.cents <> b.cents OR a.n_orders <> b.n_orders""".stripMargin)
  }

  /** V2 CATALOG FUNCTION under the oracle gate: SQL resolves
    * `graftcat.gen.knuth_val(id)` through the FunctionCatalog SPI
    * ([[graft.sources.v2.SeqCatalog.KnuthVal]] — bound ScalarFunction
    * with the unboxed MAGIC `invoke` for codegen) and applies it to the
    * connector's own sequence table. The function IS the generator's
    * value formula, so `knuth_val(id)` must reproduce `val` bit-for-bit
    * on every row — asserted inline with a conditional count the oracle
    * states as the row count.
    */
  def dsv2CatalogFunction(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(
      """SELECT bucket, count(*) AS n_rows,
        |       sum(graftcat.gen.knuth_val(id)) AS sum_fn,
        |       count(CASE WHEN graftcat.gen.knuth_val(id) = val THEN 1 END) AS n_agree
        |FROM graftcat.gen.seq_65536_8
        |WHERE id < 16384
        |GROUP BY bucket""".stripMargin)
  }

  /** V2 CATALOG AGGREGATE FUNCTION — the aggregate half of the
    * FunctionCatalog SPI ([[graft.sources.v2.SeqCatalog.KnuthChecksum]]):
    * SQL resolves `graftcat.gen.knuth_checksum(id)` as a GROUP BY
    * aggregate, Spark wraps the bound `AggregateFunction` in its
    * `V2Aggregator` and runs the full distributed partial/merge/final
    * protocol over it. The checksum is an order-independent multiset sum
    * (mod 1000003), so ANY task schedule must reach the identical
    * result — the merge contract is the thing under test, and the
    * oracle replays the arithmetic over `generate_series`.
    */
  def dsv2CatalogAggFunction(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(
      """SELECT bucket, count(*) AS n_rows,
        |       graftcat.gen.knuth_checksum(id) AS cksum
        |FROM graftcat.gen.seq_65536_8
        |WHERE id < 32768
        |GROUP BY bucket""".stripMargin)
  }

  /** TOP-N PUSHDOWN through the connector (`SupportsPushDownTopN`): the
    * table declares 100 MILLION virtual rows, but `ORDER BY id LIMIT 100`
    * narrows generation to the first hundred — the "LIMIT 10 on a
    * petabyte table must cost ten rows" contract. The scan's description
    * echoes the narrowed range and PlanShapeSpec asserts it; the
    * pushdown reports PARTIAL, so Spark's own TakeOrdered still runs
    * (correctness never rests on the connector's ordering claim). The
    * oracle replays the 100-row prefix.
    */
  def dsv2TopnPushdown(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft.sources.v2.SeqSource")
      .option("n", "100000000").option("parts", "8").load()
      .orderBy(col("id")).limit(100)
      .agg(count(lit(1)).as("n_rows"), sum("val").as("sum_val"), max("id").as("max_id"))

  /** TABLESAMPLE PUSHDOWN (`SupportsPushDownTableSample`): the 25%
    * sample's membership rule runs INSIDE the source (an independent
    * multiplicative hash of the id, so sampling never correlates with the
    * value column) and rows outside the sample never materialize — at
    * 100 TB, `TABLESAMPLE (1 PERCENT)` costing 1% is the difference
    * between a cheap estimate pass and a full scan. The rule is
    * deterministic by design, which is exactly what lets the DuckDB
    * oracle replay the sampled aggregate bit-for-bit (a seed-randomized
    * sample could only be gated statistically).
    */
  def dsv2SamplePushdown(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft.sources.v2.SeqSource")
      .option("n", "200000").option("parts", "8").load()
      .sample(withReplacement = false, fraction = 0.25, seed = 42L)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"), sum("val").as("sum_val"))

  /** SQL over the CUSTOM V2 CATALOG: queries a table of
    * [[graft.sources.v2.SeqCatalog]] (wired as `graftcat` by
    * `graft.Sessions.build`) by pure SQL identifier. Same pushdown story
    * as `dsv2_seq_agg`: the id-range predicate lands in the connector
    * scan, so only 32 768 of the 65 536 virtual rows ever materialize;
    * the bucket aggregate is one exchange. This is the Iceberg/Delta
    * integration surface — SQL text never mentions the implementation
    * class.
    */
  def dsv2CatalogSql(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(
      """SELECT bucket, count(*) AS n_rows, sum(val) AS sum_val
        |FROM graftcat.gen.seq_65536_8
        |WHERE id >= 4096 AND id < 36864
        |GROUP BY bucket""".stripMargin)
  }

  /** STREAMING CUSTOM CONNECTOR run under the oracle gate — the
    * MicroBatchStream [[graft.sources.v2.SeqStreamSource]] drained as a
    * real bounded streaming query: offsets advance `step` rows per
    * trigger until `n`, each delta planned as offset-range partitions
    * (the Kafka contract on reproducible data). Complete-mode aggregate
    * over the drained stream must equal the DuckDB `generate_series`
    * replay — proving offset bookkeeping loses and duplicates nothing
    * across the ~n/step micro-batches.
    */
  def dsv2StreamAgg(spark: SparkSession, dir: String): DataFrame = {
    // same per-run session clone as every bounded streaming run (see
    // EventStreams.streamingSession); a generated source reads no files, so
    // its ~n/step batches each commit ONE state store
    val ss = graft.streaming.EventStreams.streamingSession(spark, 0L)
    BoundedDrain.once(
      ss.readStream.format("graft.sources.v2.SeqStreamSource")
        .option("n", "50000").option("step", "10000").option("parts", "4").load()
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"), sum("val").as("sum_val")),
      Sink.Memory(OutputMode.Complete())).out.get
  }

  /** SCHEMA EVOLUTION through the catalog SPI (`alterTable` +
    * `TableChange.AddColumn`): `ALTER TABLE ... ADD COLUMN` widens the
    * schema without touching a single data file — each part file records
    * its write-time column count in a header, readers prefix-decode and
    * null-backfill the appended tail ([[graft.sources.v2.MemCodec.FileReader]]),
    * so pre-ALTER rows surface NULL in the new column and post-ALTER
    * inserts carry values. The connector-level twin of
    * `parquet_schema_evolution` (there the FORMAT merges schemas; here
    * the CATALOG owns the contract — only nullable appended columns are
    * accepted, everything else refuses loudly, spec-pinned). At 100 TB
    * this is the zero-rewrite evolution lakehouse tables promise: the
    * ALTER is one metadata write, history files never migrate.
    */
  def dsv2CatalogEvolution(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_evo_orders")
    spark.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.evo_bands AS
        |SELECT CAST(o_custkey % 5 AS BIGINT) AS band,
        |       count(*) AS n_orders,
        |       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |FROM graft_evo_orders WHERE o_orderstatus = 'F' GROUP BY 1""".stripMargin)
    spark.sql("ALTER TABLE graftmem.tmp.evo_bands ADD COLUMN src STRING")
    spark.sql(
      """INSERT INTO graftmem.tmp.evo_bands
        |SELECT CAST(o_custkey % 5 AS BIGINT) AS band,
        |       count(*) AS n_orders,
        |       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents,
        |       'open' AS src
        |FROM graft_evo_orders WHERE o_orderstatus = 'O' GROUP BY 1""".stripMargin)
    spark.sql(
      """SELECT band, coalesce(src, 'legacy') AS src, sum(n_orders) AS n_orders,
        |       sum(cents) AS cents
        |FROM graftmem.tmp.evo_bands GROUP BY 1, 2""".stripMargin)
  }

  /** DATA SKIPPING (zone-map file pruning) through the catalog's
    * manifest stats: every part file carries per-column MIN/MAX for its
    * integral columns in the snapshot manifest, and a pushed comparison
    * filter drops whole files whose range can't match before any task
    * launches — the Iceberg/Delta file-skipping contract, the third
    * pruning tier next to column pruning and runtime `_file` filtering.
    * The table is VALUE-CLUSTERED by construction (one INSERT per band ⇒
    * every file is single-band), so `band >= 2` plans only half the
    * files; MemCatalogSpec proves the plan-time file counts via the
    * scan's `partsKept`/`partsTotal` metrics and that skipping filters
    * stay RESIDUAL (pruning can drop files, never rows). At 100 TB this
    * is the difference between touching a day's files and touching the
    * table — and it falls out of stats the writers were already
    * positioned to record.
    */
  def dsv2DataSkipping(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_skip_orders")
    spark.sql("DROP TABLE IF EXISTS graftmem.tmp.skip_bands")
    spark.sql(
      "CREATE TABLE graftmem.tmp.skip_bands (band BIGINT, okey BIGINT, cents BIGINT)")
    (0 until 4).foreach(b => spark.sql(
      s"""INSERT INTO graftmem.tmp.skip_bands
         |SELECT CAST($b AS BIGINT), o_orderkey,
         |       CAST(round(o_totalprice * 100) AS BIGINT)
         |FROM graft_skip_orders WHERE o_custkey % 4 = $b""".stripMargin))
    spark.sql(
      """SELECT band, count(*) AS n_orders, sum(cents) AS cents
        |FROM graftmem.tmp.skip_bands
        |WHERE band >= 2
        |GROUP BY band""".stripMargin)
  }

  /** SMALL-FILE COMPACTION (OPTIMIZE) on the versioned catalog table —
    * the maintenance op every frequently-appended lakehouse table needs:
    * eight per-band INSERTs leave eight tiny part files (one scan
    * partition each), and [[MemCatalog.compact]]
    * bin-packs them into target-size files in ONE manifest commit that
    * RETIRES the inputs (pre-compaction snapshots stay byte-identical
    * under time travel; a concurrent reader plans from whichever
    * manifest it loaded and never sees a partial state). Zone-map stats
    * are recomputed exactly during the rewrite, so data skipping keeps
    * pruning afterward — MemCatalogSpec proves both the file-count
    * collapse and the post-compaction prune. The oracle is the
    * straight fixture aggregate: rows + schema + hash equality proves
    * compaction is content-preserving, which is the entire contract.
    * Generalizes the reference sink's publish-then-swap overwrite
    * (greeter_server.cc:116) to in-place table maintenance.
    */
  def dsv2Compaction(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_opt_orders")
    spark.sql("DROP TABLE IF EXISTS graftmem.tmp.opt_bands")
    spark.sql(
      "CREATE TABLE graftmem.tmp.opt_bands " +
        "(band BIGINT, status STRING, n_orders BIGINT, cents BIGINT)")
    (0 until 8).foreach(b => spark.sql(
      s"""INSERT INTO graftmem.tmp.opt_bands
         |SELECT CAST($b AS BIGINT), o_orderstatus, count(*),
         |       sum(CAST(round(o_totalprice * 100) AS BIGINT))
         |FROM graft_opt_orders WHERE o_custkey % 8 = $b GROUP BY 2""".stripMargin))
    val tableDir = MemCatalog.tableDir(spark, "graftmem.tmp.opt_bands")
    val before = MemCatalog.liveEntries(tableDir).size
    val (retired, created) = MemCatalog.compact(tableDir)
    val after = MemCatalog.liveEntries(tableDir).size
    // the boolean rides the oracle gate: false (hash mismatch) if the
    // maintenance op didn't actually collapse the small files
    spark.sql("SELECT band, status, n_orders, cents FROM graftmem.tmp.opt_bands")
      .withColumn("compacted", lit(retired >= 2 && created >= 1 && after < before))
  }

  /** WRITE-AUDIT-PUBLISH via snapshot ROLLBACK — Iceberg's
    * `rollback_to_snapshot`, the undo verb every WAP pipeline needs: a
    * bad batch lands as an ordinary commit, the AUDIT (a quality gate
    * run against the new head) catches it, and `rollback` publishes a
    * NEW snapshot whose live set is exactly the last good version's —
    * history is never rewritten (the bad commit stays time-travelable;
    * audit trails don't get edited), the bad files merely stop being
    * live, and vacuum reclaims them once retention passes. A rollback
    * racing a concurrent commit FAILS with CommitConflictException
    * (replacing the live set is not retry-composable — the Iceberg
    * ref-update semantic), spec-pinned. The riders gate all four
    * contracts: the audit caught the bad batch, the rolled-back head
    * equals the last good content (the oracle replays it declaratively
    * — that equality IS the gate), the bad snapshot still reads intact
    * under time travel, and the rollback itself is an op-tagged commit
    * in DESCRIBE HISTORY.
    */
  def dsv2Rollback(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_wap_orders")
    spark.sql("DROP TABLE IF EXISTS graftmem.tmp.wap_orders")
    spark.sql(
      """CREATE TABLE graftmem.tmp.wap_orders AS
        |SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |FROM graft_wap_orders WHERE o_orderstatus = 'F'""".stripMargin) // v0
    spark.sql(
      """INSERT INTO graftmem.tmp.wap_orders
        |SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT)
        |FROM graft_wap_orders WHERE o_orderstatus = 'O'""".stripMargin) // v1: last good
    val tableDir = MemCatalog.tableDir(spark, "graftmem.tmp.wap_orders")
    val vGood = MemCatalog.currentVersion(tableDir)
    // the BAD batch: a corrupted upstream delivery (negative money)
    spark.sql("INSERT INTO graftmem.tmp.wap_orders " +
      "SELECT id, -1 * id FROM range(900000, 900050)") // v2: bad
    val vBad = MemCatalog.currentVersion(tableDir)
    // AUDIT: the pre-publish quality gate
    val badRows = spark.sql(
      "SELECT count(*) FROM graftmem.tmp.wap_orders WHERE cents < 0").head().getLong(0)
    val auditCaught = badRows == 50L
    val vNew =
      if (auditCaught) MemCatalog.rollback(tableDir, vGood) else -1
    // the bad snapshot is STILL time-travelable (history immutable)...
    val historyKept = spark.sql(
      s"SELECT count(*) FROM graftmem.tmp.wap_orders VERSION AS OF $vBad WHERE cents < 0")
      .head().getLong(0) == 50L
    // ...and the rollback is itself an op-tagged audit-trail commit
    val opTagged = vNew > 0 &&
      MemCatalog.readManifestFull(tableDir, vNew).op == "rollback"
    // the post-rollback head must equal the two good slices — which is
    // exactly what the oracle replays, so the equality rides the hash
    spark.sql(
      """SELECT count(*) AS n_rows, sum(cents) AS cents,
        |       min(cents) AS min_cents, count(DISTINCT k) AS n_keys
        |FROM graftmem.tmp.wap_orders""".stripMargin)
      .withColumn("audit_caught", lit(auditCaught))
      .withColumn("history_kept", lit(historyKept))
      .withColumn("rollback_op_tagged", lit(opTagged))
  }

  /** CLUSTER-KEY (SORT-ORDER) EVOLUTION — the layout-maintenance op that
    * comes right after compaction in every lakehouse's lifecycle: the
    * table starts value-clustered by `okey`, the workload shifts to
    * band-filtered scans, so `ALTER TABLE ... SET TBLPROPERTIES
    * ('clusterBy'='band')` changes the DECLARED order (a metadata-only
    * statement — Iceberg's replaceSortOrder) and the next OPTIMIZE
    * converges the physical layout: every file's manifest entry records
    * the order it was actually written in (`sort@` token), the stale-
    * order files become rewrite candidates at any size, and the rewrite
    * re-sorts them into target-size files with disjoint new-key
    * ranges — zone-map skipping on the new key is selective again.
    *
    * The rewrite runs the INCREMENTAL path (round 11): the stale tail
    * splits into bounded waves that external-sort IN PARALLEL, each
    * committing one `#run`-marked sorted run (old snapshots intact,
    * per-file zone maps exact mid-convergence), and a second OPTIMIZE
    * k-way-merges the runs across disjoint key ranges — also parallel —
    * into the converged layout. MemCatalogSpec proves the converged
    * layout byte-identical to the single-call global sort; here the
    * point is the WALL-CLOCK scale shape (sort parallelism ∝ waves,
    * merge parallelism ∝ key ranges, memory bounded by the spill chunk
    * regardless of table size). The riders gate four contracts: every
    * live file stamped with the new key, no run marker left (converged),
    * a new-key filter actually prunes files, and the pre-evolution
    * snapshot stays byte-identical under time travel (evolution rewrites
    * the present, never history). Oracle = the straight fixture
    * aggregate: re-clustering must be content-neutral.
    */
  def dsv2ClusterEvolution(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_cev_orders")
    spark.sql("DROP TABLE IF EXISTS graftmem.tmp.cev_orders")
    // CONSTANT FILE SIZE, GROWING FILE COUNT — the production layout (a
    // 10× table has 10× files, not one 10×-bigger file); it is also what
    // gives the wave phase file-granularity units to parallelize over.
    // Sized from the source file's bytes (zero extra scan; ~10k rows per
    // part at the fixture's ~40 B/row) — precision is irrelevant, only
    // the files-∝-rows shape matters.
    val cevParts = {
      val src = java.nio.file.Paths.get(dir, "orders.parquet")
      val bytes = if (java.nio.file.Files.isRegularFile(src))
        java.nio.file.Files.size(src) else 0L
      math.max(4L, bytes / 400000L)
    }
    spark.sql(
      "CREATE TABLE graftmem.tmp.cev_orders (okey BIGINT, band BIGINT, cents BIGINT) " +
        s"TBLPROPERTIES ('clusterBy'='okey', 'clusterParts'='$cevParts')")
    spark.sql(
      """INSERT INTO graftmem.tmp.cev_orders
        |SELECT o_orderkey, CAST(o_custkey % 8 AS BIGINT),
        |       CAST(round(o_totalprice * 100) AS BIGINT)
        |FROM graft_cev_orders""".stripMargin)
    val tableDir = MemCatalog.tableDir(spark, "graftmem.tmp.cev_orders")
    val vPre = MemCatalog.currentVersion(tableDir)
    val nPre = spark.sql("SELECT count(*) FROM graftmem.tmp.cev_orders").head().getLong(0)
    spark.sql("ALTER TABLE graftmem.tmp.cev_orders SET TBLPROPERTIES ('clusterBy'='band')")
    // target ≈ a third of the live bytes, so the re-sort splits into
    // several disjoint-band files (not one megafile); waves ≈ an eighth
    // so the sort phase fans out across ~8 parallel runs
    val total = MemCatalog.liveFiles(tableDir)
      .map(java.nio.file.Files.size).sum
    val target = math.max(1024L, total / 3)
    val (retired, created) = MemCatalog.compact(
      tableDir, target, waveBytes = math.max(2048L, total / 16))
    // second OPTIMIZE: parallel range-merge of the runs → converged
    MemCatalog.compact(tableDir, target)
    val entries = MemCatalog.liveEntries(tableDir)
    val converged = entries.forall(e => !e.stats.contains("#run"))
    val restamped = entries.nonEmpty && entries.forall(_.sortedBy.contains("band"))
    // disjoint new-key ranges across the rewritten files (adjacent files
    // may share a boundary value — the rolling split cuts mid-key)
    val ranges = entries.flatMap(_.stats.get("band")).sortBy(_._1)
    val disjoint = ranges.size >= 2 &&
      ranges.sliding(2).forall { case Seq((_, hi1), (lo2, _)) => lo2 >= hi1; case _ => true }
    // a new-key filter prunes files now (the point of re-clustering):
    // every file whose recorded band range cannot match is provably skipped
    val prunable = entries.filter(_.stats.get("band").exists { case (_, hi) => hi < 6 })
    val prunes = prunable.nonEmpty && MemCatalog.proveFilesPruned(spark, tableDir, prunable,
      "SELECT count(*) FROM graftmem.tmp.cev_orders WHERE band >= 6")
    // evolution rewrites the PRESENT only: the pre-evolution snapshot is
    // still readable and complete
    val ttOk = spark.sql(
      s"SELECT count(*) FROM graftmem.tmp.cev_orders VERSION AS OF $vPre")
      .head().getLong(0) == nPre
    spark.sql(
      """SELECT band, count(*) AS n_orders, sum(cents) AS cents
        |FROM graftmem.tmp.cev_orders WHERE band >= 6 GROUP BY band""".stripMargin)
      .withColumn("evolved",
        lit(retired >= 1 && created >= 2 && converged && restamped &&
          disjoint && prunes && ttOk))
  }

  /** HIDDEN PARTITIONING + PARTITION EVOLUTION — the other signature
    * Iceberg metadata feature next to snapshots: the table declares a
    * partition TRANSFORM (`TBLPROPERTIES ('graft.partition'=
    * 'bucket(4,okey)')`), writers record each file's transform range in
    * the manifest under a key that carries the full spec
    * (`pt:bucket(4,okey)=b..b`), and a filter on the SOURCE column
    * prunes through the transform — the user never writes `WHERE bucket
    * = ...`. Bucket is exactly the case zone maps cannot serve: the hash
    * decorrelates bucket from value order, so every bucket-pure file
    * spans nearly the full `okey` range (min/max prunes nothing) while
    * the bucket token drops 3 of 4 files on an equality probe.
    * EVOLUTION is free by construction: `ALTER TABLE ... SET
    * TBLPROPERTIES('graft.partition'='bucket(2,okey)')` changes only
    * what future writers stamp; the riders prove a post-evolution
    * `okey =` probe prunes OLD files under the OLD spec and NEW files
    * under the NEW one simultaneously (Iceberg's per-file spec_id),
    * with zero data rewritten. Oracle = both insert waves replayed
    * declaratively.
    */
  def dsv2PartitionEvolution(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_pev_orders")
    spark.sql("DROP TABLE IF EXISTS graftmem.tmp.pev_orders")
    spark.sql(
      "CREATE TABLE graftmem.tmp.pev_orders (okey BIGINT, cents BIGINT) " +
        "TBLPROPERTIES ('graft.partition'='bucket(4,okey)')")
    // wave 1 (even customers) lands bucket-PURE under bucket(4,okey):
    // one INSERT per bucket — the writer-side clustering hidden
    // partitioning assumes (same Knuth hash as MemPart.Bucket.eval)
    (0 until 4).foreach(b => spark.sql(
      s"""INSERT INTO graftmem.tmp.pev_orders
         |SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT)
         |FROM graft_pev_orders
         |WHERE o_custkey % 2 = 0 AND pmod(o_orderkey * 2654435761, 4) = $b""".stripMargin))
    val tableDir = MemCatalog.tableDir(spark, "graftmem.tmp.pev_orders")
    // probe at the MEDIAN key: it sits inside every bucket-pure file's
    // raw-key range (the hash spreads small and large keys across all
    // buckets), so zone maps keep all files and any pruning observed is
    // the transform tier's alone
    val k0 = spark.sql(
      "SELECT CAST(percentile_approx(okey, 0.5) AS BIGINT) FROM graftmem.tmp.pev_orders")
      .head().getLong(0)
    // replicate the transform rule driver-side over the manifest and
    // prove the scan skips every file it says must be pruned
    def bucketOf(v: Long, n: Long): Long = java.lang.Math.floorMod(v * 2654435761L, n)
    def outside(b: Long, range: (Long, Long)): Boolean = b < range._1 || b > range._2
    def provedPruned(expectPrunable: Int,
        prunable: MemCatalog.FileEntry => Boolean): Boolean = {
      val hidden = MemCatalog.liveEntries(tableDir).filter(prunable)
      hidden.size == expectPrunable && MemCatalog.proveFilesPruned(spark, tableDir, hidden,
        s"SELECT count(*) FROM graftmem.tmp.pev_orders WHERE okey = $k0")
    }
    // the old spec prunes 3 of 4 bucket-pure files on the okey probe
    val prunedOldSpec = provedPruned(3,
      _.stats.get("pt:bucket(4,okey)").exists(outside(bucketOf(k0, 4), _)))
    // EVOLVE the spec — metadata only, nothing rewrites
    val filesPre = MemCatalog.liveEntries(tableDir).map(_.name).toSet
    spark.sql("ALTER TABLE graftmem.tmp.pev_orders " +
      "SET TBLPROPERTIES ('graft.partition'='bucket(2,okey)')")
    // wave 2 (odd customers) lands bucket-pure under the NEW spec
    (0 until 2).foreach(b => spark.sql(
      s"""INSERT INTO graftmem.tmp.pev_orders
         |SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT)
         |FROM graft_pev_orders
         |WHERE o_custkey % 2 = 1 AND pmod(o_orderkey * 2654435761, 2) = $b""".stripMargin))
    val noRewrite = filesPre.subsetOf(
      MemCatalog.liveEntries(tableDir).map(_.name).toSet)
    // the same probe now prunes OLD files under the OLD spec (3 of 4
    // dropped) AND new files under the NEW one (1 of 2) — per-file specs
    // honored simultaneously, proven by hiding all 4 prunable files
    val prunedBothSpecs = provedPruned(4, e =>
      e.stats.get("pt:bucket(4,okey)").exists(outside(bucketOf(k0, 4), _)) ||
        e.stats.get("pt:bucket(2,okey)").exists(outside(bucketOf(k0, 2), _)))
    spark.sql(
      """SELECT count(*) AS n_rows, sum(cents) AS cents,
        |       count(DISTINCT okey) AS n_keys
        |FROM graftmem.tmp.pev_orders""".stripMargin)
      .withColumn("pruned_old_spec", lit(prunedOldSpec))
      .withColumn("evolved_without_rewrite", lit(noRewrite))
      .withColumn("pruned_both_specs", lit(prunedBothSpecs))
  }

  /** STREAMING READ OF THE CATALOG TABLE — `readStream.table(t)` on the
    * versioned [[MemCatalog]] table: the manifest log IS
    * the changelog (the Delta-streaming-source model), offsets are
    * manifest versions, and each micro-batch is one commit's file delta,
    * so the bounded drain replays the table's history commit-by-commit
    * (CTAS → INSERT → INSERT = three real micro-batches). The
    * complete-mode aggregate over the drained stream must equal the
    * DuckDB replay of all three slices — proving the version offsets
    * lose and duplicate nothing. This closes the loop on the catalog:
    * the same table now serves batch reads, time-travel reads, DML
    * writes, AND a streaming tail — the full lakehouse table contract.
    */
  def dsv2StreamTable(spark: SparkSession, dir: String): DataFrame = {
    val ss = ordersSession(spark, dir, "graft_stt_orders")
    def slice(pri: String): String =
      s"""SELECT o_orderkey, o_orderpriority AS pri,
         |       CAST(round(o_totalprice * 100) AS BIGINT) AS cents
         |FROM graft_stt_orders WHERE o_orderpriority = '$pri'""".stripMargin
    ss.sql(s"CREATE OR REPLACE TABLE graftmem.tmp.stt_orders AS ${slice("1-URGENT")}")
    ss.sql(s"INSERT INTO graftmem.tmp.stt_orders ${slice("2-HIGH")}")
    ss.sql(s"INSERT INTO graftmem.tmp.stt_orders ${slice("3-MEDIUM")}")
    BoundedDrain.once(
      ss.readStream.table("graftmem.tmp.stt_orders")
        .groupBy(col("pri"))
        .agg(count(lit(1)).as("n_orders"), sum("cents").as("cents")),
      Sink.Memory(OutputMode.Complete())).out.get
  }

  /** STREAMING CHANGE FEED of the catalog table — the row-level CDF tail
    * (`readStream.option("changefeed", "true").table(t)` + the
    * `_change_type` metadata column): the commit-log stream of
    * [[dsv2StreamTable]] upgraded from "additions only" to the full
    * delta — each micro-batch is one commit, files the commit RETIRED
    * replay as `delete` rows (readable after the fact because DML
    * retires files instead of deleting them — time travel and CDF are
    * the same storage property), files it added as `insert` rows. A COW
    * UPDATE emits delete+insert pairs at file granularity whose per-key
    * net is exactly the change (untouched rows of a rewritten file
    * cancel) — the Delta-without-CDC-files reconstruction. The query
    * walks CTAS → INSERT → COW UPDATE → DELETE, drains the feed, and
    * folds Σ insert − Σ delete per key; the oracle states the final
    * table declaratively, so the gate proves the CDF stream RECONSTRUCTS
    * the table from its change history — the downstream-materialized-view
    * contract a 100 TB CDC pipeline is built on. File-count artifacts
    * (how rows pack into rewritten files) cancel in the fold, so the
    * result is layout-independent by construction.
    */
  def dsv2CdfStream(spark: SparkSession, dir: String): DataFrame = {
    val ss = ordersSession(spark, dir, "graft_cdf_orders")
    ss.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.cdf_bands AS
        |SELECT CAST(o_custkey % 5 AS BIGINT) AS band, o_orderstatus AS status,
        |       count(*) AS n_orders,
        |       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |FROM graft_cdf_orders GROUP BY 1, 2""".stripMargin)
    ss.sql("INSERT INTO graftmem.tmp.cdf_bands VALUES (77, 'Z', 5, 1234)")
    ss.sql("UPDATE graftmem.tmp.cdf_bands SET cents = cents + n_orders WHERE band >= 3")
    ss.sql("DELETE FROM graftmem.tmp.cdf_bands WHERE band = 1")
    val drained = BoundedDrain.once(
      ss.readStream.option("changefeed", "true").table("graftmem.tmp.cdf_bands")
        .select(col("band"), col("status"), col("n_orders"), col("cents"),
          col("_change_type")),
      Sink.Memory(OutputMode.Append())).out.get
    // fold the feed: the net change per key IS the final table
    val sign = when(col("_change_type") === "delete", lit(-1L)).otherwise(lit(1L))
    drained
      .groupBy("band", "status")
      .agg(sum(sign * col("n_orders")).as("n_orders"),
        sum(sign * col("cents")).as("cents"))
      .filter(col("n_orders") =!= 0)
  }

  /** NET CHANGE FEED — the row-level CDF of [[dsv2CdfStream]] upgraded
    * to the full Delta-CDC classification
    * (`option("netChanges", "true")`): every manifest commit records the
    * OPERATION that produced it (`#op:` — Delta's commitInfo.operation),
    * and a rewriting commit's micro-batch becomes the MULTISET DIFF of
    * its retired vs added files, computed locally in one task, so the
    * untouched rows of a rewritten file group cancel INSIDE the task and
    * never reach the wire. An UPDATE commit's leftovers emit as
    * `update_preimage`/`update_postimage`, a DELETE's as pure `delete`
    * rows, a MERGE stays net delete/insert (no pairing the commit log
    * can't prove), and an OPTIMIZE commit's diff is EMPTY by
    * construction — maintenance is invisible to the feed, the Delta
    * contract. The query walks CTAS → INSERT → UPDATE → DELETE →
    * OPTIMIZE, drains the net feed, and aggregates per change type; the
    * oracle restates every change class declaratively from the
    * statements, so the gate proves the classification — not just the
    * reconstruction — is right. The `compacted` flag rides the gate to
    * prove the maintenance commit actually ran (and contributed zero
    * rows: any leak would inflate a class count and break the hash).
    */
  def dsv2CdfNet(spark: SparkSession, dir: String): DataFrame = {
    val ss = ordersSession(spark, dir, "graft_cdfnet_orders")
    ss.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.cdfnet_bands AS
        |SELECT CAST(o_custkey % 5 AS BIGINT) AS band, o_orderstatus AS status,
        |       count(*) AS n_orders,
        |       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |FROM graft_cdfnet_orders GROUP BY 1, 2""".stripMargin)
    ss.sql("INSERT INTO graftmem.tmp.cdfnet_bands VALUES (77, 'Z', 5, 1234)")
    ss.sql("UPDATE graftmem.tmp.cdfnet_bands SET cents = cents + n_orders WHERE band >= 3")
    ss.sql("DELETE FROM graftmem.tmp.cdfnet_bands WHERE band = 1")
    val tableDir = MemCatalog.tableDir(spark, "graftmem.tmp.cdfnet_bands")
    val vBefore = MemCatalog.currentVersion(tableDir)
    MemCatalog.compact(tableDir)
    val compacted =
      MemCatalog.currentVersion(tableDir) == vBefore + 1 &&
        MemCatalog.readManifestFull(tableDir, vBefore + 1).op == "optimize"
    BoundedDrain.once(
      ss.readStream
        .option("changefeed", "true").option("netChanges", "true")
        .table("graftmem.tmp.cdfnet_bands")
        .select(col("n_orders"), col("cents"), col("_change_type")),
      Sink.Memory(OutputMode.Append())).out.get
      .groupBy(col("_change_type").as("change_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum("n_orders").as("sum_orders"),
        sum("cents").as("sum_cents"))
      .withColumn("compacted", lit(compacted))
  }

  /** END-TO-END CDC PIPELINE over the lakehouse catalog — the
    * composition every CDC replication is built on, with EVERY stage a
    * real catalog surface: a keyed SOURCE table takes CTAS → INSERT →
    * UPDATE → DELETE; its NET change feed ([[dsv2CdfNet]]) streams one
    * micro-batch per commit; and a `foreachBatch` sink applies each
    * batch to a REPLICA table with one SQL `MERGE INTO` — per key, the
    * batch nets to `put` (an insert/update_postimage row wins) or `del`
    * (only delete/update_preimage present), and the MERGE's three
    * clauses (matched-del → DELETE, matched → UPDATE, not-matched-put →
    * INSERT) apply it transactionally, commit by commit, in commit
    * order. The gate reads the REPLICA against the declarative replay of
    * the source's statements: replica == source is the exactly-once
    * end-to-end contract. Upgrades [[graft.streaming.EventStreams
    * .cdcMergeFileSource]]'s driver-held-state recipe to the real thing —
    * table-to-table, every batch a durable manifest commit on both
    * sides, restartable from the checkpoint + replica state. At 100 TB
    * the MERGE is the same statement; only the COW group sizes grow.
    */
  def dsv2CdcPipeline(spark: SparkSession, dir: String): DataFrame = {
    val ss = ordersSession(spark, dir, "graft_cdcp_orders")
    ss.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.cdc_src AS
        |SELECT CAST(o_orderkey % 40 AS BIGINT) AS k, count(*) AS n_orders,
        |       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |FROM graft_cdcp_orders GROUP BY 1""".stripMargin) // v0
    ss.sql("INSERT INTO graftmem.tmp.cdc_src VALUES (777, 1, 999)") // v1
    ss.sql("UPDATE graftmem.tmp.cdc_src SET cents = cents - n_orders WHERE k % 4 = 0") // v2
    ss.sql("DELETE FROM graftmem.tmp.cdc_src WHERE k >= 35 AND k < 40") // v3: COW
    ss.sql("DROP TABLE IF EXISTS graftmem.tmp.cdc_dst")
    ss.sql("CREATE TABLE graftmem.tmp.cdc_dst (k BIGINT, n_orders BIGINT, cents BIGINT)")
    BoundedDrain.once(
      ss.readStream
        .option("changefeed", "true").option("netChanges", "true")
        .table("graftmem.tmp.cdc_src")
        .select(col("k"), col("n_orders"), col("cents"), col("_change_type")),
      Sink.ForeachBatch { (batch, _) =>
        val view = "graft_cdcp_batch"
        batch.createOrReplaceTempView(view)
        batch.sparkSession.sql(
          s"""MERGE INTO graftmem.tmp.cdc_dst r USING (
             |  SELECT k, max_by(n_orders, ord) AS n_orders,
             |         max_by(cents, ord) AS cents, max(ord) AS ord
             |  FROM (SELECT k, n_orders, cents,
             |               CASE WHEN _change_type IN ('insert', 'update_postimage')
             |                    THEN 1 ELSE 0 END AS ord
             |        FROM $view)
             |  GROUP BY k) s
             |ON r.k = s.k
             |WHEN MATCHED AND s.ord = 0 THEN DELETE
             |WHEN MATCHED THEN UPDATE SET n_orders = s.n_orders, cents = s.cents
             |WHEN NOT MATCHED AND s.ord = 1 THEN
             |  INSERT (k, n_orders, cents) VALUES (s.k, s.n_orders, s.cents)""".stripMargin)
        ()
      })
    ss.sql("SELECT k, n_orders, cents FROM graftmem.tmp.cdc_dst").localCheckpoint(true)
  }

  /** INCREMENTAL MATERIALIZED-VIEW MAINTENANCE from the net change feed
    * — the delta rule for self-maintainable aggregates (Gupta & Mumick's
    * IVM result: SUM/COUNT views absorb a change stream without ever
    * rescanning the base table). The MV starts EMPTY; every net-feed
    * micro-batch ([[dsv2CdfNet]], one per source commit) folds into it
    * with one `MERGE INTO`: each change row contributes +1/+cents when
    * it's an `insert`/`update_postimage` and −1/−cents when it's a
    * `delete`/`update_preimage`, the batch pre-aggregates those signed
    * deltas per group, and the MERGE's three clauses apply them — a
    * group whose count reaches ZERO is DELETED (the clause naive
    * upsert-only maintenance forgets, exercised here by deleting every
    * base row of one group), existing groups adjust in place, new
    * groups insert. The gate reads the maintained MV against the oracle's
    * direct aggregate of the replayed final base table: incremental ==
    * recompute is THE correctness statement of IVM. At 100 TB this is
    * why CDC exists — maintenance cost is ∝ the change volume, never the
    * base-table size, and the MV's COW rewrite touches only the file
    * groups whose keys changed.
    */
  def dsv2MvIncremental(spark: SparkSession, dir: String): DataFrame = {
    val ss = ordersSession(spark, dir, "graft_mvinc_orders")
    ss.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.mv_src AS
        |SELECT k, CAST(k % 7 AS BIGINT) AS cat, cents FROM (
        |  SELECT CAST(o_orderkey % 50 AS BIGINT) AS k,
        |         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |  FROM graft_mvinc_orders GROUP BY 1)""".stripMargin) // v0
    ss.sql("INSERT INTO graftmem.tmp.mv_src " +
      "SELECT id, CAST(id % 7 AS BIGINT), id * 10 FROM range(1000, 1010)") // v1
    ss.sql("UPDATE graftmem.tmp.mv_src SET cents = cents + 7 WHERE k % 2 = 0") // v2
    ss.sql("DELETE FROM graftmem.tmp.mv_src WHERE k % 7 = 3") // v3: whole group vanishes
    ss.sql("DROP TABLE IF EXISTS graftmem.tmp.mv")
    ss.sql("CREATE TABLE graftmem.tmp.mv (cat BIGINT, n_rows BIGINT, sum_cents BIGINT)")
    BoundedDrain.once(
      ss.readStream
        .option("changefeed", "true").option("netChanges", "true")
        .table("graftmem.tmp.mv_src")
        .select(col("cat"), col("cents"), col("_change_type")),
      Sink.ForeachBatch { (batch, _) =>
        batch.createOrReplaceTempView("graft_mvinc_batch")
        batch.sparkSession.sql(
          graft.plans.MvRewrite.signedDeltaMerge("graftmem.tmp.mv", "graft_mvinc_batch"))
        ()
      })
    ss.sql("SELECT cat, n_rows, sum_cents FROM graftmem.tmp.mv").localCheckpoint(true)
  }

  /** TRANSPARENT MATERIALIZED-VIEW QUERY REWRITE
    * ([[graft.plans.MvRewrite]]) — the READ half of the MV story
    * ([[dsv2MvIncremental]] is the write half): an aggregate the user
    * wrote against the BASE table is answered from the MV by a Catalyst
    * optimizer rule when the MV subsumes it (grouping keys a subset of
    * the MV's, aggregates derivable from its partials) AND the MV is
    * FRESH (the base's commit version still equals the registered one).
    * The exercised surface: a rollup to a grouping SUBSET (query groups
    * by `cat`, MV by `(k, cat)`), a residual filter on a grouping column
    * pushed onto the MV, and all five derivations (count(*) →
    * sum(n_rows), sum/min/max → re-aggregated partials, avg →
    * sum(sum)/sum(n)). Gates: `mv_rewrite_used` (the optimized plan
    * scans ONLY the MV), `mv_result_match` (the rewritten result is
    * row-identical to the direct base aggregate computed with the rule
    * disarmed), `mv_stale_scans_base` (one base commit the MV has not
    * absorbed disarms the rewrite — the plan scans the base again, no
    * wrong answers ever), `mv_refreshed_used` (the refresh protocol,
    * rebuild on the disarmed session then register again, re-arms it).
    * At 100 TB this turns
    * every matching dashboard aggregate from O(base fact scan) into
    * O(MV rows) with zero user query changes, while the freshness gate
    * keeps the substitution exact — the classic warehouse MV-rewriting
    * contract (Goldstein & Larson, SIGMOD'01).
    */
  def dsv2MvRewrite(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_mvr_orders")
    spark.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.mvr_base AS
        |SELECT CAST(o_orderkey % 40 AS BIGINT) AS k,
        |       CAST(o_orderkey % 5 AS BIGINT) AS cat,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |FROM graft_mvr_orders""".stripMargin)
    // the rule is armed on a session CLONE (registrations are
    // session-local), so the concurrent verify sweep never sees it; the
    // main session is the disarmed control, and the MV is built on it
    val s2 = spark.newSession()
    def refreshMv(): Unit = spark.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.mvr_mv AS
        |SELECT k, cat, count(*) AS n_rows, sum(cents) AS sum_cents,
        |       min(cents) AS min_cents, max(cents) AS max_cents
        |FROM graftmem.tmp.mvr_base GROUP BY k, cat""".stripMargin)
    refreshMv()
    val baseDir = MemCatalog.tableDir(spark, "graftmem.tmp.mvr_base")
    def reg() = graft.plans.MvRewrite.register(s2, "graftmem.tmp.mvr_base",
      "graftmem.tmp.mvr_mv", baseDir, Seq("k", "cat"),
      Map(("count", "*") -> "n_rows", ("sum", "cents") -> "sum_cents",
        ("min", "cents") -> "min_cents", ("max", "cents") -> "max_cents",
        ("notnull", "cents") -> "n_rows"))
    val d = reg()
    val sql =
      """SELECT cat, count(*) AS n, sum(cents) AS cents, min(cents) AS lo,
        |       max(cents) AS hi, avg(cents) AS mean
        |FROM graftmem.tmp.mvr_base WHERE k < 20 GROUP BY cat""".stripMargin
    def probe() = new graft.plans.MvRewrite.Probe(s2, spark, sql)
    val p1 = probe()
    val usedMv = p1.scans == Set(d.mvName)
    // row-identical to the direct base aggregate
    val resultMatch = p1.sameRows
    // STALENESS: a base commit the MV has not absorbed disarms the rule
    s2.sql("INSERT INTO graftmem.tmp.mvr_base " +
      "SELECT CAST(7 AS BIGINT), CAST(2 AS BIGINT), CAST(990001 AS BIGINT) " +
      "UNION ALL SELECT CAST(55 AS BIGINT), CAST(4 AS BIGINT), CAST(990002 AS BIGINT)")
    val staleScansBase = probe().scans == Set(d.baseName)
    // the refresh protocol: rebuild on the disarmed session, register again
    refreshMv()
    reg()
    val refreshedUsesMv = probe().scans == Set(d.mvName)
    spark.sql(sql)
      .withColumn("mv_rewrite_used", lit(usedMv))
      .withColumn("mv_result_match", lit(resultMatch))
      .withColumn("mv_stale_scans_base", lit(staleScansBase))
      .withColumn("mv_refreshed_used", lit(refreshedUsesMv))
  }

  /** WRITE-TIME CDC SIDECARS — the net change feed's 100 TB path
    * (Delta's `_change_data` files): a COW row-level commit nets its row
    * delta ONCE at commit time (the same retired-vs-added multiset diff
    * the read side runs) into `_cdc-v<V>-pre/post.bin`, and every
    * subsequent change-feed reader of that commit reads O(changes) bytes
    * instead of re-diffing the rewritten file group — at 100 TB a single
    * UPDATE touching one 128 MB group stops costing every CDC consumer
    * 256 MB of re-read. The sidecar is a PURE ACCELERATOR: readers
    * require the complete pair and fall back to the snapshot diff
    * otherwise, so pre-sidecar history, MoR/metadata commits, and every
    * crash window (sidecars link only AFTER the manifest commit wins its
    * version) degrade to correctness, never loss. Gates:
    * `sidecar_written` (the COW UPDATE published its pair; the pure
    * append — which retires nothing — rightly did not),
    * `feed_equiv` (the drained net feed is row-identical with the
    * sidecars present and with them removed — same rows, same
    * update_preimage/postimage classification), `update_classified`
    * (the sidecar path preserves the op-tag classification).
    */
  def dsv2CdcSidecar(spark: SparkSession, dir: String): DataFrame = {
    val ss = ordersSession(spark, dir, "graft_csc_orders")
    ss.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.cdcsc AS
        |SELECT CAST(o_orderkey % 31 AS BIGINT) AS k,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |FROM graft_csc_orders""".stripMargin) // v0
    ss.sql("UPDATE graftmem.tmp.cdcsc SET cents = cents + 5 WHERE k % 4 = 1") // v1: COW rewrite
    // a pure append has no retired side: the feed replays its files
    // directly and rightly gets no sidecar
    ss.sql("INSERT INTO graftmem.tmp.cdcsc " +
      "SELECT CAST(900 + id AS BIGINT), CAST(id * 7 AS BIGINT) FROM range(0, 5)") // v2
    val tableDir = MemCatalog.tableDir(spark, "graftmem.tmp.cdcsc")
    def sidecar(v: Int, side: String) = tableDir.resolve(s"_cdc-v$v-$side.bin")
    val sidecarWritten =
      java.nio.file.Files.exists(sidecar(1, "pre")) &&
        java.nio.file.Files.exists(sidecar(1, "post")) &&
        !java.nio.file.Files.exists(sidecar(2, "pre"))
    // each drain replays the feed from v1 over its OWN fresh checkpoint
    def drain(): Seq[(Long, Long, String)] = {
      val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
      BoundedDrain.once(
        ss.readStream
          .option("changefeed", "true").option("netChanges", "true")
          .option("startingVersion", 1)
          .table("graftmem.tmp.cdcsc")
          .select(col("k"), col("cents"), col("_change_type")),
        Sink.ForeachBatch { (b, _) =>
          got.synchronized {
            got ++= b.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
          }
          ()
        })
      got.toSeq
    }
    val viaSidecar = drain()
    // EQUIVALENCE: park the pair, re-drain through the snapshot diff
    val parked = Seq("pre", "post").map { s =>
      val p = sidecar(1, s)
      val t = java.nio.file.Files.createTempFile("graft-cdcsc-park", ".bin")
      java.nio.file.Files.move(p, t, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      (p, t)
    }
    val viaDiff =
      try drain()
      finally parked.foreach { case (p, t) =>
        java.nio.file.Files.move(t, p, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    val feedEquiv = viaSidecar.sorted == viaDiff.sorted
    val updateClassified =
      viaSidecar.exists(_._3 == "update_preimage") &&
        viaSidecar.exists(_._3 == "update_postimage")
    ss.sql("SELECT k, cents FROM graftmem.tmp.cdcsc")
      .withColumn("sidecar_written", lit(sidecarWritten))
      .withColumn("feed_equiv", lit(feedEquiv))
      .withColumn("update_classified", lit(updateClassified))
      .localCheckpoint(true)
  }

  /** ROW-ACCESS POLICY AT THE SCAN — `TBLPROPERTIES
    * ('graft.policy'='<predicate>')` hides non-matching rows from EVERY
    * query reader (batch scan, streaming tail, change feed) at the
    * DSv2 reader seam — Snowflake/Unity row access policies. The policy
    * is evaluated at QUERY time from the current properties: attaching
    * or dropping one is a single metadata-only commit that applies to
    * time-travel reads too (gated: `policy_on_time_travel` — the
    * VERSION-AS-OF read of the pre-policy snapshot is filtered all the
    * same). Metadata-only answers REFUSE under a policy
    * (`policy_meta_refused`: the unfiltered COUNT stops planning the
    * manifest-only scan and still returns the FILTERED count — a row
    * count is a data question once rows are hidden); the planner's
    * numRows statistic goes absent for the same reason. Maintenance and
    * DML internals read raw rows: a policy hides data, it never
    * destroys it (spec: compact + policy-drop round-trips the hidden
    * rows byte-intact). At 100 TB this is governance WITHOUT data
    * movement: no filtered copy of the lake, one property flip, every
    * engine surface consistent.
    */
  def dsv2RowPolicy(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_pol_orders")
    spark.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.pol_t AS
        |SELECT CAST(o_orderkey % 40 AS BIGINT) AS k,
        |       CAST(o_orderkey % 7 AS BIGINT) AS nat,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |FROM graft_pol_orders""".stripMargin)
    val rawCount = spark.table("graftmem.tmp.pol_t").count()
    val rawNat3 = spark.sql(
      "SELECT count(*) FROM graftmem.tmp.pol_t WHERE nat = 3").head().getLong(0)
    // attach the policy: ONE metadata commit, no data movement
    spark.sql("ALTER TABLE graftmem.tmp.pol_t SET TBLPROPERTIES('graft.policy' = 'nat <> 3')")
    val filtered = spark.table("graftmem.tmp.pol_t").count()
    val policyHides = rawNat3 > 0 && filtered == rawCount - rawNat3 &&
      spark.sql("SELECT count(*) FROM graftmem.tmp.pol_t WHERE nat = 3")
        .head().getLong(0) == 0L
    // metadata-only COUNT must refuse (manifest row counts include the
    // hidden rows) and the row-scan answer is the filtered truth
    val countPlan = spark.sql("SELECT count(*) FROM graftmem.tmp.pol_t")
      .queryExecution.executedPlan.toString
    val metaRefused = !countPlan.contains("graft_mem_metaagg") &&
      spark.sql("SELECT count(*) FROM graftmem.tmp.pol_t").head().getLong(0) == filtered
    // the policy reads from CURRENT properties: the pre-policy snapshot
    // is filtered too (Snowflake semantics — policies are not versioned
    // data, they are access rules)
    val timeTravelFiltered = spark.sql(
      "SELECT count(*) FROM graftmem.tmp.pol_t VERSION AS OF 0")
      .head().getLong(0) == filtered
    spark.sql("SELECT k, nat, cents FROM graftmem.tmp.pol_t")
      .withColumn("policy_hides_rows", lit(policyHides))
      .withColumn("policy_meta_refused", lit(metaRefused))
      .withColumn("policy_on_time_travel", lit(timeTravelFiltered))
  }

  /** DETERMINISTIC COLUMN TOKENIZATION — `TBLPROPERTIES
    * ('graft.mask'='col[,col…]')` replaces STRING column values with
    * their md5 hex token inside every query reader. DETERMINISTIC by
    * design: equality, grouping and JOINS on masked columns keep
    * working (`mask_joins_work` — the fact⋈dim join on the masked email
    * matches exactly the raw join's row count), which is what a 100 TB
    * training-data pipeline needs from PII protection: referential
    * integrity preserved, raw values never leaving the reader
    * (`mask_no_raw_leak` — no post-mask value contains '@'). The mask
    * is a metadata flip like the row policy; maintenance reads raw, so
    * dropping the mask restores the raw values (nothing was rewritten).
    */
  def dsv2ColumnMask(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_msk_orders")
    spark.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.msk_f AS
        |SELECT CAST(o_orderkey % 40 AS BIGINT) AS k,
        |       concat('u', CAST(o_custkey % 50 AS STRING), '@ex.com') AS email,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |FROM graft_msk_orders""".stripMargin)
    spark.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.msk_d AS
        |SELECT DISTINCT email, substring(email, 2, 2) AS tag
        |FROM graftmem.tmp.msk_f""".stripMargin)
    val rawJoin = spark.sql(
      """SELECT count(*) FROM graftmem.tmp.msk_f f
        |JOIN graftmem.tmp.msk_d d ON f.email = d.email""".stripMargin)
      .head().getLong(0)
    spark.sql("ALTER TABLE graftmem.tmp.msk_f SET TBLPROPERTIES('graft.mask' = 'email')")
    spark.sql("ALTER TABLE graftmem.tmp.msk_d SET TBLPROPERTIES('graft.mask' = 'email')")
    val maskedJoin = spark.sql(
      """SELECT count(*) FROM graftmem.tmp.msk_f f
        |JOIN graftmem.tmp.msk_d d ON f.email = d.email""".stripMargin)
      .head().getLong(0)
    val joinsWork = maskedJoin == rawJoin
    val noLeak = spark.sql(
      "SELECT count(*) FROM graftmem.tmp.msk_f WHERE email LIKE '%@%'")
      .head().getLong(0) == 0L
    spark.sql("SELECT k, email, cents FROM graftmem.tmp.msk_f")
      .withColumn("mask_joins_work", lit(joinsWork))
      .withColumn("mask_no_raw_leak", lit(noLeak))
  }

  /** STAR-SCHEMA MV ROUTING — [[graft.plans.MvRewrite.registerJoin]]:
    * the MV aggregates over `fact ⋈ dim` and the rule rewrites a user
    * aggregate over the SAME join (sides in either order, single
    * equi-key matched by name, group-column filters on top of or pushed
    * below the join; the optimizer's inferred `isnotnull(<join key>)`
    * conjuncts are dropped — an inner equi-join already excludes null
    * keys). Re-aggregated partials stay exact because the matched join
    * reproduces the MV's row multiplicities; a different key, an outer
    * join, or a measure filter is a DIFFERENT query and refuses
    * (spec-pinned). Freshness pins BOTH tables' versions — a commit to
    * either side disarms. Gates mirror [[dsv2MvRewrite]]:
    * `star_rewrite_used`, `star_result_match`, `star_stale_scans_base`
    * (a dangling dim insert — result-invariant, version-bumping),
    * `star_refreshed_used`. At 100 TB this is the BI dashboard case:
    * the fact-dim join + rollup every report runs, answered from
    * thousands of MV rows instead of re-joining the fact table, with
    * the same plan-time freshness guarantee as the single-table path.
    */
  def dsv2MvStar(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_mvt_orders")
    Tables.customer(spark, dir).createOrReplaceTempView("graft_mvt_customer")
    spark.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.mvt_f AS
        |SELECT o_custkey AS ck,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |FROM graft_mvt_orders""".stripMargin)
    spark.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.mvt_d AS
        |SELECT c_custkey AS dk, c_mktsegment AS seg,
        |       CAST(c_nationkey % 5 AS BIGINT) AS nat
        |FROM graft_mvt_customer""".stripMargin)
    val s2 = spark.newSession()
    def refreshMv(): Unit = spark.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.mvt_mv AS
        |SELECT seg, nat, count(*) AS n_rows, sum(cents) AS sum_cents
        |FROM graftmem.tmp.mvt_f f JOIN graftmem.tmp.mvt_d d ON f.ck = d.dk
        |GROUP BY seg, nat""".stripMargin)
    refreshMv()
    val dirs = Seq("mvt_f", "mvt_d").map(n => MemCatalog.tableDir(spark, s"graftmem.tmp.$n"))
    def reg() = graft.plans.MvRewrite.registerJoin(s2, "graftmem.tmp.mvt_mv",
      "graftmem.tmp.mvt_f", "graftmem.tmp.mvt_d", "ck", "dk", dirs,
      Seq("seg", "nat"),
      Map(("count", "*") -> "n_rows", ("sum", "cents") -> "sum_cents"))
    val d = reg()
    val sql =
      """SELECT seg, count(*) AS n, sum(cents) AS cents
        |FROM graftmem.tmp.mvt_f f JOIN graftmem.tmp.mvt_d d ON f.ck = d.dk
        |WHERE d.nat = 2 GROUP BY seg""".stripMargin
    def probe() = new graft.plans.MvRewrite.Probe(s2, spark, sql)
    val p1 = probe()
    val usedMv = p1.scans == Set(d.mvName)
    val resultMatch = p1.sameRows
    // staleness: a DANGLING dim insert (matches no fact key) — the
    // results are invariant, the version is not, and correctness-first
    // freshness must disarm anyway
    s2.sql("INSERT INTO graftmem.tmp.mvt_d " +
      "SELECT CAST(990001 AS BIGINT), 'MACHINERY', CAST(2 AS BIGINT)")
    val staleScansBase = !probe().scans.contains(d.mvName)
    refreshMv()
    reg()
    val refreshedUsesMv = probe().scans == Set(d.mvName)
    spark.sql(sql)
      .withColumn("star_rewrite_used", lit(usedMv))
      .withColumn("star_result_match", lit(resultMatch))
      .withColumn("star_stale_scans_base", lit(staleScansBase))
      .withColumn("star_refreshed_used", lit(refreshedUsesMv))
  }

  /** CONTINUOUSLY-SERVING MATERIALIZED VIEW — [[dsv2MvRewrite]]'s
    * transparent rewrite wired to [[dsv2MvIncremental]]'s change-feed
    * maintenance through a PERSISTED watermark
    * (`MvRewrite.registerMaintained`): the maintenance job's every
    * micro-batch MERGEs one base commit's net changes into the MV and
    * stamps `TBLPROPERTIES('graft.mv.basedOn' = <absorbed version>)` —
    * the change-feed stream admits exactly one version per epoch, so
    * the epoch id IS the version, restart-safe through the checkpoint.
    * Freshness is then a plan-time watermark comparison, and the
    * rewrite arms and disarms AS THE PIPELINE RUNS with a single
    * registration: `mv_serves_fresh` (post-drain, the aggregate answers
    * from the MV), `mv_stale_disarms` (an un-absorbed base UPDATE flips
    * the plan back to the base table — correct answers, never stale
    * ones), `mv_rearms_after_drain` (the next maintenance cycle —
    * a RESTART from the same checkpoint — re-arms the rewrite with NO
    * re-registration, and the served values reflect the update). At
    * 100 TB this is the full warehouse acceleration loop: maintenance
    * O(change volume), serving O(MV rows), freshness exact — and the
    * failure mode of every hand-rolled cache (serving stale data after
    * a missed invalidation) is structurally impossible because the
    * watermark lives in the catalog, not in anyone's memory.
    */
  def dsv2MvServe(spark: SparkSession, dir: String): DataFrame = {
    val ss = ordersSession(spark, dir, "graft_mvs_orders")
    ss.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.mvs_base AS
        |SELECT CAST(o_orderkey % 6 AS BIGINT) AS cat,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |FROM graft_mvs_orders""".stripMargin) // v0
    ss.sql("DROP TABLE IF EXISTS graftmem.tmp.mvs_mv")
    ss.sql("CREATE TABLE graftmem.tmp.mvs_mv (cat BIGINT, n_rows BIGINT, sum_cents BIGINT)")
    val baseDir = MemCatalog.tableDir(spark, "graftmem.tmp.mvs_base")
    val mvDir = MemCatalog.tableDir(spark, "graftmem.tmp.mvs_mv")
    val s2 = spark.newSession()
    val d = graft.plans.MvRewrite.registerMaintained(s2, "graftmem.tmp.mvs_base",
      "graftmem.tmp.mvs_mv", baseDir, mvDir, Seq("cat"),
      Map(("count", "*") -> "n_rows", ("sum", "cents") -> "sum_cents"))
    // the maintenance cycles share ONE checkpoint: the second is a restart
    BoundedDrain.scope { maint =>
      // one maintenance CYCLE: drain every unabsorbed base commit (one per
      // epoch), folding each into the MV and stamping the watermark in the
      // SAME foreachBatch (the scheduled-maintenance shape; restarts
      // resume from the checkpoint)
      def cycle(): Unit = maint.drain(
        ss.readStream
          .option("changefeed", "true").option("netChanges", "true")
          .table("graftmem.tmp.mvs_base")
          .select(col("cat"), col("cents"), col("_change_type")),
        Sink.ForeachBatch { (batch, epoch) =>
          batch.createOrReplaceTempView("graft_mvs_batch")
          batch.sparkSession.sql(
            graft.plans.MvRewrite.signedDeltaMerge("graftmem.tmp.mvs_mv", "graft_mvs_batch"))
          // the absorbed base version == the epoch id (one version per
          // epoch from initial offset -1); stamped HERE so watermark and
          // fold publish from the same maintenance step
          batch.sparkSession.sql("ALTER TABLE graftmem.tmp.mvs_mv " +
            s"SET TBLPROPERTIES('graft.mv.basedOn' = '$epoch')")
          ()
        })
      val sql = "SELECT cat, count(*) AS n, sum(cents) AS cents " +
        "FROM graftmem.tmp.mvs_base GROUP BY cat"
      def serves(fromMv: Boolean): Boolean =
        new graft.plans.MvRewrite.Probe(s2, spark, sql).serves(d.mvName, fromMv)
      cycle() // absorbs v0
      val freshServes = serves(fromMv = true)
      ss.sql("UPDATE graftmem.tmp.mvs_base SET cents = cents + 3 WHERE cat = 2") // v1
      val staleDisarms = serves(fromMv = false)
      cycle() // restart from the checkpoint: absorbs v1, re-arms
      val rearms = serves(fromMv = true)
      spark.sql(sql)
        .withColumn("mv_serves_fresh", lit(freshServes))
        .withColumn("mv_stale_disarms", lit(staleDisarms))
        .withColumn("mv_rearms_after_drain", lit(rearms))
        .localCheckpoint(true)
    }
  }

  /** MV AUTO-REFRESH VIA COMMIT HOOK — the last manual step of
    * [[dsv2MvServe]]'s continuously-serving loop removed: nobody calls
    * the maintenance cycle anymore. [[MemCatalog.onCommit]]
    * registers the cycle as a CATALOG COMMIT HOOK on the base table —
    * every main-chain snapshot publish flips a dirty bit and the shared
    * maintenance thread drains the change feed (MERGE the net changes,
    * stamp the `graft.mv.basedOn` watermark) asynchronously, so ingest
    * never waits on maintenance and a commit STORM coalesces into one
    * follow-up run (the Snowflake background-MV-refresh / Delta
    * commit-hook shape). Gates: `auto_serves_after_commit` (an UPDATE
    * lands, the hook absorbs it with no manual cycle, the aggregate
    * plans onto the MV and matches the base), `storm_coalesced_serves`
    * (two back-to-back commits — an UPDATE and a group-erasing DELETE —
    * coalesce and the MV still serves the exact post-storm truth),
    * `dropped_hook_disarms` (after [[MemCatalog.dropCommitHook]]
    * a further commit leaves the MV stale and the watermark freshness
    * gate disarms the rewrite — answers fall back to the base table,
    * correct, never stale). At 100 TB this closes the loop: ingest
    * commits at its own pace, maintenance runs event-driven at
    * O(change volume), dashboards read O(MV rows), and freshness is a
    * plan-time watermark check — no scheduler, no cron, no stale cache.
    */
  def dsv2MvAutorefresh(spark: SparkSession, dir: String): DataFrame = {
    val ss = ordersSession(spark, dir, "graft_mvar_orders")
    ss.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.mvar_base AS
        |SELECT CAST(o_orderkey % 7 AS BIGINT) AS cat,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |FROM graft_mvar_orders""".stripMargin) // v0
    ss.sql("DROP TABLE IF EXISTS graftmem.tmp.mvar_mv")
    ss.sql("CREATE TABLE graftmem.tmp.mvar_mv (cat BIGINT, n_rows BIGINT, sum_cents BIGINT)")
    val baseDir = MemCatalog.tableDir(spark, "graftmem.tmp.mvar_base")
    val mvDir = MemCatalog.tableDir(spark, "graftmem.tmp.mvar_mv")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-mvauto-ckpt")
    // one maintenance cycle == dsv2MvServe's: drain every unabsorbed base
    // commit (one per epoch), fold it into the MV, stamp the watermark —
    // here invoked ONLY by the commit hook, never by the test flow.
    //
    // START-ONCE (r15): the maintenance stream is a LONG-LIVED query — the
    // production posture for continuous MV maintenance — lazily started by
    // the first hook and merely DRAINED (`processAllAvailable`) by every
    // hook after that. The r14 shape built, started, and stopped a fresh
    // streaming query per commit hook, re-paying source init + offset-log
    // replay + sink bring-up on every commit (measured: each cycle is a
    // ~1 s driver-side stall between job bursts). Dropping the commit hook
    // tears the stream down too, so a post-drop commit still leaves the MV
    // stale exactly as before (the watermark-disarm leg is unchanged).
    // Once `teardown` has run, `closed` keeps a late hook from starting
    // the stream again.
    var mq: org.apache.spark.sql.streaming.StreamingQuery = null
    var closed = false
    val mqLock = new Object
    def cycle(): Unit = {
      val q = mqLock.synchronized {
        if (mq == null && !closed) mq = ss.readStream
          .option("changefeed", "true").option("netChanges", "true")
          .table("graftmem.tmp.mvar_base")
          .select(col("cat"), col("cents"), col("_change_type"))
          .writeStream.option("checkpointLocation", ckpt.toString)
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], epoch: Long) =>
            batch.createOrReplaceTempView("graft_mvar_batch")
            batch.sparkSession.sql(
              graft.plans.MvRewrite.signedDeltaMerge("graftmem.tmp.mvar_mv", "graft_mvar_batch"))
            batch.sparkSession.sql("ALTER TABLE graftmem.tmp.mvar_mv " +
              s"SET TBLPROPERTIES('graft.mv.basedOn' = '$epoch')")
            ()
          }
          .start()
        mq
      }
      if (q != null) q.processAllAvailable()
    }
    // drop the hook, let any in-flight hook run finish, then stop the
    // stream for good (idempotent: the gate body and `finally` both call it)
    def teardown(): Unit = {
      MemCatalog.dropCommitHook(baseDir)
      MemCatalog.awaitCommitHooks()
      mqLock.synchronized {
        closed = true
        if (mq != null) { mq.stop(); mq = null }
      }
    }
    val s2 = spark.newSession()
    val d = graft.plans.MvRewrite.registerMaintained(s2, "graftmem.tmp.mvar_base",
      "graftmem.tmp.mvar_mv", baseDir, mvDir, Seq("cat"),
      Map(("count", "*") -> "n_rows", ("sum", "cents") -> "sum_cents"))
    MemCatalog.onCommit(baseDir)(() => cycle())
    try {
      val sql = "SELECT cat, count(*) AS n, sum(cents) AS cents " +
        "FROM graftmem.tmp.mvar_base GROUP BY cat"
      def serves(fromMv: Boolean): Boolean =
        new graft.plans.MvRewrite.Probe(s2, spark, sql).serves(d.mvName, fromMv)
      // v1: the commit ITSELF triggers maintenance (drains v0 and v1)
      ss.sql("UPDATE graftmem.tmp.mvar_base SET cents = cents + 7 WHERE cat = 3")
      MemCatalog.awaitCommitHooks()
      val autoServes = serves(fromMv = true)
      // commit storm: two back-to-back commits coalesce into ≤2 hook
      // runs; the DELETE erases a whole group, exercising the MERGE's
      // group-retiring DELETE leg through the auto path
      ss.sql("UPDATE graftmem.tmp.mvar_base SET cents = cents + 11 WHERE cat = 5")
      ss.sql("DELETE FROM graftmem.tmp.mvar_base WHERE cat = 0")
      MemCatalog.awaitCommitHooks()
      val stormServes = serves(fromMv = true)
      // hook dropped: the next commit leaves the MV stale; the watermark
      // gate disarms the rewrite and answers stay correct from base —
      // the maintenance stream is torn down WITH the hook
      teardown()
      ss.sql("UPDATE graftmem.tmp.mvar_base SET cents = cents + 1 WHERE cat = 1")
      val droppedDisarms = serves(fromMv = false)
      val out = spark.sql(sql)
        .withColumn("auto_serves_after_commit", lit(autoServes))
        .withColumn("storm_coalesced_serves", lit(stormServes))
        .withColumn("dropped_hook_disarms", lit(droppedDisarms))
        .localCheckpoint(true)
      out
    } finally {
      teardown()
      MemCatalog.deleteRecursively(ckpt)
    }
  }

  /** SNAPSHOTS + REFS RELATION — `<table>.snapshots`
    * ([[graft.sources.v2.MemMetaTable]], fourth kind): the commit log
    * JOINED with the ref landscape — per retained snapshot, which TAGS
    * pin it and which BRANCHES forked from it, plus the head marker
    * (Iceberg's `snapshots` ⋈ `refs` metadata tables). This is the
    * relation an operator reads before a vacuum or rollback decision:
    * refs are retention leases, so "what am I about to lose, and what is
    * leased against it?" is one metadata-only SQL query at any table
    * size. The scripted gate pins a tag on the middle snapshot and a
    * branch forked at the head CARRYING ONE AUDITED COMMIT — the ref
    * reads `branch:exp@1`, so the landscape shows not just that the
    * branch exists but that one unpublished branch commit's files are
    * leased against vacuum (the complete pre-vacuum picture).
    */
  def dsv2SnapshotsMeta(spark: SparkSession, dir: String): DataFrame = {
    val cat = MemCatalog
    spark.sql("DROP TABLE IF EXISTS graftmem.tmp.snm")
    spark.sql("CREATE TABLE graftmem.tmp.snm (k BIGINT)")
    spark.sql("INSERT INTO graftmem.tmp.snm VALUES (CAST(1 AS BIGINT))")
    spark.sql("INSERT INTO graftmem.tmp.snm VALUES (CAST(2 AS BIGINT))")
    val tdir = MemCatalog.tableDir(spark, "graftmem.tmp.snm")
    cat.dropBranch(tdir, "exp")
    cat.createTag(tdir, "rc", 1)
    cat.createBranch(tdir, "exp") // forks at the head, v2
    // one real branch append: the ref must report the LIVE head (@1),
    // not just the fork point
    spark.sql("SELECT CAST(9 AS BIGINT) AS k")
      .writeTo("graftmem.tmp.snm").option("branch", "exp").append()
    val out = spark.sql(
      "SELECT version, op, n_files, is_head, refs FROM graftmem.tmp.snm.snapshots")
      .localCheckpoint(true)
    cat.dropBranch(tdir, "exp")
    cat.dropTag(tdir, "rc")
    out
  }

  /** NORMALIZED REFS RELATION — `<table>.refs` (fifth metadata kind):
    * one row per tag/branch with type, pinned/fork version, the branch's
    * live head ordinal and the retention-lease size — the JOINABLE twin
    * of the snapshots relation's comma-packed refs string (Iceberg's
    * `refs` metadata table proper). "Which refs lease more than N
    * commits against vacuum?" becomes a WHERE clause instead of string
    * parsing. The scripted gate pins a tag, an audited branch with one
    * staged commit (head 1, leasing 2), and an idle fork (head 0,
    * leasing 1), replayed as literals.
    */
  def dsv2RefsMeta(spark: SparkSession, dir: String): DataFrame = {
    val cat = MemCatalog
    spark.sql("DROP TABLE IF EXISTS graftmem.tmp.rfm")
    spark.sql("CREATE TABLE graftmem.tmp.rfm (k BIGINT)")
    spark.sql("INSERT INTO graftmem.tmp.rfm VALUES (CAST(1 AS BIGINT))") // v1
    spark.sql("INSERT INTO graftmem.tmp.rfm VALUES (CAST(2 AS BIGINT))") // v2
    val tdir = MemCatalog.tableDir(spark, "graftmem.tmp.rfm")
    cat.dropBranch(tdir, "exp"); cat.dropBranch(tdir, "idle")
    cat.createTag(tdir, "rc", 1)
    cat.createBranch(tdir, "exp") // forks at v2
    spark.sql("SELECT CAST(9 AS BIGINT) AS k")
      .writeTo("graftmem.tmp.rfm").option("branch", "exp").append() // head 1
    cat.createBranch(tdir, "idle") // fork only, head 0
    val out = spark.sql(
      "SELECT name, type, version, head, n_retained FROM graftmem.tmp.rfm.refs")
      .localCheckpoint(true)
    cat.dropBranch(tdir, "exp"); cat.dropBranch(tdir, "idle"); cat.dropTag(tdir, "rc")
    out
  }

  /** DECLARATIVE SNAPSHOT RETENTION —
    * `TBLPROPERTIES('graft.autoVacuumKeep'='N')`: the table itself
    * declares how many snapshots to keep and every data commit enforces
    * it on the maintenance thread (Delta's log-retention auto-cleanup as
    * a version count) — no cron, no manual VACUUM, one metadata flip to
    * attach or drop the policy. Tags stay retention LEASES: a tagged
    * snapshot (and every file it references) survives any policy until
    * the tag drops, so "keep 2 but preserve the audited release" is two
    * declarative statements. Vacuum publishes no manifest, so the policy
    * structurally cannot retrigger itself. Gates: `retention_enforced`
    * (after 5 commits under keep=2, only the head pair plus the tagged
    * snapshot have manifests — older time travel is GONE), `tag_leased`
    * (the tagged middle version still reads exactly its content by
    * name), `head_intact` (the current table is byte-identical to the
    * replay). At 100 TB this is the difference between a commit log that
    * grows until an operator remembers it and one that converges to its
    * declared window on every ingest.
    */
  def dsv2AutoVacuum(spark: SparkSession, dir: String): DataFrame = {
    val cat = MemCatalog
    spark.sql("DROP TABLE IF EXISTS graftmem.tmp.avt")
    spark.sql("CREATE TABLE graftmem.tmp.avt (k BIGINT, v BIGINT)")
    spark.sql("ALTER TABLE graftmem.tmp.avt " +
      "SET TBLPROPERTIES('graft.autoVacuumKeep'='2')")
    val tdir = MemCatalog.tableDir(spark, "graftmem.tmp.avt")
    (1 to 3).foreach(i => spark.sql(
      s"INSERT INTO graftmem.tmp.avt VALUES (CAST($i AS BIGINT), CAST(${i * 10} AS BIGINT))"))
    cat.createTag(tdir, "audited", 3) // lease v3 against the policy
    (4 to 5).foreach(i => spark.sql(
      s"INSERT INTO graftmem.tmp.avt VALUES (CAST($i AS BIGINT), CAST(${i * 10} AS BIGINT))"))
    cat.awaitCommitHooks()
    val retained = spark.sql("SELECT version FROM graftmem.tmp.avt.history")
      .collect().map(_.getInt(0)).toSet
    val retentionEnforced = retained == Set(3, 4, 5)
    val tagLeased = spark.sql(
      "SELECT k FROM graftmem.tmp.avt VERSION AS OF 'audited'")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L)
    val headIntact = spark.sql("SELECT count(*) FROM graftmem.tmp.avt")
      .head().getLong(0) == 5L
    spark.sql("SELECT k, v FROM graftmem.tmp.avt")
      .withColumn("retention_enforced", lit(retentionEnforced))
      .withColumn("tag_leased", lit(tagLeased))
      .withColumn("head_intact", lit(headIntact))
  }

  /** PARTITIONS METADATA RELATION — `<table>.partitions`
    * ([[graft.sources.v2.MemMetaTable]], third kind): the per-partition
    * rollup under the table's CURRENT hidden-partitioning spec — one row
    * per transform value with file and row counts, NULL grouping any
    * pre-routing or evolved-away files that span partitions. Iceberg's
    * `partitions` metadata table: the first question an operator asks a
    * partitioned table ("how skewed is it? which partition is hot?")
    * answered from the manifest's `pt:` transform ranges with zero data
    * I/O. The oracle recomputes the bucket transform
    * (`floorMod(k * 2654435761, 4)`) declaratively over the same rows —
    * gating that write-side routing, the recorded transform ranges, and
    * the rollup all agree with the arithmetic definition.
    */
  def dsv2PartitionsMeta(spark: SparkSession, dir: String): DataFrame = {
    spark.sql("DROP TABLE IF EXISTS graftmem.tmp.pmt")
    spark.sql(
      """CREATE TABLE graftmem.tmp.pmt (k BIGINT, v BIGINT)
        |TBLPROPERTIES ('graft.partition'='bucket(4,k)')""".stripMargin)
    // bucket-aligned ingest (one commit per bucket — the writer-side
    // routing a partitioned pipeline does), matching the
    // dsv2_partition_evolution idiom; files are then single-partition
    (0 until 4).foreach(b => spark.sql(
      "INSERT INTO graftmem.tmp.pmt SELECT id, id * 3 FROM range(0, 60) " +
        s"WHERE pmod(id * 2654435761, 4) = $b"))
    // one deliberately MIXED file (k=60 -> bucket 0, k=61 -> bucket 1,
    // coalesced into one writer task): the relation must report it under
    // the NULL group, never misattribute it to either bucket
    spark.sql("INSERT INTO graftmem.tmp.pmt " +
      "SELECT /*+ COALESCE(1) */ id, id * 3 FROM range(60, 62)")
    spark.sql("SELECT spec, part, n_rows FROM graftmem.tmp.pmt.partitions")
  }

  /** TRANSFORM-AWARE WRITE ROUTING —
    * `TBLPROPERTIES('graft.partition'='bucket(4,k)',
    * 'graft.partitionRoute'='true')`: ONE plain INSERT produces
    * PARTITION-PURE files with zero user-side routing. The write
    * requests a clustered distribution on the partition transform itself
    * (resolved through the catalog's new FunctionCatalog `bucket`/`days`
    * system functions — SPARK-39607, Iceberg's
    * `write.distribution-mode=hash`), and the task-side FANOUT writer
    * emits one file per distinct transform value, so every file's `pt:`
    * stat range collapses to a point. This is what
    * [[dsv2PartitionsMeta]]'s manual per-bucket INSERT loop simulates —
    * here the engine does the routing, which at 100 TB is the difference
    * between ingest that needs a bucketing-aware pipeline upstream and
    * ingest that takes ANY writer's rows and still yields a prunable,
    * NULL-group-free layout. Gates: the partitions rollup equals the
    * declarative bucket arithmetic with NO NULL group; riders pin
    * file purity (every pt range a point), the exact one-file-per-bucket
    * layout from the single INSERT, and SQL access to the system
    * function itself (`graftmem.sys.bucket(4, k)` reproduces the
    * transform bit-for-bit).
    */
  def dsv2PartitionRoute(spark: SparkSession, dir: String): DataFrame = {
    spark.sql("DROP TABLE IF EXISTS graftmem.tmp.prt")
    spark.sql(
      """CREATE TABLE graftmem.tmp.prt (k BIGINT, v BIGINT)
        |TBLPROPERTIES ('graft.partition'='bucket(4,k)',
        |               'graft.partitionRoute'='true', 'clusterParts'='4')""".stripMargin)
    spark.sql("INSERT INTO graftmem.tmp.prt SELECT id, id * 3 FROM range(0, 60)")
    val tdir = MemCatalog.tableDir(spark, "graftmem.tmp.prt")
    val entries = MemCatalog.liveEntries(tdir)
    val ranges = entries.flatMap(_.stats.get("pt:bucket(4,k)"))
    val pure = entries.nonEmpty && ranges.size == entries.size &&
      ranges.forall { case (lo, hi) => lo == hi }
    val onePerBucket = entries.size == 4 &&
      ranges.map(_._1).sorted == Seq(0L, 1L, 2L, 3L)
    // the system function is a first-class SQL surface: it must agree
    // with the write router's arithmetic on every row
    val fnAgrees = spark.sql(
      """SELECT count(*) FROM graftmem.tmp.prt
        |WHERE graftmem.sys.bucket(4, k) <> pmod(k * 2654435761, 4)""".stripMargin)
      .head().getLong(0) == 0L
    spark.sql("SELECT spec, part, n_rows FROM graftmem.tmp.prt.partitions")
      .withColumn("files_partition_pure", lit(pure))
      .withColumn("one_file_per_bucket", lit(onePerBucket))
      .withColumn("sql_function_agrees", lit(fnAgrees))
  }

  /** MULTI-TRANSFORM PARTITION SPEC —
    * `TBLPROPERTIES('graft.partition'='days(ts),bucket(4,k)')`: Iceberg's
    * STANDARD lakehouse layout (a time dimension for retention/pruning ×
    * a hash dimension for write parallelism and key lookups), which a
    * single-transform catalog cannot express. Every writer stamps one
    * `pt:` stat range PER transform, the routed fanout writer keys on
    * the transform TUPLE (one file per (day, bucket) pair from one plain
    * INSERT), the scan prunes on the CONJUNCTION (each transform's stamp
    * is an independent truth — a filter on either source column drops
    * files on its own dimension), and the partitions metadata relation
    * rolls up one block per transform. Gates: rollup == declarative
    * arithmetic over BOTH transforms; structural pruning proofs (hide
    * the files the transform rule says the scan must skip, re-run,
    * identical answer) on the days dimension, the bucket dimension, and
    * the conjunction; exactly one partition-pure file per occupied
    * (day, bucket) pair. At 100 TB this is `events/day=D/bucket=B`:
    * retention drops whole days, point lookups touch one bucket, and a
    * day×key query reads exactly one file group.
    */
  def dsv2PartitionMulti(spark: SparkSession, dir: String): DataFrame = {
    spark.sql("DROP TABLE IF EXISTS graftmem.tmp.pmu")
    spark.sql(
      """CREATE TABLE graftmem.tmp.pmu (ts BIGINT, k BIGINT, v BIGINT)
        |TBLPROPERTIES ('graft.partition'='days(ts),bucket(4,k)',
        |               'graft.partitionRoute'='true', 'clusterParts'='12')""".stripMargin)
    // 3 days × 4 buckets, every pair occupied (bucket(id) = id mod 4
    // because the Knuth constant is ≡ 1 (mod 4); day = id mod 3)
    spark.sql("INSERT INTO graftmem.tmp.pmu " +
      "SELECT (id % 3) * 86400 + id, id, id * 7 FROM range(0, 120)")
    val tdir = MemCatalog.tableDir(spark, "graftmem.tmp.pmu")
    val cat = MemCatalog
    def dayOf(ts: Long): Long = java.lang.Math.floorDiv(ts, 86400L)
    def bucketOf(v: Long): Long = java.lang.Math.floorMod(v * 2654435761L, 4L)
    def outside(t: Long, r: (Long, Long)): Boolean = t < r._1 || t > r._2
    // one partition-pure file per (day, bucket) pair: both pt ranges are
    // points and the 12 (day, bucket) tuples are exactly the occupied set
    val entries = cat.liveEntries(tdir)
    val pairs = entries.flatMap { e =>
      for {
        d <- e.stats.get("pt:days(ts)")
        b <- e.stats.get("pt:bucket(4,k)")
        if d._1 == d._2 && b._1 == b._2
      } yield (d._1, b._1)
    }
    val onePerPair = entries.size == 12 && pairs.size == 12 &&
      pairs.toSet == (for (d <- 0L to 2L; b <- 0L to 3L) yield (d, b)).toSet
    // structural pruning proof, one dimension at a time: hide the files
    // the transform rule says the scan must skip, re-run, same answer
    def provedPruned(expectHidden: Int, probeSql: String,
        prunable: MemCatalog.FileEntry => Boolean): Boolean = {
      val hidden = cat.liveEntries(tdir).filter(prunable)
      hidden.size == expectHidden && cat.proveFilesPruned(spark, tdir, hidden, probeSql)
    }
    val probeTs = 2L * 86400 + 50 // day 2, k=50 (day 50%3=2 ✓), bucket 50%4=2
    // the days dimension alone: ts equality keeps day 2's four files
    val prunedDays = provedPruned(8,
      s"SELECT count(*) FROM graftmem.tmp.pmu WHERE ts = $probeTs",
      _.stats.get("pt:days(ts)").exists(outside(dayOf(probeTs), _)))
    // the bucket dimension alone: k equality keeps bucket 2's three files
    val prunedBucket = provedPruned(9,
      "SELECT count(*) FROM graftmem.tmp.pmu WHERE k = 50",
      _.stats.get("pt:bucket(4,k)").exists(outside(bucketOf(50), _)))
    // the conjunction: both predicates leave exactly one (day,bucket) file
    val prunedConjunction = provedPruned(11,
      s"SELECT count(*) FROM graftmem.tmp.pmu WHERE ts = $probeTs AND k = 50",
      e => e.stats.get("pt:days(ts)").exists(outside(dayOf(probeTs), _)) ||
        e.stats.get("pt:bucket(4,k)").exists(outside(bucketOf(50), _)))
    // the rollup: one block per transform, no NULL group on either
    spark.sql("SELECT spec, part, n_rows FROM graftmem.tmp.pmu.partitions")
      .withColumn("one_file_per_pair", lit(onePerPair))
      .withColumn("pruned_days", lit(prunedDays))
      .withColumn("pruned_bucket", lit(prunedBucket))
      .withColumn("pruned_conjunction", lit(prunedConjunction))
  }

  /** STRING-TYPED PARTITION TRANSFORMS —
    * `'graft.partition'='identity(lang)'` over a STRING column: the
    * tenant/language corpus-mixture key (THE partition dimension of an
    * LLM training-data lakehouse) drives layout directly. String
    * transforms ride the same `(Long, Long)` per-file stat ranges the
    * integral zone maps use, via an order-preserving 8-byte prefix code
    * ([[graft.sources.v2.MemPart.prefixCode]]) — equality pruning is
    * exact on the code, RANGE pruning is conservative-correct because
    * the code is monotone in binary string order (exactly Spark's
    * UTF8String comparison). `bucket(N, str)` hashes UTF-8 bytes with
    * FNV-1a 64 and `truncate(N, str)` prefix-codes the first N
    * codepoints — both also exposed as catalog SQL functions
    * (`graftmem.sys.bucket/truncate`) with one arithmetic shared by the
    * router, the stats, and SQL. Gates: structural pruning proofs for a
    * string EQUALITY (4 of 5 language files hidden) and a string RANGE
    * (3 of 5 hidden), one partition-pure routed file per language, and
    * driver-side agreement between the SQL functions and the stamping
    * arithmetic on every distinct key.
    */
  def dsv2PartitionString(spark: SparkSession, dir: String): DataFrame = {
    spark.sql("DROP TABLE IF EXISTS graftmem.tmp.pst")
    spark.sql(
      """CREATE TABLE graftmem.tmp.pst (lang STRING, doc BIGINT)
        |TBLPROPERTIES ('graft.partition'='identity(lang)',
        |               'graft.partitionRoute'='true', 'clusterParts'='5')""".stripMargin)
    spark.sql("INSERT INTO graftmem.tmp.pst " +
      "SELECT element_at(array('en','de','fr','ja','zh'), CAST(id % 5 AS INT) + 1), id " +
      "FROM range(0, 100)")
    val tdir = MemCatalog.tableDir(spark, "graftmem.tmp.pst")
    val cat = MemCatalog
    val MemPart = graft.sources.v2.MemPart
    def code(s: String): Long = MemPart.prefixCode(s.getBytes("UTF-8"))
    def outside(t: Long, r: (Long, Long)): Boolean = t < r._1 || t > r._2
    val entries = cat.liveEntries(tdir)
    val pts = entries.flatMap(_.stats.get("pt:identity(lang)"))
    val onePerLang = entries.size == 5 && pts.size == 5 &&
      pts.forall(r => r._1 == r._2) &&
      pts.map(_._1).toSet == Set("en", "de", "fr", "ja", "zh").map(code)
    def provedPruned(expectHidden: Int, probeSql: String,
        prunable: MemCatalog.FileEntry => Boolean): Boolean = {
      val hidden = cat.liveEntries(tdir).filter(prunable)
      hidden.size == expectHidden && cat.proveFilesPruned(spark, tdir, hidden, probeSql)
    }
    // string EQUALITY prunes through the identity transform's code
    val prunedEq = provedPruned(4,
      "SELECT count(*) FROM graftmem.tmp.pst WHERE lang = 'de'",
      _.stats.get("pt:identity(lang)").exists(outside(code("de"), _)))
    // string RANGE prunes because the prefix code is monotone in binary
    // string order: lang >= 'j' keeps ja and zh, hides de/en/fr
    val prunedRange = provedPruned(3,
      "SELECT count(*) FROM graftmem.tmp.pst WHERE lang >= 'j'",
      e => e.stats.get("pt:identity(lang)").exists { case (_, hi) => hi < code("j") })
    // the string-typed catalog SQL functions agree with the stamping
    // arithmetic on every distinct key (one arithmetic everywhere)
    val fnRows = spark.sql(
      """SELECT DISTINCT lang, graftmem.sys.bucket(4, lang) AS b,
        |       graftmem.sys.truncate(1, lang) AS t
        |FROM graftmem.tmp.pst""".stripMargin).collect()
    val fnAgree = fnRows.length == 5 && fnRows.forall { r =>
      val s = r.getString(0)
      r.getLong(1) == MemPart.Bucket(4, "lang").evalStr(s) &&
        r.getLong(2) == MemPart.Truncate(1, "lang").evalStr(s)
    }
    spark.sql("SELECT lang, count(*) AS n_docs, min(doc) AS first_doc " +
      "FROM graftmem.tmp.pst GROUP BY lang")
      .withColumn("one_file_per_lang", lit(onePerLang))
      .withColumn("pruned_string_eq", lit(prunedEq))
      .withColumn("pruned_string_range", lit(prunedRange))
      .withColumn("sql_functions_agree", lit(fnAgree))
  }

  /** TIMESTAMP COLUMNS + `days(ts)` HIDDEN PARTITIONING — TIMESTAMP is
    * now a first-class catalog type (stored as its InternalRow epoch
    * MICROS: codec, zone maps, pruning and transforms all see a
    * monotone integral; session pinned UTC), and Iceberg's signature
    * layout `days(ts)` works on REAL timestamps — the transform divides
    * by 86 400 000 000 µs (vs 86 400 for epoch-second BIGINTs; the
    * column type routes the arithmetic, `MemPart.evalAt`). Gates: the
    * routed INSERT yields one day-pure file per day; a timestamp RANGE
    * predicate prunes structurally (hide the files the day rule
    * excludes, identical answer — both the partition tier and the plain
    * ts zone maps serve it); the catalog SQL function
    * `graftmem.sys.days(ts)` agrees with the stamping arithmetic on
    * every row. At 100 TB this is the events table as users actually
    * declare it — TIMESTAMP ingest time, daily retention and pruning —
    * with no epoch-seconds conversion shim at the edge.
    */
  def dsv2PartitionTimestamp(spark: SparkSession, dir: String): DataFrame = {
    spark.sql("DROP TABLE IF EXISTS graftmem.tmp.pts")
    spark.sql(
      """CREATE TABLE graftmem.tmp.pts (ts TIMESTAMP, k BIGINT)
        |TBLPROPERTIES ('graft.partition'='days(ts)',
        |               'graft.partitionRoute'='true', 'clusterParts'='3')""".stripMargin)
    // three days of events: day = k % 3, second-of-day = k
    spark.sql("INSERT INTO graftmem.tmp.pts " +
      "SELECT timestamp_micros((id % 3) * 86400000000 + id * 1000000), id " +
      "FROM range(0, 90)")
    val tdir = MemCatalog.tableDir(spark, "graftmem.tmp.pts")
    val cat = MemCatalog
    val entries = cat.liveEntries(tdir)
    val ranges = entries.flatMap(_.stats.get("pt:days(ts)"))
    val onePerDay = entries.size == 3 && ranges.size == 3 &&
      ranges.forall(r => r._1 == r._2) && ranges.map(_._1).sorted == Seq(0L, 1L, 2L)
    def provedPruned(expectHidden: Int, probeSql: String,
        prunable: MemCatalog.FileEntry => Boolean): Boolean = {
      val hidden = cat.liveEntries(tdir).filter(prunable)
      hidden.size == expectHidden && cat.proveFilesPruned(spark, tdir, hidden, probeSql)
    }
    // ts >= day 2's first instant keeps only day 2's file — the range
    // tier of the days transform (monotone) plus the plain ts zone map
    val prunedTsRange = provedPruned(2,
      "SELECT count(*) FROM graftmem.tmp.pts WHERE ts >= TIMESTAMP'1970-01-03 00:00:00'",
      _.stats.get("pt:days(ts)").exists { case (_, hi) => hi < 2L })
    // the timestamp-typed days SQL function agrees with the stamps
    val fnAgrees = spark.sql(
      """SELECT count(*) FROM graftmem.tmp.pts
        |WHERE graftmem.sys.days(ts) <> k % 3""".stripMargin).head().getLong(0) == 0L
    spark.sql(
      """SELECT graftmem.sys.days(ts) AS day_no, count(*) AS n_rows,
        |       min(k) AS min_k, max(k) AS max_k
        |FROM graftmem.tmp.pts GROUP BY 1""".stripMargin)
      .withColumn("one_file_per_day", lit(onePerDay))
      .withColumn("pruned_ts_range", lit(prunedTsRange))
      .withColumn("sql_function_agrees", lit(fnAgrees))
  }

  /** DATE COLUMNS + `months(d)` HIDDEN PARTITIONING — DATE completes
    * the temporal type story next to TIMESTAMP: stored as its
    * InternalRow epoch-DAY Int, zone-mapped, filter-prunable
    * (java.sql.Date/LocalDate filter values convert to day ordinals),
    * and the calendar transforms apply directly — `days(d)` is the
    * ordinal itself, `months(d)`/`years(d)` via real UTC calendar
    * arithmetic. Gates: a routed INSERT over three calendar months
    * yields month-pure files; a DATE range predicate prunes
    * structurally; `graftmem.sys.months(d)` agrees with the stamps. At
    * 100 TB this is the dimension-table grain (ship_date, birth_date):
    * monthly layout and retention declared on the column users already
    * have.
    */
  def dsv2PartitionDate(spark: SparkSession, dir: String): DataFrame = {
    spark.sql("DROP TABLE IF EXISTS graftmem.tmp.pdt")
    spark.sql(
      """CREATE TABLE graftmem.tmp.pdt (d DATE, k BIGINT)
        |TBLPROPERTIES ('graft.partition'='months(d)',
        |               'graft.partitionRoute'='true', 'clusterParts'='3')""".stripMargin)
    // Jan/Feb/Mar 1970, day-of-month 1 + k%20
    spark.sql("INSERT INTO graftmem.tmp.pdt " +
      "SELECT date_add(DATE'1970-01-01', CAST((id % 3) * 31 + id % 20 AS INT)), id " +
      "FROM range(0, 90)")
    val tdir = MemCatalog.tableDir(spark, "graftmem.tmp.pdt")
    val cat = MemCatalog
    val entries = cat.liveEntries(tdir)
    val ranges = entries.flatMap(_.stats.get("pt:months(d)"))
    val onePerMonth = entries.size == 3 && ranges.size == 3 &&
      ranges.forall(r => r._1 == r._2) && ranges.map(_._1).sorted == Seq(0L, 1L, 2L)
    // hide Jan + Feb; a March-start range probe must still be exact
    val hidden = entries.filter(_.stats.get("pt:months(d)").exists(_._2 < 2L))
    val prunedDateRange = hidden.size == 2 && cat.proveFilesPruned(spark, tdir, hidden,
      "SELECT count(*) FROM graftmem.tmp.pdt WHERE d >= DATE'1970-03-01'")
    val fnAgrees = spark.sql(
      """SELECT count(*) FROM graftmem.tmp.pdt
        |WHERE graftmem.sys.months(d) <> k % 3""".stripMargin).head().getLong(0) == 0L
    spark.sql(
      """SELECT graftmem.sys.months(d) AS month_no, count(*) AS n_rows,
        |       CAST(min(d) AS STRING) AS first_d, max(k) AS max_k
        |FROM graftmem.tmp.pdt GROUP BY 1""".stripMargin)
      .withColumn("one_file_per_month", lit(onePerMonth))
      .withColumn("pruned_date_range", lit(prunedDateRange))
      .withColumn("sql_function_agrees", lit(fnAgrees))
  }

  /** TRI-CLAUSE MERGE — `WHEN NOT MATCHED BY SOURCE` (SQL:2023, Spark 4)
    * completing the MERGE surface: matched rows update, source-only rows
    * insert, and TARGET-ONLY rows — the clause the classic two-clause
    * MERGE can't express — delete or update depending on their own
    * predicate. This is the mirror-sync statement (sync a replica to a
    * feed, expiring rows the feed no longer carries) and the one MERGE
    * shape that forces the row-level operation to consider the WHOLE
    * target, not just source-key groups: Spark plans it as a group-based
    * COW over every target group with rows absent from the source, which
    * the connector's runtime `_file` group filter still narrows to the
    * files that actually hold affected rows. The oracle replays all four
    * clause outcomes declaratively (DuckDB has no MERGE — the CASE/UNION
    * replay IS the semantic spec).
    */
  def dsv2MergeBySource(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_mrg_orders")
    spark.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.mrg_t AS
        |SELECT CAST(o_orderkey % 31 AS BIGINT) AS k, count(*) AS n,
        |       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |FROM graft_mrg_orders GROUP BY 1""".stripMargin) // target: k = 0..30
    // source feed: keys 20..45 (20..30 match, 31..45 are source-only)
    spark.sql("SELECT CAST(id AS BIGINT) AS k, CAST(1 AS BIGINT) AS n, " +
      "CAST(id * 1000 AS BIGINT) AS cents FROM range(20, 46)")
      .createOrReplaceTempView("graft_mrg_src")
    spark.sql(
      """MERGE INTO graftmem.tmp.mrg_t t USING graft_mrg_src s ON t.k = s.k
        |WHEN MATCHED AND s.k % 5 = 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET cents = s.cents
        |WHEN NOT MATCHED THEN INSERT (k, n, cents) VALUES (s.k, s.n, s.cents)
        |WHEN NOT MATCHED BY SOURCE AND t.k % 2 = 0 THEN DELETE
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET cents = -t.cents""".stripMargin)
    spark.sql("SELECT k, n, cents FROM graftmem.tmp.mrg_t")
  }

  /** TRI-CLAUSE MERGE ON MERGE-ON-READ — [[dsv2MergeBySource]]'s mirror
    * sync against a `graft.dml='mor'` target: the same four clause
    * outcomes land as DELTAS (insert files + positional deletion vectors
    * via `SupportsDelta`), never group rewrites — `mor_write_cheap`
    * gates that every pre-merge base file is still live BY NAME after
    * the statement (updates became DV + post-image rows, deletes became
    * DV positions). At 100 TB this is the difference between a nightly
    * mirror sync that rewrites every touched 128 MB file group (COW) and
    * one that writes O(changed rows) (MoR) — the same statement, the
    * same oracle replay, the write mode chosen per table by a property.
    */
  def dsv2MergeBySourceMor(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_mrgm_orders")
    spark.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.mrgm_t
        |TBLPROPERTIES ('graft.dml'='mor') AS
        |SELECT CAST(o_orderkey % 29 AS BIGINT) AS k, count(*) AS n,
        |       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |FROM graft_mrgm_orders GROUP BY 1""".stripMargin) // target: k = 0..28
    val tdir = MemCatalog.tableDir(spark, "graftmem.tmp.mrgm_t")
    val preNames = MemCatalog.liveEntries(tdir).map(_.name).toSet
    spark.sql("SELECT CAST(id AS BIGINT) AS k, CAST(1 AS BIGINT) AS n, " +
      "CAST(id * 1000 AS BIGINT) AS cents FROM range(18, 40)")
      .createOrReplaceTempView("graft_mrgm_src") // 18..28 match, 29..39 new
    spark.sql(
      """MERGE INTO graftmem.tmp.mrgm_t t USING graft_mrgm_src s ON t.k = s.k
        |WHEN MATCHED AND s.k % 4 = 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET cents = s.cents
        |WHEN NOT MATCHED THEN INSERT (k, n, cents) VALUES (s.k, s.n, s.cents)
        |WHEN NOT MATCHED BY SOURCE AND t.k % 3 = 0 THEN DELETE
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET cents = -t.cents""".stripMargin)
    val writeCheap = preNames.subsetOf(
      MemCatalog.liveEntries(tdir).map(_.name).toSet)
    spark.sql("SELECT k, n, cents FROM graftmem.tmp.mrgm_t")
      .withColumn("mor_write_cheap", lit(writeCheap))
  }

  /** AUTO-COMPACTION VIA COMMIT HOOK —
    * [[MemCatalog.autoCompact]]: the live-file-count
    * threshold registered as the table's commit hook, so every ingest
    * commit that pushes the table over `maxFiles` triggers OPTIMIZE
    * asynchronously (Delta auto-optimize / Iceberg commit-triggered
    * rewrite). Nobody calls compact; nobody schedules anything; the
    * commit that created the small-file debt pays it. Gates:
    * `auto_compacted` (after 8 single-row commits with maxFiles=4 and a
    * quiesce, the live count collapsed to ≤4 and the history shows an
    * `optimize` op nobody invoked), `self_terminating` (a further
    * quiesce with no new commits advances nothing — the compaction's own
    * commit re-fires the hook, which must see a converged layout and
    * no-op, structurally preventing the retrigger storm), `rows_intact`
    * (compaction moved bytes, never rows). At 100 TB this keeps a
    * micro-batch-fed table converged to its target layout continuously
    * instead of degrading until a nightly OPTIMIZE.
    */
  def dsv2AutoCompact(spark: SparkSession, dir: String): DataFrame = {
    val cat = MemCatalog
    spark.sql("DROP TABLE IF EXISTS graftmem.tmp.act")
    spark.sql("CREATE TABLE graftmem.tmp.act (k BIGINT, v BIGINT)")
    val tdir = MemCatalog.tableDir(spark, "graftmem.tmp.act")
    cat.autoCompact(tdir, maxFiles = 4)
    try {
      (0 until 8).foreach(i => spark.sql(
        s"INSERT INTO graftmem.tmp.act VALUES (CAST($i AS BIGINT), CAST(${i * 10} AS BIGINT))"))
      cat.awaitCommitHooks()
      val hist = cat.history(tdir)
      val autoCompacted = cat.liveEntries(tdir).size <= 4 &&
        hist.exists(_._2 == "optimize")
      val vQuiesced = cat.currentVersion(tdir)
      cat.awaitCommitHooks()
      val selfTerminating = cat.currentVersion(tdir) == vQuiesced
      val rowsIntact = spark.sql("SELECT count(*) FROM graftmem.tmp.act")
        .head().getLong(0) == 8L
      spark.sql("SELECT k, v FROM graftmem.tmp.act")
        .withColumn("auto_compacted", lit(autoCompacted))
        .withColumn("self_terminating", lit(selfTerminating))
        .withColumn("rows_intact", lit(rowsIntact))
    } finally cat.dropCommitHook(tdir)
  }

  /** ZERO-COPY SHALLOW CLONE — Delta's `CREATE TABLE ... SHALLOW CLONE`
    * ([[MemCatalog.cloneTable]]): the clone's v0
    * manifest references the source's live files by absolute path, so
    * cloning a 100 TB table is O(live files) manifest work and zero data
    * bytes — the dev/test-sandbox and experiment-branching primitive
    * every lakehouse ships. Divergence is two-way: the clone pins the
    * source's FILE LIST, not its manifest, so a COW UPDATE on the clone
    * retires references and writes clone-local files (the source's bytes
    * are never touched), and later source commits never appear in the
    * clone. Gates: `clone_zero_copy` (no data file exists under the
    * clone dir at clone time), `source_isolated` (the clone's UPDATE
    * leaves the source's rows byte-identical), `clone_isolated` (a
    * post-clone source INSERT is invisible to the clone).
    */
  def dsv2ShallowClone(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_cl_orders")
    spark.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.clsrc AS
        |SELECT CAST(o_orderkey % 23 AS BIGINT) AS k, count(*) AS n,
        |       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |FROM graft_cl_orders GROUP BY 1""".stripMargin)
    val cat = MemCatalog
    val srcDir = MemCatalog.tableDir(spark, "graftmem.tmp.clsrc")
    val dstDir = MemCatalog.tableDir(spark, "graftmem.tmp.cldst")
    cat.deleteRecursively(dstDir)
    cat.cloneTable(srcDir, dstDir)
    import scala.jdk.CollectionConverters._
    def dataFiles(d: java.nio.file.Path): Set[String] = {
      val ls = java.nio.file.Files.list(d)
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet
      finally ls.close()
    }
    val zeroCopy = dataFiles(dstDir).isEmpty
    def rowsOf(t: String): Set[String] =
      spark.sql(s"SELECT k, n, cents FROM $t").collect().map(_.toString).toSet
    val preSrc = rowsOf("graftmem.tmp.clsrc")
    val srcFiles = dataFiles(srcDir)
    // diverge the clone: COW retires references, writes clone-local files
    spark.sql("UPDATE graftmem.tmp.cldst SET cents = cents + 5 WHERE k = 7")
    val sourceIsolated = rowsOf("graftmem.tmp.clsrc") == preSrc &&
      dataFiles(srcDir) == srcFiles
    // diverge the source: the clone pinned a file list, not the manifest
    spark.sql("INSERT INTO graftmem.tmp.clsrc VALUES " +
      "(CAST(999 AS BIGINT), CAST(1 AS BIGINT), CAST(1 AS BIGINT))")
    val cloneIsolated = !spark.sql("SELECT k FROM graftmem.tmp.cldst")
      .collect().exists(_.getLong(0) == 999L)
    spark.sql("SELECT k, n, cents FROM graftmem.tmp.cldst")
      .withColumn("clone_zero_copy", lit(zeroCopy))
      .withColumn("source_isolated", lit(sourceIsolated))
      .withColumn("clone_isolated", lit(cloneIsolated))
  }

  /** CLONE PROMOTION — [[MemCatalog.promoteClone]]: the
    * lazy deep-copy upgrade that completes the clone lifecycle. A
    * shallow clone starts zero-copy ([[dsv2ShallowClone]]) and carries
    * one documented hazard: vacuuming the SOURCE can reclaim files the
    * clone still references. PROMOTE copies every still-referenced file
    * (and vector) into the clone's own dir and commits local references
    * — O(still-referenced bytes), so references the clone's own DML
    * already retired cost nothing: promoting late is strictly cheaper
    * than cloning deep early. Gates: `promote_self_contained` (zero
    * absolute references remain), `survives_source_drop` (the SOURCE
    * TABLE IS DROPPED — not just vacuumed — and the promoted clone reads
    * byte-identical rows), `promote_lazy` (the localized count is
    * positive and at most the clone-time reference count — the retired
    * reference from the clone's UPDATE was never copied).
    */
  def dsv2ClonePromote(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_clp_orders")
    spark.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.clpsrc AS
        |SELECT /*+ REPARTITION(4, k) */ * FROM (
        |  SELECT CAST(o_orderkey % 19 AS BIGINT) AS k, count(*) AS n,
        |         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |  FROM graft_clp_orders GROUP BY 1)""".stripMargin)
    val cat = MemCatalog
    val srcDir = MemCatalog.tableDir(spark, "graftmem.tmp.clpsrc")
    val dstDir = MemCatalog.tableDir(spark, "graftmem.tmp.clpdst")
    cat.deleteRecursively(dstDir)
    cat.cloneTable(srcDir, dstDir)
    val refsAtClone = cat.liveEntries(dstDir)
      .count(e => java.nio.file.Paths.get(e.name).isAbsolute)
    // diverge first: the touched group's reference is RETIRED, so the
    // promote below must not pay for it
    spark.sql("UPDATE graftmem.tmp.clpdst SET cents = cents + 9 WHERE k = 5")
    val expected = spark.sql("SELECT k, n, cents FROM graftmem.tmp.clpdst")
      .collect().map(_.toString).toSet
    val localized = cat.promoteClone(dstDir)
    val selfContained = cat.liveEntries(dstDir)
      .forall(e => !java.nio.file.Paths.get(e.name).isAbsolute)
    val promoteLazy = localized >= 1 && localized <= refsAtClone
    spark.sql("DROP TABLE graftmem.tmp.clpsrc") // the ultimate vacuum
    val survives = spark.sql("SELECT k, n, cents FROM graftmem.tmp.clpdst")
      .collect().map(_.toString).toSet == expected
    // promote → OPTIMIZE → vacuum leaves no `promoted-*` residue: the
    // interim copies rewrite into uniform part names at any size and the
    // superseded copies reclaim, with the content byte-identical
    cat.compact(dstDir)
    cat.vacuum(dstDir, keepVersions = 1)
    val noResidue =
      cat.liveEntries(dstDir).forall(!_.name.startsWith("promoted-")) &&
        cat.partFiles(dstDir).forall(!_.getFileName.toString.startsWith("promoted-")) &&
        spark.sql("SELECT k, n, cents FROM graftmem.tmp.clpdst")
          .collect().map(_.toString).toSet == expected
    spark.sql("SELECT k, n, cents FROM graftmem.tmp.clpdst")
      .withColumn("promote_self_contained", lit(selfContained))
      .withColumn("survives_source_drop", lit(survives))
      .withColumn("promote_lazy", lit(promoteLazy))
      .withColumn("promoted_names_compacted", lit(noResidue))
  }

  /** METADATA TABLES — `<table>.history` and `<table>.files` resolved as
    * ordinary relations ([[graft.sources.v2.MemMetaTable]]): the commit
    * log (version, op, file/eq-delete counts, timestamp) and the live
    * manifest (per-file rows, data sequence, deletion-vector flag,
    * applicable eq-deletes, cluster stamp) — Delta's `DESCRIBE HISTORY`
    * and Iceberg's metadata tables as queryable SQL surfaces. Both are
    * METADATA-ONLY: rows come from the manifest log at plan time, zero
    * data-file I/O at any table size, so ops queries against a 100 TB
    * table are free. The query scripts create → 2 appends → COW update →
    * delete and gates the full (version, op, n_eqdels) audit trail;
    * riders gate cross-relation consistency: `files_live_match` (the
    * files relation's row sum equals the post-DML table count with zero
    * deletion vectors on the COW path) and `files_head_consistent` (the
    * head history entry's file count equals the files relation's
    * cardinality).
    */
  def dsv2MetadataTables(spark: SparkSession, dir: String): DataFrame = {
    spark.sql("DROP TABLE IF EXISTS graftmem.tmp.mdt")
    spark.sql("CREATE TABLE graftmem.tmp.mdt (k BIGINT, v BIGINT)") // v0 create
    spark.sql("INSERT INTO graftmem.tmp.mdt SELECT id, id * 10 FROM range(0, 40)") // v1
    spark.sql("INSERT INTO graftmem.tmp.mdt SELECT id, id * 10 FROM range(40, 50)") // v2
    spark.sql("UPDATE graftmem.tmp.mdt SET v = v + 1 WHERE k < 5") // v3 cow update
    spark.sql("DELETE FROM graftmem.tmp.mdt WHERE k >= 45") // v4 delete
    val f = spark.sql(
      """SELECT coalesce(sum(n_rows), 0) AS live, count(*) AS nf,
        |       sum(CASE WHEN has_dv THEN 1 ELSE 0 END) AS ndv
        |FROM graftmem.tmp.mdt.files""".stripMargin).head()
    // COW materializes row-level changes: live raw rows == table count,
    // zero deletion vectors
    val filesLiveMatch = f.getLong(0) == 45L && f.getLong(2) == 0L
    val headNf = spark.sql(
      "SELECT n_files FROM graftmem.tmp.mdt.history ORDER BY version DESC LIMIT 1")
      .head().getInt(0)
    val filesHeadConsistent = headNf.toLong == f.getLong(1)
    spark.sql("SELECT version, op, n_eqdels FROM graftmem.tmp.mdt.history")
      .withColumn("files_live_match", lit(filesLiveMatch))
      .withColumn("files_head_consistent", lit(filesHeadConsistent))
  }

  /** MERGE-ON-READ DML (`TBLPROPERTIES ('graft.dml'='mor')`) — the
    * OTHER half of the lakehouse DML design space next to the COW path
    * every other `dsv2_catalog_*` query exercises: row-level statements
    * publish positional DELETION VECTORS (`SupportsDelta` row deltas →
    * per-file masked positions in a `dv@` manifest sidecar) instead of
    * rewriting file groups — Iceberg's positional deletes, Delta's
    * deletion vectors. The query walks CTAS → INSERT → UPDATE → DELETE
    * on a MoR table and returns the final state PLUS a `mor_base_kept`
    * flag proving the write-side contract: every pre-DML base file is
    * STILL LIVE BY NAME after both row-level statements (the post-images
    * went to new files, the deletes to vectors — zero data-file
    * rewrites), which is precisely what makes MoR O(changed rows) where
    * COW is O(rewritten groups). The oracle replays the statements
    * declaratively; the read-side equality is the merge-on-read read
    * contract (scan minus vectors == post-DML table). At 100 TB: MoR is
    * the write-cheap choice for delete-heavy tables, OPTIMIZE
    * (`dsv2_compaction`) materializes the vectors when the read tax
    * accumulates, and the net change feed stays exact because the CDF
    * diffs (file, dv) snapshots, not file names.
    */
  def dsv2MorDml(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_mor_orders")
    spark.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.mor_t
        |TBLPROPERTIES ('graft.dml'='mor') AS
        |SELECT CAST(o_orderkey % 45 AS BIGINT) AS k, count(*) AS n_orders,
        |       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |FROM graft_mor_orders GROUP BY 1""".stripMargin) // v0
    spark.sql("INSERT INTO graftmem.tmp.mor_t " +
      "SELECT id, 1, id * 100 FROM range(500, 510)") // v1
    val tableDir = MemCatalog.tableDir(spark, "graftmem.tmp.mor_t")
    val baseNames = MemCatalog.liveEntries(tableDir).map(_.name).toSet
    spark.sql("UPDATE graftmem.tmp.mor_t SET cents = cents - n_orders WHERE k % 3 = 1") // v2
    spark.sql("DELETE FROM graftmem.tmp.mor_t WHERE k % 5 = 2") // v3
    val liveNow = MemCatalog.liveEntries(tableDir)
    // the MoR write contract, gated: no pre-DML base file was rewritten,
    // and the deletes really are vectors (some entry carries one)
    val morBaseKept = baseNames.subsetOf(liveNow.map(_.name).toSet) &&
      liveNow.exists(_.dv.nonEmpty)
    spark.sql("SELECT k, n_orders, cents FROM graftmem.tmp.mor_t")
      .withColumn("mor_base_kept", lit(morBaseKept))
  }

  /** EQUALITY DELETES on a merge-on-read table — Iceberg v2's equality
    * delete files, the write path positional vectors can't give: a
    * positional delete must READ the base files to mint (file, pos) row
    * ids, so `DELETE WHERE k = 5` still scans; with
    * `TBLPROPERTIES ('graft.eqDeleteKeys'='k')` the same statement
    * commits ONE sidecar of deleted key values plus a manifest line —
    * zero data files opened, O(deleted keys) total — and readers drop
    * matching rows of strictly-OLDER files at scan time (the delete
    * carries the commit's sequence number; a file's `#seq` scopes it).
    * The walk proves all four contract points: (1) the DELETE rewrites
    * no file and adds no vector (`eq_no_rewrite` compares the live
    * (name, dv) set across it), (2) a key REINSERTED after the delete
    * survives it (k=2 comes back with new values — sequence scoping,
    * the CDC-upsert property), (3) OPTIMIZE materializes the delete
    * into clean files and GCs its manifest line (`eq_delete_gcd`), and
    * (4) the materialized content still hashes against the oracle — the
    * merge-at-read and the rewrite must agree exactly. At 100 TB this
    * is the difference between O(changes) and O(table) per CDC delete
    * batch. Ref semantics: reference/greeter_server.cc overwrites whole
    * outputs (file:116); this is the row-level delete its model lacks.
    */
  def dsv2MorEqDelete(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_eqd_orders")
    spark.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.eqdel_t
        |TBLPROPERTIES ('graft.dml'='mor', 'graft.eqDeleteKeys'='k') AS
        |SELECT CAST(o_orderkey % 37 AS BIGINT) AS k, count(*) AS n_orders,
        |       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |FROM graft_eqd_orders GROUP BY 1""".stripMargin) // v0
    spark.sql("INSERT INTO graftmem.tmp.eqdel_t " +
      "SELECT id, 1, id * 100 FROM range(600, 610)") // v1
    val tableDir = MemCatalog.tableDir(spark, "graftmem.tmp.eqdel_t")
    val preDel = MemCatalog.liveEntries(tableDir)
      .map(e => (e.name, e.dv)).toSet
    spark.sql("DELETE FROM graftmem.tmp.eqdel_t WHERE k IN (2, 9, 607)") // v2
    val postDel = MemCatalog.liveEntries(tableDir)
      .map(e => (e.name, e.dv)).toSet
    // the write-cheap contract, gated: the DELETE touched NO data file
    // (same live set, no vector composed) and published an #eqdel line
    val eqNoRewrite = preDel == postDel &&
      MemCatalog.eqDeletes(tableDir).nonEmpty
    spark.sql("INSERT INTO graftmem.tmp.eqdel_t VALUES (2, 77, 7700)") // v3: k=2 reborn
    MemCatalog.compact(tableDir) // v4: materialize + GC
    val eqDeleteGcd = MemCatalog.eqDeletes(tableDir).isEmpty
    // the final read scans the MATERIALIZED files — the oracle hash gates
    // that rewrite-time application equals read-time merge
    spark.sql("SELECT k, n_orders, cents FROM graftmem.tmp.eqdel_t")
      .withColumn("eq_no_rewrite", lit(eqNoRewrite))
      .withColumn("eq_delete_gcd", lit(eqDeleteGcd))
  }

  /** COLUMN NDV STATISTICS for the cost-based optimizer — the
    * Iceberg/Delta ANALYZE-statistics story computed INCREMENTALLY at
    * write time: `TBLPROPERTIES ('ndvFor'='k')` makes every writer carry
    * a per-(file, column) K-minimum-values distinct sketch in the
    * manifest (`ndv:` token, exact merge = union of minima), and the
    * scan surfaces the merged estimate through DSv2
    * `Statistics.columnStats()` (SPARK-41378). With CBO on, Catalyst's
    * FilterEstimation turns `d.k = ?` into rows/NDV selectivity, the
    * filtered dimension shrinks below the broadcast threshold in the
    * INITIAL physical plan, and the join build side flips to broadcast
    * BEFORE any AQE runtime measurement — `cbo_bhj_planned` gates
    * exactly that (on a session CLONE so the conf never leaks into the
    * concurrent verify sweep), `statless_smj` gates the no-sketch twin
    * staying sort-merge under the identical confs (the threshold is set
    * relative to the dim's actual bytes, so the contrast holds at every
    * scale factor), and `ndv_estimate_ok` gates the KMV estimate within
    * ±20% of the exact distinct count. At 100 TB this is the statistic
    * that decides broadcast-vs-shuffle for every dimension join without
    * a separate ANALYZE scan over the table.
    */
  def dsv2NdvStats(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_ndv_orders")
    spark.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.ndv_fact AS
        |SELECT CAST(o_orderkey % 50 AS BIGINT) AS k,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |FROM graft_ndv_orders""".stripMargin)
    spark.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.ndv_dim
        |TBLPROPERTIES ('ndvFor'='k') AS
        |SELECT o_orderkey AS k, o_custkey AS ck FROM graft_ndv_orders""".stripMargin)
    spark.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.ndv_dim0 AS
        |SELECT o_orderkey AS k, o_custkey AS ck FROM graft_ndv_orders""".stripMargin)
    val cat = MemCatalog
    val dimDir = MemCatalog.tableDir(spark, "graftmem.tmp.ndv_dim")
    val entries = cat.liveEntries(dimDir)
    // the estimator itself, gated against the exact count (o_orderkey is
    // unique, so exact NDV == the manifest's exact row count)
    val exact = entries.flatMap(_.stats.get("#rows")).map(_._1).sum
    val est = graft.sources.v2.MemNdv.estimate(
      graft.sources.v2.MemNdv.merge(entries.map(_.ndvs("k"))))
    val ndvOk = entries.forall(_.ndvs.contains("k")) &&
      math.abs(est - exact).toDouble <= 0.2 * exact
    // plan-shape gates on a session CLONE: cbo + a threshold pinned to
    // HALF the dim's real bytes, so the unfiltered dim can never
    // broadcast by size alone at any scale factor — only the NDV-shrunk
    // estimate can take it under
    val dimBytes = entries.map(e => java.nio.file.Files.size(dimDir.resolve(e.name))).sum
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.cbo.enabled", "true")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", math.max(1024L, dimBytes / 2).toString)
    def initialPlan(dim: String): String = s2.sql(
      s"""SELECT f.k, f.cents, d.ck FROM graftmem.tmp.ndv_fact f
         |JOIN graftmem.tmp.$dim d ON f.k = d.k WHERE d.k = 7""".stripMargin)
      .queryExecution.sparkPlan.toString
    val bhjPlanned = initialPlan("ndv_dim").contains("BroadcastHashJoin")
    val statlessPlan = initialPlan("ndv_dim0")
    val statlessSmj = !statlessPlan.contains("BroadcastHashJoin") &&
      statlessPlan.contains("SortMergeJoin")
    spark.sql(
      """SELECT f.k, f.cents, d.ck FROM graftmem.tmp.ndv_fact f
        |JOIN graftmem.tmp.ndv_dim d ON f.k = d.k WHERE d.k = 7""".stripMargin)
      .withColumn("ndv_estimate_ok", lit(ndvOk))
      .withColumn("cbo_bhj_planned", lit(bhjPlanned))
      .withColumn("statless_smj", lit(statlessSmj))
  }

  /** COMMIT-LOG RETENTION EXPIRY — the reclamation story APPEND-ONLY
    * tables (changelog landings, raw event feeds) otherwise lack: they
    * never retire files, so vacuum alone can reclaim nothing and the
    * table grows forever. `MemCatalog.expireBefore(dir, v)` retires
    * every live file whose data sequence (`#seq` — the version that
    * committed it) predates `v`, in ONE metadata-only commit — the
    * Kafka-retention shape applied to the table's commit log. Gates:
    * `expire_metadata_only` (the expiry commit reads and writes ZERO
    * data files — the post-expiry live set is a strict subset of the
    * prior one by name), `time_travel_intact` (the pre-expiry snapshot
    * still reads complete — expiry retires, never deletes), and
    * `vacuum_reclaims` (after vacuum drops the old manifests the
    * expired files become unreferenced and are physically reclaimed —
    * the two-step retention contract Delta/Iceberg users run as DELETE
    * + VACUUM, here without touching a data file). At 100 TB this
    * bounds every changelog landing at O(retention window), with the
    * expiry itself O(live files) manifest work regardless of data size.
    */
  def dsv2RetentionExpire(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_ret_orders")
    spark.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.ret_t AS
        |SELECT CAST(o_orderkey % 37 AS BIGINT) AS k,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS v
        |FROM graft_ret_orders""".stripMargin) // v0 (seq 0)
    spark.sql("INSERT INTO graftmem.tmp.ret_t " +
      "SELECT id, id * 2 FROM range(100, 120)") // v1 (seq 1)
    spark.sql("INSERT INTO graftmem.tmp.ret_t " +
      "SELECT id, id * 3 FROM range(200, 230)") // v2 (seq 2)
    val cat = MemCatalog
    val tableDir = MemCatalog.tableDir(spark, "graftmem.tmp.ret_t")
    val preNames = cat.liveEntries(tableDir).map(_.name).toSet
    val preCount = spark.table("graftmem.tmp.ret_t").count()
    cat.expireBefore(tableDir, 2L) // v3: only the v2 wave survives
    val postNames = cat.liveEntries(tableDir).map(_.name).toSet
    val expireMetadataOnly = postNames.subsetOf(preNames) &&
      postNames.size < preNames.size
    // retirement is not deletion: the pre-expiry snapshot reads complete
    val timeTravelIntact = spark.sql(
      "SELECT count(*) FROM graftmem.tmp.ret_t VERSION AS OF 2")
      .collect()(0).getLong(0) == preCount
    // vacuum drops the pre-expiry manifests; the retired files become
    // unreferenced and are physically reclaimed
    val preFiles = cat.partFiles(tableDir).size
    cat.vacuum(tableDir, keepVersions = 1)
    val vacuumReclaims = cat.partFiles(tableDir).size < preFiles
    spark.sql("SELECT k, v FROM graftmem.tmp.ret_t")
      .withColumn("expire_metadata_only", lit(expireMetadataOnly))
      .withColumn("time_travel_intact", lit(timeTravelIntact))
      .withColumn("vacuum_reclaims", lit(vacuumReclaims))
  }

  /** HISTOGRAM-DRIVEN JOIN CARDINALITY — the SECOND CBO surface the
    * write-time histograms feed, beyond `dsv2_hist_cbo`'s filter
    * selectivity: Catalyst's `JoinEstimation.computeByHistogram`
    * estimates an equi-join's output by PER-BIN OVERLAP when both join
    * keys carry histograms. The fixture is the case NDV arithmetic gets
    * catastrophically wrong: two tables whose key distributions are
    * NEARLY DISJOINT (each side 95% hot keys the other side never has,
    * a 5% shared band of one-to-one keys). NDV estimation —
    * rowsA·rowsB / max(ndv) — assumes the value sets coincide and
    * overestimates the join output ~400× (it can't see disjointness);
    * the per-bin overlap sees that only the shared band intersects and
    * lands within a decade of the truth. The decision that hangs on it:
    * the (a ⋈ b) intermediate feeds a second join against a fact table,
    * and with histograms the INITIAL plan BROADCASTS the intermediate
    * (`hist_join_bhj`) while the ndv-only control twins keep both joins
    * sort-merge (`ndv_join_smj`); `join_est_band` gates the estimate
    * quantitatively (the histogram never overestimates the nearly-empty
    * join by >10× and lands ≥100× closer than the ndv estimate, which
    * must itself be ≥20× over — all read on a session clone with the
    * clone THREAD-ACTIVE, because `LogicalPlan.stats` reads the active
    * session's conf lazily). At 100 TB this is join ORDERING and strategy for
    * star-schema intermediates: mis-estimating a nearly-empty join as
    * millions of rows materializes a shuffle the cluster never needed.
    */
  def dsv2HistJoinCbo(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_hj_orders")
    // side A: hot keys 0..9 (95%), shared band 1e6+orderkey (5%, ~unique)
    spark.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.hj_a
        |TBLPROPERTIES ('histFor'='k', 'ndvFor'='k') AS
        |SELECT CAST(o_orderkey % 50 AS BIGINT) AS ck,
        |       CAST(CASE WHEN o_orderkey % 20 = 0 THEN 1000000 + o_orderkey
        |            ELSE o_orderkey % 10 END AS BIGINT) AS k
        |FROM graft_hj_orders""".stripMargin)
    // side B: hot keys 2e6..2e6+9 — DISJOINT from A's hot band — and the
    // same shared 5% band
    spark.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.hj_b
        |TBLPROPERTIES ('histFor'='k', 'ndvFor'='k') AS
        |SELECT CAST(CASE WHEN o_orderkey % 20 = 0 THEN 1000000 + o_orderkey
        |            ELSE 2000000 + (o_orderkey % 10) END AS BIGINT) AS k,
        |       CAST(o_orderkey % 7 AS BIGINT) AS vb
        |FROM graft_hj_orders""".stripMargin)
    // ndv-only control twins: identical data, identical NDV + min/max —
    // the histogram is the isolated delta
    spark.sql("CREATE OR REPLACE TABLE graftmem.tmp.hj_a0 " +
      "TBLPROPERTIES ('ndvFor'='k') AS SELECT ck, k FROM graftmem.tmp.hj_a")
    spark.sql("CREATE OR REPLACE TABLE graftmem.tmp.hj_b0 " +
      "TBLPROPERTIES ('ndvFor'='k') AS SELECT k, vb FROM graftmem.tmp.hj_b")
    spark.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.hj_c AS
        |SELECT CAST(o_orderkey % 50 AS BIGINT) AS ck,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |FROM graft_hj_orders""".stripMargin)
    val aDir = MemCatalog.tableDir(spark, "graftmem.tmp.hj_a")
    val aBytes = MemCatalog.liveEntries(aDir)
      .map(e => java.nio.file.Files.size(aDir.resolve(e.name))).sum
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.cbo.enabled", "true")
    // threshold = HALF of one input: neither base table can broadcast,
    // only a correctly-estimated (small) join intermediate can
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", math.max(1024L, aBytes / 2).toString)
    def abSql(a: String, b: String) =
      s"SELECT a.ck, b.vb FROM graftmem.tmp.$a a JOIN graftmem.tmp.$b b ON a.k = b.k"
    def fullSql(a: String, b: String) =
      s"""SELECT c.ck, count(*) AS n, sum(ab.vb) AS svb, sum(c.cents) AS cents
         |FROM graftmem.tmp.hj_c c JOIN (${abSql(a, b)}) ab ON c.ck = ab.ck
         |GROUP BY c.ck""".stripMargin
    val histPlan = s2.sql(fullSql("hj_a", "hj_b")).queryExecution.sparkPlan.toString
    val ctrlPlan = s2.sql(fullSql("hj_a0", "hj_b0")).queryExecution.sparkPlan.toString
    val histJoinBhj = histPlan.contains("BroadcastHashJoin")
    val ndvJoinSmj = !ctrlPlan.contains("BroadcastHashJoin") &&
      ctrlPlan.contains("SortMergeJoin")
    // the estimate itself, gated quantitatively against the true count.
    // PITFALL: `LogicalPlan.stats` is lazy and reads the THREAD-ACTIVE
    // session's conf at access time — reading it from the verify thread
    // (cbo off) silently computes the size-only visitor's stats
    // (rowCount absent) instead of the CBO estimation the planner itself
    // used. Pin s2 active around the access.
    val trueAb = spark.sql(abSql("hj_a", "hj_b")).count()
    def estRows(a: String, b: String): Option[BigInt] = {
      val prev = SparkSession.getActiveSession
      SparkSession.setActiveSession(s2)
      try s2.sql(abSql(a, b)).queryExecution.optimizedPlan.stats.rowCount
      finally prev.foreach(SparkSession.setActiveSession)
    }
    val histEst = estRows("hj_a", "hj_b")
    val ndvEst = estRows("hj_a0", "hj_b0")
    // the scale-robust claim: the histogram NEVER overestimates the
    // nearly-empty join by more than 10× (it sees the disjointness) and
    // is ≥100× closer than the ndv estimate (whose blindness to value
    // overlap is the failure mode on trial). Absolute accuracy below
    // bucket resolution isn't claimed: at tiny SFs the shared band's
    // extent is a sliver of one log-bucket and the estimate is
    // granularity-bound (measured 2 vs 75 at sf0.001) — still the
    // correct SIDE of the broadcast decision by two orders of magnitude.
    val joinEstBand =
      histEst.exists(e => e <= BigInt(10) * trueAb) &&
      (for (h <- histEst; n <- ndvEst) yield h * 100 <= n).getOrElse(false) &&
      ndvEst.exists(e => e >= BigInt(20) * trueAb)
    spark.sql(fullSql("hj_a", "hj_b"))
      .withColumn("hist_join_bhj", lit(histJoinBhj))
      .withColumn("ndv_join_smj", lit(ndvJoinSmj))
      .withColumn("join_est_band", lit(joinEstBand))
  }

  /** STREAMING CDC APPLY — the Flink→Iceberg upsert-sink model, closing
    * the gap between the two CDC surfaces the engine already has: the
    * `foreachBatch MERGE` pipeline (reads the target to pair rows) and
    * the batch equality delete (write-cheap, but driver-issued). Here a
    * CHANGELOG STREAM (`op` = I/U/D) lands in a changelog table
    * (`graft.applyCdcTo` property) and every epoch simultaneously
    * APPLIES to the target: deletes/upserts become ONE equality-delete
    * sidecar per epoch plus the epoch's insert files, committed together
    * and replay-idempotently ([[graft.sources.v2.MemCdcStreamingWrite]]).
    * The write side NEVER reads a base file — O(changes) per epoch at
    * any table size, the property a streaming MERGE can't have. Three
    * deterministic epochs exercise the sequence scoping: e1 inserts new
    * keys; e2 upserts 3 keys (one of them e1-born) and deletes 3 keys
    * (two base-born, one e1-born); e3 REINSERTS a key e2 deleted and
    * upserts another — both survive because an equality delete masks
    * only strictly-older data. Gates: `cdc_write_cheap` (every
    * pre-stream live entry survives the whole stream untouched — same
    * (name, dv) set, zero rewrites), `eqdel_per_epoch` (exactly the two
    * delete-carrying epochs published eq-delete lines),
    * `landing_complete` (the changelog table holds every raw change
    * row — the audit trail is intact), `eq_gcd` (OPTIMIZE materializes
    * the masks and GCs the delete lines), and the final read scans the
    * MATERIALIZED files so the oracle hash pins rewrite-time apply ==
    * read-time merge == the declarative replay. Ref:
    * reference/greeter_server.cc overwrites whole outputs (file:116) —
    * this is the row-level streaming change model its design lacks.
    */
  def dsv2StreamCdcUpsert(spark: SparkSession, dir: String): DataFrame = {
    val ss = ordersSession(spark, dir, "graft_cdcup_orders")
    ss.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.cdcup_t
        |TBLPROPERTIES ('graft.dml'='mor', 'graft.eqDeleteKeys'='k') AS
        |SELECT CAST(o_orderkey % 41 AS BIGINT) AS k, count(*) AS n_orders,
        |       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |FROM graft_cdcup_orders GROUP BY 1""".stripMargin)
    ss.sql("DROP TABLE IF EXISTS graftmem.tmp.cdcup_log")
    ss.sql(
      """CREATE TABLE graftmem.tmp.cdcup_log
        |(op STRING, k BIGINT, n_orders BIGINT, cents BIGINT)
        |TBLPROPERTIES ('graft.applyCdcTo'='tmp.cdcup_t', 'graft.cdcOp'='op')""".stripMargin)
    val cat = MemCatalog
    val targetDir = MemCatalog.tableDir(spark, "graftmem.tmp.cdcup_t")
    val preLive = cat.liveEntries(targetDir).map(e => (e.name, e.dv)).toSet
    // three epoch files, one micro-batch each (mtime order is the
    // file-source schedule under maxFilesPerTrigger=1)
    val t0 = System.currentTimeMillis() - 60000
    BoundedDrain.scope { s =>
      def epochFile(name: String, sql: String, mtime: Long): Unit =
        BoundedDrain.stageFile(s.sourceDir, ss.sql(sql), name, mtime)
      epochFile("e1.parquet",
        """SELECT 'I' AS op, CAST(id AS BIGINT) AS k, CAST(1 AS BIGINT) AS n_orders,
          |CAST(id * 100 AS BIGINT) AS cents FROM range(600, 610)""".stripMargin, t0)
      epochFile("e2.parquet",
        """SELECT 'U' AS op, CAST(k AS BIGINT) AS k, CAST(77 AS BIGINT) AS n_orders,
          |       CAST(k * 1000 AS BIGINT) AS cents FROM VALUES (3), (14), (600) AS u(k)
          |UNION ALL
          |SELECT 'D', CAST(k AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
          |FROM VALUES (2), (9), (601) AS d(k)""".stripMargin, t0 + 10000)
      epochFile("e3.parquet",
        """SELECT 'I' AS op, CAST(2 AS BIGINT) AS k, CAST(5 AS BIGINT) AS n_orders,
          |       CAST(555 AS BIGINT) AS cents
          |UNION ALL SELECT 'U', CAST(9 AS BIGINT), CAST(6 AS BIGINT),
          |       CAST(666 AS BIGINT)""".stripMargin, t0 + 20000)
      s.drain(ss.readStream
        .schema("op STRING, k BIGINT, n_orders BIGINT, cents BIGINT")
        .option("maxFilesPerTrigger", "1").parquet(s.sourceDir.toString),
        Sink.ToTable("graftmem.tmp.cdcup_log"))
    }
    // the write-cheap contract: three epochs of deletes/upserts touched
    // ZERO pre-existing files — appends and manifest lines only
    val postLive = cat.liveEntries(targetDir).map(e => (e.name, e.dv)).toSet
    val cdcWriteCheap = preLive.subsetOf(postLive)
    val eqdelPerEpoch = cat.eqDeletes(targetDir).size == 2 // e2 and e3 carry deletes
    val landingComplete =
      ss.table("graftmem.tmp.cdcup_log").count() == 18 // 10 + 6 + 2 raw changes
    cat.compact(targetDir) // materialize the masks; GC applied deletes
    val eqGcd = cat.eqDeletes(targetDir).isEmpty
    ss.sql("SELECT k, n_orders, cents FROM graftmem.tmp.cdcup_t")
      .withColumn("cdc_write_cheap", lit(cdcWriteCheap))
      .withColumn("eqdel_per_epoch", lit(eqdelPerEpoch))
      .withColumn("landing_complete", lit(landingComplete))
      .withColumn("eq_gcd", lit(eqGcd))
  }

  /** STREAMING CDC APPLY INTO AN AUDIT BRANCH — [[dsv2StreamCdcUpsert]]'s
    * pipeline pointed at an UNPUBLISHED branch of the target
    * (`graft.applyCdcBranch`): every epoch's insert files and
    * equality-delete sidecar commit on the BRANCH manifest chain
    * (branch-relative sequences, branch-local `queryId -> epoch`
    * replay watermark), main never sees mid-audit state, and
    * [[MemCatalog.fastForward]] publishes the audited
    * result in ONE commit — converting the branch-born eq-deletes to
    * positional deletion vectors so main's sequencing invariant holds
    * and zero data files are rewritten. This is Iceberg's
    * `spark.wap.branch` applied to CDC ingestion: the pipeline runs at
    * full speed against the branch, a validation query audits the
    * would-be state, and publish is atomic + conflict-checked (main
    * advancing mid-audit fails the fast-forward loudly). Gates:
    * `main_isolated_mid_audit` (post-stream, main's version and rows
    * are untouched while the branch already reads the merged truth),
    * `branch_watermarked` (the replay watermark rides the BRANCH
    * manifest — driver recovery replays no-op against the branch
    * chain), `publish_converts_eqdels` (post-publish: no #eqdel lines
    * on main, every pre-CDC file still live by name, rows exact). At
    * 100 TB: bad upstream CDC (the classic schema-drift / replay-storm
    * incident) is quarantined on the branch and dropped without ever
    * having been readable from main.
    */
  def dsv2CdcBranchApply(spark: SparkSession, dir: String): DataFrame = {
    val ss = ordersSession(spark, dir, "graft_cdcbr_orders")
    ss.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.cdcbr_t
        |TBLPROPERTIES ('graft.dml'='mor', 'graft.eqDeleteKeys'='k') AS
        |SELECT CAST(o_orderkey % 37 AS BIGINT) AS k, count(*) AS n_orders,
        |       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |FROM graft_cdcbr_orders GROUP BY 1""".stripMargin) // v0
    val cat = MemCatalog
    val targetDir = MemCatalog.tableDir(spark, "graftmem.tmp.cdcbr_t")
    cat.dropBranch(targetDir, "audit")
    cat.createBranch(targetDir, "audit")
    ss.sql("DROP TABLE IF EXISTS graftmem.tmp.cdcbr_log")
    ss.sql(
      """CREATE TABLE graftmem.tmp.cdcbr_log
        |(op STRING, k BIGINT, n_orders BIGINT, cents BIGINT)
        |TBLPROPERTIES ('graft.applyCdcTo'='tmp.cdcbr_t', 'graft.cdcOp'='op',
        |               'graft.applyCdcBranch'='audit')""".stripMargin)
    val preVersion = cat.currentVersion(targetDir)
    val preRows = ss.sql("SELECT k, n_orders, cents FROM graftmem.tmp.cdcbr_t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val preNames = cat.liveEntries(targetDir).map(_.name).toSet
    val t0 = System.currentTimeMillis() - 60000
    BoundedDrain.scope { s =>
      def epochFile(name: String, sql: String, mtime: Long): Unit =
        BoundedDrain.stageFile(s.sourceDir, ss.sql(sql), name, mtime)
      epochFile("e1.parquet",
        """SELECT 'I' AS op, CAST(id AS BIGINT) AS k, CAST(1 AS BIGINT) AS n_orders,
          |CAST(id * 100 AS BIGINT) AS cents FROM range(500, 505)""".stripMargin, t0)
      epochFile("e2.parquet",
        """SELECT 'U' AS op, CAST(k AS BIGINT) AS k, CAST(77 AS BIGINT) AS n_orders,
          |       CAST(k * 1000 AS BIGINT) AS cents FROM VALUES (3), (500) AS u(k)
          |UNION ALL
          |SELECT 'D', CAST(k AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
          |FROM VALUES (2), (501) AS d(k)""".stripMargin, t0 + 10000)
      s.drain(ss.readStream
        .schema("op STRING, k BIGINT, n_orders BIGINT, cents BIGINT")
        .option("maxFilesPerTrigger", "1").parquet(s.sourceDir.toString),
        Sink.ToTable("graftmem.tmp.cdcbr_log"))
    }
    // the merged truth the branch must already read and main must not
    val expected = preRows.filterNot(r => r._1 == 2L || r._1 == 3L) ++
      Set((3L, 77L, 3000L), (500L, 77L, 500000L),
        (502L, 1L, 50200L), (503L, 1L, 50300L), (504L, 1L, 50400L))
    def rowsOf(table: String): Set[(Long, Long, Long)] =
      ss.sql(s"SELECT k, n_orders, cents FROM $table")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val mainIsolated = cat.currentVersion(targetDir) == preVersion &&
      rowsOf("graftmem.tmp.cdcbr_t") == preRows &&
      rowsOf("graftmem.tmp.cdcbr_t.branch_audit") == expected
    // both epochs' replay watermarks ride the BRANCH manifest chain
    val bm = cat.branchManifest(targetDir, "audit")
    val branchWatermarked = bm.txns.values.toSeq == Seq(1L) &&
      bm.eqDels.nonEmpty
    cat.fastForward(targetDir, "audit")
    val publishConverts = cat.eqDeletes(targetDir).isEmpty &&
      preNames.subsetOf(cat.liveEntries(targetDir).map(_.name).toSet) &&
      rowsOf("graftmem.tmp.cdcbr_t") == expected
    cat.dropBranch(targetDir, "audit")
    ss.sql("SELECT k, n_orders, cents FROM graftmem.tmp.cdcbr_t")
      .withColumn("main_isolated_mid_audit", lit(mainIsolated))
      .withColumn("branch_watermarked", lit(branchWatermarked))
      .withColumn("publish_converts_eqdels", lit(publishConverts))
  }

  /** EQUI-HEIGHT VALUE HISTOGRAMS for the cost-based optimizer — the
    * statistic NDV can't carry: WHERE the rows sit inside [min, max].
    * On a SKEWED column (here 95% of values in [0, 8), a 5% tail spread
    * over [1e6, ~4e6)) min/max-only range estimation interpolates
    * uniformly and reads a tail predicate as ~44% of the table — the
    * planner keeps a shuffle join it should broadcast. `TBLPROPERTIES
    * ('histFor'='v')` makes every writer count values into a fixed
    * deterministic log-bucketing carried as a per-file `hist:` manifest
    * token (counts merge EXACTLY across files and commits — incremental
    * ANALYZE at write time); the scan collapses the merged counts into
    * the equi-height histogram DSv2 `ColumnStatistics.histogram()`
    * surfaces (SPARK-41378) and Catalyst's FilterEstimation reads for
    * range selectivity. Gates: `hist_mass_exact` (merged counts == the
    * table's exact non-null count, across 4 clustered files + a second
    * commit — the exact-merge property), `hist_est_band` (the
    * histogram's tail-range row estimate within ±2/3 of the true count;
    * uniform interpolation is ~9× off, so the band separates the
    * designs), `cbo_bhj_planned` (with CBO on and the threshold pinned
    * to a FIFTH of the dim's real bytes, the range-filtered dim
    * broadcasts in the INITIAL plan), and `ndvonly_smj` (the control
    * twin with IDENTICAL NDV + min/max stats but no histogram stays
    * sort-merge under the same confs — the histogram is the isolated
    * delta). Plan gates run on a session CLONE so the cbo/threshold
    * confs never leak into the concurrent verify sweep. At 100 TB this
    * is the statistic that decides broadcast-vs-shuffle for every
    * range-restricted dimension (date windows, price bands) without an
    * ANALYZE scan.
    */
  def dsv2HistCbo(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_hist_orders")
    spark.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.hist_fact AS
        |SELECT CAST(o_orderkey % 50 AS BIGINT) AS k,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |FROM graft_hist_orders""".stripMargin)
    // clusterBy + clusterParts fan the dim over 4 files, and the second
    // INSERT adds a 5th from another commit — the merge is real, not a
    // single-token read-back
    // the skew is SCALE-INVARIANT by design: the dense 95% sits in
    // [0, 8), the 5% tail spreads over the FIXED range [1e6, ~4e6)
    // regardless of orderkey magnitude — so uniform min/max
    // interpolation reads `v >= 1e6` as ~75% of the table at EVERY
    // scale factor, and only the histogram can see the truth
    spark.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.hist_dim
        |TBLPROPERTIES ('histFor'='v', 'ndvFor'='v', 'clusterBy'='k',
        |               'clusterParts'='4') AS
        |SELECT CAST(o_orderkey % 50 AS BIGINT) AS k,
        |       CAST(CASE WHEN o_orderkey % 20 != 0 THEN o_orderkey % 8
        |            ELSE 1000000 + (o_orderkey % 997) * 3000 END AS BIGINT) AS v
        |FROM graft_hist_orders""".stripMargin)
    spark.sql("INSERT INTO graftmem.tmp.hist_dim " +
      "SELECT id % 50, 1000000 + (id % 997) * 3000 FROM range(200, 220)")
    spark.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.hist_dim1
        |TBLPROPERTIES ('ndvFor'='v') AS
        |SELECT k, v FROM graftmem.tmp.hist_dim""".stripMargin)
    val cat = MemCatalog
    val dimDir = MemCatalog.tableDir(spark, "graftmem.tmp.hist_dim")
    val entries = cat.liveEntries(dimDir)
    val merged = graft.sources.v2.MemHist.merge(entries.map(_.hists("v")))
    val trueRows = spark.table("graftmem.tmp.hist_dim")
      .where("v IS NOT NULL").count()
    val massExact = entries.size >= 5 &&
      entries.forall(_.hists.contains("v")) && merged.values.sum == trueRows
    // the histogram's own estimate for the tail range, vs the exact count
    val (height, bins) = graft.sources.v2.MemHist.equiHeight(merged)
    val estTail = height * bins.count(_._2 > 1000000.0)
    val trueTail = spark.table("graftmem.tmp.hist_dim").where("v >= 1000000").count()
    val estBand = math.abs(estTail - trueTail) <= (2.0 / 3.0) * trueTail
    // plan gates on a session clone: threshold pinned to a QUARTER of the
    // dim's real bytes — uniform interpolation (~44% of the table) can
    // never take the filtered dim under it, only the histogram's ~5% can
    val dimBytes = entries.map(e => java.nio.file.Files.size(dimDir.resolve(e.name))).sum
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.cbo.enabled", "true")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", math.max(1024L, dimBytes / 5).toString)
    def initialPlan(dim: String): String = s2.sql(
      s"""SELECT f.k, count(*) AS n FROM graftmem.tmp.hist_fact f
         |JOIN graftmem.tmp.$dim d ON f.k = d.k
         |WHERE d.v >= 1000000 GROUP BY f.k""".stripMargin)
      .queryExecution.sparkPlan.toString
    val bhjPlanned = initialPlan("hist_dim").contains("BroadcastHashJoin")
    val ctrlPlan = initialPlan("hist_dim1")
    val ndvonlySmj = !ctrlPlan.contains("BroadcastHashJoin") &&
      ctrlPlan.contains("SortMergeJoin")
    spark.sql(
      """SELECT f.k, count(*) AS n, sum(f.cents) AS cents, sum(d.v) AS sv
        |FROM graftmem.tmp.hist_fact f
        |JOIN graftmem.tmp.hist_dim d ON f.k = d.k
        |WHERE d.v >= 1000000 GROUP BY f.k""".stripMargin)
      .withColumn("hist_mass_exact", lit(massExact))
      .withColumn("hist_est_band", lit(estBand))
      .withColumn("cbo_bhj_planned", lit(bhjPlanned))
      .withColumn("ndvonly_smj", lit(ndvonlySmj))
  }

  /** WRITE-AUDIT-PUBLISH on a NAMED BRANCH — Iceberg refs, mutable
    * flavor, completing the ref story next to tags (immutable) and
    * rollback (the undo verb): `MemCatalog.createBranch` forks main at a
    * recorded base version; a real Spark `writeTo(...).option("branch",
    * 'audit').append()` lands its part files on the BRANCH manifest
    * chain (main readers never see them — `wap_isolated` gates that main
    * is still at its base version with its base row count); the audit
    * reads the branch head through `read.option("branch", ...)` (a
    * branch-pinned scan, `audit_on_branch` gates that it sees base +
    * staged rows); `fastForward` then publishes the audited head as ONE
    * create-new main commit at base+1 — and the concurrency probe gates
    * the WHOLE point of the pattern: a second branch whose audit window
    * saw main advance FAILS its fast-forward deterministically
    * (`ff_conflict_detected`, no retry-compose: publishing would drop
    * the concurrent commit the branch never audited), after which the
    * dropped branch's staged files are vacuum-reclaimed
    * (`branch_reclaimed`). At 100 TB a branch costs one ref file plus
    * the staged data — audit isolation without copying the table.
    */
  def dsv2BranchWap(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    orders.createOrReplaceTempView("graft_wap_orders")
    spark.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.wap_t AS
        |SELECT CAST(o_orderkey % 33 AS BIGINT) AS k,
        |       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |FROM graft_wap_orders GROUP BY 1""".stripMargin) // v0
    val tableDir = MemCatalog.tableDir(spark, "graftmem.tmp.wap_t")
    val cat = MemCatalog
    cat.createBranch(tableDir, "audit") // base = v0
    // WRITE: a real DataFrameWriterV2 append routed to the branch
    spark.sql("SELECT id AS k, id * 7 AS cents FROM range(700, 710)")
      .writeTo("graftmem.tmp.wap_t").option("branch", "audit").append()
    // main is untouched: still at v0, no extra live entries
    val wapIsolated = cat.currentVersion(tableDir) == 0 &&
      cat.liveEntries(tableDir).size < cat.branchManifest(tableDir, "audit").files.size
    // AUDIT: the branch-pinned read sees base + staged rows
    val auditOnBranch = spark.read.option("branch", "audit")
      .table("graftmem.tmp.wap_t").count() ==
      spark.table("graftmem.tmp.wap_t").count() + 10
    // PUBLISH: fast-forward main to the audited head (v1)
    cat.fastForward(tableDir, "audit")
    cat.dropBranch(tableDir, "audit")
    // concurrency probe: branch, stage a bad batch, let MAIN advance,
    // then the fast-forward must fail deterministically
    cat.createBranch(tableDir, "audit2") // base = v1
    spark.sql("SELECT id AS k, CAST(-1 AS BIGINT) AS cents FROM range(900, 905)")
      .writeTo("graftmem.tmp.wap_t").option("branch", "audit2").append()
    spark.sql("INSERT INTO graftmem.tmp.wap_t VALUES (800, 808)") // main -> v2
    val ffConflict = scala.util.Try(cat.fastForward(tableDir, "audit2")).failed.toOption
      .exists(_.isInstanceOf[cat.CommitConflictException])
    // the rejected branch drops; vacuum reclaims its staged files
    val preFiles = cat.partFiles(tableDir).size
    cat.dropBranch(tableDir, "audit2")
    cat.vacuum(tableDir, keepVersions = 100) // retention keeps every main snapshot
    val branchReclaimed = cat.partFiles(tableDir).size < preFiles
    spark.sql("SELECT k, cents FROM graftmem.tmp.wap_t")
      .withColumn("wap_isolated", lit(wapIsolated))
      .withColumn("audit_on_branch", lit(auditOnBranch))
      .withColumn("ff_conflict_detected", lit(ffConflict))
      .withColumn("branch_reclaimed", lit(branchReclaimed))
  }

  /** BRANCH-STAGED ROW-LEVEL DML — the missing half of write-audit-
    * publish next to `dsv2_branch_wap`'s append staging: real SQL
    * DELETE / UPDATE / INSERT statements addressed at the Iceberg
    * branch identifier (`<table>.branch_<name>`) stage MERGE-ON-READ
    * changes on the BRANCH manifest chain — deletion vectors compose
    * onto branch entries, inserts land as branch files — while main
    * readers see nothing ([[graft.sources.v2.MemTable]] branch handle:
    * reads pin the branch head, `canDeleteWhere` refuses so every
    * delete routes through the branch-committing MoR op). `fastForward`
    * then publishes the audited head in one commit, CARRYING the
    * branch-composed vectors to main. Gates: `staged_isolated` (after
    * three DML statements on the branch, main's row count AND content
    * checksum are byte-identical to pre-stage), `branch_dvs_staged`
    * (the branch head holds dv-carrying entries while main holds none —
    * the staging really is merge-on-read), `audit_saw_changes` (the
    * branch-pinned read sees exactly the post-DML state), and the final
    * main read after publish + OPTIMIZE hashes against the declarative
    * replay — publish-then-materialize equals the oracle. At 100 TB
    * this is how a risky backfill UPDATE ships: staged as O(changes)
    * vectors on a branch, audited in place, published atomically,
    * materialized by maintenance.
    */
  def dsv2BranchMor(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_bmor_orders")
    spark.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.bmor_t
        |TBLPROPERTIES ('graft.dml'='mor') AS
        |SELECT CAST(o_orderkey % 29 AS BIGINT) AS k,
        |       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |FROM graft_bmor_orders GROUP BY 1""".stripMargin) // v0
    val cat = MemCatalog
    val tableDir = MemCatalog.tableDir(spark, "graftmem.tmp.bmor_t")
    def mainChecksum(): Long = spark.sql(
      """SELECT sum(CAST(conv(substring(md5(concat(k, '|', cents)), 1, 8), 16, 10) AS BIGINT))
        |FROM graftmem.tmp.bmor_t""".stripMargin).collect()(0).getLong(0)
    val preSum = mainChecksum()
    cat.createBranch(tableDir, "fix")
    // three REAL SQL DML statements staged on the branch identifier
    spark.sql("DELETE FROM graftmem.tmp.bmor_t.branch_fix WHERE k % 5 = 1")
    spark.sql("UPDATE graftmem.tmp.bmor_t.branch_fix SET cents = cents + 7 WHERE k % 5 = 2")
    spark.sql("INSERT INTO graftmem.tmp.bmor_t.branch_fix VALUES " +
      "(CAST(900 AS BIGINT), CAST(111 AS BIGINT))")
    val stagedIsolated = mainChecksum() == preSum &&
      cat.currentVersion(tableDir) == 0
    val branchDvsStaged =
      cat.branchManifest(tableDir, "fix").files.exists(_.dv.nonEmpty) &&
        cat.liveEntries(tableDir).forall(_.dv.isEmpty)
    // the audit: the branch-pinned read must see the post-DML state
    val auditSawChanges = spark.sql(
      """SELECT count(*) FROM graftmem.tmp.bmor_t.branch_fix
        |WHERE k % 5 = 1 AND k < 900""".stripMargin).collect()(0).getLong(0) == 0 &&
      spark.table("graftmem.tmp.bmor_t.branch_fix").count() ==
        spark.table("graftmem.tmp.bmor_t").count() -
          spark.sql("SELECT count(*) FROM graftmem.tmp.bmor_t WHERE k % 5 = 1")
            .collect()(0).getLong(0) + 1
    // PUBLISH, then let maintenance materialize the carried vectors —
    // the final hash gates publish-then-materialize == declarative replay
    cat.fastForward(tableDir, "fix")
    cat.dropBranch(tableDir, "fix")
    MemCatalog.compact(tableDir)
    spark.sql("SELECT k, cents FROM graftmem.tmp.bmor_t")
      .withColumn("staged_isolated", lit(stagedIsolated))
      .withColumn("branch_dvs_staged", lit(branchDvsStaged))
      .withColumn("audit_saw_changes", lit(auditSawChanges))
  }

  /** BRANCH EQUALITY DELETES — the keyed-delete shape
    * ([[dsv2MorEqDelete]]) staged on a BRANCH ([[dsv2BranchMor]]): a
    * `DELETE WHERE k IN (…)` on the `<table>.branch_<name>` handle
    * commits ONE key-tuple sidecar + a `#eqdel` line onto the branch
    * chain — zero base files read or written (positional branch DML
    * would pay a scan to mint row ids; CDC ingestion staging into a
    * branch audit is exactly where that cost hurts). Branch audit reads
    * mask strictly-older files only, so a key REINSERTED on the branch
    * after the delete survives it — the CDC-upsert ordering, now
    * branch-relative. At PUBLISH, fast-forward CONVERTS branch-born
    * equality deletes into positional deletion vectors on exactly the
    * files they applied to at the branch head: carried as #eqdel lines,
    * their branch-relative sequences (base+2, base+3, …) would outrank
    * files of future main commits at those versions and silently mask
    * them. One-time O(affected files) read at publish, zero data files
    * rewritten, and main's sequencing invariant (#eqdel seq ==
    * committing version) stays untouched — Iceberg's
    * rewrite-delete-files maintenance folded into the fast-forward.
    * Gates: `eq_sidecar_only` (the branch delete adds no part file),
    * `main_untouched` (nothing visible on main pre-publish),
    * `audit_masked` (branch read hides both deleted keys and sees
    * exactly the reinserted row), `published_by_vectors` (post-publish
    * main carries ZERO #eqdel lines, every fork file is still live by
    * name, and the masks ride deletion vectors).
    */
  def dsv2BranchEqDelete(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_beq_orders")
    spark.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.beq_t
        |TBLPROPERTIES ('graft.dml'='mor', 'graft.eqDeleteKeys'='k') AS
        |SELECT CAST(o_orderkey % 37 AS BIGINT) AS k, count(*) AS n_orders,
        |       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |FROM graft_beq_orders GROUP BY 1""".stripMargin) // v0
    spark.sql("INSERT INTO graftmem.tmp.beq_t " +
      "SELECT id, CAST(1 AS BIGINT), id * 10 FROM range(500, 510)") // v1
    val cat = MemCatalog
    val tableDir = MemCatalog.tableDir(spark, "graftmem.tmp.beq_t")
    val preParts = cat.partFiles(tableDir).map(_.getFileName.toString).toSet
    val preMainCount = spark.table("graftmem.tmp.beq_t").count()
    cat.createBranch(tableDir, "ing")
    // branch wave 1 (seq base+1): carries a k=5 row the later branch
    // delete must mask — branch-born files older than the delete are
    // subject to it, exactly like fork files
    spark.sql("INSERT INTO graftmem.tmp.beq_t.branch_ing VALUES " +
      "(CAST(5 AS BIGINT), CAST(1 AS BIGINT), CAST(11111 AS BIGINT)), " +
      "(CAST(600 AS BIGINT), CAST(1 AS BIGINT), CAST(6000 AS BIGINT))")
    val partsBeforeDelete = cat.partFiles(tableDir).size
    spark.sql("DELETE FROM graftmem.tmp.beq_t.branch_ing WHERE k IN (5, 17)")
    val eqSidecarOnly = cat.partFiles(tableDir).size == partsBeforeDelete &&
      cat.branchManifest(tableDir, "ing").eqDels.nonEmpty
    // reinsert k=5 AFTER the delete (seq base+3): must survive it
    spark.sql("INSERT INTO graftmem.tmp.beq_t.branch_ing VALUES " +
      "(CAST(5 AS BIGINT), CAST(1 AS BIGINT), CAST(22222 AS BIGINT))")
    val mainUntouched = cat.currentVersion(tableDir) == 1 &&
      spark.table("graftmem.tmp.beq_t").count() == preMainCount
    val k5 = spark.sql(
      "SELECT count(*), sum(cents) FROM graftmem.tmp.beq_t.branch_ing WHERE k = 5")
      .head()
    val auditMasked = spark.sql(
      "SELECT count(*) FROM graftmem.tmp.beq_t.branch_ing WHERE k = 17")
      .head().getLong(0) == 0L && k5.getLong(0) == 1L && k5.getLong(1) == 22222L
    cat.fastForward(tableDir, "ing")
    cat.dropBranch(tableDir, "ing")
    val publishedByVectors = cat.eqDeletes(tableDir).isEmpty &&
      preParts.subsetOf(cat.partFiles(tableDir).map(_.getFileName.toString).toSet) &&
      cat.liveEntries(tableDir).exists(_.dv.nonEmpty)
    spark.sql("SELECT k, n_orders, cents FROM graftmem.tmp.beq_t")
      .withColumn("eq_sidecar_only", lit(eqSidecarOnly))
      .withColumn("main_untouched", lit(mainUntouched))
      .withColumn("audit_masked", lit(auditMasked))
      .withColumn("published_by_vectors", lit(publishedByVectors))
  }

  /** NAMED SNAPSHOT TAGS — Iceberg refs, immutable flavor: a tag is a
    * name → version pointer published CREATE-NEW (`_tag-<name>` file,
    * same commit discipline as manifests: racing creates of one name
    * lose loudly, independent tags never conflict), resolved through
    * REAL SQL time travel — `VERSION AS OF 'baseline'` hits the catalog
    * SPI's string overload, non-numeric arguments look up the tag. The
    * operational point a number can't give you: a tag is a RETENTION
    * LEASE — vacuum keeps tagged manifests and every file they
    * reference regardless of keepVersions, so "audit-2026q3 must stay
    * reproducible" survives the retention policy, and dropping the tag
    * releases the lease (spec-proven reclaim). The query walks CTAS →
    * tag 'baseline' → INSERT → COW UPDATE → a vacuum that would have
    * dropped v0, then reads BOTH snapshots in one statement labeled by
    * name; the oracle replays each declaratively — the tagged read
    * surviving vacuum IS the gated contract. At 100 TB tags cost one
    * directory entry; the leased files are storage the policy already
    * chose to keep.
    */
  def dsv2SnapshotTag(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_tag_orders")
    spark.sql(
      """CREATE OR REPLACE TABLE graftmem.tmp.tag_t AS
        |SELECT CAST(o_orderkey % 30 AS BIGINT) AS k,
        |       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |FROM graft_tag_orders GROUP BY 1""".stripMargin) // v0
    val tableDir = MemCatalog.tableDir(spark, "graftmem.tmp.tag_t")
    // REPLACE swapped in a fresh dir, so the tag namespace starts empty
    MemCatalog.createTag(tableDir, "baseline", 0)
    spark.sql("INSERT INTO graftmem.tmp.tag_t VALUES (555, 42)") // v1
    spark.sql("UPDATE graftmem.tmp.tag_t SET cents = cents + 1 WHERE k % 2 = 0") // v2
    // keepVersions=1 would reclaim v0 and v1 — the tag leases v0
    MemCatalog.vacuum(tableDir, keepVersions = 1)
    spark.sql(
      """SELECT 'current' AS snapshot, k, cents FROM graftmem.tmp.tag_t
        |UNION ALL
        |SELECT 'baseline' AS snapshot, k, cents
        |FROM graftmem.tmp.tag_t VERSION AS OF 'baseline'""".stripMargin)
  }

  /** CHECK CONSTRAINTS enforced at write time (Delta's table-constraint
    * contract): `TBLPROPERTIES ('check.<name>' = '<predicate>')` declares
    * an invariant every write path validates per row BEFORE it reaches a
    * part file — a violating INSERT/UPDATE fails the whole statement and
    * publishes nothing (staged files abort; the manifest never moves),
    * and `ALTER TABLE ... SET TBLPROPERTIES` adding a constraint
    * validates EXISTING rows first, refusing an invariant that is
    * already false. The query proves all three behaviors live: a
    * violating INSERT is caught (`neg_rejected`), an ADD CONSTRAINT the
    * data already violates is refused (`add_refused`), a constraint that
    * holds is accepted and then enforced (`cap_rejected`), and the final
    * content — which the oracle replays declaratively — contains exactly
    * the compliant rows, proving the failed statements left NO partial
    * state. At 100 TB enforcement is a per-row predicate inside the
    * writer task (no extra pass, no shuffle); the ADD-time validation
    * scan is the same O(table) read Delta pays, administrative not hot.
    */
  def dsv2CheckConstraint(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_chk_orders")
    spark.sql("DROP TABLE IF EXISTS graftmem.tmp.chk_t")
    spark.sql("CREATE TABLE graftmem.tmp.chk_t (k BIGINT, cents BIGINT) " +
      "TBLPROPERTIES ('check.nonneg'='cents >= 0')")
    spark.sql(
      """INSERT INTO graftmem.tmp.chk_t
        |SELECT CAST(o_orderkey % 25 AS BIGINT) AS k,
        |       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |FROM graft_chk_orders GROUP BY 1""".stripMargin)
    val negRejected = scala.util.Try(
      spark.sql("INSERT INTO graftmem.tmp.chk_t VALUES (900, -5)")).isFailure
    val addRefused = scala.util.Try(
      spark.sql("ALTER TABLE graftmem.tmp.chk_t " +
        "SET TBLPROPERTIES ('check.tiny'='cents <= 10')")).isFailure
    spark.sql("ALTER TABLE graftmem.tmp.chk_t " +
      "SET TBLPROPERTIES ('check.cap'='cents <= 900000000000')") // holds
    val capRejected = scala.util.Try(
      spark.sql("INSERT INTO graftmem.tmp.chk_t VALUES (901, 900000000001)")).isFailure
    spark.sql("INSERT INTO graftmem.tmp.chk_t VALUES (902, 7)") // compliant
    spark.sql("SELECT k, cents FROM graftmem.tmp.chk_t")
      .withColumn("neg_rejected", lit(negRejected))
      .withColumn("add_refused", lit(addRefused))
      .withColumn("cap_rejected", lit(capRejected))
  }

  /** PER-FILE BLOOM-FILTER SKIPPING — the FOURTH pruning tier (after
    * column pruning, zone maps, and runtime `_file` group filtering),
    * for the probe shape zone maps cannot serve: equality on a STRING /
    * high-cardinality column. `TBLPROPERTIES ('bloomFor'='prio')` makes
    * every writer carry a 1024-bit 5-probe bloom per (file, column) in
    * the manifest entry (`bloom:` token — plan-time resident, no sidecar
    * I/O), and a pushed `prio = '...'` drops every file whose sketch
    * PROVES absence before any task launches — Parquet's column bloom
    * filters / Delta's bloomFilter index, at the manifest level. The
    * walk writes one priority-pure file set per INSERT, then gates two
    * plan-time facts as a ridden flag: a present-value probe plans a
    * strict subset of files, and an absent-value probe plans ZERO files
    * while still returning the correct empty result (one-sided error:
    * a false positive costs a read, a miss is impossible — and the
    * filter stays residual regardless). MemCatalogSpec pins the exact
    * kept/total counts and that OPTIMIZE rebuilds sketches during the
    * rewrite. At 100 TB: ~136 bytes of base64 per (file, column) in
    * metadata buys point-lookup pruning on columns min/max is blind to —
    * the doc-id / join-key probe shape of a retrieval corpus.
    */
  def dsv2BloomSkipping(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_bloom_orders")
    spark.sql("DROP TABLE IF EXISTS graftmem.tmp.bloom_t")
    spark.sql("CREATE TABLE graftmem.tmp.bloom_t (prio STRING, cents BIGINT) " +
      "TBLPROPERTIES ('bloomFor'='prio')")
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").foreach(p =>
      spark.sql(
        s"""INSERT INTO graftmem.tmp.bloom_t
           |SELECT o_orderpriority, CAST(round(o_totalprice * 100) AS BIGINT)
           |FROM graft_bloom_orders WHERE o_orderpriority = '$p'""".stripMargin))
    // plan-time proof, ridden as a gate column: the hit probe plans a
    // strict subset of files, the miss probe plans ZERO (and still
    // answers correctly — pruning is a plan property, never a data one)
    // each probe reads its OWN scan's metrics: the verify sweep plans
    // other catalog scans concurrently, and only the query that ran
    // knows what its scan kept
    def probe(prio: String): (Long, Long, Long) = {
      val df = spark.sql(
        s"SELECT count(*) FROM graftmem.tmp.bloom_t WHERE prio = '$prio'")
      val n = df.collect().head.getLong(0)
      val Seq((_, (kept, total))) = ScanMetrics.pruned(df)
      (n, kept, total)
    }
    val (hit, kHit, tHit) = probe("3-MEDIUM")
    val (miss, kMiss, tMiss) = probe("9-NEVER")
    val pruned = hit > 0 && miss == 0L &&
      kHit < tHit && tMiss == tHit && kMiss == 0
    spark.sql(
      """SELECT prio, count(*) AS n_orders, sum(cents) AS cents
        |FROM graftmem.tmp.bloom_t GROUP BY prio""".stripMargin)
      .withColumn("bloom_pruned", lit(pruned))
  }

  /** METADATA-ONLY AGGREGATES — the Delta/Iceberg stats-based COUNT,
    * generalized to MIN/MAX: an ungrouped, unfiltered
    * `COUNT(*)/MIN/MAX` over the catalog table is answered ENTIRELY
    * from the manifest (`SupportsPushDownAggregates` with COMPLETE
    * pushdown: Σ `#rows` minus deletion-vector positions for the count,
    * zone-map lo/hi for the extremes) — zero data files opened, zero
    * bytes read, a one-row one-partition scan. The query PROVES the
    * zero-read claim structurally: it HIDES every part file (manifests
    * stay), runs the aggregate — which can only succeed if no task
    * touched a data file — then restores the files and emits the
    * captured values with a `metadata_only` flag; the oracle replays
    * the aggregates declaratively, so both the values and the proof
    * ride the gate. Refused shapes fall back to the row scan: filters
    * (residual by design), GROUP BY, entries predating `#rows`, MIN/MAX
    * on non-integral columns or under a deletion vector (the vector
    * might mask the extreme; COUNT merely subtracts it — spec-pinned).
    * At 100 TB this is the difference between a dashboard's `COUNT(*)`
    * costing a full scan and costing one manifest read.
    */
  def dsv2MetadataAgg(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_metaagg_orders")
    spark.sql("DROP TABLE IF EXISTS graftmem.tmp.meta_t")
    spark.sql(
      """CREATE TABLE graftmem.tmp.meta_t AS
        |SELECT CAST(o_orderkey % 35 AS BIGINT) AS k,
        |       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |FROM graft_metaagg_orders GROUP BY 1""".stripMargin)
    spark.sql("INSERT INTO graftmem.tmp.meta_t SELECT id, id * 11 FROM range(600, 610)")
    val tableDir = MemCatalog.tableDir(spark, "graftmem.tmp.meta_t")
    // the structural proof: with every part file hidden, only a
    // manifest-answered plan can produce the row
    val hidden = java.nio.file.Files.createDirectories(tableDir.resolve("_hid"))
    val parts = MemCatalog.partFiles(tableDir)
    parts.foreach(p => java.nio.file.Files.move(p, hidden.resolve(p.getFileName),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING))
    val answered = scala.util.Try(spark.sql(
      """SELECT count(*) AS n_rows, min(k) AS min_k, max(k) AS max_k,
        |       min(cents) AS min_cents, max(cents) AS max_cents
        |FROM graftmem.tmp.meta_t""".stripMargin).head())
    parts.foreach(p => java.nio.file.Files.move(hidden.resolve(p.getFileName), p,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING))
    answered match {
      case scala.util.Success(r) =>
        spark.range(1).select(
          lit(r.getLong(0)).as("n_rows"), lit(r.getLong(1)).as("min_k"),
          lit(r.getLong(2)).as("max_k"), lit(r.getLong(3)).as("min_cents"),
          lit(r.getLong(4)).as("max_cents"), lit(true).as("metadata_only"))
      case scala.util.Failure(_) => // regression surface: hash-mismatches the oracle
        spark.sql(
          """SELECT count(*) AS n_rows, min(k) AS min_k, max(k) AS max_k,
            |       min(cents) AS min_cents, max(cents) AS max_cents
            |FROM graftmem.tmp.meta_t""".stripMargin)
          .withColumn("metadata_only", lit(false))
    }
  }

  /** DESCRIBE HISTORY on the versioned catalog table — every committing
    * statement records its OPERATION in the manifest (`#op:`, Delta's
    * commitInfo.operation), so the commit log doubles as the table's
    * audit history: which verb produced each snapshot, read with
    * [[MemCatalog.history]] (O(#versions) manifest
    * reads, exactly a Delta `DESCRIBE HISTORY` listing). The query walks
    * all seven verbs — CTAS, INSERT, UPDATE, COW DELETE, INSERT
    * OVERWRITE, two more INSERTs, OPTIMIZE — and joins each history row
    * to the snapshot's `VERSION AS OF` row count, so the gate proves BOTH
    * the per-commit op classification AND that every historical snapshot
    * still reads at its exact cardinality (history and time travel are
    * the same manifest property). Counts, not file sizes: file packing
    * is layout-dependent, cardinality is declarative.
    */
  def dsv2History(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(
      "CREATE OR REPLACE TABLE graftmem.tmp.hist AS " +
        "SELECT id, id * 2 AS v FROM range(100)") // v0 create: 100 rows
    spark.sql("INSERT INTO graftmem.tmp.hist SELECT id, id * 2 FROM range(100, 150)") // v1
    spark.sql("UPDATE graftmem.tmp.hist SET v = 0 WHERE id < 10") // v2
    spark.sql("DELETE FROM graftmem.tmp.hist WHERE id >= 140") // v3: range pred -> COW
    spark.sql("INSERT OVERWRITE graftmem.tmp.hist SELECT id, id AS v FROM range(40)") // v4
    spark.sql("INSERT INTO graftmem.tmp.hist SELECT id, id FROM range(40, 60)") // v5
    spark.sql("INSERT INTO graftmem.tmp.hist SELECT id, id FROM range(60, 80)") // v6
    val tableDir = MemCatalog.tableDir(spark, "graftmem.tmp.hist")
    MemCatalog.compact(tableDir) // v7 optimize: content-preserving
    import spark.implicits._
    // history() is a driver-side MANIFEST listing (metadata plane, like
    // SHOW TABLES) — no data-plane collect here
    val histSeq = MemCatalog.history(tableDir)
    val hist = histSeq.map { case (ver, op, _) => (ver.toLong, op) }.toDF("version", "op")
    val counts = histSeq.map(_._1).map { v =>
      spark.sql(s"SELECT CAST($v AS BIGINT) AS version, count(*) AS n_rows " +
        s"FROM graftmem.tmp.hist VERSION AS OF $v")
    }.reduce(_ unionAll _)
    hist.join(counts, "version").select("version", "op", "n_rows")
  }

  /** `INSERT OVERWRITE` through the catalog (`SupportsTruncate` +
    * `SupportsOverwrite` + the TRUNCATE/OVERWRITE_BY_FILTER table
    * capabilities): the daily-reprocess DML verb — the overwrite is ONE
    * manifest commit that retires the whole live set and publishes the
    * fresh files, so the pre-overwrite snapshot remains readable via
    * `VERSION AS OF` (retirement never deletes; spec-proven by file
    * survival). The query overwrites the 'F'-status aggregate with the
    * 'O'-status one and reads BOTH snapshots in one statement; filtered
    * overwrites refuse (an unpartitioned table can't honor them
    * faithfully).
    */
  def dsv2CatalogOverwrite(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_ovw_orders")
    def agg(status: String): String =
      s"""SELECT o_orderpriority AS pri, count(*) AS n_orders,
         |       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
         |FROM graft_ovw_orders WHERE o_orderstatus = '$status' GROUP BY 1""".stripMargin
    spark.sql(s"CREATE OR REPLACE TABLE graftmem.tmp.ovw_pri AS ${agg("F")}")
    spark.sql(s"INSERT OVERWRITE graftmem.tmp.ovw_pri ${agg("O")}")
    spark.sql(
      """SELECT 'pre' AS snapshot, pri, n_orders, cents
        |FROM graftmem.tmp.ovw_pri VERSION AS OF 0
        |UNION ALL
        |SELECT 'post', pri, n_orders, cents FROM graftmem.tmp.ovw_pri""".stripMargin)
  }

  /** CLUSTERED WRITE through `RequiresDistributionAndOrdering` — the
    * table (TBLPROPERTIES `clusterBy`) REQUESTS a range distribution +
    * sort on its cluster key, Spark plans the exchange+sort, and ONE
    * INSERT from unclustered input produces value-clustered files with
    * tight min/max stats — which is exactly what makes
    * [[dsv2DataSkipping]]'s zone-map pruning effective without the
    * writer routing a single row itself (Iceberg's
    * `write.distribution-mode=range` contract). The query INSERTs the
    * order aggregate unclustered, then reads one band back — the same
    * aggregate [[dsv2DataSkipping]] builds by hand-routed per-band
    * INSERTs; MemCatalogSpec proves the files actually skip and that an
    * identical table WITHOUT `clusterBy` cannot skip at all.
    */
  def dsv2ClusteredWrite(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_clus_orders")
    spark.sql("DROP TABLE IF EXISTS graftmem.tmp.clus_bands")
    spark.sql(
      """CREATE TABLE graftmem.tmp.clus_bands (band BIGINT, okey BIGINT, cents BIGINT)
        |TBLPROPERTIES ('clusterBy'='band', 'clusterParts'='4')""".stripMargin)
    spark.sql(
      """INSERT INTO graftmem.tmp.clus_bands
        |SELECT CAST(o_custkey % 4 AS BIGINT), o_orderkey,
        |       CAST(round(o_totalprice * 100) AS BIGINT)
        |FROM graft_clus_orders""".stripMargin)
    spark.sql(
      """SELECT band, count(*) AS n_orders, sum(cents) AS cents
        |FROM graftmem.tmp.clus_bands
        |WHERE band IN (1, 3)
        |GROUP BY band""".stripMargin)
  }

  /** STREAMING WRITE INTO THE CATALOG TABLE (`writeStream.toTable`) —
    * the write half of the lakehouse streaming story
    * ([[dsv2StreamTable]] is the read half): the deterministic
    * [[graft.sources.v2.SeqStreamSource]] drains epoch-by-epoch into a
    * MemCatalog table, each epoch ONE manifest commit carrying a
    * `#queryId=epoch` watermark, so a replayed epoch after driver
    * recovery publishes nothing twice — the Delta-sink txn-version
    * idempotence contract (spec-proven with a forced replay). The final
    * table content must equal the DuckDB `generate_series` replay:
    * exactly-once across all four epochs or the hash breaks.
    */
  def dsv2StreamSink(spark: SparkSession, dir: String): DataFrame = {
    val ss = graft.streaming.EventStreams.streamingSession(spark, 0L) // generated source
    ss.sql("DROP TABLE IF EXISTS graftmem.tmp.sink_seq")
    ss.sql("CREATE TABLE graftmem.tmp.sink_seq (id BIGINT, val BIGINT, bucket BIGINT)")
    BoundedDrain.once(
      ss.readStream.format("graft.sources.v2.SeqStreamSource")
        .option("n", "40000").option("step", "10000").option("parts", "4").load(),
      Sink.ToTable("graftmem.tmp.sink_seq"))
    ss.sql(
      """SELECT bucket, count(*) AS n_rows, sum(val) AS sum_val
        |FROM graftmem.tmp.sink_seq GROUP BY bucket""".stripMargin)
      .localCheckpoint(true)
  }

  /** Export path for the custom V2 WRITE connector round-trip. */
  val AuditSinkPath = "/root/repo/spark-warehouse/graft_audit_sink/orders_audit"

  /** CUSTOM V2 WRITE CONNECTOR round-trip — [[graft.sources.v2.AuditSink]]
    * exercises the OTHER half of the connector SPI: per-task staged
    * writes, O(1) [[org.apache.spark.sql.connector.write.WriterCommitMessage]]s,
    * and the atomic driver-side commit that publishes part files plus an
    * aggregated `audit.json` manifest (rows + order-independent multiset
    * SUM checksum). The query writes (o_orderkey, o_orderpriority) through
    * the sink, reads BOTH the data files and the manifest back, and
    * recomputes the checksum in SQL — `rows_match`/`checksum_match` prove
    * the commit protocol aggregated exactly the rows the tasks wrote. The
    * DuckDB oracle recomputes everything from the fixture: any torn
    * write, lost commit message, or hash drift breaks the hash match.
    */
  def dsv2AuditSink(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .select(col("o_orderkey").as("k"), col("o_orderpriority").as("tag"))
      .write.format("graft.sources.v2.AuditSink")
      .option("path", AuditSinkPath).mode("overwrite").save()
    val data = spark.read.schema("k LONG, tag STRING")
      .option("pathGlobFilter", "part-*").json(AuditSinkPath)
      .agg(
        count(lit(1)).as("n_rows_data"),
        expr("sum(cast(conv(substring(md5(concat(k, '|', tag)), 1, 8), 16, 10) AS BIGINT))")
          .as("checksum_data"))
    val audit = spark.read.schema("n_rows LONG, checksum LONG")
      .option("pathGlobFilter", "audit.json").json(AuditSinkPath)
      .select(col("n_rows").as("n_rows_audit"), col("checksum").as("checksum_audit"))
    data.crossJoin(audit)
      .withColumn("rows_match", col("n_rows_data") === col("n_rows_audit"))
      .withColumn("checksum_match", col("checksum_data") === col("checksum_audit"))
  }

  /** Fixed export path for the ORC-source twin of [[csvSourceAgg]]. */
  val OrcExportPath = "/root/repo/spark-warehouse/graft_orc_export/customer_orc"

  /** ORC SOURCE scan under the oracle gate — closes the "no verified
    * non-parquet source" gap for the SECOND columnar format. DuckDB cannot
    * read ORC, so the oracle is the IDENTICAL aggregate over the parquet
    * fixture the export came from: a hash match proves the ORC write →
    * predicate-pushed scan → aggregate pipeline preserves every value and
    * row (min/max/count/sum are order-independent). The ORC scan gets the
    * same scale treatment as parquet: explicit columns, filter pushed to
    * the reader (PPD on customer segment), column pruning to the 2-column
    * read schema.
    */
  def orcSourceAgg(spark: SparkSession, dir: String): DataFrame = {
    Sinks.writeOrc(
      Tables.customer(spark, dir).select(
        "c_custkey", "c_mktsegment", "c_acctbal", "c_nationkey"),
      OrcExportPath)
    spark.read.orc(OrcExportPath)
      .filter(col("c_acctbal") > 0)
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_cust"),
        round(sum("c_acctbal"), 2).as("total_bal"),
        max("c_custkey").as("max_key"))
  }

  /** Fixed export path for the JSON-source twin of [[csvSourceAgg]]. */
  val JsonExportPath = "/root/repo/spark-warehouse/graft_json_export/lineitem_json"

  val LineitemJsonSchema =
    "l_orderkey BIGINT, l_quantity DOUBLE, l_extendedprice DOUBLE, l_returnflag STRING"

  /** JSON-lines SOURCE scan under the oracle gate — same design as
    * [[csvSourceAgg]]: export lineitem columns as newline-delimited JSON,
    * scan back with an EXPLICIT schema (inference over JSON is a full
    * extra pass at scale), aggregate count/min/max (order-independent;
    * doubles round-trip exactly through shortest-repr JSON text on both
    * engines). DuckDB `read_json` over the same files is the oracle.
    */
  def jsonSourceAgg(spark: SparkSession, dir: String): DataFrame = {
    Sinks.writeJson(
      Tables.lineitem(spark, dir).select(
        "l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag"),
      JsonExportPath)
    spark.read
      .schema(LineitemJsonSchema)
      .json(JsonExportPath)
      .filter(col("l_quantity") >= 30)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_lines"),
        min("l_extendedprice").as("min_price"),
        max("l_extendedprice").as("max_price"))
  }

  /** Fixed export root for the two-generation parquet layout — embedded in
    * the oracle SQL like [[CsvExportPath]].
    */
  val EvoExportPath = "/root/repo/spark-warehouse/graft_evo_export/orders_evo"

  /** SCHEMA EVOLUTION across parquet batches — the operational reality of
    * any long-lived dataset: generation 1 (orders before 1996-07-01) was
    * written WITHOUT the `o_priority_rank` column a later pipeline version
    * added; generation 2 carries it. `mergeSchema` unions the file schemas
    * (old files surface the new column as NULL), and the verified
    * aggregate counts nulls per generation to pin the union semantics.
    * DuckDB mirrors with `read_parquet(..., union_by_name=true)`.
    *
    * 100 TB posture: schema merge is a FOOTER-level operation (one footer
    * read per distinct schema at planning, no data rewrite) — the
    * alternative, rewriting history to the new schema, is exactly what a
    * 100 TB table cannot afford.
    */
  def parquetSchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val cut = lit("1996-07-01").cast("timestamp")
    Sinks.writeParquet(
      o.filter(col("o_orderdate") < cut)
        .select("o_orderkey", "o_totalprice"),
      s"$EvoExportPath/gen=1")
    Sinks.writeParquet(
      o.filter(col("o_orderdate") >= cut)
        .select(col("o_orderkey"), col("o_totalprice"),
          substring(col("o_orderpriority"), 1, 1).cast("int").as("o_priority_rank")),
      s"$EvoExportPath/gen=2")
    spark.read.option("mergeSchema", "true").parquet(EvoExportPath)
      .groupBy(col("gen").cast("long").as("gen"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("o_priority_rank").isNull, 1L).otherwise(0L)).as("n_missing_rank"),
        min(col("o_priority_rank").cast("long")).as("min_rank"),
        max(col("o_priority_rank").cast("long")).as("max_rank"))
  }

  /** CO-BUCKETED zero-shuffle join at the verified-query level: both fact
    * projections are written as hash-bucketed sorted tables on the join
    * key (the shuffle paid ONCE at layout time), then joined and
    * aggregated — at 100 TB this is how repeated fact-fact joins amortize
    * their exchange into the table layout (BucketingSpec proves the
    * no-Exchange plan property; this query proves answer correctness
    * through the bucketed write→read path under the DuckDB oracle, which
    * reads the original fixture — layout must not change content).
    */
  def bucketedJoinAgg(spark: SparkSession, dir: String): DataFrame = {
    // a FRESH session's catalog does not know tables a previous JVM left
    // in the warehouse dir, and saveAsTable refuses to adopt an orphan
    // location — clear both catalog entry and location first
    Seq("graft_bkt_orders", "graft_bkt_lineitem").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
        }
        rm(loc)
      }
    }
    Sinks.writeBucketedTable(
      Tables.orders(spark, dir).select("o_orderkey", "o_orderpriority"),
      "graft_bkt_orders", "o_orderkey", 8)
    Sinks.writeBucketedTable(
      Tables.lineitem(spark, dir).select("l_orderkey", "l_quantity"),
      "graft_bkt_lineitem", "l_orderkey", 8)
    spark.table("graft_bkt_lineitem")
      .join(spark.table("graft_bkt_orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_lines"),
        countDistinct(col("o_orderkey")).as("n_orders"),
        round(sum("l_quantity"), 2).as("sum_qty"))
  }

  /** Fixed export path for the raw-text source — see [[CsvExportPath]]. */
  val TextExportPath = "/root/repo/spark-warehouse/graft_text_export/documents_txt"

  /** The reference's LITERAL input format at the verified-query level: the
    * corpus exported as raw line-per-row text files, scanned back with
    * `spark.read.text` (distributed line scan — the Spark analog of the
    * reference's HDFS corpus read, `greeter_client.cc:298-331`), then the
    * flagship normalize→tokenize→count pipeline over it. DuckDB's
    * `read_text` is the oracle: it surfaces each file as one string, and
    * since the tokenizer splits on ALL whitespace (newlines included),
    * whole-file and per-line tokenization yield the same word multiset.
    * With parquet/CSV/JSON, this closes verified-source coverage over all
    * four formats the engine reads.
    */
  def textSourceWordcount(spark: SparkSession, dir: String): DataFrame = {
    Sinks.writeText(Tables.documents(spark, dir).select(col("text")), TextExportPath)
    spark.read.text(TextExportPath)
      .select(explode(graft.operators.TextPipeline.tokens(col("value"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Fixed export root for the DPP demonstration — embedded in the oracle
    * SQL like [[CsvExportPath]].
    */
  val DppExportPath = "/root/repo/spark-warehouse/graft_dpp_export/orders_by_month"

  /** DYNAMIC PARTITION PRUNING at the verified-query level: orders are
    * written directory-partitioned by month, then joined to a tiny
    * quarter dimension filtered to 1997-Q1. The partition filter is NOT
    * in the query text — Catalyst derives it AT RUNTIME from the
    * broadcast dim (`PartitionFilters: dynamicpruningexpression(...)` on
    * the scan; PlanShapeSpec asserts it), so the fact scan reads 3 of
    * ~80 month directories. This is THE mechanism that turns a
    * dim-filtered 100 TB fact join into a 3-partition read without the
    * user hand-writing the prune; static partition pruning (predicate in
    * the query) is covered by SinksSpec. DuckDB reads the same exported
    * files with `hive_partitioning` and an explicit IN-list — the hash
    * match proves the write→prune→join→aggregate chain.
    */
  def joinDpp(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .withColumn("o_month", substring(col("o_orderdate").cast("string"), 1, 7))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("o_month").parquet(DppExportPath)
    import spark.implicits._
    // the dim must be a REAL scan: a literal Seq folds to a LocalRelation
    // (its filter constant-folds away) and DPP's selective-predicate
    // detection never sees it — written+read, the Filter survives over a
    // FileScan and the runtime pruning subquery is inserted
    Seq(
      ("1997-01", "Q1"), ("1997-02", "Q1"), ("1997-03", "Q1"),
      ("1997-04", "Q2"), ("1997-05", "Q2"), ("1997-06", "Q2"))
      .toDF("m_month", "m_quarter")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"${DppExportPath}_dim")
    spark.read.parquet(s"${DppExportPath}_dim")
      .filter(col("m_quarter") === "Q1")
      .join(spark.read.parquet(DppExportPath), col("o_month") === col("m_month"))
      .groupBy("o_month")
      .agg(count(lit(1)).as("n"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
  }

  /** Fixed root for the snapshot-versioned table layout. */
  val SnapshotPath = "/root/repo/spark-warehouse/graft_snapshots/orders_versioned"

  /** SNAPSHOT / TIME-TRAVEL read over a versioned table layout — the
    * Iceberg/Delta pattern expressed with the primitives this library
    * owns: each committed version is an immutable parquet directory
    * (`v=1`, `v=2`), never rewritten, and a reader picks a snapshot by
    * path. Version 1 is the base orders slice; version 2 is the
    * compacted successor (deletes keys ≡0 mod 101, bumps price on keys
    * ≡0 mod 97 — the same deterministic mutation `table_diff` audits).
    * The query reads BOTH snapshots "as of" their versions and emits one
    * audit row per version (rows + order-independent multiset checksum),
    * proving old snapshots stay byte-stable while new ones diverge —
    * time travel is just a path choice when versions are immutable.
    * Scale posture: snapshots share nothing at write time beyond the
    * transformation plan; each read scans exactly one version directory
    * (partition-pruned by construction, no history scan).
    */
  def timeTravelRead(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .select("o_orderkey", "o_totalprice", "o_orderpriority")
    val v2 = base.filter(col("o_orderkey") % 101 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 97 === 0, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")))
    base.write.mode("overwrite").parquet(s"$SnapshotPath/v=1")
    v2.write.mode("overwrite").parquet(s"$SnapshotPath/v=2")
    def audit(version: Int): DataFrame =
      graft.operators.Mining.tableChecksumOn(
        spark.read.parquet(s"$SnapshotPath/v=$version"),
        Seq("o_orderkey", "o_totalprice", "o_orderpriority"))
        .select(lit(version).as("version"), col("n_rows"), col("checksum"))
    audit(1).unionByName(audit(2))
  }

  /** Small-file COMPACTION — the table-maintenance pass every lakehouse
    * runs: a fragmented table (documents deliberately exploded into 32
    * tiny parquet files) is rewritten into 4 right-sized files via an
    * explicit round-robin `repartition(4)` (user-pinned, so AQE never
    * re-splits it), then audited from the compacted layout itself:
    * file count via the `_metadata.file_path` column, row count, and the
    * order-independent multiset row-hash checksum (table_checksum's
    * formula) proving compaction moved bytes, not data. At 100 TB the
    * only change is the partition count arithmetic (target_size /
    * file_size); the shape — read small, one round-robin exchange, write
    * large — is exactly this. Oracle: rows + checksum recomputed from the
    * original fixture; n_files is the pinned constant 4.
    */
  def compactSmallFiles(spark: SparkSession, dir: String): DataFrame = {
    val small = java.nio.file.Files.createTempDirectory("graft-compact-small")
    val big = java.nio.file.Files.createTempDirectory("graft-compact-big")
    Tables.documents(spark, dir).repartition(32)
      .write.mode("overwrite").parquet(small.toString)
    spark.read.parquet(small.toString).repartition(4)
      .write.mode("overwrite").parquet(big.toString)
    val row = concat_ws("|",
      Seq("doc_id", "text", "lang", "source", "n_chars").map(c => col(c).cast("string")): _*)
    val audit = spark.read.parquet(big.toString)
      .select(conv(substring(md5(row), 1, 8), 16, 10).cast("long").as("h"),
        col("_metadata.file_path").as("f"))
      .agg(countDistinct(col("f")).as("n_files"), count(lit(1)).as("n_rows"),
        sum(col("h")).as("checksum"))
    // pin before deleting the temp layouts (Verify/Bench re-execute the plan)
    val pinned = audit.localCheckpoint(true)
    MemCatalog.deleteRecursively(small)
    MemCatalog.deleteRecursively(big)
    pinned
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "compact_small_files" -> compactSmallFiles _,
    "time_travel_read" -> timeTravelRead _,
    "text_source_wordcount" -> textSourceWordcount _,
    "join_dpp" -> joinDpp _,
    "csv_source_agg" -> csvSourceAgg _,
    "csv_quarantine" -> csvQuarantine _,
    "xml_source_agg" -> xmlSourceAgg _,
    "json_source_agg" -> jsonSourceAgg _,
    "orc_source_agg" -> orcSourceAgg _,
    "dsv2_seq_agg" -> dsv2SeqAgg _,
    "dsv2_agg_pushdown" -> dsv2AggPushdown _,
    "dsv2_runtime_filter" -> dsv2RuntimeFilter _,
    "dsv2_spj_join" -> dsv2SpjJoin _,
    "dsv2_spj_catalog" -> dsv2SpjCatalog _,
    "dsv2_spj_string" -> dsv2SpjString _,
    "dsv2_schema_evolution" -> dsv2SchemaEvolution _,
    "sink_dynamic_overwrite" -> sinkDynamicOverwrite _,
    "dsv2_catalog_ctas" -> dsv2CatalogCtas _,
    "dsv2_catalog_delete" -> dsv2CatalogDelete _,
    "dsv2_catalog_update" -> dsv2CatalogUpdate _,
    "dsv2_catalog_merge" -> dsv2CatalogMerge _,
    "dsv2_time_travel" -> dsv2TimeTravel _,
    "dsv2_change_feed" -> dsv2ChangeFeed _,
    "dsv2_table_changes_tvf" -> dsv2TableChangesTvf _,
    "dsv2_tvf_stream" -> dsv2TvfStream _,
    "dsv2_mv_sql_incremental" -> dsv2MvSqlIncremental _,
    "dsv2_partition_route" -> dsv2PartitionRoute _,
    "dsv2_partition_multi" -> dsv2PartitionMulti _,
    "dsv2_partition_string" -> dsv2PartitionString _,
    "dsv2_partition_timestamp" -> dsv2PartitionTimestamp _,
    "dsv2_partition_date" -> dsv2PartitionDate _,
    "dsv2_refs_meta" -> dsv2RefsMeta _,
    "dsv2_stream_table" -> dsv2StreamTable _,
    "dsv2_cdf_stream" -> dsv2CdfStream _,
    "dsv2_cdf_net" -> dsv2CdfNet _,
    "dsv2_history" -> dsv2History _,
    "dsv2_cdc_pipeline" -> dsv2CdcPipeline _,
    "dsv2_mv_incremental" -> dsv2MvIncremental _,
    "dsv2_mv_rewrite" -> dsv2MvRewrite _,
    "dsv2_mv_serve" -> dsv2MvServe _,
    "dsv2_mv_autorefresh" -> dsv2MvAutorefresh _,
    "dsv2_mv_star" -> dsv2MvStar _,
    "dsv2_row_policy" -> dsv2RowPolicy _,
    "dsv2_cdc_sidecar" -> dsv2CdcSidecar _,
    "dsv2_column_mask" -> dsv2ColumnMask _,
    "dsv2_mor_dml" -> dsv2MorDml _,
    "dsv2_mor_eqdelete" -> dsv2MorEqDelete _,
    "dsv2_branch_wap" -> dsv2BranchWap _,
    "dsv2_ndv_stats" -> dsv2NdvStats _,
    "dsv2_hist_cbo" -> dsv2HistCbo _,
    "dsv2_hist_join_cbo" -> dsv2HistJoinCbo _,
    "dsv2_retention_expire" -> dsv2RetentionExpire _,
    "dsv2_stream_cdc_upsert" -> dsv2StreamCdcUpsert _,
    "dsv2_cdc_branch_apply" -> dsv2CdcBranchApply _,
    "dsv2_metadata_tables" -> dsv2MetadataTables _,
    "dsv2_shallow_clone" -> dsv2ShallowClone _,
    "dsv2_auto_compact" -> dsv2AutoCompact _,
    "dsv2_merge_by_source" -> dsv2MergeBySource _,
    "dsv2_merge_by_source_mor" -> dsv2MergeBySourceMor _,
    "dsv2_partitions_meta" -> dsv2PartitionsMeta _,
    "dsv2_auto_vacuum" -> dsv2AutoVacuum _,
    "dsv2_clone_promote" -> dsv2ClonePromote _,
    "dsv2_snapshots_meta" -> dsv2SnapshotsMeta _,
    "dsv2_branch_mor" -> dsv2BranchMor _,
    "dsv2_branch_eqdelete" -> dsv2BranchEqDelete _,
    "dsv2_snapshot_tag" -> dsv2SnapshotTag _,
    "dsv2_check_constraint" -> dsv2CheckConstraint _,
    "dsv2_bloom_skipping" -> dsv2BloomSkipping _,
    "dsv2_metadata_agg" -> dsv2MetadataAgg _,
    "dsv2_catalog_evolution" -> dsv2CatalogEvolution _,
    "dsv2_data_skipping" -> dsv2DataSkipping _,
    "dsv2_compaction" -> dsv2Compaction _,
    "dsv2_cluster_evolution" -> dsv2ClusterEvolution _,
    "dsv2_partition_evolution" -> dsv2PartitionEvolution _,
    "dsv2_rollback" -> dsv2Rollback _,
    "dsv2_stream_sink" -> dsv2StreamSink _,
    "dsv2_clustered_write" -> dsv2ClusteredWrite _,
    "dsv2_catalog_overwrite" -> dsv2CatalogOverwrite _,
    "dsv2_topn_pushdown" -> dsv2TopnPushdown _,
    "dsv2_sample_pushdown" -> dsv2SamplePushdown _,
    "dsv2_catalog_function" -> dsv2CatalogFunction _,
    "dsv2_catalog_agg_function" -> dsv2CatalogAggFunction _,
    "dsv2_catalog_sql" -> dsv2CatalogSql _,
    "dsv2_audit_sink" -> dsv2AuditSink _,
    "dsv2_stream_agg" -> dsv2StreamAgg _,
    "parquet_schema_evolution" -> parquetSchemaEvolution _,
    "join_bucketed_colocated" -> bucketedJoinAgg _,
  )

  def oracle: Map[String, String] = Map(
    // content equality with the pre-compaction table: rows + multiset
    // row-hash checksum from the original fixture; the 4-file layout is
    // the pinned repartition constant
    "compact_small_files" ->
      """SELECT 4::BIGINT AS n_files, count(*) AS n_rows,
        | sum(('0x' || substr(md5(concat_ws('|', doc_id::VARCHAR, text, lang,
        |   source, n_chars::VARCHAR)), 1, 8))::BIGINT)::BIGINT AS checksum
        |FROM documents""".stripMargin,
    // replay of the deterministic corruption rule: %13 lines are
    // quarantined, the cents total covers only the clean lines
    "csv_quarantine" ->
      """SELECT
        | sum(CASE WHEN o_orderkey % 13 <> 0 THEN 1 ELSE 0 END)::BIGINT AS n_good,
        | sum(CASE WHEN o_orderkey % 13 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_quarantined,
        | sum(CASE WHEN o_orderkey % 13 <> 0 THEN round(o_totalprice * 100)::BIGINT END)::BIGINT AS good_cents
        |FROM orders""".stripMargin,
    // both snapshots recomputed from the fixture: v1 = base slice, v2 =
    // the deterministic mutation; checksums via the shared multiset-sum
    // row-hash formula (table_checksum's)
    "time_travel_read" ->
      """WITH v1 AS (
        |  SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders),
        |v2 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice,
        |    o_orderpriority
        |  FROM orders WHERE o_orderkey % 101 <> 0),
        |a1 AS (
        |  SELECT 1 AS version, count(*) AS n_rows,
        |    sum(('0x' || substr(md5(concat_ws('|', o_orderkey::VARCHAR, o_totalprice::VARCHAR,
        |      o_orderpriority)), 1, 8))::BIGINT)::BIGINT AS checksum FROM v1),
        |a2 AS (
        |  SELECT 2 AS version, count(*) AS n_rows,
        |    sum(('0x' || substr(md5(concat_ws('|', o_orderkey::VARCHAR, o_totalprice::VARCHAR,
        |      o_orderpriority)), 1, 8))::BIGINT)::BIGINT AS checksum FROM v2)
        |SELECT * FROM a1 UNION ALL SELECT * FROM a2""".stripMargin,
    "join_dpp" ->
      s"""SELECT o_month, count(*) AS n,
         | sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
         |FROM read_parquet('$DppExportPath/*/*.parquet', hive_partitioning=true)
         |WHERE o_month IN ('1997-01', '1997-02', '1997-03')
         |GROUP BY o_month""".stripMargin,
    "text_source_wordcount" ->
      s"""WITH toks AS (
         |  SELECT unnest(${Oracle.tokens("content")}) AS word
         |  FROM read_text('$TextExportPath/part-*'))
         |SELECT word, count(*) AS cnt FROM toks WHERE word <> '' GROUP BY word""".stripMargin,
    "csv_source_agg" ->
      s"""SELECT o_orderstatus, count(*)::BIGINT AS n_orders,
         | min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
         |FROM read_csv('$CsvExportPath/*.csv', header=true,
         |  columns={'o_orderkey':'BIGINT','o_custkey':'BIGINT','o_orderstatus':'VARCHAR',
         |           'o_totalprice':'DOUBLE','o_orderpriority':'VARCHAR'})
         |WHERE o_orderpriority = '1-URGENT'
         |GROUP BY o_orderstatus""".stripMargin,
    // DuckDB has no XML reader: the oracle recomputes from the parquet
    // fixture, so the gate proves the XML write→parse chain is lossless
    "xml_source_agg" ->
      """SELECT o_orderstatus, count(*)::BIGINT AS n_orders,
        | min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
        |FROM orders
        |WHERE o_orderpriority = '2-HIGH'
        |GROUP BY o_orderstatus""".stripMargin,
    "json_source_agg" ->
      s"""SELECT l_returnflag, count(*)::BIGINT AS n_lines,
         | min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price
         |FROM read_json('$JsonExportPath/*.json', format='newline_delimited',
         |  columns={'l_orderkey':'BIGINT','l_quantity':'DOUBLE',
         |           'l_extendedprice':'DOUBLE','l_returnflag':'VARCHAR'})
         |WHERE l_quantity >= 30
         |GROUP BY l_returnflag""".stripMargin,
    // the drained micro-batch stream == the full-sequence replay
    "dsv2_stream_agg" ->
      """SELECT id % 32 AS bucket, count(*) AS n_rows,
        | sum((id * 2654435761) % 1000003)::BIGINT AS sum_val
        |FROM (SELECT unnest(generate_series(0, 49999))::BIGINT AS id)
        |GROUP BY 1""".stripMargin,
    // the oracle recomputes rows + multiset-sum checksum from the fixture
    "dsv2_audit_sink" ->
      """WITH h AS (SELECT ('0x' || substr(md5(o_orderkey || '|' || o_orderpriority), 1, 8))::BIGINT AS v
        |          FROM orders)
        |SELECT count(*)::BIGINT AS n_rows_data, sum(v)::BIGINT AS checksum_data,
        | count(*)::BIGINT AS n_rows_audit, sum(v)::BIGINT AS checksum_audit,
        | true AS rows_match, true AS checksum_match
        |FROM h""".stripMargin,
    // the oracle regenerates the synthetic sequence + hash formula
    "dsv2_seq_agg" ->
      """SELECT id % 32 AS bucket, count(*) AS n_rows,
        | sum((id * 2654435761) % 1000003)::BIGINT AS sum_val
        |FROM (SELECT unnest(generate_series(25000, 74999))::BIGINT AS id)
        |GROUP BY 1""".stripMargin,
    // full-sequence replay of the pushed grouped count/sum/min/max — the
    // gate proves partial-fold + final-merge ≡ plain group-by
    "dsv2_agg_pushdown" ->
      """SELECT id % 32 AS bucket, count(*) AS n_rows,
        | sum((id * 2654435761) % 1000003)::BIGINT AS sum_val,
        | min((id * 2654435761) % 1000003)::BIGINT AS min_val,
        | max((id * 2654435761) % 1000003)::BIGINT AS max_val
        |FROM (SELECT unnest(generate_series(2048, 199999))::BIGINT AS id)
        |GROUP BY 1""".stripMargin,
    // the deterministic sample-membership rule replayed: Fibonacci-hash
    // uniform in [0, 0.25)
    "dsv2_sample_pushdown" ->
      """SELECT id % 32 AS bucket, count(*) AS n_rows,
        | sum((id * 2654435761) % 1000003)::BIGINT AS sum_val
        |FROM (SELECT unnest(generate_series(0, 199999))::BIGINT AS id)
        |WHERE ((id * 2246822519) % 1000003) / 1000003.0 < 0.25
        |GROUP BY 1""".stripMargin,
    // the 100-row ordered prefix of the 100M-row virtual table
    "dsv2_topn_pushdown" ->
      """SELECT count(*) AS n_rows,
        | sum((id * 2654435761) % 1000003)::BIGINT AS sum_val,
        | max(id) AS max_id
        |FROM (SELECT unnest(generate_series(0, 99))::BIGINT AS id)""".stripMargin,
    // the aggregate with the two DELETEd slices excised
    "dsv2_catalog_delete" ->
      """SELECT (o_custkey % 7)::BIGINT AS band, o_orderstatus AS status,
        | count(*) AS n_orders,
        | sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |FROM orders
        |GROUP BY 1, 2
        |HAVING band <> 3 AND status <> 'P'""".stripMargin,
    // the UPDATE arithmetic replayed over the fixture aggregate
    "dsv2_catalog_update" ->
      """SELECT band,
        | CASE WHEN band >= 5 THEN status || '+' ELSE status END AS status,
        | n_orders,
        | CASE WHEN band >= 5 THEN cents + n_orders ELSE cents END AS cents
        |FROM (SELECT (o_custkey % 7)::BIGINT AS band, o_orderstatus AS status,
        |       count(*) AS n_orders,
        |       sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |      FROM orders GROUP BY 1, 2)""".stripMargin,
    // incremental upsert must converge to the recompute-from-scratch
    // aggregate over ALL orders
    "dsv2_catalog_merge" ->
      """SELECT o_orderstatus AS status, count(*) AS n_orders,
        | sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |FROM orders GROUP BY 1""".stripMargin,
    // every snapshot replayed declaratively: v0 = the CTAS aggregate,
    // v1 = +marker row, v2 = the UPDATE arithmetic, v3 = the DELETE cut
    "dsv2_time_travel" ->
      """WITH base AS (
        |  SELECT (o_custkey % 7)::BIGINT AS band, o_orderstatus AS status,
        |         count(*)::BIGINT AS n_orders,
        |         sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |  FROM orders GROUP BY 1, 2),
        |v1 AS (SELECT * FROM base UNION ALL SELECT 99, 'X', 0, 0),
        |v2 AS (SELECT band, status, n_orders,
        |        CASE WHEN band >= 5 THEN cents + n_orders ELSE cents END AS cents
        |       FROM v1),
        |v3 AS (SELECT * FROM v2 WHERE band <> 3)
        |SELECT 0::BIGINT AS version,
        |       (SELECT count(*) FROM base)::BIGINT AS n_rows,
        |       (SELECT sum(cents) FROM base)::BIGINT AS total_cents
        |UNION ALL SELECT 1, (SELECT count(*) FROM v1)::BIGINT, (SELECT sum(cents) FROM v1)::BIGINT
        |UNION ALL SELECT 2, (SELECT count(*) FROM v2)::BIGINT, (SELECT sum(cents) FROM v2)::BIGINT
        |UNION ALL SELECT 3, (SELECT count(*) FROM v3)::BIGINT, (SELECT sum(cents) FROM v3)::BIGINT""".stripMargin,
    // both snapshots replayed: pre = the F-status aggregate the CTAS
    // wrote, post = the O-status aggregate the overwrite swapped in
    "dsv2_catalog_overwrite" ->
      """SELECT 'pre' AS snapshot, o_orderpriority AS pri, count(*)::BIGINT AS n_orders,
        | sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |FROM orders WHERE o_orderstatus = 'F' GROUP BY 2
        |UNION ALL
        |SELECT 'post', o_orderpriority, count(*)::BIGINT,
        | sum(round(o_totalprice * 100)::BIGINT)::BIGINT
        |FROM orders WHERE o_orderstatus = 'O' GROUP BY 2""".stripMargin,
    // the two requested bands replayed; the clustering itself (files
    // skip) is spec-proven, the gate proves the exchange+sort write
    // reordered rows without losing or duplicating any
    "dsv2_clustered_write" ->
      """SELECT (o_custkey % 4)::BIGINT AS band, count(*)::BIGINT AS n_orders,
        | sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |FROM orders WHERE o_custkey % 4 IN (1, 3)
        |GROUP BY 1""".stripMargin,
    // the four drained epochs == the full sequence: exactly-once or the
    // hash breaks
    "dsv2_stream_sink" ->
      """SELECT id % 32 AS bucket, count(*) AS n_rows,
        | sum((id * 2654435761) % 1000003)::BIGINT AS sum_val
        |FROM (SELECT unnest(generate_series(0, 39999))::BIGINT AS id)
        |GROUP BY 1""".stripMargin,
    // the band-filtered aggregate replayed; the file pruning itself is
    // spec-proven (the scan's parts metrics), the gate proves skipping
    // loses no rows
    "dsv2_data_skipping" ->
      """SELECT (o_custkey % 4)::BIGINT AS band, count(*)::BIGINT AS n_orders,
        | sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |FROM orders WHERE o_custkey % 4 >= 2
        |GROUP BY 1""".stripMargin,
    // the CDF fold must reconstruct the final table: CTAS + marker row,
    // the UPDATE arithmetic on band >= 3, minus the deleted band
    "dsv2_cdf_stream" ->
      """WITH base AS (
        |  SELECT (o_custkey % 5)::BIGINT AS band, o_orderstatus AS status,
        |         count(*)::BIGINT AS n_orders,
        |         sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |  FROM orders GROUP BY 1, 2),
        |v1 AS (SELECT * FROM base UNION ALL SELECT 77, 'Z', 5, 1234),
        |v2 AS (SELECT band, status, n_orders,
        |        CASE WHEN band >= 3 THEN cents + n_orders ELSE cents END AS cents
        |       FROM v1)
        |SELECT band, status, n_orders, cents FROM v2 WHERE band <> 1""".stripMargin,
    // every change class restated declaratively: inserts = CTAS snapshot
    // + the marker row, pre/postimages = the band >= 3 UPDATE's operands
    // and results, deletes = band 1 at its pre-update (1 < 3) values;
    // the OPTIMIZE commit contributes NOTHING — any leak inflates a
    // class count and breaks the hash
    "dsv2_cdf_net" ->
      """WITH base AS (
        |  SELECT (o_custkey % 5)::BIGINT AS band, o_orderstatus AS status,
        |         count(*)::BIGINT AS n_orders,
        |         sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |  FROM orders GROUP BY 1, 2),
        |t1 AS (SELECT * FROM base UNION ALL SELECT 77, 'Z', 5, 1234),
        |changes AS (
        |  SELECT 'insert' AS change_type, n_orders, cents FROM t1
        |  UNION ALL
        |  SELECT 'update_preimage', n_orders, cents FROM t1 WHERE band >= 3
        |  UNION ALL
        |  SELECT 'update_postimage', n_orders, cents + n_orders FROM t1 WHERE band >= 3
        |  UNION ALL
        |  SELECT 'delete', n_orders, cents FROM t1 WHERE band = 1)
        |SELECT change_type, count(*)::BIGINT AS n_rows,
        |       sum(n_orders)::BIGINT AS sum_orders,
        |       sum(cents)::BIGINT AS sum_cents, true AS compacted
        |FROM changes GROUP BY 1""".stripMargin,
    // replica == source: the replica table is read, the ORACLE replays
    // the source's statements declaratively — exactly-once end to end
    "dsv2_cdc_pipeline" ->
      """WITH base AS (
        |  SELECT (o_orderkey % 40)::BIGINT AS k, count(*)::BIGINT AS n_orders,
        |         sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |  FROM orders GROUP BY 1),
        |t1 AS (SELECT * FROM base UNION ALL SELECT 777, 1, 999),
        |t2 AS (SELECT k, n_orders,
        |        CASE WHEN k % 4 = 0 THEN cents - n_orders ELSE cents END AS cents
        |       FROM t1)
        |SELECT k, n_orders, cents FROM t2 WHERE NOT (k >= 35 AND k < 40)""".stripMargin,
    // incremental == recompute: the ORACLE aggregates the replayed final
    // base table directly; the query only ever saw the change stream
    "dsv2_mv_incremental" ->
      """WITH base AS (
        |  SELECT (o_orderkey % 50)::BIGINT AS k,
        |         sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |  FROM orders GROUP BY 1),
        |t0 AS (SELECT k, (k % 7)::BIGINT AS cat, cents FROM base),
        |t1 AS (SELECT * FROM t0
        |       UNION ALL
        |       SELECT id, (id % 7)::BIGINT, id * 10 FROM range(1000, 1010) t(id)),
        |t2 AS (SELECT k, cat,
        |        CASE WHEN k % 2 = 0 THEN cents + 7 ELSE cents END AS cents
        |       FROM t1),
        |t3 AS (SELECT * FROM t2 WHERE cat <> 3)
        |SELECT cat, count(*)::BIGINT AS n_rows, sum(cents)::BIGINT AS sum_cents
        |FROM t3 GROUP BY 1""".stripMargin,
    // the MoR read contract: scan minus deletion vectors == the replayed
    // statements; mor_base_kept gates the write contract Spark-side
    "dsv2_mor_dml" ->
      """WITH base AS (
        |  SELECT (o_orderkey % 45)::BIGINT AS k, count(*)::BIGINT AS n_orders,
        |         sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |  FROM orders GROUP BY 1),
        |t1 AS (SELECT * FROM base
        |       UNION ALL
        |       SELECT id, 1::BIGINT, id * 100 FROM range(500, 510) t(id)),
        |t2 AS (SELECT k, n_orders,
        |        CASE WHEN k % 3 = 1 THEN cents - n_orders ELSE cents END AS cents
        |       FROM t1)
        |SELECT k, n_orders, cents, true AS mor_base_kept
        |FROM t2 WHERE k % 5 <> 2""".stripMargin,
    // the join replayed declaratively; the riders gate the KMV estimate
    // band and the plan-time broadcast flip (with its statless control)
    "dsv2_ndv_stats" ->
      """WITH f AS (
        |  SELECT (o_orderkey % 50)::BIGINT AS k,
        |         round(o_totalprice * 100)::BIGINT AS cents
        |  FROM orders),
        |d AS (SELECT o_orderkey AS k, o_custkey AS ck FROM orders)
        |SELECT f.k, f.cents, d.ck, true AS ndv_estimate_ok,
        |       true AS cbo_bhj_planned, true AS statless_smj
        |FROM f JOIN d ON f.k = d.k WHERE d.k = 7""".stripMargin,
    // the branch-staged DELETE/UPDATE/INSERT replayed declaratively over
    // the base aggregate; riders gate main's byte-identical isolation
    // while staged, the MoR (vector-not-rewrite) staging shape, and the
    // branch-pinned audit read
    "dsv2_branch_mor" ->
      """WITH base AS (
        |  SELECT (o_orderkey % 29)::BIGINT AS k,
        |         sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |  FROM orders GROUP BY 1),
        |t1 AS (SELECT k, CASE WHEN k % 5 = 2 THEN cents + 7 ELSE cents END AS cents
        |       FROM base WHERE k % 5 <> 1)
        |SELECT k, cents, true AS staged_isolated, true AS branch_dvs_staged,
        |       true AS audit_saw_changes
        |FROM (SELECT * FROM t1 UNION ALL SELECT 900::BIGINT, 111::BIGINT)""".stripMargin,
    // the three CDC epochs replayed declaratively (insert wave, then
    // upsert+delete, then reinsert) — upsert = delete-then-insert, a
    // delete masks only strictly-older rows; riders gate the
    // zero-base-file-read write path, the per-epoch eq-delete lines,
    // the raw changelog audit trail, and the OPTIMIZE materialize+GC
    "dsv2_stream_cdc_upsert" ->
      """WITH base AS (
        |  SELECT (o_orderkey % 41)::BIGINT AS k, count(*)::BIGINT AS n_orders,
        |         sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |  FROM orders GROUP BY 1),
        |t1 AS (SELECT * FROM base
        |       UNION ALL SELECT id::BIGINT, 1::BIGINT, (id * 100)::BIGINT
        |       FROM range(600, 610) t(id)),
        |t2 AS (SELECT * FROM t1 WHERE k NOT IN (2, 9, 601, 3, 14, 600)
        |       UNION ALL SELECT k::BIGINT, 77::BIGINT, (k * 1000)::BIGINT
        |       FROM (VALUES (3), (14), (600)) u(k)),
        |t3 AS (SELECT * FROM t2 WHERE k <> 9
        |       UNION ALL SELECT 2::BIGINT, 5::BIGINT, 555::BIGINT
        |       UNION ALL SELECT 9::BIGINT, 6::BIGINT, 666::BIGINT)
        |SELECT k, n_orders, cents, true AS cdc_write_cheap,
        |       true AS eqdel_per_epoch, true AS landing_complete,
        |       true AS eq_gcd
        |FROM t3""".stripMargin,
    // the published (post-fast-forward) state: epoch-1 inserts 500-504,
    // epoch-2 upserts k=3/500 and deletes k=2/501; riders gate main's
    // mid-audit isolation, the branch-chain replay watermark, and the
    // eq-delete -> deletion-vector conversion at publish
    "dsv2_cdc_branch_apply" ->
      """WITH base AS (
        |  SELECT (o_orderkey % 37)::BIGINT AS k, count(*)::BIGINT AS n_orders,
        |         sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |  FROM orders GROUP BY 1),
        |t1 AS (SELECT * FROM base
        |       UNION ALL SELECT id::BIGINT, 1::BIGINT, (id * 100)::BIGINT
        |       FROM range(500, 505) t(id)),
        |t2 AS (SELECT * FROM t1 WHERE k NOT IN (2, 501, 3, 500)
        |       UNION ALL SELECT k::BIGINT, 77::BIGINT, (k * 1000)::BIGINT
        |       FROM (VALUES (3), (500)) u(k))
        |SELECT k, n_orders, cents, true AS main_isolated_mid_audit,
        |       true AS branch_watermarked, true AS publish_converts_eqdels
        |FROM t2""".stripMargin,
    // the final base state (orders-derived + the two inserted rows)
    // aggregated directly; the riders gate the MV-only optimized plan,
    // the rewritten-vs-direct row identity, the staleness disarm, and
    // the refresh re-arm
    // the final base truth (update absorbed) aggregated directly; the
    // riders gate the watermark-armed MV serving, the staleness disarm
    // on an un-absorbed commit, and the no-re-registration re-arm after
    // the next maintenance drain
    // the fact-dim rollup replayed declaratively (the dangling dim
    // insert matches no fact key, so only the version moved); riders
    // gate the MV-only star plan, rewritten-vs-direct identity, the
    // correctness-first staleness disarm, and the refresh re-arm
    // the post-DML table replayed declaratively (update then append);
    // riders gate the commit-time sidecar pair, the sidecar-vs-diff feed
    // equivalence, and the preserved update classification
    "dsv2_cdc_sidecar" ->
      """WITH base AS (
        |  SELECT (o_orderkey % 31)::BIGINT AS k,
        |         round(o_totalprice * 100)::BIGINT AS cents FROM orders),
        |u AS (SELECT k, CASE WHEN k % 4 = 1 THEN cents + 5 ELSE cents END AS cents
        |      FROM base)
        |SELECT k, cents, true AS sidecar_written, true AS feed_equiv,
        |       true AS update_classified
        |FROM (SELECT * FROM u
        |      UNION ALL SELECT (900 + id)::BIGINT, (id * 7)::BIGINT
        |      FROM range(0, 5) t(id))""".stripMargin,
    // the policy-filtered table replayed declaratively; riders gate the
    // hidden rows, the metadata-only refusal, and the time-travel reach
    "dsv2_row_policy" ->
      """SELECT (o_orderkey % 40)::BIGINT AS k, (o_orderkey % 7)::BIGINT AS nat,
        |       round(o_totalprice * 100)::BIGINT AS cents,
        |       true AS policy_hides_rows, true AS policy_meta_refused,
        |       true AS policy_on_time_travel
        |FROM orders WHERE o_orderkey % 7 <> 3""".stripMargin,
    // the tokenized table replayed with DuckDB's own md5; riders gate
    // the join-preserving determinism and the no-raw-leak scan
    "dsv2_column_mask" ->
      """SELECT (o_orderkey % 40)::BIGINT AS k,
        |       md5(concat('u', (o_custkey % 50)::VARCHAR, '@ex.com')) AS email,
        |       round(o_totalprice * 100)::BIGINT AS cents,
        |       true AS mask_joins_work, true AS mask_no_raw_leak
        |FROM orders""".stripMargin,
    "dsv2_mv_star" ->
      """WITH f AS (SELECT o_custkey AS ck,
        |                  round(o_totalprice * 100)::BIGINT AS cents FROM orders),
        |d AS (SELECT c_custkey AS dk, c_mktsegment AS seg,
        |             (c_nationkey % 5)::BIGINT AS nat FROM customer
        |      UNION ALL SELECT 990001::BIGINT, 'MACHINERY', 2::BIGINT)
        |SELECT seg, count(*)::BIGINT AS n, sum(cents)::BIGINT AS cents,
        |       true AS star_rewrite_used, true AS star_result_match,
        |       true AS star_stale_scans_base, true AS star_refreshed_used
        |FROM f JOIN d ON ck = dk WHERE nat = 2 GROUP BY seg""".stripMargin,
    "dsv2_mv_serve" ->
      """SELECT (o_orderkey % 6)::BIGINT AS cat, count(*)::BIGINT AS n,
        |       sum(round(o_totalprice * 100)::BIGINT
        |           + CASE WHEN o_orderkey % 6 = 2 THEN 3 ELSE 0 END)::BIGINT AS cents,
        |       true AS mv_serves_fresh, true AS mv_stale_disarms,
        |       true AS mv_rearms_after_drain
        |FROM orders GROUP BY 1""".stripMargin,
    // the ref landscape as literals: tag on the middle snapshot, branch
    // forked at the head
    "dsv2_snapshots_meta" ->
      """SELECT * FROM (VALUES
        |  (0, 'create', 0, false, NULL),
        |  (1, 'append', 1, false, 'tag:rc'),
        |  (2, 'append', 2, true, 'branch:exp@1'))
        | t(version, op, n_files, is_head, refs)""".stripMargin,
    // the normalized landscape: a tag leasing 1, an audited branch
    // leasing its fork + one staged commit, an idle fork leasing 1
    "dsv2_refs_meta" ->
      """SELECT * FROM (VALUES
        |  ('rc', 'tag', 1, NULL, 1),
        |  ('exp', 'branch', 2, 1, 2),
        |  ('idle', 'branch', 2, 0, 1))
        | t(name, type, version, head, n_retained)""".stripMargin,
    // the diverged-then-promoted clone, read after the source is DROPPED;
    // riders gate self-containment, survival, and lazy-copy accounting
    "dsv2_clone_promote" ->
      """WITH base AS (
        |  SELECT (o_orderkey % 19)::BIGINT AS k, count(*)::BIGINT AS n,
        |         sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |  FROM orders GROUP BY 1)
        |SELECT k, n, CASE WHEN k = 5 THEN cents + 9 ELSE cents END AS cents,
        |       true AS promote_self_contained, true AS survives_source_drop,
        |       true AS promote_lazy, true AS promoted_names_compacted
        |FROM base""".stripMargin,
    // the five inserted rows; riders gate policy-driven retention, the
    // tag lease, and head integrity
    "dsv2_auto_vacuum" ->
      """SELECT id::BIGINT AS k, (id * 10)::BIGINT AS v,
        |       true AS retention_enforced, true AS tag_leased,
        |       true AS head_intact
        |FROM range(1, 6) t(id)""".stripMargin,
    // the same four-clause replay against the MoR target (k%29 space,
    // matched-delete k%4, by-source delete k%3); the rider gates that
    // every pre-merge base file survived by name (deltas, not rewrites)
    "dsv2_merge_by_source_mor" ->
      """WITH base AS (
        |  SELECT (o_orderkey % 29)::BIGINT AS k, count(*)::BIGINT AS n,
        |         sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |  FROM orders GROUP BY 1),
        |src AS (SELECT id::BIGINT AS k, 1::BIGINT AS n,
        |               (id * 1000)::BIGINT AS cents FROM range(18, 40) t(id))
        |SELECT k, n, cents, true AS mor_write_cheap FROM (
        |  SELECT b.k, b.n, (-b.cents)::BIGINT AS cents
        |  FROM base b LEFT JOIN src s ON b.k = s.k
        |  WHERE s.k IS NULL AND b.k % 3 <> 0
        |  UNION ALL
        |  SELECT b.k, b.n, s.cents FROM base b JOIN src s ON b.k = s.k
        |  WHERE b.k % 4 <> 0
        |  UNION ALL
        |  SELECT s.k, s.n, s.cents FROM src s LEFT JOIN base b ON s.k = b.k
        |  WHERE b.k IS NULL)""".stripMargin,
    // the routed layout's rollup: pure bucket arithmetic, NO NULL group
    // (the engine routed the single INSERT); riders gate file purity,
    // one-file-per-bucket, and the SQL system function's agreement
    "dsv2_partition_route" ->
      """SELECT 'bucket(4,k)' AS spec,
        |       ((k * 2654435761) % 4)::BIGINT AS part,
        |       count(*)::BIGINT AS n_rows,
        |       true AS files_partition_pure, true AS one_file_per_bucket,
        |       true AS sql_function_agrees
        |FROM (SELECT id::BIGINT AS k FROM range(0, 60) t(id))
        |GROUP BY 2""".stripMargin,
    // the multi-transform rollup: one declarative-arithmetic block per
    // transform (day = id%3 because ts=(id%3)*86400+id with id<86400;
    // bucket = the Knuth hash), no NULL group on either dimension; the
    // riders gate tuple-routed file purity and per-dimension pruning
    "dsv2_partition_multi" ->
      """SELECT spec, part, n_rows,
        |       true AS one_file_per_pair, true AS pruned_days,
        |       true AS pruned_bucket, true AS pruned_conjunction
        |FROM (
        |  SELECT 'days(ts)' AS spec, (id % 3)::BIGINT AS part,
        |         count(*)::BIGINT AS n_rows
        |  FROM range(0, 120) t(id) GROUP BY 2
        |  UNION ALL
        |  SELECT 'bucket(4,k)', ((id * 2654435761) % 4)::BIGINT,
        |         count(*)::BIGINT
        |  FROM range(0, 120) t(id) GROUP BY 2)""".stripMargin,
    // the language histogram replayed declaratively; the riders gate the
    // string-transform pruning (equality + range through the prefix
    // code), routed per-language file purity, and SQL-function agreement
    "dsv2_partition_string" ->
      """SELECT lang, count(*)::BIGINT AS n_docs, min(doc)::BIGINT AS first_doc,
        |       true AS one_file_per_lang, true AS pruned_string_eq,
        |       true AS pruned_string_range, true AS sql_functions_agree
        |FROM (SELECT (['en','de','fr','ja','zh'])[(id % 5)::INT + 1] AS lang,
        |             id::BIGINT AS doc
        |      FROM range(0, 100) t(id))
        |GROUP BY 1""".stripMargin,
    // the day histogram replayed declaratively (day = id % 3, k = id);
    // riders gate day-pure routed files, structural ts-range pruning,
    // and the timestamp-typed days() SQL function's agreement
    "dsv2_partition_timestamp" ->
      """SELECT (id % 3)::BIGINT AS day_no, count(*)::BIGINT AS n_rows,
        |       min(id)::BIGINT AS min_k, max(id)::BIGINT AS max_k,
        |       true AS one_file_per_day, true AS pruned_ts_range,
        |       true AS sql_function_agrees
        |FROM range(0, 90) t(id)
        |GROUP BY 1""".stripMargin,
    // the month histogram replayed declaratively (month = id % 3 by
    // construction of the dates); riders gate month-pure routed files,
    // structural DATE-range pruning, and the months() SQL function
    "dsv2_partition_date" ->
      """SELECT month_no, count(*)::BIGINT AS n_rows, min(d)::VARCHAR AS first_d,
        |       max(k)::BIGINT AS max_k, true AS one_file_per_month,
        |       true AS pruned_date_range, true AS sql_function_agrees
        |FROM (SELECT (id % 3)::BIGINT AS month_no,
        |             DATE '1970-01-01' + CAST((id % 3) * 31 + id % 20 AS INT) AS d,
        |             id::BIGINT AS k
        |      FROM range(0, 90) t(id))
        |GROUP BY 1""".stripMargin,
    // the bucket transform recomputed declaratively over the same rows
    "dsv2_partitions_meta" ->
      """SELECT 'bucket(4,k)' AS spec,
        |       ((k * 2654435761) % 4)::BIGINT AS part,
        |       count(*)::BIGINT AS n_rows
        |FROM (SELECT id::BIGINT AS k FROM range(0, 60) t(id))
        |GROUP BY 2
        |UNION ALL SELECT 'bucket(4,k)', NULL::BIGINT, 2::BIGINT""".stripMargin,
    // all four clause outcomes replayed declaratively (DuckDB has no
    // MERGE): matched k%5=0 deleted, matched updated to source cents,
    // source-only inserted, target-only even deleted / odd negated
    "dsv2_merge_by_source" ->
      """WITH base AS (
        |  SELECT (o_orderkey % 31)::BIGINT AS k, count(*)::BIGINT AS n,
        |         sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |  FROM orders GROUP BY 1),
        |src AS (SELECT id::BIGINT AS k, 1::BIGINT AS n,
        |               (id * 1000)::BIGINT AS cents FROM range(20, 46) t(id))
        |SELECT b.k, b.n, (-b.cents)::BIGINT AS cents
        |FROM base b LEFT JOIN src s ON b.k = s.k
        |WHERE s.k IS NULL AND b.k % 2 = 1
        |UNION ALL
        |SELECT b.k, b.n, s.cents FROM base b JOIN src s ON b.k = s.k
        |WHERE b.k % 5 <> 0
        |UNION ALL
        |SELECT s.k, s.n, s.cents FROM src s LEFT JOIN base b ON s.k = b.k
        |WHERE b.k IS NULL""".stripMargin,
    // the 8 inserted rows, bytes re-binned by the hook, rows untouched;
    // riders gate the unattended optimize, self-termination, and identity
    "dsv2_auto_compact" ->
      """SELECT id::BIGINT AS k, (id * 10)::BIGINT AS v,
        |       true AS auto_compacted, true AS self_terminating,
        |       true AS rows_intact
        |FROM range(0, 8) t(id)""".stripMargin,
    // the diverged clone: source truth + the clone's own UPDATE, minus
    // the source's post-clone insert; riders gate zero-copy + isolation
    "dsv2_shallow_clone" ->
      """WITH base AS (
        |  SELECT (o_orderkey % 23)::BIGINT AS k, count(*)::BIGINT AS n,
        |         sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |  FROM orders GROUP BY 1)
        |SELECT k, n, CASE WHEN k = 7 THEN cents + 5 ELSE cents END AS cents,
        |       true AS clone_zero_copy, true AS source_isolated,
        |       true AS clone_isolated
        |FROM base""".stripMargin,
    // the scripted table's audit trail, replayed as literals; riders gate
    // files/history cross-consistency and the COW zero-vector invariant
    "dsv2_metadata_tables" ->
      """SELECT * FROM (VALUES
        |  (0, 'create', 0, true, true),
        |  (1, 'append', 0, true, true),
        |  (2, 'append', 0, true, true),
        |  (3, 'update', 0, true, true),
        |  (4, 'delete', 0, true, true))
        | t(version, op, n_eqdels, files_live_match, files_head_consistent)""".stripMargin,
    // the commit-hook-maintained MV's final truth after four auto- or
    // manually-landed commits: +7 on cat 3, +11 on cat 5, cat 0 deleted,
    // +1 on cat 1 (hook dropped — served from base, still exact)
    "dsv2_mv_autorefresh" ->
      """SELECT (o_orderkey % 7)::BIGINT AS cat, count(*)::BIGINT AS n,
        |       sum(round(o_totalprice * 100)::BIGINT
        |           + CASE WHEN o_orderkey % 7 = 3 THEN 7
        |                  WHEN o_orderkey % 7 = 5 THEN 11
        |                  WHEN o_orderkey % 7 = 1 THEN 1 ELSE 0 END)::BIGINT AS cents,
        |       true AS auto_serves_after_commit, true AS storm_coalesced_serves,
        |       true AS dropped_hook_disarms
        |FROM orders WHERE o_orderkey % 7 <> 0 GROUP BY 1""".stripMargin,
    "dsv2_mv_rewrite" ->
      """WITH base AS (
        |  SELECT (o_orderkey % 40)::BIGINT AS k, (o_orderkey % 5)::BIGINT AS cat,
        |         round(o_totalprice * 100)::BIGINT AS cents
        |  FROM orders
        |  UNION ALL SELECT 7::BIGINT, 2::BIGINT, 990001::BIGINT
        |  UNION ALL SELECT 55::BIGINT, 4::BIGINT, 990002::BIGINT)
        |SELECT cat, count(*)::BIGINT AS n, sum(cents)::BIGINT AS cents,
        |       min(cents)::BIGINT AS lo, max(cents)::BIGINT AS hi,
        |       avg(cents) AS mean, true AS mv_rewrite_used,
        |       true AS mv_result_match, true AS mv_stale_scans_base,
        |       true AS mv_refreshed_used
        |FROM base WHERE k < 20 GROUP BY cat""".stripMargin,
    // after expiring everything before commit 2, only the third wave
    // survives; riders gate the metadata-only expiry, intact pre-expiry
    // time travel, and the physical vacuum reclaim
    "dsv2_retention_expire" ->
      """SELECT id::BIGINT AS k, (id * 3)::BIGINT AS v,
        |       true AS expire_metadata_only, true AS time_travel_intact,
        |       true AS vacuum_reclaims
        |FROM range(200, 230) t(id)""".stripMargin,
    // the nearly-disjoint two-join pipeline replayed declaratively; the
    // riders gate the histogram-driven broadcast of the join
    // intermediate, the ndv-only control staying sort-merge, and the
    // quantitative estimate bands (histogram within 10x of truth, ndv
    // at least 20x off)
    "dsv2_hist_join_cbo" ->
      """WITH a AS (
        |  SELECT (o_orderkey % 50)::BIGINT AS ck,
        |         (CASE WHEN o_orderkey % 20 = 0 THEN 1000000 + o_orderkey
        |          ELSE o_orderkey % 10 END)::BIGINT AS k
        |  FROM orders),
        |b AS (
        |  SELECT (CASE WHEN o_orderkey % 20 = 0 THEN 1000000 + o_orderkey
        |          ELSE 2000000 + (o_orderkey % 10) END)::BIGINT AS k,
        |         (o_orderkey % 7)::BIGINT AS vb
        |  FROM orders),
        |c AS (SELECT (o_orderkey % 50)::BIGINT AS ck,
        |             round(o_totalprice * 100)::BIGINT AS cents FROM orders),
        |ab AS (SELECT a.ck, b.vb FROM a JOIN b ON a.k = b.k)
        |SELECT c.ck, count(*)::BIGINT AS n, sum(ab.vb)::BIGINT AS svb,
        |       sum(c.cents)::BIGINT AS cents, true AS hist_join_bhj,
        |       true AS ndv_join_smj, true AS join_est_band
        |FROM c JOIN ab ON c.ck = ab.ck GROUP BY c.ck""".stripMargin,
    // the skew-tail join replayed declaratively (dim = CTAS skew mapping
    // + the second INSERT wave); the riders gate the exact cross-file
    // histogram merge, the tail estimate band, and the histogram-driven
    // broadcast flip with its ndv-only control
    "dsv2_hist_cbo" ->
      """WITH f AS (
        |  SELECT (o_orderkey % 50)::BIGINT AS k,
        |         round(o_totalprice * 100)::BIGINT AS cents
        |  FROM orders),
        |d AS (
        |  SELECT (o_orderkey % 50)::BIGINT AS k,
        |         (CASE WHEN o_orderkey % 20 != 0 THEN o_orderkey % 8
        |          ELSE 1000000 + (o_orderkey % 997) * 3000 END)::BIGINT AS v
        |  FROM orders
        |  UNION ALL
        |  SELECT (id % 50)::BIGINT, (1000000 + (id % 997) * 3000)::BIGINT
        |  FROM range(200, 220) t(id))
        |SELECT f.k, count(*)::BIGINT AS n, sum(f.cents)::BIGINT AS cents,
        |       sum(d.v)::BIGINT AS sv, true AS hist_mass_exact,
        |       true AS hist_est_band, true AS cbo_bhj_planned,
        |       true AS ndvonly_smj
        |FROM f JOIN d ON f.k = d.k WHERE d.v >= 1000000 GROUP BY f.k""".stripMargin,
    // published main = base + the AUDITED branch batch + the concurrent
    // main insert; the bad audit2 batch never lands (its fast-forward
    // lost deterministically). Riders gate isolation, the branch-pinned
    // audit read, the deterministic conflict, and the vacuum reclaim.
    "dsv2_branch_wap" ->
      """WITH base AS (
        |  SELECT (o_orderkey % 33)::BIGINT AS k,
        |         sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |  FROM orders GROUP BY 1)
        |SELECT k, cents, true AS wap_isolated, true AS audit_on_branch,
        |       true AS ff_conflict_detected, true AS branch_reclaimed
        |FROM (SELECT * FROM base
        |      UNION ALL SELECT id, id * 7 FROM range(700, 710) t(id)
        |      UNION ALL SELECT 800::BIGINT, 808::BIGINT)""".stripMargin,
    // the branch-staged eq-delete pipeline replayed declaratively: base
    // + main wave + branch wave 1, minus the two equality-deleted keys
    // (masking both fork files and the older branch file), plus the
    // REINSERTED k=5 row (branch-relative sequence scoping); the riders
    // gate the sidecar-only branch delete, main isolation, the masked
    // audit read, and the vector-converting publish
    "dsv2_branch_eqdelete" ->
      """WITH base AS (
        |  SELECT (o_orderkey % 37)::BIGINT AS k, count(*)::BIGINT AS n_orders,
        |         sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |  FROM orders GROUP BY 1
        |  UNION ALL SELECT id, 1::BIGINT, id * 10 FROM range(500, 510) t(id)
        |  UNION ALL SELECT 5::BIGINT, 1::BIGINT, 11111::BIGINT
        |  UNION ALL SELECT 600::BIGINT, 1::BIGINT, 6000::BIGINT)
        |SELECT k, n_orders, cents, true AS eq_sidecar_only,
        |       true AS main_untouched, true AS audit_masked,
        |       true AS published_by_vectors
        |FROM (SELECT * FROM base WHERE k NOT IN (5, 17)
        |      UNION ALL SELECT 5::BIGINT, 1::BIGINT, 22222::BIGINT)""".stripMargin,
    // the final state replayed declaratively: base + first insert wave,
    // minus the three equality-deleted keys, plus the REINSERTED k=2 row
    // (sequence scoping: the delete only masks strictly-older files);
    // the riders gate the zero-rewrite write and the OPTIMIZE GC
    "dsv2_mor_eqdelete" ->
      """WITH base AS (
        |  SELECT (o_orderkey % 37)::BIGINT AS k, count(*)::BIGINT AS n_orders,
        |         sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |  FROM orders GROUP BY 1),
        |t1 AS (SELECT * FROM base
        |       UNION ALL
        |       SELECT id, 1::BIGINT, id * 100 FROM range(600, 610) t(id)),
        |t2 AS (SELECT * FROM t1 WHERE k NOT IN (2, 9, 607))
        |SELECT k, n_orders, cents, true AS eq_no_rewrite, true AS eq_delete_gcd
        |FROM (SELECT * FROM t2
        |      UNION ALL SELECT 2::BIGINT, 77::BIGINT, 7700::BIGINT)""".stripMargin,
    // both snapshots replayed declaratively: 'current' = CTAS + insert +
    // update, 'baseline' = the CTAS state — readable only because the
    // tag leased v0 through the vacuum
    "dsv2_snapshot_tag" ->
      """WITH base AS (
        |  SELECT (o_orderkey % 30)::BIGINT AS k,
        |         sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |  FROM orders GROUP BY 1),
        |cur AS (
        |  SELECT k, CASE WHEN k % 2 = 0 THEN cents + 1 ELSE cents END AS cents
        |  FROM (SELECT * FROM base UNION ALL SELECT 555, 42))
        |SELECT 'current' AS snapshot, k, cents FROM cur
        |UNION ALL
        |SELECT 'baseline' AS snapshot, k, cents FROM base""".stripMargin,
    // only the compliant rows exist — the refused statements left no
    // partial state, and all three enforcement flags must read true
    "dsv2_check_constraint" ->
      """WITH base AS (
        |  SELECT (o_orderkey % 25)::BIGINT AS k,
        |         sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |  FROM orders GROUP BY 1)
        |SELECT k, cents, true AS neg_rejected, true AS add_refused,
        |       true AS cap_rejected
        |FROM (SELECT * FROM base UNION ALL SELECT 902, 7)""".stripMargin,
    // content = the straight per-priority aggregate; bloom_pruned rides
    // the plan-time proof (subset for a hit, zero files for a miss)
    "dsv2_bloom_skipping" ->
      """SELECT o_orderpriority AS prio, count(*)::BIGINT AS n_orders,
        |       sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents,
        |       true AS bloom_pruned
        |FROM orders GROUP BY 1""".stripMargin,
    // values replayed declaratively; metadata_only = the structural
    // zero-read proof (the aggregate answered with every part file hidden)
    "dsv2_metadata_agg" ->
      """WITH t AS (
        |  SELECT (o_orderkey % 35)::BIGINT AS k,
        |         sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |  FROM orders GROUP BY 1
        |  UNION ALL
        |  SELECT id, id * 11 FROM range(600, 610) r(id))
        |SELECT count(*)::BIGINT AS n_rows, min(k)::BIGINT AS min_k,
        |       max(k)::BIGINT AS max_k, min(cents)::BIGINT AS min_cents,
        |       max(cents)::BIGINT AS max_cents, true AS metadata_only
        |FROM t""".stripMargin,
    // the full audit trail restated as literals: seven verbs, each
    // snapshot's op AND its exact time-travel cardinality
    "dsv2_history" ->
      """SELECT version::BIGINT AS version, op, n_rows::BIGINT AS n_rows
        |FROM (VALUES (0, 'create', 100), (1, 'append', 150),
        |             (2, 'update', 150), (3, 'delete', 140),
        |             (4, 'overwrite', 40), (5, 'append', 60),
        |             (6, 'append', 80), (7, 'optimize', 80))
        |     AS t(version, op, n_rows)""".stripMargin,
    // the post-rollback head must equal the two GOOD slices exactly —
    // the bad batch's absence is the hashed contract; riders gate the
    // audit, history immutability, and the op-tagged rollback commit
    "dsv2_rollback" ->
      """WITH good AS (
        |  SELECT o_orderkey AS k, round(o_totalprice * 100)::BIGINT AS cents
        |  FROM orders WHERE o_orderstatus IN ('F', 'O'))
        |SELECT count(*)::BIGINT AS n_rows, sum(cents)::BIGINT AS cents,
        |       min(cents)::BIGINT AS min_cents,
        |       count(DISTINCT k)::BIGINT AS n_keys,
        |       true AS audit_caught, true AS history_kept,
        |       true AS rollback_op_tagged
        |FROM good""".stripMargin,
    // re-clustering must be content-neutral: the post-evolution table
    // equals the straight fixture aggregate; `evolved` rides the hash
    // (restamped sort keys + disjoint new-key ranges + pruning + intact
    // pre-evolution time travel)
    "dsv2_cluster_evolution" ->
      """SELECT (o_custkey % 8)::BIGINT AS band,
        | count(*)::BIGINT AS n_orders,
        | sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents,
        | true AS evolved
        |FROM orders WHERE (o_custkey % 8) >= 6 GROUP BY 1""".stripMargin,
    // both insert waves replayed declaratively (each row lands in exactly
    // one bucket-pure INSERT of its wave); the riders gate the hidden-
    // partitioning pruning and the rewrite-free evolution
    "dsv2_partition_evolution" ->
      """WITH t AS (
        |  SELECT o_orderkey AS okey,
        |         round(o_totalprice * 100)::BIGINT AS cents
        |  FROM orders)
        |SELECT count(*)::BIGINT AS n_rows, sum(cents)::BIGINT AS cents,
        |       count(DISTINCT okey)::BIGINT AS n_keys,
        |       true AS pruned_old_spec, true AS evolved_without_rewrite,
        |       true AS pruned_both_specs
        |FROM t""".stripMargin,
    // compaction must be content-preserving: the post-OPTIMIZE table
    // equals the straight fixture aggregate bit-for-bit; `compacted`
    // rides the hash so a no-op maintenance pass fails the gate
    "dsv2_compaction" ->
      """SELECT (o_custkey % 8)::BIGINT AS band, o_orderstatus AS status,
        | count(*)::BIGINT AS n_orders,
        | sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents,
        | true AS compacted
        |FROM orders GROUP BY 1, 2""".stripMargin,
    // pre-ALTER rows surface as src='legacy' (NULL backfill), post-ALTER
    // inserts carry 'open' — both slices replayed from the fixture
    "dsv2_catalog_evolution" ->
      """SELECT (o_custkey % 5)::BIGINT AS band, 'legacy' AS src,
        | count(*)::BIGINT AS n_orders,
        | sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |FROM orders WHERE o_orderstatus = 'F' GROUP BY 1
        |UNION ALL
        |SELECT (o_custkey % 5)::BIGINT, 'open', count(*)::BIGINT,
        | sum(round(o_totalprice * 100)::BIGINT)::BIGINT
        |FROM orders WHERE o_orderstatus = 'O' GROUP BY 1""".stripMargin,
    // the three streamed commits replayed as one batch aggregate: the
    // drained tail must cover exactly the urgent+high+medium slices
    "dsv2_stream_table" ->
      """SELECT o_orderpriority AS pri, count(*)::BIGINT AS n_orders,
        | sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |FROM orders
        |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
        |GROUP BY 1""".stripMargin,
    // the DML replayed and classified: the marker row inserts, band>=5
    // groups update (cents moves by n_orders), band=3 groups delete;
    // everything value-identical drops out of the feed
    "dsv2_change_feed" ->
      """WITH base AS (
        |  SELECT (o_custkey % 7)::BIGINT AS band, o_orderstatus AS status,
        |         count(*)::BIGINT AS n_orders,
        |         sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |  FROM orders GROUP BY 1, 2)
        |SELECT band, status, 'update' AS change,
        |       cents AS cents_before, (cents + n_orders)::BIGINT AS cents_after
        |FROM base WHERE band >= 5 AND n_orders > 0
        |UNION ALL
        |SELECT band, status, 'delete', cents, NULL::BIGINT
        |FROM base WHERE band = 3
        |UNION ALL
        |SELECT 99::BIGINT, 'X', 'insert', NULL::BIGINT, 77::BIGINT""".stripMargin,
    // the TVF's net reconstruction == the declaratively replayed final
    // state (insert 501, +1 cents on k%6=2, k%9=4 deleted); riders gate
    // stream equivalence, the bounded window and the version stamps
    "dsv2_table_changes_tvf" ->
      """WITH base AS (
        |  SELECT (o_orderkey % 37)::BIGINT AS k, count(*)::BIGINT AS n,
        |         sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |  FROM orders GROUP BY 1),
        |v1 AS (SELECT * FROM base
        |       UNION ALL SELECT 501::BIGINT, 1::BIGINT, 111::BIGINT),
        |v2 AS (SELECT k, n,
        |              CASE WHEN k % 6 = 2 THEN (cents + 1)::BIGINT
        |                   ELSE cents END AS cents FROM v1)
        |SELECT k, n, cents, true AS tvf_equals_stream,
        |       true AS tvf_bounded_window, true AS commit_versions_stamped,
        |       true AS tvf_net_window, true AS version_pushdown_narrows
        |FROM v2 WHERE k % 9 <> 4""".stripMargin,
    // the bounded streaming drain folded back to the final table: base ∪
    // the inserted row, +2 cents on k%7=3, k%11=5 groups gone; riders
    // gate multiset equality with the batch TVF and one-commit pacing
    "dsv2_tvf_stream" ->
      """WITH base AS (
        |  SELECT (o_orderkey % 41)::BIGINT AS k, count(*)::BIGINT AS n,
        |         sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |  FROM orders GROUP BY 1),
        |v1 AS (SELECT * FROM base
        |       UNION ALL SELECT 601::BIGINT, 1::BIGINT, 222::BIGINT),
        |v2 AS (SELECT k, n,
        |              CASE WHEN k % 7 = 3 THEN (cents + 2)::BIGINT
        |                   ELSE cents END AS cents FROM v1)
        |SELECT k, n, cents, true AS stream_equals_tvf,
        |       true AS one_commit_per_trigger
        |FROM v2 WHERE k % 11 <> 5""".stripMargin,
    // the SQL-maintained MV's final truth: base ∪ the inserted row, +3
    // cents on cat 2, cat 96's group vanished; riders gate recompute
    // equality, the single-statement window, and the bounded TVF stats
    "dsv2_mv_sql_incremental" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, (o_orderkey % 97)::BIGINT AS cat,
        |         round(o_totalprice * 100)::BIGINT AS cents FROM orders
        |  UNION ALL SELECT 9000000::BIGINT, 77::BIGINT, 1234::BIGINT),
        |upd AS (SELECT k, cat,
        |               CASE WHEN cat = 2 THEN (cents + 3)::BIGINT
        |                    ELSE cents END AS cents FROM base)
        |SELECT cat, count(*)::BIGINT AS n_rows, sum(cents)::BIGINT AS sum_cents,
        |       true AS mv_matches_recompute, true AS window_single_statement,
        |       true AS changes_stats_bounded
        |FROM upd WHERE cat <> 96 GROUP BY cat""".stripMargin,
    // the order-independent checksum replayed arithmetically: sum of the
    // hash values mod 1000003 per bucket
    "dsv2_catalog_agg_function" ->
      """SELECT id % 32 AS bucket, count(*) AS n_rows,
        | (sum((id * 2654435761) % 1000003) % 1000003)::BIGINT AS cksum
        |FROM (SELECT unnest(generate_series(0, 32767))::BIGINT AS id)
        |GROUP BY 1""".stripMargin,
    // formula replay; every row must agree with the generated val column
    "dsv2_catalog_function" ->
      """SELECT id % 32 AS bucket, count(*) AS n_rows,
        | sum((id * 2654435761) % 1000003)::BIGINT AS sum_fn,
        | count(*) AS n_agree
        |FROM (SELECT unnest(generate_series(0, 16383))::BIGINT AS id)
        |GROUP BY 1""".stripMargin,
    // the CTAS aggregate plus the appended marker row
    "dsv2_catalog_ctas" ->
      """SELECT o_orderstatus AS status, count(*) AS n_orders,
        | sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |FROM orders GROUP BY 1
        |UNION ALL
        |SELECT 'X', 0::BIGINT, 0::BIGINT""".stripMargin,
    // final table replay: 'O' partition doubled by the dynamic overwrite,
    // 'F'/'P' untouched — static overwrite would have emptied them
    "sink_dynamic_overwrite" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        | sum(CASE WHEN o_orderstatus = 'O'
        |          THEN 2 * round(o_totalprice * 100)::BIGINT
        |          ELSE round(o_totalprice * 100)::BIGINT END)::BIGINT AS total_cents
        |FROM orders GROUP BY 1""".stripMargin,
    // the 1:1 id join replayed: ids 0..524287 survive, both sides carry the
    // same Knuth-hash value, so sum_both = 2 * sum(val)
    "dsv2_spj_join" ->
      """SELECT id % 32 AS bucket, count(*) AS n_rows,
        | sum(2 * ((id * 2654435761) % 1000003))::BIGINT AS sum_both
        |FROM (SELECT unnest(generate_series(0, 524287))::BIGINT AS id)
        |GROUP BY 1""".stripMargin,
    // the catalog SPJ: a 1:1 join of k=id tables (700k ⋈ 600k → 600k
    // pairs), folded per bucket; v + bv = id + 2·id; the rider pins the
    // zero-exchange SMJ plan
    "dsv2_spj_catalog" ->
      """SELECT ((id * 2654435761) % 8)::BIGINT AS bucket,
        |       count(*)::BIGINT AS n_rows, sum(3 * id)::BIGINT AS sum_both,
        |       true AS spj_zero_exchange
        |FROM range(0, 600000) t(id)
        |GROUP BY 1""".stripMargin,
    // all three evolution-era batches together cover every order row;
    // gen was added after the last write, so its non-null count is 0
    "dsv2_schema_evolution" ->
      """SELECT o_orderkey % 4 AS cat, count(*)::BIGINT AS n_rows,
        |       sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS total_cents,
        |       0::BIGINT AS n_gen, true AS evolved_schema,
        |       true AS tt_current_schema
        |FROM orders GROUP BY 1""".stripMargin,
    // the string-keyed SPJ replayed: the 1:1 (lang, v) join keeps ids
    // 0..599999, lang = langs[id mod 8] (DuckDB lists are 1-based),
    // w + bw = 3·id; the rider pins the zero-exchange SMJ plan
    "dsv2_spj_string" ->
      """SELECT (['en','de','fr','es','pt','zh','ja','ko'])[(id % 8)::INT + 1] AS lang,
        |       count(*)::BIGINT AS n_rows, sum(3 * id)::BIGINT AS sum_both,
        |       true AS spj_zero_exchange
        |FROM range(0, 600000) t(id)
        |GROUP BY 1""".stripMargin,
    // the bucket-keyed join replayed over the regenerated sequence: only
    // residue classes named by the filtered dimension may survive
    "dsv2_runtime_filter" ->
      """WITH b AS (SELECT DISTINCT n_nationkey % 8 AS bucket_key FROM nation
        |           WHERE n_nationkey % 8 < 4),
        |s AS (SELECT unnest(generate_series(0, 65535))::BIGINT AS id)
        |SELECT s.id % 32 AS bucket, count(*) AS n_rows,
        | sum((s.id * 2654435761) % 1000003)::BIGINT AS sum_val
        |FROM s JOIN b ON s.id % 32 = b.bucket_key
        |GROUP BY 1""".stripMargin,
    // same formula replay as dsv2_seq_agg, over the catalog table's range
    "dsv2_catalog_sql" ->
      """SELECT id % 32 AS bucket, count(*) AS n_rows,
        | sum((id * 2654435761) % 1000003)::BIGINT AS sum_val
        |FROM (SELECT unnest(generate_series(4096, 36863))::BIGINT AS id)
        |GROUP BY 1""".stripMargin,
    // DuckDB has no ORC reader: the oracle is the same aggregate over the
    // parquet fixture the ORC export was written from (round-trip gate)
    "orc_source_agg" ->
      """SELECT c_mktsegment, count(*)::BIGINT AS n_cust,
        | round(sum(c_acctbal), 2) AS total_bal, max(c_custkey) AS max_key
        |FROM customer WHERE c_acctbal > 0
        |GROUP BY c_mktsegment""".stripMargin,
    "join_bucketed_colocated" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS n_lines,
        | count(DISTINCT o_orderkey)::BIGINT AS n_orders,
        | round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "parquet_schema_evolution" ->
      s"""SELECT gen::BIGINT AS gen, count(*)::BIGINT AS n_rows,
         | sum(CASE WHEN o_priority_rank IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_missing_rank,
         | min(o_priority_rank)::BIGINT AS min_rank,
         | max(o_priority_rank)::BIGINT AS max_rank
         |FROM read_parquet('$EvoExportPath/*/*.parquet',
         |                  union_by_name=true, hive_partitioning=true)
         |GROUP BY gen""".stripMargin,
  )
}
