package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructType, TimestampNTZType}

/** Source surface: named readers over the fixture directory.
  *
  * The reference's only source is a single HDFS text file read by the master
  * into one in-memory string (`greeter_client.cc:298-314`) — an anti-pattern
  * at scale. Here every source is a distributed columnar scan: Spark plans
  * one task per parquet row-group split, pushes filters/projections into the
  * scan, and never materializes a table on the driver.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet schema inference launches a one-task footer-read job per
    * `spark.read.parquet` call. Fixture schemas are static, so infer once
    * per path and pass the schema explicitly afterwards — on a 100 TB table
    * an explicit schema is mandatory anyway (no footer sampling), and in a
    * many-query run it removes 1-6 scheduler jobs from every query.
    * Keyed by path only: the nanosAsLong conf that shapes `events.ts` is
    * set identically by every session we build (Sessions.build).
    */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = schemaCache.computeIfAbsent(path, p => spark.read.parquet(p).schema)
    spark.read.schema(schema).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** Fixture `events.ts` has shipped under several parquet encodings:
    * TIMESTAMP(NANOS) (surfaced as a nanosecond long under
    * `spark.sql.legacy.parquet.nanosAsLong=true`, set by our sessions) and
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) (surfaced as TIMESTAMP_NTZ
    * under Spark 4's default `inferTimestampNTZ`). Normalize BOTH to a
    * plain µs TimestampType at the source seam so every downstream
    * operator — `cast("double")`, `unix_micros`, streaming event-time —
    * sees one canonical type. The NTZ→TZ cast reinterprets the naive value
    * in the session timezone, which our sessions pin to UTC — exactly how
    * the DuckDB oracle reads the same naive timestamps, so epochs agree
    * bit-for-bit.
    */
  private[graft] def normalizeTsExpr(dt: DataType): Option[org.apache.spark.sql.Column] = dt match {
    case LongType            => Some(timestamp_micros(expr("ts div 1000")))
    case _: TimestampNTZType => Some(col("ts").cast("timestamp"))
    case _                   => None
  }

  private[graft] def normalizeTs(df: DataFrame): DataFrame =
    if (df.schema.fieldNames.contains("ts"))
      normalizeTsExpr(df.schema("ts").dataType).fold(df)(df.withColumn("ts", _))
    else df

  def events(s: SparkSession, d: String): DataFrame = normalizeTs(table(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
