package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.unsafe.types.UTF8String
import graft.plans.AsciiNormalize

/** The reference's entire query surface, Spark-first.
  *
  * Reference pipeline (SURVEY.md §2.1 ops 1-9): HDFS text scan → scalar
  * normalize (`greeter_client.cc:316-321`) → static 4-way line split →
  * tokenize (`greeter_server.cc:72-79`) → map-side partial hash agg
  * (`greeter_server.cc:78`) → intermediate text files → single-reducer merge
  * (`greeter_server.cc:92-110`) → HDFS sink → interactive top-N
  * (`greeter_server.cc:50-64`).
  *
  * Here the whole thing is one declarative plan:
  * `Scan → Project(normalize) → Generate(explode) → HashAggregate(partial)
  *  → Exchange(hashpartitioning(word)) → HashAggregate(final)` —
  * Catalyst inserts the partial/final aggregate split (the reference's
  * hand-written combiner) automatically, the shuffle replaces the
  * local-text-file "shuffle", and whole-stage codegen fuses
  * normalize+tokenize+partial-agg into one generated loop. Normalize is a
  * codegen'd byte loop ([[graft.plans.AsciiNormalize]]), not a regex.
  *
  * Like the reference's mappers, which write `MapOutputTask{0..3}.txt`
  * once for the reducer to serve every request from, [[wordCount]] runs
  * the map side ONCE, when it is called: the sink and the top-N read the
  * same shuffle files and only the final merge runs per consumer. Scale
  * posture: no driver-side materialization anywhere (the reference
  * buffers the whole corpus in one master string,
  * `greeter_client.cc:309-313`); every stage streams per-partition and the
  * only barrier is the word-hash exchange, whose width follows
  * `spark.sql.shuffle.partitions` / AQE.
  */
object TextPipeline {

  /** Scalar normalize, exact reference semantics (`greeter_client.cc:316-321`):
    * punctuation DELETED (not blanked, so "don't" → "dont"), lowercase,
    * digits kept, whitespace preserved; every non-ASCII char is dropped.
    * Same values as `lower(regexp_replace(c, "[^a-zA-Z0-9\\s]", ""))`.
    */
  def normalize(c: Column): Column =
    GraftShim.column(AsciiNormalize(GraftShim.expression(c)))

  /** Whitespace tokenization (`greeter_server.cc:72-79`). `trim` + the
    * empty-string filter in callers reproduce C++ `operator>>`, which can
    * never emit an empty token where Spark's `split` can.
    */
  def tokens(c: Column): Column = words(normalize(c))

  /** Raw words: `c` split on whitespace runs, not normalized. */
  def words(c: Column): Column = split(trim(c), "\\s+")

  /** The same rule as DuckDB SQL, for the oracle queries; each takes a SQL
    * expression and returns one. RE2's `\s` lacks the vertical tab that
    * Java's `\s` has, so the class is spelled out; DuckDB's `lower` is
    * Unicode-aware (`İ`, the Kelvin sign), so [[normalize]] strips first
    * and lowers only what is left, which is ASCII; and DuckDB's one-arg
    * `trim` also drops NBSP and the other Unicode spaces, where Spark's
    * drops only `' '`.
    */
  object Oracle {
    /** Java's `\s`, as the body of an RE2 character class. */
    val Space = """ \t\n\x0B\f\r"""
    private val Dropped = "'[^a-zA-Z0-9" + Space + "]'"
    private val Runs = "'[" + Space + "]+'"

    def normalize(e: String): String = "lower(regexp_replace(" + e + ", " + Dropped + ", '', 'g'))"
    def words(e: String): String = "string_split_regex(trim(" + e + ", ' '), " + Runs + ")"
    def tokens(e: String): String = words(normalize(e))

    /** The `toks(doc_id, word)` CTE: one row per token of `documents.text`. */
    val tokensCte: String =
      "WITH toks AS (\n  SELECT doc_id, unnest(" + tokens("text") + ") AS word\n  FROM documents\n)"
  }

  /** One row per (doc, token). */
  def tokenize(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")

  /** The flagship plan: GROUP BY word COUNT(*) — ops 4+5+7, lazy. */
  def wordCountPlan(docs: DataFrame): DataFrame =
    tokenize(docs).groupBy("word").agg(count(lit(1)).as("cnt"))

  /** [[wordCountPlan]] with its map side (scan → normalize → explode →
    * partial aggregate → shuffle write) RUN NOW, when this is called. The
    * returned frame reads the executed aggregate's shuffle output, so every
    * action on it — the sink, the top-N, a count — shares that one map
    * stage and reruns only the final merge. For a caller that reads the
    * counts once, [[wordCountPlan]] is the same work without the eager
    * step.
    */
  def wordCount(docs: DataFrame): DataFrame =
    GraftShim.materialized(wordCountPlan(docs))

  /** Top-N view (`greeter_server.cc:50-64`) with a deterministic total order
    * (count DESC, word ASC) — the reference's sort leaves ties unspecified.
    * Catalyst plans this as `TakeOrderedAndProjectExec`: a bounded per-
    * partition heap + driver merge, NOT a full sort — exactly the bounded
    * top-K the reference's full `std::sort` should have been.
    */
  def topN(wordCounts: DataFrame, n: Int): DataFrame =
    wordCounts.orderBy(col("cnt").desc, col("word").asc).limit(n)

  /** RDD twin of the flagship — the honest analog of the reference's
    * map/combine/reduce split (`BASELINE.json: spark_approach`):
    * `flatMap` = Mapper tokenize loop, `reduceByKey` = map-side combine
    * (`greeter_server.cc:78`) + shuffle + reduce merge
    * (`greeter_server.cc:105-110`). Used to cross-check the DataFrame plan.
    */
  def wordCountRdd(spark: SparkSession, docs: DataFrame): RDD[(String, Long)] = {
    docs.select(col("text")).rdd
      .flatMap { row =>
        // the DataFrame plan's byte loop, so both paths normalize alike
        val norm = AsciiNormalize.normalize(UTF8String.fromString(row.getString(0))).toString
        norm.split("\\s+").filter(_.nonEmpty)
      }
      .map((_, 1L))
      .reduceByKey(_ + _)
  }

  /** Reference sink (`greeter_server.cc:115-121`): overwrite text sink of
    * `word count` lines. Distributed write, one file per partition.
    */
  def writeWordCounts(wc: DataFrame, path: String): Unit =
    wc.select(concat_ws(" ", col("word"), col("cnt")))
      .write.mode("overwrite").text(path)
}
