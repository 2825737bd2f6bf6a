package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.TextPipeline.Oracle
import graft.sources.Tables

/** Driver-verifiable queries for the reference's own surface (SURVEY §2.1).
  * Each entry has a DuckDB oracle in [[oracle]] with identical column names
  * and deterministic values.
  */
object TextQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wordcount" -> ((s, d) =>
      TextPipeline.wordCountPlan(Tables.documents(s, d))),
    "wordcount_topn" -> ((s, d) =>
      TextPipeline.topN(TextPipeline.wordCountPlan(Tables.documents(s, d)), 20)),
    "tokenize" -> ((s, d) =>
      TextPipeline.tokenize(Tables.documents(s, d))),
    "normalize_project" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextPipeline.normalize(col("text")).as("norm_text"))),
    // RDD twin of the flagship (BASELINE.json: "RDD API + distributed
    // operations"): textFile-analog -> flatMap -> reduceByKey, surfaced
    // back as a DataFrame for the oracle gate
    "wordcount_rdd" -> ((s, d) => {
      val rdd = TextPipeline.wordCountRdd(s, Tables.documents(s, d))
      s.createDataFrame(rdd).toDF("word", "cnt")
    }),
    // tokenizer with positions (posexplode — ordinal-preserving UDTF analog)
    "tokenize_pos" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(TextPipeline.tokens(col("text"))))
        .toDF("doc_id", "pos", "word")
        .filter(col("word") =!= "")
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("word"))),
    // Count-min sketch frequency estimation via the NATIVE mergeable
    // TypedImperativeAggregate (plans/CountMinSketchAgg): tasks build
    // local 4×64 counter grids, merge is elementwise add, and the probe
    // reads min over the four hash rows. The oracle rebuilds every probed
    // cell analytically (sum of counts of ALL colliding corpus words), so
    // the gate verifies the sketch's exact collision algebra, not a bound.
    "cms_word_freq" -> ((s, d) => {
      import graft.plans.CountMinSketchAgg.{Depth, Width}
      val toks = TextPipeline.tokenize(Tables.documents(s, d))
      val sketch = toks.agg(expr("cms_sketch(word)").as("sk"))
      val probes = s.createDataFrame(CmsProbes.map(Tuple1(_))).toDF("word")
      val est = (0 until Depth).map { dd =>
        element_at(col("sk"),
          expr(s"cast(cast(conv(substr(md5(word), ${1 + 8 * dd}, 8), 16, 10) as bigint) % $Width as int) + ${dd * Width + 1}"))
      }.reduce(least(_, _))
      val exact = toks.groupBy("word").agg(count(lit(1)).as("exact_cnt"))
      probes.crossJoin(broadcast(sketch))
        .select(col("word"), est.as("est_cnt"))
        .join(exact, Seq("word"), "left")
        .select(col("word"), col("est_cnt"),
          coalesce(col("exact_cnt"), lit(0L)).as("exact_cnt"))
    }),
    // Heavy hitters via the approx_top_k frequent-items sketch (Spark 4)
    // with the same oracle-gate design as agg_approx_distinct: the verified
    // columns are the EXACT top-5 (count DESC, word ASC), plus a boolean
    // asserting each exact heavy hitter appears in the sketch's top-5 item
    // set. The sketch is the 100 TB path — fixed memory, one merge pass —
    // and is EXACT whenever distinct items fit its tracking capacity (no
    // eviction), so the gate is deterministic on the fixture vocabulary.
    "heavy_hitters" -> ((s, d) => {
      val toks = TextPipeline.tokenize(Tables.documents(s, d))
      val exactTop = toks.groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word").asc).limit(5)
      val sketch = toks.agg(expr("approx_top_k(word, 5)").as("topk"))
      exactTop.crossJoin(broadcast(sketch))
        .select(col("word"), col("cnt"),
          array_contains(expr("transform(topk, x -> x.item)"), col("word"))
            .as("in_sketch_top5"))
    }),
    // word-bigram frequency table: the n-gram analog of wordcount, all
    // map-side until the single count aggregate
    "ngram_counts" -> ((s, d) =>
      Tables.documents(s, d)
        .select(TextPipeline.tokens(col("text")).as("words"))
        .filter(size(col("words")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(words) - 2), i -> array_join(slice(words, i + 1, 2), ' '))"))
          .as("ngram"))
        .groupBy("ngram").agg(count(lit(1)).as("cnt"))),
  )

  /** Fixed probe vocabulary for `cms_word_freq`: frequent corpus words
    * plus guaranteed-absent ones (which still read > 0 under collisions —
    * exactly what the oracle predicts).
    */
  private[graft] val CmsProbes: Seq[String] =
    Seq("the", "and", "of", "data", "to", "in", "a", "model", "graft", "zzznotaword")

  private val cmsValuesSql: String =
    CmsProbes.map(w => s"('$w')").mkString(", ")

  def oracle: Map[String, String] = Map(
    "cms_word_freq" ->
      s"""${Oracle.tokensCte},
        |wc AS (SELECT word, count(*)::BIGINT AS cnt FROM toks
        |       WHERE word <> '' GROUP BY word),
        |probes(word) AS (VALUES $cmsValuesSql),
        |pc AS (
        |  SELECT p.word, d.d,
        |   ('0x' || substr(md5(p.word), 1 + 8*d.d, 8))::BIGINT % ${graft.plans.CountMinSketchAgg.Width} AS cell
        |  FROM probes p, generate_series(0, ${graft.plans.CountMinSketchAgg.Depth - 1}) d(d)),
        |cc AS (
        |  SELECT d.d,
        |   ('0x' || substr(md5(w.word), 1 + 8*d.d, 8))::BIGINT % ${graft.plans.CountMinSketchAgg.Width} AS cell,
        |   sum(w.cnt)::BIGINT AS total
        |  FROM wc w, generate_series(0, ${graft.plans.CountMinSketchAgg.Depth - 1}) d(d)
        |  GROUP BY 1, 2),
        |est AS (
        |  SELECT p.word, min(coalesce(cc.total, 0))::BIGINT AS est_cnt
        |  FROM pc p LEFT JOIN cc ON cc.d = p.d AND cc.cell = p.cell
        |  GROUP BY p.word)
        |SELECT e.word, e.est_cnt, coalesce(wc.cnt, 0)::BIGINT AS exact_cnt
        |FROM est e LEFT JOIN wc ON wc.word = e.word""".stripMargin,
    "wordcount" ->
      s"${Oracle.tokensCte} SELECT word, count(*) AS cnt FROM toks WHERE word <> '' GROUP BY word",
    "wordcount_topn" ->
      s"${Oracle.tokensCte} SELECT word, count(*) AS cnt FROM toks WHERE word <> '' GROUP BY word ORDER BY cnt DESC, word ASC LIMIT 20",
    "tokenize" ->
      s"${Oracle.tokensCte} SELECT doc_id, word FROM toks WHERE word <> ''",
    "normalize_project" ->
      s"SELECT doc_id, ${Oracle.normalize("text")} AS norm_text FROM documents",
    "wordcount_rdd" ->
      s"${Oracle.tokensCte} SELECT word, count(*) AS cnt FROM toks WHERE word <> '' GROUP BY word",
    "tokenize_pos" ->
      s"""WITH w AS (
        |  SELECT doc_id, ${Oracle.tokens("text")} AS words
        |  FROM documents),
        |p AS (SELECT doc_id, words, unnest(generate_series(1, len(words))) AS pos FROM w)
        |SELECT doc_id, pos::BIGINT AS pos, words[pos] AS word
        |FROM p WHERE words[pos] <> ''""".stripMargin,
    "heavy_hitters" ->
      s"""${Oracle.tokensCte} SELECT word, count(*) AS cnt, true AS in_sketch_top5
        |FROM toks WHERE word <> '' GROUP BY word
        |ORDER BY cnt DESC, word ASC LIMIT 5""".stripMargin,
    "ngram_counts" ->
      s"""WITH w AS (
        |  SELECT ${Oracle.tokens("text")} AS words
        |  FROM documents),
        |pos AS (SELECT words, unnest(generate_series(1, len(words) - 1)) AS i
        |        FROM w WHERE len(words) >= 2)
        |SELECT array_to_string(words[i:i+1], ' ') AS ngram, count(*) AS cnt
        |FROM pos GROUP BY 1""".stripMargin,
  )
}
