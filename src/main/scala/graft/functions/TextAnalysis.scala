package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.TextPipeline
import graft.operators.TextPipeline.Oracle
import graft.sources.Tables

/** Text-analysis operators for a training-data pipeline: token counting
  * (whitespace + BPE-ish regex), quality scoring, heuristic language ID,
  * and content fingerprinting.
  *
  * Everything is built from codegen'd `functions._` + higher-order array
  * functions (`transform`/`filter`/`aggregate`) — no UDFs, so every operator
  * stays inside whole-stage codegen and is embarrassingly parallel: at
  * 100 TB these are pure map-side projections with zero shuffle.
  */
object TextAnalysis {

  /** BPE-ish pre-tokenization pattern: letter runs, digit runs, or single
    * non-space symbols (a public approximation of GPT-2-style pre-split).
    */
  val BpePattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"

  /** Whitespace tokens, BPE-ish tokens, char count, avg token length. */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      size(TextPipeline.words(col("text"))).cast("long").as("n_ws_tokens"),
      regexp_count(col("text"), lit(BpePattern)).cast("long").as("n_bpe_tokens"),
      length(col("text")).cast("long").as("n_chars_calc"),
      // sum of token lengths == chars remaining after stripping ALL
      // whitespace (tokens are exactly the non-space runs) — same value
      // as the former interpreted aggregate-over-transform lambda chain,
      // but pure codegen'd string functions
      round(length(regexp_replace(trim(col("text")), "\\s+", "")).cast("double")
          / size(TextPipeline.words(col("text"))), 4).as("avg_token_len"))

  /** Quality signals: stopword ratio, digit ratio, symbol ratio, mean word
    * length — combined into a bounded [0,1] score. Heuristics follow the
    * public C4/Gopher-style quality-filter recipes (length + stopword +
    * symbol checks), simplified to be exactly SQL-mirrorable.
    */
  /** The bounded [0,1] quality score as a single Column — shared by
    * [[qualityScore]] and [[cleanCorpus]] so the composite pipeline can
    * fold it into one projection instead of joining a second scan.
    */
  private def qualityCol: Column =
    round(
      least(lit(1.0),
        lit(0.5) * least(lit(1.0), nToks / lit(50.0))
          + lit(0.3) * least(lit(1.0), try_divide(stopHits, nToks) * lit(10.0))
          + lit(0.2) * (lit(1.0) - try_divide(symbols, chars))), 4)

  private def nToks = size(TextPipeline.words(col("text"))).cast("double")
  private def stopHits =
    size(filter(TextPipeline.words(col("text")), _.isin("the", "a", "of", "and", "to"))).cast("double")
  private def symbols = (length(col("text")) - length(TextPipeline.normalize(col("text")))).cast("double")
  private def chars = length(col("text")).cast("double")

  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val digits = (length(col("text")) - length(regexp_replace(col("text"), "[0-9]", ""))).cast("double")
    Tables.documents(spark, dir).select(
      col("doc_id"),
      round(try_divide(stopHits, nToks), 4).as("stopword_ratio"),
      round(try_divide(digits, chars), 4).as("digit_ratio"),
      round(try_divide(symbols, chars), 4).as("symbol_ratio"),
      qualityCol.as("quality_score"))
  }

  /** LEXICAL DIVERSITY per document — the vocabulary-richness quality
    * signals next to [[qualityScore]]'s surface ratios: type-token ratio
    * and the Shannon entropy of the word distribution (in bits, via the
    * H = log2(n) − Σc·log2(c)/n identity so the per-word pass needs only
    * one aggregate). Low-entropy documents are the boilerplate/template/
    * keyword-stuffing failure mode repetition counters miss when the
    * repeated unit isn't a fixed n-gram. Plan: one (doc_id, word)
    * partial-agg exchange, then a per-doc agg — both map-side combined;
    * the double sums round at 4 dp (addend reorder noise is ~1e-13,
    * the same margin every float aggregate in the registry rides).
    */
  def lexicalDiversity(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TextPipeline.words(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"),
        sum(col("c").cast("double") * log2(col("c").cast("double"))).as("slc"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        round(col("n_types").cast("double") / col("n_tokens"), 4).as("ttr"),
        round(log2(col("n_tokens").cast("double")) - col("slc") / col("n_tokens"), 4)
          .as("entropy_bits"))

  /** PER-LABEL DISCRIMINATIVE TERMS — χ² feature selection (the classic
    * text-classification recipe): for every (word, lang) cell of the
    * corpus contingency table, the one-vs-rest χ² statistic
    * N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)), top-5 terms per language. This is
    * the "what words define this slice" audit a corpus curator runs per
    * source/language/domain. All contingency counts are exact int64;
    * the χ² itself is ONE fixed-shape double expression per row (no
    * float aggregation), so ranking is engine-deterministic, ties broken
    * by word. Plan: (lang, word) cell counts are the only corpus-sized
    * exchange; word totals join on word (vocab-sized), language totals
    * and the grand total broadcast.
    */
  def termLabelChi2(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cell = Tables.documents(spark, dir)
      .select(col("lang"), explode(TextPipeline.words(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("lang", "word").agg(count(lit(1)).as("a"))
    val wordTot = cell.groupBy("word").agg(sum("a").as("wt"))
    val langTot = cell.groupBy("lang").agg(sum("a").as("lt"))
    val grand = cell.agg(sum("a").as("n"))
    val aD = col("a").cast("double")
    val wtD = col("wt").cast("double")
    val ltD = col("lt").cast("double")
    val nD = col("n").cast("double")
    // num = ad − bc with b = wt−a, c = lt−a, d = n−wt−lt+a, all double
    val num = aD * (nD - wtD - ltD + aD) - (wtD - aD) * (ltD - aD)
    val chi2 = nD * num * num / (wtD * (nD - wtD) * ltD * (nD - ltD))
    cell.join(wordTot, "word")
      .join(broadcast(langTot), "lang")
      .crossJoin(broadcast(grand))
      .withColumn("chi2raw", chi2)
      .withColumn("rank", row_number().over(
        Window.partitionBy("lang").orderBy(col("chi2raw").desc, col("word").asc)).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("lang"), col("word"), col("a").as("n_in_lang"),
        round(col("chi2raw"), 4).as("chi2"), col("rank"))
  }

  /** Heuristic language ID: stopword-marker voting (n-gram-free variant of
    * the classic stopword-profile method). Deterministic CASE cascade so the
    * oracle mirrors it exactly; falls back to 'en'.
    */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    def hits(words: Seq[String]): Column =
      size(filter(TextPipeline.words(lower(col("text"))), _.isin(words: _*)))
    val es = hits(Seq("el", "la", "los", "de", "que", "y"))
    val de = hits(Seq("der", "die", "das", "und", "ist"))
    val fr = hits(Seq("le", "les", "des", "est", "et"))
    val en = hits(Seq("the", "a", "of", "and", "to", "is"))
    Tables.documents(spark, dir).select(
      col("doc_id"), col("lang").as("lang_actual"),
      when(es > de && es > fr && es > en, "es")
        .when(de > fr && de > en, "de")
        .when(fr > en, "fr")
        .otherwise("en").as("lang_pred"))
  }

  /** Content fingerprint: md5 over normalized text (hex + a 60-bit integer
    * form for compact joins). The md5 primitive is shared with DuckDB, so
    * fingerprints are cross-engine stable — this is the join key for exact
    * dedup at any scale.
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val norm = TextPipeline.normalize(col("text"))
    Tables.documents(spark, dir).select(
      col("doc_id"),
      md5(norm).as("fp"),
      conv(substring(md5(norm), 1, 15), 16, 10).cast("long").as("fp60"))
  }

  /** Winnowing document fingerprints (Schleimer et al., SIGMOD'03): k-gram
    * rolling hashes (md5-derived, cross-engine stable) with a min-select
    * over every w consecutive hashes — the classic robust fingerprint set
    * for near-dup/plagiarism detection. Window w=4 over word 5-gram
    * hashes; ties inside a window resolve to the same min value, and the
    * output is the distinct (doc, fingerprint) set, so selection-position
    * ambiguity cannot affect results.
    *
    * Shape at scale: per-doc windowed min over the shingle stream — one
    * shuffle on doc_id (the window partition), output ~|shingles|/w rows.
    */
  def winnowing(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-3, 0)
    graft.operators.Dedup.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), TextPipeline.words(col("text")).as("words"))
      .filter(size(col("words")) >= 5)
      .selectExpr("doc_id", "word_ngrams(words, 5)")
      .withColumn("h", conv(substring(md5(col("shingle")), 1, 8), 16, 10).cast("long"))
      .withColumn("fp", min("h").over(w))
      .filter(col("pos") >= 3)
      .select(col("doc_id"), col("fp"))
      .distinct()
  }

  /** Character-n-gram language ID — the n-gram-profile variant of [[langId]]
    * (Cavnar-Trenkle style, reduced to fixed top-trigram profiles per
    * language; deterministic CASE cascade mirrored by the oracle).
    */
  def langIdNgram(spark: SparkSession, dir: String): DataFrame = {
    val profiles = Map(
      "es" -> Seq("el ", "la ", " de", "que", "ión", "os "),
      "de" -> Seq("der", "ein", "sch", "ich", "und", "en "),
      "fr" -> Seq("le ", "les", "ent", " de", "ion", "es "),
      "en" -> Seq("the", " th", "ing", "and", " of", "ed "))
    def hits(lang: String): Column = {
      val set = profiles(lang).map(t => s"'${t.replace("'", "''")}'").mkString(", ")
      // guard: Spark's sequence(1, 0) is DESCENDING [1, 0], not empty —
      // short texts must short-circuit to 0 (DuckDB generate_series(1,0)
      // is naturally empty)
      expr(
        s"""IF(length(text) < 3, 0,
           |  size(filter(
           |    transform(sequence(1, length(lower(text)) - 2),
           |              i -> substring(lower(text), i, 3)),
           |    g -> g IN ($set))))""".stripMargin)
    }
    Tables.documents(spark, dir).select(
      col("doc_id"), col("lang").as("lang_actual"),
      when(hits("es") > hits("de") && hits("es") > hits("fr") && hits("es") > hits("en"), "es")
        .when(hits("de") > hits("fr") && hits("de") > hits("en"), "de")
        .when(hits("fr") > hits("en"), "fr")
        .otherwise("en").as("lang_pred"))
  }

  /** Gopher-style repetition signals per document: duplicate-word ratio
    * (1 − distinct/total) and top-word fraction (most frequent word's share
    * of all tokens) — the repetition quality gates a training-data pipeline
    * runs alongside [[qualityScore]] (boilerplate and degenerate generations
    * are repetition-heavy). Shape: the wordcount aggregate keyed by
    * (doc_id, word), then a per-doc rollup — two exchanges, the second on a
    * strict subset of the first's key, and the shuffle carries counts, not
    * text.
    */
  def textRepetition(spark: SparkSession, dir: String): DataFrame =
    TextPipeline.tokenize(graft.operators.Dedup.widen(Tables.documents(spark, dir)))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_distinct"), max("c").as("top_c"))
      .select(col("doc_id"), col("n_tokens"),
        round(lit(1.0) - col("n_distinct") / col("n_tokens").cast("double"), 4).as("dup_word_ratio"),
        round(col("top_c") / col("n_tokens").cast("double"), 4).as("top_word_ratio"))

  /** Corpus-unigram log-probability scoring — the simplest statistical LM
    * quality gate (documents whose tokens are improbable under the corpus
    * unigram distribution are gibberish/noise candidates; the n-gram LM
    * ancestor of model-based perplexity filters). Shape: one vocabulary
    * aggregate, a 1-row total broadcast, then a token⋈vocab equi-join on
    * `word` — shuffle-planned so AQE picks broadcast when the vocabulary
    * allows (a Zipfian vocab grows sublinearly in corpus size) — and a
    * per-doc average. Shuffles carry (word, count) pairs, never text.
    */
  def unigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextPipeline.tokenize(graft.operators.Dedup.widen(Tables.documents(spark, dir)))
    val vocab = toks.groupBy("word").agg(count(lit(1)).as("wcnt"))
    val total = vocab.agg(sum("wcnt").cast("double").as("total_tokens"))
    toks.join(vocab, "word")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(log(2.0, col("wcnt") / col("total_tokens"))), 4).as("avg_log2_prob"))
  }

  /** Bigram-LM document scoring — one order up from [[unigramLogprob]]:
    * avg log2 of the MLE conditional P(w2|w1) = c(w1 w2) / c(w1) over each
    * document's bigrams. The bigram stream comes from the native
    * `word_ngrams` generator (the same codegen'd UDTF that drives the
    * shingling family, here with n=2); counts are two shuffled aggregates
    * (bigram, unigram) joined back — the full pipeline is the shape of any
    * n-gram LM scorer: explode, count, join on the n-gram key. Per-doc
    * averages of identical per-row doubles, rounded at 4dp.
    */
  def bigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.operators.Dedup.widen(Tables.documents(spark, dir))
    val words = docs.select(col("doc_id"),
      TextPipeline.tokens(col("text")).as("words"))
      .filter(size(col("words")) >= 2)
    val bg = words.selectExpr("doc_id", "word_ngrams(words, 2)")
      .toDF("doc_id", "pos", "bigram")
    val bgCounts = bg.groupBy("bigram").agg(count(lit(1)).as("bcnt"))
    val uniCounts = TextPipeline.tokenize(docs).groupBy("word").agg(count(lit(1)).as("wcnt"))
    bg.join(bgCounts, "bigram")
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .join(uniCounts, col("w1") === col("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(2.0, col("bcnt") / col("wcnt"))), 4).as("avg_log2_bigram_prob"))
  }

  /** CCNet-style quality bucketing: per-language terciles of the corpus-LM
    * score ([[unigramLogprob]]'s avg log2 probability), labeled
    * head/middle/tail — the bucket assignment the public CCNet pipeline
    * keeps or drops wholesale. `ntile(3)` over (score desc, doc_id) is a
    * total order, so assignment is deterministic and identical on both
    * engines; bucket stats are min/max of the per-doc rounded scores
    * (order-independent), never a re-sum. Scale: map-side scoring, then
    * ONE window shuffle on lang (lang × hash-bucket at 100 TB if a single
    * language outgrows a partition — tercile cutpoints then come from
    * `percentile_approx` instead of a global rank).
    */
  def qualityBuckets(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val scored = unigramLogprob(spark, dir).join(docs.select("doc_id", "lang"), "doc_id")
    val w = Window.partitionBy("lang").orderBy(col("avg_log2_prob").desc, col("doc_id"))
    scored.withColumn("bucket", ntile(3).over(w))
      .withColumn("bucket_name",
        when(col("bucket") === 1, "head")
          .when(col("bucket") === 2, "middle").otherwise("tail"))
      .groupBy("lang", "bucket_name")
      .agg(count(lit(1)).as("n_docs"),
        min("avg_log2_prob").as("min_score"),
        max("avg_log2_prob").as("max_score"))
  }

  /** Per-domain document caps — the source-mix control every large corpus
    * build applies (no single domain may dominate the training mix).
    * Documents rank within their source by (n_chars desc, doc_id); the top
    * [[CapPerDomain]] survive, and the query emits the per-source audit
    * (total vs kept vs kept-chars) a mix report needs. ONE window + ONE
    * aggregate sharing the same `source` partitioning — a single shuffle
    * total; at 100 TB the per-domain rank is the bounded-heap top-K shape
    * (domains fit a heap of K, never a sort of the domain's documents).
    */
  val CapPerDomain = 10

  def domainCaps(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy(col("n_chars").desc, col("doc_id"))
    Tables.documents(spark, dir)
      .withColumn("rn", row_number().over(w))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs_total"),
        sum(when(col("rn") <= CapPerDomain, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rn") <= CapPerDomain, col("n_chars")).otherwise(lit(0L))).as("chars_kept"))
  }

  /** Benchmark decontamination — the eval-leakage gate every LLM training
    * pipeline needs: training documents sharing any word-5-gram with the
    * benchmark set are flagged (here the benchmark is the doc_id < 10
    * slice; in production it is the eval suites). Shape at scale: the
    * benchmark shingle set is tiny and BROADCAST, so contamination
    * detection is a map-side hash probe of the training shingle stream —
    * the 100 TB corpus never shuffles. Emits contaminated docs with their
    * shared-shingle counts (the audit trail a removal decision needs).
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame =
    decontaminateOn(Tables.documents(spark, dir), col("doc_id") < 10)

  /** Core decontamination over any (doc_id, text) frame: `isBench` selects
    * the benchmark slice; the rest is the training corpus under audit.
    */
  def decontaminateOn(docs: DataFrame, isBench: Column): DataFrame = {
    val benchShingles = graft.operators.Dedup.shingles(docs.filter(isBench))
      .select(col("shingle").as("bench_shingle")).distinct()
    graft.operators.Dedup.shingles(docs.filter(!isBench))
      .join(broadcast(benchShingles), col("shingle") === col("bench_shingle"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared_shingles"))
  }

  /** Token-budget shard packing — groups documents into fixed-budget
    * training shards (5000 tokens here): per-stratum running token sum in a
    * stable order, shard id = how many full budgets precede the document.
    * One window per stratum (lang), no global sort; at 100 TB packing is
    * per-stratum (or per hash-bucket) by construction, so partitions stay
    * independent. The first doc of a shard may straddle the boundary —
    * standard greedy packing, deterministic on both engines.
    */
  val ShardBudget = 5000L

  def shardPacking(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), size(TextPipeline.words(col("text"))).cast("long").as("n_tokens"))
      .withColumn("cum", sum("n_tokens").over(w))
      .select(col("doc_id"), col("lang"),
        floor((col("cum") - col("n_tokens")) / ShardBudget).as("shard_id"))
  }

  /** GPT-style SEQUENCE PACKING — the other packing discipline next to
    * [[shardPacking]]'s per-stratum budgets: concatenate the whole corpus
    * into one global token stream (doc_id order) and cut it every
    * [[SeqLen]] tokens into fixed-length training sequences, documents
    * SPLITTING across cut points (the attention-mask boundaries a trainer
    * reconstructs from this manifest). The hard part at 100 TB is the
    * GLOBAL prefix sum of token counts — a single unpartitioned window is
    * the one-task anti-pattern — so this uses the scalable recipe:
    * range-partition by doc_id, ONE in-order `mapPartitions` pass for
    * local prefixes (constant memory, the justified imperative case like
    * [[graft.operators.Relational.globalRank]]), then a ≤#partitions-row
    * offsets frame broadcast back. Emits each doc's global start offset
    * and the sequence span it lands in. The oracle states the same
    * packing with the plain windowed cumsum — the gate proves the
    * two-level distributed prefix equals the sequential one.
    */
  val SeqLen = 2048L

  def sequencePacking(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val counts = Tables.documents(spark, dir)
      .select(col("doc_id"), size(TextPipeline.words(col("text"))).cast("long").as("n_tokens"))
    val sorted = counts.repartitionByRange(col("doc_id")).sortWithinPartitions("doc_id")
    val local = sorted.as[(Long, Long)]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var acc = 0L
        it.map { case (id, n) => val s = acc; acc += n; (pid, id, n, s) }
      }.toDF("pid", "doc_id", "n_tokens", "local_start")
      .cache() // two consumers with different prunes: offsets agg + final join
    // per-partition totals -> exclusive prefix offsets; ≤#partitions rows,
    // so the single-partition window is a broadcast-frame scalar, not a
    // data bottleneck
    val wo = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    val offs = local.groupBy("pid")
      .agg(max(col("local_start") + col("n_tokens")).as("ptotal"))
      .withColumn("poffset", coalesce(sum("ptotal").over(wo), lit(0L)))
      .select("pid", "poffset")
    local.join(broadcast(offs), "pid")
      .withColumn("start_tok", col("poffset") + col("local_start"))
      .select(col("doc_id"), col("n_tokens"), col("start_tok"),
        expr(s"start_tok div $SeqLen").as("seq_first"),
        expr(s"(start_tok + greatest(n_tokens, 1L) - 1L) div $SeqLen").as("seq_last"))
      .withColumn("n_seqs", col("seq_last") - col("seq_first") + 1)
  }

  /** Fixed-size overlapping token-window chunking — the document chunker
    * every pretraining / RAG ingestion pipeline runs before packing or
    * embedding: windows of [[ChunkSize]] whitespace tokens advancing by
    * [[ChunkStride]] (so consecutive chunks share `ChunkSize - ChunkStride`
    * tokens of overlap, preserving cross-boundary context). Chunk count is
    * closed-form — `1 + ceil((n - C) / S)` for n > C, else 1 — so the
    * operator is `explode(sequence(0, k-1))` + a `slice`: a pure map-side
    * Generate with ZERO shuffle. At 100 TB it parallelizes per input
    * split; output row count is ~n/S per doc and each chunk materializes
    * once (no self-join, no window function). The final short chunk keeps
    * its true length (`least(C, n - start)`); every token lands in at
    * least one chunk because starts advance by S < C until the window
    * reaches the end.
    */
  val ChunkSize = 64
  val ChunkStride = 48

  def docChunks(spark: SparkSession, dir: String): DataFrame =
    docChunksOn(Tables.documents(spark, dir))

  def docChunksOn(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TextPipeline.words(col("text")).as("words"))
      .withColumn("n_words", size(col("words")))
      // k = 1 + ceil((n - C) / S) = 1 + (n - C + S - 1) div S for n > C
      .withColumn("k",
        when(col("n_words") <= ChunkSize, lit(1)).otherwise(
          lit(1) + expr(s"(n_words - $ChunkSize + $ChunkStride - 1) div $ChunkStride")))
      .select(col("doc_id"), col("n_words"), col("words"),
        explode(expr("sequence(0, k - 1)")).as("chunk_id"))
      .withColumn("chunk_start", col("chunk_id") * ChunkStride)
      .select(col("doc_id"),
        col("chunk_id").cast("long").as("chunk_id"),
        col("chunk_start").cast("long").as("chunk_start"),
        least(lit(ChunkSize), col("n_words") - col("chunk_start")).cast("long")
          .as("n_chunk_tokens"),
        array_join(slice(col("words"), col("chunk_start") + 1, lit(ChunkSize)), " ")
          .as("chunk_text"))

  /** The FULL corpus-build funnel as ONE declarative plan — the composite
    * a pretraining data team actually ships, each stage being an operator
    * verified on its own elsewhere in the registry: exact dedup (min-id
    * survivor per md5 fingerprint) → quality gate (score ≥ 0.5) →
    * duplicated-span EXCISE across the surviving corpus
    * ([[graft.operators.Dedup.spanExciseOn]]) → drop docs excised to
    * empty → token-window chunking ([[docChunksOn]]). Output is the
    * single-row funnel audit every corpus build logs: how many documents
    * survive each stage and the final chunk/token yield.
    *
    * Scale: stages compose as one lazy plan — the corpus streams through
    * dedup's fingerprint shuffle, the span stages' shingle shuffles, and
    * the chunker's shuffle-free Generate; the five counts ride 1-row
    * scalar frames (bounded broadcasts). Catalyst sees the whole pipeline
    * and prunes columns end-to-end; nothing materializes between stages.
    */
  def trainingCorpusFunnel(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, dir)
    val surv = Dedup.fingerprints(docs)
      .groupBy("fp").agg(min("doc_id").as("doc_id")).select("doc_id")
    val quality = docs.join(surv, "doc_id").filter(qualityCol >= 0.5)
    val clean = Dedup.spanExciseOn(quality).filter(col("n_kept") > 0)
    val chunks = docChunksOn(clean.select(col("doc_id"), col("clean_text").as("text")))
    docs.agg(count(lit(1)).as("n_raw"))
      .crossJoin(surv.agg(count(lit(1)).as("n_after_dedup")))
      .crossJoin(quality.agg(count(lit(1)).as("n_after_quality")))
      .crossJoin(clean.agg(count(lit(1)).as("n_after_excise")))
      .crossJoin(chunks.agg(
        count(lit(1)).as("n_chunks"),
        sum("n_chunk_tokens").as("n_tokens")))
  }

  /** End-to-end training-data cleaning pipeline — the composite the whole
    * module exists for: exact-dedup (md5 fingerprint, keep min doc_id) →
    * quality gate (score ≥ 0.5) → surviving docs with their stats. All
    * stages are the verified operators above composed into one plan; at
    * scale this is one scan + one dedup shuffle.
    */
  def cleanCorpus(spark: SparkSession, dir: String): DataFrame = {
    // ONE corpus scan (r14): the previous shape scanned documents twice —
    // once for fingerprints (groupBy fp → min doc_id survivors) and once
    // for quality/token stats — then joined the two back on doc_id. The
    // min-id survivor per fingerprint group is equivalently row_number()=1
    // over (partition by fp, order by doc_id), which lets fp, quality and
    // token count ride the SAME projection: one scan, one exchange (by fp),
    // no join. At 100 TB that is one full corpus read instead of two;
    // locally measured 4 → 3 jobs, 0.91 → 0.70 s (7-run medians). Rows
    // identical (same
    // survivor, same verified expressions — oracle unchanged).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("fp").orderBy(col("doc_id").asc)
    Tables.documents(spark, dir).select(
        col("doc_id"),
        md5(TextPipeline.normalize(col("text"))).as("fp"),
        qualityCol.as("quality_score"),
        size(TextPipeline.words(col("text"))).cast("long").as("n_ws_tokens"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("quality_score") >= 0.5)
      .select("doc_id", "quality_score", "n_ws_tokens")
  }

  /** TF-IDF top terms: raw term frequency × ln(N/df), top-3 terms per doc
    * (score DESC, word ASC). Two aggregates (term counts, doc frequencies)
    * + a broadcast of the vocabulary-sized idf table + one ranking window —
    * the standard distributed tf-idf shape at any scale.
    */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    // corpus size stays INSIDE the plan: a 1-row broadcast cross join, so
    // the whole query is one job (no driver-side eager count action)
    val n = docs.agg(count(lit(1)).cast("double").as("corpus_n"))
    val tf = graft.operators.TextPipeline.tokenize(docs)
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("word").asc)
    tf.join(broadcast(df), "word")
      .crossJoin(broadcast(n))
      .withColumn("score", col("tf") * log(col("corpus_n") / col("df")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select("doc_id", "word", "rank")
  }

  /** Robust length-outlier filter (median ± 3·MAD): the C4-style document
    * length gate done with ROBUST statistics — mean/stddev are dragged by
    * the very outliers being hunted; median absolute deviation isn't. Two
    * interpolated-percentile aggregates (median of lengths, then median of
    * absolute deviations) broadcast as 1-row frames + one map-side filter;
    * `percentile` / `quantile_cont` share the interpolation definition, so
    * the cutoffs are bit-identical cross-engine.
    */
  def lengthOutliers(spark: SparkSession, dir: String): DataFrame = {
    val lens = Tables.documents(spark, dir)
      .select(col("doc_id"), size(TextPipeline.words(col("text"))).cast("double").as("len"))
    val med = lens.agg(expr("percentile(len, 0.5)").as("med"))
    val mad = lens.crossJoin(broadcast(med))
      .agg(expr("percentile(abs(len - med), 0.5)").as("mad"))
    lens.crossJoin(broadcast(med)).crossJoin(broadcast(mad))
      .select(col("doc_id"), col("len").cast("long").as("n_tokens"),
        (abs(col("len") - col("med")) > col("mad") * 3).as("is_outlier"))
  }

  /** Scale-safe robust length gate: [[lengthOutliers]]'s two cutoffs are
    * single-group EXACT `percentile` aggregates whose buffer is the whole
    * length column on one task — the same OOM-at-100× class as
    * `value_deciles`' cutpoints. This twin computes the cutoffs with the
    * fixed-memory `approx_percentile` sketch and rides the established
    * sketch-gate: verified surface = exact per-doc token counts plus
    * deterministic booleans asserting each sketch cutoff lands inside an
    * exact rank band (accuracy 10000 ⇒ rank error 1e-4; ±0.02 bands give
    * 200× margin). The exact form stays as the fixture-scale anchor.
    */
  def lengthOutliersApprox(spark: SparkSession, dir: String): DataFrame = {
    val lens = Tables.documents(spark, dir)
      .select(col("doc_id"), size(TextPipeline.words(col("text"))).cast("double").as("len"))
    val med = lens.agg(
      expr("approx_percentile(len, 0.5, 10000)").as("amed"),
      expr("percentile(len, array(0.48, 0.52))").as("mbands"))
    val mad = lens.crossJoin(broadcast(med))
      .agg(
        expr("approx_percentile(abs(len - amed), 0.5, 10000)").as("amad"),
        expr("percentile(abs(len - amed), array(0.48, 0.52))").as("dbands"))
    lens.crossJoin(broadcast(med)).crossJoin(broadcast(mad))
      .select(col("doc_id"), col("len").cast("long").as("n_tokens"),
        col("amed").between(element_at(col("mbands"), 1), element_at(col("mbands"), 2))
          .as("approx_med_ok"),
        col("amad").between(element_at(col("dbands"), 1), element_at(col("dbands"), 2))
          .as("approx_mad_ok"))
  }

  /** Corpus-wide BOILERPLATE mining at passage grain: word 5-grams that
    * repeat across ≥3 DISTINCT documents (headers, footers, license
    * blurbs, navigation chrome — the passages a training pipeline strips
    * before dedup even starts). Distinct from [[decontaminate]] (gates
    * against an external benchmark set) and from document-level dedup:
    * this finds the repeated SUBSTRINGS inside otherwise-unique docs.
    *
    * Shape at scale: generator streams 10-grams (never materializes the
    * per-doc n-gram array), map-side per-partition distinct absorbs
    * within-doc repeats, one exchange on the n-gram key for the distinct
    * document count. Output ∝ boilerplate vocabulary, not corpus.
    */
  val BoilerplateN = 5
  val BoilerplateMinDf = 3

  def boilerplateNgrams(spark: SparkSession, dir: String): DataFrame = {
    graft.operators.Dedup.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), TextPipeline.words(col("text")).as("words"))
      .filter(size(col("words")) >= BoilerplateN)
      .selectExpr("doc_id", s"word_ngrams(words, $BoilerplateN)")
      .select(col("doc_id"), col("shingle").as("passage"))
      .distinct()
      .groupBy("passage")
      .agg(countDistinct("doc_id").as("df"))
      .filter(col("df") >= BoilerplateMinDf)
  }

  /** PII / literal-value scrubbing — the redaction pass of a training-data
    * cleaning pipeline: emails and standalone numbers replaced by
    * placeholder tokens, with per-document match counts for audit. Pure
    * map-side regex (scan speed at any scale); patterns are RE2-safe so
    * the DuckDB oracle applies the identical automata. The redacted text
    * is emitted as its md5 (cross-engine-stable), keeping the verified
    * output compact while still pinning every replaced byte.
    */
  val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val NumberRe = "\\b[0-9]+\\b"

  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    // The synthetic corpus is digit-free, so a deterministic contact
    // footer supplies realistic redactable content (the fixture-data
    // equivalent of scraped pages carrying emails/ids).
    val withPii = concat(col("text"),
      lit(" contact user"), col("doc_id"), lit("@example.com ref "),
      (col("doc_id") * 7 + 13).cast("string"))
    val redacted = regexp_replace(
      regexp_replace(withPii, EmailRe, "<EMAIL>"), NumberRe, "<NUM>")
    Tables.documents(spark, dir).select(
      col("doc_id"),
      regexp_count(withPii, lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(withPii, lit(NumberRe)).cast("long").as("n_numbers"),
      md5(redacted).as("redacted_md5"))
  }

  /** BPE merge training, 3 unrolled rounds: the core of byte-pair-encoding
    * vocabulary construction — count adjacent token pairs over the
    * word-frequency table, adopt the most frequent pair as a merge
    * (ties → lexicographically first), apply it, repeat. Merge application
    * uses leftmost-non-overlapping replace over space-separated token
    * strings, which both engines implement identically (true BPE re-scans
    * after each merge; the difference only shows on self-overlapping
    * repeats like "l l l" and is deterministic on both sides — documented
    * BPE-ish, exactly mirrorable). Scale shape per round: one pair-count
    * aggregate over the vocabulary (NOT the corpus — word frequencies are
    * computed once) + a 1-row broadcast of the winning merge.
    */
  val BpeMergeRounds = 3

  private def bpeTrain(spark: SparkSession, dir: String): (Seq[DataFrame], DataFrame) = {
    import org.apache.spark.sql.DataFrame
    val words = graft.operators.TextPipeline.tokenize(Tables.documents(spark, dir))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .withColumn("seq", concat(lit(" "),
        expr("array_join(transform(sequence(1, length(word)), i -> substring(word, i, 1)), ' ')"),
        lit(" ")))
    // pair generation through the native word_ngrams generator (n=2 over
    // the token array emits exactly the "l r" pair strings, zero rows for
    // 1-token words) — the interpreted-HOF explode was the measured 15-25x
    // lambda pitfall, and the generator streams pairs row-at-a-time
    def pairCounts(seqd: DataFrame): DataFrame =
      seqd
        .withColumn("toks", split(trim(col("seq")), " "))
        .selectExpr("n", "word_ngrams(toks, 2)")
        .groupBy(col("shingle").as("pair")).agg(sum("n").as("cnt"))
    def top1(pc: DataFrame): DataFrame =
      pc.orderBy(col("cnt").desc, col("pair").asc).limit(1)
    var seqd = words
    val merges = (1 to BpeMergeRounds).map { round =>
      val m = top1(pairCounts(seqd))
      seqd = seqd.crossJoin(broadcast(m.select(col("pair").as("mp"))))
        .withColumn("seq", expr(
          "replace(seq, concat(' ', mp, ' '), concat(' ', replace(mp, ' ', ''), ' '))"))
        .drop("mp")
      m.select(lit(round).as("merge_rank"), col("pair"), col("cnt"))
    }
    (merges, seqd)
  }

  def bpeMerges(spark: SparkSession, dir: String): DataFrame = {
    val (merges, _) = bpeTrain(spark, dir)
    merges.reduce(_ unionByName _)
  }

  /** BPE ENCODE — the apply side of the tokenizer: every vocabulary word
    * emitted with its token sequence after the learned merges (the same
    * trained state [[bpeMerges]] reports as merge rules). A production
    * encoder broadcasts the full merge list and folds it over each word
    * exactly like the in-plan `replace` chain here; the verified output
    * pins word → encoded-sequence → token count end-to-end.
    */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val (_, vocab) = bpeTrain(spark, dir)
    vocab.select(col("word"), col("n").as("word_freq"),
      trim(col("seq")).as("encoded"),
      size(split(trim(col("seq")), " ")).cast("long").as("n_tokens"))
  }

  /** Batched BPE merge training — the PRODUCTION-SHAPE variant of
    * [[bpeMerges]]. One merge per round costs ~2 barriered jobs, so 30k+
    * production merges ⇒ ~60k sequential jobs — the per-round job count,
    * not per-round cost, is what kills the unbatched loop at scale. This
    * variant adopts a SET of mutually symbol-disjoint merges per round via
    * a local-winner rule (the Luby-MIS trick, fully distributed — no global
    * rank, no single-partition window): a pair is selected iff it is the
    * best pair (cnt desc, pair asc) for BOTH its symbols, computed as one
    * `min_by` aggregate per symbol. Disjoint symbols ⇒ occurrences cannot
    * interact, so applying the batch in one pass equals applying each merge
    * sequentially — semantics stay exact-BPE-greedy-compatible per batch
    * while rounds (and jobs) drop ~k×. Selection caps at [[BpeBatchK]] per
    * round; merge application folds the batch over the vocabulary in one
    * projection.
    */
  val BpeBatchRounds = 2
  val BpeBatchK = 8

  def bpeMergesBatched(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.DataFrame
    val words = graft.operators.TextPipeline.tokenize(Tables.documents(spark, dir))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .withColumn("seq", concat(lit(" "),
        expr("array_join(transform(sequence(1, length(word)), i -> substring(word, i, 1)), ' ')"),
        lit(" ")))
    // native-generator pair stream — same rationale as bpeMerges
    def pairCounts(seqd: DataFrame): DataFrame =
      seqd
        .withColumn("toks", split(trim(col("seq")), " "))
        .selectExpr("n", "word_ngrams(toks, 2)")
        .groupBy(col("shingle").as("pair")).agg(sum("n").as("cnt"))
    // local-winner independent set: best pair per symbol via one aggregate
    def selectBatch(pc: DataFrame): DataFrame = {
      val syms = pc
        .withColumn("lsym", split(col("pair"), " ")(0))
        .withColumn("rsym", split(col("pair"), " ")(1))
      val best = syms.select(col("lsym").as("sym"), col("pair"), col("cnt"))
        .unionByName(syms.select(col("rsym").as("sym"), col("pair"), col("cnt")))
        .groupBy("sym")
        .agg(min_by(col("pair"), struct((col("cnt") * -1).as("negc"), col("pair"))).as("best_pair"))
      syms
        .join(best.select(col("sym").as("lsym"), col("best_pair").as("lbest")), "lsym")
        .join(best.select(col("sym").as("rsym"), col("best_pair").as("rbest")), "rsym")
        .filter(col("pair") === col("lbest") && col("pair") === col("rbest"))
        .select("pair", "cnt")
        .orderBy(col("cnt").desc, col("pair").asc).limit(BpeBatchK)
    }
    var seqd = words
    val rounds = (1 to BpeBatchRounds).map { round =>
      val sel = selectBatch(pairCounts(seqd))
      val batch = sel.agg(expr(
        "transform(array_sort(collect_list(struct(-cnt AS negc, pair AS pair))), s -> s.pair)")
        .as("merges"))
      seqd = seqd.crossJoin(broadcast(batch))
        .withColumn("seq", expr(
          "aggregate(merges, seq, (acc, m) -> replace(acc, concat(' ', m, ' '), concat(' ', replace(m, ' ', ''), ' ')))"))
        .drop("merges")
      sel.select(lit(round).as("merge_round"), col("pair"), col("cnt"))
    }
    rounds.reduce(_ unionByName _)
  }

  /** Trainer version of the persisted BPE merge table: part of its
    * artifact key, so an algorithm bump trains a NEW artifact.
    */
  val BpeArtifactVersion = 1

  /** Load the PERSISTED merge table for `dir`, training + publishing it
    * first if absent ([[graft.sparkutil.CorpusKey.buildOnce]], keyed by
    * the corpus, the merge rounds and the trainer version).
    */
  private[graft] def bpeArtifact(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.sparkutil.CorpusKey.buildOnce("graft-bpe-merges",
        java.nio.file.Paths.get(dir, "documents.parquet"),
        s"$BpeMergeRounds|$BpeArtifactVersion") { staging =>
      bpeMerges(spark, dir).coalesce(1).write.mode("overwrite").parquet(staging.toString)
    }
    spark.read.parquet(path.toString)
  }

  /** BPE ENCODE FROM THE PERSISTED TOKENIZER — the production serving
    * shape [[bpeEncode]] only simulates: training (the corpus-wide
    * iterative merge search — [[bpeMerges]]' 2-jobs-per-round chain) runs
    * ONCE into a fingerprinted parquet artifact, and every encode job
    * LOADS the merge table and folds it over the vocabulary as one
    * broadcast + one map-side projection — zero training jobs on the
    * encode path, exactly how a trained tokenizer ships to a 1000-node
    * inference/packing fleet. The fold applies merges in learned rank
    * order (leftmost-non-overlapping replace per merge), which is
    * BY CONSTRUCTION the same operation the trainer applied sequentially,
    * so artifact-encode == train-encode bit-for-bit (TextAnalysisSpec
    * pins train-run == load-run identity, and the oracle is
    * [[bpeEncode]]'s own SQL). At 100 TB: the trainer's cost amortizes to
    * zero, the encoder is scan-speed, and the fingerprint (corpus bytes +
    * mtime + trainer version) retrains exactly when the corpus or
    * algorithm changes.
    */
  def bpeEncodePersisted(spark: SparkSession, dir: String): DataFrame = {
    val merges = bpeArtifact(spark, dir)
      .agg(expr(
        "transform(array_sort(collect_list(struct(merge_rank, pair))), s -> s.pair)")
        .as("merges"))
    val words = graft.operators.TextPipeline.tokenize(Tables.documents(spark, dir))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .withColumn("seq", concat(lit(" "),
        expr("array_join(transform(sequence(1, length(word)), i -> substring(word, i, 1)), ' ')"),
        lit(" ")))
    words.crossJoin(broadcast(merges))
      .withColumn("seq", expr(
        "aggregate(merges, seq, (acc, m) -> replace(acc, concat(' ', m, ' '), concat(' ', replace(m, ' ', ''), ' ')))"))
      .select(col("word"), col("n").as("word_freq"),
        trim(col("seq")).as("encoded"),
        size(split(trim(col("seq")), " ")).cast("long").as("n_tokens"))
  }

  /** Deterministic train/val/test split (80/10/10) by salted content-free
    * hash of the stable doc_id — the reproducible-split primitive every
    * training pipeline needs: adding documents never reshuffles existing
    * assignments, re-runs are bit-identical, and the salt ("split:") keeps
    * this hash independent of any other doc_id-derived hash in the
    * pipeline. Pure map-side at any scale.
    */
  def trainTestSplit(spark: SparkSession, dir: String): DataFrame = {
    val pct = conv(substring(md5(concat(lit("split:"), col("doc_id"))), 1, 4), 16, 10)
      .cast("long") % 100
    Tables.documents(spark, dir).select(
      col("doc_id"), col("lang"),
      when(pct < 80, "train").when(pct < 90, "val").otherwise("test").as("split"))
  }

  /** Stratified (per-language) downsampling: dominant strata are kept at a
    * lower rate to rebalance the corpus — deterministic hash-residue
    * acceptance per stratum, so the sample is reproducible and join-stable.
    * Same map-side shape as [[trainTestSplit]]; rates are data-engineering
    * knobs, not learned.
    */
  val StratRates: Map[String, Int] = // acceptance per mille
    Map("en" -> 300).withDefaultValue(600)

  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val residue = conv(substring(md5(concat(lit("strat:"), col("doc_id"))), 1, 6), 16, 10)
      .cast("long") % 1000
    val rate = when(col("lang") === "en", lit(StratRates("en")))
      .otherwise(lit(StratRates("other")))
    Tables.documents(spark, dir)
      .filter(residue < rate)
      .select(col("doc_id"), col("lang"))
  }

  /** Unicode ACCENT FOLDING over the corpus via the native
    * [[graft.plans.UnicodeFold]] expression (NFD + combining-mark strip —
    * the multilingual normalize step before tokenization/fingerprinting).
    * The ASCII fixture can't exercise it on its own (the vacuous-pass
    * trap), so accents are INJECTED deterministically per doc_id residue
    * (á é í ó ú ñ on one class, ü on another, untouched on the third) and
    * the gate proves: (a) the injection actually mutated text
    * (`n_mutated` > 0 classes), (b) folding RECONSTRUCTS the original
    * byte-for-byte (`n_roundtrip_ok`), (c) folded lengths match DuckDB's
    * `strip_accents` replay. The expression rides whole-stage codegen; the
    * untouched residue class exercises the zero-allocation ASCII fast
    * path at corpus scale.
    */
  def accentFold(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .withColumn("accented",
        when(col("doc_id") % 3 === 0, translate(col("text"), "aeioun", "áéíóúñ"))
          .when(col("doc_id") % 3 === 1, translate(col("text"), "u", "ü"))
          .otherwise(col("text")))
      .withColumn("folded", expr("unicode_fold(accented)"))
      .groupBy((col("doc_id") % 3).as("grp"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("accented") =!= col("text"), 1L).otherwise(0L)).as("n_mutated"),
        sum(when(col("folded") === col("text"), 1L).otherwise(0L)).as("n_roundtrip_ok"),
        sum(length(col("folded"))).as("total_chars"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_accent_fold" -> accentFold _,
    "bpe_merges" -> bpeMerges _,
    "bpe_encode" -> bpeEncode _,
    "bpe_encode_persisted" -> bpeEncodePersisted _,
    "bpe_merges_batched" -> bpeMergesBatched _,
    "pii_redact" -> piiRedact _,
    "length_outliers" -> lengthOutliers _,
    "boilerplate_ngrams" -> boilerplateNgrams _,
    "doc_chunking" -> docChunks _,
    "length_outliers_approx" -> lengthOutliersApprox _,
    "text_repetition" -> textRepetition _,
    "decontaminate" -> decontaminate _,
    "shard_packing" -> shardPacking _,
    "sequence_packing" -> sequencePacking _,
    "text_unigram_logprob" -> unigramLogprob _,
    "quality_buckets" -> qualityBuckets _,
    "text_bigram_logprob" -> bigramLogprob _,
    "domain_caps" -> domainCaps _,
    "train_test_split" -> trainTestSplit _,
    "stratified_sample" -> stratifiedSample _,
    "tfidf_top_terms" -> tfidfTopTerms _,
    "pipeline_clean_corpus" -> cleanCorpus _,
    "training_corpus_funnel" -> trainingCorpusFunnel _,
    "doc_winnowing" -> winnowing _,
    "text_langid_ngram" -> langIdNgram _,
    "text_token_counts" -> tokenCounts _,
    "text_quality" -> qualityScore _,
    "text_lexical_diversity" -> lexicalDiversity _,
    "term_label_chi2" -> termLabelChi2 _,
    "text_langid" -> langId _,
    "doc_fingerprint" -> fingerprint _,
  )

  private val langNgramOracle: String = {
    val profiles = Seq(
      "es" -> Seq("el ", "la ", " de", "que", "ión", "os "),
      "de" -> Seq("der", "ein", "sch", "ich", "und", "en "),
      "fr" -> Seq("le ", "les", "ent", " de", "ion", "es "),
      "en" -> Seq("the", " th", "ing", "and", " of", "ed "))
    val hitCols = profiles.map { case (lang, ts) =>
      val set = ts.map(t => s"'${t.replace("'", "''")}'").mkString(", ")
      s"len(list_filter(gs, x -> x IN ($set))) AS $lang"
    }.mkString(",\n   ")
    s"""WITH t AS (SELECT doc_id, lang AS lang_actual, lower(text) AS lt FROM documents),
       |g AS (SELECT doc_id, lang_actual,
       |  list_transform(generate_series(1, greatest(length(lt) - 2, 0)), i -> substr(lt, i, 3)) AS gs
       |  FROM t),
       |h AS (SELECT doc_id, lang_actual,
       |   $hitCols
       |  FROM g)
       |SELECT doc_id, lang_actual,
       | CASE WHEN es > de AND es > fr AND es > en THEN 'es'
       |      WHEN de > fr AND de > en THEN 'de'
       |      WHEN fr > en THEN 'fr'
       |      ELSE 'en' END AS lang_pred
       |FROM h""".stripMargin
  }

  /** Dialect mirror of [[bpeMerges]] — unrolled rounds as chained CTEs. */
  private lazy val bpeOracleSql: String = {
    def pairsCte(src: String, out: String): String =
      s"""$out AS (SELECT pair, sum(n)::BIGINT AS cnt FROM (
         |  SELECT n, unnest(list_transform(generate_series(1, len(tk) - 1),
         |                                  i -> tk[i] || ' ' || tk[i + 1])) AS pair
         |  FROM (SELECT n, string_split(trim(seq), ' ') AS tk FROM $src))
         |GROUP BY pair)""".stripMargin
    def applyCte(seqSrc: String, mergeSrc: String, out: String): String =
      s"""$out AS (SELECT s.n,
         |  replace(s.seq, ' ' || m.pair || ' ', ' ' || replace(m.pair, ' ', '') || ' ') AS seq
         |FROM $seqSrc s CROSS JOIN $mergeSrc m)""".stripMargin
    val rounds = (1 to BpeMergeRounds).map { r =>
      s"""${pairsCte(s"s${r - 1}", s"p$r")},
         |m$r AS (SELECT pair, cnt FROM p$r ORDER BY cnt DESC, pair ASC LIMIT 1),
         |${applyCte(s"s${r - 1}", s"m$r", s"s$r")}""".stripMargin
    }.mkString(",\n")
    val out = (1 to BpeMergeRounds)
      .map(r => s"SELECT $r AS merge_rank, pair, cnt FROM m$r")
      .mkString(" UNION ALL ")
    s"""${Oracle.tokensCte},
       |wf AS (SELECT word, count(*) AS n FROM toks WHERE word <> '' GROUP BY word),
       |s0 AS (SELECT n, ' ' || array_to_string(
       |  list_transform(generate_series(1, length(word)), i -> substr(word, i, 1)), ' ') || ' ' AS seq
       |  FROM wf),
       |$rounds
       |$out""".stripMargin
  }

  /** Dialect mirror of [[bpeEncode]] — the same unrolled training CTEs
    * with `word` carried through the apply chain, emitting the encoded
    * vocabulary instead of the merge rules.
    */
  private lazy val bpeEncodeOracleSql: String = {
    def pairsCte(src: String, out: String): String =
      s"""$out AS (SELECT pair, sum(n)::BIGINT AS cnt FROM (
         |  SELECT n, unnest(list_transform(generate_series(1, len(tk) - 1),
         |                                  i -> tk[i] || ' ' || tk[i + 1])) AS pair
         |  FROM (SELECT n, string_split(trim(seq), ' ') AS tk FROM $src))
         |GROUP BY pair)""".stripMargin
    def applyCte(seqSrc: String, mergeSrc: String, out: String): String =
      s"""$out AS (SELECT s.word, s.n,
         |  replace(s.seq, ' ' || m.pair || ' ', ' ' || replace(m.pair, ' ', '') || ' ') AS seq
         |FROM $seqSrc s CROSS JOIN $mergeSrc m)""".stripMargin
    val rounds = (1 to BpeMergeRounds).map { r =>
      s"""${pairsCte(s"s${r - 1}", s"p$r")},
         |m$r AS (SELECT pair FROM p$r ORDER BY cnt DESC, pair ASC LIMIT 1),
         |${applyCte(s"s${r - 1}", s"m$r", s"s$r")}""".stripMargin
    }.mkString(",\n")
    s"""${Oracle.tokensCte},
       |wf AS (SELECT word, count(*) AS n FROM toks WHERE word <> '' GROUP BY word),
       |s0 AS (SELECT word, n, ' ' || array_to_string(
       |  list_transform(generate_series(1, length(word)), i -> substr(word, i, 1)), ' ') || ' ' AS seq
       |  FROM wf),
       |$rounds
       |SELECT word, n::BIGINT AS word_freq, trim(seq) AS encoded,
       | len(string_split(trim(seq), ' '))::BIGINT AS n_tokens
       |FROM s$BpeMergeRounds""".stripMargin
  }

  /** Dialect mirror of [[bpeMergesBatched]] — local-winner selection as a
    * per-symbol row_number window (the aggregate min_by and the window
    * pick the same unique best under the (cnt desc, pair asc) total
    * order), batch application as a list_reduce fold.
    */
  private lazy val bpeBatchedOracleSql: String = {
    def pairsCte(src: String, out: String): String =
      s"""$out AS (SELECT pair, sum(n)::BIGINT AS cnt FROM (
         |  SELECT n, unnest(list_transform(generate_series(1, len(tk) - 1),
         |                                  i -> tk[i] || ' ' || tk[i + 1])) AS pair
         |  FROM (SELECT n, string_split(trim(seq), ' ') AS tk FROM $src))
         |GROUP BY pair)""".stripMargin
    val rounds = (1 to BpeBatchRounds).map { r =>
      s"""${pairsCte(s"s${r - 1}", s"p$r")},
         |sy$r AS (SELECT pair, cnt, string_split(pair, ' ')[1] AS lsym, string_split(pair, ' ')[2] AS rsym FROM p$r),
         |bs$r AS (SELECT sym, pair AS best_pair FROM (
         |  SELECT sym, pair, row_number() OVER (PARTITION BY sym ORDER BY cnt DESC, pair ASC) AS j
         |  FROM (SELECT lsym AS sym, pair, cnt FROM sy$r UNION ALL SELECT rsym, pair, cnt FROM sy$r))
         |  WHERE j = 1),
         |sel$r AS (SELECT k.pair, k.cnt FROM sy$r k
         |  JOIN bs$r bl ON bl.sym = k.lsym AND bl.best_pair = k.pair
         |  JOIN bs$r br ON br.sym = k.rsym AND br.best_pair = k.pair
         |  ORDER BY k.cnt DESC, k.pair ASC LIMIT $BpeBatchK),
         |s$r AS (SELECT n, list_reduce(list_prepend(seq,
         |    coalesce((SELECT list(pair ORDER BY cnt DESC, pair ASC) FROM sel$r), [])),
         |  (acc, m) -> replace(acc, ' ' || m || ' ', ' ' || replace(m, ' ', '') || ' ')) AS seq
         |  FROM s${r - 1})""".stripMargin
    }.mkString(",\n")
    val out = (1 to BpeBatchRounds)
      .map(r => s"SELECT $r AS merge_round, pair, cnt FROM sel$r")
      .mkString(" UNION ALL ")
    s"""${Oracle.tokensCte},
       |wf AS (SELECT word, count(*) AS n FROM toks WHERE word <> '' GROUP BY word),
       |s0 AS (SELECT n, ' ' || array_to_string(
       |  list_transform(generate_series(1, length(word)), i -> substr(word, i, 1)), ' ') || ' ' AS seq
       |  FROM wf),
       |$rounds
       |$out""".stripMargin
  }

  def oracle: Map[String, String] = Map(
    // same deterministic accent injection, folded back with strip_accents.
    // DuckDB's strip_accents stops at the first U+0000 of a non-ASCII
    // string (strip_accents('ab' || chr(0) || 'cdé') = 'ab'), so each
    // NUL-separated piece is folded on its own and the NULs put back
    "text_accent_fold" ->
      """WITH a AS (
        |  SELECT doc_id % 3 AS grp, text,
        |    CASE doc_id % 3
        |      WHEN 0 THEN translate(text, 'aeioun', 'áéíóúñ')
        |      WHEN 1 THEN translate(text, 'u', 'ü')
        |      ELSE text END AS accented
        |  FROM documents
        |), f AS (
        |  SELECT grp, text, accented,
        |    array_to_string(list_transform(string_split(accented, chr(0)),
        |      x -> strip_accents(x)), chr(0)) AS folded
        |  FROM a
        |)
        |SELECT grp, count(*) AS n_docs,
        |  sum(CASE WHEN accented <> text THEN 1 ELSE 0 END)::BIGINT AS n_mutated,
        |  sum(CASE WHEN folded = text THEN 1 ELSE 0 END)::BIGINT AS n_roundtrip_ok,
        |  sum(length(folded))::BIGINT AS total_chars
        |FROM f GROUP BY 1""".stripMargin,
    "bpe_merges" -> bpeOracleSql,
    "bpe_encode" -> bpeEncodeOracleSql,
    // artifact-encode == train-encode by construction; one oracle pins both
    "bpe_encode_persisted" -> bpeEncodeOracleSql,
    "bpe_merges_batched" -> bpeBatchedOracleSql,
    "length_outliers" ->
      s"""WITH lens AS (
        |  SELECT doc_id, len(${Oracle.words("text")})::DOUBLE AS len
        |  FROM documents),
        |med AS (SELECT quantile_cont(len, 0.5) AS med FROM lens),
        |mad AS (SELECT quantile_cont(abs(len - med), 0.5) AS mad FROM lens, med)
        |SELECT doc_id, len::BIGINT AS n_tokens,
        | abs(len - med) > mad * 3 AS is_outlier
        |FROM lens, med, mad""".stripMargin,
    "length_outliers_approx" ->
      s"""SELECT doc_id, len(${Oracle.words("text")})::BIGINT AS n_tokens,
        | true AS approx_med_ok, true AS approx_mad_ok
        |FROM documents""".stripMargin,
    "doc_chunking" ->
      s"""WITH w AS (SELECT doc_id, ${Oracle.words("text")} AS words FROM documents),
         |base AS (SELECT doc_id, words, len(words) AS n_words,
         |  CASE WHEN len(words) <= $ChunkSize THEN 1
         |       ELSE 1 + (len(words) - $ChunkSize + $ChunkStride - 1) // $ChunkStride END AS k
         |  FROM w),
         |ch AS (SELECT doc_id, words, n_words, unnest(generate_series(0, k - 1)) AS chunk_id FROM base)
         |SELECT doc_id, chunk_id::BIGINT AS chunk_id,
         | (chunk_id * $ChunkStride)::BIGINT AS chunk_start,
         | least($ChunkSize, n_words - chunk_id * $ChunkStride)::BIGINT AS n_chunk_tokens,
         | array_to_string(words[chunk_id * $ChunkStride + 1 : chunk_id * $ChunkStride + $ChunkSize], ' ') AS chunk_text
         |FROM ch""".stripMargin,
    "boilerplate_ngrams" ->
      s"""WITH w AS (SELECT doc_id, ${Oracle.words("text")} AS words FROM documents),
         |g AS (SELECT DISTINCT doc_id,
         |   array_to_string(words[i:i+${BoilerplateN - 1}], ' ') AS passage
         |  FROM (SELECT doc_id, words, unnest(generate_series(1, len(words) - ${BoilerplateN - 1})) AS i
         |        FROM w WHERE len(words) >= $BoilerplateN))
         |SELECT passage, count(DISTINCT doc_id)::BIGINT AS df
         |FROM g GROUP BY passage HAVING count(DISTINCT doc_id) >= $BoilerplateMinDf""".stripMargin,
    "text_repetition" ->
      s"""${Oracle.tokensCte},
        |tc AS (SELECT doc_id, word, count(*) AS c FROM toks WHERE word <> '' GROUP BY 1, 2)
        |SELECT doc_id, sum(c)::BIGINT AS n_tokens,
        | round(1 - count(*) * 1.0 / sum(c), 4) AS dup_word_ratio,
        | round(max(c) * 1.0 / sum(c), 4) AS top_word_ratio
        |FROM tc GROUP BY doc_id""".stripMargin,
    "decontaminate" ->
      s"""WITH w AS (SELECT doc_id, ${Oracle.words("text")} AS words FROM documents),
        |pos AS (SELECT doc_id, words, unnest(generate_series(1, len(words) - 4)) AS i
        |        FROM w WHERE len(words) >= 5),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(words[i:i+4], ' ') AS shingle FROM pos),
        |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 10)
        |SELECT s.doc_id, count(*) AS n_shared_shingles
        |FROM sh s JOIN bench b ON s.shingle = b.shingle
        |WHERE s.doc_id >= 10
        |GROUP BY s.doc_id""".stripMargin,
    "text_unigram_logprob" ->
      s"""${Oracle.tokensCte},
        |tk AS (SELECT doc_id, word FROM toks WHERE word <> ''),
        |vocab AS (SELECT word, count(*) AS wcnt FROM tk GROUP BY 1),
        |total AS (SELECT sum(wcnt)::DOUBLE AS total_tokens FROM vocab)
        |SELECT doc_id, count(*) AS n_tokens,
        | round(avg(log2(wcnt / total_tokens)), 4) AS avg_log2_prob
        |FROM tk JOIN vocab USING (word), total
        |GROUP BY doc_id""".stripMargin,
    "text_bigram_logprob" ->
      s"""WITH w AS (
        |  SELECT doc_id,
        |   ${Oracle.tokens("text")} AS words
        |  FROM documents),
        |tk AS (SELECT doc_id, unnest(words) AS word FROM w),
        |tk2 AS (SELECT doc_id, word FROM tk WHERE word <> ''),
        |uni AS (SELECT word, count(*) AS wcnt FROM tk2 GROUP BY 1),
        |pos AS (SELECT doc_id, words, unnest(generate_series(1, len(words) - 1)) AS i
        |        FROM w WHERE len(words) >= 2),
        |bg AS (SELECT doc_id, array_to_string(words[i:i+1], ' ') AS bigram FROM pos),
        |bcounts AS (SELECT bigram, count(*) AS bcnt FROM bg GROUP BY 1)
        |SELECT doc_id, count(*) AS n_bigrams,
        | round(avg(log2(bcnt * 1.0 / wcnt)), 4) AS avg_log2_bigram_prob
        |FROM bg JOIN bcounts USING (bigram)
        |JOIN uni ON split_part(bigram, ' ', 1) = word
        |GROUP BY doc_id""".stripMargin,
    "quality_buckets" ->
      s"""${Oracle.tokensCte},
        |tk AS (SELECT doc_id, word FROM toks WHERE word <> ''),
        |vocab AS (SELECT word, count(*) AS wcnt FROM tk GROUP BY 1),
        |total AS (SELECT sum(wcnt)::DOUBLE AS total_tokens FROM vocab),
        |scored AS (
        |  SELECT doc_id, round(avg(log2(wcnt / total_tokens)), 4) AS avg_log2_prob
        |  FROM tk JOIN vocab USING (word), total GROUP BY doc_id),
        |b AS (
        |  SELECT lang, avg_log2_prob,
        |   ntile(3) OVER (PARTITION BY lang ORDER BY avg_log2_prob DESC, doc_id) AS bucket
        |  FROM scored JOIN documents USING (doc_id))
        |SELECT lang,
        | CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket_name,
        | count(*)::BIGINT AS n_docs, min(avg_log2_prob) AS min_score,
        | max(avg_log2_prob) AS max_score
        |FROM b GROUP BY 1, 2""".stripMargin,
    "domain_caps" ->
      s"""SELECT source, count(*)::BIGINT AS n_docs_total,
         | sum(CASE WHEN rn <= $CapPerDomain THEN 1 ELSE 0 END)::BIGINT AS n_kept,
         | sum(CASE WHEN rn <= $CapPerDomain THEN n_chars ELSE 0 END)::BIGINT AS chars_kept
         |FROM (SELECT source, n_chars,
         |       row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
         |      FROM documents)
         |GROUP BY source""".stripMargin,
    "shard_packing" ->
      s"""SELECT doc_id, lang,
        | ((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id)
        |    - n_tokens) // $ShardBudget)::BIGINT AS shard_id
        |FROM (SELECT doc_id, lang,
        |       len(${Oracle.words("text")})::BIGINT AS n_tokens
        |      FROM documents)""".stripMargin,
    // the sequential form of the same packing: one windowed cumsum over
    // the doc_id order — must equal the distributed two-level prefix
    "sequence_packing" ->
      s"""WITH t AS (SELECT doc_id,
         |        len(${Oracle.words("text")})::BIGINT AS n_tokens
         |       FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |       (sum(n_tokens) OVER (ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |        - n_tokens)::BIGINT AS start_tok
         |      FROM t)
         |SELECT doc_id, n_tokens, start_tok,
         | (start_tok // $SeqLen)::BIGINT AS seq_first,
         | ((start_tok + greatest(n_tokens, 1) - 1) // $SeqLen)::BIGINT AS seq_last,
         | ((start_tok + greatest(n_tokens, 1) - 1) // $SeqLen
         |   - start_tok // $SeqLen + 1)::BIGINT AS n_seqs
         |FROM c""".stripMargin,
    "pii_redact" ->
      s"""WITH w AS (SELECT doc_id,
         |  text || ' contact user' || doc_id || '@example.com ref ' || (doc_id * 7 + 13) AS t
         |  FROM documents)
         |SELECT doc_id,
         | len(regexp_extract_all(t, '$EmailRe'))::BIGINT AS n_emails,
         | len(regexp_extract_all(t, '$NumberRe'))::BIGINT AS n_numbers,
         | md5(regexp_replace(regexp_replace(t, '$EmailRe', '<EMAIL>', 'g'),
         |     '$NumberRe', '<NUM>', 'g')) AS redacted_md5
         |FROM w""".stripMargin,
    "train_test_split" ->
      """SELECT doc_id, lang,
        | CASE WHEN ('0x' || substr(md5('split:' || doc_id), 1, 4))::BIGINT % 100 < 80 THEN 'train'
        |      WHEN ('0x' || substr(md5('split:' || doc_id), 1, 4))::BIGINT % 100 < 90 THEN 'val'
        |      ELSE 'test' END AS split
        |FROM documents""".stripMargin,
    "stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE ('0x' || substr(md5('strat:' || doc_id), 1, 6))::BIGINT % 1000
        |      < (CASE WHEN lang = 'en' THEN 300 ELSE 600 END)""".stripMargin,
    "tfidf_top_terms" ->
      s"""${Oracle.tokensCte},
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM toks WHERE word <> '' GROUP BY doc_id, word),
        |df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
        |n AS (SELECT count(*)::DOUBLE AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.word,
        |   row_number() OVER (PARTITION BY tf.doc_id
        |     ORDER BY tf.tf * ln(n.n / df.df) DESC, tf.word ASC) AS rank
        |  FROM tf JOIN df USING (word) CROSS JOIN n)
        |SELECT doc_id, word, rank FROM scored WHERE rank <= 3""".stripMargin,
    "training_corpus_funnel" ->
      s"""WITH fp AS (
        |  SELECT doc_id, md5(${Oracle.normalize("text")}) AS fp
        |  FROM documents),
        |survivors AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY fp),
        |q AS (
        |  SELECT d.doc_id, d.text FROM documents d JOIN survivors s ON d.doc_id = s.doc_id
        |  WHERE round(least(1.0,
        |     0.5 * least(1.0, len(${Oracle.words("text")}) * 1.0 / 50.0)
        |     + 0.3 * least(1.0, len(list_filter(${Oracle.words("text")},
        |         w -> w IN ('the', 'a', 'of', 'and', 'to'))) * 1.0
        |         / len(${Oracle.words("text")}) * 10.0)
        |     + 0.2 * (1.0 - (length(text) - length(${Oracle.normalize("text")})) * 1.0
        |         / length(text))), 4) >= 0.5),
        |w AS (SELECT doc_id, ${Oracle.words("text")} AS words FROM q),
        |pos AS (SELECT doc_id, words, unnest(generate_series(1, len(words) - 4)) AS i
        |        FROM w WHERE len(words) >= 5),
        |sh AS (SELECT doc_id, i, array_to_string(words[i:i+4], ' ') AS shingle FROM pos),
        |dups AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(DISTINCT doc_id) >= 2),
        |cov AS (SELECT s.doc_id, list(DISTINCT s.i + o.off) AS cov
        |        FROM sh s JOIN dups USING (shingle)
        |        CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS off) o
        |        GROUP BY s.doc_id),
        |clean AS (SELECT w.doc_id,
        |   coalesce(array_to_string(list_filter(list_transform(generate_series(1, len(w.words)),
        |     i -> CASE WHEN cov.cov IS NOT NULL AND list_contains(cov.cov, i)
        |          THEN NULL ELSE w.words[i] END), x -> x IS NOT NULL), ' '), '') AS ctext,
        |   (len(w.words) - coalesce(len(cov.cov), 0)) AS n_kept
        |  FROM w LEFT JOIN cov USING (doc_id)),
        |nz AS (SELECT doc_id, ${Oracle.words("ctext")} AS words
        |       FROM clean WHERE n_kept > 0),
        |base AS (SELECT doc_id, len(words) AS n_words,
        |  CASE WHEN len(words) <= 64 THEN 1 ELSE 1 + (len(words) - 64 + 47) // 48 END AS k
        |  FROM nz),
        |chtok AS (SELECT least(64, n_words - chunk_id * 48) AS n_chunk_tokens
        |          FROM (SELECT doc_id, n_words, unnest(generate_series(0, k - 1)) AS chunk_id FROM base))
        |SELECT
        | (SELECT count(*) FROM documents)::BIGINT AS n_raw,
        | (SELECT count(*) FROM survivors)::BIGINT AS n_after_dedup,
        | (SELECT count(*) FROM q)::BIGINT AS n_after_quality,
        | (SELECT count(*) FROM clean WHERE n_kept > 0)::BIGINT AS n_after_excise,
        | (SELECT count(*) FROM chtok)::BIGINT AS n_chunks,
        | (SELECT sum(n_chunk_tokens) FROM chtok)::BIGINT AS n_tokens""".stripMargin,
    "pipeline_clean_corpus" ->
      s"""WITH fp AS (
        |  SELECT doc_id, md5(${Oracle.normalize("text")}) AS fp
        |  FROM documents),
        |survivors AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY fp),
        |q AS (
        |  SELECT doc_id,
        |   round(least(1.0,
        |     0.5 * least(1.0, len(${Oracle.words("text")}) * 1.0 / 50.0)
        |     + 0.3 * least(1.0, len(list_filter(${Oracle.words("text")},
        |         w -> w IN ('the', 'a', 'of', 'and', 'to'))) * 1.0
        |         / len(${Oracle.words("text")}) * 10.0)
        |     + 0.2 * (1.0 - (length(text) - length(${Oracle.normalize("text")})) * 1.0
        |         / length(text))), 4) AS quality_score,
        |   len(${Oracle.words("text")})::BIGINT AS n_ws_tokens
        |  FROM documents)
        |SELECT s.doc_id, q.quality_score, q.n_ws_tokens
        |FROM survivors s JOIN q ON s.doc_id = q.doc_id
        |WHERE q.quality_score >= 0.5""".stripMargin,
    "doc_winnowing" ->
      s"""WITH w AS (SELECT doc_id, ${Oracle.words("text")} AS words FROM documents),
        |pos AS (SELECT doc_id, words, unnest(generate_series(1, len(words) - 4)) AS i
        |        FROM w WHERE len(words) >= 5),
        |sh AS (SELECT doc_id, i - 1 AS pos,
        |  ('0x' || substr(md5(array_to_string(words[i:i+4], ' ')), 1, 8))::BIGINT AS h FROM pos),
        |wm AS (SELECT doc_id, pos,
        |  min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp FROM sh)
        |SELECT DISTINCT doc_id, fp FROM wm WHERE pos >= 3""".stripMargin,
    "text_langid_ngram" -> langNgramOracle,
    "text_token_counts" ->
      s"""WITH w AS (SELECT doc_id, text, ${Oracle.words("text")} AS words FROM documents)
        |SELECT doc_id, len(words)::BIGINT AS n_ws_tokens,
        | len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9${Oracle.Space}]'))::BIGINT AS n_bpe_tokens,
        | length(text)::BIGINT AS n_chars_calc,
        | round(list_sum(list_transform(words, w -> length(w))) * 1.0 / len(words), 4) AS avg_token_len
        |FROM w""".stripMargin,
    "text_lexical_diversity" ->
      s"""WITH w AS (SELECT doc_id, unnest(${Oracle.words("text")}) AS word
        |           FROM documents),
        |c AS (SELECT doc_id, word, count(*)::BIGINT AS c FROM w
        |      WHERE word <> '' GROUP BY 1, 2)
        |SELECT doc_id, sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS n_types,
        | round(count(*)::DOUBLE / sum(c), 4) AS ttr,
        | round(log2(sum(c)::DOUBLE) - sum(c::DOUBLE * log2(c::DOUBLE)) / sum(c), 4)
        |   AS entropy_bits
        |FROM c GROUP BY 1""".stripMargin,
    "term_label_chi2" ->
      s"""WITH t AS (SELECT lang, unnest(${Oracle.words("text")}) AS word
        |           FROM documents),
        |cell AS (SELECT lang, word, count(*)::BIGINT AS a FROM t
        |         WHERE word <> '' GROUP BY 1, 2),
        |wt AS (SELECT word, sum(a)::BIGINT AS wt FROM cell GROUP BY 1),
        |lt AS (SELECT lang, sum(a)::BIGINT AS lt FROM cell GROUP BY 1),
        |n AS (SELECT sum(a)::BIGINT AS n FROM cell),
        |scored AS (
        |  SELECT c.lang, c.word, c.a,
        |   (n.n::DOUBLE
        |     * (c.a::DOUBLE * (n.n::DOUBLE - wt.wt::DOUBLE - lt.lt::DOUBLE + c.a::DOUBLE)
        |        - (wt.wt::DOUBLE - c.a::DOUBLE) * (lt.lt::DOUBLE - c.a::DOUBLE))
        |     * (c.a::DOUBLE * (n.n::DOUBLE - wt.wt::DOUBLE - lt.lt::DOUBLE + c.a::DOUBLE)
        |        - (wt.wt::DOUBLE - c.a::DOUBLE) * (lt.lt::DOUBLE - c.a::DOUBLE)))
        |   / (wt.wt::DOUBLE * (n.n::DOUBLE - wt.wt::DOUBLE) * lt.lt::DOUBLE
        |      * (n.n::DOUBLE - lt.lt::DOUBLE)) AS chi2raw
        |  FROM cell c JOIN wt USING (word) JOIN lt USING (lang) CROSS JOIN n)
        |SELECT lang, word, n_in_lang, chi2, rank FROM (
        |  SELECT lang, word, a AS n_in_lang, round(chi2raw, 4) AS chi2,
        |   row_number() OVER (PARTITION BY lang ORDER BY chi2raw DESC, word ASC) AS rank
        |  FROM scored)
        |WHERE rank <= 5""".stripMargin,
    "text_quality" ->
      s"""WITH w AS (
        |  SELECT doc_id, text,
        |   len(${Oracle.words("text")}) * 1.0 AS n_toks,
        |   len(list_filter(${Oracle.words("text")},
        |       w -> w IN ('the', 'a', 'of', 'and', 'to'))) * 1.0 AS stop_hits,
        |   (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0 AS digits,
        |   (length(text) - length(${Oracle.normalize("text")})) * 1.0 AS symbols,
        |   length(text) * 1.0 AS chars
        |  FROM documents)
        |SELECT doc_id,
        | round(stop_hits / n_toks, 4) AS stopword_ratio,
        | round(digits / chars, 4) AS digit_ratio,
        | round(symbols / chars, 4) AS symbol_ratio,
        | round(least(1.0,
        |   0.5 * least(1.0, n_toks / 50.0)
        |   + 0.3 * least(1.0, stop_hits / n_toks * 10.0)
        |   + 0.2 * (1.0 - symbols / chars)), 4) AS quality_score
        |FROM w""".stripMargin,
    "text_langid" ->
      s"""WITH w AS (
        |  SELECT doc_id, lang AS lang_actual,
        |   ${Oracle.words("lower(text)")} AS words FROM documents),
        |h AS (
        |  SELECT doc_id, lang_actual,
        |   len(list_filter(words, w -> w IN ('el','la','los','de','que','y'))) AS es,
        |   len(list_filter(words, w -> w IN ('der','die','das','und','ist'))) AS de,
        |   len(list_filter(words, w -> w IN ('le','les','des','est','et'))) AS fr,
        |   len(list_filter(words, w -> w IN ('the','a','of','and','to','is'))) AS en
        |  FROM w)
        |SELECT doc_id, lang_actual,
        | CASE WHEN es > de AND es > fr AND es > en THEN 'es'
        |      WHEN de > fr AND de > en THEN 'de'
        |      WHEN fr > en THEN 'fr'
        |      ELSE 'en' END AS lang_pred
        |FROM h""".stripMargin,
    "doc_fingerprint" ->
      s"""WITH n AS (SELECT doc_id,
        |  ${Oracle.normalize("text")} AS norm FROM documents)
        |SELECT doc_id, md5(norm) AS fp,
        | ('0x' || substr(md5(norm), 1, 15))::BIGINT AS fp60
        |FROM n""".stripMargin,
  )
}
