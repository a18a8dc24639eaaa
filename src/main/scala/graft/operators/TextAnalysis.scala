package graft.operators

import graft.sources.Tables

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines: token
  * counting, quality metrics, language ID, content fingerprinting. All are
  * built from `org.apache.spark.sql.functions._` primitives (split /
  * higher-order array fns / xxhash64), so every one of them stays inside
  * whole-stage codegen and runs embarrassingly parallel per partition — no
  * shuffle, no UDF, no driver-side state: the shape that survives 100 TB.
  */
object TextAnalysis {

  /** Whitespace tokens, empties dropped (robust to leading/trailing space). */
  def tokens(c: Column): Column = filter(split(c, "\\s+"), t => t =!= "")

  def tokenCount(c: Column): Column = size(tokens(c)).cast("long")

  /** BPE-ish subword proxy: tokens further split at letter/digit boundaries,
    * counted. A cheap, deterministic token-budget estimator. */
  def subwordCount(c: Column): Column =
    size(filter(split(c, "[^\\p{L}\\p{N}]+"), t => t =!= "")).cast("long")

  /** Content fingerprint: 64-bit hash of the order-normalized token stream.
    * Word-order-insensitive, whitespace-insensitive — the "document
    * fingerprinting" primitive used by fingerprint dedup. */
  def fingerprint(c: Column): Column =
    xxhash64(concat_ws(" ", array_sort(tokens(c))))

  /** Stopword tables for the n-gram/stopword language-ID heuristic. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "that", "it", "for"),
    "fr" -> Seq("le", "la", "et", "de", "un", "une", "est", "les", "des", "en"),
    "es" -> Seq("el", "la", "y", "de", "un", "una", "es", "los", "las", "que"),
    "de" -> Seq("der", "die", "das", "und", "ein", "eine", "ist", "den", "von", "zu"),
    "zh" -> Seq("的", "了", "是", "在", "我", "有", "和", "就", "不", "人"))

  /** Language ID: stopword-overlap argmax (deterministic tie-break by lang
    * code). Unknown when nothing matches. Single-pass expression — the
    * composed greatest(struct(...)) form re-tokenized the text once per
    * language. */
  def langId(c: Column): Column =
    org.apache.spark.sql.graft.GraftBridge.column(
      graft.functions.LangId(org.apache.spark.sql.graft.GraftBridge.expression(c)))

  /** Quality heuristics: length, token stats, alpha ratio, repetition. All
    * ratios are double divisions of exact ints — deterministic. */
  def qualityMetrics(c: Column): Column = {
    val len = length(c).cast("long")
    val nTok = tokenCount(c)
    val nUniq = size(array_distinct(tokens(c))).cast("long")
    val alphaChars = length(regexp_replace(c, "[^\\p{L}]", "")).cast("long")
    struct(
      len.as("n_chars"),
      nTok.as("n_tokens"),
      nUniq.as("n_unique_tokens"),
      alphaChars.as("n_alpha_chars"),
      (nUniq.cast("double") / nTok).as("uniq_ratio"),
      (alphaChars.cast("double") / len).as("alpha_ratio"))
  }

  /** Composite quality score in [0,1]: mean of uniq and alpha ratios, with a
    * length-sanity gate. Single-pass expression (see [[qualityMetrics]] for
    * the struct-of-metrics form). */
  def qualityScore(c: Column): Column =
    org.apache.spark.sql.graft.GraftBridge.column(
      graft.functions.QualityScore(org.apache.spark.sql.graft.GraftBridge.expression(c)))

  /** Fixed-size token chunking with stride — the context-window prep step of
    * a training pipeline: each document becomes its overlapping windows of up
    * to `chunkSize` tokens, one window every `stride` tokens (the final
    * windows may be shorter). Pure per-row array math (sequence → posexplode
    * → slice), fully codegen'd, zero shuffle — every input split chunks
    * independently, so the shape is scan-bound at any corpus size. */
  def chunkTokens(docs: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      s"need 0 < stride <= chunkSize, got chunkSize=$chunkSize stride=$stride")
    docs.select(col(idCol), tokens(col(textCol)).as("ts"))
      .withColumn("n", size(col("ts")))
      .select(col(idCol), col("ts"),
        posexplode(when(col("n") > 0,
            sequence(lit(0), col("n") - 1, lit(stride)))
          .otherwise(array().cast("array<int>"))))
      .select(col(idCol),
        col("pos").cast("long").as("chunk_idx"),
        col("col").cast("long").as("chunk_start"),
        slice(col("ts"), col("col") + 1, lit(chunkSize)).as("ck"))
      .withColumn("chunk_len", size(col("ck")).cast("long"))
      .withColumn("chunk_text", array_join(col("ck"), " "))
      .drop("ck")
  }

  /** Sequence packing — assign each document a contiguous token span in a
    * fixed-budget training-sequence stream (concat-and-chunk: documents may
    * straddle sequence boundaries; `seq_first`/`seq_last` are the sequences
    * a document lands in). Packing is inherently serial per output stream,
    * so the parallel discipline is SHARDING: documents are split into
    * `nShards` deterministic streams per `streamCol` value (shard =
    * ⌊u·S⌋ from the same bit-exact md5 uniform the sampling operators use),
    * and each (stream, shard) packs independently — one bounded-size window
    * partition each, no global window anywhere. At 100 TB, raise `nShards`
    * until a shard's token count fits one task comfortably; membership and
    * offsets stay deterministic under any partitioning or rerun. */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
      streamCol: String, budget: Long, nShards: Int, seed: Long = 42L): DataFrame = {
    require(budget > 0 && nShards > 0, s"need budget>0, nShards>0; got $budget, $nShards")
    val w = Window.partitionBy("stream", "shard").orderBy(idCol)
    docs.select(col(streamCol).as("stream"), col(idCol),
        tokenCount(col(textCol)).as("n_tokens"),
        floor(Sampling.uniformFromKey(col(idCol), seed) * nShards).cast("int").as("shard"))
      .filter(col("n_tokens") > 0)
      .select(col("stream"), col("shard"), col(idCol), col("n_tokens"),
        (sum("n_tokens").over(w) - col("n_tokens")).as("tok_start"))
      .withColumn("seq_first", expr(s"tok_start div $budget"))
      .withColumn("seq_last", expr(s"(tok_start + n_tokens - 1) div $budget"))
  }

  /** Assemble the packed training sequences themselves — the materialized
    * complement of [[packSequences]]: each output row is one fixed-budget
    * sequence with its concatenated token text; a document straddling a
    * boundary contributes a slice to every sequence it spans. One window
    * pass (same (stream, shard) sharding — the token arrays ride the one
    * shuffle, no re-scan or payload join), then a per-sequence groupBy
    * whose state is bounded by `budget` tokens — both stages hold at any
    * corpus size. */
  def assembleSequences(docs: DataFrame, idCol: String, textCol: String,
      streamCol: String, budget: Long, nShards: Int, seed: Long = 42L): DataFrame = {
    require(budget > 0 && nShards > 0, s"need budget>0, nShards>0; got $budget, $nShards")
    val w = Window.partitionBy("stream", "shard").orderBy(idCol)
    val packed = docs.select(col(streamCol).as("stream"), col(idCol),
        tokens(col(textCol)).as("ts"),
        floor(Sampling.uniformFromKey(col(idCol), seed) * nShards).cast("int").as("shard"))
      .withColumn("n_tokens", size(col("ts")).cast("long"))
      .filter(col("n_tokens") > 0)
      .withColumn("tok_start", sum("n_tokens").over(w) - col("n_tokens"))
    val sliced = packed
      .withColumn("seq_id", explode(sequence(expr(s"tok_start div $budget"),
        expr(s"(tok_start + n_tokens - 1) div $budget"))))
      .withColumn("lo", greatest(col("seq_id") * budget, col("tok_start")))
      .withColumn("hi", least((col("seq_id") + 1) * budget, col("tok_start") + col("n_tokens")))
      .select(col("stream"), col("shard"), col("seq_id"), col("tok_start"),
        slice(col("ts"), (col("lo") - col("tok_start") + 1).cast("int"),
          (col("hi") - col("lo")).cast("int")).as("part"))
    sliced.groupBy("stream", "shard", "seq_id")
      .agg(sort_array(collect_list(struct(col("tok_start"), col("part")))).as("parts"))
      .select(col("stream"), col("shard"), col("seq_id"),
        size(col("parts")).cast("long").as("n_docs"),
        size(flatten(col("parts").getField("part"))).cast("long").as("seq_len"),
        array_join(flatten(col("parts").getField("part")), " ").as("seq_text"))
  }

  // BM25 ranked retrieval for a FIXED small query — the relevance-scoring
  // primitive of corpus search / query-based filtering. Per-term tf is a
  // per-row array projection (no explode, no per-(doc,term) shuffle); the
  // corpus stats reduce to ONE broadcast scalar row; scoring is a second
  // scan-bound projection. k1/b are the Robertson defaults; idf is the
  // +1-guarded form (never negative, as in Lucene).

  /** Per-doc term frequencies + doc length for a fixed query — the shared
    * first stage of [[bm25Search]]. Tokenizes ONCE: the aliased array is
    * non-cheap and multiply referenced, so CollapseProject keeps it
    * materialized instead of inlining the regex split into every tf
    * projection. */
  private def bm25TermFreqs(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String]): DataFrame =
    docs.select(col(idCol), tokens(col(textCol)).as("ts"))
      .select(
        col(idCol) +: size(col("ts")).cast("double").as("dl") +:
          queryTerms.zipWithIndex.map { case (t, i) =>
            size(filter(col("ts"), x => x === lit(t))).cast("double").as(s"tf_$i")
          }: _*)

  /** One-row corpus statistics (N, avgdl, per-term df) for [[bm25Search]].
    * The repeated-query / streaming-ingest path: compute (or load) these
    * ONCE from the frozen corpus, then score any batch in a single
    * scan-bound pass with [[bm25SearchWithStats]] — the same
    * freeze-then-probe discipline as the minhash / IVF / eval-window
    * indexes. */
  def bm25CorpusStats(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String]): DataFrame = {
    val base = bm25TermFreqs(docs, idCol, textCol, queryTerms)
    val statCols = count(lit(1)).cast("double").as("n_docs") +: avg("dl").as("avgdl") +:
      queryTerms.indices.map(i =>
        sum(when(col(s"tf_$i") > 0, 1.0).otherwise(0.0)).as(s"df_$i"))
    base.agg(statCols.head, statCols.tail: _*)
  }

  /** Score `docs` against PRECOMPUTED corpus stats (one broadcast row from
    * [[bm25CorpusStats]], possibly persisted): a single scan-bound pass. */
  def bm25SearchWithStats(docs: DataFrame, stats: DataFrame, idCol: String,
      textCol: String, queryTerms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms.size <= 16,
      s"bm25 inlines per-term projections; got ${queryTerms.size} terms")
    val scored = bm25TermFreqs(docs, idCol, textCol, queryTerms)
      .join(broadcast(stats))
    val perTerm = queryTerms.indices.map { i =>
      val idf = log(((col("n_docs") - col(s"df_$i") + 0.5) / (col(s"df_$i") + 0.5)) + 1.0)
      val tf = col(s"tf_$i")
      idf * (tf * lit(k1 + 1.0)) / (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    }
    val nMatch = queryTerms.indices
      .map(i => when(col(s"tf_$i") > 0, 1L).otherwise(0L)).reduce(_ + _)
    scored.filter(queryTerms.indices.map(i => col(s"tf_$i") > 0).reduce(_ || _))
      .select(col(idCol), nMatch.as("n_match_terms"),
        perTerm.reduce(_ + _).cast("decimal(18,6)").cast("double").as("score"))
  }

  /** One-shot convenience: stats pass + scoring pass over the same corpus. */
  def bm25Search(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25SearchWithStats(docs, bm25CorpusStats(docs, idCol, textCol, queryTerms),
      idCol, textCol, queryTerms, k1, b)

  // Corpus-trained bigram-LM perplexity — the CCNet-style quality signal
  // (Wenzek et al. 2020): score each document by how surprising its word
  // transitions are under a language model fit on the corpus itself.
  // Repetitive/boilerplate text scores low bits, unusual garbage scores
  // high, and the tails of either side are what a curation pass drops.

  /** Per-document mean negative log2-likelihood under an add-one-smoothed
    * bigram MLE trained on `docs` itself: P(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁)+V)
    * with c from corpus bigram counts and V the corpus vocabulary size.
    * Documents under 2 tokens carry no transition and are excluded (both
    * engines apply the same filter).
    *
    * Scores pass through DECIMAL(18,6) so the ln/division ulp gap between
    * engines can't flip a comparison (the q90 discipline).
    *
    * 100 TB shape: the model is the bigram count table — vocabulary-
    * bounded, built by one count shuffle and re-aggregated (not re-counted)
    * for the w₁ marginals; scoring joins each doc's bigram rows against it
    * on the bigram key (AQE picks broadcast when the model is small) and
    * reduces per doc. No driver-side state beyond the single V scalar. */
  def lmPerplexity(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val (bigrams, marginals, vocab) = lmFitModel(docs, idCol, textCol)
    lmScoreWithModel(docs, idCol, textCol, bigrams, marginals, vocab)
  }

  /** Per-doc bigram rows (id, g) for docs with ≥ 2 tokens. */
  private def lmBigrams(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"), tokens(col(textCol)).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("id"), explode(wordShingles(array_join(col("ts"), " "), 2)).as("g"))

  /** Fit the LM: (bigram counts, w1 marginals, vocab-size scalar). The
    * marginals and V derive from the COUNTS table (vocab-bounded), not
    * second corpus passes — every token of a ≥2-token doc appears in at
    * least one bigram, so the counts table's distinct words ARE the
    * vocabulary; tokens never contain whitespace, so the prefix split is
    * exact. */
  def lmFitModel(docs: DataFrame, idCol: String,
      textCol: String): (DataFrame, DataFrame, DataFrame) = {
    // fit = training action (the ivfTrain discipline): materialize the
    // vocab-bounded counts ONCE — marginals, vocab, and the scoring join
    // all read the materialized table, so the corpus is exploded exactly
    // once per fit no matter how many consumers (AQE exchange reuse is not
    // relied on; ScaleSpec pins the explode count)
    val bigramCounts = lmBigrams(docs, idCol, textCol)
      .groupBy("g").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val w1Counts = bigramCounts
      .groupBy(split(col("g"), " ").getItem(0).as("w1"))
      .agg(sum("c").as("c1"))
    val vocab = bigramCounts
      .select(explode(split(col("g"), " ")).as("u"))
      .agg(countDistinct("u").as("v"))
    (bigramCounts, w1Counts, vocab)
  }

  /** Persist a fitted LM — the freeze-then-probe path ([[bm25CorpusStats]]'
    * discipline): fit once on a frozen corpus, score any batch or stream
    * against the stored tables with [[lmScoreWithModel]] forever after. */
  def lmWriteModel(docs: DataFrame, idCol: String, textCol: String,
      path: String): Unit = {
    val (bigrams, marginals, vocab) = lmFitModel(docs, idCol, textCol)
    bigrams.write.mode("overwrite").parquet(s"$path/bigrams")
    marginals.write.mode("overwrite").parquet(s"$path/marginals")
    vocab.coalesce(1).write.mode("overwrite").parquet(s"$path/vocab")
  }

  def lmReadModel(spark: SparkSession, path: String): (DataFrame, DataFrame, DataFrame) =
    (spark.read.parquet(s"$path/bigrams"),
      spark.read.parquet(s"$path/marginals"),
      spark.read.parquet(s"$path/vocab"))

  /** Score `docs` against a FITTED model (possibly persisted/frozen):
    * bigrams and w1s the model never saw take the smoothed floor —
    * c = 0 and c1 = 0 fall out of the same (c+1)/(c1+V) formula, so
    * scoring an unseen batch (the streaming ingest case) needs no special
    * path. Left joins keep every batch bigram; AQE broadcasts the model
    * sides when they are small. */
  def lmScoreWithModel(docs: DataFrame, idCol: String, textCol: String,
      bigrams: DataFrame, marginals: DataFrame, vocab: DataFrame): DataFrame =
    lmBigrams(docs, idCol, textCol)
      .join(bigrams, Seq("g"), "left")
      .join(broadcast(vocab))
      .join(marginals, split(col("g"), " ").getItem(0) === col("w1"), "left")
      .select(col("id"), coalesce(col("c"), lit(0L)).as("c"),
        coalesce(col("c1"), lit(0L)).as("c1"), col("v"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"),
        avg(-log((col("c") + 1.0) / (col("c1") + col("v"))) / log(lit(2.0)))
          .cast("decimal(18,6)").cast("double").as("avg_nll_bits"))
      .withColumnRenamed("id", idCol)

  // ---- declared queries ----

  /** Lexical-diversity datasheet per language: token/type counts,
    * type-token ratio, hapax-legomenon fraction, and the Shannon entropy
    * of the term distribution (via [[Stats.categoricalEntropy]]'s
    * quantized ladder — the two aggregations and the hapax pass all hash
    * on `lang`, so AQE reuses one exchange). The whole computation runs
    * over the language×term histogram, never raw token rows, after the
    * first groupBy. */
  def q212LexicalDiversity(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("term"))
    val ent = Stats.categoricalEntropy(toks, "lang", "term")
    val hapax = toks.groupBy("lang", "term").agg(count(lit(1)).as("n"))
      .groupBy("lang")
      .agg(sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_hapax"))
    ent.join(hapax, "lang")
      .select(col("lang"), col("n_events").as("n_tokens"),
        col("n_cats").as("n_types"),
        (col("n_cats").cast("double") / col("n_events").cast("double"))
          .as("ttr"),
        (col("n_hapax").cast("double") / col("n_cats").cast("double"))
          .as("hapax_frac"),
        col("entropy_nats"), col("norm_entropy"))
      .orderBy("lang")
  }

  /** Readability profile per language: Flesch-reading-ease from the
    * classic heuristics — sentences split on [.!?]+ runs (≥1), syllables
    * = vowel-letter groups per lowercased token clamped to ≥1. Whole
    * battery is higher-order array functions inside one projection
    * (codegen, no UDFs); per-doc counts are exact integers, the per-doc
    * score one double expression, and the per-language mean
    * DECIMAL(38,12)-quantizes each doc score before the sum. */
  def readabilityByLang(docs: DataFrame): DataFrame = {
    val words = filter(split(col("text"), "\\s+"), t => t =!= "")
    val nWords = size(words).cast("long")
    val nSent = greatest(lit(1L),
      size(filter(split(col("text"), "[.!?]+"), s => trim(s) =!= ""))
        .cast("long"))
    val nSyll = aggregate(
      transform(words, w => greatest(lit(1),
        size(filter(split(lower(w), "[^aeiouy]+"), g => g =!= "")))),
      lit(0L), (acc, x) => acc + x)
    val perDoc = docs
      .filter(length(col("text")) > 0)
      .select(col("lang"), nWords.as("nw"), nSent.as("ns"), nSyll.as("sy"))
      .withColumn("flesch",
        lit(206.835) -
          lit(1.015) * (col("nw").cast("double") / col("ns").cast("double")) -
          lit(84.6) * (col("sy").cast("double") / col("nw").cast("double")))
    perDoc.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("nw").as("tw"), sum("ns").as("ts"), sum("sy").as("tsy"),
        sum(col("flesch").cast("decimal(38,12)")).cast("decimal(38,12)")
          .as("fq"))
      .select(col("lang"), col("n_docs"),
        (col("tw").cast("double") / col("ts").cast("double"))
          .as("words_per_sentence"),
        (col("tsy").cast("double") / col("tw").cast("double"))
          .as("syllables_per_word"),
        (col("fq").cast("double") / col("n_docs").cast("double"))
          .as("avg_flesch"))
      .orderBy("lang")
  }

  def q215Readability(spark: SparkSession, dir: String): DataFrame =
    readabilityByLang(Tables.documents(spark, dir))

  def q41TokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), "\\s+")).cast("long").as("n_tokens"),
        subwordCount(col("text")).as("n_subwords"))
      .orderBy("doc_id")

  def q42TextQuality(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        length(col("text")).cast("long").as("text_len"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("n_unique_tokens"),
        (length(col("text")) - length(regexp_replace(col("text"), "dup", "")))
          .cast("long").as("dup_marker_chars"))
      .orderBy("doc_id")

  /** Language ID + quality score per document. Fully oracle-gated: both the
    * stopword-overlap argmax and the quality formula are deterministic
    * integer/ratio computations that the DuckDB oracle reproduces from first
    * principles (the oracle SQL is generated from the same stopword tables —
    * see [[q43OracleSql]]). The labeled `lang` column rides along so the
    * heuristic's (synthetic-data) accuracy stays inspectable. */
  def q43LangId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), langId(col("text")).as("predicted_lang"),
        qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")

  /** Fingerprint dedup: group by the order-normalized token stream; keep the
    * smallest doc_id of each content class. The group key is a 128-bit hash
    * of the normalized stream (two xxhash64 lanes), not the stream itself —
    * an 8-vs-hundreds-of-bytes shuffle key, collision-free in practice. */
  def q44FingerprintDedup(spark: SparkSession, dir: String): DataFrame = {
    val norm = concat_ws(" ", array_sort(split(col("text"), " ")))
    Tables.documents(spark, dir)
      .groupBy(xxhash64(norm).as("h1"), xxhash64(lit(1), norm).as("h2"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")
      .orderBy("keep_id")
  }

  /** Characteristic terms per document: rank by term frequency, breaking
    * ties toward rarer corpus terms (document frequency) then
    * lexicographically — a TF-IDF-shaped ranking on pure integers, so the
    * result is bit-deterministic across engines (float idf = ln(N/df) can
    * differ in the last ulp between libm implementations). */
  def q48TopTerms(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val df = toks.select(col("doc_id"), col("term")).distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      .orderBy(desc("tf"), col("df"), col("term"))
    tf.filter(col("doc_id") < 30)
      .join(df, "term")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select("doc_id", "rank", "term", "tf", "df")
      .orderBy("doc_id", "rank")
  }

  /** Unigram negative-sampling table (word2vec / contrastive-training
    * style, Mikolov et al. 2013): draw `nDraws` negatives from the
    * corpus unigram distribution raised to the 3/4 power — the
    * smoothing that up-weights the rare tail — and report the sampled
    * frequency table. Everything is cross-engine deterministic:
    *   - weight w = ⌊10⁶·√√(c³)⌋ — c³ is exact in a double (c ≤ 2e5 at
    *     corpus scale) and each √ is IEEE correctly-rounded, so both
    *     engines floor the identical double (no pow(), whose last-ulp
    *     is libm-dependent);
    *   - the cumulative weight ladder is [[Rank.globalRankPrefix]] over
    *     the token-ordered vocab — a range exchange, NOT a global
    *     window;
    *   - draw i maps through md5(i) (first 12 hex digits as an integer)
    *     mod the total weight — no RNG state, shard-order-free — and
    *     lands in its vocab slot via a (cumlo, cumhi] range join
    *     against the broadcast 1000-row draw frame.
    * At 100 TB the vocab ladder is a maintained model-sized table and
    * the draws are a broadcast probe — the corpus is scanned once to
    * count. Output: the `topK` most-sampled tokens (count desc, token),
    * with their exact weight shares. */
  def negativeSamplingTable(docs: DataFrame, textCol: String,
      nDraws: Int, topK: Int): DataFrame = {
    require(nDraws >= 1 && topK >= 1, s"bad args: $nDraws $topK")
    val vocab = docs.select(explode(tokens(col(textCol))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
      .withColumn("w", floor(lit(1e6) *
        sqrt(sqrt(dd(col("c") * col("c") * col("c"))))).cast("long"))
    val ladder = Rank.globalRankPrefix(vocab, Seq(col("t")),
        Seq(("cumhi", col("w"))))
      .withColumn("cumlo", col("cumhi") - col("w"))
    val total = vocab.agg(sum("w").cast("long").as("tw"))
    val draws = docs.sparkSession.range(0, nDraws)
      .select(col("id").as("i"),
        conv(substring(md5(col("id").cast("string")), 1, 12), 16, 10)
          .cast("long").as("h"))
      .crossJoin(broadcast(total))
      .select(col("i"), (col("h") % col("tw")).as("u"), col("tw"))
    ladder.join(broadcast(draws),
        col("u") >= col("cumlo") && col("u") < col("cumhi"))
      .groupBy("t")
      .agg(count(lit(1)).as("n_sampled"), max(col("w")).as("w"),
        max(col("tw")).as("tw"))
      .select(col("t").as("token"), col("n_sampled"),
        (dd(col("w")) / dd(col("tw"))).as("weight_share"))
      .orderBy(desc("n_sampled"), col("token"))
      .limit(topK)
  }

  /** 1000 deterministic unigram^¾ negatives over the document corpus —
    * the sampling table a contrastive trainer feeds from. */
  def q353NegativeSampling(spark: SparkSession, dir: String): DataFrame =
    negativeSamplingTable(Tables.documents(spark, dir), "text",
      nDraws = 1000, topK = 50)

  /** Sparse TF-IDF doc-doc similarity — the sparse-retrieval complement of
    * the dense ANN paths (and of BM25, which scores a FIXED query):
    * find each probe document's most similar corpus document by cosine
    * over L2-normalized tf·idf vectors, candidates from a POSTINGS join
    * (docs sharing a term), never an all-pairs product.
    *
    * Semantics (one consistent rule, recomputed verbatim by the oracle):
    * terms with df > `maxDfFrac · N` are dropped from the ENTIRE
    * computation — weights, norms, and the join (stopword pruning; at
    * scale the df cutoff is also what bounds posting-list fan-out, the
    * [[graft.operators.Dedup.substringDupPairs]] discipline — a FRACTION
    * so the rule is corpus-size-portable). idf = ln(N/df) with N = docs
    * carrying ≥1 token; weights normalize per doc BEFORE the pair sum;
    * docs whose surviving terms all have idf 0 drop out (zero norm).
    * Scores pass through DECIMAL(18,6) BEFORE the argmax, so engine ulp
    * differences can't flip the winner; ties break to the lower
    * candidate id.
    *
    * Shape: tf one (id, term) shuffle; df + N from the tf table; the
    * probe-side postings join shuffles on the term key; the pair sum
    * reduces on (probe, candidate). Probe-bounded output keeps the pair
    * space at O(probes · postings), and the df cutoff caps each posting
    * list. */
  def tfidfNearestDoc(docs: DataFrame, idCol: String, textCol: String,
      probeBound: Long, maxDfFrac: Double = 0.9): DataFrame = {
    require(maxDfFrac > 0.0 && maxDfFrac <= 1.0,
      s"maxDfFrac must be in (0, 1], got $maxDfFrac")
    val toks = docs.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("t"))
    val tf = toks.groupBy("id", "t").agg(count(lit(1)).cast("double").as("tf"))
    val nDocs = tf.select(countDistinct("id").as("n"))
    val dfT = tf.groupBy("t").agg(count(lit(1)).as("df"))
      .join(broadcast(nDocs))
      .filter(col("df").cast("double") <= lit(maxDfFrac) * col("n").cast("double"))
      .select("t", "df")
    val w = tf.join(dfT, "t").join(broadcast(nDocs))
      .withColumn("w", col("tf") * log(col("n").cast("double") / col("df").cast("double")))
    val norms = w.groupBy("id").agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
      .filter(col("nrm") > 0.0)
    val wn = w.join(norms, "id")
      .select(col("id"), col("t"), (col("w") / col("nrm")).as("wn"))
    val probe = wn.filter(col("id") < probeBound)
      .select(col("id").as("id_a"), col("t"), col("wn").as("wa"))
    val pairs = probe
      .join(wn.select(col("id").as("id_b"), col("t"), col("wn").as("wb")), "t")
      .filter(col("id_a") =!= col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(sum(col("wa") * col("wb")).cast("decimal(18,6)").cast("double").as("sim"))
    val win = org.apache.spark.sql.expressions.Window.partitionBy("id_a")
      .orderBy(desc("sim"), col("id_b"))
    pairs.withColumn("rn", row_number().over(win)).filter(col("rn") === 1)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Corpus-wide TF-IDF top-k similarity — [[tfidfNearestDoc]] with
    * probeBound = ∞, made safe by construction instead of by probe count.
    * Every document gets its k most cosine-similar neighbours over
    * L2-normalized tf·idf vectors in a word-SHINGLE term space
    * ([[wordShingles]], default shingleK = 3 — the unigram space of the
    * synthetic corpus is ~31 near-universal tokens, so unigram postings
    * are the corpus itself; w-shingling is what makes sparse all-pairs
    * similarity actually sparse: measured at sf0.1, trigram max df is 25
    * vs 3923 for unigrams, and the pair space drops 26× vs bigrams).
    *
    * Scale discipline (the [[graft.operators.Dedup.substringDupPairs]]
    * cap-and-observe shape): a term participates in weights, norms AND
    * pair generation only if its posting list is short enough —
    * df ≤ maxDfFrac·N (corpus-size-portable stopword rule) and
    * df ≤ maxPosting (absolute fan-out bound: each term contributes at
    * most C(df, 2) ≤ C(maxPosting, 2) pair products, so the pair space is
    * O(vocab · maxPosting²) REGARDLESS of corpus size). Exclusion is part
    * of the operator's exact semantics — the oracle applies the identical
    * cutoffs — and excluded volume rides the query as an observed metric
    * (`tfidf_posting_cap`: dropped_terms / dropped_posting_rows /
    * max_posting_len), so a 100 TB run SEES what the cap cost instead of
    * silently losing recall. At the test scales the caps drop nothing.
    *
    * Pair generation is term-at-a-time, not a postings self-join: each
    * term's (id, weight) posting list is collected once (sorted, bounded
    * by maxPosting) and its C(df, 2) products exploded in place — half
    * the rows of the df² join and the normalized-weight subtree is
    * evaluated ONCE instead of twice. Cosine is symmetric, so the
    * unordered pair sums fan back out to both directions only AFTER the
    * (id_a, id_b) reduce. Scores pass through DECIMAL(18,6) before
    * ranking (engine-ulp-proof argmax, same as [[tfidfNearestDoc]]); ties
    * break to the lower neighbour id. */
  def tfidfAllPairsTopK(docs: DataFrame, idCol: String, textCol: String,
      k: Int, shingleK: Int = 3, maxDfFrac: Double = 0.5,
      maxPosting: Int = 4096): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxDfFrac > 0.0 && maxDfFrac <= 1.0,
      s"maxDfFrac must be in (0, 1], got $maxDfFrac")
    require(maxPosting >= 2, s"maxPosting must be >= 2, got $maxPosting")
    val terms = docs.select(col(idCol).as("id"),
      explode(wordShingles(col(textCol), shingleK)).as("t"))
    val tf = terms.groupBy("id", "t").agg(count(lit(1)).cast("double").as("tf"))
    val nDocs = tf.select(countDistinct("id").as("n"))
    val dropped = col("df").cast("double") > lit(maxDfFrac) * col("n").cast("double") ||
      col("df") > lit(maxPosting)
    val dfT = tf.groupBy("t").agg(count(lit(1)).as("df"))
      .join(broadcast(nDocs))
      .observe("tfidf_posting_cap",
        coalesce(sum(when(dropped, 1L).otherwise(0L)), lit(0L)).as("dropped_terms"),
        coalesce(sum(when(dropped, col("df"))), lit(0L)).as("dropped_posting_rows"),
        coalesce(max(col("df")), lit(0L)).as("max_posting_len"))
      .filter(!dropped)
      .select("t", "df")
    val w = tf.join(dfT, "t").join(broadcast(nDocs))
      .withColumn("w", col("tf") * log(col("n").cast("double") / col("df").cast("double")))
    val norms = w.groupBy("id").agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
      .filter(col("nrm") > 0.0)
    val wn = w.join(norms, "id")
      .select(col("id"), col("t"), (col("w") / col("nrm")).as("wn"))
    // sort_array on (id, wn) orders by id (unique per posting) — the i<j
    // explosion below is deterministic and emits each unordered pair once
    val sym = wn.groupBy("t")
      .agg(sort_array(collect_list(struct(col("id"), col("wn")))).as("ps"))
      .select(explode(flatten(transform(col("ps"), (a, i) =>
        transform(slice(col("ps"), i + lit(2), lit(maxPosting)), b =>
          struct(a.getField("id").as("id_a"), b.getField("id").as("id_b"),
            (a.getField("wn") * b.getField("wn")).as("p")))))).as("pr"))
      .groupBy(col("pr.id_a").as("id_a"), col("pr.id_b").as("id_b"))
      .agg(sum(col("pr.p")).as("s"))
    // both directions by exploding a 2-element array, NOT a union of the
    // reversed selection — a union would duplicate the whole pair subtree
    // (plan-level CSE doesn't cross union branches)
    val pairs = sym.select(explode(array(
        struct(col("id_a"), col("id_b")),
        struct(col("id_b").as("id_a"), col("id_a").as("id_b")))).as("pp"),
        col("s"))
      .select(col("pp.id_a").as("id_a"), col("pp.id_b").as("id_b"),
        col("s").cast("decimal(18,6)").cast("double").as("sim"))
    val win = org.apache.spark.sql.expressions.Window.partitionBy("id_a")
      .orderBy(desc("sim"), col("id_b"))
    pairs.withColumn("rank", row_number().over(win).cast("long"))
      .filter(col("rank") <= k)
      .select(col("id_a"), col("rank"), col("id_b"), col("sim"))
  }

  /** Every document's 3 nearest neighbours by trigram-shingle TF-IDF
    * cosine — corpus-wide sparse retrieval with the posting caps live but
    * (by measured df distribution: max trigram df 25@sf0.1) dropping
    * nothing at test scale; the oracle rebuilds the shingle vectors, both
    * cutoffs, and the rounded ranking from first principles. */
  def q115TfidfAllPairsTopK(spark: SparkSession, dir: String): DataFrame =
    tfidfAllPairsTopK(Tables.documents(spark, dir), "doc_id", "text", k = 3)
      .orderBy("id_a", "rank")

  /** Word k-shingle strings with multiplicity — single-pass expression. */
  def wordShingles(c: Column, k: Int): Column =
    org.apache.spark.sql.graft.GraftBridge.column(
      graft.functions.WordShingles(
        org.apache.spark.sql.graft.GraftBridge.expression(c), k))

  /** Most-similar corpus document for each of the first 25 docs, by
    * stopword-pruned TF-IDF cosine (df ≤ 0.9·N prunes near-universal
    * filler at any SF — the synthetic vocabulary is tiny and common, so
    * the signal is idf weighting, not vocabulary disjointness); the
    * oracle rebuilds the vectors, the postings join, and the rounded
    * argmax from first principles — strict hash gate. */
  def q102TfidfNearest(spark: SparkSession, dir: String): DataFrame =
    tfidfNearestDoc(Tables.documents(spark, dir), "doc_id", "text",
        probeBound = 25L, maxDfFrac = 0.9)
      .orderBy("id_a")

  /** Bigram-LM perplexity of every (≥2-token) document, model trained on
    * the corpus itself; the oracle refits the identical smoothed MLE and
    * recomputes every score — strict hash gate at 6 decimal places. */
  def q99LmPerplexity(spark: SparkSession, dir: String): DataFrame =
    lmPerplexity(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** Corpus-wide top-20 bigrams with counts. */
  def q49TopBigrams(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(wordShingles(col("text"), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("bigram"))
      .limit(20)

  /** The Gopher top-bigram gate alone, for pipelines that only filter:
    * `(idCol, gopher_ok)` per doc. Cheaper than [[q74RepetitionMetrics]] —
    * token chars come from a per-row `aggregate` over the token array (no
    * token-level shuffle at all), so the only shuffle is the per-(doc,
    * bigram) count feeding the `min_by` argmax. Same numbers as the full
    * metric query by construction. */
  def gopherBigramGate(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.2): DataFrame = {
    val ts = tokens(col(textCol))
    val chars = docs.select(col(idCol).as("id"),
      aggregate(ts, lit(0L), (acc, t) => acc + length(t).cast("long"))
        .as("n_token_chars"))
    val top = docs
      .select(col(idCol).as("id"), explode(wordShingles(col(textCol), 2)).as("g"))
      .groupBy("id", "g").agg(count(lit(1)).as("c"))
      .groupBy("id").agg(min_by(struct(col("g"), col("c")),
        struct((-col("c")).as("nc"), col("g"))).as("top2"))
    top.join(chars, "id")
      .select(col("id").as(idCol),
        (((col("top2.c") * (length(col("top2.g")) - 1)).cast("double") /
          col("n_token_chars").cast("double")) <= threshold).as("gopher_ok"))
  }

  /** Gopher-style repetition quality metrics (Rae et al. 2021 §A1.1 —
    * "repetitious" document filters — adapted to a line-less corpus): per
    * doc, the character fraction captured by the single most frequent token
    * and word-bigram, plus the adjacent-token repeat rate ("the the").
    * High values mark boilerplate/degenerate text a training pipeline
    * drops; `gopher_ok` applies the paper's 0.20 top-2-gram threshold.
    *
    * Shuffle shape: explode → per-(doc, gram) counts → `min_by` argmax over
    * `(-count, gram)` (ties to the lexicographically smallest gram, exactly
    * the oracle's ORDER BY c DESC, g) — no whole-doc gram multiset ever
    * sits in one buffer, so arbitrarily long documents survive. The
    * adjacent-repeat count is a per-row `zip_with` against the shifted
    * token array, no shuffle at all. All metrics are exact, so the oracle
    * gate is strict hash equality — no envelope. */
  def q74RepetitionMetrics(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val ts = tokens(col("text"))

    val perTok = docs.select(col("doc_id"), explode(ts).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
    val base = perTok.groupBy("doc_id").agg(
      sum("c").as("n_tokens"),
      sum(col("c") * length(col("t"))).as("n_token_chars"),
      min_by(struct(col("t"), col("c")),
        struct((-col("c")).as("nc"), col("t"))).as("top1"))

    val perBg = docs.select(col("doc_id"), explode(wordShingles(col("text"), 2)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
    val topBg = perBg.groupBy("doc_id").agg(
      min_by(struct(col("g"), col("c")),
        struct((-col("c")).as("nc"), col("g"))).as("top2"))

    // adjacent equal-token pairs: zip the token array with itself shifted
    // by one (zip_with pads the shorter side with NULL -> comparison NULL
    // -> dropped by filter, so the tail pad never counts)
    val adj = docs.select(col("doc_id"),
      size(filter(zip_with(ts, slice(ts, lit(2), greatest(size(ts) - 1, lit(0))),
        (a, b) => a === b), x => x)).cast("long").as("n_adj"))

    base.join(topBg, "doc_id").join(adj, "doc_id")
      .select(col("doc_id"), col("n_tokens"),
        col("top1.t").as("top_token"),
        ((col("top1.c") * length(col("top1.t"))).cast("double") /
          col("n_token_chars").cast("double")).as("top1_char_frac"),
        col("top2.g").as("top_bigram"),
        ((col("top2.c") * (length(col("top2.g")) - 1)).cast("double") /
          col("n_token_chars").cast("double")).as("top2_char_frac"),
        when(col("n_tokens") > 1,
          col("n_adj").cast("double") / (col("n_tokens") - 1).cast("double"))
          .otherwise(lit(0.0)).as("adj_repeat_frac"),
        (((col("top2.c") * (length(col("top2.g")) - 1)).cast("double") /
          col("n_token_chars").cast("double")) <= 0.2).as("gopher_ok"))
      .orderBy("doc_id")
  }

  /** Gopher stopwords for the "contains at least 2 stop words" rule (Rae
    * et al. 2021 §A1.1 — their exact list). */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The FULL Gopher quality rule set (Rae et al. 2021 §A1.1), adapted to
    * this corpus: word-count bounds, mean-word-length bounds, symbol-to-word
    * ratio ('#' and '...'), ≥ 90% of words with an alphabetic character,
    * ≥ 2 stop words, ≤ 90% bullet-started lines, ≤ 30% ellipsis-ended
    * lines. Every metric is an exact integer/ratio computation over the
    * token/line arrays — single codegen'd projection, zero shuffles, and
    * the DuckDB oracle recomputes all seven rules from first principles
    * (strict gate). The repetition rules (top-gram fractions) live in
    * [[q74RepetitionMetrics]]; composed, the two cover the paper's full
    * filter battery. */
  /** Single-pass token stats kernel for the Gopher rules (one tokenization
    * per row vs one per metric in the composed form). */
  private def gopherStats(c: Column): Column =
    org.apache.spark.sql.graft.GraftBridge.column(
      graft.functions.GopherStats(org.apache.spark.sql.graft.GraftBridge.expression(c)))

  def gopherQuality(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val st = gopherStats(t)
    val nTok = st.getField("n_tokens")
    // all per-token ratios guard the empty doc (ANSI mode: x/0 throws)
    val meanLen = when(nTok > 0,
      st.getField("token_chars").cast("double") / nTok.cast("double"))
      .otherwise(lit(0.0))
    val hashes = length(t) - length(regexp_replace(t, "#", ""))
    val ellipses = (length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3
    val symbolRatio = when(nTok > 0,
      (hashes + ellipses).cast("double") / nTok.cast("double")).otherwise(lit(0.0))
    val alphaFrac = when(nTok > 0,
      st.getField("n_alpha_words").cast("double") / nTok.cast("double"))
      .otherwise(lit(0.0))
    val stopHits = st.getField("n_stop_hits")
    val lines = filter(split(t, "\n"), l => trim(l) =!= "")
    val nLines = size(lines).cast("long")
    val bulletFrac = when(nLines > 0,
      size(filter(lines, l => trim(l).rlike("^[-*•]"))).cast("double") /
        nLines.cast("double")).otherwise(lit(0.0))
    val ellipsisLineFrac = when(nLines > 0,
      size(filter(lines, l => trim(l).rlike("\\.\\.\\.$"))).cast("double") /
        nLines.cast("double")).otherwise(lit(0.0))
    docs.select(col(idCol), nTok.as("n_tokens"), meanLen.as("mean_word_len"),
        symbolRatio.as("symbol_ratio"), alphaFrac.as("alpha_word_frac"),
        stopHits.as("n_stop_hits"), bulletFrac.as("bullet_line_frac"),
        ellipsisLineFrac.as("ellipsis_line_frac"))
      .withColumn("r_wordcount", col("n_tokens").between(50L, 100000L))
      .withColumn("r_meanlen", col("mean_word_len").between(3.0, 10.0))
      .withColumn("r_symbol", col("symbol_ratio") <= 0.1)
      .withColumn("r_alpha", col("alpha_word_frac") >= 0.9)
      .withColumn("r_stop", col("n_stop_hits") >= 2L)
      .withColumn("r_bullet", col("bullet_line_frac") <= 0.9)
      .withColumn("r_ellipsis", col("ellipsis_line_frac") <= 0.3)
      .withColumn("gopher_quality_ok",
        col("r_wordcount") && col("r_meanlen") && col("r_symbol") &&
          col("r_alpha") && col("r_stop") && col("r_bullet") && col("r_ellipsis"))
  }

  def q80GopherQuality(spark: SparkSession, dir: String): DataFrame =
    gopherQuality(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** Portable PII patterns (identical semantics under Java regex and RE2 —
    * plain char classes and bounded quantifiers only, no lookaround). */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII scrub — the redaction stage of a training-data pipeline: count and
    * replace email addresses and IPv4 literals with typed placeholder
    * tokens. Pure per-row regex projection (codegen'd, zero shuffle); the
    * patterns avoid every construct whose semantics differ between Java
    * regex (Spark) and RE2 (DuckDB/ripgrep), so the oracle recomputes
    * counts and redacted text verbatim. */
  def piiScrub(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), col(textCol),
        regexp_count(col(textCol), lit(EmailPattern)).cast("long").as("n_emails"),
        regexp_count(col(textCol), lit(Ipv4Pattern)).cast("long").as("n_ips"))
      .withColumn("redacted",
        regexp_replace(regexp_replace(col(textCol), EmailPattern, "<EMAIL>"),
          Ipv4Pattern, "<IP>"))
      .drop(textCol)

  /** Oracle-gated VERBATIM: the redacted text itself is compared
    * string-for-string against DuckDB's recomputation. */
  def q82PiiScrub(spark: SparkSession, dir: String): DataFrame =
    piiScrub(Tables.documents(spark, dir), "doc_id", "text")
      .select("doc_id", "n_emails", "n_ips", "redacted")
      .orderBy("doc_id")

  /** Per-language corpus DATASHEET — the one-pass profile a dataset card
    * reports, every column an exact, engine-neutral fact: doc and token
    * totals, exact interpolated token-count percentiles (the q25 parity),
    * exact-duplicate count via the sorted-token canonical string (no
    * engine hash in the contract), and PII incidence (the q82 regexes).
    * One scan + one group-by; at 100 TB this is the cheapest query in the
    * suite — which is the point of a datasheet. */
  def q108CorpusProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"),
        tokenCount(col("text")).as("nt"),
        array_join(array_sort(tokens(col("text"))), " ").as("canon"),
        (regexp_count(col("text"), lit(EmailPattern)) +
          regexp_count(col("text"), lit(Ipv4Pattern)) > 0).as("has_pii"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("nt").as("n_tokens"),
        expr("percentile(nt, 0.5)").as("p50_tokens"),
        expr("percentile(nt, 0.95)").as("p95_tokens"),
        (count(lit(1)) - countDistinct(col("canon"))).as("n_dup_docs"),
        sum(when(col("has_pii"), 1L).otherwise(0L)).as("n_pii_docs"))
      .orderBy("lang")

  /** Context-window chunking over the corpus: 64-token windows every 48
    * tokens (25% overlap). VERBATIM oracle — DuckDB re-derives every chunk's
    * text from the same tokenization and slice arithmetic. */
  def q87ChunkDocuments(spark: SparkSession, dir: String): DataFrame =
    chunkTokens(Tables.documents(spark, dir), "doc_id", "text", 64, 48)
      .orderBy("doc_id", "chunk_idx")

  /** Pack the corpus into 256-token training sequences, 8 shards per
    * language. Oracle recomputes shard assignment (bit-exact md5 uniform),
    * stream offsets, and sequence spans from first principles. */
  def q89PackSequences(spark: SparkSession, dir: String): DataFrame =
    packSequences(Tables.documents(spark, dir), "doc_id", "text", "lang",
        budget = 256L, nShards = 8)
      .orderBy("stream", "shard", "doc_id")

  /** The materialized sequences for q89's packing: VERBATIM oracle — every
    * 256-token sequence text is string-compared against DuckDB's
    * reassembly. */
  def q91AssembleSequences(spark: SparkSession, dir: String): DataFrame =
    assembleSequences(Tables.documents(spark, dir), "doc_id", "text", "lang",
        budget = 256L, nShards = 8)
      .orderBy("stream", "shard", "seq_id")

  /** BM25 retrieval for a fixed 4-term query over the corpus; scores
    * decimal-rounded to 6 dp so the ln/division ulp gap between engines
    * can't flip the comparison. */
  def q90Bm25Search(spark: SparkSession, dir: String): DataFrame =
    bm25Search(Tables.documents(spark, dir), "doc_id", "text",
        Bm25QueryTerms)
      .orderBy("doc_id")

  /** Fixed demo query for q90 — common synthetic-corpus words. */
  val Bm25QueryTerms: Seq[String] = Seq("the", "data", "quick", "maison")

  /** Exact phrase search over a positional inverted index.
    *
    * BM25 (q90) answers bag-of-words relevance; a PHRASE needs token
    * POSITIONS. The index is `(term, doc, pos)` postings — built here
    * inline by `posexplode`, stored bucketed-by-term in a deployment —
    * and an n-word phrase is n-1 equi-joins on `(doc, pos + i)`,
    * restricted to the PHRASE'S OWN terms before any join (term
    * selectivity is what makes positional intersection cheap at scale;
    * the join keys are (doc, pos), so the fan-out per posting is the
    * phrase length, never the corpus). Overlapping occurrences count
    * individually, the standard positional-index semantics. */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one word")
    val postings = docs
      .select(col(idCol).as("doc"),
        posexplode(tokens(col(textCol))).as(Seq("pos", "term")))
      .filter(col("term").isInCollection(phrase.distinct))
    val anchor = postings.filter(col("term") === phrase.head)
      .select(col("doc"), col("pos"))
    val matches = phrase.zipWithIndex.drop(1).foldLeft(anchor) {
      case (acc, (w, i)) =>
        acc.join(
          postings.filter(col("term") === w)
            .select(col("doc"), (col("pos") - i).as("pos")),
          Seq("doc", "pos"))
    }
    matches.groupBy("doc").agg(count(lit(1)).as("n_matches"))
      .select(col("doc").as(idCol), col("n_matches"))
  }

  /** Distinctive terms per group: the terms whose in-group frequency most
    * exceeds their corpus frequency, scored by the frequency RATIO
    * (n_gt/N_g)/(n_t/N) — the PMI argument without the log, so the score
    * is three exactly-rounded integer divisions and hash-gates across
    * engines (log is not guaranteed correctly rounded; the monotone
    * transform changes nothing about the ranking). A `minCount` floor
    * keeps one-off terms from dominating the ratio. Two aggregation
    * passes over the postings plus a per-group top-k window — all
    * key-hash shuffles, group cardinality bounded by vocabulary. */
  def distinctiveTerms(docs: DataFrame, groupCol: String, textCol: String,
      k: Int, minCount: Long): DataFrame = {
    val toks = docs.select(col(groupCol).as("g"),
      explode(tokens(col(textCol))).as("term"))
    val byGroupTerm = toks.groupBy("g", "term").agg(count(lit(1)).as("n_gt"))
    val byGroup = byGroupTerm.groupBy("g").agg(sum("n_gt").as("n_g"))
    val byTerm = byGroupTerm.groupBy("term").agg(sum("n_gt").as("n_t"))
    val total = byTerm.agg(sum("n_t").as("n"))
    val scored = byGroupTerm
      .filter(col("n_gt") >= minCount)
      .join(byGroup, "g").join(byTerm, "term").join(broadcast(total))
      .withColumn("ratio",
        (col("n_gt").cast("double") / col("n_g").cast("double")) /
          (col("n_t").cast("double") / col("n").cast("double")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("g")
      .orderBy(desc("ratio"), col("term"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("g").as(groupCol), col("rank"), col("term"), col("n_gt"),
        col("ratio"))
  }

  /** Top-5 language-distinctive terms (frequency-ratio scored, floor 5).
    * Strict hash gate; the synthetic corpus plants language-specific
    * vocabulary, which is exactly what this surfaces. */
  def q132DistinctiveTerms(spark: SparkSession, dir: String): DataFrame =
    distinctiveTerms(Tables.documents(spark, dir), "lang", "text",
        k = 5, minCount = 5L)
      .orderBy("lang", "rank")

  /** Docs containing the exact phrase "table table" with per-doc
    * occurrence counts (overlaps count — "table table table" is two).
    * The repeated-word phrase exercises the positional join's overlap
    * semantics; strict hash gate against the oracle's WITH-ORDINALITY
    * positional twin. */
  def q131PhraseSearch(spark: SparkSession, dir: String): DataFrame =
    phraseSearch(Tables.documents(spark, dir), "doc_id", "text",
        Seq("table", "table"))
      .orderBy("doc_id")

  /** Corpus-wide bigram collocations: adjacent-token pairs with count ≥
    * `minCount`, scored by pointwise mutual information
    * PMI = log₂(p(ab) / (p(a)·p(b))) = log₂(c(ab)·N₁² / (N₂·c(a)·c(b))).
    *
    * Three corpus passes, all map-side-combining aggregations (token
    * totals, unigram counts, bigram counts); the PMI join probes the
    * minCount-filtered bigram table against the unigram counts — at
    * corpus scale both sides shuffle on the token key once. The declared
    * ranking is (count desc, bigram): counts are exact integers, so the
    * top-k cut is engine-independent; PMI (whose log may differ in the
    * last ulp between engines) rides as a scored column under the float
    * tolerance, never as a sort key. */
  def collocationsPmi(docs: DataFrame, textCol: String, minCount: Long,
      topK: Int): DataFrame = {
    require(minCount >= 1 && topK >= 1, s"bad args: $minCount $topK")
    val tl = tokens(col(textCol))
    val tot = docs.select(size(tl).as("k"))
      .agg(sum(col("k")).as("n1"),
        sum(greatest(col("k") - 1, lit(0))).as("n2"))
    val uni = docs.select(explode(tl).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
    // true adjacent pairs — NOT wordShingles, whose <k-token fallback
    // (whole text as one shingle) would count short docs as bigrams
    val big = docs.select(tl.as("__ts"))
      .select(explode(expr(
        """CASE WHEN size(__ts) < 2 THEN array()
          |ELSE transform(slice(__ts, 1, size(__ts) - 1),
          |  (t, i) -> struct(t AS p1, __ts[i + 1] AS p2)) END"""
          .stripMargin)).as("__b"))
      .select(col("__b.p1"), col("__b.p2"))
      .groupBy("p1", "p2").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .withColumn("bigram", concat_ws(" ", col("p1"), col("p2")))
    big
      .join(uni.select(col("t").as("p1"), col("c").as("c1")), "p1")
      .join(uni.select(col("t").as("p2"), col("c").as("c2")), "p2")
      .crossJoin(tot) // 1-row totals
      .select(col("bigram"), col("n"),
        log2((col("n").cast("double") * col("n1") * col("n1")) /
          (col("n2").cast("double") * col("c1") * col("c2"))).as("pmi"))
      .orderBy(desc("n"), col("bigram"))
      .limit(topK)
  }

  /** Top-50 document bigrams (count ≥ 5) with PMI association scores. */
  def q155Collocations(spark: SparkSession, dir: String): DataFrame =
    collocationsPmi(Tables.documents(spark, dir), "text", minCount = 5L,
      topK = 50)

  /** N-gram novelty per document: the fraction of a doc's DISTINCT
    * word-k-grams that appear in NO other document — the complement of
    * the span-duplication signal, scoring how much genuinely new text a
    * doc contributes to the corpus (a data-mixing weight in dedup-aware
    * sampling). Documents shorter than k tokens contribute their whole
    * text as one shingle (the [[graft.functions.WordShingles]] / q81
    * convention).
    *
    * Shape: explode distinct shingles, count corpus frequency per shingle
    * (one shuffle on the shingle hash — strings reduced to two 64-bit
    * lanes before shuffling, the [[Dedup.substringDupPairs]] trick), join
    * the counts back, reduce per doc. No pair join anywhere, so no df
    * cutoff is needed — cost is linear in total shingle volume. */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val wins = docs.select(col(idCol).as("id"),
      explode(array_distinct(wordShingles(col(textCol), k))).as("w"))
      .select(col("id"), xxhash64(col("w")).as("h1"),
        xxhash64(lit(1), col("w")).as("h2"))
    val dfw = org.apache.spark.sql.expressions.Window.partitionBy("h1", "h2")
    wins.withColumn("__df", count(lit(1)).over(dfw))
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .withColumn("novelty",
        col("n_unique").cast("double") / col("n_grams").cast("double"))
  }

  /** Per-doc 3-gram novelty over the corpus. Strict hash gate: exact
    * counts, one exact-integer double division. */
  def q173NgramNovelty(spark: SparkSession, dir: String): DataFrame =
    ngramNovelty(Tables.documents(spark, dir), "doc_id", "text", k = 3)
      .orderBy("doc_id")

  /** Byte-pair-encoding merge-rule training (Sennrich et al. 2016, §3.1;
    * the GPT-2 tokenizer's training loop) — learn `merges` merge rules
    * from the corpus itself: start from a character-level tokenization,
    * then repeatedly (1) count adjacent-token pairs corpus-wide, (2) take
    * the most frequent pair (count desc, pair asc — a total order), and
    * (3) fuse every occurrence. Returns the learned merge table — the
    * artifact a tokenizer ships.
    *
    * Representation: each doc is a space-delimited token string with
    * sentinel spaces (`" a b c "`), so a merge is a literal
    * `replace(s, " t1 t2 ", " t1t2 ")` — left-to-right non-overlapping in
    * BOTH engines — applied TWICE: one pass skips an occurrence exactly
    * when the preceding match consumed its leading space, and no two
    * skipped occurrences can be adjacent (the first would have merged),
    * so the second pass catches every survivor. Two passes therefore
    * merge all non-overlapping occurrences left-to-right — exactly
    * greedy BPE ("a a a" fuses only the first pair; "a b a b" fuses
    * both). Docs are clipped to `clipChars` a–z chars (the fixture
    * bound; at 100 TB you shard long docs instead). Each round is one
    * map-side-combined pair-count groupBy (result bounded by vocab², not
    * corpus), one model-sized top-1 collect, and one codegen'd per-doc
    * replace — the same scan-count shape Spark's distributed BPE
    * trainers use; `merges` is a small constant. All counting is exact
    * integers: the whole merge table is hash-gated. */
  def bpeTrain(docs: DataFrame, textCol: String, merges: Int,
      clipChars: Int): DataFrame = {
    val (model, _) = bpeLoop(docs, textCol, merges, clipChars)
    import docs.sparkSession.implicits._
    model.toDF("round", "left_tok", "right_tok", "merged_tok",
      "pair_count").orderBy("round")
  }

  /** The shared BPE training loop: returns the merge-rule rows AND the
    * corpus state after every round (index 0 = character-seeded). */
  private def bpeLoop(docs: DataFrame, textCol: String, merges: Int,
      clipChars: Int): (Seq[(Long, String, String, String, Long)],
      Vector[DataFrame]) = {
    require(merges >= 1, s"merges must be >= 1: $merges")
    require(clipChars >= 2, s"clipChars must be >= 2: $clipChars")
    var corpus = docs.select(concat(lit(" "), regexp_replace(
        regexp_replace(lower(substring(col(textCol), 1, clipChars)),
          "[^a-z]", ""),
        "(.)", "$1 ")).as("s"))
      .localCheckpoint(true)
    var corpora = Vector(corpus)
    val model = Seq.newBuilder[(Long, String, String, String, Long)]
    for (k <- 1 to merges) {
      val toks = corpus.select(filter(split(col("s"), " "), t => t =!= "")
        .as("ts"))
      val best = toks
        .select(explode(zip_with(
          slice(col("ts"), lit(1), size(col("ts")) - 1),
          slice(col("ts"), lit(2), size(col("ts")) - 1),
          (a, b) => struct(a.as("t1"), b.as("t2")))).as("p"))
        .select(col("p.t1").as("t1"), col("p.t2").as("t2"))
        .groupBy("t1", "t2").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("t1"), asc("t2")).limit(1)
        .collect()
      if (best.nonEmpty) {
        val (t1, t2) = (best(0).getAs[String]("t1"),
          best(0).getAs[String]("t2"))
        val n = best(0).getAs[Long]("n")
        corpus = corpus.select(replace(replace(col("s"),
            lit(s" $t1 $t2 "), lit(s" $t1$t2 ")),
          lit(s" $t1 $t2 "), lit(s" $t1$t2 ")).as("s"))
          .localCheckpoint(true)
        corpora :+= corpus
        model += ((k.toLong, t1, t2, t1 + t2, n))
      }
    }
    (model.result(), corpora)
  }

  /** Tokenizer-fertility trajectory: after each of the `merges` BPE
    * rounds (round 0 = raw characters), how many tokens does the clipped
    * corpus need, how large is the vocabulary in use, and how many
    * tokens per document — exactly the tokens-per-byte curve one reads
    * before freezing a tokenizer for an LLM run. Pure integer counting
    * over [[bpeLoop]]'s per-round corpus states; each round's stats are
    * one map-side-combined aggregation. */
  def bpeFertility(docs: DataFrame, textCol: String, merges: Int,
      clipChars: Int): DataFrame = {
    val (_, corpora) = bpeLoop(docs, textCol, merges, clipChars)
    val stats = corpora.zipWithIndex.map { case (c, k) =>
      val toksCol = filter(split(col("s"), " "), t => t =!= "")
      val r = c.select(explode(toksCol).as("t"))
        .agg(count(lit(1)).as("nt"),
          countDistinct(col("t")).as("nv")).head
      val nd = c.count()
      (k.toLong, nd, r.getAs[Long]("nt"), r.getAs[Long]("nv"))
    }
    import docs.sparkSession.implicits._
    stats.toDF("round", "n_docs", "corpus_tokens", "vocab_in_use")
      .withColumn("tokens_per_doc",
        col("corpus_tokens").cast("double") / col("n_docs").cast("double"))
      .orderBy("round")
  }

  /** Token budget after each of the six q337 merges — the compression
    * curve of the learned tokenizer over the same corpus. */
  def q338BpeFertility(spark: SparkSession, dir: String): DataFrame =
    bpeFertility(Tables.documents(spark, dir), "text", merges = 6,
      clipChars = 64)

  /** Six BPE merges learned from the document corpus (first 64 chars per
    * doc) — the tokenizer-training loop as a declared operator. */
  def q337BpeTrain(spark: SparkSession, dir: String): DataFrame =
    bpeTrain(Tables.documents(spark, dir), "text", merges = 6,
      clipChars = 64)

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank over
    * the word co-occurrence graph — words voted important by appearing
    * NEXT TO other important words, the unsupervised corpus-keyword
    * lens that frequency rankings (q48) and RAKE (q253) don't give:
    * a rare word living beside hub words outranks a frequent isolate.
    * Build: lowercase whitespace tokens with ORIGINAL positions, keep
    * alphabetic words (≥ 3 chars), co-occurrence edges at position gap
    * 1–2 (the classic window-2), symmetric weights, row-normalized
    * transition probabilities, then [[Graph.pageRank]]'s
    * DECIMAL-quantized 5-round iteration. The pair build is a
    * gap-bounded self-join (2 candidates per token — linear in corpus
    * size); everything after runs on the vocabulary-sized graph. Top-k
    * selection is a distributed TakeOrdered, not a global sort. */
  def textRank(docs: DataFrame, idCol: String, textCol: String,
      iters: Int, topK: Int): DataFrame = {
    val pt = docs
      .select(col(idCol).as("d"), posexplode(tokens(lower(col(textCol)))))
      .toDF("d", "pos", "tok")
      .filter(col("tok").rlike("^[a-z]{3,}$"))
    val co = pt.as("a").join(pt.as("b"),
        col("a.d") === col("b.d") &&
          (col("b.pos") - col("a.pos")) >= 1 &&
          (col("b.pos") - col("a.pos")) <= 2 &&
          col("a.tok") =!= col("b.tok"))
      .select(least(col("a.tok"), col("b.tok")).as("u"),
        greatest(col("a.tok"), col("b.tok")).as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("w"))
    val bi = co.select(col("u").as("src"), col("v").as("dst"), col("w"))
      .union(co.select(col("v").as("src"), col("u").as("dst"), col("w")))
    val outw = bi.groupBy(col("src").as("osrc")).agg(sum("w").as("ow"))
    val edges = bi.join(outw, col("src") === col("osrc"))
      .select(col("src"), col("dst"),
        (col("w").cast("double") / col("ow").cast("double")).as("p"))
    val pr = Graph.pageRank(edges, "src", "dst", "p", iters, 0.85)
    pr.orderBy(desc("rank"), col("node")).limit(topK)
      .withColumn("pos", row_number().over(
        Window.orderBy(desc("rank"), col("node"))).cast("long"))
      .select(col("pos"), col("node").as("word"),
        col("rank").cast("decimal(20,12)").as("rank"))
      .orderBy("pos")
  }

  /** The corpus's 20 TextRank keywords — what the documents are
    * "about", graph-voted rather than frequency-counted. */
  def q371TextRank(spark: SparkSession, dir: String): DataFrame =
    textRank(Tables.documents(spark, dir), "doc_id", "text",
      iters = 5, topK = 20)

  /** Unigram-LM tokenizer objective (the SentencePiece/Kudo'18 model
    * class, complementing q337's BPE): seed a piece vocabulary from
    * weighted substring counts (top-V pieces ∪ all single characters,
    * so every word stays segmentable), price each piece at its
    * negative log₂ unigram probability in integer MICRO-BITS (one
    * floor-quantized log per vocab entry — the per-word DP is then
    * exact integer arithmetic), and compute each unique word's OPTIMAL
    * segmentation cost by Viterbi DP — reported as bits-per-char by
    * word length: the compression lens a tokenizer designer compares
    * across vocab sizes. The DP is a codegen'd `aggregate()` fold over
    * word positions (≤ maxWordLen steps, edges bounded by
    * maxPieceLen·L per word); everything heavier runs on the UNIQUE
    * word frame, not the corpus, and the vocab join is a broadcast. */
  def unigramLmCost(docs: DataFrame, textCol: String, maxPieceLen: Int,
      vocabTop: Int, maxWordLen: Int): DataFrame = {
    val words = docs
      .select(explode(tokens(lower(col(textCol)))).as("w"))
      .filter(col("w").rlike("^[a-z]+$") &&
        length(col("w")) <= maxWordLen)
      .groupBy("w").agg(count(lit(1)).as("c"))
      .withColumn("L", length(col("w")).cast("long"))
    val occ = words
      .select(col("w"), col("c"), col("L"),
        explode(sequence(lit(0L), col("L") - 1L)).as("j"))
      .select(col("w"), col("c"), col("L"), col("j"),
        explode(sequence(lit(1L),
          least(lit(maxPieceLen.toLong), col("L") - col("j")))).as("len"))
      .select(col("w"), col("c"), col("L"), col("j"),
        (col("j") + col("len")).as("i"),
        expr("substring(w, CAST(j + 1 AS INT), CAST(len AS INT))")
          .as("piece"))
    val pc = occ.groupBy("piece").agg(sum("c").as("cnt"))
    val vocab0 = pc.orderBy(desc("cnt"), col("piece")).limit(vocabTop)
      .unionByName(pc.filter(length(col("piece")) === 1))
      .distinct()
    val tot = vocab0.agg(sum("cnt").as("t"))
    val vocab = vocab0.crossJoin(broadcast(tot))
      .select(col("piece"),
        floor(lit(-1000000.0) *
          log2(col("cnt").cast("double") / col("t").cast("double")))
          .cast("long").as("cost"))
    val perWord = occ.join(broadcast(vocab), Seq("piece"))
      .groupBy("w", "c", "L")
      .agg(collect_list(struct(col("j"), col("i"), col("cost")))
        .as("edges"))
      .select(col("w"), col("c"), col("L"), expr(
        """element_at(aggregate(
          |  sequence(1, CAST(L AS INT)),
          |  array(CAST(0 AS BIGINT)),
          |  (acc, i) -> array_append(acc,
          |    array_min(transform(
          |      filter(edges, e -> e.i = i),
          |      e -> element_at(acc, CAST(e.j + 1 AS INT)) + e.cost)))),
          |  -1)""".stripMargin).as("cost_ubits"))
    val byLen = perWord.groupBy(col("L").as("word_len"))
      .agg(count(lit(1)).as("n_words"), sum("c").as("n_tokens"),
        sum(col("c") * col("cost_ubits")).as("tot_ubits"),
        sum(col("c") * col("L")).as("n_chars"))
    val all = byLen.agg(sum("n_words").as("n_words"),
        sum("n_tokens").as("n_tokens"), sum("tot_ubits").as("tot_ubits"),
        sum("n_chars").as("n_chars"))
      .select(lit(0L).as("word_len"), col("n_words"), col("n_tokens"),
        col("tot_ubits"), col("n_chars"))
    byLen.unionByName(all)
      .select(col("word_len"), col("n_words"), col("n_tokens"),
        (col("tot_ubits").cast("double") / col("n_chars").cast("double")
          / lit(1000000.0)).as("bits_per_char"))
      .orderBy("word_len")
  }

  /** Corpus compression under a 200-piece unigram LM with optimal
    * segmentation, by word length (row 0 = whole corpus). */
  def q374UnigramLm(spark: SparkSession, dir: String): DataFrame =
    unigramLmCost(Tables.documents(spark, dir), "text",
      maxPieceLen = 4, vocabTop = 200, maxWordLen = 20)

  /** Context-length budget audit: for each candidate truncation budget,
    * how many documents overflow and what fraction of corpus TOKENS a
    * hard truncation throws away — the first number an LLM data
    * pipeline prices before picking max_seq_len (chunking q87 and
    * packing q89 are what you do about it; this is the decision
    * input). One token-count scan (codegen'd `size(split(...))`, no
    * shuffle), budgets on a broadcast frame, exact integer counts and
    * losses. */
  def truncationLoss(docs: DataFrame, textCol: String,
      budgets: Seq[Long]): DataFrame = {
    require(budgets.nonEmpty, "no budgets")
    val lens = docs.select(tokenCount(col(textCol)).as("len"))
    val bf = docs.sparkSession.createDataFrame(budgets.map(Tuple1(_)))
      .toDF("budget")
    lens.crossJoin(broadcast(bf))
      .groupBy("budget")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("len") > col("budget"), 1L).otherwise(0L))
          .as("n_docs_over"),
        sum("len").as("n_tokens"),
        sum(when(col("len") > col("budget"),
          col("len") - col("budget")).otherwise(0L)).as("tokens_lost"))
      .select(col("budget"), col("n_docs"), col("n_docs_over"),
        (col("n_docs_over").cast("double") / col("n_docs").cast("double"))
          .as("frac_docs_over"),
        col("n_tokens"), col("tokens_lost"),
        (col("tokens_lost").cast("double")
          / col("n_tokens").cast("double")).as("frac_tokens_lost"))
      .orderBy("budget")
  }

  /** What does each max-sequence-length budget cost in thrown-away
    * corpus tokens. */
  def q382TruncationLoss(spark: SparkSession, dir: String): DataFrame =
    truncationLoss(Tables.documents(spark, dir), "text",
      Seq(16L, 32L, 64L, 128L, 256L))

  /** Heaps' law fit — vocabulary growth V(N) ≈ K·N^β over the corpus
    * read in doc-id order: the curve that tells a training-data pipeline
    * whether more data still buys new vocabulary (β near 0.5–0.6 for
    * natural text) or the corpus has gone repetitive (β → 0, dedup/
    * curation signal). Completes the corpus-statistics family next to
    * Zipf (q241).
    *
    * Exact distributed prefix construction — no sequential scan: each
    * term's FIRST document is one min-aggregation, per-doc token and
    * new-vocab counts ride ONE range-partitioned rank pass
    * ([[graft.operators.Rank.globalRankPrefix]]), giving the full
    * (N_d, V_d) trajectory; the log-log OLS uses the q241 discipline
    * (ln quantized DECIMAL(18,12) per point — absorbing the engines'
    * sub-ulp libm differences — then exact decimal moments, double
    * finish). */
  def heapsLaw(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = docs.select(col(idCol).cast("long").as("d"),
      explode(tokens(col(textCol))).as("term"))
    val perDoc = tok.groupBy("d").agg(count(lit(1)).as("nt"))
    val firsts = tok.groupBy("term").agg(min("d").as("d"))
      .groupBy("d").agg(count(lit(1)).as("nv"))
    val base = perDoc.join(firsts, Seq("d"), "left")
      .na.fill(0L, Seq("nv"))
    val cum = Rank.globalRankPrefix(base, Seq(col("d")),
      Seq("cn" -> col("nt"), "cv" -> col("nv")))
    val pts = cum.select(
      log(dd(col("cn"))).cast("decimal(18,12)").as("x"),
      log(dd(col("cv"))).cast("decimal(18,12)").as("y"),
      col("cn"), col("cv"))
    val m = pts.agg(count(lit(1)).as("n_docs"),
      max("cn").as("n_tokens"), max("cv").as("n_vocab"),
      sum(col("x")).cast("decimal(38,12)").as("sx"),
      sum(col("y")).cast("decimal(38,12)").as("sy"),
      sum(col("x") * col("y")).cast("decimal(38,24)").as("sxy"),
      sum(col("x") * col("x")).cast("decimal(38,24)").as("sxx"),
      sum(col("y") * col("y")).cast("decimal(38,24)").as("syy"))
    val cov = dd(col("n_docs")) * dd(col("sxy")) -
      dd(col("sx")) * dd(col("sy"))
    val vx = dd(col("n_docs")) * dd(col("sxx")) -
      dd(col("sx")) * dd(col("sx"))
    val vy = dd(col("n_docs")) * dd(col("syy")) -
      dd(col("sy")) * dd(col("sy"))
    m.select(col("n_docs"), col("n_tokens"), col("n_vocab"),
      (cov / vx).as("heaps_beta"),
      ((dd(col("sy")) - cov / vx * dd(col("sx"))) / dd(col("n_docs")))
        .as("intercept_ln"),
      ((cov * cov) / (vx * vy)).as("r2"))
  }

  /** Is the corpus still yielding new vocabulary — the Heaps V(N)
    * power-law fit over the documents table in id order. */
  def q394HeapsLaw(spark: SparkSession, dir: String): DataFrame =
    heapsLaw(Tables.documents(spark, dir), "doc_id", "text")

  /** Per-language lexical-diversity profile: type/token ratio, hapax
    * fraction (types seen exactly once — the long-tail health of the
    * vocabulary) and distinct-bigram ratio (the distinct-n diversity
    * metric used to audit generated/boilerplate text: templated corpora
    * show high unigram TTR but collapsed bigram diversity). Pure exact
    * counting: one token explode + two groupBys per n-gram order;
    * bigrams come from the zip-with-shifted-slice pairing (the q337 BPE
    * move), so no self-join ever touches the corpus. */
  def lexicalDiversity(docs: DataFrame, langCol: String,
      textCol: String): DataFrame = {
    val base = docs.select(col(langCol).as("lang"),
      tokens(col(textCol)).as("ts"))
    val uni = base.select(col("lang"), explode(col("ts")).as("t"))
      .groupBy("lang", "t").agg(count(lit(1)).as("c"))
      .groupBy("lang")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
    val nd = base.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val bi = base.filter(size(col("ts")) >= 2)
      .select(col("lang"), explode(expr(
        "zip_with(slice(ts, 1, size(ts) - 1), slice(ts, 2, size(ts) - 1)," +
          " (a, b) -> concat(a, ' ', b))")).as("bg"))
      .groupBy("lang", "bg").agg(count(lit(1)).as("c"))
      .groupBy("lang")
      .agg(sum("c").as("n_bigrams"), count(lit(1)).as("n_bigram_types"))
    nd.join(uni, "lang").join(bi, Seq("lang"), "left")
      .na.fill(0L, Seq("n_bigrams", "n_bigram_types"))
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_types"),
        (dd(col("n_types")) / dd(col("n_tokens"))).as("ttr"),
        col("n_hapax"),
        (dd(col("n_hapax")) / dd(col("n_types"))).as("hapax_frac"),
        col("n_bigrams"), col("n_bigram_types"),
        when(col("n_bigrams") > 0,
          dd(col("n_bigram_types")) / dd(col("n_bigrams")))
          .as("distinct2"))
      .orderBy("lang")
  }

  /** Which language slices look templated vs organic — TTR, hapax and
    * distinct-bigram diversity per language. */
  def q395LexicalDiversity(spark: SparkSession, dir: String): DataFrame =
    lexicalDiversity(Tables.documents(spark, dir), "lang", "text")

  /** Unseen-vocabulary estimate: Chao1 species richness (Chao 1984,
    * bias-corrected form) and the Good–Turing unseen-probability mass
    * over the token frequency spectrum — "how much vocabulary has this
    * corpus NOT shown yet". Where Heaps' law (q394) fits the growth
    * CURVE, these estimate the asymptote and the probability that the
    * next token is novel: chao1 = V + f₁(f₁−1)/(2(f₂+1)) (defined even
    * with no doubletons — the uncorrected f₁²/2f₂ form divides by zero),
    * gt_unseen_mass = f₁/N (Good 1953). A corpus whose chao1 ≫ V or
    * unseen mass stays high still buys new vocabulary per added
    * document; both ≈ saturated means more data is repetition, the
    * dedup/curation stop signal.
    *
    * Scale shape: one token explode + one frequency groupBy + a global
    * 1-row reduction over the frequency spectrum — the same two-shuffle
    * funnel as a word count; nothing is ordered and nothing collects. */
  def vocabCoverage(docs: DataFrame, textCol: String): DataFrame = {
    docs.select(explode(tokens(col(textCol))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_vocab"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
      .select(col("n_tokens"), col("n_vocab"), col("f1"), col("f2"),
        (dd(col("n_vocab")) + dd(col("f1")) * dd(col("f1") - 1) /
          (lit(2.0) * dd(col("f2") + 1))).as("chao1"),
        (dd(col("f1")) / dd(col("n_tokens"))).as("gt_unseen_mass"),
        (lit(1.0) - dd(col("f1")) / dd(col("n_tokens"))).as("gt_coverage"))
  }

  /** How much vocabulary is the corpus still hiding — Chao1 asymptote
    * vs observed types, plus the Good–Turing novel-token probability. */
  def q415VocabCoverage(spark: SparkSession, dir: String): DataFrame =
    vocabCoverage(Tables.documents(spark, dir), "text")

  /** Kneser–Ney bigram language model, held-out cross-entropy per
    * corpus slice (Kneser & Ney 1995; Chen & Goodman 1998 — the
    * interpolated absolute-discount form, D = 0.75 exactly
    * representable). Where q99 scores every document under an
    * add-smoothed bigram LM fit on the full corpus, this implements
    * the CONTINUATION-COUNT estimator — P_cont(w) ∝ the number of
    * distinct contexts w follows, the Kneser–Ney fix for frequent-
    * but-bound words ("Francisco") — under a train/held-out split
    * (doc_id % holdoutMod == 0 held out). The held-out number is what
    * certifies a slice for LM pretraining: abnormally LOW
    * cross-entropy means the shard is self-predictive boilerplate,
    * a SPIKE means the held-out shard is distributionally different
    * from training.
    *
    * P(w|v) = max(c(vw) − D, 0)/c(v) + (D·N₁₊(v·)/c(v))·P_cont(w);
    * P_cont(w) = N₁₊(·w)/#bigram-types; an unseen prefix v backs off
    * to P_cont(w); a w never seen as a continuation floors at
    * 1/(#bigram-types + 1). n_unseen_prefix / n_unseen_cont report
    * how often each backoff fired.
    *
    * Scale shape: the model IS the (slice, v, w) count histogram —
    * one explode + groupBy, materialized once (the q99 fit
    * discipline); prefix stats, continuation counts and type totals
    * are re-aggregations of that histogram, never corpus re-reads;
    * scoring joins the held-out histogram against the model on
    * (slice, v) / (slice, w) keys with the per-slice totals
    * broadcast. Every probability is a fixed-order double expression
    * over exact counts; each −m·ln P term is DECIMAL(38,12)-quantized
    * before the per-slice sum. Strict hash gate. */
  def knBigramCrossEntropy(docs: DataFrame, sliceCol: String,
      idCol: String, textCol: String, holdoutMod: Int): DataFrame = {
    require(holdoutMod >= 2, s"holdoutMod must be >= 2: $holdoutMod")
    val D = lit(0.75)
    val base = docs
      .select(col(sliceCol).as("lg"), col(idCol).as("id"),
        tokens(col(textCol)).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("lg"), (pmod(col("id"), lit(holdoutMod)) === 0).as("held"),
        explode(expr(
          "zip_with(slice(ts, 1, size(ts) - 1), slice(ts, 2, size(ts) - 1)," +
            " (a, b) -> struct(a AS v, b AS w))")).as("bg"))
      .select(col("lg"), col("held"),
        col("bg.v").as("v"), col("bg.w").as("w"))
    val train = base.filter(!col("held")).groupBy("lg", "v", "w")
      .agg(count(lit(1)).as("cvw"))
      .localCheckpoint(true)
    val prefix = train.groupBy("lg", "v")
      .agg(sum("cvw").as("cv"), count(lit(1)).as("n1v"))
    val cont = train.groupBy("lg", "w").agg(count(lit(1)).as("n1w"))
    val totals = train.groupBy("lg").agg(count(lit(1)).as("n_types"))
    val ho = base.filter(col("held")).groupBy("lg", "v", "w")
      .agg(count(lit(1)).as("m"))
    val pContF = when(col("n1w").isNotNull,
      dd(col("n1w")) / dd(col("n_types")))
      .otherwise(lit(1.0) / (dd(col("n_types")) + lit(1.0)))
    val p = when(col("cv").isNotNull,
      greatest(dd(coalesce(col("cvw"), lit(0L))) - D, lit(0.0)) /
        dd(col("cv")) +
        (D * dd(col("n1v")) / dd(col("cv"))) * pContF)
      .otherwise(pContF)
    ho.join(train, Seq("lg", "v", "w"), "left")
      .join(prefix, Seq("lg", "v"), "left")
      .join(cont, Seq("lg", "w"), "left")
      .join(broadcast(totals), Seq("lg"), "left")
      .select(col("lg"), col("m"),
        (-dd(col("m")) * log(p)).cast("decimal(38,12)").as("term"),
        when(col("cv").isNull, col("m")).otherwise(lit(0L))
          .as("mu_prefix"),
        when(col("n1w").isNull, col("m")).otherwise(lit(0L))
          .as("mu_cont"))
      .groupBy(col("lg").as(sliceCol))
      .agg(sum("m").as("n_heldout_bigrams"),
        sum("mu_prefix").as("n_unseen_prefix"),
        sum("mu_cont").as("n_unseen_cont"),
        sum("term").as("hsum"))
      .select(col(sliceCol), col("n_heldout_bigrams"),
        col("n_unseen_prefix"), col("n_unseen_cont"),
        (dd(col("hsum")) / dd(col("n_heldout_bigrams")))
          .as("cross_entropy_nats"))
      .orderBy(sliceCol)
  }

  /** Is each language shard LM-predictive or distribution-broken —
    * Kneser–Ney bigram cross-entropy on the doc_id%5 held-out split. */
  def q428KnCrossEntropy(spark: SparkSession, dir: String): DataFrame =
    knBigramCrossEntropy(Tables.documents(spark, dir), "lang", "doc_id",
      "text", holdoutMod = 5)

  /** Burrows' Delta (Burrows 2002; Evert et al. 2017 on its geometry) —
    * the stylometric distance between corpus slices: z-score each
    * slice's relative frequency of the top-M corpus terms against the
    * across-slice distribution of that term, then Delta(a,b) = mean
    * |z_a − z_b| over the terms. Complements q132 (which finds terms
    * DISTINCTIVE of one slice) and q254 (content n-gram Jaccard):
    * Delta measures diffuse STYLE similarity over the most common
    * vocabulary — the authorship / style-contamination signal that
    * survives topic changes. Constant-across-slices terms (σ = 0)
    * carry no style signal and are excluded; n_terms_used reports the
    * effective M per pair.
    *
    * Scale shape: the corpus collapses to the (slice, term) histogram
    * in one explode + groupBy; the top-M term list is a distributed
    * TakeOrdered that joins back BROADCAST; everything after (per-term
    * across-slice moments, the slice-pair self-join) runs on the dense
    * S×M frame — model-sized, data-independent. Relative frequencies
    * are DECIMAL(18,12)-quantized so the across-slice moment sums are
    * exact; z and Delta finish as fixed-order double expressions with
    * each |z_a − z_b| term DECIMAL(38,12)-quantized before the pair
    * sum. Strict hash gate. */
  def burrowsDelta(docs: DataFrame, sliceCol: String, textCol: String,
      topM: Int): DataFrame = {
    require(topM >= 1, s"topM must be positive: $topM")
    val counts = docs
      .select(col(sliceCol).as("s"), explode(tokens(col(textCol))).as("t"))
      .groupBy("s", "t").agg(count(lit(1)).as("c"))
    val totals = counts.groupBy("s").agg(sum("c").as("n_s"))
    val top = counts.groupBy("t").agg(sum("c").as("ct"))
      .orderBy(desc("ct"), col("t")).limit(topM).select("t")
    val dense = totals.crossJoin(broadcast(top))
      .join(counts, Seq("s", "t"), "left").na.fill(0L, Seq("c"))
      .withColumn("fq",
        (dd(col("c")) / dd(col("n_s"))).cast("decimal(18,12)"))
    val tstats = dense.groupBy("t")
      .agg(count(lit(1)).as("ns"),
        sum("fq").as("sumf"), sum(col("fq") * col("fq")).as("sumff"),
        min("fq").as("minf"), max("fq").as("maxf"))
      .withColumn("sigma", sqrt(
        (dd(col("ns")) * dd(col("sumff")) - dd(col("sumf")) * dd(col("sumf")))
          / (dd(col("ns")) * dd(col("ns")))))
    // constant-across-slices detection is EXACT (decimal min = max), not
    // sigma > 0: the double moment difference can round to a denormal
    // instead of zero for identical profiles
    val z = dense.join(broadcast(tstats), "t")
      .filter(col("minf") =!= col("maxf"))
      .select(col("s"), col("t"),
        ((dd(col("fq")) * dd(col("ns")) - dd(col("sumf"))) /
          (dd(col("ns")) * col("sigma"))).as("z"))
    z.as("a").join(z.as("b"), Seq("t"))
      .filter(col("a.s") < col("b.s"))
      .select(col("a.s").as("slice_a"), col("b.s").as("slice_b"),
        abs(col("a.z") - col("b.z")).cast("decimal(38,12)").as("term"))
      .groupBy("slice_a", "slice_b")
      .agg(count(lit(1)).as("n_terms_used"), sum("term").as("dsum"))
      .select(col("slice_a"), col("slice_b"), col("n_terms_used"),
        (dd(col("dsum")) / dd(col("n_terms_used"))).as("delta"))
      .orderBy("slice_a", "slice_b")
  }

  /** Which document sources share a writing style — Burrows' Delta over
    * the top-50 corpus terms, all source pairs. */
  def q426BurrowsDelta(spark: SparkSession, dir: String): DataFrame =
    burrowsDelta(Tables.documents(spark, dir), "source", "text", topM = 50)

  /** DuckDB twin of [[graft.functions.LangId]] + [[graft.functions.QualityScore]],
    * generated from the same [[stopwords]] tables so the two can never drift:
    * score = |distinct lowercased tokens ∩ stopwords(lang)|, argmax with ties
    * to the lexicographically larger code, 'und' when all scores are 0;
    * quality = mean of unique-token and letter-char ratios, 0 under 3 tokens.
    *
    * Returns the CTE chain `t → s → m → q` over `fromRel` (which must expose
    * `text` plus `carryCols`); `q` adds `toks`, `predicted_lang`, `quality`.
    * Shared by the q43 oracle and the composite-pipeline oracles. */
  private[operators] def langQualitySql(fromRel: String, carryCols: String): String = {
    val langs = stopwords.keys.toSeq.sorted
    def arr(l: String) = stopwords(l).map(w => s"'$w'").mkString("[", ", ", "]")
    val counts = langs.map(l =>
      s"len(list_intersect(ltoks, ${arr(l)})) AS c_$l").mkString(",\n    ")
    val mx = langs.map(l => s"c_$l").mkString("greatest(", ", ", ")")
    // ties keep the LAST max over codes in ascending order == the largest
    // code among the argmax set, so the CASE probes codes descending
    val arms = langs.reverse.map(l => s"WHEN c_$l = mx THEN '$l'").mkString("\n       ")
    s"""t AS (
       |  SELECT $carryCols, text,
       |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks,
       |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS ltoks
       |  FROM $fromRel),
       |s AS (
       |  SELECT $carryCols, text, toks,
       |    $counts
       |  FROM t),
       |m AS (SELECT *, $mx AS mx FROM s),
       |q AS (
       |  SELECT *,
       |    CASE WHEN mx = 0 THEN 'und'
       |         $arms
       |    END AS predicted_lang,
       |    CASE WHEN len(toks) < 3 THEN 0.0
       |         ELSE (len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE)
       |               + LENGTH(regexp_replace(text, '[^\\p{L}]', '', 'g'))
       |                 / CAST(LENGTH(text) AS DOUBLE)) / 2
       |    END AS quality
       |  FROM m)""".stripMargin
  }

  private def q43OracleSql: String =
    s"""WITH ${langQualitySql("documents", "doc_id, lang")}
       |SELECT doc_id, lang, predicted_lang, quality FROM q ORDER BY doc_id""".stripMargin

  /** DuckDB twin of the q90 BM25 scoring — generated from [[Bm25QueryTerms]]
    * and the same k1/b constants so the two can never drift. Scores compare
    * after DECIMAL(18,6) rounding (absorbs the cross-engine ln/avg ulp gap). */
  /** Generated DuckDB twin of the BM25 scorer as a bare SELECT over
    * `documents` (doc_id, n_match_terms, score — DECIMAL-rounded, no
    * ordering), shared by the q90 oracle and the hybrid-fusion oracle. */
  private[operators] def bm25ScoredSql: String = {
    val terms = Bm25QueryTerms.zipWithIndex
    val tfs = terms.map { case (t, i) =>
      s"CAST(len(list_filter(ts, x -> x = '$t')) AS DOUBLE) AS tf_$i" }.mkString(",\n    ")
    val dfs = terms.map { case (_, i) =>
      s"SUM(CASE WHEN tf_$i > 0 THEN 1.0 ELSE 0.0 END) AS df_$i" }.mkString(",\n    ")
    val score = terms.map { case (_, i) =>
      s"""ln((n_docs - df_$i + 0.5) / (df_$i + 0.5) + 1.0)
         |      * (tf_$i * 2.2) / (tf_$i + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))""".stripMargin
    }.mkString("\n    + ")
    val nMatch = terms.map { case (_, i) => s"(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END)" }
      .mkString(" + ")
    val anyHit = terms.map { case (_, i) => s"tf_$i > 0" }.mkString(" OR ")
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS ts
       |  FROM documents),
       |b AS (
       |  SELECT doc_id, CAST(len(ts) AS DOUBLE) AS dl,
       |    $tfs
       |  FROM t),
       |s AS (
       |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl,
       |    $dfs
       |  FROM b)
       |SELECT doc_id, CAST($nMatch AS BIGINT) AS n_match_terms,
       |  CAST(CAST($score AS DECIMAL(18,6)) AS DOUBLE) AS score
       |FROM b, s
       |WHERE $anyHit""".stripMargin
  }

  private def q90OracleSql: String =
    s"""$bm25ScoredSql
       |ORDER BY doc_id""".stripMargin

  /** One unrolled BPE merge round over corpus c{k-1}: pair counts via a
    * per-doc LEAD window, top-1 under (n desc, pair asc), double-pass
    * literal replace (exactly the engine's two-pass greedy merge). */
  private def bpeRoundSql(k: Int): String =
    s"""pc$k AS (
       |  SELECT t AS t1, t2, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM (
       |    SELECT d, t, LEAD(t) OVER (PARTITION BY d ORDER BY o) AS t2
       |    FROM (
       |      SELECT d, generate_subscripts(ts, 1) AS o, unnest(ts) AS t
       |      FROM (SELECT d, list_filter(string_split(s, ' '),
       |        x -> x <> '') AS ts FROM c${k - 1})))
       |  WHERE t2 IS NOT NULL GROUP BY 1, 2),
       |b$k AS MATERIALIZED (
       |  SELECT t1, t2, n FROM pc$k ORDER BY n DESC, t1, t2 LIMIT 1),
       |c$k AS MATERIALIZED (
       |  SELECT d, REPLACE(REPLACE(s,
       |      ' ' || b.t1 || ' ' || b.t2 || ' ', ' ' || b.t1 || b.t2 || ' '),
       |    ' ' || b.t1 || ' ' || b.t2 || ' ', ' ' || b.t1 || b.t2 || ' ')
       |    AS s
       |  FROM c${k - 1} CROSS JOIN b$k b)""".stripMargin

  val declared: Map[String, Query] = Map(
    "q428_kn_cross_entropy" -> Query(q428KnCrossEntropy,
      """WITH toks AS (
        |  SELECT lang AS lg, doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')
        |      AS ts
        |  FROM documents),
        |base AS (
        |  SELECT lg, doc_id % 5 = 0 AS held, ts[i] AS v, ts[i + 1] AS w
        |  FROM toks, UNNEST(generate_series(1, len(ts) - 1)) AS g(i)
        |  WHERE len(ts) >= 2),
        |train AS (
        |  SELECT lg, v, w, CAST(COUNT(*) AS BIGINT) AS cvw
        |  FROM base WHERE NOT held GROUP BY 1, 2, 3),
        |prefix AS (
        |  SELECT lg, v, CAST(SUM(cvw) AS BIGINT) AS cv,
        |    CAST(COUNT(*) AS BIGINT) AS n1v
        |  FROM train GROUP BY 1, 2),
        |cont AS (
        |  SELECT lg, w, CAST(COUNT(*) AS BIGINT) AS n1w
        |  FROM train GROUP BY 1, 2),
        |tot AS (
        |  SELECT lg, CAST(COUNT(*) AS BIGINT) AS n_types
        |  FROM train GROUP BY 1),
        |ho AS (
        |  SELECT lg, v, w, CAST(COUNT(*) AS BIGINT) AS m
        |  FROM base WHERE held GROUP BY 1, 2, 3),
        |sc AS (
        |  SELECT h.lg, h.m, p.cv, c.n1w,
        |    CASE WHEN p.cv IS NOT NULL THEN
        |      greatest(CAST(COALESCE(t.cvw, 0) AS DOUBLE) - 0.75, 0.0)
        |        / CAST(p.cv AS DOUBLE)
        |      + (0.75 * CAST(p.n1v AS DOUBLE) / CAST(p.cv AS DOUBLE)) *
        |        (CASE WHEN c.n1w IS NOT NULL
        |          THEN CAST(c.n1w AS DOUBLE) / CAST(o.n_types AS DOUBLE)
        |          ELSE 1.0 / (CAST(o.n_types AS DOUBLE) + 1.0) END)
        |    ELSE
        |      (CASE WHEN c.n1w IS NOT NULL
        |        THEN CAST(c.n1w AS DOUBLE) / CAST(o.n_types AS DOUBLE)
        |        ELSE 1.0 / (CAST(o.n_types AS DOUBLE) + 1.0) END)
        |    END AS p
        |  FROM ho h
        |  LEFT JOIN train t ON h.lg = t.lg AND h.v = t.v AND h.w = t.w
        |  LEFT JOIN prefix p ON h.lg = p.lg AND h.v = p.v
        |  LEFT JOIN cont c ON h.lg = c.lg AND h.w = c.w
        |  LEFT JOIN tot o ON h.lg = o.lg)
        |SELECT lg AS lang,
        |  CAST(SUM(m) AS BIGINT) AS n_heldout_bigrams,
        |  CAST(SUM(CASE WHEN cv IS NULL THEN m ELSE 0 END) AS BIGINT)
        |    AS n_unseen_prefix,
        |  CAST(SUM(CASE WHEN n1w IS NULL THEN m ELSE 0 END) AS BIGINT)
        |    AS n_unseen_cont,
        |  CAST(SUM(CAST(-CAST(m AS DOUBLE) * ln(p) AS DECIMAL(38,12)))
        |      AS DOUBLE)
        |    / CAST(SUM(m) AS DOUBLE) AS cross_entropy_nats
        |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin),
    "q426_burrows_delta" -> Query(q426BurrowsDelta,
      """WITH counts AS (
        |  SELECT s, t, CAST(COUNT(*) AS BIGINT) AS c FROM (
        |    SELECT source AS s, unnest(list_filter(
        |      regexp_split_to_array(text, '\s+'), x -> x <> '')) AS t
        |    FROM documents) GROUP BY 1, 2),
        |totals AS (
        |  SELECT s, CAST(SUM(c) AS BIGINT) AS n_s FROM counts GROUP BY 1),
        |top AS (
        |  SELECT t FROM (
        |    SELECT t, SUM(c) AS ct FROM counts GROUP BY 1)
        |  ORDER BY ct DESC, t LIMIT 50),
        |dense AS (
        |  SELECT tot.s, tp.t,
        |    CAST(CAST(COALESCE(cn.c, 0) AS DOUBLE)
        |      / CAST(tot.n_s AS DOUBLE) AS DECIMAL(18,12)) AS fq
        |  FROM totals tot CROSS JOIN top tp
        |  LEFT JOIN counts cn ON cn.s = tot.s AND cn.t = tp.t),
        |tstats AS (
        |  SELECT t, CAST(COUNT(*) AS BIGINT) AS ns,
        |    SUM(fq) AS sumf, SUM(fq * fq) AS sumff,
        |    MIN(fq) AS minf, MAX(fq) AS maxf
        |  FROM dense GROUP BY 1),
        |ts2 AS (
        |  SELECT t, ns, sumf, minf, maxf,
        |    sqrt((CAST(ns AS DOUBLE) * CAST(sumff AS DOUBLE)
        |      - CAST(sumf AS DOUBLE) * CAST(sumf AS DOUBLE))
        |      / (CAST(ns AS DOUBLE) * CAST(ns AS DOUBLE))) AS sigma
        |  FROM tstats),
        |z AS (
        |  SELECT d.s, d.t,
        |    (CAST(d.fq AS DOUBLE) * CAST(ts.ns AS DOUBLE)
        |      - CAST(ts.sumf AS DOUBLE))
        |      / (CAST(ts.ns AS DOUBLE) * ts.sigma) AS z
        |  FROM dense d JOIN ts2 ts ON d.t = ts.t
        |  WHERE ts.minf <> ts.maxf),
        |pairs AS (
        |  SELECT a.s AS slice_a, b.s AS slice_b,
        |    CAST(abs(a.z - b.z) AS DECIMAL(38,12)) AS term
        |  FROM z a JOIN z b ON a.t = b.t AND a.s < b.s)
        |SELECT slice_a, slice_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_terms_used,
        |  CAST(SUM(term) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS delta
        |FROM pairs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    "q415_vocab_coverage" -> Query(q415VocabCoverage,
      """WITH tf AS (
        |  SELECT t, COUNT(*) AS c FROM (
        |    SELECT unnest(list_filter(
        |      regexp_split_to_array(text, '\s+'), x -> x <> '')) AS t
        |    FROM documents) GROUP BY t)
        |SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(*) AS BIGINT) AS n_vocab,
        |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
        |  CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
        |  CAST(COUNT(*) AS DOUBLE) +
        |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) *
        |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1 AS DOUBLE) /
        |    (2.0 * CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) + 1
        |      AS DOUBLE)) AS chao1,
        |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) /
        |    CAST(SUM(c) AS DOUBLE) AS gt_unseen_mass,
        |  1.0 - CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) /
        |    CAST(SUM(c) AS DOUBLE) AS gt_coverage
        |FROM tf""".stripMargin),
    "q394_heaps_law" -> Query(q394HeapsLaw,
      """WITH tok AS (
        |  SELECT doc_id AS d,
        |    unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> x <> '')) AS term
        |  FROM documents),
        |perdoc AS (
        |  SELECT d, CAST(COUNT(*) AS BIGINT) AS nt FROM tok GROUP BY d),
        |firsts AS (
        |  SELECT d, CAST(COUNT(*) AS BIGINT) AS nv FROM (
        |    SELECT term, MIN(d) AS d FROM tok GROUP BY term)
        |  GROUP BY d),
        |base AS (
        |  SELECT p.d, p.nt, COALESCE(f.nv, 0) AS nv
        |  FROM perdoc p LEFT JOIN firsts f ON p.d = f.d),
        |cum AS (
        |  SELECT d, SUM(nt) OVER w AS cn, SUM(nv) OVER w AS cv
        |  FROM base WINDOW w AS (ORDER BY d ROWS UNBOUNDED PRECEDING)),
        |pts AS (
        |  SELECT CAST(LN(CAST(cn AS DOUBLE)) AS DECIMAL(18,12)) AS x,
        |    CAST(LN(CAST(cv AS DOUBLE)) AS DECIMAL(18,12)) AS y, cn, cv
        |  FROM cum),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(MAX(cn) AS BIGINT) AS n_tokens,
        |    CAST(MAX(cv) AS BIGINT) AS n_vocab,
        |    CAST(SUM(x) AS DECIMAL(38,12)) AS sx,
        |    CAST(SUM(y) AS DECIMAL(38,12)) AS sy,
        |    CAST(SUM(x * y) AS DECIMAL(38,24)) AS sxy,
        |    CAST(SUM(x * x) AS DECIMAL(38,24)) AS sxx,
        |    CAST(SUM(y * y) AS DECIMAL(38,24)) AS syy
        |  FROM pts)
        |SELECT n_docs, n_tokens, n_vocab,
        |  (CAST(n_docs AS DOUBLE) * CAST(sxy AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |  / (CAST(n_docs AS DOUBLE) * CAST(sxx AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS heaps_beta,
        |  (CAST(sy AS DOUBLE)
        |    - (CAST(n_docs AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n_docs AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |    * CAST(sx AS DOUBLE)) / CAST(n_docs AS DOUBLE)
        |    AS intercept_ln,
        |  ((CAST(n_docs AS DOUBLE) * CAST(sxy AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |  * (CAST(n_docs AS DOUBLE) * CAST(sxy AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
        |  / ((CAST(n_docs AS DOUBLE) * CAST(sxx AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |  * (CAST(n_docs AS DOUBLE) * CAST(syy AS DOUBLE)
        |    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS r2
        |FROM m""".stripMargin),
    "q395_lexical_diversity" -> Query(q395LexicalDiversity,
      """WITH base AS (
        |  SELECT lang,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')
        |      AS ts
        |  FROM documents),
        |uni AS (
        |  SELECT lang, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS n_types,
        |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_hapax
        |  FROM (
        |    SELECT lang, t, COUNT(*) AS c FROM (
        |      SELECT lang, unnest(ts) AS t FROM base) GROUP BY 1, 2)
        |  GROUP BY lang),
        |nd AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM base GROUP BY lang),
        |bg AS (
        |  SELECT lang, CAST(SUM(c) AS BIGINT) AS n_bigrams,
        |    CAST(COUNT(*) AS BIGINT) AS n_bigram_types
        |  FROM (
        |    SELECT lang, b, COUNT(*) AS c FROM (
        |      SELECT lang, ts[i] || ' ' || ts[i + 1] AS b
        |      FROM base, UNNEST(generate_series(1, len(ts) - 1)) AS g(i)
        |      WHERE len(ts) >= 2) GROUP BY 1, 2)
        |  GROUP BY lang)
        |SELECT n.lang, n.n_docs, u.n_tokens, u.n_types,
        |  CAST(u.n_types AS DOUBLE) / CAST(u.n_tokens AS DOUBLE) AS ttr,
        |  u.n_hapax,
        |  CAST(u.n_hapax AS DOUBLE) / CAST(u.n_types AS DOUBLE)
        |    AS hapax_frac,
        |  COALESCE(b.n_bigrams, 0) AS n_bigrams,
        |  COALESCE(b.n_bigram_types, 0) AS n_bigram_types,
        |  CASE WHEN COALESCE(b.n_bigrams, 0) > 0 THEN
        |    CAST(b.n_bigram_types AS DOUBLE) / CAST(b.n_bigrams AS DOUBLE)
        |  END AS distinct2
        |FROM nd n JOIN uni u ON n.lang = u.lang
        |LEFT JOIN bg b ON n.lang = b.lang
        |ORDER BY 1""".stripMargin),
    "q337_bpe_train" -> Query(q337BpeTrain,
      ("""WITH c0 AS MATERIALIZED (
        |  SELECT doc_id AS d,
        |    ' ' || regexp_replace(regexp_replace(
        |      lower(substr(text, 1, 64)), '[^a-z]', '', 'g'),
        |      '(.)', '\1 ', 'g') AS s
        |  FROM documents),""".stripMargin + "\n" +
        (1 to 6).map(bpeRoundSql).mkString(",\n") + "\n" +
        (1 to 6).map(k =>
          s"""SELECT CAST($k AS BIGINT) AS round, t1 AS left_tok,
             |  t2 AS right_tok, t1 || t2 AS merged_tok, n AS pair_count
             |FROM b$k""".stripMargin)
          .mkString("", "\nUNION ALL\n", "\nORDER BY round"))),
    // same merge chain, then pure integer token/vocab counts per round
    "q338_bpe_fertility" -> Query(q338BpeFertility,
      ("""WITH c0 AS MATERIALIZED (
        |  SELECT doc_id AS d,
        |    ' ' || regexp_replace(regexp_replace(
        |      lower(substr(text, 1, 64)), '[^a-z]', '', 'g'),
        |      '(.)', '\1 ', 'g') AS s
        |  FROM documents),""".stripMargin + "\n" +
        (1 to 6).map(bpeRoundSql).mkString(",\n") + "\n" +
        (0 to 6).map(k =>
          s"""SELECT CAST($k AS BIGINT) AS round,
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM c$k) AS n_docs,
             |  CAST(COUNT(*) AS BIGINT) AS corpus_tokens,
             |  CAST(COUNT(DISTINCT t) AS BIGINT) AS vocab_in_use,
             |  CAST(COUNT(*) AS DOUBLE)
             |    / CAST((SELECT COUNT(*) FROM c$k) AS DOUBLE)
             |    AS tokens_per_doc
             |FROM (SELECT unnest(list_filter(string_split(s, ' '),
             |  x -> x <> '')) AS t FROM c$k)""".stripMargin)
          .mkString("", "\nUNION ALL\n", "\nORDER BY round"))),
    // same token/sentence/vowel-group heuristics in DuckDB list functions
    "q215_readability" -> Query(q215Readability,
      """WITH d AS (
        |  SELECT lang,
        |    list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> x <> '') AS words,
        |    greatest(1, len(list_filter(
        |      regexp_split_to_array(text, '[.!?]+'),
        |      s -> trim(s) <> ''))) AS ns
        |  FROM documents WHERE length(text) > 0),
        |c AS (
        |  SELECT lang, CAST(len(words) AS BIGINT) AS nw,
        |    CAST(ns AS BIGINT) AS ns,
        |    CAST(list_sum(list_transform(words, w -> greatest(1,
        |      len(list_filter(regexp_split_to_array(lower(w), '[^aeiouy]+'),
        |        g -> g <> ''))))) AS BIGINT) AS sy
        |  FROM d),
        |f AS (
        |  SELECT lang, nw, ns, sy,
        |    206.835 - 1.015 * (CAST(nw AS DOUBLE) / CAST(ns AS DOUBLE))
        |      - 84.6 * (CAST(sy AS DOUBLE) / CAST(nw AS DOUBLE)) AS flesch
        |  FROM c)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(nw) AS DOUBLE) / CAST(SUM(ns) AS DOUBLE)
        |    AS words_per_sentence,
        |  CAST(SUM(sy) AS DOUBLE) / CAST(SUM(nw) AS DOUBLE)
        |    AS syllables_per_word,
        |  CAST(CAST(SUM(CAST(flesch AS DECIMAL(38,12))) AS DECIMAL(38,12))
        |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_flesch
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin),
    // the q48 tokenizer + the q204 entropy quantization ladder
    "q212_lexical_diversity" -> Query(q212LexicalDiversity,
      """WITH toks AS (
        |  SELECT lang, unnest(list_filter(
        |    regexp_split_to_array(text, '\s+'), x -> x <> '')) AS term
        |  FROM documents),
        |cnt AS (
        |  SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM toks GROUP BY 1, 2),
        |t AS (
        |  SELECT *, CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS nt
        |  FROM cnt),
        |terms AS (
        |  SELECT lang, n, nt,
        |    CAST(-(CAST(n AS DOUBLE) / CAST(nt AS DOUBLE))
        |      * ln(CAST(n AS DOUBLE) / CAST(nt AS DOUBLE))
        |      AS DECIMAL(38,12)) AS term_q
        |  FROM t),
        |agg AS (
        |  SELECT lang, CAST(SUM(n) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS n_types,
        |    CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_hapax,
        |    CAST(SUM(term_q) AS DECIMAL(38,12)) AS hq
        |  FROM terms GROUP BY 1)
        |SELECT lang, n_tokens, n_types,
        |  CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr,
        |  CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE) AS hapax_frac,
        |  CAST(hq AS DOUBLE) AS entropy_nats,
        |  CASE WHEN n_types > 1
        |    THEN CAST(hq AS DOUBLE) / ln(CAST(n_types AS DOUBLE))
        |    ELSE 0.0 END AS norm_entropy
        |FROM agg ORDER BY 1""".stripMargin),
    // distinct 3-gram windows per doc (whole text when < 3 tokens — the
    // q81 convention), corpus df per window, df = 1 ⇒ novel
    "q173_ngram_novelty" -> Query(q173NgramNovelty,
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
        |         ELSE list_distinct([array_to_string(ts[i:i+2], ' ')
        |                             FOR i IN range(1, len(ts) - 1)])
        |    END AS ws
        |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'),
        |                x -> x <> '') AS ts
        |        FROM documents)),
        |wn AS (SELECT doc_id, unnest(ws) AS w FROM t),
        |dfc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM wn GROUP BY w),
        |per AS (
        |  SELECT wn.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |    CAST(SUM(CASE WHEN dfc.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_unique
        |  FROM wn JOIN dfc USING (w) GROUP BY wn.doc_id)
        |SELECT doc_id, n_grams, n_unique,
        |  CAST(n_unique AS DOUBLE) / CAST(n_grams AS DOUBLE) AS novelty
        |FROM per ORDER BY doc_id""".stripMargin),
    // 1-based list comprehension: range(1, len) pairs tl[i] with tl[i+1]
    // and is empty for docs under 2 tokens; identical PMI expression shape
    "q155_collocations" -> Query(q155Collocations,
      """WITH d AS (
        |  SELECT list_filter(string_split_regex(text, '\s+'),
        |    t -> t <> '') AS tl FROM documents),
        |tot AS (
        |  SELECT CAST(SUM(len(tl)) AS BIGINT) AS n1,
        |    CAST(SUM(GREATEST(len(tl) - 1, 0)) AS BIGINT) AS n2 FROM d),
        |uni AS (
        |  SELECT u.t AS t, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM d, unnest(tl) AS u(t) GROUP BY 1),
        |big AS (
        |  SELECT u.s['p1'] AS p1, u.s['p2'] AS p2,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM d, unnest([{'p1': tl[i], 'p2': tl[i+1]}
        |    FOR i IN range(1, len(tl))]) AS u(s)
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 5)
        |SELECT big.p1 || ' ' || big.p2 AS bigram, big.n,
        |  log2((CAST(big.n AS DOUBLE) * tot.n1 * tot.n1)
        |    / (CAST(tot.n2 AS DOUBLE) * u1.c * u2.c)) AS pmi
        |FROM big JOIN uni u1 ON big.p1 = u1.t
        |  JOIN uni u2 ON big.p2 = u2.t CROSS JOIN tot
        |ORDER BY n DESC, bigram LIMIT 50""".stripMargin),
    "q132_distinctive_terms" -> Query(q132DistinctiveTerms,
      """WITH toks AS (
        |  SELECT lang AS g, u.tok AS term
        |  FROM documents, unnest(list_filter(
        |    string_split_regex(text, '\s+'), t -> t <> '')) AS u(tok)),
        |gt AS (SELECT g, term, CAST(COUNT(*) AS BIGINT) AS n_gt
        |       FROM toks GROUP BY 1, 2),
        |gg AS (SELECT g, CAST(SUM(n_gt) AS BIGINT) AS n_g FROM gt GROUP BY 1),
        |tt AS (SELECT term, CAST(SUM(n_gt) AS BIGINT) AS n_t FROM gt GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_t) AS BIGINT) AS n FROM tt),
        |scored AS (
        |  SELECT gt.g, gt.term, gt.n_gt,
        |    (CAST(gt.n_gt AS DOUBLE) / CAST(gg.n_g AS DOUBLE)) /
        |      (CAST(tt.n_t AS DOUBLE) / CAST(tot.n AS DOUBLE)) AS ratio
        |  FROM gt JOIN gg USING (g) JOIN tt USING (term) CROSS JOIN tot
        |  WHERE gt.n_gt >= 5)
        |SELECT g AS lang, CAST(ROW_NUMBER() OVER (PARTITION BY g
        |    ORDER BY ratio DESC, term) AS BIGINT) AS rank,
        |  term, n_gt, ratio
        |FROM scored QUALIFY rank <= 5
        |ORDER BY lang, rank""".stripMargin),
    // positional postings via an indexed list_transform (1-based there,
    // 0-based in Spark's posexplode — the self-join offsets cancel it out)
    "q131_phrase_search" -> Query(q131PhraseSearch,
      """WITH d AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
        |    t -> t <> '') AS l
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, u.s['pos'] AS pos, u.s['tok'] AS tok
        |  FROM d, unnest(list_transform(l,
        |    (x, i) -> struct_pack(tok := x, pos := i))) AS u(s)),
        |p AS (SELECT doc_id, pos FROM toks WHERE tok = 'table')
        |SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches
        |FROM p a JOIN p b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin),
    "q89_pack_sequences" -> Query(q89PackSequences,
      """WITH h AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_tokens,
        |    substr(md5(doc_id::VARCHAR || ':42'), 1, 16) AS s
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, lang, n_tokens,
        |    ((list_sum([ (strpos('0123456789abcdef', s[i]) - 1)::HUGEINT * (1::HUGEINT << (4*(16-i)))
        |                 FOR i IN range(1, 17) ]) >> 11))::DOUBLE / 9007199254740992.0 AS u
        |  FROM h),
        |p AS (
        |  SELECT lang AS stream, CAST(floor(u * 8) AS INT) AS shard, doc_id,
        |    CAST(n_tokens AS BIGINT) AS n_tokens
        |  FROM d WHERE n_tokens > 0),
        |c AS (
        |  SELECT stream, shard, doc_id, n_tokens,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY stream, shard ORDER BY doc_id
        |                             ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT)
        |      AS tok_start
        |  FROM p)
        |SELECT stream, shard, doc_id, n_tokens, tok_start,
        |  tok_start // 256 AS seq_first,
        |  (tok_start + n_tokens - 1) // 256 AS seq_last
        |FROM c ORDER BY stream, shard, doc_id""".stripMargin),
    "q90_bm25_search" -> Query(q90Bm25Search, q90OracleSql),
    "q91_assemble_sequences" -> Query(q91AssembleSequences,
      """WITH h AS (
        |  SELECT doc_id, lang,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ts,
        |    substr(md5(doc_id::VARCHAR || ':42'), 1, 16) AS s
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, lang, ts,
        |    ((list_sum([ (strpos('0123456789abcdef', s[i]) - 1)::HUGEINT * (1::HUGEINT << (4*(16-i)))
        |                 FOR i IN range(1, 17) ]) >> 11))::DOUBLE / 9007199254740992.0 AS u
        |  FROM h),
        |p AS (
        |  SELECT lang AS stream, CAST(floor(u * 8) AS INT) AS shard, doc_id, ts,
        |    CAST(len(ts) AS BIGINT) AS n_tokens
        |  FROM d WHERE len(ts) > 0),
        |c AS (
        |  SELECT stream, shard, doc_id, ts, n_tokens,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY stream, shard ORDER BY doc_id
        |                             ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT)
        |      AS tok_start
        |  FROM p),
        |sq AS (
        |  SELECT stream, shard, doc_id, ts, n_tokens, tok_start,
        |    unnest(range(tok_start // 256, (tok_start + n_tokens - 1) // 256 + 1)) AS seq_id
        |  FROM c),
        |x AS (
        |  SELECT stream, shard, seq_id, tok_start,
        |    list_slice(ts,
        |      greatest(seq_id * 256, tok_start) - tok_start + 1,
        |      least((seq_id + 1) * 256, tok_start + n_tokens) - tok_start) AS part
        |  FROM sq)
        |SELECT stream, shard, CAST(seq_id AS BIGINT) AS seq_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(len(part)) AS BIGINT) AS seq_len,
        |  string_agg(array_to_string(part, ' '), ' ' ORDER BY tok_start) AS seq_text
        |FROM x GROUP BY stream, shard, seq_id
        |ORDER BY stream, shard, seq_id""".stripMargin),
    "q87_chunk_documents" -> Query(q87ChunkDocuments,
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ts
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, ts,
        |    CAST(unnest(range(0, len(ts), 48)) AS BIGINT) AS chunk_start
        |  FROM t)
        |SELECT doc_id, chunk_start // 48 AS chunk_idx, chunk_start,
        |  CAST(len(list_slice(ts, chunk_start + 1, chunk_start + 64)) AS BIGINT)
        |    AS chunk_len,
        |  array_to_string(list_slice(ts, chunk_start + 1, chunk_start + 64), ' ')
        |    AS chunk_text
        |FROM s ORDER BY doc_id, chunk_idx""".stripMargin),
    // every rule recomputed from first principles; strict hash gate
    "q80_gopher_quality" -> Query(q80GopherQuality,
      s"""WITH t AS (
        |  SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS ts,
        |    list_filter(regexp_split_to_array(text, '\\n'), l -> trim(l) <> '') AS ls
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(ts) AS BIGINT) AS n_tokens,
        |    CASE WHEN len(ts) = 0 THEN 0.0
        |         ELSE CAST(list_sum(list_transform(ts, x -> len(x))) AS DOUBLE) / len(ts)
        |    END AS mean_word_len,
        |    CASE WHEN len(ts) = 0 THEN 0.0
        |         ELSE ((LENGTH(text) - LENGTH(regexp_replace(text, '#', '', 'g')))
        |               + (LENGTH(text) - LENGTH(REPLACE(text, '...', ''))) / 3)
        |              / CAST(len(ts) AS DOUBLE)
        |    END AS symbol_ratio,
        |    CASE WHEN len(ts) = 0 THEN 0.0
        |         ELSE CAST(len(list_filter(ts, x -> regexp_matches(x, '\\p{L}'))) AS DOUBLE)
        |              / len(ts)
        |    END AS alpha_word_frac,
        |    CAST(len(list_distinct(list_intersect(list_transform(ts, x -> lower(x)),
        |      ${gopherStopwords.map(w => s"'$w'").mkString("[", ", ", "]")}))) AS BIGINT)
        |      AS n_stop_hits,
        |    CASE WHEN len(ls) = 0 THEN 0.0
        |         ELSE CAST(len(list_filter(ls, l -> regexp_matches(trim(l), '^[-*•]'))) AS DOUBLE)
        |              / len(ls)
        |    END AS bullet_line_frac,
        |    CASE WHEN len(ls) = 0 THEN 0.0
        |         ELSE CAST(len(list_filter(ls, l -> regexp_matches(trim(l), '\\.\\.\\.$$'))) AS DOUBLE)
        |              / len(ls)
        |    END AS ellipsis_line_frac
        |  FROM t)
        |SELECT *,
        |  n_tokens BETWEEN 50 AND 100000 AS r_wordcount,
        |  mean_word_len BETWEEN 3.0 AND 10.0 AS r_meanlen,
        |  symbol_ratio <= 0.1 AS r_symbol,
        |  alpha_word_frac >= 0.9 AS r_alpha,
        |  n_stop_hits >= 2 AS r_stop,
        |  bullet_line_frac <= 0.9 AS r_bullet,
        |  ellipsis_line_frac <= 0.3 AS r_ellipsis,
        |  (n_tokens BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
        |    AND symbol_ratio <= 0.1 AND alpha_word_frac >= 0.9 AND n_stop_hits >= 2
        |    AND bullet_line_frac <= 0.9 AND ellipsis_line_frac <= 0.3
        |    AS gopher_quality_ok
        |FROM m ORDER BY doc_id""".stripMargin),
    "q43_langid" -> Query(q43LangId, q43OracleSql),
    // verbatim redaction equality: same portable patterns, 'g' to match
    // Spark's replace-all semantics
    "q82_pii_scrub" -> Query(q82PiiScrub,
      s"""SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '$EmailPattern')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '$Ipv4Pattern')) AS BIGINT) AS n_ips,
        |  regexp_replace(regexp_replace(text, '$EmailPattern', '<EMAIL>', 'g'),
        |    '$Ipv4Pattern', '<IP>', 'g') AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin),
    // exact metrics -> strict hash gate; argmax tie-break (c DESC, gram ASC)
    // mirrors the Spark min_by over (-c, gram)
    "q74_repetition_metrics" -> Query(q74RepetitionMetrics,
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ts
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(ts) AS t FROM toks),
        |tc AS (SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY doc_id, t),
        |base AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |  CAST(SUM(c * len(t)) AS BIGINT) AS n_token_chars FROM tc GROUP BY doc_id),
        |top1 AS (SELECT doc_id, t, c FROM (
        |  SELECT doc_id, t, c,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, t) AS rn FROM tc)
        |  WHERE rn = 1),
        |bg AS (SELECT doc_id, unnest([array_to_string(ts[i:i+1], ' ') FOR i IN range(1, len(ts))]) AS g
        |       FROM toks WHERE len(ts) >= 2
        |       UNION ALL
        |       SELECT doc_id, array_to_string(ts, ' ') AS g FROM toks WHERE len(ts) < 2),
        |bc AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY doc_id, g),
        |top2 AS (SELECT doc_id, g, c FROM (
        |  SELECT doc_id, g, c,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rn FROM bc)
        |  WHERE rn = 1),
        |adj AS (SELECT doc_id, len([1 FOR i IN range(1, len(ts)) IF ts[i] = ts[i+1]]) AS n_adj,
        |  len(ts) AS nt FROM toks)
        |SELECT b.doc_id, b.n_tokens, t1.t AS top_token,
        |  CAST(t1.c * len(t1.t) AS DOUBLE) / CAST(b.n_token_chars AS DOUBLE) AS top1_char_frac,
        |  t2.g AS top_bigram,
        |  CAST(t2.c * (len(t2.g) - 1) AS DOUBLE) / CAST(b.n_token_chars AS DOUBLE) AS top2_char_frac,
        |  CASE WHEN a.nt > 1 THEN CAST(a.n_adj AS DOUBLE) / CAST(a.nt - 1 AS DOUBLE)
        |       ELSE 0.0 END AS adj_repeat_frac,
        |  CAST(t2.c * (len(t2.g) - 1) AS DOUBLE) / CAST(b.n_token_chars AS DOUBLE) <= 0.2 AS gopher_ok
        |FROM base b
        |JOIN top1 t1 USING (doc_id) JOIN top2 t2 USING (doc_id) JOIN adj a USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
    "q353_negative_sampling" -> Query(q353NegativeSampling,
      """WITH toks AS (
        |  SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |    x -> x <> '')) AS t
        |  FROM documents),
        |vocab AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM toks
        |  GROUP BY t),
        |vw AS (
        |  SELECT t, c,
        |    CAST(FLOOR(1e6 * sqrt(sqrt(CAST(c * c * c AS DOUBLE))))
        |      AS BIGINT) AS w
        |  FROM vocab),
        |lad AS (
        |  SELECT *, SUM(w) OVER (ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumhi
        |  FROM vw),
        |lad2 AS (SELECT *, cumhi - w AS cumlo FROM lad),
        |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM vw),
        |draws AS (
        |  SELECT i,
        |    CAST(list_sum([
        |      CAST(strpos('0123456789abcdef',
        |        substr(md5(CAST(i AS VARCHAR)), j, 1)) - 1 AS HUGEINT)
        |        * (CAST(1 AS HUGEINT) << (4 * (12 - j)))
        |      FOR j IN range(1, 13)]) AS BIGINT)
        |      % (SELECT tw FROM tot) AS u
        |  FROM (SELECT UNNEST(range(0, 1000)) AS i)),
        |sel AS (
        |  SELECT l.t, l.w FROM lad2 l
        |  JOIN draws d ON d.u >= l.cumlo AND d.u < l.cumhi)
        |SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS n_sampled,
        |  CAST(MAX(w) AS DOUBLE) / CAST((SELECT tw FROM tot) AS DOUBLE)
        |    AS weight_share
        |FROM sel GROUP BY t
        |ORDER BY n_sampled DESC, token LIMIT 50""".stripMargin),
    "q48_top_terms" -> Query(q48TopTerms,
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS term
        |  FROM documents),
        |df AS (SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term)
        |SELECT doc_id, rank, term, tf, df FROM (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf DESC, df.df, tf.term) AS BIGINT) AS rank
        |  FROM tf JOIN df ON tf.term = df.term WHERE tf.doc_id < 30) t
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin),
    // every datasheet column recomputed from first principles: counts,
    // continuous quantiles, sorted-token canonical duplicates, PII regexes
    "q108_corpus_profile" -> Query(q108CorpusProfile,
      s"""WITH d AS (
        |  SELECT lang,
        |    len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS nt,
        |    array_to_string(list_sort(
        |      list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')), ' ') AS canon,
        |    (len(regexp_extract_all(text, '$EmailPattern'))
        |      + len(regexp_extract_all(text, '$Ipv4Pattern'))) > 0 AS has_pii
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(nt) AS BIGINT) AS n_tokens,
        |  quantile_cont(nt, 0.5) AS p50_tokens,
        |  quantile_cont(nt, 0.95) AS p95_tokens,
        |  COUNT(*) - COUNT(DISTINCT canon) AS n_dup_docs,
        |  CAST(SUM(CASE WHEN has_pii THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_docs
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin),
    // vectors, postings join, and rounded argmax refit from scratch:
    // same df cutoff, same per-posting normalization, same 6-dp rounding
    // BEFORE the argmax, same (sim DESC, id ASC) tie-break
    "q102_tfidf_nearest" -> Query(q102TfidfNearest,
      """WITH toks AS (
        |  SELECT doc_id AS id, unnest(list_filter(
        |    regexp_split_to_array(text, '\s+'), x -> x <> '')) AS t
        |  FROM documents),
        |tf AS (SELECT id, t, CAST(COUNT(*) AS DOUBLE) AS tf FROM toks GROUP BY id, t),
        |n AS (SELECT COUNT(DISTINCT id) AS n FROM tf),
        |dft AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t
        |        HAVING CAST(COUNT(*) AS DOUBLE) <= 0.9 * (SELECT CAST(n AS DOUBLE) FROM n)),
        |w AS (
        |  SELECT tf.id, tf.t, tf.tf * LN(CAST(n.n AS DOUBLE) / CAST(dft.df AS DOUBLE)) AS w
        |  FROM tf JOIN dft USING (t) CROSS JOIN n),
        |norms AS (
        |  SELECT id, SQRT(SUM(w * w)) AS nrm FROM w GROUP BY id HAVING SQRT(SUM(w * w)) > 0),
        |wn AS (
        |  SELECT w.id, w.t, w.w / norms.nrm AS wn FROM w JOIN norms USING (id)),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |    CAST(CAST(SUM(a.wn * b.wn) AS DECIMAL(18,6)) AS DOUBLE) AS sim
        |  FROM wn a JOIN wn b ON a.t = b.t AND a.id <> b.id
        |  WHERE a.id < 25
        |  GROUP BY a.id, b.id),
        |ranked AS (
        |  SELECT id_a, id_b, sim,
        |    ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY sim DESC, id_b) AS rn
        |  FROM pairs)
        |SELECT id_a, id_b, sim FROM ranked WHERE rn = 1 ORDER BY id_a""".stripMargin),
    // full rebuild of the trigram-shingle tf-idf vectors (q49's shingle
    // convention: a <k-token doc contributes its whole token string as one
    // shingle), BOTH posting cutoffs (df <= 0.5*N, df <= 4096), norms,
    // pair sums, and the decimal-rounded per-doc top-3 — strict hash gate
    "q115_tfidf_all_pairs_topk" -> Query(q115TfidfAllPairsTopK,
      """WITH toksArr AS (
        |  SELECT doc_id AS id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ts
        |  FROM documents),
        |terms AS (
        |  SELECT id, unnest([array_to_string(ts[i:i+2], ' ') FOR i IN range(1, len(ts) - 1)]) AS t
        |  FROM toksArr WHERE len(ts) >= 3
        |  UNION ALL
        |  SELECT id, array_to_string(ts, ' ') AS t FROM toksArr WHERE len(ts) < 3),
        |tf AS (SELECT id, t, CAST(COUNT(*) AS DOUBLE) AS tf FROM terms GROUP BY id, t),
        |n AS (SELECT COUNT(DISTINCT id) AS n FROM tf),
        |dft AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t
        |        HAVING CAST(COUNT(*) AS DOUBLE) <= 0.5 * (SELECT CAST(n AS DOUBLE) FROM n)
        |           AND COUNT(*) <= 4096),
        |w AS (
        |  SELECT tf.id, tf.t, tf.tf * LN(CAST(n.n AS DOUBLE) / CAST(dft.df AS DOUBLE)) AS w
        |  FROM tf JOIN dft USING (t) CROSS JOIN n),
        |norms AS (
        |  SELECT id, SQRT(SUM(w * w)) AS nrm FROM w GROUP BY id HAVING SQRT(SUM(w * w)) > 0),
        |wn AS (
        |  SELECT w.id, w.t, w.w / norms.nrm AS wn FROM w JOIN norms USING (id)),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |    CAST(CAST(SUM(a.wn * b.wn) AS DECIMAL(18,6)) AS DOUBLE) AS sim
        |  FROM wn a JOIN wn b ON a.t = b.t AND a.id <> b.id
        |  GROUP BY a.id, b.id),
        |ranked AS (
        |  SELECT id_a, id_b, sim,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY sim DESC, id_b) AS BIGINT) AS rank
        |  FROM pairs)
        |SELECT id_a, rank, id_b, sim FROM ranked WHERE rank <= 3
        |ORDER BY id_a, rank""".stripMargin),
    // identical smoothed bigram MLE refit from scratch: same >= 2-token
    // filter, same add-one smoothing, same vocabulary, same 6-dp rounding
    "q99_lm_perplexity" -> Query(q99LmPerplexity,
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ts
        |  FROM documents),
        |d AS (SELECT doc_id, ts FROM t WHERE len(ts) >= 2),
        |bg AS (
        |  SELECT doc_id,
        |    unnest([array_to_string(ts[i:i+1], ' ') FOR i IN range(1, len(ts))]) AS g
        |  FROM d),
        |cb AS (SELECT g, COUNT(*) AS c FROM bg GROUP BY g),
        |c1 AS (SELECT split_part(g, ' ', 1) AS w1, SUM(c) AS c1 FROM cb GROUP BY 1),
        |v AS (SELECT COUNT(DISTINCT u) AS v FROM (SELECT unnest(ts) AS u FROM d)),
        |s AS (
        |  SELECT bg.doc_id, cb.c, c1.c1, v.v
        |  FROM bg JOIN cb USING (g)
        |  JOIN c1 ON split_part(bg.g, ' ', 1) = c1.w1
        |  CROSS JOIN v)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(CAST(AVG(-LN((c + 1.0) / (c1 + v)) / LN(2.0))
        |       AS DECIMAL(18,6)) AS DOUBLE) AS avg_nll_bits
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    "q49_top_bigrams" -> Query(q49TopBigrams,
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ts
        |  FROM documents),
        |bg AS (SELECT unnest([array_to_string(ts[i:i+1], ' ') FOR i IN range(1, len(ts))]) AS bigram
        |       FROM toks WHERE len(ts) >= 2
        |       UNION ALL
        |       SELECT array_to_string(ts, ' ') AS bigram FROM toks WHERE len(ts) < 2)
        |SELECT bigram, COUNT(*) AS n FROM bg GROUP BY bigram
        |ORDER BY n DESC, bigram LIMIT 20""".stripMargin),
    "q41_token_count" -> Query(q41TokenCount,
      """SELECT doc_id, len(regexp_split_to_array(text, '\s+')) AS n_tokens,
        |  len(list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9]+'), x -> x <> '')) AS n_subwords
        |FROM documents ORDER BY doc_id""".stripMargin),
    "q42_text_quality" -> Query(q42TextQuality,
      """SELECT doc_id, LENGTH(text) AS text_len,
        |  len(list_distinct(string_split(text, ' '))) AS n_unique_tokens,
        |  LENGTH(text) - LENGTH(REPLACE(text, 'dup', '')) AS dup_marker_chars
        |FROM documents ORDER BY doc_id""".stripMargin),
    "q44_fingerprint_dedup" -> Query(q44FingerprintDedup,
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies FROM documents
        |GROUP BY array_to_string(list_sort(string_split(text, ' ')), ' ')
        |ORDER BY keep_id""".stripMargin),
    "q371_textrank" -> Query(q371TextRank, (
      """WITH toks0 AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
        |    '\s+'), x -> x <> '') AS ts
        |  FROM documents),
        |pt0 AS (
        |  SELECT doc_id AS d, i AS pos, ts[i] AS tok
        |  FROM toks0, UNNEST(range(1, len(ts) + 1)) AS u(i)),
        |pt AS (
        |  SELECT * FROM pt0 WHERE regexp_matches(tok, '^[a-z]{3,}$')),
        |co AS (
        |  SELECT LEAST(a.tok, b.tok) AS u, GREATEST(a.tok, b.tok) AS v,
        |    CAST(COUNT(*) AS BIGINT) AS w
        |  FROM pt a JOIN pt b ON a.d = b.d
        |    AND b.pos - a.pos BETWEEN 1 AND 2 AND a.tok <> b.tok
        |  GROUP BY 1, 2),
        |bi AS (
        |  SELECT u AS src, v AS dst, w FROM co
        |  UNION ALL SELECT v, u, w FROM co),
        |ow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM bi
        |       GROUP BY 1),
        |edges AS MATERIALIZED (
        |  SELECT bi.src, bi.dst, CAST(bi.w AS DOUBLE)
        |    / CAST(ow.ow AS DOUBLE) AS p
        |  FROM bi JOIN ow ON ow.src = bi.src),
        |nodes AS MATERIALIZED (
        |  SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM nodes),
        |r0 AS (
        |  SELECT node, 1.0 / CAST(nn.n_nodes AS DOUBLE) AS rank
        |  FROM nodes CROSS JOIN nn),""".stripMargin + "\n" +
      (1 to 5).map(trIterSql).mkString(",\n") + ",\n" +
      """top AS (
        |  SELECT node, rank,
        |    ROW_NUMBER() OVER (ORDER BY rank DESC, node) AS pos
        |  FROM r5)
        |SELECT CAST(pos AS BIGINT) AS pos, node AS word,
        |  CAST(CAST(rank AS DECIMAL(20,12)) AS DOUBLE) AS rank
        |FROM top WHERE pos <= 20 ORDER BY pos""".stripMargin)),
    "q374_unigram_lm" -> Query(q374UnigramLm,
      """WITH words AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c,
        |    CAST(len(w) AS BIGINT) AS L
        |  FROM (SELECT unnest(list_filter(regexp_split_to_array(
        |      lower(text), '\s+'), x -> x <> '')) AS w FROM documents)
        |  WHERE regexp_matches(w, '^[a-z]+$') AND len(w) <= 20
        |  GROUP BY w),
        |occ AS (
        |  SELECT w, c, L, CAST(j AS BIGINT) AS j,
        |    CAST(j + len AS BIGINT) AS i,
        |    substring(w, CAST(j + 1 AS INT), CAST(len AS INT)) AS piece
        |  FROM words, UNNEST(range(0, CAST(L AS INT))) AS a(j),
        |       UNNEST(range(1, 5)) AS b(len)
        |  WHERE j + len <= L),
        |pc AS (SELECT piece, CAST(SUM(c) AS BIGINT) AS cnt
        |       FROM occ GROUP BY 1),
        |vocab0 AS (
        |  SELECT DISTINCT piece, cnt FROM (
        |    (SELECT piece, cnt FROM pc ORDER BY cnt DESC, piece LIMIT 200)
        |    UNION ALL
        |    (SELECT piece, cnt FROM pc WHERE len(piece) = 1))),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM vocab0),
        |vocab AS (
        |  SELECT piece, CAST(FLOOR(-1000000.0 * log2(CAST(cnt AS DOUBLE)
        |    / CAST(t AS DOUBLE))) AS BIGINT) AS cost
        |  FROM vocab0, tot),
        |edl AS (
        |  SELECT o.w, MAX(o.c) AS c, MAX(o.L) AS L,
        |    list({'j': o.j, 'i': o.i, 'cost': v.cost}) AS edges
        |  FROM occ o JOIN vocab v ON v.piece = o.piece
        |  GROUP BY o.w),
        |dp AS (
        |  SELECT w, c, L,
        |    (list_reduce(
        |      list_prepend([CAST(0 AS BIGINT)],
        |        list_transform(range(1, CAST(L AS INT) + 1),
        |          i -> [CAST(i AS BIGINT)])),
        |      (acc, x) -> list_append(acc,
        |        list_min(list_transform(
        |          list_filter(edges, e -> e.i = x[1]),
        |          e -> acc[CAST(e.j + 1 AS INT)] + e.cost)))))[-1]
        |      AS cost_ubits
        |  FROM edl),
        |bl AS (
        |  SELECT L AS word_len, CAST(COUNT(*) AS BIGINT) AS n_words,
        |    CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    CAST(SUM(c * cost_ubits) AS BIGINT) AS tot_ubits,
        |    CAST(SUM(c * L) AS BIGINT) AS n_chars
        |  FROM dp GROUP BY 1)
        |SELECT word_len, n_words, n_tokens,
        |  CAST(tot_ubits AS DOUBLE) / CAST(n_chars AS DOUBLE) / 1000000.0
        |    AS bits_per_char
        |FROM (SELECT * FROM bl
        |      UNION ALL
        |      SELECT CAST(0 AS BIGINT), CAST(SUM(n_words) AS BIGINT),
        |        CAST(SUM(n_tokens) AS BIGINT),
        |        CAST(SUM(tot_ubits) AS BIGINT),
        |        CAST(SUM(n_chars) AS BIGINT) FROM bl)
        |ORDER BY word_len""".stripMargin),
    "q382_truncation_loss" -> Query(q382TruncationLoss,
      """WITH lens AS (
        |  SELECT CAST(len(list_filter(regexp_split_to_array(text,
        |    '\s+'), x -> x <> '')) AS BIGINT) AS len
        |  FROM documents),
        |bf AS (SELECT CAST(unnest([16, 32, 64, 128, 256]) AS BIGINT)
        |  AS budget)
        |SELECT budget, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN len > budget THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_docs_over,
        |  CAST(SUM(CASE WHEN len > budget THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS frac_docs_over,
        |  CAST(SUM(len) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN len > budget THEN len - budget ELSE 0 END)
        |    AS BIGINT) AS tokens_lost,
        |  CAST(SUM(CASE WHEN len > budget THEN len - budget ELSE 0 END)
        |    AS DOUBLE) / CAST(SUM(len) AS DOUBLE) AS frac_tokens_lost
        |FROM lens CROSS JOIN bf GROUP BY 1 ORDER BY 1""".stripMargin))

  /** One unrolled TextRank iteration — the [[Graph.pageRank]] recursion
    * with this oracle's CTE names, contributions DECIMAL-quantized
    * exactly like the engine side. */
  private def trIterSql(k: Int): String =
    s"""c$k AS (
       |  SELECT e.dst AS node,
       |    CAST(SUM(CAST(r.rank * e.p AS DECIMAL(38,18))) AS DOUBLE)
       |      AS inflow
       |  FROM edges e JOIN r${k - 1} r ON e.src = r.node GROUP BY e.dst),
       |r$k AS (
       |  SELECT n.node,
       |    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
       |        / CAST(nn.n_nodes AS DOUBLE)
       |      + CAST(0.85 AS DOUBLE) * COALESCE(c.inflow, 0.0) AS rank
       |  FROM nodes n CROSS JOIN nn LEFT JOIN c$k c ON c.node = n.node)"""
      .stripMargin
}
