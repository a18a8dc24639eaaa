package graft.operators

import graft.GraftFunctions
import graft.sources.Tables

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed to
  * scale by construction:
  *
  *  - exact dedup: hash-groupBy on content — one shuffle on the group key,
  *    map-side partial aggregation;
  *  - MinHash + LSH near-dup: signatures and band hashes are per-row,
  *    codegen'd column expressions; only (band, bandHash) pairs shuffle, so
  *    candidate generation is a bucket join, never an all-pairs product;
  *  - SimHash near-dup: one 64-bit value per doc ([[graft.functions.SimHash]]),
  *    candidates blocked on chunk-subset multi-index keys (all
  *    (m−d)-subsets of an m-way chunk split cover Hamming ≤ d by
  *    pigeonhole — Manku et al., WWW 2007), verified with the codegen'd
  *    `bit_count(a ^ b)`;
  *  - n-gram Jaccard: exact verification metric for LSH candidates.
  *
  * All-pairs comparison appears nowhere: every method is
  * generate-candidates-by-key → verify-within-bucket, the only near-dup shape
  * that survives 100 TB.
  */
object Dedup {

  // ---- shingling / minhash primitives (pure Column expressions) ----

  /** Word-level k-shingles of a token array. */
  def shingles(toks: Column, k: Int): Column =
    when(size(toks) < k, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", slice(toks, i + 1, lit(k)))))

  /** 64-bit hashes of distinct shingles — a single tight-loop expression
    * ([[graft.functions.ShingleHashes]]); see its doc for why the composed
    * transform/filter form is the wrong shape in a self-joined pipeline. */
  def shingleHashes(text: Column, k: Int): Column =
    org.apache.spark.sql.graft.GraftBridge.column(
      graft.functions.ShingleHashes(
        org.apache.spark.sql.graft.GraftBridge.expression(text), k))

  /** Deterministic hash family: the i-th function re-mixes a shingle hash
    * with the family index through xxhash64 (ANSI-safe — no wrapping
    * arithmetic, which Spark 4 rejects under ansi.enabled). */
  private def perm(h: Column, i: Int): Column = xxhash64(h, lit(i))

  /** MinHash signature: array of `numPerms` minima over the shingle hashes.
    * NOTE: only for per-row use on short arrays — inside a pipeline use the
    * explode+aggregate path of [[minhashNearDupPairs]]: CollapseProject
    * would otherwise inline the shingling expression into every permutation
    * (numPerms × bands recomputation per row). */
  def minhashSignature(text: Column, k: Int = 3, numPerms: Int = 64): Column = {
    val hs = shingleHashes(text, k)
    array((0 until numPerms).map(i => array_min(transform(hs, h => perm(h, i)))): _*)
  }

  /** LSH band hashes: split the signature into `bands` bands and hash each;
    * docs sharing any (band, hash) become candidates. */
  def lshBandHashes(sig: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map(b => xxhash64(slice(sig, b * rows + 1, rows))): _*)

  /** Exact Jaccard similarity of two docs' distinct shingle-hash sets. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  // ---- whole-operator pipelines ----

  /** Exact dedup keeping one deterministic representative per content key:
    * the row whose `orderCol` is smallest (ties impossible when `orderCol`
    * is unique, e.g. a doc id). One shuffle on the content key; all other
    * columns survive. */
  def keepFirstByContent(df: DataFrame, contentCols: Seq[String],
      orderCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(contentCols.map(col): _*).orderBy(col(orderCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Near-duplicate pairs via MinHash-LSH: shingle → sign → band → bucket
    * join → exact-Jaccard verify. Returns (id_a, id_b, jaccard).
    *
    * Shape matters here: the whole shingle → signature → band-hash chain is
    * ONE per-row kernel ([[graft.functions.MinHashBands]] — see its doc for
    * why neither the composed-Column nor the explode+groupBy formulation
    * survives), so candidate generation costs zero shuffles until the tiny
    * (band, bandHash) explode. Candidates come from a bucket join on
    * (band, bandHash); shingle-hash sets are per-row projections re-joined
    * by id for verification, so arrays cross the wire once per doc side,
    * never once per candidate pair. */
  def minhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numPerms: Int = 64, bands: Int = 16,
      threshold: Double = 0.5, maxBucketSize: Int = 256): DataFrame = {
    val buckets = docs.select(col(idCol).as("id"),
      posexplode(minhashBandsCol(col(textCol), k, numPerms, bands))
        .as(Seq("band", "bhash")))
    // hot-bucket guard + pair generation in ONE pass over the bucket table;
    // drops are reported via an observed metric (Buckets.cap)
    val cand = Buckets.candidatePairs(buckets, Seq("band", "bhash"), "id",
      maxBucketSize, "minhash_bucket_cap")
    val sh = docs.select(col(idCol).as("id"), shingleHashes(col(textCol), k).as("sh"))
    val nc = size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
    val nt = size(array_union(col("sh_a"), col("sh_b"))).cast("long")
    cand
      .join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      // integer set sizes ride along with the ratio: exact, oracle-friendly
      .select(col("id_a"), col("id_b"), nc.as("n_common"), nt.as("n_total"),
        (nc.cast("double") / nt.cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Chunk widths for an `m`-way split of 64 bits: the first `64 % m`
    * chunks take the extra bit (e.g. m = 6 → 11,11,11,11,10,10). */
  private[graft] def chunkWidths(m: Int): Array[Int] = {
    val base = 64 / m
    Array.tabulate(m)(i => if (i < 64 % m) base + 1 else base)
  }

  /** Multi-index blocking keys for exact Hamming ≤ `maxHamming` search over
    * a 64-bit fingerprint column (Manku, Jain & Das Sarma, WWW 2007 §3):
    * split the fingerprint into `m` chunks and emit one packed key per
    * (m − maxHamming)-subset of chunks. The guarantee is COMPUTED, not
    * assumed: `maxHamming` differing bits corrupt at most `maxHamming`
    * chunks, so at least m − maxHamming chunks survive intact, so at least
    * one emitted subset is fully intact on both sides — every qualifying
    * pair shares a (subset, key) bucket. Returns (subsetIdx, packedKey)
    * expressions; key selectivity is ≈ 64·(m−maxHamming)/m bits vs the
    * 64/m bits of single-chunk blocking, which is what keeps bucket
    * populations bounded as the corpus grows. */
  private def hammingBlockKeys(sim: Column, m: Int, maxHamming: Int): Seq[Column] = {
    val widths = chunkWidths(m)
    val offsets = widths.scanLeft(0)(_ + _)
    (0 until m).combinations(m - maxHamming).map { s =>
      s.foldLeft(lit(0L)) { (acc, c) =>
        // mask via unsigned shift: (1L << 64) - 1 would be 0 (Java shifts
        // mod 64), but -1L >>> (64 - w) is all-ones even at w = 64
        shiftleft(acc, widths(c)).bitwiseOR(
          shiftright(sim, offsets(c)).bitwiseAND(lit(-1L >>> (64 - widths(c)))))
      }
    }.toSeq
  }

  /** Near-duplicate pairs via SimHash: chunk-subset multi-index blocking +
    * Hamming verify. Returns (id_a, id_b, hamming) — exactly
    * {pairs : hamming(simhash_a, simhash_b) ≤ maxHamming}, by the
    * [[hammingBlockKeys]] pigeonhole argument, for ANY corpus size (recall
    * does not depend on data distribution, only the cap can drop candidates
    * and the drop is an observed metric).
    *
    * `numChunks` trades index size against bucket selectivity: keys per doc
    * = C(m, m−maxHamming), key width ≈ 64·(m−maxHamming)/m bits. The
    * default m = maxHamming + 3 gives C(m,3) keys of ≈ 64·(1 − d/m) bits —
    * for the d = 3 default: 20 keys of 32 bits, vs the naive 4×16-bit
    * single-chunk split (the m = d + 1 point of the same family) whose
    * 16-bit buckets grow linearly with the corpus. 5× the index rows buys
    * 2^16× finer buckets — measured at sf0.1: max bucket 291 → 14.
    *
    * `md5Hash = true` switches the token hash to the MD5-derived variant,
    * which an external engine can recompute bit-exactly (the q46 oracle
    * does — see [[graft.functions.SimHash]]). */
  def simhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 256,
      md5Hash: Boolean = false, numChunks: Int = 0): DataFrame = {
    val simFn: Column => Column =
      if (md5Hash) GraftFunctions.simhash_md5 else GraftFunctions.simhash
    hammingNearDupPairs(
      docs.select(col(idCol).as("id"),
        simFn(TextAnalysis.tokens(col(textCol))).as("fp")),
      maxHamming, maxBucketSize, numChunks, "simhash_bucket_cap")
  }

  /** Exact Hamming ≤ `maxHamming` pairs over ANY 64-bit fingerprint
    * relation `(id, fp)` — the fingerprint-agnostic core of
    * [[simhashNearDupPairs]], shared with perceptual-hash image dedup
    * ([[Multimodal.imageNearDupPairs]]): chunk-subset multi-index
    * blocking, capped buckets, re-join by id, bit_count verify. */
  private[graft] def hammingNearDupPairs(fps: DataFrame, maxHamming: Int,
      maxBucketSize: Int, numChunks: Int, capName: String): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 13,
      s"maxHamming must be in [0, 13], got $maxHamming")
    val m = if (numChunks == 0) maxHamming + 3 else numChunks
    require(m > maxHamming && m <= 16,
      s"numChunks ($m) must satisfy maxHamming < numChunks <= 16")
    val keys = fps.select(col("id"),
      posexplode(array(hammingBlockKeys(col("fp"), m, maxHamming): _*))
        .as(Seq("blk", "bkey")))
    val cand = Buckets.candidatePairs(keys, Seq("blk", "bkey"), "id",
      maxBucketSize, capName)
    // fingerprints re-joined by id for the Hamming verify (payload never
    // rides the pair explosion)
    cand
      .join(fps.select(col("id").as("id_a"), col("fp").as("fp_a")), "id_a")
      .join(fps.select(col("id").as("id_b"), col("fp").as("fp_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  // ---- declared queries ----

  /** Exact dedup on content: canonical representative per text. Groups by a
    * 128-bit content hash (two independent xxhash64 lanes), NOT the raw
    * text: the shuffle key is 16 bytes instead of the whole document, and a
    * 128-bit birthday collision is negligible at any corpus size. */
  def q40DedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(xxhash64(col("text")).as("h1"), xxhash64(lit(1), col("text")).as("h2"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")
      .orderBy("keep_id")

  /** MinHash-LSH near-dup pairs, exact-verified and oracle-gated: the output
    * is the integer shingle-set overlap (n_common, n_total) of every pair at
    * Jaccard ≥ 0.5, which DuckDB reproduces from first principles with an
    * exact all-pairs pass at oracle scale. 32 bands × 2 rows makes the
    * candidate step's miss probability at j = 0.5 about (1−0.25)^32 ≈ 1e-4
    * (vs 0.36 at the 16×4 default) — recall is effectively exact, so the
    * LSH path must reproduce the full exact answer to stay green. */
  def q45MinhashPairs(spark: SparkSession, dir: String): DataFrame =
    minhashNearDupPairs(Tables.documents(spark, dir), "doc_id", "text", bands = 32)
      .select(col("id_a"), col("id_b"), col("n_common"), col("n_total"))
      .orderBy("id_a", "id_b")

  /** Incremental corpus-ingestion dedup — the nightly-batch form every
    * growing training corpus runs: score ONLY the arriving batch against
    * the standing corpus (batch × corpus candidates, never the corpus
    * self-join q45 does), verdict per new doc. Candidates come from the
    * same MinHash band buckets as [[minhashNearDupPairs]], generated
    * bipartite inside each bucket (new-ids × prior-ids lists — the
    * corpus side never pairs with itself), verified by exact shingle
    * Jaccard ≥ ½ as an integer cross-product test. At 100 TB the
    * standing corpus's bucket table is the precomputed, bucketed-by-
    * (band,hash) index a nightly batch probes — per-batch cost scales
    * with the BATCH, not the corpus (the q128/q157 maintained-index
    * posture); band recall at the ½ threshold is the documented q45
    * trade (32 bands × 2 rows ⇒ ≥ 1−(1−½²)³² ≈ 0.9999 at J = ½, → 1
    * above it).
    *
    * Returns ONE row per batch doc: match count, the smallest matching
    * prior id (NULL when none), and a 0/1 keep verdict — the dedup
    * decision a writer appends downstream. */
  def incrementalDedup(docs: DataFrame, idCol: String, textCol: String,
      batchPred: Column, k: Int = 3, numPerms: Int = 64, bands: Int = 32,
      maxBucketSize: Int = 256): DataFrame = {
    val flagged = docs.select(col(idCol).as("id"), col(textCol).as("text"),
      batchPred.as("is_new"))
    val buckets = flagged.select(col("id"), col("is_new"),
      posexplode(minhashBandsCol(col("text"), k, numPerms, bands))
        .as(Seq("band", "bhash")))
    val capped = Buckets.cap(buckets, Seq("band", "bhash"), "id",
      maxBucketSize, "incdedup_bucket_cap")
    val pairs = capped.groupBy("band", "bhash")
      .agg(
        sort_array(collect_list(when(col("is_new"), col("id")))).as("nids"),
        sort_array(collect_list(when(!col("is_new"), col("id"))))
          .as("pids"))
      .select(explode(flatten(transform(col("nids"), a =>
        transform(col("pids"), b =>
          struct(a.as("id_new"), b.as("id_prior")))))).as("__p"))
      .select(col("__p.id_new"), col("__p.id_prior"))
      .distinct()
    val sh = flagged.select(col("id"), shingleHashes(col("text"), k).as("sh"))
    val verified = pairs
      .join(sh.select(col("id").as("id_new"), col("sh").as("sh_a")),
        "id_new")
      .join(sh.select(col("id").as("id_prior"), col("sh").as("sh_b")),
        "id_prior")
      .filter(size(array_intersect(col("sh_a"), col("sh_b"))) * 2 >=
        size(array_union(col("sh_a"), col("sh_b"))))
      .select(col("id_new"), col("id_prior"))
    flagged.filter(col("is_new")).select(col("id").as(idCol))
      .join(verified.groupBy(col("id_new").as(idCol))
        .agg(count(lit(1)).as("n_dups"), min("id_prior").as("dup_of")),
        Seq(idCol), "left")
      .na.fill(0L, Seq("n_dups"))
      .withColumn("is_kept", (col("n_dups") === 0).cast("long"))
      .orderBy(idCol)
  }

  /** Docs arriving as shard 7 (doc_id ≡ 7 mod 10) deduped against the
    * other nine shards as the standing corpus. */
  def q345IncrementalDedup(spark: SparkSession, dir: String): DataFrame =
    incrementalDedup(Tables.documents(spark, dir), "doc_id", "text",
      col("doc_id") % 10 === 7)

  /** Dedup threshold sensitivity sweep — the table a pipeline owner
    * reads before committing to a Jaccard cutoff: for each candidate
    * threshold, how many near-dup pairs fire and how many documents get
    * touched. ONE pair computation ([[minhashNearDupPairs]] at the
    * loosest threshold) feeds every row; the per-threshold test is the
    * exact integer cross-product 100·n_common ≥ t·n_total, so no float
    * ratio crosses the gate. Thresholds below the banding floor (½)
    * would under-count and are rejected. */
  def dedupThresholdSweep(docs: DataFrame, idCol: String, textCol: String,
      thresholds: Seq[Int] = Seq(50, 60, 70, 80, 90)): DataFrame = {
    require(thresholds.forall(t => t >= 50 && t <= 100),
      s"thresholds must be in [50,100] (banding recall floor): $thresholds")
    val pairs = minhashNearDupPairs(docs, idCol, textCol, bands = 32)
      .select(col("id_a"), col("id_b"), col("n_common"), col("n_total"))
      .localCheckpoint(true) // one candidate+verify pass feeds all rows
    val th = docs.sparkSession.createDataFrame(
      thresholds.map(t => Tuple1(t.toLong))).toDF("threshold_pct")
    val j = pairs.crossJoin(broadcast(th))
      .filter(col("n_common") * 100 >= col("threshold_pct") * col("n_total"))
    val np = j.groupBy("threshold_pct").agg(count(lit(1)).as("n_pairs"))
    val nd = j.select(col("threshold_pct"),
        explode(array(col("id_a"), col("id_b"))).as("d"))
      .distinct()
      .groupBy("threshold_pct").agg(count(lit(1)).as("n_docs_in_pairs"))
    th.join(np, Seq("threshold_pct"), "left")
      .join(nd, Seq("threshold_pct"), "left")
      .na.fill(0L, Seq("n_pairs", "n_docs_in_pairs"))
      .orderBy("threshold_pct")
  }

  /** How aggressive should corpus dedup be: pair and touched-doc counts
    * at Jaccard 0.5 through 0.9. */
  def q357DedupSweep(spark: SparkSession, dir: String): DataFrame =
    dedupThresholdSweep(Tables.documents(spark, dir), "doc_id", "text")

  /** SimHash near-dup pairs, hash-exactly oracle-gated: with the MD5 token
    * hash the fingerprint is engine-independent, and chunk-subset
    * multi-index blocking provably finds every Hamming ≤ 3 pair — so the
    * output IS the exact set {(a,b) : popcount(simhash_a ^ simhash_b) ≤ 3},
    * which DuckDB recomputes from first principles (md5 → ±1 bit votes →
    * fingerprint → all-pairs popcount at oracle scale). No thresholds, no
    * approximation envelope. Runs at the DEFAULT bucket cap: the 32-bit
    * subset keys keep real buckets tiny (max 14 at sf0.1, vs 291 under the
    * old 16-bit single-chunk split that needed a 4096 cap), and ScaleSpec
    * pins that bound. */
  def q46SimhashPairs(spark: SparkSession, dir: String): DataFrame =
    simhashNearDupPairs(Tables.documents(spark, dir).filter(col("text").isNotNull),
        "doc_id", "text", md5Hash = true)
      .orderBy("id_a", "id_b")

  /** N-gram (3-shingle) Jaccard for a fixed doc pair sample: every pair of
    * the 20 lowest doc_ids — an exact, oracle-able similarity computation. */
  def q47NgramJaccardSample(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).filter(col("doc_id") < 20)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"), array_distinct(shingles(col("toks"), 3)).as("sh"))
    d.as("x").join(d.as("y"), col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        size(array_intersect(col("x.sh"), col("y.sh"))).cast("long").as("n_common"),
        size(array_union(col("x.sh"), col("y.sh"))).cast("long").as("n_total"))
      .orderBy("id_a", "id_b")
  }

  /** EXACT threshold set-similarity join (SSJoin / PPJoin prefix filter,
    * Chaudhuri'06 / Xiao'08) — all pairs with shingle-set Jaccard ≥
    * `tNum/tDen`, no approximation. The complement of [[minhashNearDupPairs]]:
    * MinHash buys probabilistic candidates at any similarity; the prefix
    * filter buys EXACT results when the threshold is high enough to
    * prune.
    *
    * The machinery, all integer-exact (the threshold is a RATIONAL, so
    * every ceil/compare is integer arithmetic — a float threshold would
    * round ⌈t·n⌉ up through the double error and silently shrink the
    * prefix below the theorem's bound):
    *
    *   1. order the universe by (df, shingle) — rarest first;
    *   2. each set exposes only its first `n − ⌈t·n⌉ + 1` elements: any
    *      pair with J ≥ t must share an element within BOTH prefixes
    *      (if c = |x∩y| ≥ ⌈t·max⌉, the globally-first common element sits
    *      within the first |x| − c + 1 ≤ prefix of each side);
    *   3. candidates = prefix-postings self-join (+ the length filter
    *      den·min ≥ num·max), verified by an exact intersection count.
    *
    * Candidate volume is Σ_prefix-token df² — bounded by the rare-first
    * order, never all-pairs; the verify join ships candidate × set-size
    * rows. Returns `(id_a, id_b, n_common, n_union)` — the exact Jaccard
    * as a fraction, no doubles anywhere. */
  def setSimilarityJoin(docs: DataFrame, idCol: String, textCol: String,
      tNum: Int, tDen: Int, shingleK: Int = 3): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen,
      s"threshold must be a rational in (0,1]: $tNum/$tDen")
    // five consumers (sizes, dfs, the prefix build, both verify joins):
    // materialize the exploded shingle relation ONCE, or the tokenizer +
    // shingler re-run per consumer (measured 11 s -> ~3 s at sf0.1).
    // r12: the shingler is the single-pass [[graft.functions.ShingleStrings]]
    // kernel — the composed array_distinct(shingles(tokens(text))) form is a
    // regex split + three CodegenFallback HOFs evaluated interpreted per
    // element, and was this query's heaviest stage (the eager checkpoint
    // build: 4.0 s warm of 8.4 s total at sf0.1; guide §1.2 per-task work).
    // Identical shingle sets: same tokenization, fallback and dedup order
    // (equivalence pinned in Round12OpsSpec).
    val sets = docs.select(col(idCol).as("id"),
        explode(org.apache.spark.sql.graft.GraftBridge.column(
          graft.functions.ShingleStrings(
            org.apache.spark.sql.graft.GraftBridge.expression(col(textCol)),
            shingleK))).as("sh"))
      .localCheckpoint(true)
    val sizes = sets.groupBy("id").agg(count(lit(1)).as("n"))
    val dfreq = sets.groupBy("sh").agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy("id").orderBy(col("df"), col("sh"))
    // minOverlap(n) = ceil(tNum*n/tDen), exactly
    val prefix = sets.join(dfreq, "sh").join(sizes, "id")
      .withColumn("r", row_number().over(wDoc))
      .filter(col("r") <= col("n") -
        expr(s"(n * $tNum + ${tDen - 1}) div $tDen") + 1)
      .select("id", "sh", "n")
    val cands = prefix.as("a").join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .filter(lit(tDen) * least(col("a.n"), col("b.n")) >=
        lit(tNum) * greatest(col("a.n"), col("b.n")))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .distinct()
    // Verify by whole-set intersection, not a candidate×shingle re-join:
    // the exploded verify join ships |cands| · avg-set-size rows through a
    // shuffle + groupBy, while the candidate set itself is tiny (the prefix
    // filter at a high threshold prunes hard). Re-packing each set into one
    // array row and probing it with the candidate pairs lets AQE broadcast
    // the SMALL side (cands) twice — the big side is scanned once, no
    // per-shingle shuffle. `array_intersect` is exact on the distinct
    // shingle arrays. (measured 5.1 s -> 3.6 s exec at sf0.1; re-packing
    // the checkpointed sets via collect_list measured FASTER than
    // checkpointing the array form and deriving sets from it, 3.6 vs 8.1 s)
    val arrs = sets.groupBy("id").agg(collect_list(col("sh")).as("shs"))
    cands
      .join(arrs.select(col("id").as("id_a"), col("shs").as("shs_a")), "id_a")
      .join(arrs.select(col("id").as("id_b"), col("shs").as("shs_b")), "id_b")
      .withColumn("n_common",
        size(array_intersect(col("shs_a"), col("shs_b"))).cast("long"))
      .filter(col("n_common") * tDen >=
        lit(tNum) * (col("n_a") + col("n_b") - col("n_common")))
      .select(col("id_a"), col("id_b"), col("n_common"),
        (col("n_a") + col("n_b") - col("n_common")).as("n_union"))
  }

  /** All document pairs with exact 3-gram Jaccard ≥ 3/5, via the prefix
    * filter; the oracle brute-forces ground truth through an inverted
    * index (pairs sharing any shingle + exact intersection counts), so a
    * missed or phantom pair hash-mismatches. */
  def q143SetSimilarityJoin(spark: SparkSession, dir: String): DataFrame =
    setSimilarityJoin(Tables.documents(spark, dir), "doc_id", "text",
        tNum = 3, tDen = 5)
      .orderBy("id_a", "id_b")

  /** Composite training-data pipeline: length gate → exact dedup (min-id
    * representative) → per-language corpus stats. Each stage is one of the
    * declared operators; the pipeline is two narrow shuffles end-to-end. */
  def q56CorpusPipeline(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(length(col("text")) >= 200)
      // 128-bit content hash as the dedup key (16-byte shuffle key, not the
      // full document — same rationale as q40)
      .groupBy(xxhash64(col("text")).as("h1"), xxhash64(lit(1), col("text")).as("h2"))
      .agg(min("doc_id").as("keep_id"), min("lang").as("lang"),
        max(length(col("text"))).cast("long").as("len"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("len").as("total_chars"))
      .orderBy("lang")

  /** Training-mix report — the full curation pipeline as ONE declarative
    * plan: exact dedup (128-bit content hash, min-id winner, all columns
    * kept) → quality gate (`quality_score >= 0.5`) → language routing
    * (`lang_id`) → per-language doc/token totals. Two shuffles end-to-end
    * (the dedup window and the final aggregation); the gate and both text
    * kernels run inside one codegen'd projection between them. Every stage
    * is a declared operator elsewhere; the DuckDB oracle recomputes the
    * whole pipeline from first principles via the generated language/quality
    * CTE chain ([[TextAnalysis.langQualitySql]]). */
  def q57TrainingMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("h1", xxhash64(col("text")))
      .withColumn("h2", xxhash64(lit(1), col("text")))
    keepFirstByContent(docs, Seq("h1", "h2"), "doc_id")
      .filter(TextAnalysis.qualityScore(col("text")) >= 0.5)
      .groupBy(TextAnalysis.langId(col("text")).as("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col("text"))).as("n_tokens"),
        min("doc_id").as("min_doc_id"))
      .orderBy("predicted_lang")
  }

  /** Connected components over an undirected `(id_a, id_b)` edge list —
    * the step that turns near-dup PAIRS into dedup CLUSTERS (a, b similar;
    * b, c similar ⇒ {a, b, c} is one duplicate group even if a, c never
    * met a threshold). Hash-min label propagation: every node starts
    * labeled with itself; each round a node adopts the minimum label among
    * itself and its neighbors; fixed point = every node labeled with its
    * component's minimum id. Rounds needed = graph diameter, and near-dup
    * graphs are quasi-cliques of tiny diameter, so the driver loop exits
    * after 2–3 rounds on real data (each round is one join + one min-agg —
    * the standard MapReduce connected-components shape).
    *
    * ONE action per round: the changed-label count rides the round's own
    * checkpoint job as an observed metric (`Dataset.observe` on the
    * aggregated labels, old label recovered from the union's own-label row),
    * instead of a second join+count action re-reading the label tables.
    * Each round's label table is `localCheckpoint`ed — iterative DataFrame
    * algorithms MUST truncate lineage or the logical plan doubles per round
    * and planning itself blows up long before the data does (on a cluster
    * with an unreliable executor set, swap in reliable `checkpoint`) — and
    * the PREVIOUS round's blocks are unpersisted once the new round is
    * materialized, so cached state stays O(1) rounds, not O(all rounds).
    *
    * Ids keep their native type (string/UUID doc ids propagate fine — `min`
    * is defined on any orderable type); only `id_a`/`id_b` must agree.
    * Returns `(id, comp)` for every node that appears in an edge; isolated
    * docs are implicitly their own singleton cluster. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    val sym = edges
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
      .localCheckpoint(true)
    var labels = sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("comp"))
      .localCheckpoint(true)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val neighborLabels = sym
        .join(labels.select(col("id").as("dst"), col("comp").as("cand")), "dst")
        .select(col("src").as("id"), col("cand"), lit(false).as("__own"))
      // each id contributes exactly one __own row (its current label), so
      // min(cand WHERE __own) IS the old label — no second pass needed
      val computed = labels.select(col("id"), col("comp").as("cand"), lit(true).as("__own"))
        .union(neighborLabels)
        .groupBy("id").agg(min("cand").as("comp"),
          min(when(col("__own"), col("cand"))).as("__old"))
        .observe("cc_changed",
          coalesce(sum(when(col("comp") =!= col("__old"), 1L).otherwise(0L)), lit(0L))
            .as("n"))
        .select("id", "comp")
      // the metric lives on computed's plan; the checkpoint call executes
      // that plan, so reading it afterwards costs no extra action
      val next = computed.localCheckpoint(true)
      changed = computed.queryExecution.observedMetrics("cc_changed").getAs[Long]("n")
      // Dataset.unpersist() would be a no-op here — checkpoint blocks live
      // on the underlying RDD, not in the CacheManager (see Checkpoints)
      graft.plans.Checkpoints.free(labels)
      labels = next
      iter += 1
    }
    // un-converged labels are not "approximate", they are WRONG (some node
    // is not yet carrying its component minimum) — fail loudly rather than
    // return them; a graph needing this many rounds has diameter > maxIter
    if (changed > 0) {
      graft.plans.Checkpoints.free(labels)
      graft.plans.Checkpoints.free(sym)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          s"($changed labels still changing); raise maxIter — rounds needed = graph diameter")
    }
    graft.plans.Checkpoints.free(sym)
    labels
  }

  /** Drop every non-representative member of each near-dup cluster: keep a
    * doc unless it appears in a component under a smaller id. Composes with
    * any pair source ([[minhashNearDupPairs]], [[simhashNearDupPairs]],
    * [[graft.operators.Similarity.embeddingNearDupPairs]]). */
  def dedupByPairs(docs: DataFrame, idCol: String, edges: DataFrame): DataFrame = {
    val losers = connectedComponents(edges)
      .filter(col("comp") =!= col("id"))
      .select(col("id").as("__drop_id"))
    docs.join(losers, docs(idCol) === col("__drop_id"), "left_anti")
  }

  /** LEAKAGE-PROOF train/eval/test split: near-duplicate documents (any
    * connected component of `edges`) land in the SAME split, always — the
    * deterministic split draw ([[graft.operators.Sampling.splitByKey]])
    * keys on the component REPRESENTATIVE (min id), not the document, so
    * a near-copy of a training doc can never leak into eval/test. Docs
    * with no near-dup edge split on their own id (identical to the plain
    * split). Same determinism contract as every sampler here: stable
    * under partitioning, reruns, and corpus growth; externally
    * recomputable (the oracle rebuilds clusters AND draws). */
  def clusterAwareSplit(docs: DataFrame, idCol: String, edges: DataFrame,
      fractions: Seq[(String, Double)], seed: Long = 42L): DataFrame = {
    val comps = connectedComponents(edges)
      .select(col("id").as("__cc_id"), col("comp").as("__cc_rep"))
    val withRep = docs.join(comps, docs(idCol) === col("__cc_id"), "left")
      .withColumn("__rep", coalesce(col("__cc_rep"), col(idCol)))
      .drop("__cc_id", "__cc_rep")
    Sampling.splitByKey(withRep, "__rep", fractions, seed).drop("__rep")
  }

  /** Quality-priority representative dedup: where [[dedupByPairs]] keeps a
    * cluster's min-id member, this keeps its BEST member — highest `ordCol`
    * (ties → smallest id, so exact duplicates inside a cluster still break
    * deterministically for any orderable id type). Two comp-keyed
    * aggregations and a comp join, all riding ONE shuffle (each reuses the
    * previous stage's hash partitioning); no per-cluster sort. The cluster
    * state is the edge set's, so the 100 TB posture is
    * [[connectedComponents]]'s. */
  def dedupByPairsBest(docs: DataFrame, idCol: String, ordCol: String,
      edges: DataFrame): DataFrame = {
    val members = connectedComponents(edges)
      .join(docs.select(col(idCol).as("id"), col(ordCol).as("__ord")), "id")
    val best = members.groupBy("comp").agg(max(col("__ord")).as("__best"))
    val winners = members.join(best, "comp")
      .filter(col("__ord") === col("__best"))
      .groupBy("comp").agg(min(col("id")).as("__keep_id"))
    val losers = members.join(winners,
        members("id") === winners("__keep_id"), "left_anti")
      .select(col("id").as("__drop_id"))
    docs.join(losers, docs(idCol) === col("__drop_id"), "left_anti")
  }

  /** Near-dup cluster report: minhash pairs (the q45 edge set, which the
    * q45 oracle proves equals the exact Jaccard ≥ 0.5 pair set) clustered
    * into connected components; one row per cluster with its representative
    * (min id), size, and max member. The DuckDB oracle recomputes the
    * components from first principles with a RECURSIVE transitive closure
    * over the exact pair set — strict hash equality, so the label
    * propagation provably reaches the same fixed point. */
  def q75NearDupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashNearDupPairs(Tables.documents(spark, dir), "doc_id", "text",
      bands = 32)
    connectedComponents(pairs.select("id_a", "id_b"))
      .groupBy("comp")
      .agg(count(lit(1)).as("n_members"), max("id").as("max_id"))
      .select(col("comp").as("cluster_rep"), col("n_members"), col("max_id"))
      .orderBy("cluster_rep")
  }

  /** Asymmetric containment duplicate pairs: pairs where the SMALLER
    * document's distinct k-shingle set is ≥ `tau` contained in the
    * larger's — the quotation/subset class symmetric Jaccard misses (a
    * tweet quoted inside an article has near-zero Jaccard but full
    * containment; Broder's resemblance-vs-containment distinction).
    * Returns `(id_a, id_b, n_common, size_a, size_b, containment)` with
    * containment = |A∩B| / min(|A|,|B|).
    *
    * Same scale machinery as [[substringDupPairs]]: shingles leave rows
    * as two 64-bit hash lanes, the pair space is generated inside
    * df-bounded shingle buckets (shingles in > `maxDf` docs are EXCLUDED
    * with an observed drop metric — boilerplate counts toward neither
    * numerator nor denominator, which is the principled containment for
    * curation), sizes measured post-cap so both engines score the same
    * universe. */
  def containmentDupPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, tau: Double = 0.6, maxDf: Int = 256): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0,1]: $tau")
    val wins = docs.select(col(idCol).as("id"),
      explode(array_distinct(TextAnalysis.wordShingles(col(textCol), k)))
        .as("w"))
      .select(col("id"), xxhash64(col("w")).as("h1"),
        xxhash64(lit(1), col("w")).as("h2"))
    val dfw = org.apache.spark.sql.expressions.Window.partitionBy("h1", "h2")
    val kept = wins.withColumn("__df", count(lit(1)).over(dfw))
      .observe("containment_df_cutoff",
        coalesce(sum(when(col("__df") > maxDf, 1L).otherwise(0L)), lit(0L))
          .as("dropped_rows"),
        coalesce(max(col("__df")).cast("long"), lit(0L)).as("max_window_df"))
      .filter(col("__df") <= maxDf)
      .drop("__df")
      .localCheckpoint(true) // feeds both the size agg and the pair join
    val sizes = kept.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val pairs = kept.groupBy("h1", "h2")
      .agg(sort_array(collect_list(col("id"))).as("__ids"))
      .select(explode(flatten(transform(col("__ids"), (a, i) =>
        transform(slice(col("__ids"), i + lit(2), lit(maxDf)), b =>
          struct(a.as("id_a"), b.as("id_b")))))).as("__p"))
      .groupBy(col("__p.id_a").as("id_a"), col("__p.id_b").as("id_b"))
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(sizes.select(col("id").as("id_a"), col("sz").as("size_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("sz").as("size_b")), "id_b")
      .withColumn("containment", col("n_common").cast("double") /
        least(col("size_a"), col("size_b")).cast("double"))
      .filter(col("containment") >= lit(tau))
      .select("id_a", "id_b", "n_common", "size_a", "size_b", "containment")
  }

  /** Containment ≥ 0.6 duplicate pairs over the documents corpus. Strict
    * hash gate: exact post-cap intersection counts and sizes, one
    * exact-long double division each. */
  def q179ContainmentDups(spark: SparkSession, dir: String): DataFrame =
    containmentDupPairs(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("id_a", "id_b")

  /** Duplicate-cluster size distribution — the corpus-level dedup report:
    * near-dup clusters ([[q75NearDupClusters]]'s components) histogrammed
    * by size, with singletons (docs in NO near-dup pair) reported as the
    * `cluster_size = 1` row so the rows sum to the corpus. The numbers a
    * pipeline monitors per ingest: what fraction of the corpus is
    * duplicated, and whether mass sits in a few huge clusters (template
    * spam) or many pairs. Rides the same pair/CC machinery plus two
    * tiny reductions. */
  def q178DupClusterHistogram(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = minhashNearDupPairs(docs, "doc_id", "text", bands = 32)
    val sizes = connectedComponents(pairs.select("id_a", "id_b"))
      .groupBy("comp").agg(count(lit(1)).as("cluster_size"))
    val hist = sizes.groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
    val single = docs.agg(count(lit(1)).as("__nd"))
      .crossJoin(sizes.agg(coalesce(sum(col("cluster_size")), lit(0L))
        .as("__ni"))) // two 1-row frames
      .select(lit(1L).as("cluster_size"),
        (col("__nd") - col("__ni")).as("n_clusters"))
    hist.union(single)
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .orderBy("cluster_size")
  }

  /** Verbatim-span duplicate detection (the exact-substring complement of
    * Jaccard near-dup — Lee et al. 2021, "Deduplicating Training Data
    * Makes Language Models Better": cross-document COPIED RUNS matter even
    * when whole-document similarity is low). Returns `(id_a, id_b,
    * n_shared_windows)`: the number of DISTINCT `windowLen`-token windows
    * the two docs share verbatim, for every pair sharing at least
    * `minShared`.
    *
    * Shape: per-row distinct window set → 128-bit window hash (two
    * xxhash64 lanes: an 8-byte shuffle key with negligible collision mass,
    * same convention as the exact-dedup content key) → df-bounded bucket
    * join on the window hash → per-pair count. One shuffle for the bucket
    * groupBy, one for the pair count; no all-pairs anywhere. A document
    * shorter than `windowLen` contributes its whole token stream as one
    * window (the [[shingles]] convention, mirrored by the oracle).
    *
    * Windows appearing in more than `maxDf` documents are EXCLUDED, not
    * truncated: formulaic language shared by millions of docs is
    * span-duplication noise, and a truncating cap (keep the smallest ids)
    * would silently distort the per-pair counts — exclusion is part of the
    * operator's exact semantics (the oracle applies the same cutoff), and
    * it bounds every bucket's pair fan-out at C(maxDf, 2) by construction.
    * Excluded volume rides the query as an observed metric. */
  def substringDupPairs(docs: DataFrame, idCol: String, textCol: String,
      windowLen: Int = 8, minShared: Int = 1, maxDf: Int = 256): DataFrame = {
    // single-pass window kernel (the composed tokens->transform chain costs
    // ~2x in this explode-heavy plan); windows leave the row as two 64-bit
    // hash lanes, so strings never cross a shuffle
    val wins = docs.select(col(idCol).as("id"),
      explode(array_distinct(TextAnalysis.wordShingles(col(textCol), windowLen)))
        .as("w"))
      .select(col("id"), xxhash64(col("w")).as("h1"), xxhash64(lit(1), col("w")).as("h2"))
    val dfw = org.apache.spark.sql.expressions.Window.partitionBy("h1", "h2")
    val kept = wins.withColumn("__df", count(lit(1)).over(dfw))
      .observe("substring_window_df_cutoff",
        coalesce(sum(when(col("__df") > maxDf, 1L).otherwise(0L)), lit(0L))
          .as("dropped_rows"),
        coalesce(max(col("__df")).cast("long"), lit(0L)).as("max_window_df"))
      .filter(col("__df") <= maxDf)
      .drop("__df")
    kept.groupBy("h1", "h2")
      .agg(sort_array(collect_list(col("id"))).as("__ids"))
      .select(explode(flatten(transform(col("__ids"), (a, i) =>
        transform(slice(col("__ids"), i + lit(2), lit(maxDf)), b =>
          struct(a.as("id_a"), b.as("id_b")))))).as("__p"))
      .groupBy(col("__p.id_a").as("id_a"), col("__p.id_b").as("id_b"))
      .agg(count(lit(1)).as("n_shared_windows"))
      .filter(col("n_shared_windows") >= minShared)
  }

  /** Train/eval DECONTAMINATION: for every eval doc, the train docs that
    * share verbatim `windowLen`-token spans with it — the check a training
    * pipeline runs before trusting a benchmark number (an eval item whose
    * text appears in the training set is contaminated). Returns one row
    * per eval doc with ≥ 1 contaminating train doc: `(eval_id,
    * n_train_docs, max_shared, total_shared)`.
    *
    * Windows whose TRAIN document frequency exceeds `maxTrainDf` are
    * excluded before the join: formulaic language ("the end of the …")
    * appears in thousands of train docs and is signal-free, and at scale
    * it is also the hot-bucket join bomb. The exclusion is part of the
    * operator's exact semantics (the oracle applies the same cutoff), and
    * the df computation is a window count over the already-shuffled train
    * windows — no collect_list, no unbounded buffer. The shuffle carries
    * only (id, two 64-bit hash lanes); window strings never leave the row. */
  def contaminationReport(train: DataFrame, trainId: String, trainText: String,
      test: DataFrame, testId: String, testText: String,
      windowLen: Int = 8, minShared: Int = 1, maxTrainDf: Int = 256): DataFrame = {
    def wins(df: DataFrame, id: String, text: String, outId: String) =
      df.select(col(id).as(outId),
        explode(array_distinct(TextAnalysis.wordShingles(col(text), windowLen))).as("w"))
        .select(col(outId), xxhash64(col("w")).as("h1"), xxhash64(lit(1), col("w")).as("h2"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("h1", "h2")
    val trainKeep = wins(train, trainId, trainText, "train_id")
      .withColumn("__df", count(lit(1)).over(w))
      .filter(col("__df") <= maxTrainDf)
      .drop("__df")
    val hits = wins(test, testId, testText, "eval_id")
      .join(trainKeep, Seq("h1", "h2"))
      .groupBy("eval_id", "train_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    hits.groupBy("eval_id").agg(
      count(lit(1)).as("n_train_docs"),
      max("n_shared").as("max_shared"),
      sum("n_shared").as("total_shared"))
  }

  /** Decontamination sweep with every 10th doc as the eval set, the rest
    * as train — oracle-gated end to end (window strings intersected in
    * SQL, same train-df cutoff). */
  def q83Contamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    contaminationReport(
      docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
      docs.filter(col("doc_id") % 10 === 0), "doc_id", "text")
      .orderBy("eval_id")
  }

  /** Corpus-wide SPAN-level dedup (the MassiveText/Gopher "remove
    * duplicated paragraphs" pass — Rae et al. 2021 §A1.2): split every doc
    * into delimiter-separated spans, keep each distinct span's FIRST
    * occurrence (smallest `(doc, position)` corpus-wide), drop every later
    * copy, and reassemble documents in original span order. Returns
    * `(id, text, n_spans_kept, n_spans_dropped)`; a doc whose every span
    * was dropped (or that had none) comes back with an empty text.
    *
    * Shape: spans shuffle once on their 128-bit content hash (the window
    * that picks the first occurrence), then once back on doc id for
    * reassembly — the only per-doc state is the doc's own span list, so
    * arbitrarily large corpora survive; only span hashes and the spans a
    * doc keeps cross the wire. Deterministic: "first" is a total order. */
  def spanDedup(docs: DataFrame, idCol: String, textCol: String,
      delimPattern: String = "\\n{2,}", joiner: String = "\n\n"): DataFrame = {
    val spans = docs.select(col(idCol).as("id"),
        posexplode(split(col(textCol), delimPattern)).as(Seq("pos", "span")))
      .filter(trim(col("span")) =!= "")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(xxhash64(col("span")), xxhash64(lit(1), col("span")))
    val marked = spans
      .withColumn("__first", min(struct(col("id"), col("pos"))).over(w))
      .withColumn("__keep",
        col("__first.id") === col("id") && col("__first.pos") === col("pos"))
    val rebuilt = marked.groupBy("id").agg(
      concat_ws(joiner, transform(
        array_sort(collect_list(when(col("__keep"), struct(col("pos"), col("span"))))),
        x => x.getField("span"))).as("text"),
      sum(when(col("__keep"), 1L).otherwise(0L)).as("n_spans_kept"),
      sum(when(col("__keep"), 0L).otherwise(1L)).as("n_spans_dropped"))
    docs.select(col(idCol).as("id")).join(rebuilt, Seq("id"), "left")
      .na.fill(Map("text" -> "", "n_spans_kept" -> 0L, "n_spans_dropped" -> 0L))
      .withColumnRenamed("id", idCol)
  }

  /** Persist an EVAL-WINDOW INDEX for per-batch decontamination: the
    * window hashes of a frozen eval/benchmark set, bucketed on the probe
    * keys (h1, h2) — so every future ingest batch can be checked for
    * contamination ([[contaminationAgainstIndex]]) with the index read
    * bucket-aligned (zero Exchange on the index side) and only the batch
    * itself hashed and shuffled. The same ingestion shape as
    * [[writeMinhashIndex]] (text near-dup) and
    * [[graft.operators.Similarity.ivfAppendBatch]] (ANN): the frozen side
    * is indexed once, per-batch cost is O(batch). Windows above
    * `maxEvalDf` WITHIN the eval set are excluded at build time (same
    * formulaic-window semantics as [[contaminationReport]]). */
  def writeEvalWindowIndex(evalDocs: DataFrame, idCol: String, textCol: String,
      tablePrefix: String, path: String, windowLen: Int = 8,
      maxEvalDf: Int = 256, nBuckets: Int = 32): Unit = {
    val wins = evalDocs.select(col(idCol).as("eval_id"),
      explode(array_distinct(TextAnalysis.wordShingles(col(textCol), windowLen)))
        .as("w"))
      .select(col("eval_id"),
        xxhash64(col("w")).as("h1"), xxhash64(lit(1), col("w")).as("h2"))
    val dfw = org.apache.spark.sql.expressions.Window.partitionBy("h1", "h2")
    wins.withColumn("__df", count(lit(1)).over(dfw))
      .filter(col("__df") <= maxEvalDf)
      .drop("__df")
      .write.option("path", s"$path/${tablePrefix}_evalwins")
      .bucketBy(nBuckets, "h1", "h2")
      .mode("overwrite").saveAsTable(s"${tablePrefix}_evalwins")
  }

  /** Contamination report of ONE ingest batch against a persisted eval
    * index ([[writeEvalWindowIndex]]): `(doc_id, eval_id, n_shared)` for
    * every batch doc sharing ≥ `minShared` verbatim windows with an eval
    * doc. The index reads through its buckets — only the exploded batch
    * shuffles. `windowLen` must match the index build. */
  def contaminationAgainstIndex(spark: SparkSession, batch: DataFrame,
      idCol: String, textCol: String, tablePrefix: String,
      windowLen: Int = 8, minShared: Int = 1): DataFrame = {
    val bw = batch.select(col(idCol).as("doc_id"),
      explode(array_distinct(TextAnalysis.wordShingles(col(textCol), windowLen)))
        .as("w"))
      .select(col("doc_id"),
        xxhash64(col("w")).as("h1"), xxhash64(lit(1), col("w")).as("h2"))
    spark.table(s"${tablePrefix}_evalwins")
      .join(bw, Seq("h1", "h2"))
      .groupBy("doc_id", "eval_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Verbatim 8-token span duplication across the corpus, oracle-gated:
    * DuckDB recomputes every pair's distinct shared-window count from first
    * principles (the window sets are plain strings — no engine hash in the
    * contract), so the hashed bucket path must reproduce the exact answer. */
  def q81SubstringDups(spark: SparkSession, dir: String): DataFrame =
    substringDupPairs(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("id_a", "id_b")

  /** Single-kernel minhash band hashes (shared by [[minhashNearDupPairs]]
    * and the incremental index). */
  private[graft] def minhashBandsCol(text: Column, k: Int, numPerms: Int,
      bands: Int): Column =
    org.apache.spark.sql.graft.GraftBridge.column(
      graft.functions.MinHashBands(
        org.apache.spark.sql.graft.GraftBridge.expression(text), k, numPerms, bands))

  /** Persist a minhash NEAR-DUP INDEX of a corpus, so each future ingest
    * batch dedups against the corpus WITHOUT rescanning it — the 100 TB
    * ingestion shape (the corpus is indexed once; per batch only the batch
    * itself is hashed and shuffled):
    *
    *  - `<prefix>_bands` (id, band, bhash), BUCKETED on the probe keys
    *    (band, bhash): a new batch's candidate join reads the index
    *    bucket-aligned — no Exchange ever touches the index side;
    *  - `<prefix>_shingles` (id, sh), bucketed on id: exact-Jaccard
    *    verification joins candidates back by corpus id, shuffling only
    *    candidate rows.
    *
    * `k`/`numPerms`/`bands` must match between index build and probe (they
    * define the hash family).
    *
    * Catalog note: `saveAsTable` registers the tables in the session
    * catalog; with the default in-memory catalog that registration is
    * session-scoped (the parquet + bucket spec persist on disk, the NAME
    * does not) — production deployments pair this with a persistent
    * metastore, exactly as they would for any bucketed table. */
  def writeMinhashIndex(docs: DataFrame, idCol: String, textCol: String,
      tablePrefix: String, path: String, k: Int = 3, numPerms: Int = 64,
      bands: Int = 16, nBuckets: Int = 32): Unit = {
    docs.select(col(idCol).as("id"),
        posexplode(minhashBandsCol(col(textCol), k, numPerms, bands))
          .as(Seq("band", "bhash")))
      .write.option("path", s"$path/${tablePrefix}_bands")
      .bucketBy(nBuckets, "band", "bhash")
      .mode("overwrite").saveAsTable(s"${tablePrefix}_bands")
    docs.select(col(idCol).as("id"), shingleHashes(col(textCol), k).as("sh"))
      .write.option("path", s"$path/${tablePrefix}_shingles")
      .bucketBy(nBuckets, "id")
      .mode("overwrite").saveAsTable(s"${tablePrefix}_shingles")
  }

  /** Near-dup pairs of a NEW batch against a persisted corpus index
    * ([[writeMinhashIndex]]): returns `(corpus_id, new_id, jaccard)` for
    * every (corpus doc, batch doc) pair at Jaccard ≥ threshold, at the
    * banding recall of the underlying family. The corpus band table is
    * read bucket-aligned (only the exploded batch shuffles); verification
    * pulls exactly the candidate corpus docs' shingle sets. */
  def nearDupAgainstIndex(spark: SparkSession, newDocs: DataFrame,
      idCol: String, textCol: String, tablePrefix: String, k: Int = 3,
      numPerms: Int = 64, bands: Int = 16,
      threshold: Double = 0.5): DataFrame = {
    val newBands = newDocs.select(col(idCol).as("new_id"),
      posexplode(minhashBandsCol(col(textCol), k, numPerms, bands))
        .as(Seq("band", "bhash")))
    val cand = spark.table(s"${tablePrefix}_bands")
      .join(newBands, Seq("band", "bhash"))
      .select(col("id").as("corpus_id"), col("new_id"))
      .distinct()
    val newSh = newDocs.select(col(idCol).as("new_id"),
      shingleHashes(col(textCol), k).as("sh_new"))
    val nc = size(array_intersect(col("sh"), col("sh_new"))).cast("long")
    val nt = size(array_union(col("sh"), col("sh_new"))).cast("long")
    cand
      .join(spark.table(s"${tablePrefix}_shingles")
        .withColumnRenamed("id", "corpus_id"), "corpus_id")
      .join(newSh, "new_id")
      .select(col("corpus_id"), col("new_id"),
        (nc.cast("double") / nt.cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      // duplicated index rows (an at-least-once index append after a replay)
      // multiply join rows, never change the pair set — fold them here
      .dropDuplicates("corpus_id", "new_id")
  }

  /** Curation pipeline v2 — the round-5 operators composed end-to-end the
    * way a training-data pipeline actually runs them: NEAR-DUP cluster
    * dedup (minhash pairs → connected components → min-id representative,
    * [[dedupByPairs]]) → Gopher repetition gate
    * ([[TextAnalysis.q74RepetitionMetrics]]'s `gopher_ok`) → per-source
    * doc/token totals. The oracle recomputes every stage from first
    * principles in one SQL statement (recursive closure + top-bigram
    * fraction + token counts), so the whole composition is hash-gated. */
  def q76CurationV2(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val edges = minhashNearDupPairs(docs, "doc_id", "text", bands = 32)
      .select("id_a", "id_b")
    val kept = dedupByPairs(docs, "doc_id", edges)
    val gate = TextAnalysis.gopherBigramGate(docs, "doc_id", "text")
    kept.join(gate, "doc_id")
      .filter(col("gopher_ok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col("text"))).as("n_tokens"))
      .orderBy("source")
  }

  /** Near-dup cluster dedup keeping each cluster's HIGHEST-quality member
    * (ties → min id). The oracle recomputes the clusters via recursive
    * transitive closure AND the quality scores from first principles, so
    * the kept set — including every argmax decision — is hash-gated. */
  def q92QualityDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val edges = minhashNearDupPairs(docs, "doc_id", "text", bands = 32)
      .select("id_a", "id_b")
    val scored = docs.withColumn("quality",
      TextAnalysis.qualityScore(col("text")))
    dedupByPairsBest(scored, "doc_id", "quality", edges)
      .select("doc_id", "quality")
      .orderBy("doc_id")
  }

  /** Corpus-wide span-level (paragraph) dedup, oracle-gated end to end.
    * The synthetic docs are single-line word soup, so the query first
    * re-paragraphs each doc into aligned 32-token spans (a pure projection
    * — the shape a crawl corpus arrives in already), then runs
    * [[spanDedup]] with its default `\n{2,}` delimiter. The oracle
    * recomputes the spans, the corpus-wide first-occurrence choice AND the
    * verbatim reassembled text in SQL — strict hash gate on the rebuilt
    * documents (31 cross/intra-doc duplicate spans at sf0.01). */
  def q97SpanDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val ts = filter(split(col("text"), "\\s+"), x => x =!= "")
    val nSpans = ceil(size(ts).cast("double") / 32.0).cast("int")
    val paraed = docs.select(col("doc_id"),
      when(size(ts) > 0,
        array_join(transform(sequence(lit(0), nSpans - 1),
          i => array_join(slice(ts, i * 32 + 1, lit(32)), " ")), "\n\n"))
        .otherwise(lit("")).as("text"))
    spanDedup(paraed, "doc_id", "text").orderBy("doc_id")
  }

  /** Leakage-proof split of the corpus: near-dup clusters (minhash pairs →
    * CC) split atomically on their min-id representative. The oracle
    * recomputes the exact pair set, the recursive closure, the
    * representative, AND the md5 split draw — every assignment hash-gated. */
  def q103ClusterSplit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val edges = minhashNearDupPairs(docs, "doc_id", "text", bands = 32)
      .select("id_a", "id_b")
    clusterAwareSplit(docs, "doc_id", edges,
        Seq("train" -> 0.8, "eval" -> 0.1, "test" -> 0.1))
      .select("doc_id", "split")
      .orderBy("doc_id")
  }

  /** Curation pipeline v3 — THIS round's operators composed end-to-end the
    * way a training-data pipeline runs them: re-paragraph → corpus-wide
    * SPAN dedup (drop repeated paragraphs, q97) → corpus-fit LM PERPLEXITY
    * gate on the REBUILT text (drop the most surprising tail, q99) →
    * per-source QUOTA rebalance (q94) → per-source doc/token totals. The
    * oracle recomputes every stage — the span first-occurrence choice, the
    * verbatim reassembly, the LM refit ON THE REBUILT CORPUS, the gate,
    * the re-rated quotas over gated counts, and the md5 membership draw —
    * in one SQL statement: the whole composition is hash-gated. */
  def q104CurationV3(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val ts = filter(split(col("text"), "\\s+"), x => x =!= "")
    val nSpans = ceil(size(ts).cast("double") / 32.0).cast("int")
    val paraed = docs.select(col("doc_id"),
      when(size(ts) > 0,
        array_join(transform(sequence(lit(0), nSpans - 1),
          i => array_join(slice(ts, i * 32 + 1, lit(32)), " ")), "\n\n"))
        .otherwise(lit("")).as("text"))
    // r11: the span-deduped corpus feeds BOTH the perplexity fit/score and
    // the gate join — un-checkpointed, the whole corpus-wide span-dedup
    // (explode + two windows + rebuild) re-ran per consumer (guide §2.4;
    // measured: 6.5 s → 4.3 s warm solo at sf0.1)
    val deduped = spanDedup(paraed, "doc_id", "text")
      .filter(col("n_spans_kept") > 0)
      .select("doc_id", "text")
      .localCheckpoint(true)
    val gated = deduped.join(
      TextAnalysis.lmPerplexity(deduped, "doc_id", "text")
        .filter(col("avg_nll_bits") <= 5.0).select("doc_id"), "doc_id")
    val withSource = gated.join(docs.select("doc_id", "source"), "doc_id")
    val rebal = Sampling.quotaSample(withSource, "source", "doc_id",
      Map("src0" -> 10L, "src1" -> 100L, "src2" -> 5L, "src3" -> 15L))
    rebal.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col("text"))).as("n_tokens"))
      .orderBy("source")
  }

  val declared: Map[String, Query] = Map(
    // every stage refit from first principles in ONE statement: span
    // dedup verbatim reassembly -> LM refit on the REBUILT corpus ->
    // perplexity gate -> quotas re-rated over gated counts -> md5 draw
    "q104_curation_v3" -> Query(q104CurationV3,
      """WITH sp_t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ts
        |  FROM documents),
        |sp_s AS (
        |  SELECT doc_id, CAST(unnest(range(0, len(ts), 32)) AS BIGINT) AS st, ts
        |  FROM sp_t WHERE len(ts) > 0),
        |sp_w AS (
        |  SELECT doc_id, st // 32 AS pos,
        |    array_to_string(list_slice(ts, st + 1, st + 32), ' ') AS span
        |  FROM sp_s),
        |sp_k AS (
        |  SELECT doc_id, pos, span,
        |    ROW_NUMBER() OVER (PARTITION BY span ORDER BY doc_id, pos) = 1 AS keep
        |  FROM sp_w),
        |sp_r AS (
        |  SELECT doc_id,
        |    string_agg(span, e'\n\n' ORDER BY pos) FILTER (WHERE keep) AS text,
        |    COUNT(*) FILTER (WHERE keep) AS n_spans_kept
        |  FROM sp_k GROUP BY doc_id),
        |d0 AS (SELECT doc_id, text FROM sp_r WHERE n_spans_kept > 0),
        |lm_t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ts
        |  FROM d0),
        |lm_d AS (SELECT doc_id, ts FROM lm_t WHERE len(ts) >= 2),
        |lm_bg AS (
        |  SELECT doc_id,
        |    unnest([array_to_string(ts[i:i+1], ' ') FOR i IN range(1, len(ts))]) AS g
        |  FROM lm_d),
        |lm_cb AS (SELECT g, COUNT(*) AS c FROM lm_bg GROUP BY g),
        |lm_c1 AS (SELECT split_part(g, ' ', 1) AS w1, SUM(c) AS c1 FROM lm_cb GROUP BY 1),
        |lm_v AS (SELECT COUNT(DISTINCT u) AS v FROM (SELECT unnest(ts) AS u FROM lm_d)),
        |lm_s AS (
        |  SELECT lm_bg.doc_id, lm_cb.c, lm_c1.c1, lm_v.v
        |  FROM lm_bg JOIN lm_cb USING (g)
        |  JOIN lm_c1 ON split_part(lm_bg.g, ' ', 1) = lm_c1.w1
        |  CROSS JOIN lm_v),
        |lm_score AS (
        |  SELECT doc_id,
        |    CAST(CAST(AVG(-LN((c + 1.0) / (c1 + v)) / LN(2.0))
        |         AS DECIMAL(18,6)) AS DOUBLE) AS bits
        |  FROM lm_s GROUP BY doc_id),
        |gated AS (
        |  SELECT d0.doc_id, d0.text FROM d0
        |  JOIN lm_score USING (doc_id) WHERE bits <= 5.0),
        |src AS (
        |  SELECT g.doc_id, g.text, d.source
        |  FROM gated g JOIN documents d USING (doc_id)),
        |qh AS (SELECT doc_id, substr(md5(doc_id::VARCHAR || ':42'), 1, 16) AS s FROM src),
        |qu AS (
        |  SELECT doc_id,
        |    ((list_sum([ (strpos('0123456789abcdef', s[i]) - 1)::HUGEINT
        |                 * (1::HUGEINT << (4*(16-i)))
        |                 FOR i IN range(1, 17) ]) >> 11))::DOUBLE
        |      / 9007199254740992.0 AS u
        |  FROM qh),
        |qn AS (SELECT source, COUNT(*) AS cnt FROM src GROUP BY source),
        |qr AS (
        |  SELECT source,
        |    CASE WHEN q IS NULL THEN 0.0 ELSE LEAST(1.0, q / cnt::DOUBLE) END AS rate
        |  FROM (SELECT source, cnt,
        |    CASE source WHEN 'src0' THEN 10.0 WHEN 'src1' THEN 100.0
        |                WHEN 'src2' THEN 5.0 WHEN 'src3' THEN 15.0 END AS q
        |  FROM qn)),
        |rebal AS (
        |  SELECT src.source, src.text
        |  FROM src JOIN qu USING (doc_id) JOIN qr USING (source)
        |  WHERE qu.u < qr.rate)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(len(list_filter(regexp_split_to_array(text, '\s+'),
        |    x -> x <> ''))) AS BIGINT) AS n_tokens
        |FROM rebal GROUP BY source ORDER BY source""".stripMargin),
    // exact pair set -> recursive closure -> min-id representative -> the
    // engine's own md5 split draw on the REP: every assignment hash-gated
    "q103_cluster_split" -> Query(q103ClusterSplit,
      """WITH RECURSIVE d0 AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |t AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
        |                             FOR i IN range(1, len(toks) - 1)])
        |    END AS sh
        |  FROM d0),
        |pairs AS (
        |  SELECT x.doc_id AS id_a, y.doc_id AS id_b
        |  FROM t x JOIN t y ON x.doc_id < y.doc_id
        |  WHERE 2 * len(list_intersect(x.sh, y.sh)) >=
        |        len(list_distinct(list_concat(x.sh, y.sh)))),
        |sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |        UNION SELECT id_b, id_a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM sym
        |  UNION
        |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
        |comp AS (
        |  SELECT src AS id, LEAST(src, MIN(dst)) AS comp FROM reach GROUP BY src),
        |rep AS (
        |  SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS rep
        |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
        |h AS (
        |  SELECT doc_id, substr(md5(rep::VARCHAR || ':42'), 1, 16) AS s FROM rep),
        |u AS (
        |  SELECT doc_id,
        |    ((list_sum([ (strpos('0123456789abcdef', s[i]) - 1)::HUGEINT
        |                 * (1::HUGEINT << (4*(16-i)))
        |                 FOR i IN range(1, 17) ]) >> 11))::DOUBLE
        |      / 9007199254740992.0 AS u
        |  FROM h)
        |SELECT doc_id,
        |  CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'eval' ELSE 'test' END AS split
        |FROM u ORDER BY doc_id""".stripMargin),
    // spans, first-occurrence choice, and verbatim reassembly all
    // recomputed from first principles; strict hash gate on rebuilt text
    "q97_span_dedup" -> Query(q97SpanDedup,
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ts
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, CAST(unnest(range(0, len(ts), 32)) AS BIGINT) AS st, ts
        |  FROM t WHERE len(ts) > 0),
        |w AS (
        |  SELECT doc_id, st // 32 AS pos,
        |    array_to_string(list_slice(ts, st + 1, st + 32), ' ') AS span
        |  FROM s),
        |k AS (
        |  SELECT doc_id, pos, span,
        |    ROW_NUMBER() OVER (PARTITION BY span ORDER BY doc_id, pos) = 1 AS keep
        |  FROM w),
        |r AS (
        |  SELECT doc_id,
        |    string_agg(span, e'\n\n' ORDER BY pos) FILTER (WHERE keep) AS text,
        |    COUNT(*) FILTER (WHERE keep) AS n_spans_kept,
        |    COUNT(*) FILTER (WHERE NOT keep) AS n_spans_dropped
        |  FROM k GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(r.text, '') AS text,
        |  COALESCE(r.n_spans_kept, 0) AS n_spans_kept,
        |  COALESCE(r.n_spans_dropped, 0) AS n_spans_dropped
        |FROM documents d LEFT JOIN r USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),
    // clusters via recursive closure over the exact jaccard pair set;
    // quality recomputed from first principles; winner = (quality DESC,
    // id ASC) per cluster — the full argmax decision is hash-gated
    "q92_quality_dedup" -> Query(q92QualityDedup,
      """WITH RECURSIVE d0 AS (
        |  SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |q AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN 0.0
        |         ELSE (len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE)
        |               + LENGTH(regexp_replace(text, '[^\p{L}]', '', 'g'))
        |                 / CAST(LENGTH(text) AS DOUBLE)) / 2
        |    END AS quality
        |  FROM d0),
        |t AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
        |                             FOR i IN range(1, len(toks) - 1)])
        |    END AS sh
        |  FROM d0),
        |pairs AS (
        |  SELECT x.doc_id AS id_a, y.doc_id AS id_b
        |  FROM t x JOIN t y ON x.doc_id < y.doc_id
        |  WHERE 2 * len(list_intersect(x.sh, y.sh)) >=
        |        len(list_distinct(list_concat(x.sh, y.sh)))),
        |sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |        UNION SELECT id_b, id_a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM sym
        |  UNION
        |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
        |comp AS (
        |  SELECT src AS id, LEAST(src, MIN(dst)) AS comp FROM reach GROUP BY src),
        |winners AS (
        |  SELECT id FROM (
        |    SELECT c.id, ROW_NUMBER() OVER (PARTITION BY c.comp
        |        ORDER BY mq.quality DESC, c.id ASC) AS rn
        |    FROM comp c JOIN q mq ON mq.doc_id = c.id)
        |  WHERE rn = 1),
        |kept AS (
        |  SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT id FROM comp)
        |  UNION ALL
        |  SELECT id FROM winners)
        |SELECT k.doc_id, q.quality FROM kept k JOIN q ON q.doc_id = k.doc_id
        |ORDER BY k.doc_id""".stripMargin),
    // distinct shared 8-token windows per pair, from plain window STRINGS
    // (no engine hash in the contract), with the same df <= 256 cutoff
    "q81_substring_dups" -> Query(q81SubstringDups,
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ts) < 8 THEN [array_to_string(ts, ' ')]
        |         ELSE list_distinct([array_to_string(ts[i:i+7], ' ')
        |                             FOR i IN range(1, len(ts) - 6)])
        |    END AS ws
        |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ts
        |        FROM documents)),
        |wn AS (SELECT doc_id, unnest(ws) AS w FROM t),
        |dfc AS (SELECT w, COUNT(*) AS df FROM wn GROUP BY w),
        |keep AS (SELECT wn.doc_id, wn.w FROM wn JOIN dfc USING (w) WHERE dfc.df <= 256)
        |SELECT x.doc_id AS id_a, y.doc_id AS id_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_shared_windows
        |FROM keep x JOIN keep y ON x.w = y.w AND x.doc_id < y.doc_id
        |GROUP BY x.doc_id, y.doc_id
        |ORDER BY id_a, id_b""".stripMargin),
    // same window definition and train-df cutoff as the engine; plain
    // window strings, so the hashed join must reproduce the exact report
    "q83_contamination" -> Query(q83Contamination,
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ts) < 8 THEN [array_to_string(ts, ' ')]
        |         ELSE list_distinct([array_to_string(ts[i:i+7], ' ')
        |                             FOR i IN range(1, len(ts) - 6)])
        |    END AS ws
        |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ts
        |        FROM documents)),
        |trw AS (SELECT doc_id AS train_id, unnest(ws) AS w FROM d WHERE doc_id % 10 <> 0),
        |dfc AS (SELECT w, COUNT(*) AS df FROM trw GROUP BY w),
        |keep AS (SELECT trw.train_id, trw.w FROM trw JOIN dfc USING (w) WHERE dfc.df <= 256),
        |tew AS (SELECT doc_id AS eval_id, unnest(ws) AS w FROM d WHERE doc_id % 10 = 0),
        |hits AS (
        |  SELECT eval_id, train_id, COUNT(*) AS n_shared
        |  FROM tew JOIN keep USING (w) GROUP BY eval_id, train_id
        |  HAVING COUNT(*) >= 1)
        |SELECT eval_id, CAST(COUNT(*) AS BIGINT) AS n_train_docs,
        |  CAST(MAX(n_shared) AS BIGINT) AS max_shared,
        |  CAST(SUM(n_shared) AS BIGINT) AS total_shared
        |FROM hits GROUP BY eval_id ORDER BY eval_id""".stripMargin),
    "q56_corpus_pipeline" -> Query(q56CorpusPipeline,
      """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(len) AS BIGINT) AS total_chars FROM (
        |  SELECT MIN(doc_id) AS keep_id, MIN(lang) AS lang,
        |    CAST(MAX(LENGTH(text)) AS BIGINT) AS len
        |  FROM documents WHERE LENGTH(text) >= 200 GROUP BY text) t
        |GROUP BY lang ORDER BY lang""".stripMargin),
    "q57_training_mix" -> Query(q57TrainingMix,
      s"""WITH d AS (
         |  SELECT doc_id, text FROM documents
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) = 1),
         |${TextAnalysis.langQualitySql("d", "doc_id")}
         |SELECT predicted_lang, COUNT(*) AS n_docs,
         |  CAST(SUM(len(toks)) AS BIGINT) AS n_tokens,
         |  MIN(doc_id) AS min_doc_id
         |FROM q WHERE quality >= 0.5
         |GROUP BY predicted_lang ORDER BY predicted_lang""".stripMargin),
    "q40_dedup_exact" -> Query(q40DedupExact,
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies FROM documents
        |GROUP BY text ORDER BY keep_id""".stripMargin),
    // exact all-pairs ground truth at oracle scale: every pair whose distinct
    // 3-shingle Jaccard >= 0.5 (integer form: 2·|∩| >= |∪|), which the LSH
    // path must reproduce exactly (see q45MinhashPairs recall math)
    // every pipeline stage recomputed from first principles in ONE
    // statement: exact pair set -> recursive closure -> non-representative
    // drop -> top-bigram char fraction gate -> per-source totals
    "q76_curation_v2" -> Query(q76CurationV2,
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, source, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ts
        |  FROM documents),
        |t AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
        |         ELSE list_distinct([array_to_string(ts[i:i+2], ' ')
        |                             FOR i IN range(1, len(ts) - 1)])
        |    END AS sh
        |  FROM toks),
        |pairs AS (
        |  SELECT x.doc_id AS id_a, y.doc_id AS id_b
        |  FROM t x JOIN t y ON x.doc_id < y.doc_id
        |  WHERE 2 * len(list_intersect(x.sh, y.sh)) >=
        |        len(list_distinct(list_concat(x.sh, y.sh)))),
        |sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |        UNION SELECT id_b, id_a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM sym
        |  UNION
        |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
        |comp AS (SELECT src AS id, LEAST(src, MIN(dst)) AS comp FROM reach GROUP BY src),
        |losers AS (SELECT id FROM comp WHERE comp <> id),
        |tok AS (SELECT doc_id, unnest(ts) AS tk FROM toks),
        |tc AS (SELECT doc_id, tk, COUNT(*) AS c FROM tok GROUP BY doc_id, tk),
        |chars AS (SELECT doc_id, CAST(SUM(c * len(tk)) AS BIGINT) AS n_token_chars
        |          FROM tc GROUP BY doc_id),
        |bg AS (SELECT doc_id, unnest([array_to_string(ts[i:i+1], ' ') FOR i IN range(1, len(ts))]) AS g
        |       FROM toks WHERE len(ts) >= 2
        |       UNION ALL
        |       SELECT doc_id, array_to_string(ts, ' ') AS g FROM toks WHERE len(ts) < 2),
        |bc AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY doc_id, g),
        |top2 AS (SELECT doc_id, g, c FROM (
        |  SELECT doc_id, g, c,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rn FROM bc)
        |  WHERE rn = 1),
        |ok AS (SELECT t2.doc_id FROM top2 t2 JOIN chars ch USING (doc_id)
        |       WHERE CAST(t2.c * (len(t2.g) - 1) AS DOUBLE) /
        |             CAST(ch.n_token_chars AS DOUBLE) <= 0.2)
        |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(len(d.ts)) AS BIGINT) AS n_tokens
        |FROM toks d
        |JOIN ok ON d.doc_id = ok.doc_id
        |WHERE d.doc_id NOT IN (SELECT id FROM losers)
        |GROUP BY d.source ORDER BY d.source""".stripMargin),
    // the same exact pair set as the q45 oracle, then a RECURSIVE
    // transitive closure: comp(n) = min over n's reachability set — the
    // fixed point hash-min label propagation converges to
    "q179_containment_dups" -> Query(q179ContainmentDups,
      ("""WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
        |         ELSE list_distinct([array_to_string(ts[i:i+2], ' ')
        |                             FOR i IN range(1, len(ts) - 1)])
        |    END AS ws
        |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '"""+"\\"+"""s+'), x -> x <> '') AS ts
        |        FROM documents)),
        |wn AS (SELECT doc_id, unnest(ws) AS w FROM t),
        |dfc AS (SELECT w, COUNT(*) AS df FROM wn GROUP BY w),
        |keep AS (SELECT wn.doc_id, wn.w FROM wn JOIN dfc USING (w)
        |         WHERE dfc.df <= 256),
        |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
        |       FROM keep GROUP BY doc_id),
        |pc AS (
        |  SELECT x.doc_id AS id_a, y.doc_id AS id_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_common
        |  FROM keep x JOIN keep y ON x.w = y.w AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, n_common, sa.sz AS size_a, sb.sz AS size_b,
        |  CAST(n_common AS DOUBLE) / CAST(LEAST(sa.sz, sb.sz) AS DOUBLE)
        |    AS containment
        |FROM pc JOIN sz sa ON sa.doc_id = pc.id_a
        |  JOIN sz sb ON sb.doc_id = pc.id_b
        |WHERE CAST(n_common AS DOUBLE) / CAST(LEAST(sa.sz, sb.sz) AS DOUBLE)
        |  >= 0.6
        |ORDER BY id_a, id_b""").stripMargin),
    "q178_dup_cluster_histogram" -> Query(q178DupClusterHistogram,
      """WITH RECURSIVE t AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
        |                             FOR i IN range(1, len(toks) - 1)])
        |    END AS sh
        |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |        FROM documents)),
        |pairs AS (
        |  SELECT x.doc_id AS id_a, y.doc_id AS id_b
        |  FROM t x JOIN t y ON x.doc_id < y.doc_id
        |  WHERE 2 * len(list_intersect(x.sh, y.sh)) >=
        |        len(list_distinct(list_concat(x.sh, y.sh)))),
        |sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |        UNION SELECT id_b, id_a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM sym
        |  UNION
        |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
        |comp AS (
        |  SELECT src AS id, LEAST(src, MIN(dst)) AS comp FROM reach GROUP BY src),
        |cl AS (
        |  SELECT comp, CAST(COUNT(*) AS BIGINT) AS cluster_size
        |  FROM comp GROUP BY comp),
        |hist AS (
        |  SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
        |  FROM cl GROUP BY cluster_size),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
        |cd AS (SELECT COALESCE(CAST(SUM(cluster_size) AS BIGINT), 0) AS ni
        |       FROM cl)
        |SELECT cluster_size, n_clusters, cluster_size * n_clusters AS n_docs
        |FROM (SELECT * FROM hist UNION ALL
        |      SELECT 1, nd - ni FROM tot CROSS JOIN cd)
        |ORDER BY cluster_size""".stripMargin),
    "q75_near_dup_clusters" -> Query(q75NearDupClusters,
      """WITH RECURSIVE t AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
        |                             FOR i IN range(1, len(toks) - 1)])
        |    END AS sh
        |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |        FROM documents)),
        |pairs AS (
        |  SELECT x.doc_id AS id_a, y.doc_id AS id_b
        |  FROM t x JOIN t y ON x.doc_id < y.doc_id
        |  WHERE 2 * len(list_intersect(x.sh, y.sh)) >=
        |        len(list_distinct(list_concat(x.sh, y.sh)))),
        |sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |        UNION SELECT id_b, id_a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM sym
        |  UNION
        |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
        |comp AS (
        |  SELECT src AS id, LEAST(src, MIN(dst)) AS comp FROM reach GROUP BY src)
        |SELECT CAST(comp AS BIGINT) AS cluster_rep,
        |  CAST(COUNT(*) AS BIGINT) AS n_members,
        |  CAST(MAX(id) AS BIGINT) AS max_id
        |FROM comp GROUP BY comp ORDER BY cluster_rep""".stripMargin),
    "q357_dedup_sweep" -> Query(q357DedupSweep,
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
        |                             FOR i IN range(1, len(toks) - 1)])
        |    END AS sh
        |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |        FROM documents)),
        |p AS (
        |  SELECT x.doc_id AS id_a, y.doc_id AS id_b,
        |    len(list_intersect(x.sh, y.sh)) AS nc,
        |    len(list_distinct(list_concat(x.sh, y.sh))) AS nt
        |  FROM t x JOIN t y ON x.doc_id < y.doc_id),
        |p2 AS (SELECT * FROM p WHERE 2 * nc >= nt),
        |th AS (SELECT CAST(UNNEST([50, 60, 70, 80, 90]) AS BIGINT)
        |  AS threshold_pct),
        |j AS (
        |  SELECT th.threshold_pct, p2.id_a, p2.id_b
        |  FROM p2 JOIN th ON p2.nc * 100 >= th.threshold_pct * p2.nt),
        |np AS (SELECT threshold_pct, CAST(COUNT(*) AS BIGINT) AS n_pairs
        |  FROM j GROUP BY 1),
        |nd AS (
        |  SELECT threshold_pct, CAST(COUNT(*) AS BIGINT)
        |    AS n_docs_in_pairs
        |  FROM (SELECT DISTINCT threshold_pct, d FROM (
        |    SELECT threshold_pct, UNNEST([id_a, id_b]) AS d FROM j) u) v
        |  GROUP BY 1)
        |SELECT th.threshold_pct, COALESCE(np.n_pairs, 0) AS n_pairs,
        |  COALESCE(nd.n_docs_in_pairs, 0) AS n_docs_in_pairs
        |FROM th LEFT JOIN np USING (threshold_pct)
        |LEFT JOIN nd USING (threshold_pct)
        |ORDER BY threshold_pct""".stripMargin),
    "q345_incremental_dedup" -> Query(q345IncrementalDedup,
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
        |                             FOR i IN range(1, len(toks) - 1)])
        |    END AS sh
        |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |        FROM documents)),
        |b AS (SELECT * FROM t WHERE doc_id % 10 = 7),
        |c AS (SELECT * FROM t WHERE doc_id % 10 <> 7),
        |m AS (
        |  SELECT b.doc_id AS id_new, c.doc_id AS id_prior
        |  FROM b JOIN c ON 2 * len(list_intersect(b.sh, c.sh))
        |    >= len(list_distinct(list_concat(b.sh, c.sh))))
        |SELECT b.doc_id,
        |  CAST(COUNT(m.id_prior) AS BIGINT) AS n_dups,
        |  MIN(m.id_prior) AS dup_of,
        |  CAST(CASE WHEN COUNT(m.id_prior) = 0 THEN 1 ELSE 0 END
        |    AS BIGINT) AS is_kept
        |FROM b LEFT JOIN m ON m.id_new = b.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    "q45_minhash_pairs" -> Query(q45MinhashPairs,
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
        |                             FOR i IN range(1, len(toks) - 1)])
        |    END AS sh
        |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |        FROM documents))
        |SELECT id_a, id_b, n_common, n_total FROM (
        |  SELECT x.doc_id AS id_a, y.doc_id AS id_b,
        |    len(list_intersect(x.sh, y.sh)) AS n_common,
        |    len(list_distinct(list_concat(x.sh, y.sh))) AS n_total
        |  FROM t x JOIN t y ON x.doc_id < y.doc_id) p
        |WHERE 2 * n_common >= n_total
        |ORDER BY id_a, id_b""".stripMargin),
    // recomputes the engine's simhash fingerprints from first principles:
    // token hash = first 8 bytes of md5 (hex-parsed to an unsigned 64-bit,
    // then reinterpreted signed to match Spark's LongType), ±1 votes per bit
    // over the token MULTISET (unnest keeps duplicates), fingerprint bit =
    // sign of the vote sum, then exact all-pairs popcount ≤ 3
    "q46_simhash_pairs" -> Query(q46SimhashPairs,
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS t
        |  FROM documents WHERE text IS NOT NULL),
        |th AS (
        |  SELECT doc_id,
        |    list_sum([ (strpos('0123456789abcdef', s[i]) - 1)::HUGEINT * (1::HUGEINT << (4*(16-i)))
        |               FOR i IN range(1, 17) ]) AS hu
        |  FROM (SELECT doc_id, substr(md5(t), 1, 16) AS s FROM toks)),
        |votes AS (
        |  SELECT doc_id, b, SUM(CASE WHEN (hu >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM th, range(64) r(b) GROUP BY doc_id, b),
        |sh0 AS (
        |  SELECT doc_id, SUM(CASE WHEN v > 0 THEN (1::HUGEINT << b) ELSE 0::HUGEINT END) AS shu
        |  FROM votes GROUP BY doc_id),
        |sh AS (
        |  SELECT d.doc_id,
        |    COALESCE((CASE WHEN shu >= (1::HUGEINT << 63) THEN shu - (1::HUGEINT << 64)
        |              ELSE shu END)::BIGINT, 0) AS sim
        |  FROM documents d LEFT JOIN sh0 USING (doc_id) WHERE d.text IS NOT NULL)
        |SELECT x.doc_id AS id_a, y.doc_id AS id_b,
        |  bit_count(xor(x.sim, y.sim))::BIGINT AS hamming
        |FROM sh x JOIN sh y ON x.doc_id < y.doc_id
        |WHERE bit_count(xor(x.sim, y.sim)) <= 3
        |ORDER BY id_a, id_b""".stripMargin),
    // ground truth by brute force through the inverted index: every pair
    // sharing ANY shingle gets an exact intersection count, thresholded
    // with the same integer-rational compare as the engine
    "q143_set_similarity_join" -> Query(q143SetSimilarityJoin,
      """WITH t AS (
        |  SELECT doc_id, unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
        |    FOR i IN range(1, len(toks) - 1)])) AS sh
        |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'),
        |          x -> x <> '') AS toks
        |        FROM documents)),
        |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
        |          FROM t GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_common
        |  FROM t a JOIN t b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, n_common,
        |  sa.n + sb.n - n_common AS n_union
        |FROM pairs JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |WHERE n_common * 5 >= 3 * (sa.n + sb.n - n_common)
        |ORDER BY id_a, id_b""".stripMargin),
    "q47_ngram_jaccard_sample" -> Query(q47NgramJaccardSample,
      """WITH t AS (
        |  SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
        |    FOR i IN range(1, len(toks) - 1)]) AS sh
        |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |        FROM documents WHERE doc_id < 20))
        |SELECT x.doc_id AS id_a, y.doc_id AS id_b,
        |  len(list_intersect(x.sh, y.sh)) AS n_common,
        |  len(list_distinct(list_concat(x.sh, y.sh))) AS n_total
        |FROM t x JOIN t y ON x.doc_id < y.doc_id
        |ORDER BY id_a, id_b""".stripMargin))
}
