package graft.operators

import graft.sources.Tables

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Similarity search over embedding columns (`ARRAY<FLOAT>`).
  *
  * Two paths, as a production pipeline would have:
  *  - brute-force cosine top-k — the exact baseline; O(n) per query,
  *    embarrassingly parallel, the right answer for one-off queries or
  *    re-ranking;
  *  - hyperplane-LSH bucketed ANN — the scale path: each vector gets a
  *    `nBits`-bit signature from deterministic pseudo-random hyperplanes;
  *    same-bucket vectors are candidates, exact cosine re-ranks them. At
  *    100 TB candidates come from a bucket join on the signature (a hash
  *    shuffle), never an all-pairs product. Multi-probe = multiple
  *    independent tables (`nTables`) unioned.
  *
  * Every top-k here is `orderBy(...).limit(k)` — planned as
  * TakeOrderedAndProject: per-partition top-k, then a k·partitions merge.
  * A `row_number()` over an un-partitioned window would instead move the
  * whole scored corpus (vectors included) to ONE partition — correct at
  * test scale, dead at 100×.
  *
  * Embedding cosine near-dup (pairs above a threshold) reuses the LSH
  * buckets: the same candidate-then-verify shape as MinHash dedup, with the
  * same hot-bucket cap ([[Buckets.cap]]).
  */
object Similarity {

  /** Dot product of two float-array columns, accumulated in double —
    * higher-order-function form, kept for reference/one-off use; hot paths
    * use [[cosine]] (a tight-loop Catalyst expression: the HOF form is
    * interpreted per element and ~100× slower at 64 dims). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.GraftBridge.column(
      graft.functions.CosineSimilarity(
        org.apache.spark.sql.graft.GraftBridge.expression(a),
        org.apache.spark.sql.graft.GraftBridge.expression(b)))

  /** `nBits`-bit LSH signature of an embedding for one hash table — a single
    * compact Catalyst expression ([[graft.functions.HyperplaneLsh]]); the
    * composed element_at/multiply form was a ~4000-node tree whose codegen
    * compilation dominated small queries. */
  def lshSignature(emb: Column, dim: Int, nBits: Int, table: Int): Column =
    org.apache.spark.sql.graft.GraftBridge.column(
      graft.functions.HyperplaneLsh(
        org.apache.spark.sql.graft.GraftBridge.expression(emb), dim, nBits, table))

  /** Signature width that targets `targetBucketSize` expected members per
    * bucket: buckets ≈ n / target, so bits ≈ log2(n / target). Clamped to
    * [4, 20] — 4 matches the small-fixture regime, 2^20 buckets is plenty
    * before table count, not bucket count, is the right knob. */
  def autoNBits(n: Long, targetBucketSize: Int = 64): Int = {
    val want = math.ceil(math.log(math.max(1.0, n.toDouble / targetBucketSize)) /
      math.log(2.0)).toInt
    math.max(4, math.min(20, want))
  }

  /** Rank the top `k` of a scored relation: `orderBy + limit` (per-partition
    * top-k, no global shuffle), then `row_number` over the k survivors only.
    * The post-limit window partitions on a constant: all k rows meet in one
    * task by construction — which is fine, because k rows is the whole
    * input — and no un-partitioned global window ever touches the corpus. */
  private[graft] def topKRanked(scored: DataFrame, k: Int): DataFrame = {
    val topk = scored.select(col("id"), col("sim"))
      .orderBy(desc("sim"), col("id")).limit(k)
    // constant-but-not-foldable partition key: a literal would be constant-
    // folded away, leaving an empty partition spec — i.e. the global-window
    // plan this function exists to avoid
    val w = Window.partitionBy(pmod(xxhash64(col("id")), lit(1)))
      .orderBy(desc("sim"), col("id"))
    topk.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("id"), col("rank"))
  }

  /** Exact brute-force cosine top-k neighbors of one query vector. */
  def bruteForceTopK(emb: DataFrame, idCol: String, embCol: String,
      queryId: Long, k: Int): DataFrame = {
    val q = emb.filter(col(idCol) === queryId)
      .select(col(embCol).as("qv"))
    val scored = emb.select(col(idCol).as("id"), col(embCol).as("v"))
      .join(broadcast(q))
      .withColumn("sim", cosine(col("v"), col("qv")))
    topKRanked(scored, k)
  }

  /** All `nTables` signatures in ONE projection + posexplode: a per-table
    * unionAll would rescan the source and re-plan nTables times. */
  private def withSignatures(base: DataFrame, dim: Int, nBits: Int,
      nTables: Int): DataFrame =
    base.select(col("id"), col("v"),
      posexplode(array((0 until nTables).map(t =>
        lshSignature(col("v"), dim, nBits, t)): _*)).as(Seq("tbl", "sig")))

  /** ANN top-k: LSH-bucket candidates (multi-table, MULTI-PROBE), exact
    * re-rank. Multi-probe: besides the query's own bucket, every bucket at
    * Hamming distance 1 from the query signature is probed in each table —
    * (1 + nBits) · nTables probe buckets. For weakly-similar neighbors
    * (cos ≈ 0.5, the regime of the synthetic embeddings) this lifts
    * per-neighbor candidate recall from ~0.5 to ~0.97 at the default
    * parameters, at the cost of ~(1+nBits)× more candidates — still a
    * bucket join keyed on (table, signature), never a scan. */
  def annTopK(emb: DataFrame, idCol: String, embCol: String, dim: Int,
      queryId: Long, k: Int, nBits: Int = 6, nTables: Int = 8): DataFrame = {
    val base = emb.select(col(idCol).as("id"), col(embCol).as("v"))
    val sigs = withSignatures(base, dim, nBits, nTables)
    val qsig = sigs.filter(col("id") === queryId)
      .select(col("tbl").as("qtbl"), col("sig").as("qsig"), col("v").as("qv"))
    val probes = qsig.select(col("qtbl"),
      explode(array((-1 until nBits).map(b =>
        if (b < 0) col("qsig")
        else col("qsig").bitwiseXOR(lit(1L << b))): _*)).as("psig"),
      col("qv"))
    val cand = sigs.join(broadcast(probes),
        col("tbl") === col("qtbl") && col("sig") === col("psig"))
      .select(col("id"), col("v"), col("qv")).distinct()
    val scored = cand.withColumn("sim", cosine(col("v"), col("qv")))
    topKRanked(scored, k)
  }

  private def cosLocal(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def rowToVec(r: Row, i: Int): Array[Double] =
    r.getSeq[Any](i).map(_.asInstanceOf[Number].doubleValue()).toArray

  /** IVF (inverted-file) ANN — the other standard scale path besides LSH.
    *
    * Build: the coarse quantizer is TRAINED ON A BOUNDED SAMPLE — the
    * `trainSample` vectors with smallest `xxhash64(id)` (a deterministic
    * hash-ordered reservoir, computed as one TakeOrdered pass) — so the
    * Lloyd iterations cost O(trainSample · nCentroids · iters) regardless
    * of corpus size. The trained centroids (nCentroids × dim doubles —
    * model parameters, not data) are materialized to the driver, exactly
    * like any ML trainer's fit/transform boundary.
    *
    * Assign: one map-only pass over the full corpus — per-row argmax
    * against the centroid literals, no join, no shuffle. At 100 TB the
    * assignment output is written partitioned by `cid` — the inverted
    * lists — which is exactly what [[ivfBuildIndex]] persists.
    *
    * Query: the `nProbe` nearest centroids are picked driver-side (a loop
    * over nCentroids model rows), candidates come from `cid IN probes` —
    * against the persisted index ([[ivfQueryTopK]]) that filter is
    * partition-PRUNED at file-listing time, reading ~nProbe/nCentroids of
    * the data — and exact cosine re-ranks via TakeOrderedAndProject. */
  /** Sample-bounded Lloyd training (see [[ivfTopK]] doc): returns the
    * centroid model — nCentroids × dim doubles, legitimately driver-sized. */
  private def ivfTrain(base: DataFrame, nCentroids: Int, iters: Int,
      trainSample: Int): Array[(Long, Array[Double])] = {
    val train = base.withColumn("__h", xxhash64(col("id")))
      .orderBy("__h").limit(math.max(trainSample, nCentroids))
      .select("id", "v")
      .persist()
    // seeds: the nCentroids smallest-hash vectors (a prefix of the sample)
    var model: Array[(Long, Array[Double])] = train
      .withColumn("__h", xxhash64(col("id")))
      .orderBy("__h").limit(nCentroids)
      .select(monotonically_increasing_id().as("cid"),
        col("v").cast("array<double>").as("cv"))
      .collect().map(r => (r.getLong(0), rowToVec(r, 1)))
    // r12 (guide §1.2 — flatten iterative plans): the model is collected to
    // the driver EVERY round (nCentroids × dim doubles — parameters, not
    // data) and fed back as literals, so each Lloyd step is one flat
    // sample-sized job: map-only argmax against the centroid literals
    // ([[ivfAssignCol]] — same max-sim/min-cid rule the old per-row
    // broadcast-join + row_number window implemented), then the (cid, dim)
    // cell average. The old lazy loop nested each round's plan inside the
    // next round's broadcast — 3 rounds deep, a window shuffle and a
    // broadcast-build job per round — and was the bulk of q158/q53's
    // plan-build time (q158: 13.2 s cold / 5.3–6.6 s warm, execute 0.4 s).
    for (_ <- 1 to iters) {
      model = train
        .withColumn("cid", ivfAssignCol(model))
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cid", "pos").agg(avg("x").as("mx"))
        .groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mx")))),
          s => s.getField("mx")).as("cv"))
        .collect().map(r => (r.getLong(0), rowToVec(r, 1)))
    }
    train.unpersist()
    model
  }

  /** Map-only per-row argmax against the centroid literals:
    * struct(sim, -cid) + greatest = (max sim, ties to min cid), no shuffle. */
  private def ivfAssignCol(model: Array[(Long, Array[Double])]): Column = {
    val assignStructs = model.map { case (cid, cv) =>
      struct(cosine(col("v"), typedLit(cv)).as("sim"), lit(-cid).as("negcid"))
    }
    val bestNegCid =
      if (assignStructs.length == 1) assignStructs(0).getField("negcid")
      else greatest(assignStructs.toIndexedSeq: _*).getField("negcid")
    -bestNegCid
  }

  /** The `n` nearest centroids per ROW as an array<long>, map-only like
    * [[ivfAssignCol]]: per-row array of (sim, -cid) structs, sorted, top n
    * (ties to the lower cid — the same rule as the argmax). */
  private def ivfAssignTopNCol(model: Array[(Long, Array[Double])],
      n: Int): Column = {
    val structs = model.map { case (cid, cv) =>
      struct(cosine(col("v"), typedLit(cv)).as("s"), lit(-cid).as("negcid"))
    }
    transform(slice(reverse(array_sort(array(structs.toIndexedSeq: _*))),
      1, n), s => -s.getField("negcid"))
  }

  /** The `nProbe` centroids nearest a query vector, by descending cosine
    * (ties to the lower cid) — a loop over the driver-side model rows. */
  private def probeFor(model: Array[(Long, Array[Double])],
      qv: Array[Double], nProbe: Int): Seq[Long] =
    model.map { case (cid, cv) => (cosLocal(cv, qv), cid) }
      .sortBy { case (s, cid) => (-s, cid) }
      .take(nProbe).map(_._2).toSeq

  /** One-shot IVF ANN top-k: trains the quantizer INLINE on every call —
    * right for exploration, wrong for repeated queries (Lloyd re-runs each
    * time). Repeated-query and production users should build the index
    * once with [[ivfBuildIndex]] (+ [[ivfAppendBatch]] for ingest) and
    * query it with [[ivfQueryTopK]], which probes a partition-pruned
    * persisted store and never retrains. */
  def ivfTopK(emb: DataFrame, idCol: String, embCol: String,
      queryId: Long, k: Int, nCentroids: Int = 16, nProbe: Int = 4,
      iters: Int = 2, trainSample: Int = 4096): DataFrame = {
    val spark = emb.sparkSession
    val base = emb.select(col(idCol).as("id"), col(embCol).as("v"))

    def emptyResult: DataFrame =
      spark.createDataFrame(new java.util.ArrayList[Row](),
        StructType(Seq(StructField("id", base.schema("id").dataType),
          StructField("rank", LongType))))

    val qRows = base.filter(col("id") === queryId).select("v").limit(1).collect()
    if (qRows.isEmpty) return emptyResult
    val qv = rowToVec(qRows(0), 0)

    val model = ivfTrain(base, nCentroids, iters, trainSample)
    if (model.isEmpty) return emptyResult

    val assigned = base.withColumn("cid", ivfAssignCol(model))
    val probeCids = probeFor(model, qv, nProbe)
    val scored = assigned.filter(col("cid").isin(probeCids: _*))
      .withColumn("sim", cosine(col("v"), typedLit(qv)))
    topKRanked(scored, k)
  }

  /** Persist an IVF index: the centroid model at `path/centroids` and the
    * assignments — the INVERTED LISTS — at `path/lists`, written
    * `partitionBy("batch_id", "cid")`. This is what turns [[ivfTopK]]'s scan-fraction
    * claim into a demonstrated plan property: a probe against the persisted
    * index reads only the `nProbe` probed `cid=` partitions
    * (PartitionFilters prune the rest at file-listing time, ~nProbe/
    * nCentroids of the data), which IvfIndexSpec asserts from the files
    * actually read. Build cost is one training pass over a bounded sample
    * plus one map-only assignment pass over the corpus. */
  def ivfBuildIndex(emb: DataFrame, idCol: String, embCol: String,
      path: String, nCentroids: Int = 16, iters: Int = 2,
      trainSample: Int = 4096): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val base = emb.select(col(idCol).as("id"), col(embCol).as("v"))
    val model = ivfTrain(base, nCentroids, iters, trainSample)
    require(model.nonEmpty, "cannot build an IVF index over an empty corpus")
    model.toSeq.map { case (cid, cv) => (cid, cv.toSeq) }
      .toDF("cid", "cv").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    // batch_id above cid: the base build is batch 0, ingest appends land as
    // later batches ([[ivfAppendBatch]]); cid pruning is unaffected (any
    // partition level prunes at file-listing time)
    base.withColumn("batch_id", lit(0L)).withColumn("cid", ivfAssignCol(model))
      .write.mode("overwrite").partitionBy("batch_id", "cid").parquet(s"$path/lists")
  }

  /** Append one ingest batch to a persisted IVF index WITHOUT retraining or
    * touching existing lists — the ingestion-shaped maintenance path
    * (mirrors what `writeMinhashIndex` + `nearDupAgainstIndex` do for
    * text): assign the batch against the STORED centroid model (map-only,
    * one small parquet read + one write of just the batch) and land it
    * under its own `batch_id=` partition inside the same `cid=` layout.
    * Dynamic-partition overwrite makes a replayed batch overwrite itself
    * instead of duplicating vectors — the engine's standard at-least-once
    * store discipline. Probes ([[ivfQueryTopK]]) see appended vectors
    * through the same cid-pruned read immediately; re-run
    * [[ivfBuildIndex]] only when drift makes the frozen centroids a bad
    * quantizer (standard IVF practice). */
  def ivfAppendBatch(newEmb: DataFrame, idCol: String, embCol: String,
      path: String, batchId: Long): Unit = {
    require(batchId > 0L, s"batch_id 0 is the base build; appends start at 1 (got $batchId)")
    val spark = newEmb.sparkSession
    val model = spark.read.parquet(s"$path/centroids").collect()
      .map(r => (r.getAs[Long]("cid"), rowToVec(r, r.fieldIndex("cv"))))
    require(model.nonEmpty, s"no centroid model at $path/centroids")
    newEmb.select(col(idCol).as("id"), col(embCol).as("v"))
      .withColumn("batch_id", lit(batchId))
      .withColumn("cid", ivfAssignCol(model))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id", "cid")
      .parquet(s"$path/lists")
  }

  /** Load the persisted model and return the probe cids for a query vector
    * (shared by [[ivfQueryTopK]] and the pruning test). */
  private[graft] def ivfProbeCids(spark: SparkSession, path: String,
      qv: Array[Double], nProbe: Int): Seq[Long] = {
    val model = spark.read.parquet(s"$path/centroids").collect()
      .map(r => (r.getAs[Long]("cid"), rowToVec(r, r.fieldIndex("cv"))))
    probeFor(model, qv, nProbe)
  }

  /** ANN top-k against a PERSISTED IVF index ([[ivfBuildIndex]]): pick the
    * `nProbe` nearest centroids driver-side from the tiny model file, then
    * scan only those `cid=` partitions of the inverted lists — a
    * partition-pruned read — and exact-cosine re-rank. */
  def ivfQueryTopK(spark: SparkSession, path: String, qv: Array[Double],
      k: Int, nProbe: Int = 4): DataFrame = {
    val probeCids = ivfProbeCids(spark, path, qv, nProbe)
    val scored = spark.read.parquet(s"$path/lists")
      .filter(col("cid").isin(probeCids: _*))
      .withColumn("sim", cosine(col("v"), typedLit(qv)))
    topKRanked(scored, k)
  }

  /** No-job corpus-size estimate for signature auto-sizing: CBO row count
    * when the catalog has one, else optimizer `sizeInBytes` over a
    * parquet-realistic float-embedding row width (4·dim data bytes plus
    * ~128 B of row/encoding overhead). Deliberately biased LOW: since
    * [[autoNBits]] is logarithmic, estimate error shifts the signature by
    * at most ±1 bit, and an underestimate only makes buckets bigger —
    * which the hot-bucket cap already bounds and reports — while an
    * overestimate would silently cost recall. Never runs a Spark job. */
  private def estimatedCorpusRows(base: DataFrame, dim: Int): Long = {
    val stats = base.queryExecution.optimizedPlan.stats
    stats.rowCount.map(_.toLong).getOrElse {
      (stats.sizeInBytes / (4L * dim + 128L)).toLong
    }.max(1L)
  }

  /** Embedding near-dup pairs: cosine ≥ threshold, candidates from LSH.
    *
    * `nBits = 0` (default) auto-sizes the signature to the corpus
    * ([[autoNBits]]): a fixed width would degenerate to ~all-pairs/2^bits
    * per table as the corpus grows. The corpus size comes from
    * `corpusSize` when the caller knows it, else from plan statistics
    * ([[estimatedCorpusRows]]) — constructing this DataFrame never runs a
    * job (the full `count()` pass it once took was an extra complete scan
    * of the corpus at scale). Hot buckets (zero vectors, spam clusters)
    * are capped at `maxBucketSize` members — reported, never silent
    * ([[Buckets.cap]]). */
  def embeddingNearDupPairs(emb: DataFrame, idCol: String, embCol: String,
      dim: Int, threshold: Double, nBits: Int = 0, nTables: Int = 8,
      maxBucketSize: Int = 256, corpusSize: Long = 0L): DataFrame = {
    val base = emb.select(col(idCol).as("id"), col(embCol).as("v"))
    val nb = if (nBits > 0) nBits
      else autoNBits(if (corpusSize > 0) corpusSize else estimatedCorpusRows(base, dim))
    val sigs = withSignatures(base, dim, nb, nTables)
      .select(col("id"), col("tbl"), col("sig"))
    // hot-bucket cap + pair generation in one pass (no bucket self-join);
    // vectors are re-joined by id afterwards: arrays must not ride through
    // the pair explosion or its distinct() shuffle
    val cand = Buckets.candidatePairs(sigs, Seq("tbl", "sig"), "id",
      maxBucketSize, "embedding_near_dup_bucket_cap")
    cand
      .join(base.select(col("id").as("id_a"), col("v").as("va")), "id_a")
      .join(base.select(col("id").as("id_b"), col("v").as("vb")), "id_b")
      .withColumn("cos", cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  // ---- product quantization (PQ) ----

  /** PQ codebook: `m` subspaces × `ksub` sub-centroids × `dsub = dim/m`
    * doubles, flat. Model parameters (a few KiB), not data. */
  final case class PqModel(dim: Int, m: Int, ksub: Int, codebook: Array[Double]) {
    val dsub: Int = dim / m

    /** Per-query ADC lookup tables for [[graft.functions.PqAdcCosine]]:
      * ipLut[j·ksub+c] = ⟨q_j, centroid_{j,c}⟩, sqLut = ‖centroid‖². */
    def adcLuts(q: Array[Double]): (Array[Double], Array[Double]) = {
      val ip = new Array[Double](m * ksub)
      val sq = new Array[Double](m * ksub)
      var j = 0
      while (j < m) {
        var c = 0
        while (c < ksub) {
          val off = (j * ksub + c) * dsub
          var s = 0.0
          var n2 = 0.0
          var t = 0
          while (t < dsub) {
            val cv = codebook(off + t)
            s += q(j * dsub + t) * cv
            n2 += cv * cv
            t += 1
          }
          ip(j * ksub + c) = s
          sq(j * ksub + c) = n2
          c += 1
        }
        j += 1
      }
      (ip, sq)
    }
  }

  /** Train a PQ codebook per subspace on a BOUNDED sample — the same
    * deterministic hash-ordered reservoir as [[ivfTrain]] (smallest
    * `xxhash64(id)` vectors, one TakeOrdered pass), so training costs
    * O(sampleN · ksub · iters · dim) regardless of corpus size. The
    * per-subspace Lloyd runs driver-side over the collected sample —
    * sampleN × dim doubles, legitimately driver-sized (the fit/transform
    * boundary, exactly like [[ivfTrain]]'s centroid materialization).
    * Deterministic: seeds are the hash-order sample prefix, no RNG. */
  def pqTrain(emb: DataFrame, idCol: String, embCol: String, dim: Int,
      m: Int, ksub: Int, sampleN: Int = 4096, iters: Int = 10): PqModel = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val dsub = dim / m
    val sample: Array[Array[Double]] = emb
      .select(col(idCol).as("id"), col(embCol).cast("array<double>").as("v"))
      .withColumn("__h", xxhash64(col("id")))
      .orderBy("__h").limit(math.max(sampleN, ksub))
      .select("v").collect().map(rowToVec(_, 0))
    require(sample.nonEmpty, "pqTrain needs a non-empty corpus")
    val codebook = new Array[Double](m * ksub * dsub)
    val assign = new Array[Int](sample.length)
    var j = 0
    while (j < m) {
      // seeds: subvectors of the first ksub sample rows (wraps if tiny)
      var c = 0
      while (c < ksub) {
        val src = sample(c % sample.length)
        System.arraycopy(src, j * dsub, codebook, (j * ksub + c) * dsub, dsub)
        c += 1
      }
      var it = 0
      while (it < iters) {
        // assignment
        var i = 0
        while (i < sample.length) {
          val v = sample(i)
          var best = 0
          var bestD = Double.MaxValue
          c = 0
          while (c < ksub) {
            val off = (j * ksub + c) * dsub
            var d2 = 0.0
            var t = 0
            while (t < dsub) {
              val diff = v(j * dsub + t) - codebook(off + t)
              d2 += diff * diff
              t += 1
            }
            if (d2 < bestD) { bestD = d2; best = c }
            c += 1
          }
          assign(i) = best
          i += 1
        }
        // update (empty clusters keep their previous centroid)
        val sums = new Array[Double](ksub * dsub)
        val cnts = new Array[Int](ksub)
        i = 0
        while (i < sample.length) {
          val v = sample(i)
          val a = assign(i)
          cnts(a) += 1
          var t = 0
          while (t < dsub) { sums(a * dsub + t) += v(j * dsub + t); t += 1 }
          i += 1
        }
        c = 0
        while (c < ksub) {
          if (cnts(c) > 0) {
            var t = 0
            while (t < dsub) {
              codebook((j * ksub + c) * dsub + t) = sums(c * dsub + t) / cnts(c)
              t += 1
            }
          }
          c += 1
        }
        it += 1
      }
      j += 1
    }
    PqModel(dim, m, ksub, codebook)
  }

  /** PQ ANN top-k: encode the corpus to m-int codes (map-only), ADC-score
    * every code row against the query's lookup tables (m table reads per
    * row, no vector access), shortlist the top `rerank` by approximate
    * score (TakeOrderedAndProject), then fetch ONLY the shortlist's raw
    * vectors by id for the exact cosine rerank.
    *
    * 100 TB shape: the scored pass touches 8-byte codes instead of 256-byte
    * vectors (32× less I/O), scoring is m lookups not a dim-length dot, the
    * shortlist is k-bounded driver-broadcastable, and the raw-vector fetch
    * is a broadcast semi-join touching `rerank` rows — the PQ + rerank
    * pipeline of Jégou et al. 2011 in Spark plan shapes. */
  def pqTopK(emb: DataFrame, idCol: String, embCol: String, dim: Int,
      queryId: Long, k: Int, m: Int = 8, ksub: Int = 16, rerank: Int = 64,
      sampleN: Int = 4096, iters: Int = 10): DataFrame = {
    import org.apache.spark.sql.graft.GraftBridge
    val base = emb.select(col(idCol).as("id"), col(embCol).as("v"))
    val model = pqTrain(emb, idCol, embCol, dim, m, ksub, sampleN, iters)
    val qRows = base.filter(col("id") === queryId)
      .select(col("v").cast("array<double>")).collect()
    require(qRows.nonEmpty, s"query id $queryId not found")
    val qv = rowToVec(qRows(0), 0)
    val (ipLut, sqLut) = model.adcLuts(qv)
    val qNorm = math.sqrt(qv.map(x => x * x).sum)
    val codes = base.select(col("id"),
      GraftBridge.column(graft.functions.PqEncode(
        GraftBridge.expression(col("v")), model.codebook, dim, m, ksub)).as("codes"))
    val shortlist = codes
      .withColumn("adc", GraftBridge.column(graft.functions.PqAdcCosine(
        GraftBridge.expression(col("codes")), ipLut, sqLut, m, ksub, qNorm)))
      .orderBy(desc("adc"), col("id")).limit(rerank)
      .select("id")
    val scored = base.join(broadcast(shortlist), "id")
      .withColumn("sim", cosine(col("v"), typedLit(qv)))
    topKRanked(scored, k)
  }

  // ---- persisted PQ index (the fit-once / query-many path) ----

  /** Persist a PQ index, mirroring the [[ivfBuildIndex]] discipline: the
    * trained codebook — model parameters, one row `(dim, m, ksub,
    * codebook)`, a few KiB — at `path/codebook`, and the encoded corpus —
    * `(id, codes)`, m small ints per row instead of the raw vectors — at
    * `path/codes`, partitioned by `batch_id` (the base build is batch 0;
    * ingest appends land as later batches via [[pqAppendBatch]]).
    *
    * This closes the inline-vs-persisted gap [[pqTopK]] documents: build
    * cost is one bounded-sample training pass plus one map-only encode pass
    * over the corpus; every [[pqQueryTopK]] after that reads the tiny model
    * row plus the codes table only — no retraining, no re-encoding, and the
    * ADC scan touches ~m bytes per row instead of 4·dim. */
  def pqBuildIndex(emb: DataFrame, idCol: String, embCol: String,
      path: String, dim: Int, m: Int = 8, ksub: Int = 16,
      sampleN: Int = 4096, iters: Int = 10): Unit = {
    import org.apache.spark.sql.graft.GraftBridge
    val spark = emb.sparkSession
    import spark.implicits._
    val model = pqTrain(emb, idCol, embCol, dim, m, ksub, sampleN, iters)
    Seq((model.dim, model.m, model.ksub, model.codebook.toSeq))
      .toDF("dim", "m", "ksub", "codebook").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/codebook")
    emb.select(col(idCol).as("id"),
        GraftBridge.column(graft.functions.PqEncode(
          GraftBridge.expression(col(embCol)), model.codebook, dim, m, ksub))
          .as("codes"))
      .withColumn("batch_id", lit(0L))
      .write.mode("overwrite").partitionBy("batch_id").parquet(s"$path/codes")
  }

  /** Load the persisted codebook row back into a [[PqModel]]. */
  private[graft] def pqReadModel(spark: SparkSession, path: String): PqModel = {
    val rows = spark.read.parquet(s"$path/codebook").collect()
    require(rows.nonEmpty, s"no PQ codebook at $path/codebook")
    val r = rows(0)
    PqModel(r.getAs[Int]("dim"), r.getAs[Int]("m"), r.getAs[Int]("ksub"),
      r.getSeq[Double](r.fieldIndex("codebook")).toArray)
  }

  /** Append one ingest batch to a persisted PQ index WITHOUT retraining —
    * the same maintenance shape as [[ivfAppendBatch]]: encode the batch
    * against the STORED codebook (one small parquet read + one map-only
    * encode + one write of just the batch) into its own `batch_id=`
    * partition; dynamic-partition overwrite makes a replayed batch
    * overwrite itself instead of duplicating codes. Queries see appended
    * vectors immediately; retrain ([[pqBuildIndex]]) only when drift makes
    * the frozen codebook a bad quantizer. */
  def pqAppendBatch(newEmb: DataFrame, idCol: String, embCol: String,
      path: String, batchId: Long): Unit = {
    import org.apache.spark.sql.graft.GraftBridge
    require(batchId > 0L,
      s"batch_id 0 is the base build; appends start at 1 (got $batchId)")
    val spark = newEmb.sparkSession
    val model = pqReadModel(spark, path)
    newEmb.select(col(idCol).as("id"),
        GraftBridge.column(graft.functions.PqEncode(
          GraftBridge.expression(col(embCol)), model.codebook,
          model.dim, model.m, model.ksub)).as("codes"))
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(s"$path/codes")
  }

  /** ANN top-k against a PERSISTED PQ index ([[pqBuildIndex]]): read the
    * codebook row (KiB), build the query's ADC lookup tables driver-side,
    * ADC-score the codes table (a column-pruned scan of m-int codes — the
    * raw vectors are never touched), shortlist the top `rerank`
    * (TakeOrderedAndProject), then fetch ONLY the shortlist's raw vectors
    * from `corpus` by id — a broadcast semi-join touching `rerank` rows —
    * for the exact cosine rerank. Zero training work per query: the model
    * is frozen on disk, exactly like [[ivfQueryTopK]]'s centroids. */
  def pqQueryTopK(spark: SparkSession, path: String, corpus: DataFrame,
      idCol: String, embCol: String, qv: Array[Double], k: Int,
      rerank: Int = 64): DataFrame = {
    import org.apache.spark.sql.graft.GraftBridge
    val model = pqReadModel(spark, path)
    require(qv.length == model.dim,
      s"query dim ${qv.length} != index dim ${model.dim}")
    val (ipLut, sqLut) = model.adcLuts(qv)
    val qNorm = math.sqrt(qv.map(x => x * x).sum)
    val shortlist = spark.read.parquet(s"$path/codes")
      .withColumn("adc", GraftBridge.column(graft.functions.PqAdcCosine(
        GraftBridge.expression(col("codes")), ipLut, sqLut,
        model.m, model.ksub, qNorm)))
      .orderBy(desc("adc"), col("id")).limit(rerank)
      .select("id")
    val scored = corpus.select(col(idCol).as("id"), col(embCol).as("v"))
      .join(broadcast(shortlist), "id")
      .withColumn("sim", cosine(col("v"), typedLit(qv)))
    topKRanked(scored, k)
  }

  // ---- combined IVF-PQ index: partition-pruned ADC ----

  /** Persist a combined IVF-PQ index (the FAISS IVFPQ shape, Jégou et al.
    * 2011 §V, in Spark plan terms): coarse centroids quantize the corpus
    * into inverted lists AND each vector is PQ-encoded, so a probe reads
    * only the probed `cid=` partitions (file-listing-time pruning, like
    * [[ivfBuildIndex]]) and scores only m-int codes inside them (the
    * [[pqBuildIndex]] I/O win) — the two index families' scale properties
    * multiplied: ~nProbe/nCentroids of the corpus touched, at ~m bytes per
    * row touched.
    *
    * Codes encode the RAW vectors, not residuals: cosine ADC over
    * residuals loses the LUT separability that makes the scan m table
    * reads per row (the reconstruction norm picks up a centroid×residual
    * cross term), and the exact rerank already absorbs the accuracy gap
    * the residual trick exists to close. Layout: `path/centroids` (coarse
    * model), `path/codebook` (PQ model), `path/codes` partitioned by
    * `(batch_id, cid)`. */
  def ivfPqBuildIndex(emb: DataFrame, idCol: String, embCol: String,
      path: String, dim: Int, nCentroids: Int = 16, m: Int = 8,
      ksub: Int = 16, iters: Int = 2, pqIters: Int = 10,
      trainSample: Int = 4096): Unit = {
    import org.apache.spark.sql.graft.GraftBridge
    val spark = emb.sparkSession
    import spark.implicits._
    val base = emb.select(col(idCol).as("id"), col(embCol).as("v"))
    val coarse = ivfTrain(base, nCentroids, iters, trainSample)
    require(coarse.nonEmpty, "cannot build an IVF-PQ index over an empty corpus")
    val pq = pqTrain(emb, idCol, embCol, dim, m, ksub, trainSample, pqIters)
    coarse.toSeq.map { case (cid, cv) => (cid, cv.toSeq) }
      .toDF("cid", "cv").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    Seq((pq.dim, pq.m, pq.ksub, pq.codebook.toSeq))
      .toDF("dim", "m", "ksub", "codebook").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/codebook")
    base
      .withColumn("batch_id", lit(0L))
      .withColumn("cid", ivfAssignCol(coarse))
      .select(col("id"),
        GraftBridge.column(graft.functions.PqEncode(
          GraftBridge.expression(col("v")), pq.codebook, dim, m, ksub))
          .as("codes"),
        col("batch_id"), col("cid"))
      .write.mode("overwrite").partitionBy("batch_id", "cid")
      .parquet(s"$path/codes")
  }

  /** Append one ingest batch to a persisted IVF-PQ index: assign against
    * the stored coarse model, encode against the stored codebook, land
    * under `batch_id=` with dynamic-partition overwrite — the union of
    * [[ivfAppendBatch]]'s and [[pqAppendBatch]]'s replay discipline. */
  def ivfPqAppendBatch(newEmb: DataFrame, idCol: String, embCol: String,
      path: String, batchId: Long): Unit = {
    import org.apache.spark.sql.graft.GraftBridge
    require(batchId > 0L,
      s"batch_id 0 is the base build; appends start at 1 (got $batchId)")
    val spark = newEmb.sparkSession
    val coarse = spark.read.parquet(s"$path/centroids").collect()
      .map(r => (r.getAs[Long]("cid"), rowToVec(r, r.fieldIndex("cv"))))
    require(coarse.nonEmpty, s"no centroid model at $path/centroids")
    val pq = pqReadModel(spark, path)
    newEmb.select(col(idCol).as("id"), col(embCol).as("v"))
      .withColumn("batch_id", lit(batchId))
      .withColumn("cid", ivfAssignCol(coarse))
      .select(col("id"),
        GraftBridge.column(graft.functions.PqEncode(
          GraftBridge.expression(col("v")), pq.codebook,
          pq.dim, pq.m, pq.ksub)).as("codes"),
        col("batch_id"), col("cid"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id", "cid")
      .parquet(s"$path/codes")
  }

  /** ANN top-k against a persisted IVF-PQ index: probe cids are picked
    * driver-side from the tiny coarse model, the codes scan is BOTH
    * partition-pruned (`cid IN probes` at file-listing time) and
    * code-only (ADC over m-int codes, no raw vectors), the shortlist is
    * `rerank`-bounded, and the exact rerank fetches only shortlist rows
    * from `corpus`. */
  def ivfPqQueryTopK(spark: SparkSession, path: String, corpus: DataFrame,
      idCol: String, embCol: String, qv: Array[Double], k: Int,
      nProbe: Int = 4, rerank: Int = 64): DataFrame = {
    import org.apache.spark.sql.graft.GraftBridge
    val probeCids = ivfProbeCids(spark, path, qv, nProbe)
    val pq = pqReadModel(spark, path)
    require(qv.length == pq.dim, s"query dim ${qv.length} != index dim ${pq.dim}")
    val (ipLut, sqLut) = pq.adcLuts(qv)
    val qNorm = math.sqrt(qv.map(x => x * x).sum)
    val shortlist = spark.read.parquet(s"$path/codes")
      .filter(col("cid").isin(probeCids: _*))
      .withColumn("adc", GraftBridge.column(graft.functions.PqAdcCosine(
        GraftBridge.expression(col("codes")), ipLut, sqLut,
        pq.m, pq.ksub, qNorm)))
      .orderBy(desc("adc"), col("id")).limit(rerank)
      .select("id")
    val scored = corpus.select(col(idCol).as("id"), col(embCol).as("v"))
      .join(broadcast(shortlist), "id")
      .withColumn("sim", cosine(col("v"), typedLit(qv)))
    topKRanked(scored, k)
  }

  // ---- hybrid retrieval: reciprocal-rank fusion ----

  /** Reciprocal-rank fusion (Cormack et al. 2009) of independently ranked
    * candidate lists — THE standard hybrid-search combiner (sparse BM25 +
    * dense ANN): fused score = Σ_lists 1/(k + rank), absent-from-a-list
    * contributes nothing. Rank-based, so the lists' raw scores never need
    * calibrating against each other. Each input is a k-bounded (id, rank)
    * relation, so the union + per-id sum is list-sized work no matter the
    * corpus; scores pass through DECIMAL(18,6) (sums of >2 reciprocals
    * are order-sensitive in the last ulp). Ties break to the lower id. */
  def rrfFuse(lists: Seq[DataFrame], k: Int = 60, topK: Int = 10): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    require(k >= 1 && topK >= 1, s"need k >= 1 and topK >= 1, got $k/$topK")
    val contrib = lists.map(_.select(col("id"),
        (lit(1.0) / (lit(k.toDouble) + col("rank").cast("double"))).as("__c")))
      .reduce(_ unionByName _)
    contrib.groupBy("id")
      .agg(sum("__c").cast("decimal(18,6)").cast("double").as("rrf"))
      .orderBy(desc("rrf"), col("id")).limit(topK)
  }

  /** k-NN majority-vote label prediction for a bounded probe set: each
    * probe's label is the mode of its `k` nearest (cosine) neighbors'
    * labels, ties broken (votes desc, label asc) — deterministic in any
    * engine. The vote count rides along as prediction confidence.
    *
    * Probe-bounded like [[graft.operators.TextAnalysis.tfidfNearestDoc]]:
    * the probe frame broadcasts and the pair space is |probes| · N with
    * NO corpus-side self-join — the labeling-by-neighbors shape
    * (semi-supervised label propagation's first hop) at the cost of one
    * corpus scan per probe batch. Ranking (not raw scores) is the
    * output, the q50 determinism contract: ranks agree across engines
    * wherever no two similarities collide within an ulp. */
  def knnClassify(emb: DataFrame, idCol: String, embCol: String,
      labelCol: String, probeBound: Long, k: Int): DataFrame = {
    require(probeBound > 0 && k >= 1, s"bad knn params: $probeBound/$k")
    val probes = emb.filter(col(idCol) < probeBound)
      .select(col(idCol).as("pid"), col(embCol).as("qv"))
    val scored = emb.select(col(idCol).as("id"), col(embCol).as("v"),
        col(labelCol).as("lbl"))
      .join(broadcast(probes))
      .filter(col("id") =!= col("pid"))
      .withColumn("sim", cosine(col("v"), col("qv")))
    val w = Window.partitionBy("pid").orderBy(desc("sim"), col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .groupBy(col("pid"), col("lbl"))
      .agg(count(lit(1)).as("votes"))
      .groupBy("pid")
      .agg(min(struct((-col("votes")).as("nv"), col("lbl").as("l"))).as("best"))
      .select(col("pid").as(idCol), col("best.l").as("predicted_label"),
        (-col("best.nv")).as("votes"))
      .orderBy(idCol)
  }

  // ---- declared queries ----

  /** 10-NN majority-vote labels for the first 25 vectors (self excluded).
    * Strict hash gate: the oracle recomputes ranks, votes, and the
    * (votes desc, label) arg-max from first principles. */
  def q181KnnClassify(spark: SparkSession, dir: String): DataFrame =
    knnClassify(Tables.embeddings(spark, dir), "vec_id", "embedding",
      "label", probeBound = 25L, k = 10)

  /** Centroid-based (simplified) silhouette per label cluster — the
    * embedding-space quality report for a labeled/clustered corpus:
    * a(i) = ‖xᵢ − c(own)‖, b(i) = min over other labels ‖xᵢ − c(other)‖,
    * s(i) = (b − a)/max(a, b), averaged per label. O(n · #labels · dim)
    * — never the O(n²) pairwise silhouette.
    *
    * Scale shape: centroids are a labels×dims frame (model-sized, AQE
    * broadcasts it into the distance join), so the only data-sized pass
    * is one explode + groupBy per vector. Float discipline: components
    * pass float→double (exact) →DECIMAL(38,12) before the order-
    * sensitive centroid sum; each squared-diff term is DECIMAL(38,18)-
    * quantized before the per-vector sum; every division/sqrt is a
    * single double op on exact inputs — binary fractions can never tie
    * at a decimal rounding boundary, so both engines quantize
    * identically and the gate is a strict hash check. */
  def clusterSilhouette(vecs: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val dq = (c: Column) => c.cast("double").cast("decimal(38,12)")
    val ex = vecs.select(col(idCol).as("id"), col(labelCol).as("lbl"),
        posexplode(col(vecCol)).as(Seq("pos", "x")))
      .withColumn("x", col("x").cast("double"))
    val cent = ex.groupBy(col("lbl").as("clbl"), col("pos").as("cpos"))
      .agg((sum(dq(col("x"))).cast("decimal(38,12)").cast("double") /
        count(lit(1)).cast("double")).as("c"))
    val terms = ex.join(cent, col("pos") === col("cpos"))
      .withColumn("t",
        ((col("x") - col("c")) * (col("x") - col("c"))).cast("decimal(38,18)"))
      .groupBy("id", "lbl", "clbl")
      .agg(sum(col("t")).cast("decimal(38,18)").cast("double").as("d2"))
    val per = terms.groupBy("id", "lbl")
      .agg(sqrt(min(when(col("clbl") === col("lbl"), col("d2")))).as("a"),
        sqrt(min(when(col("clbl") =!= col("lbl"), col("d2")))).as("b"))
      .withColumn("s", when(col("a") === col("b"), lit(0.0))
        .otherwise((col("b") - col("a")) / greatest(col("a"), col("b"))))
    per.groupBy(col("lbl").as(labelCol))
      .agg(count(lit(1)).as("n_vecs"),
        (sum(col("s").cast("decimal(38,12)")).cast("decimal(38,12)")
          .cast("double") / count(lit(1)).cast("double"))
          .as("avg_silhouette"))
      .orderBy(labelCol)
  }

  /** How separable are the embedding label clusters. */
  def q209Silhouette(spark: SparkSession, dir: String): DataFrame =
    clusterSilhouette(Tables.embeddings(spark, dir), "vec_id", "embedding",
      "label")

  /** Label-noise candidates: vectors whose distance to their OWN label
    * centroid exceeds that label's p-quantile of distances — the
    * mislabel/outlier sweep a labeled-embedding corpus needs before
    * training. Same exact quantization ladder as [[clusterSilhouette]]
    * (only the own-label distance is needed, so no cross-label fan-out);
    * the cutoff is the EXACT R-7 percentile per label (documented
    * KLL-sketch swap at billion-point labels, the q113 rule), broadcast
    * back against the scan. */
  def centroidOutliers(vecs: DataFrame, idCol: String, vecCol: String,
      labelCol: String, p: Double): DataFrame = {
    require(p > 0 && p < 1, s"p must be in (0,1): $p")
    val dq = (c: Column) => c.cast("double").cast("decimal(38,12)")
    val ex = vecs.select(col(idCol).as("id"), col(labelCol).as("lbl"),
        posexplode(col(vecCol)).as(Seq("pos", "x")))
      .withColumn("x", col("x").cast("double"))
    val cent = ex.groupBy(col("lbl").as("clbl"), col("pos").as("cpos"))
      .agg((sum(dq(col("x"))).cast("decimal(38,12)").cast("double") /
        count(lit(1)).cast("double")).as("c"))
    val dist = ex.join(cent,
        col("pos") === col("cpos") && col("lbl") === col("clbl"))
      .withColumn("t",
        ((col("x") - col("c")) * (col("x") - col("c"))).cast("decimal(38,18)"))
      .groupBy("id", "lbl")
      .agg(sqrt(sum(col("t")).cast("decimal(38,18)").cast("double")).as("dist"))
    val cut = dist.groupBy(col("lbl").as("plbl"))
      .agg(expr(s"percentile(dist, $p)").as("p_cut"))
    dist.join(cut, col("lbl") === col("plbl"))
      .filter(col("dist") > col("p_cut"))
      .select(col("id").as(idCol), col("lbl").as(labelCol), col("dist"),
        col("p_cut"))
      .orderBy(idCol)
  }

  /** Vectors suspiciously far from their own label's centroid (> p95). */
  def q214LabelOutliers(spark: SparkSession, dir: String): DataFrame =
    centroidOutliers(Tables.embeddings(spark, dir), "vec_id", "embedding",
      "label", p = 0.95)

  /** First principal component of an embedding corpus by POWER ITERATION
    * on the covariance matrix — the exact-reproducible PCA kernel.
    *
    * Scale shape: the only data-sized pass is the second-moment
    * aggregation Σ xⱼxₖ — a groupBy over n·d² exploded pairs whose
    * partial aggregation (map-side combine) reduces every partition to
    * d² rows before the shuffle, so the exchange is d²·partitions no
    * matter how large n is. Everything after runs on the d×d matrix
    * (model-sized frames, a few tiny jobs per iteration; lineage
    * truncated per round).
    *
    * Determinism: the DATA-SIZED sums (means, second moments) quantize
    * each term to a 1e-12 fixed-point grid — `floor(v·1e12 + 0.5)` is
    * pure double math, the long→DECIMAL(38,0) cast stays on Spark's
    * compact-long fast path (a per-row double→DECIMAL cast measures 20×
    * slower — it allocates a BigDecimal from a string), and the DECIMAL
    * sum is exact and order-free. The MODEL-SIZED sums (matrix-vector
    * products, norms, Rayleigh quotient) use the full DECIMAL(38,18)
    * ladder. Divisions/sqrts are single double ops; the oracle unrolls
    * the identical ladder, so the gate is strict hash equality. Fixed
    * `iters` rounds, no convergence test (run-count IS the spec, the
    * q151 bounded-round rule). */
  /** The fitted PC1 model: per-dim means, unit loading vector, λ, trace. */
  private[graft] case class Pc1Model(means: Array[Double],
    loadings: Array[Double], eigenvalue: Double, trace: Double)

  /** MERGEABLE PCA sufficient statistics of a vector batch: one frame of
    * exact DECIMAL(38,0) fixed-point sums keyed (j, k) — second moments
    * Σ q(xⱼxₖ) at (j,k ≥ 0), first moments Σ q(xⱼ) at (j, −1), and the
    * row count at (−1, −1). Merging batches = groupBy(j,k).sum — the
    * same partial-aggregation law every sketch family here obeys, so an
    * incrementally maintained moments table refits PC1 without
    * re-scanning history. */
  def pcaMoments(vecs: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val fx = (c: Column) =>
      floor(c * lit(1e12) + lit(0.5)).cast("long").cast("decimal(38,0)")
    val ex = vecs.select(col(idCol).as("id"),
        posexplode(col(vecCol)).as(Seq("p", "x")))
      .withColumn("x", col("x").cast("double"))
    // second moments: the one data-sized aggregation (d² groups,
    // map-side combined)
    val second = ex.toDF("id", "j", "xj")
      .join(ex.toDF("id2", "k", "xk"), col("id") === col("id2"))
      .groupBy("j", "k")
      .agg(sum(fx(col("xj") * col("xk"))).cast("decimal(38,0)").as("s"))
    val first = ex.groupBy(col("p").as("j"))
      .agg(sum(fx(col("x"))).cast("decimal(38,0)").as("s"))
      .select(col("j"), lit(-1).as("k"), col("s"))
    val cnt = vecs.agg(count(lit(1)).cast("decimal(38,0)").as("s"))
      .select(lit(-1).as("j"), lit(-1).as("k"), col("s"))
    second.unionByName(first).unionByName(cnt)
  }

  /** Solve PC1 from a (possibly merged) [[pcaMoments]] frame. */
  private[graft] def pcaSolveMoments(moments: DataFrame, dim: Int,
      iters: Int): Pc1Model = {
    require(dim > 0 && iters >= 1, s"bad args: dim=$dim iters=$iters")
    val merged = moments.groupBy("j", "k")
      .agg(sum(col("s")).cast("decimal(38,0)").as("s"))
      .localCheckpoint(true)
    val n = merged.filter(col("j") === -1 && col("k") === -1)
      .head().getDecimal(2).doubleValue()
    val means = merged.filter(col("j") >= 0 && col("k") === -1)
      .select(col("j").as("mp"), (dd(col("s")) / lit(1e12 * n)).as("m"))
    val cov = merged.filter(col("k") >= 0)
      .join(means.withColumnRenamed("mp", "j").withColumnRenamed("m", "mj"), "j")
      .join(means.select(col("mp").as("k"), col("m").as("mk")), "k")
      .select(col("j"), col("k"),
        (dd(col("s")) / lit(1e12 * n) - col("mj") * col("mk")).as("cval"))
    // The iteration runs on the DRIVER over the collected d×d matrix —
    // model-sized (the centroid/codebook collect precedent: d² doubles,
    // input-independent). quant18 reproduces Spark's double→DECIMAL(38,18)
    // cast bit-for-bit (BigDecimal.valueOf = shortest-repr string, then
    // HALF_UP — ties are impossible for binary fractions, see the class
    // doc), BigDecimal addition is exact, so driver and SQL ladders agree.
    import java.math.{BigDecimal => JBD, RoundingMode}
    def quant18(x: Double): JBD =
      JBD.valueOf(x).setScale(18, RoundingMode.HALF_UP)
    def qsum(xs: Iterator[Double]): Double =
      xs.foldLeft(JBD.ZERO)((acc, x) => acc.add(quant18(x))).doubleValue
    val c = Array.ofDim[Double](dim, dim)
    cov.collect().foreach(r => c(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    def matVec(u: Array[Double]): Array[Double] =
      Array.tabulate(dim)(j => qsum((0 until dim).iterator.map(k => c(j)(k) * u(k))))
    for (_ <- 1 to iters) {
      val w = matVec(v)
      val nrm = math.sqrt(qsum(w.iterator.map(x => x * x)))
      v = w.map(_ / nrm)
    }
    val cvF = matVec(v)
    val eigenvalue = qsum((0 until dim).iterator.map(j => v(j) * cvF(j)))
    val trace = qsum((0 until dim).iterator.map(j => c(j)(j)))
    val meanArr = Array.ofDim[Double](dim)
    means.collect().foreach(r => meanArr(r.getInt(0)) = r.getDouble(1))
    Pc1Model(meanArr, v, eigenvalue, trace)
  }

  private[graft] def pcaFit(vecs: DataFrame, idCol: String,
      vecCol: String, dim: Int, iters: Int): Pc1Model =
    pcaSolveMoments(pcaMoments(vecs, idCol, vecCol), dim, iters)

  def pcaFirstComponent(vecs: DataFrame, idCol: String, vecCol: String,
      dim: Int, iters: Int): DataFrame = {
    val m = pcaFit(vecs, idCol, vecCol, dim, iters)
    val spark = vecs.sparkSession
    import spark.implicits._
    (0 until dim).map(j =>
        (j, m.loadings(j), m.eigenvalue, m.eigenvalue / m.trace))
      .toDF("pos", "loading", "eigenvalue", "explained_frac")
      .orderBy("pos")
  }

  /** The PC1 projection as a STATELESS per-row column: score =
    * Σⱼ q((xⱼ − μⱼ)·vⱼ) on the fit's 1e-12 fixed-point grid, summed by
    * an array `aggregate` in a LONG accumulator — exact because the sum
    * is d-bounded (64 terms × ~1e13 grid units ≪ 2⁶³), never n-bounded.
    * No explode, no shuffle, codegen-friendly, and streaming-safe (used
    * by the stream-static scoring twin). The model rides along as array
    * literals. */
  def pc1ScoreColumn(vec: Column, m: Pc1Model): Column = {
    val mu = typedLit(m.means.toSeq)
    val ld = typedLit(m.loadings.toSeq)
    aggregate(
      transform(vec, (x, i) =>
        floor(((x.cast("double") - element_at(mu, i + 1)) *
          element_at(ld, i + 1)) * lit(1e12) + lit(0.5)).cast("long")),
      lit(0L), (acc, t) => acc + t
    ).cast("double") / lit(1e12)
  }

  /** PC1 SCORES — fit-and-transform: every vector projected onto the
    * dominant direction via [[pc1ScoreColumn]] (pure projection after
    * the fit — embarrassingly data-parallel). */
  def pc1Scores(vecs: DataFrame, idCol: String, vecCol: String,
      dim: Int, iters: Int): DataFrame = {
    val m = pcaFit(vecs, idCol, vecCol, dim, iters)
    vecs.select(col(idCol),
        pc1ScoreColumn(col(vecCol), m).as("pc1_score"))
      .orderBy(idCol)
  }

  /** Dominant direction of the embedding corpus: PC1 loadings +
    * explained-variance share, 8 power-iteration rounds. */
  def q210PcaPower(spark: SparkSession, dir: String): DataFrame =
    pcaFirstComponent(Tables.embeddings(spark, dir), "vec_id", "embedding",
      dim = 64, iters = 8)

  /** Every embedding projected onto the corpus PC1 (fit + transform). */
  def q216Pc1Scores(spark: SparkSession, dir: String): DataFrame =
    pc1Scores(Tables.embeddings(spark, dir), "vec_id", "embedding",
      dim = 64, iters = 8)

  /** INCREMENTAL PCA: the corpus split into two ingest batches, each
    * reduced to its own [[pcaMoments]] sufficient-statistics frame; the
    * solve runs on the MERGED tables and must reproduce the one-shot
    * whole-corpus fit bit-for-bit (the oracle is the full recompute) —
    * the mergeable-moments law that lets a maintained moments MV refit
    * PC1 per ingest batch without re-scanning history. */
  def q219IncrementalPca(spark: SparkSession, dir: String): DataFrame = {
    val all = Tables.embeddings(spark, dir)
    val batchA = all.filter(col("vec_id") % 2 === 0)
    val batchB = all.filter(col("vec_id") % 2 === 1)
    val merged = pcaMoments(batchA, "vec_id", "embedding")
      .unionByName(pcaMoments(batchB, "vec_id", "embedding"))
    val m = pcaSolveMoments(merged, dim = 64, iters = 8)
    import spark.implicits._
    (0 until 64).map(j =>
        (j, m.loadings(j), m.eigenvalue, m.eigenvalue / m.trace))
      .toDF("pos", "loading", "eigenvalue", "explained_frac")
      .orderBy("pos")
  }

  /** Brute-force cosine top-10 for the vec_id=0 query vector. */
  def q50KnnBrute(spark: SparkSession, dir: String): DataFrame =
    bruteForceTopK(Tables.embeddings(spark, dir), "vec_id", "embedding", 0L, 10)
      .withColumnRenamed("id", "vec_id")
      .orderBy("rank")

  /** ANN result-count + recall-vs-brute-force as a summary row: the result
    * LIST is approximate by design (not oracle-expressible), but "returns k
    * results, at least `minHits` of which sit in the exact top-k" IS a
    * deterministic, oracle-checkable fact — the q60 `features_valid`
    * pattern. Both the ANN path and the exact path execute inside the query. */
  private def annRecallGate(ann: DataFrame, brute: DataFrame, minHits: Int): DataFrame = {
    val hits = ann.join(brute, Seq("id"), "left_semi")
    ann.agg(count(lit(1)).as("n_results"))
      .join(hits.agg(count(lit(1)).as("__h")))
      .select(col("n_results"), (col("__h") >= minHits).as("recall_ok"))
  }

  /** LSH ANN top-5 vs exact top-5 (gated: 5 results, ≥3 true top-5 hits). */
  def q51AnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    annRecallGate(
      annTopK(emb, "vec_id", "embedding", 64, 0L, 5).select("id"),
      bruteForceTopK(emb, "vec_id", "embedding", 0L, 5).select("id"),
      minHits = 3)
  }

  /** IVF ANN top-5 vs exact top-5 (probe-then-rerank; same gate as q51). */
  def q53AnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    annRecallGate(
      ivfTopK(emb, "vec_id", "embedding", 0L, 5).select("id"),
      bruteForceTopK(emb, "vec_id", "embedding", 0L, 5).select("id"),
      minHits = 3)
  }

  /** Embedding near-dup above cosine 0.4 (the synthetic embeddings have no
    * true near-dups — max pairwise cosine ≈ 0.51 — so the threshold sits
    * where the data has signal; at scale it's a parameter). Gated like the
    * ANN queries: the LSH pair set is approximate, but its recall against
    * exact ground truth IS a checkable fact. The ground truth is computed
    * over a BOUNDED probe subset (vec_id < 500 — ≤ 125k exact comparisons
    * no matter the corpus size) so the gate itself never becomes the
    * quadratic scan the operator exists to avoid; the LSH path still mines
    * the full corpus. Precision is 1.0 by construction — every emitted pair
    * passes the exact cosine filter. */
  def q52EmbeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    val probeBound = 500
    val emb = Tables.embeddings(spark, dir)
    val found = embeddingNearDupPairs(emb, "vec_id", "embedding", 64, 0.4)
      .filter(col("id_a") < probeBound && col("id_b") < probeBound)
      .select("id_a", "id_b")
    val base = emb.filter(col("vec_id") < probeBound)
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    val exact = base.as("x").join(base.as("y"), col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        cosine(col("x.v"), col("y.v")).as("cos"))
      .filter(col("cos") >= 0.4)
      .select("id_a", "id_b")
    exact.agg(count(lit(1)).as("n_exact_pairs"))
      .join(found.agg(count(lit(1)).as("__f")))
      .select(col("n_exact_pairs"),
        (col("__f").cast("double") >=
          col("n_exact_pairs").cast("double") * 0.5).as("recall_ok"))
  }

  /** Shortlist size for the recall-gated PQ queries, from plan statistics
    * (zero jobs, like [[estimatedCorpusRows]]): the synthetic embeddings
    * are near-isotropic — every neighbor's cosine sits barely above the
    * bulk, so ADC score concentration forces the shortlist to grow with
    * the corpus (measured: 64 covers n=500, 256 covers n=2000; n/4 holds
    * both with margin). Real clustered embeddings keep rerank at O(k) —
    * this formula is the honest gate for structure-free data, not a
    * 100 TB default (there, rerank stays a constant knob and recall comes
    * from the data's own cluster structure, as in the PQ literature). */
  private def autoRerank(base: DataFrame, dim: Int): Int =
    math.max(64, (estimatedCorpusRows(base, dim) / 4L).toInt)

  /** PQ+rerank ANN top-5 vs exact top-5 (same gate family as q51/q53).
    * The ADC shortlist is approximate by design; "returns 5 results of
    * which ≥4 sit in the exact top-5" is the deterministic, oracle-checkable
    * fact. Both paths execute inside the query. */
  def q93AnnPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val base = emb.select(col("vec_id").as("id"), col("embedding").as("v"))
    annRecallGate(
      pqTopK(emb, "vec_id", "embedding", 64, 0L, 5,
        rerank = autoRerank(base, 64)).select("id"),
      bruteForceTopK(emb, "vec_id", "embedding", 0L, 5).select("id"),
      minHits = 4)
  }

  /** PQ ANN through the PERSISTED index: build once into a scratch dir,
    * query through the on-disk codebook + codes (the fit-once/query-many
    * path — no inline retraining), same recall gate as q93. The persisted
    * and inline paths share the deterministic trainer, so this also pins
    * that serialize→read round-trips the model bit-exactly. */
  def q96PqIndexQuery(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val path = java.nio.file.Files.createTempDirectory("graft-pq-index").toString
    pqBuildIndex(emb, "vec_id", "embedding", path, dim = 64)
    val qRows = emb.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>")).limit(1).collect()
    require(qRows.nonEmpty, "query vector vec_id=0 not found")
    val qv = rowToVec(qRows(0), 0)
    val base = emb.select(col("vec_id").as("id"), col("embedding").as("v"))
    annRecallGate(
      pqQueryTopK(spark, path, emb, "vec_id", "embedding", qv, 5,
        rerank = autoRerank(base, 64)).select("id"),
      bruteForceTopK(emb, "vec_id", "embedding", 0L, 5).select("id"),
      minHits = 4)
  }

  /** IVF-PQ ANN through the persisted combined index (partition-pruned +
    * code-only probe), same recall-gate family as q51/q53/q93/q96. nProbe
    * is raised to 8 of 16 lists: the synthetic embeddings are near-uniform
    * (no cluster structure), so coarse quantization carries little signal
    * at this SF and the gate should measure the PQ+rerank path, not
    * coarse-probe luck. */
  def q98AnnIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val path = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    ivfPqBuildIndex(emb, "vec_id", "embedding", path, dim = 64)
    val qRows = emb.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>")).limit(1).collect()
    require(qRows.nonEmpty, "query vector vec_id=0 not found")
    val qv = rowToVec(qRows(0), 0)
    val base = emb.select(col("vec_id").as("id"), col("embedding").as("v"))
    annRecallGate(
      ivfPqQueryTopK(spark, path, emb, "vec_id", "embedding", qv, 5,
        nProbe = 8, rerank = autoRerank(base, 64)).select("id"),
      bruteForceTopK(emb, "vec_id", "embedding", 0L, 5).select("id"),
      minHits = 3)
  }

  /** Hybrid search over the corpus: the fixed BM25 text query's ranks
    * fused with the vec_id=0 dense query's cosine ranks (documents and
    * embeddings share the id space), top-10 by RRF. Fully ORACLE-EXACT —
    * both component rankings are deterministic and SQL-expressible, so
    * unlike the ANN recall gates the fused list itself is hash-gated. */
  def q107HybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val n = 50
    val sparse = topKRanked(
      TextAnalysis.bm25Search(Tables.documents(spark, dir), "doc_id", "text",
          TextAnalysis.Bm25QueryTerms)
        .select(col("doc_id").as("id"), col("score").as("sim")), n)
    val dense = bruteForceTopK(Tables.embeddings(spark, dir),
      "vec_id", "embedding", 0L, n)
    rrfFuse(Seq(sparse, dense), k = 60, topK = 10)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, arXiv
    * 2303.09540): k-means-cluster the embeddings, generate candidate
    * pairs only WITHIN a cluster, exact-cosine gate them, and keep one
    * representative (min id) per connected component.
    *
    * The cluster assignment is the scale move: the pair space collapses
    * from corpus² to Σ|cluster|², and the per-cluster explosion runs
    * through [[Buckets.candidatePairs]] — capped membership (smallest ids
    * stay, drops ride as an observed metric), no self-join. Assignment
    * itself is the IVF map-only argmax against broadcast centroid
    * literals; training is sample-bounded Lloyd ([[ivfTrain]]). Precision
    * is 1.0 by construction (every merged pair passed the exact cosine
    * filter); recall is what clustering trades away — a twin whose
    * endpoints land in different clusters is missed, which the declared
    * query's recall gate measures against exact ground truth.
    *
    * Returns `(id, cid, rep, kept)`: `rep` is the component
    * representative (= own id when kept). */
  def semDedup(emb: DataFrame, idCol: String, vecCol: String,
      nClusters: Int, iters: Int, trainSample: Int,
      simThreshold: Double, bucketCap: Int, assignProbes: Int = 2): DataFrame = {
    require(nClusters >= 1 && simThreshold > 0 && simThreshold <= 1,
      s"bad args: $nClusters $simThreshold")
    require(assignProbes >= 1, s"assignProbes must be >= 1: $assignProbes")
    val base = emb.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val model = ivfTrain(base, nClusters, iters, trainSample)
    // multi-probe assignment: a row generates candidates in its
    // `assignProbes` nearest clusters (recall against boundary-straddling
    // pairs), but reports its top-1 cluster; candidatePairs' distinct
    // collapses pairs found through both probes
    val assigned = base
      .withColumn("cids", ivfAssignTopNCol(model, assignProbes))
      .withColumn("cid", col("cids").getItem(0))
      .localCheckpoint(true) // feeds pairs, two vector join-backs, output
    val pairs = Buckets.candidatePairs(
        assigned.select(col("id"), explode(col("cids")).as("cid")),
        Seq("cid"), "id", bucketCap, "semdedup_bucket_cap")
      .join(assigned.select(col("id").as("id_a"), col("v").as("va")), "id_a")
      .join(assigned.select(col("id").as("id_b"), col("v").as("vb")), "id_b")
      .filter(cosine(col("va"), col("vb")) >= simThreshold)
      .select("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs)
    assigned.select("id", "cid")
      .join(comps, Seq("id"), "left")
      .select(col("id"), col("cid"),
        coalesce(col("comp"), col("id")).as("rep"),
        (coalesce(col("comp"), col("id")) === col("id")).as("kept"))
  }

  /** SemDeDup over the embeddings table at cosine ≥ 0.4, 64 clusters.
    * The q52 gate convention: `n_exact_pairs` comes from the oracle's
    * exact probe-bounded scan, and `recall_ok` asserts ≥ 50% of those
    * exact near-dup pairs ended under one representative — clustering's
    * recall loss is measured, never hidden. Precision needs no gate
    * (exact cosine filter inside the operator). */
  def q158SemDedup(spark: SparkSession, dir: String): DataFrame = {
    val probeBound = 500
    val emb = Tables.embeddings(spark, dir)
    val out = semDedup(emb, "vec_id", "embedding", nClusters = 16,
      iters = 3, trainSample = 2048, simThreshold = 0.4, bucketCap = 256,
      assignProbes = 2)
    val base = emb.filter(col("vec_id") < probeBound)
      .select(col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<double>").as("v"))
    val exact = base.as("x").join(base.as("y"), col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        cosine(col("x.v"), col("y.v")).as("cos"))
      .filter(col("cos") >= 0.4)
      .select("id_a", "id_b")
    exact
      .join(out.select(col("id").as("id_a"), col("rep").as("ra")), "id_a")
      .join(out.select(col("id").as("id_b"), col("rep").as("rb")), "id_b")
      .agg(count(lit(1)).as("n_exact_pairs"),
        sum(when(col("ra") === col("rb"), 1L).otherwise(0L)).as("__hit"))
      .select(col("n_exact_pairs"),
        (col("__hit").cast("double") >=
          col("n_exact_pairs").cast("double") * 0.5).as("recall_ok"))
  }

  /** Embedding-distribution drift monitor: cosine and L2 distance between
    * the MEAN vectors of two corpus slices — the cheapest "did my
    * embedding distribution move" gate a training pipeline runs between
    * snapshots (centroid drift catches encoder swaps, domain shift, and
    * pipeline bugs before any ANN index is rebuilt). Exactness across
    * engines: each float component is quantized to DECIMAL(20,9) ONCE
    * (floats are ~7 significant digits, so the 9th-digit rounding is
    * tie-free), per-dimension sums are exact decimal adds (order-proof —
    * float accumulation would hash-differ run to run), means are single
    * double divisions, and the dot/norm/shift reductions sum
    * DECIMAL(38,18)-quantized per-dimension terms. One posexplode +
    * one dim-keyed groupBy (64 rows) + a 1-row finish. */
  def embeddingDrift(df: DataFrame, vecCol: String,
      sideA: Column): DataFrame = {
    val d = df.select(sideA.as("a"), posexplode(col(vecCol)).as(Seq("i", "v")))
      .withColumn("q", col("v").cast("decimal(20,9)"))
    val perDim = d.groupBy("i").agg(
      sum(when(col("a"), 1L).otherwise(0L)).as("na"),
      sum(when(col("a"), col("q")).otherwise(lit(0).cast("decimal(20,9)")))
        .cast("decimal(38,9)").as("sa"),
      sum(when(!col("a"), 1L).otherwise(0L)).as("nb"),
      sum(when(!col("a"), col("q")).otherwise(lit(0).cast("decimal(20,9)")))
        .cast("decimal(38,9)").as("sb"))
    val m = perDim
      .withColumn("ma", dd(col("sa")) / dd(col("na")))
      .withColumn("mb", dd(col("sb")) / dd(col("nb")))
      .agg(count(lit(1)).as("dims"), max(col("na")).as("n_a"),
        max(col("nb")).as("n_b"),
        sum((col("ma") * col("mb")).cast("decimal(38,18)"))
          .cast("decimal(38,18)").as("dot"),
        sum((col("ma") * col("ma")).cast("decimal(38,18)"))
          .cast("decimal(38,18)").as("qa"),
        sum((col("mb") * col("mb")).cast("decimal(38,18)"))
          .cast("decimal(38,18)").as("qb"),
        sum(((col("ma") - col("mb")) * (col("ma") - col("mb")))
          .cast("decimal(38,18)")).cast("decimal(38,18)").as("sh"))
    m.select(col("dims"), col("n_a"), col("n_b"),
      (dd(col("dot")) / (sqrt(dd(col("qa"))) * sqrt(dd(col("qb")))))
        .as("centroid_cosine"),
      sqrt(dd(col("sh"))).as("centroid_l2"))
  }

  /** Centroid drift between the even- and odd-id halves of the embedding
    * corpus (the snapshot-vs-snapshot comparison shape). */
  def q314EmbeddingDrift(spark: SparkSession, dir: String): DataFrame =
    embeddingDrift(Tables.embeddings(spark, dir), "embedding",
      col("vec_id") % 2 === 0)

  /** Matryoshka-truncation quality audit: for each dimension budget d,
    * how much of every vector survives keeping only its FIRST d
    * components — per-vector cosine(full, truncated) distilled to
    * √(prefix energy / total energy) (truncation zeroes the tail, so the
    * dot product IS the prefix energy), then the per-budget mean / min /
    * ≥0.9 share. The go/no-go table for serving truncated embeddings
    * from an MRL-style encoder at a fraction of the index cost.
    *
    * Determinism (the q314 contract): components quantize to
    * DECIMAL(20,9) once, per-vector energies are exact decimal sums of
    * double-exact squared terms, the cosine is two IEEE sqrt/÷ on those
    * decimals, and the corpus mean sums DECIMAL(38,12)-quantized
    * cosines. One posexplode + one vector-keyed groupBy + a 3-row
    * finish per budget. */
  def matryoshkaAudit(df: DataFrame, idCol: String, vecCol: String,
      budgets: Seq[Int]): DataFrame = {
    require(budgets.nonEmpty && budgets.forall(_ >= 1),
      s"budgets must be positive: $budgets")
    val e = df.select(col(idCol).as("id"),
        posexplode(col(vecCol)).as(Seq("i", "v")))
      .withColumn("q", col("v").cast("decimal(20,9)"))
      .withColumn("e", (dd(col("q")) * dd(col("q"))).cast("decimal(38,18)"))
    val zero = lit(0).cast("decimal(38,18)")
    val per = e.groupBy("id").agg(
      sum(col("e")).cast("decimal(38,18)").as("s_all"),
      budgets.map(b =>
        sum(when(col("i") < b, col("e")).otherwise(zero))
          .cast("decimal(38,18)").as(s"s_$b")): _*)
    val stacked = per.select(col("id"), col("s_all"), explode(expr(
        budgets.map(b => s"named_struct('d', $b, 'sd', s_$b)")
          .mkString("array(", ", ", ")"))).as("bs"))
      .select(col("bs.d").as("dim_budget"),
        (sqrt(dd(col("bs.sd"))) / sqrt(dd(col("s_all")))).as("cos"))
    stacked.groupBy("dim_budget")
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("cos").cast("decimal(38,12)")).cast("decimal(38,12)")
          .as("sc"),
        min(col("cos")).as("min_cosine"),
        sum(when(col("cos") >= 0.9, 1L).otherwise(0L)).as("nge"))
      .select(col("dim_budget"), col("n_vectors"),
        (dd(col("sc")) / dd(col("n_vectors"))).as("avg_cosine"),
        col("min_cosine"),
        (dd(col("nge")) / dd(col("n_vectors"))).as("share_ge_090"))
      .orderBy("dim_budget")
  }

  /** Can the 64-dim corpus serve at 8/16/32 dims — the truncation
    * quality table, hash-gated. */
  def q332MatryoshkaAudit(spark: SparkSession, dir: String): DataFrame =
    matryoshkaAudit(Tables.embeddings(spark, dir), "vec_id", "embedding",
      Seq(8, 16, 32))

  /** Embedding-space isotropy / effective-dimensionality audit: the
    * mean-vector energy share ‖μ‖²/E‖x‖² (a common-direction bias —
    * high values break cosine similarity, the "all vectors share a
    * dominant component" pathology Mu & Viswanath 2018 describe) and
    * the participation ratio (Σvar)²/Σvar² of per-dimension variances —
    * how many dimensions ACTUALLY carry variance (the quick scalar twin
    * of the q210/q219 PCA spectrum). One posexplode scan to per-dim
    * exact DECIMAL moments (the q314 float-quantization discipline),
    * a dims-row reduction, a 1-row finish. The pre-flight check before
    * trusting any cosine ANN index (q50/q93/q98) on a new encoder. */
  def embeddingIsotropy(df: DataFrame, vecCol: String): DataFrame = {
    val d = df.select(posexplode(col(vecCol)).as(Seq("i", "v")))
      .withColumn("q", col("v").cast("decimal(20,9)"))
    val perDim = d.groupBy("i").agg(count(lit(1)).as("n"),
        sum(col("q")).cast("decimal(38,9)").as("s"),
        sum((col("q") * col("q")).cast("decimal(38,18)"))
          .cast("decimal(38,18)").as("s2"))
      .withColumn("m", dd(col("s")) / dd(col("n")))
      .withColumn("ex2", dd(col("s2")) / dd(col("n")))
      .withColumn("va", col("ex2") - col("m") * col("m"))
    perDim.agg(count(lit(1)).as("dims"), max("n").as("n_vectors"),
        sum((col("m") * col("m")).cast("decimal(38,18)"))
          .cast("decimal(38,18)").as("mm"),
        sum(col("ex2").cast("decimal(38,18)")).cast("decimal(38,18)")
          .as("ee"),
        sum(col("va").cast("decimal(38,18)")).cast("decimal(38,18)")
          .as("sv"),
        sum((col("va") * col("va")).cast("decimal(38,18)"))
          .cast("decimal(38,18)").as("sv2"))
      .select(col("dims"), col("n_vectors"),
        dd(col("mm")).as("mean_norm_sq"), dd(col("ee")).as("avg_norm_sq"),
        (dd(col("mm")) / dd(col("ee"))).as("mean_share"),
        (dd(col("sv")) * dd(col("sv")) / dd(col("sv2")))
          .as("participation_dims"))
  }

  /** Is the embedding table cosine-safe — mean-direction energy share
    * and the effective number of variance-carrying dimensions. */
  def q380EmbeddingIsotropy(spark: SparkSession, dir: String): DataFrame =
    embeddingIsotropy(Tables.embeddings(spark, dir), "embedding")

  /** Greedy k-center coreset selection (Gonzalez 1985 2-approximation,
    * the "diverse subset" curation primitive sampling can't give —
    * q70/q79/q94 draw REPRESENTATIVE rows, this picks MAXIMALLY SPREAD
    * ones, the shape used for exemplar selection and annotation
    * budgets): seed with the smallest id, then k−1 rounds of "select
    * the point farthest from the selected set", maintaining each
    * point's min-distance-to-set. Distances are EXACT DECIMAL squared
    * L2 on (10,9)-quantized components, accumulated inside a codegen'd
    * `aggregate(zip_with(...))` fold with no precision-loss multiply —
    * so the argmax (tiebroken by id) is exactly reproducible, not a
    * float race. Each round is one scan + a 1-row driver collect
    * (model-sized); the min-distance column is localCheckpoint'ed so
    * lineage stays O(1) rounds. Returns (round, id, radius2) — the
    * radius2 trajectory IS the k-center cost curve. */
  /** Exact integer squared-L2 on the shared NANO-unit grid: each
    * component -> round(v*1e9) BIGINT (exact via (10,9) decimal
    * quantization); the per-dim squared diff multiplies in DECIMAL (a
    * long d*d wraps once |Δ| > ~3.03 — inside the (−10,10) guard range),
    * the sum accumulates in DECIMAL(38,0) (scale-0 adds never round under
    * the precision cap). The DuckDB twin sums HUGEINTs — decimal(38,18)
    * sums measured ~6 s per round there; integer sums are milliseconds.
    * Shared by [[greedyKCenter]]/[[hubnessAudit]]/[[embeddingDecontamination]]
    * — every caller MUST first pass [[requireNanoGridSafe]]. */
  private def nanoD2(a: String, b: String): String = s"""aggregate(
    |  zip_with($a, $b, (x, y) ->
    |    CAST(CAST(x AS DECIMAL(10,9)) * 1000000000 AS BIGINT)
    |      - CAST(CAST(y AS DECIMAL(10,9)) * 1000000000 AS BIGINT)),
    |  CAST(0 AS DECIMAL(38,0)),
    |  (acc, d) -> CAST(acc + CAST(d AS DECIMAL(38,0))
    |    * CAST(d AS DECIMAL(38,0)) AS DECIMAL(38,0)))""".stripMargin

  // r12 tight-loop twins of the nanoD2 SQL chain (HOFs are CodegenFallback,
  // interpreted per element — q385/q400/q411's whole pair-loop cost; see
  // [[graft.functions.NanoUnits]]): quantize each side ONCE per row, then
  // the per-pair distance is a pure long/128-bit loop. Same values, same
  // NULL semantics (equivalence pinned in Round12OpsSpec).
  private def nanoUnits(c: Column): Column =
    org.apache.spark.sql.graft.GraftBridge.column(graft.functions.NanoUnits(
      org.apache.spark.sql.graft.GraftBridge.expression(c)))
  private def nanoD2Longs(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.GraftBridge.column(graft.functions.NanoD2Longs(
      org.apache.spark.sql.graft.GraftBridge.expression(a),
      org.apache.spark.sql.graft.GraftBridge.expression(b)))

  /** The (10,9) quantization behind [[nanoD2]] NULLs any |component| ≥ 10
    * (and NaN) under non-ANSI Spark. A NULL pair distance is not an error
    * downstream — it silently drops the point from argmax/least updates,
    * ranks FIRST under Spark's NULLS-FIRST ascending sort (garbage top-k
    * "neighbors"), and falls out of `<= tau` flag sets. Fail loudly
    * instead: one cheap column-pruned scan, once per operator call. */
  private def requireNanoGridSafe(frame: DataFrame, vecCol: String,
      op: String): Unit = {
    val oob = frame.filter(exists(col(vecCol),
      x => abs(x) >= lit(10.0f) || isnan(x))).limit(1).count()
    require(oob == 0L, s"$op requires every vector component " +
      "in (-10, 10) and non-NaN (the exact-decimal nano-unit distance " +
      "grid); normalize or rescale the embedding first")
  }

  def greedyKCenter(df: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k >= 2, s"k >= 2: $k")
    val spark = df.sparkSession
    // nano units computed once per row at the checkpoint; each round's
    // distance is then the tight long-loop kernel (see nanoUnits above)
    val qv = df.select(col(idCol).cast("long").as("id"),
        col(vecCol).as("v"))
      .withColumn("vn", nanoUnits(col("v"))).drop("v")
      .localCheckpoint(false)
    requireNanoGridSafe(df.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("v")), "v", "greedyKCenter")
    val seed = qv.agg(min("id")).head().getLong(0)
    var mind = qv
      .crossJoin(broadcast(qv.filter(col("id") === seed)
        .select(col("vn").as("cvn"))))
      .select(col("id"), col("vn"), nanoD2Longs(col("vn"), col("cvn")).as("d"))
      .localCheckpoint(false)
    val picks = scala.collection.mutable.ArrayBuffer(
      (1L, seed, Option.empty[Double]))
    for (r <- 2 to k) {
      val top = mind.orderBy(desc("d"), col("id")).limit(1)
        .select(col("id"),
          (col("d").cast("double") / lit(1e18)).as("d")).head()
      picks += ((r.toLong, top.getLong(0), Some(top.getDouble(1))))
      val cv = qv.filter(col("id") === top.getLong(0))
        .select(col("vn").as("cvn"))
      val next = mind.crossJoin(broadcast(cv))
        .select(col("id"), col("vn"),
          least(col("d"), nanoD2Longs(col("vn"), col("cvn"))).as("d"))
        .localCheckpoint(false)
      mind.unpersist()
      mind = next
    }
    mind.unpersist()
    qv.unpersist()
    spark.createDataFrame(picks.toSeq.map { case (r, id, rad) =>
        (r, id, rad.map(Double.box).orNull.asInstanceOf[java.lang.Double])
      })
      .toDF("round", "vec_id", "radius2")
      .select(col("round"), col("vec_id"),
        col("radius2").cast("double").as("radius2"))
      .orderBy("round")
  }

  /** The 8 maximally spread embedding exemplars and the k-center
    * radius curve — the annotation-budget / exemplar shortlist. */
  def q385KCenterCoreset(spark: SparkSession, dir: String): DataFrame =
    greedyKCenter(Tables.embeddings(spark, dir), "vec_id", "embedding",
      k = 8)

  /** Embedding-hubness audit (Radovanović et al. 2010): over a
    * deterministic probe sample, count how often each vector appears in
    * another point's exact k-NN list. Heavy hubs are the high-dimension
    * pathology that silently degrades ANN retrieval quality (hub docs
    * surface for EVERYTHING) — the embedding-health check next to the
    * isotropy audit (q380): isotropy says the SPACE is skewed, hubness
    * says which POINTS absorb the neighborhoods. Distances are the exact
    * nano-unit integer squared-L2 of [[greedyKCenter]] (no float race in
    * ranks), probes broadcast against the streaming corpus (the q50
    * funnel shape — corpus never shuffles), per-probe top-k via a
    * probe-partitioned rank window, and the hub table is a k·|probes|-row
    * reduction. */
  def hubnessAudit(df: DataFrame, idCol: String, vecCol: String,
      probeMod: Long, k: Int, topHubs: Int,
      maxProbes: Long = 65536L): DataFrame = {
    // probeMod >= 2: probeMod = 1 makes every vector a probe — the
    // broadcast becomes the entire corpus and the crossJoin degenerates
    // to an O(n²) all-pairs product (ADVICE r10)
    require(probeMod >= 2 && k >= 1 && topHubs >= 1 && maxProbes >= 1,
      s"bad args: $probeMod $k $topHubs $maxProbes")
    val base = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("v"))
    requireNanoGridSafe(base, "v", "hubnessAudit")
    // nano units once per corpus row / probe row; the pair loop below is
    // the tight long-loop kernel (see nanoUnits above)
    val baseN = base.select(col("id"), nanoUnits(col("v")).as("vn"))
    val probes = baseN.filter(col("id") % probeMod === 0)
      .select(col("id").as("pid"), col("vn").as("pvn"))
    // The mod-sampled panel is a FIXED FRACTION of the corpus, so at 100×
    // scale the broadcast side is 100× today's payload — a hard executor
    // OOM, not a slowdown. Enforce a fixed-size panel (real usage passes a
    // bounded eval panel): 65536 probes × ~300 B/64-dim row ≈ 20 MB, well
    // inside default broadcast budgets. Fail loudly, never truncate — a
    // silently clipped panel would skew hub counts.
    val nProbes = probes.count()
    require(nProbes <= maxProbes, s"hubnessAudit probe panel has $nProbes " +
      s"rows > maxProbes=$maxProbes — the panel is broadcast, so it must " +
      "be a fixed-size eval panel, not a corpus fraction; raise probeMod " +
      "or pass an explicit bounded panel")
    val ranked = baseN.crossJoin(broadcast(probes))
      .filter(col("id") =!= col("pid"))
      .select(col("pid"), col("id"), nanoD2Longs(col("vn"), col("pvn")).as("dist"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("pid").orderBy(asc("dist"), asc("id")))
        .cast("long"))
      .filter(col("rank") <= k)
    ranked.groupBy("id")
      .agg(count(lit(1)).as("n_lists"), sum("rank").as("rank_sum"))
      .select(col("id").as("vec_id"), col("n_lists"),
        (dd(col("rank_sum")) / dd(col("n_lists"))).as("mean_rank"))
      .orderBy(desc("n_lists"), asc("vec_id"))
      .limit(topHubs)
  }

  /** The 20 heaviest neighborhood hubs over the 0-mod-1000 probe panel's
    * exact 10-NN lists — the retrieval-quality early warning. */
  def q400HubnessAudit(spark: SparkSession, dir: String): DataFrame =
    hubnessAudit(Tables.embeddings(spark, dir), "vec_id", "embedding",
      probeMod = 1000L, k = 10, topHubs = 20)

  /** Embedding-space train/eval decontamination summary: how many TRAIN
    * vectors sit within an exact squared-L2 radius of ANY eval-panel
    * vector — the semantic-leak check that n-gram decontamination (q83)
    * cannot see (a paraphrased eval item shares no 13-gram but lands
    * next to its source in embedding space). Distances are the exact
    * nano-unit integers of [[greedyKCenter]] — the flag set is
    * engine-exact, not a float race. Probes broadcast against the
    * streaming train side (the q50/q400 funnel shape), one left-semi
    * collapse to distinct flagged ids. At 100 TB the panel-vs-corpus
    * exact pass is the CONFIRMATION tail behind an ANN prefilter
    * (q51/q53/q98). */
  def embeddingDecontamination(df: DataFrame, idCol: String,
      vecCol: String, probeMod: Long, tau2Nano: Long,
      maxProbes: Long = 65536L): DataFrame = {
    require(probeMod >= 2 && tau2Nano > 0 && maxProbes >= 1,
      s"bad args: $probeMod $tau2Nano $maxProbes")
    val base = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("v"))
    // an out-of-grid train vector would get a NULL pair distance and
    // silently fall out of the `<= tau` flag set — a missed leak, the
    // worst failure mode a decontamination check can have (ADVICE r10)
    requireNanoGridSafe(base, "v", "embeddingDecontamination")
    // nano units once per row; the panel × corpus pair loop is the tight
    // long-loop kernel (see nanoUnits above — was 4.8 s of interpreted
    // HOF evaluation at sf0.1, the query's entire cost)
    val baseN = base.select(col("id"), nanoUnits(col("v")).as("vn"))
    val evalP = baseN.filter(col("id") % probeMod === 0)
      .select(col("id").as("pid"), col("vn").as("pvn"))
    val train = baseN.filter(col("id") % probeMod =!= 0)
    // fixed-size broadcast panel, same bound + rationale as [[hubnessAudit]]
    val nProbes = evalP.count()
    require(nProbes <= maxProbes, s"embeddingDecontamination eval panel " +
      s"has $nProbes rows > maxProbes=$maxProbes — the panel is " +
      "broadcast, so it must be a fixed-size eval panel, not a corpus " +
      "fraction; raise probeMod or pass an explicit bounded panel")
    val flagged = train.crossJoin(broadcast(evalP))
      .filter(nanoD2Longs(col("vn"), col("pvn")) <=
        lit(BigDecimal(tau2Nano)).cast("decimal(38,0)"))
      .select("id").distinct()
    val counts = train.agg(count(lit(1)).as("n_train"))
      .crossJoin(evalP.agg(count(lit(1)).as("n_eval")))
      .crossJoin(flagged.agg(count(lit(1)).as("n_flagged")))
    counts.select(col("n_eval"), col("n_train"), col("n_flagged"),
      (dd(col("n_flagged")) / dd(col("n_train"))).as("flag_rate"))
  }

  /** How much of the corpus leaks into the 1%-panel's semantic
    * neighborhood (squared-L2 ≤ 1.3 on the unit-ish synthetic
    * embeddings — the bottom ~0.5% of the pair-distance distribution,
    * measured at both SFs). */
  def q411EmbeddingDecontamination(spark: SparkSession,
      dir: String): DataFrame =
    embeddingDecontamination(Tables.embeddings(spark, dir), "vec_id",
      "embedding", probeMod = 100L, tau2Nano = 1300000000000000000L)

  /** The whole-corpus PC1 oracle (q210 and the q219 merge-law gate). */
  private def pcaPowerSql: String =
      (pcaCoreSql + ",\n" +
        """cv AS (
        |  SELECT c.j AS k, CAST(CAST(SUM(CAST(c.cval * v.v
        |    AS DECIMAL(38,18))) AS DECIMAL(38,18)) AS DOUBLE) AS wd
        |  FROM cov c JOIN v8 v ON v.k = c.k GROUP BY 1),
        |lam AS (
        |  SELECT CAST(CAST(SUM(CAST(v.v * cv.wd AS DECIMAL(38,18)))
        |    AS DECIMAL(38,18)) AS DOUBLE) AS eigenvalue
        |  FROM cv JOIN v8 v ON v.k = cv.k),
        |tr AS (
        |  SELECT CAST(CAST(SUM(CAST(cval AS DECIMAL(38,18)))
        |    AS DECIMAL(38,18)) AS DOUBLE) AS trace
        |  FROM cov WHERE j = k)
        |SELECT CAST(v.k - 1 AS INTEGER) AS pos, v.v AS loading,
        |  eigenvalue, eigenvalue / trace AS explained_frac
        |FROM v8 v CROSS JOIN lam CROSS JOIN tr
        |ORDER BY 1""".stripMargin)

  /** Shared PCA oracle core — the Spark fit's exact ladder through the
    * converged v8: fixed-point data-sized moments, DECIMAL(38,18)
    * model-sized iteration (MATERIALIZED per round; inlining would blow
    * up 3^rounds). */
  private def pcaCoreSql: String =
      """WITH ex AS MATERIALIZED (
        |  SELECT e.vec_id AS id, r.pos AS p,
        |    CAST(e.embedding[r.pos] AS DOUBLE) AS x
        |  FROM embeddings e,
        |    (SELECT CAST(unnest(range(1, 65)) AS INTEGER) AS pos) r),
        |cnt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM embeddings),
        |means AS MATERIALIZED (
        |  SELECT p AS mp,
        |    CAST(CAST(SUM(CAST(CAST(floor(x * 1e12 + 0.5) AS BIGINT)
        |      AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS DOUBLE)
        |      / (1e12 * (SELECT n FROM cnt)) AS m
        |  FROM ex GROUP BY 1),
        |mom AS (
        |  SELECT a.p AS j, b.p AS k,
        |    CAST(SUM(CAST(CAST(floor(a.x * b.x * 1e12 + 0.5) AS BIGINT)
        |      AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sjk
        |  FROM ex a JOIN ex b ON a.id = b.id GROUP BY 1, 2),
        |cov AS MATERIALIZED (
        |  SELECT j, k,
        |    CAST(sjk AS DOUBLE) / (1e12 * (SELECT n FROM cnt))
        |      - mj.m * mk.m AS cval
        |  FROM mom JOIN means mj ON mj.mp = j JOIN means mk ON mk.mp = k),
        |v0 AS (
        |  SELECT CAST(unnest(range(1, 65)) AS INTEGER) AS k,
        |    1.0 / sqrt(64.0) AS v),
        |""".stripMargin +
        (1 to 8).map(pcaIterSql).mkString(",\n")

  /** One unrolled power-iteration round (the q138 iterSql pattern): the
    * matrix-vector product and norm share the Spark plan's quantization
    * ladder exactly. */
  private def pcaIterSql(i: Int): String =
    s"""w$i AS MATERIALIZED (
       |  SELECT c.j, CAST(CAST(SUM(CAST(c.cval * v.v AS DECIMAL(38,18)))
       |    AS DECIMAL(38,18)) AS DOUBLE) AS wd
       |  FROM cov c JOIN v${i - 1} v ON v.k = c.k GROUP BY 1),
       |n$i AS (
       |  SELECT sqrt(CAST(CAST(SUM(CAST(wd * wd AS DECIMAL(38,18)))
       |    AS DECIMAL(38,18)) AS DOUBLE)) AS nrm FROM w$i),
       |v$i AS MATERIALIZED (
       |  SELECT j AS k, wd / (SELECT nrm FROM n$i) AS v FROM w$i)""".stripMargin

  val declared: Map[String, Query] = Map(
    "q411_embedding_decontamination" -> Query(q411EmbeddingDecontamination,
      """WITH qv AS MATERIALIZED (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |    CAST(CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(10,9))
        |      * 1000000000 AS BIGINT) AS q
        |  FROM embeddings),
        |pv AS MATERIALIZED (
        |  SELECT vec_id, i, q FROM qv WHERE vec_id % 100 = 0),
        |tv AS MATERIALIZED (
        |  SELECT vec_id, i, q FROM qv WHERE vec_id % 100 <> 0),
        |pd AS (
        |  SELECT t.vec_id AS id,
        |    SUM(CAST(t.q - p.q AS HUGEINT) * CAST(t.q - p.q AS HUGEINT))
        |      AS d
        |  FROM tv t JOIN pv p ON p.i = t.i
        |  GROUP BY t.vec_id, p.vec_id),
        |fl AS (
        |  SELECT CAST(COUNT(DISTINCT id) AS BIGINT) AS n_flagged
        |  FROM pd WHERE d <= 1300000000000000000),
        |sh AS (
        |  SELECT
        |    (SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) FROM pv)
        |      AS n_eval,
        |    (SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) FROM tv)
        |      AS n_train)
        |SELECT n_eval, n_train, n_flagged,
        |  CAST(n_flagged AS DOUBLE) / CAST(n_train AS DOUBLE)
        |    AS flag_rate
        |FROM sh, fl""".stripMargin),
    "q400_hubness_audit" -> Query(q400HubnessAudit,
      """WITH qv AS MATERIALIZED (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |    CAST(CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(10,9))
        |      * 1000000000 AS BIGINT) AS q
        |  FROM embeddings),
        |pv AS MATERIALIZED (
        |  SELECT vec_id, i, q FROM qv WHERE vec_id % 1000 = 0),
        |pd AS (
        |  SELECT p.vec_id AS pid, c.vec_id AS id,
        |    SUM(CAST(c.q - p.q AS HUGEINT) * CAST(c.q - p.q AS HUGEINT))
        |      AS d
        |  FROM qv c JOIN pv p ON p.i = c.i AND c.vec_id <> p.vec_id
        |  GROUP BY 1, 2),
        |rk AS (
        |  SELECT pid, id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY pid ORDER BY d, id)
        |      AS BIGINT) AS rank
        |  FROM pd),
        |top AS (
        |  SELECT id, CAST(COUNT(*) AS BIGINT) AS n_lists,
        |    CAST(SUM(rank) AS BIGINT) AS rank_sum
        |  FROM rk WHERE rank <= 10 GROUP BY id)
        |SELECT id AS vec_id, n_lists,
        |  CAST(rank_sum AS DOUBLE) / CAST(n_lists AS DOUBLE) AS mean_rank
        |FROM top ORDER BY n_lists DESC, vec_id LIMIT 20""".stripMargin),
    // 1-based generate_subscripts vs 0-based posexplode: the dim id is
    // only a group key, so the offset is irrelevant to the result.
    // float -> DOUBLE -> DECIMAL: DuckDB's direct float->decimal cast
    // rounds the SHORTEST representation (0.1f -> 0.100000000) while
    // Spark widens the exact binary value (-> 0.100000001); the explicit
    // DOUBLE hop pins the exact-widening semantics on both engines
    // prefix-energy identity: cos(full, first-d-then-zeros) =
    // sqrt(E_d / E_all); 1-based generate_subscripts i <= d mirrors the
    // 0-based posexplode i < d. Same DOUBLE-hop decimal quantization as
    // q314 (see that comment), per-vector energies exact decimal sums.
    "q332_matryoshka_audit" -> Query(q332MatryoshkaAudit,
      """WITH e AS (
        |  SELECT vec_id AS id, generate_subscripts(embedding, 1) AS i,
        |    CAST(CAST(CAST(CAST(unnest(embedding) AS DOUBLE)
        |        AS DECIMAL(20,9)) AS DOUBLE)
        |      * CAST(CAST(CAST(unnest(embedding) AS DOUBLE)
        |        AS DECIMAL(20,9)) AS DOUBLE) AS DECIMAL(38,18)) AS e
        |  FROM embeddings),
        |per AS (
        |  SELECT id, b.d,
        |    CAST(SUM(e.e) AS DECIMAL(38,18)) AS s_all,
        |    CAST(SUM(CASE WHEN e.i <= b.d THEN e.e
        |      ELSE CAST(0 AS DECIMAL(38,18)) END) AS DECIMAL(38,18)) AS sd
        |  FROM e CROSS JOIN
        |    (SELECT CAST(unnest([8, 16, 32]) AS INTEGER) AS d) b
        |  GROUP BY 1, 2),
        |cs AS (
        |  SELECT d, sqrt(CAST(sd AS DOUBLE)) / sqrt(CAST(s_all AS DOUBLE))
        |    AS cos
        |  FROM per)
        |SELECT d AS dim_budget, CAST(COUNT(*) AS BIGINT) AS n_vectors,
        |  CAST(CAST(SUM(CAST(cos AS DECIMAL(38,12))) AS DECIMAL(38,12))
        |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_cosine,
        |  MIN(cos) AS min_cosine,
        |  CAST(CAST(SUM(CASE WHEN cos >= 0.9 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS share_ge_090
        |FROM cs GROUP BY 1 ORDER BY 1""".stripMargin),
    "q314_embedding_drift" -> Query(q314EmbeddingDrift,
      """WITH d AS (
        |  SELECT vec_id % 2 = 0 AS a,
        |    generate_subscripts(embedding, 1) AS i,
        |    CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(20,9)) AS q
        |  FROM embeddings),
        |per AS (
        |  SELECT i,
        |    CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN a THEN q ELSE CAST(0 AS DECIMAL(20,9)) END)
        |      AS DECIMAL(38,9)) AS sa,
        |    CAST(SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |    CAST(SUM(CASE WHEN NOT a THEN q
        |      ELSE CAST(0 AS DECIMAL(20,9)) END) AS DECIMAL(38,9)) AS sb
        |  FROM d GROUP BY i),
        |mm AS (
        |  SELECT i, CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS ma,
        |    CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb, na, nb
        |  FROM per),
        |agg AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS dims,
        |    MAX(na) AS n_a, MAX(nb) AS n_b,
        |    CAST(SUM(CAST(ma * mb AS DECIMAL(38,18))) AS DECIMAL(38,18))
        |      AS dot,
        |    CAST(SUM(CAST(ma * ma AS DECIMAL(38,18))) AS DECIMAL(38,18))
        |      AS qa,
        |    CAST(SUM(CAST(mb * mb AS DECIMAL(38,18))) AS DECIMAL(38,18))
        |      AS qb,
        |    CAST(SUM(CAST((ma - mb) * (ma - mb) AS DECIMAL(38,18)))
        |      AS DECIMAL(38,18)) AS sh
        |  FROM mm)
        |SELECT dims, n_a, n_b,
        |  CAST(dot AS DOUBLE)
        |    / (sqrt(CAST(qa AS DOUBLE)) * sqrt(CAST(qb AS DOUBLE)))
        |    AS centroid_cosine,
        |  sqrt(CAST(sh AS DOUBLE)) AS centroid_l2
        |FROM agg""".stripMargin),
    // own-label centroid distances on the silhouette ladder; the cutoff
    // is quantile_cont (== Spark's exact R-7 percentile, the q193 rule)
    "q214_label_outliers" -> Query(q214LabelOutliers,
      """WITH ex AS (
        |  SELECT e.vec_id AS id, e.label AS lbl, r.pos,
        |    CAST(e.embedding[r.pos] AS DOUBLE) AS x
        |  FROM embeddings e,
        |    (SELECT CAST(unnest(range(1, 65)) AS INTEGER) AS pos) r),
        |cent AS (
        |  SELECT lbl AS clbl, pos AS cpos,
        |    CAST(CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DECIMAL(38,12))
        |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS c
        |  FROM ex GROUP BY 1, 2),
        |dist AS (
        |  SELECT ex.id, ex.lbl,
        |    sqrt(CAST(CAST(SUM(CAST((ex.x - c.c) * (ex.x - c.c)
        |      AS DECIMAL(38,18))) AS DECIMAL(38,18)) AS DOUBLE)) AS dist
        |  FROM ex JOIN cent c ON c.cpos = ex.pos AND c.clbl = ex.lbl
        |  GROUP BY 1, 2),
        |cut AS (
        |  SELECT lbl AS plbl, quantile_cont(dist, 0.95) AS p_cut
        |  FROM dist GROUP BY 1)
        |SELECT d.id AS vec_id, d.lbl AS label, d.dist, c.p_cut
        |FROM dist d JOIN cut c ON c.plbl = d.lbl
        |WHERE d.dist > c.p_cut
        |ORDER BY 1""".stripMargin),
    "q216_pc1_scores" -> Query(q216Pc1Scores,
      (pcaCoreSql + ",\n" +
        """proj AS (
        |  SELECT ex.id,
        |    CAST(CAST(SUM(CAST(CAST(floor((ex.x - m.m) * v.v * 1e12 + 0.5)
        |      AS BIGINT) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS DOUBLE)
        |      / 1e12 AS pc1_score
        |  FROM ex JOIN means m ON m.mp = ex.p JOIN v8 v ON v.k = ex.p
        |  GROUP BY 1)
        |SELECT id AS vec_id, pc1_score FROM proj ORDER BY 1""".stripMargin)),
    "q210_pca_power" -> Query(q210PcaPower, pcaPowerSql),
    // merged batch moments must reproduce the ONE-SHOT fit exactly —
    // the oracle is the full recompute
    "q219_incremental_pca" -> Query(q219IncrementalPca, pcaPowerSql),
    // DuckDB lists are 1-based; positions only need to be internally
    // consistent on each side. Same quantization ladder as the Spark plan.
    "q209_silhouette" -> Query(q209Silhouette,
      """WITH ex AS (
        |  SELECT e.vec_id AS id, e.label AS lbl, r.pos,
        |    CAST(e.embedding[r.pos] AS DOUBLE) AS x
        |  FROM embeddings e,
        |    (SELECT CAST(unnest(range(1, 65)) AS INTEGER) AS pos) r),
        |cent AS (
        |  SELECT lbl AS clbl, pos AS cpos,
        |    CAST(CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DECIMAL(38,12))
        |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS c
        |  FROM ex GROUP BY 1, 2),
        |terms AS (
        |  SELECT ex.id, ex.lbl, c.clbl,
        |    CAST(SUM(CAST((ex.x - c.c) * (ex.x - c.c) AS DECIMAL(38,18)))
        |      AS DECIMAL(38,18)) AS d2
        |  FROM ex JOIN cent c ON c.cpos = ex.pos
        |  GROUP BY 1, 2, 3),
        |per AS (
        |  SELECT id, lbl,
        |    sqrt(CAST(MIN(CASE WHEN clbl = lbl THEN d2 END) AS DOUBLE)) AS a,
        |    sqrt(CAST(MIN(CASE WHEN clbl <> lbl THEN d2 END) AS DOUBLE)) AS b
        |  FROM terms GROUP BY 1, 2),
        |sil AS (
        |  SELECT lbl, CASE WHEN a = b THEN 0.0
        |    ELSE (b - a) / greatest(a, b) END AS s
        |  FROM per)
        |SELECT lbl AS label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |  CAST(CAST(SUM(CAST(s AS DECIMAL(38,12))) AS DECIMAL(38,12))
        |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_silhouette
        |FROM sil GROUP BY 1 ORDER BY 1""".stripMargin),
    // both component rankings rebuilt from first principles (the generated
    // BM25 twin + list_cosine_similarity), fused with the same reciprocal
    // formula and rounding — the fused top-10 is hash-exact
    "q107_hybrid_rrf" -> Query(q107HybridRrf,
      s"""WITH sparse AS (
        |  SELECT id, rank FROM (
        |    SELECT doc_id AS id,
        |      CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
        |    FROM (
        |${TextAnalysis.bm25ScoredSql}
        |    ) bm) r WHERE rank <= 50),
        |dense AS (
        |  SELECT vec_id AS id, rank FROM (
        |    SELECT e.vec_id,
        |      CAST(ROW_NUMBER() OVER (ORDER BY
        |        list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |          (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)) DESC,
        |        e.vec_id) AS BIGINT) AS rank
        |    FROM embeddings e) t WHERE rank <= 50),
        |contrib AS (
        |  SELECT id, 1.0 / (60 + rank) AS c FROM sparse
        |  UNION ALL
        |  SELECT id, 1.0 / (60 + rank) AS c FROM dense),
        |fused AS (
        |  SELECT id, CAST(CAST(SUM(c) AS DECIMAL(18,6)) AS DOUBLE) AS rrf
        |  FROM contrib GROUP BY id),
        |top AS (SELECT id, rrf FROM fused ORDER BY rrf DESC, id LIMIT 10)
        |SELECT id AS doc_id, rrf FROM top ORDER BY doc_id""".stripMargin),
    "q181_knn_classify" -> Query(q181KnnClassify,
      """WITH probes AS (
        |  SELECT vec_id AS pid, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 25),
        |scored AS (
        |  SELECT p.pid, e.vec_id AS id, e.label AS lbl,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.qv)
        |      AS sim
        |  FROM embeddings e CROSS JOIN probes p WHERE e.vec_id <> p.pid),
        |top AS (
        |  SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY pid
        |      ORDER BY sim DESC, id) AS rank
        |    FROM scored) t
        |  WHERE rank <= 10),
        |votes AS (
        |  SELECT pid, lbl, CAST(COUNT(*) AS BIGINT) AS votes
        |  FROM top GROUP BY 1, 2)
        |SELECT pid AS vec_id, lbl AS predicted_label, votes
        |FROM votes
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY pid
        |  ORDER BY votes DESC, lbl) = 1
        |ORDER BY vec_id""".stripMargin),
    "q50_knn_brute" -> Query(q50KnnBrute,
      """SELECT vec_id, rank FROM (
        |  SELECT e.vec_id,
        |    CAST(ROW_NUMBER() OVER (ORDER BY
        |      list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |        (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)) DESC,
        |      e.vec_id) AS BIGINT) AS rank
        |  FROM embeddings e) t
        |WHERE rank <= 10 ORDER BY rank""".stripMargin),
    "q51_ann_lsh" -> Query(q51AnnLsh,
      "SELECT CAST(5 AS BIGINT) AS n_results, true AS recall_ok"),
    "q53_ann_ivf" -> Query(q53AnnIvf,
      "SELECT CAST(5 AS BIGINT) AS n_results, true AS recall_ok"),
    "q93_ann_pq" -> Query(q93AnnPq,
      "SELECT CAST(5 AS BIGINT) AS n_results, true AS recall_ok"),
    "q96_pq_index_query" -> Query(q96PqIndexQuery,
      "SELECT CAST(5 AS BIGINT) AS n_results, true AS recall_ok"),
    "q98_ann_ivfpq" -> Query(q98AnnIvfPq,
      "SELECT CAST(5 AS BIGINT) AS n_results, true AS recall_ok"),
    "q52_embedding_near_dup" -> Query(q52EmbeddingNearDup,
      """SELECT COUNT(*) AS n_exact_pairs, true AS recall_ok
        |FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id
        |WHERE x.vec_id < 500 AND y.vec_id < 500
        |  AND list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
        |  CAST(y.embedding AS DOUBLE[])) >= 0.4""".stripMargin),
    // same exact probe-bounded ground truth as q52; the engine side must
    // re-find >= 50% of these pairs through its cluster-bucketed pipeline
    "q158_semdedup" -> Query(q158SemDedup,
      """SELECT COUNT(*) AS n_exact_pairs, true AS recall_ok
        |FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id
        |WHERE x.vec_id < 500 AND y.vec_id < 500
        |  AND list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
        |  CAST(y.embedding AS DOUBLE[])) >= 0.4""".stripMargin),
    "q380_embedding_isotropy" -> Query(q380EmbeddingIsotropy,
      """WITH d AS (
        |  SELECT generate_subscripts(embedding, 1) AS i,
        |    CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(20,9)) AS q
        |  FROM embeddings),
        |per AS (
        |  SELECT i, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(q) AS DECIMAL(38,9)) AS s,
        |    CAST(SUM(CAST(q * q AS DECIMAL(38,18))) AS DECIMAL(38,18))
        |      AS s2
        |  FROM d GROUP BY i),
        |mm AS (
        |  SELECT i, n, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m,
        |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS ex2
        |  FROM per),
        |vv AS (SELECT i, n, m, ex2, ex2 - m * m AS va FROM mm),
        |agg AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS dims,
        |    CAST(MAX(n) AS BIGINT) AS n_vectors,
        |    CAST(SUM(CAST(m * m AS DECIMAL(38,18))) AS DECIMAL(38,18))
        |      AS mmx,
        |    CAST(SUM(CAST(ex2 AS DECIMAL(38,18))) AS DECIMAL(38,18))
        |      AS ee,
        |    CAST(SUM(CAST(va AS DECIMAL(38,18))) AS DECIMAL(38,18))
        |      AS sv,
        |    CAST(SUM(CAST(va * va AS DECIMAL(38,18))) AS DECIMAL(38,18))
        |      AS sv2
        |  FROM vv)
        |SELECT dims, n_vectors, CAST(mmx AS DOUBLE) AS mean_norm_sq,
        |  CAST(ee AS DOUBLE) AS avg_norm_sq,
        |  CAST(mmx AS DOUBLE) / CAST(ee AS DOUBLE) AS mean_share,
        |  CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(sv2 AS DOUBLE)
        |    AS participation_dims
        |FROM agg""".stripMargin),
    "q385_kcenter_coreset" -> Query(q385KCenterCoreset, (
      """WITH qv AS MATERIALIZED (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |    CAST(CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(10,9))
        |      * 1000000000 AS BIGINT) AS q
        |  FROM embeddings),
        |sv AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 1),
        |m1 AS MATERIALIZED (
        |  SELECT a.vec_id, SUM(CAST(a.q - b.q AS HUGEINT)
        |    * CAST(a.q - b.q AS HUGEINT)) AS d
        |  FROM qv a JOIN (SELECT qv.i, qv.q FROM qv
        |    JOIN sv ON qv.vec_id = sv.vec_id) b ON b.i = a.i
        |  GROUP BY 1),""".stripMargin + "\n" +
      (2 to 8).map(kcRoundSql).mkString(",\n") + "\n" +
      """SELECT CAST(1 AS BIGINT) AS round, sv.vec_id,
        |  CAST(NULL AS DOUBLE) AS radius2 FROM sv
        |""".stripMargin +
      (2 to 8).map(r =>
        s"UNION ALL SELECT CAST($r AS BIGINT), vec_id, rad FROM c$r\n")
        .mkString +
      "ORDER BY round")))

  /** One unrolled k-center round for the q385 oracle: pick the argmax
    * of the previous min-distance table (exact-decimal compare, id
    * tiebreak), then fold its distances in with LEAST. */
  private def kcRoundSql(r: Int): String =
    s"""c$r AS MATERIALIZED (SELECT vec_id,
       |    CAST(d AS DOUBLE) / 1e18 AS rad
       |  FROM m${r - 1} ORDER BY d DESC, vec_id LIMIT 1),
       |dd$r AS MATERIALIZED (
       |  SELECT a.vec_id, SUM(CAST(a.q - b.q AS HUGEINT)
       |    * CAST(a.q - b.q AS HUGEINT)) AS d
       |  FROM qv a JOIN (SELECT qv.i, qv.q FROM qv
       |    JOIN c$r ON qv.vec_id = c$r.vec_id) b ON b.i = a.i
       |  GROUP BY 1),
       |m$r AS MATERIALIZED (
       |  SELECT m.vec_id, LEAST(m.d, dd$r.d) AS d
       |  FROM m${r - 1} m JOIN dd$r ON dd$r.vec_id = m.vec_id)"""
      .stripMargin
}
