package graft

import graft.functions.{BloomAgg, CosineSimilarity, HyperplaneLsh, LangId, QualityScore, ShingleHashes, SimHash, SketchAgg, SketchRead}
import graft.sketch.{DdSketch, KllDoubles, ThetaSketch}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.graft.GraftBridge

/** User-facing function surface of the engine: DataFrame `Column` API plus
  * SQL registration, replacing the reference's Hive deployment surface
  * (`ADD JAR` + `CREATE TEMPORARY FUNCTION`, README.markdown:5).
  *
  * SQL usage after [[GraftFunctions.register]] (matches the reference's
  * documented call shapes, UDAFCardinalityEstimator.java:66-68):
  * {{{
  *   SELECT k, approx_distinct(x) FROM t GROUP BY k
  *   SELECT approx_distinct(x, 'lc', 1000000) FROM t
  *   SELECT approx_distinct(stored_sketch_struct) FROM daily  -- re-aggregation
  *   SELECT sketch_estimate(s), sketch_union(s1, s2),
  *          sketch_intersection_estimate(s1, s2), sketch_merge_agg(bin) ...
  * }}}
  */
object GraftFunctions {

  private def col(e: Expression): Column = GraftBridge.column(e)
  private def expr(c: Column): Expression = GraftBridge.expression(c)

  /** A declared sketch aggregate ([[graft.functions.SketchAgg.functions]])
    * called with `args` in SQL argument order. */
  private def sketch(name: String, args: Expression*): Column =
    col(SketchAgg.fn(name).build(args).toAggregateExpression())

  /** A declared stored-sketch reader ([[graft.functions.SketchRead.functions]])
    * called with `args` in SQL argument order. */
  private def read(name: String, args: Column*): Column =
    col(SketchRead.fn(name).build(args.map(expr)))

  /** `approx_distinct(col)` with defaults (HLL, b=16). */
  def approx_distinct(c: Column): Column = sketch("approx_distinct", expr(c))

  /** `approx_distinct(col, algo, precision)`; algo in {"hll","lc"}; precision
    * -1 = default (HLL b=16 / LC 1,000,000 bytes). */
  def approx_distinct(c: Column, algo: String, precision: Int = -1): Column =
    sketch("approx_distinct", expr(c), Literal(algo), Literal(precision))

  /** Aggregate-merge of a BINARY serialized-sketch column (our analogue of
    * Spark's `hll_union_agg` convention; the struct path of `approx_distinct`
    * covers the reference's own re-aggregation form). */
  def sketch_merge_agg(c: Column): Column = sketch("sketch_merge_agg", expr(c))

  /** `approx_top_k(item, k, capacity)` — mergeable SpaceSaving heavy
    * hitters (see [[graft.functions.ApproxTopK]]). */
  def approx_top_k(c: Column, k: Int = 10,
      capacity: Int = functions.ApproxTopK.DefaultCapacity): Column =
    sketch("approx_top_k", expr(c), Literal(k), Literal(capacity))

  /** Heavy hitters ranked by a summed integral measure instead of
    * occurrence count (top brands by quantity, top tokens by doc weight). */
  def approx_top_k_weighted(c: Column, weight: Column, k: Int = 10,
      capacity: Int = functions.ApproxTopK.DefaultCapacity): Column =
    sketch("approx_top_k_weighted", expr(c), expr(weight), Literal(k), Literal(capacity))

  /** Serialized SpaceSaving summary of a group, for storing (the heavy-
    * hitter analogue of a stored sketch). */
  def topk_sketch_agg(c: Column,
      capacity: Int = functions.ApproxTopK.DefaultCapacity): Column =
    sketch("topk_sketch_agg", expr(c), Literal(capacity))

  /** Aggregate-merge of BINARY serialized SpaceSaving summaries
    * (store-then-merge for heavy hitters). */
  def topk_merge_agg(c: Column, k: Int = 10,
      capacity: Int = functions.ApproxTopK.DefaultCapacity): Column =
    sketch("topk_merge_agg", expr(c), Literal(k), Literal(capacity))

  /** `replicate_moments_agg(h, v, r)` — single-pass per-replicate pseudo-arm
    * moments for the re-randomization test (one R×(count, exact 128-bit sum)
    * buffer per group; see [[graft.functions.ReplicateMoments]]). Replaces
    * the ×R explode + (group × replicate) aggregation with one scan. */
  def replicate_moments(h: Column, v: Column, r: Int): Column =
    col(functions.ReplicateMoments(expr(h), expr(v), Literal(r))
      .toAggregateExpression())

  /** `bootstrap_moments_agg(h, v, b)` — single-pass per-replicate
    * Poissonized-bootstrap moments (one B×(weight-sum, exact 128-bit
    * weighted sum) buffer per group; see
    * [[graft.functions.BootstrapMoments]]). */
  def bootstrap_moments(h: Column, v: Column, b: Int): Column =
    col(functions.BootstrapMoments(expr(h), expr(v), Literal(b))
      .toAggregateExpression())

  private def probsLit(probs: Seq[Double]): Expression =
    org.apache.spark.sql.catalyst.expressions.CreateArray(probs.map(Literal(_)))

  /** `approx_quantiles(x, probs, k)` — mergeable KLL quantile estimates
    * (see [[graft.functions.ApproxQuantiles]]). */
  def approx_quantiles(c: Column, probs: Seq[Double],
      k: Int = KllDoubles.DefaultK): Column =
    sketch("approx_quantiles", expr(c), probsLit(probs), Literal(k))

  /** Serialized KLL sketch of a group, for storing. */
  def kll_sketch_agg(c: Column, k: Int = KllDoubles.DefaultK): Column =
    sketch("kll_sketch_agg", expr(c), Literal(k))

  /** Aggregate-merge of BINARY serialized KLL sketches, evaluated at the
    * given probabilities (store-then-merge for quantiles). */
  def kll_merge_agg(c: Column, probs: Seq[Double],
      k: Int = KllDoubles.DefaultK): Column =
    sketch("kll_merge_agg", expr(c), probsLit(probs), Literal(k))

  /** `dd_quantiles(x, probs, alpha)` — mergeable DDSketch quantile
    * estimates with a RELATIVE-error guarantee (vs KLL's rank error;
    * see [[graft.functions.DdQuantiles]]). */
  def dd_quantiles(c: Column, probs: Seq[Double],
      alpha: Double = DdSketch.DefaultAlpha): Column =
    sketch("dd_quantiles", expr(c), probsLit(probs), Literal(alpha))

  /** Serialized DDSketch of a group, for storing. */
  def dd_sketch_agg(c: Column, alpha: Double = DdSketch.DefaultAlpha): Column =
    sketch("dd_sketch_agg", expr(c), Literal(alpha))

  /** Aggregate-merge of BINARY serialized DDSketches, evaluated at the
    * given probabilities (store-then-merge for relative-error
    * quantiles). */
  def dd_merge_agg(c: Column, probs: Seq[Double],
      alpha: Double = DdSketch.DefaultAlpha): Column =
    sketch("dd_merge_agg", expr(c), probsLit(probs), Literal(alpha))

  /** `theta_sketch_agg(x, k)` — serialized theta sketch of a column
    * (distinct counting + bounded-error set algebra; see
    * [[graft.sketch.ThetaSketch]]). */
  def theta_sketch_agg(c: Column, k: Int = ThetaSketch.DefaultK): Column =
    sketch("theta_sketch_agg", expr(c), Literal(k))

  /** Aggregate-merge of BINARY serialized theta sketches (store-then-merge
    * for set algebra). */
  def theta_merge_agg(c: Column): Column = sketch("theta_merge_agg", expr(c))

  /** Distinct-count estimate of a stored theta sketch. */
  def theta_estimate(c: Column): Column = read("theta_estimate", c)

  /** Retained-entry count — with [[theta_fraction]] this exposes the
    * sketch's own error bound (RSE ≈ √(1−θ)/√(c−1)) in-query. */
  def theta_retained(c: Column): Column = read("theta_retained", c)

  /** Sampling fraction θ ∈ (0, 1] of a stored theta sketch. */
  def theta_fraction(c: Column): Column = read("theta_fraction", c)

  /** Sketch of A ∪ B. */
  def theta_union(a: Column, b: Column): Column = read("theta_union", a, b)

  /** Sketch of A ∩ B — error proportional to the intersection, not the
    * union (the bounded-error realization of the reference stub's "set
    * intersection" TODO). */
  def theta_intersect(a: Column, b: Column): Column = read("theta_intersect", a, b)

  /** Sketch of A \ B. */
  def theta_difference(a: Column, b: Column): Column = read("theta_difference", a, b)

  /** Jaccard similarity estimate |A∩B| / |A∪B| from two stored theta
    * sketches (NULL is the empty set: J(∅, B) = 0). */
  def theta_jaccard(a: Column, b: Column): Column = read("theta_jaccard", a, b)

  /** `cm_sketch_agg(x, width, depth)` — serialized Count-Min sketch of a
    * column (point-frequency estimates; see [[graft.sketch.CountMin]]). */
  def cm_sketch_agg(c: Column, width: Int = graft.sketch.CountMin.DefaultWidth,
      depth: Int = graft.sketch.CountMin.DefaultDepth): Column =
    sketch("cm_sketch_agg", expr(c), Literal(width), Literal(depth))

  /** Aggregate-merge of BINARY serialized Count-Min sketches
    * (store-then-merge; additive — follow the append-once store discipline).
    * Takes no width/depth: the stored sketches carry their own shape. CM
    * counters genuinely cannot re-bin, so sketches of DIFFERENT shapes in
    * one store raise a [[graft.sketch.SketchMergeException]] at merge time
    * (unlike SpaceSaving/KLL/theta, which widen to the weaker parameter). */
  def cm_merge_agg(c: Column): Column = sketch("cm_merge_agg", expr(c))

  /** `agms_sketch_agg(x[, width[, depth]])` — serialized Count-Sketch of a
    * join-key column (see [[graft.functions.AgmsAgg]]). */
  def agms_sketch_agg(c: Column,
      width: Int = graft.sketch.CountSketch.DefaultWidth,
      depth: Int = graft.sketch.CountSketch.DefaultDepth): Column =
    sketch("agms_sketch_agg", expr(c), Literal(width), Literal(depth))

  /** Aggregate-merge of BINARY serialized count-sketches. */
  def agms_merge_agg(c: Column): Column = sketch("agms_merge_agg", expr(c))

  /** `agms_join_size(a, b)` — equi-join cardinality estimate from two
    * parallel count-sketches. */
  def agms_join_size(a: Column, b: Column): Column = read("agms_join_size", a, b)

  /** `agms_f2(bin)` — second-moment (self-join size) estimate. */
  def agms_f2(c: Column): Column = read("agms_f2", c)

  /** `cm_estimate(bin, key)` — point-frequency estimate (never under). */
  def cm_estimate(sketch: Column, key: Column): Column = read("cm_estimate", sketch, key)

  /** `cm_total(bin)` — total offered weight of a stored count-min sketch. */
  def cm_total(sketch: Column): Column = read("cm_total", sketch)

  /** `bloom_agg(x, numBits, numHashes)` — serialized Bloom filter of a
    * column (the runtime-filter build side; see [[graft.functions.BloomAgg]]). */
  def bloom_agg(c: Column, numBits: Int = BloomAgg.DefaultNumBits,
      numHashes: Int = BloomAgg.DefaultNumHashes): Column =
    sketch("bloom_agg", expr(c), Literal(numBits), Literal(numHashes))

  /** Aggregate-merge of BINARY serialized Bloom filters (bitwise OR). */
  def bloom_merge_agg(c: Column, numBits: Int = BloomAgg.DefaultNumBits,
      numHashes: Int = BloomAgg.DefaultNumHashes): Column =
    sketch("bloom_merge_agg", expr(c), Literal(numBits), Literal(numHashes))

  /** `might_contain(bloom, x)` — probe a serialized Bloom filter; false is
    * definitive (no false negatives). */
  def might_contain(bloom: Column, c: Column): Column = read("might_contain", bloom, c)

  /** 64-bit Charikar SimHash of a token array (near-dup fingerprint). */
  def simhash(c: Column): Column = col(SimHash(expr(c)))

  /** SimHash with the MD5-derived token hash — bit-identically reproducible
    * by external engines (see [[graft.functions.SimHash]] scaladoc). */
  def simhash_md5(c: Column): Column = col(SimHash(expr(c), SimHash.Md5))

  /** Cosine similarity of two numeric-array columns (double accumulation). */
  def cosine_similarity(a: Column, b: Column): Column =
    col(CosineSimilarity(expr(a), expr(b)))

  /** Distinct 64-bit hashes of the word-level k-shingles of a text column. */
  def shingle_hashes(c: Column, k: Int): Column = col(ShingleHashes(expr(c), k))

  /** Single-pass MinHash-LSH band hashes of a text column (see
    * [[graft.functions.MinHashBands]]). */
  def minhash_bands(c: Column, k: Int, numPerms: Int, bands: Int): Column =
    col(functions.MinHashBands(expr(c), k, numPerms, bands))

  /** Random-hyperplane LSH signature of an embedding (one hash table). */
  def hyperplane_lsh(c: Column, dim: Int, nBits: Int, table: Int): Column =
    col(HyperplaneLsh(expr(c), dim, nBits, table))

  def sketch_estimate(c: Column): Column = read("sketch_estimate", c)
  def sketch_union(a: Column, b: Column): Column = read("sketch_union", a, b)
  def sketch_intersection_estimate(a: Column, b: Column): Column =
    read("sketch_intersection_estimate", a, b)

  private def arity(name: String, n: Int)(
      b: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs =>
      if (exprs.length == n) b(exprs)
      else throw new IllegalArgumentException(
        s"$name requires exactly $n argument(s), got ${exprs.length}")

  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** The complete SQL function surface: (name, usage, builder). Consumed by
    * both [[register]] (runtime, FunctionRegistry) and
    * [[GraftExtensions]] (session build time, injectFunction). */
  val sqlFunctions: Seq[(String, String, Seq[Expression] => Expression)] =
    SketchAgg.functions.map(f => (f.name, f.usage, f.build _)) ++
    SketchRead.functions.map(f => (f.name, f.usage, f.build _)) ++ Seq(
    ("simhash", "simhash(tokens) - 64-bit Charikar SimHash",
      arity("simhash", 1)(e => SimHash(e.head))),
    ("simhash_md5", "simhash_md5(tokens) - SimHash with cross-engine-reproducible MD5 token hash",
      arity("simhash_md5", 1)(e => SimHash(e.head, SimHash.Md5))),
    ("md5_hash64", "md5_hash64(s) - cross-engine-reproducible 64-bit hash (first 8 md5 bytes)",
      arity("md5_hash64", 1)(e => functions.Md5Hash64(e.head))),
    ("jaro_winkler", "jaro_winkler(a, b) - Jaro-Winkler similarity in [0,1]",
      arity("jaro_winkler", 2)(e => functions.JaroWinkler(e(0), e(1)))),
    ("cosine_similarity", "cosine_similarity(a, b) - cosine of numeric arrays",
      arity("cosine_similarity", 2)(e => CosineSimilarity(e(0), e(1)))),
    ("shingle_hashes", "shingle_hashes(text, k) - distinct k-shingle hashes",
      arity("shingle_hashes", 2)(e => ShingleHashes(e(0), litInt(e(1), "shingle size k")))),
    ("minhash_bands", "minhash_bands(text, k, numPerms, bands) - single-pass MinHash LSH band hashes",
      arity("minhash_bands", 4)(e => functions.MinHashBands(e(0),
        litInt(e(1), "shingle size k"), litInt(e(2), "numPerms"), litInt(e(3), "bands")))),
    ("hyperplane_lsh", "hyperplane_lsh(vec, dim, nBits, table) - LSH signature",
      arity("hyperplane_lsh", 4)(e => HyperplaneLsh(e(0), litInt(e(1), "dim"),
        litInt(e(2), "nBits"), litInt(e(3), "table")))),
    ("lang_id", "lang_id(text) - stopword-overlap language ID",
      arity("lang_id", 1)(e => LangId(e.head))),
    ("quality_score", "quality_score(text) - [0,1] text quality heuristic",
      arity("quality_score", 1)(e => QualityScore(e.head))))

  /** Idempotently install on a session what [[GraftExtensions]] injects:
    * every engine function in its FunctionRegistry so plain SQL can call them
    * (the Catalyst analogue of the reference's resolver entry point,
    * UDAFCardinalityEstimator.java:100-148; literal-argument validation
    * happens in checkInputDataTypes), and [[graft.plans.AsOfJoinStrategy]]
    * among its experimental strategies unless already there.
    * [[graft.Session.local]] sessions come registered; call this once on a
    * session the engine did not build.
    *
    * Deliberate in-session shadowing: Spark 4.1 ships DataSketches-backed
    * `theta_sketch_agg`/`theta_union`/`theta_difference` built-ins;
    * registering ours replaces them for this session so the whole theta
    * family (incl. `theta_merge_agg`, `theta_intersect`, `theta_retained`,
    * `theta_fraction`) shares ONE wire format with canonical
    * partition-invariant bytes — mixing two incompatible binary formats
    * under one name prefix would be worse than the shadow. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (name, _, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
    val strategies = spark.experimental.extraStrategies
    if (!strategies.contains(graft.plans.AsOfJoinStrategy))
      spark.experimental.extraStrategies = strategies :+ graft.plans.AsOfJoinStrategy
  }
}
