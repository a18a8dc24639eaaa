package graft.operators

import graft.sources.Tables

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Record linkage (entity resolution): match dirty records back to a
  * master table by blocked fuzzy join.
  *
  * The canonical all-pairs formulation is O(probe × master) string
  * comparisons — dead at any scale. The standard decomposition (Fellegi–
  * Sunter blocking) keeps it linear-ish:
  *
  *   1. BLOCK: a cheap deterministic key that any true match pair is
  *      guaranteed (or overwhelmingly likely) to share — pair space
  *      collapses from |P|·|M| to Σ_b |P_b|·|M_b|.
  *   2. SCORE: an edit-distance (or other similarity) only within blocks
  *      — Spark's codegen'd `levenshtein`, no UDF.
  *   3. RESOLVE: arg-min per probe record with a total-order tie-break,
  *      as ONE hash aggregation (`min` of a (dist, key) struct — no
  *      window sort needed).
  *
  * At 100 TB the join shuffles on the block key; block-size skew is the
  * operator's one hazard, so the builder exposes per-block candidate
  * counts ([[blockProfile]]) — the `substringDupPairs` observability
  * discipline — letting a pipeline assert its blocking key keeps the
  * biggest block bounded before paying for the scoring pass.
  */
object Linkage {

  /** Best master match per probe record: block-equijoin, levenshtein
    * score, arg-min with the deterministic (distance, master key) lexical
    * tie-break. Probe rows with NO candidate in their block are dropped
    * (an outer variant is one `join("left")` away; the declared query
    * exercises the guaranteed-block case). */
  def blockedFuzzyJoin(probe: DataFrame, probeId: String, probeName: String,
      master: DataFrame, masterId: String, masterName: String,
      blockKey: Column => Column): DataFrame = {
    val p = probe.select(col(probeId).as("__pid"), col(probeName).as("__pname"),
      blockKey(col(probeName)).as("__blk"))
    val m = master.select(col(masterId).as("__mid"), col(masterName).as("__mname"),
      blockKey(col(masterName)).as("__blk"))
    p.join(m, "__blk")
      .select(col("__pid"), col("__pname"),
        struct(levenshtein(col("__pname"), col("__mname")).cast("long").as("d"),
          col("__mid").as("mid")).as("__cand"))
      .groupBy("__pid", "__pname")
      .agg(min(col("__cand")).as("best"))
      .select(col("__pid").as(probeId), col("__pname").as(probeName),
        col("best.mid").as(masterId), col("best.d").as("dist"))
  }

  /** Per-block candidate volume — the skew observability for
    * [[blockedFuzzyJoin]]: rows per block on each side and the implied
    * pair count, largest first. */
  def blockProfile(probe: DataFrame, probeName: String, master: DataFrame,
      masterName: String, blockKey: Column => Column): DataFrame = {
    val pc = probe.groupBy(blockKey(col(probeName)).as("blk"))
      .agg(count(lit(1)).as("n_probe"))
    val mc = master.groupBy(blockKey(col(masterName)).as("blk"))
      .agg(count(lit(1)).as("n_master"))
    pc.join(mc, Seq("blk"), "full_outer")
      .na.fill(0L, Seq("n_probe", "n_master"))
      .withColumn("n_pairs", col("n_probe") * col("n_master"))
      .orderBy(desc("n_pairs"))
  }

  /** Best master match per probe under an arbitrary similarity scorer
    * (HIGHER = better), same blocked shape as [[blockedFuzzyJoin]]:
    * block-equijoin, score within blocks, arg-MAX per probe with the
    * deterministic (score desc, master key asc) tie-break — again ONE
    * hash aggregation via a `min(struct(-score, key))`, no window sort.
    * Callers should pass a scorer quantized to a fixed DECIMAL so the
    * tie-break domain is engine-independent. */
  def blockedBestMatch(probe: DataFrame, probeId: String, probeName: String,
      master: DataFrame, masterId: String, masterName: String,
      blockKey: Column => Column,
      scorer: (Column, Column) => Column): DataFrame = {
    val p = probe.select(col(probeId).as("__pid"), col(probeName).as("__pname"),
      blockKey(col(probeName)).as("__blk"))
    val m = master.select(col(masterId).as("__mid"), col(masterName).as("__mname"),
      blockKey(col(masterName)).as("__blk"))
    p.join(m, "__blk")
      .select(col("__pid"), col("__pname"),
        struct((-scorer(col("__pname"), col("__mname"))).as("negsim"),
          col("__mid").as("mid")).as("__cand"))
      .groupBy("__pid", "__pname")
      .agg(min(col("__cand")).as("best"))
      .select(col("__pid").as(probeId), col("__pname").as(probeName),
        col("best.mid").as(masterId), (-col("best.negsim")).as("sim"))
  }

  // ---- declared query ----

  /** ER round trip on the customer master: every customer name perturbed
    * by REVERSING its last three digits (a deterministic "typo" both
    * engines reproduce bit-for-bit), then resolved back against the
    * master with a permutation-invariant block key — name prefix + the
    * multiset (as sum) of the last-3 digit codes, both preserved by the
    * reversal, so the true source is always in the candidate block while
    * blocks stay ~1/28th of a prefix group. Scoring may legitimately
    * prefer a DIFFERENT master at distance 0 (a customer whose name IS
    * the reversal); the (dist, key) tie-break makes the winner unique
    * either way, so the gate is a strict hash match, and `self_match`
    * reports the resolution-accuracy view a pipeline would monitor. */
  def q123EntityResolution(spark: SparkSession, dir: String): DataFrame = {
    val master = Tables.customer(spark, dir).select("c_custkey", "c_name")
    val dirty = master.select(col("c_custkey").as("dirty_id"),
      concat(substring(col("c_name"), 1, 15),
        reverse(substring(col("c_name"), 16, 3))).as("dirty_name"))
    val blk: Column => Column = n => concat(
      substring(n, 1, 15), lit("|"),
      (ascii(substring(n, 16, 1)) + ascii(substring(n, 17, 1)) +
        ascii(substring(n, 18, 1))).cast("string"))
    blockedFuzzyJoin(dirty, "dirty_id", "dirty_name",
        master, "c_custkey", "c_name", blk)
      .select(col("dirty_id"), col("dirty_name"), col("c_custkey"), col("dist"),
        (col("c_custkey") === col("dirty_id")).as("self_match"))
      .orderBy("dirty_id")
  }

  /** The q123 resolution re-scored with the engine's codegen'd
    * [[graft.functions.JaroWinkler]] expression instead of levenshtein —
    * the scorer census matching actually uses (transposition-tolerant,
    * prefix-boosted), which Spark lacks natively. Similarities are
    * quantized DECIMAL(10,6) BEFORE the arg-max so the tie-break domain
    * is identical in both engines; the oracle is DuckDB's own
    * `jaro_winkler_similarity` (semantics fuzz-pinned bit-exact, see the
    * expression's doc). */
  def q172JwLinkage(spark: SparkSession, dir: String): DataFrame = {
    val master = Tables.customer(spark, dir).select("c_custkey", "c_name")
    val dirty = master.select(col("c_custkey").as("dirty_id"),
      concat(substring(col("c_name"), 1, 15),
        reverse(substring(col("c_name"), 16, 3))).as("dirty_name"))
    val blk: Column => Column = n => concat(
      substring(n, 1, 15), lit("|"),
      (ascii(substring(n, 16, 1)) + ascii(substring(n, 17, 1)) +
        ascii(substring(n, 18, 1))).cast("string"))
    val jw: (Column, Column) => Column = (a, b) =>
      org.apache.spark.sql.graft.GraftBridge.column(
        graft.functions.JaroWinkler(
          org.apache.spark.sql.graft.GraftBridge.expression(a),
          org.apache.spark.sql.graft.GraftBridge.expression(b)))
        .cast("decimal(10,6)")
    blockedBestMatch(dirty, "dirty_id", "dirty_name",
        master, "c_custkey", "c_name", blk, jw)
      .select(col("dirty_id"), col("c_custkey"), col("sim"),
        (col("c_custkey") === col("dirty_id")).as("self_match"))
      .orderBy("dirty_id")
  }

  /** Edit-distance similarity join over the DISTINCT-name dictionary —
    * the scalable shape for "which names are within d edits": dedupe the
    * corpus to its name dictionary FIRST (vocabulary-sized, carries the
    * per-name row count), then self-join the dictionary under a
    * length-band pre-filter (|len(a) − len(b)| > d implies distance > d,
    * so the codegen'd `levenshtein` only runs on band survivors). The
    * corpus-scale work is one distinct aggregation; the quadratic part
    * runs on the dictionary, which is the domain, not the data. Exact
    * integer distances + total (name_a, name_b) order → strict gate. */
  def nameEditDistancePairs(df: DataFrame, nameCol: String,
      maxDist: Int): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1: $maxDist")
    val names = df.groupBy(col(nameCol).as("name"))
      .agg(count(lit(1)).as("n_rows"))
    val a = names.select(col("name").as("name_a"), col("n_rows").as("n_a"))
    val b = names.select(col("name").as("name_b"), col("n_rows").as("n_b"))
    // declare the band join + one projected levenshtein + threshold filter;
    // Catalyst pushes the dist predicate back into the join condition, which
    // is the plan you want (candidates are pruned inside the loop join, so
    // the expensive O(|a|·|b|) eval runs once per CANDIDATE; the projection
    // re-evaluates only for the few band-surviving pairs)
    a.join(b, col("name_a") < col("name_b") &&
        abs(length(col("name_a")) - length(col("name_b"))) <= maxDist)
      .select(col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b")).as("dist"),
        col("n_a"), col("n_b"))
      .filter(col("dist") <= maxDist)
      .orderBy("name_a", "name_b")
  }

  /** Part names within 2 edits of each other (typo-merge candidates),
    * with how many parts carry each spelling. */
  def q281EditDistancePairs(spark: SparkSession, dir: String): DataFrame =
    nameEditDistancePairs(Tables.part(spark, dir), "p_name", maxDist = 2)

  /** Sorted-neighborhood dedup blocking (Hernández–Stolfo 1995) — the
    * THIRD blocking family next to equality blocks (q123/q172) and LSH
    * banding (q45/q46): sort the corpus by a cheap similarity-clustering
    * key, then compare each record only to its `w−1` successors in the
    * sorted order. Catches near-dups that share a PREFIX but no exact
    * block key, with a hard O(n·w) candidate bound (no block-size skew
    * hazard at all — the "block" is the sliding rank window).
    *
    * Scalably: the global sort position comes from [[Rank]]'s
    * range-partitioned rank composition (never a single-partition
    * window), and the neighbor self-join is an EQUI-join on the rank
    * block `rn div w` (each left row offers its own block and the next,
    * so boundary-crossing neighbor pairs are found; a raw `rn_b − rn_a
    * ≤ w−1` theta-join would be a nested loop). The expensive
    * `levenshtein` runs once per surviving candidate on fixed-width
    * prefixes. */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, textCol: String,
      keyLen: Int, cmpLen: Int, window: Int, maxDist: Int): DataFrame = {
    require(window >= 2 && keyLen >= 1 && cmpLen >= keyLen && maxDist >= 0,
      s"bad geometry: w=$window key=$keyLen cmp=$cmpLen d=$maxDist")
    val base = df.select(col(idCol).as("id"),
      lower(substring(col(textCol), 1, keyLen)).as("key"),
      substring(col(textCol), 1, cmpLen).as("p"))
    val ranked = Rank.globalRankPrefix(base,
        Seq(col("key"), col("id")), rnCol = "rn")
      .withColumn("blk", expr(s"rn div $window"))
    val left = ranked.select(col("id").as("doc_a"), col("p").as("pa"),
        col("rn").as("ra"),
        explode(array(col("blk"), col("blk") + 1)).as("jb"))
    val right = ranked.select(col("id").as("doc_b"), col("p").as("pb"),
      col("rn").as("rb"), col("blk").as("jb"))
    left.join(right, Seq("jb"))
      .filter((col("rb") - col("ra")).between(lit(1), lit(window - 1)))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("pa"), col("pb")).as("dist"))
      .filter(col("dist") <= maxDist)
      .orderBy("doc_a", "doc_b")
  }

  /** Near-dup candidates among documents whose lowercased 32-char prefix
    * sorts them adjacent (window 4), flagged when the 64-char prefixes
    * are within 20 edits. */
  def q319SortedNeighborhood(spark: SparkSession, dir: String): DataFrame =
    sortedNeighborhoodPairs(Tables.documents(spark, dir), "doc_id", "text",
      keyLen = 32, cmpLen = 64, window = 4, maxDist = 20)

  val declared: Map[String, Query] = Map(
    // same sort key, same rank-window candidates, same prefix distance
    "q319_sorted_neighborhood" -> Query(q319SortedNeighborhood,
      """WITH d AS (
        |  SELECT doc_id, lower(substr(text, 1, 32)) AS key,
        |    substr(text, 1, 64) AS p
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, p,
        |    row_number() OVER (ORDER BY key, doc_id) AS rn
        |  FROM d)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(levenshtein(a.p, b.p) AS BIGINT) AS dist
        |FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND 3
        |WHERE levenshtein(a.p, b.p) <= 20
        |ORDER BY doc_a, doc_b""".stripMargin),
    // same length-band prefilter, same strict < pair canon, same order
    "q281_edit_distance_pairs" -> Query(q281EditDistancePairs,
      """WITH names AS (
        |  SELECT p_name AS name, CAST(COUNT(*) AS BIGINT) AS n_rows
        |  FROM part GROUP BY p_name)
        |SELECT a.name AS name_a, b.name AS name_b,
        |  CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist,
        |  a.n_rows AS n_a, b.n_rows AS n_b
        |FROM names a JOIN names b
        |  ON a.name < b.name
        |  AND ABS(LENGTH(a.name) - LENGTH(b.name)) <= 2
        |  AND levenshtein(a.name, b.name) <= 2
        |ORDER BY name_a, name_b""".stripMargin),
    // same perturbation, same block key, same (dist, key) tie-break
    "q123_entity_resolution" -> Query(q123EntityResolution,
      """WITH dirty AS (
        |  SELECT c_custkey AS dirty_id,
        |    substring(c_name, 1, 15) || reverse(substring(c_name, 16, 3))
        |      AS dirty_name
        |  FROM customer),
        |blocked AS (
        |  SELECT d.dirty_id, d.dirty_name, m.c_custkey,
        |    CAST(levenshtein(d.dirty_name, m.c_name) AS BIGINT) AS dist
        |  FROM dirty d JOIN customer m
        |    ON substring(d.dirty_name, 1, 15) = substring(m.c_name, 1, 15)
        |    AND ascii(substring(d.dirty_name, 16, 1))
        |      + ascii(substring(d.dirty_name, 17, 1))
        |      + ascii(substring(d.dirty_name, 18, 1))
        |      = ascii(substring(m.c_name, 16, 1))
        |      + ascii(substring(m.c_name, 17, 1))
        |      + ascii(substring(m.c_name, 18, 1)))
        |SELECT dirty_id, dirty_name, c_custkey, dist,
        |  c_custkey = dirty_id AS self_match
        |FROM blocked
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY dirty_id
        |  ORDER BY dist, c_custkey) = 1
        |ORDER BY dirty_id""".stripMargin),
    // same block key; DuckDB's native jaro_winkler_similarity, quantized
    // to the same DECIMAL(10,6) before the (sim desc, key) arg-max
    "q172_jw_linkage" -> Query(q172JwLinkage,
      """WITH dirty AS (
        |  SELECT c_custkey AS dirty_id,
        |    substring(c_name, 1, 15) || reverse(substring(c_name, 16, 3))
        |      AS dirty_name
        |  FROM customer),
        |blocked AS (
        |  SELECT d.dirty_id, m.c_custkey,
        |    CAST(CAST(jaro_winkler_similarity(d.dirty_name, m.c_name)
        |      AS DECIMAL(10,6)) AS DOUBLE) AS sim
        |  FROM dirty d JOIN customer m
        |    ON substring(d.dirty_name, 1, 15) = substring(m.c_name, 1, 15)
        |    AND ascii(substring(d.dirty_name, 16, 1))
        |      + ascii(substring(d.dirty_name, 17, 1))
        |      + ascii(substring(d.dirty_name, 18, 1))
        |      = ascii(substring(m.c_name, 16, 1))
        |      + ascii(substring(m.c_name, 17, 1))
        |      + ascii(substring(m.c_name, 18, 1)))
        |SELECT dirty_id, c_custkey, sim, c_custkey = dirty_id AS self_match
        |FROM blocked
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY dirty_id
        |  ORDER BY sim DESC, c_custkey) = 1
        |ORDER BY dirty_id""".stripMargin))
}
