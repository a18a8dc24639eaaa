package graft.tools

import graft.GraftFunctions

import org.apache.spark.sql.functions._

/** Throughput stress: distinct-count aggregates over a generated N-row
  * column (no I/O — isolates aggregate update+merge cost), ours vs Spark's
  * built-ins. Usage: sbt "runMain graft.tools.Stress [nRows] [nDistinct]"
  */
object Stress {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(50000000L)
    val d = if (args.length > 1) args(1).toLong else 10000000L
    val spark = graft.Session.local(32)

    val df = spark.range(n).select((col("id") % d).as("v"))
    def time(label: String)(mk: => org.apache.spark.sql.DataFrame): Unit = {
      mk.count() // warmup
      val t0 = System.nanoTime()
      val row = mk.head()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"$label%-28s ${row.get(0)}%12s  $secs%7.2f s  ${n / secs / 1e6}%8.1f M rows/s")
    }

    println(s"rows=$n distinct=$d on local[32]")
    time("exact countDistinct") { df.agg(countDistinct("v")) }
    time("spark approx_count_distinct") { df.agg(approx_count_distinct("v", 0.005)) }
    time("spark hll_sketch_agg") {
      df.agg(hll_sketch_estimate(hll_sketch_agg(col("v"), lit(16)))) }
    time("graft approx_distinct hll") {
      df.agg(GraftFunctions.approx_distinct(col("v")).getField("cardinality")) }
    time("graft grouped (16 groups)") {
      df.groupBy((col("v") % 16).as("g"))
        .agg(GraftFunctions.approx_distinct(col("v")).getField("cardinality").as("c"))
        .agg(sum("c")) }

    // the other sketch families over the same column: heavy hitters
    // (zipf-ish skew so eviction actually fires), quantiles, bloom build
    val zipf = spark.range(n).select(
      (col("id") % d / (pmod(xxhash64(col("id")), lit(100)) + 1)).cast("long")
        .cast("string").as("s"))
    time("exact top-10 (groupBy+sort)") {
      zipf.groupBy("s").count().orderBy(desc("count"), col("s")).limit(10)
        .agg(sum("count")) }
    time("graft approx_top_k(10,1024)") {
      zipf.agg(GraftFunctions.approx_top_k(col("s"), 10, 1024)
        .getItem(0).getField("est")) }
    // exact percentile materializes per-partition value buffers — at 50M+
    // rows on a loaded box that's a GC storm that can kill the whole
    // harness, so this comparison line is bounded (the approx lines below
    // still run at full n, which is the point being measured)
    val dfPct = if (n > 20000000L) df.limit(20000000) else df
    time("exact percentile p50/p95") {
      dfPct.agg(expr("percentile(v, array(0.5, 0.95))").getItem(0)) }
    time("spark approx_percentile") {
      df.agg(expr("approx_percentile(v, array(0.5D, 0.95D), 1000)").getItem(0)) }
    time("graft approx_quantiles") {
      df.agg(GraftFunctions.approx_quantiles(col("v"), Seq(0.5, 0.95)).getItem(0)) }
    time("graft bloom_agg build (1M b)") {
      df.agg(length(GraftFunctions.bloom_agg(col("v"), 1048576, 7))) }
    time("graft cm_sketch_agg (4096x5)") {
      df.agg(length(GraftFunctions.cm_sketch_agg(col("v")))) }
    time("graft theta_sketch_agg (4096)") {
      df.agg(GraftFunctions.theta_estimate(
        GraftFunctions.theta_sketch_agg(col("v")))) }

    // text kernels: synthetic ~12-word docs, throughput of the per-row
    // expressions that dominate a dedup/text-analysis pass
    val nDocs = math.min(n, 2000000L)
    val words = (0 until 50).map(i => s"w$i")
    val docs = spark.range(nDocs).select(concat_ws(" ",
      (0 until 12).map(i => element_at(
        array(words.map(lit): _*), (pmod(col("id") * (i + 7), lit(50)) + 1).cast("int"))): _*)
      .as("text"))
    def timeText(label: String)(mk: => org.apache.spark.sql.DataFrame): Unit = {
      mk.write.format("noop").mode("overwrite").save()
      val t0 = System.nanoTime()
      mk.write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"$label%-28s ${""}%12s  $secs%7.2f s  ${nDocs / secs / 1e6}%8.1f M docs/s")
    }
    println(s"text kernels on $nDocs synthetic docs:")
    timeText("shingle_hashes(3)") { docs.select(GraftFunctions.shingle_hashes(col("text"), 3)) }
    timeText("simhash(tokens)") {
      docs.select(GraftFunctions.simhash(graft.operators.TextAnalysis.tokens(col("text")))) }
    timeText("lang_id + quality_score") {
      docs.select(graft.operators.TextAnalysis.langId(col("text")),
        graft.operators.TextAnalysis.qualityScore(col("text"))) }
    timeText("gopher quality (7 rules)") {
      graft.operators.TextAnalysis.gopherQuality(
        docs.withColumn("id", monotonically_increasing_id()), "id", "text") }
    timeText("pii scrub (2 patterns)") {
      graft.operators.TextAnalysis.piiScrub(
        docs.withColumn("id", monotonically_increasing_id()), "id", "text") }
    timeText("word_shingles(8) windows") {
      docs.select(graft.operators.TextAnalysis.wordShingles(col("text"), 8)) }
    timeText("chunkTokens(64, 48)") {
      graft.operators.TextAnalysis.chunkTokens(
        docs.withColumn("id", monotonically_increasing_id()), "id", "text", 64, 48) }
    timeText("bm25 score (4 terms)") {
      graft.operators.TextAnalysis.bm25Search(
        docs.withColumn("id", monotonically_increasing_id()), "id", "text",
        Seq("w1", "w7", "w21", "w44")) }
    timeText("packSequences(256, 8)") {
      graft.operators.TextAnalysis.packSequences(
        docs.withColumn("id", monotonically_increasing_id())
          .withColumn("lang", lit("en")), "id", "text", "lang", 256L, 8) }

    // end-to-end near-dup pipelines: hash-derived 12-word docs (distinct
    // w.h.p.), ~1% planted duplicates (docs with id ≡ 96 mod 97 repeat the
    // preceding doc's text — no cascading), through the full shingle →
    // sign → bucket → pair → verify plan
    val ndDocs = math.min(nDocs, 500000L)
    val eid = when(pmod(col("id"), lit(97)) === 96, col("id") - 1)
      .otherwise(col("id"))
    val dd = spark.range(ndDocs).select(col("id"),
      concat_ws(" ", (0 until 12).map(i => element_at(
        array(words.map(lit): _*),
        (pmod(xxhash64(eid, lit(i)), lit(50)) + 1).cast("int"))): _*).as("text"))
    def timePipe(label: String)(mk: => org.apache.spark.sql.DataFrame): Unit = {
      val warm = mk.count() // full pipeline incl. shuffles
      val t0 = System.nanoTime()
      val n2 = mk.count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"$label%-28s ${s"$n2 pairs"}%12s  $secs%7.2f s  ${ndDocs / secs / 1e6}%8.2f M docs/s")
      assert(warm == n2)
    }
    println(s"near-dup pipelines on $ndDocs docs (~1% planted dups):")
    timePipe("minhash LSH (64x16)") {
      graft.operators.Dedup.minhashNearDupPairs(dd, "id", "text") }
    timePipe("simhash chunks (h<=3)") {
      graft.operators.Dedup.simhashNearDupPairs(dd, "id", "text") }
    spark.stop()
  }
}
