package graft.tools

import graft.{Bench, SparkEntry}
import graft.sources.Tables

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** sf1 stress bench for the headline shuffle-heavy queries (q01 scan-agg,
  * q18 star join, q45 minhash pairs, q75/q76 clustering pipelines) — one
  * scale step above the driver's sf0.1 bench gate, to observe the
  * AQE/shuffle regime the pinned plans claim to survive.
  *
  * The sf1 tables are synthesized once under /tmp/graft_sf1 by replicating
  * sf0.1 ten times with consistently shifted keys (lineitem/orders/customer
  * keep referential integrity; documents get a per-replica suffix token so
  * replicas are NEAR-duplicates — ~0.97 Jaccard — which turns q45/q75/q76
  * into a genuine 50k-doc, ~quarter-million-edge dedup workload, the
  * crawl-with-duplicates shape those operators exist for).
  *
  * Usage: sbt "runMain graft.tools.Sf1Bench [runs]"
  */
object Sf1Bench {
  private val Src = "/root/testdata/sf0.1"
  private val Out = "/tmp/graft_sf1"
  private val Queries = Seq("q01_pricing_summary", "q18_star_join",
    "q45_minhash_pairs", "q75_near_dup_clusters", "q76_curation_v2",
    "q81_substring_dups", "q83_contamination",
    "q87_chunk_documents", "q89_pack_sequences", "q90_bm25_search",
    "q91_assemble_sequences",
    "q97_span_dedup", "q99_lm_perplexity", "q100_resample_locf",
    "q102_tfidf_nearest", "q103_cluster_split", "q104_curation_v3",
    "q115_tfidf_all_pairs_topk", "q116_maintenance_loop",
    "q117_sliding_sketch_window",
    // round-8 continuation heavies: the sliding CM (sketch-byte-bound),
    // blocked ER scoring, maintained zonemap loop, funnel window chain,
    // IVM delta path, join-size sketches
    "q127_sliding_cm_freq", "q123_entity_resolution",
    "q128_maintained_zonemap", "q121_funnel_steps", "q135_ivm_agg",
    "q134_join_size_estimate",
    // round-8 late additions with super-linear candidate spaces
    "q148_frequent_pairs", "q150_triangles", "q155_collocations",
    "q157_maintained_bloom", "q158_semdedup",
    // final-continuation heavies: iterative graph passes, the exact
    // similarity joins (prefix-filter / JW-blocked / containment), the
    // maintained-MV loops, and the custom as-of physical operator
    "q138_pagerank", "q143_set_similarity_join", "q162_approx_mv",
    "q163_basket_mv", "q170_sssp", "q171_hits", "q172_jw_linkage",
    "q173_ngram_novelty", "q179_containment_dups", "q181_knn_classify",
    "q182_asof_exec",
    // q221+ era heavies: the 32x bootstrap fan-out, rank windows over the
    // full fact table, the basket-bounded item-kNN pair join, RAKE's
    // window+reassembly chain, the per-element int8 audit, the content-key
    // self-join, and the corpus checksum scan
    "q226_bootstrap_ci", "q222_spearman_trend", "q237_roc_auc",
    "q248_item_knn", "q253_rake_keyphrases", "q233_int8_quant",
    "q254_source_overlap", "q243_table_checksum", "q247_theil_sen",
    "q227_oov_rate",
    // r12 heavies: the round-12 optimization targets at one SF up, for the
    // c8-vs-c32 scaling table (the sf0.1 bench is overhead-bound and
    // structurally cannot show parallel speedup)
    "q298_rowframe_sketch_window", "q264_adamic_adar",
    "q279_randomization_test", "q341_bh_fdr", "q266_markov_attribution",
    "q211_kcore", "q309_theil_sen", "q379_quantile_shift",
    "q411_embedding_decontamination", "q127_sliding_cm_freq")

  def main(args: Array[String]): Unit = {
    val runs = if (args.nonEmpty) args(0).toInt else 3
    // optional 2nd arg: comma-separated queries — any DECLARED query name
    // is accepted (the default list is just the curated heavies)
    val selected =
      if (args.length > 1) args(1).split(",").toSeq.filter(SparkEntry.queries.contains)
      else Queries
    // r12: honor SPARK_GRAFT_CPUS like Bench, so the sf1 heavies can be
    // measured at 8 vs 32 cores for the scaling table (a hard-coded
    // local[32] made the parallel-speedup question unanswerable)
    val cpus = Bench.parseCpus(sys.env.get("SPARK_GRAFT_CPUS"), default = 32)
    val spark = graft.Session.local(cpus)
    if (!new java.io.File(s"$Out/lineitem.parquet").exists()) generate(spark)
    if (!new java.io.File(s"$Out/events.parquet").exists()) generateEvents(spark)
    if (!new java.io.File(s"$Out/embeddings.parquet").exists())
      generateEmbeddings(spark)

    val results = selected.map { name =>
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, Out)
        val n = df.collect().length
        val secs = (System.nanoTime() - t0) / 1e9
        (secs, n, df)
      }
      val median = times.map(_._1).sorted.apply(runs / 2)
      // AQE observations from the final adaptive plan
      val plan = times.last._3.queryExecution.executedPlan.toString
      val aqe = Seq(
        if (plan.contains("AQEShuffleRead")) Some("coalesced-read") else None,
        if (plan.contains("skewed=")) Some("skew-split") else None)
        .flatten.mkString("+")
      println(f"SF1BENCH $name%-24s median=${median}%7.3f s rows=${times.last._2}%7d aqe=[$aqe]")
      (name, median, times.last._2, aqe)
    }
    val total = results.map(_._2).sum
    println(f"SF1BENCH total_median_sum=${total}%.3f s over ${selected.size} queries")
    spark.stop()
  }

  /** 10x replication of sf0.1 with shifted keys; referential integrity
    * preserved across lineitem/orders/customer. */
  private def generate(spark: SparkSession): Unit = {
    println(s"SF1BENCH generating $Out from $Src (10x sf0.1)")
    val orders = Tables.orders(spark, Src)
    val customer = Tables.customer(spark, Src)
    val lineitem = Tables.lineitem(spark, Src)
    val documents = Tables.documents(spark, Src)
    val oShift = orders.agg(max("o_orderkey")).head().getLong(0) + 1
    val cShift = customer.agg(max("c_custkey")).head().getLong(0) + 1
    val dShift = documents.agg(max("doc_id")).head().getLong(0) + 1

    def rep(i: Int) = lit(i.toLong)
    def union10(f: Int => org.apache.spark.sql.DataFrame) =
      (0 until 10).map(f).reduce(_ union _)

    union10(i => lineitem.withColumn("l_orderkey", col("l_orderkey") + rep(i) * oShift))
      .write.mode("overwrite").parquet(s"$Out/lineitem.parquet")
    union10(i => orders
        .withColumn("o_orderkey", col("o_orderkey") + rep(i) * oShift)
        .withColumn("o_custkey", col("o_custkey") + rep(i) * cShift))
      .write.mode("overwrite").parquet(s"$Out/orders.parquet")
    union10(i => customer.withColumn("c_custkey", col("c_custkey") + rep(i) * cShift))
      .write.mode("overwrite").parquet(s"$Out/customer.parquet")
    union10 { i =>
      val d = documents.withColumn("doc_id", col("doc_id") + rep(i) * dShift)
      if (i == 0) d
      else d.withColumn("text", concat(col("text"), lit(s" graftrep$i")))
    }.write.mode("overwrite").parquet(s"$Out/documents.parquet")
    // small dims pass through unchanged (part/supplier: lineitem keeps its
    // original l_partkey/l_suppkey per replica, so the dims stay valid)
    for (t <- Seq("nation", "region", "part", "supplier"))
      Tables.load(spark, Src, t).write.mode("overwrite").parquet(s"$Out/$t.parquet")
  }

  /** 10x embeddings: shifted ids, vectors kept — every vector gains 9
    * EXACT semantic duplicates, the dense analogue of the documents'
    * near-dup replicas (q158 semdedup / q181 knn see 10-strong duplicate
    * clusters). */
  private def generateEmbeddings(spark: SparkSession): Unit = {
    val embeddings = Tables.embeddings(spark, Src)
    val vShift = embeddings.agg(max("vec_id")).head().getLong(0) + 1
    (0 until 10).map(i => embeddings
        .withColumn("vec_id", col("vec_id") + lit(i.toLong) * vShift))
      .reduce(_ union _)
      .write.mode("overwrite").parquet(s"$Out/embeddings.parquet")
  }

  /** 10x events: shifted ids and users, timestamps kept — 10x the users
    * over the same month, the per-key fan-out q100's grid scales with. */
  private def generateEvents(spark: SparkSession): Unit = {
    val events = Tables.events(spark, Src)
    val eShift = events.agg(max("event_id")).head().getLong(0) + 1
    val uShift = events.agg(max("user_id")).head().getLong(0) + 1
    (0 until 10).map(i => events
        .withColumn("event_id", col("event_id") + lit(i.toLong) * eShift)
        .withColumn("user_id", col("user_id") + lit(i.toLong) * uShift))
      .reduce(_ union _)
      .write.mode("overwrite").parquet(s"$Out/events.parquet")
  }
}
