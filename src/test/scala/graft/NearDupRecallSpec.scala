package graft

import graft.operators.Dedup
import graft.sources.Tables

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Recall guarantees for the rows-only near-dup operators, checked against
  * exhaustive all-pairs ground truth on the real documents table. */
class NearDupRecallSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  test("simhash multi-index blocking has perfect recall at hamming <= 3 (pigeonhole)") {
    val docs = Tables.documents(spark, sf)
    // exhaustive ground truth: per-doc simhash, all pairs, hamming <= 3
    val sims = docs.select($"doc_id",
      GraftFunctions.simhash(graft.operators.TextAnalysis.tokens($"text")).as("sim"))
    val truth = sims.as("x").join(sims.as("y"), $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("id_a"), $"y.doc_id".as("id_b"),
        bit_count($"x.sim".bitwiseXOR($"y.sim")).as("h"))
      .filter($"h" <= 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val found = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // <= 3 corrupted chunks of 6 => at least one 3-chunk subset intact
    assert(found == truth, s"missing=${truth -- found} extra=${found -- truth}")
    // the same guarantee must hold at every (maxHamming, numChunks) the
    // operator accepts — spot-check a non-default geometry
    val found8 = Dedup.simhashNearDupPairs(docs, "doc_id", "text",
        maxHamming = 3, numChunks = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(found8 == truth, s"m=8: missing=${truth -- found8} extra=${found8 -- truth}")
  }

  test("simhash blocking rejects geometries that cannot carry the guarantee") {
    val docs = Tables.documents(spark, sf)
    intercept[IllegalArgumentException](
      Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxHamming = 3, numChunks = 3))
    intercept[IllegalArgumentException](
      Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxHamming = 14))
  }

  test("minhash LSH finds every high-jaccard pair (detection prob ~1 at j>=0.9)") {
    val docs = Tables.documents(spark, sf)
    val sh = docs.select($"doc_id", Dedup.shingleHashes($"text", 3).as("sh"))
    val truth = sh.as("x").join(sh.as("y"), $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("id_a"), $"y.doc_id".as("id_b"),
        Dedup.jaccard($"x.sh", $"y.sh").as("j"))
      .filter($"j" >= 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val found = Dedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty, "fixture should contain at least one 0.9-jaccard pair")
    assert(found == truth, s"missing=${truth -- found} extra=${found -- truth}")
  }

  test("connectedComponents labels every node with its component minimum") {
    import graft.operators.Dedup
    // two chains, one triangle, one pair: {1-2-3-4}, {10,11,12}, {20,21}
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L), comps.toString)
    // a long path needs diameter rounds: 0-1-2-...-9 in scrambled order
    val path = (0L until 9L).map(i => (i + 1, i)).toDF("id_a", "id_b")
    val pathComps = Dedup.connectedComponents(path).as[(Long, Long)].collect().toMap
    assert(pathComps.values.toSet == Set(0L), pathComps.toString)
    // un-converged labels are wrong answers: the operator must refuse them
    val e = intercept[IllegalStateException](
      Dedup.connectedComponents(path, maxIter = 3))
    assert(e.getMessage.contains("did not converge"), e.getMessage)
  }

  test("connectedComponents keeps native id types (string doc ids cluster correctly)") {
    val edges = Seq(("b", "a"), ("b", "c"), ("x", "y")).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(edges)
      .as[(String, String)].collect().toMap
    assert(comps == Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"),
      comps.toString)
  }

  test("connectedComponents runs one action per round: no separate convergence count") {
    // listenerManager is per-session, so a fresh session isolates this
    // test's actions from concurrently running suites
    val s2 = spark.newSession()
    import s2.implicits._
    val actions = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        actions.add(funcName)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    s2.listenerManager.register(listener)
    try {
      val path = (0L until 6L).map(i => (i + 1, i)).toDF("id_a", "id_b")
      val comps = Dedup.connectedComponents(path).as[(Long, Long)].collect().toMap
      assert(comps.values.toSet == Set(0L))
      Thread.sleep(1000) // listener bus delivery is async
      val counts = actions.toArray.map(_.toString).count(_ == "count")
      assert(counts == 0,
        s"convergence should ride the checkpoint job, saw $counts count() actions " +
          s"(all actions: ${actions.toArray.mkString(",")})")
    } finally s2.listenerManager.unregister(listener)
  }

  test("dedupByPairs keeps exactly one representative per cluster plus all singletons") {
    import graft.operators.Dedup
    val docs = (0L to 9L).map(i => (i, s"doc$i")).toDF("doc_id", "body")
    val edges = Seq((3L, 7L), (7L, 5L), (8L, 9L)).toDF("id_a", "id_b")
    val kept = Dedup.dedupByPairs(docs, "doc_id", edges)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // {3,5,7} -> keep 3; {8,9} -> keep 8; the rest untouched
    assert(kept == Seq(0L, 1L, 2L, 3L, 4L, 6L, 8L), kept.toString)
  }

  test("embeddingNearDupPairs construction runs no job; stats estimate sizes like the true count") {
    val emb = Tables.embeddings(spark, sf)
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = graft.operators.Similarity
        .embeddingNearDupPairs(emb, "vec_id", "embedding", 64, 0.4)
      df.queryExecution.executedPlan // full planning, no action
      Thread.sleep(500) // listener bus delivery is async
      assert(jobs == 0,
        s"constructing/planning embeddingNearDupPairs ran $jobs Spark job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
    // the no-job estimate must pick the same signature width (autoNBits is
    // logarithmic; the fixture has 500 rows -> clamped 4 bits either way)
    val trueBits = graft.operators.Similarity.autoNBits(emb.count())
    val viaHint = graft.operators.Similarity
      .embeddingNearDupPairs(emb, "vec_id", "embedding", 64, 0.4,
        corpusSize = emb.count())
    val viaStats = graft.operators.Similarity
      .embeddingNearDupPairs(emb, "vec_id", "embedding", 64, 0.4)
    assert(viaStats.collect().toSet == viaHint.collect().toSet,
      s"stats-sized (vs trueBits=$trueBits) and count-sized runs disagree")
  }

  test("semDedup merges planted identical twins and keeps the min id") {
    val spark2 = spark; import spark2.implicits._
    // 20 well-separated base directions, each duplicated: (2i, 2i+1)
    val rnd = new scala.util.Random(7)
    val dim = 16
    val rows = (0 until 20).flatMap { i =>
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      Seq((2L * i, v), (2L * i + 1, v))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val out = graft.operators.Similarity.semDedup(emb, "vec_id", "embedding",
        nClusters = 4, iters = 2, trainSample = 64, simThreshold = 0.99,
        bucketCap = 64, assignProbes = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3)))
      .toMap
    // identical vectors share every cluster assignment -> every twin pair
    // must merge under the even (min) id; evens kept, odds dropped
    (0 until 20).foreach { i =>
      assert(out(2L * i) == (2L * i, true), s"rep of even ${2 * i}")
      assert(out(2L * i + 1) == (2L * i, false), s"odd ${2 * i + 1} not merged")
    }
  }
}
