package graft

import graft.operators.{Dedup, Similarity}
import graft.sources.Tables

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Ground truth at BENCH scale (sf0.1) for the operators whose DuckDB
  * oracles are quadratic in corpus size (q45/q46/q47/q50/q52/q75/q76
  * twins are all-pairs recomputations, intractable at 10× the correctness
  * scale). A planted overlay makes the answer known BY CONSTRUCTION: the
  * planted docs use a synthetic vocabulary disjoint from the real corpus
  * (zero shared shingles ⇒ Jaccard 0 against every real doc), so the
  * expected pair/cluster sets over planted ids are computed locally from
  * first principles and the operators must find exactly those sets while
  * processing the full 5 000-doc corpus + overlay. Everything is
  * deterministic (fixed hash families, fixed fixtures): pass/fail is
  * stable, not probabilistic. */
class PlantedScaleSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._
  private val sf = "/root/testdata/sf0.1"
  private val Base = 9000000L

  // ---- local first-principles ground truth (same DEFINITIONS as the
  // sf0.01 oracles: whitespace tokens, distinct word 3-shingles) ----

  private def shingleSet(toks: Seq[String]): Set[String] =
    if (toks.length < 3) Set(toks.mkString(" "))
    else toks.sliding(3).map(_.mkString(" ")).toSet

  /** (n_common, n_total) of two docs' distinct 3-shingle sets. */
  private def overlap(a: Seq[String], b: Seq[String]): (Long, Long) = {
    val (sa, sb) = (shingleSet(a), shingleSet(b))
    ((sa & sb).size.toLong, (sa | sb).size.toLong)
  }

  // vocabulary that cannot occur in the real corpus
  private def v(prefix: String, i: Int) = s"zzq${prefix}${i}xq"

  /** Planted docs: cluster A = {A0,A1,A2} chained by high overlap, pair
    * B = {B0,B1} exact copy, C0/C1 overlap BELOW 0.5 (negative control). */
  private val planted: Seq[(Long, Seq[String])] = {
    val a = (0 until 100).map(v("a", _))
    val b = (0 until 10).map(v("b", _))
    val c = (0 until 20).map(v("c", _))
    val u = (0 until 50).map(v("u", _))
    val y = (0 until 100).map(v("y", _))
    val z = (0 until 60).map(v("z", _))
    Seq(
      (Base + 0, a),
      (Base + 1, a.take(90) ++ b),
      (Base + 2, a.drop(10) ++ c),
      (Base + 10, u),
      (Base + 11, u),
      (Base + 20, y),
      (Base + 21, y.take(40) ++ z))
  }

  private lazy val plantedDf =
    planted.map { case (id, toks) => (id, toks.mkString(" ")) }.toDF("doc_id", "text")

  private lazy val corpus =
    Tables.documents(spark, sf).select("doc_id", "text").union(plantedDf)

  private def isPlanted(id: Long) = id >= Base

  test("planted minhash ground truth at sf0.1: exact pair set and overlap counts") {
    // expected: every planted pair at jaccard >= 0.5, with exact counts
    val expected = (for {
      (ia, ta) <- planted; (ib, tb) <- planted if ia < ib
      (nc, nt) = overlap(ta, tb) if 2 * nc >= nt
    } yield (ia, ib) -> ((nc, nt))).toMap
    assert(expected.size == 4, s"fixture should plant 4 pairs, got $expected")

    val found = Dedup.minhashNearDupPairs(corpus, "doc_id", "text", bands = 32)
      .filter(col("id_a") >= Base || col("id_b") >= Base)
      .select("id_a", "id_b", "n_common", "n_total")
      .as[(Long, Long, Long, Long)].collect()
      .map { case (a, b, nc, nt) => (a, b) -> ((nc, nt)) }.toMap
    // recall AND precision over the planted ids, with exact overlap values
    assert(found == expected,
      s"missing=${expected.keySet -- found.keySet} extra=${found.keySet -- expected.keySet}")
    // disjoint vocabulary: no planted doc may pair with a real doc
    assert(found.keys.forall { case (a, b) => isPlanted(a) && isPlanted(b) })
  }

  test("planted cluster ground truth at sf0.1: closure finds exactly the planted components") {
    val pairs = Dedup.minhashNearDupPairs(corpus, "doc_id", "text", bands = 32)
      .select("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs)
      .filter(col("id") >= Base)
      .as[(Long, Long)].collect().toMap
    // A chained into one cluster (A0-A2 join through A1 even if their own
    // overlap were sub-threshold), B a pair, C absent (no edge at all)
    assert(comps == Map(
      Base + 0 -> (Base + 0), Base + 1 -> (Base + 0), Base + 2 -> (Base + 0),
      Base + 10 -> (Base + 10), Base + 11 -> (Base + 10)), comps.toString)
  }

  test("planted cluster-split ground truth at sf0.1: clusters split atomically on the rep's draw") {
    val pairs = Dedup.minhashNearDupPairs(corpus, "doc_id", "text", bands = 32)
      .select("id_a", "id_b")
    val split = Dedup.clusterAwareSplit(corpus, "doc_id", pairs,
        Seq("train" -> 0.8, "eval" -> 0.1, "test" -> 0.1))
      .filter(col("doc_id") >= Base)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(split.size == planted.size)
    // the A chain (3 docs) and the B pair land atomically; C/Y split on
    // their own ids (no edge)
    assert(Set(split(Base + 0), split(Base + 1), split(Base + 2)).size == 1,
      s"cluster A split apart: $split")
    assert(split(Base + 10) == split(Base + 11), s"pair B split apart: $split")
    // atomic = keyed on the MIN-ID representative's draw, exactly the plain
    // split of that single id
    val repDraw = graft.operators.Sampling.splitByKey(
        Seq((Base + 0, "x"), (Base + 10, "x")).toDF("doc_id", "text"), "doc_id",
        Seq("train" -> 0.8, "eval" -> 0.1, "test" -> 0.1))
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(split(Base + 2) == repDraw(Base + 0) &&
      split(Base + 11) == repDraw(Base + 10), s"split not keyed on rep: $split")
  }

  test("planted quality-dedup ground truth at sf0.1: each cluster keeps its argmax-quality member") {
    // local first-principles quality (same formula as QualityScore)
    def quality(toks: Seq[String]): Double = {
      val s = toks.mkString(" ")
      if (toks.length < 3) 0.0
      else (toks.distinct.size.toDouble / toks.length
        + s.count(Character.isLetter).toDouble / s.length) / 2.0
    }
    val clusters = Seq(Seq(Base + 0, Base + 1, Base + 2), Seq(Base + 10, Base + 11))
    val byId = planted.toMap
    val expectedKept = clusters.map(c =>
      c.map(id => (id, quality(byId(id)))).sortBy { case (id, q) => (-q, id) }.head._1).toSet ++
      Seq(Base + 20, Base + 21) // unclustered negative controls survive
    val edges = Dedup.minhashNearDupPairs(corpus, "doc_id", "text", bands = 32)
      .select("id_a", "id_b")
    val scored = corpus.withColumn("quality",
      graft.operators.TextAnalysis.qualityScore(col("text")))
    val keptPlanted = Dedup.dedupByPairsBest(scored, "doc_id", "quality", edges)
      .filter(col("doc_id") >= Base)
      .select("doc_id").as[Long].collect().toSet
    assert(keptPlanted == expectedKept,
      s"kept $keptPlanted expected $expectedKept")
  }

  test("planted simhash ground truth at sf0.1: blocking finds every hamming<=3 pair at the default cap") {
    // engine fingerprints of the planted docs only (tiny), then local
    // brute force => expected pair set among planted ids
    val fps = plantedDf
      .select($"doc_id", GraftFunctions.simhash_md5(
        graft.operators.TextAnalysis.tokens($"text")).as("s"))
      .as[(Long, Long)].collect().toMap
    val expected = (for {
      (ia, _) <- planted; (ib, _) <- planted if ia < ib
      h = java.lang.Long.bitCount(fps(ia) ^ fps(ib)) if h <= 3
    } yield (ia, ib, h.toLong)).toSet
    // the exact-copy pair is hamming 0 by construction
    assert(expected.exists { case (a, b, h) => a == Base + 10 && b == Base + 11 && h == 0 })

    val found = Dedup.simhashNearDupPairs(
        corpus.filter(col("text").isNotNull), "doc_id", "text", md5Hash = true)
      .filter(col("id_a") >= Base || col("id_b") >= Base)
      .as[(Long, Long, Long)].collect().toSet
    assert(found == expected,
      s"missing=${expected -- found} extra=${found -- expected}")
  }

  test("planted contamination ground truth at sf0.1: eval/train span report matches local computation") {
    // q83's split (doc_id % 10) puts A0/B0/C0 in the eval set and the rest
    // in train; local 8-window intersections give the expected report
    def w8(toks: Seq[String]): Set[String] =
      if (toks.length < 8) Set(toks.mkString(" "))
      else toks.sliding(8).map(_.mkString(" ")).toSet
    val train = planted.filter(_._1 % 10 != 0)
    val evals = planted.filter(_._1 % 10 == 0)
    val expected = evals.flatMap { case (eid, etoks) =>
      val hits = train.map { case (tid, ttoks) =>
        (tid, (w8(etoks) & w8(ttoks)).size.toLong)
      }.filter(_._2 >= 1L)
      if (hits.isEmpty) None
      else Some(eid -> ((hits.size.toLong, hits.map(_._2).max, hits.map(_._2).sum)))
    }.toMap
    assert(expected.nonEmpty, "fixture should plant at least one contaminated eval doc")

    val got = Dedup.contaminationReport(
        corpus.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
        corpus.filter(col("doc_id") % 10 === 0), "doc_id", "text")
      .filter(col("eval_id") >= Base)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (e, n, mx, tot) => e -> ((n, mx, tot)) }.toMap
    assert(got == expected, s"got=$got expected=$expected")
  }

  test("planted embedding ground truth at sf0.1: ANN and near-dup find the planted twin") {
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val v0 = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    // twin: identical vector; near: one coordinate nudged (cosine computed
    // locally below); far: negated (cosine -1)
    val near = v0.clone(); near(0) = near(0) + 0.5f
    def cosLocal(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / math.sqrt(na * nb)
    }
    val cosNear = cosLocal(v0, near)
    val overlay = Seq(
      (Base + 1, v0.toSeq), (Base + 2, near.toSeq),
      (Base + 3, v0.map(-_).toSeq)).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val all = emb.union(overlay)

    // q50 semantics: brute-force top-k for query 0 must rank the planted
    // twin (cosine exactly 1 by construction) in the top 2, right beside
    // the query vector itself
    val top = Similarity.bruteForceTopK(all, "vec_id", "embedding", 0L, 5)
      .select("id", "rank").as[(Long, Long)].collect().toMap
    assert(top.contains(Base + 1), s"planted twin missing from top-5: $top")
    assert(top(Base + 1) <= 2L, s"twin ranked ${top(Base + 1)}, expected <= 2: $top")

    // q52 semantics: near-dup pairs at a threshold BETWEEN the planted
    // cosines must find the twin pair and reject the far vector
    assert(cosNear < 0.999 && cosNear > 0.5, s"fixture cosine $cosNear")
    val pairs = Similarity.embeddingNearDupPairs(all, "vec_id", "embedding",
        dim = 64, threshold = 0.999)
      .filter(col("id_a") >= Base || col("id_b") >= Base)
      .select("id_a", "id_b", "cos").as[(Long, Long, Double)].collect()
    val twinPair = pairs.find(p => p._1 == 0L && p._2 == Base + 1)
    assert(twinPair.isDefined, s"planted twin pair missing: ${pairs.toSeq}")
    assert(math.abs(twinPair.get._3 - 1.0) < 1e-6)
    // among planted ids only the twin may clear the 0.999 bar
    assert(!pairs.exists(p => isPlanted(p._1) && isPlanted(p._2) && p._3 < 0.999))
    assert(!pairs.exists(p => p._1 == Base + 3 || p._2 == Base + 3),
      "negated vector must not near-dup with anything")
  }
}
