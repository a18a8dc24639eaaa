package graft

import graft.operators.Sampling

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Deterministic key-hash sampling: reproducibility, partition invariance,
  * membership stability under growth, split disjointness, and the pinned
  * cross-engine hash values. */
class SamplingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  import spark.implicits._

  test("md5_hash64 matches the cross-engine reference value") {
    // reference: first 8 big-endian bytes of md5("hello") = 0x5d41402abc4b2a76
    val got = spark.sql("SELECT md5_hash64('hello')").as[Long].head()
    assert(got == 0x5d41402abc4b2a76L)
  }

  test("sample is deterministic and partition-invariant") {
    val df = (1L to 10000L).toDF("k")
    val a = Sampling.deterministicSample(df, "k", 0.3).as[Long].collect().sorted.toSeq
    val b = Sampling.deterministicSample(df.repartition(13), "k", 0.3)
      .as[Long].collect().sorted.toSeq
    assert(a == b, "sample changed under repartition")
    val rate = a.size.toDouble / 10000
    assert(math.abs(rate - 0.3) < 0.02, s"rate $rate")
    // different seed decorrelates
    val c = Sampling.deterministicSample(df, "k", 0.3, seed = 7L)
      .as[Long].collect().toSet
    val overlap = a.count(c.contains).toDouble / a.size
    assert(math.abs(overlap - 0.3) < 0.05, s"seed overlap $overlap")
  }

  test("membership is stable when other rows appear") {
    val small = Sampling.deterministicSample((1L to 1000L).toDF("k"), "k", 0.5)
      .as[Long].collect().toSet
    val large = Sampling.deterministicSample((1L to 5000L).toDF("k"), "k", 0.5)
      .as[Long].collect().toSet
    assert(small == large.filter(_ <= 1000L), "membership moved under data growth")
  }

  test("fixedSizeSample: exactly k per stratum, deterministic, partition-invariant") {
    val df = (1L to 3000L).map(i => (i, s"s${i % 3}")).toDF("k", "g")
    val a = Sampling.fixedSizeSample(df, "g", "k", 25)
      .as[(Long, String)].collect().sortBy(identity).toSeq
    assert(a.groupBy(_._2).values.forall(_.size == 25), "not exactly k per stratum")
    val b = Sampling.fixedSizeSample(df.repartition(13), "g", "k", 25)
      .as[(Long, String)].collect().sortBy(identity).toSeq
    assert(a == b, "sample changed under repartition")
    // a stratum smaller than k keeps all its rows
    val tiny = Seq((1L, "x"), (2L, "x")).toDF("k", "g")
    assert(Sampling.fixedSizeSample(tiny, "g", "k", 25).count() == 2L)
  }

  test("splitByKey is a disjoint exhaustive partition with stable assignment") {
    val df = (1L to 20000L).toDF("k")
    val splits = Sampling.splitByKey(df, "k", Seq("train" -> 0.8, "eval" -> 0.1, "test" -> 0.1))
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(splits.keySet == Set("train", "eval", "test"))
    assert(splits.values.sum == 20000L) // exhaustive + disjoint by construction
    assert(math.abs(splits("train") / 20000.0 - 0.8) < 0.02)
    // per-row assignment never changes when the frame shrinks
    val sub = Sampling.splitByKey(df.filter($"k" <= 100), "k",
        Seq("train" -> 0.8, "eval" -> 0.1, "test" -> 0.1))
      .select("k", "split").as[(Long, String)].collect().toMap
    val full = Sampling.splitByKey(df, "k",
        Seq("train" -> 0.8, "eval" -> 0.1, "test" -> 0.1))
      .filter($"k" <= 100).select("k", "split").as[(Long, String)].collect().toMap
    assert(sub == full)
  }

  test("weighted sample: inclusion tracks weight, invariant under partitioning") {
    val df = (1L to 30000L).map(k => (k, (k % 100 + 1) * 20)).toDF("k", "w")
    val got = Sampling.weightedSample(df, "k", $"w", 1.0 / 2048.0)
      .select("k").as[Long].collect().toSet
    // rate sanity: E[|S|] = sum(min(1, w/2048)) over rows
    val expectedMass = (1L to 30000L)
      .map(k => math.min(1.0, (k % 100 + 1) * 20 / 2048.0)).sum
    assert(math.abs(got.size - expectedMass) / expectedMass < 0.05,
      s"${got.size} vs expected ~$expectedMass")
    // heavier rows sample more often: top weight decile vs bottom decile
    val heavy = got.count(k => k % 100 >= 90) / 3000.0
    val light = got.count(k => k % 100 < 10) / 3000.0
    assert(heavy > 5 * light, s"heavy=$heavy light=$light")
    // membership is a pure function of the key: any partitioning agrees
    val repartitioned = Sampling.weightedSample(df.repartition(17), "k", $"w", 1.0 / 2048.0)
      .select("k").as[Long].collect().toSet
    assert(repartitioned == got)
  }

  test("stratified fractions are honored per stratum") {
    val df = (1L to 30000L).map(k => (k, if (k % 3 == 0) "en" else "de")).toDF("k", "lang")
    val got = Sampling.stratifiedSample(df, "lang", "k", Map("en" -> 0.5, "de" -> 0.1))
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(math.abs(got("en") / 10000.0 - 0.5) < 0.03, s"en ${got("en")}")
    assert(math.abs(got("de") / 20000.0 - 0.1) < 0.02, s"de ${got("de")}")
    // unlisted stratum keeps nothing
    val none = Sampling.stratifiedSample(df, "lang", "k", Map("en" -> 0.5))
      .filter($"lang" === "de").count()
    assert(none == 0L)
  }

  test("quota sample targets per-stratum budgets and clamps at keep-all") {
    // 10k "web", 200 "wiki", 300 "books"
    val df = (1L to 10500L).map { k =>
      (k, if (k <= 10000) "web" else if (k <= 10200) "wiki" else "books")
    }.toDF("k", "src")
    val got = Sampling.quotaSample(df, "src", "k",
        Map("web" -> 1000L, "wiki" -> 5000L))
      .as[(Long, String)].collect()
    val bySrc = got.groupBy(_._2).view.mapValues(_.length).toMap
    // web: rate 0.1 of 10k -> ~1000 (Bernoulli, not exact-k)
    assert(math.abs(bySrc("web") - 1000) < 150, s"web ${bySrc("web")}")
    // wiki: quota 5000 > 200 rows -> rate clamps to 1, keep ALL
    assert(bySrc("wiki") == 200, s"wiki ${bySrc.get("wiki")}")
    // books has no quota -> keep nothing
    assert(!bySrc.contains("books"), s"books leaked: ${bySrc.get("books")}")
    // deterministic + partition-invariant like every sampler here
    val again = Sampling.quotaSample(df.repartition(13), "src", "k",
        Map("web" -> 1000L, "wiki" -> 5000L))
      .as[(Long, String)].collect()
    assert(got.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("quota membership is consistent with deterministicSample's draw") {
    // same seed + same key => quota keeps exactly the rows whose uniform
    // draw is below quota/n: cross-check against the base sampler
    val df = (1L to 4000L).map(k => (k, "s")).toDF("k", "src")
    val viaQuota = Sampling.quotaSample(df, "src", "k", Map("s" -> 1000L))
      .select("k").as[Long].collect().toSet
    val viaFraction = Sampling.deterministicSample(df, "k", 1000.0 / 4000.0)
      .select("k").as[Long].collect().toSet
    assert(viaQuota == viaFraction)
  }

  test("mixtureWeights: sqrt temperature scaling, weights sum to 1, epochs math") {
    // domains: a has 9 tokens, b has 1 -> sqrt scaling gives 3:1, so raw
    // proportions 0.9/0.1 become 0.75/0.25 — the tail is lifted
    val df = Seq(("a", "t1 t2 t3 t4 t5 t6 t7 t8 t9"), ("b", "x"))
      .toDF("src", "text")
    val got = Sampling.mixtureWeights(df, Seq("src"), "text", 100L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(got("a")._1 == 9L && got("b")._1 == 1L)
    assert(math.abs(got("a")._2 - 0.75) < 1e-12)
    assert(math.abs(got("b")._2 - 0.25) < 1e-12)
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-12)
    // alloc = w*B; epochs = alloc / tokens: b gets 25 tokens over a
    // 1-token pool -> 25 epochs
    assert(math.abs(got("b")._3 - 25.0) < 1e-9)
    assert(math.abs(got("b")._4 - 25.0) < 1e-9)
    assert(math.abs(got("a")._4 - 75.0 / 9) < 1e-9)
  }
}
