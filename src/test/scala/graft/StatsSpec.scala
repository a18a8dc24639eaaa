package graft

import graft.functions.JaroWinkler
import graft.operators.{Graph, Linkage, Stats, TextAnalysis}
import graft.operators.Behavior

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The statistics family (χ², equi-depth histogram, two-proportion z,
  * CUSUM), the Jaro–Winkler expression, the exact-integer time-weighted
  * operators, and the new graph iterators (bounded SSSP, HITS). */
class StatsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session

  // ---- Jaro–Winkler: reference values pinned against DuckDB's
  // jaro_winkler_similarity (the q172 oracle; fuzzed bit-exact on 200k
  // random pairs during development) ----

  private def jw(a: String, b: String): Double = JaroWinkler.similarity(a, b)

  test("jaro_winkler matches the pinned oracle reference values bit-exactly") {
    assert(jw("MARTHA", "MARHTA") == 0.9611111111111111)       // transposition
    assert(jw("DIXON", "DICKSONX") == 0.8133333333333332)      // prefix boost
    assert(jw("abcd", "abce") == 0.8833333333333334)
    assert(jw("PREFIXaaaa", "PREFIXbbbb") == 0.8400000000000001) // prefix cap 4
    assert(jw("abcdefgh", "abcdefgh") == 1.0)
    assert(jw("hello world", "hello wrold") == 0.9818181818181818)
  }

  test("jaro_winkler edge semantics: empties, no-match, boost threshold") {
    assert(jw("", "") == 0.0)          // the linkage convention, not 1.0
    assert(jw("", "ABC") == 0.0)
    assert(jw("x", "y") == 0.0)
    assert(jw("AB", "BA") == 0.0)      // window 0: no same-position match
    // jaro = 0.4667 ≤ 0.7 ⇒ the common AA prefix earns NO boost (strict >)
    assert(jw("AAXXXXXXXX", "AAYYYYYYYY") == 0.4666666666666666)
  }

  test("jaro_winkler SQL surface evaluates via the registered function") {
    import spark.implicits._
    val r = Seq(("MARTHA", "MARHTA")).toDF("a", "b")
      .selectExpr("jaro_winkler(a, b) AS s").head().getDouble(0)
    assert(r == 0.9611111111111111)
    // null propagation
    val n = Seq((Option.empty[String], Option("x"))).toDF("a", "b")
      .selectExpr("jaro_winkler(a, b) AS s").head()
    assert(n.isNullAt(0))
  }

  test("blockedBestMatch resolves by highest similarity with deterministic ties") {
    import spark.implicits._
    val probe = Seq((1L, "marhta")).toDF("pid", "pname")
    val master = Seq((10L, "martha"), (11L, "marxxx"), (12L, "zzzzzz"))
      .toDF("mid", "mname")
    val jwCol: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
        org.apache.spark.sql.Column = (a, b) =>
      org.apache.spark.sql.graft.GraftBridge.column(JaroWinkler(
        org.apache.spark.sql.graft.GraftBridge.expression(a),
        org.apache.spark.sql.graft.GraftBridge.expression(b)))
        .cast("decimal(10,6)")
    val out = Linkage.blockedBestMatch(probe, "pid", "pname",
      master, "mid", "mname", n => substring(n, 1, 3), jwCol)
      .collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("mid") == 10L) // martha beats marxxx
  }

  // ---- CUSUM: the closed form must equal the sequential fold ----

  test("cusum equals the direct sequential max(0, s + dev) fold") {
    import spark.implicits._
    val vals = Seq(10.0, 10.0, 25.0, 30.0, 9.0, 45.0, 50.0, 8.0, 7.0, 60.0)
    val rows = vals.zipWithIndex.map { case (v, i) =>
      (java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1000L + i)),
        "k", v, i.toLong)
    }
    val df = rows.toDF("ts", "key", "value", "id")
    val out = Stats.cusum(df, "ts", "key", "value", "id",
      slack = 2.0, threshold = 15.0).collect()
    assert(out.length == 1)
    // reference fold in exact micro-units (mu via truncating division)
    val vu = vals.map(v => math.round(v * 1e6))
    val muu = vu.sum / vu.length
    var s = 0L
    var alarms = 0L
    var peak = 0L
    var firstUs = Option.empty[Long]
    for ((v, i) <- vu.zipWithIndex) {
      s = math.max(0L, s + (v - muu - 2000000L))
      if (s > 15000000L) {
        alarms += 1
        if (firstUs.isEmpty) firstUs = Some((1000L + i) * 1000000L)
      }
      peak = math.max(peak, s)
    }
    val r = out.head
    assert(r.getAs[Long]("n_alarms") == alarms)
    assert(r.getAs[Double]("peak_cusum") == peak.toDouble / 1e6)
    assert(r.getAs[Long]("first_alarm_us") == firstUs.get)
  }

  // ---- χ², histogram, z-test on hand-computable fixtures ----

  test("chiSquare on a known 2x2 table, including an observed-zero cell") {
    import spark.implicits._
    // a=x: 30 p / 10 q ; a=y: 10 p / 0 q  (the zero cell must contribute E)
    val df = (Seq.fill(30)(("x", "p")) ++ Seq.fill(10)(("x", "q")) ++
      Seq.fill(10)(("y", "p"))).toDF("a", "b")
    val r = Stats.chiSquare(df, "a", "b").head()
    // totals: rx=40 ry=10 cp=40 cq=10 n=50
    val e = Map(("x","p") -> 32.0, ("x","q") -> 8.0, ("y","p") -> 8.0, ("y","q") -> 2.0)
    val o = Map(("x","p") -> 30.0, ("x","q") -> 10.0, ("y","p") -> 10.0, ("y","q") -> 0.0)
    // keys.toSeq: mapping a key SET would dedupe the two equal 0.5 terms
    val chi2 = e.keys.toSeq.map(k => (o(k) - e(k)) * (o(k) - e(k)) / e(k)).sum
    assert(math.abs(r.getAs[Double]("chi2") - chi2) < 1e-9)
    assert(r.getAs[Long]("dof") == 1L)
    assert(r.getAs[Long]("n") == 50L)
    assert(math.abs(r.getAs[Double]("cramers_v") -
      math.sqrt(chi2 / 50.0)) < 1e-9)
  }

  test("equiDepthHistogram: bucket counts differ by at most 1, boundaries nest") {
    import spark.implicits._
    val df = (1 to 103).map(i => ("g", i.toDouble, i.toLong)).toDF("g", "v", "id")
    val h = Stats.equiDepthHistogram(df, "g", "v", Seq("id"), k = 8)
      .orderBy("bucket").collect()
    assert(h.length == 8)
    val ns = h.map(_.getAs[Long]("n"))
    assert(ns.sum == 103L && ns.max - ns.min <= 1)
    // buckets tile the sorted domain: next lo follows previous hi
    val los = h.map(_.getAs[Double]("lo"))
    val his = h.map(_.getAs[Double]("hi"))
    for (i <- 1 until 8) assert(los(i) == his(i - 1) + 1.0)
  }

  test("twoProportionZ on a known contingency") {
    import spark.implicits._
    // A: 60/100 convert, B: 40/100
    val df = ((1 to 100).map(i => ("A", i <= 60)) ++
      (1 to 100).map(i => ("B", i <= 40))).toDF("variant", "ok")
    val r = Stats.twoProportionZ(df, "variant", "ok").head()
    assert(r.getAs[String]("variant_a") == "A")
    assert(r.getAs[Long]("x_a") == 60L && r.getAs[Long]("x_b") == 40L)
    val pp = 0.5
    val z = (0.6 - 0.4) / math.sqrt(pp * (1 - pp) * (1.0 / 100 + 1.0 / 100))
    assert(math.abs(r.getAs[java.math.BigDecimal]("z").doubleValue() - z) < 1e-9)
  }

  // ---- exact time-weighted operators ----

  test("timeWeightedAvg: piecewise-constant hold, last event excluded") {
    import spark.implicits._
    // value 10 for 3s, value 20 for 1s -> twavg = (30+20)/4 = 12.5
    val rows = Seq((0L, 10.0), (3L, 20.0), (4L, 99.0)).zipWithIndex.map {
      case ((sec, v), i) =>
        (java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec)),
          "u", v, i.toLong)
    }
    val r = Behavior.timeWeightedAvg(rows.toDF("ts", "key", "value", "id"),
      "ts", "key", "value", "id").head()
    assert(r.getAs[Double]("twavg") == 12.5)
    assert(r.getAs[Long]("span_us") == 4000000L)
    assert(r.getAs[Long]("n_intervals") == 2L)
  }

  test("timeInState: dwell shares sum to 1 and split by the held state") {
    import spark.implicits._
    val rows = Seq((0L, "view"), (2L, "click"), (3L, "view"), (7L, "buy"))
      .zipWithIndex.map { case ((sec, t), i) =>
        (java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec)),
          "u", t, i.toLong)
      }
    val out = Behavior.timeInState(rows.toDF("ts", "key", "et", "id"),
      "ts", "key", "et", "id").collect()
    val m = out.map(r => r.getAs[String]("et") ->
      (r.getAs[Long]("total_us"), r.getAs[Double]("share"))).toMap
    assert(m("view")._1 == 6000000L)  // 2s + 4s
    assert(m("click")._1 == 1000000L)
    assert(!m.contains("buy"))        // last event holds nothing
    assert(math.abs(out.map(_.getAs[Double]("share")).sum - 1.0) < 1e-12)
  }

  // ---- graph iterators ----

  test("boundedSssp: weighted distances within the hop bound, unreachable absent") {
    import spark.implicits._
    // path graph a-b-c-d-e with weights 1,5,1,1 plus shortcut a-c weight 3
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 5L), (3L, 4L, 1L), (4L, 5L, 1L),
      (1L, 3L, 3L)).toDF("a", "b", "w")
    val seed = Seq(1L).toDF("node")
    val d2 = Graph.boundedSssp(edges, "a", "b", "w", seed, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d2 == Map(1L -> 0L, 2L -> 1L, 3L -> 3L, 4L -> 4L))
    val d4 = Graph.boundedSssp(edges, "a", "b", "w", seed, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d4 == Map(1L -> 0L, 2L -> 1L, 3L -> 3L, 4L -> 4L, 5L -> 5L))
  }

  test("boundedSssp: random weighted graph equals hop-bounded Bellman-Ford") {
    import spark.implicits._
    import graft.operators.Graph
    val rnd = new scala.util.Random(7L)
    val n = 12
    val edges = Seq.fill(30) {
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong, (1 + rnd.nextInt(5)).toLong)
    }.filter { case (a, b, _) => a != b }.distinct
    val rounds = 4
    val got = Graph.boundedSssp(edges.toDF("a", "b", "w"),
        "a", "b", "w", Seq(0L).toDF("node"), rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // hop-bounded Bellman-Ford over the UNDIRECTED edge view
    val bi = edges.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
    var dist = Map(0L -> 0L)
    for (_ <- 1 to rounds) {
      val relaxed = bi.flatMap { case (u, v, w) =>
        dist.get(u).map(d => v -> (d + w)) }
        .groupBy(_._1).map { case (v, ds) => v -> ds.map(_._2).min }
      dist = (dist.keySet ++ relaxed.keySet).map { v =>
        v -> math.min(dist.getOrElse(v, Long.MaxValue),
          relaxed.getOrElse(v, Long.MaxValue)) }.toMap
    }
    assert(got == dist, s"got $got expect $dist")
    assert(dist.size > 5, "sweep degenerate: graph mostly unreachable")
  }

  test("hits: L1-normalized, degree-dominant bipartite case") {
    import spark.implicits._
    // hub 1 points at p1,p2,p3; hub 2 at p1 only
    val e = Seq((1L, 101L), (1L, 102L), (1L, 103L), (2L, 101L))
      .toDF("c", "p")
    val out = Graph.hits(e, "c", "p", iters = 2).collect()
    val hubs = out.filter(_.getString(0) == "hub")
      .map(r => r.getLong(1) -> r.getDecimal(2).doubleValue()).toMap
    val auths = out.filter(_.getString(0) == "auth")
      .map(r => r.getLong(1) -> r.getDecimal(2).doubleValue()).toMap
    assert(math.abs(hubs.values.sum - 1.0) < 1e-9)
    assert(math.abs(auths.values.sum - 1.0) < 1e-9)
    assert(hubs(1L) > hubs(2L))
    assert(auths(101L) > auths(102L))
    assert(auths(102L) == auths(103L))
  }

  test("ngramNovelty: shared vs unique trigrams, short-doc whole-text rule") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"),      // trigrams: "a b c", "b c d"
      (2L, "a b c x"),      // trigrams: "a b c", "b c x"
      (3L, "zz yy")         // < 3 tokens -> whole text "zz yy"
    ).toDF("doc_id", "text")
    val out = TextAnalysis.ngramNovelty(docs, "doc_id", "text", k = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_unique"),
          r.getAs[Double]("novelty"))).toMap
    assert(out(1L) == ((2L, 1L, 0.5)))  // "a b c" shared with doc 2
    assert(out(2L) == ((2L, 1L, 0.5)))
    assert(out(3L) == ((1L, 1L, 1.0)))
  }

  test("giniByGroup: uniform is 0, fully concentrated approaches 1") {
    import spark.implicits._
    val uniform = (1 to 10).map(i => ("g", i.toLong, 500L)).toDF("g", "e", "x")
    val g0 = Stats.giniByGroup(uniform, "g", "e", "x").head().getAs[Double]("gini")
    assert(g0 == 0.0)
    // one entity holds everything: G = (n-1)/n
    val conc = (1 to 10).map(i => ("g", i.toLong, if (i == 10) 1000L else 0L))
      .toDF("g", "e", "x")
    val g1 = Stats.giniByGroup(conc, "g", "e", "x").head().getAs[Double]("gini")
    assert(g1 == 0.9)
  }

  test("rfmSegments: totals and extreme cells on a hand fixture") {
    import spark.implicits._
    // 10 customers, customer i places i orders of 100.00 each on day i
    val orders = (1 to 10).flatMap(i => (1 to i).map(_ =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-$i%02d 00:00:00"), 100.0)))
      .toDF("cust", "d", "amt")
    val out = Stats.rfmSegments(orders, "cust", "d", "amt").collect()
    assert(out.map(_.getAs[Long]("n_customers")).sum == 10L)
    assert(out.map(_.getAs[Double]("total_spend")).sum == 5500.0)
    // customer 10 is most recent, most frequent, highest spend -> (5,5,5)
    val top = out.filter(r => r.getAs[Int]("r") == 5 && r.getAs[Int]("f") == 5 &&
      r.getAs[Int]("m") == 5)
    assert(top.length == 1 && top.head.getAs[Long]("n_customers") == 2L)
  }

  test("benfordProfile: exact first digits from the centi-grid, shares sum to 1") {
    import spark.implicits._
    // 19.99 -> digit 1, 0.02 -> digit 2 (centi-int 2), 900.00 -> digit 9
    val df = Seq(19.99, 0.02, 900.0, 1.0, 0.0).toDF("v") // 0 excluded
    val out = graft.operators.Audit.benfordProfile(df, "v")
      .collect().map(r => r.getAs[Int]("digit") -> r.getAs[Long]("n")).toMap
    assert(out == Map(1 -> 2L, 2 -> 1L, 9 -> 1L))
    val shares = graft.operators.Audit.benfordProfile(df, "v")
      .collect().map(_.getAs[Double]("obs_share"))
    assert(math.abs(shares.sum - 1.0) < 1e-12)
  }

  test("containmentDupPairs: full subset containment found, disjoint pair absent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"),              // trigrams: abc bcd cde def
      (2L, "a b c d e f g h i j"),      // superset of doc 1's trigrams
      (3L, "x y z w v u")               // disjoint
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.containmentDupPairs(docs, "doc_id", "text",
      k = 3, tau = 0.6, maxDf = 256).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("id_a") == 1L && r.getAs[Long]("id_b") == 2L)
    assert(r.getAs[Double]("containment") == 1.0) // doc 1 fully inside doc 2
  }

  test("containmentDupPairs: random corpus equals brute force UNDER the df cap") {
    import spark.implicits._
    // tiny vocab + tiny maxDf: many windows exceed the cap, so the
    // post-cap universe (sizes AND intersections both computed on KEPT
    // windows only) is what brute force must reproduce — the cap is
    // part of the declared semantics, not an approximation knob
    val rnd = new scala.util.Random(99L)
    val vocab = Array("a", "b", "c", "d", "e")
    val docs = (0L until 20L).map { i =>
      val n = 1 + rnd.nextInt(8)
      (i, Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val (tau, maxDf) = (0.5, 4)
    val out = graft.operators.Dedup.containmentDupPairs(
        docs.toDF("doc_id", "text"), "doc_id", "text",
        k = 3, tau = tau, maxDf = maxDf)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        (r.getAs[Long]("n_common"), r.getAs[Long]("size_a"),
          r.getAs[Long]("size_b"))).toMap
    def wins(text: String): Set[String] = {
      val toks = text.split("\\s+").filter(_.nonEmpty).toSeq
      if (toks.size < 3) Set(toks.mkString(" "))
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    val all = docs.map { case (id, t) => id -> wins(t) }
    val df_ = all.flatMap(_._2).groupBy(identity).map { case (w, ws) =>
      w -> all.count(_._2.contains(w)) }
    val kept = all.map { case (id, ws) =>
      id -> ws.filter(w => df_(w) <= maxDf) }
    val expect = (for {
      (ia, sa) <- kept; (ib, sb) <- kept if ia < ib
      c = (sa & sb).size if c > 0
      m = math.min(sa.size, sb.size) if c.toDouble / m >= tau
    } yield (ia, ib) -> (c.toLong, sa.size.toLong, sb.size.toLong)).toMap
    assert(out == expect, s"got ${out.size} expect ${expect.size}; " +
      s"diff=${(out.keySet diff expect.keySet) ++ (expect.keySet diff out.keySet)}")
    assert(expect.nonEmpty, "sweep degenerate: no pairs survived")
  }

  test("seasonalNaiveBacktest: lagged self-join evaluates only doubly-occupied buckets") {
    import spark.implicits._
    import graft.operators.Stats
    // bucketSeconds=10, season=2; counts per bucket: b0=2, b1=1, b2=3, b3=1
    // evaluated: (b2 vs b0): |3-2|=1; (b3 vs b1): 0 -> n=2, mae=0.5, bias=0.5
    val ts = Seq(0L, 5L, 12L, 21L, 22L, 28L, 31L)
    val ev = ts.map(s => ("a", s)).toDF("k", "s")
      .select(col("k"), timestamp_seconds(col("s")).as("ts"))
    val r = Stats.seasonalNaiveBacktest(ev, "ts", "k",
      bucketSeconds = 10L, season = 2).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n_buckets") == 2L)
    assert(r.head.getAs[Long]("abs_err_sum") == 1L)
    assert(r.head.getAs[Long]("err_sum") == 1L)
    assert(r.head.getAs[Double]("mae") == 0.5)
    assert(r.head.getAs[Double]("bias") == 0.5)
  }

  test("thresholdCrossing: first crossing row per key, exact cents, non-crossers absent") {
    import spark.implicits._
    import graft.operators.Stats
    // key A: 2.00 + 2.50 + 1.00 -> crosses 450 cents at the 2nd row (450)
    // key B: total 3.00 -> never crosses
    val df = Seq(("A", 1L, 2.00), ("A", 2L, 2.50), ("A", 3L, 1.00),
        ("B", 1L, 3.00))
      .toDF("k", "seq", "amt")
    val r = Stats.thresholdCrossing(df, "k", Seq("seq"), "amt",
      thresholdCents = 450L).collect()
    assert(r.length == 1)
    assert(r.head.getAs[String]("k") == "A")
    assert(r.head.getAs[Long]("cross_at") == 2L)
    assert(r.head.getAs[Long]("cum_cents") == 450L)
  }

  test("rankMigration: rank deltas between consecutive quarters, absent items drop") {
    import spark.implicits._
    import graft.operators.Stats
    // Q1 (2024-02): item 1 rev 300 (rank 1), item 2 rev 200 (rank 2)
    // Q2 (2024-05): item 2 rev 500 (rank 1), item 1 rev 100 (rank 2), item 3 new
    val df = Seq(
      (1L, "2024-02-01", 300.0), (2L, "2024-02-15", 200.0),
      (2L, "2024-05-01", 500.0), (1L, "2024-05-10", 100.0),
      (3L, "2024-05-20", 50.0))
      .toDF("item", "d", "price")
      .select(col("item"), to_timestamp(col("d")).as("d"), col("price"))
    val r = Stats.rankMigration(df, "item", "d", "price", topK = 10)
      .collect().map(x => x.getAs[Long]("item") ->
        (x.getAs[Long]("rnk_prev"), x.getAs[Long]("rnk"),
          x.getAs[Long]("delta"))).toMap
    assert(r == Map(1L -> (1L, 2L, -1L), 2L -> (2L, 1L, 1L)), s"got $r")
  }

  test("bucketPercentileSeries: R-7 interpolation per (key, bucket)") {
    import spark.implicits._
    import graft.operators.Stats
    // one key, one 10s bucket, values 1..4: p50 = 2.5, p95 = 3 + .85 = 3.85
    val ev = Seq(1.0, 2.0, 3.0, 4.0).zipWithIndex
      .map { case (v, i) => ("a", i.toLong, v) }.toDF("k", "s", "v")
      .select(col("k"), timestamp_seconds(col("s")).as("ts"), col("v"))
    val r = Stats.bucketPercentileSeries(ev, "ts", "k", "v",
      bucketSeconds = 10L).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n") == 4L)
    assert(r.head.getAs[Double]("p50") == 2.5)
    // 0.95·(n−1) carries double rounding; the cross-ENGINE gate is exact
    // (DuckDB reproduces the same bits), the hand literal is not
    assert(math.abs(r.head.getAs[Double]("p95") - 3.85) < 1e-12)
  }

  test("bounceRate: single-event sessions counted by deterministic entry type") {
    import spark.implicits._
    import graft.operators.Behavior
    // u1: [view@0, click@10] one session (entry view), [view@10000] bounce;
    // u2: [click@5] bounce
    val ev = Seq((1L, 0L, "view", 1L), (1L, 10L, "click", 2L),
        (1L, 10000L, "view", 3L), (2L, 5L, "click", 4L))
      .toDF("user_id", "s", "event_type", "event_id")
      .select(col("user_id"), timestamp_seconds(col("s")).as("ts"),
        col("event_type"), col("event_id"))
    val r = Behavior.bounceRate(ev, "ts", "user_id", "event_type",
        "event_id", gapSeconds = 1800L)
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    assert(r == Map("view" -> (2L, 1L, 0.5), "click" -> (1L, 1L, 1.0)),
      s"got $r")
  }

  test("supervisedBins: cutpoint-tie rows fall left, per-bin target rates exact") {
    import spark.implicits._
    import graft.operators.Stats
    // values 1..4, nBins=2: the single cutpoint is the median 2.5;
    // bin 0 = {1,2} (1 positive), bin 1 = {3,4} (0 positive)
    val df = Seq((1.0, true), (2.0, false), (3.0, false), (4.0, false))
      .toDF("v", "y")
    val r = Stats.supervisedBins(df, "v", col("y"), nBins = 2)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3), x.getDouble(4),
          x.getDouble(5))).toMap
    assert(r == Map(0L -> (2L, 1L, 0.5, 1.0, 2.0),
      1L -> (2L, 0L, 0.0, 3.0, 4.0)), s"got $r")
    // exact-boundary tie: a row AT the cutpoint stays in the lower bin
    val df2 = Seq((1.0, false), (2.0, false), (3.0, false)).toDF("v", "y")
    val r2 = Stats.supervisedBins(df2, "v", col("y"), nBins = 2)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r2 == Map(0L -> 2L, 1L -> 1L), s"got $r2") // median 2 -> {1,2}|{3}
  }

  test("linearAttribution: equal shares per conversion, lookback and next-conversion scoping") {
    import spark.implicits._
    import graft.operators.Behavior
    // u1: view@0, click@10, purchase@20 -> 2 touches share 1/2 each;
    //     view@30, purchase@40          -> 1 touch, full credit;
    // u2: view@0, purchase@{8 days}     -> outside lookback, no credit;
    // u3: click@0 (no purchase)         -> no credit
    val day = 86400L
    val ev = Seq((1L, 0L, "view", 1L), (1L, 10L, "click", 2L),
        (1L, 20L, "purchase", 3L), (1L, 30L, "view", 4L),
        (1L, 40L, "purchase", 5L),
        (2L, 0L, "view", 6L), (2L, 8 * day, "purchase", 7L),
        (3L, 0L, "click", 8L))
      .toDF("user_id", "s", "event_type", "event_id")
      .select(col("user_id"), timestamp_seconds(col("s")).as("ts"),
        col("event_type"), col("event_id"))
    val r = Behavior.linearAttribution(ev, "ts", "user_id", "event_type",
        "event_id", convType = "purchase", lookbackSeconds = 7 * day)
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getDecimal(2).doubleValue)).toMap
    assert(r == Map("view" -> (2L, 1.5), "click" -> (1L, 0.5)), s"got $r")
  }

  test("laggedAutocorrelation: perfect periodicity gives r=1, gaps densified to zero") {
    import spark.implicits._
    import graft.operators.Stats
    // bucket=10s, lag=2: key "p" emits 2 events in every EVEN bucket
    // 0,2,4,6,8 and none in odd buckets -> the densified series
    // [2,0,2,0,...] is exactly periodic at lag 2 -> r = 1.0.
    // Without the zero-fill only occupied buckets would pair and the
    // series would be constant (filtered as zero-variance).
    val ev = (0 until 10 by 2).flatMap(b =>
        Seq(("p", b * 10L), ("p", b * 10L + 5L)))
      .toDF("k", "s")
      .select(col("k"), timestamp_seconds(col("s")).as("ts"))
    val r = Stats.laggedAutocorrelation(ev, "ts", "k",
      bucketSeconds = 10L, lagBuckets = 2).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n_pairs") == 7L) // buckets 2..8 pair back
    assert(r.head.getAs[Double]("r") == 1.0)
    // anti-periodic at lag 1: [2,0,2,0,...] -> r = -1
    val r1 = Stats.laggedAutocorrelation(ev, "ts", "k",
      bucketSeconds = 10L, lagBuckets = 1).collect()
    assert(r1.head.getAs[Double]("r") == -1.0)
  }

  test("sessionCooccurrence: pairs within one session only, lift from session frequencies") {
    import spark.implicits._
    import graft.operators.Behavior
    // u1 session1: {A, B}; u1 session2 (after the gap): {A};
    // u2 session1: {B}  -> n_s = 3, n_A = 2, n_B = 2, n_AB = 1
    // lift(A,B) = 1 * 3 / (2 * 2) = 0.75
    val ev = Seq((1L, 0L, "A", 1L), (1L, 10L, "B", 2L),
        (1L, 10000L, "A", 3L), (2L, 0L, "B", 4L))
      .toDF("user_id", "s", "event_type", "event_id")
      .select(col("user_id"), timestamp_seconds(col("s")).as("ts"),
        col("event_type"), col("event_id"))
    val r = Behavior.sessionCooccurrence(ev, "ts", "user_id", "event_type",
      "event_id", gapSeconds = 1800L).collect()
    assert(r.length == 1)
    assert(r.head.getString(0) == "A" && r.head.getString(1) == "B")
    assert(r.head.getLong(2) == 1L)
    assert(r.head.getDouble(3) == 0.75)
  }

  test("survivalCurve: reverse-cumulative survivors at observed lifetimes") {
    import spark.implicits._
    import graft.operators.Stats
    val day = 86400L
    // lifetimes: u1 = 0d, u2 = 2d, u3 = 2d -> S(0)=1, S(2)=2/3
    val ev = Seq((1L, 0L), (2L, 0L), (2L, 2 * day), (3L, day),
        (3L, 3 * day))
      .toDF("user_id", "s")
      .select(col("user_id"), timestamp_seconds(col("s")).as("ts"))
    val r = Stats.survivalCurve(ev, "ts", "user_id")
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2)))
      .toMap
    assert(r == Map(0L -> (3L, 1.0), 2L -> (2L, 2.0 / 3.0)), s"got $r")
  }

  test("groupOls: exact fit on a known line, zero-variance-x group excluded") {
    import spark.implicits._
    import graft.operators.Stats
    // group a: y = 2x + 1 exactly -> slope 2, intercept 1, r2 = 1
    // group b: x constant -> excluded
    val df = Seq(("a", 1.0, 3.0), ("a", 2.0, 5.0), ("a", 3.0, 7.0),
        ("b", 1.0, 1.0), ("b", 1.0, 2.0))
      .toDF("g", "x", "y")
    val r = Stats.groupOls(df, "g", "x", "y").collect()
    assert(r.length == 1)
    assert(r.head.getString(0) == "a")
    assert(r.head.getDouble(2) == 2.0)   // slope
    assert(r.head.getDouble(3) == 1.0)   // intercept
    assert(r.head.getDouble(4) == 1.0)   // r2
  }

  test("eventTrigrams: windows never cross the session boundary") {
    import spark.implicits._
    import graft.operators.Behavior
    // u1 session1: A B C D -> trigrams A>B>C, B>C>D; session2: E F G
    // (after the gap) -> E>F>G; a cross-boundary D>E>F must NOT appear
    val ev = Seq((1L, 0L, "A", 1L), (1L, 1L, "B", 2L), (1L, 2L, "C", 3L),
        (1L, 3L, "D", 4L), (1L, 10000L, "E", 5L), (1L, 10001L, "F", 6L),
        (1L, 10002L, "G", 7L))
      .toDF("user_id", "s", "event_type", "event_id")
      .select(col("user_id"), timestamp_seconds(col("s")).as("ts"),
        col("event_type"), col("event_id"))
    val r = Behavior.eventTrigrams(ev, "ts", "user_id", "event_type",
        "event_id", gapSeconds = 1800L, topK = 10)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r == Map("A>B>C" -> 1L, "B>C>D" -> 1L, "E>F>G" -> 1L), s"got $r")
  }

  test("weightedPercentile: integer crossing picks the lower weighted median") {
    import spark.implicits._
    import graft.operators.Stats
    // g: values 1(w=1), 2(w=1), 3(w=2): W=4, half=2 -> cumw at v=2 is 2,
    // 2*2 >= 4 -> median 2 (the LOWER median; an interpolating engine
    // would say 2.5)
    val df = Seq(("g", 1.0, 1.0), ("g", 2.0, 1.0), ("g", 3.0, 2.0))
      .toDF("k", "v", "w")
    val r = Stats.weightedPercentile(df, "k", "v", "w", 1, 2).collect()
    assert(r.length == 1)
    assert(r.head.getDouble(1) == 2.0)
    assert(r.head.getLong(2) == 400L)
  }

  test("leadLagCorrelation: a shifted copy peaks exactly at its lag") {
    import spark.implicits._
    import graft.operators.Stats
    // y is x delayed by 2 buckets: x bursts in buckets {0, 4, 8},
    // y bursts in {2, 6, 10} -> r(+2) = 1.0 exactly
    val xs = Seq(0, 4, 8).flatMap(b => Seq.fill(3)(("a", b * 10L)))
    val ys = Seq(2, 6, 10).flatMap(b => Seq.fill(3)(("b", b * 10L)))
    val ev = (xs ++ ys).toDF("k", "s")
      .select(col("k"), timestamp_seconds(col("s")).as("ts"))
    val r = Stats.leadLagCorrelation(ev, "ts", "k", "a", "b",
        bucketSeconds = 10L, maxLag = 3)
      .collect().map(x => x.getInt(0) -> x.getDouble(2)).toMap
    assert(r(2) == 1.0, s"got $r")
    assert(r.keySet == (-3 to 3).toSet)
  }

  test("categoricalEntropy: uniform mix is ln k, single category is 0") {
    import spark.implicits._
    import graft.operators.Stats
    // u1: 2+2 uniform over 2 cats -> H = ln 2, norm 1; u2: one cat -> 0
    val df = Seq((1L, "a"), (1L, "a"), (1L, "b"), (1L, "b"),
      (2L, "a"), (2L, "a")).toDF("u", "c")
    val r = Stats.categoricalEntropy(df, "u", "c").collect()
      .map(x => x.getLong(0) -> (x.getDouble(3), x.getDouble(4))).toMap
    assert(math.abs(r(1L)._1 - math.log(2)) < 1e-9, s"got $r")
    assert(math.abs(r(1L)._2 - 1.0) < 1e-9)
    assert(r(2L) == ((0.0, 0.0)))
  }

  test("interArrivalProfile: periodic gaps give B = -1, gaps stay per-entity") {
    import spark.implicits._
    import graft.operators.Stats
    // cat p: entity 1 at t=0,10,20 -> gaps {10,10}, sd=0 -> B=-1, cv=0.
    // entity 2 at t=1000 contributes NO gap (its stream has one event) —
    // a global-ordered implementation would wrongly see gap 980.
    val df = Seq((1L, "p", 0L), (1L, "p", 10L), (1L, "p", 20L),
      (2L, "p", 1000L)).toDF("e", "c", "s")
      .select(col("e"), col("c"), timestamp_seconds(col("s")).as("ts"))
    val r = Stats.interArrivalProfile(df, "ts", "e", "c").collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getLong(1) == 2L) // n_gaps
    assert(row.getDouble(2) == 1e7) // mean 10 s in µs
    assert(row.getDouble(3) == 0.0) // sd
    assert(row.getDouble(5) == -1.0, s"got $row") // burstiness
  }

  test("changepoint: a clean step splits exactly at the jump") {
    import spark.implicits._
    import graft.operators.Stats
    // hourly counts 1,1,1,11,11 (bucket b gets b%... build by event
    // multiplicity): buckets 0-2 one event, buckets 3-4 eleven events
    val rows = (0 to 2).flatMap(b => Seq.fill(1)(("k", b * 3600L))) ++
      (3 to 4).flatMap(b => Seq.fill(11)(("k", b * 3600L)))
    val ev = rows.toDF("k", "s")
      .select(col("k"), timestamp_seconds(col("s")).as("ts"))
    val r = Stats.changepoint(ev, "ts", "k", 3600L).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getLong(1) == 5L) // n_buckets
    assert(row.getLong(2) == 3L * 3600000000L, s"got $row") // cp at bucket 3
    assert(row.getDouble(3) == 1.0 && row.getDouble(4) == 11.0)
  }

  test("rollingCorrelation: lockstep series give r=1, flat window gives null") {
    import spark.implicits._
    import graft.operators.Stats
    // counts per bucket: a = [1,2,2], b = [1,2,2]; window of 2:
    // (1,2)->r=1; (2,2)->zero variance->null
    def burst(k: String, b: Int, n: Int) = Seq.fill(n)((k, b * 10L))
    val ev = (burst("a", 0, 1) ++ burst("a", 1, 2) ++ burst("a", 2, 2) ++
      burst("b", 0, 1) ++ burst("b", 1, 2) ++ burst("b", 2, 2))
      .toDF("k", "s")
      .select(col("k"), timestamp_seconds(col("s")).as("ts"))
    val r = Stats.rollingCorrelation(ev, "ts", "k", "a", "b",
        bucketSeconds = 10L, windowBuckets = 2)
      .collect().map(x => x.getLong(0) / 10000000L ->
        (if (x.isNullAt(1)) None else Some(x.getDouble(1)))).toMap
    assert(r == Map(1L -> Some(1.0), 2L -> None), s"got $r")
  }

  test("psiDrift: identical halves score exactly 0, a full shift scores high") {
    import spark.implicits._
    import graft.operators.Stats
    // key s: same values both halves -> every bin share equal -> psi 0.
    // key d: values jump by +100 in the second half -> top-bin mass
    val stable = (1 to 10).flatMap(v =>
      Seq(("s", 0L + v, v.toDouble), ("s", 1000L + v, v.toDouble)))
    val drift = (1 to 10).flatMap(v =>
      Seq(("d", 0L + v, v.toDouble), ("d", 1000L + v, v + 100.0)))
    val ev = (stable ++ drift).toDF("k", "s", "value")
      .select(col("k"), timestamp_seconds(col("s")).as("ts"), col("value"))
    val r = Stats.psiDrift(ev, "ts", "k", "value", nBins = 10)
      .collect().map(x => x.getString(0) -> x.getDouble(3)).toMap
    assert(r("s") == 0.0, s"got $r")
    assert(r("d") > 0.5, s"got $r")
  }

  test("longestStreaks: runs cut on type change, earliest wins ties") {
    import spark.implicits._
    // user 1: A A B B B A  -> longest B-run of 3 starting at t=2
    // user 2: C C | D D    -> tie of 2; earliest (C at t=0) wins
    val rows = Seq(
      (1L, 0L, "A"), (1L, 1L, "A"), (1L, 2L, "B"), (1L, 3L, "B"),
      (1L, 4L, "B"), (1L, 5L, "A"),
      (2L, 0L, "C"), (2L, 1L, "C"), (2L, 2L, "D"), (2L, 3L, "D")
    ).zipWithIndex.map { case ((u, sec, t), i) =>
      (java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec)),
        u, t, i.toLong)
    }
    val out = Behavior.longestStreaks(rows.toDF("ts", "u", "et", "id"),
      "ts", "u", "et", "id")
      .collect().map(r => r.getAs[Long]("u") ->
        (r.getAs[Long]("streak_len"), r.getAs[String]("event_type"),
          r.getAs[Long]("start_us"))).toMap
    assert(out(1L) == ((3L, "B", 2000000L)))
    assert(out(2L) == ((2L, "C", 0L)))
  }

  private def tsRow(sec: Long): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))

  test("maxDrawdown: hand-built equity curve +1 +2 -3 +1 troughs 3 " +
      "below the peak of 3") {
    import spark.implicits._
    val df = Seq((tsRow(0), 1L, 1.0), (tsRow(1), 2L, 2.0),
      (tsRow(2), 3L, -3.0), (tsRow(3), 4L, 1.0))
      .map { case (t, i, v) => ("k", t, i, v) }.toDF("k", "ts", "id", "v")
    val r = Stats.maxDrawdown(df, "k", "ts", "id", "v").head()
    assert(r.getAs[Long]("n_events") == 4L)
    assert(r.getAs[Double]("max_drawdown") == 3.0)
    assert(r.getAs[Long]("trough_us") == 2000000L)
    assert(r.getAs[Double]("peak_equity") == 3.0)
  }

  test("grubbsTest: {1,2,3,10} flags the 10 with the textbook G") {
    import spark.implicits._
    val df = Seq(1.0, 2.0, 3.0, 10.0).zipWithIndex
      .map { case (v, i) => ("g", v, i.toLong) }.toDF("g", "v", "k")
    val r = Stats.grubbsTest(df, "g", "v", "k").head()
    assert(r.getAs[Long]("outlier_key") == 3L)
    assert(r.getAs[Double]("outlier_value") == 10.0)
    assert(math.abs(r.getAs[Double]("mean") - 4.0) < 1e-12)
    // G = |10-4| / sqrt(50/3) = 1.4696938456699067
    assert(math.abs(r.getAs[Double]("g_stat") - 1.4696938456699067) < 1e-12)
    // n < 3 slices excluded
    val tiny = Seq(("g", 1.0, 1L), ("g", 2.0, 2L)).toDF("g", "v", "k")
    assert(Stats.grubbsTest(tiny, "g", "v", "k").count() == 0)
  }

  test("forecastAccuracy: hand-built hourly counts 1,2,3,4 at season 2 " +
      "give MAE 2, MASE 2") {
    import spark.implicits._
    // hour h gets h+1 events
    val rows = for (h <- 0 to 3; i <- 0 to h)
      yield ("k", tsRow(h * 3600L + i))
    val r = Stats.forecastAccuracy(rows.toDF("k", "ts"), "ts", "k",
      bucketSeconds = 3600L, season = 2).head()
    // eval hours 2,3: |3-1|=2, |4-2|=2 -> mae 2, rmse 2; naive-1
    // errors |3-2|+|4-3| = 2 -> mase = 4/2 = 2
    assert(r.getAs[Long]("n_buckets") == 2L)
    assert(r.getAs[Double]("mae") == 2.0)
    assert(r.getAs[Double]("rmse") == 2.0)
    assert(math.abs(r.getAs[Double]("mape_pct") -
      100.0 * (2.0 / 3 + 2.0 / 4) / 2) < 1e-9)
    assert(r.getAs[Double]("mase") == 2.0)
  }

  test("nelsonAalen: lifetimes {0,0,1} give H = 2/3 then 5/3") {
    import spark.implicits._
    // users 1,2: single event (lifetime 0); user 3: 1-day span
    val df = Seq((1L, tsRow(0)), (2L, tsRow(10)),
      (3L, tsRow(0)), (3L, tsRow(86400L))).toDF("u", "ts")
    val out = Stats.nelsonAalen(df, "ts", "u").collect()
      .map(r => r.getAs[Long]("t_days") ->
        (r.getAs[Long]("d"), r.getAs[Long]("n_at_risk"),
          r.getAs[Double]("cum_hazard"))).toMap
    assert(out(0L)._1 == 2L && out(0L)._2 == 3L)
    assert(math.abs(out(0L)._3 - 2.0 / 3) < 1e-12)
    assert(out(1L)._1 == 1L && out(1L)._2 == 1L)
    assert(math.abs(out(1L)._3 - 5.0 / 3) < 1e-12)
  }

  test("lorenzCurve: spends {0,1,1,2} in two halves give shares " +
      "0.25/0.75 and cumulative 0.25/1.0") {
    import spark.implicits._
    val per = Seq((1L, 0L), (2L, 100L), (3L, 100L), (4L, 200L))
      .toDF("e", "m")
    val out = Stats.lorenzCurve(per, "e", "m", 2).collect()
    assert(out.length == 2)
    assert(out(0).getAs[Double]("share") == 0.25)
    assert(out(0).getAs[Double]("cum_share") == 0.25)
    assert(out(1).getAs[Double]("share") == 0.75)
    assert(out(1).getAs[Double]("cum_share") == 1.0)
    assert(out.map(_.getAs[Long]("n_entities")).sum == 4L)
  }
}
