package graft

import graft.operators.{Dedup, Similarity, TextAnalysis}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavior tests for the LLM-pipeline operators with hand-constructed,
  * hand-checkable inputs (the sf oracles cover the bulk volumes). */
class OperatorsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._

  // ---- text analysis ----

  test("tokens/tokenCount robust to whitespace") {
    val df = Seq("a  b\tc", "  x y ", "").toDF("t")
      .select(TextAnalysis.tokenCount($"t").as("n"))
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(3L, 2L, 0L))
  }

  test("chunkTokens: hand-checked windows, stride overlap, short tail, empty doc") {
    val docs = Seq(("d1", "t1 t2 t3 t4 t5"), ("d2", "only"), ("d3", "  ")).toDF("id", "text")
    val got = TextAnalysis.chunkTokens(docs, "id", "text", 3, 2)
      .orderBy("id", "chunk_idx")
      .select("id", "chunk_idx", "chunk_start", "chunk_len", "chunk_text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(got.toSeq == Seq(
      ("d1", 0L, 0L, 3L, "t1 t2 t3"),
      ("d1", 1L, 2L, 3L, "t3 t4 t5"),
      ("d1", 2L, 4L, 1L, "t5"),
      ("d2", 0L, 0L, 1L, "only")))   // d3 tokenizes empty -> zero chunks
  }

  test("chunkTokens rejects stride > chunkSize") {
    val docs = Seq(("d", "a b")).toDF("id", "text")
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkTokens(docs, "id", "text", 2, 3)
    }
  }

  test("packSequences: offsets are per-(stream,shard) cumsums, partition-invariant") {
    val docs = (0L until 60L).map(i =>
      (i, if (i % 3 == 0) "en" else "fr", ("tok " * (1 + (i % 7)).toInt).trim))
      .toDF("doc_id", "lang", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.packSequences(df, "doc_id", "text", "lang", budget = 10L, nShards = 3)
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    val got = run(docs)
    // same rows regardless of input partitioning (shard is key-derived)
    assert(got.sortBy(_._3).toSeq == run(docs.repartition(7)).sortBy(_._3).toSeq)
    for (((_, _), rows) <- got.groupBy(r => (r._1, r._2))) {
      val inOrder = rows.sortBy(_._3)
      // stream offsets: first doc at 0, then contiguous by token count
      assert(inOrder.head._5 == 0L)
      for (Array(a, b) <- inOrder.sliding(2).map(_.toArray) if inOrder.size > 1)
        assert(b._5 == a._5 + a._4, s"gap between ${a._3} and ${b._3}")
      for (r <- inOrder) {
        assert(r._6 == r._5 / 10 && r._7 == (r._5 + r._4 - 1) / 10, s"seq span of ${r._3}")
      }
    }
    // every doc packs exactly once
    assert(got.map(_._3).sorted.toSeq == (0L until 60L))
  }

  test("assembleSequences: shard streams reconstruct exactly; budget fills every non-final sequence") {
    val docs = (0L until 40L).map(i =>
      (i, if (i % 2 == 0) "en" else "fr",
        (0 until (1 + (i % 9)).toInt).map(j => s"t${i}_$j").mkString(" ")))
      .toDF("doc_id", "lang", "text")
    val budget = 7L
    val seqs = TextAnalysis.assembleSequences(docs, "doc_id", "text", "lang", budget, 3)
      .collect().map(r => ((r.getString(0), r.getInt(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._1).toSeq).toMap
    val packed = TextAnalysis.packSequences(docs, "doc_id", "text", "lang", budget, 3)
      .collect().map(r => ((r.getString(0), r.getInt(1)), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(seqs.keySet == packed.keySet)
    for (((stream, shard), ss) <- seqs) {
      // seq ids are contiguous from 0; non-final sequences hold exactly `budget`
      assert(ss.map(_._1) == ss.indices.map(_.toLong))
      assert(ss.init.forall(_._3 == budget), s"underfull non-final seq in $stream/$shard")
      // concatenating the shard's sequences reproduces its docs' tokens in order
      val rebuilt = ss.map(_._4).mkString(" ")
      val expected = packed((stream, shard))
        .map(id => docs.collect().find(_.getLong(0) == id).get.getString(2))
        .flatMap(_.split("\\s+").filter(_.nonEmpty)).mkString(" ")
      assert(rebuilt == expected, s"stream $stream/$shard lost or reordered tokens")
      // doc counts and lengths agree with the packing view
      assert(ss.map(_._3).sum == expected.split(" ").length.toLong)
    }
  }

  test("dedupByPairsBest keeps the argmax member, ties break to min id, strings ids work") {
    // cluster {a,b,c}: b has top quality; cluster {d,e}: tie -> keep d; f alone
    val docs = Seq(("a", 0.3), ("b", 0.9), ("c", 0.5), ("d", 0.7), ("e", 0.7), ("f", 0.1))
      .toDF("id", "q")
    val edges = Seq(("a", "b"), ("b", "c"), ("d", "e")).toDF("id_a", "id_b")
    val kept = Dedup.dedupByPairsBest(docs, "id", "q", edges)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(kept == Seq("b", "d", "f"))
    // min-id convention of dedupByPairs differs on the first cluster
    val keptMin = Dedup.dedupByPairs(docs, "id", edges)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(keptMin == Seq("a", "d", "f"))
  }

  test("bm25Search: hand-computed score on a three-doc corpus") {
    val docs = Seq(
      (1L, "cat cat dog"),    // tf(cat)=2, dl=3
      (2L, "cat fish fish"),  // tf(cat)=1, dl=3
      (3L, "bird bird")       // no match -> excluded
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bm25Search(docs, "doc_id", "text", Seq("cat", "dog"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == Set(1L, 2L))
    val (k1, b, n, avgdl) = (1.2, 0.75, 3.0, 8.0 / 3.0)
    def term(tf: Double, df: Double, dl: Double) =
      math.log((n - df + 0.5) / (df + 0.5) + 1.0) *
        (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L)._1 == 2L && got(2L)._1 == 1L)
    assert(got(1L)._2 == r6(term(2, 2, 3) + term(1, 1, 3)), s"got ${got(1L)._2}")
    assert(got(2L)._2 == r6(term(1, 2, 3)), s"got ${got(2L)._2}")
  }

  test("bm25SearchWithStats: frozen stats reproduce the one-shot scores and price a new batch") {
    val corpus = Seq((1L, "cat cat dog"), (2L, "cat fish fish"), (3L, "bird bird"))
      .toDF("doc_id", "text")
    val terms = Seq("cat", "dog")
    val stats = TextAnalysis.bm25CorpusStats(corpus, "doc_id", "text", terms)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(rows(TextAnalysis.bm25SearchWithStats(corpus, stats, "doc_id", "text", terms))
      == rows(TextAnalysis.bm25Search(corpus, "doc_id", "text", terms)))
    // an unseen ingest batch scores under the FROZEN stats: same formula,
    // df/N/avgdl unchanged by the batch itself
    val batch = Seq((9L, "cat dog dog")).toDF("doc_id", "text")
    val got = rows(TextAnalysis.bm25SearchWithStats(batch, stats, "doc_id", "text", terms))
    val (k1, b, n, avgdl) = (1.2, 0.75, 3.0, 8.0 / 3.0)
    def term(tf: Double, df: Double, dl: Double) =
      math.log((n - df + 0.5) / (df + 0.5) + 1.0) *
        (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Seq((9L, 2L, r6(term(1, 2, 3) + term(2, 1, 3)))))
  }

  test("langId picks the stopword-majority language") {
    val df = Seq(
      "the cat and the dog of a house",          // en
      "le chat et la maison de un jardin",       // fr
      "el gato y la casa de un jardin que",      // es
      "der hund und die katze ist ein tier",     // de
      "zzz qqq www").toDF("t")                   // und
      .select(TextAnalysis.langId($"t").as("lang"))
    assert(df.collect().map(_.getString(0)).toSeq ==
      Seq("en", "fr", "es", "de", "und"))
  }

  test("gopherQuality: each rule fails on its own counterexample") {
    val good = (Seq("the", "quick", "brown", "foxes") ++
      (1 to 46).map(i => s"word$i") ++ Seq("of", "that")).mkString(" ") // 52 words
    val docs = Seq(
      (1L, good),                                          // passes all
      (2L, "the of short"),                                // r_wordcount (3 words)
      (3L, (Seq("the", "of") ++ (1 to 50).map(_ => "ab")).mkString(" ")), // r_meanlen (mean < 3)
      (4L, (Seq("the", "of") ++ (1 to 50).map(i => s"w$i# ###")).mkString(" ")), // r_symbol
      (5L, (Seq("the", "of") ++ (1 to 50).map(_ => "123 456")).mkString(" ")),   // r_alpha
      (6L, (1 to 52).map(i => s"word$i").mkString(" ")),   // r_stop (no stopwords)
      (7L, (Seq("the", "of") ++ (1 to 50).map(i => s"word$i")).mkString(" ") +
        "\n- a\n- b\n- c"),                                // bullet lines (but <= 0.9 passes)
      (8L, good + " more... still going")                  // mid-line '...' is fine
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherQuality(docs, "doc_id", "text")
      .select("doc_id", "gopher_quality_ok", "r_wordcount", "r_meanlen",
        "r_symbol", "r_alpha", "r_stop", "r_bullet")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4),
          r.getBoolean(5), r.getBoolean(6), r.getBoolean(7))).toMap
    assert(got(1L)._1, s"good doc rejected: ${got(1L)}")
    assert(!got(2L)._1 && !got(2L)._2, "word-count rule")
    assert(!got(3L)._1 && !got(3L)._3, "mean-length rule")
    assert(!got(4L)._1 && !got(4L)._4, "symbol rule")
    assert(!got(5L)._1 && !got(5L)._5, "alpha rule")
    assert(!got(6L)._1 && !got(6L)._6, "stopword rule")
    assert(got(7L)._7, "3 bullet lines of 4 is under the 0.9 bound")
    assert(got(8L)._1, "a mid-line ellipsis must not reject a 50-word doc")
  }

  test("substringDupPairs counts distinct shared token windows exactly") {
    val run = (1 to 10).map(i => s"tok$i").mkString(" ") // 10 tokens: 3 windows of 8
    val docs = Seq(
      (1L, run + " tailA tailB"),
      (2L, "headX headY " + run),   // shares the 3 windows of `run` with doc 1
      (3L, run.replace("tok5", "zzz") + " other"), // breaks every shared window
      (4L, "tiny doc")              // < 8 tokens: whole-stream window, unique
    ).toDF("doc_id", "text")
    val got = Dedup.substringDupPairs(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 3L)), got.toString)
    // threshold: requiring more shared windows than exist drops the pair
    assert(Dedup.substringDupPairs(docs, "doc_id", "text", minShared = 4)
      .count() == 0L)
    // formulaic windows above the df cutoff are EXCLUDED from counting
    // (not truncated to an arbitrary doc subset)
    val spam = (1 to 5).map(i => (100L + i, run)).toDF("doc_id", "text")
    val capped = Dedup.substringDupPairs(spam, "doc_id", "text", maxDf = 4)
    assert(capped.count() == 0L, "df-excluded windows must produce no pairs")
    val kept = Dedup.substringDupPairs(spam, "doc_id", "text", maxDf = 5)
      .as[(Long, Long, Long)].collect()
    assert(kept.length == 5 * 4 / 2 && kept.forall(_._3 == 3L), kept.toSeq.toString)
  }

  test("piiScrub redacts emails and IPv4 literals with exact counts") {
    val docs = Seq(
      (1L, "contact alice@example.com or bob.smith+x@sub.domain.org today"),
      (2L, "server at 192.168.1.17 and 10.0.0.1, port 8080"),
      (3L, "no pii here, just version 1.2 and a dot."),
      (4L, "mixed: c@d.io from 8.8.8.8")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.piiScrub(docs, "doc_id", "text")
      .select("doc_id", "n_emails", "n_ips", "redacted")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got(1L)._1 == 2L && got(1L)._2 == 0L)
    assert(got(1L)._3 == "contact <EMAIL> or <EMAIL> today")
    assert(got(2L) == ((0L, 2L, "server at <IP> and <IP>, port 8080")))
    assert(got(3L) == ((0L, 0L, "no pii here, just version 1.2 and a dot.")))
    assert(got(4L) == ((1L, 1L, "mixed: <EMAIL> from <IP>")))
  }

  test("contaminationReport finds planted eval/train span overlap; df cutoff excludes formulaic windows") {
    val leak = (1 to 9).map(i => s"leak$i").mkString(" ") // 9 tokens: 2 windows of 8
    val boiler = (1 to 8).map(i => s"common$i").mkString(" ") // 1 window, in EVERY train doc
    val train = Seq(
      (101L, s"$boiler $leak trailing words here"),
      (102L, s"$boiler unrelated train content only"),
      (103L, s"$boiler more unrelated text entirely")
    ).toDF("doc_id", "text")
    val eval_ = Seq(
      (1L, s"prefix $leak suffix"),   // contaminated by 101 (2 shared windows)
      (2L, boiler),                   // only the formulaic window -> excluded by df cutoff
      (3L, "clean eval item text")
    ).toDF("doc_id", "text")
    val got = Dedup.contaminationReport(train, "doc_id", "text",
        eval_, "doc_id", "text", maxTrainDf = 2)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (e, n, mx, tot) => e -> ((n, mx, tot)) }.toMap
    assert(got == Map(1L -> ((1L, 2L, 2L))), got.toString)
  }

  test("spanDedup keeps first occurrence of each paragraph corpus-wide, rebuilds in order") {
    val docs = Seq(
      (1L, "shared para one\n\nunique to doc1\n\nshared para two"),
      (2L, "doc2 opener\n\nshared para one\n\nshared para two\n\ndoc2 closer"),
      (3L, "shared para one"), // every span a duplicate -> empty text
      (4L, "")                 // no spans at all
    ).toDF("doc_id", "text")
    val got = Dedup.spanDedup(docs, "doc_id", "text")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == (("shared para one\n\nunique to doc1\n\nshared para two", 3L, 0L)))
    assert(got(2L) == (("doc2 opener\n\ndoc2 closer", 2L, 2L)))
    assert(got(3L) == (("", 0L, 1L)))
    assert(got(4L) == (("", 0L, 0L)))
  }

  test("round-6 text operators survive NULL and empty text rows") {
    val docs = Seq((1L, null.asInstanceOf[String]), (2L, ""), (3L, "the quick fox"))
      .toDF("doc_id", "text")
    // no operator may throw; NULL/empty rows degrade, never crash
    val gq = TextAnalysis.gopherQuality(docs, "doc_id", "text").collect()
    assert(gq.length == 3)
    val pii = TextAnalysis.piiScrub(docs, "doc_id", "text").collect()
    assert(pii.length == 3)
    // NULL text -> no windows -> no pairs; empty text -> empty-string window
    val pairs = Dedup.substringDupPairs(docs, "doc_id", "text").collect()
    assert(!pairs.exists(r => r.getLong(0) == 1L || r.getLong(1) == 1L))
    val sd = Dedup.spanDedup(docs, "doc_id", "text")
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(sd.keySet == Set(1L, 2L, 3L))
    assert(sd(1L) == "" && sd(2L) == "" && sd(3L) == "the quick fox")
    val rep = Dedup.contaminationReport(docs, "doc_id", "text",
      Seq((9L, "the quick fox runs")).toDF("doc_id", "text"), "doc_id", "text")
    rep.collect() // planted eval shares no 8-window; just must not throw
    // NULL/empty text -> zero chunks, never a crash or a null-text chunk
    val ck = TextAnalysis.chunkTokens(docs, "doc_id", "text", 4, 2).collect()
    assert(ck.forall(_.getLong(0) == 3L), s"NULL/empty doc produced chunks: ${ck.toSeq}")
    // NULL/empty text -> nothing to pack, nothing to score
    val pk = TextAnalysis.packSequences(docs.withColumn("lang", lit("en")),
      "doc_id", "text", "lang", 10L, 2).collect()
    assert(pk.map(_.getLong(2)).toSet == Set(3L), s"NULL/empty doc packed: ${pk.toSeq}")
    val bm = TextAnalysis.bm25Search(docs, "doc_id", "text", Seq("quick")).collect()
    assert(bm.map(_.getLong(0)).toSet == Set(3L), s"NULL/empty doc scored: ${bm.toSeq}")
  }

  test("round-7 operators survive NULL/empty text and degenerate inputs") {
    val docs = Seq((1L, null.asInstanceOf[String]), (2L, ""), (3L, "r r a"),
      (4L, "r b"), (5L, "q b"))
      .toDF("doc_id", "text")
    // LM: NULL/empty/1-token docs are excluded, never crash; others score
    val lm = TextAnalysis.lmPerplexity(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(lm == Set(3L, 4L, 5L), s"LM scored degenerate docs: $lm")
    // TF-IDF: NULL/empty docs can't be probes or candidates; idf-weighted
    // shared terms pick 4's neighbor as 3 (shares rare-ish r), not 5
    val nn = TextAnalysis.tfidfNearestDoc(docs, "doc_id", "text",
        probeBound = 10L, maxDfFrac = 1.0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toMap
    assert(nn == Map(3L -> 4L, 4L -> 3L, 5L -> 4L), s"got $nn")
    // cluster split: every doc (incl. NULL text) gets exactly one split
    val cs = Dedup.clusterAwareSplit(docs, "doc_id",
        Seq((3L, 4L)).toDF("id_a", "id_b"),
        Seq("train" -> 0.8, "eval" -> 0.1, "test" -> 0.1))
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(cs.size == 5 && cs(3L) == cs(4L))
    // resample: NULL values carry through LOCF as the observation's value
    import java.sql.Timestamp
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val ev = Seq((1L, t(0), 1L, Some(5.0)), (1L, t(30), 2L, None),
      (1L, t(90), 3L, Some(7.0)))
      .toDF("user_id", "ts", "event_id", "value")
    val rs = graft.operators.AsOf.resampleLocf(ev, "user_id", "ts", "value",
        3600L, "event_id")
      .collect().map(r => (r.getTimestamp(1), Option(r.get(2)))).toMap
    // 10:00 grid sees the 10:00 obs (5.0); 11:00 sees the NULL obs at
    // 10:30 — the newest observation's NULL value, not the older 5.0
    assert(rs(t(0)) == Some(5.0) && rs(t(60)) == None, s"got $rs")
  }

  test("two-phase sliding rewrite equals native window(dur, slide) aggregation bit-for-bit") {
    import graft.operators.SketchQueries
    import graft.GraftFunctions
    // LC merge is a bitmap OR over deterministic hashes: merging 6
    // per-bucket sketches MUST give the identical bitmap (hence identical
    // estimate) as inserting the same values into one sketch directly —
    // so the rewrite agrees with Spark's native sliding window wherever
    // both are defined (native also emits windows anchored at unoccupied
    // instants; the rewrite's occupied frames are a subset)
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    val rewrite = SketchQueries.slidingSketchDistinct(ev, "ts", "event_type",
        "user_id", slideSeconds = 3600L, frameBuckets = 6,
        algo = "lc", precision = 65536)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val native = ev
      .groupBy(window(col("ts"), "6 hours", "1 hour").as("w"), col("event_type"))
      .agg(GraftFunctions.approx_distinct(col("user_id"), "lc", 65536).as("d"))
      // window [s, s+6h) is the rewrite's frame ending at s+6h-1h: f = s/3600+5
      .select((unix_timestamp(col("w.start")) + 5L * 3600L).as("frame_epoch"),
        col("event_type"), col("d.cardinality").as("est"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(rewrite.nonEmpty)
    assert(rewrite.keySet.subsetOf(native.keySet),
      s"rewrite emitted a frame native never saw: ${rewrite.keySet -- native.keySet}")
    val diff = rewrite.collect { case (k, v) if native(k) != v => (k, v, native(k)) }
    assert(diff.isEmpty, s"estimates diverge: ${diff.take(5)}")
  }

  test("slidingNewKeys: theta frame difference counts exactly the entering members") {
    import graft.operators.SketchQueries
    // buckets (10s slide, frame = 2): b0 {1,2}, b1 {2,3}, b2 {3}
    // frames: f0 {1,2}, f1 = b0∪b1 {1,2,3}, f2 = b1∪b2 {2,3}
    // new@f1 = {3} (vs f0); new@f2 = ∅ (f2 ⊂ f1)
    val ev = Seq((1L, 5L), (2L, 9L), (2L, 15L), (3L, 19L), (3L, 25L))
      .toDF("user_id", "s")
      .select(col("user_id"), timestamp_micros(col("s") * 1000000L).as("ts"),
        lit("e").as("event_type"))
    val got = SketchQueries.slidingNewKeys(ev, "ts", "event_type", "user_id",
        slideSeconds = 10L, frameBuckets = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // below capacity θ = 1: the difference is exact; f0 has no
    // predecessor and is absent
    assert(got == Map(10L -> 1L, 20L -> 0L), s"got $got")
  }

  test("round-8 operators survive NULL/empty text and degenerate inputs") {
    import graft.operators.SketchQueries
    // all-pairs tf-idf: NULL and empty docs never pair (their only term is
    // the empty shingle, which links ONLY to other degenerate docs — both
    // here, so they pair with each other; idf 0 terms give them zero norm?
    // no: df=2 of 4 docs with shingles -> idf > 0, they are each other's
    // neighbours with sim 1.0 — degenerate-but-defined, no crash)
    val docs = Seq((1L, null.asInstanceOf[String]), (2L, ""), (3L, "r r a"),
      (4L, "r b x y z w")).toDF("doc_id", "text")
    val ap = graft.operators.TextAnalysis.tfidfAllPairsTopK(
        docs, "doc_id", "text", k = 2, shingleK = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    // NULL text never reaches the term space (explode of NULL drops the
    // row); doc 2's "" shingle matches nothing else -> only 3,4 can pair
    assert(ap.forall { case (a, b) => Set(3L, 4L)(a) && Set(3L, 4L)(b) },
      s"degenerate docs paired: ${ap.toSeq}")
    // sliding sketches: empty input -> empty output, no crash
    val noEvents = Seq.empty[(Long, java.sql.Timestamp, String)]
      .toDF("user_id", "ts", "event_type")
    assert(SketchQueries.slidingSketchDistinct(noEvents, "ts", "event_type",
      "user_id", 3600L, 6, algo = "lc", precision = 65536).count() == 0)
    val noVals = Seq.empty[(Double, java.sql.Timestamp, String)]
      .toDF("value", "ts", "event_type")
    assert(SketchQueries.slidingKllQuantile(noVals, "ts", "event_type",
      "value", 3600L, 6, probs = Seq(0.5)).count() == 0)
    // maintenance batch: an EMPTY changeset still writes a complete,
    // identical snapshot version (the nightly no-op run)
    val dir = java.nio.file.Files.createTempDirectory("graft-maint-deg").toString
    val base = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "price")
      .withColumn("k2", col("k") % 16)
    val emptyChg = Seq.empty[(Long, Double, String, Long)]
      .toDF("k", "price", "op", "seq").withColumn("k2", col("k") % 16)
    graft.streaming.StreamOps.maintenanceBatch(emptyChg, base, Seq("k"),
      Seq("k2", "k"), 6, dir, 1L << 10, "op", "seq", 0L)
    val back = spark.read.parquet(s"$dir/snap").filter(col("batch_id") === 0L)
      .select("k", "price").as[(Long, Double)].collect().toSet
    assert(back == Set((1L, 10.0), (2L, 20.0)), s"no-op maintenance lost rows: $back")
  }

  test("fingerprint is word-order and whitespace invariant") {
    val df = Seq("alpha beta gamma", "gamma  alpha\tbeta", "alpha beta delta")
      .toDF("t").select(TextAnalysis.fingerprint($"t").as("fp"))
    val fps = df.collect().map(_.getLong(0))
    assert(fps(0) == fps(1))
    assert(fps(0) != fps(2))
  }

  test("qualityScore: degenerate texts score low, varied text higher") {
    val rows = Seq(
      "spam spam spam spam spam spam spam spam", // repetitive
      "a",                                       // too short
      "the quick brown fox jumps over lazy dogs").toDF("t")
      .select(TextAnalysis.qualityScore($"t").as("q")).collect().map(_.getDouble(0))
    assert(rows(1) == 0.0)                       // length gate
    assert(rows(0) < rows(2))                    // repetition penalized
    assert(rows.forall(q => q >= 0.0 && q <= 1.0))
  }

  // ---- dedup ----

  private val nearDupDocs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again tonight"), // near-dup of 1
    (3L, "completely different content about spark query engines and shuffles"),
    (4L, "the quick brown fox jumps over the lazy dog again and again today")    // exact dup of 1
  ).toDF("doc_id", "text")

  test("minhash LSH finds near-dup and exact-dup pairs, not unrelated ones") {
    val pairs = Dedup.minhashNearDupPairs(nearDupDocs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"near-dup pair missing: $pairs")
    assert(pairs.contains((1L, 4L)), s"exact-dup pair missing: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), s"false positive: $pairs")
  }

  test("exact jaccard on known shingle sets") {
    // doc1 vs doc4 identical => jaccard 1.0
    val j = Dedup.minhashNearDupPairs(nearDupDocs, "doc_id", "text", threshold = 0.5)
      .filter($"id_a" === 1L && $"id_b" === 4L)
      .select("jaccard").as[Double].head()
    assert(j == 1.0)
  }

  test("keepFirstByContent retains the min-id row with all columns") {
    val docs = Seq((5L, "same text", "en"), (2L, "same text", "fr"),
      (9L, "other", "de")).toDF("doc_id", "text", "lang")
    val kept = Dedup.keepFirstByContent(docs, Seq("text"), "doc_id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(kept == Seq((2L, "same text", "fr"), (9L, "other", "de")))
  }

  test("simhash: identical hash for dups, small hamming for near-dups") {
    val pairs = Dedup.simhashNearDupPairs(nearDupDocs, "doc_id", "text", maxHamming = 10)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(pairs((1L, 4L)) == 0L) // exact dup => identical simhash
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) <= 10L)
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash_md5 matches the cross-engine reference values exactly") {
    // constants independently computed from md5 first-8-bytes token hashes
    // (same derivation DuckDB's generated q46 oracle uses) — pins the
    // cross-engine wire contract, not just self-consistency
    val got = Seq((1, Seq("hello", "world")),
        (2, Seq("the", "quick", "brown", "fox", "jumps", "over", "the", "lazy", "dog")),
        (3, Seq.empty[String]))
      .toDF("id", "toks")
      .select($"id", GraftFunctions.simhash_md5($"toks").as("sh"))
      .as[(Int, Long)].collect().toMap
    assert(got(1) == 6719652267731058694L)
    assert(got(2) == 1140603644929599182L)
    assert(got(3) == 0L)
  }

  // ---- as-of join ----

  test("asofJoin attaches the latest right row at or before left time") {
    import java.sql.Timestamp
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val quotes = Seq((1L, t(0), 100.0), (1L, t(10), 110.0), (2L, t(5), 50.0))
      .toDF("qkey", "qts", "price")
    val trades = Seq((1L, t(5), "a"), (1L, t(10), "b"), (1L, t(15), "c"),
      (2L, t(0), "d"), (3L, t(1), "e"))
      .toDF("tkey", "tts", "trade")
    val got = graft.operators.AsOf.asofJoin(
        trades, quotes, "tkey", "qkey", "tts", "qts", Seq("price"))
      .select("trade", "price").collect()
      .map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(got("a") == Some(100.0)) // 10:05 -> quote at 10:00
    assert(got("b") == Some(110.0)) // equal timestamps match inclusively
    assert(got("c") == Some(110.0))
    assert(got("d") == None)        // key 2: trade before any quote
    assert(got("e") == None)        // key 3: no quotes at all
  }

  test("asofJoin: NULL right payload attaches as NULL, not an older row's value") {
    import java.sql.Timestamp
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val quotes = Seq((1L, t(0), Some(100.0)), (1L, t(10), None))
      .toDF("qkey", "qts", "price")
    val trades = Seq((1L, t(5), "a"), (1L, t(15), "b")).toDF("tkey", "tts", "trade")
    val got = graft.operators.AsOf.asofJoin(
        trades, quotes, "tkey", "qkey", "tts", "qts", Seq("price"))
      .select("trade", "price").collect()
      .map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(got("a") == Some(100.0))
    // the 10:10 quote IS the as-of match for "b"; its NULL price must come
    // through as NULL, not fall back to the 10:00 row
    assert(got("b") == None)
  }

  test("resampleLocf: hour-aligned grid carries the newest observation; ties to max id") {
    import java.sql.Timestamp
    def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val ev = Seq(
      (1L, t(9, 30), 1L, 10.0), // before the first aligned instant (10:00)
      (1L, t(10, 0), 2L, 20.0), // exactly ON the 10:00 instant — visible to it
      (1L, t(10, 0), 3L, 25.0), // same instant, higher id: the tie winner
      (1L, t(11, 40), 4L, 30.0), // 11:00 carries 25.0; 12:00+ would carry 30.0
      (2L, t(10, 20), 5L, 7.0)  // span < 1 step after alignment: no grid rows
    ).toDF("user_id", "ts", "event_id", "value")
    val got = graft.operators.AsOf.resampleLocf(ev, "user_id", "ts", "value",
        3600L, "event_id")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2))).toSet
    // user 1: grid = 10:00 (ceil of 9:30) .. 11:00 (floor of 11:40)
    assert(got == Set((1L, t(10, 0), 25.0), (1L, t(11, 0), 25.0)), s"got $got")
  }

  test("interpolateGaps: two-sided fill is linear, edges fall back to neighbor") {
    import java.sql.Timestamp
    def t(h: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    val ev = Seq(
      ("a", t(10), 1.0), ("a", t(13), 4.0), // gap at 11, 12 -> 2.0, 3.0
      ("b", t(9), 5.0)                      // single bucket: emitted as-is
    ).toDF("k", "ts", "value")
    val got = graft.operators.AsOf.interpolateGaps(ev, "k", "ts", "value", 3600L)
      .collect()
      .map(r => (r.getString(0), r.getLong(1) / 3600000000L % 24,
        r.getBoolean(2), r.getDouble(3))).toSet
    assert(got == Set(
      ("a", 10L, true, 1.0), ("a", 11L, false, 2.0),
      ("a", 12L, false, 3.0), ("a", 13L, true, 4.0),
      ("b", 9L, true, 5.0)), s"got $got")
  }

  test("clusterSilhouette: separated clusters score near 1, symmetric case exact") {
    import spark.implicits._
    // two clusters on a line: label 0 at x=0 y∈{0,2}, label 1 at x=10.
    // centroids (0,1) and (10,1); every point: a=1, b=sqrt(101),
    // s = (sqrt(101)-1)/sqrt(101) — identical for all four by symmetry.
    val vecs = Seq(
      (1L, Array(0f, 0f), 0), (2L, Array(0f, 2f), 0),
      (3L, Array(10f, 0f), 1), (4L, Array(10f, 2f), 1)
    ).toDF("vec_id", "embedding", "label")
    val r = graft.operators.Similarity
      .clusterSilhouette(vecs, "vec_id", "embedding", "label")
      .collect().map(x => x.getInt(0) -> (x.getLong(1), x.getDouble(2))).toMap
    val expected = (math.sqrt(101) - 1) / math.sqrt(101)
    assert(r.keySet == Set(0, 1))
    r.values.foreach { case (n, s) =>
      assert(n == 2L)
      assert(math.abs(s - expected) < 1e-9, s"got $s want $expected")
    }
  }

  test("pcaFirstComponent: rank-1 data recovers the diagonal direction exactly") {
    import spark.implicits._
    // points on the line y = x: C = [[2/3,2/3],[2/3,2/3]], PC1 = (1,1)/√2,
    // λ = 4/3 = trace -> explained_frac 1
    val vecs = Seq((1L, Array(1f, 1f)), (2L, Array(2f, 2f)),
      (3L, Array(3f, 3f))).toDF("vec_id", "embedding")
    val r = graft.operators.Similarity
      .pcaFirstComponent(vecs, "vec_id", "embedding", dim = 2, iters = 4)
      .collect()
    assert(r.length == 2)
    r.foreach { row =>
      assert(math.abs(row.getDouble(1) - 1 / math.sqrt(2)) < 1e-9, s"got $row")
      assert(math.abs(row.getDouble(2) - 4.0 / 3) < 1e-9)
      assert(math.abs(row.getDouble(3) - 1.0) < 1e-9)
    }
  }

  test("centroidOutliers: the one far point crosses the exact R-7 p95 cut") {
    import spark.implicits._
    // label 0, 1-D in 2-dim: xs = 0,0,0,0,10 -> centroid 2, dists
    // [2,2,2,2,8]; R-7 p95 = 2 + 0.8*(8-2) = 6.8 -> only the far point
    val vecs = Seq((1L, 0f), (2L, 0f), (3L, 0f), (4L, 0f), (5L, 10f))
      .map { case (id, x) => (id, Array(x, 0f), 0) }
      .toDF("vec_id", "embedding", "label")
    val r = graft.operators.Similarity
      .centroidOutliers(vecs, "vec_id", "embedding", "label", 0.95)
      .collect()
    assert(r.length == 1 && r.head.getLong(0) == 5L, s"got ${r.toSeq}")
    assert(r.head.getDouble(2) == 8.0)
    assert(math.abs(r.head.getDouble(3) - 6.8) < 1e-9)
  }

  test("readabilityByLang: hand-counted words/sentences/syllables") {
    import spark.implicits._
    // "Hello world. Nice day." -> 4 words, 2 sentences, syllables
    // he-llo:2 world:1 nice:2 day:1 = 6
    val docs = Seq(("en", "Hello world. Nice day.")).toDF("lang", "text")
    val r = graft.operators.TextAnalysis.readabilityByLang(docs).collect()(0)
    assert(r.getLong(1) == 1L)
    assert(r.getDouble(2) == 2.0, s"wps ${r.getDouble(2)}")   // 4/2
    assert(r.getDouble(3) == 1.5, s"spw ${r.getDouble(3)}")   // 6/4
    val flesch = 206.835 - 1.015 * 2.0 - 84.6 * 1.5
    assert(math.abs(r.getDouble(4) - flesch) < 1e-9)
  }

  test("pcaMoments merge law: split-batch moments refit == one-shot fit") {
    import spark.implicits._
    import graft.operators.Similarity
    val vecs = Seq((1L, Array(1f, 2f)), (2L, Array(2f, 1f)),
      (3L, Array(3f, 4f)), (4L, Array(0f, 1f))).toDF("vec_id", "embedding")
    val whole = Similarity.pcaFit(vecs, "vec_id", "embedding", 2, 4)
    val merged = Similarity.pcaSolveMoments(
      Similarity.pcaMoments(vecs.filter(col("vec_id") % 2 === 0), "vec_id", "embedding")
        .unionByName(Similarity.pcaMoments(vecs.filter(col("vec_id") % 2 === 1),
          "vec_id", "embedding")), 2, 4)
    assert(whole.loadings.toSeq == merged.loadings.toSeq)
    assert(whole.eigenvalue == merged.eigenvalue && whole.trace == merged.trace)
  }

  test("pc1Scores: projections onto the diagonal direction, centered") {
    import spark.implicits._
    val vecs = Seq((1L, Array(1f, 1f)), (2L, Array(2f, 2f)),
      (3L, Array(3f, 3f))).toDF("vec_id", "embedding")
    val r = graft.operators.Similarity
      .pc1Scores(vecs, "vec_id", "embedding", dim = 2, iters = 4)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(math.abs(r(1L) + math.sqrt(2)) < 1e-9, s"got $r")
    assert(math.abs(r(2L)) < 1e-9)
    assert(math.abs(r(3L) - math.sqrt(2)) < 1e-9)
  }

  test("asofJoinForward: earliest at-or-after match, inclusive ties, null tail") {
    import java.sql.Timestamp
    def t(s: Int) = Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    val ev = Seq((1L, t(10), 7L), (2L, t(20), 7L), (3L, t(30), 7L))
      .toDF("event_id", "ts", "user_id")
    val or = Seq((7L, t(20), 100L))
      .toDF("o_custkey", "o_orderdate", "o_orderkey")
    val got = graft.operators.AsOf.asofJoinForward(ev, or, "user_id",
        "o_custkey", "ts", "o_orderdate", payload = Seq("o_orderkey"))
      .collect().map(r => (r.getLong(0),
        Option(r.get(r.fieldIndex("o_orderkey"))),
        Option(r.get(r.fieldIndex("wait_us"))))).toSet
    assert(got == Set(
      (1L, Some(100L), Some(10000000L)), // 10 s ahead
      (2L, Some(100L), Some(0L)),        // simultaneous: inclusive
      (3L, None, None)), s"got $got")    // nothing follows
  }

  test("revenueBridge: hand-computed volume/price/new/discontinued effects") {
    import java.sql.Timestamp
    def d(y: Int) = Timestamp.valueOf(s"$y-06-01 00:00:00")
    // X both years: q 2->3 units, price 10->12 $/unit; Y new ($5); Z gone ($7)
    val li = Seq(
      (10L, 2.0, 20.0, d(1997)), (10L, 3.0, 36.0, d(1998)),
      (20L, 1.0, 5.0, d(1998)), (30L, 1.0, 7.0, d(1997))
    ).toDF("l_partkey", "l_quantity", "l_extendedprice", "l_shipdate")
    val part = Seq((10L, "B1"), (20L, "B1"), (30L, "B1"))
      .toDF("p_partkey", "p_brand")
    val r = graft.operators.Stats.revenueBridge(li, part, 1997, 1998)
      .collect()(0)
    assert(r.getString(0) == "B1")
    assert(r.getLong(1) == 2700L && r.getLong(2) == 4100L)
    assert(r.getDouble(3) == 1000.0, s"vol ${r.getDouble(3)}")
    assert(r.getDouble(4) == 600.0, s"prc ${r.getDouble(4)}")
    assert(r.getLong(5) == 500L && r.getLong(6) == -700L)
  }

  // ---- hot-bucket caps ----

  test("hot-bucket cap bounds a degenerate bucket and reports the drop") {
    val docs = (0L until 300L).map(i => (i, "spam spam spam spam spam spam"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text", maxBucketSize = 32)
      .select("id_a", "id_b")
    val n = pairs.collect().length
    // all 300 docs share every band bucket; the cap keeps the 32 smallest
    // ids, so the candidate set is C(32,2) instead of C(300,2)
    assert(n == 32 * 31 / 2, s"expected ${32 * 31 / 2} capped pairs, got $n")
    val metric = pairs.queryExecution.observedMetrics("minhash_bucket_cap")
    assert(metric.getAs[Long]("dropped_rows") > 0)
    assert(metric.getAs[Long]("max_bucket_size") == 300L)
  }

  test("candidatePairs equals the naive bucket self-join on random tables") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val rows = Seq.fill(120)((rnd.nextInt(8).toLong, rnd.nextInt(40).toLong))
        .distinct.map { case (b, id) => (b, id) }
      val buckets = rows.toDF("bkey", "id")
      val expected = buckets.as("x").join(buckets.as("y"),
          $"x.bkey" === $"y.bkey" && $"x.id" < $"y.id")
        .select($"x.id".as("id_a"), $"y.id".as("id_b"))
        .distinct().as[(Long, Long)].collect().toSet
      val got = graft.operators.Buckets.candidatePairs(
          buckets, Seq("bkey"), "id", bucketCap = 1000, s"pairs_eq_trial${trial}_bucket_cap")
        .as[(Long, Long)].collect().toSet
      assert(got == expected,
        s"trial $trial: missing=${expected -- got} extra=${got -- expected}")
    }
  }

  // ---- similarity ----

  private def vec(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray

  private val vecs = Seq(
    (0L, vec(1, 0, 0, 0)),
    (1L, vec(0.99, 0.1, 0, 0)),   // closest to 0
    (2L, vec(0.7, 0.7, 0, 0)),    // second
    (3L, vec(0, 1, 0, 0)),        // orthogonal
    (4L, vec(-1, 0, 0, 0))        // opposite
  ).toDF("vec_id", "embedding")

  test("brute-force cosine top-k ranks by true cosine") {
    val got = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", 0L, 3)
      .orderBy("rank").select("id").as[Long].collect().toSeq
    assert(got == Seq(0L, 1L, 2L)) // self first, then by cosine
  }

  test("cosine column matches hand-computed values") {
    val c = vecs.as("x").join(vecs.as("y"), $"x.vec_id" === 0L && $"y.vec_id" === 3L)
      .select(Similarity.cosine($"x.embedding", $"y.embedding").as("c"))
      .as[Double].head()
    assert(math.abs(c) < 1e-9) // orthogonal
  }

  test("embedding near-dup finds the planted close pair") {
    val pairs = Similarity.embeddingNearDupPairs(vecs, "vec_id", "embedding",
        dim = 4, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)), s"close pair missing: $pairs")
    assert(!pairs.contains((0L, 4L)), s"opposite vectors matched: $pairs")
  }

  test("embedding LSH signature width scales with corpus size") {
    assert(Similarity.autoNBits(1) == 4)       // clamp floor
    assert(Similarity.autoNBits(500) == 4)     // the sf0.01 regime
    assert(Similarity.autoNBits(5000) == 7)    // sf0.1
    assert(Similarity.autoNBits(100000000L) == 20) // clamp ceiling
  }

  test("embedding near-dup auto-sizing keeps planted-pair recall at two corpus sizes") {
    val rnd = new scala.util.Random(7)
    def randVec() = Array.fill(16)(rnd.nextGaussian().toFloat)
    for (n <- Seq(200, 1200)) { // autoNBits: 4 at 200, 5 at 1200
      val base = (0 until n).map(i => (i.toLong, randVec()))
      val planted = base.head._2.clone()
      planted(0) = planted(0) + 0.01f
      val docs = (base :+ (n.toLong, planted)).toDF("vec_id", "embedding")
      val pairs = Similarity.embeddingNearDupPairs(docs, "vec_id", "embedding", 16, 0.95)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(pairs.contains((0L, n.toLong)), s"planted pair missing at n=$n")
    }
  }

  test("ann top-k returns k rows led by the query itself") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val got = Similarity.annTopK(emb, "vec_id", "embedding", 64, 0L, 5)
      .orderBy("rank").select("id").as[Long].collect()
    assert(got.length == 5)
    assert(got.head == 0L) // query vector is its own nearest neighbor
  }

  test("ivf top-k: probe-then-rerank finds the query and real neighbors") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val got = Similarity.ivfTopK(emb, "vec_id", "embedding", 0L, 5)
      .orderBy("rank").select("id").as[Long].collect()
    assert(got.length == 5)
    assert(got.head == 0L) // query's own list is always probed
    // candidates must be genuinely close: every IVF hit should rank within
    // the brute-force top half of the corpus
    val bruteOrder = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L, 250)
      .select("id").as[Long].collect().toSet
    assert(got.count(bruteOrder.contains) >= 4, s"IVF candidates too far: ${got.toSeq}")
  }

  test("SQL surface: text/similarity functions callable from plain SQL") {
    Seq((1L, "alpha beta gamma delta", Array(1.0f, 0.0f)),
      (2L, "alpha beta gamma epsilon", Array(0.6f, 0.8f)))
      .toDF("id", "text", "vec").createOrReplaceTempView("sqlfns")
    val r = spark.sql(
      """SELECT simhash(split(text, ' ')) AS sh,
        |  size(shingle_hashes(text, 2)) AS n_shingles,
        |  hyperplane_lsh(vec, 2, 4, 0) AS lsh,
        |  cosine_similarity(vec, array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS cos
        |FROM sqlfns ORDER BY id""".stripMargin).collect()
    assert(r.length == 2)
    assert(r(0).getInt(1) == 3) // "alpha beta","beta gamma","gamma delta"
    assert(math.abs(r(0).getDouble(3) - 1.0) < 1e-6)
    assert(math.abs(r(1).getDouble(3) - 0.6) < 1e-6) // float32 inputs
    // non-literal config is rejected with a clear message
    val e = intercept[Exception](spark.sql("SELECT shingle_hashes(text, id) FROM sqlfns").collect())
    assert(e.getMessage.contains("integer literal"))
  }

  // ---- sketch set-op statistics (q35's promised bound) ----

  test("intersection estimate within 3 sigma of inclusion-exclusion error") {
    import GraftFunctions._
    val a = (1L to 20000L).toDF("v").agg(approx_distinct($"v").as("sk")).select($"sk".as("sa"))
    val b = (15001L to 35000L).toDF("v").agg(approx_distinct($"v").as("sk")).select($"sk".as("sb"))
    val est = a.join(b).select(sketch_intersection_estimate($"sa", $"sb").as("i"))
      .as[Long].head()
    val exact = 5000.0
    val sigma = (1.04 / math.sqrt(1 << 16)) * math.sqrt(20000.0 * 20000 + 20000.0 * 20000 + 35000.0 * 35000)
    assert(math.abs(est - exact) <= 3 * sigma, s"est=$est exact=$exact 3sigma=${3 * sigma}")
  }

  test("rrfFuse: reciprocal-rank law, single-list presence, tie-break") {
    import graft.operators.Similarity
    val a = Seq((10L, 1L), (11L, 2L), (12L, 3L)).toDF("id", "rank")
    val b = Seq((11L, 1L), (13L, 2L)).toDF("id", "rank")
    val got = Similarity.rrfFuse(Seq(a, b), k = 60, topK = 10)
      .as[(Long, Double)].collect().toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // in both lists: contributions add; in one: that list alone
    assert(got(11L) == r6(1.0 / 62 + 1.0 / 61), s"got $got")
    assert(got(10L) == r6(1.0 / 61) && got(13L) == r6(1.0 / 62))
    assert(got(12L) == r6(1.0 / 63))
    assert(got.size == 4)
    // the doubly-ranked doc outranks every singly-ranked one
    assert(got(11L) > got.removed(11L).values.max)
    // topK truncates by (rrf DESC, id ASC)
    val top2 = Similarity.rrfFuse(Seq(a, b), k = 60, topK = 2)
      .select("id").as[Long].collect().toSet
    assert(top2 == Set(11L, 10L), s"got $top2")
  }

  test("clusterAwareSplit: every near-dup cluster lands atomically in ONE split") {
    import graft.operators.{Dedup, Sampling}
    val docs = (1L to 2000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // chain clusters {1..5}, {100,101}, plus a far-apart pair {7, 1999}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (100L, 101L),
      (7L, 1999L)).toDF("id_a", "id_b")
    val fr = Seq("train" -> 0.8, "eval" -> 0.1, "test" -> 0.1)
    val got = Dedup.clusterAwareSplit(docs, "doc_id", edges, fr)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(got.size == 2000)
    // atomicity: each cluster one split, keyed by its min id's draw
    for (cluster <- Seq(Seq(1L, 2L, 3L, 4L, 5L), Seq(100L, 101L), Seq(7L, 1999L))) {
      assert(cluster.map(got).toSet.size == 1, s"cluster $cluster split apart")
    }
    // unclustered docs split exactly as the plain key split would
    val plain = Sampling.splitByKey(docs, "doc_id", fr)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val clustered = Set(1L, 2L, 3L, 4L, 5L, 100L, 101L, 7L, 1999L)
    assert((1L to 2000L).filterNot(clustered).forall(i => got(i) == plain(i)))
    // and a clustered doc follows its REPRESENTATIVE's plain draw
    assert(got(1999L) == plain(7L))
  }

  test("tfidfNearestDoc finds the sharing-rare-terms neighbor; df cutoff prunes universal terms") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (0L, "common rare1 rare1"),  // probe: shares rare1 with doc 2 only
      (1L, "common other"),
      (2L, "common rare1"),
      (3L, "common other")         // "common" is in every doc -> pruned at 0.7
    ).toDF("doc_id", "text")
    val got = TextAnalysis.tfidfNearestDoc(docs, "doc_id", "text",
        probeBound = 1L, maxDfFrac = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // with "common" pruned (df 4 of 4), doc 0's only candidate sharing a
    // surviving term is doc 2 (rare1)
    assert(got == Seq((0L, 2L)), s"got $got")
    // without pruning, "common" links doc 0 to everything, but rare1 still
    // dominates the cosine: the winner stays doc 2, now among 3 candidates
    val all = TextAnalysis.tfidfNearestDoc(docs, "doc_id", "text",
        probeBound = 1L, maxDfFrac = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(all == Seq((0L, 2L)), s"got $all")
  }

  test("slidingSketchDistinct: trailing frames union the right buckets, only occupied frames emit") {
    import graft.operators.SketchQueries
    // buckets (10s slide): u1@b0, u2@b0, u2@b1, u3@b3; frame = 2 buckets
    val ev = Seq(
      (1L, 5_000_000L), (2L, 9_000_000L),     // bucket 0
      (2L, 15_000_000L),                      // bucket 1
      (3L, 35_000_000L)                       // bucket 3 (bucket 2 empty)
    ).toDF("user_id", "us")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
        lit("e").as("event_type"))
    val got = SketchQueries.slidingSketchDistinct(ev, "ts", "event_type",
        "user_id", slideSeconds = 10L, frameBuckets = 2,
        algo = "lc", precision = 65536)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // frame@0: {u1,u2}; frame@10: b0∪b1 = {u1,u2}; frame@30: b2∪b3 = {u3};
    // NO frame@20 (bucket 2 unoccupied, trailing window not evaluated there)
    assert(got == Map(0L -> 2L, 10L -> 2L, 30L -> 1L), s"got $got")
  }

  test("slidingKllQuantile: merged trailing frames answer min/max exactly in the uncompacted regime") {
    import graft.operators.SketchQueries
    val ev = Seq((5.0, 5_000_000L), (9.0, 15_000_000L))
      .toDF("value", "us")
      .select(col("value"), timestamp_micros(col("us")).as("ts"),
        lit("e").as("event_type"))
    val got = SketchQueries.slidingKllQuantile(ev, "ts", "event_type",
        "value", slideSeconds = 10L, frameBuckets = 2, probs = Seq(0.0, 1.0))
      .collect().map(r => (r.getLong(0), r.getDouble(2)) -> r.getDouble(3)).toMap
    // frame@0 sees only bucket 0 {5}; frame@10 is the MERGED b0 ∪ b1 {5, 9}
    assert(got == Map((0L, 0.0) -> 5.0, (0L, 1.0) -> 5.0,
      (10L, 0.0) -> 5.0, (10L, 1.0) -> 9.0), s"got $got")
  }

  test("intervalCoverage: overlapping merges, touching merges, gaps measured exactly") {
    import graft.operators.Behavior
    // dur 10s. u1: [0,10) [5,15) merge; [30,40) separate -> 2 islands,
    // covered 25s, gap 15s. u2: [0,10) [10,20) TOUCH (s == prev end,
    // strict > means not new) -> 1 island, covered 20s, gap 0.
    val ev = Seq((1L, 0L), (1L, 5L), (1L, 30L), (2L, 0L), (2L, 10L))
      .toDF("user_id", "s")
      .select(col("user_id"), timestamp_micros(col("s") * 1000000L).as("ts"))
    val got = Behavior.intervalCoverage(ev, "ts", "user_id", durSeconds = 10L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == Map(
      1L -> (2L, 25000000L, 15000000L),
      2L -> (1L, 20000000L, 0L)), s"got $got")
  }

  test("setSimilarityJoin: prefix filter equals brute force, boundary pair included exactly") {
    import graft.operators.Dedup
    // doc 0/1: J = 3/5 exactly (boundary, must be INCLUDED at t = 3/5);
    // doc 2: disjoint-ish; doc 3: near-identical to 0
    val docs = Seq(
      (0L, "a b c d e f"),   // shingles: abc bcd cde def
      (1L, "a b c d e zz"),  // abc bcd cde dezz... -> overlap 3 of 5? see below
      (2L, "q r s t u v"),
      (3L, "a b c d e f")    // identical to 0 -> J = 1
    ).toDF("doc_id", "text")
    val got = Dedup.setSimilarityJoin(docs, "doc_id", "text", tNum = 3, tDen = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // brute force over the same shingle sets
    def sh(s: String) = s.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val sets = Seq(0L -> sh("a b c d e f"), 1L -> sh("a b c d e zz"),
      2L -> sh("q r s t u v"), 3L -> sh("a b c d e f"))
    val expect = (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      c = (sa & sb).size; u = (sa | sb).size if c * 5 >= 3 * u
    } yield (ia, ib) -> (c.toLong, u.toLong)).toMap
    assert(got == expect, s"got $got expect $expect")
    assert(got.contains((0L, 1L)) &&
      got((0L, 1L))._1 * 5 == 3 * got((0L, 1L))._2,
      "the exact-threshold boundary pair must be included")
  }

  test("setSimilarityJoin: random corpus equals brute force across a threshold sweep") {
    import graft.operators.Dedup
    // small vocab forces heavy shingle collisions — the regime where a
    // prefix-bound off-by-one (the ceil, the length filter, the rare-first
    // tie order) would drop or phantom a pair
    val rnd = new scala.util.Random(421L)
    val vocab = Array("a", "b", "c", "d", "e", "f", "g", "h")
    val docs = (0L until 25L).map { i =>
      val n = 1 + rnd.nextInt(9)
      (i, Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    def shingleSet(text: String): Set[String] = {
      val toks = text.split("\\s+").filter(_.nonEmpty).toSeq
      if (toks.size < 3) Set(toks.mkString(" "))
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    val sets = docs.map { case (id, t) => id -> shingleSet(t) }
    for ((tNum, tDen) <- Seq((1, 2), (3, 5), (2, 3), (4, 5), (1, 1))) {
      val got = Dedup.setSimilarityJoin(df, "doc_id", "text", tNum, tDen)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
      val expect = (for {
        (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
        c = (sa & sb).size; u = (sa | sb).size if c * tDen >= tNum * u
      } yield (ia, ib) -> (c.toLong, u.toLong)).toMap
      assert(got == expect, s"t=$tNum/$tDen: got ${got.size} pairs, " +
        s"expect ${expect.size}; diff=${(got.keySet diff expect.keySet) ++
          (expect.keySet diff got.keySet)}")
    }
  }

  test("skewProfile: hot key drives rec_salts, uniform key needs one") {
    import graft.operators.Skew
    // hot: key "h" owns 8 of 12 rows over 3 keys -> avg 4, rec_salts 2;
    // unif: 4 keys x 3 rows -> rec_salts 1
    val df = (Seq.fill(8)("h") ++ Seq("a", "a", "b", "b")).map(h => (h, h))
      .zipWithIndex.map { case ((h, _), i) => (h, (i % 4).toString) }
      .toDF("hot", "unif")
    val got = Skew.skewProfile(df, Seq("hot", "unif"))
      .collect().map(r => r.getString(0) -> (r.getLong(3), r.getLong(5))).toMap
    assert(got("hot") == (8L, 2L), s"hot: ${got("hot")}")
    assert(got("unif") == (3L, 1L), s"unif: ${got("unif")}")
  }

  test("ksDrift: matching distribution scores 0, disjoint halves score ~1/2 vs global") {
    import graft.operators.Audit
    // "lo" uniform on [0,1), "hi" uniform on [1,2): each group's CDF is
    // half a step away from the pooled CDF at the midpoint -> D = 0.5;
    // "all" mirrors the pooled distribution -> D = 0
    val rows =
      (0 until 50).map(i => ("lo", i / 50.0)) ++
      (0 until 50).map(i => ("hi", 1.0 + i / 50.0)) ++
      (0 until 50).map(i => ("all", i / 25.0 * 0.999))
    val got = Audit.ksDrift(rows.toDF("k", "v"), "k", "v", nBuckets = 16)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got("lo") > 0.3 && got("hi") > 0.3,
      s"disjoint halves must drift: $got")
    assert(got("all") < 0.1, s"pooled-shaped group must not drift: $got")
  }

  test("pageRank: symmetric 2-cycle fixes at 1/2 each; asymmetric flow ranks the sink higher") {
    import graft.operators.Graph
    val sym = Seq(("a", "b", 1.0), ("b", "a", 1.0)).toDF("s", "d", "p")
    val gotSym = Graph.pageRank(sym, "s", "d", "p", iters = 5, damping = 0.85)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(gotSym("a") == 0.5 && gotSym("b") == 0.5, s"got $gotSym")

    // a and b both send 90% of their mass to c; c returns it evenly
    val asym = Seq(("a", "c", 0.9), ("a", "b", 0.1), ("b", "c", 0.9),
      ("b", "a", 0.1), ("c", "a", 0.5), ("c", "b", 0.5)).toDF("s", "d", "p")
    val gotAsym = Graph.pageRank(asym, "s", "d", "p", iters = 8, damping = 0.85)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(gotAsym("c") > gotAsym("a") && gotAsym("c") > gotAsym("b"),
      s"sink must dominate: $gotAsym")
    assert(math.abs(gotAsym.values.sum - 1.0) < 1e-9,
      s"row-stochastic graph must conserve mass: ${gotAsym.values.sum}")
  }

  test("distinctiveTerms: group-heavy term outranks uniform term, floor drops rare ones") {
    import graft.operators.TextAnalysis
    // "zz" appears 6x, all in group A (ratio 2 with half the corpus mass
    // in A); "uu" clears the floor in BOTH groups (5x in A, 9x in B) but
    // ranks below zz in A; "rare" is group-pure yet below the floor of 5
    // in A, so it never appears
    val docs = Seq(
      ("A", "zz zz zz zz zz zz uu uu uu uu uu rare"),
      ("B", "uu uu uu uu uu uu uu uu uu uu uu uu")
    ).toDF("lang", "text")
    val got = TextAnalysis.distinctiveTerms(docs, "lang", "text",
        k = 2, minCount = 5L)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(got == Map(("A", 1L) -> "zz", ("A", 2L) -> "uu",
      ("B", 1L) -> "uu"), s"got $got")
  }

  test("phraseSearch: overlaps count, distinct-word phrases need adjacency, absent phrase drops doc") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (0L, "table table table big"),    // "table table" x2 (overlap)
      (1L, "big table small table"),    // x0; "big table" x1
      (2L, "table big table")           // x0; "big table" x1
    ).toDF("doc_id", "text")
    def run(p: String*) = TextAnalysis.phraseSearch(docs, "doc_id", "text", p)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run("table", "table") == Map(0L -> 2L))
    assert(run("big", "table") == Map(1L -> 1L, 2L -> 1L))
    assert(run("table", "big", "table") == Map(2L -> 1L))
    assert(run("small", "big").isEmpty)
  }

  test("sessionTransitions: pairs stop at session boundaries, probabilities normalize per source") {
    import graft.operators.Behavior
    // u1 session A: a->b->a ; (gap) session B: b->c. u2: a->c.
    val ev = Seq(
      (1L, "a", 0L, 1L), (1L, "b", 60L, 2L), (1L, "a", 120L, 3L),
      (1L, "b", 10000L, 4L), (1L, "c", 10060L, 5L),
      (2L, "a", 0L, 6L), (2L, "c", 30L, 7L)
    ).toDF("user_id", "event_type", "s", "event_id")
      .select(col("user_id"), col("event_type"), col("event_id"),
        timestamp_micros(col("s") * 1000000L).as("ts"))
    val got = Behavior.sessionTransitions(ev, "ts", "user_id", "event_type",
        "event_id", gapSeconds = 1800L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // u1's 120s -> 10000s gap (9880s > 1800s) ends session A at the
    // 'a'@120, so no a->b pair crosses it. from a: b once, c once
    // (p=0.5 each); from b: a once (in A), c once (in B)
    assert(got == Map(
      ("a", "b") -> (1L, 0.5), ("a", "c") -> (1L, 0.5),
      ("b", "a") -> (1L, 0.5), ("b", "c") -> (1L, 0.5)), s"got $got")
  }

  test("skyline2d: duplicates kept, x-ties resolved, cross-bucket dominance pruned; equals brute force") {
    import graft.operators.Skyline
    // (1,5) dominates (2,4) and (3,5); (1,5) duplicated -> multiplicity 2;
    // (1,7) and (1,5): same x, higher y dominates -> only (1,7) survives
    // at x=1... but (1,5)=(1,5) duplicates don't dominate each other —
    // (1,7) dominates BOTH copies of (1,5)
    val pts = Seq((1.0, 5.0), (1.0, 5.0), (1.0, 7.0), (2.0, 4.0),
      (3.0, 5.0), (2.0, 9.0), (0.5, 1.0))
    val got = Skyline.skyline2d(pts.toDF("x", "y"), "x", "y", nBuckets = 2)
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2))).toSet
    assert(got == Set((0.5, 1.0, 1L), (1.0, 7.0, 1L), (2.0, 9.0, 1L)),
      s"got $got")

    // randomized cross-check vs the O(n^2) definition (fixed seed)
    val rnd = new scala.util.Random(7)
    val rpts = Seq.fill(300)((rnd.nextInt(40).toDouble, rnd.nextInt(40).toDouble))
    val expect = rpts.groupBy(identity).map { case ((x, y), g) => (x, y, g.size.toLong) }
      .filter { case (x, y, _) =>
        !rpts.exists(p => (p._1 <= x && p._2 >= y) && p != ((x, y))) }
      .toSet
    val rgot = Skyline.skyline2d(rpts.toDF("x", "y"), "x", "y", nBuckets = 5)
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2))).toSet
    assert(rgot == expect, s"random cross-check diverged: got $rgot expect $expect")
  }

  test("blockedFuzzyJoin: block gates candidates, argmin ties break on (dist, key)") {
    import graft.operators.Linkage
    // block = first letter. "kitten" matches "kitchen" (dist 2) over
    // "killer" (dist 4); "xray" has no same-block master -> dropped;
    // "tie" is dist 1 from both "ties"(id 5) and "tien"(id 7) -> id 5 wins
    val probe = Seq((1L, "kitten"), (2L, "xray"), (3L, "tie"))
      .toDF("pid", "pname")
    val master = Seq((4L, "kitchen"), (6L, "killer"), (5L, "ties"), (7L, "tien"))
      .toDF("mid", "mname")
    val got = Linkage.blockedFuzzyJoin(probe, "pid", "pname",
        master, "mid", "mname", n => substring(n, 1, 1))
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got == Map(1L -> (4L, 2L), 3L -> (5L, 1L)), s"got $got")

    val prof = Linkage.blockProfile(probe, "pname", master, "mname",
        n => substring(n, 1, 1)).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    // k-block: 1 probe x 2 masters; t-block: 1 x 2; x-block: 1 x 0
    assert(prof == Map("k" -> 2L, "t" -> 2L, "x" -> 0L), s"got $prof")
  }

  test("funnelUserSteps: strictly-after + horizon semantics on the dependent chain") {
    import graft.operators.Behavior
    // u1: view@10, click@20 (in 100s horizon), buy@500 (>20+100 -> breaks)
    // u2: click@5 BEFORE first view@10 -> step2 never fires
    // u3: view@10, click@110 exactly at horizon edge (10+100 inclusive), buy@111
    val ev = Seq(
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 500L),
      (2L, "click", 5L), (2L, "view", 10L),
      (3L, "view", 10L), (3L, "click", 110L), (3L, "purchase", 111L)
    ).toDF("user_id", "event_type", "s")
      .select(col("user_id"), col("event_type"),
        timestamp_micros(col("s") * 1000000L).as("ts"))
    val got = Behavior.funnelUserSteps(ev, "ts", "user_id", "event_type",
        Seq("view", "click", "purchase"), horizonSeconds = 100L)
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toMap
    def us(s: Long) = Some(s * 1000000L)
    assert(got(1L) == (us(10), us(20), None), s"u1: ${got(1L)}")
    assert(got(2L) == (us(10), None, None), s"u2: ${got(2L)}")
    assert(got(3L) == (us(10), us(110), us(111)), s"u3: ${got(3L)}")
  }

  test("retentionCohorts: cohort from first bucket, offsets deduped, rate vs day-0 size") {
    import graft.operators.Behavior
    // u1 first seen bucket 0, active 0 and 2 (its bucket-2 activity counts
    // toward COHORT 0 at offset 2, not toward cohort 2); u2 bucket 0 only
    // (twice -> deduped); u3 first seen bucket 2, active 2 and 3
    val ev = Seq(
      (1L, 5L), (1L, 25L), (2L, 1L), (2L, 2L), (3L, 21L), (3L, 35L)
    ).toDF("user_id", "s")
      .select(col("user_id"), timestamp_micros(col("s") * 1000000L).as("ts"))
    val got = Behavior.retentionCohorts(ev, "ts", "user_id",
        bucketSeconds = 10L, maxOffset = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got == Map(
      (0L, 0L) -> (2L, 1.0), (0L, 2L) -> (1L, 0.5),
      (20L, 0L) -> (1L, 1.0), (20L, 1L) -> (1L, 1.0)), s"got $got")
  }

  test("lastTouchAttribution: latest touch wins, window expires, conversions don't touch") {
    import graft.operators.Behavior
    // u1: view@10, click@20, buy@30 -> click (latest). second buy@25h
    //     after click -> outside 6h window -> none (a PURCHASE at 30 is
    //     not a touch for it either)
    // u2: buy@5 with no preceding touch -> none
    val ev = Seq(
      (1L, "view", 10L, 101L), (1L, "click", 20L, 102L),
      (1L, "purchase", 30L, 103L), (1L, "purchase", 90030L, 104L),
      (2L, "purchase", 5L, 201L)
    ).toDF("user_id", "event_type", "s", "event_id")
      .select(col("user_id"), col("event_type"), col("event_id"),
        timestamp_micros(col("s") * 1000000L).as("ts"))
    val got = Behavior.lastTouchAttribution(ev, "ts", "user_id", "event_type",
        Seq("view", "click"), "purchase", windowSeconds = 6 * 3600L,
        tiebreakCol = "event_id")
      .collect().map(r => r.getAs[Long]("event_id") ->
        r.getAs[String]("touch_type")).toMap
    assert(got == Map(103L -> "click", 104L -> "none", 201L -> "none"),
      s"got $got")
  }

  test("decayScores: staircase power-of-two weights, exact below half-life") {
    import graft.operators.Behavior
    // max bucket = 14. ages 0, 7, 14 -> weights 1, 1/2, 1/4.
    // u1: 8.0@b14 + 8.0@b7 + 8.0@b0 = 8 + 4 + 2 = 14. u2: 4.0@b13 (age 1,
    // same staircase step as age 0 -> weight 1) = 4.
    val ev = Seq(
      (1L, 8.0, 14L), (1L, 8.0, 7L), (1L, 8.0, 0L), (2L, 4.0, 13L)
    ).toDF("user_id", "value", "b")
      .select(col("user_id"), col("value"),
        timestamp_micros(col("b") * 10L * 1000000L).as("ts"))
    val got = Behavior.decayScores(ev, "ts", "user_id", "value",
        bucketSeconds = 10L, halfLifeBuckets = 7)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(got == Map(1L -> (14.0, 3L), 2L -> (4.0, 1L)), s"got $got")
  }

  test("slidingTopK: merged trailing counts rank with the (count desc, item asc) tie-break") {
    import graft.operators.SketchQueries
    // bucket 0: a,a,b; bucket 1: b. frame = 2 buckets.
    // frame@0: a=2,b=1 -> ranks a,b. frame@10 (b0∪b1): a=2,b=2 -> tie,
    // item order puts a first.
    val ev = Seq(
      ("a", 1_000_000L), ("a", 2_000_000L), ("b", 3_000_000L), // bucket 0
      ("b", 15_000_000L)                                       // bucket 1
    ).toDF("item", "us")
      .select(col("item"), timestamp_micros(col("us")).as("ts"),
        lit("e").as("event_type"))
    val got = SketchQueries.slidingTopK(ev, "ts", "event_type", "item",
        slideSeconds = 10L, frameBuckets = 2, k = 2, capacity = 64)
      .collect().map(r => (r.getLong(0), r.getLong(2)) ->
        (r.getString(3), r.getLong(4))).toMap
    assert(got == Map(
      (0L, 1L) -> ("a", 2L), (0L, 2L) -> ("b", 1L),
      (10L, 1L) -> ("a", 2L), (10L, 2L) -> ("b", 2L)), s"got $got")
  }

  test("slidingCmEstimate: merged frame CM answers the probe exactly in the no-collision regime") {
    import graft.operators.SketchQueries
    // probe "a": 2x in bucket 0, 1x in bucket 1 -> frame@0: 2, frame@10: 3
    val ev = Seq(
      ("a", 1_000_000L), ("a", 2_000_000L), ("b", 3_000_000L), // bucket 0
      ("a", 15_000_000L)                                       // bucket 1
    ).toDF("item", "us")
      .select(col("item"), timestamp_micros(col("us")).as("ts"),
        lit("e").as("event_type"))
    val got = SketchQueries.slidingCmEstimate(ev, "ts", "event_type", "item",
        slideSeconds = 10L, frameBuckets = 2, probe = "a")
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got == Map(0L -> (2L, 3L), 10L -> (3L, 4L)), s"got $got")
  }

  test("tfidfAllPairsTopK: symmetric neighbours, posting caps drop hot terms, drops observed") {
    import graft.operators.TextAnalysis
    // shingleK = 1 makes the term space the tokens themselves, so the
    // hand-case is readable; "hot" is in all 4 docs -> dropped at frac 0.7
    // AND counted by the observed metric
    val docs = Seq(
      (0L, "hot aa aa"),
      (1L, "hot bb"),
      (2L, "hot aa"),
      (3L, "hot bb")
    ).toDF("doc_id", "text")
    val df = TextAnalysis.tfidfAllPairsTopK(docs, "doc_id", "text",
      k = 1, shingleK = 1, maxDfFrac = 0.7, maxPosting = 4096)
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    // with "hot" pruned: 0-2 share aa, 1-3 share bb; every doc still gets
    // its neighbour and the relation is symmetric
    assert(got == Map(0L -> 2L, 2L -> 0L, 1L -> 3L, 3L -> 1L), s"got $got")
    val m = df.queryExecution.observedMetrics("tfidf_posting_cap")
    assert(m.getAs[Long]("dropped_terms") == 1L, m.toString)
    assert(m.getAs[Long]("dropped_posting_rows") == 4L, m.toString)
    assert(m.getAs[Long]("max_posting_len") == 4L, m.toString)
    // absolute posting cap alone (maxPosting = 3 < df("hot") = 4) prunes
    // the same term even with the fraction wide open
    val capped = TextAnalysis.tfidfAllPairsTopK(docs, "doc_id", "text",
        k = 1, shingleK = 1, maxDfFrac = 1.0, maxPosting = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(capped == got, s"got $capped")
  }

  test("lmPerplexity scores match the hand-computed smoothed bigram MLE") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "a b a b"), // bigrams: "a b", "b a", "a b"
      (2L, "a b"),     // bigram:  "a b"
      (3L, "c")        // 1 token: excluded from model AND output
    ).toDF("doc_id", "text")
    val got = TextAnalysis.lmPerplexity(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // model over docs 1,2: c("a b")=3, c("b a")=1; c1(a)=3, c1(b)=1; V=2
    val pAB = (3.0 + 1) / (3 + 2) // P(b|a) = 0.8
    val pBA = (1.0 + 1) / (1 + 2) // P(a|b) = 2/3
    def bits(p: Double) = -math.log(p) / math.log(2.0)
    def round6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.keySet == Set(1L, 2L), s"1-token doc leaked: $got")
    assert(got(1L)._1 == 3L && got(2L)._1 == 1L)
    assert(got(1L)._2 == round6((2 * bits(pAB) + bits(pBA)) / 3), s"doc1 ${got(1L)}")
    assert(got(2L)._2 == round6(bits(pAB)), s"doc2 ${got(2L)}")
  }

  // ---- market basket (q148) ----

  test("frequentPairs: hand-checked supports, lift, dup rows deduped, minSupport cut") {
    import graft.operators.Basket
    val rows = Seq( // basket 1 lists item 10 twice: collect_set dedupes
      (1L, 10L), (1L, 10L), (1L, 20L), (1L, 30L),
      (2L, 10L), (2L, 20L),
      (3L, 10L), (3L, 20L),
      (4L, 30L)).toDF("b", "i")
    val got = Basket.frequentPairs(rows, "b", "i", minSupport = 2L,
        basketCap = 64, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // pair (10,20) in baskets 1,2,3; (10,30) and (20,30) only in basket 1
    // lift(10,20) = 3 * 4 baskets / (s10=3 * s20=3)
    assert(got.toSeq == Seq((10L, 20L, 3L, 3.0 * 4 / 9)))
  }

  test("frequentPairs: basket cap keeps smallest items and observes drops") {
    import graft.operators.Basket
    val rows = Seq((1L, 30L), (1L, 10L), (1L, 20L),
      (2L, 10L), (2L, 20L)).toDF("b", "i")
    val got = Basket.frequentPairs(rows, "b", "i", minSupport = 2L,
      basketCap = 2, topK = 10)
    // cap=2 keeps {10,20} in basket 1 (smallest), drops 30
    assert(got.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq == Seq((10L, 20L, 2L)))
  }

  test("basketMvBatch: maintained counts == from-scratch; replay idempotent") {
    import graft.operators.Basket
    val path = java.nio.file.Files.createTempDirectory("graft-bktmv-t").toString
    val b0 = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L)).toDF("b", "i")
    val b1 = Seq((3L, 10L), (3L, 20L), (3L, 30L)).toDF("b", "i")
    Basket.basketMvBatch(b0, "b", "i", 64, path, 0L)
    Basket.basketMvBatch(b1, "b", "i", 64, path, 1L)
    def v1(): Map[(Long, Long), Long] =
      spark.read.parquet(path).filter(col("batch_id") === 1L)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val got = v1()
    assert(got == Map((10L, 20L) -> 3L, (10L, 30L) -> 1L, (20L, 30L) -> 1L),
      s"maintained counts: $got")
    Basket.basketMvBatch(b1, "b", "i", 64, path, 1L) // replay overwrites
    assert(v1() == got, "replay changed the maintained counts")
  }

  // ---- triangle census (q150) ----

  test("triangleStats: K4 plus a pendant, duplicate/reversed/self edges normalized") {
    import graft.operators.Graph
    // K4 on {1,2,3,4} (4 triangles), pendant 5-1, plus noise: a reversed
    // duplicate, an exact duplicate, and a self loop
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (5L, 1L), (2L, 1L), (1L, 2L), (3L, 3L)).toDF("a", "b")
    val got = Graph.triangleStats(edges, "a", "b").collect()(0)
    assert(got.getLong(0) == 5, "nodes")     // {1..5}
    assert(got.getLong(1) == 7, "edges")     // K4's 6 + pendant
    assert(got.getLong(2) == 4, "triangles") // C(4,3)
    // degrees: 1->4, 2..4->3, 5->1; wedges = 6 + 3*3 + 0 = 15
    assert(got.getLong(3) == 15, "wedges")
    assert(got.getDouble(4) == 4.0 * 3 / 15, "global cc")
  }

  test("degreeAssortativity: a star is exactly -1, a clique degenerates to 0") {
    import graft.operators.Graph
    // K1,3: every edge joins degree 3 to degree 1 -> r = -1 exactly
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    val gs = Graph.degreeAssortativity(star, "a", "b").collect()(0)
    assert(gs.getLong(0) == 4 && gs.getLong(1) == 3)
    assert(gs.getLong(2) == 3) // max degree
    assert(gs.getDouble(4) == -1.0, s"got $gs")
    // K3: all degrees equal -> zero variance -> guarded to 0.0
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    val gt = Graph.degreeAssortativity(tri, "a", "b").collect()(0)
    assert(gt.getDouble(4) == 0.0, s"got $gt")
  }

  test("kCore: pendant peels off K4; a chain peels to nothing in two rounds") {
    import graft.operators.Graph
    val k4p = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (5L, 1L)).toDF("a", "b")
    val core = Graph.kCore(k4p, "a", "b", k = 3, maxRounds = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"got $core")
    // path 1-2-3-4: endpoints peel, then the middle edge peels -> empty
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    assert(Graph.kCore(chain, "a", "b", k = 2, maxRounds = 6).collect().isEmpty)
  }

  test("adamicAdar: hand-checked path scores, direct edges excluded, " +
      "middle-degree cap drops the hub") {
    import graft.operators.Graph
    // path 1-2-3 plus 2-4: from probe 1, candidates {3,4} via middle 2
    // (deg 3): AA = 1/ln 3 each; pair (1,2) is a direct edge → excluded
    val edges = Seq((1L, 2L), (2L, 3L), (2L, 4L)).toDF("a", "b")
    val probes = Seq(Tuple1(1L)).toDF("p")
    val got = Graph.adamicAdar(edges, "a", "b", probes, topK = 5)
      .collect()
    assert(got.map(_.getLong(1)).toSet == Set(3L, 4L))
    got.foreach { r =>
      assert(r.getLong(2) == 1, "one common neighbor")
      assert(math.abs(r.getDouble(3) - 1.0 / math.log(3.0)) < 1e-12)
    }
    // tie broken by candidate asc: rank 1 is node 3
    assert(got.find(_.getLong(4) == 1L).get.getLong(1) == 3L)
    // capping the middle's degree to 2 removes node 2 (deg 3) entirely
    assert(Graph.adamicAdar(edges, "a", "b", probes, topK = 5,
      maxMiddleDegree = 2L).count() == 0)
  }

  test("labelPropagation: two cliques joined by a bridge keep their " +
      "own min-label communities") {
    import graft.operators.Graph
    // K3 {1,2,3} and K3 {4,5,6} bridged by 3-4
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("a", "b")
    val got = Graph.labelPropagation(edges, "a", "b", rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L)
    assert(got(5L) == 4L && got(6L) == 4L)
  }

  test("markovAttribution: the only channel on the converting path " +
      "takes all the credit") {
    import graft.operators.Behavior
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(h: Int) = new java.sql.Timestamp(t0.getTime + h * 3600L * 1000)
    // u1: A then purchase; u2: B then nothing ->
    // base P(conv) = 0.5 via start->A->conv; removing A kills it (RE 1),
    // removing B changes nothing (RE 0)
    val df = Seq((1L, ts(0), 10L, "A"), (1L, ts(1), 11L, "purchase"),
      (2L, ts(0), 20L, "B"))
      .toDF("u", "ts", "eid", "ch")
    val got = Behavior.markovAttribution(df, "ts", "u", "ch", "eid",
        col("ch") === "purchase", iters = 8)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(got("A")._1 == 1.0 && got("A")._2 == 1.0, s"got $got")
    assert(got("A")._3 == 1.0) // 1 conversion, all credited to A
    assert(got("B")._1 == 0.0 && got("B")._2 == 0.0)
  }

  test("triangleStats: triangle-free bipartite graph counts zero") {
    import graft.operators.Graph
    val edges = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L)).toDF("a", "b")
    val got = Graph.triangleStats(edges, "a", "b").collect()(0)
    assert(got.getLong(2) == 0 && got.getLong(3) == 4)
  }

  // ---- collocations (q155) ----

  test("collocationsPmi: hand-checked PMI, minCount cut, short docs skipped") {
    val docs = Seq("a b", "a b", "a c", "x").toDF("text")
    val got = TextAnalysis.collocationsPmi(docs, "text", minCount = 2L,
        topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // N1 = 7 tokens, N2 = 3 bigrams; c(a)=3, c(b)=2; only "a b" (n=2)
    // survives; PMI = log2(2*49 / (3*3*2)) = log2(49/9)
    assert(got.length == 1 && got(0)._1 == "a b" && got(0)._2 == 2L)
    assert(math.abs(got(0)._3 - math.log(49.0 / 9) / math.log(2)) < 1e-12)
  }

  // ---- BFS hop distances (q151) ----

  test("bfsHops: path graph distances, disconnected component unreached, early exit") {
    import graft.operators.Graph
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L)).toDF("a", "b")
    val seed = Seq(1L).toDF("node")
    val got = Graph.bfsHops(edges, "a", "b", seed, maxHops = 6)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3))
  }

  test("bfsHops: maxHops truncates, hop is shortest distance on a cycle") {
    import graft.operators.Graph
    // 4-cycle: node 3 reachable in 2 hops both ways, counted once
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("a", "b")
    val seed = Seq(1L).toDF("node")
    val got = Graph.bfsHops(edges, "a", "b", seed, maxHops = 1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 2L -> 1, 4L -> 1))
    val full = Graph.bfsHops(edges, "a", "b", seed, maxHops = 9)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(full == Map(1L -> 0, 2L -> 1, 4L -> 1, 3L -> 2))
  }
}
