package graft

import graft.sketch.{BloomFilter, SketchMergeException}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bloom filter kernel guarantees (no false negatives, FPR near theory,
  * OR-merge) plus the bloom_agg / might_contain Catalyst wiring and the
  * bloom-prefiltered semi-join operator. */
class BloomSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  import spark.implicits._

  test("no false negatives, FPR near theory at 10 bits/element") {
    val rnd = new scala.util.Random(11)
    val n = 10000
    val inserted = (0 until n).map(_ => rnd.nextLong()).distinct
    val bf = new BloomFilter(n * 10 - (n * 10 % 64) + 64, 7)
    inserted.foreach(bf.offerHash)
    inserted.foreach(h => assert(bf.mightContainHash(h), "false negative!"))
    val probes = (0 until 100000).map(_ => rnd.nextLong()).filterNot(inserted.contains)
    val fp = probes.count(bf.mightContainHash).toDouble / probes.size
    // theoretical ~0.0082 at exactly 10 bits/element, k=7; allow 3x slack
    assert(fp < 0.03, s"false positive rate $fp")
  }

  test("merge is bitwise OR; shape mismatch fails cleanly") {
    val a = new BloomFilter(6400, 7)
    val b = new BloomFilter(6400, 7)
    (1L to 100L).foreach(a.offerHash)
    (101L to 200L).foreach(b.offerHash)
    a.mergeInPlace(b)
    (1L to 200L).foreach(h => assert(a.mightContainHash(h)))
    val e = intercept[SketchMergeException] {
      a.mergeInPlace(new BloomFilter(128, 7))
    }
    assert(e.getMessage.contains("shape"))
    val bytes = a.serialize()
    val back = BloomFilter.deserialize(bytes)
    (1L to 200L).foreach(h => assert(back.mightContainHash(h)))
    val junk = bytes.clone(); junk(0) = 0x01
    intercept[SketchMergeException](BloomFilter.deserialize(junk))
  }

  test("bloom_agg + might_contain via SQL: no inserted key ever misses") {
    (1L to 5000L).toDF("k").createOrReplaceTempView("bloom_keys")
    (4000L to 9000L).toDF("k").createOrReplaceTempView("bloom_probes")
    val missed = spark.sql(
      """SELECT count(*) FROM bloom_probes
        |WHERE k <= 5000
        |  AND NOT might_contain((SELECT bloom_agg(k, 65536, 7) FROM bloom_keys), k)
        |""".stripMargin).as[Long].head()
    assert(missed == 0L, s"$missed false negatives")
    // probes far outside the inserted range are mostly rejected
    val passed = spark.sql(
      """SELECT count(*) FROM bloom_probes
        |WHERE k > 5000
        |  AND might_contain((SELECT bloom_agg(k, 65536, 7) FROM bloom_keys), k)
        |""".stripMargin).as[Long].head()
    assert(passed < 400, s"$passed of 4000 non-members passed (FPR too high)")
  }

  test("bloom_merge_agg: stored partial filters OR to the full filter") {
    val df = (1L to 2000L).map(k => (k % 7, k)).toDF("g", "k")
    val stored = df.groupBy("g")
      .agg(GraftFunctions.bloom_agg($"k", 65536, 7).as("bf"))
      .agg(GraftFunctions.bloom_merge_agg($"bf", 65536, 7).as("bf"))
      .select($"bf").as[Array[Byte]].head()
    val merged = BloomFilter.deserialize(stored)
    val oneShot = BloomFilter.deserialize(
      df.agg(GraftFunctions.bloom_agg($"k", 65536, 7).as("bf"))
        .select($"bf").as[Array[Byte]].head())
    assert(java.util.Arrays.equals(stored,
      oneShot.serialize()), "merged filter != one-shot filter")
    assert(merged.mightContainHash _ != null)
  }

  test("bloomSemiJoin equals the plain semi-join") {
    val fact = (1L to 10000L).map(k => (k, k % 997)).toDF("row_id", "fk")
    val dim = (0L to 996L by 13).toDF("pk")
    val got = graft.operators.RuntimeFilter
      .bloomSemiJoin(fact, dim, "fk", "pk", numBits = 65536)
      .select("row_id").as[Long].collect().sorted.toSeq
    val expected = fact.join(dim, $"fk" === $"pk", "left_semi")
      .select("row_id").as[Long].collect().sorted.toSeq
    assert(got == expected)
  }

  test("bloomSemiJoin is lazy: construction and planning run no job; no filter literal in the plan") {
    val fact = (1L to 1000L).map(k => (k, k % 97)).toDF("row_id", "fk")
    val dim = (0L to 96L by 3).toDF("pk")
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = graft.operators.RuntimeFilter.bloomSemiJoin(fact, dim, "fk", "pk")
      // force full analysis + physical planning WITHOUT an action
      val planned = df.queryExecution.executedPlan.toString
      Thread.sleep(500) // listener bus delivery is async
      assert(jobs == 0,
        s"constructing/planning the bloom semi-join ran $jobs Spark job(s)")
      // the filter rides a subquery, not an inlined BINARY literal
      assert(planned.toLowerCase.contains("subquery"), planned)
      val got = df.select("row_id").as[Long].collect().sorted.toSeq
      val expected = fact.join(dim, $"fk" === $"pk", "left_semi")
        .select("row_id").as[Long].collect().sorted.toSeq
      assert(got == expected)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("auto-sized geometry matches Bloom theory and caps at MaxAutoBits") {
    val (m, k) = graft.operators.RuntimeFilter.bloomGeometry(1000000L, 0.01)
    // m = -n ln(0.01)/ln^2 2 = 9585058.7 -> next 64-bit word
    assert(m % 64 == 0 && m >= 9585059 - 64 && m <= 9585059 + 128, s"m=$m")
    assert(k == 7, s"k=$k")
    val (mCap, kCap) = graft.operators.RuntimeFilter.bloomGeometry(1L << 40, 0.01)
    assert(mCap == graft.operators.RuntimeFilter.MaxAutoBits)
    assert(kCap == 1, s"capped filter should drop to the minimum probes, got $kCap")
    val (mTiny, _) = graft.operators.RuntimeFilter.bloomGeometry(1L, 0.01)
    assert(mTiny >= 64 && mTiny % 64 == 0)
  }

  private val codec = WireCodec[BloomFilter](_.serialize(), BloomFilter.deserialize,
    (a, b) => { a.mergeInPlace(b); a }, BloomFilter.mergeSerializedInto)

  test("wire merge == deserialize + mergeInPlace, bytes included; other shapes refused") {
    for (seed <- 1 to 12) {
      val rnd = new scala.util.Random(seed)
      val (numBits, numHashes) = (64 * (1 + rnd.nextInt(200)), 1 + rnd.nextInt(8))
      def of(n: Int) = {
        val f = new BloomFilter(numBits, numHashes)
        (0 until n).foreach(_ => f.offerHash(rnd.nextLong()))
        f
      }
      val a = of(rnd.nextInt(1000))
      val bytes = of(rnd.nextInt(1000)).serialize()
      codec.checkMerge(s"seed $seed: ($numBits,$numHashes)", () => BloomFilter.deserialize(a.serialize()),
        bytes, bytes)
      codec.checkRejected("other numBits", a, new BloomFilter(numBits + 64, numHashes).serialize(),
        decodes = true)
      codec.checkRejected("other numHashes", a, new BloomFilter(numBits, numHashes % 8 + 1).serialize(),
        decodes = true)
      codec.checkRejected("truncated", a, bytes.dropRight(1))
      codec.checkRejected("trailing byte", a, bytes :+ 0.toByte)
    }
  }

  /** A sparse payload by hand: a (numBits, 3) header, `count`, then `body`
    * as the varint bytes. */
  private def sparse(numBits: Int, count: Int, body: Int*): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(21 + body.length)
    bb.put(BloomFilter.SparseTag).putInt(numBits).putInt(3).putLong(1L).putInt(count)
    body.foreach(b => bb.put(b.toByte))
    bb.array()
  }

  test("sparse layout when smaller, else dense byte for byte; dense payloads still merge; corrupt positions refused") {
    val tags = for (seed <- 1 to 12) yield {
      val rnd = new scala.util.Random(seed)
      val (numBits, numHashes) = (64 * (1 + rnd.nextInt(400)), 1 + rnd.nextInt(8))
      val f = new BloomFilter(numBits, numHashes)
      // odd seeds: under one set bit per 64; even: half the bits or more
      val keys = if (seed % 2 == 1) rnd.nextInt(numBits / 64 / numHashes + 1) else numBits / 2 + rnd.nextInt(numBits)
      (0 until keys).foreach(_ => f.offerHash(rnd.nextLong()))
      val bytes = f.serialize()
      val dense = LegacyWire.bloom(f)
      if (bytes(0) == BloomFilter.WireTag) assert(bytes.sameElements(dense), s"seed $seed")
      else assert(bytes(0) == BloomFilter.SparseTag && bytes.length < dense.length, s"seed $seed")
      val a = new BloomFilter(numBits, numHashes)
      (0 until 50).foreach(_ => a.offerHash(rnd.nextLong()))
      for ((layout, payload) <- Seq("dense" -> dense, "written" -> bytes))
        codec.checkMerge(s"seed $seed, $layout", () => BloomFilter.deserialize(a.serialize()), payload, bytes)
      codec.checkRejected(s"seed $seed, truncated", a, bytes.dropRight(1))
      codec.checkRejected(s"seed $seed, trailing byte", a, bytes :+ 0.toByte)
      bytes(0)
    }
    assert(tags.toSet == Set(BloomFilter.SparseTag, BloomFilter.WireTag))

    val ok = sparse(128, 2, 5, 3) // positions 4 and 7
    assert(BloomFilter.deserialize(ok).words.toSeq == Seq(1L << 4 | 1L << 7, 0L))
    val target = BloomFilter.deserialize(sparse(128, 1, 100))
    for ((what, bad) <- Seq(
        "position >= numBits" -> sparse(128, 1, 0x81, 0x01),
        "non-ascending positions" -> sparse(128, 2, 5, 0),
        "overlong varint" -> sparse(128, 1, 0x85, 0x00),
        "six-byte varint" -> sparse(128, 1, 0x81, 0x80, 0x80, 0x80, 0x80, 0x00),
        "fewer positions than the count" -> sparse(128, 3, 5, 3),
        "count above numBits" -> sparse(128, 129),
        "negative count" -> sparse(128, -1),
        "no count" -> sparse(128, 0).dropRight(4)))
      codec.checkRejected(what, target, bad)
  }

  test("a 2^20-bit bloom filter of 2048 keys is sparse and at most 20 KB") {
    val f = new BloomFilter(1 << 20, 7)
    (1L to 2048L).foreach(k => f.offerHash(org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(k, 0L)))
    val bytes = f.serialize()
    assert(bytes(0) == BloomFilter.SparseTag && bytes.length <= 20480, bytes.length)
    assert(BloomFilter.deserialize(bytes).words.sameElements(f.words))
  }
}
