package graft

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import graft.sketch.{SketchMergeException, SpaceSaving}

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** SpaceSaving kernel guarantees (exactness, eviction bounds, merge law,
  * wire format) plus the Catalyst wiring of approx_top_k / topk_sketch_agg /
  * topk_merge_agg. */
class SpaceSavingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  import spark.implicits._

  /** Zipf-ish synthetic stream with known exact counts. */
  private def stream(seed: Int, n: Int, domain: Int): (Seq[String], Map[String, Long]) = {
    val rnd = new scala.util.Random(seed)
    val items = (0 until n).map { _ =>
      // skewed: item k with prob ~ 1/(k+1)
      val u = rnd.nextDouble()
      val k = math.min(domain - 1, (1.0 / u - 1.0).toInt)
      s"item$k"
    }
    (items, items.groupBy(identity).view.mapValues(_.size.toLong).toMap)
  }

  /** The wire format written field by field, entries in the given order. */
  private def payload(cap: Int, n: Long, evicted: Boolean,
      entries: Seq[(String, Long, Long)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeByte(SpaceSaving.WireTag)
    out.writeInt(cap)
    out.writeLong(n)
    out.writeBoolean(evicted)
    out.writeInt(entries.size)
    entries.foreach { case (item, est, err) =>
      val b = item.getBytes(UTF_8)
      out.writeInt(b.length)
      out.write(b)
      out.writeLong(est)
      out.writeLong(err)
    }
    out.flush()
    bos.toByteArray
  }

  /** A summary as plain data: entries in slot order. */
  private final case class Ref(cap: Int, n: Long, evicted: Boolean,
      entries: Vector[(String, Long, Long)]) {
    def bytes: Array[Byte] = payload(cap, n, evicted, entries.sortWith((a, b) => byteLess(a._1, b._1)))
  }

  private def byteLess(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8)) < 0

  private def decode(bytes: Array[Byte]): Ref = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    in.readByte()
    val (cap, n, evicted, size) = (in.readInt(), in.readLong(), in.readBoolean(), in.readInt())
    Ref(cap, n, evicted, Vector.fill(size) {
      val b = new Array[Byte](in.readInt())
      in.readFully(b)
      (new String(b, UTF_8), in.readLong(), in.readLong())
    })
  }

  /** The class-doc merge rule over plain maps. */
  private def refMerge(a: Ref, b: Ref): Ref = {
    def minOf(r: Ref) = if (r.evicted && r.entries.nonEmpty) r.entries.map(_._2).min else 0L
    val (minA, minB) = (minOf(a), minOf(b))
    val am = a.entries.map(e => e._1 -> e).toMap
    val bm = b.entries.map(e => e._1 -> e).toMap
    val merged = (am.keySet ++ bm.keySet).toVector.map { k =>
      (am.get(k), bm.get(k)) match {
        case (Some((_, e1, r1)), Some((_, e2, r2))) => (k, e1 + e2, r1 + r2)
        case (Some((_, e1, r1)), None) => (k, e1 + minB, r1 + minB)
        case (None, Some((_, e2, r2))) => (k, e2 + minA, r2 + minA)
        case _ => throw new IllegalStateException(k)
      }
    }
    val cap = math.min(a.cap, b.cap)
    if (merged.size > cap) {
      val top = merged.sortWith((x, y) => x._2 > y._2 || (x._2 == y._2 && byteLess(x._1, y._1)))
      Ref(cap, a.n + b.n, evicted = true, top.take(cap))
    } else Ref(cap, a.n + b.n, a.evicted || b.evicted, merged)
  }

  /** The offer path with an O(m) minimum scan: the victim is the first
    * slot with the smallest estimate, and the newcomer takes its slot. */
  private def refOffers(start: Ref, offers: Seq[(String, Long)]): Ref = {
    val slots = scala.collection.mutable.ArrayBuffer.from(start.entries)
    var (n, evicted) = (start.n, start.evicted)
    for ((item, w) <- offers) {
      n += w
      val hit = slots.indexWhere(_._1 == item)
      if (hit >= 0) slots(hit) = slots(hit).copy(_2 = slots(hit)._2 + w)
      else if (slots.size < start.cap) slots += ((item, w, 0L))
      else {
        var v = 0
        for (s <- 1 until slots.size) if (slots(s)._2 < slots(v)._2) v = s
        val min = slots(v)._2
        slots(v) = (item, min + w, min)
        evicted = true
      }
    }
    Ref(start.cap, n, evicted, slots.toVector)
  }

  /** Item names that order differently as UTF-8 bytes and as UTF-16
    * `String`s (U+E000 vs a surrogate pair), mixed with ASCII ones. */
  private def itemName(prefix: String, i: Int): String = i % 5 match {
    case 0 => s"\uE000$prefix$i"
    case 1 => s"\uD83D\uDE00$prefix$i"
    case _ => s"$prefix$i"
  }

  test("exact when capacity exceeds the distinct count") {
    val (items, exact) = stream(1, 50000, 40)
    val ss = new SpaceSaving(64)
    items.foreach(ss.offer)
    assert(!ss.serialize().isEmpty)
    val top = ss.topK(40)
    assert(top.size == exact.size)
    top.foreach { case (item, est, err) =>
      assert(err == 0L, s"$item err=$err")
      assert(est == exact(item), s"$item est=$est exact=${exact(item)}")
    }
  }

  test("eviction keeps the SpaceSaving bounds: true <= est <= true + err, err <= n/m") {
    val (items, exact) = stream(2, 100000, 5000)
    val m = 256
    val ss = new SpaceSaving(m)
    items.foreach(ss.offer)
    val n = items.size.toLong
    ss.topK(m).foreach { case (item, est, err) =>
      val t = exact.getOrElse(item, 0L)
      assert(t <= est, s"$item true=$t est=$est")
      assert(est - err <= t, s"$item est-err=${est - err} true=$t")
      assert(err <= n / m + 1, s"$item err=$err bound=${n / m}")
    }
    // every item with true count > n/m must be tracked
    val tracked = ss.topK(m).map(_._1).toSet
    exact.filter(_._2 > n / m).keys.foreach(k =>
      assert(tracked.contains(k), s"heavy item $k (count ${exact(k)}) missing"))
  }

  test("mixed-capacity merge trims to min(capacity) and keeps its bounds") {
    // two vintages of one store: capacity reconfigured 512 -> 128 mid-stream
    val (itemsA, _) = stream(31, 60000, 3000)
    val (itemsB, _) = stream(32, 60000, 3000)
    val exact = (itemsA ++ itemsB).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    for ((capA, capB) <- Seq((512, 128), (128, 512))) {
      val a = new SpaceSaving(capA)
      itemsA.foreach(a.offer)
      val b = new SpaceSaving(capB)
      itemsB.foreach(b.offer)
      a.mergeInPlace(b)
      val m = math.min(capA, capB)
      assert(a.capacity == m, s"merged capacity ${a.capacity}, want $m")
      val n = (itemsA.size + itemsB.size).toLong
      a.topK(m).foreach { case (item, est, err) =>
        val t = exact.getOrElse(item, 0L)
        assert(t <= est, s"$item true=$t est=$est")
        assert(est - err <= t, s"$item est-err=${est - err} true=$t")
        assert(err <= n / m + 1, s"$item err=$err bound=${n / m}")
      }
      // heavy items (count > n/m) survive the trim
      val tracked = a.topK(m).map(_._1).toSet
      exact.filter(_._2 > n / m).keys.foreach(k =>
        assert(tracked.contains(k), s"heavy item $k missing after trim to $m"))
    }
  }

  test("topk_merge_agg over a mixed-capacity store returns the trimmed answer") {
    val (items, exact) = stream(33, 40000, 200)
    val df = items.zipWithIndex
      .map { case (it, i) => (if (i % 2 == 0) "old" else "new", it) }
      .toDF("vintage", "item")
    // old vintage stored at capacity 64, new at 256 — one store, two shapes
    val store = df.filter($"vintage" === "old")
      .agg(GraftFunctions.topk_sketch_agg($"item", 64).as("s"))
      .union(df.filter($"vintage" === "new")
        .agg(GraftFunctions.topk_sketch_agg($"item", 256).as("s")))
    val top = store.agg(GraftFunctions.topk_merge_agg($"s", 5, 256).as("tk"))
      .select(explode($"tk").as("e"))
      .select($"e.item", $"e.est", $"e.err").as[(String, Long, Long)].collect()
    assert(top.length == 5, s"expected a trimmed answer, got ${top.length} rows")
    // estimates still bracket the true counts
    top.foreach { case (item, est, err) =>
      val t = exact.getOrElse(item, 0L)
      assert(t <= est && est - err <= t, s"$item true=$t est=$est err=$err")
    }
    // the stream's heaviest item must lead
    assert(top.head._1 == exact.maxBy(_._2)._1)
  }

  test("merge of split streams keeps bounds; merge without evictions is exact") {
    val (items, exact) = stream(3, 60000, 3000)
    val m = 512
    val parts = items.grouped(items.size / 7 + 1).toSeq
    val summaries = parts.map { p => val s = new SpaceSaving(m); p.foreach(s.offer); s }
    val merged = summaries.reduce { (a, b) => a.mergeInPlace(b); a }
    val n = items.size.toLong
    merged.topK(m).foreach { case (item, est, err) =>
      val t = exact.getOrElse(item, 0L)
      assert(t <= est && est - err <= t, s"$item true=$t est=$est err=$err")
    }
    // exact regime: small domain, no evictions anywhere
    val (items2, exact2) = stream(4, 30000, 30)
    val sums2 = items2.grouped(5000).map { p =>
      val s = new SpaceSaving(64); p.foreach(s.offer); s
    }.toSeq
    val m2 = sums2.reduce { (a, b) => a.mergeInPlace(b); a }
    m2.topK(64).foreach { case (item, est, err) =>
      assert(err == 0L && est == exact2(item), s"$item est=$est err=$err")
    }
  }

  test("weighted eviction keeps the bounds over total weight") {
    val rnd = new scala.util.Random(43)
    val rows = Seq.fill(50000)((s"k${rnd.nextInt(2000)}", rnd.nextInt(20).toLong + 1))
    val exact = rows.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val m = 128
    val ss = new SpaceSaving(m)
    rows.foreach { case (k, w) => ss.offer(org.apache.spark.unsafe.types.UTF8String.fromString(k), w) }
    val totalW = rows.map(_._2).sum
    assert(ss.n == totalW)
    ss.topK(m).foreach { case (item, est, err) =>
      val t = exact.getOrElse(item, 0L)
      assert(t <= est && est - err <= t, s"$item true=$t est=$est err=$err")
    }
    // any item whose true weight exceeds W/m must be tracked
    val tracked = ss.topK(m).map(_._1).toSet
    exact.filter(_._2 > totalW / m).keys.foreach(k =>
      assert(tracked.contains(k), s"heavy item $k (weight ${exact(k)}) missing"))
  }

  test("serialization round-trips; corrupted payloads fail cleanly") {
    val (items, _) = stream(5, 20000, 1000)
    val ss = new SpaceSaving(128)
    items.foreach(ss.offer)
    val bytes = ss.serialize()
    val back = SpaceSaving.deserialize(bytes)
    assert(back.topK(128) == ss.topK(128))
    assert(back.n == ss.n)
    // round-trip then continue offering
    back.offer("late-item")
    assert(back.n == ss.n + 1)
    val junk = bytes.clone(); junk(0) = 0x00
    val e1 = intercept[SketchMergeException](SpaceSaving.deserialize(junk))
    assert(e1.getMessage.contains("wire tag"))
    val trunc = bytes.take(6)
    intercept[SketchMergeException](SpaceSaving.deserialize(trunc))
    // each malformed payload fails the same way on both decode paths, and a
    // rejected wire merge leaves its target untouched
    val e = Seq(("a", 1L, 0L), ("b", 2L, 0L))
    val good = payload(8, 3L, evicted = false, e)
    val bad = Seq(
      payload(8, 3L, evicted = false, Seq(("a", 2L, 0L), ("a", 1L, 0L))) -> "twice",
      payload(8, 5L, evicted = false, Seq(("b", 2L, 0L), ("a", 1L, 0L), ("b", 2L, 0L))) -> "twice",
      (good :+ 0.toByte) -> "trailing",
      payload(8, -1L, evicted = false, e) -> "n=-1",
      good.dropRight(3) -> "truncated",
      good.dropRight(12) -> "truncated",
      good.take(20) -> "truncated")
    for ((b, msg) <- bad) {
      val d = intercept[SketchMergeException](SpaceSaving.deserialize(b))
      assert(d.getMessage.contains(msg), d.getMessage)
      val target = new SpaceSaving(8)
      target.offer("a")
      val before = target.serialize()
      val w = intercept[SketchMergeException](SpaceSaving.mergeSerializedInto(b, target))
      assert(w.getMessage == d.getMessage)
      assert(target.serialize().sameElements(before))
    }
    // a payload out of byte order (as older versions wrote) still decodes
    val unordered = payload(8, 3L, evicted = false, e.reverse)
    assert(SpaceSaving.deserialize(unordered).serialize().sameElements(good))
    // mixed capacities are NOT an error: they trim to the smaller summary
    val a = new SpaceSaving(8); val b = new SpaceSaving(16)
    a.mergeInPlace(b)
    assert(a.capacity == 8)
  }

  test("approx_top_k via SQL and Column API: exact regime equals GROUP BY") {
    val (items, exact) = stream(6, 20000, 25)
    val df = items.toDF("item")
    df.createOrReplaceTempView("ss_items")
    val viaSql = spark.sql(
      "SELECT explode(approx_top_k(item, 10, 100)) AS e FROM ss_items")
      .select($"e.item", $"e.est").as[(String, Long)].collect().toMap
    val expected = exact.toSeq.sortBy { case (i, c) => (-c, i) }.take(10).toMap
    assert(viaSql == expected)
    // empty group => NULL (matches approx_distinct convention)
    val nullRow = spark.sql(
      "SELECT approx_top_k(item) AS tk FROM ss_items WHERE item = 'nope'").collect()(0)
    assert(nullRow.isNullAt(0))
  }

  test("store-then-merge: topk_sketch_agg + topk_merge_agg equals one-shot") {
    val (items, _) = stream(7, 30000, 20)
    val df = items.zipWithIndex.map { case (it, i) => (i % 13, it) }.toDF("g", "item")
    val oneShot = df.agg(GraftFunctions.approx_top_k($"item", 10, 64).as("tk"))
      .select(explode($"tk").as("e")).select($"e.item", $"e.est")
      .as[(String, Long)].collect().toSeq
    val stored = df.groupBy("g")
      .agg(GraftFunctions.topk_sketch_agg($"item", 64).as("s"))
      .agg(GraftFunctions.topk_merge_agg($"s", 10, 64).as("tk"))
      .select(explode($"tk").as("e")).select($"e.item", $"e.est")
      .as[(String, Long)].collect().toSeq
    assert(stored == oneShot)
  }

  test("weighted top-k: exact regime equals SUM-ranked GROUP BY") {
    val rnd = new scala.util.Random(41)
    val rows = Seq.fill(20000)((s"item${rnd.nextInt(30)}", rnd.nextInt(100).toLong + 1))
    val df = rows.toDF("item", "w")
    df.createOrReplaceTempView("ss_weighted")
    val got = spark.sql(
      "SELECT explode(approx_top_k_weighted(item, w, 5, 100)) AS e FROM ss_weighted")
      .select($"e.item", $"e.est").as[(String, Long)].collect().toSeq
    val expected = rows.groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      .sortBy { case (i, c) => (-c, i) }.take(5)
    assert(got == expected)
    // non-integral weight fails fast
    val e = intercept[Exception](spark.sql(
      "SELECT approx_top_k_weighted(item, 0.5) FROM ss_weighted").collect())
    assert(e.getMessage.contains("integral"))
  }

  test("argument validation fails fast") {
    Seq("item").toDF("item").createOrReplaceTempView("ss_one")
    val e1 = intercept[Exception](
      spark.sql("SELECT approx_top_k(item, 0) FROM ss_one").collect())
    assert(e1.getMessage.contains("k must be"))
    val e2 = intercept[Exception](
      spark.sql("SELECT approx_top_k(item, 10, 5) FROM ss_one").collect())
    assert(e2.getMessage.contains("capacity must be"))
    val e3 = intercept[Exception](
      spark.sql("SELECT approx_top_k(42) FROM ss_one").collect())
    assert(e3.getMessage.toLowerCase.contains("string"))
  }

  test("huge capacities are not presized") {
    for (cap <- Seq(1 << 30, Int.MaxValue)) {
      val ss = new SpaceSaving(cap)
      Seq("a", "b", "a", "c").foreach(ss.offer)
      val back = SpaceSaving.deserialize(ss.serialize())
      assert(back.capacity == cap)
      Seq("d", "a").foreach(back.offer)
      assert(back.topK(2) == Seq(("a", 3L, 0L), ("b", 1L, 0L)))
      assert(back.n == 6L)
      SpaceSaving.mergeSerializedInto(ss.serialize(), back)
      assert(back.topK(1) == Seq(("a", 5L, 0L)))
    }
  }

  test("offer path matches the reference model with its tie rule, byte for byte") {
    for (cap <- Seq(1, 2, 64, 1024); weighted <- Seq(false, true); seed <- 0 until 3) {
      val rnd = new scala.util.Random(cap * 31 + seed * 7 + (if (weighted) 1 else 0))
      val domain = 3 * cap + 5
      val offers = Seq.fill(if (cap == 1024) 20000 else 4000) {
        // half uniform, half skewed: evictions, hits and ties on the minimum
        val i = if (rnd.nextBoolean()) rnd.nextInt(domain)
          else math.min(domain - 1, (1.0 / rnd.nextDouble() - 1.0).toInt)
        (itemName("o", i), if (weighted) 1L + rnd.nextInt(4) else 1L)
      }
      val (first, second) = offers.splitAt(offers.size / 2)
      val ss = new SpaceSaving(cap)
      first.foreach { case (item, w) => ss.offer(UTF8String.fromString(item), w) }
      val ref = refOffers(Ref(cap, 0L, evicted = false, Vector.empty), first)
      val bytes = ss.serialize()
      assert(bytes.sameElements(ref.bytes), s"cap=$cap weighted=$weighted seed=$seed")
      assert(ref.evicted)
      // a decoded summary's slots follow payload order
      val back = SpaceSaving.deserialize(bytes)
      second.foreach { case (item, w) => back.offer(UTF8String.fromString(item), w) }
      val ref2 = refOffers(decode(bytes), second)
      assert(back.serialize().sameElements(ref2.bytes), s"cap=$cap weighted=$weighted seed=$seed")
    }
  }

  test("wire merge == mergeInPlace == the class-doc rule, byte for byte") {
    val caps = Seq(1, 2, 8, 64, 256)
    for (seed <- 0 until 200) {
      val rnd = new scala.util.Random(seed)
      def side(prefix: String): (() => SpaceSaving) = {
        val cap = caps(rnd.nextInt(caps.size))
        // domain below capacity: never evicts; above: evicts
        val domain = if (rnd.nextBoolean()) cap else 4 * cap + 3
        // flat counts leave ties in estimate at the trim cut
        val flat = rnd.nextBoolean()
        val items = Seq.fill(rnd.nextInt(3 * cap + 20)) {
          val i = if (flat) rnd.nextInt(domain)
            else math.min(domain - 1, (1.0 / rnd.nextDouble() - 1.0).toInt)
          itemName(prefix, i)
        }
        () => { val s = new SpaceSaving(cap); items.foreach(s.offer); s }
      }
      val overlap = rnd.nextBoolean()
      val (mkA, mkB) = (side("a"), side(if (overlap) "a" else "b"))
      val (aBytes, bBytes) = (mkA().serialize(), mkB().serialize())
      val want = refMerge(decode(aBytes), decode(bBytes)).bytes
      val viaWire = SpaceSaving.mergeSerializedInto(bBytes, mkA()).serialize()
      val a = mkA()
      a.mergeInPlace(mkB())
      val ctx = s"seed=$seed overlap=$overlap"
      assert(viaWire.sameElements(want), ctx)
      assert(a.serialize().sameElements(want), ctx)
      // merging into an empty summary re-serializes to the input bytes
      val empty = new SpaceSaving(decode(bBytes).cap)
      assert(SpaceSaving.mergeSerializedInto(bBytes, empty).serialize().sameElements(bBytes), ctx)
      val empty2 = new SpaceSaving(decode(bBytes).cap)
      empty2.mergeInPlace(mkB())
      assert(empty2.serialize().sameElements(bBytes), ctx)
    }
  }
}
