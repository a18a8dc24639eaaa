package graft

import graft.sketch.{BloomFilter, CountMin, CountSketch, KllDoubles, SketchMergeException, SpaceSaving}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The contract all eight sketch families keep through the one
  * [[graft.functions.SketchAgg]] node, table-driven over their raw, emit
  * and merge modes: NULL for empty input, partition-invariant stored bytes,
  * store-then-merge equal to one-shot, 0 bytes as the empty sketch, and the
  * merge-mode shape parameters still in force. */
class SketchAggContractSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session

  /** One family's SQL: `raw` and `emit` over the columns of [[data]],
    * `merge` over a BINARY column `s` of stored `emit` sketches. */
  private case class Family(name: String, raw: String, emit: String, merge: String)

  private val families = Seq(
    Family("hll", "approx_distinct(k)", "approx_distinct(k).binary", "sketch_merge_agg(s)"),
    Family("kll", "approx_quantiles(v, array(0.25D, 0.5D))", "kll_sketch_agg(v)",
      "kll_merge_agg(s, array(0.25D, 0.5D))"),
    Family("dd", "dd_quantiles(v, array(0.25D, 0.5D))", "dd_sketch_agg(v)",
      "dd_merge_agg(s, array(0.25D, 0.5D))"),
    Family("topk", "approx_top_k(item, 5)", "topk_sketch_agg(item)", "topk_merge_agg(s, 5)"),
    Family("theta", "theta_sketch_agg(k)", "theta_sketch_agg(k)", "theta_merge_agg(s)"),
    Family("cm", "cm_sketch_agg(k, 256, 4)", "cm_sketch_agg(k, 256, 4)", "cm_merge_agg(s)"),
    Family("agms", "agms_sketch_agg(k, 256, 4)", "agms_sketch_agg(k, 256, 4)",
      "agms_merge_agg(s)"),
    Family("bloom", "bloom_agg(k, 6400, 3)", "bloom_agg(k, 6400, 3)",
      "bloom_merge_agg(s, 6400, 3)"))

  private val emptyBloom = new BloomFilter(6400, 3).serialize()

  /** 200 rows in 4 groups (few enough that KLL never compacts) plus rows
    * whose inputs are all NULL. */
  private lazy val data: DataFrame = {
    val s = spark
    import s.implicits._
    val rows = (0 until 200).map(i =>
      (i % 4, Option(i * 7919L % 150), Option((i % 37) * 1.5 + 1), Option(s"item${i % 23}")))
    val nulls = (0 until 8).map(i => (i % 4, Option.empty[Long], Option.empty[Double],
      Option.empty[String]))
    (rows ++ nulls).toDF("g", "k", "v", "item")
  }

  private def sql(df: DataFrame, select: String): Array[Row] = {
    df.createOrReplaceTempView("contract_in")
    spark.sql(s"SELECT $select FROM contract_in").collect()
  }

  private def stores(f: Family, df: DataFrame = data): DataFrame = {
    df.createOrReplaceTempView("contract_src")
    spark.sql(s"SELECT g, ${f.emit} AS s FROM contract_src GROUP BY g")
  }

  private def failsWithMergeException(run: => Any): Boolean = {
    val e = intercept[Exception](run)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).exists(c =>
      c.isInstanceOf[SketchMergeException] ||
        String.valueOf(c.getMessage).contains("SketchMergeException"))
  }

  test("empty and all-NULL groups give NULL in every mode; bloom gives the empty filter") {
    val s = spark
    import s.implicits._
    val binaries = Seq(Option.empty[Array[Byte]], Some(Array.emptyByteArray)).toDF("s")
    val cases = Seq(
      ("empty input", data.where("false"), (f: Family) => Seq(f.raw, f.emit)),
      ("all-NULL group", data.where("k IS NULL"), (f: Family) => Seq(f.raw, f.emit)),
      ("no stored sketches", binaries.where("false"), (f: Family) => Seq(f.merge)),
      ("NULL and X'' sketches", binaries, (f: Family) => Seq(f.merge)))
    for (f <- families; (label, df, exprs) <- cases; e <- exprs(f)) {
      val out = sql(df, s"$e AS out").head
      if (f.name == "bloom") {
        assert(java.util.Arrays.equals(out.getAs[Array[Byte]](0), emptyBloom), s"$label: $e")
        df.createOrReplaceTempView("contract_probe")
        assert(spark.sql(s"SELECT NOT might_contain(out, 7L) FROM " +
          s"(SELECT $e AS out FROM contract_probe)").head().getBoolean(0), s"$label: $e")
      } else assert(out.isNullAt(0), s"${f.name} $label: $e gave $out")
    }
  }

  test("*_sketch_agg bytes are identical at 1 vs 8 partitions") {
    for (f <- families) {
      def bytesAt(n: Int): Seq[Array[Byte]] =
        stores(f, data.repartition(n)).orderBy("g").collect().map(_.getAs[Array[Byte]](1)).toSeq
      val (one, eight) = (bytesAt(1), bytesAt(8))
      assert(one.length == 4)
      one.zip(eight).foreach { case (a, b) =>
        assert(java.util.Arrays.equals(a, b), s"${f.name}: 1 vs 8 partitions differ")
      }
    }
  }

  /** The bit width and the least counter of a packed CM/AGMS payload. */
  private def counterBits(b: Array[Byte]): Int = b(25) & 0xff
  private def counterMin(b: Array[Byte]): Long = java.nio.ByteBuffer.wrap(b).getLong(17)

  test("compact layouts: bytes are identical at 1 vs 8 partitions on each side of their switches") {
    val s = spark
    import s.implicits._
    // group g: 8·4^g keys, each 1 + g² times — from a sparse bloom and narrow
    // counters to a dense bloom and wider ones
    val keyed = (for (g <- 0 until 4; k <- 0L until (8L << (2 * g)); _ <- 0 to g * g)
      yield (g, k)).toDF("g", "k")
    def same(emit: String, df: DataFrame, groups: Int): Seq[Array[Byte]] = {
      def at(n: Int) = {
        df.repartition(n).createOrReplaceTempView("switch_src")
        spark.sql(s"SELECT g, $emit AS s FROM switch_src GROUP BY g ORDER BY g")
          .collect().map(_.getAs[Array[Byte]](1)).toSeq
      }
      val (one, eight) = (at(1), at(8))
      assert(one.length == groups)
      one.zip(eight).foreach { case (a, b) => assert(a.sameElements(b), s"$emit: 1 vs 8 partitions differ") }
      one
    }
    val blooms = same("bloom_agg(k, 2048, 3)", keyed, 4)
    assert(blooms.map(_(0)).toSet == Set(BloomFilter.SparseTag, BloomFilter.WireTag),
      blooms.map(b => (b(0), b.length)))
    val cms = same("cm_sketch_agg(k, 256, 4)", keyed, 4)
    assert(cms.map(counterBits).distinct.length >= 3, cms.map(counterBits))
    val agms = same("agms_sketch_agg(k, 256, 4)", keyed, 4)
    assert(agms.forall(counterMin(_) < 0), agms.map(counterMin))

    // merge mode, over stored sketches whose counters need up to 64 bits: one
    // AGMS store in group 0 holds ±3·2^61 (one key of weight 3·2^61 whose
    // rows' signs differ: a range of 1.5·2^63), and the stores' weights
    // reach 2^41
    val rnd = new scala.util.Random(17)
    val wide = Iterator.from(1).map { i =>
      val cs = new CountSketch(4, 256)
      cs.offerHash(rnd.nextLong(), 3L << 61)
      cs.serialize()
    }.find(counterBits(_) == 64).get
    def stores[S](mk: => S, offer: (S, Long, Long) => Unit, bytes: S => Array[Byte]) =
      Seq.tabulate(24) { i =>
        val sk = mk
        (0 until 40 * (i + 1)).foreach(_ => offer(sk, rnd.nextLong(), 1L + (rnd.nextLong() >>> (23 + i))))
        (i % 3, bytes(sk))
      }
    val agmsStores = (0, wide) +: stores[CountSketch](new CountSketch(4, 256), _.offerHash(_, _), _.serialize())
    val cmStores = stores[CountMin](new CountMin(4, 256), _.offerHash(_, _), _.serialize())
    val agmsMerged = same("agms_merge_agg(s)", agmsStores.toDF("g", "s"), 3)
    assert(counterBits(agmsMerged(0)) == 64 && agmsMerged.forall(counterMin(_) < 0))
    val cmMerged = same("cm_merge_agg(s)", cmStores.toDF("g", "s"), 3)
    assert(cmMerged.forall(counterBits(_) > 32), cmMerged.map(counterBits))
  }

  test("store-then-merge equals one-shot; X'' and NULL stored values merge as empty") {
    val s = spark
    import s.implicits._
    for (f <- families) {
      val oneShot = sql(data, f.raw).head
      val stored = stores(f).select("s")
        .union(Seq(Option.empty[Array[Byte]], Some(Array.emptyByteArray)).toDF("s"))
      val merged = sql(stored, f.merge).head
      assert(merged == oneShot, s"${f.name}: merged $merged != one-shot $oneShot")
    }
  }

  test("a corrupt non-empty stored sketch still fails with a typed error") {
    val s = spark
    import s.implicits._
    val junk = Seq(Array[Byte](0x7F, 1, 2, 3)).toDF("s")
    for (f <- families)
      assert(failsWithMergeException(sql(junk, f.merge)), f.name)
  }

  test("merge-mode shape parameters govern the result") {
    val s = spark
    import s.implicits._
    // top-k: capacity-1024 stores merged at capacity 256 evict like the kernel
    val items = (0 until 20000).map(i => s"it${(i * 2654435761L % 997) % (1 + i % 600)}")
    val topStores = items.grouped(5000).map { part =>
      val ss = new SpaceSaving(1024); part.foreach(ss.offer); ss.serialize()
    }.toSeq
    val topIn = topStores.toDF("s").coalesce(1)
    def top(select: String) = sql(topIn, s"explode($select) AS e").map(r =>
      (r.getStruct(0).getString(0), r.getStruct(0).getLong(1), r.getStruct(0).getLong(2))).toSeq
    val at256 = top("topk_merge_agg(s, 256, 256)")
    val fold = new SpaceSaving(256)
    topStores.foreach(SpaceSaving.mergeSerializedInto(_, fold))
    assert(at256 == fold.topK(256))
    assert(at256 != top("topk_merge_agg(s, 256, 1024)"), "capacity 256 must evict")

    // KLL: stores of k=64 and k=256, merged at k=16 and k=256
    val rnd = new scala.util.Random(5)
    val kllStores = Seq(64, 256).map { k =>
      val sk = new KllDoubles(k); Seq.fill(5000)(rnd.nextGaussian()).foreach(sk.update)
      sk.serialize()
    }
    val kllIn = kllStores.toDF("s").coalesce(1)
    for (k <- Seq(16, 256)) {
      val got = sql(kllIn, s"kll_merge_agg(s, array(0.1D, 0.5D, 0.9D), $k)").head.getSeq[Double](0)
      val fold = new KllDoubles(k)
      kllStores.foreach(b => fold.mergeInPlace(KllDoubles.deserialize(b)))
      assert(got == Seq(0.1, 0.5, 0.9).map(fold.quantile), s"k=$k")
    }
  }

  test("bloom and count-min stores of another shape fail the merge") {
    val s = spark
    import s.implicits._
    val bloomStore = sql(data, "bloom_agg(k, 6400, 3) AS s").toSeq.map(_.getAs[Array[Byte]](0))
    assert(failsWithMergeException(sql(bloomStore.toDF("s"), "bloom_merge_agg(s)")))
    val cmStore = Seq(256, 512).map(w =>
      sql(data, s"cm_sketch_agg(k, $w, 4)").head.getAs[Array[Byte]](0))
    assert(failsWithMergeException(sql(cmStore.toDF("s"), "cm_merge_agg(s)")))
  }
}
