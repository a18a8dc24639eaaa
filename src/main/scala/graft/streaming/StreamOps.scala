package graft.streaming

import graft.GraftFunctions
import graft.operators.Dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One ranked entry of [[StreamOps.runningTopK]]'s per-key state output
  * (same field names as the `approx_top_k` result struct). */
case class TopKEntry(item: String, est: Long, err: Long)

/** Structured Streaming surface (SURVEY §2b "streaming"): the sketch
  * aggregate is a commutative monoid, so it drops into windowed streaming
  * aggregation unchanged — partial sketches live in the state store and merge
  * as micro-batches arrive. Late data is governed by watermarks; sessions by
  * `session_window`. Every operator here takes a streaming OR batch
  * DataFrame: the plan is identical, which is what makes results testable
  * (batch parity) and the oracle gate applicable to the batch twin.
  */
object StreamOps {

  /** Distinct-value sketch per (time window, key): tumbling when `slide` is
    * None, sliding otherwise. Works in update/complete mode on a stream. */
  def windowedApproxDistinct(events: DataFrame, tsCol: String, keyCol: String,
      valueCol: String, windowDur: String, slide: Option[String] = None,
      watermark: Option[String] = None, algo: String = "hll",
      precision: Int = -1): DataFrame = {
    val withWm = watermark.map(events.withWatermark(tsCol, _)).getOrElse(events)
    val win = slide match {
      case Some(s) => window(col(tsCol), windowDur, s)
      case None => window(col(tsCol), windowDur)
    }
    withWm.groupBy(win.as("w"), col(keyCol))
      .agg(GraftFunctions.approx_distinct(col(valueCol), algo, precision).as("d"))
      .select(col("w.start").as("window_start"), col(keyCol),
        col("d.cardinality").as("n_distinct"))
  }

  /** Relative-error quantiles per (time window, key): the DDSketch
    * aggregate ([[graft.functions.DdQuantiles]]) is a commutative
    * monoid with EXACT merges (bucket-count addition, no compaction
    * RNG), so windowed streaming results are bit-identical to the
    * batch twin over the same rows — not "within the envelope" like
    * the KLL/HLL families, IDENTICAL (asserted in StreamingSpec).
    * Emits one estimate per requested probability; update/complete
    * mode on a stream, same plan on a batch frame. */
  def windowedQuantiles(events: DataFrame, tsCol: String, keyCol: String,
      valueCol: String, windowDur: String, probs: Seq[Double],
      alpha: Double = graft.sketch.DdSketch.DefaultAlpha,
      watermark: Option[String] = None): DataFrame = {
    val withWm = watermark.map(events.withWatermark(tsCol, _)).getOrElse(events)
    withWm.groupBy(window(col(tsCol), windowDur).as("w"), col(keyCol))
      .agg(GraftFunctions.dd_quantiles(col(valueCol), probs, alpha).as("qs"))
      .select(col("w.start").as("window_start"), col(keyCol), col("qs"))
  }

  /** Heavy hitters per time window: the SpaceSaving aggregate
    * ([[graft.functions.ApproxTopK]]) is mergeable, so it drops into
    * windowed streaming aggregation exactly like the distinct sketch — one
    * capacity-bounded summary per window in the state store, merged as
    * micro-batches arrive. Emits the top-k `ARRAY<STRUCT<item, est, err>>`
    * per window; update/complete mode on a stream, identical plan on a
    * batch frame (the oracle-gated twin q67). */
  def windowedTopK(events: DataFrame, tsCol: String, itemCol: String,
      windowDur: String, k: Int, capacity: Int = 1024,
      watermark: Option[String] = None): DataFrame = {
    val withWm = watermark.map(events.withWatermark(tsCol, _)).getOrElse(events)
    withWm.groupBy(window(col(tsCol), windowDur).as("w"))
      .agg(GraftFunctions.approx_top_k(col(itemCol), k, capacity).as("topk"))
      .select(col("w.start").as("window_start"), col("topk"))
  }

  /** Watermarked stream-stream interval join: left rows match right rows
    * with the same key whose timestamp lies in
    * `[leftTs - before, leftTs + after]`. On streams BOTH sides carry
    * watermarks and the time bound is what lets Spark expire join state —
    * without it, stream-stream join state grows forever; with it, each
    * side's buffered rows are dropped once the other side's watermark
    * passes the interval. Identical plan on batch frames (the oracle-gated
    * twin q68). Columns are prefixed `l_` / `r_` to keep the join
    * self-join-safe. */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, before: String, after: String,
      watermark: Option[String] = None): DataFrame = {
    def side(df: DataFrame, p: String) = {
      val renamed = df.columns.foldLeft(df)((d, c) => d.withColumnRenamed(c, s"$p$c"))
      watermark.map(renamed.withWatermark(s"$p$tsCol", _)).getOrElse(renamed)
    }
    val l = side(left, "l_")
    val r = side(right, "r_")
    l.join(r,
      col(s"l_$keyCol") === col(s"r_$keyCol") &&
        col(s"r_$tsCol") >= col(s"l_$tsCol") - expr(s"INTERVAL $before") &&
        col(s"r_$tsCol") <= col(s"l_$tsCol") + expr(s"INTERVAL $after"))
  }

  /** Session windows per key with an inactivity gap. */
  def sessionize(events: DataFrame, tsCol: String, keyCol: String,
      gap: String, watermark: Option[String] = None): DataFrame = {
    val withWm = watermark.map(events.withWatermark(tsCol, _)).getOrElse(events)
    withWm.groupBy(session_window(col(tsCol), gap).as("s"), col(keyCol))
      .agg(count(lit(1)).as("n_events"), sum("value").as("total_value"))
      .select(col("s.start").as("session_start"), col("s.end").as("session_end"),
        col(keyCol), col("n_events"), col("total_value"))
  }

  /** Streaming ordered funnel: the q121 dependent chain as per-user
    * streaming state. State per user is the fixed-size array of step
    * instants (O(steps) longs — bounded however long the stream runs or
    * however hot the user); each micro-batch folds its rows in event-time
    * order into the chain greedily: step i fires at the first
    * `stepTypes(i)` event strictly after step i−1's instant and within
    * `horizonSeconds` of it.
    *
    * Contract (the streaming-vs-batch law StreamingSpec pins): on a
    * stream whose per-user rows arrive in event-time order — any
    * time-partitioned replay of a log — the greedy fold equals the batch
    * [[graft.operators.Behavior.funnelUserSteps]] result exactly, because
    * the first qualifying event in time order IS the minimum. Under
    * cross-batch disorder an earlier-timestamped late event cannot
    * retroactively re-open a chain (that would need unbounded event
    * retention); the greedy result is then the standard
    * arrival-order funnel semantics. Emits `(user, steps_reached)` per
    * update, monotone per user. */
  def streamingFunnel(events: DataFrame, tsCol: String, userCol: String,
      typeCol: String, stepTypes: Seq[String],
      horizonSeconds: Long): DataFrame = {
    require(stepTypes.nonEmpty, "funnel needs at least one step")
    val spark = events.sparkSession
    import spark.implicits._
    val steps = stepTypes.toArray
    val n = steps.length
    val horizonUs = horizonSeconds * 1000000L
    val unset = Long.MinValue
    val out = events
      .select(col(userCol).cast("long").as("u"), col(typeCol).as("et"),
        expr(s"unix_micros($tsCol)").as("us"))
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[Array[Long], (Long, Int)](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (user, rows, state) =>
          val t = if (state.exists) state.get else Array.fill(n)(unset)
          // fold in (event-time, type) order; per-group volume is bounded
          // by the micro-batch, not the stream
          rows.toArray.sortBy(r => (r._3, r._2)).foreach { case (_, et, us) =>
            val i = steps.indices.find(i => steps(i) == et && t(i) == unset &&
              (i == 0 || (t(i - 1) != unset && us > t(i - 1) &&
                us <= t(i - 1) + horizonUs)))
            i.foreach(t(_) = us)
          }
          state.update(t)
          (user, t.indexWhere(_ == unset) match {
            case -1 => n
            case k => k
          })
      }
    out.toDF(userCol, "steps_reached")
  }

  /** Streaming last-touch attribution: the q125 operator as per-user
    * streaming state. State per user is ONE (instant, type) pair — the
    * most recent touch — so state is O(1) per user forever. Each
    * micro-batch folds its rows in (event-time, tiebreak) order: touches
    * update the state, conversions emit immediately with the credit
    * decision (`touch_type` or `"none"` when no touch within
    * `windowSeconds` precedes them).
    *
    * Law (StreamingSpec): on per-user (ts, tie)-ordered arrival the
    * emissions equal the batch
    * [[graft.operators.Behavior.lastTouchAttribution]] rows exactly —
    * the running last-touch IS the window's ignore-nulls last() over the
    * preceding frame. Under disorder, a late touch cannot re-credit an
    * already-emitted conversion (that would be retraction, not
    * streaming append). */
  def streamingLastTouch(events: DataFrame, tsCol: String, userCol: String,
      typeCol: String, touchTypes: Seq[String], convType: String,
      windowSeconds: Long, tieCol: String): DataFrame = {
    require(touchTypes.nonEmpty, "need at least one touch type")
    val spark = events.sparkSession
    import spark.implicits._
    val touches = touchTypes.toSet
    val windowUs = windowSeconds * 1000000L
    val out = events
      .select(col(userCol).cast("long").as("u"), col(typeCol).as("et"),
        expr(s"unix_micros($tsCol)").as("us"), col(tieCol).cast("long").as("tie"))
      .as[(Long, String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, String), (Long, Long, String)](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (user, rows, state) =>
          var (lastUs, lastType) = state.getOption.getOrElse((Long.MinValue, ""))
          val emitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
          rows.toArray.sortBy(r => (r._3, r._4)).foreach { case (_, et, us, _) =>
            if (touches(et)) { lastUs = us; lastType = et }
            else if (et == convType) {
              val credit =
                if (lastUs != Long.MinValue && us - lastUs <= windowUs) lastType
                else "none"
              emitted += ((user, us, credit))
            }
          }
          state.update((lastUs, lastType))
          emitted.iterator
      }
    out.toDF(userCol, "conv_us", "touch_type")
  }

  /** Streaming distribution-drift monitor: every micro-batch's per-key
    * value distribution is bucketed ON THE BASELINE'S FIXED GRID and
    * KS-compared against the frozen baseline counts
    * ([[graft.operators.Audit.ksCompare]]); each batch's
    * `(key, ks_distance, n_left, n_right)` report lands under its own
    * `batch_id` partition (replay overwrites, the store discipline).
    * The baseline is a `(k, b, n)` table built once with
    * [[graft.operators.Audit.bucketCounts]] from a reference corpus —
    * the "training distribution" a 100 TB ingest guards against
    * drifting away from. */
  def streamingDriftMonitor(events: DataFrame, keyCol: String,
      valueCol: String, baseline: DataFrame, lo: Double, hi: Double,
      nBuckets: Int, path: String, checkpoint: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = events.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        val counts = graft.operators.Audit.bucketCounts(batch.toDF(),
          keyCol, valueCol, lo, hi, nBuckets)
        val report = graft.operators.Audit.ksCompare(counts, baseline, nBuckets)
        idempotentBatchWrite(report, path, batchId)
      }
    checkpoint.map(writer.option("checkpointLocation", _)).getOrElse(writer).start()
  }

  /** Streaming dedup: first occurrence wins within the watermark horizon —
    * state is bounded by the watermark, which is what keeps it viable on an
    * unbounded stream. */
  def streamingDedup(events: DataFrame, tsCol: String, watermark: String,
      idCols: Seq[String]): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)

  /** First-seen streaming dedup with PROCESSING-TIME TTL state, via
    * `transformWithState` (the Spark 4 arbitrary-state API): one boolean of
    * state per 128-bit content key, expired by the state store after `ttl` —
    * so state stays bounded with NO event-time watermark required. This is
    * the complement of [[streamingDedup]]: that one is exact within an
    * event-time horizon and needs ordered-ish data; this one dedups by
    * wall-clock recency and tolerates arbitrary lateness. Requires the
    * RocksDB state store provider (`transformWithState`'s backing store):
    * `spark.sql.streaming.stateStore.providerClass =
    * org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`.
    * Emits each key's first-seen row with the original schema. */
  def streamingDedupTtl(events: DataFrame, keyCols: Seq[String],
      ttl: java.time.Duration): DataFrame = {
    import org.apache.spark.sql.{Encoder, Encoders, Row}
    import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor,
      TimeMode, TimerValues, TTLConfig, ValueState}
    val withK = events
      .withColumn("__k1", xxhash64(keyCols.map(col): _*))
      .withColumn("__k2", xxhash64((lit(1) +: keyCols.map(col)): _*))
    implicit val rowEnc: Encoder[Row] = Encoders.row(withK.schema)
    val keyed = withK.as[Row](rowEnc)
      .groupByKey(r => (r.getLong(r.fieldIndex("__k1")), r.getLong(r.fieldIndex("__k2"))))(
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
    val processor = new StatefulProcessor[(Long, Long), Row, Row] {
      @transient private var seen: ValueState[Boolean] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        seen = getHandle.getValueState[Boolean]("seen", Encoders.scalaBoolean,
          TTLConfig(ttl))
      override def handleInputRows(key: (Long, Long), rows: Iterator[Row],
          timerValues: TimerValues): Iterator[Row] =
        if (seen.exists()) Iterator.empty
        else { seen.update(true); rows.take(1) }
    }
    keyed.transformWithState(processor, TimeMode.ProcessingTime(),
        OutputMode.Append(), rowEnc)
      .toDF()
      .drop("__k1", "__k2")
  }

  /** Running (lifetime) per-key distinct count via EXPLICIT state —
    * `KeyValueGroupedDataset.mapGroupsWithState`: one serialized sketch per
    * key lives in the state store; each micro-batch merges its rows into the
    * key's sketch and re-emits `{key, n_distinct}` (update mode). This is
    * the custom-state shape for the aggregation windowed operators can't
    * express: a distinct count over the WHOLE stream history, with state
    * bounded at O(sketch) per key — not O(values seen) — no matter how long
    * the stream runs. State bytes use the engine's tagged wire format
    * ([[graft.sketch.Sketch.serialize]]), so checkpointed state and the E3
    * sketch store are interchangeable: a stored sketch can seed state and
    * vice versa. Runs identically on a batch frame (state starts empty, one
    * group pass), which is what the oracle-gated twin q38 checks.
    *
    * Values are hashed with the engine's string kernel
    * ([[graft.functions.ApproxDistinct.HashSeed]]), so string columns are
    * bit-compatible with `approx_distinct`; other types keep estimator
    * validity (distinctness is preserved by the cast) without bit parity. */
  def runningApproxDistinct(events: DataFrame, keyCol: String, valueCol: String,
      algo: String = "hll", precision: Int = -1): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val algoLc = algo.equalsIgnoreCase("lc")
    val prec = precision
    val out = events
      .select(col(keyCol).cast("string").as("k"), col(valueCol).cast("string").as("v"))
      .as[(String, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[Array[Byte], (String, Long)](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (key, rows, state) =>
          import graft.functions.ApproxDistinct.{HashSeed, HllDefaultB, LcDefaultSize}
          val sk: graft.sketch.Sketch =
            if (state.exists) graft.sketch.Sketch.deserialize(state.get)
            else if (algoLc) new graft.sketch.LinearCounter(if (prec == -1) LcDefaultSize else prec)
            else new graft.sketch.Hll(if (prec == -1) HllDefaultB else prec)
          rows.foreach { case (_, v) =>
            if (v != null) sk.offerHash(
              org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
                org.apache.spark.unsafe.types.UTF8String.fromString(v), HashSeed))
          }
          state.update(sk.serialize())
          (key, sk.estimate)
      }
    out.toDF(keyCol, "n_distinct")
  }

  /** Idempotent per-batch store write: each micro-batch lands in its own
    * `batch_id=<id>` partition via dynamic-partition overwrite, so a batch
    * REPLAYED after a failure (foreachBatch is at-least-once) overwrites
    * its own partition instead of appending duplicates. This is what makes
    * stores of ADDITIVE sketches (SpaceSaving, KLL — whose merges add,
    * unlike HLL/LC's idempotent union) safe to re-aggregate. */
  private[graft] def idempotentBatchWrite(
      batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
      path: String, batchId: Long): Unit =
    batch.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(path)

  private def startStoreSink(agg: DataFrame, mode: String, path: String,
      checkpoint: Option[String]): org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = agg.writeStream.outputMode(mode)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) => idempotentBatchWrite(batch, path, batchId)
      }
    checkpoint.map(writer.option("checkpointLocation", _)).getOrElse(writer).start()
  }

  /** Running (lifetime) per-key heavy hitters via explicit state — the
    * SpaceSaving analogue of [[runningApproxDistinct]]: one serialized
    * capacity-bounded summary per key in the state store, merged with each
    * micro-batch's rows and re-emitted as the current top-k (update mode).
    * State is O(capacity) per key forever, no matter the stream length;
    * state bytes use the engine's wire format, so checkpointed state and
    * the topk store are interchangeable. Identical on a batch frame (state
    * starts empty — one group pass), which keeps it oracle-checkable. */
  def runningTopK(events: DataFrame, keyCol: String, itemCol: String,
      k: Int = 10, capacity: Int = 1024): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val cap = capacity
    val kk = k
    val out = events
      .select(col(keyCol).cast("string").as("key"), col(itemCol).cast("string").as("item"))
      .as[(String, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[Array[Byte], (String, Seq[TopKEntry])](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (key, rows, state) =>
          val ss =
            if (state.exists) graft.sketch.SpaceSaving.deserialize(state.get)
            else new graft.sketch.SpaceSaving(cap)
          rows.foreach { case (_, item) => if (item != null) ss.offer(item) }
          state.update(ss.serialize())
          (key, ss.topK(kk).map { case (item, est, err) => TopKEntry(item, est, err) })
      }
    out.toDF(keyCol, "topk")
  }

  /** Stream → sketch store: write each micro-batch's per-key sketches (the
    * full `{type, cardinality, binary}` struct) to a parquet store,
    * partitioned by `batch_id` with idempotent replay
    * ([[idempotentBatchWrite]]). Batches re-emit a key's CUMULATIVE sketch
    * whenever it changes (update mode); because HLL/LC union is idempotent,
    * readers re-aggregate the whole store with `approx_distinct(sk)` (or
    * `sketch_merge_agg`) and get the same answer as one pass over the raw
    * stream — the reference's store-then-merge contract (E3) running
    * incrementally, with the raw events discardable after ingest. */
  def sketchStoreSink(events: DataFrame, tsCol: String, keyCol: String,
      valueCol: String, windowDur: String, path: String,
      watermark: Option[String] = None,
      checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val withWm = watermark.map(events.withWatermark(tsCol, _)).getOrElse(events)
    val agg = withWm
      .groupBy(window(col(tsCol), windowDur).as("w"), col(keyCol))
      .agg(GraftFunctions.approx_distinct(col(valueCol)).as("sk"))
      .select(col("w.start").as("window_start"), col(keyCol), col("sk"))
    startStoreSink(agg, "update", path, checkpoint)
  }

  /** Stream → heavy-hitter store: one serialized SpaceSaving summary per
    * finalized window. SpaceSaving merge is ADDITIVE (estimates add), so
    * unlike the HLL store this must not see the same window twice: the sink
    * therefore runs in APPEND mode — a window is written exactly once, when
    * the REQUIRED watermark passes its end — and replayed batches overwrite
    * their own `batch_id` partition ([[idempotentBatchWrite]]). Readers
    * re-aggregate the whole store with `topk_merge_agg` / `approx_top_k`
    * over windows and get one-pass answers. */
  def topkStoreSink(events: DataFrame, tsCol: String, itemCol: String,
      windowDur: String, path: String, watermark: String,
      capacity: Int = 1024,
      checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val agg = events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur).as("w"))
      .agg(GraftFunctions.topk_sketch_agg(col(itemCol), capacity).as("sk"))
      .select(col("w.start").as("window_start"), col("sk"))
    startStoreSink(agg, "append", path, checkpoint)
  }

  /** Streaming corpus ingest with near-dup dedup against — and incremental
    * growth of — a persisted minhash index ([[Dedup.writeMinhashIndex]]).
    * Per micro-batch:
    *
    *  1. intra-batch near-dup pairs → connected components → min-id
    *     representative ([[Dedup.dedupByPairs]]);
    *  2. survivors probe the corpus index ([[Dedup.nearDupAgainstIndex]]);
    *     any batch doc near-duplicating the corpus is dropped;
    *  3. the kept docs land in `keptPath` under an idempotent `batch_id`
    *     partition, and their band/shingle rows append to the index tables
    *     (same bucket spec), so the NEXT batch dedups against them too.
    *
    * Only the batch is ever hashed or shuffled — the corpus index is read
    * bucket-aligned and never rescanned. Index appends are at-least-once
    * on replay; `nearDupAgainstIndex` deduplicates candidates and pairs,
    * so duplicated index rows cost work, never correctness, and the kept
    * OUTPUT stays exactly-once via the `batch_id` overwrite. */
  def streamingNearDupIngest(docs: DataFrame, idCol: String, textCol: String,
      tablePrefix: String, indexPath: String, keptPath: String,
      threshold: Double = 0.5, k: Int = 3, numPerms: Int = 64,
      bands: Int = 16, nBuckets: Int = 32,
      checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = docs.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        val spark = batch.sparkSession
        val intraPairs = Dedup.minhashNearDupPairs(batch, idCol, textCol,
          k, numPerms, bands, threshold).select("id_a", "id_b")
        val intra = Dedup.dedupByPairs(batch, idCol, intraPairs)
        val corpusDups = Dedup.nearDupAgainstIndex(spark, intra, idCol, textCol,
            tablePrefix, k, numPerms, bands, threshold)
          .select(col("new_id").as("__dup")).distinct()
        // materialize once: three writes follow, and the chain above holds
        // an iterative-CC lineage
        val kept = intra.join(corpusDups, intra(idCol) === col("__dup"), "left_anti")
          .localCheckpoint(true)
        idempotentBatchWrite(kept, keptPath, batchId)
        kept.select(col(idCol).as("id"),
            posexplode(Dedup.minhashBandsCol(col(textCol), k, numPerms, bands))
              .as(Seq("band", "bhash")))
          .write.option("path", s"$indexPath/${tablePrefix}_bands")
          .bucketBy(nBuckets, "band", "bhash")
          .mode("append").saveAsTable(s"${tablePrefix}_bands")
        kept.select(col(idCol).as("id"),
            Dedup.shingleHashes(col(textCol), k).as("sh"))
          .write.option("path", s"$indexPath/${tablePrefix}_shingles")
          .bucketBy(nBuckets, "id")
          .mode("append").saveAsTable(s"${tablePrefix}_shingles")
      }
    checkpoint.map(writer.option("checkpointLocation", _)).getOrElse(writer).start()
  }

  /** Streaming DECONTAMINATION gate: every micro-batch of incoming
    * training docs is probed against a persisted eval-window index
    * ([[graft.operators.Dedup.writeEvalWindowIndex]]); contaminated docs
    * (sharing ≥ `minShared` verbatim windows with any eval doc) land in a
    * quarantine store with their evidence, clean docs in the kept store —
    * both replay-idempotent via the `batch_id` overwrite. The eval index
    * is read bucket-aligned and never rescanned: per-batch cost is
    * O(batch), the shape every ingest-side operator here shares. */
  def streamingDecontaminate(docs: DataFrame, idCol: String, textCol: String,
      tablePrefix: String, keptPath: String, quarantinePath: String,
      windowLen: Int = 8, minShared: Int = 1,
      checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = docs.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        val spark = batch.sparkSession
        val hits = Dedup.contaminationAgainstIndex(spark, batch, idCol, textCol,
            tablePrefix, windowLen, minShared)
          .groupBy("doc_id").agg(
            count(lit(1)).as("n_eval_docs"),
            max("n_shared").as("max_shared"))
          .localCheckpoint(true)
        val contaminated = batch.join(hits,
          batch(idCol) === hits("doc_id")).drop(hits("doc_id"))
        val kept = batch.join(hits.select(col("doc_id").as("__hit")),
          batch(idCol) === col("__hit"), "left_anti")
        idempotentBatchWrite(contaminated, quarantinePath, batchId)
        idempotentBatchWrite(kept, keptPath, batchId)
      }
    checkpoint.map(writer.option("checkpointLocation", _)).getOrElse(writer).start()
  }

  /** Streaming QUOTA ingest — [[graft.operators.Sampling.quotaSample]]'s
    * training-mix rebalancing running in an ingest loop: each micro-batch
    * is down-sampled so the CUMULATIVE per-stratum admit count approaches
    * the caller's budget ("cap web crawl at N docs total, keep all of
    * wikipedia"), re-rating the admit rate per batch from what earlier
    * batches already admitted.
    *
    * Per batch: remaining_s = max(0, quota_s − admitted_s) where
    * admitted_s comes from a TINY per-batch stratum-count stats table
    * (`path/stats`, #strata rows per batch — never a rescan of the kept
    * data); rate_s = min(1, remaining_s / n_s) against the batch's own
    * stratum counts; membership is the engine's deterministic key-hash
    * draw ([[graft.operators.Sampling.uniformFromKey]]). Kept rows and the
    * batch's admit counts land under `batch_id=` partitions with
    * dynamic-partition overwrite, and a replayed batch reads only STRICTLY
    * EARLIER batches' stats — so replay recomputes the same rates, the
    * same deterministic member set, and overwrites itself: exactly-once
    * output from an at-least-once `foreachBatch`, the engine's standard
    * store discipline. Strata absent from `quotas` keep nothing.
    *
    * The asymptotic admit count per stratum overshoots the budget by at
    * most one batch's Bernoulli draw (each batch rates against counts
    * frozen BEFORE it) — the same cumulative-targeting contract a
    * distributed quota ingest can actually honor without a serial
    * admission log. */
  def streamingQuotaIngest(docs: DataFrame, strataCol: String, keyCol: String,
      quotas: Map[String, Long], path: String, seed: Long = 42L,
      checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    require(quotas.nonEmpty, "at least one stratum quota required")
    require(quotas.values.forall(_ >= 0), "quotas must be >= 0")
    val writer = docs.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        quotaIngestBatch(batch.toDF(), strataCol, keyCol, quotas, path,
          seed, batchId)
      }
    checkpoint.map(writer.option("checkpointLocation", _)).getOrElse(writer).start()
  }

  /** One [[streamingQuotaIngest]] micro-batch — exposed so the replay
    * contract (same batchId → same rates → same member set → overwrite,
    * not append) is directly testable. Deterministic in (batch contents,
    * strictly-earlier stats), never in its own prior partial write. */
  private[graft] def quotaIngestBatch(batch: DataFrame, strataCol: String,
      keyCol: String, quotas: Map[String, Long], path: String, seed: Long,
      batchId: Long): Unit = {
    val spark = batch.sparkSession
    val admitted: Map[String, Long] =
      try spark.read.parquet(s"$path/stats")
        .filter(col("batch_id") < batchId)
        .groupBy(strataCol).agg(sum("n_admitted").as("n"))
        .collect().map(r => String.valueOf(r.get(0)) -> r.getLong(1)).toMap
      catch { case e: org.apache.spark.sql.AnalysisException
          if e.getMessage.contains("PATH_NOT_FOUND") => Map.empty }
    val remaining = quotas.map { case (s, q) =>
      s -> math.max(0L, q - admitted.getOrElse(s, 0L)) }
    val kept = graft.operators.Sampling.quotaSample(batch, strataCol, keyCol,
      remaining, seed)
    idempotentBatchWrite(kept, s"$path/kept", batchId)
    idempotentBatchWrite(
      kept.groupBy(strataCol).agg(count(lit(1)).as("n_admitted")),
      s"$path/stats", batchId)
  }

  /** Streaming SEQUENCE-PACKING ingest —
    * [[graft.operators.TextAnalysis.packSequences]]'s concat-and-chunk
    * running in an ingest loop: each micro-batch's documents extend the
    * per-(stream, shard) token streams exactly where the previous batches
    * left off, so the packed assignment over the whole ingest history is
    * IDENTICAL to one batch pass over the concatenated corpus (same
    * tok_start, same sequence ids — asserted by the spec).
    *
    * The only cross-batch state is one running token total per
    * (stream, shard) — a TINY stats table (`path/offsets`, #shards rows
    * per batch), the same shape as [[streamingQuotaIngest]]'s admit
    * counts: per-batch cost is O(batch) plus a broadcast of the offsets,
    * never a rescan of packed history. Replay reads strictly-earlier
    * offsets only, so a replayed batch recomputes the same spans and
    * overwrites its own `batch_id=` partitions. */
  def streamingPackIngest(docs: DataFrame, idCol: String, textCol: String,
      streamCol: String, budget: Long, nShards: Int, path: String,
      seed: Long = 42L,
      checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    require(budget > 0 && nShards > 0, s"need budget>0, nShards>0; got $budget, $nShards")
    val writer = docs.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        packIngestBatch(batch.toDF(), idCol, textCol, streamCol, budget,
          nShards, path, seed, batchId)
      }
    checkpoint.map(writer.option("checkpointLocation", _)).getOrElse(writer).start()
  }

  /** One [[streamingPackIngest]] micro-batch (exposed for the replay
    * test): pack the batch alone, shift every tok_start by the
    * (stream, shard)'s cumulative token total from strictly-earlier
    * batches, recompute the sequence ids, land packed rows and this
    * batch's per-shard token sums under idempotent `batch_id=`
    * partitions. */
  private[graft] def packIngestBatch(batch: DataFrame, idCol: String,
      textCol: String, streamCol: String, budget: Long, nShards: Int,
      path: String, seed: Long, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val prior =
      try spark.read.parquet(s"$path/offsets")
        .filter(col("batch_id") < batchId)
        .groupBy("stream", "shard")
        .agg(sum("n_tokens_batch").as("__prior"))
      catch { case e: org.apache.spark.sql.AnalysisException
          if e.getMessage.contains("PATH_NOT_FOUND") =>
        spark.emptyDataFrame.select(lit("").as("stream"),
          lit(0).as("shard"), lit(0L).as("__prior")).limit(0) }
    val packed = graft.operators.TextAnalysis.packSequences(batch, idCol,
        textCol, streamCol, budget, nShards, seed)
      .join(broadcast(prior), Seq("stream", "shard"), "left")
      .withColumn("tok_start", col("tok_start") + coalesce(col("__prior"), lit(0L)))
      .withColumn("seq_first", expr(s"tok_start div $budget"))
      .withColumn("seq_last", expr(s"(tok_start + n_tokens - 1) div $budget"))
      .drop("__prior")
    idempotentBatchWrite(packed, s"$path/packed", batchId)
    idempotentBatchWrite(
      packed.groupBy("stream", "shard")
        .agg(sum("n_tokens").as("n_tokens_batch")),
      s"$path/offsets", batchId)
  }

  /** Streaming LM-MODEL ingest — keeps the
    * [[graft.operators.TextAnalysis.lmWriteModel]] count tables growing as
    * a corpus streams in, making the LM a MAINTAINED index like the
    * minhash/IVF/eval-window stores: each micro-batch's bigram counts
    * land under their own `batch_id=` partition (idempotent replay
    * overwrite), and readers re-aggregate the additive counts at load
    * time ([[readLmModelStore]]) — marginals and vocabulary derive from
    * the summed table, so they are always consistent with it. Per-batch
    * cost is O(batch); the stored model is never rewritten, only
    * appended. */
  def streamingLmIngest(docs: DataFrame, idCol: String, textCol: String,
      path: String,
      checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = docs.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        val (bigrams, _, _) = graft.operators.TextAnalysis.lmFitModel(
          batch.toDF(), idCol, textCol)
        idempotentBatchWrite(bigrams, s"$path/bigrams", batchId)
      }
    checkpoint.map(writer.option("checkpointLocation", _)).getOrElse(writer).start()
  }

  /** Load a streamed LM model store: per-batch bigram counts summed into
    * one counts table (addition is the bigram monoid — replayed batches
    * were overwritten, so the sum is exact), with marginals and vocab
    * derived from it exactly as the one-shot fit does. The result plugs
    * straight into [[graft.operators.TextAnalysis.lmScoreWithModel]]. */
  def readLmModelStore(spark: org.apache.spark.sql.SparkSession,
      path: String): (DataFrame, DataFrame, DataFrame) = {
    val bigrams = spark.read.parquet(s"$path/bigrams")
      .groupBy("g").agg(sum("c").as("c"))
    val marginals = bigrams
      .groupBy(split(col("g"), " ").getItem(0).as("w1"))
      .agg(sum("c").as("c1"))
    val vocab = bigrams.select(explode(split(col("g"), " ")).as("u"))
      .agg(count_distinct(col("u")).as("v"))
    (bigrams, marginals, vocab)
  }

  /** Streaming EWMA monitor — the [[graft.operators.Ml.ewmaHourly]]
    * batch operator as a MAINTAINED index: each micro-batch reduces to
    * per-(key, hour) moment cells (count + exact micro-unit sum — the
    * mergeable sufficient statistics) under its own idempotent
    * `batch_id=` partition. Readers ([[readHourlyEwma]]) sum cells
    * across batches — addition is the moment monoid, replay overwrites
    * its partition — and run the SAME exact decimal EWMA finish, so the
    * streamed smoother reproduces the one-shot q228 result bit-for-bit
    * no matter how ingest was batched. Per-batch cost is O(batch); the
    * store grows by cells touched, never rewritten. */
  def streamingEwmaIngest(events: DataFrame, tsCol: String, keyCol: String,
      valCol: String, path: String,
      checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = events.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        idempotentBatchWrite(graft.operators.Ml.hourlyCells(
          batch.toDF(), tsCol, keyCol, valCol), path, batchId)
      }
    checkpoint.map(writer.option("checkpointLocation", _)).getOrElse(writer).start()
  }

  /** Load a streamed hourly-stats store and produce the exact EWMA
    * series over the merged cells (see [[streamingEwmaIngest]]). */
  def readHourlyEwma(spark: org.apache.spark.sql.SparkSession,
      path: String, keyCol: String): DataFrame = {
    val cells = spark.read.parquet(path)
      .groupBy("k", "b")
      .agg(sum("c").as("c"), sum("s").cast("decimal(38,0)").as("s"))
    graft.operators.Ml.ewmaFromHourlyCells(cells, keyCol)
  }

  /** Streaming OHLC store — [[graft.operators.Stats.ohlcBars]] as a
    * MAINTAINED candlestick index: each micro-batch reduces to
    * per-(key, day) OHLC cells (min/max (us, tie, value) structs for
    * open/close — an idempotent semilattice — plus additive count and
    * exact centi sum) under its own idempotent `batch_id=` partition.
    * [[readOhlcBars]] merges cells across batches with the same
    * semilattice/sum laws and runs the shared finish, so the streamed
    * candles equal the one-shot frame bit-for-bit no matter how ingest
    * was batched. Per-batch cost is O(batch); a day's bar converges as
    * its late events arrive. */
  def streamingOhlcIngest(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valCol: String, path: String,
      checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = events.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        idempotentBatchWrite(graft.operators.Stats.ohlcCells(
          batch.toDF(), keyCol, tsCol, tieCol, valCol), path, batchId)
      }
    checkpoint.map(writer.option("checkpointLocation", _)).getOrElse(writer).start()
  }

  /** Merge a streamed OHLC cell store into the candlestick frame (see
    * [[streamingOhlcIngest]]). */
  def readOhlcBars(spark: org.apache.spark.sql.SparkSession, path: String,
      keyCol: String): DataFrame =
    graft.operators.Stats.ohlcFromCells(
      spark.read.parquet(path).drop("batch_id"), keyCol)

  /** Streaming bivariate-moments store — the generic maintained index
    * for the moment-algebra statistics family (per-group OLS, Pearson,
    * CUPED θ, variance): each micro-batch reduces to per-group
    * (n, Σx, Σy, Σxy, Σx², Σy²) cells ([[graft.operators.Ml
    * .momentCells]]) under an idempotent `batch_id=` partition. Moments
    * add componentwise, replay overwrites, so [[readMomentsOls]]'s refit
    * reproduces the one-shot [[graft.operators.Stats.groupOls]]
    * bit-for-bit regardless of batching — ONE store, many finishes. */
  def streamingMomentsIngest(events: DataFrame, groupCol: String,
      xCol: String, yCol: String, path: String,
      checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = events.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        idempotentBatchWrite(graft.operators.Ml.momentCells(
          batch.toDF(), groupCol, xCol, yCol), path, batchId)
      }
    checkpoint.map(writer.option("checkpointLocation", _)).getOrElse(writer).start()
  }

  /** Merge a streamed moments store and run the exact OLS finish. */
  def readMomentsOls(spark: org.apache.spark.sql.SparkSession,
      path: String, groupCol: String): DataFrame = {
    val cells = spark.read.parquet(path)
      .groupBy("g")
      .agg(sum("n").as("n"),
        sum("sx").cast("decimal(38,0)").as("sx"),
        sum("sy").cast("decimal(38,0)").as("sy"),
        sum("sxy").cast("decimal(38,0)").as("sxy"),
        sum("sxx").cast("decimal(38,0)").as("sxx"),
        sum("syy").cast("decimal(38,0)").as("syy"))
    graft.operators.Ml.olsFromMomentCells(cells, groupCol)
  }

  /** Stream → theta store: per-(window, key) serialized theta sketches.
    * The canonical-KMV merge is a join-semilattice — IDEMPOTENT like
    * HLL/LC union, unlike additive SpaceSaving/KLL — so this runs in
    * update mode with cumulative snapshots, exactly like
    * [[sketchStoreSink]], and readers re-aggregate the whole store with
    * `theta_merge_agg` (then estimate or do set algebra across stores). */
  def thetaStoreSink(events: DataFrame, tsCol: String, keyCol: String,
      valueCol: String, windowDur: String, path: String,
      k: Int = graft.sketch.ThetaSketch.DefaultK,
      watermark: Option[String] = None,
      checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val withWm = watermark.map(events.withWatermark(tsCol, _)).getOrElse(events)
    val agg = withWm
      .groupBy(window(col(tsCol), windowDur).as("w"), col(keyCol))
      .agg(GraftFunctions.theta_sketch_agg(col(valueCol), k).as("sk"))
      .select(col("w.start").as("window_start"), col(keyCol), col("sk"))
    startStoreSink(agg, "update", path, checkpoint)
  }

  /** Stream → frequency store: one serialized Count-Min sketch per
    * finalized window. Counter addition is ADDITIVE, so the same
    * append-once discipline as [[topkStoreSink]]/[[kllStoreSink]] applies
    * (append mode + required watermark + idempotent `batch_id`
    * partitions); readers re-aggregate with `cm_merge_agg` and probe with
    * `cm_estimate`. */
  def cmStoreSink(events: DataFrame, tsCol: String, keyCol: String,
      windowDur: String, path: String, watermark: String,
      width: Int = graft.sketch.CountMin.DefaultWidth,
      depth: Int = graft.sketch.CountMin.DefaultDepth,
      checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val agg = events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur).as("w"))
      .agg(GraftFunctions.cm_sketch_agg(col(keyCol), width, depth).as("sk"))
      .select(col("w.start").as("window_start"), col("sk"))
    startStoreSink(agg, "append", path, checkpoint)
  }

  /** Streaming CDC ingest — [[graft.operators.Cdc.mergeSnapshot]] running
    * as copy-on-write snapshot maintenance: each micro-batch of I/U/D
    * change rows merges into the latest maintained snapshot and writes the
    * NEW snapshot version under `path/snap/batch_id=<id>` (readers always
    * see a complete consistent version; time travel is free).
    *
    * Replay discipline (the engine's standard store contract): a batch
    * reads only the latest STRICTLY EARLIER snapshot version — never its
    * own partial output — so a replayed at-least-once batch recomputes the
    * identical merge and overwrites its own partition via
    * [[idempotentBatchWrite]]. Exactly-once snapshots without a
    * transaction log.
    *
    * Scale posture: full-snapshot COW per batch is the DIMENSION-table
    * contract (the snapshot is rewritten, the changeset is latest-per-key
    * reduced first — [[graft.operators.Cdc.mergeSnapshot]] shuffles the
    * base at most once on the key). At fact scale the same batch body
    * composes with partitioned storage: join-prune the snapshot read to
    * partitions containing changed keys and rewrite only those
    * partitions — the merge semantics and replay contract are unchanged. */
  def streamingMergeIngest(changes: DataFrame, initial: DataFrame,
      key: Seq[String], path: String, opCol: String = "op",
      seqCol: String = "seq", checkpoint: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = changes.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        mergeIngestBatch(batch.toDF(), initial, key, path, opCol, seqCol, batchId)
      }
    checkpoint.map(writer.option("checkpointLocation", _)).getOrElse(writer).start()
  }

  /** One [[streamingMergeIngest]] micro-batch — exposed so the replay
    * contract (same batchId + same prior snapshot → same new snapshot,
    * overwrite not append) is directly testable. The previous version is
    * found by FILESYSTEM listing of `snap/batch_id=` partitions (driver
    * metadata, zero jobs), not a data scan. */
  private[graft] def mergeIngestBatch(batch: DataFrame, initial: DataFrame,
      key: Seq[String], path: String, opCol: String, seqCol: String,
      batchId: Long): Unit = {
    val spark = batch.sparkSession
    val snapPath = s"$path/snap"
    val prev = latestVersionBefore(spark, snapPath, batchId) match {
      case Some(v) =>
        spark.read.parquet(snapPath)
          .filter(col("batch_id") === v)
          .select(initial.columns.map(col): _*)
      case None => initial
    }
    val merged = graft.operators.Cdc.mergeSnapshot(prev, batch, key, opCol, seqCol)
    idempotentBatchWrite(merged, snapPath, batchId)
  }

  /** The full maintenance loop in ONE streaming query — what a lakehouse
    * table's nightly OPTIMIZE pipeline looks like as a single
    * `foreachBatch`: each micro-batch of I/U/D change rows
    *
    *  1. MERGES into the latest maintained snapshot
    *     ([[graft.operators.Cdc.mergeSnapshot]] — base shuffled once on the
    *     key, changeset latest-per-key reduced first),
    *  2. sizes the rewrite like [[graft.operators.Layout.compact]] (file
    *     count from plan-statistics bytes / `targetBytes` — no count()
    *     pass), and
    *  3. writes the new snapshot version Z-ORDERED on `zCols`
    *     ([[graft.operators.Layout.zValue]] + range partition + local
    *     sort), so every snapshot version is born with multi-dimensional
    *     row-group skipping instead of needing a separate OPTIMIZE pass.
    *
    * Replay discipline, same as [[streamingMergeIngest]]: a batch reads
    * only the latest STRICTLY EARLIER `snap/batch_id=` version and
    * overwrites its own version directory (plain directory overwrite — the
    * writer must not `partitionBy`, whose required ordering would let the
    * file writer re-sort and silently undo the z-clustering), so an
    * at-least-once replay recomputes the identical snapshot bit-for-bit.
    * Exactly-once versioned snapshots, compacted and clustered, without a
    * transaction log. */
  def streamingMaintenance(changes: DataFrame, initial: DataFrame,
      key: Seq[String], zCols: Seq[String], zBits: Int, path: String,
      targetBytes: Long = 128L << 20, opCol: String = "op",
      seqCol: String = "seq", checkpoint: Option[String] = None,
      zmapCol: Option[String] = None,
      bloomSpec: Option[(String, Int, Int)] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = changes.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        maintenanceBatch(batch.toDF(), initial, key, zCols, zBits, path,
          targetBytes, opCol, seqCol, batchId, zmapCol, bloomSpec)
      }
    checkpoint.map(writer.option("checkpointLocation", _)).getOrElse(writer).start()
  }

  /** One [[streamingMaintenance]] micro-batch — exposed so the replay
    * contract and the written layout (file count, disjoint per-file
    * z-ranges) are directly testable, and so a batch driver can run the
    * identical body without a stream. */
  private[graft] def maintenanceBatch(batch: DataFrame, initial: DataFrame,
      key: Seq[String], zCols: Seq[String], zBits: Int, path: String,
      targetBytes: Long, opCol: String, seqCol: String, batchId: Long,
      zmapCol: Option[String] = None,
      bloomSpec: Option[(String, Int, Int)] = None): Unit = {
    val spark = batch.sparkSession
    val snapPath = s"$path/snap"
    val prev = latestVersionBefore(spark, snapPath, batchId) match {
      case Some(v) =>
        spark.read.parquet(snapPath)
          .filter(col("batch_id") === v)
          .select(initial.columns.map(col): _*)
      case None => initial
    }
    val merged = graft.operators.Cdc.mergeSnapshot(prev, batch, key, opCol, seqCol)
    val bytes = merged.queryExecution.optimizedPlan.stats.sizeInBytes
    val n = ((bytes + targetBytes - 1) / targetBytes).max(1).min(1 << 20).toInt
    graft.operators.Layout.zorderWrite(merged,
      graft.operators.Layout.zValue(zCols.map(col), zBits),
      s"$snapPath/batch_id=$batchId", n)
    // the zone-map manifest maintained INCREMENTALLY: one column-pruned
    // pass over just the files this batch wrote, landed under the same
    // batch_id so a replayed batch overwrites its own manifest version
    zmapCol.foreach { c =>
      graft.operators.Layout.zoneMap(spark, s"$snapPath/batch_id=$batchId", c)
        .write.mode("overwrite").parquet(s"$path/zonemap/batch_id=$batchId")
    }
    // the bloom index maintained the same way: per-file filters for THIS
    // batch's files only, landed under the batch_id (replay-idempotent)
    bloomSpec.foreach { case (c, bits, hashes) =>
      graft.operators.Layout.bloomManifest(spark,
          s"$snapPath/batch_id=$batchId", c, bits, hashes)
        .write.mode("overwrite").parquet(s"$path/bloomidx/batch_id=$batchId")
    }
  }

  /** Range scan of a maintained snapshot version answered through its
    * MAINTAINED zone map ([[maintenanceBatch]] with `zmapCol`): only the
    * files whose zone intersects `[lo, hi)` are opened. The collect is
    * the selected file list — O(files of one version), the
    * [[graft.operators.Layout.zoneMapPrunedScan]] boundedness argument. */
  def zoneMapPrunedSnapshot(spark: org.apache.spark.sql.SparkSession,
      path: String, batchId: Long, zcol: String,
      lo: Column, hi: Column): DataFrame = {
    val files = spark.read.parquet(s"$path/zonemap")
      .filter(col("batch_id") === batchId)
      .filter(col("zmax") >= lo && col("zmin") < hi)
      .select("file").collect().map(_.getString(0))
    val base =
      if (files.isEmpty)
        spark.read.parquet(s"$path/snap").filter(lit(false)).drop("batch_id")
      else spark.read.parquet(files: _*)
    base.filter(col(zcol) >= lo && col(zcol) < hi)
  }

  /** Point lookup on a maintained snapshot version answered through its
    * MAINTAINED bloom index ([[maintenanceBatch]] with `bloomSpec`): only
    * the version's files whose bloom might contain a probe key are opened,
    * with the exact IN-list re-applied (no false negatives — the
    * [[graft.operators.Layout.bloomPrunedScan]] contract). */
  def bloomPrunedSnapshot(spark: org.apache.spark.sql.SparkSession,
      path: String, batchId: Long, keyCol: String,
      keys: Seq[Long]): DataFrame = {
    require(keys.nonEmpty, "at least one probe key")
    val probe = keys.map(k =>
      graft.GraftFunctions.might_contain(col("bloom"), lit(k)))
      .reduce(_ || _)
    val files = spark.read.parquet(s"$path/bloomidx")
      .filter(col("batch_id") === batchId)
      .filter(probe)
      .select("file").collect().map(_.getString(0))
    val base =
      if (files.isEmpty)
        spark.read.parquet(s"$path/snap").filter(lit(false)).drop("batch_id")
      else spark.read.parquet(files.toIndexedSeq: _*)
    base.filter(col(keyCol).isin(keys: _*))
  }

  /** Read the newest complete snapshot version of a maintained store
    * ([[streamingMergeIngest]] / [[streamingMaintenance]]): partition-prunes
    * to the max `batch_id=` directory (found by driver listing, no job) —
    * what every consumer of the maintained table should call. Pass
    * `asOf = Some(v)` for time travel to version ≤ v. Throws if the store
    * has no versions yet. */
  def readLatestSnapshot(spark: org.apache.spark.sql.SparkSession,
      path: String, asOf: Option[Long] = None): DataFrame = {
    val snapPath = s"$path/snap"
    val v = latestVersionBefore(spark, snapPath,
        asOf.map(_ + 1L).getOrElse(Long.MaxValue))
      .getOrElse(throw new IllegalStateException(
        s"no snapshot versions under $snapPath" +
          asOf.map(v => s" at or below batch_id=$v").getOrElse("")))
    spark.read.parquet(snapPath).filter(col("batch_id") === v).drop("batch_id")
  }

  /** Largest `batch_id=` partition strictly below `batchId`, from a driver
    * directory listing (no Spark job). None when no earlier version. */
  private[graft] def latestVersionBefore(spark: org.apache.spark.sql.SparkSession,
      snapPath: String, batchId: Long): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(snapPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val ids = fs.listStatus(p).map(_.getPath.getName)
        .filter(_.startsWith("batch_id="))
        .map(_.stripPrefix("batch_id=").toLong)
        .filter(_ < batchId)
      if (ids.isEmpty) None else Some(ids.max)
    }
  }

  /** Streaming one-sided CUSUM monitor per key against a FROZEN baseline
    * mean (exact integer micro-units — the
    * [[graft.operators.Stats.cusum]] grid): per-key state is four longs
    * (S⁺, alarm count, first-alarm instant, peak), so state is O(1) per
    * key forever. Each micro-batch folds its rows in (event-time, tie)
    * order through `S⁺ = max(0, S⁺ + (v − μ − slack))` and re-emits the
    * key's updated report.
    *
    * Law (StreamingSpec): on per-key time-ordered arrival the final
    * emission per key equals the batch [[graft.operators.Stats.cusum]]
    * closed form computed with the same baseline means — the fold IS the
    * recursion the closed form solves. The baseline map is
    * key-cardinality-sized (the frozen-training-distribution discipline
    * of [[streamingDriftMonitor]]); at 100 TB it is a broadcast of a few
    * hundred monitored keys, never data-sized. */
  def streamingCusum(events: DataFrame, tsCol: String, keyCol: String,
      valCol: String, tieCol: String, baselineMuU: Map[String, Long],
      slackU: Long, thresholdU: Long): DataFrame = {
    require(thresholdU > 0, s"threshold must be positive: $thresholdU")
    val spark = events.sparkSession
    import spark.implicits._
    val unset = Long.MinValue
    val out = events
      .select(col(keyCol).cast("string").as("k"),
        col(valCol).cast("double").as("v"),
        expr(s"unix_micros($tsCol)").as("us"),
        col(tieCol).cast("long").as("tie"))
      .as[(String, Double, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[Array[Long], (String, Long, Double, Long)](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (key, rows, state) =>
          val st = if (state.exists) state.get
            else Array(0L, 0L, unset, 0L) // s, alarms, firstUs, peak
          val mu = baselineMuU.getOrElse(key, 0L)
          rows.toArray.sortBy(r => (r._3, r._4)).foreach { case (_, v, us, _) =>
            st(0) = math.max(0L, st(0) + (microUnits(v) - mu - slackU))
            if (st(0) > thresholdU) {
              st(1) += 1
              if (st(2) == unset) st(2) = us
            }
            if (st(0) > st(3)) st(3) = st(0)
          }
          state.update(st)
          (key, st(1), st(3).toDouble / 1e6, st(2))
      }
    out.toDF(keyCol, "n_alarms", "peak_cusum", "first_alarm_us")
      .withColumn("first_alarm_us",
        when(col("first_alarm_us") === unset, lit(null).cast("long"))
          .otherwise(col("first_alarm_us")))
  }

  /** Exactly Spark's `CAST(v AS DECIMAL(18,6)) * 10⁶ → long` snap onto
    * the micro-unit grid (HALF_UP on the double's shortest decimal form,
    * the JVM cast semantics) — shared by the streaming fold so it cannot
    * drift from the batch operator's quantization. */
  private[graft] def microUnits(v: Double): Long =
    java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP)
      .movePointRight(6).longValueExact

  /** VACUUM a maintained store ([[maintenanceBatch]] layout): keep the
    * newest `keepVersions` snapshot versions, delete every older
    * `batch_id=` partition across the snapshot AND its maintained
    * indexes (zonemap / bloomidx). Driver-side listing + recursive
    * delete — O(versions) metadata ops, no Spark job, the lakehouse
    * VACUUM shape. Returns the deleted version ids (ascending). Time
    * travel ([[readLatestSnapshot]] `asOf`) older than the horizon is
    * gone after this — that is the operation's contract. */
  def vacuumVersions(spark: org.apache.spark.sql.SparkSession,
      path: String, keepVersions: Int): Seq[Long] = {
    require(keepVersions >= 1, s"must keep at least 1 version: $keepVersions")
    val snap = new org.apache.hadoop.fs.Path(s"$path/snap")
    val fs = snap.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(snap)) return Nil
    val ids = fs.listStatus(snap).map(_.getPath.getName)
      .filter(_.startsWith("batch_id="))
      .map(_.stripPrefix("batch_id=").toLong).sorted
    val drop = ids.dropRight(keepVersions)
    for (root <- Seq("snap", "zonemap", "bloomidx"); v <- drop) {
      val p = new org.apache.hadoop.fs.Path(s"$path/$root/batch_id=$v")
      if (fs.exists(p)) fs.delete(p, true)
    }
    drop.toIndexedSeq
  }

  /** Stream → quantile store: one serialized KLL sketch per finalized
    * window. Same additive-merge discipline as [[topkStoreSink]]: append
    * mode + required watermark (exactly one write per window) + idempotent
    * `batch_id` partitions. Readers re-aggregate with `kll_merge_agg`. */
  def kllStoreSink(events: DataFrame, tsCol: String, valueCol: String,
      windowDur: String, path: String, watermark: String,
      k: Int = graft.sketch.KllDoubles.DefaultK,
      checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val agg = events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur).as("w"))
      .agg(GraftFunctions.kll_sketch_agg(col(valueCol), k).as("sk"))
      .select(col("w.start").as("window_start"), col("sk"))
    startStoreSink(agg, "append", path, checkpoint)
  }
}
