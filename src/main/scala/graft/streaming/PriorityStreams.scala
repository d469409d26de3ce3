package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.core.{BucketLayout, BucketPriorityConfig}
import graft.sql.BucketRouting

/** §2.3 Structured Streaming surface.
  *
  * The reference's runtime is the Kafka client loop; ours is micro-batch
  * Structured Streaming. Mapping (SURVEY §2.1 `assign` row, §2.3):
  *   - produce-path routing → [[routeStream]] applied per micro-batch before
  *     the sink (the sink honors an explicit `partition` column);
  *   - consumer-group priority → NOT emulated as group coordination; instead
  *     one streaming query per bucket over that bucket's partitions with a
  *     weighted FAIR pool ([[PriorityPools]]) — more scheduler share for
  *     bigger buckets is Spark's native expression of "more consumers for
  *     higher-priority buckets" (reference README.md:17);
  *   - the windows/watermark/session/dedup/stateful rows of §2.3.
  *
  * Scale: all stateful operators are keyed by (bucket, window) or (user,
  * session) and bounded by watermarks — no global state; state store is
  * pluggable (RocksDB at cluster scale).
  */
object PriorityStreams {

  /** Priority routing inside a stream: shuffle-free [[BucketRouting.routeUniform]]
    * (a streaming micro-batch has no global order column; per-task round-robin
    * preserves the reference's ≤1-skew uniformity invariant, see
    * BucketRouting scaladoc).
    *
    * `discardUnroutable = false` (the default, matching the reference: an
    * unroutable message falls through to engine-default placement via
    * UNKNOWN_PARTITION, KIP-794) keeps unroutable rows with `pt` null and
    * empty-bucket rows with `pt` −1 — [[toKafkaFrame]] maps both to a null
    * partition so the sink places them. `discardUnroutable = true` is the
    * documented DiscardPartitioner intent (README.md:77-84): drop them. */
  def routeStream(
      df: DataFrame,
      cfg: BucketPriorityConfig,
      numPartitions: Int,
      keyCol: Column,
      discardUnroutable: Boolean = false
  ): DataFrame = {
    val routed = BucketRouting.routeUniform(df, cfg, numPartitions, keyCol)
    if (discardUnroutable) BucketRouting.discard(routed) else routed
  }

  /** Shape a routed frame for the Kafka sink: (key, value, partition) with
    * Kafka wire types. Routed rows carry their assigned partition; unroutable
    * (null) and empty-bucket (−1) rows get a NULL partition so the Kafka sink
    * applies engine-default placement — a literal −1 would make the producer
    * throw IllegalArgumentException. */
  def toKafkaFrame(routed: DataFrame, keyCol: Column, valueCol: Column): DataFrame =
    routed.select(
      keyCol.cast("binary").as("key"),
      valueCol.cast("binary").as("value"),
      when(col("pt") >= 0, col("pt")).cast("int").as("partition"))

  /** Tumbling (or sliding, when `slide` is set) per-bucket counts and value
    * sums with a watermark bounding state. */
  def bucketWindowAgg(
      df: DataFrame,
      cfg: BucketPriorityConfig,
      keyCol: Column,
      tsCol: String,
      windowDur: String,
      slide: Option[String] = None,
      watermark: String = "10 minutes",
      valueCol: Column = col("value")
  ): DataFrame = {
    val bucketed = df
      .withColumn("bucket", BucketRouting.bucketOf(keyCol, cfg))
      .filter(col("bucket").isNotNull)
      .withWatermark(tsCol, watermark)
    val w = slide match {
      case Some(s) => window(col(tsCol), windowDur, s)
      case None    => window(col(tsCol), windowDur)
    }
    bucketed
      .groupBy(w.as("w"), col("bucket"))
      .agg(count(lit(1)).as("n"), sum(valueCol).as("sum_value"))
      .select(col("w.start").as("w_start"), col("w.end").as("w_end"),
        col("bucket"), col("n"), col("sum_value"))
  }

  /** Per-user session windows with a gap timeout. */
  def sessionize(
      df: DataFrame,
      tsCol: String,
      userCol: String,
      gap: String,
      watermark: String = "10 minutes"
  ): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap).as("s"), col(userCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col(s"s.start").as("s_start"), col(s"s.end").as("s_end"),
        col(userCol), col("n_events"))

  /** Streaming dedup on an id column, state bounded by the watermark. */
  def dedupWithinWatermark(df: DataFrame, tsCol: String, idCols: Seq[String],
      watermark: String = "10 minutes"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCols)

  /** §2.3 stream-static join carrying a north-star operator: streaming
    * benchmark DECONTAMINATION. Incoming documents are shingled (the same
    * 5-token shingles as the batch `decontaminate` query — one shared
    * native expression, [[graft.functions.ShingleFunctions.shingleSet]],
    * parity-pinned to the HOF form the oracle computes), then
    * LEFT SEMI stream-static joined against the static held-out benchmark
    * shingle set. The static side is broadcast — at 100 TB the corpus
    * streams past it with no shuffle, the exact shape of the batch twin.
    *
    * Emits one row per CONTAMINATED document: `(doc_id, tsCol)`, in append
    * mode. Downstream keeps a doc iff its id never arrives here (anti-join
    * in the serving store). State: the shingle explode is stateless; the
    * per-doc dedup (a doc with k shared shingles must alert once, not k
    * times) is `dropDuplicatesWithinWatermark` on `doc_id`, so state holds
    * only contaminated ids inside the watermark horizon — proportional to
    * the contamination rate, not the corpus. */
  def decontaminateStream(
      docs: DataFrame,
      benchShingles: DataFrame,
      tsCol: String = "ts",
      watermark: String = "10 minutes"
  ): DataFrame = {
    val sh = docs
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 5)
      .select(col(tsCol), col("doc_id"),
        explode(graft.functions.ShingleFunctions.shingleSet(col("toks"), 5)).as("s"))
    sh.join(broadcast(benchShingles), Seq("s"), "left_semi")
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("doc_id")
      .select("doc_id", tsCol)
  }

  /** §2.3 stream-stream join (added r5): correlate two event streams on a
    * shared key within an event-time bound — right events joined to left
    * events at most `within` later. Watermarks on BOTH sides plus the
    * two-sided time-range condition are what let Spark compute a state
    * eviction horizon: each side's join state is bounded by
    * watermark + `within`, never the whole stream — the only stream-stream
    * join shape that survives 100 TB/day. Caller supplies distinct column
    * names per side (Spark's streaming joiner cannot disambiguate
    * same-named columns across sides).
    *
    * `joinType` (added r5): `"inner"` (default) emits only correlated
    * pairs; `"left_outer"` ADDITIONALLY emits each left event with NULL
    * right columns once the watermark proves no in-window partner can
    * still arrive — the "view that never converted" record, produced with
    * the same bounded state. */
  def correlateWithin(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTs: String,
      rightTs: String,
      within: String,
      watermark: String = "1 hour",
      joinType: String = "inner"
  ): DataFrame =
    left.withWatermark(leftTs, watermark).join(
      right.withWatermark(rightTs, watermark),
      col(leftKey) === col(rightKey) &&
        col(rightTs) >= col(leftTs) &&
        col(rightTs) <= col(leftTs) + expr(s"INTERVAL $within"),
      joinType)

  /** Streaming int8 quantization (added r5): the embedding-compression leg
    * of the ANN pipeline run at ingest time. Applies the IDENTICAL
    * quantization expressions as the batch `embedding_quantize` /
    * `quantized_topk` oracle queries
    * ([[graft.queries.SimilarityQueries.quantized]] — one shared function,
    * so stream and batch provably cannot drift) to a stream of embedding
    * rows. Stateless per-row map: no state store, no shuffle, no watermark
    * needed — each vector leaves with its `scale` and int8 `qv` codes and
    * is ready for the quantized ANN serving index. Zero-vector rows are
    * dropped (not quantizable), matching the batch twin. */
  def quantizeStream(embs: DataFrame): DataFrame =
    graft.queries.SimilarityQueries.quantized(embs).drop("maxabs")

  /** Streaming ANN serving (r15, VERDICT item 5): incoming QUERY vectors
    * against a STATIC, already-built IVF index — the online half of the
    * build-once / serve-many architecture (AnnIndexQueries). Per arriving
    * query row: (1) probe assignment IN-ROW against the broadcast
    * centroid set (the 16 centroids collapse to one broadcastable array
    * row; the top-4-by-cosine probe pick is an in-row sort of
    * (−sim, cent_id) structs — windows are unsupported on streams, and a
    * probe AGGREGATION would spend the one non-windowed agg the plan gets,
    * so the probe stage must be stateless); (2) stream-static equi-join on
    * `list_id` into the index's inverted lists — the streaming twin of the
    * batch retriever's probe-pruned scan (at scale the static side is the
    * `list_id`-partitioned codes/lists table, so each micro-batch reads
    * only probed partitions); (3) exact cosine per candidate (the codegen
    * [[graft.functions.VectorFunctions.cosineSimilarity]], the batch
    * retriever's own expression); (4) ONE per-qid aggregation collecting
    * the top-k as a sorted-slice of (−sim, cid) structs — Update output
    * mode, each qid's final row lands in the micro-batch that carried it.
    *
    * Float parity with the batch ivf_topk: the in-row probe cosine is the
    * HOF left-fold dot/(√na·√nb) with a `nullif` zero-denominator guard —
    * the formulation [[graft.functions.CosineSimilarity]] is bit-identical
    * to (VectorFunctionsSpec pins it), with NULL sims coalesced to −∞
    * exactly like the batch argmax's NULLS-LAST coalesce;
    * the (−sim, cid) sort matches the batch window's (sim DESC, cid)
    * tie-break (double negation is exact). AnnStreamSpec pins the output
    * ≡ the batch ivf_topk rows on the same inputs.
    *
    * State note: the per-qid agg state grows with distinct qids; a
    * production deployment bounds it with a watermark on a query-arrival
    * timestamp or a state TTL — omitted here because the twin's contract
    * is per-micro-batch serving, not cross-batch accumulation. */
  def annStream(
      queries: DataFrame,
      lists: DataFrame,
      cents: DataFrame,
      k: Int = 10): DataFrame = {
    import graft.functions.VectorFunctions.cosineSimilarity
    def dotD(a: String, b: String) =
      s"""aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
         |  0.0D, (acc, v) -> acc + v)""".stripMargin
    val centsRow = cents
      .select(struct(col("cent_id"), col("centv")).as("c"))
      .agg(expr("array_sort(collect_list(c))").as("carr"))
    val probed = queries.crossJoin(broadcast(centsRow))
      .select(col("qid"), col("qv"),
        expr(
          s"""slice(array_sort(transform(carr, c -> named_struct(
             |  'negsim', coalesce(
             |     -(${dotD("qv", "c.centv")}
             |       / nullif(sqrt(${dotD("qv", "qv")})
             |                * sqrt(${dotD("c.centv", "c.centv")}), 0.0D)),
             |     CAST('Infinity' AS DOUBLE)),
             |  'cent_id', c.cent_id))), 1, 4)""".stripMargin).as("parr"))
    probed
      .select(col("qid"), col("qv"),
        explode(expr("transform(parr, p -> p.cent_id)")).as("list_id"))
      .join(lists, Seq("list_id"))
      .filter(col("qid") =!= col("cid"))
      .withColumn("sim", cosineSimilarity(col("qv"), col("cv")))
      .groupBy("qid")
      .agg(expr(
        s"""slice(array_sort(collect_list(named_struct(
           |  'negsim', coalesce(-sim, CAST('Infinity' AS DOUBLE)),
           |  'cid', cid))), 1, $k)""".stripMargin).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("qid"), col("t.cid").as("cid"),
        graft.queries.Q.grid6(-col("t.negsim")).as("sim"),
        (col("i") + 1).cast("int").as("rk"))
  }

  // ---- stateful per-bucket backlog / SLA tracker -------------------------

  /** One input event, already bucketed. */
  final case class BucketEvent(bucket: String, eventId: Long, tsMicros: Long)

  /** Running per-bucket state: the "scheduler bookkeeping" the reference
    * leaves to downstream consumers (README.md:17). */
  final case class BucketBacklog(
      bucket: String,
      totalEvents: Long,
      lastEventTsMicros: Long,
      maxGapMicros: Long)

  /** One state-advance shared by BOTH tracker runtimes so they cannot drift.
    * The group's events are materialized ONCE into an array and sorted in
    * place (event-time order is part of the max-gap semantics; a
    * sortWithinPartitions upstream would let this become a pure single
    * pass). */
  private def advanceBacklog(prev: BucketBacklog, rows: Iterator[BucketEvent]): BucketBacklog = {
    val arr = rows.toArray
    scala.util.Sorting.stableSort(arr,
      (a: BucketEvent, b: BucketEvent) =>
        a.tsMicros < b.tsMicros || (a.tsMicros == b.tsMicros && a.eventId < b.eventId))
    var total = prev.totalEvents
    var lastTs = prev.lastEventTsMicros
    var maxGap = prev.maxGapMicros
    var i = 0
    while (i < arr.length) {
      val e = arr(i)
      if (lastTs != Long.MinValue && e.tsMicros - lastTs > maxGap)
        maxGap = e.tsMicros - lastTs
      lastTs = math.max(lastTs, e.tsMicros)
      total += 1
      i += 1
    }
    BucketBacklog(prev.bucket, total, lastTs, maxGap)
  }

  /** flatMapGroupsWithState per-bucket tracker: total routed events, last
    * event time, and the largest inter-event gap (an SLA proxy). Works in
    * both streaming (Update mode) and batch. */
  def backlogTracker(events: Dataset[BucketEvent]): Dataset[BucketBacklog] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.bucket)
      .flatMapGroupsWithState[BucketBacklog, BucketBacklog](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (bucket: String, rows: Iterator[BucketEvent], state: GroupState[BucketBacklog]) =>
          val prev = state.getOption.getOrElse(BucketBacklog(bucket, 0L, Long.MinValue, 0L))
          val next = advanceBacklog(prev, rows)
          state.update(next)
          Iterator(next)
      }
  }

  /** Same tracker on Spark 4's `transformWithState` API — the successor to
    * flatMapGroupsWithState, with named state variables, TTL, and timers.
    * State here is one `ValueState[BucketBacklog]` per bucket. */
  final class BacklogProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, BucketEvent, BucketBacklog] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig}
    @transient private var state: org.apache.spark.sql.streaming.ValueState[BucketBacklog] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[BucketBacklog](
        "backlog", org.apache.spark.sql.Encoders.product[BucketBacklog], TTLConfig.NONE)

    override def handleInputRows(
        bucket: String,
        rows: Iterator[BucketEvent],
        timerValues: TimerValues): Iterator[BucketBacklog] = {
      val prev =
        if (state.exists()) state.get()
        else BucketBacklog(bucket, 0L, Long.MinValue, 0L)
      val next = advanceBacklog(prev, rows)
      state.update(next)
      Iterator(next)
    }
  }

  /** An event-timestamped routed event (timer operators need a real
    * timestamp column to watermark). */
  final case class TimedEvent(bucket: String, eventId: Long, ts: java.sql.Timestamp)

  /** A bucket that went quiet: no event for `gap` past its last event time
    * (by watermark). The "priority bucket starved / producer died" alert a
    * bucket-priority deployment wants from its scheduler bookkeeping. */
  final case class BucketIdle(bucket: String, lastEventTs: java.sql.Timestamp, events: Long)

  /** transformWithState with EVENT-TIME TIMERS (the Spark 4 stateful API
    * surface beyond value state): per bucket, every batch re-arms a timer at
    * lastEventTs + gap; when the WATERMARK passes it with no newer event,
    * the expired timer fires once, emits a [[BucketIdle]] alert, and clears
    * the bucket's state — so state size tracks ACTIVE buckets only, the
    * timer-based analogue of TTL. */
  final class IdleBucketProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, TimedEvent, BucketIdle] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode => OM, TimeMode, TimerValues, TTLConfig}
    @transient private var state: org.apache.spark.sql.streaming.ValueState[(Long, Long)] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[(Long, Long)]( // (lastEventTsMs, count)
        "idle", org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong),
        TTLConfig.NONE)

    override def handleInputRows(
        bucket: String,
        rows: Iterator[TimedEvent],
        timerValues: TimerValues): Iterator[BucketIdle] = {
      val (prevTs, prevN) = if (state.exists()) state.get() else (Long.MinValue, 0L)
      var lastTs = prevTs
      var n = prevN
      rows.foreach { e => lastTs = math.max(lastTs, e.ts.getTime); n += 1 }
      state.update((lastTs, n))
      // re-arm: one live timer per bucket at lastTs + gap
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t))
      getHandle.registerTimer(lastTs + gapMs)
      Iterator.empty
    }

    override def handleExpiredTimer(
        bucket: String,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[BucketIdle] = {
      val out =
        if (state.exists()) {
          val (lastTs, n) = state.get()
          Iterator.single(BucketIdle(bucket, new java.sql.Timestamp(lastTs), n))
        } else Iterator.empty
      state.clear() // idle bucket evicted: state holds active buckets only
      out
    }
  }

  /** Idle-bucket alerts over a watermarked event stream. `gap` must not
    * exceed the watermark delay semantics the caller configures upstream
    * via [[org.apache.spark.sql.Dataset.withWatermark]] on `ts`. */
  def idleBuckets(events: Dataset[TimedEvent], gapMs: Long): Dataset[BucketIdle] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.bucket)
      .transformWithState(
        new IdleBucketProcessor(gapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** [[backlogTracker]] on the transformWithState runtime. */
  def backlogTrackerTws(events: Dataset[BucketEvent]): Dataset[BucketBacklog] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.bucket)
      .transformWithState(
        new BacklogProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  // ---- streaming funnel (per-user step state machine) --------------------

  /** One funnel-relevant event. */
  final case class FunnelEvent(userId: Long, eventType: String, ts: java.sql.Timestamp)

  /** A user advancing to `step` (1=click, 2=signup, 3=purchase) at `ts`. */
  final case class FunnelAdvance(userId: Long, step: Int, ts: java.sql.Timestamp)

  /** Streaming twin of the batch `funnel_steps` query (added r5): a per-user
    * state machine over `transformWithState`. State is (currentStep,
    * stepTsMicros); each batch's events are sorted by event time and replayed
    * against the strict-ordering rule (a step counts only with ts STRICTLY
    * after the previous step's ts — the identical comparison as the batch
    * query's `ts > t1` joins). Emits one [[FunnelAdvance]] row per
    * advancement, so downstream per-step user counts are
    * `count(distinct userId) where step >= k`.
    *
    * Exactness contract: for event-time-ordered arrival (within a batch the
    * processor sorts; across batches ts must not regress per user) the
    * emitted advancements match the batch query's min-ts semantics exactly —
    * spec-verified against `funnel_steps` on the same finite input. Late
    * events that would have advanced an earlier step are dropped by
    * arrival-order processing, the standard watermark trade-off.
    * Scale: state is 2 longs per user seen (completed users keep a terminal
    * marker so re-arrivals cannot double-count; bound it with TTL in
    * production), keyed by user — RocksDB-backed at cluster scale like the
    * backlog tracker. */
  /** Full-precision event time in MICROSECONDS. `Timestamp.getTime` alone
    * truncates to milliseconds — two events microseconds apart (Spark's
    * native timestamp resolution) would compare "simultaneous" in the
    * stream while the batch twin's full-precision comparison orders them,
    * silently dropping advancements. The sub-millisecond residue lives in
    * the nanos field. */
  private def tsMicros(ts: java.sql.Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L

  final class FunnelProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, FunnelEvent, FunnelAdvance] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig}
    @transient private var state: org.apache.spark.sql.streaming.ValueState[(Int, Long)] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      // State name carries the ts UNIT ("_us"): the stored stepTs changed
      // meaning from epoch-millis to epoch-micros in r6, and a resume from a
      // pre-change checkpoint would silently reinterpret old millisecond
      // values as micros (~1000x too small), letting the strict ">" guard
      // admit re-deliveries. A distinct name makes such a resume fail loudly
      // (unknown state variable) instead of corrupting funnel advancement.
      state = getHandle.getValueState[(Int, Long)]( // (step reached, its ts micros)
        "funnel_us", org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaInt, org.apache.spark.sql.Encoders.scalaLong),
        TTLConfig.NONE)

    private val NextType = Map(0 -> "click", 1 -> "signup", 2 -> "purchase")

    override def handleInputRows(
        userId: Long,
        rows: Iterator[FunnelEvent],
        timerValues: TimerValues): Iterator[FunnelAdvance] = {
      val arr = rows.toArray
      // full-precision sort + comparison (Timestamp.compareTo sees nanos):
      // the batch twin compares native-resolution timestamps, so the stream
      // must too — getTime-based ordering loses the sub-millisecond digits
      scala.util.Sorting.stableSort(arr,
        (a: FunnelEvent, b: FunnelEvent) => a.ts.compareTo(b.ts) < 0)
      var (step, stepTs) = if (state.exists()) state.get() else (0, Long.MinValue)
      val out = Seq.newBuilder[FunnelAdvance]
      var i = 0
      while (i < arr.length && step < 3) {
        val e = arr(i)
        if (NextType(step) == e.eventType && (step == 0 || tsMicros(e.ts) > stepTs)) {
          step += 1
          stepTs = tsMicros(e.ts)
          out += FunnelAdvance(userId, step, e.ts)
        }
        i += 1
      }
      // completed users keep their terminal (3, ts) state: clearing it would
      // let a later event restart the machine and double-count a conversion
      // (TTL / timer eviction is the production way to bound it)
      state.update((step, stepTs))
      out.result().iterator
    }
  }

  /** Funnel advancements over a stream of events, Update mode. */
  def funnelStream(events: Dataset[FunnelEvent]): Dataset[FunnelAdvance] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.userId)
      .transformWithState(
        new FunnelProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  // ---- streaming feature window (per-user trailing context) --------------

  /** One valued event for feature backfill. */
  final case class ValuedEvent(userId: Long, eventId: Long,
      ts: java.sql.Timestamp, value: Double)

  /** An event with its user's trailing-context features: count and exact
    * decimal-cents sum of the previous ≤ `n` event values. */
  final case class FeatureRow(userId: Long, eventId: Long, nCtx: Long,
      ctxSumCents: Option[Long])

  /** Streaming twin of the batch `feature_window` query (added r5): a
    * bounded per-user trailing buffer on `transformWithState`'s LIST state.
    * Each batch's events are processed in (ts, eventId) order; every event
    * emits the count and sum (in exact cents, so stream and batch cannot
    * drift through double re-summation order) of the user's previous ≤ n
    * values, then enters the buffer, which is trimmed to the newest n.
    * State is O(n) per user forever — the online-feature analogue of the
    * batch plan's ROWS BETWEEN n PRECEDING AND 1 PRECEDING frame. Same
    * in-order-arrival contract as the funnel (in-batch sort; across
    * batches ts must not regress per user). */
  final class FeatureWindowProcessor(n: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, ValuedEvent, FeatureRow] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig}
    @transient private var buf: org.apache.spark.sql.streaming.ListState[Long] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      buf = getHandle.getListState[Long]( // newest-last cents values
        "ctx", org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(
        userId: Long,
        rows: Iterator[ValuedEvent],
        timerValues: TimerValues): Iterator[FeatureRow] = {
      val arr = rows.toArray
      // full-precision (ts, eventId) order — see FunnelProcessor's sort note
      scala.util.Sorting.stableSort(arr,
        (a: ValuedEvent, b: ValuedEvent) => {
          val c = a.ts.compareTo(b.ts)
          c < 0 || (c == 0 && a.eventId < b.eventId)
        })
      val ctx = scala.collection.mutable.ArrayBuffer.empty[Long]
      buf.get().foreach(ctx += _)
      val out = Seq.newBuilder[FeatureRow]
      arr.foreach { e =>
        out += FeatureRow(userId, e.eventId, ctx.length.toLong,
          if (ctx.isEmpty) None else Some(ctx.sum))
        // exact cents: value is a 2-decimal money double on this corpus
        ctx += math.round(e.value * 100)
        if (ctx.length > n) ctx.remove(0, ctx.length - n)
      }
      buf.put(ctx.toArray)
      out.result().iterator
    }
  }

  /** Per-user trailing feature windows over a stream, Update mode. */
  def featureWindowStream(events: Dataset[ValuedEvent], n: Int): Dataset[FeatureRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.userId)
      .transformWithState(
        new FeatureWindowProcessor(n),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  // ---- streaming heavy hitters (Space-Saving top-k per bucket) -----------

  /** One tokenized event for frequency tracking. */
  final case class TokenEvent(bucket: String, token: String)

  /** A heavy hitter: `cnt` is an overestimate by at most `err` (Space-Saving
    * guarantee: true_count ∈ [cnt − err, cnt]). */
  final case class HeavyHitter(bucket: String, token: String, cnt: Long, err: Long)

  /** Streaming top-k frequent tokens per bucket via the Space-Saving
    * algorithm (Metwally et al. 2005) on `transformWithState` (added r5):
    * per bucket, at most `m` counters live in a `MapState`; an unseen token
    * arriving with all counters occupied evicts the minimum counter and
    * inherits its count as the error bound. State is O(m) per bucket
    * FOREVER — the frequency analogue of the watermark bound, and the only
    * top-k shape that survives an unbounded token domain at 100 TB/day.
    * Guarantees: counts overestimate by ≤ err; any token with true count
    * > N/m is guaranteed present; with ≤ m distinct tokens ever seen the
    * counts are EXACT (err 0) — which is what the spec pins against the
    * batch groupBy count. Each batch emits the current top-k (Update mode),
    * ranked (cnt desc, token asc).
    *
    * `ttl` (r6): O(m)-per-bucket state still accumulates one MapState PER
    * BUCKET forever — a bucket that stops receiving traffic (a retired
    * event type, a deleted tenant) parks its m counters in RocksDB for the
    * life of the query. An optional processing-time TTL reclaims them: each
    * counter expires `ttl` after its last update, so an abandoned bucket's
    * state drains to zero while any active bucket's hot counters refresh on
    * every arrival. Semantics under TTL are the documented Space-Saving
    * RESET: an expired token re-arrives as unseen (count restarts — the
    * standard sliding-freshness trade; leave ttl None for lifetime-exact
    * tracking). Requires TimeMode.ProcessingTime — [[heavyHittersStream]]
    * picks the mode from the option. */
  final class SpaceSavingProcessor(m: Int, k: Int,
      ttl: Option[java.time.Duration] = None)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, TokenEvent, HeavyHitter] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig}
    @transient private var counters: org.apache.spark.sql.streaming.MapState[String, (Long, Long)] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      counters = getHandle.getMapState[String, (Long, Long)](
        "ss", // token -> (count, err)
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong),
        ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE))

    override def handleInputRows(
        bucket: String,
        rows: Iterator[TokenEvent],
        timerValues: TimerValues): Iterator[HeavyHitter] = {
      // load the ≤ m counters once, mutate in memory, write back ONLY the
      // touched keys (a full rewrite would issue m state-store updates per
      // batch even when one token arrived — needless write amplification)
      val cur = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
      counters.iterator().foreach { case (t, v) => cur(t) = v }
      val evicted = scala.collection.mutable.HashSet.empty[String]
      val touched = scala.collection.mutable.HashSet.empty[String]
      rows.foreach { e =>
        cur.get(e.token) match {
          case Some((c, err)) => cur(e.token) = (c + 1, err); touched += e.token
          case None if cur.size < m => cur(e.token) = (1L, 0L); touched += e.token
          case None =>
            // evict the min counter (token asc tie-break for determinism);
            // the newcomer inherits its count as the overestimation bound
            val (minTok, (minC, _)) = cur.minBy { case (t, (c, _)) => (c, t) }
            cur.remove(minTok)
            evicted += minTok
            touched -= minTok
            cur(e.token) = (minC + 1, minC)
            touched += e.token
        }
      }
      evicted.filterNot(cur.contains).foreach(counters.removeKey)
      touched.filter(cur.contains).foreach(t => counters.updateValue(t, cur(t)))
      cur.toSeq
        .sortBy { case (t, (c, _)) => (-c, t) }
        .take(k)
        .iterator
        .map { case (t, (c, err)) => HeavyHitter(bucket, t, c, err) }
    }
  }

  /** Per-bucket streaming heavy hitters, Update mode: each batch re-emits
    * the bucket's current top-`k` of at most `m` tracked counters. With
    * `ttl` set, counters idle longer than the TTL are reclaimed (abandoned
    * buckets drain to zero state) — see [[SpaceSavingProcessor]]. Note:
    * with TTL the engine schedules micro-batches CONTINUOUSLY even when no
    * data arrives (processing-time state makes shouldRunAnotherBatch true —
    * the clock must advance to expire entries); pair it with a processing
    * -time trigger interval in production rather than the default
    * as-fast-as-possible trigger. */
  def heavyHittersStream(events: Dataset[TokenEvent], m: Int, k: Int,
      ttl: Option[java.time.Duration] = None): Dataset[HeavyHitter] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.bucket)
      .transformWithState(
        new SpaceSavingProcessor(m, k, ttl),
        // state TTL is defined against the processing-time clock; without a
        // TTL the processor needs no clock at all
        if (ttl.isDefined) org.apache.spark.sql.streaming.TimeMode.ProcessingTime()
        else org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  // ---- streaming SCD-2 materializer (per-entity change capture) ----------

  /** One valued observation for change capture. */
  final case class Scd2Event(userId: Long, eventId: Long,
      ts: java.sql.Timestamp, value: Double)

  /** An SCD-2 validity-interval record. Update-mode upsert key is
    * (userId, validFrom): a change CLOSES the previous interval (re-emits it
    * with validTo + isCurrent = false, superseding the earlier open row) and
    * OPENS the new one. */
  final case class Scd2Row(userId: Long, validFrom: java.sql.Timestamp,
      validTo: Option[java.sql.Timestamp], value: Double, isCurrent: Boolean)

  /** Streaming twin of the batch `scd2_intervals` query: the CDC
    * materializer that turns a value stream into slowly-changing-dimension
    * type-2 history incrementally. State per entity is (current value,
    * current validFrom micros); each batch's rows replay in full-precision
    * (ts, eventId) order; on a change the processor emits the close of the
    * open interval and the new open row — after upserting by
    * (userId, validFrom), the sink holds exactly the batch query's interval
    * table (spec-pinned on the real events table across a mid-stream batch
    * split). Scale: one tuple of state per entity, RocksDB-backed; late
    * events that would reorder history are dropped by arrival-order
    * processing — the standard watermark trade-off, same as the funnel. */
  final class Scd2Processor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Scd2Event, Scd2Row] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig}
    @transient private var state: org.apache.spark.sql.streaming.ValueState[(Double, Long)] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[(Double, Long)]( // (value, validFrom micros)
        "scd2", org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaDouble, org.apache.spark.sql.Encoders.scalaLong),
        TTLConfig.NONE)

    /** Exact inverse of [[tsMicros]] for micro-precision inputs. */
    private def fromMicros(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(java.lang.Math.floorDiv(us, 1000000L) * 1000L)
      t.setNanos((java.lang.Math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }

    override def handleInputRows(
        userId: Long,
        rows: Iterator[Scd2Event],
        timerValues: TimerValues): Iterator[Scd2Row] = {
      val arr = rows.toArray
      scala.util.Sorting.stableSort(arr,
        (a: Scd2Event, b: Scd2Event) =>
          { val c = a.ts.compareTo(b.ts); c < 0 || (c == 0 && a.eventId < b.eventId) })
      var cur = if (state.exists()) Some(state.get()) else None
      val out = Seq.newBuilder[Scd2Row]
      var i = 0
      while (i < arr.length) {
        val e = arr(i)
        if (cur.forall(_._1 != e.value)) {
          cur.foreach { case (v, from) => // close the open interval
            out += Scd2Row(userId, fromMicros(from), Some(e.ts), v, isCurrent = false)
          }
          out += Scd2Row(userId, e.ts, None, e.value, isCurrent = true)
          cur = Some((e.value, tsMicros(e.ts)))
        }
        i += 1
      }
      cur.foreach(state.update)
      out.result().iterator
    }
  }

  /** SCD-2 interval records over a value stream, Update mode (upsert by
    * (userId, validFrom)). */
  def scd2Stream(events: Dataset[Scd2Event]): Dataset[Scd2Row] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.userId)
      .transformWithState(
        new Scd2Processor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  // ---- streaming admission quota (per bucket × event-time day) -----------

  /** One event competing for quota. */
  final case class QuotaEvent(bucket: String, eventId: Long, ts: java.sql.Timestamp)

  /** Admission decision for one event. */
  final case class QuotaDecision(bucket: String, dayStartMs: Long, eventId: Long,
      admitted: Boolean)

  /** Streaming twin of the batch `quota_admit` query (added r6): admit the
    * first `n` events per (bucket, UTC day), keyed by exactly that pair so
    * the counter state is ONE long per active window — the throttling half
    * of bucket priority. In-batch events are processed in full-precision
    * (ts, eventId) order (the funnel contract: across batches, arrival
    * order per key must not regress event time). State is one counter per
    * (bucket, day) forever unless bounded — pass a TTL-style cleanup via
    * the state store's own retention in production, or re-key by fewer
    * windows; the spec exercises the single-window equality against the
    * oracle-checked batch query. */
  final class QuotaProcessor(n: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[(String, Long), QuotaEvent, QuotaDecision] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig}
    @transient private var count: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      count = getHandle.getValueState[Long]("admitted",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(
        key: (String, Long),
        rows: Iterator[QuotaEvent],
        timerValues: TimerValues): Iterator[QuotaDecision] = {
      val arr = rows.toArray
      scala.util.Sorting.stableSort(arr,
        (a: QuotaEvent, b: QuotaEvent) => {
          val c = a.ts.compareTo(b.ts)
          c < 0 || (c == 0 && a.eventId < b.eventId)
        })
      var admitted = if (count.exists()) count.get() else 0L
      val out = arr.map { e =>
        val ok = admitted < n
        if (ok) admitted += 1
        QuotaDecision(key._1, key._2, e.eventId, ok)
      }
      count.update(admitted)
      out.iterator
    }
  }

  /** UTC day start of a timestamp in epoch millis (session tz is UTC, so
    * this matches the batch query's `to_date(ts)` bucketing). */
  def dayStartMs(ts: java.sql.Timestamp): Long =
    math.floorDiv(ts.getTime, 86400000L) * 86400000L

  /** Per-(bucket, day) streaming admission quota, Update mode. */
  def quotaStream(events: Dataset[QuotaEvent], n: Int): Dataset[QuotaDecision] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.bucket, dayStartMs(e.ts)))
      .transformWithState(
        new QuotaProcessor(n),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  // ---- streaming Markov transition extraction ----------------------------

  /** One typed event in a user's stream. */
  final case class TransEvent(userId: Long, eventId: Long,
      ts: java.sql.Timestamp, eventType: String)

  /** One observed cur→next transition. */
  final case class Transition(userId: Long, cur: String, nxt: String)

  /** Streaming twin of the batch `transition_matrix` extraction (added r7):
    * per user, emit one (cur, nxt) record per adjacent pair in strict
    * (ts, eventId) event order, so the downstream groupBy(cur, nxt) count —
    * an ordinary agg, streaming or batch — maintains the Markov model
    * INCREMENTALLY: transition counts only ever grow as events arrive,
    * and the conditional distribution is always current without a corpus
    * rescan. State is ONE row per user: the last event's (tsMicros,
    * eventId, type). In-batch disorder is fully repaired by the in-batch
    * sort; across batches the funnel contract applies (per user, arrival
    * order must not regress event time). State name carries the ts unit
    * (the funnel_us discipline — a resume from a differently-encoded
    * checkpoint fails loudly instead of reinterpreting). */
  final class TransitionProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TransEvent, Transition] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig}
    @transient private var last: org.apache.spark.sql.streaming.ValueState[(Long, Long, String)] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      last = getHandle.getValueState[(Long, Long, String)]("last_evt_us",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.STRING),
        TTLConfig.NONE)

    override def handleInputRows(
        userId: Long,
        rows: Iterator[TransEvent],
        timerValues: TimerValues): Iterator[Transition] = {
      val arr = rows.toArray
      scala.util.Sorting.stableSort(arr,
        (a: TransEvent, b: TransEvent) => {
          val c = a.ts.compareTo(b.ts)
          c < 0 || (c == 0 && a.eventId < b.eventId)
        })
      val out = Seq.newBuilder[Transition]
      var prev: Option[String] = if (last.exists()) Some(last.get()._3) else None
      arr.foreach { e =>
        prev.foreach(p => out += Transition(userId, p, e.eventType))
        prev = Some(e.eventType)
      }
      if (arr.nonEmpty) {
        val e = arr.last
        last.update((tsMicros(e.ts), e.eventId, e.eventType))
      }
      out.result().iterator
    }
  }

  /** Per-user transition extraction over a stream of events, Update mode. */
  def transitionStream(events: Dataset[TransEvent]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.userId)
      .transformWithState(
        new TransitionProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Streaming twin of the batch `event_seq_logprob` scorer (added r7):
    * every transition the per-user state machine extracts
    * ([[transitionStream]]) is scored ONLINE against a static model frame
    * `(cur, nxt, lp6)` — the transition log-probabilities on
    * [[graft.queries.LnGrid]]'s integer 10⁻⁶ grid (build it in batch with
    * [[graft.queries.FunnelQueries.transitionModelLn6]] — the exact frame
    * the batch scorer sums, so per-user int sums of the emitted lp6
    * reproduce the batch numbers EXACTLY; spec-pinned). Transitions the
    * model has never seen surface UNSCORED
    * (null lp6, seen = false — the driftStream novel-type discipline: an
    * anomaly monitor must not silently drop exactly the anomalies it
    * exists to catch).
    *
    * Scale shape: the model is ≤ \|types\|² rows — a broadcast at any
    * corpus size; per-user state is transitionStream's one tuple; the
    * score join is stateless per micro-batch. */
  def seqScoreStream(events: Dataset[TransEvent], model: DataFrame): DataFrame =
    transitionStream(events).toDF()
      // `seen` derives from a non-null join MARKER carried by the model
      // side, not from lp6's nullability: a model row legitimately
      // carrying a null score for a present (cur, nxt) key must still
      // report seen = true, or the monitor would misfile it as a novel
      // transition (r7 advice).
      .join(broadcast(model.select(col("cur"), col("nxt"), col("lp6"))
          .withColumn("m_hit", lit(true))),
        Seq("cur", "nxt"), "left")
      .select(col("userId").as("user_id"), col("cur"), col("nxt"),
        col("lp6"), coalesce(col("m_hit"), lit(false)).as("seen"))

  // ---- streaming chained debounce ---------------------------------------

  /** One event offered to the debouncer. */
  final case class DebounceEvent(userId: Long, eventId: Long,
      ts: java.sql.Timestamp, eventType: String)

  /** The per-event verdict: kept, or debounced away. */
  final case class DebounceDecision(userId: Long, eventType: String,
      eventId: Long, kept: Boolean)

  /** CHAINED debounce — the semantics the batch `debounce_events` query
    * documents as inherently sequential and out of declarative reach: an
    * event is kept iff it arrives more than `gapUs` after the last KEPT
    * event of the same (user, type), so a steady sub-gap drizzle re-emits
    * one event per gap window instead of suppressing everything after the
    * first (the batch query's gap-to-previous rule drops the entire
    * drizzle). Chained-kept ⊇ gap-kept always: the last kept event is never
    * later than the immediately previous one, so the distance tested here
    * is ≥ the gap the batch rule tests (spec-pinned). State is ONE long per
    * (user, type): the last kept event's micros (`last_kept_us` — the
    * funnel_us unit-in-name discipline). In-batch disorder is repaired by
    * the in-batch sort; across batches the funnel contract applies. */
  final class DebounceProcessor(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        (Long, String), DebounceEvent, DebounceDecision] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig}
    @transient private var lastKept: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      lastKept = getHandle.getValueState[Long]("last_kept_us",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(
        key: (Long, String),
        rows: Iterator[DebounceEvent],
        timerValues: TimerValues): Iterator[DebounceDecision] = {
      val arr = rows.toArray
      scala.util.Sorting.stableSort(arr,
        (a: DebounceEvent, b: DebounceEvent) => {
          val c = a.ts.compareTo(b.ts)
          c < 0 || (c == 0 && a.eventId < b.eventId)
        })
      var lk: Long = if (lastKept.exists()) lastKept.get() else Long.MinValue
      val out = arr.map { e =>
        val us = tsMicros(e.ts)
        val keep = lk == Long.MinValue || us - lk > gapUs
        if (keep) lk = us
        DebounceDecision(key._1, key._2, e.eventId, keep)
      }
      if (lk != Long.MinValue) lastKept.update(lk)
      out.iterator
    }
  }

  // ---- streaming Holt smoothing (added r8) -------------------------------

  /** One closed day's volume for a stream key. */
  final case class DayCount(eventType: String, epochDay: Long, c: Long)

  /** Holt state after absorbing a day: smoothed level, trend, and the
    * one-step-ahead forecast residual (None on each key's first day). */
  final case class HoltPoint(eventType: String, epochDay: Long, c: Long,
      level: Double, trend: Double, resid: Option[Double])

  /** The streaming twin of the batch `holt_smooth` query: per event type,
    * absorb day-grain volumes as days close and emit the updated
    * level/trend/residual — the live trending-volume anomaly feed. The
    * recurrence is the batch SQL's ARITHMETIC VERBATIM (same
    * parenthesization, same IEEE ops), so emissions are bit-for-bit the
    * batch rows (spec-pinned across a mid-stream split). State is one
    * (last_day, level, trend) triple per type; duplicate or out-of-order
    * days within the funnel ordering contract are ignored. */
  final class HoltProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, DayCount, HoltPoint] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig}
    @transient private var st: org.apache.spark.sql.streaming.ValueState[(Long, Double, Double)] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Double, Double)]("last_day_level_trend",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaDouble,
          org.apache.spark.sql.Encoders.scalaDouble), TTLConfig.NONE)

    override def handleInputRows(
        key: String,
        rows: Iterator[DayCount],
        timerValues: TimerValues): Iterator[HoltPoint] = {
      val days = rows.toArray.sortBy(_.epochDay)
      var (last, l, b) =
        if (st.exists()) st.get() else (Long.MinValue, 0.0, 0.0)
      val out = scala.collection.mutable.ArrayBuffer.empty[HoltPoint]
      days.foreach { d =>
        if (last == Long.MinValue) {
          l = d.c.toDouble; b = 0.0; last = d.epochDay
          out += HoltPoint(key, d.epochDay, d.c, l, b, None)
        } else if (d.epochDay > last) {
          val cv = d.c.toDouble
          val r = cv - (l + b)
          // the batch recursion's exact op order: ((c + l) + b) / 2
          val l2 = ((cv + l) + b) / 2
          val b2 = (b + (l2 - l)) / 2
          l = l2; b = b2; last = d.epochDay
          out += HoltPoint(key, d.epochDay, d.c, l, b, Some(r))
        } // d.epochDay ≤ last: duplicate/late day — already absorbed
      }
      if (last != Long.MinValue) st.update((last, l, b))
      out.iterator
    }
  }

  /** Streaming Holt smoothing over closed day volumes, Update mode. */
  def holtStream(days: Dataset[DayCount]): Dataset[HoltPoint] = {
    import days.sparkSession.implicits._
    days
      .groupByKey(_.eventType)
      .transformWithState(
        new HoltProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  // ---- streaming rolling median (added r8) -------------------------------

  /** A day's volume with its exact trailing-7-day median. */
  final case class MedianPoint(eventType: String, epochDay: Long, c: Long,
      med7: Double)

  /** The streaming twin of `rolling_median_volume`: per type, keep the
    * trailing ≤7 closed-day volumes in state and emit each day's EXACT
    * rolling median — the batch query's sorted-window arithmetic verbatim
    * ((lo + hi)/2 over the ≤7-element sorted window, integer div
    * indexing), so emissions are bit-for-bit the batch rows (spec-pinned
    * across a mid-stream split). State is one ≤7-deque of (day, count)
    * per type — O(1) regardless of history. */
  final class MedianProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, DayCount, MedianPoint] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig}
    @transient private var win: org.apache.spark.sql.streaming.ValueState[Array[Long]] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      win = getHandle.getValueState[Array[Long]]("trailing_day_counts",
        org.apache.spark.sql.Encoders.kryo[Array[Long]], TTLConfig.NONE)

    override def handleInputRows(
        key: String,
        rows: Iterator[DayCount],
        timerValues: TimerValues): Iterator[MedianPoint] = {
      // state layout: flat [d0, c0, d1, c1, …] oldest→newest, ≤7 entries
      var st = if (win.exists()) win.get() else Array.empty[Long]
      val out = scala.collection.mutable.ArrayBuffer.empty[MedianPoint]
      rows.toArray.sortBy(_.epochDay).foreach { d =>
        val lastDay = if (st.isEmpty) Long.MinValue else st(st.length - 2)
        if (d.epochDay > lastDay) {
          st = (st ++ Array(d.epochDay, d.c)).takeRight(14)
          val cs = st.grouped(2).map(_(1)).toArray.sorted
          val m = cs.length
          // the batch query's exact median form: (lo + hi) / 2
          val med = (cs((m + 1) / 2 - 1) + cs(m / 2)).toDouble / 2.0
          out += MedianPoint(key, d.epochDay, d.c, med)
        } // late/duplicate day: already absorbed
      }
      win.update(st)
      out.iterator
    }
  }

  /** Streaming exact rolling median over closed day volumes, Update mode. */
  def medianStream(days: Dataset[DayCount]): Dataset[MedianPoint] = {
    import days.sparkSession.implicits._
    days
      .groupByKey(_.eventType)
      .transformWithState(
        new MedianProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  // ---- streaming count-min sketch (added r8) -----------------------------

  /** One token observation from the ingest stream. */
  final case class TokenObs(token: String)

  /** One sketch-cell increment (row j, bucket b). */
  final case class CmsInc(j: Int, b: Int)

  /** A sketch cell's running counter. */
  final case class CmsCell(j: Int, b: Int, count: Long)

  /** The batch `cms_estimate` query's bucket rule in JVM form: row j's
    * bucket is the first two hex chars of md5("cmsj:" ‖ token) — JVM
    * MessageDigest MD5 hex ≡ Spark `md5()` ≡ DuckDB `md5()`, and the
    * hex-char arithmetic mirrors the query's instr() form, so stream and
    * batch CANNOT bucket differently (the shared-builder no-drift
    * discipline, applied across the language boundary and spec-pinned). */
  def cmsBuckets(token: String): IndexedSeq[CmsInc] = (0 until 4).map { j =>
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"cms$j:$token".getBytes("UTF-8"))
    // first two hex chars = high/low nibble of byte 0
    CmsInc(j, ((md(0) >> 4) & 0xf) * 16 + (md(0) & 0xf))
  }

  /** Maintains one count-min sketch cell; emits the updated counter. */
  final class CmsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        (Int, Int), CmsInc, CmsCell] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig}
    @transient private var count: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      count = getHandle.getValueState[Long]("cell_count",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(
        key: (Int, Int),
        rows: Iterator[CmsInc],
        timerValues: TimerValues): Iterator[CmsCell] = {
      val c = (if (count.exists()) count.get() else 0L) + rows.size
      count.update(c)
      Iterator.single(CmsCell(key._1, key._2, c))
    }
  }

  /** Streaming count-min sketch over a token stream — the sketch-at-ingest
    * twin of the batch `cms_estimate` audit: state is one long per (row,
    * bucket) cell (≤ 4×256 keys TOTAL, independent of corpus size — the
    * whole point of the sketch), each batch emits the touched cells'
    * updated counters, and the final sketch equals the batch-built one
    * exactly (spec-pinned across a mid-stream split, including the top-20
    * estimates against the registry query). */
  def cmsStream(tokens: Dataset[TokenObs]): Dataset[CmsCell] = {
    import tokens.sparkSession.implicits._
    tokens
      .flatMap(t => cmsBuckets(t.token))
      .groupByKey(c => (c.j, c.b))
      .transformWithState(
        new CmsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  // ---- streaming lifecycle / growth accounting (added r9) ----------------

  /** One user-activity observation at calendar-week grain (`weekDay` =
    * epoch day of the week's Monday — the batch `lifecycle_states`
    * date_trunc convention). */
  final case class WeekEvent(userId: Long, weekDay: Long)

  /** A lifecycle classification emission. `state` ∈ new / retained /
    * resurrected (for the week that just became active) or `churned`
    * (for the LAST-ACTIVE week, emitted the moment a later week proves
    * the >7-day gap). */
  final case class LifecycleRow(userId: Long, weekDay: Long, state: String)

  /** Streaming twin of the batch `lifecycle_states` query: per user, each
    * arriving active week classified against the previous one — the
    * growth-accounting dashboard (new / retained / resurrected per week)
    * maintained incrementally, with per-week counts converging to the
    * batch decomposition exactly (spec-pinned across a mid-stream split).
    * Churn differs by CONSTRUCTION, not semantics: the stream emits a
    * `churned` row only when a later week ARRIVES and proves the gap —
    * the right-censored tail (users who simply stop) needs event-time
    * timers to flush, the idle-bucket alert's machinery, and the batch
    * query's max-week cut is the retrospective equivalent; the spec pins
    * streamed churn ≡ the gap-proven subset of the batch column. State is
    * ONE long per user (`last_week_day`, unit in name). In-batch disorder
    * repairs in the sort; across batches the funnel ordering contract
    * applies; weeks ≤ the absorbed frontier are duplicates and no-op. */
  final class LifecycleProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, WeekEvent, LifecycleRow] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig}
    @transient private var lastWk: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      lastWk = getHandle.getValueState[Long]("last_week_day",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[WeekEvent],
        timerValues: TimerValues): Iterator[LifecycleRow] = {
      val weeks = rows.map(_.weekDay).toArray.distinct.sorted
      val out = scala.collection.mutable.ArrayBuffer.empty[LifecycleRow]
      var last = if (lastWk.exists()) lastWk.get() else Long.MinValue
      weeks.foreach { w =>
        if (last == Long.MinValue) {
          out += LifecycleRow(key, w, "new"); last = w
        } else if (w == last + 7) {
          out += LifecycleRow(key, w, "retained"); last = w
        } else if (w > last + 7) {
          out += LifecycleRow(key, last, "churned")
          out += LifecycleRow(key, w, "resurrected"); last = w
        } // w ≤ last: duplicate of an absorbed week — no-op
      }
      if (last != Long.MinValue) lastWk.update(last)
      out.iterator
    }
  }

  /** A user-activity week observation with a REAL event timestamp (timer
    * operators need a timestamp column to watermark — the [[TimedEvent]]
    * convention). `weekDay` remains the Monday epoch day. */
  final case class TimedWeekEvent(userId: Long, weekDay: Long, ts: java.sql.Timestamp)

  /** [[LifecycleProcessor]] with EVENT-TIME TIMERS flushing the
    * right-censored churn tail (r10, the wiring SURVEY row 383 promised):
    * the plain twin can only emit `churned` when a LATER week arrives and
    * proves the gap — a user who simply stops is never flushed. Here every
    * batch re-arms a timer at the end of the user's week+1 (epoch ms of
    * day lastWeek+14); when the WATERMARK passes it with no newer
    * activity, the expired timer emits the terminal `churned` row once —
    * exactly the batch query's `churn_next` semantics, now proven by event
    * time instead of the retrospective max-week cut. State is one (long,
    * bool) per user: `last_week_day` plus the churn-emitted latch (so the
    * gap-proof path and the timer path can never double-emit; a
    * resurrection resets it and re-arms). State is kept after churn so a
    * returning user classifies `resurrected`, as in batch — a production
    * deployment bounds the churned tail with TTL if needed. */
  final class LifecycleTimerProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, TimedWeekEvent, LifecycleRow] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode => OM, TimeMode, TimerValues, TTLConfig}
    @transient private var st: org.apache.spark.sql.streaming.ValueState[(Long, Boolean)] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Boolean)]("last_week_day_churn_emitted",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaBoolean), TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[TimedWeekEvent],
        timerValues: TimerValues): Iterator[LifecycleRow] = {
      val weeks = rows.map(_.weekDay).toArray.distinct.sorted
      val out = scala.collection.mutable.ArrayBuffer.empty[LifecycleRow]
      val (last0, emitted0) =
        if (st.exists()) st.get() else (Long.MinValue, false)
      var (last, emitted) = (last0, emitted0)
      weeks.foreach { w =>
        if (last == Long.MinValue) {
          out += LifecycleRow(key, w, "new"); last = w; emitted = false
        } else if (w == last + 7) {
          out += LifecycleRow(key, w, "retained"); last = w; emitted = false
        } else if (w > last + 7) {
          if (!emitted) out += LifecycleRow(key, last, "churned")
          out += LifecycleRow(key, w, "resurrected"); last = w; emitted = false
        } // w ≤ last: duplicate of an absorbed week — no-op
      }
      if (last != Long.MinValue && (last != last0 || emitted != emitted0)) {
        st.update((last, emitted))
        // churn is proven once event time passes the END of week last+1 =
        // the start of day last+14 (weeks step by 7 Monday epoch days).
        // The armed deadline is a pure function of (last, emitted):
        // (last+14)·day when !emitted, none otherwise — so the previous
        // batch's timer is DERIVED from the prior state instead of
        // range-scanned via listTimers() (a per-key RocksDB iterator that
        // was 3-4x of this processor's cost — BASELINE.md's round-12
        // lifecycle-timer A/B). A divergent stray timer is impossible from
        // this writer, and handleExpiredTimer's stale-deadline guard makes
        // one a no-op anyway (defend in depth).
        val oldDl = if (last0 != Long.MinValue && !emitted0)
          (last0 + 14) * 86400000L else -1L
        val newDl = if (!emitted) (last + 14) * 86400000L else -1L
        if (oldDl != newDl) {
          if (oldDl >= 0) getHandle.deleteTimer(oldDl)
          if (newDl >= 0) getHandle.registerTimer(newDl)
        }
      }
      out.iterator
    }

    override def handleExpiredTimer(
        key: Long,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[LifecycleRow] = {
      if (!st.exists()) return Iterator.empty
      val (last, emitted) = st.get()
      // stale-timer guard: only the CURRENT week's deadline may fire (a
      // resurrection deletes + re-arms, but defend in depth)
      if (emitted || expiredTimerInfo.getExpiryTimeInMs < (last + 14) * 86400000L)
        Iterator.empty
      else {
        st.update((last, true))
        Iterator.single(LifecycleRow(key, last, "churned"))
      }
    }
  }

  /** [[LifecycleTimerProcessor]] over a watermarked week stream — the
    * caller applies `withWatermark` on `ts` upstream (the [[idleBuckets]]
    * contract). */
  def lifecycleTimerStream(weeks: Dataset[TimedWeekEvent]): Dataset[LifecycleRow] = {
    import weeks.sparkSession.implicits._
    weeks
      .groupByKey(_.userId)
      .transformWithState(
        new LifecycleTimerProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Update())
  }

  /** See [[LifecycleProcessor]]. */
  def lifecycleStream(weeks: Dataset[WeekEvent]): Dataset[LifecycleRow] = {
    import weeks.sparkSession.implicits._
    weeks
      .groupByKey(_.userId)
      .transformWithState(
        new LifecycleProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  // ---- streaming SRM gate (added r12) -------------------------------------

  /** One running-count emission per split arm per micro-batch. */
  final case class SplitCountRow(split: String, n: Long)

  /** Streaming twin of the batch `ab_srm_check` COUNTING stage: per split
    * arm (train/val/test, the SAME md5-band rule text as the batch query),
    * ONE long of state — the running assignment count. Counting is
    * associative and duplicate-free by construction (each arriving doc_id
    * increments exactly once), so the FINAL per-arm counts are bit-equal
    * to the batch aggregate on ANY micro-batch split; the consumer closes
    * the gate by running the batch chain's three srmTerm cells over the
    * final counts — the spec pins both. The operational point: a training
    * pipeline streaming shards into a split can watch the SRM gate LIVE
    * instead of discovering a broken assignment after the epoch. */
  final class SrmProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, String, SplitCountRow] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig}
    @transient private var n: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      n = getHandle.getValueState[Long]("n",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(
        key: String,
        rows: Iterator[String],
        timerValues: TimerValues): Iterator[SplitCountRow] = {
      val cur = (if (n.exists()) n.get() else 0L) + rows.size
      n.update(cur)
      Iterator.single(SplitCountRow(key, cur))
    }
  }

  /** See [[SrmProcessor]]. Input: a streaming frame with a `doc_id` BIGINT
    * column; the split rule is the batch query's expression text verbatim. */
  def srmStream(ids: org.apache.spark.sql.DataFrame): Dataset[SplitCountRow] = {
    import ids.sparkSession.implicits._
    ids
      .select(org.apache.spark.sql.functions.expr(
        "substring(md5(concat('split:', cast(doc_id as string))), 1, 2)").as("h2"))
      .select(org.apache.spark.sql.functions
        .when(org.apache.spark.sql.functions.col("h2") < "cc", "train")
        .when(org.apache.spark.sql.functions.col("h2") < "e6", "val")
        .otherwise("test").as("split"))
      .as[String]
      .groupByKey(identity)
      .transformWithState(
        new SrmProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  // ---- streaming PII release gate (added r13) -----------------------------

  /** One running per-event-type PII accounting emission — the stream twin
    * of the batch `pii_audit` row (all count columns; `share_clean` is the
    * consumer's ONE bare division, the srmStream chi2 discipline). r14:
    * card (Luhn-gated) and IPv4 classes added alongside the batch gate. */
  final case class PiiCountRow(
      eventType: String, nRows: Long,
      rowsEmail: Long, rowsPhone: Long, rowsUrl: Long,
      rowsCard: Long, rowsIp: Long,
      nEmail: Long, nPhone: Long, nUrl: Long, nCard: Long, nIp: Long,
      nDigitResidual: Long, rowsClean: Long)

  /** Per-row span-class counts entering the gate (the shared
    * [[graft.queries.PrivacyQueries.piiClassified]] projection). */
  final case class PiiSpan(eventType: String, nu: Long, ne: Long, np: Long,
      nc: Long, ni: Long, nd: Long)

  /** Streaming twin of the batch `pii_audit` release gate (r12 verdict #7):
    * the gate should run AT INGEST, not post-hoc. Span classification is
    * the map-only shared [[graft.queries.PrivacyQueries.piiClassified]]
    * projection (the masker's own regex chain, so live gate ≡ post-hoc
    * audit by construction); state is 13 longs per event type — the running
    * accounting row. Every sum is associative and each arriving event
    * contributes exactly once, so the FINAL per-type rows are bit-equal to
    * the batch aggregate on ANY micro-batch split (spec-pinned). A release
    * rule ("rows_email must stay 0") reads the latest emission per type
    * live instead of discovering a leak after the export. */
  final class PiiAuditProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, PiiSpan, PiiCountRow] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig}
    @transient private var acc: org.apache.spark.sql.streaming.ValueState[PiiCountRow] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      acc = getHandle.getValueState[PiiCountRow]("acc",
        org.apache.spark.sql.Encoders.product[PiiCountRow], TTLConfig.NONE)

    override def handleInputRows(
        key: String,
        rows: Iterator[PiiSpan],
        timerValues: TimerValues): Iterator[PiiCountRow] = {
      var cur =
        if (acc.exists()) acc.get()
        else PiiCountRow(key, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
      rows.foreach { r =>
        cur = PiiCountRow(key,
          cur.nRows + 1L,
          cur.rowsEmail + (if (r.ne > 0) 1L else 0L),
          cur.rowsPhone + (if (r.np > 0) 1L else 0L),
          cur.rowsUrl + (if (r.nu > 0) 1L else 0L),
          cur.rowsCard + (if (r.nc > 0) 1L else 0L),
          cur.rowsIp + (if (r.ni > 0) 1L else 0L),
          cur.nEmail + r.ne,
          cur.nPhone + r.np,
          cur.nUrl + r.nu,
          cur.nCard + r.nc,
          cur.nIp + r.ni,
          cur.nDigitResidual + r.nd,
          cur.rowsClean
            + (if (r.ne == 0 && r.np == 0 && r.nu == 0 && r.nc == 0
                   && r.ni == 0 && r.nd == 0) 1L else 0L))
      }
      acc.update(cur)
      Iterator.single(cur)
    }
  }

  /** See [[PiiAuditProcessor]]. Input: a streaming frame with `user_id`,
    * `props`, `event_type` columns (the events wire shape). */
  def piiStream(events: org.apache.spark.sql.DataFrame): Dataset[PiiCountRow] = {
    import events.sparkSession.implicits._
    graft.queries.PrivacyQueries.piiClassified(events)
      .select(org.apache.spark.sql.functions.col("event_type").as("eventType"),
        org.apache.spark.sql.functions.col("nu"),
        org.apache.spark.sql.functions.col("ne"),
        org.apache.spark.sql.functions.col("np"),
        org.apache.spark.sql.functions.col("nc"),
        org.apache.spark.sql.functions.col("ni"),
        org.apache.spark.sql.functions.col("nd"))
      .as[PiiSpan]
      .groupByKey(_.eventType)
      .transformWithState(
        new PiiAuditProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  // ---- streaming quality-band histogram (added r13) ------------------------

  /** One running (band, count) emission — the live quality histogram the
    * Otsu threshold derives from. */
  final case class BandCount(band: Long, n: Long)

  /** Streaming twin of the quality-band histogram beneath
    * otsu_quality_threshold / pipeline_curation's derived cutoff: band
    * classification is the SHARED map-only
    * [[graft.queries.SelectionQueries.qualityBand]] projection, state is
    * ONE long per band (≤101 keys — never a single-key bottleneck, and
    * the per-batch shuffle collapses to ≤101 rows via the groupByKey
    * partial), counting is associative and exactly-once per doc, so the
    * FINAL per-band counts are bit-equal to the batch histogram on ANY
    * micro-batch split. The consumer closes the loop by running the Otsu
    * argmax over the latest counts — a training pipeline watches its
    * DATA-DRIVEN curation threshold move live instead of recomputing it
    * per epoch (spec pins final counts ≡ batch hist AND the replayed
    * argmax ≡ otsu_quality_threshold's row). */
  final class QualityHistProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Long, BandCount] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig}
    @transient private var n: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      n = getHandle.getValueState[Long]("n",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[Long],
        timerValues: TimerValues): Iterator[BandCount] = {
      val cur = (if (n.exists()) n.get() else 0L) + rows.size
      n.update(cur)
      Iterator.single(BandCount(key, cur))
    }
  }

  /** See [[QualityHistProcessor]]. Input: a streaming frame with the
    * documents wire shape (`text` column; the score reads only text). */
  def qualityBandStream(docs: org.apache.spark.sql.DataFrame): Dataset[BandCount] = {
    import docs.sparkSession.implicits._
    graft.queries.SelectionQueries.qualityBand(docs)
      .select(org.apache.spark.sql.functions.col("g")).as[Long]
      .groupByKey(identity)
      .transformWithState(
        new QualityHistProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  // ---- streaming DAU stickiness (added r10) -------------------------------

  /** One per-user-per-day activity emission: `returning` = the user was
    * also active the previous calendar day. */
  final case class StickRow(userId: Long, epochDay: Long, returning: Boolean)

  /** Streaming twin of the batch `dau_stickiness` query: per user, each
    * newly-absorbed active day emits whether it CONTINUES yesterday's
    * activity — so per-day (count, count-where-returning) equal the batch
    * (dau, n_returning) columns ON EVERY DAY THE BATCH QUERY EMITS, i.e.
    * days whose previous calendar day had a non-empty active set (the
    * batch inner-joins day d to day d−1 and so drops the first day and
    * any day after a corpus-wide gap; the stream emits rows for ALL
    * active days — on the extra days its `returning` count is 0 by
    * construction, since no user can have been active on an empty day).
    * Spec-pinned across a mid-stream split on the batch-emitted days;
    * the downstream per-day roll-up is the consumer's trivial agg.
    * State is ONE long per user (`last_day`); duplicate days no-op; the
    * funnel ordering contract applies across batches. */
  final class StickinessProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, DayEvent, StickRow] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig}
    @transient private var lastDay: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      lastDay = getHandle.getValueState[Long]("last_day",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[DayEvent],
        timerValues: TimerValues): Iterator[StickRow] = {
      val days = rows.map(_.epochDay).toArray.distinct.sorted
      var last = if (lastDay.exists()) lastDay.get() else Long.MinValue
      val out = scala.collection.mutable.ArrayBuffer.empty[StickRow]
      days.foreach { d =>
        if (d > last) {
          out += StickRow(key, d, last != Long.MinValue && d == last + 1)
          last = d
        } // d ≤ last: duplicate of an absorbed day — no-op
      }
      if (last != Long.MinValue) lastDay.update(last)
      out.iterator
    }
  }

  /** See [[StickinessProcessor]]. */
  def stickinessStream(days: Dataset[DayEvent]): Dataset[StickRow] = {
    import days.sparkSession.implicits._
    days
      .groupByKey(_.userId)
      .transformWithState(
        new StickinessProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  // ---- streaming Page-Hinkley drift monitor (added r10) -------------------

  /** A Page-Hinkley emission for one processed day: the exact micro-grid
    * excursion and whether it crossed λ. Input rides the shared
    * [[DayCount]] (holtStream's day-grain observation type). */
  final case class PhRow(eventType: String, epochDay: Long, exc6: Long, alarm: Boolean)

  /** Streaming twin of the batch `page_hinkley_drift` query: per event
    * type, the PH recursion (prefix mean on the exact micro grid
    * S·10⁶ div t, cumulative deviation, running min) maintained
    * incrementally — each arriving day emits its excursion and alarm flag,
    * bit-equal to the batch column (spec pins the full sequence across a
    * mid-stream split + checkpoint recovery). State is FIVE longs per type
    * (t, s, ph6, runmin6, last_day); in-batch disorder repairs in the
    * sort; days ≤ the absorbed frontier are duplicates and no-op (the
    * funnel ordering contract across batches). */
  final class PageHinkleyProcessor(lambda6: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, DayCount, PhRow] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig}
    @transient private var st: org.apache.spark.sql.streaming.ValueState[
      (Long, Long, Long, Long, Long)] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Long, Long, Long)](
        "t_s_ph6_runmin6_lastday",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong), TTLConfig.NONE)

    override def handleInputRows(
        key: String,
        rows: Iterator[DayCount],
        timerValues: TimerValues): Iterator[PhRow] = {
      val days = rows.map(r => (r.epochDay, r.c)).toArray
        .groupBy(_._1).map { case (d, xs) => (d, xs.map(_._2).max) } // dup day: one obs
        .toArray.sortBy(_._1)
      var (t, s, ph, runmin, lastDay) =
        if (st.exists()) st.get() else (0L, 0L, 0L, Long.MaxValue, Long.MinValue)
      val out = scala.collection.mutable.ArrayBuffer.empty[PhRow]
      days.foreach { case (d, x) =>
        if (d > lastDay) {
          t += 1; s += x
          val dev6 = x * 1000000L - (s * 1000000L) / t
          ph += dev6
          runmin = math.min(runmin, ph)
          out += PhRow(key, d, ph - runmin, ph - runmin > lambda6)
          lastDay = d
        } // d ≤ lastDay: duplicate of an absorbed day — no-op
      }
      if (t > 0) st.update((t, s, ph, runmin, lastDay))
      out.iterator
    }
  }

  /** See [[PageHinkleyProcessor]]; λ = 50 events/day on the micro grid,
    * the batch query's constant. */
  def pageHinkleyStream(days: Dataset[DayCount],
      lambda6: Long = 50L * 1000000L): Dataset[PhRow] = {
    import days.sparkSession.implicits._
    days
      .groupByKey(_.eventType)
      .transformWithState(
        new PageHinkleyProcessor(lambda6),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  // ---- streaming activity streaks (added r8) -----------------------------

  /** One user-activity observation at day grain (epoch days). */
  final case class DayEvent(userId: Long, epochDay: Long)

  /** A streak emission: `closed` streaks are final (a gap started a new
    * run); the `closed = false` row is the user's LIVE streak as of the
    * latest batch, re-emitted (with a growing `endDay`) as it extends. */
  final case class StreakRow(userId: Long, startDay: Long, endDay: Long,
      lenDays: Long, closed: Boolean)

  /** The streaming twin of the batch `gaps_islands` query: per user,
    * collapse arriving active days into maximal consecutive-day runs,
    * emitting a CLOSED streak the moment a gap day arrives and the live
    * open streak after every batch — the "current streak" engagement
    * counter as a continuously-maintained state, with closed islands
    * converging to the batch query exactly (spec-pinned across a
    * mid-stream split: closed rows ∪ latest-open rows ≡ batch islands).
    * State is TWO longs per user (`streak_start_day`, `last_day` — epoch
    * days, unit in name). Duplicate days within a batch collapse in the
    * in-batch sort; across batches the funnel ordering contract applies. */
  final class IslandsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, DayEvent, StreakRow] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig}
    @transient private var streak: org.apache.spark.sql.streaming.ValueState[(Long, Long)] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      streak = getHandle.getValueState[(Long, Long)]("streak_start_last_day",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong), TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[DayEvent],
        timerValues: TimerValues): Iterator[StreakRow] = {
      val days = rows.map(_.epochDay).toArray.distinct.sorted
      var (start, last) =
        if (streak.exists()) streak.get() else (Long.MinValue, Long.MinValue)
      val out = scala.collection.mutable.ArrayBuffer.empty[StreakRow]
      days.foreach { d =>
        if (last == Long.MinValue) { start = d; last = d }
        else if (d == last + 1) last = d
        else if (d > last + 1) {
          out += StreakRow(key, start, last, last - start + 1, closed = true)
          start = d; last = d
        } // d ≤ last: duplicate of an already-absorbed day — no-op
      }
      if (last != Long.MinValue) {
        streak.update((start, last))
        out += StreakRow(key, start, last, last - start + 1, closed = false)
      }
      out.iterator
    }
  }

  /** Streaming gaps-and-islands over user-day activity, Update mode. */
  def islandsStream(days: Dataset[DayEvent]): Dataset[StreakRow] = {
    import days.sparkSession.implicits._
    days
      .groupByKey(_.userId)
      .transformWithState(
        new IslandsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Chained debounce over a stream of events, Update mode. */
  def debounceStream(events: Dataset[DebounceEvent], gapUs: Long): Dataset[DebounceDecision] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.userId, e.eventType))
      .transformWithState(
        new DebounceProcessor(gapUs),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  // ---- streaming packer accounting (added r8) ----------------------------

  /** An incoming document's token count, keyed into the packer's streams. */
  final case class PackDoc(source: String, docId: Long, nTokens: Long)

  /** Running accounting for one (source, blk) packer stream. */
  final case class PackStat(source: String, blk: Long, nDocs: Long,
      nTokens: Long, nPacks: Long, nPadding: Long)

  /** The streaming twin of the batch `pack_efficiency` audit at one pack
    * length: as documents arrive, maintain per-(source, 200-doc-block)
    * running token totals and emit the stream's updated pack/padding
    * accounting — the live "how much padding is tonight's crawl going to
    * cost" dashboard, converging to the batch table exactly (spec-pinned
    * across a mid-stream batch split). Integer-only, the batch query's
    * ceil-via-div arithmetic verbatim; only the LAST pack of a stream is
    * partial, so padding = n_packs·L − n_tokens at every prefix. State is
    * TWO longs per (source, blk) key — the packer's own partitioning, so
    * state cardinality is corpus/200 keys, each O(1). */
  final class PackProcessor(packLen: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        (String, Long), PackDoc, PackStat] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig}
    @transient private var totals: org.apache.spark.sql.streaming.ValueState[(Long, Long)] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[(Long, Long)]("docs_tokens",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong), TTLConfig.NONE)

    override def handleInputRows(
        key: (String, Long),
        rows: Iterator[PackDoc],
        timerValues: TimerValues): Iterator[PackStat] = {
      var (docs, toks) = if (totals.exists()) totals.get() else (0L, 0L)
      rows.foreach { d => docs += 1; toks += d.nTokens }
      totals.update((docs, toks))
      val packs = (toks + packLen - 1) / packLen
      Iterator.single(
        PackStat(key._1, key._2, docs, toks, packs, packs * packLen - toks))
    }
  }

  /** Running pack/padding accounting per (source, 200-doc block), Update
    * mode; `packLen` defaults to the batch packer's 256. */
  def packStream(docs: Dataset[PackDoc], packLen: Long = 256L): Dataset[PackStat] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(d => (d.source, d.docId / 200L))
      .transformWithState(
        new PackProcessor(packLen),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  // ---- streaming near-duplicate alerts vs a static corpus index ----------

  /** Build the near-dup INDEX from a static (doc_id, text, ...) corpus: the
    * banded minhash signature frame (`doc_id`, `shingles`, band key `bk`).
    * Persist/bucket it by `bk` at rest for the alert join. The SAME
    * construction ([[graft.queries.TextQueries.bandedSignatures]]) runs on
    * the stream side, so index and stream can never band differently. */
  def nearDupIndex(docs: DataFrame): DataFrame =
    graft.queries.TextQueries.bandedSignatures(docs)
      .select(col("doc_id"), col("shingles"), col("bk"))

  /** Online dedup: alert once per (incoming doc, indexed near-dup). The
    * stream side computes shingles → minhash signature → band keys as a
    * stateless projection per micro-batch; candidates come from a
    * stream-static equi-join on the band key (the same subquadratic
    * candidate generation as the batch `dedup_minhash_lsh` query — never a
    * cartesian); exact Jaccard verifies candidates, so precision is 1. A
    * true near-dup shares several bands → duplicate candidate rows; the
    * final `dropDuplicatesWithinWatermark` collapses them, so state holds
    * only ALERTED (doc, dup_of) pairs inside the watermark horizon —
    * proportional to the dup rate, not the corpus (the index itself is
    * static, outside the state store).
    *
    * At 100 TB: bucket the index by `bk` so the per-batch join is
    * shuffle-free on the stream side; the index size is corpus-sized but
    * the join touches only colliding buckets. */
  def nearDupAlertStream(
      docs: DataFrame,
      tsCol: String,
      index: DataFrame,
      threshold: Double = 0.5,
      watermark: String = "10 minutes"): DataFrame = {
    val stream = graft.queries.TextQueries.bandedSignatures(docs)
      .withWatermark(tsCol, watermark)
    val idx = index.select(col("doc_id").as("dup_of"),
      col("shingles").as("dup_sh"), col("bk"))
    stream.join(idx, Seq("bk"))
      .filter(col("doc_id") =!= col("dup_of"))
      .withColumn("jacc",
        size(array_intersect(col("shingles"), col("dup_sh"))).cast("double")
          / size(array_union(col("shingles"), col("dup_sh"))))
      .filter(col("jacc") >= threshold)
      .select(col("doc_id"), col(tsCol), col("dup_of"), col("jacc"))
      .dropDuplicatesWithinWatermark(Seq("doc_id", "dup_of"))
  }

  // ---- streaming distribution drift vs a reference mix -------------------

  /** Streaming twin of the batch `type_drift` query: per event-time window,
    * KL divergence of the window's event-type distribution against a STATIC
    * reference distribution (in batch the reference is the corpus's own
    * global mix; in a stream it is supplied — yesterday's mix, the trained
    * mix, an SLA mix). One declarative watermarked window aggregation in
    * append mode: the per-type counts are conditional sums inside a single
    * groupBy(window) — no chained stateful aggs, state is one row per open
    * window, and each closed window emits exactly once.
    *
    * `refLn6(t)` must be `ln(p_ref(t))` on [[graft.queries.LnGrid]]'s
    * integer 10⁻⁶ grid (r8 — the engine-version-proof rebuild of the old
    * 6 dp decimal grid; derive it with [[typeDriftRefMix]] so the
    * construction provably matches). With p_ref = the batch corpus mix the
    * stream reproduces the batch type_drift numbers EXACTLY (spec-pinned):
    * counts are exact longs, grid values subtract exactly as int64, and
    * the final normalize is the same one bare double division. Events
    * whose type is outside the reference taxonomy are counted in
    * `n_other` (a drift monitor must surface novel types, not silently
    * drop them) but carry no KL mass — the reference assigns them no
    * probability.
    */
  def driftStream(
      events: DataFrame,
      tsCol: String,
      typeCol: String,
      windowDur: String,
      refLn6: Map[String, Long],
      watermark: String = "10 minutes"): DataFrame = {
    val types = refLn6.keys.toSeq.sorted
    val counts = types.map(t =>
      sum(when(col(typeCol) === t, 1L).otherwise(0L)).as(s"c_$t")) :+
      sum(when(col(typeCol).isin(types: _*), 0L).otherwise(1L)).as("n_other")
    val agged = events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur).as("w"))
      .agg(counts.head, counts.tail: _*)
    val nW = types.map(t => col(s"c_$t")).reduce(_ + _)
    var df = agged.withColumn("n_w", nW).filter(col("n_w") > 0L)
    // one LnGrid chain per reference type — stateless projections after
    // the window agg, so append/update semantics are untouched; a zero
    // count nulls its chain (lo-floor gate) and the `when` below skips it
    for ((t, i) <- types.zipWithIndex)
      df = graft.queries.LnGrid.withLn6(df, col(s"c_$t"), col("n_w"), s"__l$i", s"__l${i}_")
    // Σ_t c_t · (ln6(c_t/n_w) − ln6(p_ref(t))) over types present in the
    // window — exact int64 arithmetic, same grid as the batch query.
    val k6 = types.zipWithIndex.map { case (t, i) =>
      val c = col(s"c_$t")
      when(c > 0L, c * (col(s"__l$i") - lit(refLn6(t)))).otherwise(0L)
    }.reduce(_ + _)
    df.withColumn("k6", k6)
      .select(col("w").getField("start").as("w_start"),
        col("n_w").as("n_events"), col("n_other"),
        (col("k6").cast("double")
          / (col("n_w") * lit(1000000L)).cast("double")).as("drift_nats"))
  }

  /** Derives [[driftStream]]'s reference mix from a BATCH events frame via
    * the SAME [[graft.queries.LnGrid]] construction the batch type_drift
    * query puts its global term on — the supply chain the r7 verdict asked
    * to pin: when the grid changes, both legs change together or a spec
    * breaks; they cannot silently diverge. The collect is over ≤ \|types\|
    * rows. */
  def typeDriftRefMix(events: DataFrame, typeCol: String = "event_type"): Map[String, Long] = {
    val g = events.groupBy(typeCol).agg(count(lit(1)).as("c_t"))
    val tot = g.agg(sum(col("c_t")).as("n"))
    graft.queries.LnGrid.withLn6(g.crossJoin(broadcast(tot)), col("c_t"), col("n"), "l6")
      .select(col(typeCol), col("l6"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  // ---- streaming volume anomalies vs reference daily statistics ----------

  /** Streaming twin of the batch `daily_anomalies` query: per event-time
    * window and event type, flag windows whose volume exceeds the
    * reference mean + 3σ. In batch the reference statistics are the
    * corpus's own per-type daily profile; in a stream they are supplied —
    * last month's profile, the provisioned capacity model.
    *
    * `refStats(type) = (n, ss, q)`: day count, Σcount, Σcount² of the
    * reference period — exact integers, so the batch query's
    * cross-multiplied detection rule applies verbatim:
    * `anomaly ⟺ dev > 0 ∧ dev² > 9·(n·q − ss²)` with `dev = n·c − ss`,
    * compared as DECIMAL(38,0) — no float can flip a verdict, and with
    * refStats taken from the batch corpus itself the emissions reproduce
    * the batch rows EXACTLY (spec-pinned). The reported z is the same
    * 2-op float shadow (sqrt of an exact cast, one division).
    *
    * One declarative watermarked window aggregation in append mode — state
    * is one count per open (window, type), each closed window emits once;
    * the reference table is a broadcast-sized static frame. Types outside
    * the reference taxonomy are emitted with NULL z/is_anomaly (a volume
    * monitor must surface novel types, not drop them — the driftStream
    * `n_other` discipline), never scored against a stats row they lack.
    */
  def anomalyStream(
      events: DataFrame,
      tsCol: String,
      typeCol: String,
      refStats: Map[String, (Long, Long, Long)],
      windowDur: String = "1 day",
      watermark: String = "10 minutes"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val ref = broadcast(
      refStats.toSeq.map { case (t, (n, ss, q)) => (t, n, ss, q) }
        .toDF(typeCol, "n", "ss", "q"))
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur).as("w"), col(typeCol))
      .agg(count(lit(1)).as("c"))
      .join(ref, Seq(typeCol), "left")
      .withColumn("dev", (col("n") * col("c") - col("ss")).cast("decimal(38,0)"))
      .withColumn("var_n2", (col("n") * col("q") - col("ss") * col("ss")).cast("decimal(38,0)"))
      .select(col(typeCol), col("w").getField("start").as("w_start"), col("c"),
        when(col("n").isNull, lit(null).cast("double"))
          .when(col("var_n2") === 0, lit(0.0d))
          .otherwise(col("dev").cast("double") / sqrt(col("var_n2").cast("double"))).as("z"),
        when(col("n").isNull, lit(null).cast("int"))
          .otherwise((col("dev") > 0 && col("dev") * col("dev") > lit(9) * col("var_n2"))
            .cast("int")).as("is_anomaly"))
  }

  // ---- streaming HyperLogLog distinct-count audit (added r11) ------------

  /** One keyed item observation for the streaming HLL sketch. */
  final case class HllItem(groupKey: String, itemId: Long)

  /** Per-batch sketch emission: register occupancy + the two estimates,
    * each recomputed from the merged registers (Update mode — the last
    * emission per key is the current cardinality estimate). */
  final case class HllRow(groupKey: String, nBucketsUsed: Long, vZero: Long,
      hllRaw: Double, hllEst: Double)

  /** Streaming twin of the batch `hll_distinct_audit` sketch side: per key,
    * 64 HLL registers maintained as transformWithState state (64 BYTES per
    * key — the whole point of the sketch: state is constant regardless of
    * cardinality), max-merged per arriving item. Because register merge is
    * an idempotent, commutative, associative max, the stream's final
    * registers — and therefore the raw α·m²·2⁶²/S estimate and the
    * linear-counting branch — equal the batch query's bit-for-bit on any
    * batch split or arrival order (spec-pinned; duplicates are free). The
    * estimate chain reuses the batch spelling exactly: exact BigInt
    * harmonic sum, one IEEE division, [[graft.queries.LnGrid.ln6Ref]] for
    * the m·ln(m/V) small-range branch. */
  final class HllProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, HllItem, HllRow] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig}
    @transient private var regs: org.apache.spark.sql.streaming.ValueState[Array[Byte]] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      regs = getHandle.getValueState[Array[Byte]]("hll_registers",
        org.apache.spark.sql.Encoders.BINARY, TTLConfig.NONE)

    override def handleInputRows(
        key: String,
        rows: Iterator[HllItem],
        timerValues: TimerValues): Iterator[HllRow] = {
      val m = if (regs.exists()) regs.get() else new Array[Byte](64)
      // one digest instance per handleInputRows call (single-threaded here;
      // MessageDigest.getInstance("MD5") is a cheap lookup)
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.foreach { it =>
        // the batch query's md5 spelling verbatim: 'hll:' || CAST(id AS STRING)
        val h = md.digest(s"hll:${it.itemId}".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        val h8 = Integer.parseInt(h.substring(0, 2), 16)
        val b = h8 / 4
        val sfx = h.substring(2, 17)
        val zs = sfx.takeWhile(_ == '0').length
        val rho =
          if (zs >= 15) 61
          else {
            val cv = Integer.parseInt(sfx.charAt(zs).toString, 16)
            val lead = if (cv >= 8) 0 else if (cv >= 4) 1 else if (cv >= 2) 2 else 3
            zs * 4 + lead + 1
          }
        if (rho > m(b)) m(b) = rho.toByte
      }
      regs.update(m)
      val present = m.count(_ > 0)
      val vZero = 64L - present
      val s62 = m.map(x => if (x > 0) BigInt(1) << (62 - x.toInt) else BigInt(1) << 62).sum
      val raw = ((0.709 * 4096.0) * 4611686018427387904.0) / s62.toDouble
      val est =
        if (raw <= 160.0 && vZero > 0)
          (64.0 * graft.queries.LnGrid.ln6Ref(64, math.max(vZero, 1L)).toDouble) / 1000000.0
        else raw
      Iterator.single(HllRow(key, present.toLong, vZero, raw, est))
    }
  }

  /** See [[HllProcessor]]. */
  def hllStream(items: Dataset[HllItem]): Dataset[HllRow] = {
    import items.sparkSession.implicits._
    items
      .groupByKey(_.groupKey)
      .transformWithState(
        new HllProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  // ---- FAIR-pool priority scheduling ------------------------------------

  /** The Spark-native expression of bucket priority at execution time: a
    * FAIR pool per bucket with weight = allocation percent, so a 70%-bucket
    * query gets ~7× the task slots of a 10%-bucket query under contention.
    *
    * Usage: call [[allocationFileXml]] / [[writeAllocationFile]] BEFORE
    * building the session, set `spark.scheduler.mode=FAIR` and
    * `spark.scheduler.allocation.file=<path>`; then wrap each per-bucket
    * query body in [[inBucketPool]].
    */
  object PriorityPools {
    def allocationFileXml(cfg: BucketPriorityConfig): String = {
      def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;")
        .replace(">", "&gt;").replace("\"", "&quot;")
      val pools = cfg.buckets.zip(cfg.allocation).map { case (b, a) =>
        s"""  <pool name="${esc(b)}">
           |    <schedulingMode>FAIR</schedulingMode>
           |    <weight>$a</weight>
           |    <minShare>0</minShare>
           |  </pool>""".stripMargin
      }.mkString("\n")
      s"<?xml version=\"1.0\"?>\n<allocations>\n$pools\n</allocations>\n"
    }

    def writeAllocationFile(cfg: BucketPriorityConfig, dir: String): java.nio.file.Path = {
      val p = java.nio.file.Paths.get(dir, s"fairscheduler-${cfg.topic}.xml")
      java.nio.file.Files.writeString(p, allocationFileXml(cfg))
      p
    }

    /** Run `body` (e.g. a writeStream.start) inside the bucket's pool,
      * restoring whatever pool the calling thread was already in. */
    def inBucketPool[T](spark: SparkSession, bucket: String)(body: => T): T = {
      val prev = spark.sparkContext.getLocalProperty("spark.scheduler.pool")
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", bucket)
      try body
      finally spark.sparkContext.setLocalProperty("spark.scheduler.pool", prev)
    }

    /** The Kafka-source `assign` option for a per-bucket streaming query:
      * JSON listing exactly the bucket's partitions (the §2.1 `assign`
      * operational mapping). */
    def assignJson(cfg: BucketPriorityConfig, numPartitions: Int, bucket: String): String = {
      require(cfg.buckets.contains(bucket),
        s"unknown bucket '$bucket' — configured buckets: ${cfg.buckets.mkString(", ")}")
      val parts = BucketLayout.layout(cfg, numPartitions).toMap.getOrElse(bucket, Seq.empty)
      s"""{"${cfg.topic}":[${parts.mkString(",")}]}"""
    }

    /** Full reader options for one bucket's streaming query:
      * `spark.readStream.format("kafka").options(kafkaSourceOptions(...))`.
      * (This container ships no Kafka connector or broker, so the wiring is
      * exercised as a pure function; on a real cluster it is the complete
      * per-bucket consumer configuration.) */
    def kafkaSourceOptions(
        cfg: BucketPriorityConfig,
        numPartitions: Int,
        bucket: String,
        bootstrapServers: String,
        startingOffsets: String = "earliest"
    ): Map[String, String] = Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "assign" -> assignJson(cfg, numPartitions, bucket),
      "startingOffsets" -> startingOffsets,
      "failOnDataLoss" -> "false")
  }
}
