package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.functions.{MinhashFunctions, ShingleFunctions}
import graft.streaming.PriorityStreams
import graft.streaming.PriorityStreams.PriorityPools

/** `stream_priority`: the paper's pipeline under contention, open loop.
  *
  * generator thread ─▶ JSON files in `src` ─▶ router query (routeStream,
  * discard unroutable) ─▶ JSON files `log/p<k>/b<batch>-<i>`, one
  * directory per partition of the topic they stand in for ─▶ one consumer
  * query per bucket over its own partitions, in its FAIR pool:
  * dedupWithinWatermark(event_id) → shingleSet → minhashSignature →
  * foreachBatch sink.
  *
  * The generator writes one file per tick on a fixed schedule and never
  * waits for the system; an event's latency runs from its due time to the
  * return of the sink write that emits it. Backlog grows in the log, since
  * every consumer reads a bounded number of events per one-second trigger.
  *
  * Exactly-once check, per bucket, over committed batches only: the events
  * in the log files the consumer's committed batches read (from the file
  * source's own log in the checkpoint) must each be emitted exactly once,
  * and each must belong to the bucket; every routable event in the source
  * files the router committed must reach the log exactly once per copy.
  */
object Stream {
  // Pipeline constants, chosen on a 4-core box (workloads.json "regime").
  private val TickMs = 100L
  // A fixed router period, so the log grows in steps that stay in phase with
  // the consumers' fixed period.
  private val RouterTriggerMs = 2000L
  // Three times the generator's 20 files per router period, so the router
  // catches up after a slow batch instead of carrying the lag forward.
  private val RouterMaxFiles = 60L
  // At most LogFileRows events per log file and ConsumerMaxFiles files per
  // partition per trigger: 300 events, the analogue of maxOffsetsPerTrigger.
  private val LogFileRows = 100
  private val ConsumerMaxFiles = 3L
  // With a fixed consumer period, a saturated bucket's capacity is its
  // partition count times that cap per period, as long as its batches fit
  // in the period; run-to-run CPU contention then shows in latency, not in
  // how the capacity is split.
  private val ConsumerTriggerMs = 1000L
  private val StatePartitions = 2
  private val DupFrac = 0.02
  private val DrainMs = 10000L
  private val WarmSeconds = 10.0
  val PayloadDocs = 2

  def parseRates(s: String): Map[String, Double] =
    s.split(",").map(_.split(":")).map(a => a(0).trim -> a(1).trim.toDouble).toMap

  private val srcSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("key", StringType),
    StructField("payload", StringType), StructField("created_ms", LongType)))

  final case class Emit(batch: Long, id: Long, createdMs: Long, emitMs: Long)
  final case class SinkBatch(batch: Long, rows: Int, writeMs: Double, endMs: Long)

  /** One running pipeline and everything it has recorded. */
  final class Pipeline(spark: SparkSession, cfg: Main.Cfg, root: String) {
    val srcDir = s"$root/src"
    val logDir = s"$root/log"
    val ckDir = s"$root/ck"
    val outDir = s"$root/out"
    Seq(srcDir, logDir, ckDir, outDir).foreach(d => new File(d).mkdirs())

    val emits: Map[String, ArrayBuffer[Emit]] = Events.Buckets.map(_ -> ArrayBuffer.empty[Emit]).toMap
    val sinkBatches: Map[String, ArrayBuffer[SinkBatch]] =
      Events.Buckets.map(_ -> ArrayBuffer.empty[SinkBatch]).toMap
    private val writers = Events.Buckets.map(b =>
      b -> new java.io.BufferedWriter(new java.io.FileWriter(s"$outDir/$b.tsv"))).toMap

    // a typed function value selects the Scala overload of foreachBatch
    private def foreachBatchOf(f: (DataFrame, Long) => Unit) = f

    val router: StreamingQuery = {
      val src = spark.readStream.schema(srcSchema)
        .option("maxFilesPerTrigger", RouterMaxFiles)
        .json(srcDir)
        .withColumn("ts", timestamp_millis(col("created_ms")))
      val routed = PriorityStreams.routeStream(src, Events.config, Events.Partitions, col("key"),
        discardUnroutable = true)
      routed.writeStream.queryName("router")
        .option("checkpointLocation", s"$ckDir/router")
        .trigger(Trigger.ProcessingTime(RouterTriggerMs))
        .foreachBatch(foreachBatchOf { (bdf, id) =>
          // the producer side: one batch of routed events appended to the
          // log's partitions, in files of at most LogFileRows events
          val rows = bdf.select("event_id", "key", "payload", "created_ms", "pt").collect()
          rows.groupBy(_.getInt(4)).foreach { case (pt, rs) =>
            rs.grouped(LogFileRows).zipWithIndex.foreach { case (chunk, i) =>
              writeEvents(new File(s"$logDir/p$pt/b$id-$i.json"),
                chunk.toSeq.map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))))
            }
          }
        })
        .start()
    }

    /** The bucket's partitions, read back from the `assign` option the
      * Kafka source would get. */
    def partitionsOf(b: String): Seq[Int] = {
      val js = PriorityPools.assignJson(Events.config, Events.Partitions, b)
      js.substring(js.indexOf('[') + 1, js.indexOf(']')).split(",").filter(_.nonEmpty).map(_.trim.toInt).toSeq
    }

    val consumers: Map[String, StreamingQuery] = Events.Buckets.map { b =>
      // one source per partition, each capped per trigger like a Kafka
      // source's per-partition share of maxOffsetsPerTrigger
      val in = partitionsOf(b).map { p =>
        val dir = new File(s"$logDir/p$p")
        dir.mkdirs()
        spark.readStream.schema(srcSchema)
          .option("maxFilesPerTrigger", ConsumerMaxFiles)
          .json(dir.getPath)
      }.reduce(_ union _).withColumn("ts", timestamp_millis(col("created_ms")))
      val work = PriorityStreams.dedupWithinWatermark(in, "ts", Seq("event_id"), "30 seconds")
        .select(col("event_id"), col("created_ms"),
          MinhashFunctions.minhashSignature(ShingleFunctions.shingleSet(split(col("payload"), " "))).as("sig"))
      val w = writers(b)
      b -> PriorityPools.inBucketPool(spark, b) {
        work.writeStream.queryName(b)
          .option("checkpointLocation", s"$ckDir/$b")
          .trigger(Trigger.ProcessingTime(ConsumerTriggerMs))
          .foreachBatch(foreachBatchOf { (bdf, id) =>
            val t0 = Util.nowMs()
            val rows = bdf.select(col("event_id"), col("created_ms"), xxhash64(col("sig"))).collect()
            rows.foreach(r => w.write(s"${r.getLong(0)}\t${r.getLong(2)}\n"))
            w.flush()
            val end = System.currentTimeMillis()
            val writeMs = Util.nowMs() - t0
            emits(b).synchronized(emits(b) ++= rows.map(r => Emit(id, r.getLong(0), r.getLong(1), end)))
            sinkBatches(b).synchronized(sinkBatches(b) += SinkBatch(id, rows.length, writeMs, end))
          })
          .start()
      }
    }.toMap

    def all: Seq[StreamingQuery] = router +: Events.Buckets.map(consumers)

    def stop(): Unit = {
      all.foreach(q => try q.stop() catch { case _: Exception => })
      writers.values.foreach(_.close())
    }

    def emittedBy(b: String, fromMs: Long, toMs: Long): Seq[Emit] =
      emits(b).synchronized(emits(b).filter(e => e.emitMs >= fromMs && e.emitMs < toMs).toList)
  }

  /** Write events as JSON lines under a hidden name, then rename, so a
    * file source never lists a partly written file. */
  def writeEvents(file: File, evs: Seq[(Long, String, String, Long)]): Unit = {
    file.getParentFile.mkdirs()
    val tmp = new File(file.getParentFile, "." + file.getName)
    val w = new java.io.BufferedWriter(new java.io.FileWriter(tmp))
    evs.foreach { case (id, key, payload, createdMs) =>
      w.write(s"""{"event_id":$id,"key":${Util.q(key)},"payload":${Util.q(payload)},"created_ms":$createdMs}""" + "\n")
    }
    w.close()
    Files.move(tmp.toPath, file.toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Files read by a file-source query's committed batches: the last
    * commit in its checkpoint names a batch, that batch's offsets name each
    * source's log offset, and each source's log lists the files up to it. */
  def committedFiles(ck: String): Set[String] = {
    val last = lastCommitted(ck)
    if (last < 0) return Set.empty
    val logOffset = "\"logOffset\":(\\d+)".r
    // offsets file: version, batch metadata, then one line per source
    val offsets = scala.io.Source.fromFile(s"$ck/offsets/$last").getLines().drop(2).toList
      .map(l => logOffset.findFirstMatchIn(l).map(_.group(1).toLong).getOrElse(-1L))
    val entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r
    offsets.zipWithIndex.flatMap { case (upTo, i) =>
      Option(new File(s"$ck/sources/$i").listFiles()).toSeq.flatten
        .filterNot(_.getName.startsWith("."))
        .flatMap(f => scala.io.Source.fromFile(f).getLines().toList)
        .flatMap(l => entry.findFirstMatchIn(l).map(m => (m.group(1), m.group(2).toLong)))
        .collect { case (p, bid) if bid <= upTo => new java.net.URI(p).getPath }
    }.toSet
  }

  def lastCommitted(ck: String): Long =
    Option(new File(s"$ck/commits").listFiles()).toSeq.flatten
      .map(_.getName).filter(_.forall(_.isDigit)).map(_.toLong).maxOption.getOrElse(-1L)

  /** The generator: one file per tick, on schedule, whatever the system
    * does. Keeps the ledger of what each source file holds. */
  final class Generator(cfg: Main.Cfg, srcDir: String, texts: IndexedSeq[String], rates: Map[String, Double])
      extends Thread("perfbench-generator") {
    val t0Ms: Long = System.currentTimeMillis() + 200
    private val sched = new Events.Schedule(cfg.seed, rates, texts, PayloadDocs, DupFrac, t0Ms)
    val ledger = new java.util.concurrent.ConcurrentHashMap[String, Seq[Events.Ev]]()
    val lags = ArrayBuffer.empty[(Long, Double)] // (tick end, lag ms)
    @volatile var stopping = false
    setDaemon(true)

    override def run(): Unit = {
      var k = 1L
      while (!stopping) {
        val end = t0Ms + k * TickMs
        val sleep = end - System.currentTimeMillis()
        if (sleep > 0) Thread.sleep(sleep)
        val evs = sched.tick(end - TickMs, end)
        val file = new File(srcDir, f"ev-$k%08d.json")
        writeEvents(file, evs.map(e => (e.id, e.key, e.payload, e.dueMs)))
        ledger.put(file.getAbsolutePath, evs)
        lags.synchronized(lags += ((end, (System.currentTimeMillis() - end).toDouble)))
        k += 1
      }
    }
  }

  def run(cfg: Main.Cfg, jvmStartMs: Long): Main.Outcome = {
    val rates = parseRates(cfg("rates"))
    val poolFile = PriorityPools.writeAllocationFile(Events.config, cfg.work).toString
    val runRoot = s"${cfg.work}/stream"
    Util.deleteRecursively(new File(runRoot))

    // set-up, from JVM start: session, table warm-up, the five queries started
    val spark = Main.newSession(cfg, StatePartitions, Some(poolFile))
    Main.warmTables(spark, cfg.data)
    val pipe = new Pipeline(spark, cfg, runRoot)
    val setupMs = System.currentTimeMillis() - jvmStartMs

    val texts = Events.payloads(spark, cfg.data)
    val gen = new Generator(cfg, pipe.srcDir, texts, rates)
    gen.start()
    def sleepUntil(ms: Long): Unit = { val d = ms - System.currentTimeMillis(); if (d > 0) Thread.sleep(d) }
    val w0 = gen.t0Ms + (cfg.dbl("warm_seconds", WarmSeconds) * 1000).toLong
    val windowMs = (cfg.seconds * 1000).toLong
    var e2e = ListMap.empty[String, (Double, String)]
    var perLayer = ListMap.empty[String, (Double, String)]
    var traceDetail = Map.empty[String, Any]
    val tr = new Tracer
    if (!cfg.traced) {
      sleepUntil(w0 + windowMs)
      e2e = windowMetrics(pipe, w0, w0 + windowMs)
    } else {
      // untraced half window, traced window, untraced half window: a drift
      // linear in time (the backlogs grow) weighs both sides alike. The
      // progress listener stays on to d, so the batches that start before c
      // are reported.
      val (a, c, d) = (w0 + windowMs / 2, w0 + windowMs / 2 + windowMs, w0 + 2 * windowMs)
      sleepUntil(a)
      tr.register(spark)
      val poolAt0 = tr.poolRunMs.toMap
      sleepUntil(c)
      tr.unregisterJobs(spark)
      val poolAt1 = tr.poolRunMs.toMap
      sleepUntil(d)
      tr.unregister(spark)
      val untraced = Util.quantile(topLatencies(pipe, w0, a) ++ topLatencies(pipe, c, d), 0.5)
      val traced = Util.quantile(topLatencies(pipe, a, c), 0.5)
      perLayer = streamLayers(tr, pipe, gen, a, c, cfg.seconds, poolAt0, poolAt1) ++ ListMap(
        "trace.overhead_frac" -> (traced / untraced - 1, "ratio"))
    }

    // stop feeding, let the router drain what was generated, stop
    gen.stopping = true
    gen.join()
    val drainBy = System.currentTimeMillis() + DrainMs
    while (committedFiles(s"${pipe.ckDir}/router").size < gen.ledger.size &&
      System.currentTimeMillis() < drainBy) Thread.sleep(100)
    val failedQueries = pipe.all.filter(_.exception.isDefined)
    pipe.stop()

    val check = exactlyOnce(spark, pipe, gen)
    if (cfg.traced) {
      tr.register(spark)
      perLayer = perLayer ++ ListMap("streaming.dup_drop_ratio" -> (check("dup_drop_ratio").asInstanceOf[Double], "ratio")) ++
        Legs.run(spark, cfg, tr)
      tr.unregister(spark)
      traceDetail = Map("spans" -> tr.spansJson,
        "progress" -> tr.progress.map { case (q, ps) => q -> ps.map(_.progress.json).toList })
    }
    spark.stop()
    // leave no files to be written back while the next run measures
    Util.deleteRecursively(new File(runRoot))
    val attempted = check("attempted").asInstanceOf[Double].toLong
    val failed = check("failed").asInstanceOf[Double].toLong + failedQueries.map(_ => attempted).sum
    Main.Outcome(
      ListMap("setup_s" -> (setupMs / 1000.0, "s"),
        "peak_rss_mb" -> (Util.peakRssMb(), "MB")) ++ e2e,
      perLayer, math.max(attempted, 1L), failed,
      ListMap("setup_ms" -> setupMs, "rates" -> rates, "check" -> check,
        "window_eps" -> Events.Buckets.map(b => b -> emitRate(pipe, b, w0, w0 + windowMs)).toMap,
        "window_batch_ms" -> Events.Buckets.map { b =>
          val ends = pipe.sinkBatches(b).synchronized(pipe.sinkBatches(b).map(_.endMs).toList).sorted
          b -> Util.median(ends.zip(ends.drop(1)).collect { case (a, c) if c >= w0 && c < w0 + windowMs => (c - a).toDouble })
        }.toMap,
        "query_errors" -> failedQueries.map(_.exception.get.toString),
        "generated_files" -> gen.ledger.size, "trace" -> traceDetail))
  }

  /** A bucket's emit rate over [fromMs, toMs): the events of the sink
    * batches that ended in the window, over the time from the end of the
    * batch before them to the end of the last, so the window's edges do
    * not cut a batch. */
  def emitRate(pipe: Pipeline, b: String, fromMs: Long, toMs: Long): Double = {
    val batches = pipe.sinkBatches(b).synchronized(pipe.sinkBatches(b).toList).sortBy(_.endMs)
    val in = batches.filter(s => s.endMs >= fromMs && s.endMs < toMs)
    val before = batches.filter(_.endMs < fromMs).lastOption
    (in.lastOption, before) match {
      case (Some(last), Some(prev)) if last.endMs > prev.endMs =>
        in.map(_.rows).sum * 1000.0 / (last.endMs - prev.endMs)
      case _ => 0.0
    }
  }

  /** Latencies of the top bucket's events emitted in [fromMs, toMs). */
  private def topLatencies(pipe: Pipeline, fromMs: Long, toMs: Long): Seq[Double] =
    pipe.emittedBy(Events.Buckets.head, fromMs, toMs).map(e => (e.emitMs - e.createdMs).toDouble)

  /** End-to-end metrics over emits in [fromMs, toMs). */
  private def windowMetrics(pipe: Pipeline, fromMs: Long, toMs: Long
  ): ListMap[String, (Double, String)] = {
    val lat = topLatencies(pipe, fromMs, toMs)
    ListMap(
      "ops_per_s" -> (Events.Buckets.map(b => emitRate(pipe, b, fromMs, toMs)).sum, "1/s"),
      "latency_p50_ms" -> (Util.quantile(lat, 0.5), "ms"),
      "latency_p90_ms" -> (Util.quantile(lat, 0.9), "ms"))
  }

  private def streamLayers(tr: Tracer, pipe: Pipeline, gen: Generator, fromMs: Long, toMs: Long,
      seconds: Double, pool0: Map[String, Double], pool1: Map[String, Double]
  ): ListMap[String, (Double, String)] = {
    // batches that read events; an idle consumer's empty triggers would
    // otherwise pull every per-batch median towards zero
    def progressIn(q: String) = tr.progress.getOrElse(q, ArrayBuffer.empty).synchronized(
      tr.progress.getOrElse(q, ArrayBuffer.empty).toList).map(_.progress).filter { p =>
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli
      t >= fromMs && t < toMs && p.numInputRows > 0
    }
    def dur(q: String, k: String): Double =
      Util.median(progressIn(q).flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue())))
    val poolDelta = Events.Buckets.map(b => b -> (pool1.getOrElse(b, 0.0) - pool0.getOrElse(b, 0.0))).toMap
    val poolTotal = poolDelta.values.sum
    val eps = Events.Buckets.map(b => b -> emitRate(pipe, b, fromMs, toMs)).toMap
    val perBucket = Events.Buckets.flatMap { b =>
      val ps = progressIn(b)
      // generated (unique, routable) minus emitted, once a second
      val genTimes = gen.ledger.values().toArray(Array.empty[Seq[Events.Ev]]).toSeq.flatten
        .filter(e => !e.dup && e.key.startsWith(b + "-")).map(_.dueMs).sorted.toIndexedSeq
      val emitTimes = pipe.emits(b).synchronized(pipe.emits(b).map(_.emitMs).sorted.toIndexedSeq)
      def countLe(xs: IndexedSeq[Long], t: Long): Int = {
        val i = java.util.Arrays.binarySearch(xs.toArray, t + 1)
        if (i >= 0) i else -i - 1
      }
      val backlog = (fromMs to toMs by 1000L).map(t => ((t - fromMs) / 1000.0,
        (countLe(genTimes, t) - countLe(emitTimes, t)).toDouble))
      val sinks = pipe.sinkBatches(b).synchronized(pipe.sinkBatches(b).filter(s => s.endMs >= fromMs && s.endMs < toMs).toList)
      Seq(
        s"streaming.trigger_ms.$b" -> (dur(b, "triggerExecution"), "ms"),
        s"streaming.add_batch_ms.$b" -> (dur(b, "addBatch"), "ms"),
        s"streaming.latest_offset_ms.$b" -> (dur(b, "latestOffset"), "ms"),
        s"streaming.query_planning_ms.$b" -> (dur(b, "queryPlanning"), "ms"),
        s"streaming.wal_commit_ms.$b" -> (dur(b, "walCommit"), "ms"),
        s"streaming.commit_offsets_ms.$b" -> (dur(b, "commitOffsets"), "ms"),
        s"streaming.batch_rows.$b" -> (Util.median(ps.map(_.numInputRows.toDouble)), "rows"),
        s"streaming.processed_eps.$b" -> (eps(b), "events/s"),
        s"streaming.backlog_growth_eps.$b" -> (Util.slope(backlog), "events/s"),
        s"streaming.state_rows.$b" -> (Util.median(ps.flatMap(_.stateOperators.headOption).map(_.numRowsTotal.toDouble)), "rows"),
        s"streaming.state_commit_ms.$b" -> (Util.median(ps.flatMap(_.stateOperators.headOption).map(_.commitTimeMs.toDouble)), "ms"),
        s"streaming.pool_share.$b" -> (if (poolTotal > 0) poolDelta(b) / poolTotal else 0.0, "ratio"),
        s"sink.write_ms.$b" -> (Util.median(sinks.map(_.writeMs)), "ms"))
    }
    val routerPs = progressIn("router")
    val lags = gen.lags.synchronized(gen.lags.filter { case (t, _) => t >= fromMs && t < toMs }.map(_._2).toList)
    val shareOf = Events.Buckets.zip(Events.Allocation).toMap
    ListMap(perBucket: _*) ++ ListMap(
      "streaming.trigger_ms.router" -> (dur("router", "triggerExecution"), "ms"),
      "streaming.processed_eps.router" -> (routerPs.map(_.numInputRows.toDouble).sum / seconds, "events/s"),
      "streaming.priority_ratio" -> (
        if (eps("click") > 0) eps("signup") / eps("click") / (shareOf("signup").toDouble / shareOf("click")) else 0.0,
        "ratio"),
      "gen.lag_p99_ms" -> (Util.quantile(lags, 0.99), "ms"))
  }

  /** Exactly-once per bucket over committed batches, and router
    * completeness over the source files it committed. */
  private def exactlyOnce(spark: SparkSession, pipe: Pipeline, gen: Generator): Map[String, Any] = {
    import spark.implicits._
    var failed = 0L
    var attempted = 0L
    var consumedRows = 0L
    var consumedDistinct = 0L
    var emittedKept = 0L
    val perBucket = scala.collection.mutable.LinkedHashMap.empty[String, Map[String, Double]]
    // router: every routable copy in the committed source files reaches the log once
    val routedFiles = committedFiles(s"${pipe.ckDir}/router")
    val genEvents = routedFiles.toSeq.flatMap(f => Option(gen.ledger.get(new File(f).getAbsolutePath)).toSeq.flatten)
    val routable = genEvents.filterNot(_.key.startsWith(Events.Unroutable + "-"))
    attempted += genEvents.size
    val logFiles = Option(new File(pipe.logDir).listFiles()).toSeq.flatten
      .flatMap(d => Option(d.listFiles()).toSeq.flatten).filter(_.getName.endsWith(".json"))
    val logRows: Seq[(Long, String, String)] =
      if (logFiles.isEmpty) Seq.empty
      else spark.read.schema(srcSchema).json(logFiles.map(_.getPath): _*)
        .select(col("event_id"), col("key"), input_file_name()).as[(Long, String, String)].collect().toSeq
    val routerLast = lastCommitted(s"${pipe.ckDir}/router")
    val batchOf = "/b(\\d+)-".r
    val logCount = logRows
      .filter(r => batchOf.findFirstMatchIn(r._3).exists(_.group(1).toLong <= routerLast))
      .groupBy(_._1).view.mapValues(_.size).toMap
    val genCount = routable.groupBy(_.id).view.mapValues(_.size).toMap
    val routerLost = genCount.count { case (id, n) => logCount.getOrElse(id, 0) != n } +
      logRows.count(_._2.startsWith(Events.Unroutable + "-"))
    failed += routerLost
    // consumers: each event of the files its committed batches read is
    // emitted once, by the bucket it belongs to
    Events.Buckets.foreach { b =>
      val ck = s"${pipe.ckDir}/$b"
      val files = committedFiles(ck)
      val last = lastCommitted(ck)
      val rows = logRows.filter(r => files.contains(new java.net.URI(r._3).getPath))
      val ids = rows.map(_._1).toSet
      val emitted = pipe.emits(b).synchronized(pipe.emits(b).filter(_.batch <= last).map(_.id).toList)
      val emitCount = emitted.groupBy(identity).view.mapValues(_.size).toMap
      val misrouted = rows.count(r => !r._2.startsWith(b + "-"))
      val lost = ids.count(id => !emitCount.contains(id))
      val extra = emitCount.count { case (id, n) => n > 1 || !ids.contains(id) }
      failed += misrouted + lost + extra
      perBucket(b) = Map("files" -> files.size.toDouble, "last_batch" -> last.toDouble,
        "rows" -> rows.size.toDouble, "distinct" -> ids.size.toDouble, "emitted" -> emitted.size.toDouble,
        "misrouted" -> misrouted.toDouble, "lost" -> lost.toDouble, "extra" -> extra.toDouble)
      consumedRows += rows.size
      consumedDistinct += ids.size
      emittedKept += emitted.size
    }
    Map("attempted" -> attempted.toDouble, "failed" -> failed.toDouble,
      "dup_drop_ratio" -> (if (consumedRows > consumedDistinct)
        (consumedRows - emittedKept).toDouble / (consumedRows - consumedDistinct) else 1.0),
      "routed_files" -> routedFiles.size.toDouble, "log_rows" -> logRows.size.toDouble,
      "consumed_rows" -> consumedRows.toDouble, "emitted" -> emittedKept.toDouble,
      "router_lost" -> routerLost.toDouble, "per_bucket" -> perBucket.toMap)
  }
}
