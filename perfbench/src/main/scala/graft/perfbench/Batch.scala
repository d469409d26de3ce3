package graft.perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.hash.Murmur3_x86_32

import graft.SparkEntry

/** `batch_sf0.1`: a closed loop of one client over a fixed query list, in
  * an order permuted by the seed.
  *
  * One execution = call the registry function, then one action over the
  * executed plan that folds an order-insensitive hash of the result rows.
  * The hash and row count are compared with the committed expected values.
  *
  * Untraced: an unmeasured warm pass, then `seconds / PassMs`
  * whole passes over the list (closed loop: fixed work, not fixed time). Traced: the same, then
  * one pass with build / plan / action phases under the listeners, then the
  * one-task legs and the memoised-builder probes.
  */
object Batch {

  /** Nominal time of one pass over the list on a 4-core box. */
  private val PassMs = 5000.0

  final case class Exec(name: String, ms: Double, hash: Long, rows: Long, error: Option[String])

  /** Sum of 64-bit row hashes (and the row count) over an RDD: equal for
    * any row order and any partitioning of the same multiset of rows. */
  def hashRows(rdd: RDD[InternalRow], schema: StructType): (Long, Long) =
    rdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var h = 0L
      var n = 0L
      it.foreach { r =>
        h += rowHash(proj(r))
        n += 1
      }
      Iterator((h, n))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  private def rowHash(u: UnsafeRow): Long = {
    val hi = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 0x9747b28c)
    val lo = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 0x5bd1e995)
    (hi.toLong << 32) | (lo & 0xffffffffL)
  }

  /** Every node of an executed plan, through AQE wrappers, query stages
    * and subqueries. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec        => s +: planNodes(s.plan)
    case other                    => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  private def fn(name: String) = SparkEntry.queries(name)

  /** One untraced execution. */
  def execute(spark: SparkSession, dir: String, name: String): Exec = {
    val t0 = Util.nowMs()
    val r =
      try {
        val df = fn(name)(spark, dir)
        val (h, n) = hashRows(df.queryExecution.toRdd, df.schema)
        Exec(name, Util.nowMs() - t0, h, n, None)
      } catch { case e: Throwable => Exec(name, Util.nowMs() - t0, 0L, 0L, Some(e.toString)) }
    spark.catalog.clearCache()
    r
  }

  /** One traced execution: build, plan and action as separate phases. */
  def executeTraced(spark: SparkSession, dir: String, name: String, tr: Tracer): (Exec, Map[String, Double]) = {
    val t0 = Util.nowMs()
    var plan = Map.empty[String, Double]
    val r =
      try tr.span("query", "pass", name) {
        val tb = Util.nowMs()
        val df: DataFrame = tr.phase(spark, name, "build")(fn(name)(spark, dir))
        val tp = Util.nowMs()
        tr.phase(spark, name, "plan")(df.queryExecution.executedPlan)
        val ta = Util.nowMs()
        val (h, n) = tr.phase(spark, name, "action")(hashRows(df.queryExecution.toRdd, df.schema))
        val te = Util.nowMs()
        val nodes = planNodes(df.queryExecution.executedPlan)
        plan = Map(
          "build_ms" -> (tp - tb), "plan_ms" -> (ta - tp), "action_ms" -> (te - ta),
          "scans" -> nodes.count(_.isInstanceOf[FileSourceScanExec]).toDouble,
          "exchanges" -> nodes.count(_.isInstanceOf[Exchange]).toDouble,
          "reused_exchanges" -> nodes.count(_.isInstanceOf[ReusedExchangeExec]).toDouble)
        Exec(name, te - t0, h, n, None)
      } catch { case e: Throwable => Exec(name, Util.nowMs() - t0, 0L, 0L, Some(e.toString)) }
    spark.catalog.clearCache()
    (r, plan)
  }

  /** expected TSV: `name \t hash \t rows` */
  def readExpected(path: String): Map[String, (Long, Long)] =
    scala.io.Source.fromFile(path).getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val f = l.split("\t")
      f(0) -> (java.lang.Long.parseUnsignedLong(f(1), 16), f(2).toLong)
    }.toMap

  def hex(h: Long): String = f"$h%016x"

  def run(cfg: Main.Cfg, jvmStartMs: Long): Main.Outcome = {
    val names = cfg("queries").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val expected = readExpected(cfg("expected"))
    val order = new scala.util.Random(cfg.seed).shuffle(names)
    val dir = cfg.data

    // set-up, from JVM start: session and table warm-up
    val spark = Main.newSession(cfg, cfg.cores, None)
    Main.warmTables(spark, dir)
    val setupMs = System.currentTimeMillis() - jvmStartMs

    val all = ArrayBuffer.empty[Exec]
    def check(e: Exec): Boolean = e.error.isEmpty && expected.get(e.name).contains((e.hash, e.rows))

    // warm pass: unmeasured, but checked
    order.foreach(n => all += execute(spark, dir, n))

    // a fixed number of whole passes, `seconds` over the nominal pass time,
    // so every run measures the same work whatever the seed's order
    val passes = math.max(1, math.round(cfg.seconds * 1000 / PassMs).toInt)
    val measured = (1 to passes).flatMap(_ => order.map(n => execute(spark, dir, n)))
    all ++= measured
    val times = measured.map(_.ms)
    val perQueryMedian = measured.groupBy(_.name).map { case (n, es) => n -> Util.median(es.map(_.ms)) }
    val measuredMs = times.sum

    val endToEnd = ListMap(
      "setup_s" -> (setupMs / 1000.0, "s"),
      "peak_rss_mb" -> (Util.peakRssMb(), "MB"),
      // queries per second of the pass a typical execution of each takes:
      // per-query medians keep a single stalled execution out of it
      "ops_per_s" -> (perQueryMedian.size / (perQueryMedian.values.sum / 1000), "1/s"),
      "latency_p50_ms" -> (Util.quantile(times, 0.5), "ms"),
      "latency_p90_ms" -> (Util.quantile(times, 0.9), "ms"))

    var perLayer = ListMap.empty[String, (Double, String)]
    var traceDetail = Map.empty[String, Any]
    if (cfg.traced) {
      val tr = new Tracer
      tr.register(spark)
      val perQuery = ArrayBuffer.empty[(Exec, Map[String, Double])]
      val passStart = Util.nowMs()
      tr.span("pass", "", "-") {
        order.foreach(n => perQuery += executeTraced(spark, dir, n, tr))
      }
      val passMs = Util.nowMs() - passStart
      tr.drain(spark)
      val passJobs = tr.totalJobs
      all ++= perQuery.map(_._1)
      val legs = Legs.run(spark, cfg, tr)
      val setupLegs = Legs.setupProbes(spark, dir, tr)
      tr.unregister(spark)
      perLayer = layers(tr, perQuery.toSeq, cfg.cores, passMs, perQueryMedian.values.sum, legs ++ setupLegs)
      traceDetail = Map(
        "per_query" -> perQuery.map { case (e, p) =>
          def phase(ph: String) = tr.acc.getOrElse((e.name, ph), new tr.Acc).asMap
          ListMap("query" -> e.name, "ms" -> e.ms, "plan" -> p, "build" -> phase("build"),
            "planning" -> phase("plan"), "action" -> phase("action"))
        },
        "listener_jobs_total" -> passJobs,
        "spans" -> tr.spansJson)
    }
    spark.stop()

    val failures = all.filterNot(check)
    Main.Outcome(endToEnd, perLayer, all.size, failures.size, ListMap(
      "order" -> order,
      "setup_ms" -> setupMs,
      "passes_measured_ms" -> measuredMs,
      "per_query_median_ms" -> ListMap(perQueryMedian.toSeq.sortBy(_._1): _*),
      "failures" -> failures.map(e => ListMap("query" -> e.name, "hash" -> hex(e.hash),
        "rows" -> e.rows, "error" -> e.error.getOrElse(""))).distinct,
      "trace" -> traceDetail))
  }

  private def layers(tr: Tracer, perQuery: Seq[(Exec, Map[String, Double])], cores: Int,
      passMs: Double, untracedMs: Double, legs: ListMap[String, (Double, String)]
  ): ListMap[String, (Double, String)] = {
    def sumPhase(ph: String)(f: tr.Acc => Double): Double =
      tr.acc.collect { case ((_, p), a) if p == ph => f(a) }.sum
    def sumPlan(k: String): Double = perQuery.map(_._2.getOrElse(k, 0.0)).sum
    def sumAll(f: tr.Acc => Double): Double =
      tr.acc.collect { case ((q, _), a) if q != "-" => f(a) }.sum
    val actionMs = sumPlan("action_ms")
    val exchanges = sumPlan("exchanges")
    val reused = sumPlan("reused_exchanges")
    ListMap(
      "tables.input_bytes" -> (sumAll(_.inputBytes.toDouble), "bytes"),
      "tables.input_rows" -> (sumAll(_.inputRows.toDouble), "rows"),
      "tables.scans" -> (sumPlan("scans"), "count"),
      "queries.build_ms" -> (sumPlan("build_ms"), "ms"),
      "queries.build_jobs" -> (sumPhase("build")(_.jobs.toDouble), "count"),
      "queries.build_task_ms" -> (sumPhase("build")(_.taskRunMs), "ms"),
      "plans.plan_ms" -> (sumPlan("plan_ms"), "ms"),
      "plans.exchanges" -> (exchanges, "count"),
      "plans.reused_exchanges" -> (reused, "count"),
      "plans.reuse_ratio" -> (if (exchanges + reused > 0) reused / (exchanges + reused) else 0.0, "ratio"),
      "action.ms" -> (actionMs, "ms"),
      "action.jobs" -> (sumPhase("action")(_.jobs.toDouble), "count"),
      "action.stages" -> (sumPhase("action")(_.stages.toDouble), "count"),
      "action.tasks" -> (sumPhase("action")(_.tasks.toDouble), "count"),
      "action.task_run_ms" -> (sumPhase("action")(_.taskRunMs), "ms"),
      "action.task_cpu_ms" -> (sumPhase("action")(_.taskCpuMs), "ms"),
      "action.gc_ms" -> (sumPhase("action")(_.gcMs), "ms"),
      "action.busy_frac" -> (if (actionMs > 0) sumPhase("action")(_.taskRunMs) / (actionMs * cores) else 0.0, "ratio"),
      "action.stage_skew_max" -> (tr.acc.collect { case ((_, "action"), a) => a.skewMax }.maxOption.getOrElse(1.0), "ratio"),
      "action.task_failures" -> (sumPhase("action")(_.taskFailures.toDouble), "count"),
      "shuffle.write_bytes" -> (sumAll(_.shuffleWrite.toDouble), "bytes"),
      "shuffle.read_bytes" -> (sumAll(_.shuffleRead.toDouble), "bytes"),
      "shuffle.fetch_wait_ms" -> (sumAll(_.fetchWaitMs.toDouble), "ms"),
      "shuffle.spill_bytes" -> (sumAll(_.spillBytes.toDouble), "bytes")
    ) ++ legs ++ ListMap(
      "trace.overhead_frac" -> (if (untracedMs > 0) passMs / untracedMs - 1 else 0.0, "ratio"))
  }

  /** Record expected hashes: every registered query twice in one session;
    * a query whose two results differ is reported and left out. */
  def record(cfg: Main.Cfg): Unit = {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val spark = Main.newSession(cfg, cfg.cores, None)
    Main.warmTables(spark, cfg.data)
    val lines = ArrayBuffer.empty[String]
    names.foreach { n =>
      val a = execute(spark, cfg.data, n)
      val b = execute(spark, cfg.data, n)
      if (a.error.isEmpty && a.hash == b.hash && a.rows == b.rows)
        lines += s"$n\t${hex(a.hash)}\t${a.rows}"
      else System.err.println(s"[record] $n unstable or failed: $a / $b")
    }
    spark.stop()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(cfg("expected_out")),
      "# query\thash\trows\n" + lines.mkString("\n") + "\n")
  }
}
