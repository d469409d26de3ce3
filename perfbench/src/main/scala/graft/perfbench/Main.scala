package graft.perfbench

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

import graft.Tables

/** Benchmark main, launched by perfbench/run.py (never by sbt, so the
  * result line reaches stdout unprefixed).
  *
  * Options (all `--key value`):
  *   workload   batch_sf0.1 | stream_priority
  *   seed       workload seed (query order, event schedule and payloads)
  *   seconds    length of the measured window
  *   trace      0: end-to-end metrics; 1: per-layer metrics
  *   data       scale-factor directory of the corpus
  *   work       working directory for spark-local, checkpoints and run files
  *   out        file that receives the detailed record of the run
  *   queries    comma list (batch)
  *   expected   TSV of `query  hash  rows` (batch)
  *   rates      comma list type:events/s (stream; the routing legs' key mix)
  *   warm_seconds  unmeasured stream time before the window (default 10)
  *
  * The last line on stdout is the JSON result; everything else goes to
  * stderr or to `out`.
  */
object Main {

  final case class Cfg(opts: Map[String, String]) {
    def apply(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    def dbl(k: String, d: Double): Double = opts.get(k).map(_.toDouble).getOrElse(d)
    lazy val workload: String = apply("workload")
    lazy val seed: Long = apply("seed").toLong
    lazy val seconds: Double = apply("seconds").toDouble
    lazy val traced: Boolean = opts.get("trace").contains("1")
    lazy val data: String = apply("data")
    lazy val work: String = apply("work")
    lazy val cores: Int = Runtime.getRuntime.availableProcessors()
  }

  /** What a workload hands back: end-to-end and per-layer metrics, the
    * check counts, and anything else worth keeping in the record. */
  final case class Outcome(
      endToEnd: ListMap[String, (Double, String)],
      perLayer: ListMap[String, (Double, String)],
      attempted: Long,
      failed: Long,
      detail: Map[String, Any])

  def parse(args: Array[String]): Cfg = {
    require(args.length % 2 == 0 && args.grouped(2).forall(_(0).startsWith("--")),
      s"expected --key value pairs, got ${args.mkString(" ")}")
    Cfg(args.grouped(2).map(a => a(0).drop(2) -> a(1)).toMap)
  }

  def newSession(cfg: Cfg, shufflePartitions: Int, fairFile: Option[String]): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${cfg.cores}]")
      .appName(s"perfbench-${cfg.workload}")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${cfg.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
    fairFile.foreach(f => b.config("spark.scheduler.mode", "FAIR")
      .config("spark.scheduler.allocation.file", f))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** Touch every table: file listing, footer reads and a trivial job. */
  def warmTables(spark: SparkSession, dir: String): Unit =
    Tables.names.foreach(n => Tables.load(spark, dir, n).count())

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = Util.loadAvg()
    val cpuStart = Util.cpuJiffies()
    new java.io.File(cfg.work).mkdirs()
    if (cfg.workload == "record") { Batch.record(cfg); return }
    val outcome = cfg.workload match {
      case "batch_sf0.1"     => Batch.run(cfg, jvmStartMs)
      case "stream_priority" => Stream.run(cfg, jvmStartMs)
      case w                 => sys.error(s"unknown workload $w")
    }
    val metrics = if (cfg.traced) outcome.perLayer else outcome.endToEnd
    val result = ListMap(
      "correct" -> (outcome.failed == 0),
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) })
    cfg.opts.get("out").foreach { path =>
      val record = ListMap(
        "workload" -> cfg.workload, "seed" -> cfg.seed, "seconds" -> cfg.seconds,
        "trace" -> (if (cfg.traced) 1 else 0), "result" -> result,
        "end_to_end" -> outcome.endToEnd.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) },
        "per_layer" -> outcome.perLayer.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) },
        "stamp" -> ListMap(
          "nproc" -> cfg.cores,
          "loadavg_start" -> loadStart, "loadavg_end" -> Util.loadAvg(),
          "steal_frac" -> {
            val (all, steal) = Util.cpuJiffies()
            if (all > cpuStart._1) (steal - cpuStart._2).toDouble / (all - cpuStart._1) else 0.0
          },
          "spark" -> org.apache.spark.SPARK_VERSION,
          "jdk" -> System.getProperty("java.runtime.version"),
          "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20)),
        "detail" -> outcome.detail)
      val f = new java.io.File(path)
      Option(f.getParentFile).foreach(_.mkdirs())
      java.nio.file.Files.writeString(f.toPath, Util.json(record) + "\n")
    }
    println(Util.json(result))
  }
}
