package graft.perfbench

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.core.BucketLayout
import graft.functions.{MinhashFunctions, ShingleFunctions, VectorFunctions}
import graft.sql.BucketRouting

/** One-task legs for layers that run inside stages and get no span of
  * their own, plus the probes of the session-memoised builders. Each leg
  * runs its input, cached in one partition, until at least `MinMs` has
  * passed and reports rows per second. The routing legs use the stream
  * workload's offered mix of keys. */
object Legs {
  private val MinMs = 1500.0
  private val RouteRows = 200000
  private val PayloadRows = 20000
  private val ArgminRows = 200000L

  private def rate(rows: Long)(body: => Unit): Double = {
    body // warm: codegen and JIT
    val t0 = Util.nowMs()
    var n = 0L
    while (Util.nowMs() - t0 < MinMs) { body; n += rows }
    n / ((Util.nowMs() - t0) / 1000)
  }

  private def oneTask(df: DataFrame): DataFrame = {
    val c = df.coalesce(1).cache()
    c.count()
    c
  }

  private def drive(df: DataFrame): Unit = df.queryExecution.toRdd.count()

  def run(spark: SparkSession, cfg: Main.Cfg, tr: Tracer): ListMap[String, (Double, String)] =
    tr.span("legs", "", "-") {
      import spark.implicits._
      val keys = Events.keys(cfg.seed, Stream.parseRates(cfg("rates")), RouteRows)
      val texts = Events.payloads(spark, cfg.data)
      val rnd = new scala.util.Random(cfg.seed)
      val payloads = IndexedSeq.fill(PayloadRows)(Events.payload(rnd, texts, Stream.PayloadDocs))

      // core: the reference's row-at-a-time execution model on one thread
      val ranges = BucketLayout.ranges(Events.config, Events.Partitions).toMap
      val coreEps = rate(keys.size) {
        val counters = scala.collection.mutable.HashMap.empty[String, Int]
        var sink = 0L
        keys.foreach { k =>
          val b = k.split(Events.config.delimiter)(0).trim
          ranges.get(b) match {
            case Some((start, size)) if size > 0 =>
              val c = counters.getOrElse(b, 0)
              counters(b) = c + 1
              sink += start + BucketLayout.counterSlot(c, size)
            case _ =>
          }
        }
        if (sink < 0) println(sink)
      }

      val keyDf = oneTask(keys.toDF("key"))
      val routeEps = rate(keys.size)(drive(BucketRouting.discard(
        BucketRouting.routeUniform(keyDf, Events.config, Events.Partitions, col("key")))))
      val nativeEps = rate(keys.size)(drive(BucketRouting.discard(
        BucketRouting.routeUniformNative(keyDf, Events.config, Events.Partitions, col("key")))))
      keyDf.unpersist()

      val payDf = oneTask(payloads.toDF("payload"))
      val sigEps = rate(payloads.size)(drive(payDf.select(MinhashFunctions.minhashSignature(
        ShingleFunctions.shingleSet(split(col("payload"), " "))).as("sig"))))
      payDf.unpersist()

      val base = Tables.load(spark, cfg.data, "embeddings").select("vec_id", "embedding")
      val copies = math.max(1L, ArgminRows / math.max(1L, base.count()))
      val emb = oneTask(base.crossJoin(spark.range(copies).select(col("id").as("copy"))).drop("copy"))
      val cands = base.filter(col("vec_id") < 16)
        .agg(sort_array(collect_list(struct(col("vec_id").cast("long").as("id"),
          col("embedding").as("centv")))).as("cands"))
      val embRows = emb.count()
      val argEps = rate(embRows)(drive(emb.crossJoin(broadcast(cands))
        .select(VectorFunctions.argminL2(col("cands"), col("embedding")).as("m"))))
      emb.unpersist()

      ListMap(
        "functions.signature_eps_1task" -> (sigEps, "events/s"),
        "functions.argmin_l2_eps_1task" -> (argEps, "rows/s"),
        "core.route_eps_1thread" -> (coreEps, "events/s"),
        "sql.route_eps_1task" -> (routeEps, "events/s"),
        "sql.route_native_eps_1task" -> (nativeEps, "events/s"))
    }

  /** The memoised builders' one-time cost: the BPE trainer's own clock,
    * and the first served-index query's extra time over a repeat. A
    * distinct spelling of the corpus directory defeats the per-(session,
    * dir) memo, so the probe pays the build even when the pass already
    * ran a served-index query. */
  def setupProbes(spark: SparkSession, dir: String, tr: Tracer): ListMap[String, (Double, String)] =
    tr.span("setup_probes", "", "-") {
      def once(name: String, d: String): Double = {
        val t0 = Util.nowMs()
        drive(SparkEntry.queries(name)(spark, d))
        Util.nowMs() - t0
      }
      val probeDir = s"$dir/."
      if (graft.queries.TrainQueries.bpeTrainerLastMs.get() < 0) once("bpe_train", dir)
      val first = once("ivf_pq_served_topk", probeDir)
      val repeat = once("ivf_pq_served_topk", probeDir)
      spark.catalog.clearCache()
      ListMap(
        "setup.bpe_trainer_ms" -> (graft.queries.TrainQueries.bpeTrainerLastMs.get().toDouble, "ms"),
        "setup.served_index_ms" -> (first - repeat, "ms"))
    }
}
