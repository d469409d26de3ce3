package graft.perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's bookkeeping, all registered from the benchmark's side.
  *
  *  - spans: name, start, end, parent and query id, kept in memory and
  *    written out once at the end;
  *  - a SparkListener charges every job, stage and task to a (query, phase)
  *    key read from the job group `q/<query>/<phase>`; a job submitted with
  *    no group (e.g. from a pool thread created before the group was set)
  *    goes to the phase the single client is in;
  *  - a QueryExecutionListener counts the Dataset actions a phase runs;
  *  - a StreamingQueryListener keeps every progress report by query name;
  *  - task run time per FAIR pool.
  */
final class Tracer {
  final case class Span(name: String, start: Double, end: Double, parent: String, query: String)

  final class Acc {
    var jobs, stages, tasks, taskFailures, datasetActions = 0L
    var taskRunMs, taskCpuMs, gcMs, datasetActionMs = 0.0
    var shuffleWrite, shuffleRead, fetchWaitMs, spillBytes, inputBytes, inputRows = 0L
    val stageTaskMs = TrieMap.empty[Int, ArrayBuffer[Long]]

    def skewMax: Double = stageTaskMs.values.collect {
      case ts if ts.size >= 2 =>
        val med = Util.median(ts.map(_.toDouble).toSeq)
        if (med > 0) ts.max / med else 1.0
    }.maxOption.getOrElse(1.0)

    def asMap: Map[String, Double] = Map(
      "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
      "task_failures" -> taskFailures.toDouble, "task_run_ms" -> taskRunMs,
      "task_cpu_ms" -> taskCpuMs, "gc_ms" -> gcMs, "shuffle_write_bytes" -> shuffleWrite.toDouble,
      "shuffle_read_bytes" -> shuffleRead.toDouble, "fetch_wait_ms" -> fetchWaitMs.toDouble,
      "spill_bytes" -> spillBytes.toDouble, "input_bytes" -> inputBytes.toDouble,
      "input_rows" -> inputRows.toDouble, "stage_skew_max" -> skewMax,
      "dataset_actions" -> datasetActions.toDouble, "dataset_action_ms" -> datasetActionMs)
  }

  private val spans = ArrayBuffer.empty[Span]
  val acc = TrieMap.empty[(String, String), Acc]
  private val stageKey = TrieMap.empty[Int, (String, String)]
  private val stagePool = TrieMap.empty[Int, String]
  val poolRunMs = TrieMap.empty[String, Double]
  val progress = TrieMap.empty[String, ArrayBuffer[StreamingQueryListener.QueryProgressEvent]]
  @volatile var current: (String, String) = ("-", "-")
  @volatile var totalJobs = 0L

  def accFor(k: (String, String)): Acc = acc.getOrElseUpdate(k, new Acc)

  def span[T](name: String, parent: String, query: String)(body: => T): T = {
    val t0 = Util.nowMs()
    try body
    finally {
      val t1 = Util.nowMs()
      spans.synchronized(spans += Span(name, t0, t1, parent, query))
    }
  }

  def spanList: Seq[Span] = spans.synchronized(spans.toList)

  /** Run `body` with its jobs charged to (query, phase). */
  def phase[T](spark: SparkSession, query: String, ph: String)(body: => T): T = {
    val sc = spark.sparkContext
    current = (query, ph)
    sc.setJobGroup(s"q/$query/$ph", s"$query $ph", interruptOnCancel = false)
    try span(ph, query, query)(body)
    finally { sc.clearJobGroup(); current = ("-", "-") }
  }

  private def keyOf(props: java.util.Properties): (String, String) =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
      case Some(g) if g.startsWith("q/") =>
        val i = g.lastIndexOf('/')
        (g.substring(2, i), g.substring(i + 1))
      case _ => current
    }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val k = keyOf(js.properties)
      Tracer.this.synchronized(totalJobs += 1)
      accFor(k).synchronized(accFor(k).jobs += 1)
      val pool = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.scheduler.pool"))).getOrElse("default")
      js.stageIds.foreach { sid => stageKey.put(sid, k); stagePool.put(sid, pool) }
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val a = accFor(stageKey.getOrElse(sc.stageInfo.stageId, current))
      a.synchronized(a.stages += 1)
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val a = accFor(stageKey.getOrElse(te.stageId, current))
      val m = te.taskMetrics
      a.synchronized {
        a.tasks += 1
        if (te.reason != Success) a.taskFailures += 1
        if (m != null) {
          a.taskRunMs += m.executorRunTime
          a.taskCpuMs += m.executorCpuTime / 1e6
          a.gcMs += m.jvmGCTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          a.inputBytes += m.inputMetrics.bytesRead
          a.inputRows += m.inputMetrics.recordsRead
          a.stageTaskMs.getOrElseUpdate(te.stageId, ArrayBuffer.empty[Long]) += m.executorRunTime
        }
      }
      if (m != null) {
        val pool = stagePool.getOrElse(te.stageId, "default")
        poolRunMs.synchronized(poolRunMs.put(pool, poolRunMs.getOrElse(pool, 0.0) + m.executorRunTime))
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val a = accFor(current)
      a.synchronized { a.datasetActions += 1; a.datasetActionMs += durationNs / 1e6 }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val name = Option(e.progress.name).getOrElse(e.progress.id.toString)
      progress.getOrElseUpdate(name, ArrayBuffer.empty).synchronized(progress(name) += e)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Stop the job and query listeners. The streaming one, which only keeps
    * the progress reports Spark posts anyway, stays until `unregister`. */
  def unregisterJobs(spark: SparkSession): Unit = {
    drain(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  def unregister(spark: SparkSession): Unit = {
    unregisterJobs(spark)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until every posted listener event has been delivered. */
  def drain(spark: SparkSession): Unit =
    try org.apache.spark.sql.graftbridge.Bridge.waitUntilListenerBusEmpty(spark)
    catch { case _: java.util.concurrent.TimeoutException => }

  def spansJson: Seq[Map[String, Any]] = spanList.map(s => Map(
    "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
    "parent" -> s.parent, "query" -> s.query))
}
