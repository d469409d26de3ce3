package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables
import graft.core.BucketPriorityConfig

/** The stream workload's inputs, all made from the seed.
  *
  * Keys are `<type>-<id>`; the four bucket types route, `view` does not.
  * A payload joins a few document texts sampled with the seed (texts under
  * three tokens are skipped, since shingles need three). About `dupFrac` of
  * events are redelivered once, a few ticks after the original.
  */
object Events {
  val Buckets: Seq[String] = Seq("purchase", "signup", "error", "click")
  val Allocation: Seq[Int] = Seq(40, 30, 20, 10)
  val Partitions = 10
  val Unroutable = "view"

  lazy val config: BucketPriorityConfig =
    BucketPriorityConfig("events", Buckets, Allocation).toOption.get

  final case class Ev(id: Long, key: String, payload: String, dueMs: Long, dup: Boolean)

  /** Document texts with at least three tokens, in doc_id order. */
  def payloads(spark: SparkSession, dir: String): IndexedSeq[String] =
    Tables.load(spark, dir, "documents")
      .filter(size(split(col("text"), " ")) >= 3)
      .orderBy("doc_id").select("text").collect().map(_.getString(0)).toIndexedSeq

  /** An event's payload: `docs` document texts drawn with `rnd`, joined. */
  def payload(rnd: scala.util.Random, texts: IndexedSeq[String], docs: Int): String =
    Seq.fill(docs)(texts(rnd.nextInt(texts.size))).mkString(" ")

  /** The open-loop schedule: each `tick` returns every event due by its
    * end at the per-type rates, plus the redeliveries scheduled into it.
    * Event ids follow due order. */
  final class Schedule(seed: Long, rates: Map[String, Double], texts: IndexedSeq[String],
      docsPerEvent: Int, dupFrac: Double, val t0Ms: Long) {
    private val rnd = new scala.util.Random(seed)
    private var nextId = 0L
    private val emitted = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    private val pendingDups = scala.collection.mutable.ArrayBuffer.empty[(Long, Ev)]

    def tick(startMs: Long, endMs: Long): Seq[Ev] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Ev]
      val fresh = rates.toSeq.sortBy(_._1).flatMap { case (t, r) =>
        val due = math.floor((endMs - t0Ms) / 1000.0 * r).toLong
        val n = due - emitted(t)
        val evs = (0L until n).map(i => (t, t0Ms + math.ceil((emitted(t) + i) * 1000.0 / r).toLong))
        emitted(t) = due
        evs
      }.sortBy(_._2)
      fresh.foreach { case (t, dueMs) =>
        val id = nextId
        nextId += 1
        val e = Ev(id, s"$t-$id", payload(rnd, texts, docsPerEvent), dueMs, dup = false)
        out += e
        if (rnd.nextDouble() < dupFrac)
          pendingDups += ((endMs + (1 + rnd.nextInt(5)) * (endMs - startMs), e.copy(dup = true)))
      }
      val (ready, later) = pendingDups.partition(_._1 <= endMs)
      pendingDups.clear()
      pendingDups ++= later
      out ++= ready.map(_._2)
      out.toSeq
    }
  }

  /** Keys for the routing legs: `n` events of the offered mix. */
  def keys(seed: Long, rates: Map[String, Double], n: Int): IndexedSeq[String] = {
    val rnd = new scala.util.Random(seed)
    val types = rates.toSeq.sortBy(_._1)
    val total = types.map(_._2).sum
    IndexedSeq.tabulate(n) { i =>
      var x = rnd.nextDouble() * total
      val t = types.find { case (_, r) => x -= r; x < 0 }.map(_._1).getOrElse(types.last._1)
      s"$t-$i"
    }
  }
}
