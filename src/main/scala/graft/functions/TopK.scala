package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Typed top-k accumulator (SURVEY §2.5's `TypedImperativeAggregate` escape
  * hatch, realized as the public `Aggregator` API): keeps the k best
  * (score desc, id asc) pairs per group in a bounded buffer, so a grouped
  * top-k needs no full sort and no row_number window — the buffer IS the
  * map-side partial aggregate, and merge is a k-way bounded merge.
  *
  * At 100 TB this is the difference between shuffling every scored pair to
  * sort it, and shuffling at most k rows per group per map task.
  */
object TopK {

  final case class Scored(cid: Long, sim: Double)

  final class TopKAggregator(k: Int) extends Aggregator[Scored, Seq[Scored], Seq[Scored]] {
    require(k > 0, s"top-k needs k > 0, got $k") // fail at driver, not as an executor NoSuchElementException

    private def better(a: Scored, b: Scored): Boolean =
      a.sim > b.sim || (a.sim == b.sim && a.cid < b.cid)

    private def best(xs: Seq[Scored]): Seq[Scored] =
      xs.sortBy(s => (-s.sim, s.cid)).take(k)

    /** O(k) ordered insert into the sorted-best-first buffer (a full re-sort
      * per accepted row would make the map-side hot loop O(k log k)/row). */
    private def insert(buf: Seq[Scored], item: Scored): Seq[Scored] = {
      val (front, back) = buf.span(better(_, item))
      ((front :+ item) ++ back).take(k)
    }

    /** Canonicalize −0.0 → 0.0 on entry: better() compares with IEEE ==
      * (−0.0 == 0.0, ties fall to cid) but best()'s Scala total ordering
      * ranks 0.0 strictly above −0.0 — a ±0.0 tie at the k boundary could
      * otherwise rank differently between insert and merge/finish, and
      * differently from the row_number window path (which normalizes −0.0
      * to 0.0) this aggregator is documented to match. */
    private def canon(item: Scored): Scored =
      if (item.sim == 0.0) item.copy(sim = 0.0) else item

    override def zero: Seq[Scored] = Seq.empty
    override def reduce(buf: Seq[Scored], raw: Scored): Seq[Scored] = {
      val item = canon(raw)
      if (buf.size < k) insert(buf, item)
      else if (better(item, buf.last)) insert(buf, item)
      else buf
    }
    override def merge(a: Seq[Scored], b: Seq[Scored]): Seq[Scored] = best(a ++ b)
    override def finish(buf: Seq[Scored]): Seq[Scored] = best(buf)
    override def bufferEncoder: Encoder[Seq[Scored]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[Scored]] = ExpressionEncoder()
  }

  /** DataFrame-facing UDAF: `topK(10)(col("cid"), col("sim"))` → array<struct>. */
  def topK(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(new TopKAggregator(k), Encoders.product[Scored])

  /** Production grouped top-k over a scored frame: `(groupCol, cid, sim)` →
    * `(groupCol, cid, sim, rk)` with rk 1..k by (sim desc, cid asc) — the
    * documented DEFAULT for ≥~100-query retrieval workloads (measured r9 at
    * sf0.1, 2000 candidates, k=10: 1.63× over the row_number window at 1000
    * queries, break-even ~100, window wins at 5 — the aggregator ships ≤ k
    * rows per group per map task where the window shuffles every scored
    * pair; the gap widens with queries × candidates). Oracle-checked
    * against the window form by `similarity_topk_agg`, which routes through
    * here, and row for row by TopKSpec. */
  def ranked(scored: org.apache.spark.sql.DataFrame, groupCol: String, k: Int)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    scored.groupBy(groupCol)
      .agg(topK(k)(col("cid"), col("sim")).as("top"))
      .select(col(groupCol), posexplode(col("top")))
      .select(col(groupCol), col("col.cid").as("cid"), col("col.sim").as("sim"),
        (col("pos") + 1).cast("int").as("rk"))
  }
}
