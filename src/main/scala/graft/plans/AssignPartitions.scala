package graft.plans

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}

/** The §2.5 preference-(c) tier: priority routing as a first-class physical
  * operator — a logical node, a planner strategy, and an `InternalRow`-level
  * exec — instead of the `DataFrame.mapPartitions` closure in
  * [[graft.sql.BucketRouting.routeUniform]].
  *
  * Semantics are IDENTICAL to routeUniform (same per-(task, bucket) counter
  * seeded with the task's partition id, same −1/null fall-through — the
  * reference's per-producer `AtomicInteger` design, Bucket.java:14,22-29,
  * task-local instead of producer-local). What changes is the execution
  * boundary: mapPartitions on a typed Dataset deserializes every row to a
  * `Row` and re-encodes the result, while this exec appends the `pt` column
  * to the unmodified `UnsafeRow` via a `JoinedRow` + reused projection —
  * no encoder round-trip, no schema re-derivation, pipelined with the
  * upstream scan.
  *
  * `ranges`: bucket → (startPartition, size) from `BucketLayout.ranges`;
  * size 0 ⇒ −1 (discard downstream), unknown/null bucket ⇒ null pt (engine
  * placement), mirroring `route`'s contract.
  */
final case class AssignPartitions(
    ranges: Map[String, (Int, Int)],
    bucketAttr: Attribute,
    ptAttr: Attribute,
    child: LogicalPlan
) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ ptAttr
  // pt is produced HERE — without this the analyzer flags it as missing
  // input. bucketAttr being a constructor field puts it in `expressions`,
  // so `references` = {bucket}: the read dependency that stops
  // ColumnPruning from dropping the bucket column under this node when the
  // parent query doesn't select it.
  override def producedAttributes: AttributeSet = AttributeSet(ptAttr :: Nil)
  override protected def withNewChildInternal(newChild: LogicalPlan): AssignPartitions =
    copy(child = newChild)
}

/** Plans [[AssignPartitions]] into [[AssignPartitionsExec]]. Registered
  * per-session by `BucketRouting.routeUniformNative` (idempotent). */
object GraftStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AssignPartitions(ranges, bucketAttr, ptAttr, child) =>
      AssignPartitionsExec(ranges, bucketAttr, ptAttr, planLater(child)) :: Nil
    case _ => Nil
  }
}

final case class AssignPartitionsExec(
    ranges: Map[String, (Int, Int)],
    bucketAttr: Attribute,
    ptAttr: Attribute,
    child: SparkPlan
) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ ptAttr
  override def producedAttributes: AttributeSet = AttributeSet(ptAttr :: Nil)
  // narrow op: partition count and distribution are untouched
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning
  override protected def withNewChildInternal(newChild: SparkPlan): AssignPartitionsExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val bucketIdx = child.output.indexWhere(_.exprId == bucketAttr.exprId)
    require(bucketIdx >= 0, "AssignPartitions child must carry the bucket column")
    val out = output
    val rangesLocal = ranges
    child.execute().mapPartitions({ iter =>
      val pid = TaskContext.getPartitionId()
      val counters = scala.collection.mutable.HashMap.empty[String, Int]
      val joined = new JoinedRow
      val ptRow = new GenericInternalRow(1)
      val project = UnsafeProjection.create(out, out)
      iter.map { row =>
        val b =
          if (row.isNullAt(bucketIdx)) null
          else row.getUTF8String(bucketIdx).toString
        if (b == null) ptRow.update(0, null)
        else rangesLocal.get(b) match {
          case Some((_, 0)) | None => ptRow.update(0, -1)
          case Some((startP, size)) =>
            val c = counters.getOrElseUpdate(b, pid)
            counters(b) = c + 1
            ptRow.update(0, startP + graft.core.BucketLayout.counterSlot(c, size))
        }
        project(joined(row, ptRow))
      }
    }, preservesPartitioning = true)
  }
}
