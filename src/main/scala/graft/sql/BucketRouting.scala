package graft.sql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{BucketLayout, BucketPriorityConfig}

/** The reference's produce-path semantics (§2.1 `bucket_of`, `route`,
  * `discard`) as declarative DataFrame transforms.
  *
  * Reference behavior being reproduced
  * (BucketPriorityPartitioner.java:61-94, Bucket.java:22-29,
  * DiscardPartitioner.java:15-18):
  *   - bucket_of(key): split on the delimiter REGEX, take token 0, trim; a
  *     configured bucket name ⇒ that bucket, else no bucket; null key ⇒ no
  *     bucket;
  *   - route: a message whose key resolves to a bucket goes to the bucket's
  *     next round-robin partition; an EMPTY bucket (over-allocation edge,
  *     BucketPriorityPartitionerTest.java:186-262) yields partition −1 ⇒ the
  *     message is silently discarded; no bucket ⇒ null partition (the
  *     reference returns UNKNOWN_PARTITION so engine-default placement
  *     applies);
  *   - discard: drop unroutable rows (documented DiscardPartitioner intent,
  *     README.md:77-84).
  *
  * Round-robin determinism: the reference's AtomicInteger counter order
  * depends on send order; distributed Spark has no global send order, so the
  * caller supplies an explicit ordering column (`seqCol`, e.g. `event_id`).
  * The uniformity invariant (≤1 message skew per partition within a bucket)
  * is identical; the exact message→partition byte order is defined by
  * `seqCol` instead of arrival time (SURVEY §7 risk register).
  *
  * Scale note (100 TB): [[route]] is deterministic AND scale-safe — the
  * round-robin counter is computed with a window salted to
  * `(bucket, hash(seq) mod S)` so each bucket spreads over S reducers
  * instead of one, then per-salt offsets (a tiny broadcast aggregate)
  * stitch the salt-local row numbers into one bijection 1..N per bucket.
  * Any bijection yields the identical per-partition allocation (partition
  * load is `(rn-1) % size` over a permutation of 1..N — multiset-invariant),
  * so the reference's uniformity contract (≤1 skew within a bucket) holds
  * exactly, while the row→partition map stays a pure function of the key
  * and seq values. For shuffle-FREE routing of massive streams use
  * [[routeUniform]], which round-robins per Spark task — the guarantee
  * profile of the reference under concurrent producer threads (its
  * AtomicInteger order is scheduling-dependent too).
  */
object BucketRouting {

  /** `bucket_of(key)` as a pure Column (no UDF — codegen-friendly). */
  def bucketOf(key: Column, cfg: BucketPriorityConfig): Column = {
    val first = trim(split(key, cfg.delimiter).getItem(0))
    when(key.isNotNull && first.isin(cfg.buckets: _*), first)
  }

  /** Chained CASE over the (tiny) bucket list: bucket name → value. */
  private def bucketCase[T](bucket: Column, mapping: Seq[(String, T)]): Column =
    mapping.foldLeft(lit(null).cast("int")) { case (acc, (name, v)) =>
      when(bucket === name, lit(v)).otherwise(acc)
    }

  /** Deterministic priority routing.
    *
    * Adds `bucket` (nullable string) and `pt` (nullable int):
    *   - known bucket, non-empty range → assigned partition (round-robin over
    *     the bucket's contiguous range, a deterministic function of `seqCol`);
    *   - known bucket, EMPTY range     → −1 (to be discarded);
    *   - no bucket                     → null (engine-default placement).
    *
    * Two-level salted counter (no by-bucket single-reducer window): rows get
    * a salt `pmod(hash(seq), salts)`, a `row_number` window runs per
    * `(bucket, salt)` — S reducers per bucket — and per-salt offsets from a
    * tiny `(bucket, salt) → count` aggregate (≤ buckets×salts rows,
    * broadcast) stitch the locals into a bijection 1..N per bucket. The
    * per-partition allocation `(rn-1) % size` over any 1..N bijection is
    * multiset-identical, so results match a global seq-ordered counter
    * exactly; only the (unobservable) internal visit order differs. Costs
    * one extra pass over the routed side for the count aggregate — the price
    * of determinism at cluster scale; [[routeUniform]] is the zero-shuffle
    * alternative when reproducibility isn't needed.
    */
  def route(
      df: DataFrame,
      cfg: BucketPriorityConfig,
      numPartitions: Int,
      keyCol: Column,
      seqCol: Column,
      salts: Int = 16
  ): DataFrame = {
    require(salts >= 1, s"salts must be >= 1: $salts")
    val SaltCol = "__graft_route_salt"
    val RnCol = "__graft_route_rn"
    val OffCol = "__graft_route_off"
    Seq(SaltCol, RnCol, OffCol).foreach(c =>
      require(!df.columns.contains(c), s"input must not carry internal column $c"))
    val ranges = BucketLayout.ranges(cfg, numPartitions) // (name,(start,size))
    val bucket = bucketOf(keyCol, cfg)
    val withSalt = df
      .withColumn("bucket", bucket)
      .withColumn(SaltCol, pmod(hash(seqCol), lit(salts)))
    val start = bucketCase(col("bucket"), ranges.map { case (n, (s, _)) => (n, s) })
    val size = bucketCase(col("bucket"), ranges.map { case (n, (_, z)) => (n, z) })
    val localRn = row_number()
      .over(Window.partitionBy(col("bucket"), col(SaltCol)).orderBy(seqCol))
    // Per-(bucket, salt) counts → exclusive running offset within the bucket.
    // The window below runs over the AGGREGATE (≤ buckets×salts rows), not
    // the data — single-partition there is fine.
    val offsets = withSalt
      .filter(col("bucket").isNotNull)
      .groupBy(col("bucket"), col(SaltCol)).agg(count(lit(1)).as("__cnt"))
      .withColumn(
        OffCol,
        coalesce(
          sum(col("__cnt")).over(
            Window.partitionBy(col("bucket")).orderBy(col(SaltCol))
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("bucket"), col(SaltCol), col(OffCol))
    // final projection from withSalt's column list (not df's): withColumn
    // semantics are preserved whether "bucket" was appended or replaced a
    // pre-existing column in place, so re-routing a routed frame stays legal
    val outCols =
      withSalt.columns.filterNot(c => c == SaltCol || c == "pt").map(col) :+ col("pt")
    withSalt
      .withColumn(RnCol, localRn)
      .join(broadcast(offsets), Seq("bucket", SaltCol), "left")
      .withColumn(
        "pt",
        when(col("bucket").isNull, lit(null).cast("int"))
          .when(size === 0, lit(-1))
          .otherwise((start + (col(OffCol) + col(RnCol) - lit(1)) % size).cast("int")))
      .select(outCols: _*)
  }

  /** Shuffle-free routing for cluster scale: one round-robin counter per
    * (task, bucket), exactly the reference's per-bucket `AtomicInteger`
    * design (Bucket.java:14,22-29) with task-locality instead of
    * producer-instance-locality. Uniformity is exact within each task (≤1
    * skew per partition per task); across T tasks the worst-case skew is T,
    * the same compounding the reference has across producer instances.
    * Counters start at the task's partition id so concurrent tasks don't all
    * begin on the bucket's first partition.
    *
    * `mapPartitions` is justified here (preference (d), SURVEY §2): the
    * semantics are inherently stateful-per-task and a window would force a
    * by-bucket shuffle with one partition per bucket — the exact skew this
    * variant exists to avoid at 100 TB.
    */
  def routeUniform(
      df: DataFrame,
      cfg: BucketPriorityConfig,
      numPartitions: Int,
      keyCol: Column
  ): DataFrame = {
    val ranges: Map[String, (Int, Int)] = BucketLayout.ranges(cfg, numPartitions).toMap
    val withBucket = df.withColumn("bucket", bucketOf(keyCol, cfg))
    val outSchema = org.apache.spark.sql.types.StructType(
      withBucket.schema.fields :+
        org.apache.spark.sql.types.StructField("pt", org.apache.spark.sql.types.IntegerType, nullable = true))
    val bucketIdx = withBucket.schema.fieldIndex("bucket")
    implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    withBucket.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val counters = scala.collection.mutable.HashMap.empty[String, Int]
      it.map { row =>
        val b = row.getString(bucketIdx)
        val pt: Any =
          if (b == null) null
          else ranges.get(b) match {
            case Some((_, 0)) | None => -1
            case Some((startP, size)) =>
              val c = counters.getOrElseUpdate(b, pid)
              counters(b) = c + 1
              startP + BucketLayout.counterSlot(c, size)
          }
        org.apache.spark.sql.Row.fromSeq(row.toSeq :+ pt)
      }
    }
  }

  /** [[routeUniform]] as a first-class Catalyst operator (§2.5 preference
    * (c)): same per-(task, bucket) counter semantics, but executed by
    * [[graft.plans.AssignPartitionsExec]] directly over `UnsafeRow`s —
    * no Row encoder round-trip. Registers [[graft.plans.GraftStrategy]] on
    * the session idempotently. */
  def routeUniformNative(
      df: DataFrame,
      cfg: BucketPriorityConfig,
      numPartitions: Int,
      keyCol: Column
  ): DataFrame = {
    val spark = df.sparkSession
    // synchronized check-then-append: two concurrent callers racing here
    // could otherwise each read the same list and one would overwrite the
    // other's (or a user's concurrently-added) strategy
    spark.experimental.synchronized {
      if (!spark.experimental.extraStrategies.contains(graft.plans.GraftStrategy))
        spark.experimental.extraStrategies =
          spark.experimental.extraStrategies :+ graft.plans.GraftStrategy
    }
    val ranges: Map[String, (Int, Int)] = BucketLayout.ranges(cfg, numPartitions).toMap
    val withBucket = df.withColumn("bucket", bucketOf(keyCol, cfg))
    val childPlan = org.apache.spark.sql.graftbridge.Bridge.logicalPlan(withBucket)
    // resolve the attribute withColumn just produced: exact name when unique
    // (withColumn guarantees one column named "bucket" whether it appended
    // or replaced); positional last as the fallback for resolvers that kept
    // a pre-existing differently-cased name — never bind some other column
    val bucketAttr = childPlan.output.filter(_.name == "bucket") match {
      case Seq(a) => a
      case _ =>
        val last = childPlan.output.last
        require(last.name.equalsIgnoreCase("bucket"),
          s"cannot locate the routed bucket column in ${childPlan.output.map(_.name)}")
        last
    }
    val ptAttr = org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "pt", org.apache.spark.sql.types.IntegerType, nullable = true)()
    org.apache.spark.sql.graftbridge.Bridge.ofRows(spark,
      graft.plans.AssignPartitions(ranges, bucketAttr, ptAttr, childPlan))
  }

  /** `discard` fallback: keep only routable rows (documented intent of
    * DiscardPartitioner.java:15-18 — unroutable messages are never written). */
  def discard(df: DataFrame): DataFrame =
    df.filter(col("pt").isNotNull && col("pt") =!= -1)
}
