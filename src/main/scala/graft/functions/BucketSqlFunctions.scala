package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._

import graft.core.BucketPriorityConfig

/** §2.5: expose the bucket operators on the SQL surface.
  *
  * `bucket_of` is the same split+trim+isin expression tree as
  * [[graft.sql.BucketRouting.bucketOf]], built from catalyst nodes directly:
  * a function-registry lambda must return an evaluable tree, and Column→
  * Expression bridging yields a lazily-converted node the analyzer won't
  * revisit inside a registered function. Equivalence of the two forms is
  * asserted by VectorFunctionsSpec.
  */
object BucketSqlFunctions {

  /** bucket_of(key) as a catalyst tree:
    * CASE WHEN key IS NOT NULL AND trim(split(key, delim)[0]) IN (buckets)
    * THEN trim(split(key, delim)[0]) END */
  def bucketOfExpr(key: Expression, cfg: BucketPriorityConfig): Expression = {
    val split = StringSplit(key, Literal(cfg.delimiter), Literal(-1))
    val first = StringTrim(GetArrayItem(split, Literal(0)))
    val cond = And(IsNotNull(key), In(first, cfg.buckets.map(b => Literal(b))))
    CaseWhen(Seq((cond, first)), None)
  }

  // last (session, cfg) bound to bucket_of — createOrReplaceTempFunction
  // logs "SimpleFunctionRegistry: bucket_of replaced" on every re-bind, so a
  // min-of-3 bench run of bucket_of_sql used to emit the warning twice per
  // session for a no-op replacement (r11 verdict item 8). A NEW config still
  // replaces the binding immediately. The session is held via WeakReference
  // so the memo never pins a stopped session, and the registry is probed
  // for the binding before skipping — a dropped function or rebuilt
  // registry re-registers even when (session, cfg) is unchanged (r12
  // advice).
  private val lastBucketOf = new java.util.concurrent.atomic.AtomicReference[
    (java.lang.ref.WeakReference[SparkSession], BucketPriorityConfig)]()

  private def bucketOfBound(spark: SparkSession): Boolean =
    spark.sessionState.functionRegistry.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier("bucket_of"))

  /** Register `bucket_of(key)` bound to `cfg` in this session's function
    * registry. Idempotent per (session, cfg) while the binding is live;
    * re-registering with a new config replaces the binding. */
  def registerBucketOf(spark: SparkSession, cfg: BucketPriorityConfig): Unit = {
    val memoHit = lastBucketOf.get() match {
      case (ref, c) if ref != null => (ref.get() eq spark) && c == cfg
      case _ => false
    }
    if (!memoHit || !bucketOfBound(spark)) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "bucket_of",
        exprs => {
          require(exprs.length == 1,
            s"bucket_of requires exactly 1 argument, got ${exprs.length}")
          bucketOfExpr(exprs.head, cfg)
        },
        "built-in")
      lastBucketOf.set((new java.lang.ref.WeakReference(spark), cfg))
    }
  }

  /** Register everything the SQL surface offers. */
  def registerAll(spark: SparkSession, cfg: BucketPriorityConfig): Unit = {
    registerBucketOf(spark, cfg)
    VectorFunctions.registerSql(spark)
    registerTextHash(spark)
    // gram_micro(embedding) → array<bigint> d²: the one-pass exact Gram
    // aggregator (GramAgg) on the SQL surface, same registration path as
    // any public UDAF
    spark.udf.register("gram_micro", GramAgg.gramMicro)
  }

  /** Register the text-hash expressions (`simhash_fingerprint(shingles)`,
    * `minhash_signature(shingles)`, `min_window_md5(toks, width)`) for the
    * SQL surface of this session. */
  def registerTextHash(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash_fingerprint",
      exprs => {
        require(exprs.length == 1,
          s"simhash_fingerprint requires exactly 1 argument, got ${exprs.length}")
        SimhashFingerprint(exprs.head)
      },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_signature",
      exprs => {
        require(exprs.length == 1,
          s"minhash_signature requires exactly 1 argument, got ${exprs.length}")
        MinhashSignature(exprs.head)
      },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "shingle_set",
      exprs => {
        require(exprs.length == 2,
          s"shingle_set requires exactly 2 arguments, got ${exprs.length}")
        ShingleSet(exprs.head, exprs(1) match {
          case Literal(w: Int, _) => w
          case other => throw new IllegalArgumentException(
            s"shingle_set width must be an integer literal, got $other")
        })
      },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "min_window_md5",
      exprs => {
        require(exprs.length == 2,
          s"min_window_md5 requires exactly 2 arguments, got ${exprs.length}")
        MinWindowMd5(exprs.head, exprs(1) match {
          case Literal(w: Int, _) => w
          case other => throw new IllegalArgumentException(
            s"min_window_md5 width must be an integer literal, got $other")
        })
      },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vector_l2sq",
      exprs => {
        require(exprs.length == 2,
          s"vector_l2sq requires exactly 2 arguments, got ${exprs.length}")
        VectorL2Sq(exprs(0), exprs(1))
      },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "winnow_fingerprints",
      exprs => {
        require(exprs.length == 3,
          s"winnow_fingerprints requires exactly 3 arguments, got ${exprs.length}")
        def intLit(e: Expression, name: String): Int = e match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"winnow_fingerprints $name must be an integer literal, got $other")
        }
        WinnowFingerprints(exprs.head, intLit(exprs(1), "k"), intLit(exprs(2), "w"))
      },
      "built-in")
    // the bloom membership-prefilter pair (see functions/BloomFunctions —
    // Spark ships these expressions for runtime join pruning but leaves
    // them off the 4.1 SQL registry): bloom_filter_agg(xxhash64(x), items)
    // builds the filter, might_contain(bf, xxhash64(x)) probes it (filter
    // side must be a constant or scalar subquery)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bloom_filter_agg",
      exprs => {
        require(exprs.length == 2,
          s"bloom_filter_agg requires exactly 2 arguments, got ${exprs.length}")
        val items = exprs(1) match {
          case Literal(n: Long, _) => n
          case Literal(n: Int, _) => n.toLong
          case other => throw new IllegalArgumentException(
            s"bloom_filter_agg estimatedItems must be an integer literal, got $other")
        }
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          exprs.head, items).toAggregateExpression()
      },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "might_contain",
      exprs => {
        require(exprs.length == 2,
          s"might_contain requires exactly 2 arguments, got ${exprs.length}")
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          exprs(0), exprs(1))
      },
      "built-in")
  }
}
