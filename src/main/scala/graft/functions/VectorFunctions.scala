package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, EvalMode, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Fused cosine similarity over two float-array columns, as a native
  * codegen'd Catalyst expression (SURVEY §2.5's documented escape hatch —
  * preference (b): custom Expression when built-ins can't hit the needed
  * throughput).
  *
  * One pass accumulates dot, ‖a‖², ‖b‖² left-to-right in double — the exact
  * accumulation order of the higher-order-function formulation
  * (`aggregate(zip_with(...))`) and of DuckDB's `list_reduce`, so results
  * are bit-identical to both and the DuckDB oracles need no change. The win
  * is ~64× fewer virtual calls: the HOF version interprets a lambda per
  * element; this compiles to a tight Java loop inside whole-stage codegen.
  */
case class CosineSimilarity(
    left: Expression,
    right: Expression,
    evalMode: EvalMode.Value = EvalMode.LEGACY)
    extends BinaryExpression {

  // Mirrors Divide's mode surface (Divide captures EvalMode at parse time;
  // so does the SQL registration below): ANSI throws DIVIDE_BY_ZERO on a
  // zero divisor — empty array, zero-norm, underflow — LEGACY and TRY
  // return NULL, so the expression equals the HOF form in BOTH modes.
  private def failOnError: Boolean = evalMode == EvalMode.ANSI

  override def dataType: DataType = DoubleType

  // the ExpectsInputTypes mixin is private[sql] in Spark 4; enforce the
  // array<float> contract at analysis time instead of as an executor CCE
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cosine_similarity"

  // Null semantics mirror the HOF formulation under the SAME eval mode
  // (property-tested in VectorFunctionsSpec): arrays of different lengths
  // (zip_with null-pads, the fold propagates null) or any null element ⇒
  // NULL in every mode; a zero divisor — empty array, zero-norm vector, or
  // norm underflow — ⇒ NULL under LEGACY/TRY exactly as legacy Divide
  // (DivModLike.eval, all numeric types incl. double), and DIVIDE_BY_ZERO
  // under ANSI exactly as ANSI Divide.
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) {
      if (failOnError) throw Bridge.divideByZeroError(origin.context) else null
    } else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val onZeroDenom = if (failOnError) {
        val errCtx = ctx.addReferenceObj(
          "errCtx", origin.context, "org.apache.spark.QueryContext")
        s"throw org.apache.spark.sql.graftbridge.Bridge.divideByZeroError($errCtx);"
      } else s"${ev.isNull} = true;"
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val denom = ctx.freshName("denom")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $x = (double) $a.getFloat($i);
         |    double $y = (double) $b.getFloat($i);
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  if (!${ev.isNull}) {
         |    double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |    if ($denom == 0.0) {
         |      $onZeroDenom
         |    } else {
         |      ${ev.value} = $dot / $denom;
         |    }
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd float-vector dot product: the double left-fold
  * `aggregate(zip_with(a, b, (x, y) -> double(x) * double(y)), 0.0, +)`
  * as one tight loop (same accumulation order ⇒ bit-identical to the HOF
  * form and to DuckDB's `list_reduce`). Null semantics mirror the HOF form:
  * unequal lengths (zip_with null-pads) or any null element ⇒ NULL. Used by
  * the hyperplane-LSH signatures, where the interpreted HOF fold is the
  * dominant per-row cost (36 planes × 64 elements per vector). */
case class FloatVectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "float_vector_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $dot += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $dot;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd squared L2 distance over two float-array columns: the double
  * left-fold `aggregate(zip_with(a, b, (x, y) -> (dx)·(dx)), 0.0, +)` with
  * dx = double(x) − double(y), as one tight loop — identical accumulation
  * order, so bit-identical to the HOF form and DuckDB's `list_reduce`
  * mirror. Added r5 for product quantization, where the interpreted HOF
  * fold runs once per (vector, subspace, codebook entry) — m·k = 128
  * lambda-interpreted folds per encoded vector. Null semantics mirror the
  * HOF form: unequal lengths or any null element ⇒ NULL. */
case class FloatVectorL2Sq(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "float_vector_l2sq"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $d = (double) $a.getFloat($i) - (double) $b.getFloat($i);
         |    $acc += $d * $d;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $acc;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance over float OR double array columns, mixed freely
  * (added r6 for the multi-iteration k-means loop: the data side stays
  * `array<float>` while derived centroids are `array<double>` means).
  * Same fold order and null semantics as [[FloatVectorL2Sq]] — left-to-right
  * double accumulation, NULL on length mismatch or null element — so it is
  * bit-identical to the `aggregate(zip_with(...))` HOF form and DuckDB's
  * `list_reduce` on the same values. Element types are resolved at PLAN
  * time, so codegen emits the exact getter per side (no per-element
  * branching in the loop). */
case class VectorL2Sq(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  private def elemOk(t: DataType) = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _                                                  => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "vector_l2sq"

  private def isFloat(e: Expression) =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val lf = isFloat(left); val rf = isFloat(right)
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      val d = xv - yv
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      def get(arr: String, float: Boolean) =
        if (float) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $d = ${get(a, isFloat(left))} - ${get(b, isFloat(right))};
         |    $acc += $d * $d;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $acc;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd micro-grid Householder rotation (r15, the OPQ hot loop):
  * given a row-major n×n rotation matrix `harr` (array<double>, h[i·n+j])
  * and a float vector `emb` (n elements), returns the n rotated components
  *   r_i = (Σ_j floor(h[i·n+j] · q_j)) / 10⁶   with q_j = floor(x_j · 10⁶)
  * — EXACTLY the HOF formulation's arithmetic (transform/aggregate with a
  * BIGINT accumulator; q promoted to double per product, floor to long,
  * exact long sums, one final long/double division), so results are
  * bit-identical to the interpreted form and to the DuckDB `list_transform
  * / list_sum` oracle mirror, which stays unchanged. The win is the same
  * as [[FloatVectorDot]]'s but n× bigger: the HOF form interprets n²
  * (4096) boxed lambda calls per row — measured as the dominant cost of
  * pq_train_distortion's OPQ legs (tens of seconds at sf0.1); this is two
  * nested Java loops inside whole-stage codegen. Null semantics mirror the
  * HOF form: any null element, or harr.length ≠ n², ⇒ NULL. */
case class MicroRotate(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(FloatType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<double>, array<float>), got " +
        s"${l.simpleString} and ${r.simpleString}")
  }
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "micro_rotate"

  override def nullSafeEval(h: Any, e: Any): Any = {
    val hm = h.asInstanceOf[ArrayData]
    val x = e.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (hm.numElements() != n * n) return null
    val q = new Array[Long](n)
    var j = 0
    while (j < n) {
      if (x.isNullAt(j)) return null
      q(j) = math.floor(x.getFloat(j).toDouble * 1000000.0).toLong
      j += 1
    }
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      var acc = 0L
      var jj = 0
      while (jj < n) {
        if (hm.isNullAt(i * n + jj)) return null
        acc += math.floor(hm.getDouble(i * n + jj) * q(jj).toDouble).toLong
        jj += 1
      }
      out(i) = acc.toDouble / 1000000.0
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (h, e) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val q = ctx.freshName("q")
      val out = ctx.freshName("out")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $e.numElements();
         |if ($h.numElements() != $n * $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  long[] $q = new long[$n];
         |  double[] $out = new double[$n];
         |  for (int $j = 0; $j < $n && !${ev.isNull}; $j++) {
         |    if ($e.isNullAt($j)) { ${ev.isNull} = true; break; }
         |    $q[$j] = (long) Math.floor((double) $e.getFloat($j) * 1000000.0);
         |  }
         |  for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
         |    long $acc = 0L;
         |    for (int $j = 0; $j < $n; $j++) {
         |      if ($h.isNullAt($i * $n + $j)) { ${ev.isNull} = true; break; }
         |      $acc += (long) Math.floor($h.getDouble($i * $n + $j) * (double) $q[$j]);
         |    }
         |    $out[$i] = (double) $acc / 1000000.0;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd broadcast-candidates argmin (r15 optimization round): given a
  * SINGLE-ROW candidate table `cands` (array<struct<id bigint, centv
  * array<float|double>>>, sorted ascending by id) and a data vector `v`
  * (array<float|double>), returns struct(score double, id bigint) — the
  * candidate minimizing the score, smallest id on ties.
  *
  * This replaces the `crossJoin(broadcast(cands)) → groupBy(row_key) →
  * min(struct(score, id))` assignment idiom used by every ANN
  * assignment/encode stage. That idiom is CORRECT but pays, per corpus
  * pass: a 16× row fan-out, a partial SortAggregate + Exchange + final
  * SortAggregate (min over a struct buffer is not hash-aggregable, so
  * Spark plans sort-based aggregation with TWO extra sorts), and the
  * corpus-sized shuffle itself. This expression computes the identical
  * argmin per row inside whole-stage codegen — guide §2.4 "remove
  * shuffles outright": the assignment becomes a map-only projection over
  * the scan, and at 100 TB the corpus never crosses the network at all.
  *
  * Bit-parity: per candidate the score is the EXACT fold of the
  * expression it replaces — `negCos = false`: [[VectorL2Sq]]'s
  * left-to-right double accumulation of squared deltas; `negCos = true`:
  * the negation of [[CosineSimilarity]]'s LEGACY fold (dot/‖a‖/‖b‖
  * accumulated left-to-right, NULL on zero denominator). A NULL score
  * (length mismatch, null element, zero norm) maps to +∞ exactly like the
  * `coalesce(score, +Inf)` the call sites wrapped around the old
  * min(struct); selection is strict Double.compare-< over candidates in
  * ascending-id order, which equals min(struct(score, id))'s (score, id)
  * lexicographic order under Spark's double total ordering (NaN last,
  * -0.0 < 0.0 — r16 ADVICE fix; primitive < diverged on NaN). The DuckDB
  * oracle twins (ROW_NUMBER ... ORDER BY score, id) are untouched — both
  * engines compute the same argmin on the same bits.
  *
  * NULL-handling note (r16, ADVICE): the expression is null-INTOLERANT —
  * a row whose data-vector COLUMN is NULL (not merely containing null
  * elements) yields m = NULL, and call sites drop it via
  * .filter(isNotNull). The replaced idiom would have assigned such a row
  * to the smallest-id candidate (+Inf scores everywhere). The corpora
  * have no NULL vectors (every oracle is hash-green), so this is a
  * documented design choice: top-level NULL vectors are excluded from
  * assignment by design.
  *
  * DECLARED non-deterministic (r16; guide §4.4's remedy applied to a
  * Catalyst expression): the function is a pure fold, but with
  * `deterministic = true` the optimizer DUPLICATED it — the call sites'
  * `isnotnull(m)` filter, the equi-join null checks on `m.id`, and
  * constraints inferred from the other join side (`code < 16`) all push
  * through the projection and re-expand the full 16-candidate × 64-dim
  * fold inside join conditions: the r15 `*_after` plans show up to THREE
  * copies of the fold in one BroadcastNestedLoopJoin condition plus the
  * projection's own — 4× the assignment compute at any scale. Flagging
  * non-deterministic forbids the optimizer from reordering or duplicating
  * the expression, so every plan evaluates the fold exactly ONCE per row
  * and the predicates test the computed column above it. Results are
  * bit-identical (the expression never actually varies); the trade is the
  * lost IsNotNull scan pushdown on the vector column — worthless here, as
  * the corpora have no NULL vectors and the filter still applies above. */
case class VectorArgmin(left: Expression, right: Expression, negCos: Boolean)
    extends BinaryExpression {

  override lazy val deterministic: Boolean = false

  import org.apache.spark.sql.types.{LongType, StructField, StructType}

  override def dataType: DataType = StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false)))

  private def elemOk(t: DataType) = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _                                                  => false
  }

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case ArrayType(org.apache.spark.sql.types.StructType(fields), _)
        if fields.length == 2 && fields(0).dataType == LongType &&
          elemOk(fields(1).dataType) && elemOk(right.dataType) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<struct<bigint, array<float|double>>>, " +
        s"array<float|double>), got ${left.dataType.simpleString} and " +
        s"${right.dataType.simpleString}")
  }
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String =
    if (negCos) "vector_argmin_negcos" else "vector_argmin_l2"

  private def candElemIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType
      .asInstanceOf[org.apache.spark.sql.types.StructType](1)
      .dataType.asInstanceOf[ArrayType].elementType == FloatType
  private def vElemIsFloat: Boolean =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(c: Any, e: Any): Any = {
    val cands = c.asInstanceOf[ArrayData]
    val v = e.asInstanceOf[ArrayData]
    val m = cands.numElements()
    if (m == 0) return null
    val n = v.numElements()
    val cf = candElemIsFloat; val vf = vElemIsFloat
    var bestScore = Double.PositiveInfinity
    var bestId = 0L
    var first = true
    var k = 0
    while (k < m) {
      if (!cands.isNullAt(k)) {
        val cand = cands.getStruct(k, 2)
        val id = cand.getLong(0)
        var score = Double.PositiveInfinity
        if (!cand.isNullAt(1)) {
          val cv = cand.getArray(1)
          if (cv.numElements() == n) {
            var acc = 0.0; var dot = 0.0; var na = 0.0; var nb = 0.0
            var ok = true
            var i = 0
            while (ok && i < n) {
              if (v.isNullAt(i) || cv.isNullAt(i)) ok = false
              else {
                val xv = if (vf) v.getFloat(i).toDouble else v.getDouble(i)
                val yv = if (cf) cv.getFloat(i).toDouble else cv.getDouble(i)
                if (negCos) { dot += xv * yv; na += xv * xv; nb += yv * yv }
                else { val d = xv - yv; acc += d * d }
                i += 1
              }
            }
            if (ok) {
              if (negCos) {
                val denom = math.sqrt(na) * math.sqrt(nb)
                if (denom != 0.0) score = -(dot / denom)
              } else score = acc
            }
          }
        }
        // java.lang.Double.compare, not primitive < (r16, ADVICE): the
        // primitive comparison diverges from min(struct)'s total ordering
        // once a NaN score appears (score < NaN is false for every later
        // candidate, so a first-candidate NaN would win); Double.compare
        // reproduces Spark's double ordering exactly (NaN last,
        // -0.0 < 0.0), which is what the replaced min(struct(score, id))
        // used. Identical on NaN-free data.
        if (first || java.lang.Double.compare(score, bestScore) < 0) {
          bestScore = score; bestId = id; first = false
        }
      }
      k += 1
    }
    if (first) null
    else new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestScore, bestId))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, e) => {
      val m = ctx.freshName("m")
      val n = ctx.freshName("n")
      val k = ctx.freshName("k")
      val i = ctx.freshName("i")
      val cand = ctx.freshName("cand")
      val cv = ctx.freshName("cv")
      val id = ctx.freshName("id")
      val score = ctx.freshName("score")
      val acc = ctx.freshName("acc")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val ok = ctx.freshName("ok")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val d = ctx.freshName("d")
      val denom = ctx.freshName("denom")
      val bestScore = ctx.freshName("bestScore")
      val bestId = ctx.freshName("bestId")
      val firstV = ctx.freshName("first")
      def getV = if (vElemIsFloat) s"(double) $e.getFloat($i)" else s"$e.getDouble($i)"
      def getC = if (candElemIsFloat) s"(double) $cv.getFloat($i)" else s"$cv.getDouble($i)"
      val foldBody = if (negCos)
        s"$dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;"
      else
        s"double $d = $xv - $yv; $acc += $d * $d;"
      val finish = if (negCos)
        s"""double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
           |if ($denom != 0.0) $score = -($dot / $denom);""".stripMargin
      else
        s"$score = $acc;"
      s"""
         |int $m = $c.numElements();
         |if ($m == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $e.numElements();
         |  double $bestScore = Double.POSITIVE_INFINITY;
         |  long $bestId = 0L;
         |  boolean $firstV = true;
         |  for (int $k = 0; $k < $m; $k++) {
         |    if ($c.isNullAt($k)) continue;
         |    InternalRow $cand = $c.getStruct($k, 2);
         |    long $id = $cand.getLong(0);
         |    double $score = Double.POSITIVE_INFINITY;
         |    if (!$cand.isNullAt(1)) {
         |      ArrayData $cv = $cand.getArray(1);
         |      if ($cv.numElements() == $n) {
         |        double $acc = 0.0, $dot = 0.0, $na = 0.0, $nb = 0.0;
         |        boolean $ok = true;
         |        for (int $i = 0; $ok && $i < $n; $i++) {
         |          if ($e.isNullAt($i) || $cv.isNullAt($i)) { $ok = false; break; }
         |          double $xv = $getV;
         |          double $yv = $getC;
         |          $foldBody
         |        }
         |        if ($ok) {
         |          $finish
         |        }
         |      }
         |    }
         |    if ($firstV || java.lang.Double.compare($score, $bestScore) < 0) {
         |      $bestScore = $score; $bestId = $id; $firstV = false;
         |    }
         |  }
         |  if ($firstV) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |      new Object[]{$bestScore, $bestId});
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Top-2 variant of [[VectorArgmin]] for the L2 metric (r16, verdict item
  * 2): given the same SINGLE-ROW candidate array (sorted ascending by id)
  * and a data vector, returns struct(score double, id bigint, score2
  * double) — the best candidate's (distance², id) plus the SECOND-best
  * distance², both under the (score, id) lexicographic order that
  * min(struct)/sort_array used.
  *
  * This makes silhouette_positive_share map-only: the old idiom paid the
  * 16× crossJoin fan-out plus a corpus-sized Sort+Exchange+SortAggregate
  * pair (min(struct) AND sort_array(collect_list(...)) per vec_id) to get
  * (own-centroid d², nearest-other d²) — the last corpus-sized
  * sort-aggregate shuffle left in the ANN deck after r15.
  *
  * Bit-parity with the replaced idiom: per candidate the score is
  * [[VectorL2Sq]]'s exact left-to-right fold; a NULL score (null element,
  * length mismatch) maps to +∞ like the old `coalesce(d2, +Inf)`;
  * top-2 selection over candidates in ascending-id order with
  * Double.compare reproduces sort_array's (score, id) struct order (NaN
  * last, -0.0 < 0.0); `score2` is element [1] of that order — NULL when
  * only one candidate exists, exactly like the old out-of-bounds
  * `all[1]`. Null handling follows [[VectorArgmin]] exactly (r16 ADVICE
  * note there): null-INTOLERANT on the data-vector column — top-level
  * NULL vectors are excluded by design (none exist in the corpora; every
  * oracle is hash-green), and a NULL/empty candidate array yields NULL,
  * dropped by the call site's isNotNull filter like the old
  * crossJoin-with-empty-broadcast zero-rows case. */
case class VectorArgmin2(left: Expression, right: Expression)
    extends BinaryExpression {

  import org.apache.spark.sql.types.{LongType, StructField, StructType}

  // pure fold, declared non-deterministic so the optimizer cannot
  // duplicate it into join conditions — see [[VectorArgmin]]'s note
  override lazy val deterministic: Boolean = false

  override def dataType: DataType = StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("score2", DoubleType, nullable = true)))

  private def elemOk(t: DataType) = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _                                                  => false
  }

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case ArrayType(org.apache.spark.sql.types.StructType(fields), _)
        if fields.length == 2 && fields(0).dataType == LongType &&
          elemOk(fields(1).dataType) && elemOk(right.dataType) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<struct<bigint, array<float|double>>>, " +
        s"array<float|double>), got ${left.dataType.simpleString} and " +
        s"${right.dataType.simpleString}")
  }
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "vector_argmin2_l2"

  private def candElemIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType
      .asInstanceOf[org.apache.spark.sql.types.StructType](1)
      .dataType.asInstanceOf[ArrayType].elementType == FloatType
  private def vElemIsFloat: Boolean =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(c: Any, e: Any): Any = {
    val cands = c.asInstanceOf[ArrayData]
    val m = cands.numElements()
    if (m == 0) return null
    val v = e.asInstanceOf[ArrayData]
    val n = v.numElements()
    val cf = candElemIsFloat; val vf = vElemIsFloat
    var bestScore = Double.PositiveInfinity; var bestId = 0L
    var secondScore = Double.PositiveInfinity
    var seen = 0
    var k = 0
    while (k < m) {
      if (!cands.isNullAt(k)) {
        val cand = cands.getStruct(k, 2)
        val id = cand.getLong(0)
        var score = Double.PositiveInfinity
        if (!cand.isNullAt(1)) {
          val cv = cand.getArray(1)
          if (cv.numElements() == n) {
            var acc = 0.0
            var ok = true
            var i = 0
            while (ok && i < n) {
              if (v.isNullAt(i) || cv.isNullAt(i)) ok = false
              else {
                val xv = if (vf) v.getFloat(i).toDouble else v.getDouble(i)
                val yv = if (cf) cv.getFloat(i).toDouble else cv.getDouble(i)
                val d = xv - yv
                acc += d * d
                i += 1
              }
            }
            if (ok) score = acc
          }
        }
        // lexicographic (score, id) top-2; ids ascend, so a strict
        // Double.compare on the score alone decides placement
        if (seen == 0) { bestScore = score; bestId = id }
        else if (java.lang.Double.compare(score, bestScore) < 0) {
          secondScore = bestScore
          bestScore = score; bestId = id
        } else if (seen == 1 ||
            java.lang.Double.compare(score, secondScore) < 0) {
          secondScore = score
        }
        seen += 1
      }
      k += 1
    }
    if (seen == 0) null
    else new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestScore, bestId,
        if (seen >= 2) java.lang.Double.valueOf(secondScore) else null))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, e) => {
      val m = ctx.freshName("m")
      val n = ctx.freshName("n")
      val k = ctx.freshName("k")
      val i = ctx.freshName("i")
      val cand = ctx.freshName("cand")
      val cv = ctx.freshName("cv")
      val id = ctx.freshName("id")
      val score = ctx.freshName("score")
      val acc = ctx.freshName("acc")
      val ok = ctx.freshName("ok")
      val d = ctx.freshName("d")
      val bestScore = ctx.freshName("bestScore")
      val bestId = ctx.freshName("bestId")
      val secondScore = ctx.freshName("secondScore")
      val seen = ctx.freshName("seen")
      def getV = if (vElemIsFloat) s"(double) $e.getFloat($i)" else s"$e.getDouble($i)"
      def getC = if (candElemIsFloat) s"(double) $cv.getFloat($i)" else s"$cv.getDouble($i)"
      s"""
         |int $m = $c.numElements();
         |if ($m == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $e.numElements();
         |  double $bestScore = Double.POSITIVE_INFINITY;
         |  long $bestId = 0L;
         |  double $secondScore = Double.POSITIVE_INFINITY;
         |  int $seen = 0;
         |  for (int $k = 0; $k < $m; $k++) {
         |    if ($c.isNullAt($k)) continue;
         |    InternalRow $cand = $c.getStruct($k, 2);
         |    long $id = $cand.getLong(0);
         |    double $score = Double.POSITIVE_INFINITY;
         |    if (!$cand.isNullAt(1)) {
         |      ArrayData $cv = $cand.getArray(1);
         |      if ($cv.numElements() == $n) {
         |        double $acc = 0.0;
         |        boolean $ok = true;
         |        for (int $i = 0; $ok && $i < $n; $i++) {
         |          if ($e.isNullAt($i) || $cv.isNullAt($i)) { $ok = false; break; }
         |          double $d = $getV - $getC;
         |          $acc += $d * $d;
         |        }
         |        if ($ok) { $score = $acc; }
         |      }
         |    }
         |    if ($seen == 0) { $bestScore = $score; $bestId = $id; }
         |    else if (java.lang.Double.compare($score, $bestScore) < 0) {
         |      $secondScore = $bestScore;
         |      $bestScore = $score; $bestId = $id;
         |    } else if ($seen == 1 ||
         |        java.lang.Double.compare($score, $secondScore) < 0) {
         |      $secondScore = $score;
         |    }
         |    $seen++;
         |  }
         |  if ($seen == 0) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |      new Object[]{$bestScore, $bestId,
         |        ($seen >= 2) ? (Object) java.lang.Double.valueOf($secondScore) : null});
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {
  /** Column-API entry point — pinned LEGACY (NULL on zero norm) so library
    * query results are mode-independent and stay hash-identical to the
    * DuckDB oracles; the SQL surface below follows the session mode the way
    * `/` does. */
  def cosineSimilarity(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarity(Bridge.expression(a), Bridge.expression(b)))

  /** Codegen'd dot product over two float-array columns (bit-identical to
    * the HOF left-fold). */
  def floatDot(a: Column, b: Column): Column =
    Bridge.column(FloatVectorDot(Bridge.expression(a), Bridge.expression(b)))

  /** Codegen'd squared L2 distance over two float-array columns
    * (bit-identical to the HOF left-fold of per-element squared deltas). */
  def floatL2Sq(a: Column, b: Column): Column =
    Bridge.column(FloatVectorL2Sq(Bridge.expression(a), Bridge.expression(b)))

  /** Codegen'd squared L2 distance over float-or-double array columns,
    * mixed freely (see [[VectorL2Sq]]). */
  def l2Sq(a: Column, b: Column): Column =
    Bridge.column(VectorL2Sq(Bridge.expression(a), Bridge.expression(b)))

  /** Codegen'd micro-grid rotation r = ⌊H·q⌋/10⁶ (bit-identical to the HOF
    * transform/aggregate form — see [[MicroRotate]]). */
  def microRotate(h: Column, emb: Column): Column =
    Bridge.column(MicroRotate(Bridge.expression(h), Bridge.expression(emb)))

  /** Per-row L2 argmin against a broadcast candidate array — returns
    * struct(score double, id bigint); see [[VectorArgmin]]. */
  def argminL2(cands: Column, v: Column): Column =
    Bridge.column(VectorArgmin(Bridge.expression(cands), Bridge.expression(v),
      negCos = false))

  /** Per-row L2 TOP-2 argmin against a broadcast candidate array —
    * returns struct(score double, id bigint, score2 double); see
    * [[VectorArgmin2]]. */
  def argmin2L2(cands: Column, v: Column): Column =
    Bridge.column(VectorArgmin2(Bridge.expression(cands), Bridge.expression(v)))

  /** Per-row cosine ARGMAX (as negated-cosine argmin, matching the
    * min(struct(−csim, id)) idiom) against a broadcast candidate array —
    * returns struct(score double, id bigint); see [[VectorArgmin]]. */
  def argminNegCos(cands: Column, v: Column): Column =
    Bridge.column(VectorArgmin(Bridge.expression(cands), Bridge.expression(v),
      negCos = true))

  /** Register `cosine_similarity(a, b)` for the SQL surface. Like Divide,
    * the eval mode is captured from the session conf at PARSE time. */
  def registerSql(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_similarity",
      exprs => {
        require(exprs.length == 2,
          s"cosine_similarity requires exactly 2 arguments, got ${exprs.length}")
        CosineSimilarity(exprs(0), exprs(1), EvalMode.fromSQLConf(SQLConf.get))
      },
      "built-in")
}
