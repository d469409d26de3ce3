package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.{EvalMode, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

import graft.SparkTestBase
import graft.core.BucketPriorityConfig
import graft.functions.VectorFunctions.cosineSimilarity

class VectorFunctionsSpec extends SparkTestBase {
  import spark.implicits._

  private def vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f), Array(1.0f, 0.0f, 0.0f)),
    (2L, Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f)),
    (3L, Array(1.0f, 2.0f, 3.0f), Array(-1.0f, 0.5f, 2.0f))
  ).toDF("id", "a", "b")

  // def, not val: Divide captures its EvalMode from the session conf at
  // parse time, so the expression must be built AFTER any ansi toggle
  private def hofCosine = {
    def dot(a: String, b: String) =
      s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    expr(s"${dot("a", "b")} / (sqrt(${dot("a", "a")}) * sqrt(${dot("b", "b")}))")
  }

  test("cosine_similarity matches the HOF left-fold formulation bit-exactly") {
    val rows = vecs.select(
      col("id"),
      cosineSimilarity(col("a"), col("b")).as("fused"),
      hofCosine.as("hof"))
      .collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)),
        s"id=${r.getLong(0)}: fused=${r.getDouble(1)} hof=${r.getDouble(2)}")
    }
    assert(rows.find(_.getLong(0) == 1L).get.getDouble(1) == 1.0)
    assert(rows.find(_.getLong(0) == 2L).get.getDouble(1) == 0.0)
  }

  test("null inputs propagate null") {
    val df = Seq((Some(Array(1.0f)), Option.empty[Array[Float]])).toDF("a", "b")
    val r = df.select(cosineSimilarity(col("a"), col("b"))).collect()(0)
    assert(r.isNullAt(0))
  }

  test("unequal lengths and null elements yield NULL (HOF-equivalent semantics)") {
    val unequal = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f)))
      .toDF("a", "b")
      .select(cosineSimilarity(col("a"), col("b"))).collect()(0)
    assert(unequal.isNullAt(0))
    val withNullElem = Seq((Seq(Some(1.0f), None), Seq(Some(1.0f), Some(2.0f))))
      .toDF("a", "b")
      .select(cosineSimilarity(col("a"), col("b"))).collect()(0)
    assert(withNullElem.isNullAt(0))
  }

  test("FloatVectorDot == the HOF left-fold bit-for-bit (codegen path, real data)") {
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .filter(col("vec_id") < 50)
    def hofDot(a: String, b: String) = expr(
      s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (acc, v) -> acc + v)")
    val rows = emb.select(
      col("vec_id"),
      VectorFunctions.floatDot(col("embedding"), col("embedding")).as("fast"),
      hofDot("embedding", "embedding").as("hof")).collect()
    assert(rows.length == 50)
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)),
        s"vec ${r.getLong(0)}: fast=${r.getDouble(1)} hof=${r.getDouble(2)}")
    }
    // HOF null semantics: unequal lengths and null elements => NULL
    val unequal = Seq((Array(1.0f, 2.0f), Array(1.0f)))
      .toDF("a", "b").select(VectorFunctions.floatDot(col("a"), col("b"))).collect()(0)
    assert(unequal.isNullAt(0))
    val nullElem = Seq((Seq(Some(1.0f), None), Seq(Some(1.0f), Some(2.0f))))
      .toDF("a", "b").select(VectorFunctions.floatDot(col("a"), col("b"))).collect()(0)
    assert(nullElem.isNullAt(0))
  }

  test("FloatVectorL2Sq == the HOF left-fold bit-for-bit (codegen path, real data)") {
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .filter(col("vec_id") < 50)
    // sliced subvectors, exactly how pq_topk drives it
    val pairs = emb.select(
      expr("slice(embedding, 1, 8)").as("a"),
      expr("slice(embedding, 9, 8)").as("b"))
    def hofL2(a: String, b: String) = expr(
      s"""aggregate(zip_with($a, $b,
         |  (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),
         |  CAST(0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin)
    val rows = pairs.select(
      VectorFunctions.floatL2Sq(col("a"), col("b")).as("fast"),
      hofL2("a", "b").as("hof")).collect()
    assert(rows.length == 50)
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"fast=${r.getDouble(0)} hof=${r.getDouble(1)}")
    }
    val unequal = Seq((Array(1.0f, 2.0f), Array(1.0f)))
      .toDF("a", "b").select(VectorFunctions.floatL2Sq(col("a"), col("b"))).collect()(0)
    assert(unequal.isNullAt(0))
    val nullElem = Seq((Seq(Some(1.0f), None), Seq(Some(1.0f), Some(2.0f))))
      .toDF("a", "b").select(VectorFunctions.floatL2Sq(col("a"), col("b"))).collect()(0)
    assert(nullElem.isNullAt(0))
  }

  test("VectorL2Sq: mixed float/double arrays == HOF fold; float/float == FloatVectorL2Sq") {
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .filter(col("vec_id") < 50)
    // the kmeans_train shape: float data vs double centroids
    val pairs = emb.select(
      col("embedding").as("a"),
      expr("transform(reverse(embedding), x -> CAST(x AS DOUBLE))").as("bd"),
      expr("reverse(embedding)").as("bf"))
    val rows = pairs.select(
      VectorFunctions.l2Sq(col("a"), col("bd")).as("mixed"),
      expr("""aggregate(zip_with(a, bd,
          |  (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),
          |  CAST(0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin).as("hof"),
      VectorFunctions.l2Sq(col("a"), col("bf")).as("ff"),
      VectorFunctions.floatL2Sq(col("a"), col("bf")).as("legacy")).collect()
    assert(rows.length == 50)
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"mixed=${r.getDouble(0)} hof=${r.getDouble(1)}")
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(3)),
        s"ff=${r.getDouble(2)} legacy=${r.getDouble(3)}")
    }
    // double/double and null semantics
    val dd = Seq((Seq(1.0, 2.0), Seq(3.0, 1.0)))
      .toDF("a", "b").select(VectorFunctions.l2Sq(col("a"), col("b"))).collect()(0)
    assert(dd.getDouble(0) == 5.0)
    val unequal = Seq((Seq(1.0, 2.0), Seq(1.0)))
      .toDF("a", "b").select(VectorFunctions.l2Sq(col("a"), col("b"))).collect()(0)
    assert(unequal.isNullAt(0))
    val nullElem = Seq((Seq(Some(1.0), None), Seq(Some(1.0), Some(2.0))))
      .toDF("a", "b").select(VectorFunctions.l2Sq(col("a"), col("b"))).collect()(0)
    assert(nullElem.isNullAt(0))
  }

  // ---- adversarial float vectors for the eval property tests ----

  private val floatArrayType = ArrayType(FloatType, containsNull = true)

  private val genElem: Gen[java.lang.Float] = Gen.frequency(
    8 -> Gen.choose(-2.0f, 2.0f).map(java.lang.Float.valueOf),
    2 -> Gen.const(java.lang.Float.valueOf(0.0f)),
    1 -> Gen.const(java.lang.Float.valueOf(Float.MinPositiveValue)),
    1 -> Gen.const(java.lang.Float.valueOf(Float.NaN)),
    1 -> Gen.const(java.lang.Float.valueOf(Float.PositiveInfinity)),
    1 -> Gen.const(null: java.lang.Float))

  private def bits(v: Option[Double]): Option[Long] =
    v.map(java.lang.Double.doubleToLongBits)

  test("property: FloatVectorL2Sq.eval ≡ HOF left-fold semantics on adversarial vectors") {
    val genVec: Gen[Seq[java.lang.Float]] =
      Gen.frequency(
        1 -> Gen.const(Seq.empty[java.lang.Float]),
        6 -> Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, genElem)))
    val genPair = for {
      a <- genVec
      b <- Gen.frequency(
        3 -> Gen.listOfN(a.size, genElem), // same length
        2 -> genVec,                       // often different length
        1 -> Gen.const(a))                 // identical (distance 0)
    } yield (a, b)
    // HOF model: zip_with null-pads unequal lengths, (null − y)² is null,
    // the + fold propagates null
    def model(a: Seq[java.lang.Float], b: Seq[java.lang.Float]): Option[Double] = {
      val m = math.max(a.size, b.size)
      var acc: Option[Double] = Some(0.0)
      for (i <- 0 until m) {
        val p = if (i < a.size) Option(a(i)) else None
        val q = if (i < b.size) Option(b(i)) else None
        val sq = for (pp <- p; qq <- q) yield {
          val d = pp.toDouble - qq.toDouble; d * d
        }
        acc = for (a0 <- acc; v <- sq) yield a0 + v
      }
      acc
    }
    val p = Prop.forAll(genPair) { case (a, b) =>
      val e = FloatVectorL2Sq(
        Literal.create(a, floatArrayType), Literal.create(b, floatArrayType))
      bits(Option(e.eval(null)).map(_.asInstanceOf[Double])) == bits(model(a, b))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), p)
    assert(res.passed, res.status.toString)
  }

  // ---- CosineSimilarity ≡ the HOF form on adversarial inputs ----

  private val cosVec: Gen[Seq[java.lang.Float]] = Gen.frequency(
    1 -> Gen.const(Seq.empty[java.lang.Float]),                               // empty
    1 -> Gen.choose(1, 6).map(n => Seq.fill(n)(java.lang.Float.valueOf(0f))), // zero-norm
    6 -> Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, genElem)))

  private val cosPair: Gen[(Seq[java.lang.Float], Seq[java.lang.Float])] = for {
    a <- cosVec
    b <- Gen.frequency(
      3 -> Gen.listOfN(a.size, genElem),                                      // same length
      2 -> cosVec,                                                            // often different length
      1 -> Gen.const(a.map(x =>
        if (x == null) null else java.lang.Float.valueOf(0f))),               // zero-norm partner
      1 -> Gen.const(a))                                                      // identical
  } yield (a, b)

  /** Reference model of the HOF formulation under ANSI division: zip_with
    * null-pads unequal lengths, double(null)*double(y) is null, the + fold
    * propagates null, and a zero divisor reached with non-null folds throws
    * DIVIDE_BY_ZERO (Left). LEGACY division returns NULL there instead. */
  private def hofAnsiModel(a: Seq[java.lang.Float], b: Seq[java.lang.Float])
      : Either[String, Option[Double]] = {
    def fold(x: Seq[java.lang.Float], y: Seq[java.lang.Float]): Option[Double] = {
      val m = math.max(x.size, y.size)
      var acc: Option[Double] = Some(0.0)
      for (i <- 0 until m) {
        val p = if (i < x.size) Option(x(i)) else None
        val q = if (i < y.size) Option(y(i)) else None
        val prod = for (pp <- p; qq <- q) yield pp.toDouble * qq.toDouble
        acc = for (a0 <- acc; v <- prod) yield a0 + v
      }
      acc
    }
    (fold(a, b), fold(a, a), fold(b, b)) match {
      case (Some(d), Some(na), Some(nb)) =>
        val denom = math.sqrt(na) * math.sqrt(nb)
        if (denom == 0.0) Left("DIVIDE_BY_ZERO") else Right(Some(d / denom))
      case _ => Right(None)
    }
  }

  test("property: CosineSimilarity.eval ≡ HOF-legacy semantics on adversarial vectors") {
    val p = Prop.forAll(cosPair) { case (a, b) =>
      val e = CosineSimilarity(
        Literal.create(a, floatArrayType), Literal.create(b, floatArrayType))
      val got = Option(e.eval(null)).map(_.asInstanceOf[Double])
      bits(got) == bits(hofAnsiModel(a, b).getOrElse(None))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), p)
    assert(res.passed, res.status.toString)
  }

  test("property: ANSI CosineSimilarity.eval ≡ ANSI HOF semantics (throws on zero divisor)") {
    val p = Prop.forAll(cosPair) { case (a, b) =>
      val e = CosineSimilarity(
        Literal.create(a, floatArrayType), Literal.create(b, floatArrayType),
        EvalMode.ANSI)
      val got =
        try Right(Option(e.eval(null)).map(_.asInstanceOf[Double]))
        catch { case ex: ArithmeticException =>
          Left(if (ex.getMessage.contains("DIVIDE_BY_ZERO")) "DIVIDE_BY_ZERO"
               else ex.getMessage) }
      (got, hofAnsiModel(a, b)) match {
        case (Left(x), Left(y))   => x == y
        case (Right(x), Right(y)) => bits(x) == bits(y)
        case _                    => false
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), p)
    assert(res.passed, res.status.toString)
  }

  test("cosine_similarity ≡ HOF form bit-for-bit on an adversarial batch (codegen path)") {
    val pairs = Gen.listOfN(400, cosPair)
      .pureApply(Gen.Parameters.default, Seed(42L))
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("a", floatArrayType),
      StructField("b", floatArrayType)))
    val rows = pairs.zipWithIndex.map { case ((a, b), i) => Row(i, a, b) }
    val tmp = java.nio.file.Files.createTempDirectory("graft-cosprop").toString
    // through parquet: a file source, so both expressions run inside
    // whole-stage codegen instead of being folded over a local relation
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .write.mode("overwrite").parquet(tmp)
    withConfs("spark.sql.ansi.enabled" -> "false") {
      val got = spark.read.parquet(tmp)
        .select(col("id"), cosineSimilarity(col("a"), col("b")).as("fused"),
          hofCosine.as("hof"))
        .collect()
      assert(got.length == 400)
      def bitsAt(r: Row, i: Int) =
        if (r.isNullAt(i)) None else Some(java.lang.Double.doubleToLongBits(r.getDouble(i)))
      got.foreach { r =>
        assert(bitsAt(r, 1) == bitsAt(r, 2),
          s"cosine_similarity/HOF divergence at id ${r.getInt(0)}: ${r.get(1)} vs ${r.get(2)}")
      }
    }
  }

  test("ANSI: zero-norm vector raises DIVIDE_BY_ZERO through a codegen plan") {
    VectorFunctions.registerSql(spark)
    val tmp = java.nio.file.Files.createTempDirectory("graft-zeronorm").toString
    Seq((1, Array(0.0f, 0.0f, 0.0f), Array(1.0f, 2.0f, 3.0f)))
      .toDF("id", "a", "b").write.mode("overwrite").parquet(tmp)
    // Spark wraps the error in its task failure chain: walk the causes
    def rootArithmetic(t: Throwable): Option[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
        .find(c => c.isInstanceOf[ArithmeticException] ||
          c.getMessage != null && c.getMessage.contains("DIVIDE_BY_ZERO"))
    withConfs("spark.sql.ansi.enabled" -> "true") {
      // the SQL function captures the session's ANSI mode at parse time,
      // exactly like the HOF form's Divide
      Seq(expr("cosine_similarity(a, b)"), hofCosine).foreach { sim =>
        val q = spark.read.parquet(tmp).select(sim.as("sim"))
        val err = rootArithmetic(intercept[Throwable] { q.collect() })
        assert(err.isDefined, s"no arithmetic error from ${q.queryExecution.optimizedPlan}")
        assert(err.get.getMessage.contains("DIVIDE_BY_ZERO"), err.get.getMessage)
      }
    }
  }

  test("SQL registration: cosine_similarity and bucket_of usable from spark.sql") {
    val cfg = BucketPriorityConfig("t", Seq("Platinum", "Gold"), Seq(70, 30)).toOption.get
    BucketSqlFunctions.registerAll(spark, cfg)
    vecs.createOrReplaceTempView("vecs_sql_test")
    val sim = spark.sql(
      "SELECT cosine_similarity(a, b) AS s FROM vecs_sql_test WHERE id = 1")
      .as[Double].collect()(0)
    assert(sim == 1.0)
    val b = spark.sql("SELECT bucket_of('Platinum-001') AS b").collect()(0).getString(0)
    assert(b == "Platinum")
    val none = spark.sql("SELECT bucket_of('Silver-001') AS b").collect()(0)
    assert(none.isNullAt(0))
  }
}
