package graft.functions

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkTestBase

class TopKSpec extends SparkTestBase {
  import spark.implicits._

  test("TopK.ranked ≡ the row_number window form row for row (ties, queries > k)") {
    val k = 4
    // 23 queries (> k) with 0..22 candidates each, so some groups hold
    // fewer than k rows; five distinct scores force ties inside and across
    // the k boundary, and a −0.0 ties with 0.0 (the aggregator canonicalizes
    // it, the window sorts the two as equal); ties break on cid
    val scored = (for {
      qid <- 0L until 23L
      cid <- 0L until qid
    } yield {
      val sim = if (cid % 11 == 3) -0.0 else ((qid * 7 + cid * 13) % 5) / 4.0 - 0.5
      (qid, cid, sim)
    }).toDF("qid", "cid", "sim").repartition(4, col("cid"))

    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    val viaWindow = scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("cid"), col("sim"), col("rk").cast("int"))
    val viaAgg = TopK.ranked(scored, "qid", k).select("qid", "cid", "sim", "rk")

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("qid", "rk").as[(Long, Long, Double, Int)].collect().toSeq
    val expected = rows(viaWindow)
    assert(expected.size == (0 until 23).map(_ min k).sum)
    // the fixture must really rank ties: some query has equal scores in its top k
    assert(expected.groupBy(_._1).values.exists(g => g.map(_._3).distinct.size < g.size))
    assert(rows(viaAgg) == expected)
  }
}
