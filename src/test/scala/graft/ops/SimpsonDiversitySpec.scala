package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** t26_simpson_diversity: per-source Simpson concentration and
  * effective vocabulary, hand-computed on a planted corpus.
  */
class SimpsonDiversitySpec extends SparkTestBase {
  import spark.implicits._

  private def plant(docs: Seq[(Long, String, String)]): String = {
    val dir = tempDir("simpson").toString
    docs.toDF("doc_id", "source", "text")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", lit(10L))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("t26: hand-computed repeat pairs, simpson and effective vocab") {
    // srcA stream: a a a b  -> tf: a=3 b=1; N=4
    //   repeat_pairs = 3*2 + 0 = 6; simpson = 6/(4*3) = 0.5
    //   inv_simpson = 12/6 = 2 (two effective types)
    // srcB stream: x y z    -> all hapax: repeat_pairs 0, simpson 0,
    //   inv_simpson NULL (0/0 guarded)
    // srcC stream: q        -> N=1: simpson NULL (N<2 guarded)
    val rows = TextOps.t26SimpsonDiversity(spark, plant(Seq(
      (0L, "srcA", "a a a b"), (1L, "srcB", "x y z"),
      (2L, "srcC", "q")))).collect()
    assert(rows.length == 3)
    val a = rows(0)
    assert(a.getAs[String]("source") == "srcA")
    assert(a.getAs[Long]("vocab") == 2L)
    assert(a.getAs[Long]("n_tokens") == 4L)
    assert(a.getAs[Double]("repeat_pairs") == 6.0)
    assert(a.getAs[Double]("simpson") == 0.5)
    assert(a.getAs[Double]("inv_simpson") == 2.0)
    val b = rows(1)
    assert(b.getAs[Double]("repeat_pairs") == 0.0)
    assert(b.getAs[Double]("simpson") == 0.0)
    assert(b.isNullAt(b.fieldIndex("inv_simpson")))
    val c = rows(2)
    assert(c.isNullAt(c.fieldIndex("simpson")))
  }

  test("t26: sf fixture — bounds and the t25 cross-identity") {
    val rows = TextOps.t26SimpsonDiversity(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val s = r.getAs[Double]("simpson")
      assert(s >= 0.0 && s <= 1.0)
      // the unbiased (without-replacement) estimator is >= 1 and, for
      // N > V, bounded by V(N-1)/(N-V) (Cauchy-Schwarz: rp >= N(N-V)/V)
      // — slightly ABOVE the plain Hill bound V, by design
      if (!r.isNullAt(r.fieldIndex("inv_simpson"))) {
        val inv = r.getAs[Double]("inv_simpson")
        val v = r.getAs[Long]("vocab").toDouble
        val n = r.getAs[Long]("n_tokens").toDouble
        assert(inv >= 1.0 - 1e-9)
        if (n > v) assert(inv <= v * (n - 1) / (n - v) + 1e-9)
      }
    }
    // vocab and n_tokens agree with t25's independent computation
    val t25 = TextOps.t25HapaxReport(spark, sf0001).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("vocab"), r.getAs[Long]("n_tokens"))).toMap
    rows.foreach { r =>
      assert(t25(r.getAs[String]("source")) ==
        (r.getAs[Long]("vocab"), r.getAs[Long]("n_tokens")))
    }
  }
}
