package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** t25_hapax_report: per-source hapax/dis/vocab lexical-diversity audit,
  * hand-computed on a planted two-source corpus.
  */
class HapaxReportSpec extends SparkTestBase {
  import spark.implicits._

  private def plant(docs: Seq[(Long, String, String)]): String = {
    val dir = tempDir("hapax").toString
    docs.toDF("doc_id", "source", "text")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", lit(10L))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("t25: hand-computed hapax/dis counts and shares per source") {
    // srcA stream: a a b c c c d  -> tf: a=2 b=1 c=3 d=1
    //   vocab=4, n_tokens=7, hapax={b,d}=2, dis={a}=1
    // srcB stream: x y            -> all hapax
    val rows = TextOps.t25HapaxReport(spark, plant(Seq(
      (0L, "srcA", "a a b c"), (1L, "srcA", "c c d"),
      (2L, "srcB", "x y")))).collect()
    assert(rows.length == 2)
    val a = rows(0)
    assert(a.getAs[String]("source") == "srcA")
    assert(a.getAs[Long]("vocab") == 4L)
    assert(a.getAs[Long]("n_tokens") == 7L)
    assert(a.getAs[Long]("n_hapax") == 2L)
    assert(a.getAs[Long]("n_dis") == 1L)
    assert(a.getAs[Double]("hapax_share") == 2.0 / 4.0)
    assert(a.getAs[Double]("type_token_ratio") == 4.0 / 7.0)
    val b = rows(1)
    assert(b.getAs[String]("source") == "srcB")
    assert(b.getAs[Long]("vocab") == 2L)
    assert(b.getAs[Long]("n_hapax") == 2L)
    assert(b.getAs[Double]("hapax_share") == 1.0)
    assert(b.getAs[Double]("type_token_ratio") == 1.0)
  }

  test("t25: hapax counted within the source's own stream, not globally") {
    // 'q' appears once in EACH source — hapax in both, even though its
    // corpus-wide frequency is 2
    val rows = TextOps.t25HapaxReport(spark, plant(Seq(
      (0L, "srcA", "q z z"), (1L, "srcB", "q w w")))).collect()
    assert(rows.forall(_.getAs[Long]("n_hapax") == 1L))
    assert(rows.forall(_.getAs[Long]("n_dis") == 1L))
  }

  test("t25: sf fixture — bounds and identities hold for every source") {
    val rows = TextOps.t25HapaxReport(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val vocab = r.getAs[Long]("vocab")
      assert(r.getAs[Long]("n_hapax") + r.getAs[Long]("n_dis") <= vocab)
      assert(vocab <= r.getAs[Long]("n_tokens"))
      val hs = r.getAs[Double]("hapax_share")
      assert(hs >= 0.0 && hs <= 1.0)
      val ttr = r.getAs[Double]("type_token_ratio")
      assert(ttr > 0.0 && ttr <= 1.0)
    }
  }
}
