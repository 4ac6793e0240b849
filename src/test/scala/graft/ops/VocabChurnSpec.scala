package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** t24_vocab_churn: snapshot vocabulary drift on d27's split rule
  * (incoming = doc_id % 10 < 2), hand-computed on a planted corpus.
  */
class VocabChurnSpec extends SparkTestBase {
  import spark.implicits._

  private def plant(docs: Seq[(Long, String)]): String = {
    val dir = tempDir("churn").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("src"))
      .withColumn("n_chars", lit(10L))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("t24: hand-computed churn — new, dropped, and surviving tokens") {
    // incoming ids 0,1 (doc_id % 10 < 2); reference ids 2,3
    // vref = {a,b,c,d}, vinc = {c,e,f}: common {c}, new {e,f},
    // dropped {a,b,d}
    val r = TextOps.t24VocabChurn(spark, plant(Seq(
      2L -> "a b c", 3L -> "c d", 0L -> "c e", 1L -> "e f"))).head()
    assert(r.getAs[Long]("vocab_ref") == 4L)
    assert(r.getAs[Long]("vocab_inc") == 3L)
    assert(r.getAs[Long]("n_common") == 1L)
    assert(r.getAs[Long]("n_new") == 2L)
    assert(r.getAs[Long]("n_dropped") == 3L)
    assert(r.getAs[Double]("new_share") == 2.0 / 3.0)
    assert(r.getAs[Double]("dropped_share") == 3.0 / 4.0)
    assert(r.getAs[Double]("jaccard") == 1.0 / 6.0)
  }

  test("t24: an empty incoming snapshot reports NULL shares, not 0/0") {
    val r = TextOps.t24VocabChurn(spark, plant(Seq(
      2L -> "a b", 3L -> "c d"))).head()
    assert(r.getAs[Long]("vocab_inc") == 0L)
    assert(r.getAs[Any]("new_share") == null)
    assert(r.getAs[Double]("dropped_share") == 1.0) // everything dropped
    assert(r.getAs[Double]("jaccard") == 0.0)
  }

  test("t24: sf fixture — set identities hold") {
    val r = TextOps.t24VocabChurn(spark, sf0001).head()
    assert(r.getAs[Long]("vocab_inc") ==
      r.getAs[Long]("n_common") + r.getAs[Long]("n_new"))
    assert(r.getAs[Long]("vocab_ref") ==
      r.getAs[Long]("n_common") + r.getAs[Long]("n_dropped"))
    assert(r.getAs[Long]("n_common") <=
      math.min(r.getAs[Long]("vocab_ref"), r.getAs[Long]("vocab_inc")))
  }
}
