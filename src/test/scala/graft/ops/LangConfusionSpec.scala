package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** t15_langid_confusion: the classifier-audit matrix. Plants docs whose
  * declared lang disagrees with their marker content and pins the
  * matrix invariants on the fixture.
  */
class LangConfusionSpec extends SparkTestBase {
  import spark.implicits._

  test("t15: a mislabeled source shows up as an off-diagonal cell") {
    // two declared-en docs that are really French (le/la/et markers),
    // one genuine English doc, one genuine French doc
    val dir = tempDir("langconf").toString
    Seq(
      (1L, "le chat et la maison et le jardin", "en"),
      (2L, "la porte et le mur et les arbres", "en"),
      (3L, "the cat and the house is in a garden", "en"),
      (4L, "le chien et la rue et les fleurs", "fr")
    ).toDF("doc_id", "text", "lang")
      .withColumn("source", lit("planted"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val m = TextOps.t15LangidConfusion(spark, dir).collect()
      .map(r => (r.getAs[String]("labeled_lang"),
        r.getAs[String]("detected_lang")) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("n_labeled"),
          r.getAs[Double]("rate"), r.getAs[Long]("is_match")))).toMap
    assert(m(("en", "fr")) == ((2L, 3L, 2.0 / 3.0, 0L)))
    assert(m(("en", "en")) == ((1L, 3L, 1.0 / 3.0, 1L)))
    assert(m(("fr", "fr")) == ((1L, 1L, 1.0, 1L)))
    assert(m.size == 3)
  }

  test("t15: matrix invariants on the sf0.001 fixture") {
    val rows = TextOps.t15LangidConfusion(spark, sf0001).collect()
    assert(rows.nonEmpty)
    // per labeled language, rates sum to 1 and counts to n_labeled
    rows.groupBy(_.getAs[String]("labeled_lang")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("n")).sum ==
        rs.head.getAs[Long]("n_labeled"))
      assert(math.abs(rs.map(_.getAs[Double]("rate")).sum - 1.0) < 1e-12)
    }
    // total cells count every document once
    val nDocs = spark.read.parquet(s"$sf0001/documents.parquet").count()
    assert(rows.map(_.getAs[Long]("n")).sum == nDocs)
    rows.foreach(r => assert((r.getAs[Long]("is_match") == 1L) ==
      (r.getAs[String]("labeled_lang") == r.getAs[String]("detected_lang"))))
  }
}
