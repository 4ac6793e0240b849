package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** t20_dataset_card: shares sum to 1 per source and a planted
  * long-document skew shows up as token_share > doc_share.
  */
class DatasetCardSpec extends SparkTestBase {
  import spark.implicits._

  test("t20: per-source shares sum to 1 and counts reconcile") {
    val rows = TextOps.t20DatasetCard(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val bySource = rows.groupBy(_.getAs[String]("source"))
    bySource.foreach { case (src, rs) =>
      val docShare = rs.map(_.getAs[Double]("doc_share")).sum
      val tokShare = rs.map(_.getAs[Double]("token_share")).sum
      assert(math.abs(docShare - 1.0) < 1e-9, s"$src doc_share sum $docShare")
      assert(math.abs(tokShare - 1.0) < 1e-9, s"$src token_share sum $tokShare")
    }
    assert(rows.map(_.getAs[Long]("n_docs")).sum ==
      graft.Tables.documents(spark, sf0001).count())
  }

  test("t20: long-document skew separates token_share from doc_share") {
    val dir = tempDir("t20").toString
    // source s: 3 short French docs (2 tokens each), 1 long English doc
    // (18 tokens) -> en is 25% of docs but 75% of tokens
    val en = Seq.fill(18)("w").mkString(" ")
    (Seq((1L, "a b", "fr"), (2L, "c d", "fr"), (3L, "e f", "fr"),
      (4L, en, "en")))
      .toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextOps.t20DatasetCard(spark, dir).collect()
      .map(r => r.getAs[String]("lang") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[Double]("doc_share"), r.getAs[Double]("token_share"))))
      .toMap
    assert(rows("en") == ((1L, 18L, 0.25, 0.75)))
    assert(rows("fr") == ((3L, 6L, 0.75, 0.25)))
  }
}
