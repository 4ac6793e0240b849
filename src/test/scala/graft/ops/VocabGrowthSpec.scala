package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** t21_vocab_growth: hand-computed curve on a planted 10-doc crawl. */
class VocabGrowthSpec extends SparkTestBase {
  import spark.implicits._

  test("t21: decile cuts, cumulative vocab and per-decile deltas") {
    val dir = tempDir("t21").toString
    // 10 docs (ids 0..9), decile d covers ids < d. Novel tokens per
    // doc: doc0 {a b}, doc1 {c}, doc2 {} (repeats), doc3 {d}, docs 4-9
    // nothing new -> vocab 2,3,3,4,4,4,4,4,4,4
    val texts = Seq("a b", "a c", "b c", "d a", "a", "b", "c", "d",
      "a b", "c d")
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("planted"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextOps.t21VocabGrowth(spark, dir).collect()
      .map(r => (r.getAs[Long]("decile"), r.getAs[Long]("cut_doc_id"),
        r.getAs[Long]("vocab_size"), r.getAs[Long]("new_tokens"))).toSeq
    val vocab = Seq(2L, 3L, 3L, 4L, 4L, 4L, 4L, 4L, 4L, 4L)
    val want = (1 to 10).map { d =>
      val delta = vocab(d - 1) - (if (d == 1) 0L else vocab(d - 2))
      (d.toLong, d.toLong, vocab(d - 1), delta)
    }
    assert(rows == want, s"got ${rows.mkString("; ")}")
  }

  test("t21: monotone non-decreasing curve; deltas reconcile") {
    val rows = TextOps.t21VocabGrowth(spark, sf0001).collect()
    val sizes = rows.map(_.getAs[Long]("vocab_size")).toSeq
    assert(sizes == sizes.sorted && sizes.nonEmpty)
    assert(rows.map(_.getAs[Long]("new_tokens")).sum == sizes.last)
  }
}
