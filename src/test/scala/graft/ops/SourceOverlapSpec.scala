package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** d24_source_overlap: the procurement-level duplication question.
  * Plants a mirrored source pair and an independent control, and pins
  * matrix invariants on the fixture.
  */
class SourceOverlapSpec extends SparkTestBase {
  import spark.implicits._

  test("d24: a mirrored feed lights up, an independent one stays dark") {
    val dir = tempDir("d24").toString
    def run(a: Int, n: Int): String =
      (a until a + n).map(i => s"tok$i").mkString(" ")
    val sharedText = run(0, 20)
    Seq(
      (1L, sharedText, "feed_x"),          // feed_y re-crawls feed_x
      (2L, sharedText, "feed_y"),
      (3L, run(100, 20), "feed_y"),        // plus some of its own
      (4L, run(500, 20), "feed_z")         // independent corpus
    ).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val m = DedupOps.d24SourceOverlap(spark, dir).collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) ->
        ((r.getAs[Long]("n_shared"), r.getAs[Double]("jaccard")))).toMap
    // feed_x (17 grams) wholly inside feed_y (34): J = 17/34 = 0.5
    assert(m(("feed_x", "feed_y")) == ((17L, 0.5)))
    // feed_z shares nothing with either
    assert(!m.contains(("feed_x", "feed_z")))
    assert(!m.contains(("feed_y", "feed_z")))
  }

  test("d24: matrix invariants on the fixture") {
    val rows = DedupOps.d24SourceOverlap(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (sh, na, nb) = (r.getAs[Long]("n_shared"), r.getAs[Long]("n_a"),
        r.getAs[Long]("n_b"))
      assert(sh <= math.min(na, nb))
      val j = r.getAs[Double]("jaccard")
      assert(j > 0.0 && j <= 1.0)
      assert(r.getAs[String]("source_a") < r.getAs[String]("source_b"))
    }
  }
}
