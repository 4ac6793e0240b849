package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** p23_mixture_plan: temperature-smoothed (alpha = 1/2) source mixing.
  * Plants perfect-square token totals so the isqrt weights are
  * hand-exact, then pins the flattening property (the whole point of
  * temperature sampling) on the sf fixture.
  */
class MixturePlanSpec extends SparkTestBase {
  import spark.implicits._

  test("p23: hand-computed plan on perfect-square token totals") {
    // src_a 16 tokens (w 4), src_b 9 (w 3), src_c 25 (w 5):
    // total_tokens 50, total_w 12
    val dir = tempDir("mix").toString
    val words = (n: Int) => Seq.fill(n)("w").mkString(" ")
    Seq((1L, "src_a", words(8)), (2L, "src_a", words(8)),
      (3L, "src_b", words(9)), (4L, "src_c", words(25)))
      .toDF("doc_id", "source", "text")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", lit(10L))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = PipelineOps.p23MixturePlan(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(rows.size == 3)
    val a = rows("src_a")
    assert(a.getAs[Long]("n_docs") == 2L)
    assert(a.getAs[Long]("src_tokens") == 16L)
    assert(a.getAs[Double]("natural_share") == 16.0 / 50.0)
    assert(a.getAs[Double]("target_share") == 4.0 / 12.0)
    assert(a.getAs[Double]("upsample_factor") == 200.0 / 192.0)
    assert(a.getAs[Long]("planned_tokens") == 16L) // 200 // 12
    val b = rows("src_b")
    assert(b.getAs[Double]("target_share") == 3.0 / 12.0)
    assert(b.getAs[Double]("upsample_factor") == 150.0 / 108.0) // up-weighted
    assert(b.getAs[Long]("planned_tokens") == 12L)
    val c = rows("src_c")
    assert(c.getAs[Double]("upsample_factor") == 250.0 / 300.0) // down-weighted
    assert(c.getAs[Long]("planned_tokens") == 20L)
  }

  test("p23: sf fixture — shares normalize, smoothing flattens, budget holds") {
    val rows = PipelineOps.p23MixturePlan(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val nat = rows.map(_.getAs[Double]("natural_share"))
    val tgt = rows.map(_.getAs[Double]("target_share"))
    assert(math.abs(nat.sum - 1.0) < 1e-9)
    assert(math.abs(tgt.sum - 1.0) < 1e-9)
    // alpha < 1 compresses the spread: the extremes' ratio can only shrink
    assert(tgt.max / tgt.min <= nat.max / nat.min + 1e-12)
    // planned draw never exceeds the one-pass budget (truncation only loses)
    val total = rows.map(_.getAs[Long]("src_tokens")).sum
    assert(rows.map(_.getAs[Long]("planned_tokens")).sum <= total)
    // upsample_factor > 1 exactly when the source is below its target share
    rows.foreach { r =>
      val up = r.getAs[Double]("upsample_factor") > 1.0
      val below = r.getAs[Double]("natural_share") <
        r.getAs[Double]("target_share")
      assert(up == below ||
        r.getAs[Double]("upsample_factor") == 1.0)
    }
  }
}
