package graft.ops

import graft.SparkTestBase
import java.sql.Timestamp
import org.apache.spark.sql.functions._

/** w29_robust_outliers: MAD-based anomaly flags. Hand-computes the
  * planted case where a mean/stddev z-score would drown (the outlier
  * inflating its own baseline) and pins audit invariants on the
  * fixture.
  */
class RobustOutliersSpec extends SparkTestBase {
  import spark.implicits._

  test("w29: the outlier flags against a baseline it cannot inflate") {
    val dir = tempDir("w29").toString
    val vals = Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 1000.0)
    vals.zipWithIndex.map { case (v, i) =>
      (i.toLong, Timestamp.valueOf("2024-06-01 10:00:00"), 1L, "view", v)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = RelOps.w29RobustOutliers(spark, dir).collect()
    assert(rows.length == 9)
    // median 5, deviations sorted [0,1,1,2,2,3,3,4,995] -> MAD 2
    rows.foreach { r =>
      assert(r.getAs[Double]("median_value") == 5.0)
      assert(r.getAs[Double]("mad") == 2.0)
    }
    val out = rows.filter(_.getAs[Long]("is_outlier") == 1L)
    assert(out.map(_.getAs[Double]("value")).toSeq == Seq(1000.0))
    assert(out.head.getAs[Double]("robust_score") == 995.0 / 2.0)
    // a classical z-score would NOT flag it this cleanly: the outlier
    // drags mean to ~115 and stddev to ~330 -> z ~ 2.7 (below 3)
    val mean = vals.sum / vals.size
    val sd = math.sqrt(vals.map(v => (v - mean) * (v - mean)).sum / vals.size)
    assert((1000.0 - mean) / sd < 3.0)
  }

  test("w29: audit invariants on the fixture") {
    val rows = RelOps.w29RobustOutliers(spark, sf0001)
    assert(rows.count() ==
      graft.Tables.events(spark, sf0001).count()) // clean rows kept
    // flags are the exception, not the rule (the fixture's value tail
    // puts ~10% of events past 3 MADs)
    assert(rows.filter(col("is_outlier") === 1L).count() <
      rows.count() / 5)
    // flag agrees with the emitted baseline columns row by row
    assert(rows.filter(
      (abs(col("value") - col("median_value")) > col("mad") * 3) =!=
        (col("is_outlier") === 1L)).count() == 0L)
  }

  test("mad stats materialize once per dir and w23 == the build (r8 " +
      "VERDICT item 4: the pairGraph discipline on the w23/w29 prefix)") {
    val before = graft.Materialized.buildCount
    val viaStats = RelOps.w23Mad(spark, sf0001).collect().toSeq
    RelOps.w29RobustOutliers(spark, sf0001).count()
    RelOps.w23Mad(spark, sf0001).count()
    // at most one build for this dir across all three consumers (0 if
    // an earlier test in this JVM already built it)
    assert(graft.Materialized.buildCount - before <= 1,
      s"rebuilt per consumer: ${graft.Materialized.buildCount - before}")
    // and the materialized values ARE madOf's output, bit-for-bit
    val direct = RelOps.madOf(
      graft.Tables.events(spark, sf0001).select("event_type", "value"))
      .collect().toSeq
    assert(viaStats == direct)
  }
}
