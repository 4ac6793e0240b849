package graft.ops

import graft.SparkTestBase
import java.sql.Timestamp
import org.apache.spark.sql.functions._

/** w30_gap_quantiles: inter-arrival tail latencies. Hand-computes the
  * percentile_disc ranks on planted gaps and pins ordering invariants
  * on the fixture.
  */
class GapQuantilesSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("w30: hand-computed gap percentiles, no cross-user gap") {
    val dir = tempDir("w30").toString
    Seq(
      // user 1 views at 0s, 10s, 30s, 100s -> gaps 10s, 20s, 70s
      (1L, ts("2024-07-01 00:00:00"), 1L, "view", 0.0),
      (2L, ts("2024-07-01 00:00:10"), 1L, "view", 0.0),
      (3L, ts("2024-07-01 00:00:30"), 1L, "view", 0.0),
      (4L, ts("2024-07-01 00:01:40"), 1L, "view", 0.0),
      // user 2's single view contributes no gap
      (5L, ts("2024-07-01 05:00:00"), 2L, "view", 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = RelOps.w30GapQuantiles(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_gaps") == 3L)
    // ranks: p50 ceil(1.5)=2 -> 20s; p90 ceil(2.7)=3 -> 70s; p99 -> 70s
    assert(row.getAs[Long]("p50_us") == 20L * 1000000)
    assert(row.getAs[Long]("p90_us") == 70L * 1000000)
    assert(row.getAs[Long]("p99_us") == 70L * 1000000)
  }

  test("w30: percentiles are ordered and gap counts conserve on the fixture") {
    val rows = RelOps.w30GapQuantiles(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("p50_us") <= r.getAs[Long]("p90_us"))
      assert(r.getAs[Long]("p90_us") <= r.getAs[Long]("p99_us"))
      assert(r.getAs[Long]("p50_us") > 0)
    }
    // total gaps = events minus one per (user, type) pair present
    val e = graft.Tables.events(spark, sf0001)
    val expected = e.count() -
      e.select("user_id", "event_type").distinct().count()
    assert(rows.map(_.getAs[Long]("n_gaps")).sum == expected)
  }
}
