package graft.ops

import graft.SparkTestBase
import java.sql.Timestamp
import org.apache.spark.sql.functions._

/** w25_gapfill: hourly spine + LOCF. Plants the in-hour tie cases and a
  * multi-hour gap, then pins suite-wide invariants on the real fixture.
  */
class GapFillSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def plant(rows: Seq[(Long, Timestamp, Long, String, Double)]): String = {
    val dir = tempDir("gapfill").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("w25: gaps fill with the previous hour's LATEST reading") {
    val dir = plant(Seq(
      // user 7, hour 00: two events — later ts (10.0) must win
      (1L, ts("2024-03-01 00:05:00"), 7L, "view", 3.0),
      (2L, ts("2024-03-01 00:45:00"), 7L, "view", 10.0),
      // hours 01-02 empty; hour 03: one event
      (3L, ts("2024-03-01 03:10:00"), 7L, "click", 42.0),
      // user 8: single event — spine is exactly one row, no gaps
      (4L, ts("2024-03-01 12:00:00"), 8L, "view", 5.0)
    ))
    val rows = RelOps.w25GapFill(spark, dir).collect()
    val u7 = rows.filter(_.getAs[Long]("user_id") == 7L)
    assert(u7.length == 4) // hours 00..03 inclusive
    assert(u7.map(_.getAs[Double]("value")).toSeq == Seq(10.0, 10.0, 10.0, 42.0))
    assert(u7.map(_.getAs[Long]("n_events")).toSeq == Seq(2L, 0L, 0L, 1L))
    assert(u7.map(_.getAs[Long]("is_gap")).toSeq == Seq(0L, 1L, 1L, 0L))
    val u8 = rows.filter(_.getAs[Long]("user_id") == 8L)
    assert(u8.length == 1 && u8.head.getAs[Double]("value") == 5.0)
  }

  test("w25: equal-timestamp tie breaks to the higher event_id") {
    val t = ts("2024-03-01 09:30:00")
    val dir = plant(Seq(
      (10L, t, 1L, "view", 1.0),
      (11L, t, 1L, "view", 2.0)
    ))
    val rows = RelOps.w25GapFill(spark, dir).collect()
    assert(rows.length == 1 && rows.head.getAs[Double]("value") == 2.0)
  }

  test("w25: spine invariants hold on the sf0.001 fixture") {
    val rows = RelOps.w25GapFill(spark, sf0001)
    // LOCF never leaves a null (first spine hour is an observed hour)
    assert(rows.filter(col("value").isNull).count() == 0L)
    // gap flag and event count agree everywhere
    assert(rows.filter(
      (col("is_gap") === 1L) =!= (col("n_events") === 0L)).count() == 0L)
    // per-user spine is contiguous: rows == span hours, no duplicates
    val bad = rows.groupBy("user_id")
      .agg(count(lit(1)).as("n"), countDistinct(col("hour")).as("nd"),
        ((unix_timestamp(max(col("hour"))) -
          unix_timestamp(min(col("hour")))) / 3600 + 1).as("span"))
      .filter(col("n") =!= col("span") || col("n") =!= col("nd"))
    assert(bad.count() == 0L)
  }
}
