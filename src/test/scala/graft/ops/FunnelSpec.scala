package graft.ops

import graft.SparkTestBase
import java.sql.Timestamp
import org.apache.spark.sql.functions._

/** w26_funnel: the greedy-earliest ordered-sequence witness. Plants the
  * order-sensitivity and strictness cases the fixture only hits by
  * accident, then pins the monotone-reach invariant on real data.
  */
class FunnelSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def plant(rows: Seq[(Long, Timestamp, Long, String, Double)]): String = {
    val dir = tempDir("funnel").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("w26: order matters — a purchase before the click does not convert") {
    val dir = plant(Seq(
      // user 1: view -> purchase -> click: reaches stage 2 only
      (1L, ts("2024-05-01 10:00:00"), 1L, "view", 0.0),
      (2L, ts("2024-05-01 10:05:00"), 1L, "purchase", 0.0),
      (3L, ts("2024-05-01 10:10:00"), 1L, "click", 0.0),
      // user 2: full ordered funnel, extra early click ignored
      (4L, ts("2024-05-01 09:00:00"), 2L, "click", 0.0),
      (5L, ts("2024-05-01 09:30:00"), 2L, "view", 0.0),
      (6L, ts("2024-05-01 09:45:00"), 2L, "click", 0.0),
      (7L, ts("2024-05-01 11:00:00"), 2L, "purchase", 0.0),
      // user 3: never views
      (8L, ts("2024-05-01 12:00:00"), 3L, "click", 0.0)
    ))
    val m = RelOps.w26Funnel(spark, dir).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(m(1L).getAs[Long]("stage_reached") == 2L)
    assert(m(1L).isNullAt(m(1L).fieldIndex("t_purchase")))
    assert(m(2L).getAs[Long]("stage_reached") == 3L)
    assert(m(2L).getAs[Timestamp]("t_click") == ts("2024-05-01 09:45:00"))
    // 09:30 view -> 11:00 purchase = 90 min
    assert(m(2L).getAs[Long]("funnel_us") == 90L * 60 * 1000000)
    assert(m(3L).getAs[Long]("stage_reached") == 0L)
  }

  test("w26: strictly-after — a click at the view instant does not count") {
    val t = ts("2024-05-02 08:00:00")
    val dir = plant(Seq(
      (1L, t, 1L, "view", 0.0),
      (2L, t, 1L, "click", 0.0),
      (3L, ts("2024-05-02 08:30:00"), 1L, "click", 0.0)
    ))
    val r = RelOps.w26Funnel(spark, dir).collect().head
    assert(r.getAs[Timestamp]("t_click") == ts("2024-05-02 08:30:00"))
  }

  test("w26: reach counts are monotone on the sf0.001 fixture") {
    val rows = RelOps.w26Funnel(spark, sf0001)
    val reach = (1 to 3).map(s =>
      rows.filter(col("stage_reached") >= s).count())
    assert(reach(0) >= reach(1) && reach(1) >= reach(2))
    assert(reach(0) > 0)
    // completed funnels have a positive latency
    assert(rows.filter(col("stage_reached") === 3L &&
      col("funnel_us") <= 0L).count() == 0L)
  }
}
