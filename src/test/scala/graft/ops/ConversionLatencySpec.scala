package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** w39_conversion_latency: per-arm exact latency quantiles on a planted
  * funnel corpus.
  */
class ConversionLatencySpec extends SparkTestBase {
  import spark.implicits._

  test("w39: hand-computed per-arm percentile_disc picks") {
    val dir = tempDir("w39").toString
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val H = 3600L * 1000000L // one hour in micros
    // arm a (even ids): user 2 converts in 2h. arm b (odd): user 3 in
    // 1h, user 5 in 3h -> cnt 2, p50 = rank 1 = 1h, p90/p99 = rank 2 = 3h.
    // user 7 views but never purchases -> excluded.
    val rows = Seq(
      (1L, t("2024-01-01 00:00:00"), 2L, "view"),
      (2L, t("2024-01-01 00:30:00"), 2L, "click"),
      (3L, t("2024-01-01 02:00:00"), 2L, "purchase"),
      (4L, t("2024-01-01 00:00:00"), 3L, "view"),
      (5L, t("2024-01-01 00:10:00"), 3L, "click"),
      (6L, t("2024-01-01 01:00:00"), 3L, "purchase"),
      (7L, t("2024-01-01 00:00:00"), 5L, "view"),
      (8L, t("2024-01-01 01:00:00"), 5L, "click"),
      (9L, t("2024-01-01 03:00:00"), 5L, "purchase"),
      (10L, t("2024-01-01 00:00:00"), 7L, "view"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
    rows.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = RelOps.w39ConversionLatency(spark, dir).collect()
      .map(r => r.getAs[String]("arm") ->
        ((r.getAs[Long]("p50_us"), r.getAs[Long]("p90_us"),
          r.getAs[Long]("p99_us"), r.getAs[Long]("n_conversions")))).toMap
    assert(out("a") == ((2 * H, 2 * H, 2 * H, 1L)), s"got ${out("a")}")
    assert(out("b") == ((1 * H, 3 * H, 3 * H, 2L)), s"got ${out("b")}")
    assert(out.size == 2)
  }
}
