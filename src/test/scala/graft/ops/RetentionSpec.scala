package graft.ops

import graft.SparkTestBase
import java.sql.Timestamp
import org.apache.spark.sql.functions._

/** w27_retention_cohorts: the cohort retention triangle. Plants a
  * hand-checkable two-cohort history and pins the triangle invariants
  * on the fixture.
  */
class RetentionSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("w27: hand-computed two-cohort triangle") {
    // 2024-03-04 and 2024-03-11 are Mondays (ISO week starts).
    // cohort A = {1, 2} first seen wk0; user 1 returns wk1 and wk2,
    // user 2 never returns. cohort B = {3} first seen wk1, returns wk2.
    val dir = tempDir("retention").toString
    Seq(
      (1L, ts("2024-03-04 10:00:00"), 1L, "view", 0.0),
      (2L, ts("2024-03-05 10:00:00"), 2L, "view", 0.0),
      (3L, ts("2024-03-12 10:00:00"), 1L, "click", 0.0),
      (4L, ts("2024-03-19 10:00:00"), 1L, "view", 0.0),
      (5L, ts("2024-03-11 09:00:00"), 3L, "view", 0.0),
      (6L, ts("2024-03-20 09:00:00"), 3L, "view", 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = RelOps.w27RetentionCohorts(spark, dir).collect()
      .map(r => (r.getAs[java.sql.Date]("cohort_week"),
        r.getAs[Long]("weeks_since")) ->
        ((r.getAs[Long]("n_active"), r.getAs[Long]("cohort_size"),
          r.getAs[Double]("retention_rate")))).toMap
    val wk0 = java.sql.Date.valueOf("2024-03-04")
    val wk1 = java.sql.Date.valueOf("2024-03-11")
    assert(rows((wk0, 0L)) == ((2L, 2L, 1.0)))
    assert(rows((wk0, 1L)) == ((1L, 2L, 0.5)))
    assert(rows((wk0, 2L)) == ((1L, 2L, 0.5)))
    assert(rows((wk1, 0L)) == ((1L, 1L, 1.0)))
    assert(rows((wk1, 1L)) == ((1L, 1L, 1.0)))
    assert(rows.size == 5)
  }

  test("w27: triangle invariants on the sf0.001 fixture") {
    val df = RelOps.w27RetentionCohorts(spark, sf0001)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // offset 0 is always full retention; later cells never exceed it
    rows.foreach { r =>
      val rate = r.getAs[Double]("retention_rate")
      if (r.getAs[Long]("weeks_since") == 0L) assert(rate == 1.0)
      assert(rate > 0.0 && rate <= 1.0)
      assert(r.getAs[Long]("n_active") <= r.getAs[Long]("cohort_size"))
    }
    // total first-week users across cohorts == distinct users overall
    val users = graft.Tables.events(spark, sf0001)
      .select(countDistinct(col("user_id"))).head().getLong(0)
    val sized = rows.filter(_.getAs[Long]("weeks_since") == 0L)
      .map(_.getAs[Long]("cohort_size")).sum
    assert(sized == users)
  }
}
