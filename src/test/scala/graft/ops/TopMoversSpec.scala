package graft.ops

import graft.SparkTestBase
import java.sql.Timestamp
import org.apache.spark.sql.functions._

/** w32_top_movers: week-over-week deltas with real zeros. Plants a
  * collapse-to-zero and a zero-base recovery, the two cases a naive
  * counts-only report gets wrong.
  */
class TopMoversSpec extends SparkTestBase {
  import spark.implicits._

  test("w32: a stopping type shows -100%, a zero base yields NULL growth") {
    val dir = tempDir("w32").toString
    // weeks (Mondays): 03-04, 03-11, 03-18. 'view': 4, 2, 0 events ->
    // deltas -2 (-50%) then -2 (-100%). 'click': 1, 0, 3 -> the week-3
    // row has prev_n = 0: delta +3, growth NULL (integer zero test).
    def t(s: String) = Timestamp.valueOf(s)
    val rows = Seq(
      (1L, t("2024-03-04 10:00:00"), 1L, "view", 0.0),
      (2L, t("2024-03-05 10:00:00"), 1L, "view", 0.0),
      (3L, t("2024-03-06 10:00:00"), 2L, "view", 0.0),
      (4L, t("2024-03-07 10:00:00"), 2L, "view", 0.0),
      (5L, t("2024-03-12 10:00:00"), 1L, "view", 0.0),
      (6L, t("2024-03-13 10:00:00"), 2L, "view", 0.0),
      (7L, t("2024-03-04 11:00:00"), 3L, "click", 0.0),
      (8L, t("2024-03-19 11:00:00"), 3L, "click", 0.0),
      (9L, t("2024-03-20 11:00:00"), 3L, "click", 0.0),
      (10L, t("2024-03-21 11:00:00"), 3L, "click", 0.0),
      (11L, t("2024-03-18 09:00:00"), 9L, "error", 0.0)
    )
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val m = RelOps.w32TopMovers(spark, dir).collect()
      .map(r => (r.getAs[String]("event_type"),
        r.getAs[java.sql.Date]("week").toString) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("prev_n"),
          r.getAs[Long]("delta"), Option(r.get(r.fieldIndex("growth")))))).toMap
    assert(m(("view", "2024-03-11")) == ((2L, 4L, -2L, Some(-0.5))))
    // 'view' span ends at its own last active week (03-11): no
    // zero-filled week-3 row exists for it — the spine is per type
    assert(!m.contains(("view", "2024-03-18")))
    // 'click' week 2 is a REAL zero: the -100% collapse a counts-only
    // report would silently drop; week 3 recovers off the zero base
    assert(m(("click", "2024-03-11")) == ((0L, 1L, -1L, Some(-1.0))))
    assert(m(("click", "2024-03-18")) == ((3L, 0L, 3L, None)))
  }

  test("w32: deltas reconcile against w01-style weekly counts on the fixture") {
    val rows = RelOps.w32TopMovers(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("delta") ==
        r.getAs[Long]("n") - r.getAs[Long]("prev_n"))
      if (r.getAs[Long]("prev_n") == 0L)
        assert(r.isNullAt(r.fieldIndex("growth")))
    }
  }
}
