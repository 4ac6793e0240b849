package graft.ops

import graft.SparkTestBase
import java.sql.Timestamp
import org.apache.spark.sql.functions._

/** w31_changepoint: the exact-integer CUSUM level-shift estimator.
  * Plants an abrupt rate change with a hand-computed peak and pins the
  * zero-filled spine plus telescoping invariants.
  */
class ChangepointSpec extends SparkTestBase {
  import spark.implicits._

  test("w31: a rate shift peaks the CUSUM at the regime boundary") {
    val dir = tempDir("w31").toString
    // views: 1/hour for hours 0-9, then 5/hour for hours 10-19.
    // n=20, T=60; S'_h = cumsum(20x - 60): -40/hour down to -400 at
    // hour 9, +40/hour back to 0 -> peak |S'| = 400 at hour 9,
    // direction -1 (early segment ran cold; the rate ROSE there).
    var eid = 0L
    val rows = (0 until 20).flatMap { h =>
      val k = if (h < 10) 1 else 5
      (0 until k).map { j =>
        eid += 1
        (eid, Timestamp.valueOf(f"2024-08-01 $h%02d:${10 + j}%02d:00"),
          1L, "view", 0.0)
      }
    } ++ Seq( // clicks only at the span ends: 18 zero-filled hours between
      (1000L, Timestamp.valueOf("2024-08-01 00:05:00"), 2L, "click", 0.0),
      (1001L, Timestamp.valueOf("2024-08-01 19:05:00"), 2L, "click", 0.0))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val m = RelOps.w31Changepoint(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val v = m("view")
    assert(v.getAs[Long]("n_hours") == 20L && v.getAs[Long]("total") == 60L)
    assert(v.getAs[Timestamp]("cp_hour") ==
      Timestamp.valueOf("2024-08-01 09:00:00"))
    assert(v.getAs[Double]("cp_score") == 400.0)
    assert(v.getAs[Long]("direction") == -1L)
    // the click spine zero-fills the 18 empty hours
    assert(m("click").getAs[Long]("n_hours") == 20L)
  }

  test("w31: one change-point per type on the fixture, scores positive") {
    val rows = RelOps.w31Changepoint(spark, sf0001).collect()
    assert(rows.map(_.getAs[String]("event_type")).distinct.length ==
      rows.length)
    rows.foreach { r =>
      assert(r.getAs[Double]("cp_score") > 0.0)
      assert(Set(-1L, 1L).contains(r.getAs[Long]("direction")))
    }
  }
}
