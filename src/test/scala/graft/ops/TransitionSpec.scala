package graft.ops

import graft.SparkTestBase
import java.sql.Timestamp
import org.apache.spark.sql.functions._

/** w28_transition_matrix: the first-order journey model. Hand-checks a
  * planted two-user stream (including the cross-user boundary no
  * transition may cross) and pins conservation on the fixture.
  */
class TransitionSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("w28: hand-computed transitions, no cross-user steps") {
    val dir = tempDir("trans").toString
    Seq(
      // user 1: view -> click -> view  (steps: v->c, c->v)
      (1L, ts("2024-04-01 10:00:00"), 1L, "view", 0.0),
      (2L, ts("2024-04-01 10:01:00"), 1L, "click", 0.0),
      (3L, ts("2024-04-01 10:02:00"), 1L, "view", 0.0),
      // user 2: view -> view  (step: v->v); user boundary between
      // event 3 (u1) and 4 (u2) must produce NO transition
      (4L, ts("2024-04-01 11:00:00"), 2L, "view", 0.0),
      (5L, ts("2024-04-01 11:05:00"), 2L, "view", 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val m = RelOps.w28TransitionMatrix(spark, dir).collect()
      .map(r => (r.getAs[String]("from_type"), r.getAs[String]("to_type")) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("n_from"),
          r.getAs[Double]("p")))).toMap
    assert(m(("view", "click")) == ((1L, 2L, 0.5)))
    assert(m(("view", "view")) == ((1L, 2L, 0.5)))
    assert(m(("click", "view")) == ((1L, 1L, 1.0)))
    assert(m.size == 3)
  }

  test("w28: rows are a proper stochastic matrix on the fixture") {
    val rows = RelOps.w28TransitionMatrix(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("from_type")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("n")).sum == rs.head.getAs[Long]("n_from"))
      assert(math.abs(rs.map(_.getAs[Double]("p")).sum - 1.0) < 1e-12)
    }
    // total steps = total events minus one per user (last has no next)
    val e = graft.Tables.events(spark, sf0001)
    val expected = e.count() - e.select("user_id").distinct().count()
    assert(rows.map(_.getAs[Long]("n")).sum == expected)
  }
}
