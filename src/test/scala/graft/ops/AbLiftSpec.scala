package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** w37_ab_lift: arm counts reconcile with independent funnel tallies. */
class AbLiftSpec extends SparkTestBase {

  test("w37: arm splits reconcile with w26 and rates are consistent") {
    val r = RelOps.w37AbLift(spark, sf0001).collect().head
    val f = RelOps.w26Funnel(spark, sf0001)
      .select(col("user_id"), col("t_view"), col("stage_reached"))
      .collect()
    def arm(p: Long) = f.filter(_.getAs[Long]("user_id") % 2 == p)
    val expA = arm(0).count(!_.isNullAt(1)).toLong
    val cvA = arm(0).count(_.getAs[Long]("stage_reached") == 3L).toLong
    val expB = arm(1).count(!_.isNullAt(1)).toLong
    val cvB = arm(1).count(_.getAs[Long]("stage_reached") == 3L).toLong
    assert(r.getAs[Long]("exposed_a") == expA)
    assert(r.getAs[Long]("converted_a") == cvA)
    assert(r.getAs[Long]("exposed_b") == expB)
    assert(r.getAs[Long]("converted_b") == cvB)
    assert(cvA <= expA && cvB <= expB)
    if (expA > 0) assert(r.getAs[Double]("cvr_a") == cvA.toDouble / expA)
    if (r.getAs[Any]("cvr_a") != null && r.getAs[Double]("cvr_a") > 0)
      assert(r.getAs[Double]("lift") ==
        r.getAs[Double]("cvr_b") / r.getAs[Double]("cvr_a"))
  }

  test("w37: negative user_ids land in an arm (ADVICE r8 — Spark's % " +
      "would yield -1 and silently exclude them)") {
    import spark.implicits._
    val dir = tempDir("w37").toString
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // user -3 (odd -> arm B) and user -4 (even -> arm A) both complete
    // the full view -> click -> purchase chain
    Seq(
      (1L, t("2024-01-01 00:00:00"), -3L, "view", 1.0, "{}"),
      (2L, t("2024-01-01 01:00:00"), -3L, "click", 1.0, "{}"),
      (3L, t("2024-01-01 02:00:00"), -3L, "purchase", 1.0, "{}"),
      (4L, t("2024-01-01 00:00:00"), -4L, "view", 1.0, "{}"),
      (5L, t("2024-01-01 01:00:00"), -4L, "click", 1.0, "{}"),
      (6L, t("2024-01-01 02:00:00"), -4L, "purchase", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = RelOps.w37AbLift(spark, dir).collect().head
    assert(r.getAs[Long]("exposed_a") == 1L &&
      r.getAs[Long]("converted_a") == 1L)
    assert(r.getAs[Long]("exposed_b") == 1L &&
      r.getAs[Long]("converted_b") == 1L)
    assert(r.getAs[Double]("lift") == 1.0)
  }
}
