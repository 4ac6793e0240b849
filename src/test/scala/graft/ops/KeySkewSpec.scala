package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** w40_key_skew: hand-computed shares on a planted skewed key set. */
class KeySkewSpec extends SparkTestBase {
  import spark.implicits._

  test("w40: top keys, shares, cumulative shares and skew ratios") {
    val dir = tempDir("w40").toString
    def t(i: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:${i}%02d:00")
    // user 1: 6 events, user 2: 3, user 3: 1 -> n_rows 10, n_keys 3
    val uids = Seq.fill(6)(1L) ++ Seq.fill(3)(2L) ++ Seq(3L)
    uids.zipWithIndex.map { case (u, i) => (i.toLong, t(i), u, "view") }
      .toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = RelOps.w40KeySkew(spark, dir).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("user_id"),
        r.getAs[Long]("n"), r.getAs[Double]("share"),
        r.getAs[Double]("cum_share"), r.getAs[Double]("skew_ratio"))).toSeq
    assert(rows == Seq(
      (1L, 1L, 6L, 0.6, 0.6, 1.8),
      (2L, 2L, 3L, 0.3, 0.9, 0.9),
      (3L, 3L, 1L, 0.1, 1.0, 0.3)), s"got ${rows.mkString("; ")}")
    graft.Caches.unpersistAll()
  }

  test("w40: audit invariants on the fixture corpus") {
    val rows = RelOps.w40KeySkew(spark, sf0001).collect()
    assert(rows.length == 10)
    val ns = rows.map(_.getAs[Long]("n")).toSeq
    assert(ns == ns.sortBy(-_)) // heaviest first
    val cums = rows.map(_.getAs[Double]("cum_share")).toSeq
    assert(cums == cums.sorted && cums.last <= 1.0)
    graft.Caches.unpersistAll()
  }
}
