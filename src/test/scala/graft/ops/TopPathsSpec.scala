package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** w41_top_paths: hand-computed trigram journeys on a planted stream. */
class TopPathsSpec extends SparkTestBase {
  import spark.implicits._

  test("w41: trigrams stay within a user's stream and rank by count") {
    val dir = tempDir("w41").toString
    def t(i: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:${i}%02d:00")
    // user 1: v c p v c p -> trigrams vcp x2, cpv, pvc
    // user 2: v c p       -> vcp
    // user 3: p v         -> too short, contributes nothing; its 'p'
    //                        must NOT chain into user 1's stream
    val evs = Seq(
      (1L, "view"), (1L, "click"), (1L, "purchase"),
      (1L, "view"), (1L, "click"), (1L, "purchase"),
      (2L, "view"), (2L, "click"), (2L, "purchase"),
      (3L, "purchase"), (3L, "view"))
    evs.zipWithIndex.map { case ((u, ty), i) => (i.toLong, t(i), u, ty) }
      .toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = RelOps.w41TopPaths(spark, dir).collect()
      .map(r => (r.getAs[String]("step1"), r.getAs[String]("step2"),
        r.getAs[String]("step3"), r.getAs[Long]("n"),
        r.getAs[Double]("share"))).toSeq
    // totals: vcp 3, cpv 1, pvc 1 -> 5 trigrams
    assert(rows == Seq(
      ("view", "click", "purchase", 3L, 0.6),
      ("click", "purchase", "view", 1L, 0.2),
      ("purchase", "view", "click", 1L, 0.2)), s"got ${rows.mkString("; ")}")
    graft.Caches.unpersistAll()
  }
}
