package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** s21_centroid_drift: the direct measurement behind s19's retrain-due
  * signal. Plants a stable cell next to a rotated one.
  */
class CentroidDriftSpec extends SparkTestBase {
  import spark.implicits._

  private def plant(vecs: Seq[(Long, Seq[Float], Int)]): String = {
    val dir = tempDir("s21").toString
    vecs.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("s21: a stable cell scores 1, a rotated cell drops") {
    // vec_id % 4 < 2 = early half. label 0: identical direction in both
    // halves -> cosine exactly 1. label 1: early along axis 2, late
    // along axis 3 -> centroids orthogonal, cosine 0.
    val dir = plant(Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 0), (1L, Seq(1f, 0f, 0f, 0f), 0),
      (2L, Seq(1f, 0f, 0f, 0f), 0), (3L, Seq(1f, 0f, 0f, 0f), 0),
      (4L, Seq(0f, 0f, 1f, 0f), 1), (5L, Seq(0f, 0f, 1f, 0f), 1),
      (6L, Seq(0f, 0f, 0f, 1f), 1), (7L, Seq(0f, 0f, 0f, 1f), 1)
    ))
    val m = SimOps.s21CentroidDrift(spark, dir).collect()
      .map(r => r.getAs[Long]("cell") ->
        ((r.getAs[Long]("n_early"), r.getAs[Long]("n_late"),
          r.getAs[Double]("centroid_cosine")))).toMap
    assert(m(0L) == ((2L, 2L, 1.0)))
    assert(m(1L) == ((2L, 2L, 0.0)))
  }

  test("s21: structural invariants on the fixture") {
    // the fixture's labels are NOT geometric clusters (random vectors
    // with arbitrary labels), so half-centroids are noise means and
    // their cosines are legitimately small — the semantics live in the
    // planted test; here we pin shape: one row per co-populated cell,
    // a valid cosine, members on both sides
    val rows = SimOps.s21CentroidDrift(spark, sf0001).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("cell")).distinct.length == rows.length)
    rows.foreach { r =>
      val c = r.getAs[Double]("centroid_cosine")
      assert(c >= -1.0 && c <= 1.0)
      assert(r.getAs[Long]("n_early") > 0 && r.getAs[Long]("n_late") > 0)
    }
  }
}
