package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** s29_pq_distortion: per-(subspace, codeword) reconstruction error.
  * Dim-constant vectors make every cell hand-computable: d to a
  * codeword is 8 * (v - c)^2 per subspace, and the label-0 stray pulls
  * its own centroid to a hand-exact rounded mean.
  */
class PqDistortionSpec extends SparkTestBase {
  import spark.implicits._

  private def const(v: Float): Seq[Float] = Seq.fill(64)(v)

  private def plant(vecs: Seq[(Long, Seq[Float], Int)]): String = {
    val dir = tempDir("pqd").toString
    vecs.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("s29: hand-computed cells — stray inflates its own codeword's sse") {
    // label 0: two at 0, one stray at 300 -> centroid round(300/3) = 100
    // label 1: three at 1000 -> centroid 1000 (an exact fixpoint)
    val dir = plant(Seq(
      (1L, const(0f), 0), (2L, const(0f), 0), (3L, const(0.0003f), 0),
      (4L, const(0.001f), 1), (5L, const(0.001f), 1), (6L, const(0.001f), 1)))
    val rows = SimOps.s29PqDistortion(spark, dir).collect()
    assert(rows.length == 16) // 8 subspaces x 2 codes
    rows.foreach { r =>
      val code = r.getAs[Long]("code")
      val n = r.getAs[Long]("n_assigned")
      val sse = r.getAs[Long]("sse")
      if (code == 0L) {
        // v=0: 8*100^2 = 80k twice; v=300: 8*200^2 = 320k; all beat
        // code 1 (8*1000^2 / 8*700^2), so n = 3, sse = 480k
        assert(n == 3L && sse == 480000L)
        assert(r.getAs[Double]("mean_sse") == 480000.0 / 3.0)
      } else {
        // the 1000-vectors sit ON their centroid: zero distortion
        assert(n == 3L && sse == 0L)
        assert(r.getAs[Double]("mean_sse") == 0.0)
      }
    }
    graft.Caches.unpersistAll()
  }

  test("s29: sf fixture — full spine, populations conserve, sse >= 0") {
    val rows = SimOps.s29PqDistortion(spark, sf0001).collect()
    val codes = rows.map(_.getAs[Long]("code")).distinct.length
    assert(rows.length == 8 * codes)
    // every vector lands in exactly one cell per subspace
    val nVecs = graft.Tables.embeddings(spark, sf0001).count()
    assert(rows.map(_.getAs[Long]("n_assigned")).sum == 8L * nVecs)
    rows.foreach { r =>
      assert(r.getAs[Long]("sse") >= 0L)
      val empty = r.getAs[Long]("n_assigned") == 0L
      assert((r.getAs[Any]("mean_sse") == null) == empty)
      if (empty) assert(r.getAs[Long]("sse") == 0L)
    }
    graft.Caches.unpersistAll()
  }
}
