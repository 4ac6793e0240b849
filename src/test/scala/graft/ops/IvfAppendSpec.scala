package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** s19_ivf_append: incremental ANN index maintenance against a frozen
  * persisted codebook. Pins the build-once discipline, count
  * consistency, and hand-checkable assignment geometry.
  */
class IvfAppendSpec extends SparkTestBase {
  import spark.implicits._

  private def plant(vecs: Seq[(Long, Seq[Float], Int)]): String = {
    val dir = tempDir("ivfapp").toString
    vecs.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("s19: frozen-codebook assignment with exact growth counts") {
    // corpus: two axis clusters (labels 0/1); batch vector 7 leans
    // toward the label-1 axis (cos 0.8 vs 0.6) -> cell 1, which grows
    // from its 2 corpus postings to 3
    val dir = plant(Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 0),
      (10L, Seq(0.9f, 0.1f, 0f, 0f), 0),
      (1L, Seq(0f, 1f, 0f, 0f), 1),
      (11L, Seq(0.1f, 0.9f, 0f, 0f), 1),
      (7L, Seq(0.6f, 0.8f, 0f, 0f), 0)
    ))
    val rows = SimOps.s19IvfAppend(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("vec_id") == 7L)
    assert(r.getAs[Long]("cell") == 1L)
    assert(r.getAs[Long]("cell_n_before") == 2L)
    assert(r.getAs[Long]("cell_n_after") == 3L)
  }

  test("s19: index builds once per dataset dir (the materialized-root discipline)") {
    SimOps.s19IvfAppend(spark, sf0001).count()
    val builds = graft.Materialized.buildCount
    SimOps.s19IvfAppend(spark, sf0001).count()
    assert(graft.Materialized.buildCount == builds,
      "second invocation rebuilt the persisted index")
  }

  test("s19: growth accounting balances on the fixture") {
    val rows = SimOps.s19IvfAppend(spark, sf0001).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("vec_id") % 10 == 7))
    // per-cell: n_after - n_before equals this batch's members there
    rows.groupBy(_.getAs[Long]("cell")).foreach { case (_, rs) =>
      val r = rs.head
      assert(r.getAs[Long]("cell_n_after") - r.getAs[Long]("cell_n_before")
        == rs.length)
      // every row of one cell reports identical counts
      assert(rs.forall(x =>
        x.getAs[Long]("cell_n_before") == r.getAs[Long]("cell_n_before")))
    }
  }
}
