package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** s28_mutual_knn: reciprocal top-3 edges over banded candidates. Plants
  * two tight 4-clusters (every member's top-3 is exactly its 3 cluster
  * peers, so all 6 intra pairs per cluster are mutual) plus a satellite
  * whose top-3 point INTO a cluster that never reciprocates — the
  * asymmetric-edge case the reciprocity gate exists to drop.
  */
class MutualKnnSpec extends SparkTestBase {
  import spark.implicits._

  private def pad(v: Seq[Float]): Seq[Float] = v ++ Seq.fill(64 - v.size)(0f)

  private def plant(vecs: Seq[(Long, Seq[Float])]): String = {
    val dir = tempDir("mknn").toString
    vecs.map { case (id, v) => (id, pad(v)) }.toDF("vec_id", "embedding")
      .withColumn("label", lit(0))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("s28: mutual edges stay within clusters; the satellite's one-way edges drop") {
    val a = (0 to 3).map(i => i.toLong -> Seq(1f, 0.01f * i, 0f, 0f))
    val b = (0 to 3).map(i => (10 + i).toLong -> Seq(0f, 0f, 1f, 0.01f * i))
    // satellite: nearest to cluster A (cos ~0.91) but every A member's
    // top-3 is the rest of A (cos >= 0.9995) — never reciprocated
    val sat = Seq(20L -> Seq(1f, 0.5f, 0f, 0f))
    val rows = SimOps.s28MutualKnn(spark, plant(a ++ b ++ sat)).collect()
    val pairs = rows.map(r =>
      (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val expect =
      (for { i <- 0 to 3; j <- i + 1 to 3 } yield (i.toLong, j.toLong)).toSet ++
      (for { i <- 10 to 13; j <- i + 1 to 13 } yield (i.toLong, j.toLong)).toSet
    assert(pairs == expect)
    rows.foreach { r =>
      assert(r.getAs[Long]("rank_ab") >= 1 && r.getAs[Long]("rank_ab") <= 3)
      assert(r.getAs[Long]("rank_ba") >= 1 && r.getAs[Long]("rank_ba") <= 3)
      assert(r.getAs[Double]("cosine") > 0.999) // all edges intra-cluster
    }
    // a0's nearest is a1 (angle gaps from a0 grow with the tilt), but
    // a1's nearest is a2: atan curvature makes the a1->a2 angle gap
    // (atan(.02)-atan(.01)) a hair SMALLER than a1->a0 (atan(.01)) —
    // a ~1e-8 cosine margin, exact and deterministic under the
    // quantized-integer dot (both sides of the tie-free comparison are
    // one fixed double expression)
    val e01 = rows.find(r => r.getAs[Long]("id_a") == 0L &&
      r.getAs[Long]("id_b") == 1L).get
    assert(e01.getAs[Long]("rank_ab") == 1L)
    assert(e01.getAs[Long]("rank_ba") == 2L)
  }

  test("s28: sf fixture — reciprocal, deduped, degree- and rank-bounded") {
    val rows = SimOps.s28MutualKnn(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val keys = rows.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(keys.distinct.length == keys.length)
    keys.foreach { case (x, y) => assert(x < y) }
    // each mutual edge consumes one of a node's k out-edges => degree <= 3
    val deg = keys.flatMap { case (x, y) => Seq(x, y) }
      .groupBy(identity).map(_._2.size)
    assert(deg.max <= 3)
    rows.foreach { r =>
      assert(r.getAs[Long]("rank_ab") <= 3 && r.getAs[Long]("rank_ba") <= 3)
    }
  }
}
