package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** s18_margin_mining: mutual-best + absolute-margin pair mining. Plants
  * the three cases the criterion exists for — a clean pair, an
  * ambiguous (zero-margin) hub, and an asymmetric (non-mutual) match —
  * with hand-checkable 4-dim geometry, then pins the matching
  * invariants on the real fixture.
  */
class MarginMiningSpec extends SparkTestBase {
  import spark.implicits._

  private def plant(vecs: Seq[(Long, Seq[Float])]): String = {
    val dir = tempDir("margin").toString
    vecs.toDF("vec_id", "embedding")
      .withColumn("label", lit(0))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("s18: clean pairs mine, ambiguous and asymmetric matches do not") {
    val dir = plant(Seq(
      // a0 <-> b1: clean mutual pair, runner-up nearly orthogonal
      0L -> Seq(1f, 0f, 0f, 0f),
      1L -> Seq(0.9f, 0.1f, 0f, 0f),
      // a2: EXACTLY equidistant from b3 and b5 (margin 0 by symmetry)
      2L -> Seq(0f, 0f, 1f, 1f),
      3L -> Seq(0f, 0f, 1f, 0.9f),
      5L -> Seq(0f, 0f, 0.9f, 1f),
      // a4's best is b7, but b7's best is a6 (an exact copy of it):
      // a4-b7 is asymmetric and must not mine; a6-b7 is clean
      4L -> Seq(0f, 1f, 0f, 0f),
      6L -> Seq(0.1f, 0.95f, 0f, 0f),
      7L -> Seq(0.1f, 0.95f, 0f, 0f)
    ))
    val rows = SimOps.s18MarginMining(spark, dir).collect()
    val pairs = rows.map(r =>
      r.getAs[Long]("a_id") -> r.getAs[Long]("b_id")).toSet
    assert(pairs == Set(0L -> 1L, 6L -> 7L))
    rows.foreach { r =>
      assert(r.getAs[Double]("margin") >= 0.05)
      assert(r.getAs[Double]("margin") ==
        r.getAs[Double]("cos_best") - r.getAs[Double]("cos_second"))
    }
    // the clean pair's margin is large (runner-up cosine ~0.10)
    val m01 = rows.find(_.getAs[Long]("a_id") == 0L).get
    assert(m01.getAs[Double]("cos_best") > 0.99)
    assert(m01.getAs[Double]("cos_second") < 0.11)
  }

  test("s18: mined pairs form a matching on the fixture (no vector reused)") {
    val rows = SimOps.s18MarginMining(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val as = rows.map(_.getAs[Long]("a_id"))
    val bs = rows.map(_.getAs[Long]("b_id"))
    // mutual best => each side appears at most once
    assert(as.distinct.length == as.length)
    assert(bs.distinct.length == bs.length)
    assert(as.forall(_ % 2 == 0) && bs.forall(_ % 2 == 1))
    rows.foreach(r => assert(r.getAs[Double]("margin") >= 0.05))
  }
}
