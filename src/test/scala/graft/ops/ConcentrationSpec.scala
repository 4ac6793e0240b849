package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** p24_source_concentration: HHI / Gini / top-share over per-source
  * token mass, every statistic a division of hand-checkable integers.
  */
class ConcentrationSpec extends SparkTestBase {
  import spark.implicits._

  private def plant(masses: Seq[(String, Int)]): String = {
    val dir = tempDir("conc").toString
    masses.zipWithIndex.map { case ((src, m), i) =>
      (i.toLong, src, Seq.fill(m)("w").mkString(" "))
    }.toDF("doc_id", "source", "text")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", lit(10L))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("p24: balanced corpus — hhi = 1/n, gini = 0") {
    val r = PipelineOps.p24SourceConcentration(spark,
      plant(Seq("a" -> 10, "b" -> 10, "c" -> 10, "d" -> 10))).head()
    assert(r.getAs[Long]("n_sources") == 4L)
    assert(r.getAs[Long]("total_tokens") == 40L)
    assert(r.getAs[Double]("hhi") == 0.25)
    assert(r.getAs[Double]("gini") == 0.0)
    assert(r.getAs[Double]("top_share") == 0.25)
  }

  test("p24: dominated corpus — hand-computed hhi/gini/top") {
    // masses 1,1,1,37: hhi 1372/1600, gini (2*154-200)/160, top 37/40
    val r = PipelineOps.p24SourceConcentration(spark,
      plant(Seq("a" -> 1, "b" -> 1, "c" -> 1, "d" -> 37))).head()
    assert(r.getAs[Double]("hhi") == 1372.0 / 1600.0)
    assert(r.getAs[Double]("gini") == 108.0 / 160.0)
    assert(r.getAs[Double]("top_share") == 37.0 / 40.0)
  }

  test("p24: sf fixture — bounds hold and agree with p23's shares") {
    val r = PipelineOps.p24SourceConcentration(spark, sf0001).head()
    val n = r.getAs[Long]("n_sources")
    val hhi = r.getAs[Double]("hhi")
    val gini = r.getAs[Double]("gini")
    val top = r.getAs[Double]("top_share")
    assert(hhi >= 1.0 / n && hhi <= 1.0)
    assert(gini >= 0.0 && gini < 1.0)
    assert(top >= 1.0 / n && top <= 1.0)
    // reconcile the top share against p23's per-source natural shares
    val natMax = PipelineOps.p23MixturePlan(spark, sf0001).collect()
      .map(_.getAs[Double]("natural_share")).max
    assert(top == natMax)
  }
}
