package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** t17_burstiness: dispersion separates clumping topical terms from
  * thin-spread function words without a stopword list.
  */
class BurstinessSpec extends SparkTestBase {
  import spark.implicits._

  test("t17: a clumping term outscores a thin-spread one at equal tf") {
    val dir = tempDir("t17").toString
    // 'thin' once in each of 120 docs (tf 120, df 120, burstiness 1);
    // 'clump' 12 times in each of 10 docs (tf 120, df 10, burstiness 12);
    // 'rare' below the tf floor must not appear
    val docs = (1L to 120L).map { i =>
      val extra = if (i <= 10) (" clump" * 12) else ""
      val rare = if (i == 1) " rare" else ""
      (i, s"thin filler$i$extra$rare")
    }
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("planted"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val m = TextOps.t17Burstiness(spark, dir).collect()
      .map(r => r.getAs[String]("tok") ->
        ((r.getAs[Long]("tf"), r.getAs[Long]("df"),
          r.getAs[Double]("burstiness")))).toMap
    assert(m("thin") == ((120L, 120L, 1.0)))
    assert(m("clump") == ((120L, 10L, 12.0)))
    assert(!m.contains("rare") && !m.keys.exists(_.startsWith("filler")))
  }

  test("t17: invariants on the fixture") {
    val rows = TextOps.t17Burstiness(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("tf") >= 100L)
      assert(r.getAs[Long]("df") <= r.getAs[Long]("tf"))
      assert(r.getAs[Double]("burstiness") >= 1.0)
    }
  }
}
