package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** d27_quality_drift: hand-computed drift on a planted regime shift. */
class QualityDriftSpec extends SparkTestBase {
  import spark.implicits._

  test("d27: a planted incoming-quality collapse shows up as TVD mass") {
    val dir = tempDir("d27").toString
    // reference docs (ids 2..9, % 10 >= 2): fully distinct tokens ->
    // quality 1e6 -> bin 10. incoming (ids 10, 11 -> % 10 < 2):
    // "a a a a" -> 250000 -> bin 2.
    val docs = (2L to 9L).map(i => (i, s"tok$i tok${i}b")) ++
      Seq((10L, "a a a a"), (11L, "b b b b"))
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("planted"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = DedupOps.d27QualityDrift(spark, dir).collect()
      .map(r => r.getAs[Long]("bin") ->
        ((r.getAs[Long]("n_ref"), r.getAs[Long]("n_inc"),
          r.getAs[Double]("p_ref"), r.getAs[Double]("p_inc"),
          r.getAs[Double]("tvd_term")))).toMap
    assert(rows.size == 11) // zero-filled spine
    assert(rows(10L) == ((8L, 0L, 1.0, 0.0, 0.5)))
    assert(rows(2L) == ((0L, 2L, 0.0, 1.0, 0.5)))
    assert(rows(0L) == ((0L, 0L, 0.0, 0.0, 0.0)))
    // total drift = 1.0: complete regime shift
    assert(rows.values.map(_._5).sum == 1.0)
    graft.Caches.unpersistAll()
  }

  test("d27: fixture invariants — shares sum to 1 per split") {
    val rows = DedupOps.d27QualityDrift(spark, sf0001).collect()
    assert(math.abs(rows.map(_.getAs[Double]("p_ref")).sum - 1.0) < 1e-9)
    assert(math.abs(rows.map(_.getAs[Double]("p_inc")).sum - 1.0) < 1e-9)
    val tvd = rows.map(_.getAs[Double]("tvd_term")).sum
    assert(tvd >= 0.0 && tvd <= 1.0)
    graft.Caches.unpersistAll()
  }
}
