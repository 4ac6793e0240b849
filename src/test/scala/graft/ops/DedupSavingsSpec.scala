package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** d28_dedup_savings: hand-computed savings on a planted triplet, plus
  * cross-operator reconciliation against d25's family census at sf0.001.
  */
class DedupSavingsSpec extends SparkTestBase {
  import spark.implicits._

  private def bySt(dir: String) =
    DedupOps.d28DedupSavings(spark, dir).collect()
      .map(r => r.getAs[String]("strategy") ->
        ((r.getAs[Long]("n_multi_families"),
          r.getAs[Long]("n_removable_docs"),
          r.getAs[Long]("n_removable_tokens"),
          r.getAs[Double]("doc_share"),
          r.getAs[Double]("token_share")))).toMap

  test("d28: identical triplet is both an exact and a near-dup family") {
    val dir = tempDir("d28").toString
    // 3 identical 24-token docs (J = 1.0 -> every LSH band collides, so
    // the near-dup pipeline is GUARANTEED to pair them); 2 unique docs
    val t = (1 to 24).map(i => s"tok$i").mkString(" ")
    Seq((1L, t), (2L, t), (3L, t),
      (4L, "lone wolf document"), (5L, "another single text"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("planted"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = bySt(dir)
    assert(rows.keySet == Set("exact", "near_dup"))
    // keeper = doc 1; docs 2+3 removable, 24 tokens each; corpus = 5
    // docs, 24*3 + 3 + 3 = 78 tokens
    val expected = ((1L, 2L, 48L, 2.0 / 5, 48.0 / 78))
    assert(rows("exact") == expected)
    assert(rows("near_dup") == expected)
  }

  test("d28: zero-savings corpus reports honest zero rows") {
    val dir = tempDir("d28z").toString
    Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("planted"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = bySt(dir)
    assert(rows("exact") == ((0L, 0L, 0L, 0.0, 0.0)))
    assert(rows("near_dup") == ((0L, 0L, 0L, 0.0, 0.0)))
  }

  test("d28 at sf0.001: near_dup >= exact, and removable docs reconcile " +
    "with the d25 census") {
    val dir = "/root/testdata/sf0.001"
    val rows = bySt(dir)
    val ex = rows("exact"); val nd = rows("near_dup")
    assert(nd._2 >= ex._2 && nd._3 >= ex._3)
    assert(ex._4 >= 0.0 && ex._4 <= 1.0 && nd._5 >= 0.0 && nd._5 <= 1.0)
    // d25: sum over multi-member buckets of (size - 1) * n_families is
    // exactly d28's near-dup removable doc count
    val censusRemovable = DedupOps.d25FamilyCensus(spark, dir)
      .filter(col("family_size") >= 2)
      .agg(coalesce(
        sum((col("family_size") - 1) * col("n_families")), lit(0L)))
      .collect()(0).getLong(0)
    assert(nd._2 == censusRemovable)
  }
}
