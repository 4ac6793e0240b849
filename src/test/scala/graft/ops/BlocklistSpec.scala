package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** t22_blocklist_report: hand-computed incidence incl. the zero row. */
class BlocklistSpec extends SparkTestBase {
  import spark.implicits._

  test("t22: hits, doc counts, rates, and zero-hit terms all present") {
    val dir = tempDir("t22").toString
    // 4 docs: 'dup' appears 3x across 2 docs; 'skew' 1x in 1 doc;
    // the other 4 terms never -> zero rows must still appear
    Seq((1L, "dup dup scan"), (2L, "dup merge"), (3L, "skew join"),
      (4L, "clean text"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("planted"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextOps.t22BlocklistReport(spark, dir).collect()
      .map(r => r.getAs[String]("term") ->
        ((r.getAs[Long]("n_hits"), r.getAs[Long]("n_docs"),
          r.getAs[Double]("doc_rate")))).toMap
    assert(rows.size == 6)
    assert(rows("dup") == ((3L, 2L, 0.5)))
    assert(rows("skew") == ((1L, 1L, 0.25)))
    Seq("crash", "leak", "null", "spill").foreach { t =>
      assert(rows(t) == ((0L, 0L, 0.0)), s"term $t")
    }
  }
}
