package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** p18_quarantine_split: the contamination firewall at the split.
  * Plants a benchmark doc with a near-verbatim copy and pins the
  * clean-docs-keep-their-p02-assignment property on the fixture.
  */
class QuarantineSplitSpec extends SparkTestBase {
  import spark.implicits._

  test("p18: a benchmark near-copy quarantines, the benchmark labels itself") {
    val dir = tempDir("p18").toString
    def run(a: Int, b: Int): String = (a until b).map(i => s"tok$i").mkString(" ")
    val benchText = run(0, 30)
    Seq(
      (97L, benchText),                 // 97 % 97 == 0 -> benchmark
      (1L, benchText + " " + run(500, 504)), // near-verbatim -> quarantine
      (2L, run(600, 640))               // clean -> a normal split
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("planted"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val m = PipelineOps.p18QuarantineSplit(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(m(97L) == "benchmark")
    assert(m(1L) == "quarantine")
    assert(Set("train", "val", "test").contains(m(2L)))
  }

  test("p18: untouched docs keep exactly their p02 assignment") {
    val p18 = PipelineOps.p18QuarantineSplit(spark, sf0001)
      .filter(col("split").isin("train", "val", "test"))
      .select("doc_id", "split")
    val p02 = PipelineOps.p02HashSplit(spark, sf0001).select("doc_id", "split")
    // every non-overridden doc agrees with p02; overridden docs are a
    // strict subset removed from p02's view
    assert(p18.join(p02, Seq("doc_id"))
      .filter(p18("split") =!= p02("split")).count() == 0L)
    val total = spark.read.parquet(s"$sf0001/documents.parquet").count()
    val overridden = PipelineOps.p18QuarantineSplit(spark, sf0001)
      .filter(col("split").isin("benchmark", "quarantine")).count()
    assert(p18.count() + overridden == total)
    assert(overridden > 0) // the fixture's benchmark docs exist
  }
}
