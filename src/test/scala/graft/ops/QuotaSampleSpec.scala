package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** p17_quota_sample: Hamilton largest-remainder apportionment + salted
  * hash pick. Plants an unbalanced corpus with hand-computed quotas,
  * pins the tie rule the balanced fixture exercises, and the
  * partitioning-invariance the hash primitive guarantees.
  */
class QuotaSampleSpec extends SparkTestBase {
  import spark.implicits._

  test("p17: hand-computed quotas on an unbalanced corpus") {
    // sources 165/90/45 (total 300), N=207: bases 113/62/31 (sum 206),
    // remainders 255/30/15 -> the one extra seat goes to src_a
    val dir = tempDir("quota").toString
    val docs = (0 until 165).map(i => (i.toLong, "src_a")) ++
      (0 until 90).map(i => (1000L + i, "src_b")) ++
      (0 until 45).map(i => (2000L + i, "src_c"))
    docs.toDF("doc_id", "source")
      .withColumn("text", concat(lit("doc "), col("doc_id")))
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", lit(10L))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = PipelineOps.p17QuotaSample(spark, dir).collect()
    assert(rows.length == 207)
    val bySource = rows.groupBy(_.getAs[String]("source"))
      .view.mapValues(_.length).toMap
    assert(bySource == Map("src_a" -> 114, "src_b" -> 62, "src_c" -> 31))
    // the quota column agrees with the realized counts
    rows.foreach(r => assert(
      r.getAs[Long]("quota") == bySource(r.getAs[String]("source")).toLong))
  }

  test("p17: balanced fixture ties break to larger-then-lexicographic") {
    // 20 equal sources, N=207: bases 10 (sum 200), ALL remainders equal
    // -> the 7 extra seats go to the 7 lexicographically-smallest
    // source names (n_s all equal, so the name is the deciding key)
    val rows = PipelineOps.p17QuotaSample(spark, sf0001).collect()
    assert(rows.length == 207)
    val quotas = rows.groupBy(_.getAs[String]("source"))
      .view.mapValues(_.head.getAs[Long]("quota")).toMap
    val extras = quotas.filter(_._2 == 11L).keys.toSeq.sorted
    assert(extras == quotas.keys.toSeq.sorted.take(7))
    assert(quotas.values.sum == 207L)
  }

  test("p17: tiny corpus (total < N) takes every doc, no silent shortfall") {
    // ADVICE r7: with N > total, floor(N*n_s/total) could exceed n_s and
    // the realized sample under-filled silently. The clamp makes the
    // effective target least(N, total): here 50 docs vs N=207 -> all 50
    // picked, per-source quota == population.
    val docs = ((0 until 30).map(i => (i.toLong, "src_a")) ++
      (0 until 20).map(i => (100L + i, "src_b"))).toDF("doc_id", "source")
    val rows = PipelineOps.quotaSample(docs, 207L).collect()
    assert(rows.length == 50)
    val quotas = rows.groupBy(_.getAs[String]("source"))
      .view.mapValues(_.head.getAs[Long]("quota")).toMap
    assert(quotas == Map("src_a" -> 30L, "src_b" -> 20L))
  }

  test("p17: quota never exceeds source population near the clamp edge") {
    // total=60 just over N=55: every per-source quota must stay <= n_s
    // and the realized counts must equal the quotas and sum to 55.
    val docs = ((0 until 40).map(i => (i.toLong, "big")) ++
      (0 until 15).map(i => (100L + i, "mid")) ++
      (0 until 5).map(i => (200L + i, "tiny"))).toDF("doc_id", "source")
    val rows = PipelineOps.quotaSample(docs, 55L).collect()
    assert(rows.length == 55)
    val n = Map("big" -> 40L, "mid" -> 15L, "tiny" -> 5L)
    val realized = rows.groupBy(_.getAs[String]("source"))
      .view.mapValues(_.length.toLong).toMap
    realized.foreach { case (s, c) => assert(c <= n(s), s"$s over-drawn") }
    assert(realized.values.sum == 55L)
  }

  test("p17: partitioning-invariant (hash pick, never rand)") {
    val a = PipelineOps.p17QuotaSample(spark, sf0001).collect().toSeq
    val b = PipelineOps.p17QuotaSample(spark, sf0001).collect().toSeq
    assert(a == b)
  }
}
