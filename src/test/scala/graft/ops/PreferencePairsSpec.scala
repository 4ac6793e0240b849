package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** p21_pack_report + p22_preference_pairs: packing-load reconciliation
  * and hand-computed preference pairs on a planted quality ladder.
  */
class PreferencePairsSpec extends SparkTestBase {
  import spark.implicits._

  test("p21: shard loads reconcile with p04 and the corpus token total") {
    val report = PipelineOps.p21PackReport(spark, sf0001).collect()
    val pack = PipelineOps.p04TokenPack(spark, sf0001)
    assert(report.map(_.getAs[Long]("n_docs")).sum == pack.count())
    val total = pack.agg(sum(col("n_tokens"))).head().getLong(0)
    assert(report.map(_.getAs[Long]("n_tokens")).sum == total)
    report.foreach { r =>
      assert(r.getAs[Double]("fill_rate") ==
        r.getAs[Long]("n_tokens").toDouble / 500.0)
      assert((r.getAs[Long]("overflow") == 1L) ==
        (r.getAs[Long]("n_tokens") > 500L))
    }
    // contiguous-fill: every shard except possibly the last is filled
    // to at least the budget minus the largest doc's overhang — weaker
    // invariant pinned: no shard is empty
    assert(report.forall(_.getAs[Long]("n_docs") > 0L))
    graft.Caches.unpersistAll()
  }

  test("p22: hand-computed pairs on a quality ladder; no self-pairs") {
    val dir = tempDir("p22").toString
    // source s: 5 docs with strictly decreasing lexical diversity.
    // qualities (distinct*1e6 div n): doc0 "a b c d" -> 1e6,
    // doc1 "a b c c" -> 750000, doc2 "a b b b" -> 500000,
    // doc3 "a a a b" -> 500000 (tie, later id), doc4 "a a a a" -> 250000.
    // grp_n=5 -> k<=2 pairs only (2k<=5). top: doc0, doc1. bottom
    // (quality asc, doc_id desc): doc4, then tie 500000 -> doc3.
    val docs = Seq((0L, "a b c d"), (1L, "a b c c"), (2L, "a b b b"),
      (3L, "a a a b"), (4L, "a a a a"))
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = PipelineOps.p22PreferencePairs(spark, dir).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("chosen_doc"),
        r.getAs[Long]("rejected_doc"), r.getAs[Long]("quality_gap"))).toSeq
    assert(rows == Seq(
      (1L, 0L, 4L, 750000L),
      (2L, 1L, 3L, 250000L)), s"got ${rows.mkString("; ")}")
    graft.Caches.unpersistAll()
  }

  test("p22: corpus invariants — chosen beats rejected, no repeats") {
    val rows = PipelineOps.p22PreferencePairs(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("quality_gap") >= 0L)
      assert(r.getAs[Long]("chosen_doc") != r.getAs[Long]("rejected_doc"))
    }
    val pairs = rows.map(r => (r.getAs[Long]("chosen_doc"),
      r.getAs[Long]("rejected_doc"))).toSeq
    assert(pairs.distinct.size == pairs.size)
    graft.Caches.unpersistAll()
  }
}
