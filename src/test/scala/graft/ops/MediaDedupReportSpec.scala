package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** m07_media_dedup_report: the d18 discipline on the media channel.
  * Plants byte-identical payloads, a perceptual twin and controls, and
  * pins the disjoint-cause accounting per kind.
  */
class MediaDedupReportSpec extends SparkTestBase {
  import spark.implicits._

  test("m07: exact-first disjoint causes sum per kind") {
    val base = ("a" * 64 + "z" * 64) * 4
    val tweaked = base.substring(0, 480) + "~" * 32
    val other = ("m" * 32 + " " * 96) * 4
    // block patterns per 128-char period (32-char blocks): base=0011,
    // other=1000, solo1=0111, solo2=1110, solo3=0010 — every pair
    // differs in >= 1 block per period, i.e. >= 4 sig bits
    val solo1 = ("b" * 32 + "~" * 96) * 4
    val solo2 = ("k" * 96 + " " * 32) * 4
    val solo3 = ("." * 64 + "x" * 32 + "." * 32) * 4
    // guard the plant: only (base, tweaked) may be within hamming 1 —
    // a degenerate text (short/uniform) silently pairs across kinds
    val sigs = Seq(base, tweaked, other, solo1, solo2, solo3)
      .map(s => MediaOps.stubPhash(s.getBytes("UTF-8")))
    for (i <- sigs.indices; j <- sigs.indices if i < j)
      if (!((i, j) == (0, 1)))
        assert(java.lang.Long.bitCount(sigs(i) ^ sigs(j)) > 1,
          s"planted texts $i and $j collide perceptually")
    val dir = tempDir("m07").toString
    // doc_id % 3 picks the kind: 0/3/6/9/12 image, 1 audio, 2 video
    Seq(
      (0L, other),  // image, keeper of the exact pair below
      (3L, other),  // image, byte-identical -> exact-removed
      (6L, base),   // image, phash keeper
      (9L, tweaked),// image, phash twin of 6 -> near-removed
      (12L, solo3), // image, kept
      (1L, solo1),  // audio, kept
      (2L, solo2)   // video, kept
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("planted"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val m = MediaOps.m07MediaDedupReport(spark, dir).collect()
      .map(r => r.getAs[String]("kind") ->
        ((r.getAs[Long]("n_media"), r.getAs[Long]("n_exact_removed"),
          r.getAs[Long]("n_near_removed"), r.getAs[Long]("n_kept")))).toMap
    assert(m("image") == ((5L, 1L, 1L, 3L)))
    assert(m("audio") == ((1L, 0L, 0L, 1L)))
    assert(m("video") == ((1L, 0L, 0L, 1L)))
  }

  test("m07: causes are conserved on the fixture") {
    val rows = MediaOps.m07MediaDedupReport(spark, sf0001).collect()
    assert(rows.map(_.getAs[String]("kind")).sorted.toSeq ==
      Seq("audio", "image", "video"))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_exact_removed") +
        r.getAs[Long]("n_near_removed") + r.getAs[Long]("n_kept") ==
        r.getAs[Long]("n_media"))
    }
    assert(rows.map(_.getAs[Long]("n_media")).sum ==
      spark.read.parquet(s"$sf0001/documents.parquet").count())
  }
}
