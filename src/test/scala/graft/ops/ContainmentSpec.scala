package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** d19_containment: the asymmetric near-dup audit. Plants the case the
  * Jaccard-gated family (d03/d05) is structurally blind to — a short doc
  * quoted whole inside a long one — and the boilerplate corpus the df cap
  * exists for.
  */
class ContainmentSpec extends SparkTestBase {
  import spark.implicits._

  private def plant(docs: Seq[(Long, String)], tag: String): String = {
    val dir = tempDir(s"cont_$tag").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("planted"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def word(i: Int): String = f"tok$i%04d"

  test("d19: catches a quote-inclusion pair that Jaccard gating misses") {
    // doc 2 = the first 30 tokens of doc 1 (a contiguous quote); doc 3
    // unrelated filler so the corpus isn't degenerate
    val long = (0 until 120).map(word).mkString(" ")
    val quote = (0 until 30).map(word).mkString(" ")
    val filler = (500 until 560).map(word).mkString(" ")
    val dir = plant(Seq(1L -> long, 2L -> quote, 3L -> filler), "quote")
    val rows = DedupOps.d19Containment(spark, dir).collect()
    val r = rows.find(x => x.getAs[Long]("doc_a") == 1L &&
      x.getAs[Long]("doc_b") == 2L).get
    // every 4-gram of the quote is a 4-gram of the source
    assert(r.getAs[Long]("n_shared") == 27L)
    assert(r.getAs[Long]("n_a") == 117L && r.getAs[Long]("n_b") == 27L)
    assert(r.getAs[Double]("containment_b") == 1.0)
    // ... while symmetric Jaccard on the same counts stays far below the
    // d03 (0.8) and d05 (0.5) gates — this pair is invisible to them
    val j = 27.0 / (117 + 27 - 27)
    assert(j < 0.5)
    // and the unrelated doc pairs with nobody
    assert(rows.forall(x => x.getAs[Long]("doc_a") != 3L &&
      x.getAs[Long]("doc_b") != 3L))
  }

  test("d19: df cap drops boilerplate evidence (60-doc template corpus)") {
    // 60 docs: 30 shared boilerplate tokens + 10 unique tail tokens.
    // Without the cap, the 27 boilerplate-only grams (df=60 > 50) alone
    // push max-containment over the gate for all C(60,2) pairs; with it,
    // no cross-doc evidence survives.
    val boiler = (0 until 30).map(word).mkString(" ")
    val docs = (1L to 60L).map { i =>
      val tail = (0 until 10)
        .map(j => word(1000 + i.toInt * 10 + j)).mkString(" ")
      i -> s"$boiler $tail"
    }
    val dir = plant(docs, "boiler")
    assert(DedupOps.d19Containment(spark, dir).count() == 0L)
  }
}
