package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** t23_vocab_overlap: pairwise source-vocabulary Jaccard. Plants three
  * sources with hand-computed vocabularies (including an in-source
  * duplicate token that must count once and a disjoint source whose
  * zero-overlap rows must survive the spine), then pins the matrix
  * invariants on the sf fixture.
  */
class VocabOverlapSpec extends SparkTestBase {
  import spark.implicits._

  test("t23: hand-computed matrix with a zero-overlap source kept") {
    val dir = tempDir("vocab").toString
    Seq(
      (1L, "src_a", "x x y z"), // duplicate x counts once: vocab {x,y,z}
      (2L, "src_b", "x y w"),   // vocab {x,y,w}: common {x,y}
      (3L, "src_c", "q"))       // disjoint: zero rows must be real
      .toDF("doc_id", "source", "text")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", lit(10L))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextOps.t23VocabOverlap(spark, dir).collect()
    val m = rows.map(r =>
      (r.getAs[String]("src_a"), r.getAs[String]("src_b")) ->
        ((r.getAs[Long]("vocab_a"), r.getAs[Long]("vocab_b"),
          r.getAs[Long]("n_common"), r.getAs[Double]("jaccard")))).toMap
    assert(m.size == 3) // the full C(3,2) spine
    assert(m(("src_a", "src_b")) == ((3L, 3L, 2L, 2.0 / 4.0)))
    assert(m(("src_a", "src_c")) == ((3L, 1L, 0L, 0.0)))
    assert(m(("src_b", "src_c")) == ((3L, 1L, 0L, 0.0)))
  }

  test("t23: sf fixture — full spine, bounded overlap, jaccard in [0,1]") {
    val rows = TextOps.t23VocabOverlap(spark, sf0001).collect()
    val nSources = rows.flatMap(r =>
      Seq(r.getAs[String]("src_a"), r.getAs[String]("src_b"))).distinct.length
    assert(rows.length == nSources * (nSources - 1) / 2)
    rows.foreach { r =>
      val (va, vb) = (r.getAs[Long]("vocab_a"), r.getAs[Long]("vocab_b"))
      val c = r.getAs[Long]("n_common")
      assert(c >= 0 && c <= math.min(va, vb))
      val j = r.getAs[Double]("jaccard")
      assert(j >= 0.0 && j <= 1.0)
      assert(j == c.toDouble / (va + vb - c))
    }
  }
}
