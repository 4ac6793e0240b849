package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** t16_novelty: the crawl-order diversity curve. Hand-checks full /
  * partial / zero novelty and pins the min-doc-equals-sequential-scan
  * equivalence plus fixture invariants.
  */
class NoveltySpec extends SparkTestBase {
  import spark.implicits._

  private def word(i: Int): String = f"w$i%03d"

  test("t16: first doc is fully novel, a repeat is fully stale") {
    val dir = tempDir("novelty").toString
    val a = (0 until 10).map(word).mkString(" ")   // 7 grams, all novel
    val b = (5 until 15).map(word).mkString(" ")   // overlaps a's tail
    Seq((1L, a), (2L, b), (3L, a))                 // 3 repeats 1 verbatim
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("planted"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val m = TextOps.t16Novelty(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_novel"),
          r.getAs[Double]("novelty_rate")))).toMap
    assert(m(1L) == ((7L, 7L, 1.0)))
    // b shares grams over words 5..9 with a: grams starting at 5,6
    // within a == b's first 2 grams -> 5 of 7 novel
    assert(m(2L) == ((7L, 5L, 5.0 / 7.0)))
    assert(m(3L) == ((7L, 0L, 0.0)))
  }

  test("t16: equals a sequential running-set scan on the fixture") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    def grams(t: String): Seq[String] = {
      val toks = t.split(" ")
      (0 until math.max(toks.length - 3, 1))
        .map(i => toks.slice(i, i + 4).mkString(" ")).distinct
    }
    val seen = scala.collection.mutable.HashSet.empty[String]
    val want = docs.map { case (id, t) =>
      val gs = grams(t)
      val novel = gs.count(!seen(_))
      seen ++= gs
      id -> ((gs.size.toLong, novel.toLong))
    }.toMap
    val got = TextOps.t16Novelty(spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_novel")))).toMap
    assert(got == want)
  }
}
