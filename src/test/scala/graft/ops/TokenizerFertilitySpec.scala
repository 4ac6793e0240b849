package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** t19_tokenizer_fertility: per-language fertility/compression under
  * the t13-trained vocabulary, hand-computed on the classic BPE corpus
  * split across two languages (the vocabulary is trained on BOTH —
  * that asymmetry is the whole point of the audit).
  */
class TokenizerFertilitySpec extends SparkTestBase {
  import spark.implicits._

  test("t19: per-language fertility on the classic corpus, vocab " +
      "trained jointly") {
    // same word frequencies as OpsSpec's t13 fixture (merges: e+s,
    // es+t, l+o) but 'low'x5 + 'lower'x2 declared en, 'newest'x6 +
    // 'widest'x3 declared de.
    val dir = tempDir("t19").toString
    val en = (Seq.fill(5)("low") ++ Seq.fill(2)("lower")).mkString(" ")
    val de = (Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    Seq((1L, en, "en"), (2L, de, "de")).toDF("doc_id", "text", "lang")
      .withColumn("source", lit("planted"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = TextOps.t19TokenizerFertility(spark, dir)
      .as[(String, Long, Long, Long, Double, Double)].collect().toSeq
    // encodings under the joint merges: low -> [lo w] (2 syms, 3
    // chars), lower -> [lo w e r] (4, 5), newest -> [n e w est] (4, 6),
    // widest -> [w i d est] (4, 6).
    // de: 9 words, 54 chars, 36 tokens -> fertility 4.0, compression 1.5
    // en: 7 words, 25 chars, 18 tokens
    assert(r == Seq(
      ("de", 9L, 54L, 36L, 4.0, 1.5),
      ("en", 7L, 25L, 18L, 18.0 / 7.0, 25.0 / 18.0)), s"got $r")
  }
}
