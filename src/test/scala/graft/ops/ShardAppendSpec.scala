package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** m09_shard_append: the append must never move existing assignments
  * and must continue exactly where the corpus pack left off.
  */
class ShardAppendSpec extends SparkTestBase {

  test("m09: corpus assignments identical to the corpus-only pack; " +
      "batch continues at the corpus total") {
    val rows = MediaOps.m09ShardAppend(spark, sf0001).collect()
    val (corpus, batch) = rows.partition(_.getAs[Long]("is_batch") == 0L)
    // corpus rows == a plain m08-style pack of the corpus slice alone
    val sized = graft.Tables.documents(spark, sf0001).select(
        col("doc_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("kind"),
        length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"))
      .filter(col("doc_id") % 10 =!= 7)
    val alone = MediaOps.shardPack(sized, 8192L).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("shard_id"),
        r.getAs[Long]("shard_offset"))).toSeq
    val inAppend = corpus
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("shard_id"),
        r.getAs[Long]("shard_offset"))).toSeq.sortBy(_._1)
    assert(alone.sortBy(_._1) == inAppend)
    // the first batch item starts exactly at the corpus byte total
    // (filling the tail shard's remainder, not opening a fresh shard)
    val corpusTotal = corpus.map(_.getAs[Long]("n_bytes")).sum
    val first = batch.minBy(_.getAs[Long]("doc_id"))
    val start = first.getAs[Long]("shard_id") * 8192L +
      first.getAs[Long]("shard_offset")
    assert(start == corpusTotal)
    assert(batch.nonEmpty && corpus.nonEmpty)
  }

  test("m09: an empty corpus slice packs the batch from byte 0 " +
      "(ADVICE r8 — NULL base)") {
    import spark.implicits._
    val dir = tempDir("m09").toString
    // every doc_id = 7 (mod 10): the whole table is "today's batch"
    Seq((7L, "abcd"), (17L, "efghij")).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("planted"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = MediaOps.m09ShardAppend(spark, dir).collect()
    assert(rows.forall(_.getAs[Long]("is_batch") == 1L))
    val first = rows.minBy(_.getAs[Long]("doc_id"))
    assert(first.getAs[Long]("shard_id") == 0L &&
      first.getAs[Long]("shard_offset") == 0L,
      s"batch did not start at byte 0: ${rows.mkString(";")}")
    val second = rows.maxBy(_.getAs[Long]("doc_id"))
    assert(second.getAs[Long]("shard_offset") == 4L) // after "abcd"
  }
}
