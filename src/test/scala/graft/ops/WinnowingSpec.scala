package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** d21_winnowing: the MOSS fingerprint index. Pins the two guarantees
  * the algorithm exists for (match + density), brute-force recounts the
  * window-min selection independently of the query's machinery, and
  * checks the graft_pos_hashes kernel against the SQL form it replaces.
  */
class WinnowingSpec extends SparkTestBase {
  import spark.implicits._

  private val K = 8
  private val W = 4
  private val P = 1000000007L

  private def plant(docs: Seq[(Long, String)], tag: String): String = {
    val dir = tempDir(s"winnow_$tag").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("planted"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** Independent reference winnowing: per-position md5-based hash,
    * window-of-W min with (hash, pos) tie order, full windows only.
    */
  private def reference(text: String): Set[(Long, Long)] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val cps = text.codePoints().toArray
    val n = math.max(cps.length - (K - 1), 1)
    val hs = (0 until n).map { i =>
      val sh = new String(cps, i, math.min(K, cps.length - i))
      md.reset()
      val hex = md.digest(sh.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % P
    }
    val lastStart = math.max(n - W + 1, 1)
    (1 to lastStart).flatMap { i =>
      val win = (i to math.min(i + W - 1, n)).map(p => (hs(p - 1), p.toLong))
      Some(win.min).map { case (h, p) => (p, h) }
    }.toSet
  }

  test("d21: selection equals the reference recount on sf0.001") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = DedupOps.d21Winnowing(spark, sf0001).collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .map { case (id, rows) =>
        id -> rows.map(r => (r.getAs[Long]("pos"), r.getAs[Long]("fp"))).toSet
      }
    assert(got.keySet == docs.keySet)
    got.foreach { case (id, fps) =>
      assert(fps == reference(docs(id)), s"doc $id selection mismatch")
    }
  }

  test("d21: match guarantee — a shared 20-char span shares a fingerprint") {
    // the same 20-char span embedded at different offsets in otherwise
    // unrelated text; 20 >= W + K - 1 = 11, so winnowing MUST select a
    // common hash from inside it on both docs
    val span = "zqxjkvbwpfzqxjkvbwpf"
    val dir = plant(Seq(
      1L -> s"aaaabbbbccccddddeeee$span ffffgggghhhh",
      2L -> s"mmmmnnnnoooo $span ppppqqqqrrrrssssttttuuuu",
      3L -> "wwwwxxxxyyyyzzzz0000111122223333"
    ), "match")
    val fps = DedupOps.d21Winnowing(spark, dir).collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .map { case (id, rs) => id -> rs.map(_.getAs[Long]("fp")).toSet }
    assert((fps(1L) intersect fps(2L)).nonEmpty)
    // control: doc 3 shares no 11-char span with doc 1
    assert((fps(1L) intersect fps(3L)).isEmpty)
  }

  test("d21: density guarantee — selected positions never gap by more than W") {
    val rows = DedupOps.d21Winnowing(spark, sf0001).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    rows.foreach { case (id, rs) =>
      val ps = rs.map(_.getAs[Long]("pos")).sorted.toList
      assert(ps.head <= W, s"doc $id first fingerprint at ${ps.head}")
      ps.sliding(2).foreach {
        case Seq(a, b) => assert(b - a <= W, s"doc $id gap $a -> $b")
        case _ => ()
      }
    }
  }

  test("graft_pos_hashes equals the SQL per-position form") {
    graft.functions.GraftFunctions.register(spark)
    val sqlForm = "transform(sequence(1, greatest(length(text)-7, 1)), " +
      "i -> cast(conv(substring(md5(substring(text, i, 8)), 1, 15), 16, 10) " +
      s"as bigint) % ${P}L)"
    val bad = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(expr("graft_pos_hashes(text, 8)").as("k"),
        expr(sqlForm).as("s"))
      .filter(col("k") =!= col("s"))
    assert(bad.count() == 0L)
  }
}
