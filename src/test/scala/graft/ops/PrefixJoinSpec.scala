package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.util.Random

/** d20_prefix_join: the lossless prefix-filter exact-similarity join.
  * The load-bearing claim is LOSSLESSNESS — the prefix filter must
  * return exactly the all-pairs result, not approximately — so the
  * spec recounts by brute force on the real fixture AND on seeded
  * random mutated corpora (the shapes that defeat a buggy prefix
  * bound), and pins the threshold boundary from both sides.
  */
class PrefixJoinSpec extends SparkTestBase {
  import spark.implicits._

  private def plant(docs: Seq[(Long, String)], tag: String): String = {
    val dir = tempDir(s"pfx_$tag").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("planted"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** All-pairs exact recount over the same gram sets — the oracle's
    * declarative form, no prefix filter anywhere.
    */
  private def bruteForce(dir: String): DataFrame = {
    val g = DedupOps.gramSets(spark, dir)
    val a = g.select(col("doc_id").as("doc_a"), col("ng").as("ng_a"),
      col("n_g").as("n_a"))
    val b = g.select(col("doc_id").as("doc_b"), col("ng").as("ng_b"),
      col("n_g").as("n_b"))
    a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("ng_a"), col("ng_b"))).cast("long")
          .as("n_common"),
        col("n_a"), col("n_b"))
      .filter(col("n_common") * 5 >=
        (col("n_a") + col("n_b") - col("n_common")) * 3)
  }

  private def asSet(df: DataFrame): Set[(Long, Long, Long, Long, Long)] =
    df.select("doc_a", "doc_b", "n_common", "n_a", "n_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet

  test("d20: matches the all-pairs brute force on the sf0.001 corpus") {
    val got = asSet(DedupOps.d20PrefixJoin(spark, sf0001))
    val want = asSet(bruteForce(sf0001))
    assert(got == want)
    assert(got.nonEmpty) // the planted near-dups are in range
  }

  test("d20: lossless on seeded random mutated corpora") {
    // 3 seeds x 40 docs from a 30-token vocabulary, half of them
    // mutated copies (drop/replace a few tokens) — dense enough that
    // near-threshold pairs of UNEQUAL sizes occur, the case a wrong
    // prefix length silently drops.
    for (seed <- 1 to 3) {
      val rnd = new Random(seed)
      def tok() = s"w${rnd.nextInt(30)}"
      val base = (0 until 20).map { i =>
        (i.toLong, Seq.fill(8 + rnd.nextInt(10))(tok()).mkString(" "))
      }
      val mutated = base.map { case (i, text) =>
        val t = text.split(" ").toBuffer
        (0 until (1 + rnd.nextInt(3))).foreach { _ =>
          val p = rnd.nextInt(t.size)
          if (rnd.nextBoolean() && t.size > 4) t.remove(p) else t(p) = tok()
        }
        (i + 100L, t.mkString(" "))
      }
      val dir = plant(base ++ mutated, s"rand$seed")
      val got = asSet(DedupOps.d20PrefixJoin(spark, dir))
      val want = asSet(bruteForce(dir))
      assert(got == want, s"seed $seed: prefix filter lost/added pairs")
    }
  }

  test("d20: threshold boundary is exact from both sides") {
    // Sizes chosen so J lands exactly on 3/5 for the kept pair and just
    // under for the dropped one. Pair (1,2): 14-token docs sharing their
    // first 11 tokens -> 12 grams each, 9 shared, union 15,
    // J = 9/15 = 0.6 exactly.
    def run(i: Int): String = ((i * 50) until (i * 50 + 3)).map(n => s"t$n")
      .mkString(" ")
    val common = (0 until 11).map(n => s"c$n").mkString(" ")
    val dir = plant(Seq(
      1L -> s"$common ${run(1)}",
      2L -> s"$common ${run(2)}",
      // Pair (3,4): share first 10 tokens of 14 -> 8 shared of 12+12,
      // union 16, J = 0.5 < 0.6 -> dropped.
      3L -> s"${(0 until 10).map(n => s"d$n").mkString(" ")} ${run(3)} t999",
      4L -> s"${(0 until 10).map(n => s"d$n").mkString(" ")} ${run(4)} t998"
    ), "boundary")
    val rows = DedupOps.d20PrefixJoin(spark, dir).collect()
    val kept = rows.filter(r => r.getAs[Long]("doc_a") == 1L &&
      r.getAs[Long]("doc_b") == 2L)
    assert(kept.length == 1)
    assert(kept.head.getAs[Double]("jaccard") == 0.6)
    assert(!rows.exists(r => r.getAs[Long]("doc_a") == 3L))
    // and brute force agrees the boundary case is all there is
    assert(asSet(DedupOps.d20PrefixJoin(spark, dir)) == asSet(bruteForce(dir)))
  }

  test("d23: sweep rows agree with d20 and brute force, zeros included") {
    val sweep = DedupOps.d23ThresholdSweep(spark, sf0001).collect()
      .map(r => r.getAs[Long]("threshold") ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Long]("n_docs")))).toMap
    assert(sweep.keySet == Set(50L, 60L, 70L, 80L, 90L))
    // threshold 60 must count exactly d20's result set
    assert(sweep(60L)._1 == DedupOps.d20PrefixJoin(spark, sf0001).count())
    // threshold 50 must count the full brute-force J >= 0.5 pair set
    val bf50 = {
      val g = DedupOps.gramSets(spark, sf0001)
      val a = g.select(col("doc_id").as("doc_a"), col("ng").as("ng_a"),
        col("n_g").as("n_a"))
      val b = g.select(col("doc_id").as("doc_b"), col("ng").as("ng_b"),
        col("n_g").as("n_b"))
      a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
        .select(size(array_intersect(col("ng_a"), col("ng_b")))
          .cast("long").as("c"), col("n_a"), col("n_b"))
        .filter(col("c") * 2 >= col("n_a") + col("n_b") - col("c"))
        .count()
    }
    assert(sweep(50L)._1 == bf50)
    // counts decrease monotonically in the threshold
    val ordered = sweep.toSeq.sortBy(_._1).map(_._2)
    ordered.sliding(2).foreach {
      case Seq((p1, d1), (p2, d2)) => assert(p2 <= p1 && d2 <= d1)
      case _ => ()
    }
  }

  test("d20: prefix posting is a strict subset of the full posting") {
    // the filter's whole point at scale: fewer rows enter the
    // candidate self-join than a full posting join would ship
    val g = DedupOps.gramSets(spark, sf0001)
    val full = g.select(explode(col("ng"))).count()
    val prefixRows = g
      .select((col("n_g") - expr("(3*n_g+4) div 5") + 1).as("p"))
      .agg(sum(col("p"))).as[Long].head()
    assert(prefixRows < full / 2,
      s"prefix rows $prefixRows not < half of full posting $full")
  }
}
