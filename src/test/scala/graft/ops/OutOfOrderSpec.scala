package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** w54_out_of_order: event-time disorder audit — planted disorder
  * with hand-computed lateness, the two-phase running max pinned equal
  * to a naive global recompute across bucket boundaries, and the sf
  * fixture's two real verdicts (events in-order, orders heavily late).
  */
class OutOfOrderSpec extends SparkTestBase {
  import spark.implicits._

  test("w54 planted: hand-computed lateness against the exclusive " +
      "running max, and an in-order stream reads zero") {
    // seq order 0..3, ts 10,5,20,6: row 1 is 5 late (prev max 10),
    // row 3 is 14 late (prev max 20); rows 0 and 2 advance the max
    val disordered = Seq((0L, 10L), (1L, 5L), (2L, 20L), (3L, 6L))
      .toDF("seq", "tus")
    val inOrder = Seq((0L, 1L), (1L, 2L), (2L, 2L), (3L, 9L))
      .toDF("seq", "tus")
    val rows = RelOps.outOfOrderOf(Seq(
        ("bad", "seq", "tus", disordered),
        ("ok", "seq", "tus", inOrder)))
      .as[(String, String, String, Long, Long, Double, Long)]
      .collect().toSeq
    assert(rows == Seq(
      ("bad", "seq", "tus", 4L, 2L, 0.5, 14L),
      ("ok", "seq", "tus", 4L, 0L, 0.0, 0L)), s"got $rows")
    graft.Caches.unpersistAll()
  }

  test("w54: the two-phase running max equals a naive global " +
      "recompute on a bucket-boundary-crossing stream") {
    // seqs straddle the div-4096 buckets 0/1/2/3; max carried across
    // buckets: ts 100 in bucket 0 makes 5000 (50) and 9000 (60) late
    // even though their own buckets never saw 100
    val data = Seq((0L, 100L), (10L, 40L), (5000L, 50L), (9000L, 60L),
      (13000L, 200L), (13001L, 150L))
    val rows = RelOps.outOfOrderOf(Seq(
        ("x", "seq", "tus", data.toDF("seq", "tus"))))
      .as[(String, String, String, Long, Long, Double, Long)]
      .collect().toSeq
    // naive reference: exclusive prefix max in seq order
    val sorted = data.sortBy(_._1)
    val lates = sorted.zipWithIndex.flatMap { case ((_, t), i) =>
      val prev = sorted.take(i).map(_._2)
      if (prev.nonEmpty && prev.max > t) Some(prev.max - t) else None
    }
    assert(rows == Seq(("x", "seq", "tus", sorted.size.toLong,
      lates.size.toLong, lates.size.toDouble / sorted.size,
      lates.max)), s"got $rows vs naive $lates")
    assert(lates.size == 4 && lates.max == 60L)
    graft.Caches.unpersistAll()
  }

  test("w54: a prime bucket width reproduces the 4096 width's rows") {
    // ADVICE r14: the width is the broadcast-size lever, so it must
    // never change the answer. Prime width 7 forces many boundary
    // crossings on the same boundary-straddling stream.
    val data = Seq((0L, 100L), (10L, 40L), (5000L, 50L), (9000L, 60L),
      (13000L, 200L), (13001L, 150L))
    def run(width: Long) = RelOps.outOfOrderOf(Seq(
        ("x", "seq", "tus", data.toDF("seq", "tus"))), width)
      .as[(String, String, String, Long, Long, Double, Long)]
      .collect().toSeq
    assert(run(7L) == run(4096L), "prime width diverged from default")
    graft.Caches.unpersistAll()
  }

  test("w54 sf fixture: events are in-order (the audit proves the " +
      "ingest order), orders-as-CDC matches a naive recompute") {
    val out = RelOps.w54OutOfOrder(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(3), r.getLong(4),
        r.getDouble(5), r.getLong(6)))).toMap
    assert(out("events")._2 == 0L && out("events")._4 == 0L,
      s"fixture events must be in-order: $out")
    val ord = graft.Tables.orders(spark, sf0001)
      .select(col("o_orderkey").cast("long"),
        unix_micros(col("o_orderdate").cast("timestamp"))).as[(Long, Long)]
      .collect().sortBy(_._1)
    var runMax = Long.MinValue
    var nLate = 0L
    var maxLate = 0L
    ord.foreach { case (_, t) =>
      if (runMax > t) { nLate += 1; maxLate = math.max(maxLate, runMax - t) }
      runMax = math.max(runMax, t)
    }
    assert(out("orders") == ((ord.length.toLong, nLate,
      nLate.toDouble / ord.length, maxLate)), s"got ${out("orders")}")
    // both verdicts live on real data
    assert(nLate > 0L)
    graft.Caches.unpersistAll()
  }
}
