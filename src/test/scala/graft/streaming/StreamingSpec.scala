package graft.streaming

import graft.SparkTestBase
import graft.velib.SilverJob
import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double)

class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private val rows = Seq(
    Ev(1, ts("2024-01-01 10:05:00"), 1, "a", 1.0),
    Ev(2, ts("2024-01-01 10:55:00"), 1, "a", 2.0),
    Ev(3, ts("2024-01-01 11:05:00"), 2, "b", 3.0),
    Ev(4, ts("2024-01-01 12:40:00"), 2, "b", 4.0),
    Ev(5, ts("2024-01-01 12:41:00"), 1, "a", 5.0))

  test("observe() attaches free metrics to the stream — no second scan") {
    // production observability: row counts / sums ride the existing scan
    // as observed metrics in StreamingQueryProgress — at 100 TB a
    // separate counting job would double the read
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(rows: _*)
    val observed = mem.toDF()
      .observe("ingest", count(lit(1)).as("n_rows"),
        sum(col("value")).as("sum_value"))
      .filter(col("value") > 0)
    val q = observed.writeStream.format("memory").queryName("observed")
      .outputMode("append").start()
    q.processAllAvailable()
    val metrics = q.recentProgress.flatMap(p =>
      Option(p.observedMetrics.get("ingest")))
    q.stop()
    assert(metrics.nonEmpty)
    assert(metrics.map(_.getAs[Long]("n_rows")).sum == rows.length)
    assert(metrics.map(_.getAs[Double]("sum_value")).sum ==
      rows.map(_.value).sum)
  }

  test("file source paces ingest with maxFilesPerTrigger (backpressure)") {
    // the knob that keeps a 100 TB backfill from loading every file into
    // one giant micro-batch: 3 files + maxFilesPerTrigger=1 must process
    // in >= 3 micro-batches, all rows exactly once
    val dir = tempDir("paced")
    (0 until 3).foreach { i =>
      spark.range(i * 10, i * 10 + 10).toDF("id")
        .coalesce(1).write.parquet(s"$dir/f$i")
    }
    val stream = spark.readStream
      .schema("id LONG")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/f*")
    val q = stream.writeStream.format("memory").queryName("paced")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    q.awaitTermination()
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches >= 3, s"expected >= 3 paced micro-batches, got $batches")
    assert(spark.table("paced").count() == 30) // exactly once, no loss
  }

  test("runStream: AvailableNow drains all files once; checkpoint restart is exactly-once") {
    val dir = tempDir("stream").toFile.getAbsolutePath
    val in = s"$dir/in"; val out = s"$dir/out"; val cp = s"$dir/cp"
    new java.io.File(in).mkdirs()
    def record(code: String, due: String): String =
      s"""{"stationcode":"$code","name":"S$code","numdocksavailable":5,""" +
        s""""numbikesavailable":2,"mechanical":1,"ebike":1,"duedate":"$due"}"""
    Files.writeString(java.nio.file.Paths.get(s"$in/a.jsonl"),
      record("A", "2024-01-01T10:00:00+00:00") + "\n" +
        record("B", "2024-01-02T11:00:00+00:00"))
    val n1 = SilverJob.runStream(spark, in, out, cp)
    assert(n1 == 2L)
    assert(spark.read.parquet(out).count() == 2L)
    // two date partitions from the two duedates
    assert(spark.read.parquet(out).select("date").distinct().count() == 2L)
    // re-drain with the same checkpoint: nothing new -> no duplicates
    val n2 = SilverJob.runStream(spark, in, out, cp)
    assert(n2 == 0L)
    assert(spark.read.parquet(out).count() == 2L)
    // a new file is picked up incrementally
    Files.writeString(java.nio.file.Paths.get(s"$in/b.jsonl"),
      record("C", "2024-01-01T12:00:00+00:00"))
    val n3 = SilverJob.runStream(spark, in, out, cp)
    assert(n3 == 1L)
    assert(spark.read.parquet(out).count() == 3L)
  }
}
