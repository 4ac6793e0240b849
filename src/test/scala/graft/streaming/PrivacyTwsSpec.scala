package graft.streaming

import graft.{SparkTestBase, Tables}
import java.nio.file.{Files, Path}
import java.util.Comparator
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Raw ingest shape fed to the memory stream (top-level: Spark cannot
  * build an encoder for a suite-inner case class).
  */
case class RawEvent(event_type: String, user_id: Long,
    ts: java.sql.Timestamp, value: Double)

/** privacyTws / lDiversityTws: per-QI-group privacy state accumulated
  * across micro-batches folds to EXACTLY the batch w51 / w52 reports.
  */
class PrivacyTwsSpec extends SparkTestBase {
  import spark.implicits._

  /** Run `body` under the RocksDB state store (transformWithState's
    * requirement), restoring the provider conf afterwards.
    */
  private def withRocksDb(body: => Unit): Unit = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try body
    finally {
      graft.Caches.unpersistAll()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  /** Fresh temp dir, recursively deleted after `body` (ADVICE r12: the
    * old /tmp/graft_privacy_tws_<nanotime> dirs accumulated per run).
    */
  private def withTempDir(body: Path => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_privacy_tws")
    try body(dir)
    finally {
      val walk = Files.walk(dir) // close the stream: it holds dir handles
      try walk.sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  test("privacyTws: two micro-batches fold to the exact batch w51 " +
      "report; users spanning batches count once per group") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDb { withTempDir { tmp =>
      val incoming = Tables.events(spark, sf0001)
        .select(col("event_type"), col("user_id"), col("ts"), col("value"))
        .as[RawEvent].collect()
      // split users across the batch cut so every group straddling it
      // exercises the seen-user state (exactly-once input: disjoint
      // batches — the checkpointed-source contract)
      val cut = incoming.length / 2
      val mem = MemoryStream[RawEvent]
      val q = PrivacyJobs.privacyTws(mem.toDF())
        .writeStream.format("memory").queryName("privacy_updates")
        .outputMode("update").start()
      mem.addData(incoming.take(cut).toIndexedSeq)
      q.processAllAvailable()
      mem.addData(incoming.drop(cut).toIndexedSeq)
      q.processAllAvailable(); q.stop()
      // round-trip the update table through parquet: the board
      // self-joins it, and the MemorySink view cannot serve both sides
      // (production reads the checkpointed sink the same way)
      val sinkDir = s"$tmp/updates"
      spark.table("privacy_updates").write.mode("overwrite")
        .parquet(sinkDir)
      val updates = spark.read.parquet(sinkDir)
      // state contract: a user enters a group's update stream at most once
      assert(updates.filter(col("user_id").isNotNull)
        .groupBy("event_type", "hr", "vb", "user_id").count()
        .filter(col("count") > 1).count() == 0L)
      val board = PrivacyJobs.privacyBoard(updates).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))).toSeq
      val batch = graft.ops.RelOps.w51KAnonymity(spark, sf0001).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))).toSeq
      assert(board == batch,
        s"streaming board != batch w51 (${board.size} vs ${batch.size})")
      assert(batch.nonEmpty) // must not pass vacuously
    } }
  }

  test("lDiversityTws: two micro-batches fold to the exact batch w52 " +
      "report; sensitive values spanning batches count once per group") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDb { withTempDir { tmp =>
      val incoming = Tables.events(spark, sf0001)
        .select(col("event_type"), col("user_id"), col("ts"), col("value"))
        .as[RawEvent].collect()
      val cut = incoming.length / 2
      val mem = MemoryStream[RawEvent]
      val q = PrivacyJobs.lDiversityTws(mem.toDF())
        .writeStream.format("memory").queryName("ldiv_updates")
        .outputMode("update").start()
      mem.addData(incoming.take(cut).toIndexedSeq)
      q.processAllAvailable()
      mem.addData(incoming.drop(cut).toIndexedSeq)
      q.processAllAvailable(); q.stop()
      val sinkDir = s"$tmp/updates"
      spark.table("ldiv_updates").write.mode("overwrite").parquet(sinkDir)
      val updates = spark.read.parquet(sinkDir)
      // state contracts: a sensitive value and a user each enter a
      // group's update stream at most once
      assert(updates.filter(col("event_type").isNotNull)
        .groupBy("hr", "vb", "event_type").count()
        .filter(col("count") > 1).count() == 0L)
      assert(updates.filter(col("user_id").isNotNull)
        .groupBy("hr", "vb", "user_id").count()
        .filter(col("count") > 1).count() == 0L)
      val board = PrivacyJobs.lDiversityBoard(updates).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6), r.getDouble(7))).toSeq
      val batch = graft.ops.RelOps.w52LDiversity(spark, sf0001).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6), r.getDouble(7))).toSeq
      assert(board == batch,
        s"streaming board != batch w52 (${board.size} vs ${batch.size})")
      assert(batch.nonEmpty)
    } }
  }

  test("tClosenessTws: two micro-batches fold to the exact batch w53 " +
      "report; per-type counts accumulate across the cut") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDb { withTempDir { tmp =>
      val incoming = Tables.events(spark, sf0001)
        .select(col("event_type"), col("user_id"), col("ts"), col("value"))
        .as[RawEvent].collect()
      val cut = incoming.length / 2
      val mem = MemoryStream[RawEvent]
      val q = PrivacyJobs.tClosenessTws(mem.toDF())
        .writeStream.format("memory").queryName("tclose_updates")
        .outputMode("update").start()
      mem.addData(incoming.take(cut).toIndexedSeq)
      q.processAllAvailable()
      mem.addData(incoming.drop(cut).toIndexedSeq)
      q.processAllAvailable(); q.stop()
      val sinkDir = s"$tmp/updates"
      spark.table("tclose_updates").write.mode("overwrite").parquet(sinkDir)
      val updates = spark.read.parquet(sinkDir)
      // state contract: counts are strictly increasing per (group, type)
      // across batches, so each (group, type, n_gt) row is unique
      assert(updates.groupBy("hr", "vb", "event_type", "n_gt").count()
        .filter(col("count") > 1).count() == 0L)
      def decode(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getDouble(5),
          r.getLong(6))
      val board = PrivacyJobs.tClosenessBoard(updates).collect()
        .map(decode).toSeq
      val batch = graft.ops.RelOps.w53TCloseness(spark, sf0001).collect()
        .map(decode).toSeq
      assert(board == batch,
        s"streaming board != batch w53 (${board.size} vs ${batch.size})")
      assert(batch.nonEmpty)
    } }
  }

  test("tClosenessTws: a planted skewed group crosses back under t " +
      "exactly at the batch cut") {
    implicit val sqlCtx = spark.sqlContext
    def ev(tpe: String, hr: Long): RawEvent = RawEvent(tpe, 1L,
      java.sql.Timestamp.valueOf(f"2025-01-01 $hr%02d:00:00"), 5.0)
    withRocksDb { withTempDir { tmp =>
      val mem = MemoryStream[RawEvent]
      val q = PrivacyJobs.tClosenessTws(mem.toDF())
        .writeStream.format("memory").queryName("tclose_plant")
        .outputMode("update").start()
      def failsNow(tag: String, hr: Long): Long = {
        val dir = s"$tmp/$tag"
        spark.table("tclose_plant").write.mode("overwrite").parquet(dir)
        val r = PrivacyJobs.tClosenessBoard(spark.read.parquet(dir))
          .filter(col("hr") === hr).collect()
        assert(r.length == 1)
        r(0).getAs[Long]("t_fail")
      }
      // batch 1: hr-1 balanced 4A+4B, hr-3 homogeneous 8A
      // global A=12 B=4 N=16; hr-3 num = |8*16-12*8| + |0-4*8| = 64 ->
      // tvd 64/(2*8*16) = 0.25 >= 0.2: FAIL
      mem.addData((Seq.fill(4)(ev("A", 1L)) ++ Seq.fill(4)(ev("B", 1L)) ++
        Seq.fill(8)(ev("A", 3L))).toIndexedSeq)
      q.processAllAvailable()
      assert(failsNow("b1", 3L) == 1L, "skewed group must fail at batch 1")
      // batch 2: 8B arrive in hr-3 -> group now 8A+8B; global A=12 B=12
      // N=24; hr-3 num = |8*24-12*16|*2 = 0 -> passes
      mem.addData(Seq.fill(8)(ev("B", 3L)).toIndexedSeq)
      q.processAllAvailable(); q.stop()
      assert(failsNow("b2", 3L) == 0L,
        "the balancing arrivals must clear the t cut at the batch cut")
    } }
  }

  test("lDiversityTws: a planted QI group goes weak -> strong exactly " +
      "at the batch cut; NEGATIVE user ids count as real users") {
    implicit val sqlCtx = spark.sqlContext
    // users -1 and -2 on purpose: the update rows mark "no new user"
    // with NULL, never a sentinel value a real id could collide with
    // (r13 code review) — these two must land in n_users_weak
    def ev(tpe: String, user: Long): RawEvent = RawEvent(tpe, user,
      java.sql.Timestamp.valueOf("2025-01-01 10:00:00"), 5.0) // hr 10, vb 0
    withRocksDb { withTempDir { tmp =>
      val mem = MemoryStream[RawEvent]
      val q = PrivacyJobs.lDiversityTws(mem.toDF())
        .writeStream.format("memory").queryName("ldiv_plant")
        .outputMode("update").start()
      def boardNow(tag: String): (Long, Long, Long, Long) = {
        val dir = s"$tmp/$tag"
        spark.table("ldiv_plant").write.mode("overwrite").parquet(dir)
        val r = PrivacyJobs.lDiversityBoard(spark.read.parquet(dir))
          .filter(col("hr") === 10L).collect()
        assert(r.length == 1, s"expected one hr-10 row, got ${r.toSeq}")
        (r(0).getAs[Long]("n_weak_groups"), r(0).getAs[Long]("n_events"),
          r(0).getAs[Long]("n_events_weak"), r(0).getAs[Long]("n_users_weak"))
      }
      // batch 1: two sensitive values in the group -> weak (l = 3)
      mem.addData(ev("view", -1L), ev("click", -2L))
      q.processAllAvailable()
      assert(boardNow("b1") == ((1L, 2L, 2L, 2L)),
        "two distinct sensitive values must read as ONE weak group " +
          "(and the two negative user ids as two real weak users)")
      // batch 2: a third value arrives -> the SAME group turns strong
      mem.addData(ev("purchase", 3L))
      q.processAllAvailable(); q.stop()
      assert(boardNow("b2") == ((0L, 3L, 0L, 0L)),
        "the third sensitive value must clear the weak cut at the batch cut")
    } }
  }

  /** Drive a privacy twin from a FILE source through two separate
    * query instances sharing one checkpoint: write half the events,
    * drain with Trigger.AvailableNow, STOP the query, write the rest,
    * start a FRESH query on the same checkpoint, drain again. The
    * RocksDB state must survive the restart: for every (group, type)
    * straddling the cut, the post-restart count must include the
    * pre-restart events — a reset-to-zero state would make the board's
    * monotone-max fold under-count exactly those keys, so board ==
    * batch IS the survival proof (plus an explicit strictly-increased
    * probe below). This is the checkpoint-restart coverage the
    * MemoryStream twins above cannot express (a MemoryStream dies with
    * its query).
    */
  private def drainTwice[U](tmp: Path,
      job: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.Dataset[U]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val in = s"$tmp/in"; val out = s"$tmp/out"; val cp = s"$tmp/cp"
    val incoming = Tables.events(spark, sf0001)
      .select(col("event_type"), col("user_id"), col("ts"), col("value"))
      .as[RawEvent].collect()
    val cut = incoming.length / 2
    val sch = implicitly[org.apache.spark.sql.Encoder[RawEvent]].schema
    def feed(rows: Seq[RawEvent]): Unit =
      spark.createDataset(rows.toIndexedSeq).toDF()
        .coalesce(1).write.mode("append").parquet(in)
    def drain(): Unit = {
      val q = job(spark.readStream.schema(sch).parquet(in))
        .writeStream
        .foreachBatch((b: org.apache.spark.sql.Dataset[U], _: Long) => {
          b.write.mode("append").parquet(out); ()
        })
        .outputMode("update")
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    feed(incoming.take(cut)); drain()   // query instance 1
    feed(incoming.drop(cut)); drain()   // FRESH instance, same checkpoint
    spark.read.parquet(out)
  }

  test("tClosenessTws: RocksDB state survives a checkpointed restart — " +
      "a fresh query resumes the counts and the board equals batch w53") {
    withRocksDb { withTempDir { tmp =>
      val updates = drainTwice(tmp, PrivacyJobs.tClosenessTws)
      // at least one straddling (group, type) must have been emitted
      // with a LARGER count after the restart than before it — the
      // direct signature of restored (not reset) state
      val grew = updates.groupBy("hr", "vb", "event_type")
        .agg(countDistinct(col("n_gt")).as("n_versions"),
          count(lit(1)).as("n_rows"))
      assert(grew.filter(col("n_versions") >= 2).count() > 0L,
        "no (group, type) count ever grew across the restart — the " +
          "fixture split must straddle at least one key")
      // the at-most-once contract holds across instances too: a count
      // value is emitted once per (group, type)
      assert(grew.filter(col("n_versions") =!= col("n_rows")).count() == 0L,
        "duplicate (group, type, n_gt) emissions across the restart")
      def decode(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getDouble(5),
          r.getLong(6))
      val board = PrivacyJobs.tClosenessBoard(updates).collect()
        .map(decode).toSeq
      val batch = graft.ops.RelOps.w53TCloseness(spark, sf0001).collect()
        .map(decode).toSeq
      assert(board == batch,
        s"post-restart board != batch w53 (${board.size} vs ${batch.size})")
      assert(batch.nonEmpty)
    } }
  }

  test("privacyTws: RocksDB state survives a checkpointed restart — " +
      "no user re-enters a group and the board equals batch w51") {
    withRocksDb { withTempDir { tmp =>
      val updates = drainTwice(tmp, PrivacyJobs.privacyTws)
      // a reset seen-user tally would re-emit every straddling user
      // in the second query instance
      assert(updates.filter(col("user_id").isNotNull)
        .groupBy("event_type", "hr", "vb", "user_id").count()
        .filter(col("count") > 1).count() == 0L,
        "a user entered a group's update stream twice across the restart")
      val board = PrivacyJobs.privacyBoard(updates).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))).toSeq
      val batch = graft.ops.RelOps.w51KAnonymity(spark, sf0001).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))).toSeq
      assert(board == batch,
        s"post-restart board != batch w51 (${board.size} vs ${batch.size})")
      assert(batch.nonEmpty)
    } }
  }

  test("lDiversityTws: RocksDB state survives a checkpointed restart — " +
      "a fresh query resumes the sets and the board equals batch w52") {
    withRocksDb { withTempDir { tmp =>
      val updates = drainTwice(tmp, PrivacyJobs.lDiversityTws)
      val board = PrivacyJobs.lDiversityBoard(updates).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6), r.getDouble(7))).toSeq
      val batch = graft.ops.RelOps.w52LDiversity(spark, sf0001).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6), r.getDouble(7))).toSeq
      assert(board == batch,
        s"post-restart board != batch w52 (${board.size} vs ${batch.size})")
      assert(batch.nonEmpty)
    } }
  }
}
