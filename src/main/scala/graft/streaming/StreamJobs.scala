package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types.DecimalType
import KeyedFold.{countInto, firstSeen, foldByKey}

/** Typed rows for the custom-state example. */
case class UserEvent(user_id: Long, value: Double)
case class UserMaxState(user_id: Long, max_value: Double, n: Long)

/** Typed rows for the streaming net_flow enrichment. */
case class StatusRow(
    station_code: String,
    bikes_available: Int,
    last_reported: java.sql.Timestamp,
    seq: Long)
case class NetFlowRow(
    station_code: String,
    bikes_available: Int,
    last_reported: java.sql.Timestamp,
    seq: Long,
    net_flow: Option[Int])
case class LastReading(ts: Long, seq: Long, bikes: Int)

/** Streaming-native analytics (SURVEY.md §2.8 T4/T5 upgrade): the
  * reference does all time-windowing in batch; these transforms run the
  * same logical plan under Structured Streaming with event-time
  * watermarks. Each is a pure DataFrame -> DataFrame function, so the
  * batch path (RelOps.w01TumblingAgg is the batch twin) and the streaming
  * path (readStream -> transform -> writeStream) share one definition —
  * the Spark-idiomatic way to keep stream/batch parity testable.
  */
object StreamJobs {

  /** Tumbling 1-hour event-time windows with a 10-minute watermark:
    * count + exact-decimal sum per (window, event_type). In append mode
    * the watermark bounds state: windows older than
    * max(event_time) - 10 min are finalized and evicted — the property
    * that keeps state size O(active windows) at 100 TB/day rates.
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(28, 6))).cast("double")
          .as("sum_value"))
      .select(col("window.start").as("bucket_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Streaming OHLC bars — the watermarked twin of RelOps.w33OhlcBars:
    * tumbling 1-hour event-time windows per type with open/close picked
    * by the same (ts, event_id) struct-min/max total order. Struct
    * min/max are ordinary MERGEABLE aggregates, so the bar finalizes
    * incrementally across micro-batches with O(active windows) state
    * under the watermark — no per-window event buffering, which is what
    * makes an event-at-a-time OHLC implementation (keep the earliest/
    * latest seen so far) state-bounded in the engine for free.
    */
  def ohlcBars(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        min(struct(col("ts"), col("event_id"), col("value")))
          .getField("value").as("open_v"),
        max(col("value")).as("high_v"),
        min(col("value")).as("low_v"),
        max(struct(col("ts"), col("event_id"), col("value")))
          .getField("value").as("close_v"),
        sum(col("value").cast(DecimalType(28, 6))).cast("double")
          .as("sum_value"))
      .select(col("event_type"), col("window.start").as("hour"),
        col("n_events"), col("open_v"), col("high_v"), col("low_v"),
        col("close_v"), col("sum_value"))

  /** Stream-static enrichment join: each micro-batch of the stream
    * joins the static dimension (broadcast — it's the small side by
    * construction). No watermark needed: stream-STATIC inner joins are
    * stateless, the static side is simply re-read (or served from its
    * broadcast) per micro-batch — the streaming twin of the batch
    * dimension join (J4 / q09). Rows without a dimension match are kept
    * with null attributes (left join) so the stream never silently
    * drops events.
    */
  def enrichWithDim(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(
      org.apache.spark.sql.functions.broadcast(dim), Seq("event_type"),
      "left")

  /** Sliding 2-hour windows every hour (each event lands in 2 windows). */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("bucket_start"), col("event_type"),
        col("n"))

  /** Event-time session windows with a 30-minute gap per user — the
    * streaming twin of RelOps.w02Sessionization's gaps-and-islands.
    */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))

  /** Streaming exact dedup by event id ALONE: first occurrence wins —
    * a re-send of the same id with a different timestamp is still
    * dropped (dropDuplicates("event_id", "ts") would let it through).
    * State stays bounded by the watermark: an id's dedup entry ages out
    * once the watermark passes its event time + delay — the only way
    * dedup state stays finite on an unbounded stream.
    */
  def dedupedStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream inner join with a time-range condition: each `clicks`
    * row matches `views` rows for the same user within the preceding
    * 30 minutes. BOTH sides carry watermarks and the join condition
    * bounds event-time distance — the two requirements that let Spark
    * evict buffered state (an unbounded stream-stream join would
    * otherwise hold every row forever). State per side is O(rows within
    * the watermark + range), independent of stream length — the 100 TB/day
    * posture.
    */
  def clickAfterView(views: DataFrame, clicks: DataFrame): DataFrame = {
    val v = views.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
    val c = clicks.withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    c.join(v,
        col("user_id") === col("v_user") &&
          col("view_ts") <= col("click_ts") &&
          col("view_ts") >= col("click_ts") - expr("INTERVAL 30 MINUTES"),
        "inner")
      .select("user_id", "click_id", "click_ts", "view_id", "view_ts")
  }

  /** Stream-stream LEFT OUTER time-range join — the streaming twin of
    * w14's full-outer reconciliation (RelOps): every view emits, either
    * matched with each click by the same user in the FOLLOWING 30
    * minutes, or exactly once with null click columns. The null row for
    * an unmatched view cannot emit as soon as the view arrives — a
    * matching click may still be in flight — so Spark holds it until
    * the watermark passes view_ts + 30 min (+ the 10-min delay), at
    * which point no in-range click can ever arrive and the outer row is
    * final. Same state-eviction bounds as the inner join: both sides
    * watermarked, join condition bounds event-time distance, state per
    * side O(rows within watermark + range).
    */
  def viewClickOuter(views: DataFrame, clicks: DataFrame): DataFrame = {
    val v = views.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
    val c = clicks.withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    v.join(c,
        col("v_user") === col("user_id") &&
          col("click_ts") >= col("view_ts") &&
          col("click_ts") <= col("view_ts") + expr("INTERVAL 30 MINUTES"),
        "left_outer")
      .select(col("v_user").as("user_id"), col("view_id"), col("view_ts"),
        col("click_id"), col("click_ts"))
  }

  /** Streaming-native gold refresh (the T4 upgrade of the reference's
    * scheduled batch gold job): drain the silver stream with
    * AvailableNow, and per micro-batch recompute the alert snapshot over
    * silver-so-far via foreachBatch — the standard escape hatch when the
    * derived table needs full-history windows that streaming aggregation
    * can't express. Checkpointed: a re-run with no new data rewrites
    * nothing.
    */
  def goldRefresh(
      spark: org.apache.spark.sql.SparkSession,
      silverPath: String,
      goldPath: String,
      checkpoint: String,
      refresh: DataFrame => DataFrame): Unit = {
    val stream = spark.readStream
      .schema(spark.read.parquet(silverPath).schema)
      .parquet(silverPath)
    val writer = stream.writeStream
      .foreachBatch { (_: DataFrame, _: Long) =>
        // the batch frame only signals "new data arrived"; the snapshot
        // recomputes over the full silver table (latest-per-key windows
        // need history, not just the increment)
        refresh(spark.read.parquet(silverPath))
          .coalesce(1)
          .write.mode("overwrite").parquet(goldPath)
        ()
      }
    Drain.availableNow(writer, checkpoint)
  }

  /** Streaming upsert (the MERGE-shaped streaming sink): each micro-batch
    * dynamic-partition-overwrites ONLY the date partitions it touches via
    * foreachBatch + Lakehouse.upsertPartitions — the standard Spark
    * pattern for continuous upsert into a partitioned lakehouse table
    * when append-only parquet sinks can't express rewrites. Checkpointed
    * exactly-once per batch id; untouched partitions are never rewritten,
    * so a day's stream only ever rewrites the hot partition(s).
    */
  def streamingUpsert(
      stream: DataFrame,
      tablePath: String,
      checkpoint: String,
      partitionCol: String = "date"): Unit = {
    val writer = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // no isEmpty pre-check: that would re-evaluate the batch source
        // once per trigger just to decide, and dynamic partition
        // overwrite of an empty frame touches no partitions anyway
        graft.sources.Lakehouse.upsertPartitions(batch, tablePath, partitionCol)
        ()
      }
    Drain.availableNow(writer, checkpoint)
  }

  /** Streaming INCREMENTAL near-dup detection — the continual-ingest
    * twin of the batch MinHash+LSH pipeline (d03/d07) and the near-dup
    * counterpart of d09's exact incremental dedup: each micro-batch of
    * (doc_id, text) is MinHashed and band-keyed, its band keys are
    * joined against the ACCUMULATED band table (the same write-once
    * lakehouse intermediate `DedupOps.materializedRoot` builds for the
    * batch suite), candidates are exact-Jaccard-verified, and the new
    * edges are APPENDED to the pair-graph table; finally the batch's
    * own bands and SHINGLE ARRAYS are appended so later batches pair
    * against everything before them. No streaming state at all — the
    * accumulator IS the lakehouse table, which is what lets a daily
    * 100 TB ingest resume from plain parquet instead of a state store.
    *
    * Per-batch cost at scale: batch_bands x matching band buckets (the
    * bucketed equality join), verify only on candidates — the corpus is
    * never rescanned. Candidates cover batch-vs-corpus AND
    * batch-vs-batch (self-join), so intra-batch twins pair too. Edges
    * are normalized doc_a < doc_b. Appends are per-batch-id via the
    * checkpoint (AvailableNow restart rewrites nothing new), though a
    * mid-batch crash can duplicate an append — downstream consumers
    * dedup on (doc_a, doc_b), same as every append-only edge log.
    */
  def incrementalNearDup(
      stream: DataFrame,
      bandsPath: String,
      docsPath: String,
      edgesPath: String,
      checkpoint: String): Unit = {
    // Hadoop FileSystem, not java.io.File: the accumulator tables live
    // wherever the lakehouse lives (HDFS/S3/local alike).
    def readOrEmpty(spark: org.apache.spark.sql.SparkSession,
        path: String, like: DataFrame): DataFrame = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) spark.read.parquet(path)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], like.schema)
    }
    val writer = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val b = batch.select("doc_id", "text").persist()
        try {
          val newBands = graft.ops.DedupOps.bandExplode(b)
          val priorBands = readOrEmpty(spark, bandsPath, newBands)
          // batch-vs-accumulated: equality join on (band, key), pair
          // normalized to doc_a < doc_b
          val vsPrior = newBands
            .select(col("doc_id").as("x"), col("band"), col("key"))
            .join(priorBands.select(col("doc_id").as("y"), col("band"),
              col("key")), Seq("band", "key"))
            .filter(col("x") =!= col("y"))
            .select(least(col("x"), col("y")).as("doc_a"),
              greatest(col("x"), col("y")).as("doc_b"))
          // batch-vs-batch: twins arriving in the same micro-batch
          val within = newBands
            .select(col("doc_id").as("doc_a"), col("band"), col("key"))
            .join(newBands.select(col("doc_id").as("doc_b"), col("band"),
              col("key")), Seq("band", "key"))
            .filter(col("doc_a") < col("doc_b"))
            .select("doc_a", "doc_b")
          val cand = vsPrior.union(within).distinct()
          // The doc accumulator stores the SHINGLE ARRAYS, computed once
          // at append time: the per-batch verify scans (doc_id, sh_arr)
          // parquet and joins — it never re-shingles the corpus (at
          // scale this table is bucketed on doc_id, making the verify
          // join shuffle-free on the corpus side).
          val newSh = graft.ops.DedupOps.shingleArrays(b)
          val sh = readOrEmpty(spark, docsPath, newSh).union(newSh)
          graft.ops.DedupOps.verifyPairs(cand, sh)
            .write.mode("append").parquet(edgesPath)
          newBands.write.mode("append").parquet(bandsPath)
          newSh.write.mode("append").parquet(docsPath)
        } finally { b.unpersist(); () }
      }
    Drain.availableNow(writer, checkpoint)
  }

  /** Streaming heavy-hitter tracking: a corpus-lifetime Misra-Gries
    * summary maintained across micro-batches — the continual-ingest
    * twin of t11. Per batch:
    *
    *   1. ONE distributed `graft_heavy_keys` aggregate over the batch
    *      (map-side partial counter maps, capacity-bounded) -> a single
    *      summary row read to the driver (the documented 1-row
    *      driver-read pattern — the summary is <= capacity entries by
    *      construction, never data-sized);
    *   2. the batch summary merges into the accumulated summary with
    *      the same mergeable-summaries reduction the aggregate's
    *      partials use (`MisraGriesAgg.mergeInto`), keeping the
    *      guarantee: any token with lifetime share > 1/(capacity+1) is
    *      in the summary, counts are lower bounds within n/(capacity+1);
    *   3. the merged summary is written to a VERSIONED dir
    *      `accumRoot/b<batchId>` with _SUCCESS gating, merging always
    *      from the newest complete version strictly below the current
    *      batch id — the velib Pipeline's exactly-once state
    *      discipline, so a crash/replay re-merges from the predecessor
    *      instead of double-counting (an append log can't offer that
    *      for a non-idempotent sketch).
    *
    * Per-batch cost at scale: batch scan + partitions x capacity
    * summary entries to one reducer + a <= capacity-entry driver merge.
    * The full token cardinality never shuffles and the corpus is never
    * rescanned.
    */
  def streamingHeavyTokens(
      stream: DataFrame,
      accumRoot: String,
      checkpoint: String,
      capacity: Int = 199,
      failpoint: (String, Long) => Unit = (_, _) => ()): Unit = {
    import graft.functions.MisraGriesAgg
    import scala.collection.mutable
    val writer = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        graft.functions.GraftFunctions.register(spark)
        val row = batch
          .agg(expr(s"graft_heavy_keys(tok, $capacity)").as("s"))
          .select(col("s.n"), col("s.keys"), col("s.counts")).head()
        val merged = new MisraGriesAgg.MGBuf(row.getLong(0),
          mutable.HashMap(row.getSeq[String](1)
            .zip(row.getSeq[Long](2)): _*))
        val below = VersionedState.versions(spark, accumRoot, batchId)
        below.lastOption.foreach { v =>
          val prior = spark.read.parquet(s"$accumRoot/b$v").head()
          MisraGriesAgg.mergeInto(merged,
            new MisraGriesAgg.MGBuf(prior.getLong(0),
              mutable.HashMap(prior.getSeq[String](1)
                .zip(prior.getSeq[Long](2)): _*)), capacity)
        }
        val keys = merged.m.keys.toArray.sorted
        import spark.implicits._
        Seq((merged.n, keys.toSeq, keys.map(merged.m(_)).toSeq))
          .toDF("n", "keys", "counts")
          .coalesce(1).write.mode("overwrite").parquet(s"$accumRoot/b$batchId")
        // crash-injection hook for the replay spec: a failure AFTER the
        // version write but BEFORE checkpoint commit must not
        // double-count on replay (the merge reads strictly-below
        // versions, never the orphan this batch just wrote)
        failpoint("version-written", batchId)
        VersionedState.prune(spark, accumRoot, batchId)
        ()
      }
    Drain.availableNow(writer, checkpoint)
  }

  /** Read the current lifetime summary as (tok, count_lb, n): the
    * candidate set with its lower-bound counts. Counts are within
    * n/(capacity+1) of truth; exact counts (if needed) come from one
    * candidate-filtered pass over the corpus, as in t11.
    */
  def heavyTokensSnapshot(
      spark: org.apache.spark.sql.SparkSession, accumRoot: String): DataFrame = {
    val newest = VersionedState.versions(spark, accumRoot).max
    spark.read.parquet(s"$accumRoot/b$newest")
      .select(col("n"), explode(arrays_zip(col("keys"), col("counts"))).as("e"))
      .select(col("e.keys").as("tok"), col("e.counts").as("count_lb"), col("n"))
      .orderBy("tok")
  }

  /** The latent enrichment's net_flow (W3: bikes - lag(bikes) per
    * station) computed ON-STREAM with keyed state: the state is the last
    * reading per station; each micro-batch sorts its per-station rows by
    * (last_reported, seq) and chains deltas off the carried state.
    * Matches batch `EnrichJob.enrich` exactly when per-station arrival
    * order is monotone across batches — which the reference's ingestion
    * guarantees by keying Kafka messages on stationcode
    * (`/root/reference/src/assets/bronze.py:52-55`).
    */
  def streamingNetFlow(status: Dataset[StatusRow]): Dataset[NetFlowRow] = {
    import status.sparkSession.implicits._
    status.groupByKey(_.station_code)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (code: String, rows: Iterator[StatusRow],
         state: GroupState[LastReading]) => {
          val sorted = rows.toSeq.sortBy(r => (r.last_reported.getTime, r.seq))
          var prev = state.getOption
          val out = sorted.map { r =>
            val nf = prev.map(p => r.bikes_available - p.bikes)
            prev = Some(LastReading(r.last_reported.getTime, r.seq,
              r.bikes_available))
            NetFlowRow(code, r.bikes_available, r.last_reported, r.seq, nf)
          }
          prev.foreach(state.update)
          out.iterator
        })
  }

  /** Custom keyed state (SURVEY.md §2.8 T6 upgrade): running per-user
    * max/count via flatMapGroupsWithState — the
    * KeyValueGroupedDataset API a bespoke streaming accumulator uses when
    * windowed aggs can't express it.
    */
  def runningUserMax(events: Dataset[UserEvent]): Dataset[UserMaxState] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (uid: Long, rows: Iterator[UserEvent],
         state: GroupState[UserMaxState]) => {
          val prev = state.getOption
            .getOrElse(UserMaxState(uid, Double.NegativeInfinity, 0L))
          var mx = prev.max_value
          var n = prev.n
          rows.foreach { r => if (r.value > mx) mx = r.value; n += 1 }
          val next = UserMaxState(uid, mx, n)
          state.update(next)
          Iterator(next)
        })
  }

  /** `runningUserMax` re-planned on transformWithState (the Spark 4
    * arbitrary-state API, SPARK-40434): a StatefulProcessor holding one
    * ValueState per key. Same semantics as the flatMapGroupsWithState
    * form — the spec asserts output parity batch-by-batch — but the
    * operator model is the production-grade one: typed state variables
    * with per-variable TTL, timers, and schema evolution, backed by the
    * RocksDB state store (transformWithState requires the RocksDB
    * provider; the session must set
    * spark.sql.streaming.stateStore.providerClass to
    * ...state.RocksDBStateStoreProvider). At 100 TB the practical wins
    * over fMGWS are incremental state reads (no full-value
    * deserialization per key visit for list/map state) and disk-backed
    * state capacity beyond executor heap. The fold keeps the running
    * max/count as the key's [[KeyedFold]] state, read once and written
    * once per key per micro-batch.
    */
  def runningUserMaxTws(events: Dataset[UserEvent]): Dataset[UserMaxState] = {
    import events.sparkSession.implicits._
    foldByKey(events)(_.user_id)(
      uid => UserMaxState(uid, Double.NegativeInfinity, 0L), runningMaxStep)
  }

  private def runningMaxStep(uid: Long, prev: UserMaxState,
      rows: Iterator[UserEvent], unused: Tally[Long])
      : (UserMaxState, Seq[UserMaxState]) = {
    var mx = prev.max_value
    var n = prev.n
    rows.foreach { r => if (r.value > mx) mx = r.value; n += 1 }
    val next = UserMaxState(uid, mx, n)
    (next, Seq(next))
  }

  /** Running per-(user, event_type) counts in the fold's MapState
    * tally. The point vs a flatMapGroupsWithState Map[String, Long]
    * value: only the keys a micro-batch TOUCHES are read and written
    * (point lookups against the RocksDB store), never the user's whole
    * map — the difference between O(batch) and O(state) work per key
    * when per-user state grows wide.
    */
  def runningTypeCountsTws(events: Dataset[TypedEvent]): Dataset[TypeCount] = {
    import events.sparkSession.implicits._
    foldByKey(events)(_.user_id)(_ => false, typeCountStep)
  }

  private def typeCountStep(uid: Long, s: Boolean,
      rows: Iterator[TypedEvent], counts: Tally[String])
      : (Boolean, Seq[TypeCount]) =
    (s, countInto(counts, rows.map(_.event_type))
      .map { case (t, n) => TypeCount(uid, t, n) })

  /** Session summaries via transformWithState EVENT-TIME TIMERS: each
    * user's open session extends with every event, and a timer at
    * (session end + gap) re-arms per batch; when the WATERMARK passes
    * it, handleExpiredTimer emits the closed session and clears state.
    * This is the push-based session close fMGWS can only approximate
    * with processing-time timeouts (wall-clock-dependent, replay-
    * unsafe): event-time timers fire deterministically from data
    * progress, so a replay produces byte-identical output. The
    * w02/session_window aggregation is the pull-based twin; the timer
    * form is what powers emit-on-close alerting and state GC at 100 TB
    * (state is O(open sessions), closed sessions leave the store the
    * moment the watermark passes them).
    */
  def sessionCloseTws(events: Dataset[SessionEvent],
      gapMs: Long): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .transformWithState(new SessionTimerProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Per-user last-k values on transformWithState ListState — the
    * online-feature-buffer shape ("most recent k interactions per
    * user"); see [[RecentValuesProcessor]] for the incremental-append
    * contrast with a flatMapGroupsWithState buffer.
    */
  def recentValuesTws(events: Dataset[UserEvent], k: Int): Dataset[RecentValues] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RecentValuesProcessor(k),
        TimeMode.None(), OutputMode.Update())
  }
}

/** Typed rows for the MapState example. */
case class TypedEvent(user_id: Long, event_type: String)
case class TypeCount(user_id: Long, event_type: String, n: Long)

/** Typed rows for the event-time-timer session example. */
case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)
case class SessionSummary(
    user_id: Long,
    session_start: java.sql.Timestamp,
    session_end: java.sql.Timestamp,
    n_events: Long)
case class SessionAcc(start: Long, end: Long, n: Long)

/** StatefulProcessor for [[StreamJobs.sessionCloseTws]]: ValueState
  * session accumulator + one event-time timer per key, re-armed at
  * (session end + gap) on every batch that touches the key.
  */
class SessionTimerProcessor(gapMs: Long)
    extends StatefulProcessor[Long, SessionEvent, SessionSummary] {
  @transient private var sess: ValueState[SessionAcc] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    sess = getHandle.getValueState[SessionAcc]("sess",
      org.apache.spark.sql.Encoders.product[SessionAcc], TTLConfig.NONE)

  override def handleInputRows(
      uid: Long,
      rows: Iterator[SessionEvent],
      timerValues: TimerValues): Iterator[SessionSummary] = {
    val times = rows.map(_.ts.getTime).toSeq
    val prev = Option(sess.get())
    val acc = SessionAcc(
      math.min(prev.map(_.start).getOrElse(Long.MaxValue), times.min),
      math.max(prev.map(_.end).getOrElse(Long.MinValue), times.max),
      prev.map(_.n).getOrElse(0L) + times.size)
    sess.update(acc)
    // single live timer per key: drop the stale one, arm at end + gap
    getHandle.listTimers().foreach(t =>
      getHandle.deleteTimer(t.asInstanceOf[Long]))
    getHandle.registerTimer(acc.end + gapMs)
    Iterator.empty
  }

  override def handleExpiredTimer(
      uid: Long,
      timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionSummary] = {
    val s = sess.get()
    if (s == null) Iterator.empty
    else {
      sess.clear()
      Iterator(SessionSummary(uid, new java.sql.Timestamp(s.start),
        new java.sql.Timestamp(s.end), s.n))
    }
  }
}

/** Typed output row for the ListState example: a user's most recent
  * values (newest first) after each batch that touches the user.
  */
case class RecentValues(user_id: Long, recent: Seq[Double], n_total: Long)

/** StatefulProcessor for [[StreamJobs.recentValuesTws]]: a bounded
  * last-k buffer per user in a ListState (+ total count in a
  * ValueState). ListState appends are incremental writes — a batch
  * appends its rows without rewriting the existing buffer; only the
  * k-trim rewrites, and only when the buffer overflows. Once the buffer
  * holds k values, every non-empty batch overflows it, so a full
  * buffer is rewritten on each batch that touches its key — the saving
  * is for keys still filling theirs. The flatMapGroupsWithState
  * equivalent deserializes and reserializes the whole buffer every
  * time the key appears.
  */
class RecentValuesProcessor(k: Int)
    extends StatefulProcessor[Long, UserEvent, RecentValues] {
  @transient private var buf: ListState[Double] = _
  @transient private var total: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    buf = getHandle.getListState[Double]("recent",
      org.apache.spark.sql.Encoders.scalaDouble, TTLConfig.NONE)
    total = getHandle.getValueState[Long]("total",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(
      uid: Long,
      rows: Iterator[UserEvent],
      timerValues: TimerValues): Iterator[RecentValues] = {
    val incoming = rows.map(_.value).toArray
    incoming.foreach(buf.appendValue)
    val n = (if (total.exists()) total.get() else 0L) + incoming.length
    total.update(n)
    val all = buf.get().toArray
    val kept = all.takeRight(k)
    if (all.length > k) { // trim: rewrite only on overflow
      buf.clear()
      kept.foreach(buf.appendValue)
    }
    Iterator(RecentValues(uid, kept.reverse.toSeq, n))
  }
}

/** Typed rows for the streaming funnel: event-time in integer
  * microseconds (the w26 arithmetic), stage timestamps -1 when unset.
  */
case class FunnelEvent(user_id: Long, event_type: String, ts_us: Long)
case class FunnelProgress(
    user_id: Long,
    stage_reached: Long,
    t_view_us: Long,
    t_click_us: Long,
    t_purchase_us: Long)

/** Streaming funnel entrypoint (separate object: [[StreamJobs]] is the
  * batch-adjacent surface; this is the T6 arbitrary-state family).
  */
object FunnelJobs {
  /** w26's continual-ingest twin: per-user funnel progression as
    * transformWithState, emitting a row whenever a user's stage state
    * ADVANCES (Update mode, no-change batches emit nothing). State is
    * O(users) x 3 longs — no event retention: the w26 greedy
    * ordered-sequence witness (view -> click -> purchase, each stage
    * STRICTLY after the previous) as three stage timestamps in the
    * fold state, folded forward in event order.
    *
    * Ordering contract: rows are sorted by (ts, event_type) WITHIN each
    * batch before folding, so intra-batch disorder is handled exactly;
    * across batches the fold assumes per-key event-time progress (the
    * watermark discipline). A cross-batch regression (a view arriving
    * LATER than an already-accepted click's eligibility window) would
    * require retaining every rejected stage-2/3 event to re-derive the
    * chain — the retention/latency trade every streaming funnel product
    * declines; the batch operator (RelOps.w26Funnel) is the
    * reconciliation path, and the spec pins streaming==batch agreement
    * on in-order histories.
    */
  def funnelTws(events: Dataset[FunnelEvent]): Dataset[FunnelProgress] = {
    import events.sparkSession.implicits._
    foldByKey(events)(_.user_id)(
      uid => FunnelProgress(uid, 0L, -1L, -1L, -1L), funnelStep)
  }

  private def funnelStep(uid: Long, prev: FunnelProgress,
      rows: Iterator[FunnelEvent], unused: Tally[Long])
      : (FunnelProgress, Seq[FunnelProgress]) = {
    var (tv, tc, tp) = (prev.t_view_us, prev.t_click_us, prev.t_purchase_us)
    // sort per batch: greedy-first over an ordered fold == the batch
    // operator's min-after-previous-stage selection
    rows.toArray.sortBy(e => (e.ts_us, e.event_type)).foreach { e =>
      e.event_type match {
        case "view" if tv < 0 => tv = e.ts_us
        case "click" if tc < 0 && tv >= 0 && e.ts_us > tv => tc = e.ts_us
        case "purchase" if tp < 0 && tc >= 0 && e.ts_us > tc => tp = e.ts_us
        case _ => ()
      }
    }
    val stage = if (tv < 0) 0L else if (tc < 0) 1L else if (tp < 0) 2L else 3L
    val next = FunnelProgress(uid, stage, tv, tc, tp)
    (next, if (next == prev) Nil else Seq(next))
  }
}

/** Typed rows for the streaming DAU/WAU board: activity in integer
  * epoch days (the exact arithmetic both engines share).
  */
case class ActiveEvent(user_id: Long, epoch_day: Int)
case class ActiveDelta(user_id: Long, epoch_day: Int, kind: String)

/** Streaming rolling-active entrypoint (the T6 family, w35's twin). */
object RollingJobs {
  /** w35's continual-ingest twin: per-user active-day MapState emitting
    * dau/wau coverage deltas — Update mode, already-known days emit
    * nothing, so a quiet micro-batch costs nothing downstream.
    *
    * The fold's tally is the seen-set over ACTIVE DAYS (the E94
    * machinery on the w35 shape). For every day the user was not yet
    * known active it emits one "dau" delta, plus one "wau" delta for
    * each day of [d, d+6] not already covered by the user's
    * trailing-7-day windows — so a downstream count of deltas per day
    * IS the board: the user contributes to DAU(d) once and to WAU(c)
    * once per covered day c, exactly the batch operator's DISTINCT
    * (user, day) / covering-explode counts.
    *
    * State is O(active days) per user as point-lookup map entries (never
    * deserialized wholesale — the MapState-vs-fMGWS argument), and the
    * emitted stream is append-only deltas: the lakehouse-as-accumulator
    * pattern (E114) — the serving board is a day-keyed count over the
    * delta table, refreshable incrementally at any cadence.
    */
  def rollingActiveTws(events: Dataset[ActiveEvent]): Dataset[ActiveDelta] = {
    import events.sparkSession.implicits._
    foldByKey(events)(_.user_id)(_ => false, rollingActiveStep)
  }

  private def rollingActiveStep(uid: Long, s: Boolean,
      rows: Iterator[ActiveEvent], days: Tally[Int])
      : (Boolean, Seq[ActiveDelta]) = {
    val out = Vector.newBuilder[ActiveDelta]
    // dedupe within the batch, ascending so an earlier new day's
    // coverage is visible to a later one (insertion order invariance:
    // the union of [d, d+6] windows is order-independent; processing
    // sorted just makes the per-day check exact against prior state)
    val newDays = rows.map(_.epoch_day).toSet
      .filter(d => days.get(d) == 0L).toSeq.sorted
    newDays.foreach { d =>
      out += ActiveDelta(uid, d, "dau")
      // a candidate day c is newly covered iff no EXISTING active day
      // lies in its trailing window [c-6, c] (d itself not yet inserted)
      (d to d + 6).foreach { c =>
        val covered = (c - 6 to c).exists(days.get(_) > 0L)
        if (!covered) out += ActiveDelta(uid, c, "wau")
      }
      days.put(d, 1L)
    }
    (s, out.result())
  }

  /** Fold the accumulated delta table into the w35 board — day spine
    * clipped to the active-day range, DAU/WAU7 counts, stickiness.
    * Output is column-identical to `RelOps.w35RollingActive`; the spec
    * pins value equality. Deltas are unique per (user, day, kind) by
    * the processor contract, so the counts are plain COUNT(*).
    */
  def rollingActiveBoard(deltas: DataFrame): DataFrame = {
    val asDay = expr("date_add(DATE '1970-01-01', epoch_day)")
    val dau = deltas.filter(col("kind") === "dau")
      .select(asDay.as("day"))
      .groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = deltas.filter(col("kind") === "wau")
      .select(asDay.as("day"))
      .groupBy("day").agg(count(lit(1)).as("wau7"))
    val bounds = dau.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val spine = bounds.select(explode(expr("sequence(d0, d1)")).as("day"))
    spine.join(dau, Seq("day"), "left")
      .join(wau, Seq("day"), "left")
      .select(col("day"),
        coalesce(col("dau"), lit(0L)).as("dau"),
        coalesce(col("wau7"), lit(0L)).as("wau7"))
      .withColumn("stickiness",
        when(col("wau7") > 0, col("dau").cast("double") / col("wau7")))
      .orderBy("day")
  }
}

/** Typed rows for the streaming attribution twin (w44). */
case class AttrEvent(
    event_id: Long, um: Long, user_id: Long, event_type: String)
case class AttrResult(
    purchase_id: Long, user_id: Long, first_ch: String, last_ch: String)

/** StatefulProcessor for [[AttributionJobs.attributionTws]]: per-user
  * ListState over the touches still inside any future purchase's
  * 7-day lookback. On a purchase it scans the (tiny, pruned) touch
  * list for the [p-7d, p) window and emits first/last credit with the
  * same (um, event_id) tiebreak as batch w44; on a touch it appends.
  * After each micro-batch the list is pruned below newest-7d — under
  * the in-order contract those touches can never attribute again, so
  * state is O(touches per user per week), never O(history).
  *
  * ORDERING CONTRACT (the standard streaming-attribution caveat): rows
  * are sorted (um, event_id) within each micro-batch, and batches must
  * arrive in event-time order per user — a purchase processed before
  * an earlier-timestamp touch arrives would under-attribute. A
  * watermark-buffered reorder stage could lift this; out of scope and
  * documented.
  */
class AttributionProcessor
    extends StatefulProcessor[Long, AttrEvent, AttrResult] {
  private val Lookback = 7L * 86400L * 1000000L
  @transient private var touches: ListState[(Long, Long, String)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    touches = getHandle.getListState[(Long, Long, String)]("touches",
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.STRING), TTLConfig.NONE)

  override def handleInputRows(
      uid: Long,
      rows: Iterator[AttrEvent],
      timerValues: TimerValues): Iterator[AttrResult] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[AttrResult]
    var maxUm = Long.MinValue
    rows.toSeq.sortBy(e => (e.um, e.event_id)).foreach { e =>
      maxUm = math.max(maxUm, e.um)
      e.event_type match {
        case "purchase" =>
          val lo = e.um - Lookback
          val win = touches.get()
            .filter(t => t._1 >= lo && t._1 < e.um).toSeq
          // (um, event_id) is unique, so tuple min/max never reaches
          // the channel component — exactly batch w44's struct order
          val first = if (win.isEmpty) "none" else win.min._3
          val last = if (win.isEmpty) "none" else win.max._3
          out += AttrResult(e.event_id, uid, first, last)
        case "view" | "click" =>
          touches.appendValue((e.um, e.event_id, e.event_type))
        case _ => ()
      }
    }
    if (maxUm != Long.MinValue) {
      val kept = touches.get().filter(_._1 >= maxUm - Lookback).toArray
      if (kept.isEmpty) touches.clear() else touches.put(kept)
    }
    out.iterator
  }
}

/** Streaming attribution entrypoint (w44's continual-ingest twin). */
object AttributionJobs {
  /** Per-purchase first/last-touch credit as an append-only result
    * stream — Update mode; the accumulated table folds to the exact
    * batch w44 report via [[attributionBoard]].
    */
  def attributionTws(events: Dataset[AttrEvent]): Dataset[AttrResult] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new AttributionProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Fold accumulated per-purchase results into w44's 6-row report —
    * column- and value-identical to `RelOps.w44Attribution` (the spec
    * pins it); one result row per purchase by the processor contract.
    */
  def attributionBoard(results: DataFrame): DataFrame =
    graft.ops.RelOps.w44Report(results.sparkSession, results)
}

/** Typed rows for the streaming heavy-hitters twin (t11). */
case class TokEvent(tok: String)
case class TokCount(tok: String, n_occurrences: Long)

/** Streaming heavy-hitters entrypoint (t11's continual-ingest twin). */
object HeavyJobs {
  /** Per-token running counts as an append-only update stream; the
    * accumulated table folds to the exact batch t11 heavy-token report
    * via [[heavyTokensBoard]]. The fold state is the token's running
    * occurrence count, emitted whenever the token appears in a
    * micro-batch. Emitted counts are MONOTONE per token, so the
    * accumulated delta table folds with a plain max() — no batch ids,
    * no latest-row windows (the same trick that makes the fold
    * order-independent under micro-batch replays: max of a monotone
    * series is its last value).
    *
    * State is one long per distinct token — a point-lookup counter table
    * (the honest continual-ingest shape: the batch t11's Misra-Gries
    * pass SELECTS candidates from a bounded sketch because batch can
    * afford a second exact pass over the corpus; a stream cannot
    * re-scan history, so its exactness has to live in state). A
    * production variant bounds state by TTL'ing cold tokens — which
    * forfeits exactness for tokens that go hot late; this twin keeps the
    * exact contract so the board is value-identical to batch t11.
    */
  def heavyTokensTws(toks: Dataset[TokEvent]): Dataset[TokCount] = {
    import toks.sparkSession.implicits._
    foldByKey(toks)(_.tok)(_ => 0L, heavyTokensStep)
  }

  private def heavyTokensStep(tok: String, n: Long,
      rows: Iterator[TokEvent], unused: Tally[Long]): (Long, Seq[TokCount]) = {
    val total = n + rows.size
    (total, if (total == n) Nil else Seq(TokCount(tok, total)))
  }

  /** Fold the accumulated count table into t11's board: latest (= max,
    * counts are monotone) per token, total occurrences as the sum of
    * latest counts, and the exact integer share gate
    * `count * 200 > n` — column- and value-identical to
    * `TextOps.t11HeavyTokens` (the spec pins it).
    */
  def heavyTokensBoard(counts: DataFrame): DataFrame = {
    val latest = counts.groupBy(col("tok"))
      .agg(max(col("n_occurrences")).as("n_occurrences"))
    val tot = latest.agg(sum(col("n_occurrences")).as("n"))
    latest.crossJoin(broadcast(tot))
      .filter(col("n_occurrences") * 200 > col("n"))
      .select(col("tok"), col("n_occurrences"))
      .orderBy("tok")
  }
}

/** Typed rows for the streaming cohort-LTV twin (w48). */
case class OrderEvent(o_custkey: Long, month_idx: Int, price4: Long)
case class LtvDelta(
    cohort_idx: Int, age_months: Long, n_orders: Long, active_delta: Long,
    rev4: Long)

/** Streaming cohort-LTV entrypoint (w48's continual-ingest twin). */
object LtvJobs {
  /** Orders table -> the typed event stream shape (month index =
    * months since 1970-01, price in exact 1e-4 units).
    */
  def orderEvents(orders: DataFrame): Dataset[OrderEvent] = {
    import orders.sparkSession.implicits._
    orders.select(col("o_custkey"),
      ((year(col("o_orderdate")) - 1970) * 12 +
        month(col("o_orderdate")) - 1).cast("int").as("month_idx"),
      round(col("o_totalprice") * 10000).cast("long").as("price4"))
      .as[OrderEvent]
  }

  /** Per-order (cohort, age) deltas as an append-only update stream;
    * the accumulated table folds to the exact batch w48 triangle via
    * [[cohortLtvBoard]]. Per customer the fold state pins the cohort
    * month (first order seen) and the tally is the seen-set over
    * ACTIVE MONTHS for the n_active dedup. Each order emits one
    * (cohort, age) delta carrying exact integer order count and revenue
    * in 1e-4 units; the first order of a (customer, month) also carries
    * active_delta = 1 so a downstream SUM is the batch operator's
    * COUNT(DISTINCT custkey) per cell.
    *
    * ORDERING CONTRACT (the w44 caveat): per customer, micro-batches
    * must arrive in month order — the cohort is pinned by the first
    * event seen (in-batch rows are processed in ascending month order,
    * so any split of a month-sorted stream is safe).
    */
  def cohortLtvTws(orders: Dataset[OrderEvent]): Dataset[LtvDelta] = {
    import orders.sparkSession.implicits._
    foldByKey(orders)(_.o_custkey)(_ => NoCohort, cohortLtvStep)
  }

  /** "No order seen yet": the cohort is an Int month widened to Long,
    * so this value can never be a real cohort.
    */
  private val NoCohort = Long.MinValue

  private def cohortLtvStep(custkey: Long, cohort: Long,
      rows: Iterator[OrderEvent], months: Tally[Int])
      : (Long, Seq[LtvDelta]) = {
    var c = cohort
    val out = rows.toVector.sortBy(_.month_idx).map { r =>
      if (c == NoCohort) c = r.month_idx.toLong
      val newMonth = firstSeen(months, r.month_idx)
      LtvDelta(c.toInt, r.month_idx - c, 1L, if (newMonth) 1L else 0L,
        r.price4)
    }
    (c, out)
  }

  /** Fold accumulated deltas into w48's board: cells by plain SUMs
    * (revenue exact in 1e-4 longs), cohort sizes = active count at
    * age 0 (every customer's first order is its cohort month), the
    * global max month off the deltas, zero-filled age spine and the
    * running totals — column- and value-identical to
    * `RelOps.w48CohortLtv` (the spec pins it).
    */
  def cohortLtvBoard(deltas: DataFrame): DataFrame = {
    // fresh attribute ids for the spine side (it re-joins `cells`
    // below — without the aliases the Generate over the shared lineage
    // trips Catalyst's conflicting-references resolution)
    val cells = deltas.groupBy("cohort_idx", "age_months")
      .agg(sum(col("n_orders")).as("n_orders"),
        sum(col("active_delta")).as("n_active"),
        sum(col("rev4")).as("rev4"))
    val sizes = cells.filter(col("age_months") === 0L)
      .select(col("cohort_idx").as("ci"),
        col("n_active").as("cohort_size"))
    val gm = deltas.agg(max(col("cohort_idx") + col("age_months"))
      .as("gidx"))
    val spine = sizes.crossJoin(broadcast(gm))
      .select(col("ci"), col("cohort_size"),
        explode(sequence(lit(0L),
          (col("gidx") - col("ci")).cast("long"))).as("age"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("ci")).orderBy(col("age"))
    val rev0 = coalesce(col("rev4"), lit(0L))
    spine.join(cells,
        spine("ci") === cells("cohort_idx") &&
          spine("age") === cells("age_months"), "left")
      .select(
        expr("add_months(DATE '1970-01-01', ci)").as("cohort_month"),
        col("age").as("age_months"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("n_active"), lit(0L)).as("n_active"),
        (rev0.cast("double") / 1e4).as("revenue"),
        (sum(rev0).over(w).cast("double") / 1e4).as("cum_revenue"),
        col("cohort_size"),
        (sum(rev0).over(w).cast("double") / 1e4 / col("cohort_size"))
          .as("ltv_per_customer"))
      .orderBy("cohort_month", "age_months")
  }
}

/** Typed rows for the streaming decontamination twin (d08 — E238). */
case class DocEvent(doc_id: Long, text: String)
case class GramHit(doc_id: Long, gram: String, bench_id: Long)
case class ContamUpdate(
    doc_id: Long, n_shared_ngrams: Long, first_bench_id: Long)

/** Streaming decontamination entrypoint (d08's continual-ingest twin —
  * the contamination check moved to WHERE DOCS ARRIVE, so a poisoned
  * crawl batch is flagged before it lands in the corpus).
  */
object DecontamJobs {
  /** d08's distinct word 4-grams (projected-toks form — a lambda
    * restating split(text) evaluates it per element).
    */
  private val grams =
    "array_distinct(transform(sequence(1, greatest(size(toks)-3, 1))," +
      " i -> array_join(slice(toks, i, 4), ' ')))"

  /** The static bench-gram frame d08 joins (eval members, doc_id % 97
    * == 0) — built ONCE from the batch corpus; eval suites are tiny, so
    * it broadcasts.
    */
  def benchGrams(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("bench_id"),
        split(col("text"), " ").as("toks"))
      .select(explode(expr(grams)).as("gram"), col("bench_id"))

  /** Stream-static decontamination: each micro-batch of incoming docs
    * explodes to its distinct 4-grams, inner-joins the BROADCAST static
    * bench grams (stateless — only matched rows survive, which
    * contamination keeps rare), then a per-doc `transformWithState`
    * accumulates distinct matched grams and the min bench id across
    * micro-batches. [[decontamBoard]] folds the update stream to the
    * exact batch d08 report (the spec pins value identity).
    *
    * Per incoming doc the tally is the seen-set over the bench 4-grams
    * ALREADY COUNTED (a gram matching several bench docs, or
    * re-arriving in a later micro-batch, must not inflate the distinct
    * count) and the fold state the running (n_shared, min bench_id).
    * A micro-batch that changed the doc's tallies emits one update, so
    * a downstream max/min fold is the exact batch d08 row.
    */
  def decontamTws(docs: DataFrame, bench: DataFrame): Dataset[ContamUpdate] = {
    import docs.sparkSession.implicits._
    val hits = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(expr(grams)).as("gram"))
      .join(broadcast(bench), Seq("gram"))
      .select(col("doc_id"), col("gram"), col("bench_id"))
      .as[GramHit]
    foldByKey(hits)(_.doc_id)(_ => (0L, Long.MaxValue), decontamStep)
  }

  private def decontamStep(docId: Long, prev: (Long, Long),
      rows: Iterator[GramHit], seen: Tally[String])
      : ((Long, Long), Seq[ContamUpdate]) = {
    var (n, mb) = prev
    rows.foreach { r =>
      if (firstSeen(seen, r.gram)) n += 1
      if (r.bench_id < mb) mb = r.bench_id
    }
    ((n, mb), if ((n, mb) == prev) Nil else Seq(ContamUpdate(docId, n, mb)))
  }

  /** Fold the accumulated update table to d08's report: latest (= max,
    * the tallies are monotone) distinct-gram count and the min bench id
    * per contaminated doc.
    */
  def decontamBoard(updates: DataFrame): DataFrame =
    updates.groupBy(col("doc_id"))
      .agg(max(col("n_shared_ngrams")).as("n_shared_ngrams"),
        min(col("first_bench_id")).as("first_bench_id"))
      .orderBy("doc_id")
}

/** Typed rows for the streaming k-anonymity twin (w51 — E249). */
case class PrivEvent(
    event_type: String, user_id: Long, hr: Long, vb: Long)
case class PrivacyUpdate(
    event_type: String, hr: Long, vb: Long,
    // null on a count-only update (no new user this batch). Boxed, NOT
    // a -1 sentinel: the batch queries count EVERY user_id value, so a
    // corpus with a real negative id would collide with the sentinel
    // and silently undercount the board (r13 code review).
    user_id: java.lang.Long,
    n_events: Long)

/** Streaming k-anonymity entrypoint (w51's continual-ingest twin — the
  * privacy audit moved to WHERE EVENTS ARRIVE, so a release pipeline
  * reads the current re-identification risk instead of re-scanning the
  * lakehouse). Input follows the checkpointed-source exactly-once
  * contract (proved by the silver restart specs): each event arrives
  * once — users re-arriving across batches are absorbed by state, but
  * the event COUNT deliberately trusts the source's delivery semantics,
  * the same trust the batch scan places in the lakehouse files.
  */
object PrivacyJobs {
  /** The shared QI projection all three privacy twins ingest — ONE
    * definition of the quasi-identifier tuple (hour, value decade), so
    * a QI change cannot silently drift between the twins (or against
    * the batch queries, whose projections the twin specs pin).
    */
  private def qiEvents(events: DataFrame)
      : org.apache.spark.sql.Dataset[PrivEvent] = {
    import events.sparkSession.implicits._
    events.select(col("event_type"), col("user_id"),
        hour(col("ts")).cast("long").as("hr"),
        floor(col("value") / 10.0).cast("long").as("vb"))
      .as[PrivEvent]
  }

  /** Stream of per-group privacy updates: project each event to its
    * QI tuple (w51's (event_type, hour, value decade)) and fold per
    * group. The tally is the seen-set of users (each user must enter a
    * group's anonymity count exactly once no matter how many events
    * they produce) and the fold state the running event count. A batch
    * emits one row per NEW user (carrying the post-batch event total)
    * or a single count-only row when it adds events but no users, so
    * the update stream stays O(new users + touched groups) per
    * micro-batch.
    */
  def privacyTws(events: DataFrame): Dataset[PrivacyUpdate] = {
    import events.sparkSession.implicits._
    foldByKey(qiEvents(events))(e => (e.event_type, e.hr, e.vb))(
      _ => 0L, kAnonymityStep)
  }

  private def kAnonymityStep(key: (String, Long, Long), nEvents: Long,
      rows: Iterator[PrivEvent], users: Tally[Long])
      : (Long, Seq[PrivacyUpdate]) = {
    val (et, hr, vb) = key
    val added = Vector.newBuilder[Long]
    var cnt = 0L
    rows.foreach { r =>
      cnt += 1
      if (firstSeen(users, r.user_id)) added += r.user_id
    }
    val tot = nEvents + cnt
    val newUsers = added.result()
    (tot,
      if (cnt == 0) Nil
      else if (newUsers.isEmpty) Seq(PrivacyUpdate(et, hr, vb, null, tot))
      else newUsers.map(u => PrivacyUpdate(et, hr, vb, Long.box(u), tot)))
  }

  /** Fold the accumulated update table to w51's exact report: distinct
    * users per group are the emitted user rows (state guarantees one
    * per user), event totals the monotone max; then w51's risk cut,
    * exposure semi-join and per-type rollup — column- and
    * value-identical to `RelOps.w51KAnonymity` (the spec pins it).
    */
  def privacyBoard(updates: DataFrame): DataFrame = {
    val grp = graft.Caches.cache(updates
      .groupBy("event_type", "hr", "vb")
      .agg(countDistinct(col("user_id")) // null = count-only row, ignored
        .as("n_users"),
        max(col("n_events")).as("n_events")))
    // NOTE: this board self-joins `updates`; feed it a SINK-READ frame
    // (parquet/Delta), not the in-memory MemorySink view — that leaf
    // cannot mint fresh attribute ids for DeduplicateRelations and the
    // self-join fails analysis (the spec round-trips through parquet,
    // which is what a production checkpointed sink yields anyway).
    val risky = grp.filter(col("n_users") < 5)
      .select("event_type", "hr", "vb")
    val exposed = updates.filter(col("user_id").isNotNull)
      .join(broadcast(risky), Seq("event_type", "hr", "vb"), "left_semi")
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users_exposed"))
    grp.groupBy("event_type")
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("n_users") < 5, 1L).otherwise(0L))
          .as("n_risky_groups"),
        sum(col("n_events")).as("n_events"),
        sum(when(col("n_users") < 5, col("n_events")).otherwise(0L))
          .as("n_events_exposed"))
      .join(exposed, Seq("event_type"), "left")
      .select(col("event_type"), col("n_groups"), col("n_risky_groups"),
        col("n_events"), col("n_events_exposed"),
        coalesce(col("n_users_exposed"), lit(0L)).as("n_users_exposed"),
        (col("n_events_exposed").cast("double") / col("n_events"))
          .as("exposed_share"))
      .orderBy("event_type")
  }

  /** Stream of per-QI-group l-diversity updates (w52's continual-ingest
    * twin — E252): project each event to w52's QI tuple (hour, value
    * decade) and fold per group with [[LDiversityProcessor]]. The
    * privacy failure mode is the HOMOGENEITY attack (w52's doc), so
    * the state tracked per group is the distinct SENSITIVE-value set
    * (event_type), next to the seen-user set w52's weak-user exposure
    * count needs.
    */
  def lDiversityTws(events: DataFrame): Dataset[LDivUpdate] = {
    import events.sparkSession.implicits._
    qiEvents(events)
      .groupByKey(e => (e.hr, e.vb))
      .transformWithState(new LDiversityProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Fold the accumulated update table to w52's exact report: distinct
    * sensitive values per group are the emitted non-null event_type
    * rows (state guarantees one per value), distinct weak-group users
    * the emitted non-negative user_id rows, event totals the monotone
    * max; then w52's l = 3 cut, homogeneity count, weak-exposure
    * semi-join and per-hour rollup — column- and value-identical to
    * `RelOps.w52LDiversity` (the spec pins it). Same sink-read caveat
    * as [[privacyBoard]]: the self-join needs a parquet/Delta frame,
    * not the MemorySink view.
    */
  def lDiversityBoard(updates: DataFrame): DataFrame = {
    val grp = graft.Caches.cache(updates
      .groupBy("hr", "vb")
      .agg(countDistinct(col("event_type")).as("n_sens"),
        max(col("n_events")).as("n_events")))
    val weak = grp.filter(col("n_sens") < 3).select("hr", "vb")
    val exposed = updates.filter(col("user_id").isNotNull)
      .join(broadcast(weak), Seq("hr", "vb"), "left_semi")
      .groupBy("hr")
      .agg(countDistinct(col("user_id")).as("n_users_weak"))
    grp.groupBy("hr")
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("n_sens") === 1, 1L).otherwise(0L))
          .as("n_homogeneous"),
        sum(when(col("n_sens") < 3, 1L).otherwise(0L))
          .as("n_weak_groups"),
        sum(col("n_events")).as("n_events"),
        sum(when(col("n_sens") < 3, col("n_events")).otherwise(0L))
          .as("n_events_weak"))
      .join(exposed, Seq("hr"), "left")
      .select(col("hr"), col("n_groups"), col("n_homogeneous"),
        col("n_weak_groups"), col("n_events"), col("n_events_weak"),
        coalesce(col("n_users_weak"), lit(0L)).as("n_users_weak"),
        (col("n_events_weak").cast("double") / col("n_events"))
          .as("weak_share"))
      .orderBy("hr")
  }

  /** Stream of per-(QI group, sensitive value) count updates (w53's
    * continual-ingest twin — E254, completing the privacy trilogy's
    * twins next to E249/E252): project each event to w53's QI tuple
    * and fold per group. t-closeness is a DISTRIBUTIONAL audit, so the
    * tally is the per-type running count, not a seen-set — each update
    * row carries the group's new total for its type and the board
    * folds them back with a monotone max. A group emits O(touched
    * values) rows per batch.
    */
  def tClosenessTws(events: DataFrame): Dataset[TCloseUpdate] = {
    import events.sparkSession.implicits._
    foldByKey(qiEvents(events))(e => (e.hr, e.vb))(_ => false,
      tClosenessStep)
  }

  private def tClosenessStep(key: (Long, Long), s: Boolean,
      rows: Iterator[PrivEvent], counts: Tally[String])
      : (Boolean, Seq[TCloseUpdate]) =
    (s, countInto(counts, rows.map(_.event_type))
      .map { case (tpe, n) => TCloseUpdate(key._1, key._2, tpe, n) })

  /** Fold the accumulated update table to w53's exact report: the
    * latest count per (group, type) is the monotone max over updates,
    * and the fold from cells is w53's own
    * (`RelOps.tClosenessFromCells` — the spec pins column- and
    * value-identity). Same sink-read caveat as [[privacyBoard]].
    */
  def tClosenessBoard(updates: DataFrame): DataFrame =
    graft.ops.RelOps.tClosenessFromCells(
      updates.groupBy("hr", "vb", "event_type")
        .agg(max(col("n_gt")).as("n_gt")))
}

/** Update rows for the streaming t-closeness twin (w53 — E254): one row
  * per (group, sensitive value) TOUCHED in a micro-batch, carrying the
  * post-batch running count for that value.
  */
case class TCloseUpdate(hr: Long, vb: Long, event_type: String, n_gt: Long)

/** Update rows for the streaming l-diversity twin (w52 — E252):
  * event_type is null except on rows introducing a NEW sensitive value
  * to the group, user_id is null except on rows introducing a NEW user
  * (boxed, not a -1 sentinel — the PrivacyUpdate rationale) — the two
  * channels zip into shared rows so a batch emits
  * max(new values, new users, 1 if touched) rows per group.
  */
case class LDivUpdate(hr: Long, vb: Long,
    event_type: String, user_id: java.lang.Long, n_events: Long)

/** StatefulProcessor for [[PrivacyJobs.lDiversityTws]]: keyed by the
  * QI tuple (hr, vb), a MapState of sensitive values ALREADY SEEN
  * (each event_type enters a group's diversity count exactly once), a
  * MapState of seen users (w52's weak-group user exposure needs
  * distinct users), and the running event count.
  */
class LDiversityProcessor
    extends StatefulProcessor[(Long, Long), PrivEvent, LDivUpdate] {
  @transient private var sens: MapState[String, Boolean] = _
  @transient private var users: MapState[Long, Boolean] = _
  @transient private var nEvents: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    sens = getHandle.getMapState[String, Boolean]("sens",
      org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.scalaBoolean, TTLConfig.NONE)
    users = getHandle.getMapState[Long, Boolean]("users",
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.scalaBoolean, TTLConfig.NONE)
    nEvents = getHandle.getValueState[Long]("n_events",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(
      key: (Long, Long),
      rows: Iterator[PrivEvent],
      timerValues: TimerValues): Iterator[LDivUpdate] = {
    // indexed builders: the zip below reads s(i)/u(i) per output row
    val newSens = Vector.newBuilder[String]
    val newUsers = Vector.newBuilder[Long]
    var cnt = 0L
    rows.foreach { r =>
      cnt += 1
      if (!sens.containsKey(r.event_type)) {
        sens.updateValue(r.event_type, true)
        newSens += r.event_type
      }
      if (!users.containsKey(r.user_id)) {
        users.updateValue(r.user_id, true)
        newUsers += r.user_id
      }
    }
    if (cnt == 0) Iterator.empty
    else {
      val tot = (if (nEvents.exists()) nEvents.get() else 0L) + cnt
      nEvents.update(tot)
      val (hr, vb) = key
      val s = newSens.result()
      val u = newUsers.result()
      val n = math.max(math.max(s.size, u.size), 1)
      (0 until n).iterator.map(i => LDivUpdate(hr, vb,
        if (i < s.size) s(i) else null,
        if (i < u.size) Long.box(u(i)) else null, tot))
    }
  }
}

/** Streaming functional-dependency drift (E256) — p37's
  * continual-ingest twin for its events registry entry: detect a key
  * that starts MULTIPLYING while data is still arriving, before any
  * join consumes it (batch p37 only ever sees the damage after the
  * fact). Keyed by the determinant value; state = the seen
  * dependent-value set (MapState — each dependent enters the distinct
  * count exactly once) plus the running distinct count (ValueState —
  * O(1) reads, never an O(state) key scan); a batch emits ONE update
  * row per determinant whose count GREW, carrying the post-batch
  * count (monotone, so the board folds with max — the E254 shape).
  *
  * 100 TB posture: state is O(live determinants x distinct dependents
  * per determinant) point lookups — for a healthy FD that is one
  * entry per determinant; update volume is bounded by NEW (det, dep)
  * pairs per batch, not events.
  */
object FdJobs {
  /** Per-determinant distinct-dependent updates for p37's events FD
    * (user_id → event_type). Strings for both sides — p37's own
    * normalization, so the board's fold is value-identical to batch.
    *
    * Nulls are filtered BEFORE the stateful op (ADVICE r14, mirroring
    * [[IndJobs.indTws]]): batch p37's countDistinct(dep) ignores null
    * dependents and its fold clamps all-null groups, while a null
    * reaching MapState.containsKey would either throw in the state
    * store or inflate n_dep — breaking the pinned value-identical-to-
    * batch contract. A null det keys a group batch p37 also counts
    * (groupBy keeps nulls), but its dep-distinct set obeys the same
    * null-dep rule, so only `dep` needs the isNotNull gate; `det` gets
    * one too because a null state-store grouping key is undefined
    * behavior — the divergence from batch (batch counts the null-det
    * group, the twin drops it) is deliberate and documented here.
    */
  def fdTws(events: DataFrame): Dataset[FdUpdate] = {
    import events.sparkSession.implicits._
    val pairs = events.select(col("user_id").cast("string").as("det"),
        col("event_type").cast("string").as("dep"))
      .filter(col("det").isNotNull && col("dep").isNotNull)
      .as[FdEvent]
    foldByKey(pairs)(_.det)(_ => 0L, fdStep)
  }

  /** Emits only when the distinct-dependent count grows. */
  private def fdStep(det: String, nDep: Long, rows: Iterator[FdEvent],
      seen: Tally[String]): (Long, Seq[FdUpdate]) = {
    val n = nDep + rows.count(r => firstSeen(seen, r.dep))
    (n, if (n == nDep) Nil else Seq(FdUpdate(det, n)))
  }

  /** Fold the accumulated update table to p37's exact row for the
    * events FD: latest count per determinant = monotone max, then
    * `PipelineOps.fdFoldOf` — shared code, not a restatement (the
    * spec pins value identity). Same sink-read caveat as
    * [[PrivacyJobs.privacyBoard]].
    */
  def fdBoard(updates: DataFrame): DataFrame =
    graft.ops.PipelineOps.fdFoldOf(updates
      .groupBy("det").agg(max(col("n_dep")).as("n_dep"))
      .select(lit("events").as("table_name"),
        lit("user_id").as("determinant"),
        lit("event_type").as("dependent"),
        col("det"), col("n_dep")))
}

/** Input/update rows for the streaming FD twin (E256). */
case class FdEvent(det: String, dep: String)
case class FdUpdate(det: String, n_dep: Long)

/** Streaming inclusion-dependency drift (E258) — p38's
  * continual-ingest twin for its events registry entry
  * (events.user_id ⊆ customer.c_custkey): the LATE-ARRIVING-DIMENSION
  * monitor. A fact batch that lands before its dimension rows shows up
  * here as live orphan keys, and un-orphans as the dimension catches
  * up — batch p38 only ever sees the final snapshot. Input is one
  * tagged stream (side ∈ {fk, pk}, value) — in production the fact and
  * dimension ingest topics union into it. Keyed by the VALUE; the fold
  * state = the fk row count + the pk-membership flag (two longs).
  * Both are MONOTONE (a count only grows; membership flips 0→1 once),
  * so the accumulated update table folds with plain maxes — the
  * E254/E256 shape. A batch emits one row per value whose count grew
  * or whose membership flipped, and only once the value has fk rows
  * (pk-only values keep silent state: the batch audit is fk-driven and
  * never reports them).
  *
  * Null values are filtered before the stateful op: a null fk never
  * violates and a null pk satisfies nothing (p38's SQL FK semantics);
  * the board's n_fk_null is therefore 0 — count nulls statelessly
  * upstream if the feed can carry them.
  *
  * 100 TB posture: state is two longs per distinct key value on
  * either side; update volume is bounded by NEW (value, fact-count)
  * growth per batch, not events. Same checkpointed-sink caveat as
  * [[PrivacyJobs.privacyBoard]].
  */
object IndJobs {
  /** Per-value (fk row count, pk membership) updates for p38's events
    * IND. Strings for the value — p38's own normalization, so the
    * board's fold is value-identical to batch.
    */
  def indTws(tagged: DataFrame): Dataset[IndUpdate] = {
    import tagged.sparkSession.implicits._
    val sides = tagged.select(col("side").cast("string").as("side"),
        col("v").cast("string").as("v"))
      .filter(col("v").isNotNull)
      .as[IndEvent]
    foldByKey(sides)(_.v)(_ => (0L, 0L), indStep)
  }

  /** Folds (fk row count, pk membership); emits only when the count
    * grows or membership flips, and never before the value has fk rows.
    */
  private def indStep(v: String, prev: (Long, Long), rows: Iterator[IndEvent],
      unused: Tally[Long]): ((Long, Long), Seq[IndUpdate]) = {
    var (n, inPk) = prev
    rows.foreach { r => if (r.side == "fk") n += 1 else inPk = 1L }
    ((n, inPk),
      if ((n, inPk) == prev || n == 0L) Nil else Seq(IndUpdate(v, n, inPk)))
  }

  /** Fold the accumulated update table to p38's exact row for the
    * events IND: latest count and membership per value = monotone
    * maxes, then `PipelineOps.indFoldOf` — shared code, not a
    * restatement (the spec pins value identity). in_pk maps 1 → 1 and
    * 0 → null because the batch fold reads absence as a null join
    * miss.
    */
  def indBoard(updates: DataFrame): DataFrame =
    graft.ops.PipelineOps.indFoldOf(updates
      .groupBy("v").agg(max(col("n_rows")).as("n_rows"),
        max(col("in_pk")).as("in_pk_max"))
      .select(lit("events").as("fk_table"),
        lit("user_id").as("fk_column"),
        lit("customer").as("pk_table"),
        lit("c_custkey").as("pk_column"),
        col("v"), col("n_rows"),
        when(col("in_pk_max") === 1L, 1L).otherwise(lit(null)
          .cast("long")).as("in_pk")))
}

/** Input/update rows for the streaming IND twin (E258). */
case class IndEvent(side: String, v: String)
case class IndUpdate(v: String, n_rows: Long, in_pk: Long)

/** Streaming event-time disorder (E260) — w54's continual-ingest
  * twin: the watermark-delay calibrator run WHERE the stream arrives,
  * before any `withWatermark` is deployed (batch w54 reads a lakehouse
  * table after the fact; this reads the live feed it would calibrate).
  * Keyed by the stream name; state = four longs (events seen, late
  * rows, max lateness, running max event time). Arrival order IS the
  * ingest order a watermark would see, so the statistic is inherently
  * sequential per stream: rows are folded in seq order within each
  * micro-batch (the E201 in-batch-sort contract; cross-batch in-order
  * arrival per stream is the documented streaming-ingest assumption).
  * A batch emits ONE summary row per touched stream carrying the
  * POST-BATCH running totals — all monotone, so the accumulated update
  * table folds with plain maxes (the E254/E256/E258 shape) straight
  * into w54's own finisher.
  *
  * 100 TB posture — the honest caveat: a per-stream total-order
  * statistic funnels each stream through one state partition, so the
  * stateful op parallelizes ACROSS streams, not within one; that is
  * the cost of reading the number at ingest. Batch w54's two-phase
  * bucket form is the shape that parallelizes WITHIN a stream (its
  * buckets are the shard-merge), and the spec pins the two equal.
  * Update volume is one row per (stream, batch).
  */
object DisorderJobs {
  /** Per-stream running disorder totals over a (stream, seq, tus)
    * feed. Longs throughout — w54's own normalization, so the board's
    * fold is value-identical to batch.
    */
  def disorderTws(rows: DataFrame): Dataset[DisorderUpdate] = {
    import rows.sparkSession.implicits._
    val events = rows.select(col("stream").cast("string").as("stream"),
        col("seq").cast("long").as("seq"),
        col("tus").cast("long").as("tus"))
      .as[DisorderEvent]
    foldByKey(events)(_.stream)(
      s => (DisorderUpdate(s, 0L, 0L, 0L), Long.MinValue), disorderStep)
  }

  /** Folds each micro-batch's rows in seq order against the carried
    * (totals, running max event time).
    *
    * Buffering bound (ADVICE r14): the in-batch seq sort materializes the
    * whole per-stream micro-batch in executor memory (`rows.toSeq`) —
    * UPDATE volume is bounded (one row per stream per batch), but INPUT
    * buffering is not. A hot stream must cap micro-batch size at the
    * source (`maxOffsetsPerTrigger` / `maxFilesPerTrigger`) in any
    * deployment of this job; the state store itself is never the problem
    * (four longs per stream).
    */
  private def disorderStep(stream: String, prev: (DisorderUpdate, Long),
      rows: Iterator[DisorderEvent], unused: Tally[Long])
      : ((DisorderUpdate, Long), Seq[DisorderUpdate]) = {
    var (t, m) = prev
    rows.toSeq.sortBy(_.seq).foreach { r =>
      val late = m > r.tus
      t = DisorderUpdate(stream, t.n_events + 1,
        t.n_late + (if (late) 1L else 0L),
        if (late) math.max(t.max_late_us, m - r.tus) else t.max_late_us)
      if (r.tus > m) m = r.tus
    }
    ((t, m), if (t == prev._1) Nil else Seq(t))
  }

  /** Fold the accumulated update table to w54's exact row shape:
    * latest totals per stream = monotone maxes, then
    * `RelOps.disorderFinish` — shared code, not a restatement (the
    * spec pins value identity). `names` is the |streams|-row
    * (stream, seq_column, ts_column) label frame the batch registry
    * carries. Same sink-read caveat as [[PrivacyJobs.privacyBoard]].
    */
  def disorderBoard(updates: DataFrame,
      names: DataFrame): DataFrame =
    graft.ops.RelOps.disorderFinish(updates
      .groupBy("stream").agg(max(col("n_events")).as("n_events"),
        max(col("n_late")).as("n_late"),
        max(col("max_late_us")).as("max_late_us")),
      names)
}

/** Input/update rows for the streaming disorder twin (E260). */
case class DisorderEvent(stream: String, seq: Long, tus: Long)
case class DisorderUpdate(stream: String, n_events: Long, n_late: Long,
    max_late_us: Long)
