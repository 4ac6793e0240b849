package graft.velib

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.{Drain, VersionedState}

/** The full bronze -> silver -> gold -> serving loop as ONE streaming
  * invocation — the Spark-native form of the reference's eager asset
  * chain (`/root/reference/src/definitions.py:10-14`: each sensor drain
  * triggers silver, alerts, and the serving refresh in sequence).
  *
  * One `foreachBatch` per micro-batch of raw status records:
  *   1. parsed batch APPENDS to the date-partitioned silver table
  *      (the SilverJob sink shape);
  *   2. enrichment + gold alerts RECOMPUTE over silver-so-far and
  *      overwrite the gold snapshot (gold needs full-history windows,
  *      so it is a snapshot, not an increment);
  *   3. the serving layer's critical-alerts endpoint re-materializes
  *      from the fresh gold + enriched history.
  *
  * The loop has two forms, and gold's `trend` (the enriched `net_flow`:
  * bikes minus the station's previous reading) two definitions:
  *   - `runEndToEnd` is steps 1-3 above. Its `trend` is `EnrichJob`'s
  *     lag over silver-so-far.
  *   - `runEndToEndIncremental` replaces step 2's history scan with an
  *     O(stations) per-station state table and writes gold only. Its
  *     `trend` is the difference of the state's top-2 readings by
  *     (ts, seq).
  *
  * At scale step 2 is the one to bound. GoldAlerts' own W1 dedup is
  * horizon-filtered before its window, but the UPSTREAM enrichment's
  * baseline_avg is a running mean over all history, so the recompute
  * form honestly scans silver-so-far — fine at the reference's volumes
  * (one city's stations), not at 100 TB. The incremental form is the
  * bounded shape: a compact per-station running-aggregate table
  * maintained per micro-batch (the Lakehouse.upsertPartitions
  * discipline), so gold reads O(stations) state rows instead of raw
  * history.
  */
object Pipeline {

  /** SilverJob's parsed wire columns -> the canonical schema the
    * enrichment consumes. `seq` is a deterministic per-row tiebreaker
    * (xxhash64 of `stationcode`, `duedate` and `numbikesavailable`)
    * standing in for the events table's monotone seq — ties on
    * (station, last_reported) break identically on every run. An exact
    * re-send of a record hashes those three columns to the same `seq`,
    * so it still ties with its original on (last_reported, seq) and
    * which copy sorts first is not pinned.
    */
  def canonical(parsed: DataFrame): DataFrame = parsed.select(
    col("stationcode").as("station_code"),
    col("name").as("station_name"),
    col("numbikesavailable").as("bikes_available"),
    col("numdocksavailable").as("docks_available"),
    col("last_reported"),
    xxhash64(col("stationcode"), col("duedate"),
      col("numbikesavailable")).as("seq"))

  /** Incremental end-to-end variant: the bounded shape from the
    * object Scaladoc. Silver appends as usual, but the gold snapshot
    * derives from an O(stations) per-station aggregate STATE table
    * maintained per micro-batch — never from silver history:
    *
    *   - `n` / `sum_bikes`: the running count/sum behind baseline_avg
    *     (integer-exact, so `sum/n` in double is bit-identical to the
    *     batch recompute's exact-sum `EnrichJob.exactAvg`);
    *   - `readings`: the station's trailing-1h readings plus its top-2
    *     by (ts, seq) — exactly what trend (lag) and moving_avg_1h
    *     (inclusive 1h RANGE frame) need; everything older can never
    *     re-enter a future window (the latest timestamp only grows), so
    *     dropping it is lossless. Bounded by feed rate x 1h.
    *
    * The state-derived per-station latest rows then run through the
    * SAME `GoldAlerts.alerts` rule code as the batch path, so gold
    * output is bit-identical by construction (spec-pinned against
    * `runEndToEnd` across drains, including the alert flip).
    *
    * State is written to a VERSIONED dir `state/b<batchId>` and each
    * batch merges from the newest `_SUCCESS`-complete version strictly
    * below its own id: a crash mid-write leaves a version the next run
    * ignores, and a replayed batch re-merges from its predecessor —
    * exactly-once state without a state store. Older versions are
    * pruned after a successful write. (The silver append shares the
    * usual append-log caveat: a mid-batch crash can duplicate a file;
    * state is immune since replay re-derives it.)
    *
    * `failpoint` is a crash-injection hook for the replay spec: called
    * with a point name + batchId at the vulnerable spots (after the
    * state write, before the gold write); production callers leave the
    * no-op default. Throwing from it fails the streaming query exactly
    * like a process kill at that point would.
    */
  def runEndToEndIncremental(
      spark: SparkSession, inputDir: String, root: String,
      failpoint: (String, Long) => Unit = (_, _) => ()): Long = {
    val statePath = s"$root/state"
    val readingT =
      "STRUCT<ts: TIMESTAMP, seq: BIGINT, bikes: INT, name: STRING>"
    val writer = SilverJob.parseRaw(spark.readStream.schema("value STRING")
        .text(inputDir)).writeStream
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        // persist: the body runs several actions over the batch (silver
        // append + state merge); uncached, each action re-reads the
        // streaming source (and inflates numInputRows)
        val batch = batch0.persist()
        try {
        batch.write.mode("append").partitionBy("date")
          .parquet(s"$root/silver")
        val bAgg = canonical(batch).groupBy(col("station_code")).agg(
          count(lit(1)).as("bn"),
          sum(col("bikes_available")).cast("long").as("bsum"),
          collect_list(struct(
            col("last_reported").as("ts"), col("seq"),
            col("bikes_available").as("bikes"),
            col("station_name").as("name"))).as("breadings"))
        val prior = VersionedState.versions(spark, statePath, batchId)
          .lastOption match {
          case Some(v) => spark.read.parquet(s"$statePath/b$v")
          case None => spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType.fromDDL(
              "station_code STRING, n BIGINT, sum_bikes BIGINT, " +
                s"readings ARRAY<$readingT>"))
        }
        val emptyArr = s"CAST(array() AS ARRAY<$readingT>)"
        val rows = prior.join(bAgg, Seq("station_code"), "full_outer")
          .select(col("station_code"),
            (coalesce(col("n"), lit(0L)) + coalesce(col("bn"), lit(0L)))
              .as("n"),
            (coalesce(col("sum_bikes"), lit(0L)) +
              coalesce(col("bsum"), lit(0L))).as("sum_bikes"),
            explode(concat(coalesce(col("readings"), expr(emptyArr)),
              coalesce(col("breadings"), expr(emptyArr)))).as("r"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("station_code"))
          .orderBy(col("r.ts").desc, col("r.seq").desc)
        // rn 1 = latest, rn 2 = trend's lag row; the inclusive 1h frame
        // keeps micros(r) >= micros(latest) - 3600e6 (RANGE semantics)
        val ranked = graft.Caches.cache(rows
          .withColumn("rn", row_number().over(w))
          .withColumn("latest_us", max(unix_micros(col("r.ts"))).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("station_code"))))
          .withColumn("in_1h",
            unix_micros(col("r.ts")) >= col("latest_us") - 3600L * 1000000L))
        val newState = ranked
          .filter(col("rn") <= 2 || col("in_1h"))
          .groupBy(col("station_code"))
          .agg(first(col("n")).as("n"), first(col("sum_bikes")).as("sum_bikes"),
            collect_list(col("r")).as("readings"))
        newState.coalesce(1).write.mode("overwrite")
          .parquet(s"$statePath/b$batchId")
        failpoint("state-written", batchId)
        // state -> the enriched-latest frame GoldAlerts expects
        val latest = ranked.filter(col("rn") === 1).select(
          col("station_code"), col("r.name").as("station_name"),
          col("r.bikes").as("bikes_available"),
          col("r.ts").as("last_reported"), col("r.seq").as("seq"),
          col("n"), col("sum_bikes"))
        val prev = ranked.filter(col("rn") === 2)
          .select(col("station_code"), col("r.bikes").as("prev_bikes"))
        val avg1h = ranked.filter(col("in_1h"))
          .groupBy(col("station_code"))
          .agg((sum(col("r.bikes").cast(
              org.apache.spark.sql.types.DecimalType(28, 6)))
            .cast("double") / count(lit(1))).as("moving_avg_1h"))
        val enrichedLatest = latest
          .join(prev, Seq("station_code"), "left")
          .join(avg1h, Seq("station_code"))
          .select(col("station_code"), col("station_name"),
            col("bikes_available"), col("last_reported"), col("seq"),
            (col("bikes_available") - col("prev_bikes")).as("net_flow"),
            col("moving_avg_1h"),
            (col("sum_bikes").cast(
                org.apache.spark.sql.types.DecimalType(28, 6))
              .cast("double") / col("n")).as("baseline_avg"))
        GoldAlerts.alerts(enrichedLatest, col("seq"))
          .coalesce(1).write.mode("overwrite").parquet(s"$root/gold")
        // prune superseded state versions LAST: the cached `ranked`
        // plan lazily reads the prior version, so deleting it before
        // the gold write could race an uncached recompute
        VersionedState.prune(spark, statePath, batchId)
        } finally {
          // also on a mid-batch failure: a crashed batch must not leave
          // its input pinned in executor memory for the session's life
          graft.Caches.unpersistAll()
          batch.unpersist()
        }
        ()
      }
    Drain.availableNow(writer, s"$root/ckpt")
  }

  /** Drain `inputDir` (JSON-lines status files, the Kafka stand-in) and
    * run the full chain once per micro-batch. Paths created under
    * `root`: silver/ (append, partitioned by date), gold/ (snapshot),
    * serving/ (snapshot). Checkpointed: a re-drain with no new files
    * rewrites nothing. Returns rows ingested this invocation.
    *
    * Gold is written as one file through `repartition(1)`, a 1-partition
    * shuffle. A `coalesce(1)` there would be a narrow dependency: it pulls
    * the whole upstream stage (enrichment windows, W1 dedup) into the one
    * task that writes the file, so the history scan would run on a
    * single core. Behind the shuffle that stage keeps its partitions and
    * only the (at most one row per station) gold rows meet in one task.
    */
  def runEndToEnd(spark: SparkSession, inputDir: String, root: String): Long = {
    val silverPath = s"$root/silver"
    val raw = spark.readStream.schema("value STRING").text(inputDir)
    val writer = SilverJob.parseRaw(raw).writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").partitionBy("date").parquet(silverPath)
        // known schemas: a bare parquet read runs a footer-reading job
        val enriched = EnrichJob.enrich(canonical(
          spark.read.schema(batch.schema).parquet(silverPath)), col("seq"))
        val gold = GoldAlerts.alerts(enriched, col("seq"))
        gold.repartition(1).write.mode("overwrite").parquet(s"$root/gold")
        Serving.criticalAlerts(
            spark.read.schema(gold.schema).parquet(s"$root/gold"),
            enriched, col("seq"))
          .coalesce(1).write.mode("overwrite").parquet(s"$root/serving")
        graft.Caches.unpersistAll() // serving's intra-query target cache
        ()
      }
    Drain.availableNow(writer, s"$root/ckpt")
  }
}
