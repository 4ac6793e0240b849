package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Caches
import graft.velib.{EnrichJob, GoldAlerts, Pipeline, Serving, SilverJob}

/** The Velib stream workloads: a station-status feed replayed through
  * `Pipeline.runEndToEndIncremental` or `Pipeline.runEndToEnd`.
  *
  * The tick files are generated before the JVM starts (`gen.py`) and sit
  * in `<work>/staged`. One run: set-up (fresh session plus a warm-up
  * drain of a separate one-tick feed) `Main.Setups` times; on the last
  * session, a backfill (the backlog ticks published into a fresh input
  * dir and drained by one call into a fresh lake); then for `--seconds`
  * one generator thread publishes one tick every `--interval` seconds on
  * an open-loop schedule (write elsewhere, then an atomic rename into
  * the backfill's input dir) while this thread calls the drain whenever
  * a tick is pending; then the remaining `Backfills - 1` backfills, each
  * into its own fresh input dir and lake. A tick is fresh
  * when the drain call whose cumulative ingested rows cover it returns:
  * both forms have written gold by then. After the loop: silver must
  * hold every published row, and gold (and, for the recompute form,
  * serving) must equal the batch recompute over all published tick
  * files.
  */
object Stream {
  /** Backlog drains per run; `cold_s` is their median. */
  val Backfills = 5

  final case class Drain(index: Int, start: Double, end: Double, ticks: Int,
      warmup: Boolean, traced: Boolean, failed: Boolean, cpuS: Double) {
    def seconds: Double = (end - start) / 1000
  }

  private def tickName(i: Int) = f"tick-$i%06d.jsonl"

  /** Atomic publication: copy under a dot-name the file source ignores,
    * then rename into place.
    */
  private def publish(from: String, toDir: String, i: Int): Unit = {
    val tmp = Paths.get(toDir, s".${tickName(i)}.tmp")
    Files.copy(Paths.get(from, tickName(i)), tmp,
      StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, Paths.get(toDir, tickName(i)),
      StandardCopyOption.ATOMIC_MOVE)
  }

  private def noopSeconds(df: DataFrame): Double = {
    val s = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    Main.secondsSince(s)
  }

  def run(a: Main.Args, incremental: Boolean): Map[String, Any] = {
    val stations = a.int("stations")
    val backlog = a.int("backlog")
    val live = a.int("live")
    val interval = a.double("interval")
    val lateBound = a.double("late_bound")
    // the first live ticks let the JIT settle; they are drained and
    // checked like every other tick but not timed
    val warmupTicks = a.int("warmup_ticks")
    val staged = s"${a.work}/staged"
    def drainOnce(spark: SparkSession, input: String, root: String): Long =
      if (incremental) Pipeline.runEndToEndIncremental(spark, input, root)
      else Pipeline.runEndToEnd(spark, input, root)

    // ---- set-up, `Main.Setups` times: a fresh session plus a warm-up
    // drain of its own one-tick feed
    var spark: SparkSession = null
    val setupS = (1 to Main.Setups).map { k =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = Main.session(a)
      val w = s"${a.work}/warmup-$k"
      Files.createDirectories(Paths.get(s"$w/in"))
      publish(s"${a.work}/warm", s"$w/in", 0)
      drainOnce(spark, s"$w/in", s"$w/lake")
      Main.secondsSince(t0)
    }

    // ---- backfill: the whole backlog published into a fresh input dir
    // and drained by one call into a fresh lake. The first runs before
    // the open loop, which continues on its input dir and lake; the rest
    // run after it, so most of them find the JIT settled.
    def backfill(k: Int): (Double, Long) = {
      val in = s"${a.work}/in-$k"
      Files.createDirectories(Paths.get(in))
      (0 until backlog).foreach(i => publish(staged, in, i))
      val b0 = System.nanoTime()
      val rows = drainOnce(spark, in, s"${a.work}/lake-$k")
      (Main.secondsSince(b0), rows)
    }
    val first = backfill(1)
    val in = s"${a.work}/in-1"
    val lake = s"${a.work}/lake-1"
    val backlogRows = first._2
    val inst = new Instruments(spark, a.traced)
    val spans = inst.spans
    Jvm.resetHeapPeak()

    // ---- open loop
    val published = new AtomicInteger(0)
    val publishedAt = new Array[Double](live)
    val loop0 = spans.now()
    val t0 = loop0 + 200.0 // first tick due shortly after start
    val deadline = t0 + a.seconds * 1000
    def due(j: Int): Double = t0 + j * interval * 1000
    val generator = new Thread(() => {
      var j = 0
      while (j < live && due(j) < deadline) {
        val wait = due(j) - spans.now()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        publish(staged, in, backlog + j)
        publishedAt(j) = spans.now()
        j += 1
        published.set(j)
      }
    }, "perfbench-generator")
    generator.setDaemon(true)
    generator.start()

    val drains = scala.collection.mutable.ArrayBuffer.empty[Drain]
    val fresh = scala.collection.mutable.ArrayBuffer.empty[Double]
    var covered = 0 // live ticks covered so far
    var cumRows = backlogRows
    var cg = (0.0, 0L) // codegen (seconds, classes) inside traced drains
    var gcTraced = 0.0
    val giveUp = deadline + 60000
    while ((generator.isAlive || covered < published.get) && spans.now() < giveUp) {
      if (covered < published.get) {
        val k = drains.size + 1
        val warmup = covered < warmupTicks
        val traced = a.traced && !warmup && k % 2 == 0
        if (a.traced) { inst.settle(); inst.record(traced) }
        val (cgS0, cls0) = Codegen.snapshot()
        val gc0 = Jvm.gcSeconds()
        val c0 = Jvm.cpuSeconds()
        val s0 = spans.now()
        val rows = try drainOnce(spark, in, lake) catch {
          case e: Exception =>
            System.err.println(s"drain $k failed: $e")
            -1L
        }
        val s1 = spans.now()
        if (traced) {
          val (cgS1, cls1) = Codegen.snapshot()
          cg = (cg._1 + cgS1 - cgS0, cg._2 + cls1 - cls0)
          gcTraced += Jvm.gcSeconds() - gc0
        }
        val before = covered
        if (rows > 0) {
          cumRows += rows
          covered = math.min((cumRows / stations).toInt - backlog,
            published.get)
        }
        // spans: tick (due -> gold written) -> drain
        val tickSpans = (before until covered).map { j =>
          if (j >= warmupTicks) fresh += (s1 - due(j)) / 1000
          spans.add(0, s"tick-$j", "tick", due(j), s1)
        }
        spans.add(tickSpans.headOption.getOrElse(0L),
          if (covered > before) s"tick-$before" else s"drain-$k", "drain", s0, s1)
        drains += Drain(k, s0, s1, covered - before, warmup, traced, rows < 0,
          Jvm.cpuSeconds() - c0)
        if (a.traced) { inst.settle(); inst.record(false) }
      } else Thread.sleep(2)
    }
    generator.join()
    val measuredS = (spans.now() - loop0) / 1000
    inst.settle()
    inst.record(false)
    val checks0 = System.nanoTime()
    val nPublished = published.get
    val late = (0 until nPublished).map(j => (publishedAt(j) - due(j)) / 1000)

    // ---- checks: silver holds every row; gold (+ serving) = batch
    val ticksTotal = backlog + nPublished
    val batch = SilverJob.parseRaw(spark.read.schema("value STRING").text(in))
      .cache()
    val cols = batch.columns.toSeq
    val silver = spark.read.parquet(s"$lake/silver").select(cols.map(col): _*)
    val silverOk = RowHash.of(silver) == RowHash.of(batch)
    val missingTicks = if (silverOk) 0 else {
      val lost = batch.exceptAll(silver).count()
      math.max(1L, (lost + stations - 1) / stations).toInt
    }
    val enrichedBatch = EnrichJob.enrich(Pipeline.canonical(batch), col("seq"))
    val goldBatch = GoldAlerts.alerts(enrichedBatch, col("seq"))
    val gold = spark.read.parquet(s"$lake/gold")
    val goldOk = RowHash.of(gold.select(goldBatch.columns.toSeq.map(col): _*)) ==
      RowHash.of(goldBatch)
    val servingOk = incremental || {
      val expected = Serving.criticalAlerts(goldBatch, enrichedBatch, col("seq"))
      try {
        val got = spark.read.parquet(s"$lake/serving")
        RowHash.of(got.select(expected.columns.toSeq.map(col): _*)) ==
          RowHash.of(expected)
      } finally Caches.unpersistAll()
    }
    batch.unpersist()
    val jsonBytes = (0 until ticksTotal)
      .map(i => Files.size(Paths.get(in, tickName(i)))).sum
    val lakeBytes = Du.bytes(lake, "")

    val drainFailures = drains.count(_.failed)
    val checksFailed = Seq(!goldOk, !servingOk).count(identity)
    val untracedDrains = drains.filterNot(d => d.traced || d.warmup).toSeq
    val out = Map[String, Any](
      "setup_s" -> setupS,
      "drain_s" -> untracedDrains.map(_.seconds),
      "freshness_s" -> fresh.toSeq,
      "measured_s" -> measuredS,
      "drain_cpu_s" -> untracedDrains.map(_.cpuS),
      "space_bytes" -> lakeBytes,
      "input_bytes" -> jsonBytes,
      "late_max_s" -> (if (late.isEmpty) 0.0 else late.max),
      "late_bound_s" -> lateBound,
      "ticks" -> ticksTotal,
      "checks_s" -> Main.secondsSince(checks0),
      "attempted" -> (drains.size + Backfills + ticksTotal + 2),
      "checks" -> Map("silver" -> silverOk, "missing_ticks" -> missingTicks,
        "gold" -> goldOk, "serving" -> servingOk))

    val layers: Map[String, Double] = if (!a.traced) Map.empty else {
      val traced = drains.filter(_.traced).toSeq
      val nT = math.max(traced.size, 1)
      def within(t: Double) = traced.exists(d => t >= d.start && t <= d.end)
      val jobs = inst.scheduler.jobs.asScala.toSeq.filter(j => within(j.start))
      val sparkLayer = Layers.spark(inst.scheduler, jobs.map(_.id).toSet,
        traced.map(_.seconds).sum, a.cores, nT)
      val progress = inst.progress.progress.asScala.toSeq
      val tracedProgress = progress.filter(p => within(p.start))
      def phase(k: String) =
        tracedProgress.map(_.phasesMs.getOrElse(k, 0L)).sum / 1000.0 / nT
      // spans: tick -> drain -> progress phase -> job, by time window
      val drainSpans = spans.all.filter(_.name == "drain")
      progress.foreach { p =>
        drainSpans.find(d => p.start >= d.start && p.start <= d.end).foreach { d =>
          val b = spans.add(d.id, d.group, s"batch.${p.batchId}", p.start,
            p.start + p.phasesMs.getOrElse("triggerExecution", 0L))
          Layers.jobSpans(inst.scheduler, spans,
            inst.scheduler.jobs.asScala.toSeq.filter(j =>
              j.start >= p.start &&
                j.start <= p.start + p.phasesMs.getOrElse("triggerExecution", 0L)),
            b, d.group)
        }
      }
      val phases = inst.plans.phases.asScala.toSeq
      def perDrain(ms: PhaseRec => Long) = phases.map(ms).sum / 1000.0 / nT
      val startS = traced.map { d =>
        d.seconds - tracedProgress.filter(p => p.start >= d.start && p.start <= d.end)
          .map(_.phasesMs.getOrElse("triggerExecution", 0L)).sum / 1000.0
      }
      // recording is on only inside traced drains, so every recorded
      // write is one of theirs
      val goldWriteS = inst.plans.writes.asScala
        .filter(_.path.endsWith("/gold")).map(_.seconds).sum / nT
      val velibLayer = layerCalls(spark, a, in, lake, incremental, goldWriteS)
      TraceFile.write(a("spans"), spans)
      sparkLayer ++ velibLayer ++ Map(
        "catalyst.analysis_s" -> perDrain(_.analysisMs),
        "catalyst.optimization_s" -> perDrain(_.optimizationMs),
        "catalyst.planning_s" -> perDrain(_.planningMs),
        "codegen.compile_s" -> cg._1 / nT,
        "codegen.classes" -> cg._2.toDouble / nT,
        "jvm.gc_s" -> gcTraced / nT,
        "jvm.heap_peak_mb" -> Jvm.heapPeakMb(),
        "stream.drain_s" -> Main.median(traced.map(_.seconds)),
        "stream.start_s" -> Main.median(startS),
        "stream.add_batch_s" -> phase("addBatch"),
        "stream.wal_commit_s" -> phase("walCommit"),
        "stream.latest_offset_s" -> phase("latestOffset"),
        "stream.query_planning_s" -> phase("queryPlanning"),
        "stream.commit_offsets_s" -> phase("commitOffsets"),
        "stream.ticks_per_drain" ->
          drains.map(_.ticks).sum.toDouble / math.max(drains.size, 1),
        "lake.silver_files" ->
          Du.files(s"$lake/silver", "").toDouble,
        "lake.silver_bytes" -> Du.bytes(s"$lake/silver", "").toDouble,
        "lake.state_bytes" -> Du.bytes(s"$lake/state", "").toDouble,
        "lake.ckpt_files" -> Du.files(s"$lake/ckpt", "").toDouble,
        "generator.late_max_s" -> (if (late.isEmpty) 0.0 else late.max),
        "trace.overhead" -> {
          val u = Main.median(untracedDrains.map(_.seconds))
          if (u > 0) Main.median(traced.map(_.seconds)) / u else 0.0
        })
    }
    val backfills = first +: (2 to Backfills).map(backfill)
    val backfillFailures =
      backfills.count(_._2 != backlog.toLong * stations)
    spark.stop()
    out ++ Map("layers" -> layers, "backfill_s" -> backfills.map(_._1),
      "drains" -> (drains.size + Backfills),
      "failed" -> (drainFailures + backfillFailures + missingTicks +
        checksFailed))
  }

  /** The velib functions the workload's drain calls. `parse_s` is
    * `SilverJob.parseRaw` over one tick, timed alone. On the recompute
    * form, enrich, gold and serving are each timed alone over the input
    * the drain gives them at the end of the run (the final silver, its
    * enrichment, the final gold). The incremental drain never calls
    * enrich or serving (they read 0), and it hands gold rows derived from
    * its own state, so `gold_s` there is the traced drains' own gold
    * write (`goldWriteS`, per drain). Each timing alone is the median of
    * three noop writes.
    */
  private def layerCalls(spark: SparkSession, a: Main.Args, in: String,
      lake: String, incremental: Boolean,
      goldWriteS: Double): Map[String, Double] = {
    def median3(f: => Double) = Main.median((1 to 3).map(_ => f))
    val oneTick = spark.read.schema("value STRING")
      .text(Files.list(Paths.get(in)).iterator().asScala
        .map(_.toString).filter(_.endsWith(".jsonl")).toSeq.max)
    val parseS = median3(noopSeconds(SilverJob.parseRaw(oneTick)))
    val rest = if (incremental) Map("velib.enrich_s" -> 0.0,
        "velib.gold_s" -> goldWriteS, "velib.serving_s" -> 0.0)
      else {
        val silver = Pipeline.canonical(spark.read.parquet(s"$lake/silver"))
        val enrichS = median3(noopSeconds(EnrichJob.enrich(silver, col("seq"))))
        val enrichedPath = s"${a.work}/layer-enriched"
        EnrichJob.enrich(silver, col("seq")).write.mode("overwrite")
          .parquet(enrichedPath)
        val enriched = spark.read.parquet(enrichedPath)
        val goldS = median3(noopSeconds(GoldAlerts.alerts(enriched, col("seq"))))
        val servingS = median3 {
          try noopSeconds(Serving.criticalAlerts(
            spark.read.parquet(s"$lake/gold"), enriched, col("seq")))
          finally Caches.unpersistAll()
        }
        Map("velib.enrich_s" -> enrichS, "velib.gold_s" -> goldS,
          "velib.serving_s" -> servingS)
      }
    rest + ("velib.parse_s" -> parseS)
  }
}
