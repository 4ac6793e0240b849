package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

import graft.{Caches, Materialized, SparkEntry, Tables}

/** The registered-query workload: each query produces its whole result
  * (every row and column, with its sorts) into the `noop` sink.
  *
  * One run: set-up (fresh session, warm-up, and the construction of the
  * queries that own write-once `Materialized` builds) three times; then,
  * within `--seconds` and in the seed's query order, each query's cold
  * run followed by its warm runs; then the untimed row-count/row-hash
  * check of every query and the plan-trap gate over every executed plan.
  */
object Suite {
  type Query = (SparkSession, String) => DataFrame

  val modules: Seq[(String, Map[String, Query])] = Seq(
    "CoreOps" -> graft.ops.CoreOps.queries,
    "TextOps" -> graft.ops.TextOps.queries,
    "DedupOps" -> graft.ops.DedupOps.queries,
    "SimOps" -> graft.ops.SimOps.queries,
    "RelOps" -> graft.ops.RelOps.queries,
    "MediaOps" -> graft.ops.MediaOps.queries,
    "PipelineOps" -> graft.ops.PipelineOps.queries,
    "GraphOps" -> graft.ops.GraphOps.queries)

  def moduleOf: Map[String, String] =
    modules.flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap

  /** The fixed cross-section each run measures: every ops module,
    * the velib enrich -> gold -> serving chain (q02, through
    * `Serving.criticalAlerts`), the per-row kernels (t02 lang scores,
    * t07 n-grams, d02 minhash, d21 winnow) and a write-once
    * `Materialized` build (w30).
    */
  val crossSection: Seq[String] = Seq(
    "q02_critical_sparklines",
    "t02_langid", "t07_ngram_stats",
    "d02_minhash_signatures", "d21_winnowing",
    "w30_gap_quantiles",
    "s01_knn_bruteforce", "m06_phash_neardup", "p07_domain_mix",
    "g04_assortativity")

  /** The per-row text kernels, each applied alone to the generated
    * `kernel_documents` table (5,000 documents, the sf0.1 size).
    */
  val kernels: Seq[(String, String)] = Seq(
    "graft_ngrams" -> "graft_ngrams(text, 2)",
    "graft_ngrams_distinct" -> "graft_ngrams_distinct(text, 2)",
    "graft_lang_scores" -> "graft_lang_scores(text)",
    "graft_shingles" -> "graft_shingles(text, 8)",
    "graft_pos_hashes" -> "graft_pos_hashes(text, 8)",
    "graft_winnow" -> "graft_winnow(text, 8, 4)",
    "graft_simhash" -> "graft_simhash(text)",
    "graft_minhash" -> "graft_minhash(text)")

  /** Bytes of the write-once tables the last set-up built: `Materialized`
    * writes build k to directory `t<k>` of its `graft-materialized-`
    * scratch directory under the JVM's temp dir.
    */
  private def builtBytes(tmp: String, after: Int): Long =
    Du.dirs(tmp, "graft-materialized-").flatMap(d => Du.dirs(d, "t"))
      .filter(_.split('/').last.drop(1).toInt > after)
      .map(Du.bytes(_, "")).sum

  private def noop(df: DataFrame, tag: String): Unit =
    df.write.format("noop").mode("overwrite")
      .option(PlanRecorder.TagOption, tag).save()

  /** The tables the registered queries read. */
  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Queries whose construction runs a write-once `Materialized` build;
    * set-up constructs the selected ones, so no timed run pays a build.
    */
  val buildOwners: Set[String] = Set("m12_release_staleness",
    "p33_release_diff", "w23_mad", "w30_gap_quantiles",
    "w39_conversion_latency", "w49_rfm_segments")

  /** One query's timed runs: (construct s, action s, process CPU s) each. */
  final case class Runs(cold: (Double, Double, Double),
      warm: Seq[(Boolean, (Double, Double, Double))]) {
    private def of(traced: Boolean) = warm.filter(_._1 == traced).map(_._2)
    def warmTotals(traced: Boolean): Seq[Double] = of(traced).map(t => t._1 + t._2)
    def warmConstruct(traced: Boolean): Seq[Double] = of(traced).map(_._1)
    def warmCpu(traced: Boolean): Seq[Double] = of(traced).map(_._3)
  }

  def run(a: Main.Args): Map[String, Any] = {
    val dir = a("data")
    val all = SparkEntry.queries
    val order = new scala.util.Random(a.seed).shuffle(crossSection)
    // plan flags of the write-once builds, by the query that ran them
    val buildFlags = scala.collection.mutable.Map.empty[String, Seq[String]]
    def drainBuildFlags(n: String): Unit =
      Materialized.drainBuildFlags().values.flatten.toSeq match {
        case Nil =>
        case fs => buildFlags(n) = (buildFlags.getOrElse(n, Nil) ++ fs).distinct
      }

    // ---- set-up: session start, warm-up, the write-once builds
    var spark: SparkSession = null
    var builds = 0
    var buildS = 0.0
    val setupS = (1 to Main.Setups).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = Main.session(a)
      spark.range(1000).selectExpr("sum(id)").collect()
      Tables.events(spark, dir).limit(1).collect()
      Materialized.invalidateAll()
      val b0 = Materialized.buildCount
      val c0 = System.nanoTime()
      order.filter(buildOwners).foreach { n =>
        all(n)(spark, dir)
        Caches.unpersistAll()
        drainBuildFlags(n)
      }
      builds = Materialized.buildCount - b0
      buildS = Main.secondsSince(c0)
      Main.secondsSince(t0)
    }
    val sc = spark.sparkContext
    val inst = new Instruments(spark, a.traced)
    val spans = inst.spans

    /** One whole-result run: construct, then the noop write. */
    def once(n: String, group: String): (Double, Double, Double) = {
      sc.setJobGroup(group, n, interruptOnCancel = false)
      try {
        val cpu0 = Jvm.cpuSeconds()
        val s0 = spans.now()
        val df = all(n)(spark, dir)
        val s1 = spans.now()
        noop(df, n)
        val s2 = spans.now()
        val q = spans.add(0, group, s"query.$n", s0, s2)
        spans.add(q, group, "construct", s0, s1)
        spans.add(q, group, "action", s1, s2)
        ((s1 - s0) / 1000, (s2 - s1) / 1000, Jvm.cpuSeconds() - cpu0)
      } finally {
        Caches.unpersistAll()
        sc.clearJobGroup()
      }
    }

    // ---- measured phase: per query, one cold run and then warm runs
    // back to back (Spark's generated-code cache is smaller than a pass
    // over the queries, so only a back-to-back repeat is warm), within an
    // equal share of `--seconds`. Traced runs alternate untraced and
    // traced warm runs, so the same process measures tracing overhead.
    val minWarm = if (a.traced) 4 else 3
    val maxWarm = 12
    val slice = a.seconds / order.size
    Jvm.resetHeapPeak()
    var compile = (0.0, 0L)
    var gcTraced = 0.0
    val t0 = System.nanoTime()
    val runs = order.map { n =>
      val q0 = System.nanoTime()
      val (cgS0, cls0) = Codegen.snapshot()
      if (a.traced) { inst.settle(); inst.record(false) }
      val cold = once(n, s"$n#cold")
      drainBuildFlags(n)
      val (cgS1, cls1) = Codegen.snapshot()
      compile = (compile._1 + cgS1 - cgS0, compile._2 + cls1 - cls0)
      val warm = scala.collection.mutable.ArrayBuffer.empty[
        (Boolean, (Double, Double, Double))]
      while (warm.size < minWarm ||
          (warm.size < maxWarm && Main.secondsSince(q0) < slice)) {
        val traced = a.traced && warm.size % 2 == 1
        if (a.traced) { inst.settle(); inst.record(traced) }
        val gc0 = Jvm.gcSeconds()
        warm += (traced -> once(n, s"$n#${warm.size + 1}"))
        if (traced) gcTraced += Jvm.gcSeconds() - gc0
      }
      if (a.traced) { inst.settle(); inst.record(false) }
      n -> Runs(cold, warm.toSeq)
    }.toMap
    val measuredS = Main.secondsSince(t0)
    inst.settle()
    inst.record(false)

    // ---- checks, outside every timed span: rows + order-free hash
    val checks = order.map { n =>
      val df = all(n)(spark, dir)
      val (rows, hash) = try RowHash.of(df) finally Caches.unpersistAll()
      n -> Map("rows" -> rows, "hash" -> hash)
    }.toMap
    inst.settle()
    val executed = inst.plans.flags.asScala.toMap
    val flags = (executed.keySet ++ buildFlags.keySet).map { n =>
      n -> (executed.getOrElse(n, Nil) ++ buildFlags.getOrElse(n, Nil))
    }.toMap
    val out = Map[String, Any](
      "setup_s" -> setupS,
      "cold_s" -> runs.map { case (n, r) => n -> (r.cold._1 + r.cold._2) },
      "warm_s" -> runs.map { case (n, r) => n -> r.warmTotals(false) },
      "min_warm" -> minWarm,
      "warm_cpu_s" -> runs.map { case (n, r) => n -> r.warmCpu(false) },
      "module" -> order.map(n => n -> moduleOf(n)).toMap,
      "measured_s" -> measuredS,
      "space_bytes" -> builtBytes(a.work + "/tmp",
        Materialized.buildCount - builds),
      "input_bytes" -> tables.map(t =>
        java.nio.file.Files.size(java.nio.file.Paths.get(s"$dir/$t.parquet"))).sum,
      "checks" -> checks,
      "plan_violations" -> graft.PlanAudit.violations(flags)
        .map { case (n, fs) => n -> fs.toSeq.sorted },
      "unaudited" -> order.filterNot(executed.contains))

    val layers: Map[String, Double] = if (!a.traced) Map.empty else {
      def medSum(qs: Seq[String], f: Runs => Seq[Double]) =
        qs.map(n => Main.median(f(runs(n)))).sum
      val byModule = modules.map(_._1).flatMap { m =>
        val qs = order.filter(moduleOf(_) == m)
        Seq(s"ops.$m.cold_s" ->
            qs.map(n => runs(n).cold._1 + runs(n).cold._2).sum,
          s"ops.$m.warm_s" -> medSum(qs, _.warmTotals(true)))
      }
      // per-pass figures: traced warm runs over the number of queries
      val tracedRuns = runs.values.map(_.warmTotals(true).size).sum
      val passes = tracedRuns.toDouble / order.size
      val tracedGroups = runs.toSeq.flatMap { case (n, r) =>
        r.warm.indices.filter(i => r.warm(i)._1).map(i => s"$n#${i + 1}")
      }.toSet
      val jobs = inst.scheduler.jobs.asScala.toSeq
      val tracedWall = runs.values.map(_.warmTotals(true).sum).sum
      val sparkLayer = Layers.spark(inst.scheduler,
        jobs.filter(j => tracedGroups(j.group)).map(_.id).toSet,
        tracedWall, a.cores, passes)
      // spans: query -> construct/action, and query -> job -> stage
      val qSpans = spans.all.filter(_.name.startsWith("query."))
        .map(s => s.group -> s.id).toMap
      jobs.groupBy(_.group).foreach { case (g, js) =>
        qSpans.get(g).foreach(q =>
          Layers.jobSpans(inst.scheduler, spans, js, q, g))
      }
      val phases = inst.plans.phases.asScala.toSeq
      def perPass(ms: PhaseRec => Long) = phases.map(ms).sum / 1000.0 / passes
      val untracedSum = medSum(order, _.warmTotals(false))
      graft.functions.GraftFunctions.register(spark)
      val docs = Tables.table(spark, dir, "kernel_documents")
      val fnLayer = kernels.map { case (k, e) =>
        val ts = (1 to 3).map { _ =>
          val s = System.nanoTime()
          noop(docs.select(expr(e).as("k")), s"kernel.$k")
          Main.secondsSince(s)
        }
        s"functions.${k}_s" -> Main.median(ts)
      }
      TraceFile.write(a("spans"), spans)
      byModule.toMap ++ sparkLayer ++ fnLayer ++ Map(
        "construct_s" -> medSum(order, _.warmConstruct(true)),
        "catalyst.analysis_s" -> perPass(_.analysisMs),
        "catalyst.optimization_s" -> perPass(_.optimizationMs),
        "catalyst.planning_s" -> perPass(_.planningMs),
        "codegen.compile_s" -> compile._1,
        "codegen.classes" -> compile._2.toDouble,
        "jvm.gc_s" -> gcTraced / passes,
        "jvm.heap_peak_mb" -> Jvm.heapPeakMb(),
        "materialized.builds" -> builds.toDouble,
        "materialized.build_s" -> buildS,
        "trace.overhead" -> (if (untracedSum > 0)
          medSum(order, _.warmTotals(true)) / untracedSum else 0.0))
    }
    spark.stop()
    out + ("layers" -> layers)
  }
}
