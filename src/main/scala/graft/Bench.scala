package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main. Prints ONE machine-readable JSON line (last line of
  * stdout before sbt's `[success]` footer).
  *
  * Per query: one cold run, then `WarmRuns` warm runs back-to-back; the
  * row's warm figure is the median of those runs. `value` is the cold
  * total and `warm_total` the sum of the per-query medians. Reads three
  * environment variables: `SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_CPUS` and
  * `SPARK_GRAFT_BENCH_OUT` (the per-query artifact's path).
  *
  * LINE-LENGTH CONTRACT (learned from BENCH_r02..r07): the driver keeps only
  * the last ~2000 chars of output and parses the JSON line out of that tail.
  * r2's 51-query line (~1600 chars) parsed; r3/r4's 72-query lines (~4500
  * chars with the warm map) did NOT (`parsed: null`), and r7's defensive
  * `require(line.length < 1800)` then CRASHED the gate at 147 queries (line
  * = 1871 chars) — the guard protected the tail by destroying the artifact.
  * The summary line therefore carries NO per-query map at all: only
  * `{metric, value, warm_total, unit, errors, sf}` (~150 chars, growth-proof
  * — `BenchLineSpec` pins it under 1500 chars at 500 queries). The durable
  * per-query record is BENCH_FULL.json plus the "# bench-*-full" stdout
  * lines; never `require` on the line about to be printed.
  */
object Bench {
  /** Warm runs per query; the row's warm figure is their median. */
  val WarmRuns = 3

  /** The ONE stdout summary line the driver parses. Deliberately carries no
    * per-query data: its length is a function of the error COUNT only (and
    * errors abort the run anyway), so it cannot outgrow the
    * driver's ~2000-char stdout tail as the suite scales. Pure, for
    * `BenchLineSpec`. Truncates (never throws) if a pathological error list
    * would overflow — the artifact must always print.
    */
  def summaryLine(coldTotal: Double, warmTotal: Option[Double],
      errorKeys: Seq[String], sfDir: String): String = {
    def f3(v: Double): String = f"$v%.3f"
    val warm = warmTotal.map(w => s""","warm_total":${f3(w)}""").getOrElse("")
    val errs = if (errorKeys.isEmpty) ""
      else {
        val shown = errorKeys.take(20)
        val more = if (errorKeys.size > shown.size)
          s""","errors_truncated":${errorKeys.size - shown.size}""" else ""
        s""","errors":[${shown.map(k => "\"" + k.take(24) + "\"").mkString(",")}]$more"""
      }
    s"""{"metric":"total","value":${f3(coldTotal)},"unit":"sec"$warm$errs,"sf":"$sfDir"}"""
  }

  /** Median of a non-empty sample; an even count averages the two middle
    * values. Pure, for `BenchLineSpec` and `BenchArtifactSpec`.
    */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    val spark = LocalSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Layer-3 runtime plan guard, wired for the whole suite: every
    // executed plan of every benched query is swept for cartesian/trap
    // shapes, turning the bench into a runtime plan audit for free. A
    // flag fails the run at the end (after artifacts are persisted).
    val planGuard = new graft.plans.PlanGuardListener()
    spark.listenerManager.register(planGuard)
    // Warm up JVM/codegen/parquet-reader paths so the first timed query
    // isn't charged for session initialization.
    spark.range(1000).selectExpr("sum(id)").collect()
    try Tables.events(spark, sfDir).limit(1).collect()
    catch { case _: Throwable => () }
    // The warm repeats run BACK-TO-BACK with the cold run, not as later
    // full sweeps: Spark's whole-stage-codegen class cache holds only 100
    // generated classes, and the suite generates far more per sweep — a
    // sweep-then-sweep "warm" pass (r4) recompiled everything and
    // measured compile again (s08 "warm" 9.4s vs 1.1s genuinely warm).
    // Back-to-back, the repeats hit the still-hot cache and are the
    // steady-state number. Every run pays its own cache population
    // (unpersistAll between).
    // A failing query must be VISIBLE in the artifact: its time is
    // recorded as -1.0 (impossible for a real measurement) and its error
    // lands in the errors map — never elapsed-time-to-crash, which reads
    // as a healthy number (the r6 d17 lesson).
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def fail(name: String, e: Throwable): Unit =
      errors(name) = e.getClass.getSimpleName + ": " +
        String.valueOf(e.getMessage).replaceAll("\\s+", " ").take(300)
    // Per-query EXECUTED-plan flags (synchronous, exactly attributed —
    // the listener above sees the same plans but its callbacks arrive
    // on the async listener bus under an action name, not a query name)
    val runtimeFlags =
      scala.collection.mutable.LinkedHashMap.empty[String, Seq[String]]
    def addFlags(name: String, fs: Seq[String]): Unit =
      if (fs.nonEmpty)
        runtimeFlags(name) = (runtimeFlags.getOrElse(name, Nil) ++ fs).distinct
    // Queries whose timed span paid a write-once Materialized build
    // (ADVICE r10: whichever of p31/p32/w23/w49 runs first pays the
    // shared build inside its cold time while the others scan the
    // finished parquet — the asymmetry must be visible in the artifact).
    val builtDuring = scala.collection.mutable.Set.empty[String]
    def benchOne(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Double = {
      val builds0 = Materialized.buildCount
      val t0 = System.nanoTime()
      // The timed action is the aggregate `d.count()` runs internally,
      // kept as a Dataset so its QueryExecution — the one that actually
      // EXECUTED, with AQE finalized — is sweepable afterwards (ADVICE
      // r9: sweeping d's own never-executed QE saw only the initial
      // adaptive plan, making the "runtime" gate a second static sweep).
      val exec =
        try { val a = fn(spark, sfDir).groupBy().count(); a.head(); Some(a) }
        catch { case e: Throwable => fail(name, e); None }
      val dt = (System.nanoTime() - t0) / 1e9
      if (Materialized.buildCount > builds0) builtDuring += name
      // plan sweep + cache bookkeeping, outside the timed span. Any
      // write-once build that executed inside this query's construction
      // merges its plan flags here, so a structural trap inside a
      // Materialized build faces the same gate as one in the query (the
      // static sweep only ever sees the finished table's parquet scan).
      // A sweep that throws is the query's error: read as "no flags", it
      // would wave the query past the trap gate.
      exec.foreach { a =>
        try addFlags(name,
          graft.PlanAudit.flags(a.queryExecution.executedPlan.toString))
        catch { case scala.util.control.NonFatal(e) => fail(name, e) }
        addFlags(name, Materialized.drainBuildFlags().values.flatten.toSeq)
      }
      Caches.unpersistAll()
      if (exec.isDefined && !errors.contains(name)) dt else -1.0
    }
    val selected = SparkEntry.queries.toSeq
    // Pre-sweep warm of Materialized entries (VERDICT r11 item 1): every
    // query is CONSTRUCTED once before any timed span, so each shared
    // write-once build (pair graph, release manifests, mad stats, ...)
    // executes HERE — no cold row pays another query's build, the
    // `built` marker should never fire in the timed sweep, and
    // round-over-round colds compare plan-for-plan (r11's 162 s p33
    // cold outlier was a build's driver fixpoint landing inside one
    // query's cold span). Build-plan flags still face the runtime
    // gate: drained per constructing query, merged into its flag set.
    val prewarmT0 = System.nanoTime()
    selected.foreach { case (name, fn) =>
      // construction only — builds and any in-body scalar reads run;
      // the query's own action does not. A construction error is
      // printed here (so a silently-skipped build-flag drain is
      // visible) and re-raised by the timed sweep per query.
      try { fn(spark, sfDir); () } catch { case e: Throwable =>
        println(s"# bench-prewarm-construct-error $name " +
          e.getClass.getSimpleName)
      }
      addFlags(name, Materialized.drainBuildFlags().values.flatten.toSeq)
      Caches.unpersistAll()
    }
    val prewarmSec = (System.nanoTime() - prewarmT0) / 1e9
    // (name, cold, warm runs); no warm runs after a failed cold run
    val rows = selected.map { case (name, fn) =>
      val cold = benchOne(name, fn)
      (name, cold,
        if (cold >= 0) Seq.fill(WarmRuns)(benchOne(name, fn)) else Seq.empty)
    }
    def warmOf(runs: Seq[Double]): Double =
      if (runs.nonEmpty && runs.forall(_ >= 0)) median(runs) else -1.0
    // Short key = id prefix before the first '_' ("q01", "d08", ...).
    // Must stay unique or two queries silently merge in the output map.
    def shortKey(name: String): String = name.takeWhile(_ != '_')
    val shorts = selected.map(q => shortKey(q._1))
    require(shorts.distinct.size == shorts.size,
      s"non-unique bench short keys: ${shorts.diff(shorts.distinct).mkString(",")}")
    def json(m: Seq[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def f3(v: Double): String = f"$v%.3f"
    val cold = rows.map { case (n, c, _) => n -> c }
    val warm = rows.map { case (n, _, ws) => n -> warmOf(ws) }
    val coldTotal = cold.map(_._2).sum
    val warmTotal = warm.map(_._2).sum
    println("# bench-cold-full " + json(cold))
    println("# bench-warm-full " + json(warm))
    // Full-precision per-query artifact on disk: the driver keeps only the
    // stdout tail, so run-over-run diffs off the "# bench-*-full" lines
    // get lost — BENCH_FULL.json is the durable record. `warm_runs` keeps
    // the raw repeats behind each median; `built` marks a row that paid
    // a shared write-once build inside its timed span (ADVICE r10 — with
    // the prewarm it should never appear; if it does, a build escaped).
    val jstr = (s: String) => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val fullJson = rows.map { case (n, c, ws) =>
      s"${jstr(n)}:{" + s""""cold":$c,"warm":${warmOf(ws)},""" +
        s""""warm_runs":${ws.mkString("[", ",", "]")}""" +
        (if (builtDuring(n)) s""","built":true""" else "") +
        errors.get(n).map(e => s""","error":${jstr(e)}""").getOrElse("") + "}"
    }.mkString(
      s"""{"sf":${jstr(sfDir)},"cpus":$cpus,"shuffle_partitions":$cpus,""" +
        s""""queries":{""", ",",
      s"""},"cold_total":${f3(coldTotal)},"warm_total":${f3(warmTotal)},""" +
        s""""prewarm_sec":${f3(prewarmSec)},""" +
        s""""errors":[${errors.keys.map(jstr).mkString(",")}]}\n""")
    java.nio.file.Files.write(java.nio.file.Paths.get(fullPath),
      fullJson.getBytes("UTF-8"))
    // Runtime plan-guard readout: the synchronous per-query sweep (the
    // gate) and the async listener's aggregate (the wired layer-3 path
    // — it observes every executed plan including warm-up and any
    // embedded use the sweep can't see). Printed BEFORE the summary
    // line: this line grows with the allowlist, and anything after the
    // summary eats into the driver's ~2000-char stdout tail (the r7
    // line-length lesson).
    println("# bench-planguard " + runtimeFlags.map { case (n, fs) =>
      s"${jstr(n)}:[${fs.map(jstr).mkString(",")}]"
    }.mkString("{", ",", "}") + s" listener_hits=${planGuard.flagged.size}")
    // "value" stays the cold total — comparable with every prior round.
    println(summaryLine(coldTotal, Some(warmTotal),
      errors.keys.toSeq.map(shortKey), sfDir))
    spark.stop()
    // After the artifact is printed AND persisted: a broken query fails
    // the run loudly — elapsed-time-to-crash must never ship looking
    // green again.
    require(errors.isEmpty,
      s"bench queries failed: ${errors.map { case (k, v) => s"$k ($v)" }.mkString("; ")}")
    // Structural-trap gate over EXECUTED plans (VERDICT r8 item 2):
    // a cartesian or BNLJ outside the documented allowlist fails the
    // bench. multi-SinglePartition is readout-only here — AQE
    // coalescing makes runtime exchange counts environment-dependent;
    // the no-AQE CI sweep (PlanAuditSpec) stays its exact gate.
    val bad = PlanAudit.violations(runtimeFlags.toMap)
    require(bad.isEmpty, s"executed plans with structural traps " +
      s"outside PlanAudit.allowlist: $bad")
  }
}
