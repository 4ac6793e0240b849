package graft.plans

import graft.{PlanAudit, SparkEntry, SparkTestBase}

/** CI gate for the full-inventory plan audit (VERDICT r3 item 2): every
  * registered query's physical plan is swept for scale traps, and the
  * flag map must equal the allowlist below EXACTLY. A new
  * CartesianProduct / BroadcastNestedLoopJoin / repeated
  * SinglePartition in ANY query fails `sbt test`; a flag that
  * disappears fails too, so the allowlist can never go stale.
  *
  * Every allowlisted flag is intentional and plan-documented (NOTES.md
  * "Plan audit"): 1-row scalar broadcasts (the BNLJ is the 1-row cross
  * join), broadcast query-set top-k scans (BNLJ = corpus x broadcast
  * queries — the intended no-big-side-shuffle KNN plan), and windows /
  * unions over tiny aggregated frames plus the final presentation sort
  * (multi-SinglePartition).
  */
class PlanAuditSpec extends SparkTestBase {

  // single source of truth: the main-tree allowlist Bench's runtime
  // gate also consults (r9: moved from this spec into PlanAudit so the
  // CI sweep and the bench sweep can never drift apart)
  private val allow: Map[String, Set[String]] = PlanAudit.allowlist

  test("companion guard: an Inner join whose condition folds away flags " +
      "at audit time (VERDICT r7 item 5)") {
    // CrossJoinGuard is Cross-only by the scratch-plan constraint; the
    // physical-plan audit is its non-Cross companion. A join condition
    // Catalyst constant-folds to TRUE leaves a condition-free Inner
    // join — physically a cartesian — and must flag.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = spark.range(1000).toDF("id")
      val b = spark.range(1000).toDF("id2")
      val dropped = a.join(b,
        org.apache.spark.sql.functions.lit(1) ===
          org.apache.spark.sql.functions.lit(1))
      val fs = PlanAudit.flags(dropped.queryExecution.executedPlan.toString)
      assert(fs.contains("CartesianProduct"),
        s"folded-away equi-condition did not flag: $fs")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("plan audit at sf0.1: flags stay within the sf0.001 allowlist " +
      "(VERDICT r7 item 5 — audit at the bench scale, not just the " +
      "tiny one)") {
    // Stats-driven plan choices can differ with scale (a side that
    // auto-broadcast at sf0.001 may sort-merge at sf0.1 — a flag
    // legitimately DISAPPEARING), but no query may flag a trap the
    // allowlist doesn't document: subset check here, exactness below.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val flagged = PlanAudit
        .sweep(spark, SparkEntry.queries.keys.toSeq.sorted, sf01)
        .map { case (n, fs) => n -> fs.toSet }
      val unexpected = flagged.filter { case (n, fs) =>
        !fs.subsetOf(allow.getOrElse(n, Set.empty))
      }
      assert(unexpected.isEmpty,
        s"queries flagging outside the allowlist at sf0.1: $unexpected")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("plan audit: no query flags a scale trap outside the allowlist") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val flagged = PlanAudit
        .sweep(spark, SparkEntry.queries.keys.toSeq.sorted, sf0001)
        .map { case (n, fs) => n -> fs.toSet }
      val unexpected = flagged.filter { case (n, fs) =>
        fs != allow.getOrElse(n, Set.empty)
      }
      val stale = allow.keySet.diff(flagged.keySet)
      assert(unexpected.isEmpty,
        s"queries flagging outside the allowlist: $unexpected")
      assert(stale.isEmpty,
        s"allowlist entries that no longer flag (remove them): $stale")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("materialized build plans: the write-once builds the query sweep " +
      "never sees carry no structural traps (ADVICE r10)") {
    // A Materialized-backed query executes its build during DataFrame
    // construction, so the sweeps above only ever audit the finished
    // table's parquet scan. The builds themselves are audited here, raw
    // and no-AQE. This list is maintained by hand for the known call
    // sites; the catch-all for a FORGOTTEN entry is Bench's runtime
    // gate, which merges Materialized's recorded build flags into the
    // triggering query's flag set.
    val builds = Map[String,
        (org.apache.spark.sql.SparkSession, String) =>
          org.apache.spark.sql.DataFrame](
      "build:release" -> (graft.ops.PipelineOps.releaseManifestOf _),
      "build:madstats" -> (graft.ops.RelOps.madStatsBuild _),
      "build:rfmcuts" -> (graft.ops.RelOps.rfmCutsBuild _),
      "build:gapstats" -> (graft.ops.RelOps.gapStatsBuild _),
      "build:convlat" -> (graft.ops.RelOps.convLatencyBuild _),
      "build:bands" -> (graft.ops.DedupOps.bandsBuild _),
      "build:pairs" -> (graft.ops.DedupOps.pairsBuild _),
      "build:ivf_codebook" -> (graft.ops.SimOps.ivfCodebookBuild _),
      "build:ivf_postings" -> (graft.ops.SimOps.ivfPostingsBuild _),
      "build:aggstate" -> (graft.ops.PipelineOps.aggStateBuild _))
    // rfmcuts: the w49 1-row global-max-date scalar broadcast (the d23
    // pattern, already documented on w49's own allowlist entry) sits in
    // the BUILD (recency needs the corpus max date before the cuts
    // exist). ivf_postings: every corpus vector scored against the
    // broadcast L-row codebook (s19's documented broadcast scan; Bench
    // credits this build to s19, see NOTES.md "Write-once tables").
    // Exact-match, so a stale entry fails like the main sweep.
    val buildAllow = Map(
      "build:rfmcuts" -> Set("BroadcastNestedLoopJoin"),
      "build:ivf_postings" -> Set("BroadcastNestedLoopJoin"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val structural = builds.map { case (n, fn) =>
        n -> PlanAudit.flags(
            fn(spark, sf0001).queryExecution.executedPlan.toString)
          .toSet.intersect(PlanAudit.structuralFlags)
      }
      val unexpected = structural.filter { case (n, fs) =>
        fs != buildAllow.getOrElse(n, Set.empty[String])
      }
      assert(unexpected.isEmpty,
        s"write-once build plans with undocumented structural traps " +
          s"(or stale buildAllow entries): $unexpected")
    } finally {
      graft.Caches.unpersistAll()
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("violations: the bench runtime gate passes allowlisted structural " +
      "traps, fails new ones, ignores runtime SinglePartition noise") {
    // s01's BNLJ is documented -> no violation
    assert(PlanAudit.violations(Map(
      "s01_knn_bruteforce" -> Seq("BroadcastNestedLoopJoin"))).isEmpty)
    // an undocumented cartesian in any query -> violation
    val v = PlanAudit.violations(Map(
      "q01_latest_status" -> Seq("CartesianProduct")))
    assert(v == Map("q01_latest_status" -> Set("CartesianProduct")))
    // multi-SinglePartition is environmental at runtime (AQE
    // coalescing): readout-only, never a violation
    assert(PlanAudit.violations(Map(
      "q01_latest_status" -> Seq("multi-SinglePartition"))).isEmpty)
    // a structural trap beyond a query's documented set still fails
    assert(PlanAudit.violations(Map(
      "p03_profile" -> Seq("multi-SinglePartition", "CartesianProduct")))
      == Map("p03_profile" -> Set("CartesianProduct")))
  }
}
