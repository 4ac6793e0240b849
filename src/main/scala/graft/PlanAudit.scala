package graft

import org.apache.spark.sql.SparkSession

/** Sweep EVERY registered query's physical plan and flag the classic
  * scale traps — nested-loop/cartesian joins and single-partition
  * exchanges. Known-benign cases still flag (a 1-row scalar broadcast
  * is a BroadcastNestedLoopJoin; a final global orderBy is a
  * SinglePartition exchange) so the audit is an explicit eyeball list,
  * not a silent filter.
  *
  * The sweep is both a dev main (`sbt "runMain graft.PlanAudit"`, sf
  * dir via SPARK_GRAFT_SF_DIR) and a CI gate: PlanAuditSpec pins the
  * flag map to an explicit allowlist, so any NEW trap in any query
  * fails `sbt test` instead of sailing into the next round.
  */
object PlanAudit {

  /** The intentional-trap allowlist, shared by the CI sweep
    * (PlanAuditSpec pins the no-AQE flag map to EXACTLY this) and the
    * bench runtime gate (Bench sweeps every EXECUTED plan and fails on
    * a structural trap outside it). Every entry is plan-documented
    * (NOTES.md "Plan audit"): 1-row scalar broadcasts (a 1-row cross
    * join is physically a BroadcastNestedLoopJoin), broadcast query-set
    * / codebook top-k scans (corpus x broadcast queries — the intended
    * no-big-side-shuffle KNN plan), and windows/unions over tiny
    * aggregated frames plus the final presentation sort
    * (multi-SinglePartition).
    */
  val allowlist: Map[String, Set[String]] = Map(
    // 1-row scalar broadcasts
    "p07_domain_mix" -> Set("BroadcastNestedLoopJoin"),
    "p10_epoch_plan" -> Set("BroadcastNestedLoopJoin"),
    // p23: the 1-row corpus-totals broadcast scaling the per-source plan
    "p23_mixture_plan" -> Set("BroadcastNestedLoopJoin"),
    "q05_gold_alerts" -> Set("BroadcastNestedLoopJoin"),
    "q20_global_filter_anti" -> Set("BroadcastNestedLoopJoin"),
    "t05_tfidf" -> Set("BroadcastNestedLoopJoin"),
    // t05's scalar pattern: 1-row corpus-total broadcast cross join
    "t08_unigram_surprisal" -> Set("BroadcastNestedLoopJoin"),
    // 1-row bucket-totals broadcast gating the spike filter; the overlap
    // join itself is equality on the hour bin
    "w19_interval_overlap" -> Set("BroadcastNestedLoopJoin"),
    // 1-row dim-bounds broadcast feeding the min-max scaling
    "w20_zorder_stats" -> Set("BroadcastNestedLoopJoin"),
    // w44: the 1-row purchase-total broadcast scaling the 6-row report
    "w44_attribution" -> Set("BroadcastNestedLoopJoin"),
    // g07: the 1-row edge-total broadcast scaling per-component shares
    "g07_modularity" -> Set("BroadcastNestedLoopJoin"),
    // broadcast query-set / codebook top-k scans
    "s01_knn_bruteforce" -> Set("BroadcastNestedLoopJoin"),
    // recall audit: contains s01's exact side (the same broadcast
    // query-set scan) by construction
    "s17_recall_report" -> Set("BroadcastNestedLoopJoin"),
    // rank-quality audit: s17's family — contains s01's exact side
    // (broadcast query-set scan); the scoring joins are all equality
    "s31_rank_quality" -> Set("BroadcastNestedLoopJoin"),
    "s04_knn_topk_agg" -> Set("BroadcastNestedLoopJoin"),
    "s08_ivf_ann" -> Set("BroadcastNestedLoopJoin"),
    // s26: the same s08 codebook/probe broadcast scans, filtered corpus
    "s26_filtered_ann" -> Set("BroadcastNestedLoopJoin"),
    // SQ8 coarse stage = corpus x broadcast queries, same family as s01
    "s10_quantized_rescore" -> Set("BroadcastNestedLoopJoin"),
    // truncated-prefix coarse stage = corpus x broadcast queries, the
    // s10 shape on the dimension axis
    "s20_truncated_rescore" -> Set("BroadcastNestedLoopJoin"),
    // MIPS scan = corpus x broadcast queries, same family as s01/s04
    "s12_mips_topk" -> Set("BroadcastNestedLoopJoin"),
    // s22: the s08-family codebook scan (corpus x broadcast L-row cells)
    "s22_kmeans_refine" -> Set("BroadcastNestedLoopJoin"),
    // s23: the same codebook scan feeding the bottom-k TakeOrdered
    "s23_coverage_gaps" -> Set("BroadcastNestedLoopJoin"),
    // s24: the s08-family codebook scans + s01's broadcast-queries
    // exact side + the 1-row truth-set-size broadcast (d23's scalar
    // pattern) — all documented broadcast shapes
    "s24_nprobe_sweep" -> Set("BroadcastNestedLoopJoin"),
    // t18: the t05/t08 1-row n_docs scalar broadcast
    "t18_keyword_extract" -> Set("BroadcastNestedLoopJoin"),
    // t27: the t08 1-row corpus-total broadcast — it enters only the
    // reported cell mean; the tercile RANKING is scalar-free
    "t27_surprisal_terciles" -> Set("BroadcastNestedLoopJoin"),
    // t28: the 1-row token-totals broadcast carrying the DSIR
    // normalization constant bits(Nr+1)-bits(Nt+1) (ADVICE r11) — the
    // t05/t08 scalar pattern over the per-doc aggregated frame
    "t28_dsir_weights" -> Set("BroadcastNestedLoopJoin"),
    // t23: sources x sources zero-kept spine — a source-count-bounded
    // broadcast theta join (src_a < src_b); the overlap join itself is
    // token-keyed equality
    "t23_vocab_overlap" -> Set("BroadcastNestedLoopJoin"),
    // (t14/t19 need no entry: their vocab broadcast is an equality
    // join on word — a BroadcastHashJoin, not a BNLJ)
    // p19: the 1-row majority-target scalar broadcast over the
    // language-population-sized counts frame
    "p19_upsample_assign" -> Set("BroadcastNestedLoopJoin"),
    // m09: the 1-row corpus-total broadcast shifting the batch's starts
    // + TWO bucket-count-sized offsets windows (corpus and batch
    // packStarts passes each roll their own)
    "m09_shard_append" ->
      Set("BroadcastNestedLoopJoin", "multi-SinglePartition"),
    // m10: contains m09's append manifest (its corpus-total broadcast)
    // + THREE packStarts offsets windows (repack pass, append's corpus
    // and batch passes) — all bucket-count-sized
    "m10_manifest_diff" ->
      Set("BroadcastNestedLoopJoin", "multi-SinglePartition"),
    // p29: the 1-row corpus-total scalar broadcast gating the budget
    // cut + the offsets cumsum window over the BOUNDED 101x64
    // (level, bucket) frame next to the presentation sort
    "p29_anneal_split" ->
      Set("BroadcastNestedLoopJoin", "multi-SinglePartition"),
    // p27: two scalar broadcasts (corpus totals, the 1-row threshold)
    // + the rank/cumsum windows over the Σsources-row frame — the p24
    // source-table shape, single-partition by design
    "p27_budget_waterfill" ->
      Set("BroadcastNestedLoopJoin", "multi-SinglePartition"),
    // s30: the 1-row (total, n_cells) scalar broadcast scaling the
    // codebook-sized balance frame — the d23 scalar pattern
    "s30_cell_balance" -> Set("BroadcastNestedLoopJoin"),
    // g08: two 1-row scalar broadcasts (corpus total, in-graph total)
    // + the top-cumulative window over DISTINCT degree values (a
    // hundreds-row frame at any corpus size, single-partition by
    // design) next to the presentation sort
    "g08_degree_distribution" ->
      Set("BroadcastNestedLoopJoin", "multi-SinglePartition"),
    // p20: inherits p19's 1-row majority-target broadcast + the p15
    // 64-row bucket-offsets window next to the 1-row target agg
    "p20_training_order" ->
      Set("BroadcastNestedLoopJoin", "multi-SinglePartition"),
    // hybrid RRF: the vector channel is the s01-family broadcast-queries
    // scan; the lexical channel joins on bigram, the fusion join on
    // (qid, doc_id) — both hash
    "s15_rrf_hybrid" -> Set("BroadcastNestedLoopJoin"),
    // PQ: codebook scan (vectors x broadcast 10-row codebook) + ADC scan
    // (code table x broadcast per-query distance tables) — both the
    // intended s01/s08-family broadcast scans
    "s13_pq_adc" -> Set("BroadcastNestedLoopJoin"),
    // IVF+PQ: the two training scans (vectors x broadcast centroids /
    // codebook); the search itself joins on the cell key
    "s14_ivf_pq" -> Set("BroadcastNestedLoopJoin"),
    // s08's codebook scan (vectors x broadcast centroids); the pairwise
    // stage itself is an equality join on the cell key
    "s11_semantic_dedup" -> Set("BroadcastNestedLoopJoin"),
    // the 5-row threshold table broadcast against the pair-sized
    // (never corpus-sized) prefix-join result
    "d23_threshold_sweep" -> Set("BroadcastNestedLoopJoin"),
    // margin mining's all-pairs dot stage: side A x AQE-broadcast side B
    // — the declarative statement; at corpus scale the same mutual+
    // margin rule runs over s07's banded candidates (equality join)
    "s18_margin_mining" -> Set("BroadcastNestedLoopJoin"),
    // frozen-codebook assignment scan (batch x broadcast codebook) —
    // the s08-family broadcast scan on the batch slice only
    "s19_ivf_append" -> Set("BroadcastNestedLoopJoin"),
    // scalar broadcast (the cuts cross join); the rank-machinery windows
    // collapsed to one SinglePartition span once `bucketed` was cached
    // (round 7) — the cache reuses one exchange where two plans each
    // used to carry their own
    "p08_quality_deciles" -> Set("BroadcastNestedLoopJoin"),
    // scalar broadcast + windows over tiny aggregated frames
    "q02_critical_sparklines" ->
      Set("BroadcastNestedLoopJoin", "multi-SinglePartition"),
    "q08_health" -> Set("BroadcastNestedLoopJoin", "multi-SinglePartition"),
    // five 1-row global aggs unioned
    "p03_profile" -> Set("multi-SinglePartition"),
    // p30: the p03 shape — four 1-row check aggs unioned (the three
    // lineitem row-checks already share one scan/agg)
    "p30_expectations" -> Set("multi-SinglePartition"),
    // two 1-row scalar broadcasts (total, leftover seats) + the global
    // remainder-rank window and final sort — all over the
    // source-population-sized quota frame, never the corpus
    "p17_quota_sample" ->
      Set("BroadcastNestedLoopJoin", "multi-SinglePartition"),
    // distinct-cf histogram window (O(distinct frequencies) rows) + the
    // 1-row global fit agg — both tiny by construction; the vocabulary
    // itself is never globally sorted (two-phase rank)
    "t09_zipf_fit" -> Set("multi-SinglePartition"),
    // w40: the d23 1-row totals broadcast + the global topk collapse
    // and 10-row cumulative window — all scalar/10-row frames
    "w40_key_skew" ->
      Set("BroadcastNestedLoopJoin", "multi-SinglePartition"),
    // t21: the 1-row max-id scalar broadcast + the 10-row decile lag
    // window next to the 1-row bound agg
    "t21_vocab_growth" ->
      Set("BroadcastNestedLoopJoin", "multi-SinglePartition"),
    // w41: the d23 1-row trigram-total broadcast over the tiny path
    // frame; the top-10 is a TakeOrdered, not a window
    "w41_top_paths" -> Set("BroadcastNestedLoopJoin"),
    // w47: the d23 1-row basket-total broadcast over the 20-row
    // top-pairs frame; the top-20 is a TakeOrdered
    "w47_market_basket" -> Set("BroadcastNestedLoopJoin"),
    // w49: two 1-row scalar broadcasts (global max date, customer
    // total) + the rank machinery's tiny-frame global aggs next to the
    // <= 125-cell presentation sort (the p03 unioned-scalar shape)
    "w49_rfm_segments" ->
      Set("BroadcastNestedLoopJoin", "multi-SinglePartition"),
    // w48: the 1-row global max-month scalar broadcast building the
    // cohort-months age spine
    "w48_cohort_ltv" -> Set("BroadcastNestedLoopJoin"),
    // d26: the d23 1-row id-bounds broadcast feeding the decile cut
    "d26_dup_burst" -> Set("BroadcastNestedLoopJoin"),
    // d27: the d23 1-row split-totals broadcast over the 11-bin frame
    "d27_quality_drift" -> Set("BroadcastNestedLoopJoin"),
    // t22: the d23 1-row doc-total broadcast over the 6-term frame
    "t22_blocklist_report" -> Set("BroadcastNestedLoopJoin"),
    // d28: the d23 1-row corpus-totals broadcast over the 2-row report
    "d28_dedup_savings" ->
      Set("BroadcastNestedLoopJoin", "multi-SinglePartition"),
    // s27: the s13 broadcast-codebook sub-distance scan + the (8 x L)
    // spine built as labels x broadcast range(8)
    "s27_pq_train" -> Set("BroadcastNestedLoopJoin"),
    // s29: the same s13/s27 broadcast-codebook scan + (8 x L) spine
    "s29_pq_distortion" -> Set("BroadcastNestedLoopJoin"),
    // p32: the d23 1-row manifest-totals broadcast scaling the
    // status x split card (the same scalar pattern as d28/w47)
    "p32_release_card" -> Set("BroadcastNestedLoopJoin"),
    // q26: the d23 1-row released-token-total broadcast scaling the
    // per-source serving shares (allowlisted with the query, not after
    // the snapshot — the p32 lesson)
    "q26_release_serving" -> Set("BroadcastNestedLoopJoin"),
    // p36: the 1-row totals x 1-row contamination-count cross join —
    // two scalar frames (each a 1-row global agg, hence two
    // SinglePartition exchanges) folding to the one-row sign-off card
    "p36_release_signoff" ->
      Set("BroadcastNestedLoopJoin", "multi-SinglePartition"),
    // w53: the global type-roster broadcast over the QI-group spine
    // (|types| rows — the full-roster TVD needs every group x every
    // type) + the d23 1-row grand-total broadcast; both frames are
    // type-cardinality- or 1-row-sized at any corpus scale
    "w53_t_closeness" -> Set("BroadcastNestedLoopJoin")
  )

  /** The allowlist flags that are STRUCTURAL (a join shape the query
    * author chose) vs environmental: multi-SinglePartition counts
    * exchanges, which AQE coalescing legitimately perturbs at runtime,
    * so the bench runtime gate checks only these two — the no-AQE CI
    * sweep remains the exact gate for partition counts.
    */
  val structuralFlags: Set[String] =
    Set("CartesianProduct", "BroadcastNestedLoopJoin")

  /** Runtime-gate helper (pure, spec-covered): given per-query flags
    * from EXECUTED plans, return the queries whose structural flags
    * exceed their allowlist entry.
    */
  def violations(flagsByQuery: Map[String, Seq[String]])
      : Map[String, Set[String]] =
    flagsByQuery.flatMap { case (n, fs) =>
      val structural = fs.toSet.intersect(structuralFlags)
      val excess = structural.diff(allowlist.getOrElse(n, Set.empty))
      if (excess.isEmpty) None else Some(n -> excess)
    }

  /** Scale-trap flags for one physical-plan string. */
  def flags(plan: String): Seq[String] = Seq(
    "CartesianProduct" -> plan.contains("CartesianProduct"),
    "BroadcastNestedLoopJoin" -> plan.contains("BroadcastNestedLoopJoin"),
    // SinglePartition exchanges beyond the final presentation sort
    "multi-SinglePartition" ->
      (plan.sliding("SinglePartition".length).count(_ == "SinglePartition") > 1)
  ).collect { case (f, true) => f }

  /** Plan-compile every named query and return the queries that flag,
    * name -> flags. The sweep itself never executes the swept plan —
    * with ONE caveat: a query backed by `graft.Materialized` runs its
    * write-once build job during DataFrame CONSTRUCTION on first
    * access per (key, dataset) per JVM, so the sweep here only ever
    * sees the finished table's parquet scan. Those build plans are
    * audited separately (PlanAuditSpec sweeps each registered build
    * directly; Bench's runtime gate merges `Materialized`'s recorded
    * build flags into the triggering query's flag set). Errors surface
    * as an `ERROR ...` flag — a query whose plan cannot even build must
    * fail the audit, not hide the rest of it; the catch is Throwable on
    * purpose (Janino codegen StackOverflowError / NoClassDefFoundError
    * are query-local here, and this never runs inside an executor).
    */
  def sweep(spark: SparkSession, names: Seq[String], sfDir: String)
      : Map[String, Seq[String]] =
    names.flatMap { n =>
      val fs =
        try flags(
          SparkEntry.queries(n)(spark, sfDir).queryExecution.executedPlan.toString)
        catch {
          case e: Throwable =>
            Seq(s"ERROR ${e.getClass.getSimpleName}: " +
              String.valueOf(e.getMessage).take(100))
        } finally Caches.unpersistAll() // even on error — leaked caches distort later plans
      if (fs.isEmpty) None else Some(n -> fs)
    }.toMap

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = LocalSession.builder(8)
      .config("spark.sql.adaptive.enabled", "false") // full plan visibility
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val flagged = sweep(spark, names, sfDir)
    flagged.toSeq.sortBy(_._1).foreach { case (n, fs) =>
      println(s"[audit] $n: ${fs.mkString(", ")}")
    }
    println(s"[audit] done: ${names.size} queries, ${flagged.size} flagged")
    spark.stop()
  }
}
