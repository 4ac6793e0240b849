package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Composite training-data pipeline operators: quality-filter -> dedup ->
  * per-source stats (the classic corpus-cleaning chain), and
  * deterministic hash-based train/val/test splitting. Everything is one
  * declarative plan per query — filters reach the scan, the dedup is a
  * single hash shuffle, stats piggyback on the dedup partitioning.
  */
object PipelineOps {

  /** Quality score: the t03 formula (length/alpha/stopword ratios). */
  private def qualityScore: Column = {
    val t = split(col("text"), " ")
    val nTok = size(t)
    val nChars = length(col("text"))
    val alphaChars = length(regexp_replace(col("text"), "[^A-Za-z]", ""))
    val stop = size(filter(t, x =>
      x.isin(Seq("the", "a", "of", "and", "is", "to", "in").map(lit(_)): _*)))
    val stopRatio = stop.cast("double") / nTok
    val alphaRatio = alphaChars.cast("double") / nChars
    val lenScore = least(nTok.cast("double") / lit(100.0), lit(1.0))
    lenScore * 0.4 + alphaRatio * 0.3 + stopRatio * 0.3
  }

  private val qualitySql =
    """least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0) * 0.4
      | + (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
      |    / length(text)) * 0.3
      | + (CAST(len(list_filter(string_split(text, ' '),
      |      x -> x IN ('the','a','of','and','is','to','in'))) AS DOUBLE)
      |    / len(string_split(text, ' '))) * 0.3""".stripMargin
      .replace("\n", " ")

  /** Corpus cleaning: quality gate -> exact dedup (keep lowest doc_id per
    * content hash) -> per-source stats over the survivors.
    */
  def p01CorpusClean(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .withColumn("q", qualityScore)
      .filter(col("q") >= 0.55 && size(split(col("text"), " ")) >= 30)
    val kept = scored
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
      .filter(col("rn") === 1)
    kept.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("q").cast(DecimalType(28, 12))).cast("double")
          .as("sum_quality"),
        sum(size(split(col("text"), " ")).cast("long")).cast("long")
          .as("total_tokens"))
      .withColumn("avg_quality", col("sum_quality") / col("n_docs"))
      .select("source", "n_docs", "total_tokens", "sum_quality", "avg_quality")
      .orderBy("source")
  }

  /** Salted md5 of doc_id as a BIGINT in [0, 2^32) — the one
    * deterministic randomness primitive every sampling/splitting op
    * derives from (p02 buckets, p05/p07 uniforms). Single definition so
    * the hash window / normalizer can never drift between operators.
    */
  private def saltedHashExpr(salt: String): String =
    s"CAST(conv(substring(md5(concat('$salt:', CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT)"

  /** The same hash mapped to a uniform double in [0, 1). */
  private def saltedUniform(salt: String): Column =
    expr(saltedHashExpr(salt)).cast("double") / lit(4294967296.0)

  /** Deterministic train/val/test assignment: bucket 0-7 train, 8 val,
    * 9 test, from a salted md5 of the doc id — stable across engines,
    * re-runs, and partitionings (never `rand()`).
    */
  def p02HashSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("bucket", expr(s"${saltedHashExpr("split")} % 10"))
      .withColumn("split",
        when(col("bucket") < 8, "train")
          .when(col("bucket") === 8, "val")
          .otherwise("test"))
      .select("doc_id", "bucket", "split")
      .orderBy("doc_id")

  /** Column profiling: per-column row/null/distinct counts and
    * decimal-stringified min/max over lineitem — the data-quality scan a
    * pipeline runs before training ingestion. One pruned single-column
    * scan per profiled column (Catalyst reads only that column's pages).
    */
  def p03Profile(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    def num(c: String): DataFrame =
      l.agg(
        count(lit(1)).as("n"),
        (count(lit(1)) - count(col(c))).as("n_nulls"),
        countDistinct(col(c)).as("n_distinct"),
        min(col(c)).cast(DecimalType(28, 6)).cast("string").as("min_value"),
        max(col(c)).cast(DecimalType(28, 6)).cast("string").as("max_value"))
        .select(lit(c).as("column_name"), col("*"))
    def str(c: String): DataFrame =
      l.agg(
        count(lit(1)).as("n"),
        (count(lit(1)) - count(col(c))).as("n_nulls"),
        countDistinct(col(c)).as("n_distinct"),
        min(col(c)).as("min_value"), max(col(c)).as("max_value"))
        .select(lit(c).as("column_name"), col("*"))
    num("l_quantity").union(num("l_extendedprice")).union(num("l_discount"))
      .union(num("l_tax")).union(str("l_returnflag"))
      .orderBy("column_name")
  }

  /** Token-budget shard packing: doc d lands in training shard
    * floor(prefix_tokens_before(d) / budget) in doc_id order — the step
    * that turns a cleaned corpus into bounded training shards.
    *
    * Scale plan — NO global-order window over raw rows (that is one
    * task): the prefix sum is two-phase, the same shape as w08's
    * histogram rank selection. Docs group into coarse doc_id ranges;
    * the in-group exclusive prefix runs per-group (parallel across
    * groups), the tiny per-group totals take the only global window
    * (one row per group), and the group offset broadcasts back. At
    * 100 TB: groups = id-range buckets sized to a few hundred MB each.
    */
  /** Two-phase exclusive-prefix-sum shard assignment over an arbitrary
    * (doc_id, n_tokens) frame — the property-tested core of p04:
    * identical to `floor(global_running_sum_before / budget)` in doc_id
    * order, without ever running a global-order window over raw rows.
    */
  private[graft] def packByBudget(
      docs0: DataFrame, budget: Long, grpSize: Long): DataFrame = {
    val docs = docs0.withColumn("grp", expr(s"doc_id div $grpSize"))
    val wIntra = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy("doc_id")
      .rowsBetween(Long.MinValue, -1)
    val wGrp = org.apache.spark.sql.expressions.Window
      .orderBy("grp").rowsBetween(Long.MinValue, -1)
    val offsets = docs.groupBy("grp").agg(sum(col("n_tokens")).as("gtot"))
      .withColumn("offset", coalesce(sum(col("gtot")).over(wGrp), lit(0L)))
      .select("grp", "offset")
    docs
      .withColumn("intra", coalesce(sum(col("n_tokens")).over(wIntra), lit(0L)))
      .join(broadcast(offsets), Seq("grp"))
      .withColumn("shard_id", expr(s"(intra + offset) div $budget"))
      .select("doc_id", "n_tokens", "shard_id")
      .orderBy("doc_id")
  }

  def p04TokenPack(spark: SparkSession, dir: String): DataFrame = {
    // cached narrow projection (2 longs/row): both the intra-group prefix
    // and the per-group totals read it, so the corpus text is scanned and
    // tokenized ONCE (harness unpersists post-query via the registry)
    val docs = graft.Caches.cache(Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens")))
    packByBudget(docs, budget = 500L, grpSize = 64L)
  }

  /** Packing-efficiency report over p04's shard assignment: per shard,
    * document count, token load, fill rate against the 500-token
    * budget, and an overflow flag. Under start-offset assignment (a
    * doc goes to the shard its cumulative start falls in) shard loads
    * WOBBLE around the budget — the long-document overhang this report
    * quantifies is exactly what a loader's truncation/padding pays,
    * and a fat overflow tail is the "sort long docs first" signal.
    * Counts exact; fill_rate the one division by the integer budget.
    *
    * 100 TB posture: p04's two-phase prefix sum is the corpus work;
    * this report is ONE shard-keyed hash agg on its (3-longs/row)
    * output — shard count is corpus_tokens/500, far smaller than rows.
    */
  def p21PackReport(spark: SparkSession, dir: String): DataFrame =
    p04TokenPack(spark, dir)
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))
      .select(col("shard_id"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / 500.0).as("fill_rate"),
        when(col("n_tokens") > 500L, 1L).otherwise(0L).as("overflow"))
      .orderBy("shard_id")

  /** Preference-pair construction (the DPO/RLHF data shape): within
    * each source, rank documents by the d15 integer lexical-diversity
    * quality (distinct_tokens * 1e6 div n_tokens, doc_id tiebreak) and
    * pair quality rank k from the TOP with rank k from the BOTTOM
    * (k <= 3) — chosen vs rejected with the exact integer quality gap.
    * Sources too small to pair disjointly emit only the pairs where
    * the chosen rank strictly beats the rejected rank's quality
    * position (2k <= group size), so no doc is ever its own rejected
    * twin and no pair repeats.
    *
    * 100 TB posture: two windows over SOURCE partitions (top rank /
    * bottom rank on the same sort — one shuffle key) and a k-bounded
    * self-join of the <= 3-rows-per-source extremes; the corpus-sized
    * frame is scanned once for the quality projection.
    */
  def p22PreferencePairs(spark: SparkSession, dir: String): DataFrame = {
    val quality = "CAST(size(array_distinct(split(text, ' '))) AS BIGINT)" +
      " * 1000000 div size(split(text, ' '))"
    val q = graft.Caches.cache(Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), expr(quality).as("quality")))
    val wTop = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id").asc)
    val wBot = Window.partitionBy(col("source"))
      .orderBy(col("quality").asc, col("doc_id").desc)
    val ranked = q
      .withColumn("top_rank", row_number().over(wTop))
      .withColumn("bot_rank", row_number().over(wBot))
      .withColumn("grp_n", count(lit(1))
        .over(Window.partitionBy(col("source"))))
    val chosen = ranked.filter(col("top_rank") <= 3 &&
        col("top_rank") * 2 <= col("grp_n"))
      .select(col("source"), col("top_rank").as("k"),
        col("doc_id").as("chosen_doc"), col("quality").as("chosen_q"))
    val rejected = ranked.filter(col("bot_rank") <= 3 &&
        col("bot_rank") * 2 <= col("grp_n"))
      .select(col("source"), col("bot_rank").as("k"),
        col("doc_id").as("rejected_doc"), col("quality").as("rejected_q"))
    chosen.join(rejected, Seq("source", "k"))
      .select(col("source"), col("k").cast("long").as("k"),
        col("chosen_doc"), col("rejected_doc"),
        col("chosen_q"), col("rejected_q"),
        (col("chosen_q") - col("rejected_q")).as("quality_gap"))
      .orderBy("source", "k")
  }

  /** Temperature-smoothed source-mixture plan (alpha = 1/2) — the
    * mixing computation behind Pile/ROOTS-style corpus weighting:
    * sampling weight w_s proportional to src_tokens^alpha flattens the
    * natural distribution (small curated sources up, the web crawl
    * down) without equalizing it. Per source: natural share, smoothed
    * target share, the upsample factor a loader applies (>1 = repeat
    * epochs, <1 = subsample), and the planned token draw for a budget
    * of one full corpus pass.
    *
    * Cross-engine exactness: w_s = floor(sqrt(src_tokens)) — IEEE sqrt
    * is correctly rounded, so BOTH engines compute the identical double
    * and the identical floor (even where that floor differs from the
    * mathematical isqrt near k^2 - 1 boundaries, it differs the same
    * way); every share/factor is one division of exact integer
    * products; planned_tokens is truncating integer division (values
    * positive, so Spark DIV == DuckDB //).
    *
    * 100 TB posture: ONE source-keyed hash agg over the corpus (tokens
    * counted map-side); the plan itself is a sources-sized frame with a
    * 1-row totals broadcast (the d23 scalar pattern).
    */
  def p23MixturePlan(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(spark, dir)
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("src_tokens"))
      .withColumn("w",
        expr("CAST(floor(sqrt(CAST(src_tokens AS DOUBLE))) AS BIGINT)"))
    val totals = per.agg(sum(col("src_tokens")).as("total_tokens"),
      sum(col("w")).as("total_w"))
    // w*total_tokens is sqrt(tokens) x tokens — past ~1e13 corpus
    // tokens it overflows signed 64-bit identically in both engines,
    // so the products run in DECIMAL(38,0) / HUGEINT (the w53
    // convention). planned_tokens stays BIGINT: the DIV quotient is
    // bounded by total_tokens even though its numerator is not.
    val decP = (c: Column) => c.cast(DecimalType(38, 0))
    per.crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"), col("src_tokens"),
        (col("src_tokens").cast("double") /
          col("total_tokens").cast("double")).as("natural_share"),
        (col("w").cast("double") / col("total_w").cast("double"))
          .as("target_share"),
        ((decP(col("w")) * decP(col("total_tokens"))).cast("double") /
          (decP(col("total_w")) * decP(col("src_tokens"))).cast("double"))
          .as("upsample_factor"),
        expr("(CAST(w AS DECIMAL(38,0)) * total_tokens) DIV total_w")
          .as("planned_tokens"))
      .orderBy("source")
  }

  /** Family-safe negative sampling (contrastive/embedding training
    * data): per anchor document, k = 2 deterministic pseudo-random
    * negatives that are guaranteed NOT near-duplicates of the anchor —
    * a near-dup drawn as a "negative" is a false negative that poisons
    * a contrastive objective (the SemDeDup-era failure mode), so
    * candidates sharing the anchor's converged d07 family are excluded
    * before ranking. Randomness is the p02 salted-md5 hash, never
    * `rand()`: docs are ordered into 64 hash-bucketed RINGS (bucket =
    * h % 64, ring position by (h, doc_id) within the bucket), and each
    * anchor's candidates are the next J = 5 ring neighbors (wrapping,
    * never reaching itself); the first k survivors by ring distance
    * ship. Buckets smaller than j+1 or heavy family exclusion yield
    * honestly SHORT rows (rank stays contiguous from 1), never a
    * silent same-family fill-in.
    *
    * 100 TB posture: no global sort — ring positions are bucket-keyed
    * windows (the p15 lesson); the candidate join hashes on
    * (bucket, position); the ×5 explode is bounded; the family frame
    * is near-dup-node-sized and joins on doc ids.
    */
  def p25NegativePairs(spark: SparkSession, dir: String): DataFrame = {
    // cached: the anchor-side and negative-side family joins both read
    // it — uncached, the converged fixpoint propagation runs twice
    val fam = graft.Caches.cache(DedupOps.convergedComponents(spark, dir)
      .select(col("doc_id"), col("component")))
    negativePairsOf(Tables.documents(spark, dir).select("doc_id"), fam)
  }

  /** p25's body over (doc_id) + (doc_id, component) frames —
    * spec-shared (the spec recomputes the rings independently).
    */
  // r15 note: a lead()-window neighbor form (candidates and family
  // labels riding the one bucket window, wrap-around via a broadcast of
  // bucket heads) was tried here and won a dummy-fam noop A/B (0.99 ->
  // 0.66 s) but LOST the real-query same-host-phase solo A/B (2.02 s vs
  // 1.58 s min-of-5): the heads agg/broadcast and the second window
  // frame cost more than the positional self-join they replace at this
  // scale. Reverted per guide s1.1; results were cross-checked equal
  // row-for-row before discarding.
  private[graft] def negativePairsOf(docs: DataFrame, fam: DataFrame)
      : DataFrame = {
    val k = 2; val j = 5; val b = 64
    val ring = docs.select(col("doc_id"))
      .withColumn("h", expr(saltedHashExpr("neg")))
      .withColumn("bucket", pmod(col("h"), lit(b.toLong)))
    val pos = ring.withColumn("pos",
      (row_number().over(Window.partitionBy("bucket")
        .orderBy(col("h"), col("doc_id"))) - 1).cast("long"))
    val sizes = pos.groupBy("bucket").agg(count(lit(1)).as("bn"))
    val ringS = graft.Caches.cache(pos.join(sizes, "bucket"))
    val cand = ringS
      .select(col("bucket"), col("doc_id"), col("pos"), col("bn"),
        explode(expr(s"sequence(1, $j)")).as("dist"))
      .filter(col("dist") < col("bn")) // a full wrap would reach itself
      .withColumn("npos", pmod(col("pos") + col("dist"), col("bn")))
    val joined = cand.join(
      ringS.select(col("bucket"), col("pos").as("npos"),
        col("doc_id").as("neg_doc_id")),
      Seq("bucket", "npos"))
    val filtered = joined
      .join(fam.select(col("doc_id"), col("component").as("fam_a")),
        Seq("doc_id"), "left")
      .join(fam.select(col("doc_id").as("neg_doc_id"),
        col("component").as("fam_b")), Seq("neg_doc_id"), "left")
      .filter(col("fam_a").isNull || col("fam_b").isNull ||
        col("fam_a") =!= col("fam_b"))
    val w = Window.partitionBy("doc_id").orderBy("dist")
    filtered.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("neg_doc_id"),
        col("dist").cast("long").as("ring_distance"), col("rank"))
      .orderBy("doc_id", "rank")
  }

  /** Source-concentration card (1 row) — the governance readout next
    * to p23's plan: HOW dominated is the corpus before any mixing?
    * HHI = Σ share² (the antitrust statistic: 1/n_sources when
    * balanced, →1 when one crawl owns everything) and the Gini
    * coefficient over per-source token mass, plus the top source's
    * share. All three are single divisions of exact integer
    * aggregates: HHI = Σn_s² / N², Gini = (2·Σ i·x_(i) − (n+1)·N) /
    * (n·N) over the ascending-sorted source masses (ties broken by
    * source name so the rank sum is deterministic — Gini's value is
    * tie-order-invariant, the determinism is for the audit trail).
    *
    * 100 TB posture: ONE source-keyed hash agg collapses the corpus;
    * the rank window and every later step run on the sources-sized
    * frame (the single-partition window spans n_sources rows, not
    * corpus rows).
    */
  def p24SourceConcentration(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(spark, dir)
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .groupBy("source").agg(sum("n_tokens").as("x"))
    val ranked = per.withColumn("i",
      row_number().over(Window.orderBy(col("x").asc, col("source").asc))
        .cast("long"))
    // x = per-source token totals: x² and total² overflow signed 64-bit
    // past ~3e9 tokens, so the HHI terms run in DECIMAL(38,0) / HUGEINT
    // (the w53 convention). rank_mass (i*x, rank is n_sources-bounded)
    // and the gini terms stay in longs — bounded by sources x total,
    // not total².
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    ranked.agg(count(lit(1)).as("n_sources"), sum(col("x")).as("total_tokens"),
      sum(dec(col("x")) * dec(col("x"))).as("sum_sq"),
      sum(col("i") * col("x")).as("rank_mass"),
      max(col("x")).as("top_tokens"))
      .select(col("n_sources"), col("total_tokens"),
        (col("sum_sq").cast("double") /
          (dec(col("total_tokens")) * dec(col("total_tokens")))
            .cast("double"))
          .as("hhi"),
        ((lit(2L) * col("rank_mass") -
          (col("n_sources") + 1L) * col("total_tokens")).cast("double") /
          (col("n_sources") * col("total_tokens")).cast("double"))
          .as("gini"),
        (col("top_tokens").cast("double") /
          col("total_tokens").cast("double")).as("top_share"))
  }

  /** Deterministic stratified sampling: per-language keep rates
    * (downsample the dominant language — corpus rebalancing), keep
    * decision from a salted md5 of the doc id mapped to [0,1) — stable
    * across engines, re-runs, and partitionings, never `rand()`. Pure
    * per-row scan work; the filter reaches the scan.
    */
  def p05StratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val rate = when(col("lang") === "en", 0.3)
      .when(col("lang") === "zh", 0.8)
      .otherwise(1.0)
    Tables.documents(spark, dir)
      .withColumn("u", saltedUniform("sample"))
      .filter(col("u") < rate)
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** Sliding-window token chunking (size 32, stride 24 — 8-token
    * overlap): the step that turns cleaned documents into fixed-size
    * training windows. One `sequence` + `posexplode` per row, `slice` +
    * `array_join` per chunk — pure per-row generative work that scales
    * with output size; no shuffle except the presentation sort. The
    * final chunk may be short; a start whose window would sit ENTIRELY
    * inside the previous chunk (possible when n mod stride <=
    * size - stride) is not emitted — every chunk contributes at least
    * one new token, so no training window is a duplicate. Start s adds
    * tokens beyond the previous chunk's end s - stride + size iff
    * n > s + (size - stride), hence the last start is
    * max(0, the largest stride multiple <= n - overlap - 1).
    */
  /** The chunking core over any (doc_id, text) frame — exposed so the
    * ScalaCheck property drives the REAL operator (not a re-derived
    * copy of the start formula) across arbitrary sizes/strides.
    */
  private[graft] def chunkDocs(
      docs: DataFrame, size: Int, stride: Int): DataFrame = {
    require(size > stride && stride >= 1, s"need size > stride >= 1")
    val overlap = size - stride
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(expr(
          s"sequence(0L, CAST(greatest(size(toks) - ${overlap + 1}, 0) AS BIGINT), $stride)"))
          .as("start"))
      .select(
        col("doc_id"),
        expr(s"start div $stride").as("chunk_id"),
        col("start"),
        expr(s"slice(toks, CAST(start + 1 AS INT), $size)").as("chunk"))
      .select(col("doc_id"), col("chunk_id"), col("start"),
        org.apache.spark.sql.functions.size(col("chunk")).cast("long")
          .as("n_chunk_tokens"),
        array_join(col("chunk"), " ").as("chunk_text"))
      .orderBy("doc_id", "chunk_id")
  }

  def p06Chunk(spark: SparkSession, dir: String): DataFrame =
    chunkDocs(Tables.documents(spark, dir), size = 32, stride = 24)

  /** Domain mixing (corpus rebalancing toward equal token shares): each
    * source's keep rate is min(1, fair_share / source_tokens) where
    * fair_share = total_tokens / n_sources — over-represented sources
    * are down-sampled, under-represented ones kept whole. The keep
    * decision reuses p05's salted-hash uniform (deterministic across
    * engines/partitionings, never rand()). Plan: one narrow hash agg
    * for per-source token counts, a 1-row global roll-up broadcast back,
    * then a pure per-row filter — the corpus is scanned once for stats
    * and once for the filtered output, no wide join.
    */
  def p07DomainMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val perSource = docs.groupBy("source")
      .agg(sum(col("n_tokens")).as("src_tokens"))
    val totals = perSource.agg(
      sum(col("src_tokens")).as("total_tokens"),
      count(lit(1)).as("n_sources"))
    val rates = perSource.crossJoin(broadcast(totals))
      .select(col("source"),
        least(lit(1.0),
          (col("total_tokens").cast("double") / col("n_sources")) /
            col("src_tokens").cast("double")).as("keep_rate"))
    docs.join(broadcast(rates), Seq("source"))
      .withColumn("u", saltedUniform("mix"))
      .filter(col("u") < col("keep_rate"))
      .select("doc_id", "source", "lang", "n_tokens", "keep_rate")
      .orderBy("doc_id")
  }

  /** Quality-decile labeling (curriculum buckets): every doc gets a
    * 1-10 decile of its quality score. The naive plan — ntile(10) over
    * a global ORDER BY — is one task sorting the whole corpus; instead
    * the 9 decile cut VALUES come from RelOps' two-phase histogram rank
    * selection (w08/w09 machinery, scan + hash-agg passes only) and
    * broadcast back, so labeling is a pure per-row comparison. A doc
    * tied exactly with a cut goes to the lower bucket (strict `<`
    * count) — deterministic in both engines; cut multiset (incl.
    * duplicate values when ranks collide) matches the oracle's.
    */
  def p08QualityDeciles(spark: SparkSession, dir: String): DataFrame = {
    // cached: the rank machinery makes ~4 passes (stats, histogram,
    // candidate buckets, final labeling) — score the corpus ONCE
    val scored = graft.Caches.cache(Tables.documents(spark, dir)
      .select(col("doc_id"), qualityScore.as("value")))
    val ev = scored.select(lit("all").as("event_type"), col("value"))
    val stats = RelOps.rankStats(ev)
    val targets = stats.select(col("event_type"),
      explode(expr(
        "transform(sequence(1, 9), i -> CAST(ceil(cnt * i / 10.0) AS BIGINT))"))
        .as("r"))
    val cuts = RelOps.valuesAtRanks(ev, stats, targets)
      .agg(collect_list(col("value")).as("cuts"))
    scored.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("value").as("score"),
        (org.apache.spark.sql.functions.size(
          filter(col("cuts"), c => c < col("value"))) + 1).cast("long")
          .as("decile"))
      .orderBy("doc_id")
  }

  /** Quality-filter CASCADE (the C4/Gopher recipe shape): every document
    * is scored against a battery of independent rejection rules in ONE
    * pass, emitting the measured stats, a fail bitmask (bit per rule),
    * and the keep verdict — so a pipeline can filter on `keep`, audit
    * per-rule rejection rates from the mask, and tune thresholds without
    * re-scanning. Rules over this fixture: too short (< 40 tokens, bit
    * 1), stopword ratio < 0.04 (bit 2, the "not prose" signal),
    * duplicate-bigram ratio > 0.05 (bit 4, the t06 repetition signal),
    * unique-word ratio < 0.35 (bit 8, low lexical diversity).
    *
    * Plan at scale: pure per-row scan work — no shuffle except the
    * presentation sort; this is the map-side gate that runs in front of
    * the shuffling stages (d11 dedup, p07 mixing). Every ratio is one
    * division of exact integer counts, so the doubles and the threshold
    * comparisons are bit-identical across engines.
    */
  def p09FilterCascade(spark: SparkSession, dir: String): DataFrame =
    cascadeCore(Tables.documents(spark, dir)).orderBy("doc_id")

  /** The p09 battery over any (doc_id, text) frame — factored so the
    * p31 release pipeline can gate on the same rules without
    * re-stating them. Unordered; p09 adds the presentation sort.
    */
  private[graft] def cascadeCore(docs: DataFrame): DataFrame = {
    // projected-toks form (TextOps.t06): split once per row
    val t = col("toks")
    val nTok = org.apache.spark.sql.functions.size(t)
    // n_tokens < 2 is DEFINED as one degenerate single-token "bigram"
    // (ratio 0.0) in BOTH engines: the oracle mirrors this exact guarded
    // idiom (generate_series(1, greatest(len-1,1)) + a truncating slice),
    // so a 1-token document scores identically across engines.
    val bigrams = "transform(sequence(1, greatest(size(toks)-1, 1))," +
      " i -> array_join(slice(toks, i, 2), ' '))"
    val stopRatio = (org.apache.spark.sql.functions.size(filter(t, x =>
      x.isin(Seq("the", "a", "of", "and", "is", "to", "in").map(lit(_)): _*)))
      .cast("double") / nTok).as("stop_ratio")
    val dupBigram = (lit(1.0) -
      org.apache.spark.sql.functions.size(array_distinct(expr(bigrams)))
        .cast("double") / greatest(nTok - 1, lit(1))).as("dup_bigram_ratio")
    val uniqRatio = (org.apache.spark.sql.functions.size(array_distinct(t))
      .cast("double") / nTok).as("uniq_ratio")
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), nTok.cast("long").as("n_tokens"),
        stopRatio, dupBigram, uniqRatio)
      .withColumn("fail_mask",
        (when(col("n_tokens") < 40, 1L).otherwise(0L) +
          when(col("stop_ratio") < 0.04, 2L).otherwise(0L) +
          when(col("dup_bigram_ratio") > 0.05, 4L).otherwise(0L) +
          when(col("uniq_ratio") < 0.35, 8L).otherwise(0L)).as("fail_mask"))
      .withColumn("keep", when(col("fail_mask") === 0, 1L).otherwise(0L))
  }

  /** Epoch/repeat-factor mixing plan (the "how many epochs of each
    * dataset" step a training run's data card publishes): given each
    * source's token inventory and a total token budget (2x the corpus
    * here, so upsampling genuinely occurs), assign every source an
    * equal target and emit its repeat factor split into full epochs +
    * a remainder sampling rate. p07 DOWN-samples overrepresented
    * sources to a target mix; this is the complementary UP-sampling
    * planner (repeat factors > 1) whose output drives the loader.
    *
    * All arithmetic is exact-integer until two final single divisions
    * (repeat_factor, remainder_rate), so both engines emit identical
    * doubles. Plan: one hash agg to O(sources) rows + a 1-row budget
    * broadcast — nothing corpus-sized moves.
    */
  def p10EpochPlan(spark: SparkSession, dir: String): DataFrame = {
    val perSource = Tables.documents(spark, dir)
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .groupBy("source")
      .agg(sum(col("n_tokens")).as("available_tokens"))
    val budget = perSource.agg(
      (sum(col("available_tokens")) * 2).as("budget_tokens"),
      count(lit(1)).as("n_sources"))
    perSource.crossJoin(broadcast(budget))
      .select(col("source"), col("available_tokens"),
        expr("budget_tokens div n_sources").as("target_tokens"))
      .select(col("source"), col("available_tokens"), col("target_tokens"),
        (col("target_tokens").cast("double") / col("available_tokens"))
          .as("repeat_factor"),
        expr("target_tokens div available_tokens").as("full_epochs"),
        ((col("target_tokens") % col("available_tokens")).cast("double") /
          col("available_tokens")).as("remainder_rate"))
      .orderBy("source")
  }

  /** PII scrub: regex redaction of emails, IPv4 addresses and phone
    * numbers with per-rule hit counts — the map-side privacy pass every
    * crawl pipeline runs before text leaves quarantine. The testdata
    * corpus is synthetic and PII-free by construction, so each row first
    * gets deterministic planted PII derived from doc_id (every doc an
    * email, every 3rd an IPv4, every 5th a phone); the oracle then
    * checks ENGINE PARITY of the regex surface (Java regex vs RE2 over
    * the compatible subset: char classes, bounded repeats, `\b`) on
    * rows where every rule provably fires, not a lucky zero-match.
    * Rules apply in order (email first — its domain contains dots that
    * must not leak into the IPv4 pass) and each rule counts matches on
    * the text it actually rewrites.
    *
    * Scale posture: pure per-row map work, zero shuffles before the
    * oracle-only sort; regex state compiles once per task. The planted
    * concat stands in for the real corpus having PII inline.
    */
  def p11PiiRedaction(spark: SparkSession, dir: String): DataFrame = {
    val emailPat = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
    val ipPat = """\b[0-9]{1,3}(\.[0-9]{1,3}){3}\b"""
    val phonePat = """\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b"""
    val id = col("doc_id")
    def s(c: Column): Column = c.cast("string")
    val aug = concat(col("text"),
      lit(" contact user"), s(id), lit("@mail-"), s(id % 7), lit(".example"),
      when(id % 3 === 0,
        concat(lit(" ip 10."), s(id % 256), lit(".0."), s(id % 100)))
        .otherwise(lit("")),
      when(id % 5 === 0,
        concat(lit(" tel 415-555-"), s(lit(1000) + id % 9000)))
        .otherwise(lit("")))
    Tables.documents(spark, dir)
      .select(id, aug.as("aug"))
      .withColumn("n_email", regexp_count(col("aug"), lit(emailPat)).cast("long"))
      .withColumn("t1", regexp_replace(col("aug"), emailPat, "<EMAIL>"))
      .withColumn("n_ip", regexp_count(col("t1"), lit(ipPat)).cast("long"))
      .withColumn("t2", regexp_replace(col("t1"), ipPat, "<IP>"))
      .withColumn("n_phone", regexp_count(col("t2"), lit(phonePat)).cast("long"))
      .withColumn("redacted", regexp_replace(col("t2"), phonePat, "<PHONE>"))
      .select(id, col("n_email"), col("n_ip"), col("n_phone"),
        col("redacted"), length(col("redacted")).cast("long").as("redacted_len"))
      .orderBy("doc_id")
  }

  /** Content-defined chunking (CDC, Rabin-style): a chunk boundary
    * falls BEFORE every token whose md5 leads with nibble 0 or 8
    * (P = 1/8 — measured ~5.5-token average chunks including doc
    * starts), then duplicated chunks across the corpus are surfaced by
    * content hash. Unlike p06's fixed windows or d12's fixed 16-word
    * chunks, CDC boundaries RESYNCHRONIZE after insertions/deletions —
    * a one-word edit shifts at most the chunk it lands in, so shared
    * boilerplate keeps identical chunk hashes across revisions (the
    * rsync/backup-dedup property, and how production corpus dedup
    * catches templated spans whole-doc hashing misses).
    *
    * Scale: one window shuffle keyed on doc_id (per-doc token order —
    * bounded by doc length, never corpus-wide), one hash agg on the
    * chunk hash; output O(duplicated boilerplate chunks).
    */
  /** The CDC core over any (doc_id, text) frame: one row per
    * content-defined chunk — exposed so the spec can pin the
    * resynchronization property on a planted edit.
    */
  private[graft] def cdcChunks(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos0"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    docs
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos0", "tok")))
      .withColumn("b",
        when(substring(md5(col("tok")), 1, 1).isin("0", "8"), 1).otherwise(0))
      .withColumn("chunk_id", sum(col("b")).over(w))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        array_join(transform(
          sort_array(collect_list(struct(col("pos0"), col("tok")))),
          x => x.getField("tok")), " ").as("chunk_text"))
  }

  def p12CdcChunk(spark: SparkSession, dir: String): DataFrame =
    cdcChunks(Tables.documents(spark, dir).select("doc_id", "text"))
      .groupBy(md5(col("chunk_text")).as("chunk_hash"))
      .agg(count(lit(1)).cast("long").as("n_copies"),
        countDistinct(col("doc_id")).cast("long").as("n_docs"),
        min(col("doc_id")).as("example_doc"),
        min(col("n_tokens")).as("n_tokens"))
      .filter(col("n_copies") > 1)
      .orderBy("chunk_hash")

  /** Leakage-safe train/val/test split: p02's salted-hash split keyed
    * on the NEAR-DUP FAMILY instead of the document, so no family ever
    * straddles train and eval — the split-leakage bug (a near-duplicate
    * of a training doc landing in test) that silently inflates evals.
    * family_id = d07's component label, or the doc's own id for
    * singletons — so every non-duplicated doc keeps EXACTLY the p02
    * split (same salt, same hash), and only family members move, onto
    * their family's bucket. Both properties are spec-pinned.
    *
    * 100 TB posture: the family-label frame is near-dup-population-
    * sized (far smaller than the corpus) so the left join broadcasts;
    * everything else is the same per-row hash map work as p02.
    */
  def p13LeakageSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    // CONVERGED family labels (fixpoint propagation), NOT d07's fixed
    // 4-round unroll: a family whose pair graph has diameter > 4 (a
    // chain of successive revisions) would under-merge at 4 rounds and
    // silently leak near-duplicates across splits — the exact bug this
    // operator exists to prevent. The oracle keeps d07Sql's unrolled
    // form; the fixture's families all converge within 4 rounds, so the
    // two agree there (and the convergence `require` inside
    // convergedComponents turns any future divergence into a loud
    // failure instead of a silent leak).
    val fam = DedupOps.convergedComponents(spark, dir)
    Tables.documents(spark, dir).select("doc_id")
      .join(broadcast(fam), Seq("doc_id"), "left")
      .withColumn("family_id", coalesce(col("component"), col("doc_id")))
      .withColumn("bucket", expr(
        "CAST(conv(substring(md5(concat('split:', CAST(family_id AS STRING)))," +
          " 1, 8), 16, 10) AS BIGINT) % 10"))
      .withColumn("split",
        when(col("bucket") < 8, "train")
          .when(col("bucket") === 8, "val")
          .otherwise("test"))
      .select("doc_id", "family_id", "bucket", "split")
      .orderBy("doc_id")
  }

  /** Per-source document cap (the "cap each domain at K docs" rebalance
    * a crawl-heavy corpus applies before mixing — without it a handful
    * of mega-domains dominate the token budget): keep the K docs with
    * the SMALLEST salted hash per source, a deterministic
    * without-replacement uniform sample built on p02/p05's hash
    * primitive (stable across engines, re-runs, partitionings; never
    * `rand()`).
    *
    * Plan at scale: graft_topk's bounded heap — K entries per source
    * per PARTITION reach the shuffle (map-side partial aggregation), so
    * a billion-doc source ships K rows per partition and is never
    * globally sorted; the row_number() window form would shuffle and
    * sort the whole group. Ties (equal 32-bit hashes) break toward the
    * smaller doc_id in both the heap and the oracle's ORDER BY.
    */
  def p14SourceCap(spark: SparkSession, dir: String): DataFrame =
    sourceCap(Tables.documents(spark, dir), 50)

  // ---------------------------------------------------------------------
  // p16: incremental aggregate maintenance (materialized-view merge).
  // The lakehouse daily-rollup discipline: the HISTORY slice's partial
  // aggregate state is persisted once per dataset dir (one
  // `graft.Materialized` table, like the pair graph), and the rollup
  // query merges that state with the incoming DELTA slice's partials —
  // history is never rescanned. The merge is lossless because every
  // partial is mergeable: counts and exact DECIMAL sums add, mins/maxes
  // fold; the only float appears in the final one-shot casts/division,
  // identically in both engines. At 100 TB this is the difference
  // between an O(day) and an O(history) daily metrics job — the same
  // partials a streaming aggregation would keep as its state.
  // ---------------------------------------------------------------------

  private val aggDec = DecimalType(18, 4)

  /** Mergeable per-(returnflag, linestatus) partials of a lineitem
    * slice: row count, exact decimal sums, shipdate min/max.
    */
  private def aggPartials(li: DataFrame): DataFrame =
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(aggDec)).as("sq"),
        sum(col("l_extendedprice").cast(aggDec)).as("sb"),
        min(col("l_shipdate")).as("mn"),
        max(col("l_shipdate")).as("mx"))

  /** History slice = l_orderkey % 10 != 0 (the standing corpus);
    * delta = % 10 = 0 (today's ingest).
    */
  private def historySlice(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).filter(col("l_orderkey") % 10 =!= 0)

  /** The raw (unmaterialized) history-partials build — exposed so
    * PlanAuditSpec can audit the write-once build the query sweep never
    * sees.
    */
  private[graft] def aggStateBuild(
      spark: SparkSession, dir: String): DataFrame =
    aggPartials(historySlice(spark, dir))

  /** Incrementally maintained pricing rollup: persisted history partials
    * merged with the delta slice's partials; value-identical to the full
    * recompute the oracle states (spec-pinned), with history scanned
    * exactly once per dataset dir (build-once spec).
    */
  def p16AggMerge(spark: SparkSession, dir: String): DataFrame = {
    val state = graft.Materialized.table(spark, s"aggstate:$dir", dir)(
      aggStateBuild(spark, dir))
    val delta = aggPartials(
      Tables.lineitem(spark, dir).filter(col("l_orderkey") % 10 === 0))
    state.unionByName(delta)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("n")).as("count_order"),
        sum(col("sq")).as("sqm"),
        sum(col("sb")).as("sbm"),
        min(col("mn")).as("first_ship"),
        max(col("mx")).as("last_ship"))
      .select(col("l_returnflag"), col("l_linestatus"), col("count_order"),
        col("sqm").cast("double").as("sum_qty"),
        col("sbm").cast("double").as("sum_base_price"),
        (col("sqm").cast("double") / col("count_order")).as("avg_qty"),
        col("first_ship"), col("last_ship"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** The p14 core over any (doc_id, source) frame — exposed so the spec
    * can drive a source PAST the cap (the sf0.01 fixture's sources all
    * fit under it, so the oracle alone would not catch a broken heap).
    */
  private[graft] def sourceCap(docs: DataFrame, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs
      .select(col("doc_id"), col("source"),
        expr(saltedHashExpr("cap")).as("h"))
      .groupBy("source")
      .agg(expr(s"graft_topk(-CAST(h AS DOUBLE), doc_id, $k)").as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("source"), col("e.id").as("doc_id"),
        (col("pos") + 1).cast("long").as("cap_rank"))
      .orderBy("source", "cap_rank")
  }

  /** Deterministic global training-order shuffle (epoch permutation):
    * every doc gets a unique position 0..n-1 in a pseudorandom order
    * that is stable across engines, re-runs, and partitionings — the
    * salted-hash discipline (never `rand()`), a different salt per
    * epoch re-deals the order.
    *
    * The naive statement — `row_number() OVER (ORDER BY hash)` — is ONE
    * task sorting the whole corpus (the oracle says exactly that;
    * DuckDB may do it, the engine must not). Distributed form:
    *   1. bucket = h % 64 (tunable; thousands at 100 TB);
    *   2. per-bucket counts -> cumulative offsets (a 64-row window);
    *   3. row_number within each bucket, ordered (h, doc_id) — buckets
    *      sort INDEPENDENTLY in parallel, each ~n/64 rows;
    *   4. pos = bucket offset + in-bucket rank - 1.
    * Equal 32-bit hashes tie-break on doc_id in both engines.
    */
  def p15EpochShuffle(spark: SparkSession, dir: String): DataFrame =
    epochShuffle(Tables.documents(spark, dir), "epoch0")

  /** The p15 core over any doc_id frame — exposed so the spec can check
    * the permutation property and partitioning-invariance directly.
    */
  private[graft] def epochShuffle(docs: DataFrame, salt: String): DataFrame = {
    val hashed = graft.Caches.cache(docs
      .select(col("doc_id"), expr(saltedHashExpr(salt)).as("h"))
      .withColumn("bucket", col("h") % 64))
    val wOff = org.apache.spark.sql.expressions.Window
      .orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = hashed.groupBy("bucket")
      .agg(count(lit(1)).as("bn"))
      .withColumn("off", coalesce(sum(col("bn")).over(wOff), lit(0L)))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket")).orderBy(col("h"), col("doc_id"))
    hashed.join(broadcast(offsets.select("bucket", "off")), Seq("bucket"))
      .select(col("doc_id"),
        (col("off") + row_number().over(wRank) - 1).as("pos"))
      .orderBy("doc_id")
  }

  /** Exact-N proportional sample via Hamilton largest-remainder
    * apportionment: per-source quotas are floor(N*n_s/total) plus one
    * extra seat for the largest remainders (ties: larger source first,
    * then source name — a total order), so quotas are integers that sum
    * to EXACTLY N; each source then contributes its quota of docs by
    * smallest salted hash (p02/p05's primitive, doc_id tiebreak) — a
    * deterministic without-replacement uniform draw. p05 samples a
    * FRACTION (N varies run to run with corpus composition); training
    * runs budget an exact row count, and naive floor/round quotas
    * under- or over-shoot N — the apportionment is the classical fix
    * (every arithmetic step integer-exact, so bit-identical across
    * engines and partitionings).
    *
    * 100 TB posture: counts/quota frames are source-population-sized
    * (broadcast); the pick is ONE window shuffle keyed on source —
    * with per-source quotas bounded by a constant, p14's
    * graft_topk-per-partition heap form drops in to cap what reaches
    * the shuffle.
    */
  def p17QuotaSample(spark: SparkSession, dir: String): DataFrame =
    quotaSample(Tables.documents(spark, dir).select("doc_id", "source"), 207L)

  /** The p17 core over any (doc_id, source) frame — exposed so the spec
    * can pin the exact-N property AND the tiny-corpus clamp (ADVICE r7:
    * with N > corpus size, floor(N*n_s/total) can exceed n_s and the
    * output silently under-fills). The effective target is
    * least(N, total): when the corpus cannot supply N docs, every doc is
    * taken — quotas still sum to the effective target exactly, and no
    * per-source quota ever exceeds that source's population (for
    * eff < total, floor(eff*n_s/total) <= n_s - 1, so +1 seat is safe;
    * for eff = total, base quotas are exactly n_s and extra = 0).
    */
  private[graft] def quotaSample(docs: DataFrame, N: Long): DataFrame = {
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_s"))
    val tot = counts.agg(sum(col("n_s")).as("total"))
    // eff_n*n_s is bounded by total² (corpus docs squared): past ~3e9
    // docs it overflows signed 64-bit identically in both engines, so
    // the apportionment products run in DECIMAL(38,0) / HUGEINT (the
    // w53 convention); base_q (a quotient <= n_s) and rem (< total)
    // stay long-safe
    val base = counts.crossJoin(broadcast(tot))
      .withColumn("eff_n", least(lit(N), col("total")))
      .select(col("source"), col("n_s"), col("eff_n"),
        expr("(CAST(eff_n AS DECIMAL(38,0)) * n_s) div total").as("base_q"),
        (col("eff_n").cast(DecimalType(38, 0)) * col("n_s") % col("total"))
          .cast("long").as("rem"))
    val seats = base.agg((max(col("eff_n")) - sum(col("base_q"))).as("extra"))
    val wOrd = Window.orderBy(col("rem").desc, col("n_s").desc,
      col("source").asc)
    val quota = base.crossJoin(broadcast(seats))
      .withColumn("rnk", row_number().over(wOrd))
      .select(col("source"),
        (col("base_q") +
          when(col("rnk") <= col("extra"), 1L).otherwise(0L)).as("quota"))
    val wPick = Window.partitionBy(col("source"))
      .orderBy(expr(saltedHashExpr("quota")), col("doc_id"))
    docs
      .withColumn("pick_rank", row_number().over(wPick).cast("long"))
      .join(broadcast(quota), Seq("source"))
      .filter(col("pick_rank") <= col("quota"))
      .select("doc_id", "source", "quota", "pick_rank")
      .orderBy("source", "pick_rank")
  }

  /** Contamination-aware split: p02's deterministic train/val/test
    * assignment with two governance overrides — benchmark documents
    * (the doc_id % 97 = 0 eval-suite convention) are labeled
    * 'benchmark' and never enter a training split, and documents whose
    * distinct-4-gram overlap with the benchmark side crosses the t12
    * criterion (2*shared >= total, exact integers) are forced to
    * 'quarantine'. Training on an eval set's near-verbatim copies is
    * the classic silent eval inflation; the split is where that
    * firewall belongs, because every downstream consumer inherits it.
    * Untouched documents keep EXACTLY their p02 assignment (same salt,
    * same hash — spec-pinned), so adopting the guard never reshuffles
    * clean data.
    *
    * 100 TB posture: d08's broadcast-benchmark-grams posture for the
    * flag (eval-suite-sized side, corpus exploded once), p02's pure
    * map work for the buckets; one hash agg per doc for the gram
    * counts.
    */
  def p18QuarantineSplit(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // graft_ngrams_distinct: one byte pass per row (r16, NgramKernelSpec)
    val g = graft.Caches.cache(Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(expr("graft_ngrams_distinct(text, 4)")).as("gram")))
    val tot = g.groupBy("doc_id").agg(count(lit(1)).as("n_g"))
    val bench = g.filter(col("doc_id") % 97 === 0)
      .select("gram").distinct()
    val shared = g.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(bench), Seq("gram"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    Tables.documents(spark, dir).select("doc_id")
      .join(tot, Seq("doc_id"))
      .join(shared, Seq("doc_id"), "left")
      .withColumn("bucket", expr(saltedHashExpr("split")) % 10)
      .select(col("doc_id"), col("bucket"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"), col("n_g"),
        when(col("doc_id") % 97 === 0, "benchmark")
          .when(coalesce(col("n_shared"), lit(0L)) * 2 >= col("n_g"),
            "quarantine")
          .when(col("bucket") < 8, "train")
          .when(col("bucket") === 8, "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  /** Low-resource upsampling plan + materialized assignment: rebalance
    * the corpus toward its largest language by REPEATING under-
    * represented languages' documents — rep_factor =
    * min(ceil(target / n_lang), 4) with target = the majority
    * language's count, and one output row per (doc, copy). This is the
    * multilingual-training counterpart of p14 (p14 caps the over-
    * represented DOWN; this repeats the under-represented UP — the
    * classic temperature-style rebalance, capped so no document
    * repeats more than 4x per epoch). The explicit copy_id is what a
    * training loader consumes (and what p15's epoch shuffle would
    * permute per copy via a copy-salted hash).
    *
    * Determinism: integer ceil ((target + n - 1) div n), integer cap,
    * sequence(1, rep) — no floats anywhere.
    *
    * 100 TB posture: the plan is language-population-sized (broadcast);
    * the corpus-side work is one broadcast join + a bounded (<= 4x)
    * explode — pure map work, no shuffle beyond the source scan; the
    * fan-out bound means output size is predictable at plan time.
    */
  def p19UpsampleAssign(spark: SparkSession, dir: String): DataFrame =
    upsampleAssign(Tables.documents(spark, dir).select("doc_id", "lang"))

  /** The p19 body over any (doc_id, lang) frame — exposed for the
    * hand-computed rep-factor/cap spec.
    */
  private[graft] def upsampleAssign(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val target = counts.agg(max(col("n_lang")).as("target"))
    val plan = counts.crossJoin(broadcast(target))
      .select(col("lang"), col("n_lang"),
        expr("least((target + n_lang - 1) div n_lang, 4L)").as("rep_factor"))
    docs.join(broadcast(plan), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("n_lang"), col("rep_factor"),
        explode(expr("sequence(1L, rep_factor)")).as("copy_id"))
      .orderBy("lang", "doc_id", "copy_id")
  }

  /** The composed epoch-0 training order: p19's upsampled (doc, copy)
    * assignment permuted by p15's salted-hash epoch shuffle — the FINAL
    * manifest a training loader consumes. Each copy hashes
    * independently (salt 'epoch0:' + doc_id + ':' + copy_id), so a
    * doc's repeats scatter across the epoch instead of clumping — the
    * property upsampling needs to not bias consecutive batches. The
    * permutation is p15's two-phase form (64 contiguous hash buckets,
    * bucket offsets from a 64-row window, partition-parallel in-bucket
    * ranks), so positions are a bijection 0..N-1 without a global sort;
    * ties on equal 32-bit hashes break (doc_id, copy_id) — total in
    * both engines.
    *
    * 100 TB posture: p19's bounded <= 4x explode + ONE bucket-keyed
    * window shuffle; the bucket offsets are a 64-row frame. Epoch k
    * re-salts; nothing else changes.
    */
  def p20TrainingOrder(spark: SparkSession, dir: String): DataFrame = {
    val a = upsampleAssign(
        Tables.documents(spark, dir).select("doc_id", "lang"))
      .select("doc_id", "lang", "copy_id")
    val hashed = graft.Caches.cache(a.withColumn("h",
        expr("CAST(conv(substring(md5(concat('epoch0:', " +
          "CAST(doc_id AS STRING), ':', CAST(copy_id AS STRING))), " +
          "1, 8), 16, 10) AS BIGINT)"))
      .withColumn("bucket", col("h") % 64))
    val wOff = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = hashed.groupBy("bucket")
      .agg(count(lit(1)).as("bn"))
      .withColumn("off", coalesce(sum(col("bn")).over(wOff), lit(0L)))
    val wRank = Window.partitionBy(col("bucket"))
      .orderBy(col("h"), col("doc_id"), col("copy_id"))
    hashed.join(broadcast(offsets.select("bucket", "off")), Seq("bucket"))
      .select(col("doc_id"), col("lang"), col("copy_id"),
        (col("off") + row_number().over(wRank) - 1).as("pos"))
      .orderBy("doc_id", "copy_id")
  }

  /** Train→eval n-gram leakage audit over p13's family-safe split —
    * the OTHER leakage channel: p13 guarantees no near-dup FAMILY
    * straddles train and eval, but sub-document reuse (a quoted
    * paragraph, shared boilerplate) still leaks verbatim 8-grams from
    * train into eval and silently inflates the eval score. For EVERY
    * eval/val doc: how many of its distinct 8-grams appear in ANY
    * train doc, and the smallest offending train doc id — zero-hit
    * rows kept (the d23/t22 calibration discipline: the table must
    * show the clean docs too), so the output is the complete eval
    * spine and a threshold decision reads straight off it.
    *
    * 100 TB posture: the train gram stream collapses FIRST to one
    * (gram, min train id) row per distinct gram — the join output is
    * then bounded by the eval side's gram count, never train-df ×
    * eval-df; the join is gram-keyed hash (both sides shuffled once,
    * map-side distinct); the zero-row restore is a broadcast-sized
    * left join only when the eval spine is small — here it rides the
    * same doc_id key. The production df-cap lever (drop grams in >K
    * train docs as non-discriminative boilerplate) is [[evalLeakageOf]]
    * `maxDf` — the registered query keeps it off (exact audit).
    */
  def p26EvalLeakage(spark: SparkSession, dir: String): DataFrame =
    evalLeakageOf(Tables.documents(spark, dir).select("doc_id", "text"),
      p13LeakageSafeSplit(spark, dir).select("doc_id", "split"))

  /** The p26 body over any (doc_id, text) × (doc_id, split) pair —
    * exposed so the spec can plant a verbatim leaked phrase.
    *
    * `maxDf > 0` enables the production df-cap (VERDICT r9 item 3):
    * grams appearing in more than `maxDf` train docs are boilerplate,
    * not leakage signal, and are dropped — implemented as ONE exact
    * filter on the per-gram train df inside the agg that already
    * computes min(train_doc), so the capped audit costs the same gram
    * shuffle as the exact one while its JOIN OUTPUT (and the per-doc
    * hits agg behind it) shrinks by every (eval doc × boilerplate
    * gram) pair — the term that explodes on template-heavy corpora.
    *
    * Design note (measured, ScalingProbe `leakcap`, 1M half-boilerplate
    * docs): a Misra-Gries heavy-gram PRE-prune of the gram streams —
    * cached or uncached — measured 1.4-2x SLOWER than this form,
    * because Spark's map-side partial aggregation already collapses a
    * heavy gram's rows to one partial row per partition before the
    * shuffle; the extra sketch/verify passes bought nothing the partial
    * agg hadn't. The df filter after the (already heavy-key-immune)
    * agg is the whole lever. maxDf <= 0 = the registered exact audit.
    */
  private[graft] def evalLeakageOf(
      docs: DataFrame, splits: DataFrame, maxDf: Long = 0L): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // graft_ngrams_distinct: one byte pass per row (r16, NgramKernelSpec)
    val g = docs.join(splits, Seq("doc_id"))
      .select(col("doc_id"), col("split"),
        explode(expr("graft_ngrams_distinct(text, 8)")).as("gram"))
    val trainAgg = g.filter(col("split") === "train")
      .groupBy("gram").agg(min(col("doc_id")).as("train_doc"),
        count(lit(1)).as("df"))
    val trainGrams = (if (maxDf <= 0L) trainAgg
      else trainAgg.filter(col("df") <= maxDf))
      .select("gram", "train_doc")
    val hits = g.filter(col("split") =!= "train")
      .join(trainGrams, Seq("gram"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_leaked"),
        min(col("train_doc")).as("example_train_doc"))
    splits.filter(col("split") =!= "train")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("split"),
        coalesce(col("n_leaked"), lit(0L)).as("n_leaked_grams"),
        col("example_train_doc"))
      .orderBy("doc_id")
  }

  /** Token-budget waterfill across sources — the allocation step
    * between p24's concentration readout and p23's temperature mix:
    * given a global token budget (60% of the corpus here), every
    * source keeps all its tokens up to a SINGLE threshold T chosen so
    * the allocations exactly exhaust the budget (Σ min(n_i, T) = B) —
    * the max-min-fair split that never takes from a small source to
    * feed a large one. T has the classic sorted closed form: with
    * sources ascending by size and m sources remaining at rank k, the
    * first rank where cum_before + m·n_k ≥ B pins T = (B −
    * cum_before)/m — ONE division; every other number is an exact
    * integer or a min against T. B ≥ total degenerates to no-cap
    * (NULL threshold, full allocations, zero capped flags).
    *
    * 100 TB posture: the corpus-sized work is ONE per-source token
    * agg; everything after runs on the Σsources-row frame (the window
    * sort is |sources| rows — single-partition by design, like p24);
    * the 1-row threshold rides the d23 scalar broadcast.
    */
  def p27BudgetWaterfill(spark: SparkSession, dir: String): DataFrame =
    budgetWaterfillOf(
      Tables.documents(spark, dir)
        .select(col("source"),
          size(split(col("text"), " ")).cast("long").as("nt"))
        .groupBy("source").agg(sum(col("nt")).as("n_tokens")),
      6L, 10L)

  /** The p27 body over any (source, n_tokens) frame with budget =
    * total·num div den — exposed for the hand-computed spec. */
  private[graft] def budgetWaterfillOf(
      per: DataFrame, num: Long, den: Long): DataFrame = {
    val tot = per.agg(sum(col("n_tokens")).as("total"),
      count(lit(1)).as("n_sources"))
    val wRank = Window.orderBy(col("n_tokens"), col("source"))
    val wCum = wRank.rowsBetween(Window.unboundedPreceding, -1)
    val ranked = graft.Caches.cache(per.crossJoin(broadcast(tot))
      .withColumn("budget", expr(s"total * $num div $den"))
      .withColumn("rk", row_number().over(wRank).cast("long"))
      .withColumn("cum_before",
        coalesce(sum(col("n_tokens")).over(wCum), lit(0L)))
      .withColumn("m", col("n_sources") - col("rk") + 1))
    val thr = ranked
      .filter(col("cum_before") + col("m") * col("n_tokens") >=
        col("budget"))
      .agg(expr("min_by((budget - cum_before) / CAST(m AS DOUBLE), rk)")
        .as("threshold"))
    ranked.crossJoin(broadcast(thr))
      .select(col("source"), col("n_tokens"), col("budget"),
        col("threshold"),
        when(col("threshold").isNull, col("n_tokens").cast("double"))
          .otherwise(least(col("n_tokens").cast("double"),
            col("threshold"))).as("allocation"),
        when(col("threshold").isNotNull &&
          col("n_tokens").cast("double") > col("threshold"), 1L)
          .otherwise(0L).as("capped"))
      .orderBy("source")
  }

  /** Length-bucketed curriculum batching report: documents ranked by
    * token length (the "sorted batching" / bucketing trick every
    * trainer uses to cut padding waste), cut into fixed 32-doc
    * batches, and each batch scored for the padding it pays when the
    * loader pads to the batch max — n_docs·max_len − sum_tokens
    * tokens of pure padding, pad_share the one division. Because
    * neighbors in length order have near-equal lengths, pad_share
    * collapses versus arrival-order batching; the fat-batch tail that
    * remains is the long-document overhang (p21's signal, now
    * loader-shaped). The curriculum order is the total order
    * (n_tokens, doc_id mod 64, doc_id) — deterministic and
    * engine-identical.
    *
    * 100 TB posture: NO global sort of the corpus — the rank is the
    * p15 two-phase bucket form on (n_tokens, bucket) keys: per-key
    * counts roll into broadcast offsets (a lengths×64 frame), ranks
    * come from per-key windows, so the only corpus-sized shuffle is
    * hash-keyed on (n_tokens, bucket) and a hot length value splits
    * across 64 partitions instead of one. The report agg is map-side
    * combined on batch_id.
    */
  def p28LengthCurriculum(spark: SparkSession, dir: String): DataFrame =
    lengthCurriculumOf(
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens")),
      batch = 32L)

  /** The p28 body over any (doc_id, n_tokens) frame — spec-shared. */
  private[graft] def lengthCurriculumOf(
      docs: DataFrame, batch: Long): DataFrame = {
    val d = graft.Caches.cache(
      docs.withColumn("bucket", pmod(col("doc_id"), lit(64L))))
    val wOff = Window.orderBy(col("n_tokens"), col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = d.groupBy("n_tokens", "bucket")
      .agg(count(lit(1)).as("bn"))
      .withColumn("off", coalesce(sum(col("bn")).over(wOff), lit(0L)))
    val wRank = Window.partitionBy(col("n_tokens"), col("bucket"))
      .orderBy(col("doc_id"))
    d.join(broadcast(offsets.select("n_tokens", "bucket", "off")),
        Seq("n_tokens", "bucket"))
      .select(col("n_tokens"),
        (col("off") + row_number().over(wRank) - 1).as("r"))
      .groupBy(expr(s"CAST(r DIV $batch AS BIGINT)").as("batch_id"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_tokens")).as("min_len"),
        max(col("n_tokens")).as("max_len"),
        sum(col("n_tokens")).as("sum_tokens"))
      .select(col("batch_id"), col("n_docs"), col("min_len"),
        col("max_len"), col("sum_tokens"),
        (col("n_docs") * col("max_len") - col("sum_tokens")).as("padding"),
        ((col("n_docs") * col("max_len") - col("sum_tokens"))
          .cast("double") / (col("n_docs") * col("max_len")))
          .as("pad_share"))
      .orderBy("batch_id")
  }

  /** Two-phase training schedule (the "annealing" recipe): the LAST
    * 10% of the token budget trains on the highest-quality data, so
    * every doc gets a phase — 2 (anneal) while the cumulative token
    * count in quality order is under total div 10, else 1. Quality is
    * d15's integer lexical diversity coarsened to 101 levels
    * (div 10000): phase decisions need a coarse ladder, not a total
    * micro-order — and the coarse level is what bounds the offsets
    * frame below. The schedule order is the documented total order
    * (level DESC, doc_id mod 64, doc_id); the budget cut is exact
    * integer arithmetic off a 1-row corpus-total scalar.
    *
    * 100 TB posture: the p28 two-phase prefix form on (level, bucket)
    * keys — per-key TOKEN sums roll into broadcast offsets (a
    * 101×64-row frame, bounded regardless of corpus size; this is why
    * the level is coarsened), within-key prefixes come from per-key
    * windows so a hot quality level splits across 64 partitions; the
    * only corpus-sized shuffle is that one hash key. No global sort,
    * no corpus-sized single-partition window (the p27 contrast: its
    * frame is Σsources, this one would have been Σdocs).
    */
  def p29AnnealSplit(spark: SparkSession, dir: String): DataFrame = {
    val quality = "CAST(size(array_distinct(split(text, ' '))) AS BIGINT)" +
      " * 1000000 div size(split(text, ' '))"
    annealSplitOf(Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        expr(s"CAST(($quality) div 10000 AS BIGINT)").as("level"),
        size(split(col("text"), " ")).cast("long").as("n_tokens")))
  }

  /** p29 core over any (doc_id, source, level, n_tokens) frame. */
  private[graft] def annealSplitOf(docs: DataFrame): DataFrame = {
    val d = graft.Caches.cache(
      docs.withColumn("bucket", pmod(col("doc_id"), lit(64L))))
    val tot = d.agg(sum(col("n_tokens")).as("total"))
    val wOff = Window.orderBy(col("level").desc, col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = d.groupBy("level", "bucket")
      .agg(sum(col("n_tokens")).as("bt"))
      .withColumn("off", coalesce(sum(col("bt")).over(wOff), lit(0L)))
    val wIn = Window.partitionBy(col("level"), col("bucket"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    d.join(broadcast(offsets.select("level", "bucket", "off")),
        Seq("level", "bucket"))
      .withColumn("cum_before",
        col("off") + coalesce(sum(col("n_tokens")).over(wIn), lit(0L)))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("source"), col("level"),
        col("n_tokens"), col("cum_before"),
        when(col("cum_before") < expr("total div 10"), 2L)
          .otherwise(1L).as("phase"))
      .orderBy("doc_id")
  }

  /** Declarative data-quality expectations (the Great-Expectations /
    * dbt-test gate a pipeline runs at ingestion, as ONE relational
    * report): per check — rows scanned, violations, violation share
    * (one division) and the pass flag (exact zero test). Six checks
    * cover the four standard families: range (quantity > 0, discount
    * in [0,1], price > 0), completeness (shipdate NOT NULL), key
    * uniqueness (duplicate (orderkey, linenumber) rows beyond the
    * first), and referential integrity (orders.custkey resolves in
    * customer). A NULL in a range check VIOLATES it (NULL comparisons
    * are the classic silent-pass bug; `bad` predicates here are
    * null-affirming by construction).
    *
    * 100 TB posture: the three lineitem row-checks share ONE scan
    * (one agg emitting three sums, unstacked to rows); uniqueness is
    * one pk-keyed count agg; RI is one broadcast left join of the
    * dim keys + a 1-row agg — no check ever collects, and adding a
    * check to an existing table adds a sum, not a scan.
    */
  def p30Expectations(spark: SparkSession, dir: String): DataFrame =
    expectationsOf(Tables.lineitem(spark, dir),
      Tables.orders(spark, dir), Tables.customer(spark, dir))

  /** p30 core over any (lineitem, orders, customer) frames. */
  private[graft] def expectationsOf(
      l: DataFrame, o: DataFrame, c: DataFrame): DataFrame = {
    val lChecks = l.agg(count(lit(1)).as("n"),
        sum(when(col("l_quantity").isNull || col("l_quantity") <= 0, 1L)
          .otherwise(0L)).as("vq"),
        sum(when(col("l_discount").isNull || col("l_discount") < 0 ||
          col("l_discount") > 1, 1L).otherwise(0L)).as("vd"),
        sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("vs"))
      .select(expr("stack(3," +
        " 'lineitem.quantity_positive', vq," +
        " 'lineitem.discount_in_unit_range', vd," +
        " 'lineitem.shipdate_not_null', vs) AS (check, n_violations)"),
        col("n").as("n_rows"))
    val pkUnique = l.groupBy("l_orderkey", "l_linenumber")
      .agg(count(lit(1)).as("k"))
      .agg(sum(col("k")).as("n_rows"),
        sum(col("k") - 1).as("n_violations"))
      .select(lit("lineitem.pk_unique").as("check"), col("n_violations"),
        col("n_rows"))
    val price = o.agg(count(lit(1)).as("n_rows"),
        sum(when(col("o_totalprice").isNull || col("o_totalprice") <= 0,
          1L).otherwise(0L)).as("n_violations"))
      .select(lit("orders.totalprice_positive").as("check"),
        col("n_violations"), col("n_rows"))
    val ri = o.select("o_custkey")
      .join(broadcast(c.select(col("c_custkey").as("o_custkey"),
        lit(1L).as("hit")).distinct()), Seq("o_custkey"), "left")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("hit").isNull, 1L).otherwise(0L))
          .as("n_violations"))
      .select(lit("orders.custkey_resolves").as("check"),
        col("n_violations"), col("n_rows"))
    lChecks.select("check", "n_violations", "n_rows")
      .union(pkUnique).union(price).union(ri)
      .select(col("check"), col("n_rows"), col("n_violations"),
        (col("n_violations").cast("double") / col("n_rows"))
          .as("violation_share"),
        when(col("n_violations") === 0, 1L).otherwise(0L).as("pass"))
      .orderBy("check")
  }

  // ---------------------------------------------------------------------
  // p31/p32: the composed corpus release — the end-to-end operator the
  // suite's stages exist FOR (VERDICT r9 item 5). One pass stamps every
  // document with its release fate under the production stage order,
  // DISJOINT and exact-first (the d18 attribution discipline):
  //
  //   1. filtered   — fails the p09 quality cascade (map-side gate);
  //   2. exact_dup  — a smaller-id cascade KEEPER carries byte-identical
  //                   text (d01's md5 rule, applied post-filter: a dup
  //                   of a rejected doc is judged on its own text);
  //   3. near_dup   — a smaller-id EXACT-SURVIVING member of its
  //                   converged near-dup family exists (d07/d11's
  //                   fixpoint labels; keeper = min surviving member,
  //                   so a family whose keeper was filtered promotes
  //                   the next member instead of losing the family);
  //   4. capped     — dropped by the per-source release budget (p14's
  //                   50-doc salted-hash cap over the SURVIVORS —
  //                   caps count released docs, not raw crawl);
  //   5. released   — in the shipped dataset, with p13's family-keyed
  //                   leakage-safe split and, for train docs, p15's
  //                   salted-hash training-order position (salt
  //                   'release0'; val/test carry NULL pos).
  //
  // p31 emits the per-doc manifest (what a training loader consumes);
  // p32 rolls it into the release data card (per status x split doc and
  // token counts with corpus shares — the governance face of the same
  // table). The manifest is materialized WRITE-ONCE per dataset dir
  // (graft.Materialized — the pairGraph discipline), so the expensive
  // composition executes once and both queries (and any embedding
  // session) scan the parquet; the near-dup labels inside it already
  // ride the write-once pair graph.
  //
  // 100 TB posture: stage 1 is map-side; stage 2 is ONE md5-key hash
  // agg + an h-keyed join (text never shuffles beyond the 32-char
  // hash); stage 3 joins the broadcast near-dup-population-sized label
  // and keeper frames; stage 4 is graft_topk's bounded per-partition
  // heap (50 rows/source/partition reach the shuffle); the split is
  // per-row hash arithmetic and the train order is the two-phase
  // 64-bucket permutation — no global sort anywhere. The oracle states
  // each stage declaratively over the same fixed rules.
  // ---------------------------------------------------------------------

  private[graft] def releaseManifestOf(
      spark: SparkSession, dir: String): DataFrame =
    releaseManifestFrom(Tables.documents(spark, dir),
      DedupOps.convergedComponents(spark, dir))

  /** The p31 composition over any (doc_id, source, text) corpus and
    * (doc_id, component) family-label frame — exposed so the spec can
    * plant stage-priority cases (a filtered dup, a filtered family
    * keeper) without a fixture dir.
    */
  private[graft] def releaseManifestFrom(
      docs: DataFrame, fam: DataFrame): DataFrame = {
    val casc = cascadeCore(docs).select("doc_id", "n_tokens", "keep")
    // corpus spine: hash + source + cascade verdict (two doc scans
    // joined on doc_id; cached — consumed by the keeper agg and m1)
    val spine = graft.Caches.cache(docs
      .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
      .join(casc, Seq("doc_id")))
    val exk = spine.filter(col("keep") === 1L)
      .groupBy("h").agg(min(col("doc_id")).as("ex_keeper"))
    val m1 = graft.Caches.cache(spine
      .join(exk, Seq("h"), "left")
      .join(broadcast(fam), Seq("doc_id"), "left")
      .withColumn("family_id", coalesce(col("component"), col("doc_id"))))
    // family keeper = min doc_id among EXACT SURVIVORS of the family
    val famKeeper = m1
      .filter(col("keep") === 1L && col("doc_id") === col("ex_keeper") &&
        col("component").isNotNull)
      .groupBy("component").agg(min(col("doc_id")).as("near_keeper"))
    val m2 = graft.Caches.cache(m1
      .join(broadcast(famKeeper), Seq("component"), "left")
      .withColumn("near_keeper",
        coalesce(col("near_keeper"), col("doc_id"))))
    val surv3 = m2.filter(col("keep") === 1L &&
      col("doc_id") === col("ex_keeper") &&
      col("doc_id") === col("near_keeper"))
    val capKept = sourceCap(surv3.select("doc_id", "source"), 50)
      .select(col("doc_id"), lit(1L).as("cap_ok"))
    val bucket = expr("CAST(conv(substring(md5(concat('split:', " +
      "CAST(family_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 10")
    val m3 = graft.Caches.cache(m2
      .join(capKept, Seq("doc_id"), "left")
      .withColumn("status",
        when(col("keep") === 0L, "filtered")
          .when(col("doc_id") =!= col("ex_keeper"), "exact_dup")
          .when(col("doc_id") =!= col("near_keeper"), "near_dup")
          .when(col("cap_ok").isNull, "capped")
          .otherwise("released"))
      .withColumn("split", when(col("status") === "released",
        when(bucket < 8, "train").when(bucket === 8, "val")
          .otherwise("test"))))
    val pos = epochShuffle(
      m3.filter(col("split") === "train").select("doc_id"), "release0")
    m3.join(pos, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("status"),
        col("split"), col("pos"))
  }

  /** The write-once release manifest for `dir` (built on first access
    * per JVM, invalidated by dataset-content changes).
    */
  private[graft] def releaseManifest(
      spark: SparkSession, dir: String): DataFrame =
    graft.Materialized.table(spark, s"release:$dir", dir)(
      releaseManifestOf(spark, dir))

  /** The PREVIOUS release's manifest: the same composition over the
    * corpus as it stood before the current ingest batch (the m08/m09
    * convention — doc_id % 10 == 7 rows are the batch). The old pair
    * graph costs NO LSH recompute: banding candidacy and Jaccard are
    * per-pair, so the subset corpus's verified pair graph is exactly
    * the materialized pair graph filtered to old endpoints.
    */
  private[graft] def releaseManifestOldOf(
      spark: SparkSession, dir: String): DataFrame = {
    val docsOld = Tables.documents(spark, dir)
      .filter(col("doc_id") % 10 =!= 7)
    val pairsOld = DedupOps.pairGraph(spark, dir)
      .filter(col("doc_a") % 10 =!= 7 && col("doc_b") % 10 =!= 7)
      .select("doc_a", "doc_b")
    releaseManifestFrom(docsOld,
      DedupOps.convergedComponentsFromPairs(pairsOld))
  }

  private[graft] def releaseManifestOld(
      spark: SparkSession, dir: String): DataFrame =
    graft.Materialized.table(spark, s"release_prev:$dir", dir)(
      releaseManifestOldOf(spark, dir))

  /** Release-over-release diff — the governance operator a release
    * review runs BEFORE swapping production to a new manifest: every
    * (old_status -> new_status) transition with doc counts ('absent' =
    * docs the new batch added), plus the cross-release SPLIT-MIGRATION
    * count per cell — docs released in both manifests whose
    * leakage-safe split CHANGED (a new batch doc can bridge two old
    * families; the merged family's min id moves, its split hash moves
    * with it, and a doc an old release served as train may now be
    * test — exactly the cross-release eval-contamination hazard p13
    * guards within one release).
    *
    * 100 TB posture: both manifests are write-once parquet; the diff
    * is ONE doc_id hash join of two narrow manifests + a <=
    * (statuses+1) x statuses rollup. The old manifest's near-dup
    * labels ride the SAME materialized pair graph (filtered — no
    * signature recompute), so "rebuild last release's view" never
    * re-shingles the corpus.
    */
  def p33ReleaseDiff(spark: SparkSession, dir: String): DataFrame =
    releaseDiffFrom(releaseManifest(spark, dir),
      releaseManifestOld(spark, dir))

  /** The p33 core over any two p31-shaped manifests — exposed so the
    * spec can plant transitions (incl. a split migration) directly.
    */
  private[graft] def releaseDiffFrom(
      newM: DataFrame, oldM: DataFrame): DataFrame = {
    val nw = newM.select(col("doc_id"),
      col("status").as("new_status"), col("split").as("new_split"))
    val old = oldM.select(col("doc_id"),
      col("status").as("old_status_raw"), col("split").as("old_split"))
    nw.join(old, Seq("doc_id"), "left")
      .groupBy(coalesce(col("old_status_raw"), lit("absent"))
        .as("old_status"), col("new_status"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("old_split").isNotNull && col("new_split").isNotNull
          && col("old_split") =!= col("new_split"), 1L).otherwise(0L))
          .as("n_split_migrations"))
      .orderBy("old_status", "new_status")
  }

  /** The per-doc corpus-release manifest — see the block comment. */
  def p31CorpusRelease(spark: SparkSession, dir: String): DataFrame =
    releaseManifest(spark, dir).orderBy("doc_id")

  /** The release data card over the same manifest: per (status, split)
    * doc/token counts and corpus shares. NULL split prints '-' so the
    * card is a complete partition of the corpus (counts sum to totals,
    * shares to 1 — spec-pinned).
    */
  def p32ReleaseCard(spark: SparkSession, dir: String): DataFrame =
    releaseCardFrom(graft.Caches.cache(releaseManifest(spark, dir)))

  /** The p32 core over any p31-shaped manifest — exposed for the
    * release-chain scaling probe (identical plan to the inline form it
    * replaced: one rollup agg + the 1-row totals broadcast).
    */
  private[graft] def releaseCardFrom(m: DataFrame): DataFrame = {
    val tot = m.agg(count(lit(1)).as("td"), sum(col("n_tokens")).as("tt"))
    m.groupBy(col("status"), coalesce(col("split"), lit("-")).as("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .crossJoin(broadcast(tot))
      .select(col("status"), col("split"), col("n_docs"), col("n_tokens"),
        (col("n_docs").cast("double") / col("td")).as("doc_share"),
        (col("n_tokens").cast("double") / col("tt")).as("token_share"))
      .orderBy("status", "split")
  }

  /** The release-aware SERVING view (VERDICT r10 item 7 — E232): what
    * production serves from the active release, per source. Composes
    * the q02 serving chain with the p31 manifest: the manifest's
    * released keepers are the target set (the api-layer semi-join
    * discipline), each source's five largest released docs form an
    * ordered preview list (q02's per-group top-k + struct-sort ordered
    * aggregation), and the per-source counts/token totals carry a
    * corpus-share division off the 1-row released-token total (the d23
    * scalar broadcast — allowlisted BEFORE the snapshot this time).
    *
    * 100 TB posture: the manifest is the write-once parquet (p31); the
    * released set is released-population-sized, so its join back to
    * `documents` for serving metadata is one hash join on doc_id with
    * the corpus scanned once; the top-5 window runs on the released
    * rows only; every aggregate after that is source-population-sized.
    */
  def q26ReleaseServing(spark: SparkSession, dir: String): DataFrame =
    releaseServingFrom(
      Tables.documents(spark, dir).select("doc_id", "source"),
      releaseManifest(spark, dir))

  /** The q26 core over any (doc_id, source) corpus and p31-shaped
    * manifest — exposed so the spec can plant mixed-status manifests
    * without a fixture dir.
    */
  private[graft] def releaseServingFrom(
      docs: DataFrame, manifest: DataFrame): DataFrame = {
    val rel = manifest
      .filter(col("status") === "released")
      .select("doc_id", "n_tokens", "split")
    // recover serving metadata for exactly the released docs (inner
    // hash join on doc_id; the corpus never shuffles more than the id
    // + source columns)
    val served = graft.Caches.cache(docs.join(rel, Seq("doc_id")))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_tokens").desc, col("doc_id").asc)
    // q02's A1 idiom: collect_list is unordered post-shuffle, so sort
    // an embedded struct whose leading field encodes the serve order
    val top = served
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .groupBy("source")
      .agg(array_join(
        transform(
          sort_array(collect_list(struct(
            (-col("n_tokens")).as("neg_tokens"), col("doc_id")))),
          x => x.getField("doc_id").cast("string")), ",").as("top_docs"))
    val agg = served.groupBy("source").agg(
      count(lit(1)).as("n_released"),
      sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
      sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"),
      sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"),
      sum(col("n_tokens")).as("released_tokens"))
    val tot = agg.agg(sum(col("released_tokens")).as("tt"))
    agg.join(top, Seq("source"))
      .crossJoin(broadcast(tot))
      .select(col("source"), col("n_released"), col("n_train"),
        col("n_val"), col("n_test"), col("released_tokens"),
        (col("released_tokens").cast("double") / col("tt"))
          .as("token_share"),
        col("top_docs"))
      .orderBy("source")
  }

  /** Release decontamination gate (E235) — the check a release review
    * runs AFTER p31 assigns fates and BEFORE production trains on the
    * manifest: per (split, source), how much of the released slice
    * overlaps the eval suite. Two hazards, both counted: (a) eval-suite
    * members (d08's doc_id % 97 == 0 stand-in) that the release
    * pipeline let through as 'released' — maximal contamination, zero
    * in a clean pipeline; (b) non-bench released docs sharing any word
    * 4-gram with the eval suite (d08's exact overlap recipe). The
    * per-cell contamination rate is a per-row division — no scalar
    * broadcast, no allowlist entry.
    *
    * 100 TB posture: the manifest is the write-once parquet (p31), so
    * the released slice is known BEFORE any text is touched; only
    * released docs are tokenized/exploded (filter-then-explode, the d08
    * discipline), and the eval suite's distinct 4-grams broadcast — the
    * corpus never shuffles text. The contaminated-id set is a gram-keyed
    * LEFT SEMI against the broadcast (matched rows only reach the
    * distinct), and the rollup is one (split, source) hash agg.
    */
  def p34ReleaseDecontam(spark: SparkSession, dir: String): DataFrame =
    releaseDecontamFrom(
      Tables.documents(spark, dir).select("doc_id", "source", "text"),
      releaseManifest(spark, dir))

  /** The p34 core over any (doc_id, source, text) corpus and p31-shaped
    * manifest — exposed so the spec can plant a released bench doc and
    * a planted-overlap contaminated doc without a fixture dir.
    */
  private[graft] def releaseDecontamFrom(
      docs: DataFrame, manifest: DataFrame): DataFrame = {
    val rel = manifest
      .filter(col("status") === "released")
      .select("doc_id", "n_tokens", "split")
    val served = graft.Caches.cache(docs.join(rel, Seq("doc_id"))
      .withColumn("is_bench", (col("doc_id") % 97 === 0).cast("long")))
    // d08's 4-gram recipe, projected-toks form (a lambda restating
    // split(text) evaluates it per ELEMENT — O(tokens^2) per doc)
    val grams = "array_distinct(transform(sequence(1, greatest(size(toks)-3, 1))," +
      " i -> array_join(slice(toks, i, 4), ' ')))"
    val bench = docs.filter(col("doc_id") % 97 === 0)
      .select(split(col("text"), " ").as("toks"))
      .select(explode(expr(grams)).as("gram"))
      .distinct()
    val contam = served.filter(col("is_bench") === 0L)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(expr(grams)).as("gram"))
      .join(broadcast(bench), Seq("gram"), "left_semi")
      .select("doc_id").distinct()
      .withColumn("hit", lit(1L))
    served.join(contam, Seq("doc_id"), "left")
      .groupBy("split", "source")
      .agg(count(lit(1)).as("n_released"),
        sum(col("is_bench")).as("n_bench_docs"),
        sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_contam"),
        sum(when(col("hit").isNotNull, col("n_tokens")).otherwise(0L))
          .as("contam_tokens"))
      .withColumn("contam_rate",
        col("n_contam").cast("double") / col("n_released"))
      .orderBy("split", "source")
  }

  /** Train shard plan (E236) — the step that turns p31's manifest into
    * training FILES: the released train docs, taken in their p15
    * training-order positions, packed into fixed 2000-token shards
    * under p04's start-offset rule (a doc lands in the shard its
    * cumulative start falls in — the sequential-writer model), rolled
    * up to one row per shard with doc/token loads, the pos span, and
    * the fill rate against the budget.
    *
    * 100 TB posture: the manifest is write-once parquet and the train
    * slice is 3 longs/row; `pos` is a DENSE 0..n-1 permutation index,
    * so packByBudget's two-phase prefix sum (64-position groups, one
    * broadcast offsets frame) applies verbatim with pos as the packing
    * key — no global sort, no single-partition cumsum over the corpus.
    * The rollup is one shard-keyed hash agg on corpus_tokens/2000 rows.
    */
  def p35ReleaseShards(spark: SparkSession, dir: String): DataFrame =
    releaseShardsFrom(releaseManifest(spark, dir))

  /** The p35 core over any p31-shaped manifest — exposed so the spec
    * can pin the boundary-straddling doc's shard directly.
    */
  private[graft] def releaseShardsFrom(manifest: DataFrame): DataFrame = {
    val train = manifest.filter(col("split") === "train")
      .select(col("pos").as("doc_id"), col("n_tokens"))
    packByBudget(train, budget = 2000L, grpSize = 64L)
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("doc_id")).as("first_pos"),
        max(col("doc_id")).as("last_pos"))
      .withColumn("fill_rate", col("n_tokens").cast("double") / 2000.0)
      .orderBy("shard_id")
  }

  /** Release sign-off gate (E246) — the ONE-ROW ship/no-ship card a
    * release review reads last, composing the whole release suite:
    * p31's manifest totals, the two p34 contamination hazards
    * (eval-suite members released; released docs of ANY split sharing
    * a 4-gram with the eval suite — p34's hazard definition exactly; a
    * released val/test doc overlapping the eval suite blocks ship the
    * same as a train doc, ADVICE r11), and a split-mix range check
    * (train share of released docs within [70%, 90%] — the leakage-
    * safe split targets 80%). ship = 1 iff every hazard is zero and
    * the mix check passes; on a corpus with planted contamination the
    * gate correctly refuses (the spec pins both verdicts).
    *
    * 100 TB posture: the manifest is write-once parquet (two narrow
    * aggregates over it); the gram hazard re-uses p34's
    * filter-then-explode discipline on the released TRAIN slice only;
    * every count lands in one 1-row frame — no corpus-sized shuffle
    * beyond the gram join contamination keeps rare.
    */
  /** Functional-dependency audit (E255) — the pre-join data-quality
    * gate p30's declarative checks stop short of: for each candidate
    * FD "determinant → dependent" over a fixed registry, does one
    * determinant value ever map to MORE than one dependent value? A
    * violated FD on a column you're about to join on is silent row
    * multiplication (the double-ingested dimension bug); a violated FD
    * in training metadata (doc_id → source) is label noise at corpus
    * scale. Per FD: distinct determinant values, violating
    * determinants (>1 distinct dependent), excess pairs
    * Σ(n_dep − 1) — the exact row-inflation a join on that key would
    * suffer — and the holds flag. All counts exact integers; the
    * registry mixes KEY-like FDs that must hold (nation key → name,
    * doc_id → source) with known-violated ones so both verdicts are
    * exercised against real data.
    *
    * 100 TB posture: deliberately NOT seven 1-row aggregates (the p03
    * unioned shape needs a multi-SinglePartition allowlist): every
    * FD's two narrow columns are tagged with literal FD keys and
    * unioned BEFORE aggregation, so the whole audit is ONE two-level
    * hash agg — (fd, det) distinct-dependent counts, then the fd-keyed
    * fold — shuffled on the fd+det key, map-side combined, zero
    * single-partition stages; adding an FD adds a scan leg, never a
    * new shuffle shape.
    */
  def p37FdAudit(spark: SparkSession, dir: String): DataFrame =
    fdAuditOf(Seq(
      ("nation", Tables.nation(spark, dir), "n_nationkey", "n_name"),
      ("customer", Tables.customer(spark, dir), "c_custkey", "c_nationkey"),
      ("orders", Tables.orders(spark, dir), "o_custkey", "o_orderpriority"),
      ("lineitem", Tables.lineitem(spark, dir), "l_orderkey", "l_suppkey"),
      ("events", Tables.events(spark, dir), "user_id", "event_type"),
      ("documents", Tables.documents(spark, dir), "doc_id", "source"),
      ("documents", Tables.documents(spark, dir), "lang", "source")))

  /** p37's body over any (table, frame, determinant, dependent)
    * registry — exposed for the planted-FD spec. Determinant/dependent
    * are cast to string so heterogeneous column types union into the
    * one aggregation (integer→string is injective, so distinct counts
    * are unchanged).
    */
  private[graft] def fdAuditOf(
      cands: Seq[(String, DataFrame, String, String)]): DataFrame = {
    val per = cands.map { case (tbl, df, det, dep) =>
      df.select(lit(tbl).as("table_name"), lit(det).as("determinant"),
        lit(dep).as("dependent"),
        col(det).cast("string").as("det"), col(dep).cast("string").as("dep"))
    }.reduce(_.unionAll(_))
    fdFoldOf(per.groupBy("table_name", "determinant", "dependent", "det")
      .agg(countDistinct(col("dep")).as("n_dep")))
  }

  /** p37's fold from per-determinant distinct-dependent counts
    * (table_name, determinant, dependent, det, n_dep).
    */
  private[graft] def fdFoldOf(grp: DataFrame): DataFrame =
    grp.groupBy("table_name", "determinant", "dependent")
      .agg(count(lit(1)).as("n_det"),
        sum(when(col("n_dep") > 1, 1L).otherwise(0L)).as("n_violating"),
        // an all-null dependent group has n_dep = 0: clamp its excess
        // at 0 instead of crediting −1 against real violations
        sum(greatest(col("n_dep") - 1L, lit(0L))).as("n_excess"))
      .select(col("table_name"), col("determinant"), col("dependent"),
        col("n_det"), col("n_violating"), col("n_excess"),
        when(col("n_violating") === 0L, 1L).otherwise(0L).as("fd_holds"))
      .orderBy("table_name", "determinant", "dependent")

  /** Inclusion-dependency audit (E257) — p37's referential twin and
    * Metanome's other data-quality primitive: for each candidate IND
    * "fk_table.fk_column ⊆ pk_table.pk_column", does every foreign-key
    * value actually exist on the primary side? An orphan fk value is a
    * row an inner join silently DROPS (the complement of p37's row
    * multiplication) and a left join turns into a null-enriched
    * record — both corrupt a training table without ever throwing. Per
    * IND: non-null fk rows, null fk rows (SQL FK semantics: a null
    * never violates — counted, not blamed), distinct fk values, orphan
    * VALUES and orphan ROWS (the exact row loss an inner join would
    * suffer), and the holds flag. The registry mixes must-hold
    * key links (lineitem→orders, embeddings.vec_id→documents.doc_id —
    * the training-data join) with the reverse direction
    * orders.o_orderkey ⊆ lineitem.l_orderkey, genuinely violated on
    * the fixture (childless orders), so both verdicts run against real
    * data.
    *
    * 100 TB posture: fk legs are literal-tagged and unioned BEFORE
    * aggregation (the p37 discipline — zero single-partition stages,
    * adding an IND adds a scan leg, never a shuffle shape); the fk
    * side collapses to (ind, value, n_rows) in ONE map-side-combined
    * hash agg — a heavy-hitter fk value is one row before the join, so
    * value skew never reaches it; the pk side collapses to distinct
    * (ind, value); the probe is ONE equality hash join whose both
    * inputs are already partitioned on the join key by their own aggs
    * (the exchanges reuse), and the fold re-aggregates to |registry|
    * rows. Nothing row-level ever joins; no broadcast assumption — the
    * pk side may be the largest table in the lake.
    */
  def p38IndAudit(spark: SparkSession, dir: String): DataFrame =
    indAuditOf(Seq(
      ("lineitem", Tables.lineitem(spark, dir), "l_orderkey",
        "orders", Tables.orders(spark, dir), "o_orderkey"),
      ("orders", Tables.orders(spark, dir), "o_custkey",
        "customer", Tables.customer(spark, dir), "c_custkey"),
      ("customer", Tables.customer(spark, dir), "c_nationkey",
        "nation", Tables.nation(spark, dir), "n_nationkey"),
      ("lineitem", Tables.lineitem(spark, dir), "l_partkey",
        "part", Tables.part(spark, dir), "p_partkey"),
      ("events", Tables.events(spark, dir), "user_id",
        "customer", Tables.customer(spark, dir), "c_custkey"),
      ("embeddings", Tables.embeddings(spark, dir), "vec_id",
        "documents", Tables.documents(spark, dir), "doc_id"),
      ("orders", Tables.orders(spark, dir), "o_orderkey",
        "lineitem", Tables.lineitem(spark, dir), "l_orderkey")))

  /** p38's body over any (fk_table, fk frame, fk_column, pk_table,
    * pk frame, pk_column) registry — exposed for the planted-IND spec.
    * Values cast to string so heterogeneous key types union into the
    * shared aggregation (injective on each leg, so distinct/orphan
    * counts are unchanged); registry 4-tuples must be distinct (they
    * are the group key).
    */
  private[graft] def indAuditOf(
      cands: Seq[(String, DataFrame, String, String, DataFrame, String)])
      : DataFrame = {
    val tags = Seq("fk_table", "fk_column", "pk_table", "pk_column")
    def leg(df: DataFrame, valueCol: String, t: (String, String, String,
        String)): DataFrame =
      df.select(lit(t._1).as("fk_table"), lit(t._2).as("fk_column"),
        lit(t._3).as("pk_table"), lit(t._4).as("pk_column"),
        col(valueCol).cast("string").as("v"))
    val fk = cands.map { case (ft, fdf, fc, pt, _, pc) =>
      leg(fdf, fc, (ft, fc, pt, pc))
    }.reduce(_.unionAll(_))
    val pk = cands.map { case (ft, _, fc, pt, pdf, pc) =>
      leg(pdf, pc, (ft, fc, pt, pc))
    }.reduce(_.unionAll(_))
      .filter(col("v").isNotNull).distinct()
      .withColumn("in_pk", lit(1L))
    // null fk values form their own group here and never match the pk
    // side (plain equality join) — they land in n_fk_null, not orphans
    val perValue = fk.groupBy((tags :+ "v").map(col): _*)
      .agg(count(lit(1)).as("n_rows"))
    indFoldOf(perValue.join(pk, tags :+ "v", "left"))
  }

  /** p38's fold from per-value membership rows (fk_table, fk_column,
    * pk_table, pk_column, v, n_rows, in_pk with null = absent).
    */
  private[graft] def indFoldOf(joined: DataFrame): DataFrame = {
    val tags = Seq("fk_table", "fk_column", "pk_table", "pk_column")
    val orphan = col("v").isNotNull && col("in_pk").isNull
    joined
      .groupBy(tags.map(col): _*)
      .agg(
        sum(when(col("v").isNotNull, col("n_rows")).otherwise(0L))
          .as("n_fk_rows"),
        sum(when(col("v").isNull, col("n_rows")).otherwise(0L))
          .as("n_fk_null"),
        sum(when(col("v").isNotNull, 1L).otherwise(0L)).as("n_fk_distinct"),
        sum(when(orphan, 1L).otherwise(0L)).as("n_orphan_values"),
        sum(when(orphan, col("n_rows")).otherwise(0L)).as("n_orphan_rows"))
      .select(col("fk_table"), col("fk_column"), col("pk_table"),
        col("pk_column"), col("n_fk_rows"), col("n_fk_null"),
        col("n_fk_distinct"), col("n_orphan_values"), col("n_orphan_rows"),
        when(col("n_orphan_values") === 0L, 1L).otherwise(0L)
          .as("ind_holds"))
      .orderBy(tags.map(col): _*)
  }

  def p36ReleaseSignoff(spark: SparkSession, dir: String): DataFrame =
    releaseSignoffFrom(
      Tables.documents(spark, dir).select("doc_id", "source", "text"),
      releaseManifest(spark, dir))

  /** The p36 core over any (doc_id, source, text) corpus and
    * p31-shaped manifest — exposed so the spec can plant a clean and a
    * contaminated release and pin both verdicts.
    */
  private[graft] def releaseSignoffFrom(
      docs: DataFrame, manifest: DataFrame): DataFrame = {
    val m = graft.Caches.cache(manifest)
    val rel = m.filter(col("status") === "released")
    val totals = rel.agg(
      count(lit(1)).as("n_released"),
      sum(col("n_tokens")).as("released_tokens"),
      sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
      sum(when(col("doc_id") % 97 === 0, 1L).otherwise(0L))
        .as("n_bench_released"))
    val grams = "array_distinct(transform(sequence(1, greatest(size(toks)-3, 1))," +
      " i -> array_join(slice(toks, i, 4), ' ')))"
    val bench = docs.filter(col("doc_id") % 97 === 0)
      .select(split(col("text"), " ").as("toks"))
      .select(explode(expr(grams)).as("gram"))
      .distinct()
    val contamReleased = docs
      .join(rel.select("doc_id"), Seq("doc_id"), "left_semi")
      .filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(expr(grams)).as("gram"))
      .join(broadcast(bench), Seq("gram"), "left_semi")
      .select("doc_id").distinct()
      .agg(count(lit(1)).as("n_contam_released"))
    totals.crossJoin(broadcast(contamReleased))
      .select(col("n_released"), col("released_tokens"), col("n_train"),
        col("n_bench_released"), col("n_contam_released"),
        // exact-integer range check: 0.70 <= train/released <= 0.90
        when(col("n_train") * 10L >= col("n_released") * 7L &&
          col("n_train") * 10L <= col("n_released") * 9L, 1L)
          .otherwise(0L).as("split_mix_ok"))
      .withColumn("ship",
        when(col("n_bench_released") === 0L &&
          col("n_contam_released") === 0L &&
          col("split_mix_ok") === 1L, 1L).otherwise(0L))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p38_ind_audit" -> (p38IndAudit _),
    "p37_fd_audit" -> (p37FdAudit _),
    "p36_release_signoff" -> (p36ReleaseSignoff _),
    "p34_release_decontam" -> (p34ReleaseDecontam _),
    "p35_release_shards" -> (p35ReleaseShards _),
    "q26_release_serving" -> (q26ReleaseServing _),
    "p33_release_diff" -> (p33ReleaseDiff _),
    "p31_corpus_release" -> (p31CorpusRelease _),
    "p32_release_card" -> (p32ReleaseCard _),
    "p30_expectations" -> (p30Expectations _),
    "p29_anneal_split" -> (p29AnnealSplit _),
    "p28_length_curriculum" -> (p28LengthCurriculum _),
    "p27_budget_waterfill" -> (p27BudgetWaterfill _),
    "p26_eval_leakage" -> (p26EvalLeakage _),
    "p25_negative_pairs" -> (p25NegativePairs _),
    "p24_source_concentration" -> (p24SourceConcentration _),
    "p23_mixture_plan" -> (p23MixturePlan _),
    "p22_preference_pairs" -> (p22PreferencePairs _),
    "p21_pack_report" -> (p21PackReport _),
    "p20_training_order" -> (p20TrainingOrder _),
    "p19_upsample_assign" -> (p19UpsampleAssign _),
    "p18_quarantine_split" -> (p18QuarantineSplit _),
    "p17_quota_sample" -> (p17QuotaSample _),
    "p16_agg_merge" -> (p16AggMerge _),
    "p15_epoch_shuffle" -> (p15EpochShuffle _),
    "p14_source_cap" -> (p14SourceCap _),
    "p13_leakage_safe_split" -> (p13LeakageSafeSplit _),
    "p12_cdc_chunk" -> (p12CdcChunk _),
    "p11_pii_redaction" -> (p11PiiRedaction _),
    "p10_epoch_plan" -> (p10EpochPlan _),
    "p09_filter_cascade" -> (p09FilterCascade _),
    "p01_corpus_clean" -> (p01CorpusClean _),
    "p06_chunk" -> (p06Chunk _),
    "p07_domain_mix" -> (p07DomainMix _),
    "p08_quality_deciles" -> (p08QualityDeciles _),
    "p02_hash_split" -> (p02HashSplit _),
    "p03_profile" -> (p03Profile _),
    "p04_token_pack" -> (p04TokenPack _),
    "p05_stratified_sample" -> (p05StratifiedSample _)
  )

  /** The p31 manifest as one declarative DuckDB statement: each stage
    * restated over the same fixed rules (cascade battery, md5 keeper,
    * d07's unrolled component labels, salted-hash cap/split/order).
    * Shared by the p31 oracle and p32's rollup oracle.
    *
    * Every CTE is AS MATERIALIZED: DuckDB inlines plain CTEs, and the
    * final select references the m2/rel/spl/ord chain several times —
    * inlined, each reference re-evaluates everything down to d07Sql's
    * minhash pass and the oracle runs for MINUTES (measured); with
    * materialization it is ~6 s at sf0.01. Oracle-side cost only — the
    * engine's plan is unaffected.
    */
  private def p31SqlWith(compSql: String): String =
    s"""WITH casc AS MATERIALIZED (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |    CAST(CASE WHEN len(toks) < 40
       |      OR CAST(len(list_filter(toks, x ->
       |           x IN ('the','a','of','and','is','to','in'))) AS DOUBLE)
       |         / len(toks) < 0.04
       |      OR 1.0 - CAST(len(list_distinct(list_transform(
       |           generate_series(1, greatest(len(toks) - 1, 1)),
       |           i -> array_to_string(toks[i:i+1], ' ')))) AS DOUBLE)
       |         / greatest(len(toks) - 1, 1) > 0.05
       |      OR CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) < 0.35
       |      THEN 0 ELSE 1 END AS BIGINT) AS keep
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
       |),
       |sp AS MATERIALIZED (
       |  SELECT d.doc_id, d.source, md5(d.text) AS h, c.n_tokens, c.keep
       |  FROM documents d JOIN casc c ON c.doc_id = d.doc_id
       |),
       |exk AS MATERIALIZED (
       |  SELECT h, min(doc_id) AS ex_keeper FROM sp WHERE keep = 1 GROUP BY h
       |),
       |comp AS MATERIALIZED (SELECT doc_id, component FROM ($compSql)),
       |m1 AS MATERIALIZED (
       |  SELECT sp.doc_id, sp.source, sp.n_tokens, sp.keep, e.ex_keeper,
       |    c.component, COALESCE(c.component, sp.doc_id) AS family_id
       |  FROM sp LEFT JOIN exk e ON e.h = sp.h
       |    LEFT JOIN comp c ON c.doc_id = sp.doc_id
       |),
       |famk AS MATERIALIZED (
       |  SELECT component, min(doc_id) AS near_keeper
       |  FROM m1 WHERE keep = 1 AND doc_id = ex_keeper
       |    AND component IS NOT NULL
       |  GROUP BY component
       |),
       |m2 AS MATERIALIZED (
       |  SELECT m1.*, COALESCE(k.near_keeper, m1.doc_id) AS near_keeper
       |  FROM m1 LEFT JOIN famk k ON k.component = m1.component
       |),
       |surv3 AS MATERIALIZED (
       |  SELECT * FROM m2
       |  WHERE keep = 1 AND doc_id = ex_keeper AND doc_id = near_keeper
       |),
       |cap AS MATERIALIZED (
       |  SELECT doc_id, row_number() OVER (PARTITION BY source ORDER BY
       |    CAST('0x' || substring(md5('cap:' || CAST(doc_id AS VARCHAR)),
       |      1, 8) AS BIGINT), doc_id) AS rk
       |  FROM surv3
       |),
       |rel AS MATERIALIZED (
       |  SELECT s.doc_id, s.family_id FROM surv3 s
       |  JOIN cap ON cap.doc_id = s.doc_id AND cap.rk <= 50
       |),
       |spl AS MATERIALIZED (
       |  SELECT doc_id,
       |    CASE WHEN CAST('0x' || substring(md5('split:' ||
       |           CAST(family_id AS VARCHAR)), 1, 8) AS BIGINT) % 10 < 8
       |         THEN 'train'
       |         WHEN CAST('0x' || substring(md5('split:' ||
       |           CAST(family_id AS VARCHAR)), 1, 8) AS BIGINT) % 10 = 8
       |         THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM rel
       |),
       |ord AS MATERIALIZED (
       |  SELECT doc_id,
       |    row_number() OVER (ORDER BY hh % 64, hh, doc_id) - 1 AS pos
       |  FROM (SELECT doc_id,
       |          CAST('0x' || substring(md5('release0:' ||
       |            CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS hh
       |        FROM spl WHERE split = 'train')
       |)
       |SELECT m2.doc_id, m2.n_tokens,
       |  CASE WHEN m2.keep = 0 THEN 'filtered'
       |       WHEN m2.doc_id <> m2.ex_keeper THEN 'exact_dup'
       |       WHEN m2.doc_id <> m2.near_keeper THEN 'near_dup'
       |       WHEN r.doc_id IS NULL THEN 'capped'
       |       ELSE 'released' END AS status,
       |  s.split, CAST(o.pos AS BIGINT) AS pos
       |FROM m2
       |LEFT JOIN rel r ON r.doc_id = m2.doc_id
       |LEFT JOIN spl s ON s.doc_id = m2.doc_id
       |LEFT JOIN ord o ON o.doc_id = m2.doc_id""".stripMargin

  // private[graft]: m12's oracle restates the released set over the
  // same manifest statement
  private[graft] val p31Sql: String = p31SqlWith(DedupOps.d07Sql)

  /** p31 over the pre-batch snapshot (doc_id % 10 <> 7): every `FROM
    * documents` in the composed statement reads the `docsnap` CTE
    * instead, so the cascade, signatures, pair graph, and manifest all
    * see the old corpus; the component unroll gets 8 rounds (rounds
    * past convergence are no-ops, and a subset graph's diameter can
    * EXCEED its superset's once bridging nodes leave).
    */
  private val p31SqlOld: String =
    p31SqlWith(DedupOps.d07SqlRounds(8))
      .replace("FROM documents", "FROM docsnap")
      .replaceFirst("WITH ",
        "WITH docsnap AS MATERIALIZED " +
          "(SELECT * FROM documents WHERE doc_id % 10 <> 7),\n")

  val oracle: Map[String, String] = Map(
    // p38: candidate INDs — fk legs collapse to per-value row counts,
    // pk legs to distinct values, one left join probes membership;
    // sums cast back from DuckDB's HUGEINT
    "p38_ind_audit" ->
      """WITH fk AS (
        |  SELECT 'lineitem' AS fk_table, 'l_orderkey' AS fk_column,
        |    'orders' AS pk_table, 'o_orderkey' AS pk_column,
        |    CAST(l_orderkey AS VARCHAR) AS v FROM lineitem
        |  UNION ALL
        |  SELECT 'orders', 'o_custkey', 'customer', 'c_custkey',
        |    CAST(o_custkey AS VARCHAR) FROM orders
        |  UNION ALL
        |  SELECT 'customer', 'c_nationkey', 'nation', 'n_nationkey',
        |    CAST(c_nationkey AS VARCHAR) FROM customer
        |  UNION ALL
        |  SELECT 'lineitem', 'l_partkey', 'part', 'p_partkey',
        |    CAST(l_partkey AS VARCHAR) FROM lineitem
        |  UNION ALL
        |  SELECT 'events', 'user_id', 'customer', 'c_custkey',
        |    CAST(user_id AS VARCHAR) FROM events
        |  UNION ALL
        |  SELECT 'embeddings', 'vec_id', 'documents', 'doc_id',
        |    CAST(vec_id AS VARCHAR) FROM embeddings
        |  UNION ALL
        |  SELECT 'orders', 'o_orderkey', 'lineitem', 'l_orderkey',
        |    CAST(o_orderkey AS VARCHAR) FROM orders
        |),
        |pk AS (
        |  SELECT DISTINCT 'lineitem' AS fk_table,
        |    'l_orderkey' AS fk_column, 'orders' AS pk_table,
        |    'o_orderkey' AS pk_column, CAST(o_orderkey AS VARCHAR) AS v
        |  FROM orders WHERE o_orderkey IS NOT NULL
        |  UNION ALL
        |  SELECT DISTINCT 'orders', 'o_custkey', 'customer', 'c_custkey',
        |    CAST(c_custkey AS VARCHAR)
        |  FROM customer WHERE c_custkey IS NOT NULL
        |  UNION ALL
        |  SELECT DISTINCT 'customer', 'c_nationkey', 'nation',
        |    'n_nationkey', CAST(n_nationkey AS VARCHAR)
        |  FROM nation WHERE n_nationkey IS NOT NULL
        |  UNION ALL
        |  SELECT DISTINCT 'lineitem', 'l_partkey', 'part', 'p_partkey',
        |    CAST(p_partkey AS VARCHAR)
        |  FROM part WHERE p_partkey IS NOT NULL
        |  UNION ALL
        |  SELECT DISTINCT 'events', 'user_id', 'customer', 'c_custkey',
        |    CAST(c_custkey AS VARCHAR)
        |  FROM customer WHERE c_custkey IS NOT NULL
        |  UNION ALL
        |  SELECT DISTINCT 'embeddings', 'vec_id', 'documents', 'doc_id',
        |    CAST(doc_id AS VARCHAR)
        |  FROM documents WHERE doc_id IS NOT NULL
        |  UNION ALL
        |  SELECT DISTINCT 'orders', 'o_orderkey', 'lineitem',
        |    'l_orderkey', CAST(l_orderkey AS VARCHAR)
        |  FROM lineitem WHERE l_orderkey IS NOT NULL
        |),
        |pv AS (
        |  SELECT fk_table, fk_column, pk_table, pk_column, v,
        |    CAST(count(*) AS BIGINT) AS n_rows
        |  FROM fk GROUP BY 1, 2, 3, 4, 5
        |)
        |SELECT pv.fk_table, pv.fk_column, pv.pk_table, pv.pk_column,
        |  CAST(SUM(CASE WHEN pv.v IS NOT NULL THEN pv.n_rows ELSE 0 END)
        |    AS BIGINT) AS n_fk_rows,
        |  CAST(SUM(CASE WHEN pv.v IS NULL THEN pv.n_rows ELSE 0 END)
        |    AS BIGINT) AS n_fk_null,
        |  CAST(SUM(CASE WHEN pv.v IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_fk_distinct,
        |  CAST(SUM(CASE WHEN pv.v IS NOT NULL AND pk.v IS NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan_values,
        |  CAST(SUM(CASE WHEN pv.v IS NOT NULL AND pk.v IS NULL
        |    THEN pv.n_rows ELSE 0 END) AS BIGINT) AS n_orphan_rows,
        |  CAST(CASE WHEN SUM(CASE WHEN pv.v IS NOT NULL AND pk.v IS NULL
        |    THEN 1 ELSE 0 END) = 0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS ind_holds
        |FROM pv LEFT JOIN pk
        |  ON pv.fk_table = pk.fk_table AND pv.fk_column = pk.fk_column
        |  AND pv.pk_table = pk.pk_table AND pv.pk_column = pk.pk_column
        |  AND pv.v = pk.v
        |GROUP BY 1, 2, 3, 4
        |ORDER BY 1, 2, 3, 4""".stripMargin,

    // p37: candidate FDs unioned into ONE two-level agg (the Spark
    // side's exact shape); determinant/dependent stringified so
    // heterogeneous types share the aggregation
    "p37_fd_audit" ->
      """WITH per AS (
        |  SELECT 'nation' AS table_name, 'n_nationkey' AS determinant,
        |    'n_name' AS dependent, CAST(n_nationkey AS VARCHAR) AS det,
        |    CAST(n_name AS VARCHAR) AS dep FROM nation
        |  UNION ALL
        |  SELECT 'customer', 'c_custkey', 'c_nationkey',
        |    CAST(c_custkey AS VARCHAR), CAST(c_nationkey AS VARCHAR)
        |  FROM customer
        |  UNION ALL
        |  SELECT 'orders', 'o_custkey', 'o_orderpriority',
        |    CAST(o_custkey AS VARCHAR), CAST(o_orderpriority AS VARCHAR)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'lineitem', 'l_orderkey', 'l_suppkey',
        |    CAST(l_orderkey AS VARCHAR), CAST(l_suppkey AS VARCHAR)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'events', 'user_id', 'event_type',
        |    CAST(user_id AS VARCHAR), CAST(event_type AS VARCHAR)
        |  FROM events
        |  UNION ALL
        |  SELECT 'documents', 'doc_id', 'source',
        |    CAST(doc_id AS VARCHAR), CAST(source AS VARCHAR)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'documents', 'lang', 'source',
        |    CAST(lang AS VARCHAR), CAST(source AS VARCHAR)
        |  FROM documents
        |),
        |grp AS (
        |  SELECT table_name, determinant, dependent, det,
        |    CAST(count(DISTINCT dep) AS BIGINT) AS n_dep
        |  FROM per GROUP BY 1, 2, 3, 4
        |)
        |SELECT table_name, determinant, dependent,
        |  CAST(count(*) AS BIGINT) AS n_det,
        |  CAST(SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violating,
        |  CAST(SUM(GREATEST(n_dep - 1, 0)) AS BIGINT) AS n_excess,
        |  CAST(CASE WHEN SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) = 0
        |    THEN 1 ELSE 0 END AS BIGINT) AS fd_holds
        |FROM grp
        |GROUP BY 1, 2, 3
        |ORDER BY table_name, determinant, dependent""".stripMargin,

    // p36: manifest totals + the two p34 hazards folded to ONE row with
    // the exact-integer split-mix check and the composite ship verdict
    "p36_release_signoff" ->
      s"""WITH m AS MATERIALIZED ($p31Sql),
         |rel AS MATERIALIZED (SELECT * FROM m WHERE status = 'released'),
         |tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_released,
         |    CAST(sum(n_tokens) AS BIGINT) AS released_tokens,
         |    CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_train,
         |    CAST(sum(CASE WHEN doc_id % 97 = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_bench_released
         |  FROM rel
         |),
         |bg AS MATERIALIZED (
         |  SELECT DISTINCT gram FROM (
         |    SELECT unnest(list_distinct(list_transform(
         |      generate_series(1, greatest(len(string_split(text, ' '))-3, 1)),
         |      i -> array_to_string(string_split(text, ' ')[i:i+3], ' '))))
         |      AS gram
         |    FROM documents WHERE doc_id % 97 = 0)
         |),
         |ct AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_contam_released FROM (
         |    SELECT DISTINCT t.doc_id FROM (
         |      SELECT d.doc_id, unnest(list_distinct(list_transform(
         |        generate_series(1, greatest(len(string_split(d.text, ' '))-3, 1)),
         |        i -> array_to_string(string_split(d.text, ' ')[i:i+3], ' '))))
         |        AS gram
         |      FROM documents d
         |      JOIN rel r ON r.doc_id = d.doc_id
         |      WHERE d.doc_id % 97 <> 0) t
         |    JOIN bg USING (gram))
         |)
         |SELECT tot.n_released, tot.released_tokens, tot.n_train,
         |  tot.n_bench_released, ct.n_contam_released,
         |  CAST(CASE WHEN tot.n_train * 10 >= tot.n_released * 7
         |    AND tot.n_train * 10 <= tot.n_released * 9
         |    THEN 1 ELSE 0 END AS BIGINT) AS split_mix_ok,
         |  CAST(CASE WHEN tot.n_bench_released = 0
         |    AND ct.n_contam_released = 0
         |    AND tot.n_train * 10 >= tot.n_released * 7
         |    AND tot.n_train * 10 <= tot.n_released * 9
         |    THEN 1 ELSE 0 END AS BIGINT) AS ship
         |FROM tot CROSS JOIN ct""".stripMargin,
    // p34: the released slice joined back to text, the eval suite's
    // distinct 4-grams (d08's recipe), the contaminated-id set, and the
    // (split, source) rollup with both hazard counts
    "p34_release_decontam" ->
      s"""WITH m AS MATERIALIZED ($p31Sql),
         |rel AS MATERIALIZED (
         |  SELECT m.doc_id, m.n_tokens, m.split, d.source, d.text
         |  FROM m JOIN documents d ON d.doc_id = m.doc_id
         |  WHERE m.status = 'released'
         |),
         |bg AS MATERIALIZED (
         |  SELECT DISTINCT gram FROM (
         |    SELECT unnest(list_distinct(list_transform(
         |      generate_series(1, greatest(len(string_split(text, ' '))-3, 1)),
         |      i -> array_to_string(string_split(text, ' ')[i:i+3], ' '))))
         |      AS gram
         |    FROM documents WHERE doc_id % 97 = 0)
         |),
         |contam AS MATERIALIZED (
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT doc_id, unnest(list_distinct(list_transform(
         |      generate_series(1, greatest(len(string_split(text, ' '))-3, 1)),
         |      i -> array_to_string(string_split(text, ' ')[i:i+3], ' '))))
         |      AS gram
         |    FROM rel WHERE doc_id % 97 <> 0) t
         |  JOIN bg USING (gram)
         |)
         |SELECT rel.split, rel.source,
         |  CAST(count(*) AS BIGINT) AS n_released,
         |  CAST(sum(CASE WHEN rel.doc_id % 97 = 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_bench_docs,
         |  CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_contam,
         |  CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN rel.n_tokens
         |    ELSE 0 END) AS BIGINT) AS contam_tokens,
         |  CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*) AS contam_rate
         |FROM rel LEFT JOIN contam c ON c.doc_id = rel.doc_id
         |GROUP BY rel.split, rel.source
         |ORDER BY rel.split, rel.source""".stripMargin,
    // p35: the train slice in pos order under p04's start-offset
    // packing rule, rolled up per shard
    "p35_release_shards" ->
      s"""WITH m AS MATERIALIZED ($p31Sql),
         |tr AS (SELECT pos, n_tokens FROM m WHERE split = 'train'),
         |pk AS (
         |  SELECT pos, n_tokens,
         |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY pos
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      // 2000 AS BIGINT) AS shard_id
         |  FROM tr
         |)
         |SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(min(pos) AS BIGINT) AS first_pos,
         |  CAST(max(pos) AS BIGINT) AS last_pos,
         |  CAST(sum(n_tokens) AS DOUBLE) / 2000.0 AS fill_rate
         |FROM pk GROUP BY shard_id ORDER BY shard_id""".stripMargin,
    // q26: the released slice of the manifest joined back to documents
    // for serving metadata, then the per-source serving card — counts,
    // split mix, token share of the release, and the five largest
    // released docs as an ordered preview list
    "q26_release_serving" ->
      s"""WITH m AS MATERIALIZED ($p31Sql),
         |rel AS (
         |  SELECT m.doc_id, m.n_tokens, m.split, d.source
         |  FROM m JOIN documents d ON d.doc_id = m.doc_id
         |  WHERE m.status = 'released'
         |),
         |agg AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_released,
         |    CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_train,
         |    CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_val,
         |    CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_test,
         |    CAST(sum(n_tokens) AS BIGINT) AS released_tokens
         |  FROM rel GROUP BY source
         |),
         |tot AS (SELECT CAST(sum(released_tokens) AS BIGINT) AS tt
         |        FROM agg),
         |top AS (
         |  SELECT source,
         |    string_agg(CAST(doc_id AS VARCHAR), ','
         |      ORDER BY n_tokens DESC, doc_id) AS top_docs
         |  FROM (
         |    SELECT source, doc_id, n_tokens,
         |      row_number() OVER (PARTITION BY source
         |        ORDER BY n_tokens DESC, doc_id) AS rk
         |    FROM rel
         |  ) WHERE rk <= 5 GROUP BY source
         |)
         |SELECT a.source, a.n_released, a.n_train, a.n_val, a.n_test,
         |  a.released_tokens,
         |  CAST(a.released_tokens AS DOUBLE) / t.tt AS token_share,
         |  top.top_docs
         |FROM agg a JOIN top ON top.source = a.source CROSS JOIN tot t
         |ORDER BY a.source""".stripMargin,
    "p31_corpus_release" ->
      s"""SELECT * FROM ($p31Sql) ORDER BY doc_id""",
    // p33: both manifests stated in full (the old one over the docsnap
    // CTE), joined on doc_id, rolled up to transition cells with the
    // cross-release split-migration count
    "p33_release_diff" ->
      s"""WITH newm AS MATERIALIZED ($p31Sql),
         |oldm AS MATERIALIZED ($p31SqlOld),
         |j AS (
         |  SELECT n.doc_id, o.status AS old_status_raw,
         |         n.status AS new_status,
         |         o.split AS old_split, n.split AS new_split
         |  FROM newm n LEFT JOIN oldm o ON o.doc_id = n.doc_id
         |)
         |SELECT COALESCE(old_status_raw, 'absent') AS old_status,
         |  new_status,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN old_split IS NOT NULL
         |        AND new_split IS NOT NULL AND old_split <> new_split
         |        THEN 1 ELSE 0 END) AS BIGINT) AS n_split_migrations
         |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "p32_release_card" ->
      s"""WITH m AS MATERIALIZED ($p31Sql),
         |tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS td,
         |    CAST(sum(n_tokens) AS BIGINT) AS tt
         |  FROM m
         |)
         |SELECT status, COALESCE(split, '-') AS split,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(count(*) AS DOUBLE) / t.td AS doc_share,
         |  CAST(sum(n_tokens) AS DOUBLE) / t.tt AS token_share
         |FROM m CROSS JOIN tot t
         |GROUP BY status, COALESCE(split, '-'), t.td, t.tt
         |ORDER BY status, split""".stripMargin,
    // p30: six checks, null-affirming range predicates, exact counts;
    // violation_share one division, pass the exact zero test
    "p30_expectations" ->
      """WITH l3 AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN l_quantity IS NULL OR l_quantity <= 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS vq,
        |    CAST(sum(CASE WHEN l_discount IS NULL OR l_discount < 0
        |      OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT) AS vd,
        |    CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS vs
        |  FROM lineitem
        |),
        |pk AS (
        |  SELECT CAST(sum(k) AS BIGINT) AS n,
        |    CAST(sum(k - 1) AS BIGINT) AS v
        |  FROM (SELECT count(*) AS k FROM lineitem
        |        GROUP BY l_orderkey, l_linenumber)
        |),
        |pr AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v
        |  FROM orders
        |),
        |ri AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v
        |  FROM orders o
        |  LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |    ON c.c_custkey = o.o_custkey
        |),
        |rows_ AS (
        |  SELECT 'lineitem.quantity_positive' AS check_, n AS n_rows,
        |    vq AS n_violations FROM l3
        |  UNION ALL SELECT 'lineitem.discount_in_unit_range', n, vd
        |    FROM l3
        |  UNION ALL SELECT 'lineitem.shipdate_not_null', n, vs FROM l3
        |  UNION ALL SELECT 'lineitem.pk_unique', n, v FROM pk
        |  UNION ALL SELECT 'orders.totalprice_positive', n, v FROM pr
        |  UNION ALL SELECT 'orders.custkey_resolves', n, v FROM ri
        |)
        |SELECT check_ AS "check", n_rows, n_violations,
        |  CAST(n_violations AS DOUBLE) / n_rows AS violation_share,
        |  CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS pass
        |FROM rows_ ORDER BY "check"""".stripMargin,

    // p29: quality coarsened to 101 levels, cumulative tokens in the
    // (level DESC, bucket, doc_id) total order, phase 2 under the
    // exact total-div-10 budget
    "p29_anneal_split" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST((CAST(len(list_distinct(string_split(text, ' ')))
        |        AS BIGINT) * 1000000
        |      // len(string_split(text, ' '))) // 10000 AS BIGINT)
        |      AS level,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    doc_id % 64 AS bucket
        |  FROM documents
        |),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM d),
        |ranked AS (
        |  SELECT doc_id, source, level, n_tokens,
        |    CAST(COALESCE(sum(n_tokens) OVER (
        |      ORDER BY level DESC, bucket, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum_before
        |  FROM d
        |)
        |SELECT r.doc_id, r.source, r.level, r.n_tokens, r.cum_before,
        |  CAST(CASE WHEN r.cum_before < t.total // 10 THEN 2 ELSE 1 END
        |    AS BIGINT) AS phase
        |FROM ranked r CROSS JOIN tot t
        |ORDER BY r.doc_id""".stripMargin,

    // p28: rank by the (n_tokens, doc_id mod 64, doc_id) total order,
    // fixed 32-doc batches, padding = n_docs*max_len - sum_tokens
    "p28_length_curriculum" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    doc_id % 64 AS bucket
        |  FROM documents
        |),
        |ranked AS (
        |  SELECT n_tokens,
        |    row_number() OVER (ORDER BY n_tokens, bucket, doc_id) - 1
        |      AS r
        |  FROM d
        |)
        |SELECT CAST(r // 32 AS BIGINT) AS batch_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  min(n_tokens) AS min_len,
        |  max(n_tokens) AS max_len,
        |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        |  CAST(count(*) * max(n_tokens) - sum(n_tokens) AS BIGINT)
        |    AS padding,
        |  CAST(count(*) * max(n_tokens) - sum(n_tokens) AS DOUBLE)
        |    / (count(*) * max(n_tokens)) AS pad_share
        |FROM ranked
        |GROUP BY 1
        |ORDER BY batch_id""".stripMargin,

    // p27: sorted waterfill closed form — first feasible rank pins the
    // threshold, one division, everything else exact integers
    "p27_budget_waterfill" ->
      """WITH per AS (
        |  SELECT source,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source
        |),
        |tot AS (
        |  SELECT CAST(SUM(n_tokens) AS BIGINT) AS total,
        |         CAST(COUNT(*) AS BIGINT) AS n_sources
        |  FROM per
        |),
        |rkd AS (
        |  SELECT p.source, p.n_tokens,
        |    (t.total * 6) // 10 AS budget,
        |    CAST(row_number() OVER (ORDER BY p.n_tokens, p.source)
        |      AS BIGINT) AS rk,
        |    CAST(COALESCE(SUM(p.n_tokens) OVER (
        |      ORDER BY p.n_tokens, p.source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum_before,
        |    t.n_sources
        |  FROM per p CROSS JOIN tot t
        |),
        |rkd2 AS (SELECT *, n_sources - rk + 1 AS m FROM rkd),
        |thr AS (
        |  SELECT min_by((budget - cum_before) / CAST(m AS DOUBLE), rk)
        |    AS threshold
        |  FROM rkd2 WHERE cum_before + m * n_tokens >= budget
        |)
        |SELECT r.source, r.n_tokens, r.budget, t.threshold,
        |  CASE WHEN t.threshold IS NULL THEN CAST(r.n_tokens AS DOUBLE)
        |       ELSE least(CAST(r.n_tokens AS DOUBLE), t.threshold) END
        |    AS allocation,
        |  CAST(CASE WHEN t.threshold IS NOT NULL
        |        AND CAST(r.n_tokens AS DOUBLE) > t.threshold
        |       THEN 1 ELSE 0 END AS BIGINT) AS capped
        |FROM rkd2 r CROSS JOIN thr t ORDER BY r.source""".stripMargin,

    // p26: p13's family-keyed split, distinct 8-grams per doc, train
    // side collapsed to (gram, min doc) before the join, zero rows kept
    "p26_eval_leakage" ->
      s"""WITH comp AS (
         |  SELECT doc_id, component FROM (${DedupOps.d07Sql})
         |),
         |f AS (
         |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS family_id
         |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
         |),
         |sp AS (
         |  SELECT doc_id,
         |    CASE WHEN h < 8 THEN 'train' WHEN h = 8 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM (SELECT doc_id, CAST('0x' ||
         |      substring(md5('split:' || CAST(family_id AS VARCHAR)), 1, 8)
         |      AS BIGINT) % 10 AS h FROM f)
         |),
         |g AS (
         |  SELECT d.doc_id, sp.split,
         |    unnest(list_distinct(list_transform(
         |      generate_series(1, greatest(len(string_split(text, ' '))-7, 1)),
         |      i -> array_to_string(string_split(text, ' ')[i:i+7], ' '))))
         |      AS gram
         |  FROM documents d JOIN sp USING (doc_id)
         |),
         |tg AS (
         |  SELECT gram, CAST(MIN(doc_id) AS BIGINT) AS train_doc
         |  FROM g WHERE split = 'train' GROUP BY gram
         |),
         |hits AS (
         |  SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_leaked,
         |         CAST(MIN(tg.train_doc) AS BIGINT) AS example_train_doc
         |  FROM g JOIN tg USING (gram)
         |  WHERE g.split <> 'train' GROUP BY g.doc_id
         |)
         |SELECT sp.doc_id, sp.split,
         |  COALESCE(h.n_leaked, 0) AS n_leaked_grams,
         |  h.example_train_doc
         |FROM sp LEFT JOIN hits h ON h.doc_id = sp.doc_id
         |WHERE sp.split <> 'train' ORDER BY sp.doc_id""".stripMargin,

    // p25: bucketed hash rings + next-J neighbors, d07-family anti
    // filter, rank by ring distance
    "p25_negative_pairs" ->
      s"""WITH ring AS (
         |  SELECT doc_id,
         |    CAST('0x' || substring(md5('neg:' || CAST(doc_id AS VARCHAR)),
         |      1, 8) AS BIGINT) AS h
         |  FROM documents
         |),
         |pos AS (
         |  SELECT doc_id, h % 64 AS bucket,
         |    CAST(row_number() OVER (PARTITION BY h % 64
         |      ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
         |  FROM ring
         |),
         |sz AS (
         |  SELECT bucket, CAST(count(*) AS BIGINT) AS bn
         |  FROM pos GROUP BY bucket
         |),
         |cnd AS (
         |  SELECT p.doc_id, p.bucket, p.pos, s.bn,
         |         CAST(d.dist AS BIGINT) AS dist
         |  FROM pos p JOIN sz s USING (bucket)
         |  CROSS JOIN (SELECT unnest(generate_series(1, 5)) AS dist) d
         |  WHERE d.dist < s.bn
         |),
         |jn AS (
         |  SELECT c.doc_id, n.doc_id AS neg_doc_id, c.dist
         |  FROM cnd c JOIN pos n ON n.bucket = c.bucket
         |   AND n.pos = (c.pos + c.dist) % c.bn
         |),
         |lab AS (SELECT doc_id, component FROM (${DedupOps.d07Sql})),
         |flt AS (
         |  SELECT j.doc_id, j.neg_doc_id, j.dist
         |  FROM jn j
         |  LEFT JOIN lab a ON a.doc_id = j.doc_id
         |  LEFT JOIN lab b ON b.doc_id = j.neg_doc_id
         |  WHERE a.component IS NULL OR b.component IS NULL
         |     OR a.component <> b.component
         |),
         |rk AS (
         |  SELECT doc_id, neg_doc_id, dist AS ring_distance,
         |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY dist)
         |      AS BIGINT) AS rank
         |  FROM flt
         |)
         |SELECT doc_id, neg_doc_id, ring_distance, rank FROM rk
         |WHERE rank <= 2 ORDER BY doc_id, rank""".stripMargin,

    // p24: one source agg; HHI/Gini/top as divisions of exact integers
    "p24_source_concentration" ->
      """WITH per AS (
        |  SELECT source,
        |    CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
        |      AS BIGINT) AS x
        |  FROM documents GROUP BY source
        |),
        |rk AS (
        |  SELECT x, CAST(row_number() OVER (ORDER BY x ASC, source ASC)
        |    AS BIGINT) AS i
        |  FROM per
        |),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_sources,
        |    CAST(SUM(x) AS BIGINT) AS total_tokens,
        |    SUM(CAST(x AS HUGEINT) * x) AS sum_sq,
        |    CAST(SUM(i * x) AS BIGINT) AS rank_mass,
        |    CAST(MAX(x) AS BIGINT) AS top_tokens
        |  FROM rk
        |)
        |SELECT n_sources, total_tokens,
        |  CAST(sum_sq AS DOUBLE) /
        |    CAST(CAST(total_tokens AS HUGEINT) * total_tokens AS DOUBLE)
        |    AS hhi,
        |  CAST(2 * rank_mass - (n_sources + 1) * total_tokens AS DOUBLE) /
        |    CAST(n_sources * total_tokens AS DOUBLE) AS gini,
        |  CAST(top_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)
        |    AS top_share
        |FROM agg""".stripMargin,

    // p23: one source agg, isqrt weights, integer-product divisions
    "p23_mixture_plan" ->
      """WITH per AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
        |      AS BIGINT) AS src_tokens
        |  FROM documents GROUP BY source
        |),
        |w AS (
        |  SELECT *, CAST(floor(sqrt(CAST(src_tokens AS DOUBLE))) AS BIGINT)
        |    AS w
        |  FROM per
        |),
        |tot AS (
        |  SELECT CAST(SUM(src_tokens) AS BIGINT) AS total_tokens,
        |         CAST(SUM(w) AS BIGINT) AS total_w
        |  FROM w
        |)
        |SELECT source, n_docs, src_tokens,
        |  CAST(src_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)
        |    AS natural_share,
        |  CAST(w AS DOUBLE) / CAST(total_w AS DOUBLE) AS target_share,
        |  CAST(CAST(w AS HUGEINT) * total_tokens AS DOUBLE) /
        |    CAST(CAST(total_w AS HUGEINT) * src_tokens AS DOUBLE)
        |    AS upsample_factor,
        |  CAST((CAST(w AS HUGEINT) * total_tokens) // total_w AS BIGINT)
        |    AS planned_tokens
        |FROM w CROSS JOIN tot ORDER BY source""".stripMargin,

    // p21: p04's assignment re-grouped by shard
    "p21_pack_report" ->
      """WITH pk AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(COALESCE(SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
        |        OVER (ORDER BY doc_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      // 500 AS BIGINT) AS shard_id
        |  FROM documents
        |)
        |SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(SUM(n_tokens) AS DOUBLE) / 500.0 AS fill_rate,
        |  CAST(CASE WHEN SUM(n_tokens) > 500 THEN 1 ELSE 0 END AS BIGINT)
        |    AS overflow
        |FROM pk GROUP BY shard_id ORDER BY shard_id""".stripMargin,

    // p22: two opposite rank windows per source + the k-paired extremes
    "p22_preference_pairs" ->
      """WITH q AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
        |      * 1000000 // len(string_split(text, ' ')) AS quality
        |  FROM documents
        |),
        |ranked AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY quality DESC, doc_id ASC) AS top_rank,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY quality ASC, doc_id DESC) AS bot_rank,
        |    count(*) OVER (PARTITION BY source) AS grp_n
        |  FROM q
        |),
        |chosen AS (
        |  SELECT source, top_rank AS k, doc_id AS chosen_doc,
        |         quality AS chosen_q
        |  FROM ranked WHERE top_rank <= 3 AND top_rank * 2 <= grp_n
        |),
        |rejected AS (
        |  SELECT source, bot_rank AS k, doc_id AS rejected_doc,
        |         quality AS rejected_q
        |  FROM ranked WHERE bot_rank <= 3 AND bot_rank * 2 <= grp_n
        |)
        |SELECT c.source, CAST(c.k AS BIGINT) AS k, c.chosen_doc,
        |  r.rejected_doc, c.chosen_q, r.rejected_q,
        |  CAST(c.chosen_q - r.rejected_q AS BIGINT) AS quality_gap
        |FROM chosen c JOIN rejected r
        |  ON r.source = c.source AND r.k = c.k
        |ORDER BY c.source, k""".stripMargin,

    // p20: p19's plan + the p15-style global window permutation
    "p20_training_order" ->
      """WITH counts AS (
        |  SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang
        |),
        |t AS (SELECT CAST(MAX(n_lang) AS BIGINT) AS target FROM counts),
        |plan AS (
        |  SELECT lang, n_lang,
        |    least((t.target + n_lang - 1) // n_lang, 4) AS rep_factor
        |  FROM counts, t
        |),
        |a AS (
        |  SELECT d.doc_id, d.lang,
        |    unnest(range(1, p.rep_factor + 1)) AS copy_id
        |  FROM documents d JOIN plan p USING (lang)
        |),
        |h AS (
        |  SELECT doc_id, lang, copy_id,
        |    CAST('0x' || substring(md5('epoch0:' ||
        |      CAST(doc_id AS VARCHAR) || ':' || CAST(copy_id AS VARCHAR)),
        |      1, 8) AS BIGINT) AS h
        |  FROM a
        |)
        |SELECT doc_id, lang, copy_id,
        |  row_number() OVER (ORDER BY h % 64, h, doc_id, copy_id) - 1
        |    AS pos
        |FROM h ORDER BY doc_id, copy_id""".stripMargin,

    // p19: the same integer plan + per-copy expansion
    "p19_upsample_assign" ->
      """WITH counts AS (
        |  SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang
        |),
        |t AS (SELECT CAST(MAX(n_lang) AS BIGINT) AS target FROM counts),
        |plan AS (
        |  SELECT lang, n_lang,
        |    least((t.target + n_lang - 1) // n_lang, 4) AS rep_factor
        |  FROM counts, t
        |)
        |SELECT d.doc_id, d.lang, p.n_lang, p.rep_factor,
        |  unnest(range(1, p.rep_factor + 1)) AS copy_id
        |FROM documents d JOIN plan p USING (lang)
        |ORDER BY d.lang, d.doc_id, copy_id""".stripMargin,

    // p18: p02's buckets + the d08/t12 contamination override
    "p18_quarantine_split" ->
      """WITH g AS (
        |  SELECT DISTINCT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(string_split(text, ' '))-3, 1)),
        |    i -> array_to_string(string_split(text, ' ')[i:i+3], ' '))))
        |    AS gram
        |  FROM documents
        |),
        |tot AS (SELECT doc_id, count(*) AS n_g FROM g GROUP BY doc_id),
        |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
        |shared AS (
        |  SELECT g.doc_id, count(*) AS n_shared
        |  FROM g JOIN bench USING (gram)
        |  WHERE g.doc_id % 97 <> 0
        |  GROUP BY g.doc_id
        |),
        |b AS (
        |  SELECT d.doc_id, t.n_g,
        |    coalesce(s.n_shared, 0) AS n_shared,
        |    CAST('0x' || substring(md5('split:' || CAST(d.doc_id AS VARCHAR)),
        |      1, 8) AS BIGINT) % 10 AS bucket
        |  FROM documents d
        |  JOIN tot t ON t.doc_id = d.doc_id
        |  LEFT JOIN shared s ON s.doc_id = d.doc_id
        |)
        |SELECT doc_id, bucket, n_shared, n_g,
        |  CASE WHEN doc_id % 97 = 0 THEN 'benchmark'
        |       WHEN n_shared * 2 >= n_g THEN 'quarantine'
        |       WHEN bucket < 8 THEN 'train'
        |       WHEN bucket = 8 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,

    // p17: the same apportionment + hash pick stated declaratively
    "p17_quota_sample" ->
      """WITH counts AS (
        |  SELECT source, count(*) AS n_s FROM documents GROUP BY source
        |),
        |tot AS (SELECT CAST(SUM(n_s) AS BIGINT) AS total FROM counts),
        |base AS (
        |  SELECT source, n_s, least(207, t.total) AS eff_n,
        |    (CAST(least(207, t.total) AS HUGEINT) * n_s) // t.total
        |      AS base_q,
        |    CAST((CAST(least(207, t.total) AS HUGEINT) * n_s) % t.total
        |      AS BIGINT) AS rem
        |  FROM counts, tot t
        |),
        |seats AS (
        |  SELECT CAST(MAX(eff_n) - SUM(base_q) AS BIGINT) AS extra FROM base),
        |quota AS (
        |  SELECT source,
        |    CAST(base_q + CASE WHEN row_number() OVER (
        |        ORDER BY rem DESC, n_s DESC, source ASC) <= s.extra
        |      THEN 1 ELSE 0 END AS BIGINT) AS quota
        |  FROM base, seats s
        |),
        |ranked AS (
        |  SELECT d.doc_id, d.source,
        |    row_number() OVER (PARTITION BY d.source
        |      ORDER BY CAST('0x' || substring(
        |        md5('quota:' || CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT),
        |        d.doc_id) AS pick_rank
        |  FROM documents d
        |)
        |SELECT r.doc_id, r.source, q.quota, r.pick_rank
        |FROM ranked r JOIN quota q USING (source)
        |WHERE r.pick_rank <= q.quota
        |ORDER BY r.source, r.pick_rank""".stripMargin,
    // p16: the full-recompute statement of the incrementally maintained
    // rollup — the merge must be value-identical to aggregating the
    // whole corpus in one pass
    "p16_agg_merge" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS count_order,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_base_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
        |    / count(*) AS avg_qty,
        |  min(l_shipdate) AS first_ship, max(l_shipdate) AS last_ship
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    // the declarative statement of p15: one global window sort (the
    // oracle may single-task it; the engine buckets + offsets instead)
    "p15_epoch_shuffle" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    CAST('0x' || substring(md5('epoch0:' || CAST(doc_id AS VARCHAR)), 1, 8)
        |      AS BIGINT) AS h
        |  FROM documents
        |)
        |SELECT doc_id,
        |  row_number() OVER (ORDER BY h % 64, h, doc_id) - 1 AS pos
        |FROM h ORDER BY doc_id""".stripMargin,
    "p14_source_cap" ->
      """WITH h AS (
        |  SELECT doc_id, source,
        |    CAST('0x' || substring(md5('cap:' || CAST(doc_id AS VARCHAR)), 1, 8)
        |      AS BIGINT) AS h
        |  FROM documents
        |),
        |r AS (
        |  SELECT source, doc_id,
        |         row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
        |           AS cap_rank
        |  FROM h
        |)
        |SELECT source, doc_id, CAST(cap_rank AS BIGINT) AS cap_rank
        |FROM r WHERE cap_rank <= 50 ORDER BY source, cap_rank""".stripMargin,

    "p13_leakage_safe_split" ->
      s"""WITH comp AS (
         |  SELECT doc_id, component FROM (${DedupOps.d07Sql})
         |),
         |f AS (
         |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS family_id
         |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
         |)
         |SELECT doc_id, CAST(family_id AS BIGINT) AS family_id,
         |  CAST('0x' || substring(md5('split:' || CAST(family_id AS VARCHAR)),
         |    1, 8) AS BIGINT) % 10 AS bucket,
         |  CASE WHEN CAST('0x' ||
         |         substring(md5('split:' || CAST(family_id AS VARCHAR)), 1, 8)
         |         AS BIGINT) % 10 < 8 THEN 'train'
         |       WHEN CAST('0x' ||
         |         substring(md5('split:' || CAST(family_id AS VARCHAR)), 1, 8)
         |         AS BIGINT) % 10 = 8 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM f ORDER BY doc_id""".stripMargin,

    "p12_cdc_chunk" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |         generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents
        |),
        |f AS (
        |  SELECT doc_id, pos, tok,
        |    CASE WHEN substring(md5(tok), 1, 1) IN ('0', '8')
        |         THEN 1 ELSE 0 END AS b
        |  FROM t
        |),
        |c AS (
        |  SELECT doc_id, pos, tok,
        |    SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
        |                 ROWS UNBOUNDED PRECEDING) AS chunk_id
        |  FROM f
        |),
        |ch AS (
        |  SELECT doc_id, chunk_id,
        |    string_agg(tok, ' ' ORDER BY pos) AS chunk_text,
        |    count(*) AS n_tokens
        |  FROM c GROUP BY doc_id, chunk_id
        |)
        |SELECT md5(chunk_text) AS chunk_hash,
        |  CAST(count(*) AS BIGINT) AS n_copies,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(min(doc_id) AS BIGINT) AS example_doc,
        |  CAST(min(n_tokens) AS BIGINT) AS n_tokens
        |FROM ch GROUP BY 1 HAVING count(*) > 1
        |ORDER BY chunk_hash""".stripMargin,

    "p11_pii_redaction" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail-' ||
        |      CAST(doc_id % 7 AS VARCHAR) || '.example' ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' ip 10.' ||
        |      CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
        |      CAST(doc_id % 100 AS VARCHAR) ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' tel 415-555-' ||
        |      CAST(1000 + doc_id % 9000 AS VARCHAR) ELSE '' END AS aug
        |  FROM documents
        |),
        |r1 AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(aug,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |      AS n_email,
        |    regexp_replace(aug,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |      '<EMAIL>', 'g') AS t1
        |  FROM aug
        |),
        |r2 AS (
        |  SELECT doc_id, n_email,
        |    CAST(len(regexp_extract_all(t1,
        |      '\b[0-9]{1,3}(\.[0-9]{1,3}){3}\b')) AS BIGINT) AS n_ip,
        |    regexp_replace(t1, '\b[0-9]{1,3}(\.[0-9]{1,3}){3}\b',
        |      '<IP>', 'g') AS t2
        |  FROM r1
        |),
        |r3 AS (
        |  SELECT doc_id, n_email, n_ip,
        |    CAST(len(regexp_extract_all(t2,
        |      '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b')) AS BIGINT) AS n_phone,
        |    regexp_replace(t2, '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b',
        |      '<PHONE>', 'g') AS redacted
        |  FROM r2
        |)
        |SELECT doc_id, n_email, n_ip, n_phone, redacted,
        |  CAST(length(redacted) AS BIGINT) AS redacted_len
        |FROM r3 ORDER BY doc_id""".stripMargin,

    "p10_epoch_plan" ->
      """WITH s AS (
        |  SELECT source,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
        |      AS available_tokens
        |  FROM documents GROUP BY source
        |),
        |b AS (
        |  SELECT CAST(SUM(available_tokens) * 2 AS BIGINT) AS budget_tokens,
        |         count(*) AS n_sources
        |  FROM s
        |),
        |t AS (
        |  SELECT s.source, s.available_tokens,
        |         CAST(b.budget_tokens // b.n_sources AS BIGINT)
        |           AS target_tokens
        |  FROM s CROSS JOIN b
        |)
        |SELECT source, available_tokens, target_tokens,
        |  CAST(target_tokens AS DOUBLE) / available_tokens AS repeat_factor,
        |  CAST(target_tokens // available_tokens AS BIGINT) AS full_epochs,
        |  CAST(target_tokens % available_tokens AS DOUBLE) / available_tokens
        |    AS remainder_rate
        |FROM t ORDER BY source""".stripMargin,

    "p09_filter_cascade" ->
      """WITH s AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(toks, x ->
        |      x IN ('the','a','of','and','is','to','in'))) AS DOUBLE)
        |      / len(toks) AS stop_ratio,
        |    1.0 - CAST(len(list_distinct(list_transform(
        |        generate_series(1, greatest(len(toks) - 1, 1)),
        |        i -> array_to_string(toks[i:i+1], ' '))))
        |        AS DOUBLE) / greatest(len(toks) - 1, 1) AS dup_bigram_ratio,
        |    CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS uniq_ratio
        |  FROM s
        |),
        |f AS (
        |  SELECT *,
        |    CAST(CASE WHEN n_tokens < 40 THEN 1 ELSE 0 END
        |       + CASE WHEN stop_ratio < 0.04 THEN 2 ELSE 0 END
        |       + CASE WHEN dup_bigram_ratio > 0.05 THEN 4 ELSE 0 END
        |       + CASE WHEN uniq_ratio < 0.35 THEN 8 ELSE 0 END AS BIGINT)
        |      AS fail_mask
        |  FROM m
        |)
        |SELECT doc_id, n_tokens, stop_ratio, dup_bigram_ratio, uniq_ratio,
        |  fail_mask,
        |  CAST(CASE WHEN fail_mask = 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM f ORDER BY doc_id""".stripMargin,

    "p08_quality_deciles" ->
      s"""WITH d AS (
         |  SELECT doc_id, $qualitySql AS score FROM documents
         |),
         |r AS (
         |  SELECT doc_id, score,
         |    row_number() OVER (ORDER BY score, doc_id) AS rn,
         |    count(*) OVER () AS n
         |  FROM d
         |),
         |cuts AS (
         |  SELECT r.score AS cut
         |  FROM r JOIN (SELECT unnest([1,2,3,4,5,6,7,8,9]) AS i) g
         |    ON r.rn = CAST(ceil(r.n * g.i / 10.0) AS BIGINT)
         |)
         |SELECT doc_id, score,
         |  1 + (SELECT count(*) FROM cuts WHERE cut < d.score) AS decile
         |FROM d ORDER BY doc_id""".stripMargin,

    "p07_domain_mix" ->
      """WITH d AS (
        |  SELECT doc_id, source, lang,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents
        |),
        |ps AS (
        |  SELECT source, SUM(n_tokens) AS src_tokens FROM d GROUP BY source
        |),
        |t AS (
        |  SELECT SUM(src_tokens) AS total_tokens, count(*) AS n_sources
        |  FROM ps
        |),
        |r AS (
        |  SELECT ps.source,
        |         least(1.0, (CAST(t.total_tokens AS DOUBLE) / t.n_sources)
        |           / CAST(ps.src_tokens AS DOUBLE)) AS keep_rate
        |  FROM ps, t
        |)
        |SELECT d.doc_id, d.source, d.lang, d.n_tokens, r.keep_rate
        |FROM d JOIN r ON r.source = d.source
        |WHERE CAST(CAST('0x' || substring(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8)
        |    AS BIGINT) AS DOUBLE) / 4294967296.0 < r.keep_rate
        |ORDER BY d.doc_id""".stripMargin,

    "p06_chunk" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |),
        |s AS (
        |  SELECT doc_id, toks,
        |         unnest(range(0, greatest(len(toks) - 8, 1), 24)) AS start
        |  FROM t
        |)
        |SELECT doc_id, start // 24 AS chunk_id, start,
        |       CAST(len(toks[start + 1 : start + 32]) AS BIGINT)
        |         AS n_chunk_tokens,
        |       array_to_string(toks[start + 1 : start + 32], ' ')
        |         AS chunk_text
        |FROM s ORDER BY doc_id, chunk_id""".stripMargin,

    "p01_corpus_clean" ->
      s"""WITH scored AS (
         |  SELECT *, $qualitySql AS q FROM documents
         |  WHERE $qualitySql >= 0.55 AND len(string_split(text, ' ')) >= 30
         |),
         |kept AS (
         |  SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY md5(text)
         |      ORDER BY doc_id) AS rn FROM scored) WHERE rn = 1
         |)
         |SELECT source, count(*) AS n_docs,
         |       CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
         |         AS BIGINT) AS total_tokens,
         |       CAST(SUM(CAST(q AS DECIMAL(28,12))) AS DOUBLE) AS sum_quality,
         |       CAST(SUM(CAST(q AS DECIMAL(28,12))) AS DOUBLE) / count(*)
         |         AS avg_quality
         |FROM kept GROUP BY source ORDER BY source""".stripMargin,

    "p03_profile" -> {
      def num(c: String): String =
        s"""SELECT '$c' AS column_name, count(*) AS n,
           |  count(*) - count($c) AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct,
           |  CAST(CAST(min($c) AS DECIMAL(28,6)) AS VARCHAR) AS min_value,
           |  CAST(CAST(max($c) AS DECIMAL(28,6)) AS VARCHAR) AS max_value
           |FROM lineitem""".stripMargin
      s"""SELECT * FROM (
         |${num("l_quantity")}
         |UNION ALL
         |${num("l_extendedprice")}
         |UNION ALL
         |${num("l_discount")}
         |UNION ALL
         |${num("l_tax")}
         |UNION ALL
         |SELECT 'l_returnflag', count(*),
         |  count(*) - count(l_returnflag), count(DISTINCT l_returnflag),
         |  min(l_returnflag), max(l_returnflag)
         |FROM lineitem
         |) ORDER BY column_name""".stripMargin
    },

    "p04_token_pack" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
        |      OVER (ORDER BY doc_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    // 500 AS BIGINT) AS shard_id
        |FROM documents ORDER BY doc_id""".stripMargin,

    "p05_stratified_sample" ->
      """SELECT doc_id, lang, source FROM (
        |  SELECT *,
        |    CAST(CAST('0x' || substring(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8)
        |      AS BIGINT) AS DOUBLE) / 4294967296.0 AS u
        |  FROM documents)
        |WHERE u < CASE WHEN lang = 'en' THEN 0.3
        |               WHEN lang = 'zh' THEN 0.8
        |               ELSE 1.0 END
        |ORDER BY doc_id""".stripMargin,

    "p02_hash_split" ->
      """SELECT doc_id,
        |  CAST('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)
        |    AS BIGINT) % 10 AS bucket,
        |  CASE WHEN CAST('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)
        |         AS BIGINT) % 10 < 8 THEN 'train'
        |       WHEN CAST('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)
        |         AS BIGINT) % 10 = 8 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
