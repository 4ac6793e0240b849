package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM-data pipelines over `documents`
  * (SURVEY.md §7 step E; `BASELINE.json` north star): exact hash dedup,
  * MinHash signatures, MinHash+LSH banded near-dup join with exact
  * Jaccard verification, SimHash fingerprints, and blocked n-gram Jaccard.
  *
  * Cross-engine determinism: every hash is `md5` (identical in Spark and
  * DuckDB), every minimum is a lexicographic string min, and every ratio is
  * a single double division of exact integer counts — so results are
  * bit-identical across engines.
  *
  * 100 TB posture: no O(n^2) stage anywhere — candidate generation is a
  * shuffle-join on LSH band keys (each doc emits `bands` rows; only
  * same-bucket docs ever meet), and the exact-Jaccard verify runs only on
  * the candidate pairs. Per-doc signature computation is embarrassingly
  * parallel scan work (higher-order array functions, no shuffle).
  */
object DedupOps {

  /** 8-char shingle set of `text`. 5-char shingles (TextOps.t04) are too
    * coarse for this small-vocabulary corpus: background Jaccard ~0.17
    * floods the LSH bands with false candidates; at 8 chars background
    * drops to ~0.04 while planted near-dups stay >= 0.83 (measured on
    * sf0.1).
    */
  private val ShingleLen = 8
  private val shingles =
    s"array_distinct(transform(sequence(1, greatest(length(text)-${ShingleLen - 1}, 1))," +
      s" i -> substring(text, i, $ShingleLen)))"

  private val shinglesSql =
    s"list_distinct(list_transform(generate_series(1, greatest(length(text)-${ShingleLen - 1}, 1))," +
      s" i -> substring(text, i, $ShingleLen)))"

  // 5 bands x 3 rows: planted pairs (J>=0.83) collide w.p. 1-(1-J^3)^5
  // ~ 0.985+; background (J~0.04) w.p. ~3e-4 — O(n) candidates, not O(n^2).
  private val NumHashes = graft.functions.GraftHash.NumHashes // 15
  private val BandRows = 3
  private val P = graft.functions.GraftHash.P

  /** One 60-bit integer hash per shingle (a single md5 per shingle); the
    * 16 minhash functions are a universal-hash family (a_i*x + b_i) mod p
    * over that base hash — 16x cheaper than 16 independent md5 passes.
    * DuckDB `CAST('0x'||hex AS BIGINT)` parses the same 15-hex-char
    * prefix as GraftHash.signature's byte-wise fold.
    */
  private val baseHashSql =
    s"list_transform($shinglesSql, s -> " +
      s"CAST('0x' || substring(md5(s), 1, 15) AS BIGINT) % $P)"

  private def hashA(i: Int): Long = 37L + 61L * i
  private def hashB(i: Int): Long = 91L + 53L * i

  /** MinHash i off the codegen'd signature column `sig`
    * (graft.functions.MinHashSig): same values as
    * array_min(transform(hx, h -> (a_i*h + b_i) % p)) — the form the
    * oracle SQL keeps — but one JVM pass per row instead of 15
    * interpreted array traversals.
    */
  private def mh(i: Int): String = s"element_at(sig, ${i + 1})"

  private def mhSql(i: Int): String =
    s"list_min(list_transform(hx, h -> (${hashA(i)} * h + ${hashB(i)}) % $P))"

  /** Band key j: md5 over the '-'-joined BandRows minhash values. */
  private def band(j: Int, f: Int => String): String = {
    val parts = (j * BandRows until (j + 1) * BandRows).map(f)
    s"md5(concat_ws('-', ${parts.mkString(", ")}))"
  }

  private def bandSql(j: Int): String = {
    val parts = (j * BandRows until (j + 1) * BandRows).map(mhSql)
    s"md5(concat_ws('-', ${parts.mkString(", ")}))"
  }

  private val numBands = NumHashes / BandRows

  /** Exact dedup (hash-groupBy): the corpus unioned with a shifted copy of
    * itself (so true duplicates exist), grouped by content hash, keeping
    * the smallest doc_id. At scale this is one hash-partitioned shuffle on
    * a 32-char key — the canonical exact-dedup plan.
    */
  def d01ExactDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val copies = docs.select((col("doc_id") + 100000).as("doc_id"), col("text"))
    docs.union(copies)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper_doc_id"))
      .orderBy("text_hash")
  }

  /** MinHash signatures + LSH band keys per document. */
  def d02MinhashSignatures(spark: SparkSession, dir: String): DataFrame = {
    val sig =
      s"md5(concat_ws('-', ${(0 until NumHashes).map(mh).mkString(", ")}))"
    val bandCols = (0 until numBands).map(j =>
      expr(band(j, mh)).as(s"band$j"))
    graft.functions.GraftFunctions.register(spark)
    Tables.documents(spark, dir)
      .withColumn("sig", expr("graft_minhash(text)"))
      .select(col("doc_id") +: expr(sig).as("signature") +: bandCols: _*)
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------------
  // Write-once near-dup intermediates (the bronze->silver->gold
  // materialization discipline the reference applies to its own assets
  // in its `src/assets/silver.py`, applied to the dedup pipeline): the
  // LSH band table and the verified pair graph are two
  // `graft.Materialized` tables per dataset dir; every downstream
  // consumer (d03/d07/d11/d14/d15/p13/q23 and the GraphOps queries)
  // SCANS the materialized table instead of recomputing the
  // shingle->minhash->band->verify subtree. The pairs build reads the
  // materialized band table, so the bands are always built first. A
  // production dedup suite never recomputes MinHash per consumer — at
  // 100 TB this intermediate is a partitioned lakehouse table (the
  // `sources/Lakehouse.upsertPartitions` write path).
  // ---------------------------------------------------------------------

  /** The raw (unmaterialized) band-table build: one (doc_id, band, key)
    * row per doc and band, the per-doc minhash+banding pass — exposed
    * so PlanAuditSpec can audit the write-once build the query sweep
    * never sees.
    */
  private[graft] def bandsBuild(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val bandArr = (0 until numBands).map(j => band(j, mh))
      .mkString("array(", ", ", ")")
    Tables.documents(spark, dir).withColumn("sig", expr("graft_minhash(text)"))
      .select(col("doc_id"), posexplode(expr(bandArr)).as(Seq("band", "key")))
  }

  /** The raw pair-graph build: candidates from the materialized band
    * table's self-join, exact-Jaccard verify on candidates only — the
    * d03 semantics.
    */
  private[graft] def pairsBuild(spark: SparkSession, dir: String): DataFrame =
    verifyPairs(candidatesFrom(bandTable(spark, dir)),
      graft.Caches.cache(shingleArrays(Tables.documents(spark, dir))))

  /** (doc_id, sh_arr) sorted shingle arrays for any (doc_id, text)
    * frame — the verify-side input of the exact-Jaccard merge kernel.
    * graft_shingles is the linear-pass kernel form of the `shingles`
    * SQL (the per-position substring walks from byte 0 each call —
    * O(chars^2) per doc); values identical, spec-pinned.
    */
  private[graft] def shingleArrays(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.select(col("doc_id"),
      sort_array(expr(s"graft_shingles(text, $ShingleLen)")).as("sh_arr"))
  }

  /** Exact-Jaccard verification over candidate (doc_a, doc_b) pairs:
    * join each side's sorted shingle array from `sh` and merge-count
    * the overlap with the codegen'd kernel, keeping J >= 0.8.
    */
  private[graft] def verifyPairs(cand: DataFrame, sh: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(cand.sparkSession)
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh_arr").as("sh_a")),
        Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh_arr").as("sh_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("graft_sorted_common(sh_a, sh_b)").as("n_common"),
        size(col("sh_a")).cast("long").as("n_a"),
        size(col("sh_b")).cast("long").as("n_b"))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= 0.8)
      .select("doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard")
  }

  /** Banded LSH candidate pairs (doc_a < doc_b, distinct across bands)
    * from a (doc_id, band, key) band table: only same-bucket docs meet.
    */
  private def candidatesFrom(keyed: DataFrame): DataFrame = {
    val a = keyed.select(col("doc_id").as("doc_a"), col("band"), col("key"))
    val b = keyed.select(col("doc_id").as("doc_b"), col("band"), col("key"))
    a.join(b, Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** The materialized (doc_id, band, key) LSH band table for `dir`. */
  private[graft] def bandTable(spark: SparkSession, dir: String): DataFrame =
    graft.Materialized.table(spark, s"bands:$dir", dir)(bandsBuild(spark, dir))

  /** The materialized verified near-dup pair graph for `dir`:
    * (doc_a, doc_b, n_common, n_a, n_b, jaccard), J >= 0.8, doc_a < doc_b.
    */
  def pairGraph(spark: SparkSession, dir: String): DataFrame =
    graft.Materialized.table(spark, s"pairs:$dir", dir)(pairsBuild(spark, dir))

  /** Banded LSH candidate pairs — a scan + self-join of the
    * materialized band table (no minhash recompute).
    */
  private def lshCandidates(spark: SparkSession, dir: String): DataFrame =
    candidatesFrom(bandTable(spark, dir))

  /** MinHash+LSH near-dup detection with exact-Jaccard verification:
    * shingle -> minhash -> band -> bucket-join -> explode-join Jaccard,
    * keeping pairs with J >= 0.8. Only candidate pairs (not all pairs)
    * reach the verify stage. The computation lives in the write-once
    * [[pairsBuild]]; this query (and every other consumer) scans the
    * persisted pair graph.
    */
  def d03LshNearDup(spark: SparkSession, dir: String): DataFrame =
    pairGraph(spark, dir)
      .select("doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard")
      .orderBy("doc_a", "doc_b")

  /** MinHash estimator calibration: for every LSH candidate pair, the
    * component-agreement estimate (matching minhash components / 15)
    * next to the EXACT shingle Jaccard the estimator approximates —
    * the measurement that justifies trusting d03's banding math in
    * production (E[matches/k] = J; with k=15, sigma = sqrt(J(1-J)/15)
    * ~ 0.1, spec-pinned at 5 sigma). Candidates only — the estimate is
    * free (signatures already exist), the exact verify is the d03
    * merge kernel, and the whole query shares d03's cached frames and
    * O(n) candidate bound; nothing corpus-squared anywhere.
    */
  def d14MinhashCalibration(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val cand = lshCandidates(spark, dir)
    val sigs = graft.Caches.cache(Tables.documents(spark, dir)
      .withColumn("sig", expr("graft_minhash(text)"))
      .select(col("doc_id"), col("sig")))
    val sh = graft.Caches.cache(
      shingleArrays(Tables.documents(spark, dir)))
    val estExpr = (0 until NumHashes).map(i =>
      s"(CASE WHEN element_at(sig_a, ${i + 1}) = element_at(sig_b, ${i + 1})" +
        " THEN 1 ELSE 0 END)").mkString(" + ")
    cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")),
        Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")),
        Seq("doc_b"))
      .join(sh.select(col("doc_id").as("doc_a"), col("sh_arr").as("sh_a")),
        Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh_arr").as("sh_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr(estExpr).cast("long").as("est_matches"),
        expr("graft_sorted_common(sh_a, sh_b)").as("n_common"),
        size(col("sh_a")).cast("long").as("n_a"),
        size(col("sh_b")).cast("long").as("n_b"))
      .withColumn("est_jaccard",
        col("est_matches").cast("double") / NumHashes)
      .withColumn("exact_jaccard", col("n_common").cast("double") /
        (col("n_a") + col("n_b") - col("n_common")))
      .orderBy("doc_a", "doc_b")
  }

  /** SimHash: 16 hex-position majority votes over per-token md5 digests ->
    * 16-bit fingerprint. Near-identical token multisets collapse to the
    * same signature; at scale, grouping on the signature (or signature
    * bands) is a pure hash shuffle.
    */
  def d04Simhash(spark: SparkSession, dir: String): DataFrame =
    simhashFrame(spark, dir).orderBy("doc_id")

  /** d04's body WITHOUT the output sort — d06 aggregates it, and a
    * reused orderBy under graft_topk survives planning (Catalyst can't
    * prove a custom imperative aggregate order-insensitive, so
    * EliminateSorts keeps the range exchange + sort — measured as a
    * full corpus-sized extra shuffle in d06's r15 before-plan).
    */
  private def simhashFrame(spark: SparkSession, dir: String): DataFrame = {
    // graft_simhash fuses the whole chain — one byte pass per doc, one
    // one-block md5 per token — where the SQL form materialized a hex
    // string per token and ran 16 interpreted ArrayAggregate folds over
    // it (r15 per-task-work tier; SimhashKernelSpec pins bit-equality)
    graft.functions.GraftFunctions.register(spark)
    Tables.documents(spark, dir)
      .select(col("doc_id"), expr("graft_simhash(text)").as("s"))
      .select(col("doc_id"), col("s.simhash").as("simhash"),
        col("s.n_tokens").as("n_tokens"))
  }

  /** Capped member preview per cluster. */
  private val ClusterPreviewK = 20

  /** SimHash near-dup clusters: group on the 16-bit fingerprint — the
    * scale path d04's doc says (pure hash shuffle, no pair join at all).
    *
    * Hot-key bound: a 16-bit fingerprint has at most 65,536 distinct keys,
    * so at 100 TB a popular fingerprint holds millions of members — an
    * unbounded collect_list would balloon one aggregation buffer. Instead
    * the member preview uses the bounded graft_topk heap (k smallest
    * doc_ids; k entries per group per partition reach the shuffle, same
    * plan as s04) next to the exact total count. Full membership at scale
    * is the d04 projection (doc_id, simhash) itself — no list needed.
    */
  def d06SimhashClusters(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // simhashFrame, NOT d04Simhash: the r15 plan audit caught d04's
    // output orderBy surviving under this aggregation (see simhashFrame)
    simhashFrame(spark, dir)
      .groupBy(col("simhash"))
      .agg(
        count(lit(1)).as("n_docs"),
        // smallest ids first: score = -doc_id, heap keeps the k best
        expr(s"graft_topk(-CAST(doc_id AS DOUBLE), doc_id, $ClusterPreviewK)")
          .as("top"))
      .filter(col("n_docs") > 1)
      .select(col("simhash"), col("n_docs"),
        expr("concat_ws(',', transform(top, x -> CAST(x.id AS STRING)))")
          .as("doc_ids"))
      .orderBy("simhash")
  }

  /** Blocked token-3-gram Jaccard: block on a 40-char prefix (cheap
    * equality blocker), compare blocked pairs by word-trigram overlap.
    */
  def d05NgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // graft_ngrams_distinct: one byte pass per row (r16, NgramKernelSpec)
    // cached: both sides of the blocked self-join reuse the ngram arrays
    val g = graft.Caches.cache(Tables.documents(spark, dir)
      .select(
        col("doc_id"), substring(col("text"), 1, 40).as("blk"),
        expr("graft_ngrams_distinct(text, 3)").as("ng")))
    val pairs = g.select(col("doc_id").as("doc_a"), col("blk"), col("ng").as("ng_a"))
      .join(g.select(col("doc_id").as("doc_b"), col("blk"), col("ng").as("ng_b")), Seq("blk"))
      .filter(col("doc_a") < col("doc_b"))
    pairs.select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("ng_a"), col("ng_b"))).cast("long").as("n_common"),
        size(col("ng_a")).cast("long").as("n_a"),
        size(col("ng_b")).cast("long").as("n_b"))
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** Near-dup FAMILIES via distributed label propagation: near-dup pairs
    * (d03) as an undirected graph; every member adopts the smallest
    * doc_id reachable in 4 rounds of min-label propagation (connected
    * components for diameter <= 4 — near-dup families are cliques or
    * short chains, and a FIXED round count keeps both engines
    * bit-identical regardless of convergence). Each round is one
    * join + hash agg keyed on doc id — the standard scalable CC loop.
    */
  /** `rounds` rounds of min-label propagation over a symmetric edge list
    * (v, u): every vertex adopts the smallest label among itself and its
    * neighbors, once per round. The min label travels exactly one hop per
    * round, so after r rounds a vertex holds the smallest id within r
    * hops — components of diameter <= r converge; longer chains
    * under-merge DETERMINISTICALLY (the bound is pinned by a ScalaCheck
    * property on planted path graphs). Each round is one join + one hash
    * agg keyed on vertex id — the standard scalable CC loop.
    */
  private[graft] def minLabelPropagate(edges: DataFrame, rounds: Int): DataFrame = {
    // Eager localCheckpoint per round (the same mechanic as
    // propagateToFixpoint): without it the 4 unrolled rounds build ONE
    // deep DAG referencing the cached edge frame 4x, and AQE's parallel
    // stage submission races those scans into recomputing the whole
    // LSH-verify subtree before the cache materializes — measured
    // 10-39s (run-to-run racy) vs a stable ~3s for d11 at sf0.1.
    // Checkpointing makes the rounds sequential: round 1's job
    // populates the edge cache once, rounds 2-4 reuse blocks, and the
    // final plan seen by later operators is a flat scan of round-4
    // labels. Values are unchanged (pure determinism, spec-pinned).
    var labels = graft.Caches.checkpoint(
      edges.select(col("v").as("doc_id")).distinct()
        .withColumn("label", col("doc_id")))
    (1 to rounds).foreach { _ =>
      val neighborMin = edges
        .join(labels.select(col("doc_id").as("u"), col("label").as("ulabel")),
          Seq("u"))
        .groupBy(col("v").as("doc_id"))
        .agg(min(col("ulabel")).as("nlabel"))
      labels = graft.Caches.checkpoint(
        labels.join(neighborMin, Seq("doc_id"), "left")
          .select(col("doc_id"),
            least(col("label"), coalesce(col("nlabel"), col("label")))
              .as("label")))
    }
    labels
  }

  /** The PRODUCTION connected-components path next to d07's fixed
    * 4-round unroll: iterate min-label propagation until no label
    * changes, so components of ANY diameter converge (a diameter-d
    * chain takes d rounds; d07's fixed unroll under-merges beyond 4 —
    * deliberately, for oracle bit-parity). Not oracle-checked: DuckDB
    * has no data-dependent iteration; the spec pins it on a planted
    * diameter-6 chain instead.
    *
    * Scale mechanics: `localCheckpoint` per round truncates lineage —
    * without it the logical plan doubles every round and the driver
    * chokes on plan analysis long before data is the problem.
    * Convergence is detected by the (monotonically decreasing) sum of
    * labels: labels only ever decrease under `least`, so an unchanged
    * sum means a fixpoint — one cheap global agg per round instead of a
    * self-join diff. Each round stays one join + one hash agg keyed on
    * vertex id.
    *
    * Returns (labels, rounds, converged). `converged = false` means the
    * loop hit `maxRounds` with labels still moving — callers must treat
    * the labels as partial (an unconverged CC labeling silently merges
    * fewer components than exist edges for).
    */
  private[graft] def propagateToFixpoint(
      edges: DataFrame, maxRounds: Int = 50): (DataFrame, Int, Boolean) = {
    var labels = graft.Caches.checkpoint(
      edges.select(col("v").as("doc_id")).distinct()
        .withColumn("label", col("doc_id")))
    // sum() over zero rows is SQL NULL -> coalesce, or compareTo NPEs on
    // an empty edge list (zero vertices is trivially converged).
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(
          sum(col("label").cast(org.apache.spark.sql.types.DecimalType(38, 0))),
          lit(java.math.BigDecimal.ZERO)))
        .head().getDecimal(0)
    if (labels.isEmpty) return (labels, 0, true)
    var prevSum = labelSum(labels)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val neighborMin = edges
        .join(labels.select(col("doc_id").as("u"), col("label").as("ulabel")),
          Seq("u"))
        .groupBy(col("v").as("doc_id"))
        .agg(min(col("ulabel")).as("nlabel"))
      val prevLabels = labels
      labels = graft.Caches.checkpoint(
        labels.join(neighborMin, Seq("doc_id"), "left")
          .select(col("doc_id"),
            least(col("label"), coalesce(col("nlabel"), col("label")))
              .as("label")))
      // round r's labels are consumed by the eager checkpoint — release
      // so the loop pins 2 label frames, not O(rounds)
      graft.Caches.release(prevLabels)
      rounds += 1
      val s = labelSum(labels)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
    }
    (labels, rounds, converged)
  }

  /** Shared by d07 (reports components) and d11 (dedups the corpus):
    * d03's verified near-dup pairs -> symmetric edges -> 4 fixed rounds
    * of min-label propagation.
    */
  private def neardupLabels(spark: SparkSession, dir: String): DataFrame = {
    // Scans the write-once materialized pair graph — re-reading the tiny
    // pairs parquet per propagation round is cheap and free of the
    // cached-subtree AQE race the inline d03 subtree used to carry.
    val pairs = pairGraph(spark, dir).select("doc_a", "doc_b")
    // symmetric edge list (+ implicit self via the left join below)
    val edges =
      pairs.select(col("doc_a").as("v"), col("doc_b").as("u"))
        .union(pairs.select(col("doc_b").as("v"), col("doc_a").as("u")))
    // FIXED 4 rounds: near-dup families are cliques or short chains
    // (diameter <= 4 — verified empirically on the planted corpus), and a
    // fixed count keeps the result bit-identical to the oracle's 4
    // unrolled rounds regardless of convergence. A diameter-d chain needs
    // d rounds; raising the cap means adding the same rounds to d07Sql.
    minLabelPropagate(edges, 4)
  }

  /** CONVERGED near-dup family labels (doc_id, component) over the
    * materialized pair graph — fixpoint propagation instead of d07's
    * fixed 4-round unroll, so families of ANY graph diameter (e.g. a
    * chain of successive revisions) carry one label. This is the form
    * correctness-critical consumers (p13's leakage-safe split) must
    * use: an under-merged labeling silently splits one family across
    * train/test. Throws if the propagation hits `maxRounds` without
    * converging — partial labels are worse than a loud failure there.
    */
  private[graft] def convergedComponents(
      spark: SparkSession, dir: String): DataFrame =
    convergedComponentsFromPairs(
      pairGraph(spark, dir).select("doc_a", "doc_b"))

  /** Converged family labels over ANY (doc_a, doc_b) pair frame — the
    * [[convergedComponents]] core, exposed so snapshot-restricted pair
    * graphs (p33's previous-release view is the materialized pair
    * graph FILTERED to old-corpus endpoints — LSH candidacy is
    * per-pair, so a subset corpus's pair graph IS the restriction)
    * reuse the fixpoint without recomputing any signatures.
    */
  private[graft] def convergedComponentsFromPairs(
      pairs: DataFrame): DataFrame = {
    val edges =
      pairs.select(col("doc_a").as("v"), col("doc_b").as("u"))
        .union(pairs.select(col("doc_b").as("v"), col("doc_a").as("u")))
    val (labels, _, converged) = propagateToFixpoint(edges)
    require(converged,
      "near-dup label propagation did not converge; refusing to emit " +
        "partial family labels")
    labels.select(col("doc_id"), col("label").as("component"))
  }

  def d07NeardupComponents(spark: SparkSession, dir: String): DataFrame =
    neardupLabels(spark, dir)
      .select(col("doc_id"), col("label").as("component"))
      .orderBy("doc_id")

  // ---------------------------------------------------------------------
  // Alternating large-star/small-star contraction (Kiveris et al.,
  // "Connected Components in MapReduce and Beyond", SOCC'14): the
  // third CC formulation next to d07's fixed unroll and
  // propagateToFixpoint's driver loop. Min-label propagation needs
  // DIAMETER rounds (a 1M-hop revision chain = 1M joins); the star
  // operations contract the graph toward stars centered at component
  // minima in O(log n) rounds REGARDLESS of diameter — the form that
  // survives adversarial topology at 100 TB. Each round is two
  // (join + hash agg) stages on the current edge set, which only
  // shrinks; no collect_list, no per-node adjacency materialization.
  // ---------------------------------------------------------------------

  /** One large-star round over canonical (hi > lo) edges: every node's
    * strictly-LARGER neighbors re-attach to the minimum of its closed
    * neighborhood. Output stays canonical: emitted (n, m) has n > c >= m.
    */
  private def largeStar(edges: DataFrame): DataFrame = {
    val adj = edges.select(col("hi").as("c"), col("lo").as("n"))
      .union(edges.select(col("lo").as("c"), col("hi").as("n")))
    val m = adj.groupBy("c").agg(min(col("n")).as("nmin"))
      .select(col("c"), least(col("nmin"), col("c")).as("m"))
    adj.join(m, Seq("c"))
      .where(col("n") > col("c"))
      .select(col("n").as("hi"), col("m").as("lo"))
      .distinct()
  }

  /** One small-star round: every node's SMALLER-or-equal neighborhood
    * (exactly the rows where it is the canonical `hi`) plus the node
    * itself re-attach to that neighborhood's minimum; the minimum's own
    * self-edge is dropped to keep edges irreflexive.
    */
  private def smallStar(edges: DataFrame): DataFrame = {
    val m = edges.groupBy("hi").agg(min(col("lo")).as("m"))
    edges.join(m, Seq("hi"))
      .select(col("lo").as("node"), col("m"))
      .union(m.select(col("hi").as("node"), col("m")))
      .where(col("node") =!= col("m"))
      .select(col("node").as("hi"), col("m").as("lo"))
      .distinct()
  }

  /** Alternate large-star/small-star until the edge set is stable;
    * returns (star edges, rounds). At the fixpoint every component is a
    * star centered at its minimum node, so (hi, lo) reads (member, root).
    * Convergence = order-independent edge-set checksum (count + XOR of
    * xxhash64) unchanged across a round — one cheap global agg, the same
    * discipline as propagateToFixpoint's label sum. XOR, not SUM: xxhash64
    * values are uniform 64-bit longs, so a BIGINT sum overflows almost
    * surely past a handful of edges and Spark 4's default ANSI mode turns
    * that into ARITHMETIC_OVERFLOW; bit_xor wraps by construction, stays
    * order-independent, and cannot self-cancel because the edge set is
    * distinct(). Eager checkpoint per round truncates lineage and
    * serializes the stages (the AQE cached-subtree race fix, NOTES.md).
    */
  private[graft] def starContract(
      edges0: DataFrame, maxRounds: Int = 50): (DataFrame, Int) = {
    def checksum(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("hi"), col("lo"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var e = graft.Caches.checkpoint(edges0.toDF("hi", "lo"))
    if (e.isEmpty) return (e, 0)
    var prev = checksum(e)
    var rounds = 0
    var stable = false
    while (!stable && rounds < maxRounds) {
      val next = graft.Caches.checkpoint(smallStar(largeStar(e)))
      rounds += 1
      val cur = checksum(next)
      // Digest equality is confirmed EXACTLY once, on the first round it
      // stabilizes: a 2^-64 digest collision would otherwise terminate
      // early and silently emit under-merged components. Counts already
      // match and edges are distinct, so one-sided exceptAll = set
      // equality; both frames are checkpointed, so this is one cheap
      // extra job on one round, never per-round work.
      stable = cur == prev && next.exceptAll(e).isEmpty
      prev = cur
      // round r's edges are checkpointed (lineage-truncated) and no
      // longer referenced once the stability check above consumed them
      // — release NOW so peak storage is 2 rounds of edges, not
      // O(rounds) (r9: the fixpoint-loop memory discipline)
      graft.Caches.release(e)
      e = next
    }
    require(stable,
      s"large-star/small-star contraction still moving after $maxRounds " +
        "rounds; refusing to emit partial components")
    (e, rounds)
  }

  /** Converged near-dup components via star contraction — value-identical
    * to min-reachable-id labeling at ANY family diameter (the oracle says
    * so declaratively with a recursive CTE), in O(log n) rounds instead
    * of O(diameter).
    */
  def d17StarComponents(spark: SparkSession, dir: String): DataFrame =
    starComponentLabels(spark, dir).orderBy("doc_id")

  /** d17's labels WITHOUT the output sort — d22 caches and aggregates
    * them, and materializing through the orderBy pays a pointless
    * range exchange + global sort (the d04/d06 lesson, r15).
    */
  private def starComponentLabels(
      spark: SparkSession, dir: String): DataFrame = {
    val pairs = pairGraph(spark, dir)
      .select(col("doc_b").as("hi"), col("doc_a").as("lo"))
    val (stars, _) = starContract(pairs)
    stars.select(col("hi").as("doc_id"), col("lo").as("component"))
      .union(stars.select(col("lo").as("doc_id"), col("lo").as("component")))
      .distinct()
  }

  /** Quality-aware keeper selection per near-dup family: production
    * dedup keeps the BEST member of each duplicate family, not the
    * smallest id (d11's policy) — the crawl with the least boilerplate,
    * the longest clean revision. Quality here is the integer lexical
    * diversity n_distinct_tokens * 1e6 div n_tokens (no float anywhere;
    * any scoring column drops in), keeper = top quality with doc_id as
    * the total-order tiebreak.
    *
    * 100 TB posture: families come from the converged fixpoint over
    * the materialized pair graph (r13: an under-merged labeling elects
    * MULTIPLE keepers for one true family — exactly the duplication
    * this operator exists to prevent; the spec plants the divergent
    * chain); the keeper rank is a window over FAMILY members only
    * (families are near-dup-population-sized, never corpus-sized),
    * and the quality join touches just those members.
    */
  def d15QualityKeeper(spark: SparkSession, dir: String): DataFrame = {
    val quality = "CAST(size(array_distinct(split(text, ' '))) AS BIGINT)" +
      " * 1000000 div size(split(text, ' '))"
    val members = convergedComponents(spark, dir)
      .join(Tables.documents(spark, dir)
        .select(col("doc_id"), expr(quality).as("quality")), Seq("doc_id"))
    val w = Window.partitionBy(col("component"))
      .orderBy(col("quality").desc, col("doc_id").asc)
    val counts = members.groupBy("component")
      .agg(count(lit(1)).cast("long").as("n_members"))
    members.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .join(counts, Seq("component"))
      .select(col("component"), col("n_members"),
        col("doc_id").as("keeper_doc_id"), col("quality").as("keeper_quality"))
      .orderBy("component")
  }

  /** End-to-end fuzzy-dedup pipeline — the operator a training-data run
    * actually calls: MinHash -> banded LSH candidates -> exact-Jaccard
    * verify (the d02/d03 stages) -> CONVERGED min-label components ->
    * keep the smallest doc_id per family -> emit the deduplicated
    * corpus (doc_id, text_hash). Labels converged since r13: the
    * 4-round unroll KEPT extra members of any family whose minimum sat
    * more than 4 hops away — and the keep-set is the corpus an actual
    * training run reads, so it must agree with the d18 report's
    * converged removal accounting (the spec pins both on the planted
    * divergent chain).
    *
    * 100 TB posture: nothing new executes beyond the d02/d03 stages
    * plus the fixpoint propagation over the materialized pair graph —
    * the composition anti-joins the corpus against the REMOVED id set
    * (labels where label < doc_id), which is near-dup-population-sized
    * (far smaller than the corpus), so it broadcasts; the corpus itself
    * is scanned once and never shuffled by the final stage. This is the
    * keep-set shape production dedup jobs write back to the lakehouse.
    */
  def d11DedupPipeline(spark: SparkSession, dir: String): DataFrame = {
    // Cached WITHOUT a broadcast hint: hiding the whole label pipeline
    // under a BroadcastExchange made the build job recompute the shared
    // edge frames instead of reusing them (measured 13.4s vs 5.4s for
    // this query at sf0.1); cached + unhinted, AQE sees the materialized
    // few-KB removed set and still picks the broadcast anti join — same
    // executed join, one-third the cost, and scale-safe if the removed
    // set ever outgrows broadcast range (degrades to a shuffled hash
    // anti join instead of OOMing on a forced hint).
    val removed = graft.Caches.cache(
      convergedComponents(spark, dir)
        .filter(col("component") < col("doc_id"))
        .select("doc_id"))
    Tables.documents(spark, dir)
      .join(removed, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), md5(col("text")).as("text_hash"))
      .orderBy("doc_id")
  }

  /** Benchmark decontamination: flag training docs sharing any word
    * 8-gram with the benchmark set (doc_id % 97 = 0 stands in for an
    * eval suite) — the contamination pass every training pipeline runs
    * before a model ships (n-gram overlap is the standard published
    * recipe; production windows run 8-13 tokens — here 4 words, scaled
    * to this fixture's short word-soup documents so the planted
    * near-dups actually trip it).
    *
    * 100 TB posture: the benchmark side is an eval suite — tiny — so its
    * exploded 8-grams BROADCAST and the training corpus is only scanned
    * (per-row explode, no corpus shuffle); the groupBy shuffles matched
    * (doc, gram) rows only, which contamination keeps rare. Both sides
    * filter the docs BEFORE exploding (never explode-then-discard — the
    * bench side explodes ~1/97th of the corpus, pinned by a plan spec).
    * The explicit broadcast hint is correct only while the benchmark
    * side is eval-suite-sized; a genuinely huge benchmark must drop the
    * hint so Spark can fall back to a shuffled hash join on gram (the
    * hint overrides size estimates and would OOM instead of degrade).
    */
  /** The d08 core over any (doc_id, text) frame — `ScalingProbe
    * longdocs` feeds it 500-token documents; its 10x-corpus row is
    * NOTES.md "Dedup scaling".
    */
  private[graft] def decontaminate(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // graft_ngrams_distinct: one byte pass per row (r16, NgramKernelSpec)
    def explGrams(df: DataFrame): DataFrame =
      df.select(col("doc_id"),
        explode(expr("graft_ngrams_distinct(text, 4)")).as("gram"))
    val bench = explGrams(docs.filter(col("doc_id") % 97 === 0))
      .select(col("gram"), col("doc_id").as("bench_id"))
    explGrams(docs.filter(col("doc_id") % 97 =!= 0))
      .join(broadcast(bench), Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gram")).as("n_shared_ngrams"),
        min(col("bench_id")).as("first_bench_id"))
      .orderBy("doc_id")
  }

  def d08Decontamination(spark: SparkSession, dir: String): DataFrame =
    decontaminate(Tables.documents(spark, dir).select("doc_id", "text"))

  /** d30: per-document duplicated-gram share — the corpus-wide
    * "commonness" signal soft-dedup weighting consumes (RefinedWeb /
    * FineWeb-style pipelines report a document's duplicate-n-gram
    * fraction; soft-dedup recipes DOWN-WEIGHT common documents instead
    * of dropping them, preserving tail knowledge hard dedup destroys).
    * Distinct from the whole repertoire around it: t06 measures
    * repetition WITHIN one document, d08/d10 overlap against a tiny
    * benchmark suite, d28 forecasts corpus-LEVEL savings — this is the
    * per-doc cross-corpus readout. Per document: its distinct word
    * 4-grams (d08's convention), how many occur in >= 2 documents
    * (grams are distinct per doc, so gram df = containing-doc count),
    * the one-division dup_share, and the exact-integer majority flag
    * 2*n_dup >= n_grams. n_grams >= 1 by the greatest(..., 1) clamp —
    * the division is never 0/0.
    *
    * 100 TB posture: one explode + ONE gram-keyed hash agg (map-side
    * combinable). r15 restructure (guide §2.4, the t16 trick): the old
    * plan joined the corpus-sized posting back onto the gram-df table
    * (a second corpus-sized shuffle) just to count df>=2 grams per doc
    * — but grams are distinct per doc, so a df=1 gram has exactly ONE
    * owner (its min doc_id, available in the SAME agg), and
    * n_dup_grams = n_grams - n_uniq with n_grams = size(gs) straight
    * off the per-doc array. The df frame stays gram-vocabulary-sized;
    * never all-pairs; the join-back is gone and the cache holds the
    * pre-explode (doc_id, gs) arrays (one row per doc) read by both
    * the explode and the n_grams projection.
    */
  def d30DupGramShare(spark: SparkSession, dir: String): DataFrame =
    dupGramShare(Tables.documents(spark, dir).select("doc_id", "text"))

  /** d30's body over any (doc_id, text) frame (spec-shared). */
  private[graft] def dupGramShare(docs0: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs0.sparkSession)
    // graft_ngrams_distinct: one byte pass per row (r16, NgramKernelSpec)
    val docs = graft.Caches.cache(docs0
      .select(col("doc_id"), expr("graft_ngrams_distinct(text, 4)").as("gs")))
    // df=1 grams keyed by their unique owner; n_dup = n_grams - n_uniq
    val uniq = docs.select(col("doc_id"), explode(col("gs")).as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("owner"))
      .filter(col("df") === 1)
      .groupBy(col("owner").as("doc_id")).agg(count(lit(1)).as("n_uniq"))
    docs.select(col("doc_id"), size(col("gs")).cast("long").as("n_grams"))
      .join(uniq, Seq("doc_id"), "left")
      .withColumn("n_dup_grams",
        col("n_grams") - coalesce(col("n_uniq"), lit(0L)))
      .select(col("doc_id"), col("n_grams"), col("n_dup_grams"),
        (col("n_dup_grams").cast("double") / col("n_grams"))
          .as("dup_share"),
        (col("n_dup_grams") * 2 >= col("n_grams")).cast("long")
          .as("mostly_dup"))
      .orderBy("doc_id")
  }

  /** Incremental (continual-ingest) dedup: an incoming batch
    * (doc_id >= 400 stands in for today's crawl) dedups against BOTH the
    * existing corpus and itself in one pass — the shape every daily
    * ingest runs. Incoming rows are dropped if their content hash
    * already exists in the corpus (anti join on the 32-char hash) or if
    * a smaller-id incoming row carries the same text (keep-first within
    * batch, W1 shape). At 100 TB the corpus side is a pre-hashed,
    * bucketed table of (hash) keys — the anti join co-locates on hash
    * and never touches corpus text.
    */
  /** The d09 core over any (doc_id, text_hash) split — exposed so the
    * spec can plant real corpus-hit and intra-batch duplicates (the
    * driver fixtures contain almost none, so the oracle alone would not
    * catch a broken join type).
    */
  private[graft] def incrementalDedup(
      existing: DataFrame, incoming: DataFrame): DataFrame =
    incoming
      .join(existing.select("text_hash"), Seq("text_hash"), "left_anti")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("text_hash")).orderBy(col("doc_id"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("text_hash"))
      .orderBy("doc_id")

  def d09IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("text_hash"))
    incrementalDedup(
      docs.filter(col("doc_id") < 400),
      docs.filter(col("doc_id") >= 400))
  }

  /** Bloom-prefiltered decontamination (5-gram overlap vs a doc_id % 89
    * eval suite): build a Bloom filter over the benchmark grams with
    * Spark's own BloomFilterAggregate (the runtime-filter sketch), then
    * drop non-matching corpus grams BEFORE the verify join. No false
    * negatives, and the exact join removes the bloom's false positives,
    * so the result is bit-identical to the plain exact SQL — the oracle
    * states exact semantics and the bloom is purely a plan property
    * (pinned by spec).
    *
    * Why this exists next to d08: d08's broadcast-the-bench-side join is
    * right while the eval suite fits in executor memory as a HASHED JOIN
    * TABLE. A few-hundred-MB gram set stops broadcasting long before its
    * ~9-bits-per-item bloom (a few MB) does; shipping the bloom keeps the
    * corpus-side shuffle at (contamination + fpp) x corpus grams instead
    * of ALL corpus grams. That is exactly Spark's injected runtime
    * bloom-filter join, made explicit so it applies to a driver-built
    * sketch of ANY small side.
    */
  private[graft] def bloomDecontaminate(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // graft_ngrams_distinct: one byte pass per row (r16, NgramKernelSpec)
    def explGrams(df: DataFrame): DataFrame =
      df.select(col("doc_id"),
        explode(expr("graft_ngrams_distinct(text, 5)")).as("gram"))
    val bench = explGrams(docs.filter(col("doc_id") % 89 === 0))
      .select(col("gram"), col("doc_id").as("bench_id"))
    // One tiny job over the eval suite builds the sketch (the same
    // build-then-reuse shape as Spark's InjectRuntimeFilter subquery).
    val bloom = bench
      .agg(expr("graft_bloom_agg(xxhash64(gram), CAST(100000 AS BIGINT))"))
      .head().getAs[Array[Byte]](0)
    val training = explGrams(docs.filter(col("doc_id") % 89 =!= 0))
    // Empty eval suite -> null sketch -> nothing can be contaminated.
    val prefiltered =
      if (bloom == null) training.filter(lit(false))
      else training.filter(call_function(
        "graft_bloom_contains", lit(bloom), xxhash64(col("gram"))))
    prefiltered
      .join(broadcast(bench), Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gram")).as("n_shared_ngrams"),
        min(col("bench_id")).as("first_bench_id"))
      .orderBy("doc_id")
  }

  def d10BloomDecontamination(spark: SparkSession, dir: String): DataFrame =
    bloomDecontaminate(Tables.documents(spark, dir).select("doc_id", "text"))

  /** Chunk-level corpus dedup with document reconstruction (the CCNet
    * line-dedup recipe: hash every LINE across the corpus, keep only
    * first occurrences, write documents back with duplicate lines
    * removed — here "line" = 16-word non-overlapping chunk, since the
    * fixture's documents are single-line word streams). Unlike
    * d01/d11, which keep or drop WHOLE documents, this removes the
    * boilerplate duplicated INSIDE surviving documents — headers,
    * nav bars, license blocks — which whole-doc hashing can never see.
    *
    * Plan at scale: posexplode to (doc, pos, chunk) — per-row, no
    * shuffle; ONE shuffle on the chunk text for the first-occurrence
    * window (row_number over chunk, keep rank 1 with the global
    * (doc_id, pos) total order); one shuffle back on doc_id to
    * reassemble (collect_list of the kept (pos, chunk) structs,
    * array_sort, join). Chunk groups are bounded by the corpus'
    * duplication factor; a pathological chunk ("click here") makes one
    * hot group whose row_number is still a single sorted scan, not a
    * set. Documents whose every chunk was seen earlier reconstruct to
    * the empty string and stay in the output — dropping them is d11's
    * whole-doc job, not this one.
    */
  def d12ChunkDedup(spark: SparkSession, dir: String): DataFrame = {
    // projected-toks form (TextOps.t06): split once per row
    val chunks = "transform(sequence(0, CAST(ceil(size(toks) / 16.0) AS INT) - 1)," +
      " i -> array_join(slice(toks, i * 16 + 1, 16), ' '))"
    val w = Window.partitionBy(col("chunk")).orderBy(col("doc_id"), col("pos"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), posexplode(expr(chunks)).as(Seq("pos", "chunk")))
      .withColumn("keep",
        when(row_number().over(w) === 1, 1L).otherwise(0L))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("keep")).as("n_kept"),
        array_join(
          expr("transform(array_sort(collect_list(" +
            "CASE WHEN keep = 1 THEN struct(pos, chunk) END)), s -> s.chunk)"),
          " ").as("new_text"))
      .orderBy("doc_id")
  }

  /** Exact-substring duplicate pairs (the "Deduplicating Training Data
    * Makes Language Models Better" shape, word-level): two documents are
    * substring-duplicates when they share at least one exact run of 8
    * consecutive words. Where d05 scores gram-SET overlap (Jaccard) on
    * blocked candidates, this detects verbatim shared passages — the
    * lifted-paragraph / mirrored-page signal set-similarity dilutes away
    * on long documents.
    *
    * Plan at scale: grams explode per-row into ONE gram-keyed
    * aggregation that collects each gram's sorted holder list; pair
    * generation is STAR-SHAPED — every doc pairs only with the minimum
    * doc_id holding that gram, i.e. the holder array's head — so a
    * gram shared by k docs emits k-1 rows, never C(k,2): boilerplate
    * grams ("all rights reserved ...") stay linear instead of
    * quadratic, and the holder array is k longs, linear memory. The
    * pair agg is one more shuffle on (doc_a, doc_b), output O(true dup
    * pairs). r15 restructure (guide §2.4): the previous form computed
    * rep = per-gram min separately and sort-merge-joined the exploded
    * posting back against it — two corpus-sized sort+merge sides and a
    * cache to feed them; exploding the tail of the collected holder
    * array against its head emits the identical (doc_a, doc_b, gram)
    * multiset with no join and no cache (the posting is scanned once).
    */
  def d13SubstringDedup(spark: SparkSession, dir: String): DataFrame =
    substringPairs(Tables.documents(spark, dir))

  /** The d13 core over any (doc_id, text) frame — exposed so the spec
    * can plant gram-sharing families and pin the star-shaped pair
    * contract (k sharers -> exactly k-1 pairs, all anchored at the
    * minimum doc_id).
    */
  private[graft] def substringPairs(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // graft_ngrams_distinct fuses the old split + transform/slice/
    // array_join + array_distinct chain into one byte pass per row
    // (r16; NgramKernelSpec pins bit-equality — under the >= 8-token
    // filter the kernel's clamped count equals the old size(toks)-7).
    val g = docs
      .filter(size(split(col("text"), " ")) >= 8)
      .select(col("doc_id"),
        explode(expr("graft_ngrams_distinct(text, 8)")).as("gram"))
    // (doc_id, gram) rows are already distinct (array_distinct before
    // the explode), so each holder appears once per gram and the tail
    // explode emits unique (doc_a, doc_b, gram) rows — a plain count
    // keeps the pair agg a hash agg instead of the sort-based
    // distinct-aggregate machinery. The oracle states COUNT(DISTINCT)
    // for the set semantics; the values are identical.
    val pairs = g.groupBy("gram")
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(col("gram"), col("ds").getItem(0).as("doc_a"),
        explode(expr("slice(ds, 2, size(ds) - 1)")).as("doc_b"))
    pairs
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(col("gram")).as("n_shared_grams"),
        min(col("gram")).as("sample_gram"))
      .orderBy("doc_a", "doc_b")
  }

  /** Corpus-diff report (the "what did today's crawl actually add"
    * governance audit): every incoming doc (doc_id >= 400, the d09
    * convention) is classified against the existing corpus as
    * `exact_dup` (content hash already present), `near_dup` (a verified
    * J >= 0.8 pair-graph edge into the corpus side), or `novel`, with
    * the smallest matching corpus partner id. Composes d01/d09's hash
    * discipline with the materialized d03 pair graph — the summary a
    * data team reads before deciding whether a crawl batch is worth
    * keeping.
    *
    * Plan at scale: one hash shuffle on the 32-char content hash
    * (corpus side is the same hash-key-only projection d09 anti-joins);
    * the near channel SCANS the materialized pair graph (O(near-dup
    * pairs), no recompute) and aggregates per incoming doc; two
    * broadcastable left joins onto the incoming batch (both partner
    * frames are bounded by the batch's dup population).
    */
  def d16CorpusDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("text_hash"))
    val near = pairGraph(spark, dir)
      .filter(col("doc_a") < 400 && col("doc_b") >= 400)
      .groupBy(col("doc_b").as("doc_id"))
      .agg(min(col("doc_a")).as("near_partner"))
    corpusDiff(docs.filter(col("doc_id") < 400),
      docs.filter(col("doc_id") >= 400), near)
  }

  /** The d16 core over any (doc_id, text_hash) split plus a
    * (doc_id, near_partner) near-dup channel — exposed so the spec can
    * plant real exact dups (the fixtures contain none, so the oracle
    * alone would not catch a broken hash join).
    */
  private[graft] def corpusDiff(
      corpus: DataFrame, incoming: DataFrame, near: DataFrame): DataFrame = {
    val exact = incoming
      .join(corpus.select(col("text_hash"), col("doc_id").as("c_id")),
        Seq("text_hash"))
      .groupBy(col("doc_id")).agg(min(col("c_id")).as("exact_partner"))
    incoming
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_partner").isNotNull, "exact_dup")
          .when(col("near_partner").isNotNull, "near_dup")
          .otherwise("novel").as("status"),
        coalesce(col("exact_partner"), col("near_partner")).as("partner_id"))
      .orderBy("doc_id")
  }

  /** Per-source dedup-rate report — the governance table a data team
    * reviews before a training run: how much of each source survives
    * the dedup pipeline, split by REMOVAL CAUSE. A doc is
    * exact-removed if a smaller doc_id carries identical text (d01's
    * keeper rule), else near-removed if its CONVERGED family label is
    * a smaller id, else kept. Labels come from the fixpoint
    * propagation (VERDICT r12: the 4-round unroll under-counts
    * near-removals on a diameter->4 edit chain whose component minimum
    * sits more than 4 hops away — exactly the number a team signs off
    * on; the spec plants that chain and pins the divergence). Causes
    * are disjoint by that order, so the three counts sum to n_docs — a
    * property the spec pins. Rates are one exact integer division
    * each.
    *
    * 100 TB posture: one hash shuffle on md5 (exact channel, hash-only
    * projection), the near channel scans the materialized pair graph's
    * labels (near-dup-population-sized), and the per-source rollup is
    * a hash agg on the source key.
    */
  /** Broder CONTAINMENT detection: asymmetric near-dup pairs where one
    * document's token-4-gram set largely sits inside the other's —
    * c(A,B) = |G_A ∩ G_B| / |G_A|. Jaccard-gated dedup (d03/d05) is
    * blind to a short doc quoted whole inside a long one (J stays low
    * while containment hits 1.0); this operator is the audit that
    * catches quote-inclusion and boilerplate-wrapped copies.
    *
    * Candidates come from a posting join on the 4-gram (the s16
    * formulation), NOT from MinHash bands: LSH banding targets Jaccard
    * and misses exactly the asymmetric pairs this query exists to find.
    * Grams with document frequency > MaxDf (50) are dropped from the
    * join AND from the shared count on both engines — df-capped
    * boilerplate is not containment evidence, and the cap bounds join
    * work at sum(df^2) over surviving grams (the s15/s16 scale lever).
    * Denominators stay the TRUE distinct-gram counts. Pairs with
    * max(c_a, c_b) = shared/min(n_a, n_b) >= 0.6 are kept; ratios are
    * single IEEE divisions of exact integers.
    */
  // r15 note: a hash-keyed pair join (+ exact sorted-merge recount of
  // survivors) was tried here and measured SLOWER on a same-host-phase
  // solo A/B (1.96 s vs 1.72 s min-of-5 at sf0.1): the extra recount
  // stages cost more than the 8-byte join keys save at bench scale, and
  // the string df agg dominates either form. Reverted per guide s1.1
  // (empirical over ideal); the grouped-array pair generation was also
  // tried earlier and measured slower (see scaladoc below).
  def d19Containment(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val MaxDf = 50
    // (doc_id, gram) distinct pairs; cached — sizes, df filter, and both
    // posting sides reuse it. graft_ngrams_distinct fuses the old
    // split + transform/slice/array_join + array_distinct chain into
    // one byte pass per row (r16; NgramKernelSpec pins bit-equality).
    val g = graft.Caches.cache(Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(expr("graft_ngrams_distinct(text, 4)")).as("gram")))
    val sizes = g.groupBy("doc_id").agg(count(lit(1)).as("n_g"))
    val hot = g.groupBy("gram").agg(count(lit(1)).as("df"))
      .filter(col("df") > MaxDf).select("gram")
    // left anti vs the provably-small hot-gram side (s15 discipline).
    // r15 note: the s16/d24/w47 collect-based pair generation was
    // TRIED here and measured SLOWER (bench warm 1.46 s -> 1.75 s on a
    // quiet host, reproducible), so the cached self-join form stays
    // (guide §1.1: empirical beats the ideal plan when they disagree).
    val posting = graft.Caches.cache(g.join(hot, Seq("gram"), "left_anti"))
    val shared = posting.select(col("doc_id").as("doc_a"), col("gram"))
      .join(posting.select(col("doc_id").as("doc_b"), col("gram")), Seq("gram"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
    shared
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_g").as("n_a")),
        Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_g").as("n_b")),
        Seq("doc_b"))
      .filter(col("n_shared").cast("double") /
        least(col("n_a"), col("n_b")) >= 0.6)
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        col("n_a"), col("n_b"),
        (col("n_shared").cast("double") / col("n_a")).as("containment_a"),
        (col("n_shared").cast("double") / col("n_b")).as("containment_b"))
      .orderBy("doc_a", "doc_b")
  }

  def d18DedupReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
    val exactKeeper = docs.groupBy("h").agg(min(col("doc_id")).as("keeper"))
    val near = convergedComponents(spark, dir)
      .filter(col("component") < col("doc_id"))
      .select(col("doc_id"), lit(1L).as("is_near"))
    docs.join(exactKeeper, Seq("h"))
      .join(near, Seq("doc_id"), "left")
      .select(col("source"),
        when(col("doc_id") > col("keeper"), 1L).otherwise(0L).as("ex"),
        when(col("doc_id") === col("keeper") && col("is_near").isNotNull, 1L)
          .otherwise(0L).as("nr"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ex")).as("n_exact_removed"),
        sum(col("nr")).as("n_near_removed"))
      .select(col("source"), col("n_docs"),
        col("n_exact_removed"), col("n_near_removed"),
        (col("n_docs") - col("n_exact_removed") - col("n_near_removed"))
          .as("n_kept"),
        ((col("n_exact_removed") + col("n_near_removed")).cast("double") /
          col("n_docs")).as("removal_rate"))
      .orderBy("source")
  }

  /** Distinct token-3-gram sets per doc plus their (long) cardinality —
    * the element universe d20 joins over, shared with its spec's
    * brute-force recount.
    */
  private[graft] def gramSets(spark: SparkSession, dir: String): DataFrame =
    gramSetsOf(Tables.documents(spark, dir))

  /** gramSets over any (doc_id, text) frame (its 10x-corpus row:
    * NOTES.md "Prefix-join scaling").
    */
  private[graft] def gramSetsOf(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // graft_ngrams_distinct fuses the old split + transform/slice/
    // array_join + array_distinct chain into one byte pass per row
    // (r16; NgramKernelSpec pins bit-equality, element order included)
    graft.Caches.cache(docs
      .select(col("doc_id"), expr("graft_ngrams_distinct(text, 3)").as("ng"))
      .select(col("doc_id"), col("ng"), size(col("ng")).cast("long").as("n_g")))
  }

  /** LOSSLESS prefix-filter exact-similarity join (the AllPairs/PPJoin
    * family — Bayardo et al. WWW'07, Xiao et al. ICDE'08): the exact set
    * of document pairs with token-3-gram Jaccard >= 0.6, with no
    * all-pairs stage and none of LSH's false-negative probability — the
    * exact-result scale path next to d03's banded approximation (d03
    * misses a true pair w.p. (1-J^3)^5; this operator cannot).
    *
    * Grams order by ascending global document frequency, ties
    * lexicographic — a total order identical in both engines. A doc's
    * PREFIX is its first n - ceil(0.6*n) + 1 grams in that order
    * (integer-exact: n - (3*n+4) div 5 + 1). Prefix-filter principle: if
    * J(A,B) >= t then |A∩B| >= ceil(t*|A|) and >= ceil(t*|B|); if the
    * prefixes were disjoint, every common gram would exceed the
    * earlier-ending prefix's last gram, capping the overlap at that
    * side's ceil(t*|X|) - 1 — contradiction, so every qualifying pair
    * shares a prefix gram (property-tested on random mutated corpora).
    * Candidates then pass PPJoin's length filter (5*min >= 3*max, a
    * J >= 0.6 necessity) before the exact verify on full gram sets. The
    * gate is the integer cross-multiplication 5*common >= 3*union;
    * jaccard itself is the one IEEE division both engines share.
    *
    * 100 TB posture: prefixes are df-ASCENDING heads, so candidate work
    * concentrates on each doc's rarest grams and hot boilerplate grams
    * never generate candidates — join work is sum(prefix-df^2), far
    * below s16's full posting join; df ranking is one hash agg + one
    * per-doc window; the verify touches candidate pairs only. The
    * oracle states the declarative all-pairs form.
    */
  def d20PrefixJoin(spark: SparkSession, dir: String): DataFrame =
    prefixJoinPairs(gramSets(spark, dir))

  /** d20's body over any cached gramSets frame (its 10x-corpus row:
    * NOTES.md "Prefix-join scaling").
    */
  private[graft] def prefixJoinPairs(g: DataFrame): DataFrame =
    prefixJoinPairsAt(g, 3, 5).orderBy("doc_a", "doc_b")

  /** The prefix-filter join at ANY rational Jaccard threshold num/den
    * (unordered output — callers sort or aggregate): d20 runs it at
    * 3/5, d23's calibration sweep at 1/2.
    */
  private[graft] def prefixJoinPairsAt(
      g: DataFrame, num: Int, den: Int): DataFrame = {
    graft.functions.GraftFunctions.register(g.sparkSession)
    // The candidate machinery runs on xxhash64(gram) LONGS, never the
    // gram strings (r15, guide §2.3 "narrower types"/"shuffle keys
    // instead of payloads"): the posting-sized df agg + join-back +
    // per-doc window and the prefix self-join all shuffle 8-byte keys
    // instead of ~20-char grams. Losslessness is order-independent:
    // the prefix-filter guarantee holds for ANY consistent global gram
    // order — here (df_by_hash, hash), a total preorder whose
    // collision classes behave like one merged gram: for a qualifying
    // pair, the per-doc minimal common-class rows sit in both prefixes
    // (or the counting bound kills J >= t), and the hash join matches
    // them even when the class members differ textually. A collision
    // can only ADD candidates (false matches verify away below); it
    // can never drop one, because dropping needs a common gram ranked
    // outside a prefix, which the per-doc counting argument already
    // forbids. The exact verify makes the OUTPUT identical to the
    // all-pairs oracle regardless of candidate order.
    val posting = g.select(col("doc_id"), col("n_g"),
        explode(col("ng")).as("gram"))
      .select(col("doc_id"), col("n_g"), xxhash64(col("gram")).as("gh"))
    val dfreq = posting.groupBy("gh").agg(count(lit(1)).as("df"))
    val wOrd = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("gh"))
    // prefix length n - ceil(t*n) + 1; ceil(num*n/den) integer-exact
    // cached: both sides of the candidate self-join read this frame —
    // uncached, the posting+df-join+window subtree executes twice
    val prefix = graft.Caches.cache(posting.join(dfreq, Seq("gh"))
      .withColumn("rnk", row_number().over(wOrd))
      .filter(col("rnk") <=
        col("n_g") - expr(s"($num*n_g+${den - 1}) div $den") + 1)
      .select(col("doc_id"), col("gh"), col("rnk"), col("n_g")))
    // PPJoin's positional + length filters run at the MATCH level,
    // before the arrays ever ship. Positional: at the pair's matched
    // minimal common rank pair every common gram sits at rank >= rnk_a
    // in A and >= rnk_b in B, so overlap <= min(n_a-rnk_a, n_b-rnk_b)
    // + 1; a J >= t pair needs overlap >= ceil(t/(1+t)*(n_a+n_b)) =
    // ceil(num*(n_a+n_b)/(num+den)). Keeping pairs where ANY match
    // passes is lossless (the per-doc-minimal common match passes for
    // true pairs); measured at sf0.1/t=0.6 it cuts candidates
    // 299k -> 69k. Length: J >= t forces den*min >= num*max. All
    // exact-integer cross-multiplications.
    val cand = prefix.select(col("doc_id").as("doc_a"), col("gh"),
        col("rnk").as("rnk_a"), col("n_g").as("n_a"))
      .join(prefix.select(col("doc_id").as("doc_b"), col("gh"),
        col("rnk").as("rnk_b"), col("n_g").as("n_b")), Seq("gh"))
      .filter(col("doc_a") < col("doc_b") &&
        // ubound >= ceil(num*(na+nb)/(num+den)) <=>
        //   (num+den)*ubound >= num*(na+nb)
        (least(col("n_a") - col("rnk_a"), col("n_b") - col("rnk_b")) + 1) *
          (num + den) >= (col("n_a") + col("n_b")) * num &&
        least(col("n_a"), col("n_b")) * den >=
          greatest(col("n_a"), col("n_b")) * num)
      .select("doc_a", "doc_b").distinct()
    // exact verify on SORTED gram arrays: graft_sorted_common is one
    // allocation-free linear merge per pair, vs array_intersect's
    // per-pair hash set build over ~n_g strings (r15 per-task-work
    // tier; values identical — both count the distinct intersection)
    val gs = g.select(col("doc_id"), sort_array(col("ng")).as("ngs"),
      col("n_g"))
    cand
      .join(gs.select(col("doc_id").as("doc_a"), col("ngs").as("ng_a"),
        col("n_g").as("n_a")), Seq("doc_a"))
      .join(gs.select(col("doc_id").as("doc_b"), col("ngs").as("ng_b"),
        col("n_g").as("n_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("graft_sorted_common(ng_a, ng_b)").as("n_common"),
        col("n_a"), col("n_b"))
      .filter(col("n_common") * den >=
        (col("n_a") + col("n_b") - col("n_common")) * num)
      .withColumn("jaccard", col("n_common").cast("double") /
        (col("n_a") + col("n_b") - col("n_common")))
      .select("doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard")
  }

  /** Winnowing fingerprint index (Schleimer/Wilkerson/Aiken, SIGMOD'03
    * — the MOSS algorithm): per document, slide a window of W=4
    * consecutive 8-char-shingle hashes and select each window's
    * minimum; the distinct selected (position, hash) pairs are the
    * document's fingerprints. Guarantees (both spec-pinned): any shared
    * substring of length >= W + 8 - 1 = 11 chars produces a shared
    * fingerprint VALUE (the match guarantee — no LSH-style false-negative
    * probability for long matches), and consecutive selected positions
    * are at most W apart (the density guarantee — coverage never has
    * holes, unlike global-min sampling like t04's). Ties inside a
    * window break to the smallest position via the comparable string
    * lpad(hash,10,'0') || '-' || lpad(pos,8,'0'): string min == (hash,
    * pos) lexicographic numeric min in BOTH engines, so the selection
    * is a plain window MIN — no argmin construct needed anywhere.
    * Only FULL windows select (pos <= m - W + 1; short docs keep their
    * single clamped window), identically on both engines.
    *
    * This is the index-BUILD half of fingerprint dedup: consumers join
    * the index on fp exactly like d03's band table (d12/d13 are the
    * chunk- and substring-level consumers of the same idea). Output
    * stays per-doc — on this deliberately tiny-vocabulary corpus the
    * min-selection concentrates on globally-small hashes, so a pair
    * join here would measure vocabulary artifacts, not the algorithm.
    *
    * 100 TB posture: zero joins and zero corpus-sized shuffles — the
    * whole hash-window-select-distinct chain is ONE codegen'd linear
    * pass per doc (graft_winnow: a monotonic-deque window minimum over
    * the in-row hash stream; the gram stream never leaves its row), so
    * only the winnowed ~2/(W+1) fraction is ever exploded and the
    * single exchange is the output orderBy. r15 history: the r12 form
    * posexploded every gram position through a doc-keyed window sort +
    * global distinct; the first r15 restructure moved selection into
    * array land (array_min over slice(vs, i, W) + array_distinct) but
    * still allocated a padded tie-break string per position and a
    * W-slice per window — the fused kernel computes the identical
    * (hash, pos)-lexicographic clamped-window minima (slice truncates
    * at the array end exactly like this kernel's end bound; short docs
    * keep their single clamped window) with zero per-position
    * allocations. WinnowKernelSpec pins kernel == declarative chain;
    * WinnowingSpec pins the match/density guarantees.
    */
  def d21Winnowing(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val enc = graft.functions.GraftHash.WinnowPosEnc
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(expr("graft_winnow(text, 8, 4)")).as("sel"))
      .select(col("doc_id"),
        pmod(col("sel"), lit(enc)).as("pos"),
        expr(s"sel div ${enc}L").as("fp"))
      .orderBy("doc_id", "pos")
  }

  /** Per-family SHAPE report over the near-dup graph: for every
    * converged component (d17's star contraction, so families of ANY
    * diameter), its member count, internal edge count, edge density
    * 2m/(n(n-1)) and a clique flag. The family-granularity complement
    * of g01's per-node clustering coefficient: a template farm is a
    * family with density -> 1 (every member corroborates every other),
    * an incremental-edit chain has density -> 2/n — the difference
    * decides whether d15's keep-the-best policy (one keeper per clique)
    * or a chunk-level pass (chains share spans, not whole texts) is the
    * right dedup action.
    *
    * 100 TB posture: labels come from the O(log n)-round contraction;
    * both aggregates and the edge->label join are hash-keyed on the
    * component/doc id over near-dup-population-sized frames — the
    * corpus is never touched. Density is the one IEEE division of
    * exact integers.
    */
  def d22FamilyShape(spark: SparkSession, dir: String): DataFrame =
    familyShapeOf(graft.Caches.cache(starComponentLabels(spark, dir)),
      pairGraph(spark, dir).select("doc_a", "doc_b"))

  /** d22's body over any (doc_id, component) labeling and canonical
    * edge frame (spec-shared).
    */
  private[graft] def familyShapeOf(
      labels: DataFrame, pairs: DataFrame): DataFrame = {
    val nodes = labels.groupBy("component")
      .agg(count(lit(1)).as("n_members"))
    val edges = pairs
      .join(labels.select(col("doc_id").as("doc_a"),
        col("component")), Seq("doc_a"))
      .groupBy("component").agg(count(lit(1)).as("n_edges"))
    nodes.join(edges, Seq("component"))
      .select(col("component"), col("n_members"), col("n_edges"),
        when(col("n_edges") * 2 === col("n_members") * (col("n_members") - 1),
          1L).otherwise(0L).as("is_clique"),
        (col("n_edges").cast("double") * 2 /
          (col("n_members") * (col("n_members") - 1))).as("density"))
      .orderBy("component")
  }

  /** Similarity-threshold calibration sweep: the exact pair and
    * involved-document counts at J >= 0.5/0.6/0.7/0.8/0.9 over the
    * token-3-gram universe — the table a data team reads before fixing
    * a dedup gate (too low over-merges distinct docs into families,
    * too high leaves twins unpaired; the knee of this curve IS the
    * decision). One lossless prefix-join pass at the LOOSEST threshold
    * (d20's machinery at 1/2) yields every pair with its exact
    * jaccard; each threshold then re-gates those pairs with the
    * integer cross-multiplication 100*common >= thr*union — no float
    * compare, zero rows kept for thresholds nothing reaches (the
    * calibration table must SHOW the zeros).
    *
    * 100 TB posture: the sweep costs ONE prefix-join pass (candidates
    * bounded by the 0.5 prefix filter), then threshold re-gating and
    * distinct-doc counts over the near-dup-pair-sized result — the
    * five-runs-of-d20 form rescans the corpus five times.
    */
  def d23ThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    val pairs = graft.Caches.cache(
      prefixJoinPairsAt(gramSets(spark, dir), 1, 2)
        .select(col("doc_a"), col("doc_b"), col("n_common"),
          (col("n_a") + col("n_b") - col("n_common")).as("n_union")))
    val thresholds = Seq(50L, 60L, 70L, 80L, 90L).toDF("threshold")
    val gated = pairs.crossJoin(broadcast(thresholds))
      .filter(col("n_common") * 100 >= col("threshold") * col("n_union"))
    val nPairs = gated.groupBy("threshold").agg(count(lit(1)).as("n_pairs"))
    val nDocs = gated
      .select(col("threshold"), explode(array(col("doc_a"), col("doc_b")))
        .as("doc_id"))
      .distinct()
      .groupBy("threshold").agg(count(lit(1)).as("n_docs"))
    thresholds
      .join(nPairs, Seq("threshold"), "left")
      .join(nDocs, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
      .orderBy("threshold")
  }

  /** Source-pair overlap matrix: for every pair of sources, the
    * Jaccard overlap of their DISTINCT token-4-gram vocabularies — the
    * corpus-composition heatmap behind crawl-source consolidation (two
    * feeds with high overlap are re-crawling each other's content;
    * paying for both buys one corpus). Doc-level dedup (d01-d23) asks
    * "which documents repeat"; this asks "which SOURCES repeat each
    * other" — the procurement-level question.
    *
    * Determinism: set sizes and intersections are exact integers off
    * distinct (source, gram) pairs; jaccard is the one shared IEEE
    * division; source_a < source_b canonicalizes the pair.
    *
    * 100 TB posture: the corpus collapses to DISTINCT (source, gram)
    * rows FIRST (one hash agg — the only corpus-sized stage); pairs
    * then explode from ONE gram-keyed collect of each gram's source
    * list, whose fan-out is bounded by the SOURCE count (df <=
    * |sources|, not document df) — pair work is O(grams x sources^2)
    * worst case with tiny constants, the vocabulary frame shuffles
    * once, and the output is |sources|^2 rows.
    */
  def d24SourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // graft_ngrams_distinct: one byte pass per row (r16, NgramKernelSpec)
    val sg = graft.Caches.cache(Tables.documents(spark, dir)
      .select(col("source"),
        explode(expr("graft_ngrams_distinct(text, 4)")).as("gram"))
      .distinct())
    val sizes = sg.groupBy("source").agg(count(lit(1)).as("n_g"))
    // r15 restructure (guide §2.4, the s16/w47 pattern): the shared-gram
    // count used to be a self-join of sg on the gram — two corpus-
    // vocabulary-sized shuffles (or a full-frame broadcast build). One
    // gram-keyed collect of the ≤|sources|-entry source list emits the
    // identical canonical pairs from the sorted array: ONE shuffle of
    // sg, per-gram memory bounded by the source count.
    val shared = sg
      .groupBy("gram").agg(sort_array(collect_set(col("source"))).as("ss"))
      .select(explode(expr(
        "flatten(transform(ss, (a, i) -> " +
          "transform(slice(ss, i + 2, size(ss)), " +
          "b -> struct(a AS source_a, b AS source_b))))")).as("p"))
      .select(col("p.source_a").as("source_a"),
        col("p.source_b").as("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_shared"))
    shared
      .join(sizes.select(col("source").as("source_a"), col("n_g").as("n_a")),
        Seq("source_a"))
      .join(sizes.select(col("source").as("source_b"), col("n_g").as("n_b")),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("n_a"), col("n_b"),
        (col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared"))).as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** Near-dup family SIZE CENSUS: the histogram a dedup run publishes
    * — for every family size, how many families and how many documents
    * live at that size, singletons included (docs in no near-dup pair
    * are size-1 families). The census is how duplication structure is
    * actually read at corpus scale: a fat tail of large families means
    * template farms (d22's per-family density tells WHICH), a dominant
    * size-2 bucket means pairwise near-misses, and n_docs sums back to
    * the corpus — a built-in completeness check the spec pins.
    *
    * 100 TB posture: labels come from the materialized pair graph
    * (near-dup-population-sized); the census is two hash aggs over
    * that population plus ONE anti-join of the corpus id column
    * against the labeled ids (broadcast — labels are tiny relative to
    * the corpus) collapsed to a 1-row count. No corpus-sized shuffle,
    * no cross join.
    */
  def d25FamilyCensus(spark: SparkSession, dir: String): DataFrame = {
    // CONVERGED labels (VERDICT r12): the 4-round unroll splits a
    // diameter->4 family into several labels, inflating n_families and
    // deflating the fat tail this census exists to expose; the spec
    // plants that chain and pins the converged histogram.
    val labeled = graft.Caches.cache(
      convergedComponents(spark, dir)
        .select(col("doc_id"), col("component").as("label")))
    val hist = labeled.groupBy("label")
      .agg(count(lit(1)).as("family_size"))
      .groupBy("family_size").agg(count(lit(1)).as("n_families"))
    val singletons = Tables.documents(spark, dir).select("doc_id")
      .join(labeled.select("doc_id"), Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n_families"))
      .filter(col("n_families") > 0)
      .select(lit(1L).as("family_size"), col("n_families"))
    // re-aggregate the union: converged labels can't emit a labeled
    // size-1 bucket (every labeled doc has a pair-graph partner), but
    // the merge stays total so a future label source that can is still
    // one row per size, deterministically
    hist.unionByName(singletons)
      .groupBy("family_size")
      .agg(sum(col("n_families")).as("n_families"))
      .select(col("family_size"), col("n_families"),
        (col("family_size") * col("n_families")).as("n_docs"))
      .orderBy("family_size")
  }

  /** Quality-drift report between crawl snapshots (the PSI-style
    * dataset-drift monitor, with an EXACTLY computable statistic):
    * corpus split into reference (doc_id % 10 >= 2) vs incoming
    * (% 10 < 2 — the deterministic stand-in for two snapshots), both
    * binned on the d15 integer quality score over FIXED bins
    * (quality div 100000: 11 bins on the 0..1e6 scale — fixed bins
    * need no cut training and stay identical across engines), and per
    * bin the exact counts, the two shares, and the total-variation
    * contribution |p_ref - p_inc| / 2. Unlike PSI's ln terms (libm vs
    * JVM last-ulp drift), TVD is one abs-difference of two exact-
    * integer divisions — the drift number that is reproducible
    * anywhere. A bin whose contribution dominates IS the shifted
    * quality regime.
    *
    * 100 TB posture: ONE corpus scan into a (2 x 11)-bin hash agg; the
    * 1-row split totals ride the d23 scalar broadcast; zero-filled
    * bins come from a static 11-row frame, not a window.
    */
  def d27QualityDrift(spark: SparkSession, dir: String): DataFrame = {
    val quality = "CAST(size(array_distinct(split(text, ' '))) AS BIGINT)" +
      " * 1000000 div size(split(text, ' '))"
    val binned = Tables.documents(spark, dir)
      .select(expr(s"($quality) div 100000").as("bin"),
        (col("doc_id") % 10 < 2).cast("long").as("is_inc"))
      .groupBy("bin")
      .agg(sum(lit(1L) - col("is_inc")).as("n_ref"),
        sum(col("is_inc")).as("n_inc"))
    val spine = spark.range(0, 11).select(col("id").as("bin"))
    val cells = graft.Caches.cache(spine
      .join(binned, Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_inc"), lit(0L)).as("n_inc")))
    val tot = cells.agg(sum(col("n_ref")).as("t_ref"),
      sum(col("n_inc")).as("t_inc"))
    // when-guards: an EMPTY snapshot split yields NULL shares (and a
    // NULL tvd_term), never NaN/Infinity — the never-0/0 discipline
    // (cellBalanceOf, dupBurstOf). Both engines agree either way, so
    // this is value-identical on any non-degenerate corpus.
    cells.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_ref"), col("n_inc"),
        when(col("t_ref") > 0, col("n_ref").cast("double") / col("t_ref"))
          .as("p_ref"),
        when(col("t_inc") > 0, col("n_inc").cast("double") / col("t_inc"))
          .as("p_inc"))
      .withColumn("tvd_term",
        abs(col("p_ref") - col("p_inc")) / 2.0)
      .orderBy("bin")
  }

  /** Dedup savings forecast — the headline governance number a team
    * reads BEFORE running a dedup pass: for each strategy (exact
    * md5-equal groups; CONVERGED near-dup families — VERDICT r12: the
    * 4-round unroll under-forecasts removable docs on deep edit
    * chains, and a savings forecast that understates is the one that
    * misleads), how many documents and
    * tokens beyond each group's keeper (min doc_id) would be removed,
    * and what share of the corpus that is. Near-dup families are a
    * superset of exact groups (identical text collides in every LSH
    * band), so near_dup savings >= exact savings by construction —
    * the gap is what MinHash buys over hashing. Counts are exact
    * integers; each share is one division against the 1-row corpus
    * totals. Zero rows are real (d23 discipline): a corpus with no
    * exact twins reports an honest 0-savings exact row.
    *
    * 100 TB posture: the exact side is ONE hash agg on md5 keys (text
    * itself never shuffles beyond the hash); the near-dup side reads
    * the write-once materialized pair graph and groups label-joined
    * token counts, never corpus text; totals ride the d23 1-row
    * scalar broadcast.
    */
  def d28DedupSavings(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
    val tot = toks.agg(count(lit(1)).as("n_docs"),
      sum(col("n_toks")).as("n_tokens"))
    // per-family frame -> (n_multi_families, removable docs/tokens);
    // coalesce guards the no-families case (empty agg sums are NULL)
    def savings(name: String, fams: DataFrame): DataFrame =
      fams.agg(
        coalesce(sum(when(col("n") >= 2, 1L).otherwise(0L)), lit(0L))
          .as("n_multi_families"),
        coalesce(sum(col("n") - 1), lit(0L)).as("n_removable_docs"),
        coalesce(sum(col("tt") - col("kt")), lit(0L))
          .as("n_removable_tokens"))
        .select(lit(name).as("strategy"), col("n_multi_families"),
          col("n_removable_docs"), col("n_removable_tokens"))
    // exact groups: members share text, so the keeper's token count is
    // any member's (min is exact and engine-identical)
    val exact = toks.groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("n"), sum(col("n_toks")).as("tt"),
        min(col("n_toks")).as("kt"))
    // near-dup families: keeper = min doc_id, so its token count is
    // min_by/arg_min on the unique doc_id (deterministic both engines);
    // unlabeled docs are size-1 families contributing zero savings
    val near = convergedComponents(spark, dir)
      .select(col("doc_id"), col("component").as("label"))
      .join(toks, Seq("doc_id"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"), sum(col("n_toks")).as("tt"),
        min_by(col("n_toks"), col("doc_id")).as("kt"))
    savings("exact", exact).unionByName(savings("near_dup", near))
      .crossJoin(broadcast(tot))
      .select(col("strategy"), col("n_multi_families"),
        col("n_removable_docs"), col("n_removable_tokens"),
        (col("n_removable_docs").cast("double") / col("n_docs"))
          .as("doc_share"),
        (col("n_removable_tokens").cast("double") / col("n_tokens"))
          .as("token_share"))
      .orderBy("strategy")
  }

  /** Cross-language duplicate-family audit — the governance readout
    * that catches what a per-language pipeline structurally cannot: a
    * near-dup family whose members carry DIFFERENT lang labels is
    * either boilerplate that survived translation (template farms
    * localizing the same page) or a lang-ID failure — both corrupt a
    * per-language token budget, and both are invisible to d25's
    * size-only census. Per family: size, distinct langs, the sorted
    * lang roster, a cross_lang flag, and the dominant language with
    * its share (ties break to the lexicographically smaller lang —
    * deterministic). Counts exact; the share one division.
    *
    * 100 TB posture: labels come from the converged propagation over
    * the write-once pair graph (near-dup-population-sized); the lang
    * join hits only labeled docs (broadcast against the corpus
    * column); two family-keyed hash aggs after that — no corpus-wide
    * shuffle beyond the label join.
    */
  def d29CrossLangFamilies(spark: SparkSession, dir: String): DataFrame =
    crossLangFamiliesOf(
      convergedComponents(spark, dir).select("doc_id", "component"),
      Tables.documents(spark, dir).select("doc_id", "lang"))

  /** The d29 body over any (doc_id, component) × (doc_id, lang) pair —
    * exposed so the spec can plant mixed-language families. */
  private[graft] def crossLangFamiliesOf(
      fam: DataFrame, langs: DataFrame): DataFrame = {
    val perLang = fam.join(langs, Seq("doc_id"))
      .groupBy(col("component").as("family"), col("lang"))
      .agg(count(lit(1)).as("n"))
    perLang.groupBy("family")
      .agg(
        sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_langs"),
        array_join(sort_array(collect_list(col("lang"))), ",")
          .as("langs_csv"),
        min(struct((-col("n")).as("neg"), col("lang"))).as("top"))
      .select(col("family"), col("n_docs"), col("n_langs"),
        col("langs_csv"),
        when(col("n_langs") > 1, 1L).otherwise(0L).as("cross_lang"),
        col("top.lang").as("top_lang"),
        ((-col("top.neg")).cast("double") / col("n_docs"))
          .as("top_lang_share"))
      .orderBy("family")
  }

  /** Duplication burst audit along the CRAWL AXIS — when did the
    * pipeline start re-ingesting mirrors? The corpus id range splits
    * into 10 ingestion deciles ((id − min)·10 div span — exact
    * integers off a 1-row bounds scalar; ids are ingestion-ordered by
    * the corpus contract); per decile: docs, near-dup members (either
    * end of a d03 pair), and RE-dups — the larger end of a canonical
    * pair, i.e. a doc that duplicates something already ingested. A
    * flat dup_share with a redup_share spike in late deciles is the
    * mirror-re-crawl signature (the time-axis blind spot of d18's
    * source view and d27's quality view); shares are single divisions;
    * empty deciles are real zero rows off the 0..9 spine.
    *
    * 100 TB posture: dup/redup node sets come off the write-once
    * banded pair graph (near-dup-population-sized, never corpus
    * pairs); the corpus touch is two doc_id-keyed left joins + one
    * 10-group map-side agg; bounds ride the d23 scalar broadcast
    * (BNLJ allowlisted).
    */
  def d26DupBurst(spark: SparkSession, dir: String): DataFrame =
    dupBurstOf(Tables.documents(spark, dir).select("doc_id"),
      pairGraph(spark, dir).select("doc_a", "doc_b"))

  /** d26 core over any doc_id frame + canonical (a < b) pair frame. */
  private[graft] def dupBurstOf(
      docs: DataFrame, pairs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val members = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id")))
      .distinct().withColumn("is_dup", lit(1L))
    val redups = pairs.select(col("doc_b").as("doc_id"))
      .distinct().withColumn("is_redup", lit(1L))
    val bounds = docs.agg(min(col("doc_id")).as("min_id"),
      max(col("doc_id")).as("max_id"))
    val cells = docs
      .join(members, Seq("doc_id"), "left")
      .join(redups, Seq("doc_id"), "left")
      .crossJoin(broadcast(bounds))
      .groupBy(expr("CAST(((doc_id - min_id) * 10) DIV " +
        "(max_id - min_id + 1) AS BIGINT)").as("decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dup"),
        sum(coalesce(col("is_redup"), lit(0L))).as("n_redup"))
    val spine = spark.range(10).select(col("id").as("decile"))
    spine.join(cells, Seq("decile"), "left")
      .select(col("decile"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        coalesce(col("n_redup"), lit(0L)).as("n_redup"),
        when(coalesce(col("n_docs"), lit(0L)) > 0,
          coalesce(col("n_dup"), lit(0L)).cast("double") / col("n_docs"))
          .as("dup_share"),
        when(coalesce(col("n_docs"), lit(0L)) > 0,
          coalesce(col("n_redup"), lit(0L)).cast("double") / col("n_docs"))
          .as("redup_share"))
      .orderBy("decile")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d30_dup_gram_share" -> (d30DupGramShare _),
    "d26_dup_burst" -> (d26DupBurst _),
    "d29_cross_lang_families" -> (d29CrossLangFamilies _),
    "d28_dedup_savings" -> (d28DedupSavings _),
    "d27_quality_drift" -> (d27QualityDrift _),
    "d25_family_census" -> (d25FamilyCensus _),
    "d24_source_overlap" -> (d24SourceOverlap _),
    "d23_threshold_sweep" -> (d23ThresholdSweep _),
    "d22_family_shape" -> (d22FamilyShape _),
    "d21_winnowing" -> (d21Winnowing _),
    "d20_prefix_join" -> (d20PrefixJoin _),
    "d19_containment" -> (d19Containment _),
    "d18_dedup_report" -> (d18DedupReport _),
    "d17_star_components" -> (d17StarComponents _),
    "d16_corpus_diff" -> (d16CorpusDiff _),
    "d15_quality_keeper" -> (d15QualityKeeper _),
    "d14_minhash_calibration" -> (d14MinhashCalibration _),
    "d13_substring_dedup" -> (d13SubstringDedup _),
    "d12_chunk_dedup" -> (d12ChunkDedup _),
    "d10_bloom_decontamination" -> (d10BloomDecontamination _),
    "d11_dedup_pipeline" -> (d11DedupPipeline _),
    "d09_incremental_dedup" -> (d09IncrementalDedup _),
    "d08_decontamination" -> (d08Decontamination _),
    "d07_neardup_components" -> (d07NeardupComponents _),
    "d01_exact_dedup" -> (d01ExactDedup _),
    "d02_minhash_signatures" -> (d02MinhashSignatures _),
    "d03_lsh_near_dup" -> (d03LshNearDup _),
    "d04_simhash" -> (d04Simhash _),
    "d05_ngram_jaccard" -> (d05NgramJaccard _),
    "d06_simhash_clusters" -> (d06SimhashClusters _)
  )

  private val bandsSqlList = (0 until numBands).map(bandSql)

  /** d03's oracle body, shared with the d07 component propagation. */
  private[graft] val d03Sql: String =

      s"""WITH hxt AS (SELECT doc_id, $baseHashSql AS hx FROM documents),
         |keyed AS (
         |  SELECT doc_id, unnest([${bandsSqlList.mkString(", ")}]) AS key,
         |         unnest([${(0 until numBands).mkString(", ")}]) AS band
         |  FROM hxt
         |),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM keyed a JOIN keyed b ON a.band = b.band AND a.key = b.key
         |  WHERE a.doc_id < b.doc_id
         |),
         |sh AS (SELECT doc_id, unnest($shinglesSql) AS s FROM documents),
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         |common AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS n_common
         |  FROM cand c
         |  JOIN sh sa ON sa.doc_id = c.doc_a
         |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
         |  GROUP BY c.doc_a, c.doc_b
         |)
         |SELECT doc_a, doc_b, n_common, za.n_sh AS n_a, zb.n_sh AS n_b,
         |       CAST(n_common AS DOUBLE) / (za.n_sh + zb.n_sh - n_common)
         |         AS jaccard
         |FROM common
         |JOIN sizes za ON za.doc_id = doc_a
         |JOIN sizes zb ON zb.doc_id = doc_b
         |WHERE CAST(n_common AS DOUBLE) / (za.n_sh + zb.n_sh - n_common) >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin

  /** `rounds` unrolled min-label-propagation rounds over a pair set.
    * Extra rounds past convergence are no-ops (labels are already the
    * component minima), so a caller unsure of its subgraph's diameter
    * simply asks for more rounds — value-identical once converged.
    * Every CTE is MATERIALIZED: each round reads the previous one twice,
    * so an inlined chain copies the pair join exponentially in rounds,
    * and DuckDB 1.0 inlines CTEs not marked MATERIALIZED (p33 embeds a
    * 4- and an 8-round chain).
    */
  private[graft] def d07SqlRounds(rounds: Int,
      pairsSql: String = d03Sql): String = {
    def round(k: Int): String =
      s"""l${k} AS MATERIALIZED (
         |  SELECT l.doc_id,
         |         least(l.label, coalesce(min(ul.label), l.label)) AS label
         |  FROM l${k - 1} l
         |  LEFT JOIN edges e ON e.v = l.doc_id
         |  LEFT JOIN l${k - 1} ul ON ul.doc_id = e.u
         |  GROUP BY l.doc_id, l.label
         |)""".stripMargin
    s"""WITH pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM ($pairsSql)),
       |edges AS MATERIALIZED (
       |  SELECT doc_a AS v, doc_b AS u FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs
       |),
       |l0 AS MATERIALIZED (SELECT DISTINCT v AS doc_id, v AS label FROM edges),
       |${(1 to rounds).map(round).mkString(",\n")}
       |SELECT doc_id, label AS component FROM l$rounds ORDER BY doc_id""".stripMargin
  }

  /** 4 unrolled min-label-propagation rounds over d03's pair graph. */
  private[graft] val d07Sql: String = d07SqlRounds(4)

  /** CONVERGED (doc_id, component) labels as a DuckDB CTE prelude — the
    * oracle-side twin of [[convergedComponents]], stated as min
    * reachable id over the symmetric closure of d03's pair graph (the
    * d17/d22 recursive-CTE precedent; the recursive UNION dedups the
    * frontier against all seen (a, b) rows, so clique-heavy families
    * stay pair-bounded). Callers must open their statement with
    * `WITH RECURSIVE` and then reference `lab(doc_id, component)`.
    * Unlike the fixed 4-round `d07Sql`, this labeling merges families
    * of ANY diameter — the form the governance reports (d18/d25/d28/
    * d29) consume since VERDICT r12.
    */
  private[graft] val convergedLabCtes: String =
    s"""pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM ($d03Sql)),
       |edges AS MATERIALIZED (
       |  SELECT doc_a AS v, doc_b AS u FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs
       |),
       |reach(a, b) AS (
       |  SELECT v, v FROM (SELECT DISTINCT v FROM edges)
       |  UNION
       |  SELECT r.a, e.u FROM reach r JOIN edges e ON e.v = r.b
       |),
       |lab AS MATERIALIZED (
       |  SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a
       |)""".stripMargin

  /** d04's oracle body, shared with the d06 cluster grouping. */
  private val simhashSql: String = {
    def bitSql(j: Int): String =
      s"CASE WHEN 2 * list_sum(list_transform(string_split(text, ' '), " +
        s"t -> strpos('0123456789abcdef', substring(md5(t), $j, 1)) - 1)) > " +
        s"15 * len(string_split(text, ' ')) THEN '1' ELSE '0' END"
    s"""SELECT doc_id,
       |  ${(1 to 16).map(bitSql).mkString(" || ")} AS simhash,
       |  len(string_split(text, ' ')) AS n_tokens
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // d26: ingestion deciles off the id range, dup/redup membership
    // from the d03 pair graph, zero-filled 0..9 spine
    // pairs is referenced three times below: MATERIALIZED stops DuckDB
    // re-expanding the whole d03 LSH statement per reference (the g03
    // CTE-inlining lesson)
    "d26_dup_burst" ->
      s"""WITH pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM ($d03Sql)),
         |members AS (
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT doc_a AS doc_id FROM pairs
         |    UNION ALL SELECT doc_b FROM pairs)
         |),
         |redups AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
         |bounds AS (
         |  SELECT min(doc_id) AS min_id, max(doc_id) AS max_id
         |  FROM documents
         |),
         |cells AS (
         |  SELECT CAST(((d.doc_id - b.min_id) * 10)
         |      // (b.max_id - b.min_id + 1) AS BIGINT) AS decile,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(CASE WHEN m.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_dup,
         |    CAST(sum(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_redup
         |  FROM documents d CROSS JOIN bounds b
         |  LEFT JOIN members m ON m.doc_id = d.doc_id
         |  LEFT JOIN redups r ON r.doc_id = d.doc_id
         |  GROUP BY 1
         |),
         |spine AS (
         |  SELECT CAST(unnest(generate_series(0, 9)) AS BIGINT) AS decile
         |)
         |SELECT s.decile,
         |  COALESCE(c.n_docs, 0) AS n_docs,
         |  COALESCE(c.n_dup, 0) AS n_dup,
         |  COALESCE(c.n_redup, 0) AS n_redup,
         |  CASE WHEN COALESCE(c.n_docs, 0) > 0 THEN
         |    CAST(c.n_dup AS DOUBLE) / c.n_docs END AS dup_share,
         |  CASE WHEN COALESCE(c.n_docs, 0) > 0 THEN
         |    CAST(c.n_redup AS DOUBLE) / c.n_docs END AS redup_share
         |FROM spine s LEFT JOIN cells c ON c.decile = s.decile
         |ORDER BY s.decile""".stripMargin,

    // d29: converged component labels joined with lang, two family
    // aggs, dominant lang by (count desc, lang asc)
    "d29_cross_lang_families" ->
      s"""WITH RECURSIVE $convergedLabCtes,
         |pl AS (
         |  SELECT c.component AS family, d.lang,
         |         CAST(count(*) AS BIGINT) AS n
         |  FROM lab c JOIN documents d ON d.doc_id = c.doc_id
         |  GROUP BY 1, 2
         |),
         |top AS (
         |  SELECT family, lang AS top_lang, n AS top_n FROM (
         |    SELECT *, row_number() OVER (PARTITION BY family
         |      ORDER BY n DESC, lang ASC) AS r FROM pl)
         |  WHERE r = 1
         |)
         |SELECT p.family,
         |  CAST(SUM(p.n) AS BIGINT) AS n_docs,
         |  CAST(COUNT(*) AS BIGINT) AS n_langs,
         |  string_agg(p.lang, ',' ORDER BY p.lang) AS langs_csv,
         |  CAST(CASE WHEN COUNT(*) > 1 THEN 1 ELSE 0 END AS BIGINT)
         |    AS cross_lang,
         |  MIN(t.top_lang) AS top_lang,
         |  CAST(MIN(t.top_n) AS DOUBLE) / SUM(p.n) AS top_lang_share
         |FROM pl p JOIN top t ON t.family = p.family
         |GROUP BY p.family ORDER BY p.family""".stripMargin,

    // d27: fixed 11-bin quality histogram per split + TVD terms
    // d28: exact md5 groups + converged component families ->
    // per-strategy removable docs/tokens beyond the min-doc_id keeper
    "d28_dedup_savings" ->
      s"""WITH RECURSIVE $convergedLabCtes,
         |toks AS (
         |  SELECT doc_id, text,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
         |  FROM documents
         |),
         |tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_toks) AS BIGINT) AS n_tokens
         |  FROM toks
         |),
         |ex AS (
         |  SELECT count(*) AS n, sum(n_toks) AS tt, min(n_toks) AS kt
         |  FROM toks GROUP BY md5(text)
         |),
         |exs AS (
         |  SELECT
         |    CAST(coalesce(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END), 0)
         |      AS BIGINT) AS n_multi_families,
         |    CAST(coalesce(sum(n - 1), 0) AS BIGINT) AS n_removable_docs,
         |    CAST(coalesce(sum(tt - kt), 0) AS BIGINT)
         |      AS n_removable_tokens
         |  FROM ex
         |),
         |nd AS (
         |  SELECT count(*) AS n, sum(t.n_toks) AS tt,
         |    arg_min(t.n_toks, t.doc_id) AS kt
         |  FROM lab l JOIN toks t ON t.doc_id = l.doc_id
         |  GROUP BY l.component
         |),
         |nds AS (
         |  SELECT
         |    CAST(coalesce(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END), 0)
         |      AS BIGINT) AS n_multi_families,
         |    CAST(coalesce(sum(n - 1), 0) AS BIGINT) AS n_removable_docs,
         |    CAST(coalesce(sum(tt - kt), 0) AS BIGINT)
         |      AS n_removable_tokens
         |  FROM nd
         |),
         |u AS (
         |  SELECT 'exact' AS strategy, * FROM exs
         |  UNION ALL
         |  SELECT 'near_dup' AS strategy, * FROM nds
         |)
         |SELECT u.strategy, u.n_multi_families, u.n_removable_docs,
         |  u.n_removable_tokens,
         |  CAST(u.n_removable_docs AS DOUBLE) / tot.n_docs AS doc_share,
         |  CAST(u.n_removable_tokens AS DOUBLE) / tot.n_tokens
         |    AS token_share
         |FROM u CROSS JOIN tot
         |ORDER BY u.strategy""".stripMargin,

    "d27_quality_drift" ->
      """WITH q AS (
        |  SELECT CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
        |      * 1000000 // len(string_split(text, ' ')) // 100000 AS bin,
        |    CASE WHEN doc_id % 10 < 2 THEN 1 ELSE 0 END AS is_inc
        |  FROM documents
        |),
        |binned AS (
        |  SELECT bin, CAST(SUM(1 - is_inc) AS BIGINT) AS n_ref,
        |         CAST(SUM(is_inc) AS BIGINT) AS n_inc
        |  FROM q GROUP BY bin
        |),
        |spine AS (SELECT unnest(generate_series(0, 10)) AS bin),
        |cells AS (
        |  SELECT s.bin, CAST(coalesce(b.n_ref, 0) AS BIGINT) AS n_ref,
        |         CAST(coalesce(b.n_inc, 0) AS BIGINT) AS n_inc
        |  FROM spine s LEFT JOIN binned b ON b.bin = s.bin
        |),
        |tot AS (
        |  SELECT CAST(SUM(n_ref) AS BIGINT) AS t_ref,
        |         CAST(SUM(n_inc) AS BIGINT) AS t_inc
        |  FROM cells
        |)
        |SELECT c.bin, c.n_ref, c.n_inc,
        |  CASE WHEN t.t_ref > 0
        |       THEN CAST(c.n_ref AS DOUBLE) / t.t_ref END AS p_ref,
        |  CASE WHEN t.t_inc > 0
        |       THEN CAST(c.n_inc AS DOUBLE) / t.t_inc END AS p_inc,
        |  abs(CASE WHEN t.t_ref > 0
        |           THEN CAST(c.n_ref AS DOUBLE) / t.t_ref END -
        |      CASE WHEN t.t_inc > 0
        |           THEN CAST(c.n_inc AS DOUBLE) / t.t_inc END) / 2.0
        |    AS tvd_term
        |FROM cells c CROSS JOIN tot t
        |ORDER BY c.bin""".stripMargin,

    // d25: converged labels -> per-family sizes -> size histogram, with
    // the unlabeled corpus remainder folded in as size-1 families
    "d25_family_census" ->
      s"""WITH RECURSIVE $convergedLabCtes,
         |fam AS (
         |  SELECT component, CAST(count(*) AS BIGINT) AS family_size
         |  FROM lab GROUP BY component
         |),
         |hist AS (
         |  SELECT family_size, CAST(count(*) AS BIGINT) AS n_families
         |  FROM fam GROUP BY family_size
         |),
         |singles AS (
         |  SELECT CAST(1 AS BIGINT) AS family_size,
         |    CAST(count(*) AS BIGINT) AS n_families
         |  FROM documents d LEFT JOIN lab ON lab.doc_id = d.doc_id
         |  WHERE lab.doc_id IS NULL
         |  HAVING count(*) > 0
         |)
         |SELECT family_size,
         |  CAST(SUM(n_families) AS BIGINT) AS n_families,
         |  CAST(family_size * SUM(n_families) AS BIGINT) AS n_docs
         |FROM (SELECT * FROM hist UNION ALL SELECT * FROM singles)
         |GROUP BY family_size
         |ORDER BY family_size""".stripMargin,

    "d16_corpus_diff" ->
      s"""WITH pairs AS (SELECT doc_a, doc_b FROM ($d03Sql)),
         |hx AS (SELECT doc_id, md5(text) AS text_hash FROM documents),
         |inc AS (SELECT * FROM hx WHERE doc_id >= 400),
         |cor AS (SELECT * FROM hx WHERE doc_id < 400),
         |ex AS (
         |  SELECT i.doc_id, min(c.doc_id) AS exact_partner
         |  FROM inc i JOIN cor c ON c.text_hash = i.text_hash
         |  GROUP BY i.doc_id
         |),
         |nr AS (
         |  SELECT doc_b AS doc_id, min(doc_a) AS near_partner
         |  FROM pairs WHERE doc_a < 400 AND doc_b >= 400
         |  GROUP BY doc_b
         |)
         |SELECT i.doc_id,
         |  CASE WHEN ex.exact_partner IS NOT NULL THEN 'exact_dup'
         |       WHEN nr.near_partner IS NOT NULL THEN 'near_dup'
         |       ELSE 'novel' END AS status,
         |  COALESCE(ex.exact_partner, nr.near_partner) AS partner_id
         |FROM inc i
         |LEFT JOIN ex ON ex.doc_id = i.doc_id
         |LEFT JOIN nr ON nr.doc_id = i.doc_id
         |ORDER BY i.doc_id""".stripMargin,

    // d15: keeper election over the CONVERGED families (r13 — an
    // under-merged labeling elects multiple keepers per true family)
    "d15_quality_keeper" ->
      s"""WITH RECURSIVE $convergedLabCtes,
         |q AS (
         |  SELECT doc_id,
         |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
         |      * 1000000 // len(string_split(text, ' ')) AS quality
         |  FROM documents
         |),
         |j AS (
         |  SELECT c.doc_id, c.component, q.quality
         |  FROM lab c JOIN q ON q.doc_id = c.doc_id
         |),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY component
         |    ORDER BY quality DESC, doc_id ASC) AS rn
         |  FROM j
         |),
         |m AS (
         |  SELECT component, CAST(count(*) AS BIGINT) AS n_members
         |  FROM j GROUP BY component
         |)
         |SELECT r.component, m.n_members, r.doc_id AS keeper_doc_id,
         |       CAST(r.quality AS BIGINT) AS keeper_quality
         |FROM r JOIN m ON m.component = r.component
         |WHERE rn = 1 ORDER BY r.component""".stripMargin,

    "d14_minhash_calibration" ->
      s"""WITH hxt AS (SELECT doc_id, $baseHashSql AS hx FROM documents),
         |keyed AS (
         |  SELECT doc_id, unnest([${bandsSqlList.mkString(", ")}]) AS key,
         |         unnest([${(0 until numBands).mkString(", ")}]) AS band
         |  FROM hxt
         |),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM keyed a JOIN keyed b ON a.band = b.band AND a.key = b.key
         |  WHERE a.doc_id < b.doc_id
         |),
         |sigs AS (
         |  SELECT doc_id,
         |    ${(0 until NumHashes).map(i => s"${mhSql(i)} AS m$i")
        .mkString(",\n    ")}
         |  FROM hxt
         |),
         |sh AS (SELECT doc_id, unnest($shinglesSql) AS s FROM documents),
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         |common AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS n_common
         |  FROM cand c
         |  JOIN sh sa ON sa.doc_id = c.doc_a
         |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
         |  GROUP BY c.doc_a, c.doc_b
         |),
         |est AS (
         |  SELECT c.doc_a, c.doc_b,
         |    ${(0 until NumHashes).map(i =>
        s"(CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END)").mkString(" + ")}
         |      AS est_matches
         |  FROM cand c
         |  JOIN sigs a ON a.doc_id = c.doc_a
         |  JOIN sigs b ON b.doc_id = c.doc_b
         |)
         |SELECT e.doc_a, e.doc_b,
         |  CAST(e.est_matches AS BIGINT) AS est_matches,
         |  CAST(COALESCE(cm.n_common, 0) AS BIGINT) AS n_common,
         |  CAST(za.n_sh AS BIGINT) AS n_a, CAST(zb.n_sh AS BIGINT) AS n_b,
         |  CAST(e.est_matches AS DOUBLE) / $NumHashes AS est_jaccard,
         |  CAST(COALESCE(cm.n_common, 0) AS DOUBLE) /
         |    (za.n_sh + zb.n_sh - COALESCE(cm.n_common, 0)) AS exact_jaccard
         |FROM est e
         |LEFT JOIN common cm ON cm.doc_a = e.doc_a AND cm.doc_b = e.doc_b
         |JOIN sizes za ON za.doc_id = e.doc_a
         |JOIN sizes zb ON zb.doc_id = e.doc_b
         |ORDER BY e.doc_a, e.doc_b""".stripMargin,

    "d13_substring_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |),
        |g AS (
        |  SELECT DISTINCT doc_id,
        |    list_aggregate(toks[i:i+7], 'string_agg', ' ') AS gram
        |  FROM t, unnest(range(1, len(toks) - 6)) AS u(i)
        |  WHERE len(toks) >= 8
        |),
        |r AS (SELECT gram, min(doc_id) AS doc_a FROM g GROUP BY gram),
        |p AS (
        |  SELECT r.doc_a, g.doc_id AS doc_b, g.gram
        |  FROM g JOIN r USING (gram) WHERE g.doc_id > r.doc_a
        |)
        |SELECT doc_a, doc_b, count(DISTINCT gram) AS n_shared_grams,
        |  min(gram) AS sample_gram
        |FROM p GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b""".stripMargin,
    "d12_chunk_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |),
        |c AS (
        |  SELECT doc_id, CAST(i AS INT) AS pos,
        |    array_to_string(toks[(i * 16 + 1):(i * 16 + 16)], ' ') AS chunk
        |  FROM t, unnest(range(0,
        |    CAST(ceil(len(toks) / 16.0) AS BIGINT))) AS u(i)
        |),
        |k AS (
        |  SELECT doc_id, pos, chunk,
        |    CASE WHEN row_number() OVER (
        |        PARTITION BY chunk ORDER BY doc_id, pos) = 1
        |      THEN 1 ELSE 0 END AS keep
        |  FROM c
        |)
        |SELECT doc_id, count(*) AS n_chunks,
        |  CAST(SUM(keep) AS BIGINT) AS n_kept,
        |  coalesce(string_agg(CASE WHEN keep = 1 THEN chunk END, ' '
        |    ORDER BY pos), '') AS new_text
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "d09_incremental_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, md5(text) AS text_hash FROM documents
        |),
        |inc AS (
        |  SELECT * FROM d WHERE doc_id >= 400
        |)
        |SELECT doc_id, text_hash FROM (
        |  SELECT i.doc_id, i.text_hash,
        |    row_number() OVER (PARTITION BY i.text_hash
        |      ORDER BY i.doc_id) AS rn
        |  FROM inc i
        |  WHERE NOT EXISTS (SELECT 1 FROM d e
        |                    WHERE e.doc_id < 400
        |                      AND e.text_hash = i.text_hash)
        |)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "d01_exact_dedup" ->
      """WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, text FROM documents
        |)
        |SELECT md5(text) AS text_hash, count(*) AS n_copies,
        |       min(doc_id) AS keeper_doc_id
        |FROM u GROUP BY md5(text) ORDER BY text_hash""".stripMargin,

    "d02_minhash_signatures" ->
      s"""WITH hxt AS (SELECT doc_id, $baseHashSql AS hx FROM documents)
         |SELECT doc_id,
         |  md5(concat_ws('-', ${(0 until NumHashes).map(mhSql).mkString(", ")}))
         |    AS signature,
         |  ${bandsSqlList.zipWithIndex
              .map { case (b, j) => s"$b AS band$j" }.mkString(",\n  ")}
         |FROM hxt ORDER BY doc_id""".stripMargin,

    "d03_lsh_near_dup" -> d03Sql,

    "d07_neardup_components" -> d07Sql,

    // d19: the posting-join containment statement with the same df cap
    // on both engines; denominators are uncapped distinct-gram counts
    // d24: the same distinct source-gram posting join declaratively
    "d24_source_overlap" ->
      """WITH tk AS (
        |  SELECT source, string_split(text, ' ') AS t FROM documents
        |),
        |sg AS (
        |  SELECT DISTINCT source, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(t)-3, 1)),
        |    i -> array_to_string(t[i:i+3], ' ')))) AS gram
        |  FROM tk
        |),
        |sizes AS (SELECT source, count(*) AS n_g FROM sg GROUP BY source),
        |shared AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |         count(*) AS n_shared
        |  FROM sg a JOIN sg b ON a.gram = b.gram AND a.source < b.source
        |  GROUP BY 1, 2
        |)
        |SELECT s.source_a, s.source_b, s.n_shared,
        |  sa.n_g AS n_a, sb.n_g AS n_b,
        |  CAST(s.n_shared AS DOUBLE) / (sa.n_g + sb.n_g - s.n_shared)
        |    AS jaccard
        |FROM shared s
        |JOIN sizes sa ON sa.source = s.source_a
        |JOIN sizes sb ON sb.source = s.source_b
        |ORDER BY s.source_a, s.source_b""".stripMargin,

    // d23: the all-pairs statement at the loosest gate, re-gated per
    // threshold — zeros kept via the left joins
    "d23_threshold_sweep" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |),
        |toks AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(t)-2, 1)),
        |    i -> array_to_string(t[i:i+2], ' '))) AS g
        |  FROM tk
        |),
        |sizes AS (SELECT doc_id, len(g) AS n FROM toks),
        |p AS (SELECT doc_id, unnest(g) AS gram FROM toks),
        |shared AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        |  FROM p a JOIN p b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |),
        |pairs AS MATERIALIZED (
        |  SELECT s.doc_a, s.doc_b, s.n_common,
        |         sa.n + sb.n - s.n_common AS n_union
        |  FROM shared s
        |  JOIN sizes sa ON sa.doc_id = s.doc_a
        |  JOIN sizes sb ON sb.doc_id = s.doc_b
        |  WHERE 2 * s.n_common >= sa.n + sb.n - s.n_common
        |),
        |thr AS (SELECT CAST(unnest([50, 60, 70, 80, 90]) AS BIGINT)
        |          AS threshold),
        |gated AS MATERIALIZED (
        |  SELECT t.threshold, p.doc_a, p.doc_b
        |  FROM thr t JOIN pairs p
        |    ON p.n_common * 100 >= t.threshold * p.n_union
        |),
        |np AS (SELECT threshold, count(*) AS n_pairs
        |       FROM gated GROUP BY threshold),
        |nd AS (
        |  SELECT threshold, count(*) AS n_docs FROM (
        |    SELECT DISTINCT threshold, doc FROM (
        |      SELECT threshold, doc_a AS doc FROM gated
        |      UNION ALL SELECT threshold, doc_b FROM gated))
        |  GROUP BY threshold
        |)
        |SELECT t.threshold,
        |  coalesce(np.n_pairs, 0) AS n_pairs,
        |  coalesce(nd.n_docs, 0) AS n_docs
        |FROM thr t
        |LEFT JOIN np ON np.threshold = t.threshold
        |LEFT JOIN nd ON nd.threshold = t.threshold
        |ORDER BY t.threshold""".stripMargin,

    // d22: the per-family aggregation over the same recursive-CTE
    // component labels d17 states
    "d22_family_shape" ->
      s"""WITH RECURSIVE pairs AS MATERIALIZED (
         |  SELECT doc_a, doc_b FROM ($d03Sql)
         |),
         |edges AS MATERIALIZED (
         |  SELECT doc_a AS v, doc_b AS u FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs
         |),
         |reach(a, b) AS (
         |  SELECT v, v FROM (SELECT DISTINCT v FROM edges)
         |  UNION
         |  SELECT r.a, e.u FROM reach r JOIN edges e ON e.v = r.b
         |),
         |lab AS MATERIALIZED (
         |  SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a
         |),
         |nodes AS (
         |  SELECT component, count(*) AS n_members FROM lab GROUP BY component
         |),
         |fedges AS (
         |  SELECT l.component, count(*) AS n_edges
         |  FROM pairs p JOIN lab l ON l.doc_id = p.doc_a
         |  GROUP BY l.component
         |)
         |SELECT n.component, n.n_members, f.n_edges,
         |  CAST(CASE WHEN f.n_edges * 2 = n.n_members * (n.n_members - 1)
         |       THEN 1 ELSE 0 END AS BIGINT) AS is_clique,
         |  CAST(f.n_edges AS DOUBLE) * 2 /
         |    (n.n_members * (n.n_members - 1)) AS density
         |FROM nodes n JOIN fedges f ON f.component = n.component
         |ORDER BY n.component""".stripMargin,

    // d21: same window-min selection stated declaratively; the
    // comparable string makes DuckDB's window MIN the (hash, pos)
    // argmin with no argmin construct
    "d21_winnowing" ->
      """WITH grams AS (
        |  SELECT doc_id, i AS pos,
        |    lpad(CAST(CAST('0x' || substring(md5(substring(text, i, 8)), 1, 15)
        |        AS BIGINT) % 1000000007 AS VARCHAR), 10, '0')
        |      || '-' || lpad(CAST(i AS VARCHAR), 8, '0') AS v
        |  FROM (SELECT doc_id, text,
        |          unnest(generate_series(1, greatest(length(text)-7, 1))) AS i
        |        FROM documents)
        |),
        |wmin AS (
        |  SELECT doc_id, pos,
        |    min(v) OVER (PARTITION BY doc_id ORDER BY pos
        |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel,
        |    count(*) OVER (PARTITION BY doc_id) AS m
        |  FROM grams
        |)
        |SELECT DISTINCT doc_id,
        |  CAST(substring(sel, 12, 8) AS BIGINT) AS pos,
        |  CAST(substring(sel, 1, 10) AS BIGINT) AS fp
        |FROM wmin WHERE pos <= greatest(m - 3, 1)
        |ORDER BY doc_id, pos""".stripMargin,

    // d20: the declarative all-pairs statement the prefix filter answers
    // exactly (the filter is lossless, so the result sets are identical)
    "d20_prefix_join" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |),
        |toks AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(t)-2, 1)),
        |    i -> array_to_string(t[i:i+2], ' '))) AS g
        |  FROM tk
        |),
        |sizes AS (SELECT doc_id, len(g) AS n FROM toks),
        |p AS (SELECT doc_id, unnest(g) AS gram FROM toks),
        |shared AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        |  FROM p a JOIN p b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT s.doc_a, s.doc_b, s.n_common,
        |       sa.n AS n_a, sb.n AS n_b,
        |       CAST(s.n_common AS DOUBLE) / (sa.n + sb.n - s.n_common)
        |         AS jaccard
        |FROM shared s
        |JOIN sizes sa ON sa.doc_id = s.doc_a
        |JOIN sizes sb ON sb.doc_id = s.doc_b
        |WHERE 5 * s.n_common >= 3 * (sa.n + sb.n - s.n_common)
        |ORDER BY doc_a, doc_b""".stripMargin,

    "d19_containment" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |),
        |g AS (
        |  SELECT DISTINCT doc_id, unnest(list_transform(
        |    generate_series(1, greatest(len(t)-3, 1)),
        |    i -> array_to_string(t[i:i+3], ' '))) AS gram
        |  FROM toks
        |),
        |sizes AS (SELECT doc_id, count(*) AS n_g FROM g GROUP BY doc_id),
        |hot AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 50),
        |p AS (SELECT * FROM g WHERE gram NOT IN (SELECT gram FROM hot)),
        |shared AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        |  FROM p a JOIN p b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT s.doc_a, s.doc_b, s.n_shared,
        |       za.n_g AS n_a, zb.n_g AS n_b,
        |       CAST(s.n_shared AS DOUBLE) / za.n_g AS containment_a,
        |       CAST(s.n_shared AS DOUBLE) / zb.n_g AS containment_b
        |FROM shared s
        |JOIN sizes za ON za.doc_id = s.doc_a
        |JOIN sizes zb ON zb.doc_id = s.doc_b
        |WHERE CAST(s.n_shared AS DOUBLE) / least(za.n_g, zb.n_g) >= 0.6
        |ORDER BY s.doc_a, s.doc_b""".stripMargin,

    // d18: removal causes restated declaratively — exact keeper via the
    // md5 group min, near membership via the converged labels
    "d18_dedup_report" ->
      s"""WITH RECURSIVE $convergedLabCtes,
         |d AS (SELECT doc_id, source, md5(text) AS h FROM documents),
         |k AS (SELECT h, min(doc_id) AS keeper FROM d GROUP BY h),
         |nr AS (SELECT doc_id FROM lab WHERE component < doc_id)
         |SELECT d.source, count(*) AS n_docs,
         |  CAST(SUM(CASE WHEN d.doc_id > k.keeper THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_exact_removed,
         |  CAST(SUM(CASE WHEN d.doc_id = k.keeper
         |                 AND nr.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_near_removed,
         |  CAST(count(*)
         |    - SUM(CASE WHEN d.doc_id > k.keeper THEN 1 ELSE 0 END)
         |    - SUM(CASE WHEN d.doc_id = k.keeper
         |               AND nr.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_kept,
         |  CAST(SUM(CASE WHEN d.doc_id > k.keeper THEN 1 ELSE 0 END)
         |     + SUM(CASE WHEN d.doc_id = k.keeper
         |                AND nr.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |     AS DOUBLE) / count(*) AS removal_rate
         |FROM d JOIN k USING (h)
         |LEFT JOIN nr ON nr.doc_id = d.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin,

    // True converged components, stated declaratively: min reachable id
    // over the symmetric closure of d03's pair graph. DuckDB's recursive
    // UNION (distinct) dedups the frontier against all seen (a, b) rows,
    // so clique-heavy families stay pair-bounded (the q23 discipline).
    "d17_star_components" ->
      s"""WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM ($d03Sql)),
         |edges AS (
         |  SELECT doc_a AS v, doc_b AS u FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs
         |),
         |reach(a, b) AS (
         |  SELECT v, v FROM (SELECT DISTINCT v FROM edges)
         |  UNION
         |  SELECT r.a, e.u FROM reach r JOIN edges e ON e.v = r.b
         |)
         |SELECT a AS doc_id, min(b) AS component
         |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,

    // d11 = documents minus the non-minimal-label members of the
    // CONVERGED families; md5 re-stated so the kept rows are
    // self-verifying.
    "d11_dedup_pipeline" ->
      s"""WITH RECURSIVE $convergedLabCtes
         |SELECT d.doc_id, md5(d.text) AS text_hash
         |FROM documents d
         |WHERE NOT EXISTS (SELECT 1 FROM lab l
         |                  WHERE l.doc_id = d.doc_id
         |                    AND l.component < l.doc_id)
         |ORDER BY d.doc_id""".stripMargin,


    "d04_simhash" -> simhashSql,

    "d06_simhash_clusters" ->
      s"""SELECT simhash, count(*) AS n_docs,
         |       array_to_string(list_transform(
         |         (list_sort(list(doc_id)))[1:20], x -> CAST(x AS VARCHAR)),
         |         ',') AS doc_ids
         |FROM ($simhashSql)
         |GROUP BY simhash HAVING count(*) > 1
         |ORDER BY simhash""".stripMargin,

    "d05_ngram_jaccard" ->
      """WITH g AS (
        |  SELECT doc_id, substring(text, 1, 40) AS blk,
        |    list_distinct(list_transform(
        |      generate_series(1, greatest(len(string_split(text, ' '))-2, 1)),
        |      i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS ng
        |  FROM documents
        |),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         len(list_intersect(a.ng, b.ng)) AS n_common,
        |         len(a.ng) AS n_a, len(b.ng) AS n_b
        |  FROM g a JOIN g b ON a.blk = b.blk AND a.doc_id < b.doc_id
        |)
        |SELECT doc_a, doc_b, n_common, n_a, n_b,
        |       CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) AS jaccard
        |FROM p
        |WHERE CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,

    // d30: distinct 4-grams per doc, gram df by count (distinct per
    // doc => df = containing docs), one division + exact majority flag.
    // The split is hoisted into its own CTE and the lambda slices the
    // projected list (ADVICE r12: restating string_split inside the
    // lambda re-evaluated it per element — the O(tokens^2)-per-doc
    // pitfall the Spark side's own comment warns against).
    "d30_dup_gram_share" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(toks)-3, 1)),
        |    i -> array_to_string(toks[i:i+3], ' '))))
        |    AS gram
        |  FROM tk
        |),
        |d AS (
        |  SELECT gram, CAST(count(*) AS BIGINT) AS df FROM g GROUP BY gram
        |)
        |SELECT g.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_grams,
        |  CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) AS dup_share,
        |  CAST(CASE WHEN 2 * sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END)
        |    >= count(*) THEN 1 ELSE 0 END AS BIGINT) AS mostly_dup
        |FROM g JOIN d USING (gram)
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,

    "d08_decontamination" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(string_split(text, ' '))-3, 1)),
        |    i -> array_to_string(string_split(text, ' ')[i:i+3], ' ')))) AS gram
        |  FROM documents
        |)
        |SELECT t.doc_id, count(DISTINCT t.gram) AS n_shared_ngrams,
        |       min(b.bench_id) AS first_bench_id
        |FROM g t JOIN (
        |  SELECT gram, doc_id AS bench_id FROM g WHERE doc_id % 97 = 0) b
        |  USING (gram)
        |WHERE t.doc_id % 97 <> 0
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,

    // Exact semantics of d10: the bloom prefilter has no false negatives
    // and the verify join removes false positives, so the oracle is the
    // plain exact 5-gram overlap (no sketch on the DuckDB side).
    "d10_bloom_decontamination" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(string_split(text, ' '))-4, 1)),
        |    i -> array_to_string(string_split(text, ' ')[i:i+4], ' ')))) AS gram
        |  FROM documents
        |)
        |SELECT t.doc_id, count(DISTINCT t.gram) AS n_shared_ngrams,
        |       min(b.bench_id) AS first_bench_id
        |FROM g t JOIN (
        |  SELECT gram, doc_id AS bench_id FROM g WHERE doc_id % 89 = 0) b
        |  USING (gram)
        |WHERE t.doc_id % 89 <> 0
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin
  )
}
