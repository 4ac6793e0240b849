package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev utility: scaling measurements on planted corpora.
  *
  * ANN mode (`sbt "runMain graft.ScalingProbe 50000 100"` -> n vectors,
  * k clusters): times banded-LSH and IVF ANN warm (run 2) on the same
  * geometry as the OpsSpec recall tests, scaled. Candidate work for
  * both paths is bucket-local, so runtime should grow ~linearly in n
  * while brute force grows n*q.
  *
  * Dedup mode (`sbt "runMain graft.ScalingProbe dedup 500000"` -> n
  * docs): times d08-shaped decontamination and d09-shaped incremental
  * dedup warm on a deterministic word-soup corpus with planted
  * contamination (consecutive docs share a 10-token window -> 7 shared
  * 4-grams around every doc_id%97 benchmark doc) and planted duplicates
  * (1/7 of the incoming batch re-sends corpus text, 1/7 duplicates an
  * in-batch neighbor whose own text is NOT remapped). Measures the postures the docs claim: benchmark
  * grams broadcast + corpus scanned once (d08); hash-only anti join,
  * corpus text never read (d09).
  *
  * All numbers land in NOTES.md next to the d03 10x corpus run.
  */
object ScalingProbe {

  private def time(name: String, n: Int)(body: => Long): Unit =
    (1 to 2).foreach { i =>
      val t0 = System.nanoTime()
      val rows = body
      println(f"$name n=$n run $i: ${(System.nanoTime() - t0) / 1e9}%.2fs rows=$rows")
      Caches.unpersistAll()
    }

  /** Deterministic word-soup corpus: doc i = `len` six-char tokens
    * drawn from a global token stream with stride len-10, so adjacent
    * docs share 10 tokens (7 four-grams) — planted contamination, no
    * rand(). len=50 reproduces the historical probe corpora exactly.
    */
  private def wordSoup(spark: SparkSession, n: Int,
      len: Int = 50): org.apache.spark.sql.DataFrame =
    spark.range(n.toLong).select(col("id").as("doc_id"),
      expr(s"array_join(transform(sequence(0, ${len - 1})," +
        s" j -> substring(md5(CAST(id * ${len - 10} + j AS STRING)), 1, 6)), ' ')")
        .as("text"))

  private def dedupProbe(spark: SparkSession, n: Int): Unit = {
    val docs = wordSoup(spark, n)
    time("d08_decontaminate", n) {
      graft.ops.DedupOps.decontaminate(docs).count()
    }
    // d09 shape: 80/20 corpus/batch split; incoming re-uses corpus text
    // (id%7=0 -> corpus hit) or its in-batch neighbor's (id%7=2 copies
    // id-1, whose id%7=1 falls in the ELSE branch and keeps its own raw
    // text — so the pair genuinely collides in-batch; planting on
    // id%7=1 would copy a neighbor that is itself remapped to corpus
    // text, leaving the copier hash-unique and the window dedup idle)
    val cut = (n * 0.8).toLong
    val hashed = spark.range(n.toLong).select(col("id").as("doc_id"),
      md5(expr(s"""array_join(transform(sequence(0, 49), j ->
        substring(md5(CAST((CASE
          WHEN id >= $cut AND id % 7 = 0 THEN id - $cut
          WHEN id >= $cut AND id % 7 = 2 THEN id - 1
          ELSE id END) * 40 + j AS STRING)), 1, 6)), ' ')"""))
        .as("text_hash"))
    time("d09_incremental", n) {
      graft.ops.DedupOps.incrementalDedup(
        hashed.filter(col("doc_id") < cut),
        hashed.filter(col("doc_id") >= cut)).count()
    }
  }

  /** s16 shape: sparse 4-gram TF-cosine posting join on the same
    * word-soup corpus (adjacent docs share 7 grams, everything else is
    * unique — gram df concentrates at 1-2, the 4-gram regime s16's
    * Scaladoc claims). Work = sum of df(g)^2, so runtime should scale
    * ~linearly in n.
    */
  private def sparseProbe(spark: SparkSession, n: Int): Unit =
    time("s16_sparse_cosine", n) {
      graft.ops.SimOps.sparseCosinePairs(wordSoup(spark, n)).count()
    }

  /** d13 shape: exact-substring pair generation on the word-soup corpus
    * (adjacent docs share a 10-token window -> 3 shared word-8-grams,
    * everything else unique). Pair generation is star-shaped (k sharers
    * of a gram emit k-1 rows), so runtime should grow ~linearly in n.
    */
  private def substrProbe(spark: SparkSession, n: Int): Unit =
    time("d13_substring_pairs", n) {
      graft.ops.DedupOps.substringPairs(wordSoup(spark, n)).count()
    }

  /** d17 shape: large-star/small-star contraction on a single n-node
    * PATH — the worst-case diameter for a connected component, so label
    * propagation would need n-1 rounds while star contraction claims
    * O(log n). Reports rounds alongside runtime: at 10x the nodes,
    * rounds should grow by ~log(10x)/log(x) (a few), runtime ~linearly
    * in edges x rounds.
    */
  /** Persisted bytes still pinned by the Caches registry right now —
    * read AFTER a fixpoint loop returns and BEFORE unpersistAll, it is
    * the loop's end-state footprint (the r9 per-round release keeps it
    * at ~2 working-set copies instead of O(rounds)).
    */
  private def pinnedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6

  private def starsProbe(spark: SparkSession, n: Int): Unit = {
    val edges = spark.range(n - 1L)
      .select((col("id") + 1).as("hi"), col("id").as("lo"))
    (1 to 2).foreach { i =>
      val t0 = System.nanoTime()
      val (stars, rounds) = graft.ops.DedupOps.starContract(edges)
      val dt = (System.nanoTime() - t0) / 1e9
      val mb = pinnedMb(spark)
      val rows = stars.count()
      println(f"d17_star_contract n=$n run $i: ${dt}%.2fs rounds=$rounds " +
        f"perRound=${dt / rounds}%.2fs pinnedMB=$mb%.1f rows=$rows")
      Caches.unpersistAll()
    }
  }

  /** d20 shape: lossless prefix-filter similarity join on the word-soup
    * corpus (adjacent docs share 10 tokens -> token-3-gram Jaccard
    * ~0.08, far below the 0.6 gate — 0 output pairs by design, the
    * probe measures CANDIDATE and verify work like the s16 probe).
    * Claimed posture: join work = sum(prefix-df^2) over each doc's
    * rarest grams; on a corpus whose gram df concentrates at 1-2 that
    * is ~linear in n, so 10x docs should be ~linear runtime, not the
    * ~100x an unfiltered posting self-join would show.
    */
  private def prefixProbe(spark: SparkSession, n: Int): Unit =
    time("d20_prefix_join", n) {
      graft.ops.DedupOps.prefixJoinPairs(
        graft.ops.DedupOps.gramSetsOf(wordSoup(spark, n))).count()
    }

  /** g03 shape: 2-core peeling to fixpoint on n/10 independent tailed
    * stars (6-leaf hub + a 3-node tail path): leaves and the tail end
    * peel round 1, the tail peels inward one round per hop, the
    * stranded hub falls last — everything peels in a CONSTANT ~5
    * rounds regardless of n, and no 2-core exists. Claimed posture:
    * each round is one degree agg + two anti joins over a SHRINKING
    * edge set, so 10x the graph should be ~linear runtime at the same
    * round count (peel depth is set by the local geometry, not n).
    */
  private def kcoreProbe(spark: SparkSession, n: Int): Unit = {
    val stars = n / 10
    // hub i at id i*10; leaves i*10+1..6; tail i*10+7 -> +8 -> +9
    val leafEdges = spark.range(stars.toLong)
      .select(explode(expr("sequence(1, 6)")).as("j"), col("id"))
      .select((col("id") * 10).as("doc_a"), (col("id") * 10 + col("j")).as("doc_b"))
    val tailEdges = spark.range(stars.toLong)
      .select(explode(expr("array(7, 8, 9)")).as("j"), col("id"))
      .select(when(col("j") === 7, col("id") * 10)
          .otherwise(col("id") * 10 + col("j") - 1).as("doc_a"),
        (col("id") * 10 + col("j")).as("doc_b"))
    val edges = leafEdges.union(tailEdges)
    (1 to 2).foreach { i =>
      val t0 = System.nanoTime()
      val (out, rounds, converged) =
        graft.ops.GraphOps.kcorePeelToFixpoint(edges, maxRounds = 20)
      val dt = (System.nanoTime() - t0) / 1e9
      val mb = pinnedMb(spark)
      val cnt = out.filter(col("in_2core") === 1L).count()
      println(f"g03_kcore_peel n=$n run $i: ${dt}%.2fs rounds=$rounds " +
        f"perRound=${dt / rounds}%.2fs pinnedMB=$mb%.1f " +
        f"converged=$converged core=$cnt")
      Caches.unpersistAll()
    }
  }

  /** Planted hub-skewed + deep-chain graph for the graph-family probes
    * (VERDICT r13 item 2) — the one op family whose posture had no
    * measured rows. Per scale n, three disjoint id blocks:
    *  - n/1000 hubs of 500 leaves each (~n/2 edges): degree-500 skew.
    *    A naive neighbor self-join would enumerate C(500,2) = 124,750
    *    wedge candidates PER HUB; degree orientation generates zero
    *    (leaves have out-degree 1, the hub out-degree 0).
    *  - one (n/10)-edge path (the deep chain): star contraction must
    *    converge in O(log n) rounds where label propagation needs n/10;
    *    orientation gives every path node out-degree <= 1 -> no wedges.
    *  - n/40 K4 cliques (6 edges, 4 triangles each): the triangle mass
    *    g01/g06 actually count — 4 oriented wedges per K4, all closing.
    * Expected oriented wedge volume is therefore ~n/10 (vs the naive
    * ~125n bound printed alongside), triangles n/10, and 10x nodes =>
    * ~10x wedges/runtime with contraction rounds growing by ~log(10).
    */
  private def plantedGraph(spark: SparkSession, n: Int)
      : org.apache.spark.sql.DataFrame = {
    val hubEdges = spark.range(n / 1000L)
      .select(col("id").as("h"), explode(expr("sequence(1, 500)")).as("j"))
      .select((col("h") * 501).as("doc_a"),
        (col("h") * 501 + col("j")).as("doc_b"))
    val chainEdges = spark.range(n / 10L)
      .select((lit(1000000000L) + col("id")).as("doc_a"),
        (lit(1000000000L) + col("id") + 1).as("doc_b"))
    val k4Edges = spark.range(n / 40L)
      .select(col("id"), explode(expr(
        "array(array(0,1),array(0,2),array(0,3)," +
          "array(1,2),array(1,3),array(2,3))")).as("p"))
      .select((lit(2000000000L) + col("id") * 4 + col("p")(0)).as("doc_a"),
        (lit(2000000000L) + col("id") * 4 + col("p")(1)).as("doc_b"))
    hubEdges.union(chainEdges).union(k4Edges)
  }

  /** g01/g06/d17 at two scales on the planted graph: wedge volume (the
    * O(m^1.5) claim measured directly — rows= in the printout IS the
    * oriented wedge count), triangle stats, edge support, and converged
    * star contraction (rounds + per-round cost on a hub-skew + deep-
    * chain topology, complementing the pure-path `stars` probe).
    */
  /** w54 shape: event-time disorder audit over a planted stream of n
    * rows — seq = 0..n-1, tus salted-md5 pseudo-random in ~[0, 1.1e12)
    * so nearly every row is late against the running max. Claimed
    * posture: the two-phase running max (div-4096 seq buckets +
    * bucket-count prefix window + partition-parallel in-bucket
    * windows) never sorts the stream in one task, so 10x rows should
    * be near-linear wall-clock; the naive single global window pays a
    * one-task sort+scan of the entire stream, the exact trap the
    * two-phase form exists to avoid.
    */
  private def disorderProbe(spark: SparkSession, n: Int): Unit = {
    import org.apache.spark.sql.expressions.Window
    val s = spark.range(n.toLong).select(col("id").as("seq"),
      expr("CAST(conv(substring(md5(CAST(id AS STRING)), 1, 10), 16, 10)" +
        " AS BIGINT)").as("tus")).persist()
    s.count()
    val folded = graft.ops.RelOps.outOfOrderOf(Seq(("x", "seq", "tus", s)))
      .collect()(0)
    println(s"w54_disorder n=$n n_late=${folded.getLong(4)} " +
      s"max_late=${folded.getLong(6)}")
    time("w54_two_phase", n) {
      val r = graft.ops.RelOps.outOfOrderOf(Seq(("x", "seq", "tus", s)))
        .collect()(0)
      r.getLong(4)
    }
    time("w54_naive_global_window", n) {
      val w = Window.orderBy(col("seq"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val r = s.withColumn("prev_max", max(col("tus")).over(w))
        .groupBy()
        .agg(sum(when(col("prev_max") > col("tus"), 1L).otherwise(0L))
          .as("n_late"),
          max(when(col("prev_max") > col("tus"),
            col("prev_max") - col("tus"))).as("max_late"))
        .collect()(0)
      r.getLong(0)
    }
    s.unpersist()
  }

  /** p37 shape: FD audit over a planted two-FD registry of n rows per
    * leg, with a HOT determinant (det 0 owns ~n/10 rows — the skew a
    * tenant/default-id column shows in practice) and one genuinely
    * violated FD (10 rows per det, up to 7 distinct deps). Claimed
    * posture (VERDICT r14 item 4): legs are literal-tagged and unioned
    * BEFORE aggregation, so the audit is ONE two-level map-side-combined
    * hash agg — the hot det collapses to <= 7 (det, dep) rows in the
    * partial agg before any shuffle, zero single-partition stages →
    * 10x rows should read near-linear.
    */
  private def fdProbe(spark: SparkSession, n: Int): Unit = {
    val violated = spark.range(n.toLong).select(
      expr("CASE WHEN id % 10 = 0 THEN 0 ELSE id DIV 10 END").as("det"),
      expr("id % 7").as("dep"))
    val held = spark.range(n.toLong).select(col("id").as("det"),
      expr("id % 1000000").as("dep"))
    time("p37_fd_audit", n) {
      val out = graft.ops.PipelineOps.fdAuditOf(Seq(
        ("violated", violated, "det", "dep"),
        ("held", held, "det", "dep"))).collect()
      out.map(r => r.getAs[Long]("n_violating")).sum
    }
  }

  /** p38 shape: IND audit over a planted registry of n fk rows with a
    * HEAVY-HITTER fk value (one value owns half the fact rows) joining
    * an n-row pk side, plus planted orphans (every 13th value missing
    * from pk). Claimed posture (VERDICT r14 item 4): the fk side
    * collapses to (ind, value, n_rows) in a map-side-combined hash agg
    * BEFORE the join — the hot value is ONE row at the join, so value
    * skew never reaches it; no broadcast assumption (the pk side joins
    * shuffled) → 10x rows should read near-linear.
    */
  private def indProbe(spark: SparkSession, n: Int): Unit = {
    val fk = spark.range(n.toLong).select(
      expr("CASE WHEN id % 2 = 0 THEN 1 ELSE id END").as("fkv"))
    val pk = spark.range(n.toLong).select(
      expr("CASE WHEN id % 13 = 0 THEN NULL ELSE id END").as("pkv"))
    time("p38_ind_audit", n) {
      val out = graft.ops.PipelineOps.indAuditOf(Seq(
        ("fact", fk, "fkv", "dim", pk, "pkv"))).collect()
      out.map(r => r.getAs[Long]("n_orphan_values")).sum
    }
  }

  private def wedgesProbe(spark: SparkSession, n: Int): Unit = {
    val pairs = plantedGraph(spark, n).persist()
    val m = pairs.count()
    val naive = graft.ops.GraphOps.degrees(pairs)
      .agg(sum(expr("degree * (degree - 1) div 2"))).head().getLong(0)
    println(s"g01_wedges n=$n edges=$m naive_wedge_bound=$naive")
    time("g01_wedge_volume", n) {
      graft.ops.GraphOps.orientedWedges(pairs,
        graft.Caches.cache(graft.ops.GraphOps.degrees(pairs))).count()
    }
    time("g01_triangle_stats", n) {
      graft.ops.GraphOps.triangleStats(pairs).count()
    }
    time("g06_edge_support", n) {
      graft.ops.GraphOps.edgeSupport(pairs).count()
    }
    (1 to 2).foreach { i =>
      val t0 = System.nanoTime()
      val (stars, rounds) = graft.ops.DedupOps.starContract(
        pairs.select(col("doc_b").as("hi"), col("doc_a").as("lo")))
      val dt = (System.nanoTime() - t0) / 1e9
      val mb = pinnedMb(spark)
      val comps = stars.select(col("lo")).distinct().count()
      println(f"d17_star_contract_planted n=$n run $i: ${dt}%.2fs " +
        f"rounds=$rounds perRound=${dt / rounds}%.2fs pinnedMB=$mb%.1f " +
        f"components=$comps")
      Caches.unpersistAll()
    }
    pairs.unpersist()
  }

  /** s27 shape: one per-subspace Lloyd step on n synthetic 64-dim
    * integer vectors with 10 labels (values md5-derived around a
    * label-offset mean, so the codebook is non-degenerate). Claimed
    * posture: work = the n x 10 broadcast-codebook sub-distance scan +
    * two keyed hash aggs — 10x vectors should be ~linear runtime.
    */
  private def pqTrainProbe(spark: SparkSession, n: Int): Unit = {
    graft.functions.GraftFunctions.register(spark)
    val v = spark.range(n.toLong).select(
      col("id").as("vec_id"),
      expr("transform(sequence(0, 63), j -> (id % 10) * 1000 + " +
        "CAST(conv(substring(md5(concat(CAST(id AS STRING), '-', " +
        "CAST(j AS STRING))), 1, 5), 16, 10) AS BIGINT) % 500)").as("qv"),
      (col("id") % 10).cast("int").as("label"))
    time("s27_pq_train", n) {
      graft.ops.SimOps.pqTrainStep(spark, graft.Caches.cache(v)).count()
    }
  }

  /** p25 shape: family-safe ring negatives over n synthetic doc ids
    * with an empty family frame. Claimed posture: bucket-keyed ring
    * windows (64 buckets of ~n/64 rows — no global sort) + a
    * (bucket, position)-keyed candidate join at 5 rows per doc, so 10x
    * docs should be ~linear (n log n within buckets).
    */
  private def negProbe(spark: SparkSession, n: Int): Unit = {
    import spark.implicits._
    val docs = spark.range(n.toLong).select(col("id").as("doc_id"))
    val noFam = Seq.empty[(Long, Long)].toDF("doc_id", "component")
    time("p25_negative_pairs", n) {
      graft.ops.PipelineOps.negativePairsOf(docs, noFam).count()
    }
  }

  /** t23 shape: n synthetic ~30-token docs over 20 sources and a 5000-
    * word md5-derived vocabulary. Claimed posture: the corpus-sized
    * work is the explode + distinct collapse to the (source, token)
    * frame (vocabulary-bounded at 20 x 5000 rows regardless of n), so
    * the pair join is CONSTANT in n and 10x docs should be ~linear.
    */
  private def vocabProbe(spark: SparkSession, n: Int): Unit = {
    val docs = spark.range(n.toLong).select(
      concat(lit("src_"), col("id") % 20).as("source"),
      expr("array_join(transform(sequence(0, 29), j -> concat('w', " +
        "CAST(conv(substring(md5(concat(CAST(id AS STRING), '-', " +
        "CAST(j AS STRING))), 1, 4), 16, 10) AS BIGINT) % 5000)), ' ')")
        .as("text"))
    time("t23_vocab_overlap", n) {
      graft.ops.TextOps.vocabOverlapOf(docs).count()
    }
  }

  /** t29 shape: MATTR on n docs x 120 tokens from a 5000-word vocab.
    * Claimed posture: one posexplode scan, one (doc_id, token)-keyed
    * lag window, one per-doc hash agg — token-instance-linear work on
    * skew-free keys, so 10x docs => ~linear runtime.
    */
  private def mattrProbe(spark: SparkSession, n: Int): Unit = {
    val docs = spark.range(n.toLong).select(col("id").as("doc_id"),
      expr("array_join(transform(sequence(0, 119), j -> concat('w', " +
        "CAST(conv(substring(md5(concat(CAST(id AS STRING), '-', " +
        "CAST(j AS STRING))), 1, 4), 16, 10) AS BIGINT) % 5000)), ' ')")
        .as("text"))
    time("t29_mattr", n) {
      graft.ops.TextOps.mattrFrom(docs).count()
    }
  }

  /** d30 shape: dup-gram share on n docs x 60 tokens, with every third
    * doc sharing verbatim text inside its 30-id block (10-copy families
    * -> real df >= 2 grams; the rest unique). Claimed posture: one
    * cached gram explode, one map-side-combinable df agg, one equality
    * join back, one per-doc fold — gram-instance-linear, so 10x docs
    * => ~linear runtime.
    */
  private def dupShareProbe(spark: SparkSession, n: Int): Unit = {
    val docs = spark.range(n.toLong)
      .select(col("id").as("doc_id"),
        expr("CASE WHEN id % 3 = 0 THEN (id div 30) * 30 ELSE id END")
          .as("seed"))
      .select(col("doc_id"),
        expr("array_join(transform(sequence(0, 59), j -> concat('w', " +
          "CAST(conv(substring(md5(concat(CAST(seed AS STRING), '-', " +
          "CAST(j AS STRING))), 1, 4), 16, 10) AS BIGINT) % 5000)), ' ')")
          .as("text"))
    time("d30_dup_gram_share", n) {
      graft.ops.DedupOps.dupGramShare(docs).count()
    }
    graft.Caches.unpersistAll()
  }

  /** w34 shape: in-session funnel on n users, each with 24 events in 4
    * sessions of 6 (view/click/purchase/noise mix, 10-minute gaps
    * in-session, 2-day gaps between). Claimed posture: ONE user-keyed
    * window sort then (user, sess)-keyed aggs/joins — a single logical
    * shuffle key, so 10x users => ~linear runtime.
    */
  private def funnelProbe(spark: SparkSession, n: Int): Unit = {
    val types = "array('view','click','purchase','error','view','click')"
    val e = spark.range(n.toLong).select(col("id").as("user_id"),
        explode(expr("sequence(0, 23)")).as("j"))
      .select(col("user_id"),
        expr("timestamp'2025-01-01 00:00:00' + (j div 6) * interval '2' day" +
          " + (j % 6) * interval '10' minute").as("ts"),
        (col("user_id") * 24 + col("j")).as("event_id"),
        expr(s"element_at($types, CAST(j % 6 + 1 AS INT))").as("event_type"))
    time("w34_session_funnel", n) {
      graft.ops.RelOps.sessionFunnel(e).count()
    }
  }

  /** w36 shape: hour-of-day baseline on n events over a fixed 60-day,
    * 8-type span. Claimed posture: events pre-aggregate to type x hour
    * cells FIRST (one hash agg, map-side combinable), every downstream
    * frame is (types x hours)-sized — 10x events => ~linear in the one
    * scan+agg, constant after.
    */
  private def seasonalProbe(spark: SparkSession, n: Int): Unit = {
    val e = spark.range(n.toLong).select(
      concat(lit("type"), (col("id") % 8).cast("string")).as("event_type"),
      expr("timestamp'2025-01-01 00:00:00' + " +
        "((id * 37) % 1440) * interval '1' hour").as("ts"))
    time("w36_seasonal_baseline", n) {
      graft.ops.RelOps.seasonalBaseline(e).count()
    }
  }

  /** m09 shape: incremental append of an n-row batch onto a FIXED 1M-row
    * packed corpus. Claimed posture: two independent packStarts passes
    * (each bucket-parallel) + a 1-row broadcast shift — 10x batch rows
    * move only the batch's pack cost; the corpus side is constant, and
    * the tail-shard fill is arithmetic, not data movement.
    */
  private def appendProbe(spark: SparkSession, n: Int): Unit = {
    val corpusN = 1000000L
    val m = spark.range(corpusN + n).select(
      col("id").as("doc_id"), lit("x").as("kind"),
      (col("id") % 900 + 100).as("n_bytes"),
      (col("id") >= corpusN).cast("long").as("is_batch"))
    time("m09_shard_append", n) {
      graft.ops.MediaOps.shardAppendOf(m, 1 << 20)
        .agg(sum(col("shard_id"))).head()
      n.toLong
    }
  }

  /** w25 shape: hourly LOCF gap-fill on n users, each with 56
    * observations strided 6 hours apart across a fixed ~331-hour span
    * (1/6 hour occupancy — 5 of 6 spine rows are LOCF-filled gaps).
    * Claimed posture: spine rows are bounded by span/cadence per user
    * (never a calendar cross join) and both the per-hour pick and the
    * LOCF are single user-keyed shuffles, so 10x users => ~10x rows
    * and ~linear runtime. The risk axis the probe watches: output is
    * ~331 rows PER USER, the suite's biggest expansion.
    */
  private def gapfillProbe(spark: SparkSession, n: Int): Unit = {
    val e = spark.range(n.toLong).select(col("id").as("user_id"),
        explode(expr("sequence(0, 55)")).as("j"))
      .select(col("user_id"), (col("j") * 6 + col("user_id") % 6).as("hoff"))
      .select(col("user_id"),
        expr("timestamp'2025-01-01 00:00:00' + hoff * interval '1' hour")
          .as("ts"),
        (col("user_id") * 1000 + col("hoff")).as("event_id"),
        (col("user_id") % 97 + col("hoff")).cast("double").as("value"))
    time("w25_gapfill", n) {
      graft.ops.RelOps.gapFillCore(e).count()
    }
  }

  /** w24 shape: point-in-time SCD2 consume on n customers x 8 weekly
    * versions x 40 facts spread over the same span. Claimed posture:
    * boundaries and facts union into ONE custkey-keyed window sort
    * (never the oracle's per-customer quadratic inequality join), so
    * 10x customers => ~linear runtime.
    */
  private def scd2Probe(spark: SparkSession, n: Int): Unit = {
    val dim = spark.range(n.toLong).select(col("id").as("custkey"),
        explode(expr("sequence(1, 8)")).as("v"))
      .select(col("custkey"),
        expr("date'2025-01-01' + CAST((v - 1) * 7 AS INT)").as("valid_from"),
        col("v").cast("long").as("version_no"),
        concat(lit("P"), col("v")).as("priority"))
    val facts = spark.range(n.toLong).select(col("id").as("custkey"),
        explode(expr("sequence(0, 39)")).as("f"))
      .select(col("custkey"),
        (col("custkey") * 40 + col("f")).as("l_orderkey"),
        col("f").cast("int").as("l_linenumber"),
        expr("date'2025-01-01' + CAST(f * 3 % 60 AS INT)").as("l_shipdate"))
    time("w24_scd2_asof", n) {
      graft.ops.RelOps.scd2AsofCore(dim, facts).count()
    }
  }

  /** m08 shape: contiguous-fill shard packing over n synthetic payload
    * sizes. Claimed posture: the two-phase exclusive prefix sum is one
    * bucket-keyed window + a bucket-count-sized offsets window, so 10x
    * rows => ~linear runtime (the naive statement is ONE global window
    * sort — a single task at any size).
    */
  private def packProbe(spark: SparkSession, n: Int): Unit = {
    val sized = spark.range(n.toLong).select(col("id").as("doc_id"),
      lit("x").as("kind"), (col("id") % 900 + 100).as("n_bytes"))
    time("m08_shard_pack", n) {
      // sum(shard_id), not count(): a count lets Catalyst skip the
      // cardinality-preserving window work entirely (the shingle-probe
      // head() lesson) — the sum forces every start to be computed
      graft.ops.MediaOps.shardPack(sized, 1 << 20)
        .agg(sum(col("shard_id"))).head()
      n.toLong
    }
  }

  /** w35 shape: rolling DAU/WAU via the covering explode on n users,
    * each active a deterministic 12 of 60 days. Claimed posture: the
    * corpus collapses to DISTINCT (user, day) first and the 7x explode
    * runs on the collapsed frame, so 10x users => ~linear runtime with
    * a constant day spine.
    */
  private def activeProbe(spark: SparkSession, n: Int): Unit = {
    val e = spark.range(n.toLong).select(col("id").as("user_id"),
        explode(expr("sequence(0, 11)")).as("j"))
      .select(col("user_id"),
        expr("timestamp'2025-01-01 00:00:00' + " +
          "((j * 5 + user_id % 5) * 24 + user_id % 24) * interval '1' hour")
          .as("ts"))
    time("w35_rolling_active", n) {
      graft.ops.RelOps.rollingActiveOf(e).count()
    }
  }

  /** t11 shape: Misra-Gries heavy-token pass on the word-soup corpus
    * with one planted hot token per doc (2% of occurrences — far above
    * the 1/200 threshold) and an otherwise ~unique vocabulary that
    * grows with n (the regime where a groupBy(token) heavy-hitter plan
    * shuffles an ever-growing key space while the MG candidate pass
    * ships a constant-size summary per partition). Runtime should grow
    * ~linearly in total tokens.
    */
  private def heavyProbe(spark: SparkSession, n: Int): Unit = {
    graft.functions.GraftFunctions.register(spark)
    val docs = wordSoup(spark, n)
      .select(col("doc_id"), concat(lit("hotkey "), col("text")).as("text"))
    time("t11_heavy_tokens", n) {
      val toks = docs.select(explode(split(col("text"), " ")).as("tok"))
      val summary = toks
        .agg(expr(s"graft_heavy_keys(tok, ${graft.ops.TextOps.HeavyCap})").as("s"))
        .select(col("s.n").as("n"), explode(col("s.keys")).as("tok"))
      toks.join(broadcast(summary), Seq("tok"))
        .groupBy(col("tok"), col("n"))
        .agg(count(lit(1)).as("c"))
        .filter(col("c") * 200 > col("n"))
        .count()
    }
  }

  /** p12 shape: content-defined chunking — pure per-row scan work (the
    * boundary hash and chunk assembly never shuffle more than the
    * (doc, chunk) rows), so runtime should grow ~linearly in n.
    */
  private def cdcProbe(spark: SparkSession, n: Int): Unit =
    time("p12_cdc_chunks", n) {
      graft.ops.PipelineOps.cdcChunks(
        wordSoup(spark, n)).groupBy(md5(col("chunk_text")))
        .count().count()
    }

  /** Document-LENGTH scaling (the dimension the round-6 lambda-re-split
    * and substring-walk fixes target): same n, 10x the tokens per doc.
    * Both timed bodies are linear in total tokens after the fix; the
    * old per-element re-split / per-position substring forms were
    * O(len^2) per doc and would show ~100x here, not ~10x.
    */
  private def longDocsProbe(spark: SparkSession, n: Int, len: Int): Unit = {
    val docs = wordSoup(spark, n, len)
    time(s"d08_decontaminate_len$len", n) {
      graft.ops.DedupOps.decontaminate(docs).count()
    }
    time(s"shingle_arrays_len$len", n) {
      // head(), not count(): count() lets Catalyst prune the aggregate
      // input and skip the shingle computation entirely
      graft.ops.DedupOps.shingleArrays(docs)
        .agg(sum(size(col("sh_arr")))).head().getLong(0)
    }
  }

  /** p26 scaling: train→eval 8-gram leakage on the word-soup corpus
    * (adjacent docs share a 10-token window → 3 shared 8-grams, so
    * every eval doc bordering a train doc genuinely hits). The claimed
    * posture: train grams collapse to one row per distinct gram before
    * the join, so join output is bounded by the eval side.
    */
  private def leakProbe(spark: SparkSession, n: Int): Unit = {
    val docs = wordSoup(spark, n)
    val splits = spark.range(n.toLong).select(col("id").as("doc_id"),
      when(col("id") % 10 < 8, "train")
        .when(col("id") % 10 === 8, "val")
        .otherwise("test").as("split"))
    time("p26_eval_leakage", n) {
      // sum over the leak counts, not count(): a bare count lets the
      // optimizer skip the gram join entirely
      graft.ops.PipelineOps.evalLeakageOf(docs, splits)
        .agg(sum(col("n_leaked_grams"))).head().getLong(0)
    }
  }

  /** s09 shape: banded KNN JOIN on the planted clustered geometry —
    * every 10th vector a query, `broadcastQueries = false` (both sides
    * large, all query-side joins hash). The ONE ANN quadrant without a
    * 10x row before r10. Reports the candidate-pair count next to
    * runtime (banding claims candidates ~linear in n on clustered
    * geometry) and whether the executed plan carries the
    * WindowGroupLimit partial top-k that bounds the rank shuffle.
    */
  /** Distributed planted-cluster corpus for probe scales where
    * `PlantedVectors.corpus`'s driver-side boxed Seq would GC-thrash
    * the JVM (measured: 500k x 64 floats never reaches Spark): the
    * same k-centroid geometry (centroids seeded N(0,1)^dim on the
    * driver — k x dim doubles, a literal), members = centroid +
    * hash-derived deterministic uniform noise with std 0.25 (uniform,
    * not gaussian — irrelevant for a TIMING probe; candidate counts
    * shift slightly vs the Seq geometry, the scaling conclusion does
    * not). Generated entirely executor-side from `spark.range`.
    */
  private def distPlantedCorpus(spark: SparkSession, n: Int, k: Int,
      dim: Int = 64): org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(42)
    val centroids: Seq[Seq[Double]] =
      Seq.fill(k)(Seq.fill(dim)(rnd.nextGaussian()))
    val cLit = typedLit(centroids)
    val cluster = (col("vec_id") / lit((n / k).toLong)).cast("int")
    val emb = transform(sequence(lit(0), lit(dim - 1)), d => {
      val u = pmod(xxhash64(col("vec_id"), d, lit(7L)), lit(1000000000L))
        .cast("double") / lit(1e9)
      (element_at(element_at(cLit, cluster + lit(1)), d + lit(1)) +
        (u - lit(0.5)) * lit(0.8660254)).cast("float")
    })
    spark.range(n.toLong).select(col("id").as("vec_id"), emb.as("embedding"))
  }

  private def knnJoinProbe(spark: SparkSession, n: Int, k: Int,
      wide: Boolean, forceDist: Boolean = false): Unit = {
    import spark.implicits._
    val tag = (if (wide) "wide16" else "narrow8") +
      (if (forceDist || n > 100000) "_dist" else "")
    // driver-side Seq geometry up to 100k (matches the recall specs);
    // distributed generation beyond — pass `dist` to force it at small
    // n too, so a 10x ratio compares like geometry with like
    val src = if (!forceDist && n <= 100000)
      PlantedVectors.corpus(n, k).toDF("vec_id", "embedding")
    else distPlantedCorpus(spark, n, k)
    val prepared = graft.ops.SimOps.prepareVectors(src)
      .persist()
    prepared.count()
    (1 to 2).foreach { i =>
      val t0 = System.nanoTime()
      val a = graft.ops.SimOps.bandedTopK(prepared,
          col("vec_id") % 10 === 0, 5, broadcastQueries = false,
          wide = wide)
        .groupBy().count()
      val rows = a.head().getLong(0)
      val dt = (System.nanoTime() - t0) / 1e9
      val wgl = a.queryExecution.executedPlan.toString
        .contains("WindowGroupLimit")
      val cand = graft.ops.SimOps.bandedCandidates(prepared,
        col("vec_id") % 10 === 0, broadcastQueries = false,
        wide = wide).count()
      println(f"s09_knn_join_$tag n=$n run $i: ${dt}%.2fs rows=$rows " +
        f"cand=$cand candPerQuery=${cand.toDouble / (n / 10)}%.1f " +
        f"windowGroupLimit=$wgl")
      Caches.unpersistAll()
    }
    prepared.unpersist()
  }

  /** s35 shape: embedding decontamination (train x eval banded join) on
    * a planted clustered corpus with every 97th vector an eval anchor.
    * Claimed posture: both sides filter BEFORE the band join, so the
    * candidate volume is bounded by eval-side bucket populations (the
    * eval suite grows with n here — the worst case for the claim; a
    * real eval suite is fixed-size, making large-n behavior strictly
    * better than this probe's).
    */
  private def semDeconProbe(spark: SparkSession, n: Int, k: Int): Unit = {
    val src = if (n <= 100000)
      { import spark.implicits._
        PlantedVectors.corpus(n, k).toDF("vec_id", "embedding") }
    else distPlantedCorpus(spark, n, k)
    val prepared = graft.ops.SimOps.prepareVectors(src).persist()
    prepared.count()
    (1 to 2).foreach { i =>
      val t0 = System.nanoTime()
      val a = graft.ops.SimOps.embeddingDecontamFrom(prepared)
        .groupBy().count()
      val rows = a.head().getLong(0)
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"s35_embedding_decontam n=$n run $i: ${dt}%.2fs " +
        f"flagged=$rows")
      Caches.unpersistAll()
    }
    prepared.unpersist()
  }

  /** w48 shape: cohort LTV on n orders over n/10 customers spread
    * across a fixed 24-cohort-month span. Claimed posture: ONE orders
    * scan into the customer-cohort agg; everything after (spine,
    * window cumsum) is cohorts x months sized.
    */
  private def cohortProbe(spark: SparkSession, n: Int): Unit = {
    val orders = spark.range(n.toLong).select(
      (col("id") % (n / 10)).as("o_custkey"),
      expr("date_add(date'2024-01-01', CAST((id * 13) % 720 AS INT))")
        .as("o_orderdate"),
      ((col("id") % 500 + 10).cast("double")).as("o_totalprice"))
    time("w48_cohort_ltv", n) {
      // sum over cum_revenue: forces the cohort window work (a bare
      // count would let Catalyst skip the cumsum — the pack lesson)
      graft.ops.RelOps.cohortLtvOf(orders)
        .agg(sum(col("cum_revenue"))).head()
      n.toLong
    }
  }

  /** w44 shape: first/last-touch attribution on n events over n/50
    * users (each user ~50 events strided 6h, view/click/error/purchase
    * mix — the 7-day lookback window holds ~28 events per row).
    * Claimed posture: ONE user-keyed window sort; everything after is
    * purchases-sized then 6 rows.
    */
  private def attributionProbe(spark: SparkSession, n: Int): Unit = {
    val users = math.max(n / 50, 1)
    val types = "array('view','click','error','purchase')"
    val e = spark.range(n.toLong).select(
      (col("id") % users).as("user_id"),
      col("id").as("event_id"),
      expr(s"timestamp'2025-01-01 00:00:00' + " +
        s"(id div $users) * 6 * interval '1' hour").as("ts"),
      expr(s"element_at($types, CAST(id % 4 + 1 AS INT))").as("event_type"))
    time("w44_attribution", n) {
      graft.ops.RelOps.w44AttributionOf(spark, e)
        .agg(sum(col("n_conversions"))).head().getLong(0)
    }
  }

  /** p26 df-cap A/B (VERDICT r9 item 3): word-soup corpus where HALF of
    * every doc is a SHARED boilerplate window (25 shared + 25 unique
    * tokens -> the 18 pure-boilerplate 8-grams have train-df ~ 0.8n and
    * own ~42% of the gram rows; the rest stay df 1-2). Uncapped pays
    * the full gram shuffle including the skewed boilerplate keys;
    * maxDf=1000 prunes them BEFORE the shuffle via the Misra-Gries
    * candidate pass. Reports both runtimes and both leak sums (capped
    * < uncapped exactly by the boilerplate grams' contribution).
    */
  private def leakCapProbe(spark: SparkSession, n: Int): Unit = {
    val docs = spark.range(n.toLong).select(col("id").as("doc_id"),
      expr("concat(array_join(transform(sequence(0, 24)," +
        " j -> substring(md5(concat('boiler-', CAST(j AS STRING))), 1, 6)), ' ')," +
        " ' ', array_join(transform(sequence(0, 24)," +
        s" j -> substring(md5(CAST(id * 25 + j AS STRING)), 1, 6)), ' '))")
        .as("text"))
    val splits = spark.range(n.toLong).select(col("id").as("doc_id"),
      when(col("id") % 10 < 8, "train")
        .when(col("id") % 10 === 8, "val")
        .otherwise("test").as("split"))
    Seq(("uncapped", 0L), ("maxDf1000", 1000L)).foreach { case (tag, cap) =>
      time(s"p26_leak_$tag", n) {
        graft.ops.PipelineOps.evalLeakageOf(docs, splits, cap)
          .agg(sum(col("n_leaked_grams"))).head().getLong(0)
      }
    }
  }

  /** p31 shape: the COMPOSED release-manifest build (cascade -> exact
    * keeper -> family labels -> cap -> split -> order) on a corpus that
    * exercises every stage: 50-token docs with a 10% stopword ratio (so
    * the cascade KEEPS them and does real token work), 1/11 exact dups
    * (id % 11 == 1 re-sends id-1's text), 30% of docs in planted
    * 3-member families, 20 sources. Family labels are handed in
    * directly — the LSH pair-graph cost is probed separately
    * (prefix/leak modes); this measures p31's own composition. Claimed
    * posture: every corpus-sized stage is a hash agg or doc_id-keyed
    * join; the cap's per-source heap and the train-order permutation
    * run on source-bounded/released-bounded frames — 10x docs =>
    * ~linear runtime.
    */
  private def releaseProbe(spark: SparkSession, n: Int): Unit = {
    val docs = spark.range(n.toLong).select(
      col("id").as("doc_id"),
      concat(lit("src"), (col("id") % 20).cast("string")).as("source"),
      expr("array_join(transform(sequence(0, 49), j -> CASE" +
        " WHEN j % 10 = 0 THEN 'the'" +
        " ELSE substring(md5(CAST((CASE WHEN id % 11 = 1 THEN id - 1" +
        " ELSE id END) * 40 + j AS STRING)), 1, 6) END), ' ')")
        .as("text"))
    val fam = spark.range(n.toLong).filter(col("id") % 10 < 3)
      .select(col("id").as("doc_id"),
        expr("(id div 10) * 10").as("component"))
    time("p31_release_manifest", n) {
      graft.ops.PipelineOps.releaseManifestFrom(docs, fam)
        .groupBy("status").count()
        .collect().map(_.getLong(1)).sum
    }
  }

  /** p31->p36 release-CHAIN probe (VERDICT r11 item 5): the complete
    * release governance suite staged end-to-end, each stage timed warm
    * — the caller runs n and 10n and reads per-stage ratios. The
    * corpus is releaseProbe's geometry (stopwords so the cascade does
    * real token work, 1/11 exact dups, planted 3-member families, 20
    * sources) built on the wordSoup stride, so eval-suite members
    * (doc_id % 97 == 0) genuinely share 4-grams with their neighbors —
    * p34/p36's contamination joins do real matching, not empty scans.
    *
    * Two manifests build per run (current + the doc_id % 10 != 7
    * previous snapshot — the registered p33 convention), each INCLUDING
    * its own family-label fixpoint over the planted pair edges, with
    * peak pinned-MB read at the manifest's return: the r11 bench's
    * 162 s p33 cold outlier lived in exactly this build, so the probe
    * times it explicitly instead of letting it land inside whichever
    * query constructs first. Downstream stages (p33 diff, p32 card,
    * p34 decontam, p35 shards, q26 serving, m12 staleness, p36
    * sign-off) run against the two CACHED manifests so every ratio
    * isolates its own stage's work.
    */
  private def chainProbe(spark: SparkSession, n: Int): Unit = {
    import graft.ops.{DedupOps, MediaOps, PipelineOps}
    val docs = spark.range(n.toLong).select(
      col("id").as("doc_id"),
      concat(lit("src"), (col("id") % 20).cast("string")).as("source"),
      expr("array_join(transform(sequence(0, 49), j -> CASE" +
        " WHEN j % 10 = 0 THEN 'the'" +
        " ELSE substring(md5(CAST((CASE WHEN id % 11 = 1 THEN id - 1" +
        " ELSE id END) * 40 + j AS STRING)), 1, 6) END), ' ')")
        .as("text"))
    val docsOld = docs.filter(col("doc_id") % 10 =!= 7)
    // planted families: 3-member chains (base, base+1, base+2) per
    // 10-id block — the fixpoint converges in a few rounds, its cost
    // is the per-round join work the build actually pays
    val edges = spark.range(n / 10L)
      .select(explode(expr("array(0, 1)")).as("j"), (col("id") * 10).as("b"))
      .select((col("b") + col("j")).as("doc_a"),
        (col("b") + col("j") + 1).as("doc_b"))
    val edgesOld = edges.filter(col("doc_a") % 10 =!= 7 &&
      col("doc_b") % 10 =!= 7)
    def buildManifest(tag: String, d: org.apache.spark.sql.DataFrame,
        e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      var out: org.apache.spark.sql.DataFrame = null
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        val fam = DedupOps.convergedComponentsFromPairs(e)
        val m = PipelineOps.releaseManifestFrom(d, fam)
        val rows = m.count()
        val dt = (System.nanoTime() - t0) / 1e9
        val mb = pinnedMb(spark)
        println(f"chain_p31_$tag n=$n run $i: ${dt}%.2fs rows=$rows " +
          f"pinnedMB=$mb%.1f")
        if (i == 2) {
          // hand the downstream stages a PARQUET round-trip of the
          // run-2 manifest — the registered queries' write-once
          // discipline, and the only lineage-free form: a persist()
          // here shares its cache entry with the Caches.cache(manifest)
          // inside q26/p36, so the inter-stage unpersistAll would drop
          // it and force a recompute through the fixpoint's already-
          // released checkpoint blocks (observed: run-2 p36 died on
          // checkpointRDDBlockIdNotFound with the persist() form)
          val p = java.nio.file.Files
            .createTempDirectory(s"graft-chainprobe-$tag").toString
          m.write.mode("overwrite").parquet(p)
          out = spark.read.parquet(p)
        }
        Caches.unpersistAll()
      }
      out
    }
    val mNew = buildManifest("new", docs, edges)
    val mPrev = buildManifest("prev", docsOld, edgesOld)
    time("chain_p33_diff", n) {
      PipelineOps.releaseDiffFrom(mNew, mPrev)
        .agg(sum(col("n_docs"))).head().getLong(0)
    }
    time("chain_p32_card", n) {
      PipelineOps.releaseCardFrom(mNew).count()
    }
    time("chain_p34_decontam", n) {
      PipelineOps.releaseDecontamFrom(docs, mNew)
        .agg(sum(col("n_contam"))).head().getLong(0)
    }
    time("chain_p35_shards", n) {
      PipelineOps.releaseShardsFrom(mNew)
        .agg(sum(col("n_tokens"))).head()
      n.toLong
    }
    time("chain_q26_serving", n) {
      PipelineOps.releaseServingFrom(
        docs.select("doc_id", "source"), mNew).count()
    }
    // m12 consumes a byte pack; 8 docs per synthetic shard
    val pack = docs.select(col("doc_id"),
      (col("doc_id") % 900 + 100).as("n_bytes"),
      (col("doc_id") / 8).cast("long").as("shard_id"))
    time("chain_m12_staleness", n) {
      MediaOps.releaseStalenessFrom(pack, mNew)
        .agg(sum(col("live_bytes"))).head().getLong(0)
    }
    time("chain_p36_signoff", n) {
      PipelineOps.releaseSignoffFrom(docs, mNew).head()
      1L
    }
  }

  /** m13 shape: per-shard content fingerprints on n synthetic MIN-SIZE
    * payloads (32-byte md5 strings — the pathological members-per-shard
    * maximizer VERDICT r12 item 4 asks for: cap 8192 div 32 = 256
    * members/shard, the largest per-shard collect_list the operator can
    * see at this cap). Claimed posture: payload hashing is per-row scan
    * work, starts are the m08 two-phase prefix sum, and the shard fold
    * is ONE shard-keyed hash agg over cap-bounded lists — 10x docs =>
    * ~linear runtime.
    */
  private def fingerprintProbe(spark: SparkSession, n: Int): Unit = {
    val media = spark.range(n.toLong).select(col("id").as("doc_id"),
      expr("encode(md5(CAST(id AS STRING)), 'UTF-8')").as("payload"))
    time("m13_shard_fingerprint", n) {
      // sum over fingerprint lengths: a bare count would let Catalyst
      // prune the md5-of-sorted-list work entirely (the pack lesson)
      graft.ops.MediaOps.shardFingerprintOf(media, 8192L)
        .agg(sum(length(col("fingerprint")))).head()
      n.toLong
    }
  }

  /** m07 shape A/B (VERDICT r12 item 4): the media dedup report on n
    * synthetic ~64-byte payloads over 3 kinds, 1/13 of docs re-sending
    * a neighbor's payload (live exact channel; signatures land ~uniform
    * over the 16-bit space, the distinct-signature worst case).
    * Measures the registered distinct-signature collapse — claimed
    * corpus-linear with a 65536 x 17 join ceiling — next to the former
    * 4-band pair join as the naive contrast (64 band buckets TOTAL, so
    * candidates are Theta(n^2/8); gated to n <= 100k where ~1.25e9
    * candidate rows is still probe-runnable).
    */
  private def mediaDedupProbe(spark: SparkSession, n: Int): Unit = {
    import spark.implicits._
    val media = spark.range(n.toLong).select(
      col("id").as("doc_id"),
      expr("element_at(array('image','audio','video')," +
        " CAST(id % 3 + 1 AS INT))").as("kind"),
      expr("encode(concat(" +
        "md5(CAST(CASE WHEN id % 13 = 1 THEN id - 1 ELSE id END AS STRING))," +
        "md5(CAST((CASE WHEN id % 13 = 1 THEN id - 1 ELSE id END) * 7" +
        " AS STRING))), 'UTF-8')").as("payload"))
    time("m07_media_dedup", n) {
      graft.ops.MediaOps.mediaDedupReportOf(media)
        .agg(sum(col("n_near_removed")), sum(col("n_exact_removed"))).head()
      n.toLong
    }
    if (n <= 100000) time("m07_bandjoin_naive", n) {
      // the pre-r13 channel, inlined verbatim as the quadratic contrast
      val sigs = graft.Caches.cache(media
        .select("doc_id", "kind", "payload").as[graft.ops.MediaRow]
        .mapPartitions(_.map(r =>
          (r.doc_id, graft.ops.MediaOps.stubPhash(r.payload))))
        .toDF("doc_id", "sig"))
      val banded = sigs.select(col("doc_id"), col("sig"),
        posexplode(array((0 until 4).map(b =>
          shiftright(col("sig"), b * 4).bitwiseAND(lit(15L))): _*))
          .as(Seq("band", "key")))
      banded.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"),
          col("band"), col("key"))
        .join(banded.select(col("doc_id").as("doc_b"),
          col("sig").as("sig_b"), col("band"), col("key")),
          Seq("band", "key"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b").distinct()
        .filter(bit_count(col("sig_a").bitwiseXOR(col("sig_b"))) <= 1)
        .select(col("doc_b").as("doc_id")).distinct().count()
    }
  }

  /** w47 shape: basket self-join + pair agg on n orders, basket size
    * 1 + (i mod 7) (TPC-H-like), parts drawn from a n/10 catalog.
    * Claimed posture: pair emission bounded by Σ basket² (per-order,
    * never corpus×corpus), so 10x orders => ~linear runtime.
    */
  private def basketProbe(spark: SparkSession, n: Int): Unit = {
    val li = spark.range(n.toLong)
      .select(col("id").as("o"),
        explode(expr("sequence(0, CAST(id % 7 AS INT))")).as("j"))
      .select(col("o").as("l_orderkey"),
        ((col("o") * 31 + col("j") * 17) % (n / 10)).as("l_partkey"))
    time("w47_market_basket", n) {
      graft.ops.RelOps.marketBasketOf(li)
        .agg(sum(col("n_co"))).head()
      n.toLong
    }
  }

  /** p28 shape: two-phase length rank + batch agg on n docs with HOT
    * length ties (only 50 distinct lengths, so each length holds n/50
    * docs). Claimed posture: the (n_tokens, bucket) key splits a hot
    * length across 64 partitions — 10x docs => ~linear runtime, no
    * single-partition sort of a popular length.
    */
  private def curriculumProbe(spark: SparkSession, n: Int): Unit = {
    val docs = spark.range(n.toLong).select(col("id").as("doc_id"),
      (col("id") % 50 + 10).as("n_tokens"))
    time("p28_length_curriculum", n) {
      graft.ops.PipelineOps.lengthCurriculumOf(docs, 32L)
        .agg(sum(col("padding"))).head()
      n.toLong
    }
  }

  def main(args: Array[String]): Unit = {
    val dedupMode = args.headOption.contains("dedup")
    val sparseMode = args.headOption.contains("sparse")
    val substrMode = args.headOption.contains("substr")
    val cdcMode = args.headOption.contains("cdc")
    val spark = LocalSession.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    if (dedupMode) {
      dedupProbe(spark, if (args.length > 1) args(1).toInt else 500000)
      spark.stop()
      return
    }
    if (sparseMode) {
      sparseProbe(spark, if (args.length > 1) args(1).toInt else 500000)
      spark.stop()
      return
    }
    if (substrMode) {
      substrProbe(spark, if (args.length > 1) args(1).toInt else 500000)
      spark.stop()
      return
    }
    if (cdcMode) {
      cdcProbe(spark, if (args.length > 1) args(1).toInt else 500000)
      spark.stop()
      return
    }
    if (args.headOption.contains("kcore")) {
      kcoreProbe(spark, if (args.length > 1) args(1).toInt else 100000)
      spark.stop()
      return
    }
    if (args.headOption.contains("leak")) {
      leakProbe(spark, if (args.length > 1) args(1).toInt else 100000)
      spark.stop()
      return
    }
    if (args.headOption.contains("leakcap")) {
      leakCapProbe(spark, if (args.length > 1) args(1).toInt else 100000)
      spark.stop()
      return
    }
    if (args.headOption.contains("knnjoin")) {
      knnJoinProbe(spark, if (args.length > 1) args(1).toInt else 50000,
        if (args.length > 2) args(2).toInt else 100,
        wide = args.contains("wide"), forceDist = args.contains("dist"))
      spark.stop()
      return
    }
    if (args.headOption.contains("cohort")) {
      cohortProbe(spark, if (args.length > 1) args(1).toInt else 200000)
      spark.stop()
      return
    }
    if (args.headOption.contains("attribution")) {
      attributionProbe(spark, if (args.length > 1) args(1).toInt else 200000)
      spark.stop()
      return
    }
    if (args.headOption.contains("semdecon")) {
      semDeconProbe(spark, if (args.length > 1) args(1).toInt else 50000,
        if (args.length > 2) args(2).toInt else 100)
      spark.stop()
      return
    }
    if (args.headOption.contains("release")) {
      releaseProbe(spark, if (args.length > 1) args(1).toInt else 100000)
      spark.stop()
      return
    }
    if (args.headOption.contains("chain")) {
      chainProbe(spark, if (args.length > 1) args(1).toInt else 100000)
      spark.stop()
      return
    }
    if (args.headOption.contains("negatives")) {
      negProbe(spark, if (args.length > 1) args(1).toInt else 100000)
      spark.stop()
      return
    }
    if (args.headOption.contains("vocab")) {
      vocabProbe(spark, if (args.length > 1) args(1).toInt else 50000)
      spark.stop()
      return
    }
    if (args.headOption.contains("mattr")) {
      mattrProbe(spark, if (args.length > 1) args(1).toInt else 100000)
      spark.stop()
      return
    }
    if (args.headOption.contains("dupshare")) {
      dupShareProbe(spark, if (args.length > 1) args(1).toInt else 100000)
      spark.stop()
      return
    }
    if (args.headOption.contains("pqtrain")) {
      pqTrainProbe(spark, if (args.length > 1) args(1).toInt else 50000)
      spark.stop()
      return
    }
    if (args.headOption.contains("prefix")) {
      prefixProbe(spark, if (args.length > 1) args(1).toInt else 500000)
      spark.stop()
      return
    }
    if (args.headOption.contains("wedges")) {
      wedgesProbe(spark, if (args.length > 1) args(1).toInt else 100000)
      spark.stop()
      return
    }
    if (args.headOption.contains("stars")) {
      starsProbe(spark, if (args.length > 1) args(1).toInt else 100000)
      spark.stop()
      return
    }
    if (args.headOption.contains("pack")) {
      packProbe(spark, if (args.length > 1) args(1).toInt else 1000000)
      spark.stop()
      return
    }
    if (args.headOption.contains("active")) {
      activeProbe(spark, if (args.length > 1) args(1).toInt else 100000)
      spark.stop()
      return
    }
    if (args.headOption.contains("funnel")) {
      funnelProbe(spark, if (args.length > 1) args(1).toInt else 100000)
      spark.stop()
      return
    }
    if (args.headOption.contains("seasonal")) {
      seasonalProbe(spark, if (args.length > 1) args(1).toInt else 1000000)
      spark.stop()
      return
    }
    if (args.headOption.contains("append")) {
      appendProbe(spark, if (args.length > 1) args(1).toInt else 100000)
      spark.stop()
      return
    }
    if (args.headOption.contains("gapfill")) {
      gapfillProbe(spark, if (args.length > 1) args(1).toInt else 20000)
      spark.stop()
      return
    }
    if (args.headOption.contains("scd2")) {
      scd2Probe(spark, if (args.length > 1) args(1).toInt else 50000)
      spark.stop()
      return
    }
    if (args.headOption.contains("heavy")) {
      heavyProbe(spark, if (args.length > 1) args(1).toInt else 100000)
      spark.stop()
      return
    }
    if (args.headOption.contains("fingerprint")) {
      fingerprintProbe(spark, if (args.length > 1) args(1).toInt else 100000)
      spark.stop()
      return
    }
    if (args.headOption.contains("disorder")) {
      disorderProbe(spark, if (args.length > 1) args(1).toInt else 1000000)
      spark.stop()
      return
    }
    if (args.headOption.contains("fd")) {
      fdProbe(spark, if (args.length > 1) args(1).toInt else 1000000)
      spark.stop()
      return
    }
    if (args.headOption.contains("ind")) {
      indProbe(spark, if (args.length > 1) args(1).toInt else 1000000)
      spark.stop()
      return
    }
    if (args.headOption.contains("mediadedup")) {
      mediaDedupProbe(spark, if (args.length > 1) args(1).toInt else 100000)
      spark.stop()
      return
    }
    if (args.headOption.contains("basket")) {
      basketProbe(spark, if (args.length > 1) args(1).toInt else 200000)
      spark.stop()
      return
    }
    if (args.headOption.contains("curriculum")) {
      curriculumProbe(spark, if (args.length > 1) args(1).toInt else 1000000)
      spark.stop()
      return
    }
    if (args.headOption.contains("longdocs")) {
      val n = if (args.length > 1) args(1).toInt else 20000
      val len = if (args.length > 2) args(2).toInt else 500
      longDocsProbe(spark, n, len)
      spark.stop()
      return
    }

    val n = if (args.nonEmpty) args(0).toInt else 50000
    val k = if (args.length > 1) args(1).toInt else 100
    val vecs = PlantedVectors.corpus(n, k)
    val emb = vecs.toDF("vec_id", "embedding")
    val every = math.max(1, n / 100) // ~100 query points (all rows if n < 100)
    // Persisted OUTSIDE the Caches registry (unpersistAll runs between
    // timed runs): the corpus is a driver-side LocalRelation, and every
    // uncached scan re-serializes n x 64 floats out of the driver —
    // probe noise that has nothing to do with the measured operators.
    val prepared = graft.ops.SimOps.prepareVectors(emb)
      .withColumn("label", expr(s"CAST(vec_id DIV ${n / k} AS INT)"))
      .persist()
    prepared.count() // materialize before any timing

    time("banded_lsh", n) {
      graft.ops.SimOps.bandedTopK(prepared, col("vec_id") % every === 0, 5).count()
    }
    time("ivf_nprobe2", n) {
      graft.ops.SimOps.ivfTopK(prepared, col("vec_id") % every === 0, 2, 5).count()
    }
    // PQ-ADC full scan: candidate count stays n x q (like brute force)
    // but per-pair work drops from a 64-dim dot to 8 map lookups —
    // measures the compute cut the code table buys before IVF pruning.
    time("pq_adc_scan", n) {
      graft.ops.SimOps.pqAdcTopK(prepared, col("vec_id") % every === 0, 5).count()
    }
    // Composed IVF+PQ (the s14 shape): same encode pass, scan side cut
    // to ~nProbe/k-th of the corpus before any distance work.
    time("ivf_pq_nprobe2", n) {
      graft.ops.SimOps.ivfPqTopK(prepared, col("vec_id") % every === 0, 2, 5).count()
    }
    spark.stop()
  }
}
