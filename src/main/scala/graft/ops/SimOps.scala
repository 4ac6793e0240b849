package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (64-dim float vectors;
  * SURVEY.md §7 step E): brute-force cosine top-k as the exactness
  * baseline, a sign-LSH bucketed ANN as the scale path, and
  * embedding-cosine near-dup pairs.
  *
  * Cross-engine determinism: each vector is quantized once to scaled
  * integers (round(x*1e6), identical in both engines since float->double
  * is exact), dot products and squared norms are then exact integer sums
  * (order-independent), and the final cosine is a single fixed double
  * expression tree — so cosines, and thus rankings, are bit-identical
  * vs the oracle.
  *
  * 100 TB posture: the query set is broadcast (top-k search is a
  * broadcast-nested-loop over the candidate scan — no shuffle of the big
  * side; the per-partition top-k then combines via the window's single
  * shuffle of k*|queries| rows). The ANN variant buckets both sides by
  * sign-LSH key first, so each vector only meets its bucket — the same
  * plan shape an IVF coarse quantizer would give, with the bucket id
  * as the partition key.
  */
object SimOps {

  /** Vectors are quantized ONCE per row to scaled integers
    * (round(x*1e6) as BIGINT); every later dot product is then a pure
    * integer zip_with+aggregate (higher-order functions — no UDF,
    * SURVEY.md §2.9): order-independent, exact, and ~1e-6 cosine error
    * that is IDENTICAL in both engines (a per-pair double->decimal path
    * would be 16x more per-element work in the pair loop).
    */
  private val quantize =
    "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))"

  /** Integer dot product of two quantized arrays — the codegen'd
    * graft_long_dot kernel (graft.functions.LongDot): same values as
    * aggregate(zip_with(a, b, (x,y) -> x*y), 0L, +) but one JVM loop
    * per pair instead of interpreted per-element lambdas.
    */
  private def dotSq(a: String, b: String): String =
    s"graft_long_dot($a, $b)"

  /** cosine(q, v): the 1e6 scale cancels between dot and norms. */
  private val cosine: Column =
    col("dot").cast("double") /
      (sqrt(col("qnorm").cast("double")) * sqrt(col("vnorm").cast("double")))

  private[graft] def vectors(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    Tables.embeddings(spark, dir)
      .withColumn("qv", expr(quantize))
      .select(col("vec_id"), col("embedding"), col("qv"), col("label"),
        expr(dotSq("qv", "qv")).as("vnorm"))
  }

  /** Brute-force cosine top-10 for each query vector (vec_id % 50 = 0). */
  def s01KnnBruteforce(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir)
    val q = v.filter(col("vec_id") % 50 === 0).select(
      col("vec_id").as("qid"), col("qv").as("qemb"),
      col("vnorm").as("qnorm"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    v.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("dot", expr(dotSq("qemb", "qv")))
      .withColumn("cosine", cosine)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("vec_id").as("neighbor_id"),
        col("rank").cast("long").as("rank"), col("cosine"))
      .orderBy("qid", "rank")
  }

  /** ANN recall report — the index-validation audit a pipeline runs
    * before trusting an approximate index: per query, how many of the
    * exact top-5 neighbors (s01's brute-force machinery) the bucketed
    * LSH search (s02) actually returned. n_hits is an exact integer
    * intersection count, recall_at_5 one exact division — deterministic
    * because both rankings already break cosine ties on vec_id.
    *
    * 100 TB posture: the exact side is the expensive audit half — run
    * it on a SAMPLED query set (here the fixture's % 50 query
    * convention IS the sample); the ANN side costs what production
    * costs. The join/agg work on top is query-set-sized.
    */
  def s17RecallReport(spark: SparkSession, dir: String): DataFrame = {
    val exact = s01KnnBruteforce(spark, dir)
      .filter(col("rank") <= 5).select("qid", "neighbor_id")
    val ann = s02LshAnn(spark, dir).select("qid", "neighbor_id")
    val nEx = exact.groupBy("qid").agg(count(lit(1)).as("n_exact"))
    val hits = exact.join(ann, Seq("qid", "neighbor_id"))
      .groupBy("qid").agg(count(lit(1)).as("n_hits"))
    nEx.join(hits, Seq("qid"), "left")
      .select(col("qid"), col("n_exact"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / col("n_exact"))
          .as("recall_at_5"))
      .orderBy("qid")
  }

  /** IVF nProbe calibration sweep — the FAISS-tuning analog of d23's
    * threshold sweep: the recall-vs-cost frontier a team reads before
    * fixing the index's probe count. ONE search pass at the LOOSEST
    * setting (nProbe=4) tags every candidate with the rank of the
    * probe that found it; each sweep level then re-reads those
    * candidates with probe_rank <= level (a sequence-explode, no
    * second corpus pass), ranks its own top-5, and scores recall
    * against the brute-force truth (s01's machinery at rank <= 5).
    * n_candidates/n_hits/n_exact are exact integers; recall_at_5 the
    * one shared division.
    *
    * 100 TB posture: the expensive halves are paid once — one corpus
    * assignment scan + one candidate join at the widest probe setting
    * (the 4-levels-of-s08 form rescans the corpus four times), and the
    * exact side runs on the sampled query set exactly as s17 argues.
    * The 4-level explode multiplies only candidate rows (query-bounded),
    * and the final report is 4 rows.
    */
  def s24NprobeSweep(spark: SparkSession, dir: String): DataFrame = {
    val maxProbe = 4
    val v = graft.Caches.cache(vectors(spark, dir))
    val isQuery = col("vec_id") % 50 === 0
    val cells = cellCentroids(v)
    val assigned = assignCells(scoreCells(v, cells))
    val probes = scoreCells(v.filter(isQuery), cells)
      .groupBy(col("vec_id").as("qid"))
      .agg(expr(s"graft_topk(ccos, cell, $maxProbe)").as("top"))
      .select(col("qid"),
        posexplode(col("top").getField("id")).as(Seq("p0", "cell")))
      .select(col("qid"), (col("p0") + 1).cast("long").as("probe_rank"),
        col("cell"))
    val q = v.filter(isQuery).select(col("vec_id").as("qid"),
      col("qv").as("qemb"), col("vnorm").as("qnorm"))
    val cand = graft.Caches.cache(
      v.join(assigned, Seq("vec_id"))
        .join(broadcast(probes.join(q, Seq("qid"))), Seq("cell"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("dot", expr(dotSq("qemb", "qv")))
        .withColumn("cosine", cosine)
        .select(col("qid"), col("vec_id"), col("probe_rank"),
          col("cosine")))
    // a candidate found by probe r participates in every level >= r
    val leveled = graft.Caches.cache(cand.withColumn("n_probe",
      explode(expr(s"sequence(probe_rank, $maxProbe)"))))
    val w = Window.partitionBy(col("n_probe"), col("qid"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    val annTop = leveled
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
    val exact = graft.Caches.cache(s01KnnBruteforce(spark, dir)
      .filter(col("rank") <= 5)
      .select(col("qid"), col("neighbor_id").as("vec_id")))
    val hits = annTop.join(exact, Seq("qid", "vec_id"))
      .groupBy("n_probe").agg(count(lit(1)).as("n_hits"))
    val cands = leveled.groupBy("n_probe")
      .agg(count(lit(1)).as("n_candidates"))
    // 1-row truth-set size broadcast (the d23 scalar pattern; BNLJ
    // allowlisted) — the denominator is level-independent
    val denom = exact.agg(count(lit(1)).as("n_exact"))
    cands.join(hits, Seq("n_probe"), "left")
      .crossJoin(broadcast(denom))
      .select(col("n_probe"), col("n_candidates"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"), col("n_exact"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / col("n_exact"))
          .as("recall_at_5"))
      .orderBy("n_probe")
  }

  /** Sign-LSH bucket key: sign bits of components [from, from+bits).
    * An axis-aligned random-projection LSH — the scale path that turns
    * all-pairs search into a per-bucket search.
    */
  private def signKeyRange(arr: String, from: Int, bits: Int): String =
    (from until from + bits).map(i =>
      s"CASE WHEN CAST(element_at($arr, $i) AS DOUBLE) >= 0 THEN '1' ELSE '0' END")
      .mkString("concat(", ", ", ")")

  private def signKey(arr: String, bits: Int): String =
    signKeyRange(arr, 1, bits)

  private def signKeySqlRange(arr: String, from: Int, bits: Int): String =
    (from until from + bits).map(i =>
      s"CASE WHEN CAST($arr[$i] AS DOUBLE) >= 0 THEN '1' ELSE '0' END")
      .mkString(" || ")

  private def signKeySql(arr: String, bits: Int): String =
    signKeySqlRange(arr, 1, bits)

  /** Bucketed ANN: top-5 per query among same-bucket vectors only. */
  def s02LshAnn(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir)
      .withColumn("bucket", expr(signKey("embedding", 4)))
    val q = v.filter(col("vec_id") % 50 === 0).select(
      col("vec_id").as("qid"), col("qv").as("qemb"),
      col("vnorm").as("qnorm"), col("bucket"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    v.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("dot", expr(dotSq("qemb", "qv")))
      .withColumn("cosine", cosine)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("vec_id").as("neighbor_id"),
        col("rank").cast("long").as("rank"), col("cosine"), col("bucket"))
      .orderBy("qid", "rank")
  }

  /** Embedding-cosine near-dup: banded-candidate pairs with
    * cosine >= 0.35. Candidates come from the same 8-band x 8-bit
    * sign-LSH banding as s07 (pair = full agreement on >= 1 band),
    * deduplicated before scoring.
    *
    * Why banded, not one coarse bucket: the old 4-bit single-bucket form
    * had 16 buckets total, so per-bucket population — and the O(pop²)
    * pair work — grew linearly with the corpus: quadratic at 100 TB. With
    * 8 independent 256-key bands, bucket populations are ~16x smaller
    * per band while recall RISES (one agreeing band suffices instead of
    * 4 exact leading bits).
    */
  def s03EmbedNearDup(spark: SparkSession, dir: String): DataFrame = {
    // cached: the band explosion and both scoring joins reuse the
    // quantized rows
    val v = graft.Caches.cache(vectors(spark, dir))
    val bandArr = (0 until Bands)
      .map(t => signKeyRange("embedding", t * BandBits + 1, BandBits))
      .mkString("array(", ", ", ")")
    val bands = graft.Caches.cache(
      v.select(col("vec_id"), posexplode(expr(bandArr)).as(Seq("band", "key"))))
    val cand = bands.select(col("band"), col("key"), col("vec_id").as("id_a"))
      .join(bands.select(col("band"), col("key"), col("vec_id").as("id_b")),
        Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    cand
      .join(v.select(col("vec_id").as("id_a"), col("qv").as("emb_a"),
        col("vnorm").as("qnorm")), Seq("id_a"))
      .join(v.select(col("vec_id").as("id_b"), col("qv").as("emb_b"),
        col("vnorm").as("vnorm")), Seq("id_b"))
      .withColumn("dot", expr(dotSq("emb_a", "emb_b")))
      .withColumn("cosine", cosine)
      .filter(col("cosine") >= 0.35)
      .select(col("id_a"), col("id_b"), col("cosine"))
      .orderBy("id_a", "id_b")
  }

  /** Hamming-1 bit flip of a 4-char '0'/'1' bucket key at position i —
    * one shared SQL fragment, valid in both engines.
    */
  private def flipSql(i: Int): String =
    s"concat(substring(bucket, 1, ${i - 1}), " +
      s"CASE WHEN substring(bucket, $i, 1) = '1' THEN '0' ELSE '1' END, " +
      s"substring(bucket, ${i + 1}, ${4 - i}))"

  private val probesSql =
    (Seq("bucket") ++ (1 to 4).map(flipSql)).mkString("[", ", ", "]")

  /** Multi-probe ANN: each query searches its own sign bucket AND the 4
    * Hamming-1 neighbor buckets — the standard recall repair for
    * bucketed LSH (a near neighbor that disagrees on one sign bit is
    * still found) at 5x the candidate cost, still O(n/2^bits) per probe,
    * never O(n^2).
    */
  def s05LshMultiprobe(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir)
      .withColumn("bucket", expr(signKey("embedding", 4)))
    val probes = (Seq("bucket") ++ (1 to 4).map(flipSql)).mkString(", ")
    val q = v.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("qv").as("qemb"),
        col("vnorm").as("qnorm"),
        expr(s"explode(array($probes))").as("bucket"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    v.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("dot", expr(dotSq("qemb", "qv")))
      .withColumn("cosine", cosine)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("vec_id").as("neighbor_id"),
        col("rank").cast("long").as("rank"), col("cosine"))
      .orderBy("qid", "rank")
  }

  /** Banded sign-LSH layout: all 64 sign bits, split into `Bands`
    * independent hash tables of `BandBits` bits each.
    */
  private[graft] val Bands = 8
  private[graft] val BandBits = 8

  /** Quantize + integer norms over an arbitrary (vec_id, embedding)
    * frame — the prep step every similarity query shares, exposed so
    * tests can run the ANN on synthetic clustered corpora.
    */
  private[graft] def prepareVectors(emb: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    emb.withColumn("qv", expr(quantize))
      .select(col("vec_id"), col("embedding"), col("qv"),
        expr(dotSq("qv", "qv")).as("vnorm"))
  }

  /** Banded-signature ANN core: each vector emits one (band, key) row
    * per band (key = that band's 8 sign bits); a pair is a CANDIDATE iff
    * it agrees on ALL bits of at least one band — the classic LSH
    * banding recall repair (one agreeing band suffices, so a near
    * neighbor survives sign flips in the other 56 bits). Exact cosine
    * then ranks the candidate union.
    *
    * Recall math: with per-bit agreement probability q (q = 1 - θ/π for
    * angle θ), P[candidate] = 1 - (1 - q^8)^8 — ~0.99 at q = 0.9, i.e.
    * genuinely-similar pairs are nearly always found while random pairs
    * (q ≈ 0.5) collide on ~3% of the corpus. Measured on a planted
    * 20-cluster corpus in OpsSpec: recall@5 ≥ 0.8 (vs 0.12 for the
    * single-bucket s02 config on the same data).
    *
    * 100 TB posture: bands is an 8x row explosion of (id, 8-char key)
    * pairs — narrow; the candidate join is per-(band, key) bucket with
    * the query side broadcast; distinct + the two scoring joins shuffle
    * candidate pairs only, never the corpus cross product.
    */
  /** `broadcastQueries = false` switches every query-side join from
    * broadcast to hash/shuffle — the KNN-JOIN configuration where the
    * query set is itself corpus-sized (s09) and broadcasting it would
    * OOM every executor. Candidates stay per-(band, key) bucketed
    * either way.
    */
  private[graft] def bandedTopK(v: DataFrame, isQuery: Column, k: Int,
      broadcastQueries: Boolean = true, wide: Boolean = false): DataFrame = {
    def maybeBc(df: DataFrame): DataFrame =
      if (broadcastQueries) broadcast(df) else df
    val cand = bandedCandidates(v, isQuery, broadcastQueries, wide)
    val q = v.filter(isQuery).select(col("vec_id").as("qid"),
      col("qv").as("qemb"), col("vnorm").as("qnorm"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    cand.join(v.select("vec_id", "qv", "vnorm"), Seq("vec_id"))
      .join(maybeBc(q), Seq("qid"))
      .withColumn("dot", expr(dotSq("qemb", "qv")))
      .withColumn("cosine", cosine)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id").as("neighbor_id"),
        col("rank").cast("long").as("rank"), col("cosine"))
      .orderBy("qid", "rank")
  }

  /** The banded candidate stage of [[bandedTopK]], factored out so
    * candidate pairs can be counted directly (the number whose growth
    * certifies the banding stays tractable at volume; the 10x counts
    * are NOTES.md's "s09/s33 banded KNN join" rows).
    *
    * `wide = false` is the registered 8-band x 8-bit layout. Its random
    * collision floor is 8 x 2^-8 ~ 3.1% of the corpus PER QUERY — fine
    * while queries are sparse (s07: 2% of vectors), but a KNN JOIN's
    * query side grows WITH the corpus, so candidates grow O(n^2/320):
    * the r10 probe measured 2,080 cand/query at 50k vectors and OOM'd a
    * single JVM at 500k (~800M pairs). `wide = true` is the tuning a
    * corpus-sized query set needs: all C(8,2) = 28 PAIRWISE band
    * compositions, 16 sign bits each — per-band match probability
    * drops to q^16 but 28 chances raise planted-pair recall
    * (1-(1-q^16)^28 ~ 0.997 at q = 0.9, ABOVE the narrow layout's
    * 0.99) while the random floor falls 70x to 28 x 2^-16 ~ 0.04%. The
    * general rule this encodes: band KEY WIDTH must grow ~log2(n) with
    * the corpus; with 64 sign bits the pairwise composition is the
    * widest layout that needs no new signature machinery.
    */
  private[graft] def bandedCandidates(v: DataFrame, isQuery: Column,
      broadcastQueries: Boolean, wide: Boolean = false): DataFrame = {
    def maybeBc(df: DataFrame): DataFrame =
      if (broadcastQueries) broadcast(df) else df
    val bands = graft.Caches.cache(if (!wide) {
      val bandArr = (0 until Bands)
        .map(t => signKeyRange("embedding", t * BandBits + 1, BandBits))
        .mkString("array(", ", ", ")")
      v.select(col("vec_id"), posexplode(expr(bandArr)).as(Seq("band", "key")))
    } else {
      // build the 64-char sign string ONCE, slice per composite band:
      // inlining all 28 keys is 448 CASE expressions in one generate —
      // past Janino's 64KB method limit, so codegen falls back to
      // interpreted (measured); 64 CASEs + 28 substring-concats stays
      // compiled
      val pairKeys = (for {
        a <- 0 until Bands; b <- a + 1 until Bands
      } yield s"concat(substring(sig64, ${a * BandBits + 1}, $BandBits), " +
        s"substring(sig64, ${b * BandBits + 1}, $BandBits))")
        .mkString("array(", ", ", ")")
      v.withColumn("sig64",
          expr(signKeyRange("embedding", 1, Bands * BandBits)))
        .select(col("vec_id"), posexplode(expr(pairKeys)).as(Seq("band", "key")))
    })
    val qBands = bands
      .join(v.filter(isQuery).select("vec_id"), Seq("vec_id"), "left_semi")
      .withColumnRenamed("vec_id", "qid")
    bands.join(maybeBc(qBands), Seq("band", "key"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"))
      .distinct()
  }

  /** KNN JOIN: every 10th vector is a query — a query set the same size
    * class as the corpus, where s01/s04/s07/s08's broadcast-the-queries
    * plan would OOM at scale. All query-side joins are hash joins; the
    * banded candidate generation keeps the pair space bucket-local. The
    * per-query top-k shuffle is bounded by the row_number filter's
    * WindowGroupLimit pushdown (partial limit before the exchange).
    */
  def s09KnnJoin(spark: SparkSession, dir: String): DataFrame = {
    val v = graft.Caches.cache(vectors(spark, dir))
    bandedTopK(v, col("vec_id") % 10 === 0, 5, broadcastQueries = false)
  }

  /** KNN JOIN in the WIDE band layout — the production configuration
    * for a corpus-sized query set (see [[bandedCandidates]]'s key-width
    * rule: band key width must grow ~log2(n)). Same query set and
    * hash-join plan as s09; the 28 pairwise 16-bit band compositions
    * drop the random collision floor 70x, which is what keeps the
    * candidate join's shuffle bounded at volume. Measured (NOTES r11):
    * candidates/query 460 -> 651 from 50k to 500k vectors (~constant)
    * and ~linear runtime, where the narrow8 layout's candidate shuffle
    * hits a ~100 GB scratch-disk wall at 500k on one host.
    */
  def s33KnnJoinWide(spark: SparkSession, dir: String): DataFrame = {
    val v = graft.Caches.cache(vectors(spark, dir))
    bandedTopK(v, col("vec_id") % 10 === 0, 5, broadcastQueries = false,
      wide = true)
  }

  /** Recall-targeted ANN over the fixture: banded signatures, top-5. */
  def s07BandedAnn(spark: SparkSession, dir: String): DataFrame = {
    val v = graft.Caches.cache(vectors(spark, dir))
    bandedTopK(v, col("vec_id") % 50 === 0, 5)
  }

  /** IVF (inverted-file) ANN — the other classic scale path next to LSH
    * banding: train a coarse quantizer, partition the corpus into its
    * cells, and search only the few cells nearest each query.
    *
    *  1. TRAIN: one centroid per `label` (the deterministic stand-in for
    *     a k-means codebook; same role, same plan shape). Components are
    *     `round(sum(x)/n)` at the 1e6 quantization scale — exact integer
    *     sums divided once, so both engines compute bit-identical
    *     centroids AND the component magnitude stays ~1e6 regardless of
    *     corpus size (no overflow at any n).
    *  2. ASSIGN: every vector scores against the broadcast codebook
    *     (10 cells x 64 dims — trivially broadcastable at any scale) and
    *     keeps its argmax-cosine cell via a map-side graft_topk(k=1), so
    *     the assignment shuffle carries ONE row per vector, not one per
    *     (vector, cell).
    *  3. PROBE: each query keeps its nProbe=2 nearest cells (the
    *     standard IVF recall knob).
    *  4. SEARCH: corpus joined to broadcast probes on `cell` — each
    *     query meets only ~2/10ths of the corpus; exact cosine ranks
    *     top-5. A vector lives in exactly one cell and a query's probed
    *     cells are distinct, so no candidate dedup is needed.
    *
    * 100 TB posture: the only corpus-wide shuffles are the one-row-per-
    * vector assignment agg and the join of corpus to its cell id; the
    * search side never leaves its cell. This is the plan an IVF index
    * build + query gives on a real cluster, with `cell` as the
    * partition key.
    */
  def s08IvfAnn(spark: SparkSession, dir: String): DataFrame = {
    val v = graft.Caches.cache(vectors(spark, dir))
    ivfTopK(v, col("vec_id") % 50 === 0, nProbe = 2, k = 5)
  }

  /** IVF core over any (vec_id, qv, label, vnorm) frame — exposed so
    * tests can measure recall on synthetic clustered corpora.
    */
  /** TRAIN: per-label mean components rounded back to the 1e6 integer
    * scale form the codebook — eagerly materialized (L tiny rows), so
    * the several scoring passes that read it never race its corpus-wide
    * training agg into duplicate computation (the d11 AQE lesson).
    */
  private def cellCentroids(v: DataFrame): DataFrame =
    graft.Caches.checkpoint(v
      .select(col("label"), posexplode(col("qv")).as(Seq("dim", "x")))
      .groupBy("label", "dim")
      .agg(expr("CAST(round(CAST(sum(x) AS DOUBLE) / count(*)) AS BIGINT)")
        .as("cx"))
      .groupBy("label")
      .agg(expr("transform(sort_array(collect_list(struct(dim, cx))), s -> s.cx)")
        .as("cvec"))
      .select(col("label").cast("long").as("cell"), col("cvec"),
        expr(dotSq("cvec", "cvec")).as("cnorm")))

  /** SCORE a vector frame against a trained codebook (broadcast scan). */
  private def scoreCells(vs: DataFrame, cells: DataFrame): DataFrame =
    vs.crossJoin(broadcast(cells))
      .withColumn("ccos", expr(dotSq("qv", "cvec")).cast("double") /
        (sqrt(col("vnorm").cast("double")) * sqrt(col("cnorm").cast("double"))))
      .select(col("vec_id"), col("cell"), col("ccos"))

  /** TRAIN+SCORE, shared by s08/s14 (via their own split calls) and s11
    * (semantic dedup): cached — s11's pair stage reads it twice.
    */
  private def cellScores(v: DataFrame): DataFrame =
    graft.Caches.cache(scoreCells(v, cellCentroids(v)))

  /** Nearest-centroid assignment off a cellScores frame: map-side
    * graft_topk(k=1) — one shuffled row per vector, ties to the lower
    * cell id (matching the oracle's `ORDER BY ccos DESC, cell ASC`).
    */
  private def assignCells(scored: DataFrame): DataFrame = scored
    .groupBy("vec_id")
    .agg(expr("graft_topk(ccos, cell, 1)").as("top"))
    .select(col("vec_id"), element_at(col("top"), 1).getField("id").as("cell"))

  /** Metadata-filtered IVF ANN (the vector-DB staple: "nearest docs
    * WHERE lang = en"): the index is built once on the FULL corpus
    * (codebook + assignments unchanged — the production reality), and
    * the predicate applies at search time to the candidate stream
    * inside the probed cells, with nProbe WIDENED (4 vs s08's 2) to
    * offset the selectivity — the standard filtered-search recipe
    * (post-filtering a k-truncated result loses recall; filtering
    * BEFORE the top-k keeps it). Every emitted neighbor satisfies the
    * predicate; ranking/tiebreaks are s08's exactly.
    *
    * 100 TB posture: identical to s08 plus one predicate on the
    * cell-join's corpus side — evaluated before the per-query top-k
    * heap, so the shuffle still carries k rows per query; the filter
    * composes with partition pruning when the predicate is a
    * partition column.
    */
  def s26FilteredAnn(spark: SparkSession, dir: String): DataFrame = {
    val v = graft.Caches.cache(vectors(spark, dir))
    ivfTopK(v, col("vec_id") % 50 === 0, nProbe = 4, k = 5,
      corpusFilter = col("vec_id") % 3 === 1)
  }

  private[graft] def ivfTopK(
      v: DataFrame, isQuery: Column, nProbe: Int, k: Int,
      corpusFilter: Column = lit(true)): DataFrame = {
    // One corpus-wide scoring pass feeds the assignment; the probe side
    // re-scores only the tiny query set against the same materialized
    // codebook. Nothing corpus-sized is shared between subtrees, so
    // AQE's parallel stage submission has nothing to race (measured on
    // 50k planted vectors, NOTES.md "ANN scaling measurement": the old
    // shared-cache form ran the scoring pass up to twice, 42s warm;
    // this form is stable ~10s).
    val cells = cellCentroids(v)
    val assigned = assignCells(scoreCells(v, cells))
    val probes = scoreCells(v.filter(isQuery), cells)
      .groupBy(col("vec_id").as("qid"))
      .agg(expr(s"graft_topk(ccos, cell, $nProbe)").as("top"))
      .select(col("qid"), explode(col("top").getField("id")).as("cell"))
    // SEARCH: exact cosine inside the probed cells only.
    val q = v.filter(isQuery).select(col("vec_id").as("qid"),
      col("qv").as("qemb"), col("vnorm").as("qnorm"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    v.filter(corpusFilter).join(assigned, Seq("vec_id"))
      .join(broadcast(probes.join(q, Seq("qid"))), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("dot", expr(dotSq("qemb", "qv")))
      .withColumn("cosine", cosine)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id").as("neighbor_id"),
        col("rank").cast("long").as("rank"), col("cosine"))
      .orderBy("qid", "rank")
  }

  /** Per-vector int8 scalar quantization (symmetric, like FAISS SQ8):
    * scale = max |component|, q_i = round(x_i * 127 / scale). The CASE
    * guards the all-zero vector (scale 0 -> divide by 1, q stays 0).
    */
  private val absMax8 =
    "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"
  // the scale is a separate per-row column (sc8), NOT inlined into the
  // quantize lambda: inlined, the 64-element array_max fold re-ran
  // inside EVERY element's lambda (twice, through the CASE) — O(d^2)
  // interpreted work per row (r15, guide §4 expression tier). Values
  // are bit-identical; the column is dropped after use.
  private val scale8 =
    s"CASE WHEN $absMax8 = 0 THEN CAST(1 AS DOUBLE) ELSE $absMax8 END"
  private val quantize8 =
    "transform(embedding, x -> " +
      "CAST(round(CAST(x AS DOUBLE) * 127 / sc8) AS BIGINT))"

  /** Quantize-then-rescore KNN (the SQ8 recipe): the corpus-wide scan
    * ranks candidates by INT8 cosine (per-query top-20 via the map-side
    * graft_topk heap), then only that 20-candidate pool is re-scored at
    * full precision for the final top-5. Both stages are deterministic
    * (integer dots, fixed double expression trees), so the result is
    * oracle-exact — no recall estimate needed.
    *
    * 100 TB posture: the expensive pass over the whole corpus touches
    * only the 8-bit codes — in a production layout a packed binary
    * column an eighth the size of the float vectors (here array<bigint>
    * carries the VALUES; the packing is storage engineering, the
    * quantize -> coarse-rank -> rescore plan is the operator) — and the
    * full-precision vectors are read for just k' << n candidates per
    * query via the pool join. Shuffle = 20 rows/query out of the heap
    * agg, then a pool-sized join; never the corpus.
    */
  def s10QuantizedRescore(spark: SparkSession, dir: String): DataFrame =
    quantizedRescoreTopK(vectors(spark, dir), col("vec_id") % 50 === 0,
      poolK = 20, k = 5)

  /** SQ8 core over any prepared (vec_id, qv, vnorm, embedding) frame —
    * exposed so the spec can measure pool recall on planted corpora.
    */
  private[graft] def quantizedRescoreTopK(
      prepared: DataFrame, isQuery: Column, poolK: Int, k: Int): DataFrame = {
    val v = graft.Caches.cache(
      prepared
        .withColumn("sc8", expr(scale8))
        .withColumn("q8", expr(quantize8))
        .drop("sc8")
        .withColumn("n8", expr(dotSq("q8", "q8"))))
    val q = v.filter(isQuery).select(
      col("vec_id").as("qid"), col("q8").as("qemb8"), col("n8").as("qn8"),
      col("qv").as("qemb"), col("vnorm").as("qnorm"))
    // stage 1: int8 coarse ranking, bounded heap per query
    val pool = v.select("vec_id", "q8", "n8")
      .crossJoin(broadcast(q.select("qid", "qemb8", "qn8")))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("q_cosine", expr(dotSq("qemb8", "q8")).cast("double") /
        (sqrt(col("qn8").cast("double")) * sqrt(col("n8").cast("double"))))
      .groupBy(col("qid"))
      .agg(expr(s"graft_topk(q_cosine, vec_id, $poolK)").as("top"))
      .select(col("qid"), explode(col("top")).as("t"))
      .select(col("qid"), col("t.id").as("vec_id"),
        col("t.score").as("q_cosine"))
    // stage 2: full-precision rescore of the pool only
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    pool
      .join(v.select("vec_id", "qv", "vnorm"), Seq("vec_id"))
      .join(broadcast(q.select("qid", "qemb", "qnorm")), Seq("qid"))
      .withColumn("dot", expr(dotSq("qemb", "qv")))
      .withColumn("cosine", cosine)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id").as("neighbor_id"),
        col("rank").cast("long").as("rank"), col("cosine"), col("q_cosine"))
      .orderBy("qid", "rank")
  }

  /** s11 similarity threshold: this corpus's near-dup convention (s03
    * uses the same 0.35 — its cosines top out ~0.47, so a "dedup-like"
    * 0.95+ bar would be vacuously empty here; production corpora run
    * 0.95-0.99).
    */
  private val SemDedupTau = 0.35

  /** Semantic dedup — the SemDeDup recipe (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus by nearest centroid, call two
    * documents semantic duplicates only if they sit in the SAME cell
    * with cosine >= tau, and keep the smallest vec_id among duplicates
    * (a vector is removed iff a smaller-id cell-mate dominates it).
    * Output is the full per-vector verdict: cell, kept flag, dominating
    * keeper and the strongest in-cell similarity.
    *
    * 100 TB posture: candidate pairs exist WITHIN a cell only — the
    * pairwise stage is a self-join on the cell key, never all-pairs;
    * assignment reuses s08's broadcast-codebook scan (one shuffled row
    * per vector via the k=1 heap). The removed set is duplicate-sized,
    * so downstream corpus filtering anti-joins a broadcast, exactly like
    * d11. Cell population bounds the quadratic term: at scale the
    * codebook's cluster count must grow with the corpus (the paper runs
    * ~100k clusters for web-scale corpora) — here the fixture's label
    * codebook stands in and the spec pins the within-cell pair count.
    */
  def s11SemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val v = graft.Caches.cache(vectors(spark, dir))
    val m = graft.Caches.cache(
      v.select("vec_id", "qv", "vnorm")
        .join(assignCells(cellScores(v)), Seq("vec_id")))
    val a = m.select(col("cell"), col("vec_id").as("id_a"),
      col("qv").as("emb_a"), col("vnorm").as("qnorm"))
    val b = m.select(col("cell"), col("vec_id").as("id_b"),
      col("qv").as("emb_b"), col("vnorm").as("vnorm"))
    val dominated = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dot", expr(dotSq("emb_a", "emb_b")))
      .withColumn("cos", cosine)
      .filter(col("cos") >= SemDedupTau)
      .groupBy(col("id_b").as("vec_id"))
      .agg(min(col("id_a")).as("keeper_id"), max(col("cos")).as("max_cosine"))
    m.select("vec_id", "cell")
      .join(dominated, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        col("keeper_id").isNull.as("kept"),
        col("keeper_id"), col("max_cosine"))
      .orderBy("vec_id")
  }

  /** s01's semantics re-planned with the graft_topk
    * TypedImperativeAggregate: per-partition bounded heaps partially
    * aggregate map-side, so the shuffle carries k rows per partition per
    * query instead of every scored candidate (the row_number window form
    * shuffles and sorts them all). Same results; the oracle is s01's SQL.
    */
  def s04KnnTopkAgg(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir)
    val q = v.filter(col("vec_id") % 50 === 0).select(
      col("vec_id").as("qid"), col("qv").as("qemb"),
      col("vnorm").as("qnorm"))
    v.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("dot", expr(dotSq("qemb", "qv")))
      .withColumn("cosine", cosine)
      .groupBy(col("qid"))
      .agg(expr("graft_topk(cosine, vec_id, 10)").as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("qid"), col("t.id").as("neighbor_id"),
        (col("pos") + 1).cast("long").as("rank"),
        col("t.score").as("cosine"))
      .orderBy("qid", "rank")
  }

  /** Per-label centroids (the training step an IVF coarse quantizer
    * runs): posexplode to (label, dim, x), one hash agg. Means are exact
    * integer sums of quantized components divided once.
    */
  def s06LabelCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .withColumn("qv", expr(quantize))
      .select(col("label"), posexplode(col("qv")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"),
        (sum(col("x")).cast("double") / (count(lit(1)) * 1e6))
          .as("mean_value"))
      // 1-based dim to match generate_subscripts in the oracle
      .select(col("label"), (col("dim") + 1).cast("long").as("dim"),
        col("n"), col("mean_value"))
      .orderBy("label", "dim")

  /** Maximum-inner-product search (MIPS) top-8 — the retrieval scoring
    * mode recommender/reranker embeddings use, DISTINCT from cosine:
    * the vector norm matters, so a long vector can out-score a
    * better-aligned short one, and cosine-tuned LSH does not apply
    * directly. Scores are the quantized integer dots themselves —
    * entirely integer output, zero float divergence risk. The plan is
    * the s04 shape (broadcast queries, graft_topk map-side k-heaps:
    * k rows per partition per query reach the shuffle; the dot rides
    * exactly into the heap's double score, |dot| < 2^53). At 100 TB
    * the candidate side stays a pure scan; for sub-linear candidates
    * the published reduction applies — augment rows to
    * [x; sqrt(M^2-|x|^2)], queries to [q; 0], making MIPS order equal
    * cosine order so s07/s08's banded/IVF buckets drop in unchanged.
    */
  def s12MipsTopk(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir)
    val q = v.filter(col("vec_id") % 50 === 25).select(
      col("vec_id").as("qid"), col("qv").as("qemb"))
    v.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("dot", expr(dotSq("qemb", "qv")))
      .groupBy(col("qid"))
      .agg(expr("graft_topk(CAST(dot AS DOUBLE), vec_id, 8)").as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("qid"), col("t.id").as("neighbor_id"),
        (col("pos") + 1).cast("long").as("rank"),
        col("t.score").cast("long").as("dot"))
      .orderBy("qid", "rank")
  }

  /** Product-quantization ADC top-8 (the FAISS IndexPQ search shape —
    * the memory-bound regime's answer, next to s08's IVF and s10's SQ8):
    * vectors are ENCODED as 8 sub-codeword ids (one per 8-dim subspace,
    * nearest sub-centroid in integer L2, ties to the lower code), and
    * queries scan the code table with ASYMMETRIC distance — per query, a
    * 10x8 table of exact query-to-sub-centroid distances is built once,
    * and each candidate's distance is 8 table lookups summed, touching
    * no raw vector data.
    *
    * Training reuses s08's deterministic codebook (per-label rounded-mean
    * components at the 1e6 integer scale, here sliced per subspace), so
    * every distance is an exact integer sum — bit-identical across
    * engines, zero float divergence.
    *
    * 100 TB posture: the corpus-resident structure is 8 small ints per
    * vector (vs 64 floats raw — the 32x memory cut that lets a trillion-
    * vector index fit a cluster's RAM); encoding is one broadcast join
    * against the 10-row codebook + two narrow shuffles, ADC scanning is
    * a broadcast-queries scan (the s01/s04 family) whose per-pair cost
    * is 8 integer lookups instead of a 64-dim dot, with map-side
    * graft_topk heaps so the shuffle carries k rows per partition per
    * query. For sub-linear candidate counts this composes directly with
    * s08: probe IVF cells first, ADC-rank inside each cell.
    */
  def s13PqAdc(spark: SparkSession, dir: String): DataFrame =
    pqAdcTopK(graft.Caches.cache(vectors(spark, dir)),
      col("vec_id") % 50 === 0, k = 8)

  private val PqM = 8 // subspaces
  private val PqSub = 8 // dims per subspace

  /** Per-label rounded-mean codebook (code, cvec) — s08's training step,
    * reused by PQ as 8 sub-codewords sliced from each 64-dim centroid.
    */
  private[graft] def pqCodebook(v: DataFrame): DataFrame =
    v.select(col("label"), posexplode(col("qv")).as(Seq("dim", "x")))
      .groupBy("label", "dim")
      .agg(expr("CAST(round(CAST(sum(x) AS DOUBLE) / count(*)) AS BIGINT)")
        .as("cx"))
      .groupBy("label")
      .agg(expr("transform(sort_array(collect_list(struct(dim, cx))), s -> s.cx)")
        .as("cvec"))
      .select(col("label").cast("long").as("code"), col("cvec"))

  /** Integer L2 of every vector against every sub-codeword — n x
    * |codebook| narrow rows (vec_id, code, ds[8]) from one broadcast
    * join. The 8 per-subspace sums come from the codegen'd
    * graft_pq_dists kernel: same values as the
    * aggregate(sequence(...)) higher-order form, but one JVM loop per
    * pair instead of 8 interpreted lambdas (ArrayAggregate is
    * CodegenFallback — measured 2x end-to-end on 50k planted vectors,
    * NOTES.md "ANN scaling measurement", PQ-ADC row).
    * Feeds encoding (argmin per subspace) and the per-query ADC tables.
    */
  private[graft] def pqSubDists(v: DataFrame, cb: DataFrame): DataFrame =
    v.crossJoin(broadcast(cb))
      .select(col("vec_id"), col("code"),
        expr("graft_pq_dists(qv, cvec)").as("ds"))

  /** ENCODE: per-subspace argmin codeword (struct min: distance, then
    * lower code) — the 8-codes-per-vector PQ code table.
    */
  private[graft] def pqEncode(sd: DataFrame): DataFrame =
    sd.groupBy("vec_id").agg(
      array((0 until PqM).map(m =>
        min(struct(element_at(col("ds"), m + 1), col("code")))
          .getField("code")): _*).as("codes"))

  /** Per-query ADC table: the 8 sub-distances of EVERY codeword,
    * flattened code-major into one array — lookup index is
    * code*8 + m + 1, an O(1) array load (a code->array MAP here costs a
    * LINEAR probe of the map per lookup — measured 3x slower end-to-end
    * at a 100-codeword codebook). Requires dense 0..L-1 codeword ids,
    * which `label` satisfies in this fixture and any k-means codebook
    * satisfies by construction.
    *
    * Built from a QUERY-ONLY sub-distance frame: queries are the tiny
    * side, so this never touches the corpus-wide (vector x codeword)
    * frame — sharing one cached frame between the encode and the table
    * build measurably backfires (AQE submits the two independent
    * subtrees in parallel and they race the cache into duplicate
    * computation; the d11/minLabelPropagate lesson).
    */
  private def pqQueryTabs(sdQ: DataFrame): DataFrame =
    sdQ.groupBy(col("vec_id").as("qid"))
      .agg(expr("flatten(transform(array_sort(collect_list(struct(code, ds)))," +
        " s -> s.ds))").as("dtab"))

  /** The ADC lookup sum: 8 array loads from the query's distance table,
    * indexed by the candidate's codes — no vector data touched
    * (codegen'd graft_adc kernel).
    */
  private val adcSum = expr("graft_adc(dtab, codes)")

  /** Rank + present a (qid, vec_id, adc) pair frame via map-side k-heaps. */
  private def adcTopK(pairs: DataFrame, k: Int): DataFrame = pairs
    .groupBy("qid")
    .agg(expr(s"graft_topk(CAST(-adc AS DOUBLE), vec_id, $k)").as("top"))
    .select(col("qid"), posexplode(col("top")).as(Seq("pos", "t")))
    .select(col("qid"), col("t.id").as("neighbor_id"),
      (col("pos") + 1).cast("long").as("rank"),
      (-col("t.score")).cast("long").as("adc_dist"))
    .orderBy("qid", "rank")

  /** Codebook, eagerly materialized: both the encode scan and the query
    * tables read it, and it is L rows — one tiny job now beats two
    * concurrent recomputations of its corpus-wide training agg later.
    */
  private def pqTrainedCodebook(v: DataFrame): DataFrame =
    graft.Caches.checkpoint(pqCodebook(v))

  private[graft] def pqAdcTopK(v: DataFrame, isQuery: Column, k: Int): DataFrame = {
    val cb = pqTrainedCodebook(v)
    adcTopK(
      pqEncode(pqSubDists(v, cb))
        .crossJoin(broadcast(pqQueryTabs(pqSubDists(v.filter(isQuery), cb))))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("adc", adcSum),
      k)
  }

  /** IVF + PQ composed (the FAISS IndexIVFPQ shape — THE standard
    * billion-scale ANN index): s08's coarse quantizer prunes the corpus
    * to each query's nProbe=2 nearest cells, and s13's ADC ranks inside
    * those cells by table lookups over the 8-byte PQ codes. Neither
    * raw vectors nor sub-distances ever reach the scan: the corpus side
    * of the search is (vec_id, cell, codes) — the code table IS the
    * index.
    *
    * 100 TB posture: this closes the gap s13's scan leaves — candidates
    * per query drop from n to ~n*nProbe/cells BEFORE any distance work,
    * while the per-candidate cost stays 8 integer lookups. The cell
    * join keys the corpus by `cell` (the IVF partition key a real
    * deployment co-partitions storage by), the probe side broadcasts
    * (queries x nProbe rows + their 80-entry tables), and the top-k is
    * the map-side heap shuffle. Train/encode are the same one-broadcast-
    * join passes as s08/s13.
    */
  def s14IvfPq(spark: SparkSession, dir: String): DataFrame =
    ivfPqTopK(graft.Caches.cache(vectors(spark, dir)),
      col("vec_id") % 50 === 0, nProbe = 2, k = 5)

  /** The s14 core over any prepared vectors frame (its 10x-corpus row:
    * NOTES.md "ANN scaling measurement", IVF+PQ composed).
    */
  private[graft] def ivfPqTopK(
      v: DataFrame, isQuery: Column, nProbe: Int, k: Int): DataFrame = {
    val cells = cellCentroids(v)
    val assigned = assignCells(scoreCells(v, cells))
    val probes = scoreCells(v.filter(isQuery), cells)
      .groupBy(col("vec_id").as("qid"))
      .agg(expr(s"graft_topk(ccos, cell, $nProbe)").as("top"))
      .select(col("qid"), explode(col("top").getField("id")).as("cell"))
    val cb = pqTrainedCodebook(v)
    adcTopK(
      pqEncode(pqSubDists(v, cb)).join(assigned, Seq("vec_id"))
        .join(broadcast(probes.join(
          pqQueryTabs(pqSubDists(v.filter(isQuery), cb)), Seq("qid"))),
          Seq("cell"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("adc", adcSum),
      k)
  }

  /** Hybrid retrieval with reciprocal-rank fusion (RRF, Cormack et al.
    * SIGIR'09 — the fusion modern lexical+vector search stacks run):
    * for each query doc (doc_id % 100 = 0, embeddings align 1:1 with
    * documents on id), rank candidates on a LEXICAL channel
    * (shared-distinct-word-bigram count — the d05 n-gram idiom) and a
    * VECTOR channel (exact quantized cosine, the s01 idiom), keep each
    * channel's top-20, fuse with rrf = 1/(60+r_text) + 1/(60+r_vec)
    * (absent-from-list contributes 0), emit the fused top-10.
    *
    * Determinism: ranks are integer row_numbers with doc_id tiebreaks;
    * rrf is two IEEE divisions and ONE addition in fixed order —
    * bit-identical across engines. Scale posture: the lexical channel
    * is an equality join on bigram (broadcast query side, map-side
    * combine into the (qid, doc) agg); the vector channel is the
    * broadcast-queries corpus scan (swap in s07/s08 banding per query
    * volume); the fusion full-outer join touches only the two bounded
    * top-k lists — 40 rows per query, never corpus-sized.
    */
  /** Document-frequency cap for s15's lexical channel: grams held by
    * more than `maxDf` documents are stop-grams — they carry no
    * discriminating signal and their posting lists dominate the join
    * (this corpus's ~900-bigram dense vocabulary made the uncapped
    * channel join ~15M rows at sf0.1 — the honest worst case r5's
    * VERDICT asked to turn into a lever). The cut is applied as a
    * LEFT ANTI join against the stop-gram list because that list is
    * the provably SMALL side (at most total-postings / maxDf grams can
    * exceed the cap), so it broadcasts at any corpus size, while the
    * kept rare-gram vocabulary grows with the corpus.
    */
  private[graft] val S15MaxDf = 100

  def s15RrfHybrid(spark: SparkSession, dir: String): DataFrame =
    s15RrfHybrid(spark, dir, S15MaxDf)

  private[graft] def s15RrfHybrid(
      spark: SparkSession, dir: String, maxDf: Int): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // graft_ngrams_distinct: one byte pass per row (r16, NgramKernelSpec)
    val bgAll = graft.Caches.cache(Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(expr("graft_ngrams_distinct(text, 2)")).as("bg")))
    // bgAll is distinct per (doc, gram) (array_distinct before the
    // explode), so count(*) per gram IS the document frequency.
    val stop = bgAll.groupBy("bg")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select("bg")
    // The CUT posting list is what both channel scans reuse — cache it,
    // so the anti join against the broadcast stop list runs once.
    val bg = graft.Caches.cache(
      bgAll.join(broadcast(stop), Seq("bg"), "left_anti"))
    val qb = bg.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("qid"), col("bg"))
    val wT = Window.partitionBy(col("qid"))
      .orderBy(col("shared").desc, col("doc_id").asc)
    val textTop = bg.join(broadcast(qb), Seq("bg"))
      .filter(col("doc_id") =!= col("qid"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("text_rank", row_number().over(wT))
      .filter(col("text_rank") <= 20)
      .select(col("qid"), col("doc_id"),
        col("text_rank").cast("long").as("text_rank"))
    val v = vectors(spark, dir)
    val qv = v.filter(col("vec_id") % 100 === 0).select(
      col("vec_id").as("qid"), col("qv").as("qemb"),
      col("vnorm").as("qnorm"))
    val wV = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    val vecTop = v.crossJoin(broadcast(qv))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("dot", expr(dotSq("qemb", "qv")))
      .withColumn("cosine", cosine)
      .withColumn("vec_rank", row_number().over(wV))
      .filter(col("vec_rank") <= 20)
      .select(col("qid"), col("vec_id").as("doc_id"),
        col("vec_rank").cast("long").as("vec_rank"))
    val wF = Window.partitionBy(col("qid"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
    textTop.join(vecTop, Seq("qid", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60) + col("text_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("vec_rank")), lit(0.0)))
      .withColumn("final_rank", row_number().over(wF))
      .filter(col("final_rank") <= 10)
      .select(col("qid"), col("doc_id"), col("text_rank"), col("vec_rank"),
        col("rrf"), col("final_rank").cast("long").as("final_rank"))
      .orderBy("qid", "final_rank")
  }

  /** Sparse TF-cosine near-dup pairs over word-4-gram postings — the
    * SPARSE-vector twin of s03's dense embedding channel (and the
    * cosine twin of d05's set Jaccard): docs are sparse count vectors
    * in 4-gram space, dot products accumulate through a posting-list
    * self-join on the gram (sum tf_a*tf_b over shared grams — the
    * classic search-engine/DISCO formulation), norms are per-doc
    * integer aggregates, and the >= 0.6 cosine gate is evaluated as
    * the integer cross-multiplication 25*dot^2 >= 9*na*nb — no float
    * enters the predicate, so the pair set is bit-identical across
    * engines (the reported cosine is one IEEE expression per row).
    *
    * Scale mechanics: join work is sum over grams of df(g)^2 — 4-gram
    * df concentrates near 1 (measured max df 6 at sf0.1), so the join
    * stays linear-ish in corpus size; a natural-language corpus caps
    * hot grams (stopword runs) with a df ceiling on the CANDIDATE side
    * or reuses d03's banding, then verifies with this exact dot. One
    * hash shuffle on gram + one on the pair key; norms broadcast-join
    * the O(pairs) result.
    */
  def s16SparseCosine(spark: SparkSession, dir: String): DataFrame =
    sparseCosinePairs(Tables.documents(spark, dir).select("doc_id", "text"))

  /** The s16 core over any (doc_id, text) frame (its posting-join
    * rows on a planted corpus: NOTES.md "Sparse-cosine scaling").
    */
  private[graft] def sparseCosinePairs(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // graft_ngrams (multiset — tf counts need every occurrence): one
    // byte pass per row (r16, NgramKernelSpec)
    val p = graft.Caches.cache(docs
      .select(col("doc_id"), explode(expr("graft_ngrams(text, 4)")).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("tf")))
    val n = p.groupBy("doc_id").agg(sum(col("tf") * col("tf")).as("nsq"))
    // r15 restructure (guide §2.4 + the NOTES pair-gen idea): the dot
    // accumulation used to be a posting self-join on the gram — TWO
    // corpus-sized shuffles of p (or a full-frame broadcast build at
    // bench scale). One gram-keyed collect of the posting list emits
    // the same per-gram doc pairs from a sorted array instead: ONE
    // shuffle of p, no broadcast. Skew is unchanged (a hot gram's
    // df(g)^2 pairs land in the one task owning that gram key under
    // the join form too); per-gram memory is df(g) entries, bounded by
    // the documented df ceiling discipline. Pair multiset identical
    // (sort_array ⇒ canonical doc_a < doc_b).
    val d = p
      .groupBy("g").agg(sort_array(collect_list(
        struct(col("doc_id"), col("tf")))).as("ps"))
      .select(explode(expr(
        "flatten(transform(ps, (x, i) -> " +
          "transform(slice(ps, i + 2, size(ps)), " +
          "y -> struct(x.doc_id AS doc_a, y.doc_id AS doc_b, " +
          "x.tf * y.tf AS prod))))")).as("pr"))
      .select(col("pr.doc_a").as("doc_a"), col("pr.doc_b").as("doc_b"),
        col("pr.prod").as("prod"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(col("prod")).as("dot"))
    d.join(n.select(col("doc_id").as("doc_a"), col("nsq").as("norm_a")),
        Seq("doc_a"))
      .join(n.select(col("doc_id").as("doc_b"), col("nsq").as("norm_b")),
        Seq("doc_b"))
      .filter(col("dot") * col("dot") * 25 >= col("norm_a") * col("norm_b") * 9)
      .select(col("doc_a"), col("doc_b"), col("dot"),
        col("norm_a"), col("norm_b"),
        (col("dot").cast("double") /
          (sqrt(col("norm_a").cast("double")) *
            sqrt(col("norm_b").cast("double")))).as("cosine"))
      .orderBy("doc_a", "doc_b")
  }

  /** Margin-based parallel-pair mining (Artetxe & Schwenk ACL'19 — the
    * LASER/CCMatrix bitext-mining criterion) between two vector
    * corpora: side A = even vec_ids, side B = odd. A pair (a, b) is
    * kept iff it is a MUTUAL best match (b is a's cosine-best B vector
    * AND a is b's best A vector) with an absolute margin — best minus
    * second-best cosine — of at least 0.05. Raw nearest-neighbor cosine
    * over-accepts hubs (vectors near everything); the margin demands
    * the best match STAND OUT from the runner-up, and mutuality kills
    * asymmetric hub matches — the two filters that made mined bitext
    * usable as training data. Determinism: integer dots, both rankings
    * tie-break on the partner id, and margin is one subtraction of two
    * identically-computed doubles; margin appears in filter and output
    * as the same expression.
    *
    * 100 TB posture: the exact all-pairs dot stage here is the
    * DECLARATIVE statement (what the oracle states); at corpus scale
    * the same mutual+margin rule runs unchanged over s07's banded
    * candidate lists (margin then measured within each candidate set —
    * the approximation CCMatrix itself makes). Both window passes are
    * single-key shuffles (by aid, by bid); everything downstream is
    * matched-pair-sized.
    */
  def s18MarginMining(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir)
    val a = v.filter(col("vec_id") % 2 === 0).select(
      col("vec_id").as("a_id"), col("qv").as("qa"), col("vnorm").as("na"))
    val b = v.filter(col("vec_id") % 2 === 1).select(
      col("vec_id").as("b_id"), col("qv").as("qb"), col("vnorm").as("nb"))
    // Explicit broadcast on the B half: this is what AQE already picks at
    // this scale (the PlanAudit-allowlisted BNLJ), and the explicit hint
    // is the author's bounded-side declaration the CrossJoinGuard honors
    // on the GraftExtensions path (ADVICE r7) — without it the guard
    // would reject this declarative stage once both halves' estimates
    // cross the 64 MiB bound. At corpus scale neither half broadcasts:
    // the same mutual+margin rule runs over s07's banded candidates
    // (equality join), as the scaladoc states.
    val c = a.crossJoin(broadcast(b))
      .withColumn("dot", expr(dotSq("qa", "qb")))
      .select(col("a_id"), col("b_id"),
        (col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
          .as("cos"))
    val wf = Window.partitionBy(col("a_id"))
      .orderBy(col("cos").desc, col("b_id").asc)
    val wb = Window.partitionBy(col("b_id"))
      .orderBy(col("cos").desc, col("a_id").asc)
    // cached: the mutual and runner-up branches both read this frame —
    // uncached, the dot stage and both window sorts would run twice
    val ranked = graft.Caches.cache(c
      .withColumn("rf", row_number().over(wf))
      .withColumn("rb", row_number().over(wb)))
    val mutual = ranked.filter(col("rf") === 1 && col("rb") === 1)
      .select(col("a_id"), col("b_id"), col("cos").as("cos_best"))
    val second = ranked.filter(col("rf") === 2)
      .select(col("a_id"), col("cos").as("cos_second"))
    mutual.join(second, Seq("a_id"))
      .filter(col("cos_best") - col("cos_second") >= 0.05)
      .select(col("a_id"), col("b_id"), col("cos_best"), col("cos_second"),
        (col("cos_best") - col("cos_second")).as("margin"))
      .orderBy("a_id")
  }

  // ---------------------------------------------------------------------
  // s19: write-once IVF index per dataset dir — the codebook and the
  // postings are two `graft.Materialized` tables, the vector-side twin
  // of DedupOps' band table and pair graph. The postings build reads
  // the materialized codebook, so the codebook is always built first.
  // In production this is the persisted index a vector store
  // maintains; both are built from the CORPUS slice only
  // (vec_id % 10 != 7 — the % 10 = 7 slice is "today's batch").
  // ---------------------------------------------------------------------

  private def ivfCorpus(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.cache(vectors(spark, dir).filter(col("vec_id") % 10 =!= 7))

  /** The raw (unmaterialized) IVF codebook build — exposed so
    * PlanAuditSpec can audit the write-once build the query sweep never
    * sees.
    */
  private[graft] def ivfCodebookBuild(
      spark: SparkSession, dir: String): DataFrame =
    cellCentroids(ivfCorpus(spark, dir))

  /** The raw IVF postings build: the corpus scored against the
    * materialized codebook (a broadcast scan).
    */
  private[graft] def ivfPostingsBuild(
      spark: SparkSession, dir: String): DataFrame =
    assignCells(scoreCells(ivfCorpus(spark, dir), ivfCodebook(spark, dir)))

  /** The materialized (cell, cvec, cnorm) IVF codebook for `dir`. */
  private def ivfCodebook(spark: SparkSession, dir: String): DataFrame =
    graft.Materialized.table(spark, s"ivf_codebook:$dir", dir)(
      ivfCodebookBuild(spark, dir))

  /** The materialized (vec_id, cell) IVF postings for `dir`. */
  private def ivfPostings(spark: SparkSession, dir: String): DataFrame =
    graft.Materialized.table(spark, s"ivf_postings:$dir", dir)(
      ivfPostingsBuild(spark, dir))

  /** Incremental ANN index maintenance (the d09 posture for vectors —
    * what a vector store does on a daily embedding batch): assign the
    * new batch (vec_id % 10 = 7) against the FROZEN persisted codebook
    * and append to the postings; the corpus is never re-scored and the
    * codebook never retrained (periodic re-train is a separate offline
    * job in every production IVF deployment — Faiss/Milvus semantics).
    * Emits one row per batch vector with its assigned cell and the
    * cell's before/after posting counts — the index-growth report a
    * team reviews for cell skew (a drifting embedding distribution
    * shows up as a few cells absorbing every new vector, the signal
    * that the offline re-train is due).
    *
    * 100 TB posture: per batch the work is batch_size x L codebook
    * scores (broadcast codebook, map-side graft_topk(1)) + one
    * postings-count agg off the PERSISTED index — the corpus never
    * rescans; the full-rebuild form re-scores every vector every day.
    * Determinism: integer dots, ties to the lower cell id, counts
    * exact.
    */
  def s19IvfAppend(spark: SparkSession, dir: String): DataFrame = {
    val codebook = ivfCodebook(spark, dir)
    val postings = ivfPostings(spark, dir)
    val batch = vectors(spark, dir).filter(col("vec_id") % 10 === 7)
    val asg = assignCells(scoreCells(batch, codebook))
    val before = postings.groupBy("cell").agg(count(lit(1)).as("n_before"))
    val added = asg.groupBy("cell").agg(count(lit(1)).as("n_added"))
    asg
      .join(before, Seq("cell"), "left")
      .join(added, Seq("cell"))
      .select(col("vec_id"), col("cell"),
        coalesce(col("n_before"), lit(0L)).as("cell_n_before"),
        (coalesce(col("n_before"), lit(0L)) + col("n_added"))
          .as("cell_n_after"))
      .orderBy("vec_id")
  }

  /** Tombstone / compaction audit over the persisted IVF postings —
    * the DELETE half of index maintenance next to s19's append (the
    * FAISS IDSelector / vector-store tombstone semantics: a delete
    * never rewrites postings at write time; the id goes on a tombstone
    * list that search anti-joins, and a background compactor rewrites
    * a cell only when its dead share crosses a threshold). Tombstones
    * here are vec_id mod 10 = 4 (a batch-delete stand-in, disjoint
    * from s19's mod-10=7 append batch). Per cell: posting count, dead
    * and live counts, live share (one division), the compaction flag
    * at the 25% dead threshold as the exact integer test
    * 4·n_tombstoned >= n_postings (no float threshold), and the
    * rewrite bill — live rows the compactor must copy, zero where the
    * flag is down. Zero-tombstone cells are real rows (the d23
    * discipline): a flat zero column IS the healthy readout.
    *
    * 100 TB posture: the corpus is never re-scored — the only input is
    * the PERSISTED postings (one narrow row per indexed vector) and the
    * work is ONE cell-keyed map-side-combined count agg; the tombstone
    * test is a pure per-row predicate, so no tombstone-list join at
    * all at audit time (search-time filtering is s26's candidate-side
    * predicate shape).
    */
  def s25TombstoneCompact(spark: SparkSession, dir: String): DataFrame = {
    tombstoneCompactOf(ivfPostings(spark, dir),
      col("vec_id") % 10 === 4)
  }

  /** s25 core over any (vec_id, cell) postings frame — spec-shared. */
  private[graft] def tombstoneCompactOf(
      postings: DataFrame, isTombstone: Column): DataFrame = {
    val dead = lit(4L) * col("n_tombstoned") >= col("n_postings")
    postings
      .groupBy("cell")
      .agg(count(lit(1)).as("n_postings"),
        sum(when(isTombstone, 1L).otherwise(0L)).as("n_tombstoned"))
      .select(col("cell"), col("n_postings"), col("n_tombstoned"),
        (col("n_postings") - col("n_tombstoned")).as("n_live"),
        ((col("n_postings") - col("n_tombstoned")).cast("double") /
          col("n_postings")).as("live_share"),
        when(dead, 1L).otherwise(0L).as("compact_flag"),
        when(dead, col("n_postings") - col("n_tombstoned"))
          .otherwise(0L).as("rewrite_rows"))
      .orderBy("cell")
  }

  /** Label-outlier review queue (embedding-side mislabel/OOD
    * curation): every vector scores against ITS OWN label's centroid
    * and the 3 worst-aligned vectors per label surface for review —
    * the SemDeDup-era data-curation primitive (a low own-centroid
    * cosine is either a mislabel, an out-of-distribution sample, or a
    * centroid poisoned by them; all three are what a curation pass
    * pulls before training). The bottom-k is exact: integer dots,
    * deterministic double division, (ccos asc, vec_id) total order.
    *
    * 100 TB posture: the centroid table is label-count-sized and
    * broadcast; scoring is ONE equality join on the label key (each
    * vector meets exactly its own centroid — never the s01 broadcast
    * scan over all cells); the bottom-3 rides a map-side graft_topk
    * heap on negated scores, so k rows per label per partition reach
    * the shuffle instead of the corpus.
    */
  def s32LabelOutliers(spark: SparkSession, dir: String): DataFrame =
    labelOutliersOf(spark, Tables.embeddings(spark, dir))

  /** s32 core over any (vec_id, embedding float[], label) frame. */
  private[graft] def labelOutliersOf(
      spark: SparkSession, emb: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val v = emb.withColumn("qv", expr(quantize))
      .select(col("vec_id"), col("qv"), col("label"),
        expr(dotSq("qv", "qv")).as("vnorm"))
    val cells = cellCentroids(v)
    val scored = v
      .select(col("vec_id"), col("label").cast("long").as("cell"),
        col("qv"), col("vnorm"))
      .join(broadcast(cells), Seq("cell"))
      .withColumn("ccos", expr(dotSq("qv", "cvec")).cast("double") /
        (sqrt(col("vnorm").cast("double")) *
          sqrt(col("cnorm").cast("double"))))
    scored.groupBy(col("cell"))
      .agg(expr("graft_topk(-ccos, vec_id, 3)").as("bot"))
      .select(col("cell").as("label"),
        posexplode(col("bot")).as(Seq("p", "s")))
      .select(col("label"), (col("p") + 1).cast("long").as("rank"),
        col("s.id").as("vec_id"), (-col("s.score")).as("ccos"))
      .orderBy("label", "rank")
  }

  /** D4 prototypicality pruning (E245) — the second half of the D4
    * recipe (SemDeDup first, then drop the most PROTOTYPICAL points:
    * the cluster cores a model learns from any one example of). Every
    * vector scores cosine to its OWN-label centroid (s32's join), ranks
    * within its label (ccos desc, vec_id tiebreak — most prototypical
    * first), and the exact-integer cut rank*10 <= n drops the top 10%.
    * s32 flags the label-noise TAIL of the same ranking; s36 prunes the
    * redundant HEAD — the two ends of one curve, opposite actions.
    *
    * 100 TB posture: the centroid table is label-count-sized and
    * broadcast; scoring is one equality join on the label key; the
    * rank window partitions by label over the corpus frame (the same
    * shuffle key as the scoring join — one exchange).
    */
  def s36Prototypicality(spark: SparkSession, dir: String): DataFrame =
    prototypicalityOf(spark, Tables.embeddings(spark, dir))

  /** s36 core over any (vec_id, embedding float[], label) frame. */
  private[graft] def prototypicalityOf(
      spark: SparkSession, emb: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val v = emb.withColumn("qv", expr(quantize))
      .select(col("vec_id"), col("qv"), col("label"),
        expr(dotSq("qv", "qv")).as("vnorm"))
    val cells = cellCentroids(v)
    val scored = v
      .select(col("vec_id"), col("label").cast("long").as("cell"),
        col("qv"), col("vnorm"))
      .join(broadcast(cells), Seq("cell"))
      .withColumn("ccos", expr(dotSq("qv", "cvec")).cast("double") /
        (sqrt(col("vnorm").cast("double")) *
          sqrt(col("cnorm").cast("double"))))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell"))
      .orderBy(col("ccos").desc, col("vec_id").asc)
    val wn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell"))
    scored
      .withColumn("proto_rank", row_number().over(wr).cast("long"))
      .withColumn("n_label", count(lit(1)).over(wn))
      .select(col("vec_id"), col("cell").as("label"), col("ccos"),
        col("proto_rank"), col("n_label"),
        when(col("proto_rank") * 10L <= col("n_label"), 1L)
          .otherwise(0L).as("dropped"))
      .orderBy("vec_id")
  }

  /** Dimension-truncated adaptive retrieval (the Matryoshka/MRL
    * pattern): a coarse pass ranks candidates on the FIRST 16 of 64
    * components — a 4x cheaper integer dot against every corpus vector
    * — then only the per-query top-20 pool is rescored at full
    * precision for the final top-5. The third rescore lever next to
    * s10 (precision axis: int8) and s13 (codebook axis: PQ/ADC); this
    * is the DIMENSION axis, the one MRL-trained embeddings are built
    * for (leading components carry the signal by construction; on
    * generic embeddings the spec measures how much survives).
    *
    * Determinism: integer dots at both stages, (score desc, id) total
    * orders everywhere; the coarse pool is a graft_topk bounded heap —
    * K rows per query per partition reach the shuffle.
    *
    * 100 TB posture: the corpus-sized stage touches 16 ints per vector
    * instead of 64 (at MRL scale: 64 of 768); the full-width read
    * happens for poolK rows per query only — column pruning delivers
    * exactly this when the truncated prefix is stored as its own
    * column/file group.
    */
  def s20TruncatedRescore(spark: SparkSession, dir: String): DataFrame =
    truncatedRescoreTopK(vectors(spark, dir), col("vec_id") % 50 === 0,
      dims = 16, poolK = 20, k = 5)

  /** s20's core over any prepared frame (spec-shared for planted
    * recall measurement).
    */
  private[graft] def truncatedRescoreTopK(
      prepared: DataFrame, isQuery: Column, dims: Int, poolK: Int,
      k: Int): DataFrame = {
    val v = graft.Caches.cache(
      prepared
        .withColumn("tv", expr(s"slice(qv, 1, $dims)"))
        .withColumn("tn", expr(dotSq("tv", "tv"))))
    val q = v.filter(isQuery).select(
      col("vec_id").as("qid"), col("tv").as("qtv"), col("tn").as("qtn"),
      col("qv").as("qemb"), col("vnorm").as("qnorm"))
    val pool = v.select("vec_id", "tv", "tn")
      .crossJoin(broadcast(q.select("qid", "qtv", "qtn")))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("coarse_cosine", expr(dotSq("qtv", "tv")).cast("double") /
        (sqrt(col("qtn").cast("double")) * sqrt(col("tn").cast("double"))))
      .groupBy(col("qid"))
      .agg(expr(s"graft_topk(coarse_cosine, vec_id, $poolK)").as("top"))
      .select(col("qid"), explode(col("top")).as("t"))
      .select(col("qid"), col("t.id").as("vec_id"),
        col("t.score").as("coarse_cosine"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    pool
      .join(v.select("vec_id", "qv", "vnorm"), Seq("vec_id"))
      .join(broadcast(q.select("qid", "qemb", "qnorm")), Seq("qid"))
      .withColumn("dot", expr(dotSq("qemb", "qv")))
      .withColumn("cosine", cosine)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id").as("neighbor_id"),
        col("rank").cast("long").as("rank"), col("cosine"),
        col("coarse_cosine"))
      .orderBy("qid", "rank")
  }

  /** Embedding centroid drift: per cell (label), the cosine between
    * the centroid computed on the EARLY corpus half (vec_id % 4 < 2)
    * and the LATE half — the direct measurement behind s19's
    * retrain-due signal (its scaladoc reads drift off cell-skew
    * symptoms; this reads it off the vectors). A cell whose two
    * half-centroids diverge is a region of embedding space whose
    * meaning moved between snapshots: the frozen IVF codebook still
    * routes around the OLD centroid, and recall decays there first.
    *
    * Determinism: both centroids use the s08 label-mean rule
    * (round(sum/n) back to the 1e6 integer scale — exact in both
    * engines at any corpus size); the drift cosine is integer dots +
    * the one shared IEEE division chain.
    *
    * 100 TB posture: two label-keyed hash aggs over disjoint halves
    * (one corpus scan total) + an L-row join — nothing pairwise,
    * nothing corpus-sized after the aggs.
    */
  def s21CentroidDrift(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir)
    def half(pred: Column): DataFrame =
      cellCentroids(v.filter(pred))
    val a = half(col("vec_id") % 4 < 2).select(
      col("cell"), col("cvec").as("ca"), col("cnorm").as("na"))
    val b = half(col("vec_id") % 4 >= 2).select(
      col("cell"), col("cvec").as("cb"), col("cnorm").as("nb"))
    val countsA = v.filter(col("vec_id") % 4 < 2)
      .groupBy(col("label").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_early"))
    val countsB = v.filter(col("vec_id") % 4 >= 2)
      .groupBy(col("label").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_late"))
    a.join(b, Seq("cell"))
      .join(countsA, Seq("cell")).join(countsB, Seq("cell"))
      .withColumn("dot", expr(dotSq("ca", "cb")))
      .select(col("cell"), col("n_early"), col("n_late"),
        (col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
          .as("centroid_cosine"))
      .orderBy("cell")
  }

  /** One Lloyd (k-means) refinement iteration over the corpus, seeded
    * from the label codebook (the s08/s06 centroids): every vector is
    * re-assigned to its nearest centroid by cosine (ties to the lower
    * cell — the s08 assignment rule), centroids are recomputed from the
    * new assignment, and the report says what the iteration DID — per
    * cell: seed population, post-assignment population, how many
    * arrivals came from a different seed label, and the integer L1
    * shift between old and new centroid (quantized scale). This is the
    * index-maintenance step s19/s21 motivate: s21 measures that cells
    * drifted, s19 appends against a frozen codebook — this is the
    * retrain move itself, and its l1_shift/n_moved columns are the
    * convergence signal a full Lloyd loop would iterate on (run-to-
    * fixpoint follows the d07/g03 loop discipline; one step is the
    * oracle-statable unit).
    *
    * Determinism: centroids by the s08 label-mean rule (round(sum/n)
    * back to integer scale), assignment cosine = integer dots + the
    * shared IEEE division chain, every report column an exact integer.
    *
    * 100 TB posture: one broadcast-codebook scoring scan (L-row
    * codebook, map-side graft_topk(1)), two label/cell-keyed hash aggs
    * (map-side combined posexplode partials), and L-row joins — the
    * corpus is scanned twice (score + recompute), nothing pairwise.
    */
  def s22KmeansRefine(spark: SparkSession, dir: String): DataFrame =
    kmeansRefine(graft.Caches.cache(vectors(spark, dir)))

  /** The s22 body over any (vec_id, qv, vnorm, label) frame — exposed
    * so the spec can plant a mislabeled vector and hand-compute the
    * resulting move and centroid shifts.
    */
  private[graft] def kmeansRefine(v: DataFrame): DataFrame = {
    val cells = cellCentroids(v) // checkpointed L-row codebook
    val assigned = assignCells(scoreCells(v, cells))
    val after = assigned.join(
      v.select(col("vec_id"), col("qv"),
        col("label").cast("long").as("seed_cell")), Seq("vec_id"))
    val nBefore = v.groupBy(col("label").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_before"))
    val stats = after.groupBy("cell")
      .agg(count(lit(1)).as("n_after"),
        sum(when(col("seed_cell") =!= col("cell"), 1L).otherwise(0L))
          .as("n_moved_in"))
    val newCent = after
      .select(col("cell"), posexplode(col("qv")).as(Seq("dim", "x")))
      .groupBy("cell", "dim")
      .agg(expr("CAST(round(CAST(sum(x) AS DOUBLE) / count(*)) AS BIGINT)")
        .as("nx"))
    val oldCent = cells
      .select(col("cell"), posexplode(col("cvec")).as(Seq("dim", "cx")))
    val shift = newCent.join(oldCent, Seq("cell", "dim"))
      .groupBy("cell")
      .agg(sum(abs(col("nx") - col("cx"))).as("l1_shift"))
    nBefore.join(stats, Seq("cell"), "left")
      .join(shift, Seq("cell"), "left")
      .select(col("cell"), col("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        coalesce(col("n_moved_in"), lit(0L)).as("n_moved_in"),
        col("l1_shift"))
      .orderBy("cell")
  }

  /** Index coverage-gap mining: the 10 corpus vectors WORST served by
    * the current codebook — lowest best-centroid cosine, ties to the
    * lower vec_id. These are the k-center/k-means++ seeding candidates
    * (the farthest-point rule picks exactly the top row) and the
    * region-to-add-capacity report an index operator reads before
    * s22's refinement or a codebook grow: a vector far from EVERY
    * centroid is routed badly no matter how nProbe is tuned (s08), and
    * a cluster of such vectors is a missing cell.
    *
    * Determinism: the s08 scoring chain (integer dots, shared IEEE
    * division), best cell by graft_topk(1) with the (ccos desc, cell
    * asc) tie rule, global bottom-10 by the (best_cos asc, vec_id asc)
    * total order.
    *
    * 100 TB posture: one broadcast-codebook scan + map-side
    * graft_topk(1) per vector; the global bottom-k is orderBy+limit —
    * Spark's TakeOrdered, a per-partition heap + driver merge of K
    * rows, never a global sort.
    */
  def s23CoverageGaps(spark: SparkSession, dir: String): DataFrame =
    coverageGaps(graft.Caches.cache(vectors(spark, dir)), 10)

  /** The s23 body over any (vec_id, qv, vnorm, label) frame — exposed
    * so the spec can plant an uncovered outlier.
    */
  private[graft] def coverageGaps(v: DataFrame, k: Int): DataFrame = {
    val best = scoreCells(v, cellCentroids(v))
      .groupBy("vec_id")
      .agg(expr("graft_topk(ccos, cell, 1)").as("top"))
      .select(col("vec_id"),
        element_at(col("top"), 1).getField("id").as("cell"),
        element_at(col("top"), 1).getField("score").as("best_cos"))
    best.orderBy(col("best_cos").asc, col("vec_id").asc).limit(k)
  }

  /** One Lloyd step of PQ CODEBOOK TRAINING, per subspace — the train
    * move s13/s14 assume already happened (their codebook is the seed
    * label-mean sliced per subspace; FAISS's `train()` runs k-means per
    * subspace on the sub-vectors). For every (subspace, code): the seed
    * population (vectors whose label IS the code), the post-assignment
    * population under nearest-sub-codeword integer L2 (ties to the
    * lower code — the s13 encode rule), how many arrivals came from a
    * different seed label, and the integer L1 shift between old and new
    * sub-centroid. s22 is this move for the IVF coarse quantizer; PQ
    * needs it PER SUBSPACE because each 8-dim slice clusters
    * independently (that independence is where PQ's memory win comes
    * from). Empty cells keep their old centroid: n_assigned/l1_shift
    * report honest zeros.
    *
    * Determinism: sub-centroids by the s08 rounded-mean rule back to
    * integer scale; assignment distances are exact integer sums via the
    * codegen'd graft_pq_dists kernel; every report column an exact
    * integer.
    *
    * 100 TB posture: one broadcast-codebook sub-distance scan (the s13
    * encode pass), then two hash aggs keyed on (vec, subspace) and
    * (subspace, code, dim) — corpus touched twice, nothing pairwise;
    * the (8 x L) spine and the L-row codebook ride broadcasts.
    */
  def s27PqTrain(spark: SparkSession, dir: String): DataFrame =
    pqTrainStep(spark, graft.Caches.cache(vectors(spark, dir)))

  /** s27's body over a prepared (vec_id, qv[64], label) frame. */
  private[graft] def pqTrainStep(spark: SparkSession, v: DataFrame): DataFrame = {
    val cb = graft.Caches.checkpoint(pqCodebook(v))
    // winning code per (vector, subspace): min (distance, code) struct
    val asg = graft.Caches.cache(pqSubDists(v, cb)
      .select(col("vec_id"), col("code"),
        posexplode(col("ds")).as(Seq("m", "d")))
      .groupBy("vec_id", "m")
      .agg(min(struct(col("d"), col("code"))).getField("code").as("code"))
      .select(col("vec_id"), col("m").cast("long").as("subspace"),
        col("code")))
    val lab = v.select(col("vec_id"), col("label").cast("long").as("label"))
    val counts = asg.join(lab, Seq("vec_id"))
      .groupBy("subspace", "code")
      .agg(count(lit(1)).as("n_assigned"),
        sum(when(col("label") =!= col("code"), 1L).otherwise(0L))
          .as("n_moved"))
    // recomputed sub-centroid per absolute dim, then L1 vs the seed
    val dims = v.select(col("vec_id"),
      posexplode(col("qv")).as(Seq("dim", "x")))
      .select(col("vec_id"), (col("dim") / PqSub).cast("long").as("subspace"),
        col("dim"), col("x"))
    val newc = asg.join(dims, Seq("vec_id", "subspace"))
      .groupBy("subspace", "code", "dim")
      .agg(expr("CAST(round(CAST(sum(x) AS DOUBLE) / count(*)) AS BIGINT)")
        .as("nx"))
    val oldc = cb.select(col("code"),
      posexplode(col("cvec")).as(Seq("dim", "cx")))
    val shift = newc.join(oldc, Seq("code", "dim"))
      .groupBy("subspace", "code")
      .agg(sum(abs(col("nx") - col("cx"))).as("l1_shift"))
    val seed = v.groupBy(col("label").cast("long").as("code"))
      .agg(count(lit(1)).as("n_seed"))
    val spine = seed.select("code")
      .crossJoin(broadcast(spark.range(PqM).select(col("id").as("subspace"))))
    spine.join(seed, Seq("code"))
      .join(counts, Seq("subspace", "code"), "left")
      .join(shift, Seq("subspace", "code"), "left")
      .select(col("subspace"), col("code"), col("n_seed"),
        coalesce(col("n_assigned"), lit(0L)).as("n_assigned"),
        coalesce(col("n_moved"), lit(0L)).as("n_moved"),
        coalesce(col("l1_shift"), lit(0L)).as("l1_shift"))
      .orderBy("subspace", "code")
  }

  /** Reciprocal k-NN graph (k = 3) over the banded candidate pairs —
    * the kNN-graph symmetrization step (keep edge (a,b) iff b is in a's
    * top-k AND a is in b's top-k) that RNN-style clustering and
    * graph-ANN construction start from: mutual edges are the
    * high-precision subset of the directed kNN graph (hubs collect
    * inbound edges they never reciprocate and drop out). Distinct from
    * s18: s18 keeps only mutual-BEST pairs with a margin gate (a
    * matching — each vector appears once); this keeps every mutually-
    * top-k edge with both directed ranks, so a vector can carry up to k
    * edges. Candidates come from the same 8-band x 8-bit sign-LSH
    * banding as s03/s07 (never all-pairs); cosines are computed once
    * per unordered pair (exact integer dot / sqrt-norm product) and
    * mirrored, so rank ties break identically in both directions.
    *
    * 100 TB posture: band self-join is the only corpus-sized shuffle
    * (O(n) candidates at calibrated banding); per-vector ranking is a
    * map-side `graft_topk` heap bounding its shuffle to k rows per
    * vector per partition; the reciprocity check is a self-join of the
    * (n x k)-row directed edge list on swapped keys.
    */
  def s28MutualKnn(spark: SparkSession, dir: String): DataFrame =
    mutualKnnOf(graft.Caches.cache(vectors(spark, dir)))

  /** The directed banded-kNN edge list (src, dst, rank, cosine) every
    * vector's top-k over its band candidates — s28's first half, shared
    * with s34's label vote. Cached: s28 reads it twice (both join
    * sides).
    */
  private[graft] def directedTopK(v: DataFrame, k: Int): DataFrame = {
    val bandArr = (0 until Bands)
      .map(t => signKeyRange("embedding", t * BandBits + 1, BandBits))
      .mkString("array(", ", ", ")")
    val bands = graft.Caches.cache(
      v.select(col("vec_id"), posexplode(expr(bandArr)).as(Seq("band", "key"))))
    val cand = bands.select(col("band"), col("key"), col("vec_id").as("id_a"))
      .join(bands.select(col("band"), col("key"), col("vec_id").as("id_b")),
        Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    // one cosine per unordered pair, cached: the directed union reads it
    // twice (once per direction)
    val scored = graft.Caches.cache(cand
      .join(v.select(col("vec_id").as("id_a"), col("qv").as("emb_a"),
        col("vnorm").as("qnorm")), Seq("id_a"))
      .join(v.select(col("vec_id").as("id_b"), col("qv").as("emb_b"),
        col("vnorm").as("vnorm")), Seq("id_b"))
      .withColumn("dot", expr(dotSq("emb_a", "emb_b")))
      .withColumn("cosine", cosine)
      .select(col("id_a"), col("id_b"), col("cosine")))
    val directed = scored
      .select(col("id_a").as("src"), col("id_b").as("dst"), col("cosine"))
      .unionAll(scored
        .select(col("id_b").as("src"), col("id_a").as("dst"), col("cosine")))
    // per-source top-k via the bounded map-side heap (ties: higher
    // cosine first, then lower dst — graft_topk's order, = the oracle's
    // row_number ORDER BY cosine DESC, dst ASC)
    graft.Caches.cache(directed
      .groupBy(col("src"))
      .agg(expr(s"graft_topk(cosine, dst, $k)").as("top"))
      .select(col("src"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("src"), col("t.id").as("dst"),
        (col("pos") + 1).cast("long").as("rank"), col("t.score").as("cosine")))
  }

  /** s28's body over any quantized vectors frame (probe-shared). */
  private[graft] def mutualKnnOf(v: DataFrame): DataFrame = {
    val ranked = directedTopK(v, 3)
    ranked.as("ab")
      .join(ranked.as("ba"),
        col("ab.src") === col("ba.dst") && col("ab.dst") === col("ba.src"))
      .filter(col("ab.src") < col("ab.dst"))
      .select(col("ab.src").as("id_a"), col("ab.dst").as("id_b"),
        col("ab.rank").as("rank_ab"), col("ba.rank").as("rank_ba"),
        col("ab.cosine"))
      .orderBy("id_a", "id_b")
  }

  /** kNN label-vote noise audit (E241) — the Confident-Learning-style
    * mislabeled-example detector: every vector's k = 3 banded nearest
    * neighbors vote a label (majority; ties break FOR the vector's own
    * label first, then to the smaller label id — a 1-1-1 tie is no
    * evidence of mislabeling, so it must not out-vote the own label;
    * ADVICE r11), and the corpus rolls up to (label, voted_label)
    * confusion cells
    * with an exact mismatch flag. Off-diagonal mass concentrated in one
    * cell = a systematic labeling confusion; scattered off-diagonal =
    * label noise to review (s32 flags geometric outliers against the
    * OWN-label centroid; s34 flags votes from the NEIGHBORHOOD — the
    * two queues overlap only on true noise). Vectors whose bands catch
    * no candidate vote '-1' (no evidence, not noise).
    *
    * 100 TB posture: the band self-join is the only corpus-sized
    * shuffle (O(n) candidates at calibrated banding); per-vector top-k
    * is the map-side graft_topk heap; the vote is a (src, label) hash
    * agg on the (n x k)-row edge list + a k-bounded majority window;
    * cells are <= (labels+1) x labels rows.
    */
  def s34KnnLabelVote(spark: SparkSession, dir: String): DataFrame =
    knnLabelVoteOf(graft.Caches.cache(vectors(spark, dir)))

  /** s34's body over any quantized vectors frame carrying a `label`
    * column — exposed so the spec can plant mislabeled cluster members.
    */
  private[graft] def knnLabelVoteOf(v: DataFrame): DataFrame = {
    val ranked = directedTopK(v, 3)
    val lbl = v.select(col("vec_id"), col("label").cast("long").as("label"))
    val votes = ranked
      .join(lbl.select(col("vec_id").as("dst"),
        col("label").as("nbr_label")), Seq("dst"))
      .groupBy(col("src"), col("nbr_label"))
      .agg(count(lit(1)).as("n_votes"))
    // tie-break order: vote count, then OWN label (a plurality tie must
    // never flag a correctly-labeled vector), then smaller label id.
    // The own-label join is vec_id-keyed on the (n x k)-bounded votes
    // frame — never corpus x corpus.
    val wv = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src"))
      .orderBy(col("n_votes").desc,
        when(col("nbr_label") === col("own_label"), 0L).otherwise(1L).asc,
        col("nbr_label").asc)
    val voted = votes
      .join(lbl.select(col("vec_id").as("src"),
        col("label").as("own_label")), Seq("src"))
      .withColumn("rk", row_number().over(wv))
      .filter(col("rk") === 1)
      .select(col("src").as("vec_id"), col("nbr_label").as("voted_label"))
    lbl.join(voted, Seq("vec_id"), "left")
      .withColumn("voted_label", coalesce(col("voted_label"), lit(-1L)))
      .groupBy("label", "voted_label")
      .agg(count(lit(1)).as("n_vectors"))
      .withColumn("is_mismatch",
        when(col("voted_label") >= 0L &&
          col("voted_label") =!= col("label"), 1L).otherwise(0L))
      .orderBy("label", "voted_label")
  }

  /** Embedding-space decontamination (E243) — the SEMANTIC twin of
    * d08's verbatim n-gram gate: training vectors whose embedding sits
    * within cosine >= 0.35 of ANY eval-suite vector (vec_id % 97 == 0,
    * d08's convention) are flagged with their hit count and nearest
    * eval anchor. Catches the leakage n-grams can't — paraphrased or
    * translated eval material lands nowhere near the verbatim gate but
    * RIGHT next to its source in embedding space (the modern published
    * recipe next to n-gram overlap).
    *
    * 100 TB posture: candidates come from the banded sign-LSH join
    * RESTRICTED train x eval (both sides filter BEFORE the band join —
    * the eval side is suite-sized, so candidate volume is bounded by
    * eval-side bucket populations, never corpus x corpus); exact cosine
    * only on candidates; the per-train argmax is a struct max (ties to
    * the smaller eval id) folded map-side.
    */
  def s35EmbeddingDecontam(spark: SparkSession, dir: String): DataFrame =
    embeddingDecontamFrom(graft.Caches.cache(vectors(spark, dir)))

  /** s35's body over any quantized vectors frame — exposed so the spec
    * can plant an eval vector with a known near-duplicate.
    */
  private[graft] def embeddingDecontamFrom(v: DataFrame): DataFrame = {
    val bandArr = (0 until Bands)
      .map(t => signKeyRange("embedding", t * BandBits + 1, BandBits))
      .mkString("array(", ", ", ")")
    val bands = graft.Caches.cache(
      v.select(col("vec_id"), posexplode(expr(bandArr)).as(Seq("band", "key"))))
    val evalB = bands.filter(col("vec_id") % 97 === 0)
      .select(col("band"), col("key"), col("vec_id").as("eval_id"))
    val trainB = bands.filter(col("vec_id") % 97 =!= 0)
      .select(col("band"), col("key"), col("vec_id").as("train_id"))
    val cand = trainB.join(evalB, Seq("band", "key"))
      .select("train_id", "eval_id")
      .distinct()
    cand
      .join(v.select(col("vec_id").as("train_id"), col("qv").as("emb_a"),
        col("vnorm").as("qnorm")), Seq("train_id"))
      .join(v.select(col("vec_id").as("eval_id"), col("qv").as("emb_b"),
        col("vnorm").as("vnorm")), Seq("eval_id"))
      .withColumn("dot", expr(dotSq("emb_a", "emb_b")))
      .withColumn("cosine", cosine)
      .filter(col("cosine") >= 0.35)
      .groupBy(col("train_id").as("vec_id"))
      .agg(count(lit(1)).as("n_eval_hits"),
        max(struct(col("cosine"), (-col("eval_id")).as("neg"))).as("best"))
      .select(col("vec_id"), col("n_eval_hits"),
        (-col("best.neg")).as("nearest_eval_id"),
        col("best.cosine").as("nearest_cosine"))
      .orderBy("vec_id")
  }

  /** PQ distortion report — the quantization-error readout (FAISS's
    * reconstruction-error diagnostic) per (subspace, codeword): how
    * much the 8-byte code loses versus the real vector, cell by cell.
    * sse per assigned vector is the SAME integer min-distance the s13
    * encode rule picks (ties to the lower code), so the report measures
    * exactly what the index stores; a fat-mean cell is the codeword to
    * re-train (s27's step), and empty cells stay visible as zero rows.
    * mean_sse is one division of exact integers, NULL for empty cells.
    *
    * 100 TB posture: one broadcast-codebook sub-distance scan (the s13
    * encode pass — the corpus is touched once), one (vec, subspace)
    * argmin folded map-side into the per-vector array agg, one
    * (subspace, code) hash agg; the (8 x L) spine rides broadcasts.
    */
  def s29PqDistortion(spark: SparkSession, dir: String): DataFrame = {
    val v = graft.Caches.cache(vectors(spark, dir))
    val cb = pqTrainedCodebook(v)
    val best = pqSubDists(v, cb)
      .groupBy("vec_id")
      .agg(array((0 until PqM).map(m =>
        min(struct(element_at(col("ds"), m + 1).as("d"),
          col("code").as("code")))): _*).as("bs"))
      .select(col("vec_id"), posexplode(col("bs")).as(Seq("subspace", "b")))
    val per = best
      .groupBy(col("subspace").cast("long").as("subspace"),
        col("b.code").as("code"))
      .agg(count(lit(1)).as("n_assigned"), sum(col("b.d")).as("sse"))
    val spine = cb.select("code")
      .crossJoin(broadcast(spark.range(PqM).select(col("id").as("subspace"))))
    spine.join(per, Seq("subspace", "code"), "left")
      .select(col("subspace"), col("code"),
        coalesce(col("n_assigned"), lit(0L)).as("n_assigned"),
        coalesce(col("sse"), lit(0L)).as("sse"),
        when(coalesce(col("n_assigned"), lit(0L)) > 0,
          col("sse").cast("double") / col("n_assigned")).as("mean_sse"))
      .orderBy("subspace", "code")
  }

  /** IVF inverted-list balance audit — the serving-capacity readout an
    * index operator reads next to s23's vector-side gaps: per codebook
    * cell, the posting count, its share of the corpus, and the load
    * factor (count × n_cells / total; 1.0 = perfectly balanced). A
    * cell with load ≫ 1 is the probe-latency tail (every query probing
    * it scans that whole list); a ZERO row (kept — the d23 discipline)
    * is a dead centroid wasting codebook capacity, the re-train
    * trigger next to s21's drift. Counts exact off the persisted
    * postings; share/load are single divisions of exact integers.
    *
    * 100 TB posture: one posting-count agg off the persisted index
    * (cell-keyed, map-side combined — the corpus vectors are never
    * re-scored), a codebook-sized left join to restore empty cells,
    * and the 1-row totals ride the d23 scalar broadcast.
    */
  def s30CellBalance(spark: SparkSession, dir: String): DataFrame = {
    cellBalanceOf(ivfCodebook(spark, dir).select("cell"),
      ivfPostings(spark, dir))
  }

  /** The s30 body over any codebook spine × postings pair — exposed so
    * the spec can plant dead and overfull cells. */
  private[graft] def cellBalanceOf(
      cells: DataFrame, postings: DataFrame): DataFrame = {
    val per = cells
      .join(postings.groupBy("cell").agg(count(lit(1)).as("pn")),
        Seq("cell"), "left")
      .select(col("cell"), coalesce(col("pn"), lit(0L)).as("n_vectors"))
    val tot = per.agg(sum(col("n_vectors")).as("total"),
      count(lit(1)).as("n_cells"))
    per.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_vectors"),
        when(col("total") > 0,
          col("n_vectors").cast("double") / col("total")).as("share"),
        when(col("total") > 0,
          col("n_vectors").cast("double") * col("n_cells") / col("total"))
          .as("load_factor"))
      .orderBy("cell")
  }

  /** Rank-quality report (MRR + nDCG) — the position-aware sequel to
    * s17's set-level recall: per query, WHERE in the LSH top-5 the
    * exact neighbors landed, not just how many. rr = 1/first-relevant-
    * rank (the MRR term); ndcg_lin is nDCG with LINEAR discounts
    * 1/(rank+1) instead of 1/log2(rank+1) — deliberately, because the
    * log discount would make the hash gate hostage to cross-engine
    * libm rounding, while the linear weights scale to the EXACT
    * integers 27720/(rank+1) (27720 = lcm(2..11)), making DCG and
    * ideal-DCG integer sums and ndcg ONE division. Relevance = the
    * exact top-10 (s01's truth); queries the LSH misses entirely keep
    * a row with rr = 0 and ndcg = 0 (the d23 zero-row discipline).
    *
    * 100 TB posture: both rankings are the existing sampled-query
    * machinery (s17's argument); the scoring on top is two query-set-
    * sized aggs and one query-keyed left join.
    */
  def s31RankQuality(spark: SparkSession, dir: String): DataFrame =
    rankQualityOf(
      s01KnnBruteforce(spark, dir)
        .select(col("qid"), col("neighbor_id"),
          col("rank").as("exact_rank")),
      s02LshAnn(spark, dir)
        .select(col("qid"), col("neighbor_id"),
          col("rank").as("ann_rank")))

  /** The s31 body over any exact × approximate ranking pair — exposed
    * so the spec can plant known rank placements. */
  private[graft] def rankQualityOf(
      exact: DataFrame, ann: DataFrame): DataFrame = {
    val D = 27720L // lcm(2..11): every 1/(rank+1) weight scales exact
    val hits = ann
      .join(exact.select("qid", "neighbor_id"), Seq("qid", "neighbor_id"))
      .groupBy("qid").agg(
        count(lit(1)).as("n_hits"),
        min(col("ann_rank")).as("first_hit_rank"),
        sum(expr(s"$D div (ann_rank + 1)")).as("dcg_num"))
    val ideal = exact.groupBy("qid").agg(
      count(lit(1)).as("n_exact"),
      sum(when(col("exact_rank") <= 5, expr(s"$D div (exact_rank + 1)"))
        .otherwise(0L)).as("idcg_num"))
    ideal.join(hits, Seq("qid"), "left")
      .select(col("qid"), col("n_exact"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("first_hit_rank"),
        when(col("first_hit_rank").isNotNull,
          lit(1.0) / col("first_hit_rank")).otherwise(lit(0.0)).as("rr"),
        (coalesce(col("dcg_num"), lit(0L)).cast("double") /
          col("idcg_num")).as("ndcg_lin"))
      .orderBy("qid")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s31_rank_quality" -> (s31RankQuality _),
    "s30_cell_balance" -> (s30CellBalance _),
    "s29_pq_distortion" -> (s29PqDistortion _),
    "s28_mutual_knn" -> (s28MutualKnn _),
    "s34_knn_label_vote" -> (s34KnnLabelVote _),
    "s35_embedding_decontam" -> (s35EmbeddingDecontam _),
    "s27_pq_train" -> (s27PqTrain _),
    "s23_coverage_gaps" -> (s23CoverageGaps _),
    "s22_kmeans_refine" -> (s22KmeansRefine _),
    "s21_centroid_drift" -> (s21CentroidDrift _),
    "s20_truncated_rescore" -> (s20TruncatedRescore _),
    "s32_label_outliers" -> (s32LabelOutliers _),
    "s36_prototypicality" -> (s36Prototypicality _),
    "s25_tombstone_compact" -> (s25TombstoneCompact _),
    "s19_ivf_append" -> (s19IvfAppend _),
    "s18_margin_mining" -> (s18MarginMining _),
    "s16_sparse_cosine" -> (s16SparseCosine _),
    "s15_rrf_hybrid" -> (s15RrfHybrid _),
    "s14_ivf_pq" -> (s14IvfPq _),
    "s13_pq_adc" -> (s13PqAdc _),
    "s12_mips_topk" -> (s12MipsTopk _),
    "s06_label_centroids" -> (s06LabelCentroids _),
    "s01_knn_bruteforce" -> (s01KnnBruteforce _),
    "s02_lsh_ann" -> (s02LshAnn _),
    "s03_embed_neardup" -> (s03EmbedNearDup _),
    "s04_knn_topk_agg" -> (s04KnnTopkAgg _),
    "s05_lsh_multiprobe" -> (s05LshMultiprobe _),
    "s07_banded_ann" -> (s07BandedAnn _),
    "s08_ivf_ann" -> (s08IvfAnn _),
    "s09_knn_join" -> (s09KnnJoin _),
    "s33_knn_join_wide" -> (s33KnnJoinWide _),
    "s10_quantized_rescore" -> (s10QuantizedRescore _),
    "s11_semantic_dedup" -> (s11SemanticDedup _),
    "s17_recall_report" -> (s17RecallReport _),
    "s24_nprobe_sweep" -> (s24NprobeSweep _),
    "s26_filtered_ann" -> (s26FilteredAnn _)
  )

  /** Shared oracle CTEs: unnest to quantized (vec_id, i, x), integer norms. */
  private val unnestSql =
    """u AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
      |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS x
      |  FROM embeddings
      |),
      |n AS (
      |  SELECT vec_id, SUM(x * x) AS normsq
      |  FROM u GROUP BY vec_id
      |)""".stripMargin

  /** s01 and s04 share one oracle: identical semantics, different plan. */
  private val knnSql =
    s"""WITH $unnestSql,
         |d AS (
         |  SELECT q.vec_id AS qid, v.vec_id AS vid,
         |         SUM(q.x * v.x) AS dot
         |  FROM u q JOIN u v USING (i)
         |  WHERE q.vec_id % 50 = 0 AND v.vec_id <> q.vec_id
         |  GROUP BY q.vec_id, v.vec_id
         |),
         |c AS (
         |  SELECT qid, vid, CAST(dot AS DOUBLE) /
         |    (sqrt(CAST(nq.normsq AS DOUBLE)) * sqrt(CAST(nv.normsq AS DOUBLE)))
         |      AS cosine
         |  FROM d JOIN n nq ON nq.vec_id = qid JOIN n nv ON nv.vec_id = vid
         |)
         |SELECT qid, vid AS neighbor_id, rank, cosine FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY cosine DESC, vid ASC) AS rank FROM c)
         |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  /** Band keys as one DuckDB list literal: [band0bits, ..., band7bits]. */
  private val bandKeysSql = (0 until Bands)
    .map(t => signKeySqlRange("embedding", t * BandBits + 1, BandBits))
    .mkString("[", ", ", "]")

  // s33's wide layout: all C(8,2) = 28 pairwise band compositions,
  // 16 sign bits each — the same literals the Spark side slices out of
  // its sig64 string
  private val wideBandKeysSql = (for {
    a <- 0 until Bands; b <- a + 1 until Bands
  } yield "(" + signKeySqlRange("embedding", a * BandBits + 1, BandBits) +
    ") || (" + signKeySqlRange("embedding", b * BandBits + 1, BandBits) + ")")
    .mkString("[", ", ", "]")

  /** Shared banded-ANN oracle (s07 and the s09 KNN join differ only in
    * the query predicate — the SQL states the semantics; the Spark
    * plans differ in broadcast vs hash query-side joins. s33 swaps in
    * the wide pairwise key layout).
    */
  private def bandedAnnSql(queryMod: Int,
      keysSql: String = bandKeysSql): String =
    s"""WITH $unnestSql,
       |bl AS (
       |  SELECT vec_id, $keysSql AS keys FROM embeddings
       |),
       |eb AS (
       |  SELECT vec_id, generate_subscripts(keys, 1) AS band,
       |         unnest(keys) AS key
       |  FROM bl
       |),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS qid, v.vec_id AS vid
       |  FROM eb q JOIN eb v ON v.band = q.band AND v.key = q.key
       |  WHERE q.vec_id % $queryMod = 0 AND v.vec_id <> q.vec_id
       |),
       |d AS (
       |  SELECT c.qid, c.vid, SUM(uq.x * uv.x) AS dot
       |  FROM cand c
       |  JOIN u uq ON uq.vec_id = c.qid
       |  JOIN u uv ON uv.vec_id = c.vid AND uv.i = uq.i
       |  GROUP BY c.qid, c.vid
       |),
       |c AS (
       |  SELECT qid, vid, CAST(dot AS DOUBLE) /
       |    (sqrt(CAST(nq.normsq AS DOUBLE)) * sqrt(CAST(nv.normsq AS DOUBLE)))
       |      AS cosine
       |  FROM d JOIN n nq ON nq.vec_id = qid JOIN n nv ON nv.vec_id = vid
       |)
       |SELECT qid, vid AS neighbor_id, rank, cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid
       |    ORDER BY cosine DESC, vid ASC) AS rank FROM c)
       |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** Codebook + nearest-centroid assignment CTEs (twin of cellScores/
    * assignCells), shared by the s08 and s11 oracles. Expects `u`/`n`
    * from unnestSql in scope.
    */
  private val cellAsgSql =
    """cs AS (
      |  SELECT e.label AS cell, u.i AS dim,
      |         CAST(round(CAST(SUM(u.x) AS DOUBLE) / count(*)) AS BIGINT)
      |           AS cx
      |  FROM u JOIN embeddings e ON e.vec_id = u.vec_id
      |  GROUP BY e.label, u.i
      |),
      |cn AS (
      |  SELECT cell, SUM(cx * cx) AS cnormsq FROM cs GROUP BY cell
      |),
      |sc AS (
      |  SELECT u.vec_id, cs.cell,
      |         CAST(SUM(u.x * cs.cx) AS DOUBLE) /
      |           (sqrt(CAST(nv.normsq AS DOUBLE)) *
      |            sqrt(CAST(cn.cnormsq AS DOUBLE))) AS ccos
      |  FROM u
      |  JOIN cs ON cs.dim = u.i
      |  JOIN n nv ON nv.vec_id = u.vec_id
      |  JOIN cn ON cn.cell = cs.cell
      |  GROUP BY u.vec_id, cs.cell, nv.normsq, cn.cnormsq
      |),
      |asg AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY ccos DESC, cell ASC) AS r FROM sc)
      |  WHERE r = 1
      |)""".stripMargin

  /** DuckDB twin of `quantize8` (per-row int8 codes, unnested). */
  private val unnest8Sql = {
    val mx = "list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))"
    s"""u8 AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 127 /
       |           (CASE WHEN $mx = 0 THEN CAST(1 AS DOUBLE) ELSE $mx END))
       |           AS BIGINT) AS x8
       |  FROM embeddings
       |),
       |n8 AS (SELECT vec_id, SUM(x8 * x8) AS norm8 FROM u8 GROUP BY vec_id)"""
      .stripMargin
  }

  val oracle: Map[String, String] = Map(
    "s01_knn_bruteforce" -> knnSql,
    "s04_knn_topk_agg" -> knnSql,

    // s23: the same seed centroids + per-vector best cell, bottom-10
    "s23_coverage_gaps" ->
      s"""WITH $unnestSql,
         |cent AS (
         |  SELECT CAST(e.label AS BIGINT) AS cell, u.i AS dim,
         |    CAST(round(CAST(SUM(u.x) AS DOUBLE) / count(*)) AS BIGINT) AS cx
         |  FROM u JOIN embeddings e ON e.vec_id = u.vec_id
         |  GROUP BY 1, 2
         |),
         |cn AS (SELECT cell, SUM(cx * cx) AS cnorm FROM cent GROUP BY cell),
         |d AS (
         |  SELECT u.vec_id, c.cell, SUM(u.x * c.cx) AS dot
         |  FROM u JOIN cent c ON c.dim = u.i
         |  GROUP BY u.vec_id, c.cell
         |),
         |b AS (
         |  SELECT vec_id, cell, ccos AS best_cos FROM (
         |    SELECT d.vec_id, d.cell,
         |      CAST(d.dot AS DOUBLE) /
         |        (sqrt(CAST(nv.normsq AS DOUBLE)) *
         |         sqrt(CAST(cn.cnorm AS DOUBLE))) AS ccos,
         |      row_number() OVER (PARTITION BY d.vec_id
         |        ORDER BY CAST(d.dot AS DOUBLE) /
         |          (sqrt(CAST(nv.normsq AS DOUBLE)) *
         |           sqrt(CAST(cn.cnorm AS DOUBLE))) DESC,
         |        d.cell ASC) AS rn
         |    FROM d JOIN n nv ON nv.vec_id = d.vec_id
         |    JOIN cn ON cn.cell = d.cell)
         |  WHERE rn = 1
         |)
         |SELECT vec_id, cell, best_cos FROM b
         |ORDER BY best_cos ASC, vec_id ASC LIMIT 10""".stripMargin,

    // s22: seed centroids -> nearest-centroid re-assignment -> recomputed
    // centroids -> per-cell iteration report, stated directly
    "s22_kmeans_refine" ->
      s"""WITH $unnestSql,
         |cent AS (
         |  SELECT CAST(e.label AS BIGINT) AS cell, u.i AS dim,
         |    CAST(round(CAST(SUM(u.x) AS DOUBLE) / count(*)) AS BIGINT) AS cx
         |  FROM u JOIN embeddings e ON e.vec_id = u.vec_id
         |  GROUP BY 1, 2
         |),
         |cn AS (SELECT cell, SUM(cx * cx) AS cnorm FROM cent GROUP BY cell),
         |d AS (
         |  SELECT u.vec_id, c.cell, SUM(u.x * c.cx) AS dot
         |  FROM u JOIN cent c ON c.dim = u.i
         |  GROUP BY u.vec_id, c.cell
         |),
         |a AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT d.vec_id, d.cell, row_number() OVER (PARTITION BY d.vec_id
         |      ORDER BY CAST(d.dot AS DOUBLE) /
         |        (sqrt(CAST(nv.normsq AS DOUBLE)) *
         |         sqrt(CAST(cn.cnorm AS DOUBLE))) DESC,
         |        d.cell ASC) AS rn
         |    FROM d JOIN n nv ON nv.vec_id = d.vec_id
         |    JOIN cn ON cn.cell = d.cell)
         |  WHERE rn = 1
         |),
         |nb AS (SELECT CAST(label AS BIGINT) AS cell, count(*) AS n_before
         |       FROM embeddings GROUP BY 1),
         |st AS (
         |  SELECT a.cell, count(*) AS n_after,
         |    CAST(SUM(CASE WHEN CAST(e.label AS BIGINT) <> a.cell
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_in
         |  FROM a JOIN embeddings e ON e.vec_id = a.vec_id
         |  GROUP BY a.cell
         |),
         |newc AS (
         |  SELECT a.cell, u.i AS dim,
         |    CAST(round(CAST(SUM(u.x) AS DOUBLE) / count(*)) AS BIGINT) AS nx
         |  FROM u JOIN a ON a.vec_id = u.vec_id
         |  GROUP BY 1, 2
         |),
         |sh AS (
         |  SELECT newc.cell, CAST(SUM(abs(nx - cx)) AS BIGINT) AS l1_shift
         |  FROM newc JOIN cent ON cent.cell = newc.cell AND cent.dim = newc.dim
         |  GROUP BY newc.cell
         |)
         |SELECT nb.cell, nb.n_before,
         |  COALESCE(st.n_after, 0) AS n_after,
         |  COALESCE(st.n_moved_in, 0) AS n_moved_in,
         |  sh.l1_shift
         |FROM nb LEFT JOIN st ON st.cell = nb.cell
         |LEFT JOIN sh ON sh.cell = nb.cell
         |ORDER BY nb.cell""".stripMargin,

    // s21: the two half-centroid statements joined per cell
    "s21_centroid_drift" ->
      s"""WITH $unnestSql,
         |ca AS (
         |  SELECT CAST(e.label AS BIGINT) AS cell, u.i AS dim,
         |    CAST(round(CAST(SUM(u.x) AS DOUBLE) / count(*)) AS BIGINT) AS cx
         |  FROM u JOIN embeddings e ON e.vec_id = u.vec_id
         |  WHERE u.vec_id % 4 < 2
         |  GROUP BY e.label, u.i
         |),
         |cb AS (
         |  SELECT CAST(e.label AS BIGINT) AS cell, u.i AS dim,
         |    CAST(round(CAST(SUM(u.x) AS DOUBLE) / count(*)) AS BIGINT) AS cx
         |  FROM u JOIN embeddings e ON e.vec_id = u.vec_id
         |  WHERE u.vec_id % 4 >= 2
         |  GROUP BY e.label, u.i
         |),
         |nA AS (SELECT cell, SUM(cx * cx) AS na FROM ca GROUP BY cell),
         |nB AS (SELECT cell, SUM(cx * cx) AS nb FROM cb GROUP BY cell),
         |d AS (
         |  SELECT ca.cell, SUM(ca.cx * cb.cx) AS dot
         |  FROM ca JOIN cb ON cb.cell = ca.cell AND cb.dim = ca.dim
         |  GROUP BY ca.cell
         |),
         |cnt AS (
         |  SELECT CAST(label AS BIGINT) AS cell,
         |    CAST(SUM(CASE WHEN vec_id % 4 < 2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_early,
         |    CAST(SUM(CASE WHEN vec_id % 4 >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_late
         |  FROM embeddings GROUP BY label
         |)
         |SELECT d.cell, cnt.n_early, cnt.n_late,
         |  CAST(d.dot AS DOUBLE) /
         |    (sqrt(CAST(nA.na AS DOUBLE)) * sqrt(CAST(nB.nb AS DOUBLE)))
         |    AS centroid_cosine
         |FROM d
         |JOIN nA ON nA.cell = d.cell
         |JOIN nB ON nB.cell = d.cell
         |JOIN cnt ON cnt.cell = d.cell
         |WHERE cnt.n_early > 0 AND cnt.n_late > 0
         |ORDER BY d.cell""".stripMargin,

    // s20: both stages declaratively — truncated coarse rank, exact
    // rescore of the per-query pool
    "s20_truncated_rescore" ->
      s"""WITH $unnestSql,
         |t AS (
         |  SELECT vec_id, SUM(x * x) AS tn FROM u WHERE i <= 16
         |  GROUP BY vec_id
         |),
         |cd AS (
         |  SELECT q.vec_id AS qid, v.vec_id AS vid, SUM(q.x * v.x) AS dot16
         |  FROM u q JOIN u v USING (i)
         |  WHERE q.vec_id % 50 = 0 AND v.vec_id <> q.vec_id AND q.i <= 16
         |  GROUP BY 1, 2
         |),
         |cc AS (
         |  SELECT qid, vid, CAST(dot16 AS DOUBLE) /
         |    (sqrt(CAST(tq.tn AS DOUBLE)) * sqrt(CAST(tv.tn AS DOUBLE)))
         |      AS ccos
         |  FROM cd JOIN t tq ON tq.vec_id = qid JOIN t tv ON tv.vec_id = vid
         |),
         |pool AS MATERIALIZED (
         |  SELECT qid, vid, ccos FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY ccos DESC, vid ASC) AS r FROM cc)
         |  WHERE r <= 20
         |),
         |d AS (
         |  SELECT p.qid, p.vid, p.ccos, SUM(uq.x * uv.x) AS dot
         |  FROM pool p
         |  JOIN u uq ON uq.vec_id = p.qid
         |  JOIN u uv ON uv.vec_id = p.vid AND uv.i = uq.i
         |  GROUP BY 1, 2, 3
         |),
         |c2 AS (
         |  SELECT qid, vid, ccos, CAST(dot AS DOUBLE) /
         |    (sqrt(CAST(nq.normsq AS DOUBLE)) * sqrt(CAST(nv.normsq AS DOUBLE)))
         |      AS cosine
         |  FROM d JOIN n nq ON nq.vec_id = qid JOIN n nv ON nv.vec_id = vid
         |)
         |SELECT qid, vid AS neighbor_id, rank, cosine,
         |       ccos AS coarse_cosine FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY cosine DESC, vid ASC) AS rank FROM c2)
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    // s19: the declarative full-recompute statement — corpus-trained
    // codebook, corpus postings, batch assignment, per-cell growth
    // s31: exact top-10 truth × LSH top-5, integer linear-discount
    // DCG (27720/(rank+1)), one division per metric
    "s31_rank_quality" ->
      s"""WITH $unnestSql,
         |dall AS (
         |  SELECT q.vec_id AS qid, v.vec_id AS vid, SUM(q.x * v.x) AS dot
         |  FROM u q JOIN u v USING (i)
         |  WHERE q.vec_id % 50 = 0 AND v.vec_id <> q.vec_id
         |  GROUP BY 1, 2
         |),
         |call AS (
         |  SELECT qid, vid, CAST(dot AS DOUBLE) /
         |    (sqrt(CAST(nq.normsq AS DOUBLE)) *
         |     sqrt(CAST(nv.normsq AS DOUBLE))) AS cosine
         |  FROM dall JOIN n nq ON nq.vec_id = qid
         |  JOIN n nv ON nv.vec_id = vid
         |),
         |ex AS (
         |  SELECT qid, vid, rank FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY cosine DESC, vid ASC) AS rank FROM call)
         |  WHERE rank <= 10
         |),
         |e AS (
         |  SELECT vec_id, ${signKeySql("embedding", 4)} AS bucket
         |  FROM embeddings
         |),
         |dl AS (
         |  SELECT q.vec_id AS qid, v.vec_id AS vid, SUM(q.x * v.x) AS dot
         |  FROM u q JOIN u v USING (i)
         |  JOIN e eq ON eq.vec_id = q.vec_id
         |  JOIN e ev ON ev.vec_id = v.vec_id AND ev.bucket = eq.bucket
         |  WHERE q.vec_id % 50 = 0 AND v.vec_id <> q.vec_id
         |  GROUP BY q.vec_id, v.vec_id
         |),
         |cl AS (
         |  SELECT qid, vid, CAST(dot AS DOUBLE) /
         |    (sqrt(CAST(nq.normsq AS DOUBLE)) *
         |     sqrt(CAST(nv.normsq AS DOUBLE))) AS cosine
         |  FROM dl JOIN n nq ON nq.vec_id = qid
         |  JOIN n nv ON nv.vec_id = vid
         |),
         |annr AS (
         |  SELECT qid, vid, rank FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY cosine DESC, vid ASC) AS rank FROM cl)
         |  WHERE rank <= 5
         |),
         |h AS (
         |  SELECT a.qid, CAST(COUNT(*) AS BIGINT) AS n_hits,
         |    CAST(MIN(a.rank) AS BIGINT) AS first_hit_rank,
         |    CAST(SUM(27720 // (a.rank + 1)) AS BIGINT) AS dcg_num
         |  FROM annr a JOIN ex ON ex.qid = a.qid AND ex.vid = a.vid
         |  GROUP BY 1
         |),
         |i AS (
         |  SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_exact,
         |    CAST(SUM(CASE WHEN rank <= 5 THEN 27720 // (rank + 1)
         |             ELSE 0 END) AS BIGINT) AS idcg_num
         |  FROM ex GROUP BY 1
         |)
         |SELECT i.qid, i.n_exact, COALESCE(h.n_hits, 0) AS n_hits,
         |  h.first_hit_rank,
         |  CASE WHEN h.first_hit_rank IS NOT NULL
         |    THEN CAST(1 AS DOUBLE) / h.first_hit_rank
         |    ELSE CAST(0 AS DOUBLE) END AS rr,
         |  CAST(COALESCE(h.dcg_num, 0) AS DOUBLE) / i.idcg_num
         |    AS ndcg_lin
         |FROM i LEFT JOIN h ON h.qid = i.qid ORDER BY i.qid""".stripMargin,

    // s30: corpus-only centroids + assignment (the persisted index),
    // codebook spine keeps dead cells as zero rows
    "s30_cell_balance" ->
      s"""WITH $unnestSql,
         |cs AS (
         |  SELECT CAST(e.label AS BIGINT) AS cell, u.i AS dim,
         |         CAST(round(CAST(SUM(u.x) AS DOUBLE) / count(*)) AS BIGINT)
         |           AS cx
         |  FROM u JOIN embeddings e ON e.vec_id = u.vec_id
         |  WHERE u.vec_id % 10 <> 7
         |  GROUP BY e.label, u.i
         |),
         |cn AS (SELECT cell, SUM(cx * cx) AS cnormsq FROM cs GROUP BY cell),
         |sc AS (
         |  SELECT u.vec_id, cs.cell,
         |         CAST(SUM(u.x * cs.cx) AS DOUBLE) /
         |           (sqrt(CAST(nv.normsq AS DOUBLE)) *
         |            sqrt(CAST(cn.cnormsq AS DOUBLE))) AS ccos
         |  FROM u
         |  JOIN cs ON cs.dim = u.i
         |  JOIN n nv ON nv.vec_id = u.vec_id
         |  JOIN cn ON cn.cell = cs.cell
         |  WHERE u.vec_id % 10 <> 7
         |  GROUP BY u.vec_id, cs.cell, nv.normsq, cn.cnormsq
         |),
         |asg AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY ccos DESC, cell ASC) AS r FROM sc)
         |  WHERE r = 1
         |),
         |cells AS (SELECT DISTINCT cell FROM cs),
         |cnt AS (
         |  SELECT cell, CAST(count(*) AS BIGINT) AS pn FROM asg
         |  GROUP BY cell
         |),
         |per AS (
         |  SELECT c.cell, COALESCE(t.pn, 0) AS n_vectors
         |  FROM cells c LEFT JOIN cnt t ON t.cell = c.cell
         |),
         |tot AS (
         |  SELECT CAST(SUM(n_vectors) AS BIGINT) AS total,
         |         CAST(COUNT(*) AS BIGINT) AS n_cells
         |  FROM per
         |)
         |SELECT per.cell, CAST(n_vectors AS BIGINT) AS n_vectors,
         |  CASE WHEN total > 0
         |    THEN CAST(n_vectors AS DOUBLE) / total END AS share,
         |  CASE WHEN total > 0
         |    THEN CAST(n_vectors AS DOUBLE) * n_cells / total END
         |    AS load_factor
         |FROM per CROSS JOIN tot ORDER BY per.cell""".stripMargin,

    // s32: full-corpus label centroids, each vector scored against its
    // OWN label, bottom-3 per label by (ccos asc, vec_id)
    // s36: s32's own-centroid scoring with the opposite ranking — most
    // prototypical first, exact-integer 10% cut
    "s36_prototypicality" ->
      s"""WITH $unnestSql,
         |cs AS (
         |  SELECT CAST(e.label AS BIGINT) AS cell, u.i AS dim,
         |         CAST(round(CAST(SUM(u.x) AS DOUBLE) / count(*)) AS BIGINT)
         |           AS cx
         |  FROM u JOIN embeddings e ON e.vec_id = u.vec_id
         |  GROUP BY e.label, u.i
         |),
         |cn AS (SELECT cell, SUM(cx * cx) AS cnormsq FROM cs GROUP BY cell),
         |sc AS (
         |  SELECT u.vec_id, CAST(e.label AS BIGINT) AS cell,
         |         CAST(SUM(u.x * cs.cx) AS DOUBLE) /
         |           (sqrt(CAST(nv.normsq AS DOUBLE)) *
         |            sqrt(CAST(cn.cnormsq AS DOUBLE))) AS ccos
         |  FROM u
         |  JOIN embeddings e ON e.vec_id = u.vec_id
         |  JOIN cs ON cs.cell = CAST(e.label AS BIGINT) AND cs.dim = u.i
         |  JOIN n nv ON nv.vec_id = u.vec_id
         |  JOIN cn ON cn.cell = CAST(e.label AS BIGINT)
         |  GROUP BY u.vec_id, e.label, nv.normsq, cn.cnormsq
         |),
         |r AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY cell
         |      ORDER BY ccos DESC, vec_id ASC) AS BIGINT) AS proto_rank,
         |    CAST(count(*) OVER (PARTITION BY cell) AS BIGINT) AS n_label
         |  FROM sc
         |)
         |SELECT vec_id, cell AS label, ccos, proto_rank, n_label,
         |  CAST(CASE WHEN proto_rank * 10 <= n_label THEN 1 ELSE 0 END
         |    AS BIGINT) AS dropped
         |FROM r ORDER BY vec_id""".stripMargin,
    "s32_label_outliers" ->
      s"""WITH $unnestSql,
         |cs AS (
         |  SELECT CAST(e.label AS BIGINT) AS cell, u.i AS dim,
         |         CAST(round(CAST(SUM(u.x) AS DOUBLE) / count(*)) AS BIGINT)
         |           AS cx
         |  FROM u JOIN embeddings e ON e.vec_id = u.vec_id
         |  GROUP BY e.label, u.i
         |),
         |cn AS (SELECT cell, SUM(cx * cx) AS cnormsq FROM cs GROUP BY cell),
         |sc AS (
         |  SELECT u.vec_id, CAST(e.label AS BIGINT) AS cell,
         |         CAST(SUM(u.x * cs.cx) AS DOUBLE) /
         |           (sqrt(CAST(nv.normsq AS DOUBLE)) *
         |            sqrt(CAST(cn.cnormsq AS DOUBLE))) AS ccos
         |  FROM u
         |  JOIN embeddings e ON e.vec_id = u.vec_id
         |  JOIN cs ON cs.cell = CAST(e.label AS BIGINT) AND cs.dim = u.i
         |  JOIN n nv ON nv.vec_id = u.vec_id
         |  JOIN cn ON cn.cell = CAST(e.label AS BIGINT)
         |  GROUP BY u.vec_id, e.label, nv.normsq, cn.cnormsq
         |)
         |SELECT cell AS label, CAST(r AS BIGINT) AS rank, vec_id, ccos
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY cell
         |    ORDER BY ccos ASC, vec_id ASC) AS r FROM sc)
         |WHERE r <= 3 ORDER BY label, rank""".stripMargin,

    // s25: the s19 index recomputed declaratively (corpus = mod-10<>7),
    // then one cell-keyed count agg; the 25% threshold is the exact
    // integer test 4*n_tombstoned >= n_postings
    "s25_tombstone_compact" ->
      s"""WITH $unnestSql,
         |cs AS (
         |  SELECT CAST(e.label AS BIGINT) AS cell, u.i AS dim,
         |         CAST(round(CAST(SUM(u.x) AS DOUBLE) / count(*)) AS BIGINT)
         |           AS cx
         |  FROM u JOIN embeddings e ON e.vec_id = u.vec_id
         |  WHERE u.vec_id % 10 <> 7
         |  GROUP BY e.label, u.i
         |),
         |cn AS (SELECT cell, SUM(cx * cx) AS cnormsq FROM cs GROUP BY cell),
         |sc AS (
         |  SELECT u.vec_id, cs.cell,
         |         CAST(SUM(u.x * cs.cx) AS DOUBLE) /
         |           (sqrt(CAST(nv.normsq AS DOUBLE)) *
         |            sqrt(CAST(cn.cnormsq AS DOUBLE))) AS ccos
         |  FROM u
         |  JOIN cs ON cs.dim = u.i
         |  JOIN n nv ON nv.vec_id = u.vec_id
         |  JOIN cn ON cn.cell = cs.cell
         |  WHERE u.vec_id % 10 <> 7
         |  GROUP BY u.vec_id, cs.cell, nv.normsq, cn.cnormsq
         |),
         |asg AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY ccos DESC, cell ASC) AS r FROM sc)
         |  WHERE r = 1
         |),
         |per AS (
         |  SELECT cell, CAST(count(*) AS BIGINT) AS n_postings,
         |    CAST(sum(CASE WHEN vec_id % 10 = 4 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_tombstoned
         |  FROM asg GROUP BY cell
         |)
         |SELECT cell, n_postings, n_tombstoned,
         |  n_postings - n_tombstoned AS n_live,
         |  CAST(n_postings - n_tombstoned AS DOUBLE) / n_postings
         |    AS live_share,
         |  CAST(CASE WHEN 4 * n_tombstoned >= n_postings
         |    THEN 1 ELSE 0 END AS BIGINT) AS compact_flag,
         |  CAST(CASE WHEN 4 * n_tombstoned >= n_postings
         |    THEN n_postings - n_tombstoned ELSE 0 END AS BIGINT)
         |    AS rewrite_rows
         |FROM per
         |ORDER BY cell""".stripMargin,

    "s19_ivf_append" ->
      s"""WITH $unnestSql,
         |cs AS (
         |  SELECT CAST(e.label AS BIGINT) AS cell, u.i AS dim,
         |         CAST(round(CAST(SUM(u.x) AS DOUBLE) / count(*)) AS BIGINT)
         |           AS cx
         |  FROM u JOIN embeddings e ON e.vec_id = u.vec_id
         |  WHERE u.vec_id % 10 <> 7
         |  GROUP BY e.label, u.i
         |),
         |cn AS (SELECT cell, SUM(cx * cx) AS cnormsq FROM cs GROUP BY cell),
         |sc AS (
         |  SELECT u.vec_id, cs.cell,
         |         CAST(SUM(u.x * cs.cx) AS DOUBLE) /
         |           (sqrt(CAST(nv.normsq AS DOUBLE)) *
         |            sqrt(CAST(cn.cnormsq AS DOUBLE))) AS ccos
         |  FROM u
         |  JOIN cs ON cs.dim = u.i
         |  JOIN n nv ON nv.vec_id = u.vec_id
         |  JOIN cn ON cn.cell = cs.cell
         |  GROUP BY u.vec_id, cs.cell, nv.normsq, cn.cnormsq
         |),
         |asg AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY ccos DESC, cell ASC) AS r FROM sc)
         |  WHERE r = 1
         |),
         |bef AS (SELECT cell, count(*) AS n_before FROM asg
         |        WHERE vec_id % 10 <> 7 GROUP BY cell),
         |badd AS (SELECT cell, count(*) AS n_added FROM asg
         |         WHERE vec_id % 10 = 7 GROUP BY cell)
         |SELECT a.vec_id, a.cell,
         |  coalesce(b.n_before, 0) AS cell_n_before,
         |  coalesce(b.n_before, 0) + d.n_added AS cell_n_after
         |FROM asg a
         |LEFT JOIN bef b ON b.cell = a.cell
         |JOIN badd d ON d.cell = a.cell
         |WHERE a.vec_id % 10 = 7
         |ORDER BY a.vec_id""".stripMargin,

    // s18: mutual-best + absolute-margin mining stated declaratively;
    // margin is the same subtraction in filter and projection
    "s18_margin_mining" ->
      s"""WITH $unnestSql,
         |d AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id, SUM(a.x * b.x) AS dot
         |  FROM u a JOIN u b USING (i)
         |  WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1
         |  GROUP BY 1, 2
         |),
         |c AS (
         |  SELECT a_id, b_id, CAST(dot AS DOUBLE) /
         |    (sqrt(CAST(na.normsq AS DOUBLE)) * sqrt(CAST(nb.normsq AS DOUBLE)))
         |      AS cos
         |  FROM d JOIN n na ON na.vec_id = a_id JOIN n nb ON nb.vec_id = b_id
         |),
         |ranked AS (
         |  SELECT a_id, b_id, cos,
         |    row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id) AS rf,
         |    row_number() OVER (PARTITION BY b_id ORDER BY cos DESC, a_id) AS rb
         |  FROM c
         |),
         |mutual AS (
         |  SELECT a_id, b_id, cos AS cos_best FROM ranked
         |  WHERE rf = 1 AND rb = 1
         |),
         |second AS (SELECT a_id, cos AS cos_second FROM ranked WHERE rf = 2)
         |SELECT m.a_id, m.b_id, m.cos_best, s.cos_second,
         |       m.cos_best - s.cos_second AS margin
         |FROM mutual m JOIN second s ON s.a_id = m.a_id
         |WHERE m.cos_best - s.cos_second >= 0.05
         |ORDER BY m.a_id""".stripMargin,

    "s16_sparse_cosine" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |),
        |p AS (
        |  SELECT doc_id, g, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      generate_series(1, greatest(len(t)-3, 1)),
        |      i -> array_to_string(t[i:i+3], ' '))) AS g
        |    FROM toks)
        |  GROUP BY doc_id, g
        |),
        |n AS (SELECT doc_id, SUM(tf*tf) AS nsq FROM p GROUP BY doc_id),
        |d AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         SUM(a.tf * b.tf) AS dot
        |  FROM p a JOIN p b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT doc_a, doc_b, CAST(dot AS BIGINT) AS dot,
        |  CAST(na.nsq AS BIGINT) AS norm_a, CAST(nb.nsq AS BIGINT) AS norm_b,
        |  CAST(dot AS DOUBLE) /
        |    (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE)))
        |    AS cosine
        |FROM d JOIN n na ON na.doc_id = doc_a
        |       JOIN n nb ON nb.doc_id = doc_b
        |WHERE 25 * dot * dot >= 9 * na.nsq * nb.nsq
        |ORDER BY doc_a, doc_b""".stripMargin,

    "s15_rrf_hybrid" ->
      s"""WITH $unnestSql,
         |bgx AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, greatest(len(string_split(text, ' '))-1, 1)),
         |    i -> array_to_string(string_split(text, ' ')[i:i+1], ' '))))
         |    AS bg
         |  FROM documents
         |),
         |stopg AS (
         |  SELECT bg FROM (SELECT bg, count(*) AS df FROM bgx GROUP BY bg)
         |  WHERE df > ${S15MaxDf}
         |),
         |bgf AS (
         |  SELECT doc_id, bg FROM bgx
         |  WHERE bg NOT IN (SELECT bg FROM stopg)
         |),
         |tt AS (
         |  SELECT q.doc_id AS qid, d.doc_id AS doc_id, count(*) AS shared
         |  FROM bgf d JOIN bgf q ON d.bg = q.bg
         |  WHERE q.doc_id % 100 = 0 AND d.doc_id <> q.doc_id
         |  GROUP BY q.doc_id, d.doc_id
         |),
         |ttop AS (
         |  SELECT qid, doc_id, CAST(rr AS BIGINT) AS text_rank FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY shared DESC, doc_id ASC) AS rr FROM tt)
         |  WHERE rr <= 20
         |),
         |d AS (
         |  SELECT q.vec_id AS qid, v.vec_id AS doc_id, SUM(q.x * v.x) AS dot
         |  FROM u q JOIN u v USING (i)
         |  WHERE q.vec_id % 100 = 0 AND v.vec_id <> q.vec_id
         |  GROUP BY q.vec_id, v.vec_id
         |),
         |c AS (
         |  SELECT qid, d.doc_id, CAST(dot AS DOUBLE) /
         |    (sqrt(CAST(nq.normsq AS DOUBLE)) * sqrt(CAST(nv.normsq AS DOUBLE)))
         |      AS cosine
         |  FROM d JOIN n nq ON nq.vec_id = qid
         |         JOIN n nv ON nv.vec_id = d.doc_id
         |),
         |vtop AS (
         |  SELECT qid, doc_id, CAST(rr AS BIGINT) AS vec_rank FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY cosine DESC, doc_id ASC) AS rr FROM c)
         |  WHERE rr <= 20
         |),
         |fused AS (
         |  SELECT COALESCE(t.qid, v.qid) AS qid,
         |    COALESCE(t.doc_id, v.doc_id) AS doc_id,
         |    t.text_rank, v.vec_rank,
         |    COALESCE(CAST(1 AS DOUBLE) / (60 + t.text_rank), 0.0) +
         |      COALESCE(CAST(1 AS DOUBLE) / (60 + v.vec_rank), 0.0) AS rrf
         |  FROM ttop t FULL OUTER JOIN vtop v
         |    ON t.qid = v.qid AND t.doc_id = v.doc_id
         |)
         |SELECT qid, doc_id, text_rank, vec_rank, rrf,
         |  CAST(fr AS BIGINT) AS final_rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY rrf DESC, doc_id ASC) AS fr FROM fused)
         |WHERE fr <= 10 ORDER BY qid, final_rank""".stripMargin,

    "s14_ivf_pq" ->
      s"""WITH $unnestSql,
         |$cellAsgSql,
         |probe AS (
         |  SELECT vec_id AS qid, cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY ccos DESC, cell ASC) AS r
         |    FROM sc WHERE vec_id % 50 = 0)
         |  WHERE r <= 2
         |),
         |cb AS (
         |  SELECT e.label AS code, u.i,
         |         CAST(round(CAST(SUM(u.x) AS DOUBLE) / count(*)) AS BIGINT)
         |           AS cx
         |  FROM u JOIN embeddings e ON e.vec_id = u.vec_id
         |  GROUP BY e.label, u.i
         |),
         |sd AS (
         |  SELECT u.vec_id, cb.code, (u.i - 1) // 8 AS m,
         |         CAST(SUM((u.x - cb.cx) * (u.x - cb.cx)) AS BIGINT) AS d
         |  FROM u JOIN cb USING (i)
         |  GROUP BY u.vec_id, cb.code, (u.i - 1) // 8
         |),
         |codes AS (
         |  SELECT vec_id, m, code FROM (
         |    SELECT vec_id, m, code, row_number() OVER (
         |      PARTITION BY vec_id, m ORDER BY d ASC, code ASC) AS rn
         |    FROM sd) WHERE rn = 1
         |),
         |adc AS (
         |  SELECT p.qid, a.vec_id, CAST(SUM(q.d) AS BIGINT) AS adc_dist
         |  FROM probe p
         |  JOIN asg a ON a.cell = p.cell
         |  JOIN codes c ON c.vec_id = a.vec_id
         |  JOIN sd q ON q.vec_id = p.qid AND q.code = c.code AND q.m = c.m
         |  WHERE a.vec_id <> p.qid
         |  GROUP BY p.qid, a.vec_id
         |)
         |SELECT qid, vec_id AS neighbor_id, rank, adc_dist FROM (
         |  SELECT qid, vec_id, adc_dist, row_number() OVER (
         |    PARTITION BY qid ORDER BY adc_dist ASC, vec_id ASC) AS rank
         |  FROM adc)
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    // s27: s13's cb/sd/codes CTEs -> per-(subspace, code) assignment
    // census + rounded-mean recompute + integer L1 shift vs the seed
    // s29: s27's sd CTE + the s13 argmin rule keeping its distance,
    // re-keyed (subspace, code) onto the zero-kept codebook spine
    "s29_pq_distortion" ->
      """WITH u AS (
        |  SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
        |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS x
        |  FROM embeddings
        |),
        |cb AS (
        |  SELECT label AS code, i,
        |         CAST(round(CAST(SUM(x) AS DOUBLE) / count(*)) AS BIGINT) AS cx
        |  FROM u GROUP BY label, i
        |),
        |sd AS (
        |  SELECT u.vec_id, cb.code, (u.i - 1) // 8 AS m,
        |         CAST(SUM((u.x - cb.cx) * (u.x - cb.cx)) AS BIGINT) AS d
        |  FROM u JOIN cb USING (i)
        |  GROUP BY u.vec_id, cb.code, (u.i - 1) // 8
        |),
        |best AS (
        |  SELECT vec_id, m, code, d FROM (
        |    SELECT vec_id, m, code, d, row_number() OVER (
        |      PARTITION BY vec_id, m ORDER BY d ASC, code ASC) AS rn
        |    FROM sd) WHERE rn = 1
        |),
        |per AS (
        |  SELECT m, code, CAST(count(*) AS BIGINT) AS n_assigned,
        |         CAST(SUM(d) AS BIGINT) AS sse
        |  FROM best GROUP BY m, code
        |),
        |codesall AS (
        |  SELECT DISTINCT CAST(label AS BIGINT) AS code FROM embeddings
        |),
        |spine AS (
        |  SELECT ms.m AS subspace, c.code
        |  FROM (SELECT unnest(generate_series(0, 7)) AS m) ms
        |  CROSS JOIN codesall c
        |)
        |SELECT CAST(sp.subspace AS BIGINT) AS subspace, sp.code,
        |  CAST(coalesce(p.n_assigned, 0) AS BIGINT) AS n_assigned,
        |  CAST(coalesce(p.sse, 0) AS BIGINT) AS sse,
        |  CASE WHEN coalesce(p.n_assigned, 0) > 0
        |    THEN CAST(p.sse AS DOUBLE) / p.n_assigned END AS mean_sse
        |FROM spine sp
        |LEFT JOIN per p ON p.m = sp.subspace AND p.code = sp.code
        |ORDER BY subspace, sp.code""".stripMargin,

    "s27_pq_train" ->
      """WITH u AS (
        |  SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
        |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS x
        |  FROM embeddings
        |),
        |cb AS (
        |  SELECT label AS code, i,
        |         CAST(round(CAST(SUM(x) AS DOUBLE) / count(*)) AS BIGINT) AS cx
        |  FROM u GROUP BY label, i
        |),
        |sd AS (
        |  SELECT u.vec_id, cb.code, (u.i - 1) // 8 AS m,
        |         CAST(SUM((u.x - cb.cx) * (u.x - cb.cx)) AS BIGINT) AS d
        |  FROM u JOIN cb USING (i)
        |  GROUP BY u.vec_id, cb.code, (u.i - 1) // 8
        |),
        |codes AS (
        |  SELECT vec_id, m, code FROM (
        |    SELECT vec_id, m, code, row_number() OVER (
        |      PARTITION BY vec_id, m ORDER BY d ASC, code ASC) AS rn
        |    FROM sd) WHERE rn = 1
        |),
        |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
        |counts AS (
        |  SELECT c.m, c.code, CAST(count(*) AS BIGINT) AS n_assigned,
        |    CAST(sum(CASE WHEN l.label <> c.code THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_moved
        |  FROM codes c JOIN lab l USING (vec_id)
        |  GROUP BY c.m, c.code
        |),
        |newc AS (
        |  SELECT c.m, c.code, u.i,
        |    CAST(round(CAST(SUM(u.x) AS DOUBLE) / count(*)) AS BIGINT) AS nx
        |  FROM codes c
        |  JOIN u ON u.vec_id = c.vec_id AND (u.i - 1) // 8 = c.m
        |  GROUP BY c.m, c.code, u.i
        |),
        |shift AS (
        |  SELECT n.m, n.code, CAST(SUM(abs(n.nx - cb.cx)) AS BIGINT)
        |    AS l1_shift
        |  FROM newc n JOIN cb ON cb.code = n.code AND cb.i = n.i
        |  GROUP BY n.m, n.code
        |),
        |seed AS (
        |  SELECT CAST(label AS BIGINT) AS code, CAST(count(*) AS BIGINT)
        |    AS n_seed
        |  FROM embeddings GROUP BY label
        |),
        |spine AS (
        |  SELECT ms.m AS subspace, seed.code, seed.n_seed
        |  FROM (SELECT unnest(generate_series(0, 7)) AS m) ms
        |  CROSS JOIN seed
        |)
        |SELECT CAST(sp.subspace AS BIGINT) AS subspace, sp.code, sp.n_seed,
        |  CAST(coalesce(c.n_assigned, 0) AS BIGINT) AS n_assigned,
        |  CAST(coalesce(c.n_moved, 0) AS BIGINT) AS n_moved,
        |  CAST(coalesce(s.l1_shift, 0) AS BIGINT) AS l1_shift
        |FROM spine sp
        |LEFT JOIN counts c ON c.m = sp.subspace AND c.code = sp.code
        |LEFT JOIN shift s ON s.m = sp.subspace AND s.code = sp.code
        |ORDER BY subspace, sp.code""".stripMargin,

    "s13_pq_adc" ->
      """WITH u AS (
        |  SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
        |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS x
        |  FROM embeddings
        |),
        |cb AS (
        |  SELECT label AS code, i,
        |         CAST(round(CAST(SUM(x) AS DOUBLE) / count(*)) AS BIGINT) AS cx
        |  FROM u GROUP BY label, i
        |),
        |sd AS (
        |  SELECT u.vec_id, cb.code, (u.i - 1) // 8 AS m,
        |         CAST(SUM((u.x - cb.cx) * (u.x - cb.cx)) AS BIGINT) AS d
        |  FROM u JOIN cb USING (i)
        |  GROUP BY u.vec_id, cb.code, (u.i - 1) // 8
        |),
        |codes AS (
        |  SELECT vec_id, m, code FROM (
        |    SELECT vec_id, m, code, row_number() OVER (
        |      PARTITION BY vec_id, m ORDER BY d ASC, code ASC) AS rn
        |    FROM sd) WHERE rn = 1
        |),
        |adc AS (
        |  SELECT q.vec_id AS qid, c.vec_id, CAST(SUM(q.d) AS BIGINT) AS adc_dist
        |  FROM codes c JOIN sd q ON q.code = c.code AND q.m = c.m
        |  WHERE q.vec_id % 50 = 0 AND c.vec_id <> q.vec_id
        |  GROUP BY q.vec_id, c.vec_id
        |)
        |SELECT qid, vec_id AS neighbor_id, rank, adc_dist FROM (
        |  SELECT qid, vec_id, adc_dist, row_number() OVER (
        |    PARTITION BY qid ORDER BY adc_dist ASC, vec_id ASC) AS rank
        |  FROM adc)
        |WHERE rank <= 8 ORDER BY qid, rank""".stripMargin,

    "s12_mips_topk" ->
      s"""WITH $unnestSql,
         |d AS (
         |  SELECT q.vec_id AS qid, v.vec_id AS vid,
         |         CAST(SUM(q.x * v.x) AS BIGINT) AS dot
         |  FROM u q JOIN u v USING (i)
         |  WHERE q.vec_id % 50 = 25 AND v.vec_id <> q.vec_id
         |  GROUP BY q.vec_id, v.vec_id
         |)
         |SELECT qid, vid AS neighbor_id, rank, dot FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY dot DESC, vid ASC) AS rank FROM d)
         |WHERE rank <= 8 ORDER BY qid, rank""".stripMargin,

    "s10_quantized_rescore" ->
      s"""WITH $unnestSql,
         |$unnest8Sql,
         |d8 AS (
         |  SELECT q.vec_id AS qid, v.vec_id AS vid, SUM(q.x8 * v.x8) AS dot8
         |  FROM u8 q JOIN u8 v USING (i)
         |  WHERE q.vec_id % 50 = 0 AND v.vec_id <> q.vec_id
         |  GROUP BY q.vec_id, v.vec_id
         |),
         |c8 AS (
         |  SELECT qid, vid, CAST(dot8 AS DOUBLE) /
         |    (sqrt(CAST(nq.norm8 AS DOUBLE)) * sqrt(CAST(nv.norm8 AS DOUBLE)))
         |      AS q_cosine
         |  FROM d8 JOIN n8 nq ON nq.vec_id = qid JOIN n8 nv ON nv.vec_id = vid
         |),
         |pool AS (
         |  SELECT qid, vid, q_cosine FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY q_cosine DESC, vid ASC) AS r8 FROM c8)
         |  WHERE r8 <= 20
         |),
         |d AS (
         |  SELECT p.qid, p.vid, SUM(uq.x * uv.x) AS dot
         |  FROM pool p
         |  JOIN u uq ON uq.vec_id = p.qid
         |  JOIN u uv ON uv.vec_id = p.vid AND uv.i = uq.i
         |  GROUP BY p.qid, p.vid
         |),
         |c AS (
         |  SELECT qid, vid, CAST(dot AS DOUBLE) /
         |    (sqrt(CAST(nq.normsq AS DOUBLE)) * sqrt(CAST(nv.normsq AS DOUBLE)))
         |      AS cosine
         |  FROM d JOIN n nq ON nq.vec_id = qid JOIN n nv ON nv.vec_id = vid
         |)
         |SELECT qid, vid AS neighbor_id, rank, cosine, q_cosine FROM (
         |  SELECT c.qid, c.vid, c.cosine, p.q_cosine,
         |    row_number() OVER (PARTITION BY c.qid
         |      ORDER BY c.cosine DESC, c.vid ASC) AS rank
         |  FROM c JOIN pool p ON p.qid = c.qid AND p.vid = c.vid)
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    "s07_banded_ann" -> bandedAnnSql(queryMod = 50),
    "s09_knn_join" -> bandedAnnSql(queryMod = 10),

    "s33_knn_join_wide" ->
      bandedAnnSql(queryMod = 10, keysSql = wideBandKeysSql),

    // s26: s08's statement with the metadata predicate on the searched
    // corpus side and the widened 4-cell probe
    "s26_filtered_ann" ->
      s"""WITH $unnestSql,
         |$cellAsgSql,
         |probe AS (
         |  SELECT vec_id AS qid, cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY ccos DESC, cell ASC) AS r
         |    FROM sc WHERE vec_id % 50 = 0)
         |  WHERE r <= 4
         |),
         |d AS (
         |  SELECT p.qid, v.vec_id AS vid, SUM(uq.x * uv.x) AS dot
         |  FROM probe p
         |  JOIN asg v ON v.cell = p.cell AND v.vec_id <> p.qid
         |    AND v.vec_id % 3 = 1
         |  JOIN u uq ON uq.vec_id = p.qid
         |  JOIN u uv ON uv.vec_id = v.vec_id AND uv.i = uq.i
         |  GROUP BY p.qid, v.vec_id
         |),
         |c AS (
         |  SELECT qid, vid, CAST(dot AS DOUBLE) /
         |    (sqrt(CAST(nq.normsq AS DOUBLE)) * sqrt(CAST(nv.normsq AS DOUBLE)))
         |      AS cosine
         |  FROM d JOIN n nq ON nq.vec_id = qid JOIN n nv ON nv.vec_id = vid
         |)
         |SELECT qid, vid AS neighbor_id, rank, cosine FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY cosine DESC, vid ASC) AS rank FROM c)
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    "s08_ivf_ann" ->
      s"""WITH $unnestSql,
         |$cellAsgSql,
         |probe AS (
         |  SELECT vec_id AS qid, cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY ccos DESC, cell ASC) AS r
         |    FROM sc WHERE vec_id % 50 = 0)
         |  WHERE r <= 2
         |),
         |d AS (
         |  SELECT p.qid, v.vec_id AS vid, SUM(uq.x * uv.x) AS dot
         |  FROM probe p
         |  JOIN asg v ON v.cell = p.cell AND v.vec_id <> p.qid
         |  JOIN u uq ON uq.vec_id = p.qid
         |  JOIN u uv ON uv.vec_id = v.vec_id AND uv.i = uq.i
         |  GROUP BY p.qid, v.vec_id
         |),
         |c AS (
         |  SELECT qid, vid, CAST(dot AS DOUBLE) /
         |    (sqrt(CAST(nq.normsq AS DOUBLE)) * sqrt(CAST(nv.normsq AS DOUBLE)))
         |      AS cosine
         |  FROM d JOIN n nq ON nq.vec_id = qid JOIN n nv ON nv.vec_id = vid
         |)
         |SELECT qid, vid AS neighbor_id, rank, cosine FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY cosine DESC, vid ASC) AS rank FROM c)
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    "s11_semantic_dedup" ->
      s"""WITH $unnestSql,
         |$cellAsgSql,
         |p AS (
         |  SELECT a.vec_id AS ia, b.vec_id AS ib,
         |         CAST(SUM(ua.x * ub.x) AS DOUBLE) /
         |           (sqrt(CAST(na.normsq AS DOUBLE)) *
         |            sqrt(CAST(nb.normsq AS DOUBLE))) AS cos
         |  FROM asg a JOIN asg b ON b.cell = a.cell AND a.vec_id < b.vec_id
         |  JOIN u ua ON ua.vec_id = a.vec_id
         |  JOIN u ub ON ub.vec_id = b.vec_id AND ub.i = ua.i
         |  JOIN n na ON na.vec_id = a.vec_id
         |  JOIN n nb ON nb.vec_id = b.vec_id
         |  GROUP BY a.vec_id, b.vec_id, na.normsq, nb.normsq
         |),
         |dom AS (
         |  SELECT ib AS vec_id, min(ia) AS keeper_id, max(cos) AS max_cosine
         |  FROM p WHERE cos >= $SemDedupTau GROUP BY ib
         |)
         |SELECT g.vec_id, CAST(g.cell AS BIGINT) AS cell,
         |       dom.keeper_id IS NULL AS kept,
         |       dom.keeper_id, dom.max_cosine
         |FROM asg g LEFT JOIN dom ON dom.vec_id = g.vec_id
         |ORDER BY g.vec_id""".stripMargin,

    "s06_label_centroids" ->
      s"""WITH $unnestSql
         |SELECT e.label, u.i AS dim, count(*) AS n,
         |       CAST(SUM(u.x) AS DOUBLE) / (count(*) * 1e6) AS mean_value
         |FROM u JOIN embeddings e ON e.vec_id = u.vec_id
         |GROUP BY e.label, u.i ORDER BY label, dim""".stripMargin,

    "s05_lsh_multiprobe" ->
      s"""WITH $unnestSql,
         |e AS (
         |  SELECT vec_id, ${signKeySql("embedding", 4)} AS bucket
         |  FROM embeddings
         |),
         |qp AS (
         |  SELECT vec_id AS qid, unnest($probesSql) AS bucket
         |  FROM e WHERE vec_id % 50 = 0
         |),
         |d AS (
         |  SELECT qp.qid, v.vec_id AS vid, SUM(q.x * v.x) AS dot
         |  FROM u q JOIN u v USING (i)
         |  JOIN qp ON qp.qid = q.vec_id
         |  JOIN e ev ON ev.vec_id = v.vec_id AND ev.bucket = qp.bucket
         |  WHERE v.vec_id <> q.vec_id
         |  GROUP BY qp.qid, v.vec_id
         |),
         |c AS (
         |  SELECT qid, vid, CAST(dot AS DOUBLE) /
         |    (sqrt(CAST(nq.normsq AS DOUBLE)) * sqrt(CAST(nv.normsq AS DOUBLE)))
         |      AS cosine
         |  FROM d JOIN n nq ON nq.vec_id = qid JOIN n nv ON nv.vec_id = vid
         |)
         |SELECT qid, vid AS neighbor_id, rank, cosine FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY cosine DESC, vid ASC) AS rank FROM c)
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    "s02_lsh_ann" ->
      s"""WITH $unnestSql,
         |e AS (
         |  SELECT vec_id, ${signKeySql("embedding", 4)} AS bucket
         |  FROM embeddings
         |),
         |d AS (
         |  SELECT q.vec_id AS qid, v.vec_id AS vid,
         |         SUM(q.x * v.x) AS dot
         |  FROM u q JOIN u v USING (i)
         |  JOIN e eq ON eq.vec_id = q.vec_id
         |  JOIN e ev ON ev.vec_id = v.vec_id AND ev.bucket = eq.bucket
         |  WHERE q.vec_id % 50 = 0 AND v.vec_id <> q.vec_id
         |  GROUP BY q.vec_id, v.vec_id
         |),
         |c AS (
         |  SELECT qid, vid, CAST(dot AS DOUBLE) /
         |    (sqrt(CAST(nq.normsq AS DOUBLE)) * sqrt(CAST(nv.normsq AS DOUBLE)))
         |      AS cosine
         |  FROM d JOIN n nq ON nq.vec_id = qid JOIN n nv ON nv.vec_id = vid
         |)
         |SELECT qid, vid AS neighbor_id, rank, cosine,
         |       (SELECT bucket FROM e WHERE e.vec_id = qid) AS bucket
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY cosine DESC, vid ASC) AS rank FROM c)
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    // s17: exact top-5 (the knn CTE) intersected with the s02 LSH
    // top-5, counted per query — pure integer work over the two
    // rankings stated above
    // s24: one widest-probe candidate pass re-read per sweep level,
    // scored against the same brute-force truth as s17
    "s24_nprobe_sweep" ->
      s"""WITH $unnestSql,
         |$cellAsgSql,
         |probe AS (
         |  SELECT vec_id AS qid, cell, CAST(r AS BIGINT) AS probe_rank
         |  FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY ccos DESC, cell ASC) AS r
         |    FROM sc WHERE vec_id % 50 = 0)
         |  WHERE r <= 4
         |),
         |dall AS (
         |  SELECT q.vec_id AS qid, v.vec_id AS vid, SUM(q.x * v.x) AS dot
         |  FROM u q JOIN u v USING (i)
         |  WHERE q.vec_id % 50 = 0 AND v.vec_id <> q.vec_id
         |  GROUP BY q.vec_id, v.vec_id
         |),
         |call AS (
         |  SELECT qid, vid, CAST(dot AS DOUBLE) /
         |    (sqrt(CAST(nq.normsq AS DOUBLE)) * sqrt(CAST(nv.normsq AS DOUBLE)))
         |      AS cosine
         |  FROM dall JOIN n nq ON nq.vec_id = qid JOIN n nv ON nv.vec_id = vid
         |),
         |ex AS (
         |  SELECT qid, vid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY cosine DESC, vid ASC) AS rank FROM call)
         |  WHERE rank <= 5
         |),
         |dc AS (
         |  SELECT p.qid, v.vec_id AS vid, p.probe_rank,
         |         SUM(uq.x * uv.x) AS dot
         |  FROM probe p
         |  JOIN asg v ON v.cell = p.cell AND v.vec_id <> p.qid
         |  JOIN u uq ON uq.vec_id = p.qid
         |  JOIN u uv ON uv.vec_id = v.vec_id AND uv.i = uq.i
         |  GROUP BY p.qid, v.vec_id, p.probe_rank
         |),
         |cand AS (
         |  SELECT qid, vid, probe_rank, CAST(dot AS DOUBLE) /
         |    (sqrt(CAST(nq.normsq AS DOUBLE)) * sqrt(CAST(nv.normsq AS DOUBLE)))
         |      AS cosine
         |  FROM dc JOIN n nq ON nq.vec_id = qid JOIN n nv ON nv.vec_id = vid
         |),
         |leveled AS (
         |  SELECT c.*, CAST(l AS BIGINT) AS n_probe
         |  FROM cand c, unnest(generate_series(c.probe_rank, 4)) AS t(l)
         |),
         |anntop AS (
         |  SELECT n_probe, qid, vid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY n_probe, qid
         |      ORDER BY cosine DESC, vid ASC) AS rank FROM leveled)
         |  WHERE rank <= 5
         |),
         |hits AS (
         |  SELECT a.n_probe, CAST(count(*) AS BIGINT) AS n_hits
         |  FROM anntop a JOIN ex ON ex.qid = a.qid AND ex.vid = a.vid
         |  GROUP BY a.n_probe
         |),
         |cands AS (
         |  SELECT n_probe, CAST(count(*) AS BIGINT) AS n_candidates
         |  FROM leveled GROUP BY n_probe
         |),
         |denom AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM ex)
         |SELECT c.n_probe, c.n_candidates,
         |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits, d.n_exact,
         |  CAST(coalesce(h.n_hits, 0) AS DOUBLE) / d.n_exact AS recall_at_5
         |FROM cands c LEFT JOIN hits h ON h.n_probe = c.n_probe
         |CROSS JOIN denom d
         |ORDER BY c.n_probe""".stripMargin,

    "s17_recall_report" ->
      s"""WITH $unnestSql,
         |e AS (
         |  SELECT vec_id, ${signKeySql("embedding", 4)} AS bucket
         |  FROM embeddings
         |),
         |dall AS (
         |  SELECT q.vec_id AS qid, v.vec_id AS vid, SUM(q.x * v.x) AS dot
         |  FROM u q JOIN u v USING (i)
         |  WHERE q.vec_id % 50 = 0 AND v.vec_id <> q.vec_id
         |  GROUP BY q.vec_id, v.vec_id
         |),
         |call AS (
         |  SELECT qid, vid, CAST(dot AS DOUBLE) /
         |    (sqrt(CAST(nq.normsq AS DOUBLE)) * sqrt(CAST(nv.normsq AS DOUBLE)))
         |      AS cosine
         |  FROM dall JOIN n nq ON nq.vec_id = qid JOIN n nv ON nv.vec_id = vid
         |),
         |ex AS (
         |  SELECT qid, vid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY cosine DESC, vid ASC) AS rank FROM call)
         |  WHERE rank <= 5
         |),
         |dl AS (
         |  SELECT q.vec_id AS qid, v.vec_id AS vid, SUM(q.x * v.x) AS dot
         |  FROM u q JOIN u v USING (i)
         |  JOIN e eq ON eq.vec_id = q.vec_id
         |  JOIN e ev ON ev.vec_id = v.vec_id AND ev.bucket = eq.bucket
         |  WHERE q.vec_id % 50 = 0 AND v.vec_id <> q.vec_id
         |  GROUP BY q.vec_id, v.vec_id
         |),
         |cl AS (
         |  SELECT qid, vid, CAST(dot AS DOUBLE) /
         |    (sqrt(CAST(nq.normsq AS DOUBLE)) * sqrt(CAST(nv.normsq AS DOUBLE)))
         |      AS cosine
         |  FROM dl JOIN n nq ON nq.vec_id = qid JOIN n nv ON nv.vec_id = vid
         |),
         |ann AS (
         |  SELECT qid, vid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY cosine DESC, vid ASC) AS rank FROM cl)
         |  WHERE rank <= 5
         |),
         |nx AS (SELECT qid, count(*) AS n_exact FROM ex GROUP BY qid),
         |hit AS (
         |  SELECT ex.qid, count(*) AS n_hits
         |  FROM ex JOIN ann ON ann.qid = ex.qid AND ann.vid = ex.vid
         |  GROUP BY ex.qid
         |)
         |SELECT nx.qid, nx.n_exact,
         |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST(coalesce(h.n_hits, 0) AS DOUBLE) / nx.n_exact AS recall_at_5
         |FROM nx LEFT JOIN hit h ON h.qid = nx.qid
         |ORDER BY nx.qid""".stripMargin,

    "s03_embed_neardup" ->
      s"""WITH $unnestSql,
         |bl AS (
         |  SELECT vec_id, $bandKeysSql AS keys FROM embeddings
         |),
         |eb AS (
         |  SELECT vec_id, generate_subscripts(keys, 1) AS band,
         |         unnest(keys) AS key
         |  FROM bl
         |),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM eb a JOIN eb b ON b.band = a.band AND b.key = a.key
         |  WHERE a.vec_id < b.vec_id
         |),
         |d AS (
         |  SELECT c.id_a, c.id_b, SUM(ua.x * ub.x) AS dot
         |  FROM cand c
         |  JOIN u ua ON ua.vec_id = c.id_a
         |  JOIN u ub ON ub.vec_id = c.id_b AND ub.i = ua.i
         |  GROUP BY c.id_a, c.id_b
         |),
         |c AS (
         |  SELECT id_a, id_b, CAST(dot AS DOUBLE) /
         |    (sqrt(CAST(na.normsq AS DOUBLE)) * sqrt(CAST(nb.normsq AS DOUBLE)))
         |      AS cosine
         |  FROM d JOIN n na ON na.vec_id = id_a JOIN n nb ON nb.vec_id = id_b
         |)
         |SELECT id_a, id_b, cosine FROM c
         |WHERE cosine >= 0.35 ORDER BY id_a, id_b""".stripMargin,

    // s28: same banded candidates + pair cosines as s03 (no threshold),
    // mirrored into a directed edge list, top-3 per source, reciprocal join
    // s35: banded train x eval candidates, exact cosine, radius flag +
    // per-train nearest eval anchor (ties to the smaller eval id)
    "s35_embedding_decontam" ->
      s"""WITH $unnestSql,
         |bl AS (
         |  SELECT vec_id, $bandKeysSql AS keys FROM embeddings
         |),
         |eb AS (
         |  SELECT vec_id, generate_subscripts(keys, 1) AS band,
         |         unnest(keys) AS key
         |  FROM bl
         |),
         |cand AS (
         |  SELECT DISTINCT t.vec_id AS train_id, e.vec_id AS eval_id
         |  FROM eb t JOIN eb e ON e.band = t.band AND e.key = t.key
         |  WHERE t.vec_id % 97 <> 0 AND e.vec_id % 97 = 0
         |),
         |d AS (
         |  SELECT c.train_id, c.eval_id, SUM(ua.x * ub.x) AS dot
         |  FROM cand c
         |  JOIN u ua ON ua.vec_id = c.train_id
         |  JOIN u ub ON ub.vec_id = c.eval_id AND ub.i = ua.i
         |  GROUP BY c.train_id, c.eval_id
         |),
         |c AS (
         |  SELECT train_id, eval_id, CAST(dot AS DOUBLE) /
         |    (sqrt(CAST(na.normsq AS DOUBLE)) * sqrt(CAST(nb.normsq AS DOUBLE)))
         |      AS cosine
         |  FROM d JOIN n na ON na.vec_id = train_id
         |    JOIN n nb ON nb.vec_id = eval_id
         |),
         |f AS (SELECT * FROM c WHERE cosine >= 0.35),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY train_id
         |      ORDER BY cosine DESC, eval_id ASC) AS rk,
         |    count(*) OVER (PARTITION BY train_id) AS n_eval_hits
         |  FROM f
         |)
         |SELECT train_id AS vec_id,
         |  CAST(n_eval_hits AS BIGINT) AS n_eval_hits,
         |  eval_id AS nearest_eval_id, cosine AS nearest_cosine
         |FROM r WHERE rk = 1 ORDER BY vec_id""".stripMargin,
    // s34: s28's banded directed top-3 with a per-source majority vote
    // (ties break for the own label, then the smaller label id), rolled
    // to (label, voted) cells
    "s34_knn_label_vote" ->
      s"""WITH $unnestSql,
         |bl AS (
         |  SELECT vec_id, $bandKeysSql AS keys FROM embeddings
         |),
         |eb AS (
         |  SELECT vec_id, generate_subscripts(keys, 1) AS band,
         |         unnest(keys) AS key
         |  FROM bl
         |),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM eb a JOIN eb b ON b.band = a.band AND b.key = a.key
         |  WHERE a.vec_id < b.vec_id
         |),
         |d AS (
         |  SELECT c.id_a, c.id_b, SUM(ua.x * ub.x) AS dot
         |  FROM cand c
         |  JOIN u ua ON ua.vec_id = c.id_a
         |  JOIN u ub ON ub.vec_id = c.id_b AND ub.i = ua.i
         |  GROUP BY c.id_a, c.id_b
         |),
         |c AS (
         |  SELECT id_a, id_b, CAST(dot AS DOUBLE) /
         |    (sqrt(CAST(na.normsq AS DOUBLE)) * sqrt(CAST(nb.normsq AS DOUBLE)))
         |      AS cosine
         |  FROM d JOIN n na ON na.vec_id = id_a JOIN n nb ON nb.vec_id = id_b
         |),
         |dir AS (
         |  SELECT id_a AS src, id_b AS dst, cosine FROM c
         |  UNION ALL
         |  SELECT id_b AS src, id_a AS dst, cosine FROM c
         |),
         |r AS (
         |  SELECT src, dst, row_number() OVER (PARTITION BY src
         |    ORDER BY cosine DESC, dst ASC) AS rank
         |  FROM dir
         |),
         |k AS (SELECT * FROM r WHERE rank <= 3),
         |lbl AS (SELECT vec_id, CAST(label AS BIGINT) AS label
         |        FROM embeddings),
         |votes AS (
         |  SELECT k.src, l.label AS nbr_label, count(*) AS n_votes
         |  FROM k JOIN lbl l ON l.vec_id = k.dst
         |  GROUP BY k.src, l.label
         |),
         |voted AS (
         |  SELECT src, nbr_label AS voted_label FROM (
         |    SELECT vt.*, row_number() OVER (PARTITION BY vt.src
         |      ORDER BY vt.n_votes DESC,
         |        CASE WHEN vt.nbr_label = ol.label THEN 0 ELSE 1 END ASC,
         |        vt.nbr_label ASC) AS rk
         |    FROM votes vt JOIN lbl ol ON ol.vec_id = vt.src)
         |  WHERE rk = 1
         |)
         |SELECT l.label, COALESCE(v.voted_label, -1) AS voted_label,
         |  CAST(count(*) AS BIGINT) AS n_vectors,
         |  CAST(CASE WHEN COALESCE(v.voted_label, -1) >= 0
         |    AND COALESCE(v.voted_label, -1) <> l.label
         |    THEN 1 ELSE 0 END AS BIGINT) AS is_mismatch
         |FROM lbl l LEFT JOIN voted v ON v.src = l.vec_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "s28_mutual_knn" ->
      s"""WITH $unnestSql,
         |bl AS (
         |  SELECT vec_id, $bandKeysSql AS keys FROM embeddings
         |),
         |eb AS (
         |  SELECT vec_id, generate_subscripts(keys, 1) AS band,
         |         unnest(keys) AS key
         |  FROM bl
         |),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM eb a JOIN eb b ON b.band = a.band AND b.key = a.key
         |  WHERE a.vec_id < b.vec_id
         |),
         |d AS (
         |  SELECT c.id_a, c.id_b, SUM(ua.x * ub.x) AS dot
         |  FROM cand c
         |  JOIN u ua ON ua.vec_id = c.id_a
         |  JOIN u ub ON ub.vec_id = c.id_b AND ub.i = ua.i
         |  GROUP BY c.id_a, c.id_b
         |),
         |c AS (
         |  SELECT id_a, id_b, CAST(dot AS DOUBLE) /
         |    (sqrt(CAST(na.normsq AS DOUBLE)) * sqrt(CAST(nb.normsq AS DOUBLE)))
         |      AS cosine
         |  FROM d JOIN n na ON na.vec_id = id_a JOIN n nb ON nb.vec_id = id_b
         |),
         |dir AS (
         |  SELECT id_a AS src, id_b AS dst, cosine FROM c
         |  UNION ALL
         |  SELECT id_b AS src, id_a AS dst, cosine FROM c
         |),
         |r AS (
         |  SELECT src, dst, cosine, row_number() OVER (PARTITION BY src
         |    ORDER BY cosine DESC, dst ASC) AS rank
         |  FROM dir
         |),
         |k AS (SELECT * FROM r WHERE rank <= 3)
         |SELECT ab.src AS id_a, ab.dst AS id_b, ab.rank AS rank_ab,
         |       ba.rank AS rank_ba, ab.cosine
         |FROM k ab JOIN k ba ON ba.src = ab.dst AND ba.dst = ab.src
         |WHERE ab.src < ab.dst ORDER BY id_a, id_b""".stripMargin
  )
}
