package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** Dev utility: scaling measurements on planted corpora that carry a
  * property the sf0.001–sf0.1 tables lack — hot-key skew, long
  * documents, a large disorder run, degree-500 hubs and a deep chain.
  * Probes whose claim the sf tables already cover were retired; NOTES.md
  * ("Retired ScalingProbe modes") maps each to its last recorded numbers.
  *
  * `sbt "runMain graft.ScalingProbe <mode> [n]"` runs one mode of
  * [[modes]] at n rows (its default when omitted) on
  * `local[availableProcessors]`; no argument prints the mode list.
  * Every timed body runs twice — run 2 is the warm number NOTES.md
  * records — and each row names the session's master so rows stay
  * comparable across core counts.
  */
object ScalingProbe {

  /** Run `body` twice and print one row per run: wall time, master,
    * the body's readout, and the persisted MB still pinned right after
    * it returns (read before `Caches.unpersistAll`, it is a fixpoint
    * loop's end-state footprint).
    */
  private def time(name: String, n: Int)(body: => String): Unit =
    (1 to 2).foreach { i =>
      val t0 = System.nanoTime()
      val readout = body
      val dt = (System.nanoTime() - t0) / 1e9
      val sc = SparkSession.active.sparkContext
      val pinnedMb = sc.getRDDStorageInfo.map(_.memSize).sum / 1e6
      println(f"$name n=$n ${sc.master} run $i: $dt%.2fs $readout " +
        f"pinnedMB=$pinnedMb%.1f")
      Caches.unpersistAll()
    }

  /** Deterministic word-soup corpus: doc i = `len` six-char tokens
    * drawn from a global token stream with stride len-10, so adjacent
    * docs share 10 tokens (7 four-grams) — planted contamination, no
    * rand().
    */
  private def wordSoup(spark: SparkSession, n: Int, len: Int): DataFrame =
    spark.range(n.toLong).select(col("id").as("doc_id"),
      expr(s"array_join(transform(sequence(0, ${len - 1})," +
        s" j -> substring(md5(CAST(id * ${len - 10} + j AS STRING)), 1, 6)), ' ')")
        .as("text"))

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
      s"n_late=${r.getLong(4)}"
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
      s"n_late=${r.getLong(0)}"
    }
    s.unpersist()
  }

  /** Document-LENGTH scaling (the dimension the round-6 lambda-re-split
    * and substring-walk fixes target): 500 tokens per doc, 5x the sf
    * tables' longest (<= 100 tokens) and 10x the 50-token word soup.
    * Both timed bodies are linear in total tokens; the old per-element
    * re-split / per-position substring forms were O(len^2) per doc and
    * would show ~100x here, not ~10x.
    */
  private def longDocsProbe(spark: SparkSession, n: Int): Unit = {
    val len = 500
    val docs = wordSoup(spark, n, len)
    time(s"d08_decontaminate_len$len", n) {
      s"rows=${graft.ops.DedupOps.decontaminate(docs).count()}"
    }
    time(s"shingle_arrays_len$len", n) {
      // head(), not count(): count() lets Catalyst prune the aggregate
      // input and skip the shingle computation entirely
      val shingles = graft.ops.DedupOps.shingleArrays(docs)
        .agg(sum(size(col("sh_arr")))).head().getLong(0)
      s"shingles=$shingles"
    }
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
      s"n_violating=${out.map(r => r.getAs[Long]("n_violating")).sum}"
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
      s"n_orphan_values=${out.map(r => r.getAs[Long]("n_orphan_values")).sum}"
    }
  }

  /** Planted hub-skewed + deep-chain graph (VERDICT r13 item 2). Per
    * scale n, three disjoint id blocks:
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
  private def plantedGraph(spark: SparkSession, n: Int): DataFrame = {
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

  /** g01/g06/d17 on the planted graph: wedge volume (the O(m^1.5) claim
    * measured directly — rows= IS the oriented wedge count), triangle
    * stats, edge support, and converged star contraction (rounds and
    * end-state pinned MB on the hub-skew + deep-chain topology).
    */
  private def wedgesProbe(spark: SparkSession, n: Int): Unit = {
    val pairs = plantedGraph(spark, n).persist()
    val m = pairs.count()
    val naive = graft.ops.GraphOps.degrees(pairs)
      .agg(sum(expr("degree * (degree - 1) div 2"))).head().getLong(0)
    println(s"g01_wedges n=$n edges=$m naive_wedge_bound=$naive")
    time("g01_wedge_volume", n) {
      s"rows=${graft.ops.GraphOps.orientedWedges(pairs,
        graft.Caches.cache(graft.ops.GraphOps.degrees(pairs))).count()}"
    }
    time("g01_triangle_stats", n) {
      s"rows=${graft.ops.GraphOps.triangleStats(pairs).count()}"
    }
    time("g06_edge_support", n) {
      s"rows=${graft.ops.GraphOps.edgeSupport(pairs).count()}"
    }
    time("d17_star_contract_planted", n) {
      val (stars, rounds) = graft.ops.DedupOps.starContract(
        pairs.select(col("doc_b").as("hi"), col("doc_a").as("lo")))
      s"rounds=$rounds components=${stars.select(col("lo")).distinct().count()}"
    }
    pairs.unpersist()
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
        val leaked = graft.ops.PipelineOps.evalLeakageOf(docs, splits, cap)
          .agg(sum(col("n_leaked_grams"))).head().getLong(0)
        s"leaked_grams=$leaked"
      }
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
      val padding = graft.ops.PipelineOps.lengthCurriculumOf(docs, 32L)
        .agg(sum(col("padding"))).head().get(0)
      s"padding=$padding"
    }
  }

  /** mode -> (default n, probe). */
  val modes: ListMap[String, (Int, (SparkSession, Int) => Unit)] = ListMap(
    "disorder" -> ((1000000, disorderProbe _)),
    "longdocs" -> ((20000, longDocsProbe _)),
    "fd" -> ((1000000, fdProbe _)),
    "ind" -> ((1000000, indProbe _)),
    "wedges" -> ((100000, wedgesProbe _)),
    "leakcap" -> ((100000, leakCapProbe _)),
    "curriculum" -> ((1000000, curriculumProbe _)))

  def main(args: Array[String]): Unit =
    args.headOption.flatMap(modes.get) match {
      case None =>
        println("usage: graft.ScalingProbe <mode> [n]; modes: " +
          modes.map { case (m, (n, _)) => s"$m (n=$n)" }.mkString(", "))
      case Some((defaultN, probe)) =>
        val spark = LocalSession
          .builder(Runtime.getRuntime.availableProcessors).getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        try probe(spark, args.lift(1).fold(defaultN)(_.toInt))
        finally spark.stop()
    }
}
