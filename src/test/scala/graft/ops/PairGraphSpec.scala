package graft.ops

import graft.SparkTestBase
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** The write-once near-dup pair-graph intermediate: built exactly once
  * per dataset dir, and every consumer (d03/d07/q23/p13) SCANS the
  * materialized parquet — no Generate/explode, no minhash recompute —
  * plus the p13 fixpoint-vs-4-round divergence the materialization
  * round fixed.
  */
class PairGraphSpec extends SparkTestBase {
  import spark.implicits._

  /** Write a (doc_id, text) corpus as `documents.parquet` under a fresh
    * temp dir shaped like a testdata sf dir.
    */
  private def plant(docs: Seq[(Long, String)], tag: String): String = {
    val dir = tempDir(s"pg_$tag").toString
    writeDocs(dir, docs)
    dir
  }

  /** (Re)write `dir`'s `documents.parquet` from a (doc_id, text) corpus. */
  private def writeDocs(dir: String, docs: Seq[(Long, String)]): Unit =
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("planted"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

  private def word(i: Int): String = f"tok$i%04d"

  private val shared = (0 until 80).map(word).mkString(" ")
  private val fillers = (10L to 29L).map(i =>
    i -> (200 until 280).map(j => word((j * (i.toInt + 7)) % 9973)).mkString(" "))

  /** A corpus with one exact near-dup pair (1,2) and filler docs. */
  private lazy val pairDir: String =
    plant(Seq(1L -> shared, 2L -> shared) ++ fillers, "pair")

  test("pair graph: built once per dir, every further consumer scans it") {
    val before = graft.Materialized.buildCount
    val d03a = DedupOps.d03LshNearDup(spark, pairDir).collect()
    val afterFirst = graft.Materialized.buildCount
    // two write-once tables: the band table, then the pair graph
    assert(afterFirst == before + 2)
    // planted near-dup pair present with J = 1.0
    assert(d03a.exists(r => r.getAs[Long]("doc_a") == 1L &&
      r.getAs[Long]("doc_b") == 2L && r.getAs[Double]("jaccard") == 1.0))
    // further consumers (d03 again, d07, d11, d17) trigger NO rebuild
    DedupOps.d03LshNearDup(spark, pairDir).collect()
    DedupOps.d07NeardupComponents(spark, pairDir).collect()
    DedupOps.d11DedupPipeline(spark, pairDir).collect()
    DedupOps.d17StarComponents(spark, pairDir).collect()
    assert(graft.Materialized.buildCount == afterFirst)
  }

  test("pair graph: rewriting documents.parquet in the same dir serves " +
      "the new corpus's pairs, not the first build's") {
    val other = (300 until 380).map(word).mkString(" ")
    def pairs(dir: String) = DedupOps.d03LshNearDup(spark, dir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val dir = plant(Seq(1L -> shared, 2L -> shared, 3L -> other) ++ fillers,
      "stale")
    assert(pairs(dir) == Set((1L, 2L)))
    // same dir, same doc ids: the near-dup pair moves from (1,2) to (2,3)
    writeDocs(dir, Seq(1L -> shared, 2L -> other, 3L -> other) ++ fillers)
    assert(pairs(dir) == Set((2L, 3L)),
      "served the first corpus's pair graph after documents.parquet changed")
  }

  test("consumer plans scan the materialized table: no Generate anywhere") {
    DedupOps.pairGraph(spark, pairDir).count() // ensure built
    val d03 = DedupOps.d03LshNearDup(spark, pairDir)
    val d03Plan = d03.queryExecution.optimizedPlan.toString
    assert(d03.inputFiles.nonEmpty &&
      d03.inputFiles.forall(_.contains("graft-materialized-")),
      s"d03 does not scan the materialized pair graph: ${d03.inputFiles.toSeq}")
    assert(!d03Plan.contains("Generate"),
      s"d03 plan still contains an explode:\n$d03Plan")
    val q23 = graft.ops.CoreOps.q23Reachability(spark, pairDir)
    val q23Plan = q23.queryExecution.optimizedPlan.toString
    assert(q23.inputFiles.nonEmpty &&
      q23.inputFiles.forall(_.contains("graft-materialized-")),
      s"q23 does not scan the materialized pair graph: ${q23.inputFiles.toSeq}")
    assert(!q23Plan.contains("Generate"),
      s"q23 plan still contains an explode:\n$q23Plan")
    // d16's near channel likewise scans the table (its exact channel
    // legitimately explodes nothing either — no Generate at all)
    val d16 = DedupOps.d16CorpusDiff(spark, pairDir)
    assert(d16.inputFiles.exists(_.contains("graft-materialized-")),
      s"d16 does not scan the materialized pair graph: ${d16.inputFiles.toSeq}")
    assert(!d16.queryExecution.optimizedPlan.toString.contains("Generate"),
      "d16 plan contains an explode")
  }

  test("Caches.checkpoint pins the propagation rounds and releases them all") {
    graft.Caches.unpersistAll()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    DedupOps.d07NeardupComponents(spark, pairDir).collect()
    // the 4 propagation rounds (+ seed) pinned RDD blocks
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty)
    graft.Caches.unpersistAll()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "checkpointed RDDs leaked past unpersistAll")
  }

  /** A 7-doc sliding-window chain: consecutive docs share 140 of 150
    * words (J ~ 0.875 >= 0.8), two-apart docs share 130 of 170
    * (J ~ 0.76 < 0.8) — a diameter-6 PATH in the pair graph, the shape
    * that under-merges at 4 propagation rounds.
    */
  private lazy val chainDir: String = {
    val base = (0 until 250).map(word)
    val docs = (0L to 6L).map(i =>
      (100L + i) -> base.slice(i.toInt * 10, i.toInt * 10 + 150).mkString(" "))
    plant(docs, "chain")
  }

  test("d17 star contraction: the diameter-6 chain is ONE component " +
      "(the shape d07's 4-round unroll under-merges)") {
    val d17 = DedupOps.d17StarComponents(spark, chainDir)
      .filter(col("doc_id") >= 100L && col("doc_id") <= 106L)
      .collect()
    assert(d17.length == 7, s"expected all 7 chain members labeled: ${d17.toSeq}")
    assert(d17.map(_.getAs[Long]("component")).toSet == Set(100L),
      s"chain not fully contracted: ${d17.toSeq}")
    // the same corpus under-merges at 4 fixed propagation rounds — the
    // contrast that justifies d17 existing next to d07
    val d07Comps = DedupOps.d07NeardupComponents(spark, chainDir)
      .filter(col("doc_id") >= 100L && col("doc_id") <= 106L)
      .select("component").distinct().count()
    assert(d07Comps >= 2)
  }

  test("starContract: 64-node path converges in O(log n) rounds, " +
      "labels = min reachable id") {
    // a pure path 0-1-2-...-63: diameter 63, so label propagation needs
    // 63 rounds; large-star/small-star must finish in O(log n)
    val edges = (0L until 63L).map(i => (i + 1, i)).toDF("hi", "lo")
    val (stars, rounds) = DedupOps.starContract(edges)
    assert(rounds <= 12, s"expected O(log 64) rounds, took $rounds")
    val labels = stars.select("hi", "lo").as[(Long, Long)].collect().toSet
    assert(labels == (1L to 63L).map(i => (i, 0L)).toSet,
      s"path not contracted to a star at 0: $labels")
  }

  test("starContract: empty edge set returns empty in 0 rounds") {
    val empty = Seq.empty[(Long, Long)].toDF("hi", "lo")
    val (stars, rounds) = DedupOps.starContract(empty)
    assert(rounds == 0 && stars.isEmpty)
  }

  test("d16 exact channel: every documents scan reads only (doc_id, text)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // static pre-AQE plan: the projection discipline (corpus side carries
    // only the hash key + id, never text bodies' siblings lang/source/
    // n_chars) must hold by construction, not by runtime luck
    val d16 = DedupOps.d16CorpusDiff(spark, pairDir)
    val docScans = d16.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(
            _.toString.contains("documents.parquet")) => f
    }
    assert(docScans.nonEmpty, "no documents scan found in d16's plan:\n" +
      d16.queryExecution.sparkPlan.toString.take(3000))
    docScans.foreach { s =>
      val cols = s.requiredSchema.fieldNames.toSet
      assert(cols.subsetOf(Set("doc_id", "text")),
        s"d16 documents scan reads beyond the hash-key projection: $cols")
    }
  }

  test("d18: removal causes are disjoint, attributed exact-first, " +
      "and sum to n_docs per source") {
    // s1: exact twins (1,2), near-dups (3,4: 76 of 80 words shared),
    // unique 5; s2: unique 6
    val shared = (0 until 80).map(word).mkString(" ")
    // the near pair's vocabulary is disjoint from the twins' — otherwise
    // all four docs merge into ONE family and doc 3 gets near-removed too
    val nearA = (100 until 176).map(word).mkString(" ") + " xa xb xc xd"
    val nearB = (100 until 176).map(word).mkString(" ") + " ya yb yc yd"
    val uniq1 = (500 until 580).map(word).mkString(" ")
    val uniq2 = (700 until 780).map(word).mkString(" ")
    val dir = tempDir("d18").toString
    Seq((1L, shared, "s1"), (2L, shared, "s1"), (3L, nearA, "s1"),
      (4L, nearB, "s1"), (5L, uniq1, "s1"), (6L, uniq2, "s2"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = DedupOps.d18DedupReport(spark, dir)
      .as[(String, Long, Long, Long, Long, Double)].collect().toSeq
    // doc 2 exact-removed; doc 4 near-removed (label 3 < 4); doc 3 is
    // its own family min -> kept. Causes sum to n_docs.
    assert(r == Seq(("s1", 5L, 1L, 1L, 3L, 0.4), ("s2", 1L, 0L, 0L, 1L, 0.0)),
      s"got $r")
  }

  /** The chain corpus with ids PERMUTED along the path: v0..v6 carry
    * ids 106,101,102,103,104,105,100 — so v1 (id 101) is the minimum
    * of its own 4-hop neighborhood but NOT of its component (100 sits
    * 5 hops away). Under 4-round labels v1 reads as a keeper; under
    * converged labels it is near-removed. The shape that makes d18's
    * COUNTS (not just the labels) diverge between the two rules.
    */
  private lazy val permChainDir: String = {
    val base = (0 until 250).map(word)
    val ids = Seq(106L, 101L, 102L, 103L, 104L, 105L, 100L)
    val docs = ids.zipWithIndex.map { case (id, i) =>
      id -> base.slice(i * 10, i * 10 + 150).mkString(" ") }
    plant(docs, "permchain")
  }

  test("d18/d25/d28/d29 use CONVERGED labels: governance counts on a " +
      "diameter-6 chain differ from the 4-round rule (VERDICT r12)") {
    // the divergence premise, stated inline: the 4-round labeling marks
    // only 5 of the permuted chain's 7 docs as near-removed (v1's 4-hop
    // neighborhood min is itself), the converged labeling 6
    val old4 = DedupOps.d07NeardupComponents(spark, permChainDir)
      .filter(col("component") < col("doc_id")).count()
    assert(old4 == 5L, s"4-round near-removed count: expected 5, got $old4")
    // d18: one source, no exact twins, converged near-removals = 6
    val d18 = DedupOps.d18DedupReport(spark, permChainDir)
      .as[(String, Long, Long, Long, Long, Double)].collect().toSeq
    assert(d18 == Seq(("planted", 7L, 0L, 6L, 1L, 6.0 / 7.0)),
      s"d18 under converged labels: got $d18")
    // d25 on the ascending chain: ONE size-7 family (4-round labels
    // would report sizes {5,1,1} — label 100 within 4 hops of 100..104,
    // 105 stuck at 101, 106 at 102)
    val d25 = DedupOps.d25FamilyCensus(spark, chainDir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(d25 == Seq((7L, 1L, 7L)), s"d25 census: got $d25")
    // d28 near_dup strategy: 1 multi family, 6 removable docs, 900
    // removable tokens (7 x 150-token docs, keeper keeps 150); the
    // 4-round rule would forecast only 4 removable docs
    val d28 = DedupOps.d28DedupSavings(spark, chainDir)
      .filter(col("strategy") === "near_dup")
      .select("n_multi_families", "n_removable_docs", "n_removable_tokens")
      .as[(Long, Long, Long)].collect().toSeq
    assert(d28 == Seq((1L, 6L, 900L)), s"d28 near_dup savings: got $d28")
    // d29: the whole chain is ONE (mono-lang) family of 7
    val d29 = DedupOps.d29CrossLangFamilies(spark, chainDir)
      .select("family", "n_docs", "n_langs", "cross_lang")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(d29 == Seq((100L, 7L, 1L, 0L)), s"d29 families: got $d29")
  }

  test("d11/d15 act on the SAME converged labels d18 reports: the " +
      "keep-set keeps exactly one chain member, one keeper is elected") {
    // d11 on the permuted chain: the 4-round rule would ALSO keep v1
    // (id 101, its own 4-hop minimum) — the doc the d18 report counts
    // as near-removed. Report and pipeline must agree.
    val kept = DedupOps.d11DedupPipeline(spark, permChainDir)
      .select("doc_id").as[Long].collect().toSeq
    assert(kept == Seq(100L),
      s"keep-set must keep exactly the family minimum: got $kept")
    // d15 on the permuted chain: ONE keeper row for the ONE family
    // (4-round labels split it into {106,101} and {100,102..105},
    // electing two keepers). All docs tie on quality (150 distinct
    // tokens of 150), so the keeper is the doc_id tiebreak: 100.
    val keepers = DedupOps.d15QualityKeeper(spark, permChainDir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(keepers == Seq((100L, 7L, 100L, 1000000L)),
      s"expected one keeper for the one converged family: got $keepers")
  }

  test("p13 uses CONVERGED labels: a diameter-6 chain is ONE family") {
    // the pair graph really is the consecutive-pair path
    val pairs = DedupOps.pairGraph(spark, chainDir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert((0L to 5L).map(i => (100L + i, 101L + i)).toSet.subsetOf(pairs),
      s"chain pairs missing from $pairs")
    // d07's fixed 4-round unroll under-merges the chain (>= 2 components)
    val d07Comps = DedupOps.d07NeardupComponents(spark, chainDir)
      .filter(col("doc_id") >= 100L && col("doc_id") <= 106L)
      .select("component").distinct().count()
    assert(d07Comps >= 2,
      "expected the 4-round unroll to under-merge a diameter-6 chain")
    // p13 (fixpoint labels) puts the WHOLE chain in one family/one split
    val p13 = PipelineOps.p13LeakageSafeSplit(spark, chainDir)
      .filter(col("doc_id") >= 100L && col("doc_id") <= 106L)
      .collect()
    assert(p13.length == 7)
    assert(p13.map(_.getAs[Long]("family_id")).toSet == Set(100L))
    assert(p13.map(_.getAs[String]("split")).toSet.size == 1)
  }
}
