package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Runtime re-planning proofs — the two AQE/optimizer mechanisms that
  * carry a 1000-executor cluster through skew and selective dimension
  * filters. Neither changes query results, so the oracle can't see
  * them; these specs pin the PLAN behavior instead (like the
  * broadcast/bucketing/partial-agg proofs in SourcesSpec).
  */
class AdaptiveSpec extends SparkTestBase {
  import spark.implicits._

  private def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("AQE splits a skewed sort-merge join partition (skew=true)") {
    // one hot key holds 90% of the left side — the shape that strands a
    // single reducer at 100 TB. With skew-join enabled AQE must split
    // the oversized partition into parallel sub-reads.
    withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val left = spark.range(200000)
        .select(when(col("id") < 180000, 0L).otherwise(col("id")).as("key"),
          col("id").as("v"))
      val right = spark.range(2000).select(col("id").as("key"),
        (col("id") * 2).as("w"))
      val joined = left.join(right, Seq("key"))
      // hot key 0 matches right key 0 -> 180000 rows; non-hot left keys
      // (>= 180000) have no match. collect() executes THIS DataFrame's
      // plan, so its AdaptiveSparkPlan is final and inspectable (count()
      // would run a separate queryExecution).
      assert(joined.collect().length == 180000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), plan.take(3000))
    }
  }

  test("dynamic partition pruning prunes fact partitions at runtime") {
    // fact partitioned by day; a selective dim filter must reach the
    // fact scan as a runtime partition filter (dynamicpruning), not
    // after a full scan — at 100 TB this is reading 1 partition vs 365.
    val dir = tempDir("dpp").toString
    spark.range(10000)
      .select(col("id"), (col("id") % 10).cast("int").as("d"))
      .write.mode("overwrite").partitionBy("d").parquet(dir)
    val fact = spark.read.parquet(dir)
    // the dim must be a real file source: a LocalRelation's filter is
    // constant-folded away, so DPP would see no selective predicate
    val dimDir = tempDir("dpp_dim").toString
    (0 until 10).map(d => (d, if (d == 3) 1 else 0))
      .toDF("d", "keep").write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val q = fact.join(dim.filter(col("keep") === 1), Seq("d"))
    assert(q.collect().length == 1000)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    // query stages are leaf nodes — recurse into their materialized plans
    def scansOf(p: SparkPlan): Seq[FileSourceScanExec] =
      p.collect { case f: FileSourceScanExec => f } ++
        p.collect { case qs: QueryStageExec => qs.plan }.flatMap(scansOf)
    val root = q.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = scansOf(root)
    assert(scans.nonEmpty, root.toString.take(3000))
    val partFilters = scans.flatMap(_.partitionFilters).map(_.toString)
    assert(partFilters.exists(_.toLowerCase.contains("dynamicpruning")),
      s"partition filters: $partFilters\n${root.toString.take(3000)}")
  }
}
