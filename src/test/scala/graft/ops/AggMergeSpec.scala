package graft.ops

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** p16_agg_merge: the persisted-state + delta merge must be
  * value-identical (including the float casts) to a one-pass recompute,
  * and the history partials must build exactly once per dataset dir.
  */
class AggMergeSpec extends SparkTestBase {

  test("p16: merge equals the one-pass full recompute bit-for-bit") {
    val dec = DecimalType(18, 4)
    val full = Tables.lineitem(spark, sf001)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("count_order"),
        sum(col("l_quantity").cast(dec)).as("sq"),
        sum(col("l_extendedprice").cast(dec)).as("sb"),
        min(col("l_shipdate")).as("first_ship"),
        max(col("l_shipdate")).as("last_ship"))
      .select(col("l_returnflag"), col("l_linestatus"), col("count_order"),
        col("sq").cast("double").as("sum_qty"),
        col("sb").cast("double").as("sum_base_price"),
        (col("sq").cast("double") / col("count_order")).as("avg_qty"),
        col("first_ship"), col("last_ship"))
      .orderBy("l_returnflag", "l_linestatus")
      .collect().map(_.toSeq).toSeq
    val merged = PipelineOps.p16AggMerge(spark, sf001)
      .collect().map(_.toSeq).toSeq
    assert(merged == full)
  }

  test("p16: history partials build once per dir (delta-only rescans)") {
    PipelineOps.p16AggMerge(spark, sf0001).collect()
    val after = graft.Materialized.buildCount
    PipelineOps.p16AggMerge(spark, sf0001).collect()
    PipelineOps.p16AggMerge(spark, sf0001).collect()
    assert(graft.Materialized.buildCount == after)
  }
}
