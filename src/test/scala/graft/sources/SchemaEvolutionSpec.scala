package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** SchemaEvolution.readEvolved: additive evolution with defaults, the
  * plain-read silent-drop hazard it exists to prevent, and the loud
  * failure on type conflicts (a deliberate non-goal).
  */
class SchemaEvolutionSpec extends SparkTestBase {
  import spark.implicits._

  test("evolved read unifies batches and fills pre-evolution rows") {
    val root = tempDir("evolve").toString
    // batch 1: original schema
    Seq((1L, "alpha"), (2L, "beta")).toDF("id", "name")
      .write.mode("append").parquet(root)
    // batch 2: quality column added mid-life, appended to the SAME
    // table directory (the lakehouse shape)
    Seq((3L, "gamma", 0.9), (4L, "delta", 0.4))
      .toDF("id", "name", "quality").write.mode("append").parquet(root)
    val df = SchemaEvolution.readEvolved(spark, root,
      Map("quality" -> lit(0.5)))
    assert(df.columns.sorted.toSeq == Seq("id", "name", "quality"))
    val m = df.collect().map(r => r.getAs[Long]("id") ->
      r.getAs[Double]("quality")).toMap
    assert(m == Map(1L -> 0.5, 2L -> 0.5, 3L -> 0.9, 4L -> 0.4))
  }

  test("genuine NULLs in post-evolution batches are preserved") {
    // ADVICE r7: the fill must be vintage-gated — a NULL written by a
    // batch that HAS the column is data, not a pre-evolution gap.
    val root = tempDir("evolve4").toString
    Seq((1L, "alpha"), (2L, "beta")).toDF("id", "name")
      .write.mode("append").parquet(root)
    Seq((3L, "gamma", Some(0.9)), (5L, "eps", Option.empty[Double]))
      .toDF("id", "name", "quality").write.mode("append").parquet(root)
    val df = SchemaEvolution.readEvolved(spark, root,
      Map("quality" -> lit(0.5)))
    val m = df.collect().map(r => r.getAs[Long]("id") ->
      Option(r.getAs[Any]("quality"))).toMap
    assert(m == Map(1L -> Some(0.5), 2L -> Some(0.5),
      3L -> Some(0.9), 5L -> None))
  }

  test("the hazard: a plain read of mixed vintages can drop the new column") {
    val root = tempDir("evolve2").toString
    Seq((1L, "a")).toDF("id", "name").write.mode("append").parquet(root)
    Seq((2L, "b", 1.0)).toDF("id", "name", "quality")
      .write.mode("append").parquet(root)
    // without mergeSchema the result schema follows one sampled footer;
    // with it, the union is guaranteed
    val merged = SchemaEvolution.readEvolved(spark, root)
    assert(merged.columns.contains("quality"))
    assert(merged.filter(col("quality").isNull).count() == 1L)
  }

  test("hive-partitioned roots keep partition-path columns through the " +
      "vintage-grouped read (ADVICE r8)") {
    val root = tempDir("evolve5").toString
    // two partitions, evolving mid-life: day=1 predates quality
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.mode("append").parquet(s"$root/day=1")
    Seq((3L, "c", 0.9)).toDF("id", "name", "quality")
      .write.mode("append").parquet(s"$root/day=2")
    val df = SchemaEvolution.readEvolved(spark, root,
      Map("quality" -> lit(0.5)))
    assert(df.columns.contains("day"),
      s"partition column dropped: ${df.columns.mkString(",")}")
    val m = df.collect().map(r => r.getAs[Long]("id") ->
      ((r.getAs[Int]("day"), r.getAs[Double]("quality")))).toMap
    assert(m == Map(1L -> ((1, 0.5)), 2L -> ((1, 0.5)), 3L -> ((2, 0.9))))
  }

  test("a same-named default never clobbers a partition column") {
    val root = tempDir("evolve6").toString
    Seq((1L, "a")).toDF("id", "name")
      .write.mode("append").parquet(s"$root/day=7")
    val df = SchemaEvolution.readEvolved(spark, root,
      Map("day" -> lit(-1), "quality" -> lit(0.5)))
    val r = df.collect().head
    assert(r.getAs[Int]("day") == 7) // path value, not the default
    assert(r.getAs[Double]("quality") == 0.5)
  }

  test("an empty root fails loudly (ADVICE r8 — reduce on empty groups)") {
    val root = tempDir("evolve7").toString
    val e = intercept[IllegalArgumentException] {
      SchemaEvolution.readEvolved(spark, root, Map("q" -> lit(1)))
    }
    assert(e.getMessage.contains("no parquet files"))
  }

  test("type conflicts fail loudly, not silently cast") {
    val root = tempDir("evolve3").toString
    Seq((1L, 10)).toDF("id", "metric").write.mode("append").parquet(root)
    Seq((2L, "ten")).toDF("id", "metric")
      .write.mode("append").parquet(root)
    intercept[Exception] {
      SchemaEvolution.readEvolved(spark, root).collect()
    }
  }
}
