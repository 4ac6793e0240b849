package graft

/** Dev utility: run one registered query N times in a warm session and
  * print per-iteration wall times (isolates plan cost from JVM warmup).
  * `sbt "runMain graft.Profile q05_gold_alerts 3"`
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val n = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = LocalSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Optional comma-separated runtime confs, e.g.
    // SPARK_GRAFT_EXTRA_CONF="spark.sql.codegen.wholeStage=false" —
    // lets a profiling run isolate codegen/AQE cost without a rebuild.
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(',').foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    })
    spark.range(1000).selectExpr("sum(id)").collect()
    (1 to n).foreach { i =>
      val t0 = System.nanoTime()
      val cnt = SparkEntry.queries(name)(spark, sfDir).count()
      println(f"$name run $i: ${(System.nanoTime() - t0) / 1e9}%.2fs rows=$cnt")
      // drain intra-query caches so later runs don't silently reuse
      // materialized subtrees — warm numbers must measure the real plan
      Caches.unpersistAll()
    }
    spark.stop()
  }
}
