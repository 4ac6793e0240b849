package graft

/** Dev utility: print the formatted physical plan of registered queries
  * (`sbt "runMain graft.Explain q15_revenue_by_nation ..."`) — the
  * feedback loop for pushdown/broadcast/shuffle checks (SURVEY.md §4).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = LocalSession.builder(8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
