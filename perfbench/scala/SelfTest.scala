package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Self-check of [[RowHash]]: the digest of a frame must not move when
  * its rows are reordered or repartitioned, and must move when one value
  * changes. Prints `rowhash ok` or exits non-zero.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "3").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val df = spark.range(0, 2000).select(
        col("id"),
        (col("id") % 7).cast("string").as("s"),
        (col("id") / 3.0).as("d"),
        array(col("id"), col("id") * 2).as("arr"),
        map(lit("k"), col("id")).as("m"),
        struct(col("id").as("a"), lit(null).cast("double").as("b")).as("st"))
      val base = RowHash.of(df)
      val variants = Seq(
        df.orderBy(rand(7)),
        df.repartition(7),
        df.coalesce(1),
        df.union(df.limit(0)).repartition(5, col("s")))
      variants.foreach { v =>
        val h = RowHash.of(v)
        require(h == base, s"row hash moved under reordering: $h vs $base")
      }
      val changed = df.withColumn("d",
        when(col("id") === 1234, col("d") + 1e-9).otherwise(col("d")))
      require(RowHash.of(changed) != base, "row hash missed a changed value")
      val dup = df.union(df.filter(col("id") === 5))
      require(RowHash.of(dup)._1 == base._1 + 1 && RowHash.of(dup) != base,
        "row hash missed a duplicated row")
      println("rowhash ok")
    } finally spark.stop()
  }
}
