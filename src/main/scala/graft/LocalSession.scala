package graft

import org.apache.spark.sql.SparkSession

/** The local session every main and spec starts from: `local[cores]`,
  * `cores` shuffle partitions, UTC session time zone, UI off. Callers
  * chain their own confs onto the builder before `getOrCreate()`.
  */
object LocalSession {
  def builder(cores: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
}
