package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Exactly-once micro-batch state without a state store: batch `id`
  * writes its state to `root/b<id>` (parquet's `_SUCCESS` marks the
  * version complete) and merges from the newest complete version strictly
  * below its own id. A crash mid-write leaves a version the next run
  * ignores, and a replayed batch re-merges from its predecessor.
  */
object VersionedState {
  /** Ids of the `_SUCCESS`-complete versions under `root` below `below`,
    * ascending; empty when `root` does not exist yet.
    */
  def versions(spark: SparkSession, root: String,
      below: Long = Long.MaxValue): Seq[Long] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("b") &&
        fs.exists(new Path(s.getPath, "_SUCCESS")))
      .map(_.getPath.getName.drop(1).toLong)
      .filter(_ < below)
      .sorted
  }

  /** Delete the complete versions below `below`, once `b<below>` has
    * superseded them.
    */
  def prune(spark: SparkSession, root: String, below: Long): Unit = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    versions(spark, root, below).foreach(v => fs.delete(new Path(p, s"b$v"), true))
  }
}
