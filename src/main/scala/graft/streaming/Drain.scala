package graft.streaming

import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Drain-then-stop execution of a configured streaming writer: every
  * file-source stream in the engine runs this way (the reference's
  * sensor drain, exactly-once through the checkpoint).
  */
object Drain {
  /** Start `writer` checkpointed at `checkpoint` with
    * `Trigger.AvailableNow`, block until the available input is drained,
    * and return the rows ingested by this invocation. AvailableNow may
    * split the drain into several micro-batches, and a slow batch body
    * emits interim progress for the same `batchId`, so the count takes
    * the last progress event of each batch: a plain sum double-counts,
    * `lastProgress` alone undercounts.
    */
  def availableNow(writer: DataStreamWriter[_], checkpoint: String): Long = {
    val q = writer
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.recentProgress.groupBy(_.batchId).map(_._2.last.numInputRows).sum
  }
}
