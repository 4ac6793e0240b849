package graft.velib

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Silver transformation: raw JSON payload -> typed, date-partitioned
  * records. Reproduces the reference's streaming silver job
  * (`src/assets/silver.py:13-83`) Spark-natively: the parse chain is a
  * pure DataFrame function shared by the batch and streaming paths, so the
  * streaming job is just `readStream -> parse -> writeStream`.
  */
object SilverJob {

  /** P1-P5 (SURVEY.md §2.2): binary/string payload -> struct -> flat columns
    * with event-time derivations. Works on any frame with a `value` column
    * holding the JSON document (Kafka delivers binary; file source string).
    */
  def parseRaw(df: DataFrame): DataFrame =
    df.select(from_json(col("value").cast("string"), Schemas.rawStatus).as("data"))
      .select("data.*")
      .withColumn("last_reported", to_timestamp(col("duedate")))
      .withColumn("date", to_date(col("last_reported")))

  /** Typed parse boundary (SURVEY.md §1.3): the wire record as a
    * `Dataset[VelibStatus]` for compile-time schema safety before the
    * frame decays to untyped relational chains.
    */
  def parseTyped(df: DataFrame): org.apache.spark.sql.Dataset[VelibStatus] = {
    import df.sparkSession.implicits._
    df.select(from_json(col("value").cast("string"), Schemas.rawStatus).as("data"))
      .select("data.*")
      .as[VelibStatus]
  }

  /** Streaming form (S4/S8, T1-T3): file-source stand-in for the Kafka
    * topic — JSON-lines files where each line is one status record wrapped
    * as `value`. `Trigger.AvailableNow` + checkpoint gives the reference's
    * drain-then-stop, exactly-once behavior (`silver.py:53,58,63`).
    */
  def runStream(
      spark: SparkSession,
      inputDir: String,
      outputPath: String,
      checkpoint: String): Long = {
    val raw = spark.readStream
      .schema("value STRING")
      .text(inputDir)
    graft.streaming.Drain.availableNow(parseRaw(raw).writeStream
      .format("parquet")
      .option("path", outputPath)
      .partitionBy("date")
      .outputMode("append"), checkpoint)
  }

  /** Kafka-shaped producer projection (S3): typed columns -> (key, value)
    * binary pair, key = stationcode for per-station partition affinity
    * (reference `bronze.py:52-55`). The caller appends
    * `.write.format("kafka")` in a real deployment; tests write files.
    */
  def toWire(df: DataFrame): DataFrame =
    df.select(
      col("stationcode").cast("binary").as("key"),
      to_json(struct(df.columns.toIndexedSeq.map(col): _*))
        .cast("binary").as("value"))

  /** Connector-level Kafka sink config (S3): the fully-configured
    * streaming writer for `toWire` output, mirroring the reference
    * producer (`bronze.py:16-59`: bootstrap servers + topic, keyed
    * delivery). Provider resolution happens at `.start()`, so the writer
    * BUILDS everywhere; starting it additionally needs
    * `spark-sql-kafka-0-10` on the classpath and a live broker (neither
    * ships in this sandbox — see NOTES.md "Kafka connector decision").
    */
  def kafkaWriter(
      wire: DataFrame,
      bootstrapServers: String,
      topic: String,
      checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    wire.writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())

  /** Connector-level Kafka source config (S4): the reference consumer's
    * options (`silver.py:29-36`: bootstrap servers, subscribe topic,
    * earliest offsets). `.load()` is the caller's provider-resolution
    * point; the parse chain downstream is `parseRaw` either way.
    */
  def kafkaReader(
      spark: SparkSession,
      bootstrapServers: String,
      topic: String): org.apache.spark.sql.streaming.DataStreamReader =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
}
