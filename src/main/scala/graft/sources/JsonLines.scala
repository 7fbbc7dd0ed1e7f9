package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Raw JSON-lines ingestion — the batch/streaming analog of the reference's
  * Pulsar byte-payload consumer (pulsar.rs:63-69: messages are raw UTF-8
  * strings, parsed downstream). Each line becomes a message whose topic is
  * derived from the file's directory name (`.../<topic>/part-*.jsonl`),
  * publish_time from a leading `ts` field or the ingest time, and `data`
  * is the raw line. Schema errors never kill the pipeline — non-JSON rows
  * flow through and are dropped by SyncPipeline.parseable, mirroring the
  * reference's deserialize-error logging. */
object JsonLines {

  /** Batch read: one message per line. The topic subscription is
    * [[graft.operators.SyncPipeline.subscribe]], as for every source. */
  def read(spark: SparkSession, path: String): DataFrame =
    shape(spark.read.text(path).withColumn("file", input_file_name()))

  /** Streaming read: file discovery picks up new topic directories as
    * they appear (the streaming analog of the reference's consumer
    * re-discovery). */
  def readStream(spark: SparkSession, path: String): DataFrame =
    shape(spark.readStream.text(path).withColumn("file", input_file_name()))

  private def shape(df: DataFrame): DataFrame =
    df.select(
      // streaming-safe message id (monotonically_increasing_id is not
      // supported on streams): content+file hash, like a broker offset key
      xxhash64(col("file"), col("value")).as("msg_id"),
      element_at(split(col("file"), "/"), -2).as("topic"),
      coalesce(
        timestamp_millis(get_json_object(col("value"), "$.ts").cast("long")),
        current_timestamp()).as("publish_time"),
      col("value").as("data"))
}
