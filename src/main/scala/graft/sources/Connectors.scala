package graft.sources

import graft.operators.SyncConfig
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Connector seams — the boundary where the sandbox stand-ins (file
  * sources, the indexed parquet store) and real Pulsar/Elasticsearch
  * bindings are interchangeable.
  *
  * The reference wires its endpoints from CLI config (args.rs: pulsar
  * URL + topic regex in, ES URL out). Everything inside the seam — the
  * message shape `(msg_id, topic, publish_time, data)`, the transform
  * chain, bulk metrics `(index, app, written[, failed])` — is
  * connector-agnostic, so an off-sandbox deployment passes a Pulsar
  * [[MessageConnector]] (spark-sql-pulsar / Kafka-compatible reader
  * mapped to the message shape) and an Elasticsearch
  * [[BulkSinkConnector]] (elasticsearch-hadoop `es.resource.write =
  * {index}`) to [[graft.streaming.StreamingSync.start]], which runs
  * unchanged; its defaults are the parquet stand-ins below. */
object Connectors {

  /** Source seam: a subscription yielding the canonical message stream
    * `(msg_id LONG, topic STRING, publish_time TIMESTAMP, data STRING)`.
    * `readStream` receives the whole [[graft.operators.SyncConfig]], so
    * every client connection-identity knob (args.rs:73-123:
    * --pulsar-addr, --pulsar-token, --consumer-name, --subscription-name,
    * --channel-buffer-size) reaches the connector; the file stand-ins
    * ignore them, an off-sandbox Pulsar binding uses them. `maxBatch` is
    * ingestion backpressure (consumer --batch-size, args.rs:101-103) in
    * the connector's own unit — files per trigger here, messages per poll
    * on a broker. */
  trait MessageConnector {
    def readStream(spark: SparkSession, uri: String, cfg: SyncConfig,
        maxBatch: Option[Int]): DataFrame
    def read(spark: SparkSession, uri: String): DataFrame
  }

  /** Sink seam: write one admitted micro-batch to the index target,
    * return per-(index, app) bulk metrics. `isFailed` marks docs the
    * bulk response would reject (diverted to `failedTarget`, counted in
    * a `failed` metrics column) — es.rs:133-191 semantics. `batchId`,
    * when present, makes the write idempotent under checkpoint replay
    * (the ES connector gets this for free from doc-id upserts; the
    * parquet store uses the commit-marker protocol of
    * [[graft.sinks.IndexedParquetSink.commitBatch]]). */
  trait BulkSinkConnector {
    def name: String
    def writeBatch(batch: DataFrame, target: String,
        isFailed: Option[Column] = None,
        failedTarget: Option[String] = None,
        batchId: Option[Long] = None): DataFrame
  }

  /** Parquet-file message stream (the driver-data stand-in for the
    * Pulsar subscription; one file = one consumer batch). */
  object ParquetMessages extends MessageConnector {
    def readStream(spark: SparkSession, uri: String, cfg: SyncConfig,
        maxBatch: Option[Int]): DataFrame = {
      val r = spark.readStream
        .schema(graft.streaming.StreamingSync.messageSchema)
      maxBatch.foreach(n => r.option("maxFilesPerTrigger", n))
      r.parquet(uri)
    }
    def read(spark: SparkSession, uri: String): DataFrame =
      spark.read.schema(graft.streaming.StreamingSync.messageSchema)
        .parquet(uri)
  }

  /** JSON-lines message stream (raw byte-payload consumer analog —
    * pulsar.rs:63-69; directory name = topic). */
  object JsonLinesMessages extends MessageConnector {
    def readStream(spark: SparkSession, uri: String, cfg: SyncConfig,
        maxBatch: Option[Int]): DataFrame =
      JsonLines.readStream(spark, uri)
    def read(spark: SparkSession, uri: String): DataFrame =
      JsonLines.read(spark, uri)
  }

  /** The indexed parquet store as the bulk sink (ES bulk-API analog;
    * partition directory = index): every batch, with or without an id,
    * goes through the one commit path. */
  object IndexedParquetBulk extends BulkSinkConnector {
    val name = "indexed-parquet"
    def writeBatch(batch: DataFrame, target: String,
        isFailed: Option[Column], failedTarget: Option[String],
        batchId: Option[Long]): DataFrame =
      graft.sinks.IndexedParquetSink.commitBatch(batch, target, isFailed,
        failedTarget, batchId)
  }
}
