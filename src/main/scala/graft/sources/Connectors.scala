package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Config-selected connector seams — the boundary where the sandbox
  * stand-ins (file sources, the indexed parquet store) and real
  * Pulsar/Elasticsearch bindings are interchangeable.
  *
  * The reference wires its endpoints from CLI config (args.rs: pulsar
  * URL + topic regex in, ES URL out); this registry is the same idea at
  * the DataFrame layer. Everything inside the seam — the message shape
  * `(msg_id, topic, publish_time, data)`, the transform chain, bulk
  * metrics `(index, app, written[, failed])` — is connector-agnostic, so
  * an off-sandbox deployment registers a `pulsar` [[MessageConnector]]
  * (spark-sql-pulsar / Kafka-compatible reader mapped to the message
  * shape) and an `elasticsearch` [[BulkSinkConnector]]
  * (elasticsearch-hadoop `es.resource.write = {index}`), and
  * [[graft.streaming.StreamingSync]] runs unchanged — StreamingSyncSpec
  * exercises the sync through these seams via the default providers. */
object Connectors {

  /** The full subscription descriptor a source connector receives —
    * the seam where the reference's client connection-identity knobs
    * (args.rs:73-123: --pulsar-addr, --pulsar-token, --consumer-name,
    * --subscription-name, --channel-buffer-size) bind. The file
    * stand-ins only consume `uri`/`maxBatch`; an off-sandbox Pulsar
    * connector consumes all of them. Built from the pipeline config by
    * [[subscriptionFor]] so the CLI surface maps 1:1 with no field
    * dropped on the floor (StreamingSyncSpec asserts delivery). */
  final case class Subscription(
      uri: String,
      maxBatch: Option[Int] = None,
      pulsarAddr: String = "pulsar://127.0.0.1:6650",
      pulsarToken: Option[String] = None,
      consumerName: Option[String] = None,
      subscriptionName: Option[String] = None,
      channelBufferSize: Int = 2048)

  /** [[Subscription]] from a [[graft.operators.SyncConfig]]: the knobs
    * travel config → subscription → connector verbatim. */
  def subscriptionFor(cfg: graft.operators.SyncConfig, uri: String,
      maxBatch: Option[Int] = None): Subscription =
    Subscription(uri, maxBatch, cfg.pulsarAddr, cfg.pulsarToken,
      cfg.consumerName, cfg.subscriptionName, cfg.channelBufferSize)

  /** Source seam: a subscription yielding the canonical message stream
    * `(msg_id LONG, topic STRING, publish_time TIMESTAMP, data STRING)`.
    * `maxBatch` is ingestion backpressure (consumer --batch-size,
    * args.rs:101-103) in the connector's own unit — files per trigger
    * here, messages per poll on a broker. */
  trait MessageConnector {
    def name: String
    def readStream(spark: SparkSession, uri: String,
        maxBatch: Option[Int] = None): DataFrame
    def read(spark: SparkSession, uri: String): DataFrame
    /** Open the stream from a FULL [[Subscription]] — the entry point
      * the sync uses, so every connection-identity knob reaches the
      * connector; the file stand-ins ignore the client fields by
      * delegating here. */
    def readStreamWith(spark: SparkSession, sub: Subscription): DataFrame =
      readStream(spark, sub.uri, sub.maxBatch)
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
    val name = "parquet"
    def readStream(spark: SparkSession, uri: String,
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
    val name = "jsonlines"
    def readStream(spark: SparkSession, uri: String,
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

  private val sources = Seq(ParquetMessages, JsonLinesMessages)
    .map(c => c.name -> c).toMap
  private val sinks = Seq(IndexedParquetBulk).map(c => c.name -> c).toMap

  /** Resolve a source connector by config name. Off-sandbox bindings
    * (e.g. "pulsar") register here; unknown names fail with the roster. */
  def source(name: String): MessageConnector =
    sources.getOrElse(name, throw new IllegalArgumentException(
      s"unknown message connector '$name' (have: ${sources.keys.mkString(", ")})"))

  def sink(name: String): BulkSinkConnector =
    sinks.getOrElse(name, throw new IllegalArgumentException(
      s"unknown bulk sink '$name' (have: ${sinks.keys.mkString(", ")})"))
}
