package graft.streaming

import graft.operators.{SyncConfig, SyncPipeline}
import graft.sinks.{ForklessLocalFileSystem, IndexedParquetSink}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopStreams
import org.apache.parquet.io.OutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's consume→sink loop (pulsar.rs consume_loop +
  * es.rs sink_elasticsearch_loop) as Structured Streaming.
  *
  * Mapping: the Pulsar subscription is a streaming source over the message
  * shape `(msg_id, topic, publish_time, data)`; the per-message transforms
  * (filters, parse, enrich) run as narrow streaming projections; the
  * reference's buffer_size/flush_interval buffering IS the micro-batch —
  * rate-limit admission and bulk batching are applied inside foreachBatch,
  * exactly where the reference applies them (at sink time, over the
  * buffered batch), then written to the indexed store with bulk metrics.
  * A real deployment swaps the file source for a Pulsar/Kafka source and
  * the trigger for ProcessingTime(flush_interval). */
object StreamingSync {

  val messageSchema: StructType = StructType(Seq(
    StructField("msg_id", LongType),
    StructField("topic", StringType),
    StructField("publish_time", TimestampType),
    StructField("data", StringType)))

  /** File-based streaming source of messages (the test stand-in for the
    * Pulsar consumer; one file = one consumer batch). `batchFiles` bounds
    * files per micro-batch — the analog of the reference's consumer
    * --batch-size (args.rs:101-103), i.e. ingestion backpressure.
    * Delegates to the [[graft.sources.Connectors]] seam: a deployment
    * selects a different connector by config name instead of editing
    * this file. */
  def readMessageStream(spark: SparkSession, dir: String,
      batchFiles: Option[Int] = None): DataFrame =
    graft.sources.Connectors.ParquetMessages.readStream(spark, dir, batchFiles)

  /** Exactly-once message admission under redelivery: drop duplicate
    * msg_ids within the watermark horizon (the engine-side counterpart of
    * Pulsar's broker deduplication — the reference relies on
    * `deduplicationStatus: Enabled`). State is bounded by the watermark:
    * ids older than `horizon` are forgotten, so memory is
    * O(messages per horizon), not O(stream). */
  def dedupMessages(horizon: String = "1 hour")(stream: DataFrame): DataFrame =
    stream.withWatermark("publish_time", horizon)
      .dropDuplicates("msg_id", "publish_time")

  /** The narrow transform chain shared verbatim with the batch pipeline —
    * single source of truth for the sync semantics. */
  def transform(cfg: SyncConfig)(stream: DataFrame): DataFrame =
    stream.transform(SyncPipeline.globalFilter(cfg))
      .transform(SyncPipeline.parseable)
      .transform(SyncPipeline.namespaceFilter(cfg))
      .transform(SyncPipeline.enrich(cfg))

  /** The session a graft streaming query runs in, checkpointed under
    * `checkpointRoot`: a clone of `spark`, so it keeps the caller's
    * runtime confs, temp views and functions. A query lives in its own
    * session's `streams`, so the clone also registers the query listeners
    * `spark.streams` holds now (those of a class the clone already has,
    * such as the ones Spark registers from its conf, are left out). It
    * adds settings the sync owns, which the caller's session never sees:
    *  - A file source hands each micro-batch's files to Spark as an
    *    explicit list. Above `parallelPartitionDiscovery.threshold`
    *    (default 32) Spark checks that list with a Spark job of one task
    *    per file; with the threshold at `Int.MaxValue` the driver does it.
    *  - `stopTimeout` bounds `StreamingQuery.stop()` (Spark's default
    *    waits forever) by the same constant as the watchdog's wait.
    *  - On a `file:` root the checkpoint and state logs go through
    *    `FileSystemBasedCheckpointFileManager` over
    *    [[ForklessLocalFileSystem]], instead of Spark's `FileContext`
    *    manager, which forks `chmod` and `readlink` for each log file.
    *    Both managers write a temp file and rename it into place. On
    *    `file:` the rename is `File.renameTo`, i.e. rename(2), which is
    *    atomic and replaces its target, so both check for the target
    *    first: the `FileSystem` manager with `fs.exists`, `FileContext`
    *    through Hadoop's `AbstractFileSystem.renameInternal(src, dst,
    *    overwrite)`, which throws `FileAlreadyExistsException` and then
    *    calls the same rename. The switch keeps that guarantee and adds
    *    no race the default has not. Other schemes keep Spark's default
    *    manager, whose `FileContext` rename is atomic on HDFS. */
  def session(spark: SparkSession, checkpointRoot: String): SparkSession = {
    val ss = DatasetBridge.cloneSession(spark)
    val listeners = spark.streams.listListeners()
    if (listeners.nonEmpty) { // else leave the clone's `streams` uncreated
      val own = ss.streams.listListeners().map(_.getClass).toSet
      listeners.filterNot(l => own(l.getClass)).foreach(ss.streams.addListener)
    }
    val scheme = Option(new Path(checkpointRoot).toUri.getScheme).getOrElse(
      FileSystem.getDefaultUri(spark.sparkContext.hadoopConfiguration).getScheme)
    val local = if (scheme != "file") Map.empty[String, String]
      else ForklessLocalFileSystem.options + ("spark.sql.streaming.checkpointFileManagerClass" ->
        classOf[FileSystemBasedCheckpointFileManager].getName)
    (local ++ Map(
      "spark.sql.sources.parallelPartitionDiscovery.threshold" -> Int.MaxValue.toString,
      "spark.sql.streaming.stopTimeout" -> TopicWatchdog.StopWaitMs.toString))
      .foreach { case (k, v) => ss.conf.set(k, v) }
    ss
  }

  /** Start the full sync: source → transforms → per-batch admission →
    * indexed sink. `availableNow` drains what's there and stops (tests);
    * otherwise runs on a processing-time trigger = flush_interval. The
    * query runs in [[session]] over `<sinkPath>/_checkpoint`, so
    * `q.sparkSession` is that clone, not `spark`.
    *
    * `failedDocPattern` models the per-item bulk failures of the
    * reference's ES response handling (es.rs:133-191): matching docs are
    * diverted to `<sinkPath>/_failed` (the failed-payload log), counted
    * in the bulk metrics (`failed` column) and in the
    * `graft_es_write_failed_total` counter. The write itself runs under
    * [[IndexedParquetSink.withRetries]] — the connect/retry loop analog;
    * exhausted retries fail the micro-batch, which the checkpoint
    * replays (broker redelivery). */
  def start(spark: SparkSession, cfg: SyncConfig, sourceDir: String,
      sinkPath: String, metricsPath: String,
      availableNow: Boolean = false,
      // None → the config's --flush-interval (args.rs:117-119); Some(ms)
      // remains for call sites that override per-run
      flushIntervalMs: Option[Long] = None,
      batchFiles: Option[Int] = None,
      failedDocPattern: Option[String] = None,
      maxRetries: Int = 3,
      source: graft.sources.Connectors.MessageConnector =
        graft.sources.Connectors.ParquetMessages,
      sink: graft.sources.Connectors.BulkSinkConnector =
        graft.sources.Connectors.IndexedParquetBulk): StreamingQuery = {
    // the FULL subscription descriptor goes to the connector (r11):
    // connection-identity knobs travel config → seam verbatim; the
    // file stand-ins ignore the client fields, a Pulsar binding uses
    // them
    val checkpoint = s"$sinkPath/_checkpoint"
    val out = transform(cfg)(source.readStreamWith(session(spark, checkpoint),
      graft.sources.Connectors.subscriptionFor(cfg, sourceDir, batchFiles)))
    val writer = out.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val admitted = SyncPipeline.rateLimit(cfg)(batch)
          .select("msg_id", "topic", "publish_time", "data",
            "index", "app", "ts_resolved", "is_debug", "field_count")
        // batchId makes the store write idempotent under checkpoint
        // replay (commit-marker protocol): a replayed batch skips if
        // committed, scrubs-and-rewrites if it died mid-write
        val metrics = IndexedParquetSink.withRetries(maxRetries) { () =>
          sink.writeBatch(admitted, sinkPath,
            failedDocPattern.map(p =>
              org.apache.spark.sql.functions.col("data").rlike(p)),
            failedDocPattern.map(_ => s"$sinkPath/_failed"),
            batchId = Some(batchId))
        }
        // prometheus-style counters are observability: at-least-once
        // under a post-marker-crash replay is acceptable (and matches
        // the reference's counter semantics). The metrics STORE is not:
        // it feeds written==stored audits, so each batch REPLACES its
        // own bid=<id> file — a replay rewrites the same rows instead of
        // appending duplicates (idempotent like the sink itself).
        SyncMetrics.recordBulk(metrics)
        writeMetricsStore(s"$metricsPath/bid=$batchId", batchId, metrics)
      }
      .option("checkpointLocation", checkpoint)
    (if (availableNow) writer.trigger(Trigger.AvailableNow())
     else writer.trigger(Trigger.ProcessingTime(
       flushIntervalMs.getOrElse(cfg.flushIntervalMs)))).start()
  }

  /** One batch's bulk metrics plus a `batch_id` column, written from the
    * driver as the one parquet file of `dir` (`<metricsPath>/bid=<id>`).
    * The rows are already on the driver after the sink's commit, so no
    * Spark job runs. `batch_id` stays a LongType DATA column, so readers
    * keep the schema they always had; `bid` is only the partition key a
    * replay replaces. The file is written under a hidden temp name, every
    * earlier file of `dir` is deleted, and the temp file is renamed into
    * place. A store from the old append-at-root layout must be drained
    * before pointing the sync at it (mixed layouts fail partition
    * discovery). */
  private def writeMetricsStore(dir: String, batchId: Long,
      metrics: DataFrame): Unit = {
    val fields = metrics.schema.fields.toSeq :+ StructField("batch_id", LongType)
    val schema = Types.buildMessage().addFields(fields.map { f =>
      f.dataType match {
        case StringType => Types.optional(PrimitiveTypeName.BINARY)
          .as(LogicalTypeAnnotation.stringType()).named(f.name)
        case LongType => Types.optional(PrimitiveTypeName.INT64).named(f.name)
        case t => throw new IllegalArgumentException(
          s"bulk metrics column ${f.name} has type $t; the store takes strings and longs")
      }
    }: _*).named("spark_schema")
    val rows = metrics.collect()
    ForklessLocalFileSystem.withFileSystem(dir,
        metrics.sparkSession.sparkContext.hadoopConfiguration) { fs =>
      val tmp = new Path(dir, ".part-00000.parquet.tmp")
      // a temp file left by a died attempt is overwritten
      val out = new OutputFile {
        def create(blockSize: Long) = HadoopStreams.wrap(fs.create(tmp, true))
        def createOrOverwrite(blockSize: Long) = create(blockSize)
        def supportsBlockSize = false
        def defaultBlockSize = 0L
      }
      val w = ExampleParquetWriter.builder(out).withType(schema).withConf(fs.getConf)
        .withCompressionCodec(CompressionCodecName.SNAPPY).build()
      val groups = new SimpleGroupFactory(schema)
      try rows.foreach { r =>
        val g = groups.newGroup()
        (r.toSeq :+ batchId).zip(fields).foreach {
          case (v: String, f) => g.add(f.name, v)
          case (v: Long, f) => g.add(f.name, v)
          case _ => // null: an optional field left unset
        }
        w.write(g)
      } finally w.close()
      fs.listStatus(new Path(dir)).map(_.getPath)
        .filter(_.getName != tmp.getName).foreach(fs.delete(_, true))
      if (!fs.rename(tmp, new Path(dir, "part-00000.snappy.parquet")))
        throw new IllegalStateException(s"metrics-store rename failed in $dir")
    }
  }
}
