package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Encoders, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import java.util.concurrent.TimeoutException
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** The engine's analog of the reference's Elasticsearch bulk sink
  * (es.rs:273-316): documents are routed to time-rotated "indices" —
  * here a parquet dataset partitioned by the `index` column — and each
  * flush produces per-(index, app) bulk metrics, the counterpart of the
  * reference's write success/failure counters (prometheus.rs).
  *
  * Like the reference's one bulk request per index per flush, a
  * micro-batch lands as one file per (destination, index): one
  * hash-partitioned write job stages the store's and the failed-docs
  * log's files together, and downstream consumers prune by index
  * directory exactly like an ES index query.
  *
  * A batch becomes searchable when its commit marker is in place, as a
  * flush does when Elasticsearch has taken its bulk request
  * (es.rs:133-191). A marker (version 2) lists the data files its commit
  * moved into the store root and the data schema; [[Compaction]] and
  * [[Retention]] write `_snapshot/<n>`, the whole live file list plus
  * the names of the markers it folds in, and delete the files it
  * supersedes only once it is in place. [[readIndexed]] serves the
  * newest snapshot plus the markers it has not folded in — no listing
  * of the index directories, no schema-inference job, and never a file
  * no marker names. Stores without a version-2 manifest (earlier
  * builds' headerless and version-1 markers, plain Spark writes) are
  * read by listing until a compaction or retention run adopts them into
  * a snapshot. [[StoreManifest]] holds the formats and the deletion
  * rule.
  *
  * Every data file of the store and of its `_failed` log is written in
  * [[StoreFormat]]: parquet with zstd pages, and no statistics on the
  * `data` payload, on which no reader filters (a `data` predicate still
  * answers correctly; it only loses row-group skipping). */
object IndexedParquetSink {

  /** Partition column of the staged write: 0 = the store, 1 = the
    * failed-docs log. */
  private val Dest = "graft_dest"

  /** Commit one batch of enriched sync documents (must carry `index`,
    * `app` columns) into the indexed store; returns per-(index, app)
    * bulk metrics `(index, app, written[, failed])`.
    *
    * `isFailed` marks the docs the bulk response would reject
    * (es.rs:133-191: the reference counts failed items per index and
    * logs their payloads). They go to `failedPath` (dropped when it is
    * absent; it must share the store's filesystem) and are counted in a
    * `failed` metrics column.
    *
    * Per batch, one pass over the documents: tag each doc with its
    * destination, hash-partition by (destination, index) into
    * `spark.sql.shuffle.partitions` (an explicit count, so AQE cannot
    * coalesce the write into one task), run ONE partitioned write into
    * `<path>/_staging/<tag>`, move each staged file to
    * `<root>/index=<i>/<tag>-<k>.parquet`, and rename the marker
    * `_commits/<batchId>` (`_commits/<tag>` without one) into place
    * last. The
    * metrics are counted inside that write: an observed
    * [[BulkCountAggregator]] sits above the shuffle, before the filter
    * that drops failed docs without a `failedPath`, so it runs in the
    * write's result stage, whose accumulator updates Spark applies once
    * per partition even when a task is retried. The marker is the
    * commit-marker protocol that makes checkpoint REPLAY (the streaming
    * counterpart of broker redelivery, pulsar.rs:193-221) safe for a
    * file sink the way ES doc-ids make it safe for the reference:
    *
    *  1. a marker means the batch is fully in the store → a replay
    *     returns the recorded metrics and writes NOTHING (no dup);
    *  2. no marker → scrub this batch's staging dir and every
    *     `b<batchId>-*` file (the orphans of a died attempt are exactly
    *     a glob), then write fresh.
    *
    * A crash at ANY point replays into case 2 and converges: the store
    * after restart equals the batch relation exactly. Without a
    * `batchId` the tag is a fresh unique prefix `u<uuid>`: a plain
    * append, not idempotent under retry, whose marker only publishes
    * its files.
    *
    * Marker payloads are escaped TSV, so tab/newline/backslash in
    * payload-derived index/app values cannot break framing, and a null
    * label is written as `\N`. Underscore dirs (`_commits`, `_staging`)
    * are invisible to parquet readers, so the store stays
    * `index=`-partitioned for pruning, retention and compaction.
    * `onStep` is a fault-injection seam: it is called with "staged",
    * "move <k>" after each move, and "moves-done". */
  def commitBatch(batch: DataFrame, path: String,
      isFailed: Option[Column] = None, failedPath: Option[String] = None,
      batchId: Option[Long] = None,
      onStep: String => Unit = _ => ()): DataFrame = {
    val spark = batch.sparkSession
    ForklessLocalFileSystem.withFileSystem(path,
        spark.sparkContext.hadoopConfiguration) { fs =>
      val schema = StructType(Seq(StructField("index", StringType),
        StructField("app", StringType), StructField("written", LongType)) ++
        isFailed.map(_ => StructField("failed", LongType)))
      def metricsDf(rows: Seq[Row]): DataFrame =
        spark.createDataFrame(rows.asJava, schema)
      val replayed = batchId.map(id => new Path(s"$path/_commits/$id")).filter(fs.exists)
      replayed match {
        case Some(m) => metricsDf(StoreManifest.readMarker(fs, m).rows.map { f =>
          Row.fromSeq(f.take(2) ++ f.drop(2).map(_.toLong))
        })
        case None =>
          val tag = batchId.fold(s"u${java.util.UUID.randomUUID()}")(id => s"b$id")
          val roots = (path +: isFailed.flatMap(_ => failedPath).toSeq).map(new Path(_))
          val staging = new Path(s"$path/_staging/$tag")
          StoreManifest.scrub(fs, roots, tag)
          val tagged = batch.withColumn(Dest,
            isFailed.fold(lit(0))(c => when(c, 1).otherwise(0)))
          // a fresh observation per attempt: one can be completed once
          val obs = new Observation()
          tagged.repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt,
              col(Dest), col("index"))
            .observe(obs, bulkCounts(col("index"), col("app"), col(Dest) === 1).as("bulk"))
            .filter(col(Dest) < roots.size)
            .write.options(StoreFormat.writeOptions)
            .mode("overwrite").partitionBy(Dest, "index")
            .parquet(staging.toString)
          val rows = observedCounts(obs, tag).map { c =>
            Row.fromSeq(Seq(c.getString(0), c.getString(1), c.getLong(2)) ++
              isFailed.map(_ => c.getLong(3)))
          }
          onStep("staged")
          val stored = StoreManifest.moveStaged(fs, new Path(staging, s"$Dest=*/index=*/part-*"),
              tag, onStep)(idx => roots(idx.getParent.getName.stripPrefix(s"$Dest=").toInt))
            .collect { case (r, f) if r == roots.head => f }
          fs.delete(staging, true)
          onStep("moves-done")
          StoreManifest.writeMarker(fs,
            new Path(s"$path/_commits/${batchId.fold(tag)(_.toString)}"),
            rows.map(_.toSeq.map(v => if (v == null) null else String.valueOf(v))),
            stored, StructType(batch.schema.filterNot(_.name == "index")))
          metricsDf(rows)
      }
    }
  }

  private val bulkCounts = udaf(new BulkCountAggregator, Encoders.product[BulkDoc])

  /** How long a commit waits for its bulk metrics once its write has
    * returned. Spark hands an observation's result to the driver through
    * an asynchronous listener, so it may land a little after the write;
    * a commit that waits longer throws, and the attempt is retried or
    * the batch replayed like any other failed write. */
  private val MetricsWaitMs = 60000L

  private def observedCounts(obs: Observation, tag: String): Seq[Row] =
    try Await.result(obs.future, MetricsWaitMs.millis).getSeq[Row](0)
    catch { case _: TimeoutException => throw new TimeoutException(
      s"bulk metrics of $tag not observed within $MetricsWaitMs ms") }

  /** Transient-failure retry with linear backoff — the engine analog of
    * the reference's ES connect/retry loop (es.rs: connection retried on
    * startup; bulk errors logged and retried by redelivery). Only
    * non-fatal errors are retried: interrupts, fatal JVM errors and
    * deterministic `AnalysisException`s rethrow at once. Each retry
    * bumps the `graft_es_retry_total` counter and waits `backoffMs`
    * times the retry number; attempts exhausted → rethrow (the
    * micro-batch fails and the checkpoint replays it, the streaming
    * counterpart of broker redelivery). */
  def withRetries[T](maxRetries: Int, backoffMs: Long = 100,
      label: String = "sink")(attempt: () => T): T = {
    // Try catches NonFatal only, which excludes InterruptedException
    @annotation.tailrec def run(tries: Int): T = Try(attempt()) match {
      case Success(v) => v
      case Failure(e) if tries >= maxRetries || e.isInstanceOf[AnalysisException] =>
        throw e
      case Failure(_) =>
        graft.streaming.SyncMetrics.incBy("graft_es_retry_total",
          Seq("sink" -> label), 1)
        Thread.sleep(backoffMs * (tries + 1))
        run(tries + 1)
    }
    run(0)
  }

  /** The committed snapshot of the indexed store as a DataFrame (index
    * directories → `index`): the files of the newest `_snapshot` plus
    * those of every marker it has not folded in, read without listing
    * the index directories or inferring the schema from a footer. A
    * store with no manifest to read — no snapshot and no version-2
    * marker, or an unfolded marker of version 1 — is listed with
    * `spark.read.parquet`, as are a missing path (same
    * `AnalysisException`) and an empty committed set. */
  def readIndexed(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    StoreManifest.live(fs, root).filter(_.files.nonEmpty)
      .fold(spark.read.parquet(path))(StoreManifest.relation(spark, root, _))
  }
}
