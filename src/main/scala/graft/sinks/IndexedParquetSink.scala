package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
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
  * directory exactly like an ES index query. */
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
    * `<root>/index=<i>/<tag>-<k>.parquet`, and — with a `batchId` —
    * rename the marker `_commits/<batchId>` into place last. The
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
    * `batchId` the tag is a fresh unique prefix and no marker is written
    * (a plain append, not idempotent under retry).
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
      def glob(p: String): Seq[org.apache.hadoop.fs.FileStatus] =
        Option(fs.globStatus(new Path(p))).toSeq.flatten
      val marker = batchId.map(id => new Path(s"$path/_commits/$id"))
      marker.filter(fs.exists) match {
        case Some(m) => metricsDf(readMarker(fs, m))
        case None =>
          val tag = batchId.fold(s"u${java.util.UUID.randomUUID()}")(id => s"b$id")
          val roots = path +: isFailed.flatMap(_ => failedPath).toSeq
          val staging = new Path(s"$path/_staging/$tag")
          fs.delete(staging, true)
          roots.foreach(r => glob(s"$r/index=*/$tag-*")
            .foreach(s => fs.delete(s.getPath, false)))
          val tagged = batch.withColumn(Dest,
            isFailed.fold(lit(0))(c => when(c, 1).otherwise(0)))
          // a fresh observation per attempt: one can be completed once
          val obs = new Observation()
          tagged.repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt,
              col(Dest), col("index"))
            .observe(obs, bulkCounts(col("index"), col("app"), col(Dest) === 1).as("bulk"))
            .filter(col(Dest) < roots.size)
            .write.options(ForklessLocalFileSystem.options)
            .mode("overwrite").partitionBy(Dest, "index")
            .parquet(staging.toString)
          val rows = observedCounts(obs, tag).map { c =>
            Row.fromSeq(Seq(c.getString(0), c.getString(1), c.getLong(2)) ++
              isFailed.map(_ => c.getLong(3)))
          }
          onStep("staged")
          glob(s"$staging/$Dest=*/index=*/part-*").sortBy(_.getPath.toString)
            .zipWithIndex.foreach { case (s, k) =>
              val idx = s.getPath.getParent
              val root = roots(idx.getParent.getName.stripPrefix(s"$Dest=").toInt)
              val dir = new Path(root, idx.getName)
              fs.mkdirs(dir)
              if (!fs.rename(s.getPath, new Path(dir, s"$tag-$k.parquet")))
                throw new IllegalStateException(s"commit move failed for ${s.getPath}")
              onStep(s"move $k")
            }
          fs.delete(staging, true)
          onStep("moves-done")
          marker.foreach(writeMarker(fs, _, rows))
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

  /** A marker's first line names the format and its version. Markers
    * written before the header existed hold rows only and read as
    * version 1. The header cannot be taken for a row: it has two fields,
    * and a row has at least three (index, app, written). */
  private val MarkerHeader = "graft-commit-marker"
  private val MarkerVersion = "1"

  private def readMarker(fs: FileSystem, m: Path): Seq[Row] = {
    val in = fs.open(m)
    val content = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = content.linesIterator.filter(_.nonEmpty)
      .map(_.split("\t", -1).toSeq).toSeq
    val rows = lines match {
      case Seq(MarkerHeader, MarkerVersion) +: rest => rest
      case Seq(MarkerHeader, v) +: _ => throw new IllegalStateException(
        s"commit marker $m has version $v; this build reads $MarkerVersion")
      case headerless => headerless
    }
    rows.map { r =>
      val f = r.map(v => if (v == NullField) null else unesc(v))
      Row.fromSeq(f.take(2) ++ f.drop(2).map(_.toLong))
    }
  }

  /** Marker last, atomically: temp file + rename — the commit point. */
  private def writeMarker(fs: FileSystem, m: Path, rows: Seq[Row]): Unit = {
    val tmp = new Path(m.getParent, s".tmp-${m.getName}")
    val out = fs.create(tmp, true)
    val lines = s"$MarkerHeader\t$MarkerVersion" +: rows.map(_.toSeq.map {
      case null => NullField
      case s: String => esc(s)
      case v => String.valueOf(v)
    }.mkString("\t"))
    try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(tmp, m))
      throw new IllegalStateException(s"marker rename failed for $m")
  }

  /** A null label. `esc` doubles every backslash, so no string escapes
    * to this field. */
  private val NullField = "\\N"

  private def esc(v: String): String = v.flatMap {
    case '\\' => "\\\\"
    case '\t' => "\\t"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case c => c.toString
  }

  private def unesc(v: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < v.length) {
      if (v(i) == '\\' && i + 1 < v.length) {
        b += (v(i + 1) match {
          case 't' => '\t'; case 'n' => '\n'; case 'r' => '\r'
          case c => c
        })
        i += 2
      } else { b += v(i); i += 1 }
    }
    b.result()
  }

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

  /** The indexed store as a DataFrame (index directories → `index`). */
  def readIndexed(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}
