package graft.streaming

import graft.operators.SyncConfig
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** Batch-twin runners for the stateful streaming operators — the seam
  * that promotes "streaming ≡ batch proven in a spec" to an ORACLE row:
  * each twin feeds a deterministic bounded input through the REAL
  * streaming operator (file source → operator → memory sink or store,
  * Trigger.AvailableNow) and returns the emitted relation as a
  * DataFrame, which the driver then compares against the SAME DuckDB
  * SQL that anchors the batch operator. Every twin goes through the one
  * runner, [[replay]].
  *
  * Determinism: each source file is one micro-batch. A one-file source
  * is therefore a single micro-batch — the initial watermark (0) drops
  * nothing as late, and admission/session state starts empty, making the
  * emitted set a pure function of the data (proven equal to the batch
  * window relations in StreamingRateLimitSpec / ScaleTechniquesSpec;
  * here the equality is re-checked against the batch operator's own
  * oracle SQL). A chunked source replays its batches in order, one file
  * each ([[writeChunkedFiles]]).
  */
object StreamedBatch {

  private val seq = new AtomicInteger(0)

  /** Replay-twin scratch dirs (source copies, checkpoints, state-store
    * deltas, store sinks) — bounded single-run artifacts deleted in the
    * runner's own `finally`, placed via [[graft.operators.Scratch]]
    * (tmpfs when available). */
  private[graft] def twinTempDir(prefix: String): String =
    graft.operators.Scratch.tempDir(prefix)

  /** Monotone count of streaming replays started by this JVM — the
    * runner ticks it once per replay. [[graft.Bench]] samples it around
    * each timed query to SPLIT the bench total into `batch_total` /
    * `replay_total`: replay rows pay real multi-micro-batch checkpoint +
    * state-store cost (seconds each at ANY scale factor) that would mask
    * batch-plan deltas inside one aggregate number. Classification is
    * observed at run time, so a new replay row is split correctly with
    * no list to maintain. */
  def replayRuns: Int = seq.get

  /** Tick the replay counter from a row that drives REAL streaming-query
    * lifecycles outside this object's runner (the watchdog replay):
    * Bench's batch/replay split is observed around each timed run, so a
    * row paying query-startup + checkpoint cost must register here to be
    * classified with the other replay rows. */
  def noteReplay(): Unit = { seq.incrementAndGet(); () }

  /** The twin's session: [[StreamingSync.session]] over the scratch dir
    * `dir`, so it keeps the caller's runtime confs, temp views and
    * functions and adds the streaming settings the sync owns (driver-side
    * file listing, the forkless checkpoint log, a bounded stop), plus ONE
    * shuffle partition, sized to the bounded oracle input. The replay
    * inputs are a few thousand rows, so per-micro-batch cost is
    * per-PARTITION state commit overhead, not compute: fewer partitions
    * is strictly cheaper until the corpus stops fitting one task (on a
    * 13-row replay subset at sf0.1, partitions 8 / 4 / 2 / 1 measured
    * 115.9 / 96.8 / 69.9 / 60.6 s). The single partition rests on every
    * stateful twin being partition-layout-INDEPENDENT (group iterators
    * sorted by explicit keys, spec-proven; the oracle compare sorts) — a
    * twin without that property must not be added. The PRODUCTION
    * operators keep the caller's partitioning; this clone only governs
    * the runner. */
  private[graft] def streamSession(s: SparkSession, dir: String): SparkSession = {
    val ss = StreamingSync.session(s, dir)
    ss.conf.set("spark.sql.shuffle.partitions", "1")
    ss
  }

  /** One replay source: the schema its stream reads with (the frame's
    * own), and how the runner writes it under a scratch dir, returning
    * the source directory. */
  private[streaming] final case class Source(schema: StructType,
      write: String => String)

  /** `df` whole as ONE file: a single micro-batch. */
  private[streaming] def oneFile(df: DataFrame): Source =
    Source(df.schema, { dir =>
      df.coalesce(1).write.parquet(s"$dir/src")
      s"$dir/src"
    })

  /** `df`'s `cols` as one file per `batch` value in `[0, nBatches)` (see
    * [[writeChunkedFiles]]): one micro-batch per file, in batch order. */
  private[streaming] def perBatch(df: DataFrame, nBatches: Int,
      cols: String*): Source =
    Source(df.select(cols.map(col): _*).schema,
      writeChunkedFiles(df, cols, nBatches, _))

  /** What a replay's `build` sees: the twin session, each source as a
    * stream that takes one file per micro-batch, each source's directory
    * (for a static read of the same files), and each static input read
    * back from the runner's copy. */
  private[streaming] final class Twin(val ss: SparkSession,
      val srcDirs: Seq[String], schemas: Seq[StructType],
      val statics: Seq[DataFrame]) {
    lazy val streams: Seq[DataFrame] = srcDirs.zip(schemas).map {
      case (dir, schema) => ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
    }
    def stream: DataFrame = streams.head
  }

  /** Where a replay's output goes, and so what the runner pins. */
  private[streaming] sealed trait Sink

  /** `build`'s writer into the memory sink in `mode` ("append", or
    * "complete" for streaming AGGREGATIONS — append would demand a
    * watermark and emit nothing for an unwindowed agg); the drained
    * table is the result. */
  private[streaming] final case class Memory(mode: String,
      build: Twin => DataStreamWriter[_]) extends Sink

  private[streaming] def append(build: Twin => DataStreamWriter[_]): Sink =
    Memory("append", build)

  private[streaming] def complete(build: Twin => DataStreamWriter[_]): Sink =
    Memory("complete", build)

  /** [[StreamingSync.start]] over the first source into the
    * commit-marker store; its committed snapshot read back
    * ([[graft.sinks.IndexedParquetSink.readIndexed]]) — after
    * [[graft.sinks.Compaction.compact]] when `compact` — is the result. */
  private[streaming] final case class Store(cfg: SyncConfig,
      compact: Boolean) extends Sink

  /** THE replay runner: write every source and static input into one
    * scratch dir, run the query to completion in a [[streamSession]],
    * then PIN the result as a local DataFrame and clean up — the memory
    * table is dropped and the dir deleted, so repeated invocations
    * (Bench runs every query more than once) leak neither driver memory
    * nor disk, on failure paths too. A query that does not drain within
    * 300 s is an ERROR, never a silently partial relation. */
  private[streaming] def replay(s: SparkSession, name: String,
      sources: Seq[Source], statics: Seq[DataFrame] = Nil)
      (sink: Sink): DataFrame = {
    val dir = twinTempDir(s"graft-$name-twin")
    val qn = s"${name}_twin_${seq.incrementAndGet()}"
    val ss = streamSession(s, dir)
    try {
      val srcDirs = sources.zipWithIndex.map { case (src, i) =>
        src.write(s"$dir/s$i")
      }
      val staticsRead = statics.zipWithIndex.map { case (df, i) =>
        df.write.parquet(s"$dir/static$i")
        ss.read.parquet(s"$dir/static$i")
      }
      val q = sink match {
        case Memory(mode, build) =>
          build(new Twin(ss, srcDirs, sources.map(_.schema), staticsRead))
            .format("memory").queryName(qn).outputMode(mode)
            // explicit checkpoint under the scratch dir: a temp
            // checkpoint would otherwise land in java.io.tmpdir
            .option("checkpointLocation", s"$dir/ckpt")
            .trigger(Trigger.AvailableNow()).start()
        case Store(cfg, _) =>
          StreamingSync.start(ss, cfg, srcDirs.head, s"$dir/sink",
            s"$dir/metrics", availableNow = true, batchFiles = Some(1))
      }
      if (!q.awaitTermination(300000)) {
        q.stop()
        throw new IllegalStateException(s"$qn did not drain within 300 s")
      }
      val result = sink match {
        case _: Memory => ss.table(qn)
        case Store(_, compact) =>
          if (compact) {
            val report = graft.sinks.Compaction.compact(ss, s"$dir/sink",
              targetBytes = 64L << 10)
            require(report.filesAfter <= report.filesBefore,
              s"compaction grew the store: $report")
          }
          graft.sinks.IndexedParquetSink.readIndexed(ss, s"$dir/sink")
      }
      s.createDataFrame(
        s.sparkContext.parallelize(result.collect().toIndexedSeq, 1),
        result.schema)
    } finally { // failure paths must not leak the sink table or the copies
      try ss.catalog.dropTempView(qn) catch { case _: Exception => () }
      org.apache.hadoop.fs.FileSystem
        .get(new java.net.URI(dir), s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(dir), true)
      ()
    }
  }

  /** `df` with the replay's arrival plan: `rk` = 0-based rank in
    * `order`, `batch` = rk div ⌈rows / nBatches⌉, so batches fill in
    * `order` and the last may run short. Costs one count of `df`. */
  private[graft] def chunked(df: DataFrame, nBatches: Int,
      order: Column*): DataFrame =
    chunked(df, df.count(), nBatches, order: _*)

  /** [[chunked]] for a site that already knows `df`'s row count `rows`
    * (its planted-arrival column needs it). */
  private[graft] def chunked(df: DataFrame, rows: Long, nBatches: Int,
      order: Column*): DataFrame = {
    val chunk = math.max(1L, (rows + nBatches - 1) / nBatches)
    df.withColumn("rk", row_number().over(Window.orderBy(order: _*)) - 1)
      .withColumn("batch", expr(s"rk div $chunk"))
  }

  /** [[StreamingSessionize]] fed `events(user_id, ts)` plus one
    * far-future sentinel event per user: every REAL session closes by
    * successor inside the batch (the sentinel's own singleton session
    * stays open and never emits), so the emitted set is exactly the
    * batch sessionization — aggregated here to q_sessionize's
    * per-user (n_sessions, n_events) shape. */
  def sessionCounts(s: SparkSession, events: DataFrame,
      gapMinutes: Int): DataFrame = {
    import s.implicits._
    def agg(df: DataFrame): DataFrame = df.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events").cast("long")).as("n_events"))
    val evs = events.select(col("user_id").cast("long").as("user_id"),
      col("ts").cast("timestamp").as("ts"))
    val maxRow = evs.agg(max(unix_micros(col("ts")))).head
    if (maxRow.isNullAt(0)) // empty relation: empty result, right schema
      return agg(evs.limit(0).withColumn("n_events", lit(0)))
    val maxUs = maxRow.getLong(0)
    val sentinel = evs.select(col("user_id")).distinct()
      .withColumn("ts", timestamp_micros(lit(maxUs + 864000000000L)))
    agg(replay(s, "sess", Seq(oneFile(evs.unionByName(sentinel))))(append {
      t => StreamingSessionize.sessions(
        t.stream.as[StreamingSessionize.Event], gapMinutes)(t.ss).writeStream
    }))
  }

  /** [[StreamingRateLimit]] fed the enriched message stream: with one
    * micro-batch and empty initial state the stateful limiter admits
    * exactly the batch window's first-`limit` per (app, window) in
    * (publish_time µs, msg_id) order. Returns the admitted
    * (msg_id, app) relation. */
  def rateLimited(s: SparkSession, msgs: DataFrame,
      cfg: SyncConfig): DataFrame = {
    import s.implicits._
    val input = msgs.select(col("msg_id").cast("long"), col("topic"),
      col("publish_time").cast("timestamp"), col("data"), col("app"))
    replay(s, "rl", Seq(oneFile(input)))(append { t =>
      StreamingRateLimit(cfg)(t.stream.as[StreamingRateLimit.RlMsg])
        .writeStream
    }).select(col("msg_id"), col("app"))
  }

  /** [[StreamingQuota]] fed `(doc_id, domain)`: one micro-batch + empty
    * state admits the first-`cap` per domain in doc-id arrival order
    * with 1-based slots — exactly [[StreamingQuota.batchQuota]]'s
    * window relation, so the batch twin's oracle SQL anchors the REAL
    * stateful gate. */
  def quotaAdmitted(s: SparkSession, docs: DataFrame, cap: Int): DataFrame = {
    import s.implicits._
    val input = docs.select(col("doc_id").cast("long").as("doc_id"),
      col("domain").cast("string").as("domain"))
    replay(s, "quota", Seq(oneFile(input)))(append { t =>
      StreamingQuota.quotaGate(t.stream.as[StreamingQuota.Arrival], cap)
        .toDF().writeStream
    })
  }

  /** [[StreamingIntervalJoin.attribute]] as a REAL stream-STREAM join:
    * impressions and conversions each arrive on their own file source,
    * both watermarked, and the interval join buffers keyed state on
    * both sides. Inner-join semantics emit every match inside the
    * single AvailableNow micro-batch (the watermark only governs later
    * state eviction), so the emitted relation is exactly the batch
    * range join — the batch twin's oracle SQL anchors it. */
  def attributed(s: SparkSession, impressions: DataFrame,
      conversions: DataFrame, windowSec: Int): DataFrame = {
    val imps = impressions.select(col("user_id").cast("long").as("user_id"),
      col("imp_ts").cast("timestamp").as("imp_ts"),
      col("imp_id").cast("long").as("imp_id"))
    val convs = conversions.select(col("c_user_id").cast("long").as("c_user_id"),
      col("conv_ts").cast("timestamp").as("conv_ts"),
      col("conv_id").cast("long").as("conv_id"))
    replay(s, "attr", Seq(oneFile(imps), oneFile(convs)))(append { t =>
      StreamingIntervalJoin.attribute(t.streams(0), t.streams(1),
        windowSec = windowSec).writeStream
    })
  }

  /** [[graft.operators.Sketches.hllRegisters]] maintained by a REAL
    * streaming aggregation (complete mode): max(rho) per (key, bucket)
    * is the streaming-aggregable state, so the drained register table
    * must equal the batch registers exactly — the estimate computed
    * from it lands on sketch_hll's own oracle SQL. */
  def hllRegistersStreamed(s: SparkSession, rows: DataFrame,
      key: String, valueCol: String): DataFrame = {
    val input = rows.select(col(key).cast("string").as(key),
      col(valueCol).cast("long").as(valueCol))
    replay(s, "hll", Seq(oneFile(input)))(complete { t =>
      graft.operators.Sketches.hllRegisters(t.stream, Seq(key), col(valueCol))
        .writeStream
    })
  }

  /** [[graft.operators.Sketches.cmsCells]] maintained by a REAL
    * streaming aggregation (complete mode): plain-sum cells are the
    * streaming-aggregable state, so the drained grid must equal the
    * batch grid — probes estimated from it land on sketch_freq_cms's
    * own oracle SQL. */
  def cmsCellsStreamed(s: SparkSession, docs: DataFrame): DataFrame = {
    val input = docs.select(col("text").cast("string").as("text"))
    replay(s, "cms", Seq(oneFile(input)))(complete { t =>
      graft.operators.Sketches.cmsCells(
        t.stream.select(explode(
          graft.functions.Portable.tokens(col("text"))).as("word")),
        col("word")).writeStream
    })
  }

  /** [[graft.operators.Sketches.cmsGridsByKey]] maintained as a LIVE
    * complete-mode streaming aggregation — the per-SOURCE grid sibling
    * of [[cmsCellsStreamed]]: plain-sum cells per (source, k, cell)
    * accumulate across micro-batches, so the drained grid equals the
    * batch grid exactly and everything derived from it (the CMS dot in
    * sketch_cms_dot_stream) lands on the batch oracle. */
  def cmsGridsByKeyStreamed(s: SparkSession, docs: DataFrame): DataFrame = {
    val input = docs.select(col("source").cast("string").as("source"),
      col("text").cast("string").as("text"))
    replay(s, "cmsk", Seq(oneFile(input)))(complete { t =>
      graft.operators.Sketches.cmsGridsByKey(
        t.stream.select(col("source"), explode(
          graft.functions.Portable.tokens(col("text"))).as("word")),
        col("source"), col("word")).writeStream
    })
  }

  /** [[graft.plans.SkylineAggregator]] as a LIVE complete-mode
    * streaming aggregation across REAL micro-batches: the front
    * accumulates in aggregation state file by file, and because
    * dominance filtering is CONFLUENT (any insertion order yields the
    * same final front — the monoid behind Pareto's shard-merge
    * theorem), the drained front must equal the batch skyline exactly.
    * Input `pts`: (id, x, y, batch). */
  def skylineStreamed(s: SparkSession, pts: DataFrame,
      nBatches: Int): DataFrame =
    replay(s, "sky", Seq(perBatch(pts, nBatches, "id", "x", "y")))(complete {
      t =>
        import t.ss.implicits._
        t.stream.as[graft.plans.FrontPoint]
          .groupByKey(_ => 0L)
          .agg(new graft.plans.SkylineAggregator().toColumn.name("front"))
          .toDF("k", "front")
          .writeStream
    })

  /** [[graft.plans.AckLedgerAggregator]] as a LIVE complete-mode
    * streaming aggregation across REAL micro-batches: per-topic ack
    * observations arrive file by file, the interval-compressed ledger
    * accumulates in aggregation state (O(holes), the Pulsar-cursor
    * shape), and because interval-set union is a commutative monoid the
    * drained ledger must equal the batch ledger for ANY arrival order.
    * Input `obs`: (topic, seq, acked, batch). */
  def ackLedgerStreamed(s: SparkSession, obs: DataFrame,
      nBatches: Int): DataFrame =
    replay(s, "ackl", Seq(perBatch(obs, nBatches, "topic", "seq", "acked")))(
      complete { t =>
        import t.ss.implicits._
        t.stream.as[graft.plans.AckObs]
          .groupByKey(_.topic)
          .agg(new graft.plans.AckLedgerAggregator().toColumn.name("ledger"))
          .toDF("topic", "ledger")
          .writeStream
      })

  /** [[graft.plans.BottomKAggregator]] over the hashes as a LIVE
    * complete-mode streaming aggregation: the KMV k-min sets accumulate per key in
    * O(k) aggregation state (the bottom-k-of-a-union monoid), so the
    * drained sketch equals the batch sketch exactly. Input `obs`:
    * (key, h) — the portable re-hashed values. */
  def kmvMinKStreamed(s: SparkSession, obs: DataFrame, k: Int): DataFrame = {
    val input = obs.select(col("key").cast("string").as("key"),
      col("h").cast("long").as("h"))
    replay(s, "kmv", Seq(oneFile(input)))(complete { t =>
      import t.ss.implicits._
      t.stream.as[graft.plans.KmvObs]
        .groupByKey(_.key)
        .agg(new graft.plans.BottomKAggregator[graft.plans.KmvObs, Long](k, _.h)
          .toColumn.name("hs"))
        .toDF("key", "hs")
        .writeStream
    })
  }

  /** [[graft.operators.Dedup.bloomGateWith]] — benchmark
    * decontamination AT INGEST — run through a REAL stream: the Bloom
    * bits are trained offline (512 B of model state), inlined as a
    * literal into a narrow per-doc expression, and every arriving doc
    * is gated at consume time with no state, no join, no shuffle. The
    * emitted relation is the batch gate's exact output
    * (`decontaminate_stream` shares `decontaminate_bloom`'s SQL). */
  def bloomGatedStream(s: SparkSession, docs: DataFrame,
      bits: Array[Long], n: Int = 8): DataFrame = {
    val input = docs.select(col("doc_id").cast("long").as("doc_id"),
      col("text").cast("string").as("text"))
    replay(s, "blg", Seq(oneFile(input)))(append { t =>
      graft.operators.Dedup.bloomGateWith(t.stream, bits, n).writeStream
    })
  }

  /** [[graft.plans.BottomKAggregator]] over (priority, id) pairs as a
    * LIVE complete-mode streaming aggregation — the exact-k per-stratum HOLDOUT maintained
    * at ingest: the bottom-k (priority, id) pairs accumulate per
    * stratum in O(k) state (the bottom-k-of-a-union monoid), so the
    * drained sample equals the batch rank-window draw exactly —
    * whatever the arrival order, and with redeliveries collapsing
    * instead of double-occupying slots. Input `rows`: (key, u, id). */
  def sampleMinKStreamed(s: SparkSession, rows: DataFrame,
      k: Int): DataFrame = {
    val input = rows.select(col("key").cast("string").as("key"),
      col("u").cast("long").as("u"), col("id").cast("long").as("id"))
    replay(s, "smpk", Seq(oneFile(input)))(complete { t =>
      import t.ss.implicits._
      t.stream.as[graft.plans.PairObs]
        .groupByKey(_.key)
        .agg(new graft.plans.BottomKAggregator[graft.plans.PairObs, (Long, Long)](
          k, o => (o.u, o.id)).toColumn.name("ps"))
        .toDF("key", "ps")
        .writeStream
    })
  }

  /** Per-(key, bin) histogram counts maintained as a LIVE complete-mode
    * streaming aggregation (plain sums — the [[cmsCellsStreamed]]
    * property on the quantile grid): the drained counts equal the batch
    * counts, so the quantile readout lands on the batch oracle. Input
    * `rows`: (key, bin). */
  def histBinsStreamed(s: SparkSession, rows: DataFrame): DataFrame = {
    val input = rows.select(col("key").cast("string").as("key"),
      col("bin").cast("int").as("bin"))
    replay(s, "hist", Seq(oneFile(input)))(complete { t =>
      t.stream.groupBy(col("key"), col("bin"))
        .agg(count(lit(1)).as("cnt"))
        .writeStream
    })
  }

  /** The CDC last-writer-wins merge as a LIVE complete-mode streaming
    * aggregation: the changelog replays in its REAL arrival order
    * (base snapshot, then updates, then deletes — one micro-batch per
    * version epoch) and per-key max(struct(version, op, text)) keeps
    * exactly the last writer in O(keys) aggregation state; the drained
    * relation must match the batch merge's rank-window result. Input
    * `log`: (doc_id, version, op, text, batch). */
  def cdcApplied(s: SparkSession, log: DataFrame, nBatches: Int): DataFrame =
    replay(s, "cdc",
      Seq(perBatch(log, nBatches, "doc_id", "version", "op", "text")))(
      complete { t =>
        t.stream.groupBy(col("doc_id"))
          .agg(max(struct(col("version"), col("op"), col("text"))).as("last"))
          .select(col("doc_id"), col("last.version").as("version"),
            col("last.op").as("op"), col("last.text").as("text"))
          .writeStream
      })

  /** [[StreamingRollover.assignGenerations]] across REAL micro-batches:
    * the in-order message stream replays one file per micro-batch, the
    * per-topic cumulative-bytes counter SURVIVES batch boundaries in
    * state, and the per-message generation assignments — aggregated
    * back to generations — must land on sync_rollover's own oracle. */
  def rolledGenerations(s: SparkSession, batched: DataFrame,
      nBatches: Int, capBytes: Long = 16384L): DataFrame = {
    import s.implicits._
    replay(s, "roll",
      Seq(perBatch(batched, nBatches, "msg_id", "topic", "data")))(append {
      t => StreamingRollover.assignGenerations(
        t.stream.as[StreamingRollover.Msg], capBytes).toDF().writeStream
    })
  }

  /** [[graft.operators.Curation.hashedLinearScore]] + shard assignment
    * run as STREAMING projections (the score-as-you-ingest seam of
    * StreamingCurationSpec promoted to an oracle row): stateless narrow
    * expressions, so the emitted relation is exactly the batch
    * classifier's extended with the shard key. */
  def classifiedStream(s: SparkSession, docs: DataFrame,
      nShards: Int): DataFrame = {
    val input = docs.select(col("doc_id").cast("long").as("doc_id"),
      col("lang").cast("string").as("lang"),
      col("text").cast("string").as("text"))
    replay(s, "clf", Seq(oneFile(input)))(append { t =>
      graft.operators.Curation.shardAssign(
          graft.operators.Curation.hashedLinearScore(t.stream), nShards)
        .select(col("doc_id"), col("lang"), col("n_tok"), col("score"),
          col("pred"), col("shard"))
        .writeStream
    })
  }

  /** The FULL ingest-side curation projection as ONE streaming plan:
    * quality score + admission verdict + shard route +
    * benchmark-contamination count, every column a stateless narrow
    * expression over frozen artifacts (the hashed classifier kernel,
    * the shard hash, the offline-trained Bloom bits) — what a
    * production consumer computes PER ARRIVING DOC before anything
    * lands. No join, no shuffle, no state; the emitted relation equals
    * the batch composition's SQL (`curate_ingest_stream`). */
  def curatedIngestStream(s: SparkSession, docs: DataFrame,
      bits: Array[Long], nShards: Int): DataFrame = {
    val input = docs.select(col("doc_id").cast("long").as("doc_id"),
      col("lang").cast("string").as("lang"),
      col("text").cast("string").as("text"))
    replay(s, "curi", Seq(oneFile(input)))(append { t =>
      graft.operators.Curation.shardAssign(
          graft.operators.Curation.hashedLinearScore(t.stream), nShards)
        .withColumn("n_contaminated", coalesce(
          graft.operators.Dedup.bloomHitCountCol(col("text"), bits),
          lit(0L)))
        .select(col("doc_id"), col("lang"), col("n_tok"), col("score"),
          col("pred"), col("shard"), col("n_contaminated"))
        .writeStream
    })
  }

  /** [[graft.operators.Sketches.moments]] maintained by a REAL
    * streaming aggregation (complete mode): the three integer sums are
    * the streaming-aggregable state, so the drained per-key (n, s1, s2)
    * table must equal the batch moments — the integer mean/variance
    * computed from it lands on sketch_moments' own direct oracle. */
  def momentsStreamed(s: SparkSession, rows: DataFrame): DataFrame = {
    val input = rows.select(col("event_type").cast("string").as("event_type"),
      col("value").cast("double").as("value"))
    replay(s, "mom", Seq(oneFile(input)))(complete { t =>
      graft.operators.Sketches.moments(t.stream, Seq("event_type"),
        col("value")).writeStream
    })
  }

  /** [[graft.operators.Tokenizer.encodeWith]] (the frozen-artifact
    * narrow encoder) run through a REAL stream — file source → narrow
    * projection → memory sink — then exploded back to the
    * (doc_id, pos, tok_id) relation of the batch join+window encode:
    * the offline-trained/online-applied tokenizer under the oracle. */
  def encodedStream(s: SparkSession, docs: DataFrame,
      merges: Seq[(String, String)], ids: Map[String, Long]): DataFrame = {
    val input = docs.select(col("doc_id").cast("long").as("doc_id"),
      col("text").cast("string").as("text"))
    replay(s, "tokenc", Seq(oneFile(input)))(append { t =>
      t.stream.select(col("doc_id"),
          graft.operators.Tokenizer.encodeWith(col("text"), merges, ids)
            .as("ids"))
        .writeStream
    }).select(col("doc_id"), posexplode(col("ids")).as(Seq("pos", "tok_id")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok_id"))
  }

  /** [[graft.operators.Similarity.pqCodesWith]] — the offline-trained
    * PQ codebook applied AT INGEST — run through a REAL stream (file
    * source → narrow argmin projection → memory sink), then exploded to
    * the (vec_id, subspace, code) relation with the ordinal mapped back
    * to its centroid id, so the emitted stream lands on the BATCH
    * assignment's oracle SQL: every new vector is indexed at consume
    * time, no state, no shuffle. */
  def pqCodesStream(s: SparkSession, emb: DataFrame,
      cents: Array[(Long, Seq[Double])]): DataFrame = {
    val input = emb.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding"))
    replay(s, "pqc", Seq(oneFile(input)))(append { t =>
      graft.operators.Similarity.pqCodesWith(t.stream, cents).writeStream
    }).select(col("vec_id"), posexplode(col("codes")).as(Seq("subspace", "ord")))
      .select(col("vec_id"), col("subspace").cast("long").as("subspace"),
        element_at(typedLit(cents.map(_._1).toSeq), col("ord") + 1).as("code"))
  }

  /** Write `batches` as ONE parquet FILE per `batch` value, in batch
    * order with distinct mod-times, so a file source with
    * `maxFilesPerTrigger = 1` replays them as deterministic
    * micro-batches. Returns the source directory. */
  private[graft] def writeChunkedFiles(batches: DataFrame, cols: Seq[String],
      nBatches: Int, tmp: String): String = {
    val src = s"$tmp/src"
    new java.io.File(src).mkdirs()
    // Materialize the batched input ONCE before the per-batch writes:
    // each `filter(batch === b)` below re-executes the ENTIRE upstream
    // plan (for the flagship sync twins that plan contains a global
    // row_number window — nBatches extra full sorts of the message
    // relation; for every multibatch row at least nBatches extra scans
    // + plant transforms). Guide §2.4/§5: one pass computes the
    // relation, the per-batch jobs then scan tiny materialized blocks.
    val mat = graft.operators.Materialize(
      batches.select((cols :+ "batch").distinct.map(col): _*))
    // ONE partitioned write instead of nBatches sequential jobs:
    // repartition(nBatches, batch) puts each batch value in exactly one
    // task, so the dynamic-partition write emits exactly one file per
    // batch= directory in a single job. An EMPTY batch produces no
    // directory, so the fallback below writes a schema-only file for it
    // — the micro-batch sequence (and the two-source lockstep of the
    // stream-stream replays) must stay exactly nBatches files per
    // source.
    // Rows within a file are sorted by `cols`, so the files are
    // byte-deterministic. The sort LEADS with `batch`: a partitioned
    // write requires its input ordered by the partition column, and
    // Spark plans its own Sort [batch] over any ordering that does not
    // start with it — which drops a `cols`-only sort underneath.
    val stage = s"$tmp/stage"
    mat.repartition(nBatches, col("batch"))
      .sortWithinPartitions(("batch" +: cols).map(col): _*)
      .write.partitionBy("batch").parquet(stage)
    // Mod-times are set EXPLICITLY, 1 s apart (some filesystems have
    // 1-second mtime granularity, so sleeping between writes would not
    // guarantee distinct stamps): file b gets base + b s, pinning the
    // file source's mod-time ordering deterministically.
    val base = (System.currentTimeMillis() / 1000L) * 1000L
    (0 until nBatches).foreach { b =>
      val dest = java.nio.file.Paths.get(f"$src/f$b%03d.parquet")
      val parts = Option(new java.io.File(s"$stage/batch=$b").listFiles())
        .map(_.filter(_.getName.endsWith(".parquet"))).getOrElse(Array.empty)
      val part = parts match {
        case Array(one) => one.toPath
        case Array() => // empty batch: schema-only file keeps the sequence
          val d = s"$tmp/stage/e$b"
          mat.filter(lit(false)).select(cols.map(col): _*)
            .coalesce(1).write.parquet(d)
          new java.io.File(d).listFiles()
            .filter(_.getName.endsWith(".parquet")).head.toPath
        case many => throw new IllegalStateException(
          s"batch $b wrote ${many.length} files; expected exactly one")
      }
      Files.move(part, dest, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      if (!dest.toFile.setLastModified(base + b * 1000L))
        throw new IllegalStateException(s"cannot set mod-time on $dest")
    }
    src
  }

  /** A REAL watermark-drop replay: `batches` (topic, ts, batch) is
    * written as ONE FILE PER MICRO-BATCH in batch order (distinct
    * mod-times keep the file-source order deterministic), streamed with
    * `maxFilesPerTrigger = 1` through a watermarked tumbling-window
    * count, and the memory sink holds exactly the windows the terminal
    * watermark closed — late rows REALLY dropped by state eviction,
    * not predicted. The oracle models Spark's observed semantics: the
    * late filter evicts on window end ≤ the filter watermark, the
    * filter watermark derives from data through batch b−2 (the b−1
    * update lands one batch later), and the AvailableNow final empty
    * batch flushes every window with end ≤ global max − horizon. */
  def watermarkedWindowCounts(s: SparkSession, batches: DataFrame,
      nBatches: Int, horizon: String = "1 hour",
      windowDur: String = "1 hour"): DataFrame =
    replay(s, "wm", Seq(perBatch(batches, nBatches, "topic", "ts")))(append {
      t => t.stream.withWatermark("ts", horizon)
        .groupBy(window(col("ts"), windowDur).as("w"), col("topic"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("w.start").as("win_start"), col("topic"), col("cnt"))
        .writeStream
    })

  /** [[StreamingSync.dedupMessages]] across REAL micro-batches with
    * planted DUPLICATE redelivery: the twin proves exactly-once holds
    * for ANY redelivery delay — a duplicate inside the watermark
    * horizon hits retained state and drops; one beyond it is dropped
    * by the late-input filter before it can re-emit (its event time
    * sits below the watermark that evicted the original's state). The
    * emitted relation must therefore equal the DISTINCT message set. */
  def dedupedMessages(s: SparkSession, batched: DataFrame,
      nBatches: Int, horizon: String): DataFrame =
    replay(s, "mdedup", Seq(perBatch(batched, nBatches,
      "msg_id", "topic", "publish_time", "data")))(append { t =>
      StreamingSync.dedupMessages(horizon)(t.stream).writeStream
    })

  private val syncCols = Seq("msg_id", "topic", "publish_time", "data")

  /** THE flagship twin: [[StreamingSync.start]] run for REAL — the
    * chunked message relation replays one file per micro-batch through
    * the full transform chain, the foreachBatch admission, and the
    * commit-marker indexed sink — then the STORE is read back as the
    * result relation. The batch pipeline's own oracle SQL anchors it:
    * the store a real streaming deployment accumulates must hold
    * exactly the batch relation. */
  def syncedStore(s: SparkSession, batched: DataFrame, cfg: SyncConfig,
      nBatches: Int): DataFrame =
    replay(s, "sync", Seq(perBatch(batched, nBatches, syncCols: _*)))(
      Store(cfg, compact = false))

  /** [[syncedStore]] plus the OPTIMIZE pass: after the stream drains,
    * the accumulated store is COMPACTED in place
    * ([[graft.sinks.Compaction.compact]] — salted rewrite committed by a
    * snapshot that supersedes the files it replaces) and only THEN read
    * back. The same oracle SQL anchors it:
    * the maintenance pass must be content-preserving end to end (file
    * counts shrink, the relation doesn't change by a row). The tiny
    * targetBytes forces a real multi-file rewrite at test scale. */
  def syncedCompactedStore(s: SparkSession, batched: DataFrame,
      cfg: SyncConfig, nBatches: Int): DataFrame =
    replay(s, "sync", Seq(perBatch(batched, nBatches, syncCols: _*)))(
      Store(cfg, compact = true))

  /** [[StreamingSessionize]] across REAL micro-batches with the
    * EVENT-TIME TIMEOUT path live (no sentinel): the in-order stream
    * replays one file per micro-batch, sessions merge across batch
    * boundaries in state, mid-stream sessions close by successor OR by
    * timeout as the watermark advances, and the per-user tail session
    * emits only if the TERMINAL watermark (global max − gap) passed its
    * timeout — the emission boundary the oracle models (in-order
    * arrival keeps the session STRUCTURE identical to batch, so only
    * emission needs modeling). */
  def sessionsMulti(s: SparkSession, batched: DataFrame, nBatches: Int,
      gapMinutes: Int): DataFrame = {
    import s.implicits._
    replay(s, "sessm", Seq(perBatch(batched, nBatches, "user_id", "ts")))(
      append { t =>
        StreamingSessionize.sessions(t.stream.as[StreamingSessionize.Event],
          gapMinutes)(t.ss).writeStream
      })
  }

  /** [[StreamingIntervalJoin.attribute]] across REAL micro-batches with
    * the watermark's state eviction EXECUTED: both sides replay one
    * file per micro-batch in lockstep (each trigger takes one file from
    * EACH source), late input rows drop below the join watermark, and a
    * redelivered row only matches partners whose buffered state
    * survived to its arrival batch. The oracle models the pinned
    * semantics: the filter watermark derives from data through batch
    * b−2 over BOTH sides; an input row drops iff its event time is
    * below it; a cross-batch pair survives iff, at the later arrival
    * batch, the impression's match horizon (imp_ts + window) and the
    * conversion's event time are still at-or-above the watermark. */
  def attributedMulti(s: SparkSession, impsBatched: DataFrame,
      convsBatched: DataFrame, nBatches: Int, windowSec: Int,
      horizon: String): DataFrame =
    replay(s, "attrm", Seq(
      perBatch(impsBatched, nBatches, "user_id", "imp_ts", "imp_id"),
      perBatch(convsBatched, nBatches, "c_user_id", "conv_ts", "conv_id")))(
      append { t =>
        StreamingIntervalJoin.attribute(t.streams(0), t.streams(1),
          horizon = horizon, windowSec = windowSec).writeStream
      })

  /** [[StreamingRateLimit]] across REAL micro-batches: the
    * planted-arrival `batched` message relation replays one file per
    * micro-batch, so per-(app, window) admission order is
    * (batch, publish_time µs, msg_id) with counters carried in state —
    * a redelivered message is admitted only if its EVENT-time window
    * still has budget when it finally arrives. */
  def rateLimitedMulti(s: SparkSession, batched: DataFrame,
      nBatches: Int, cfg: SyncConfig): DataFrame = {
    import s.implicits._
    replay(s, "rlm", Seq(perBatch(batched, nBatches,
      "msg_id", "topic", "publish_time", "data", "app")))(append { t =>
      StreamingRateLimit(cfg)(t.stream.as[StreamingRateLimit.RlMsg])
        .toDF().writeStream
    })
  }

  /** [[StreamingQuota.quotaGate]] across REAL micro-batches: the
    * planted-arrival `batched` relation (doc_id, domain, batch) replays
    * one file per micro-batch, so per-domain admission order is
    * (batch, doc id) — a redelivered doc burns a later slot or is
    * rejected outright when its domain's budget filled in an earlier
    * batch. The oracle recomputes first-`cap` per domain in
    * (batch, doc id) order with the same 1-based slots. */
  def quotaAdmittedMulti(s: SparkSession, batched: DataFrame,
      nBatches: Int, cap: Int): DataFrame = {
    import s.implicits._
    replay(s, "quotam", Seq(perBatch(batched, nBatches, "doc_id", "domain")))(
      append { t =>
        StreamingQuota.quotaGate(t.stream.as[StreamingQuota.Arrival], cap)
          .toDF().writeStream
      })
  }

  /** The text near-dup gate across REAL micro-batches: the
    * planted-arrival `batched` relation (doc_id, text, batch) replays
    * one file per micro-batch, each arrival keyed by its minhash band
    * buckets ([[StreamingDedup.nearDupGate]]'s keying) into
    * [[StreamingDedup.keyedFirstSeenGate]], so per-bucket first-seen
    * OWNERSHIP is decided by arrival order — first = min doc id within
    * the bucket's EARLIEST batch, carried forward by the gate's state;
    * every later (doc, bucket) pair collides. The oracle recomputes
    * exactly that.
    *
    * `registry` (bucket, first_doc) RESTARTS the gate from a flushed
    * ownership registry: EMPTY state, each arriving (doc, bucket) pair
    * carrying the bucket's stored first owner through the stream-static
    * join — min per bucket first, so overlapping flushes collapse to the
    * earliest owner — and ownership continues exactly where the flushed
    * run stopped (`dedup_gate_evict` shares `dedup_gate_multibatch`'s SQL
    * verbatim). `ttlMs` evicts idle buckets in-stream as the watermark
    * advances; at ttl = nBatches − 2 batch intervals no recurrence gap
    * can exceed ttl + one batch, so the `dedup_gate_ttl` oracle row
    * shares `dedup_gate_multibatch`'s SQL verbatim too. */
  def nearDupCollisionsMulti(s: SparkSession, batched: DataFrame,
      nBatches: Int, registry: Option[DataFrame] = None,
      ttlMs: Option[Long] = None): DataFrame =
    gateReplay(s, "ndgm", batched, nBatches, "bucket", StreamingDedup.NoOwner,
      registry.map(_.groupBy(col("bucket"))
        .agg(min(col("first_doc")).as("base"))), ttlMs)(
      graft.operators.Dedup.minhashBuckets(_)) { rows =>
      StreamingDedup.keyedFirstSeenGate(rows.withColumnRenamed("bucket", "key")
        .as(Encoders.product[StreamingDedup.Keyed]), ttlMs)
    }

  /** The LINE-BOILERPLATE gate at ingest across REAL micro-batches:
    * each arriving document splits into its fixed-window lines INSIDE
    * the stream (the same [[graft.operators.Dedup.docLines]] projection
    * the batch pass runs — narrow, stream-safe), and every line is
    * gated against the per-line document support accumulated over
    * strictly earlier batches
    * ([[StreamingDedup.lineSupportGate]]). Returns the gated line
    * relation (doc_id, n_lines, line_id, line, kept); reassembly into
    * cleaned documents is the caller's stateless batch step — in
    * production the gated stream lands in a store and reassembly is
    * the downstream job.
    *
    * `registry` (line, sup) RESTARTS the gate from a flushed registry:
    * EMPTY state, each arriving line carrying its stored support through
    * the stream-static join (summed per line first, so a union of daily
    * flushes is a valid input). Flush(phase-1 emissions) →
    * restart(phase 2) replays EXACTLY like the never-flushed gate (the
    * `dedup_lines_evict` oracle row shares `dedup_lines_stream`'s SQL
    * verbatim) while the state store holds only phase-2 lines. `ttlMs`
    * evicts idle lines in-stream as the watermark advances — during the
    * replay itself, not at a flush boundary; at a ttl at or above the
    * corpus's verdict-relevant recurrence window the emissions are
    * unchanged (`dedup_lines_ttl`). */
  def lineGatedMulti(s: SparkSession, batched: DataFrame, nBatches: Int,
      registry: Option[DataFrame] = None, ttlMs: Option[Long] = None,
      lineLen: Int = 10, minSupport: Int = 3): DataFrame =
    gateReplay(s, "lng", batched, nBatches, "line", 0L,
      registry.map(_.groupBy(col("line")).agg(sum(col("sup")).as("base"))),
      ttlMs)(graft.operators.Dedup.docLines(_, lineLen)) { rows =>
      StreamingDedup.lineSupportGate(
        rows.as(Encoders.product[StreamingDedup.LineRow]), minSupport, ttlMs)
    }

  /** The dedup gates' replay: `batched` (doc_id, text, batch) replays
    * one file per micro-batch — on the [[ttlTimeline]] when `ttlMs` is
    * set — and `keyOf` turns each arriving (doc_id, text) batch into the
    * gate's rows. Each row gains `ts`, its event time by doc id under a
    * ttl ([[ttlTimes]]) and null without, and `base`: its `key`'s stored
    * value in `registry` (key, base — one row per key, the replay's one
    * static input) through a stream-static left join, `noBase` where the
    * registry has none or there is no registry. The TTL sentinel's rows
    * are dropped from `gate`'s output. */
  private def gateReplay(s: SparkSession, name: String, batched: DataFrame,
      nBatches: Int, key: String, noBase: Long, registry: Option[DataFrame],
      ttlMs: Option[Long])(keyOf: DataFrame => DataFrame)(
      gate: DataFrame => Dataset[_]): DataFrame = {
    val src = if (ttlMs.isDefined) ttlTimeline(batched, nBatches)
      else perBatch(batched, nBatches, "doc_id", "text")
    replay(s, name, Seq(src), registry.toSeq)(append { t =>
      val keyed = keyOf(t.stream.select(col("doc_id"), col("text")))
      val timed = if (ttlMs.isDefined) keyed.join(ttlTimes(t), "doc_id")
        else keyed.withColumn("ts", lit(null).cast("timestamp"))
      val rows = t.statics.headOption.fold(
          timed.withColumn("base", lit(noBase))) { reg =>
        timed.join(reg, Seq(key), "left")
          .withColumn("base", coalesce(col("base"), lit(noBase)))
      }
      val out = gate(rows).toDF()
      (if (ttlMs.isDefined) out.filter(col("doc_id") >= 0) else out)
        .writeStream
    })
  }

  /** The TTL replays' batch interval: data in batch b has event time
    * (b + 1) · this many milliseconds. */
  val batchIntervalMs = 60000L

  /** Event-time base + watermark-advancing SENTINEL shared by the TTL
    * replays: every data row gets ts = batch · 1 min, and ONE sentinel
    * row (doc_id = −1, a control-char-prefixed text no corpus document
    * can produce) arrives as an extra final micro-batch at a far-future
    * timestamp, driving the watermark past every live timeout so the
    * store provably drains before the query terminates. The sentinel is
    * output-invisible: its rows are filtered after the gate, and since
    * it arrives last it cannot change any real verdict. Returned as the
    * nBatches + 1 file source. */
  private def ttlTimeline(batched: DataFrame, nBatches: Int): Source = {
    val sentinelText =
      "\u0001wm \u0001adv \u0001s1 \u0001s2 \u0001s3"
    val timeline = batched.select(col("doc_id"), col("text"),
        col("batch").cast("long").as("batch"))
      .unionByName(batched.sparkSession.range(1)
        .select(lit(-1L).as("doc_id"), lit(sentinelText).as("text"),
          lit(nBatches.toLong).as("batch")))
      .withColumn("ts", expr(
        s"timestamp_millis(CASE WHEN doc_id < 0 THEN ${3600L * batchIntervalMs} " +
          // batch + 1, NOT batch: the first batch must sit strictly
          // above the INITIAL watermark (0) — a ts equal to the
          // watermark is dropped as late by the stateful operator
          s"ELSE (batch + 1) * $batchIntervalMs END)"))
    perBatch(timeline, nBatches + 1, "doc_id", "text", "ts")
  }

  /** The TTL twins re-attach event time by doc id through a
    * stream-STATIC join (docs are unique in the replay); the static
    * side is the same one-file-per-batch source directory. */
  private def ttlTimes(t: Twin): DataFrame =
    t.ss.read.parquet(t.srcDirs.head).select(col("doc_id"), col("ts"))

  /** The image near-dup gate AT INGEST across REAL micro-batches:
    * doc ids replay one file per micro-batch (batch = id mod 3, an
    * out-of-id-order arrival plant), each arrival's payload is
    * synthesized and perceptually hashed PARTITION-LOCALLY inside the
    * stream (the mm_phash decode path), and the phash feeds the same
    * first-seen registry the text gate uses
    * ([[StreamingDedup.keyedFirstSeenGate]]) — first = earliest
    * (batch, id), every later holder of the image collides. */
  def phashCollisionsMulti(s: SparkSession, batched: DataFrame,
      nBatches: Int): DataFrame =
    replay(s, "phg", Seq(perBatch(batched, nBatches, "doc_id")))(append { t =>
      import t.ss.implicits._
      val keyed = t.stream.as[Long]
        .mapPartitions(_.map { id =>
          val payload = graft.operators.Multimodal.synthesizeBmp(id % 97)
          val ph = graft.operators.Multimodal.perceptualHash(payload)
            .map(_._3).getOrElse(0L)
          StreamingDedup.Keyed(id, ph)
        })
      StreamingDedup.keyedFirstSeenGate(keyed).toDF().writeStream
    })

  /** The TEMPLATE gate at ingest across REAL micro-batches: each
    * arrival's digit-masked text hash keys the same first-seen registry
    * as the text/image gates ([[StreamingDedup.keyedFirstSeenGate]]) —
    * a repost that differs only in ids/counters collides the moment it
    * arrives. Input `docs`: (doc_id, text, batch). */
  def templateCollisionsMulti(s: SparkSession, docs: DataFrame,
      nBatches: Int): DataFrame =
    gateReplay(s, "tmplg", docs, nBatches, "key", StreamingDedup.NoOwner,
      None, None)(_.select(col("doc_id"), graft.plans.native.poly_hash(
        regexp_replace(col("text"), "[0-9]+", "#")).as("key"))) { rows =>
      StreamingDedup.keyedFirstSeenGate(
        rows.as(Encoders.product[StreamingDedup.Keyed]))
    }

  /** [[StreamingDedup.nearDupGate]] fed `(doc_id, text)`: one
    * micro-batch + empty registry flags exactly the batch relation —
    * for every band bucket, each doc sharing it with an earlier
    * (smaller-id) doc emits one (doc_id, bucket, first_doc) collision
    * row. The oracle recomputes the portable minhash banding in SQL. */
  def nearDupCollisions(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val input = docs.select(col("doc_id").cast("long").as("doc_id"),
      col("text").cast("string").as("text"))
    replay(s, "ndg", Seq(oneFile(input)))(append { t =>
      StreamingDedup.nearDupGate(t.stream.as[StreamingDedup.Doc])
        .toDF().writeStream
    })
  }
}
