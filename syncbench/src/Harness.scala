package syncbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.operators.{SyncConfig, SyncPipeline}
import graft.sinks.{Compaction, IndexedParquetSink}
import graft.sources.Connectors
import graft.streaming.StreamingSync
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** One benchmark run of the streaming sync, driven through the public
  * entry point `StreamingSync.start`.
  *
  * Usage: Harness <spec.json> <out.json>. The spec (written by run.py)
  * names the workload, the sync configuration, the generated input files
  * and whether to trace. The run sets the query up several times, runs the
  * workload's ingest phase, serves a fixed read mix from the store, compacts
  * it, serves the mix again, and writes every timing, answer and (when
  * tracing) per-layer count to out.json. Correctness is judged by run.py.
  *
  * Tracing observes the program only from outside: a SparkListener, the
  * streaming progress the query reports, a timing wrapper around the
  * `sink` parameter of `StreamingSync.start`, and direct timed calls of the
  * transform, the rate limiter, compaction and `readIndexed`. Spans are
  * kept in memory and written when the run ends. */
object Harness {
  private val mapper = new ObjectMapper()
  val SpanKey = "syncbench.span"

  def now(): Long = System.currentTimeMillis()

  def main(args: Array[String]): Unit = {
    val spec = mapper.readTree(new File(args(0)))
    val work = Paths.get(args(0)).toAbsolutePath.getParent
    val out = mapper.createObjectNode()
    val spark = SparkSession.builder()
      .master(s"local[${spec.get("cores").asInt}]")
      .appName("syncbench")
      .config("spark.sql.shuffle.partitions", spec.get("cores").asInt.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReady = now()
    try new Run(spark, spec, work, out, sessionReady).run()
    finally {
      mapper.writerWithDefaultPrettyPrinter().writeValue(new File(args(1)), out)
      spark.stop()
    }
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Total length of the union of closed intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.filter(i => i._2 >= i._1).sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }

  /** Data files of an indexed store: `index=*` / `*.parquet`. */
  def storeFiles(root: String): Seq[File] =
    Option(new File(root).listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("index="))
      .flatMap(d => d.listFiles().toSeq)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))

  final case class JobRec(id: Int, start: Long, span: String, batch: Long,
      stages: Seq[Int]) { @volatile var end: Long = -1L }
  final case class StageRec(id: Int, start: Long, end: Long, tasks: Int,
      runMs: Long, shuffleWrite: Long, spill: Long, inputBytes: Long)

  /** Jobs and stages as Spark reports them, tagged with the span local
    * property of the thread that started the job. */
  final class JobTracer extends SparkListener {
    val jobs = new ConcurrentHashMap[Int, JobRec]()
    val stages = new ConcurrentHashMap[Int, StageRec]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val span = p.flatMap(x => Option(x.getProperty(SpanKey))).getOrElse("")
      val batch = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId")))
        .map(_.toLong).getOrElse(-1L)
      jobs.put(e.jobId, JobRec(e.jobId, e.time, span, batch, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = Option(i.taskMetrics)
      stages.put(i.stageId, StageRec(i.stageId,
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
        i.numTasks, m.map(_.executorRunTime).getOrElse(0L),
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
        m.map(_.inputMetrics.bytesRead).getOrElse(0L)))
    }
    def jobsWhere(f: JobRec => Boolean): Seq[JobRec] =
      jobs.values.asScala.toSeq.filter(f).sortBy(_.id)
    def stagesOf(js: Seq[JobRec]): Seq[StageRec] =
      js.flatMap(_.stages).distinct.flatMap(s => Option(stages.get(s)))
  }

  final case class SinkSpan(batch: Long, start: Long, end: Long,
      files: Int, bytes: Long)

  /** Timing wrapper around the sink the sync writes through. */
  final class TimedSink(inner: Connectors.BulkSinkConnector)
      extends Connectors.BulkSinkConnector {
    val name: String = inner.name
    val spans = new java.util.concurrent.ConcurrentLinkedQueue[SinkSpan]()
    def writeBatch(batch: DataFrame, target: String, isFailed: Option[Column],
        failedTarget: Option[String], batchId: Option[Long]): DataFrame = {
      val sc = batch.sparkSession.sparkContext
      val before = storeFiles(target)
      val id = batchId.getOrElse(-1L)
      sc.setLocalProperty(SpanKey, s"sink:$id")
      val t0 = now()
      try inner.writeBatch(batch, target, isFailed, failedTarget, batchId)
      finally {
        val t1 = now()
        sc.setLocalProperty(SpanKey, null)
        val after = storeFiles(target)
        spans.add(SinkSpan(id, t0, t1, after.size - before.size,
          after.map(_.length).sum - before.map(_.length).sum))
      }
    }
  }
}

final class Run(spark: SparkSession, spec: JsonNode, work: Path,
    out: ObjectNode, sessionReady: Long) {
  import Harness._

  private val mapper = new ObjectMapper()
  private val workload = spec.get("workload").asText
  private val trace = spec.get("trace").asBoolean
  private val cores = spec.get("cores").asInt
  private val steady = workload == "steady_tail"
  private val tracer = if (trace) Some(new JobTracer) else None
  private val timedSink =
    if (trace) Some(new TimedSink(Connectors.IndexedParquetBulk)) else None
  private val spans = mapper.createArrayNode()

  private def strs(n: JsonNode): Seq[String] = n.elements.asScala.map(_.asText).toSeq
  private def opt(n: JsonNode): Option[JsonNode] = Option(n).filterNot(_.isNull)

  private val cfg: SyncConfig = {
    val c = spec.get("config")
    SyncConfig(
      globalFilters = strs(c.get("globalFilters")),
      namespaceFilters = c.get("namespaceFilters").fields.asScala
        .map(e => e.getKey -> strs(e.getValue)).toMap,
      rewriteRules = c.get("rewriteRules").elements.asScala
        .map(r => (r.get(0).asText, r.get(1).asText)).toSeq,
      timeKey = opt(c.get("timeKey")).map(_.asText),
      debugLogPatterns = strs(c.get("debugLogPatterns")),
      rateLimits = c.get("rateLimits").fields.asScala
        .map(e => e.getKey -> e.getValue.asInt).toMap,
      rateLimitWindow = c.get("rateLimitWindow").asText,
      flushIntervalMs = c.get("flushIntervalMs").asLong)
  }
  private val failedPattern = opt(spec.get("failedDocPattern")).map(_.asText)
  private val batchFiles = opt(spec.get("batchFiles")).map(_.asInt)

  private def span(name: String, parent: String, start: Long, end: Long,
      batch: Long = -1L): Unit = if (trace) {
    val s = spans.addObject()
    s.put("name", name).put("parent", parent).put("start", start)
      .put("end", end).put("batchId", batch)
  }

  private def tagged[T](tag: String)(f: => T): T = {
    if (trace) spark.sparkContext.setLocalProperty(SpanKey, tag)
    try f finally if (trace) spark.sparkContext.setLocalProperty(SpanKey, null)
  }

  private def startSync(dir: Path, sink: Connectors.BulkSinkConnector): StreamingQuery =
    StreamingSync.start(spark, cfg, s"$dir/src", s"$dir/sink", s"$dir/metrics",
      availableNow = !steady, batchFiles = batchFiles,
      failedDocPattern = failedPattern, sink = sink)

  private def commitMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli +
      p.durationMs.get("triggerExecution").longValue

  /** Progress of the batches that ran (idle triggers carry no addBatch). */
  private def ranBatches(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch"))

  private def awaitBatch(q: StreamingQuery, id: Long, limitMs: Long = 120000): StreamingQueryProgress = {
    val deadline = now() + limitMs
    while (true) {
      ranBatches(q).find(_.batchId == id) match {
        case Some(p) => return p
        case None =>
          q.exception.foreach(e => throw e)
          if (now() > deadline) throw new IllegalStateException(s"batch $id not committed")
          Thread.sleep(5)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Input file name -> the batch that consumed it, from the file source's
    * log in the checkpoint. */
  private def fileBatches(sinkDir: Path): Map[String, Long] = {
    val log = sinkDir.resolve("_checkpoint/sources/0").toFile
    Option(log.listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith("."))
      .flatMap { f =>
        scala.util.Try(Files.readAllLines(f.toPath).asScala.drop(1).toSeq)
          .getOrElse(Nil)
      }
      .filter(_.trim.nonEmpty)
      .map { l =>
        val e = mapper.readTree(l)
        new File(new java.net.URI(e.get("path").asText)).getName -> e.get("batchId").asLong
      }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).min }
  }

  private def writeAtomically(path: Path, text: String): Unit = {
    val tmp = path.resolveSibling("." + path.getFileName + ".tmp")
    Files.write(tmp, text.getBytes("UTF-8"))
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def run(): Unit = {
    tracer.foreach(spark.sparkContext.addSparkListener)
    val runStart = now()

    // set-up: a fresh query on a fresh store, until its first batch commits;
    // the measured query's own warm-up batch is the last sample
    def setUp(dir: Path, sink: Connectors.BulkSinkConnector): (StreamingQuery, Long) = {
      val t0 = now()
      val q = startSync(dir, sink)
      (q, commitMs(awaitBatch(q, 0)) - t0)
    }
    val throwaway = strs(spec.get("setupDirs")).map { d =>
      val (q, ms) = setUp(work.resolve(d), Connectors.IndexedParquetBulk)
      q.stop()
      ms
    }
    val sink = timedSink.getOrElse(Connectors.IndexedParquetBulk)
    val (q, measuredSetup) = setUp(work, sink)
    val setupNode = out.putObject("setup")
    setupNode.put("session_ms", sessionReady - spec.get("launchMs").asLong)
    (throwaway :+ measuredSetup).foreach(s => setupNode.withArray("query_ms").add(s))

    val sinkDir = work.resolve("sink")
    val inputs = strs(spec.get("inputFiles")).map(n => new File(n).getName)
    val gc0 = gcMs()
    val ing = out.putObject("ingest")
    val (due, moved, ingestStart) = if (steady) {
      // The schedule starts half a period after a trigger boundary
      // (processing-time triggers fire on multiples of the interval), so
      // every file is due well clear of a boundary and each flush takes
      // the same files on every run.
      val period = spec.get("periodMs").asLong
      val interval = cfg.flushIntervalMs
      val t0 = (now() + 300 + interval - 1) / interval * interval + period / 2
      val due = inputs.indices.map(i => t0 + i * period).toArray
      writeAtomically(work.resolve("go.json"), s"""{"t0": $t0, "periodMs": $period}""")
      val deadline = due.last + spec.get("latencyLimitMs").asLong
      def done: Boolean = {
        val fb = fileBatches(sinkDir)
        inputs.forall(fb.contains) && {
          val last = inputs.map(fb).max
          ranBatches(q).exists(_.batchId == last)
        }
      }
      while (!done && now() < deadline) { q.exception.foreach(e => throw e); Thread.sleep(50) }
      q.stop()
      // the generator process reports when it actually moved each file
      val movesFile = work.resolve("moves.json")
      while (!Files.exists(movesFile) && now() < deadline + 5000) Thread.sleep(20)
      val moves = mapper.readTree(movesFile.toFile)
      (due, inputs.indices.map(i => moves.get(i).asLong).toArray, t0)
    } else {
      // the backlog was in place before the query started: every file is
      // due when the warm-up batch has committed
      val t0 = commitMs(awaitBatch(q, 0))
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      (Array.fill(inputs.size)(t0), Array.fill(inputs.size)(t0), t0)
    }
    val gcIngest = gcMs() - gc0
    val batches = ranBatches(q).filter(_.batchId > 0)
    val commits = ranBatches(q).map(p => p.batchId -> commitMs(p)).toMap
    val fb = fileBatches(sinkDir)
    val fileCommit = inputs.map(f => fb.get(f).flatMap(commits.get))
    inputs.indices.foreach { i =>
      val f = ing.withArray("files").addObject()
      f.put("name", inputs(i)).put("due", due(i)).put("moved", moved(i))
      fileCommit(i).foreach(c => f.put("commit", c))
    }
    val ingestEnd = (fileCommit.flatten :+ ingestStart).max
    ing.put("start", ingestStart).put("end", ingestEnd)
    val storeNow = storeFiles(sinkDir.toString)
    out.put("store_files", storeNow.size).put("store_bytes", storeNow.map(_.length).sum)
    span("ingest", "run", ingestStart, ingestEnd)

    // serve: the fixed read mix, compaction, the mix again
    val params = spec.get("readParams")
    val readsPerPhase = spec.get("readPasses").asInt
    val answers = out.putArray("answers")
    def readPass(phase: String, k: Int): Long = {
      val pi = k % params.size
      val (a, ms) = readMix(sinkDir.toString, params.get(pi), s"read:$phase:$k")
      answers.add(a.put("phase", phase).put("param", pi))
      ms
    }
    val reads = out.putObject("reads")
    (0 until readsPerPhase).foreach(k => reads.withArray("store").add(readPass("store", k)))
    val c0 = now()
    val report = tagged("compact")(Compaction.compact(spark, sinkDir.toString,
      spec.get("compactTargetBytes").asLong))
    val c1 = now()
    span("compact", "run", c0, c1)
    out.put("compact_ms", c1 - c0)
    (0 until readsPerPhase).foreach(k => reads.withArray("compacted").add(readPass("compacted", k)))

    tracer.foreach { t =>
      val ops = operators(inputs)
      flushListener(t)
      layers(t, batches, ingestStart, ingestEnd, gcIngest, report, ops, inputs, moved, fb)
    }
    span("run", "", runStart, now())
    out.put("rss_peak_mb", rssPeakMb())
    if (trace) out.set("spans", spans)
  }

  private val readFiles = scala.collection.mutable.ArrayBuffer[Long]()

  /** One pass of the fixed read mix over the store, from one client:
    * per-app count on one index, debug documents of one index, a msg_id
    * point lookup, and a whole-store count by index. Returns the answers
    * and the pass's wall time. */
  private def readMix(store: String, p: JsonNode, tag: String): (ObjectNode, Long) = {
    val a = mapper.createObjectNode()
    val t0 = now()
    def q(name: String)(f: DataFrame => DataFrame): Array[org.apache.spark.sql.Row] = {
      val s = now()
      val df = f(IndexedParquetSink.readIndexed(spark, store))
      val rows = tagged(s"$tag:$name")(df.collect())
      span(s"$tag:$name", tag, s, now())
      if (trace) readFiles += scannedFiles(df.queryExecution.executedPlan)
      rows
    }
    val ac = a.putObject("appCount")
    q("app_count")(_.filter(col("index") === p.get("appCountIndex").asText)
        .groupBy("app").count())
      .foreach(r => ac.put(r.getString(0), r.getLong(1)))
    val dbg = a.putArray("debugIds")
    q("debug_docs")(_.filter(col("index") === p.get("debugIndex").asText &&
        col("is_debug")).select("msg_id"))
      .foreach(r => dbg.add(r.getLong(0)))
    val lk = a.putArray("lookup")
    q("lookup")(_.filter(col("msg_id") === p.get("lookupId").asLong)
        .select("index", "app", "field_count"))
      .foreach(r => lk.add(r.getString(0)).add(r.getString(1)).add(r.getInt(2)))
    val ci = a.putObject("countByIndex")
    q("count_by_index")(_.groupBy("index").count())
      .foreach(r => ci.put(r.getString(0), r.getLong(1)))
    val t1 = now()
    span(tag, "run", t0, t1)
    (a, t1 - t0)
  }

  private def scannedFiles(plan: SparkPlan): Long = {
    def walk(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(walk)
    }
    walk(plan).map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
  }

  /** Direct timed calls of the transform and the rate limiter on up to
    * three of the run's input files. */
  private def operators(inputs: Seq[String]): ObjectNode = {
    val o = mapper.createObjectNode()
    var offered, keptN, admitted = 0L
    val tms, rms = scala.collection.mutable.ArrayBuffer[Double]()
    inputs.take(3).foreach { f =>
      val in = Connectors.ParquetMessages.read(spark, work.resolve("src").resolve(f).toString)
      offered += in.count()
      val t0 = now()
      val tr = tagged(s"op:transform:$f") {
        val df = StreamingSync.transform(cfg)(in).cache()
        keptN += df.count(); df
      }
      val t1 = now()
      admitted += tagged(s"op:rate_limit:$f")(SyncPipeline.rateLimit(cfg)(tr).count())
      val t2 = now()
      tr.unpersist(true)
      tms += (t1 - t0).toDouble; rms += (t2 - t1).toDouble
      span(s"op:transform:$f", "run", t0, t1); span(s"op:rate_limit:$f", "run", t1, t2)
    }
    o.put("transform_ms", median(tms.toSeq)).put("rate_limit_ms", median(rms.toSeq))
      .put("kept_ratio", keptN.toDouble / math.max(1L, offered))
      .put("admitted_ratio", admitted.toDouble / math.max(1L, keptN))
  }

  /** Wait until the listener has seen every event posted so far: events
    * reach a listener in order, so once a marker job's end arrives, all
    * earlier ones have. */
  private def flushListener(t: JobTracer): Unit = {
    tagged("flush")(spark.sparkContext.parallelize(Seq(1), 1).count())
    val deadline = now() + 30000
    while (!t.jobsWhere(_.span == "flush").exists(_.end >= 0) && now() < deadline)
      Thread.sleep(10)
  }

  private def layers(t: JobTracer, batches: Seq[StreamingQueryProgress],
      ingestStart: Long, ingestEnd: Long, gcIngest: Long, report: Compaction.Report,
      ops: ObjectNode, inputs: Seq[String], moved: Array[Long],
      fb: Map[String, Long]): Unit = {
    val l = out.putObject("layers")
    def d(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def med(k: String): Double = median(batches.map(d(_, k)))
    val sinkSpans = timedSink.toSeq.flatMap(_.spans.asScala.toSeq)
      .filter(s => batches.exists(_.batchId == s.batch))
    val sinkOf = sinkSpans.groupBy(_.batch)
    val queryJobs = t.jobsWhere(j => j.batch >= 0 && j.start >= ingestStart - 1 &&
      batches.exists(_.batchId == j.batch))
    val perBatch = batches.map { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val end = start + d(p, "triggerExecution").toLong
      val js = queryJobs.filter(_.batch == p.batchId)
      val sink = sinkOf.getOrElse(p.batchId, Nil)
      val sinkMs = sink.map(s => s.end - s.start).sum
      val sinkJobs = js.filter(_.span == s"sink:${p.batchId}")
      val sinkJobUnion = unionMs(sinkJobs.map(j => (j.start, j.end)))
      val sinkStages = t.stagesOf(sinkJobs)
      val stageUnion = unionMs(sinkStages.map(s => (s.start, s.end)))
      span(s"batch:${p.batchId}", "ingest", start, end, p.batchId)
      sink.foreach(s => span(s"sink:${p.batchId}", s"batch:${p.batchId}", s.start, s.end, p.batchId))
      js.foreach { j =>
        span(s"job:${j.id}", if (j.span.startsWith("sink:")) j.span else s"batch:${p.batchId}",
          j.start, j.end, p.batchId)
        t.stagesOf(Seq(j)).foreach(s => span(s"stage:${s.id}", s"job:${j.id}", s.start, s.end, p.batchId))
      }
      Map(
        "trigger" -> d(p, "triggerExecution"), "addBatch" -> d(p, "addBatch"),
        "sources" -> (d(p, "latestOffset") + d(p, "getBatch")),
        "jobs" -> js.size.toDouble, "sinkMs" -> sinkMs.toDouble,
        "sinkJobs" -> sinkJobs.size.toDouble,
        "driverGap" -> (d(p, "triggerExecution") - unionMs(js.map(j => (j.start, j.end)))),
        "sinkSelf" -> (sinkMs - sinkJobUnion).toDouble,
        "jobSelf" -> (sinkJobUnion - stageUnion).toDouble,
        "stages" -> stageUnion.toDouble,
        "start" -> start.toDouble)
    }
    def col(k: String): Seq[Double] = perBatch.map(_(k))
    // files waiting at each trigger: moved in by then, not consumed by an earlier batch
    val backlog = batches.map { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      inputs.indices.count(i => moved(i) <= start && fb.get(inputs(i)).forall(_ >= p.batchId))
    }
    val stages = t.stagesOf(queryJobs)
    val wall = math.max(1L, ingestEnd - ingestStart)
    l.put("sources.latest_offset_ms", med("latestOffset"))
      .put("sources.get_batch_ms", med("getBatch"))
      .put("sources.backlog_files_max", (backlog :+ 0).max)
      .put("streaming.batches", batches.size)
      .put("streaming.trigger_ms", med("triggerExecution"))
      .put("streaming.add_batch_ms", med("addBatch"))
      .put("streaming.query_planning_ms", med("queryPlanning"))
      .put("streaming.wal_commit_ms", med("walCommit"))
      .put("streaming.commit_offsets_ms", med("commitOffsets"))
      .put("streaming.jobs_per_batch", median(col("jobs")))
      .put("streaming.driver_gap_ms", median(col("driverGap")))
      .put("streaming.foreach_self_ms", median(perBatch.map(b => b("addBatch") - b("sinkMs"))))
      .put("streaming.busy_share", stages.map(_.runMs).sum.toDouble / (wall * cores))
      .put("streaming.tasks_per_stage_max", (stages.map(_.tasks) :+ 0).max)
      .put("streaming.gc_ms", gcIngest)
      .put("streaming.spill_bytes", stages.map(_.spill).sum)
      .put("operators.transform_ms", ops.get("transform_ms").asDouble)
      .put("operators.kept_ratio", ops.get("kept_ratio").asDouble)
      .put("operators.rate_limit_ms", ops.get("rate_limit_ms").asDouble)
      .put("operators.admitted_ratio", ops.get("admitted_ratio").asDouble)
      .put("operators.shuffle_bytes",
        t.stagesOf(t.jobsWhere(_.span.startsWith("op:rate_limit:"))).map(_.shuffleWrite).sum)
      .put("sinks.write_ms", median(col("sinkMs")))
      .put("sinks.jobs_per_write", median(col("sinkJobs")))
      .put("sinks.files_per_batch", median(sinkSpans.map(_.files.toDouble)))
      .put("sinks.bytes_per_batch", median(sinkSpans.map(_.bytes.toDouble)))
      .put("sinks.retries", timedSink.map(s => s.spans.size - s.spans.asScala.map(_.batch).toSet.size).getOrElse(0))
      .put("sinks.store_files", out.get("store_files").asLong)
      .put("sinks.read_files_per_query", median(readFiles.map(_.toDouble).toSeq))
      .put("sinks.read_bytes_per_query", median(
        t.jobsWhere(_.span.startsWith("read:")).groupBy(_.span).values
          .map(js => t.stagesOf(js).map(_.inputBytes).sum.toDouble).toSeq))
      .put("sinks.compact_ms", out.get("compact_ms").asLong)
      .put("sinks.compact_files_before", report.filesBefore)
      .put("sinks.compact_files_after", report.filesAfter)

    // self time of each layer on the ingest path, summed over batches
    val self = out.putObject("self_ms")
    val triggers = unionMs(perBatch.map(b => (b("start").toLong, (b("start") + b("trigger")).toLong)))
    self.put("sources", col("sources").sum)
      .put("streaming", perBatch.map(b => b("trigger") - b("addBatch") - b("sources")).sum)
      .put("foreach_batch", perBatch.map(b => b("addBatch") - b("sinkMs")).sum)
      .put("sinks", col("sinkSelf").sum)
      .put("spark_jobs", col("jobSelf").sum)
      .put("stages", col("stages").sum)
      .put("idle_between_triggers", (wall - triggers).toDouble)
    val readJobs = t.jobsWhere(_.span.startsWith("read:"))
    val readQueries = readJobs.groupBy(_.span)
    val readSelf = out.putObject("read_self_ms")
    val readSpans = spans.elements.asScala.filter(s =>
      s.get("name").asText.count(_ == ':') == 3 && s.get("name").asText.startsWith("read:")).toSeq
    val readWall = readSpans.map(s => s.get("end").asLong - s.get("start").asLong).sum
    val readJobUnion = readQueries.values.map(js => unionMs(js.map(j => (j.start, j.end)))).sum
    readSelf.put("read_driver", (readWall - readJobUnion).toDouble)
      .put("read_jobs", readJobUnion.toDouble)
      .put("compaction", out.get("compact_ms").asDouble)
  }

  private def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}
