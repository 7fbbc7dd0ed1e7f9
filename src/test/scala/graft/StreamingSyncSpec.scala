package graft

import graft.operators.{SyncConfig, SyncPipeline}
import graft.streaming.StreamingSync
import graft.sources.Tables
import org.apache.spark.sql.functions._
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** End-to-end streaming sync: file-source message stream → transforms →
  * per-batch admission → indexed parquet sink with bulk metrics. The
  * streaming result must equal the batch pipeline on the same messages
  * (shared transform code), and the sink layout must be index-partitioned. */
class StreamingSyncSpec extends SparkSpec {

  private val cfg = SyncConfig(
    globalFilters = Seq("\"k\": 13\\}"),
    rewriteRules = Seq(("click", "web"), ("view", "web")),
    rateLimits = Map("__DEFAULT_APP__" -> 50),
    rateLimitWindow = "hour")

  test("streaming pipeline == batch pipeline; sink partitioned by index") {
    val tmp = Files.createTempDirectory("graft-stream").toString
    val srcDir = s"$tmp/src"
    val sinkDir = s"$tmp/sink"
    val metricsDir = s"$tmp/metrics"

    val msgs = Tables.events(spark, sf())
      .select(col("event_id").as("msg_id"),
        col("event_type").as("topic"),
        timestamp_micros(expr("ts div 1000")).as("publish_time"),
        col("props").as("data"))
    msgs.write.parquet(srcDir)

    val q = StreamingSync.start(spark, cfg, srcDir, sinkDir, metricsDir,
      availableNow = true)
    q.awaitTermination(120000)

    val streamed = spark.read.parquet(sinkDir)
    val batch = SyncPipeline(cfg)(msgs)

    assert(streamed.count() == batch.count())
    // identical admitted message sets and routing
    val a = streamed.select("msg_id", "index", "app").orderBy("msg_id")
      .collect().toSeq
    val b = batch.select("msg_id", "index", "app").orderBy("msg_id")
      .collect().toSeq
    assert(a == b)

    // sink layout: index=... partition directories (the "ES indices")
    val dirs = new java.io.File(sinkDir).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("index="))
    assert(dirs.nonEmpty)

    // bulk metrics present and consistent with written doc count
    val metrics = spark.read.parquet(metricsDir)
    assert(metrics.agg(sum("written")).head.getLong(0) == streamed.count())

    // every stage of the chain on: topic subscription over URI-shaped
    // names, key injection under a custom name, injected namespaces
    val chainCfg = cfg.copy(
      topicRegex = Some("^(click|view|purchase)$"),
      injectKey = true,
      injectedKeyName = "__trace__",
      injectedNamespaces = Seq("click"))
    val uriMsgs = msgs.withColumn("topic",
      concat(lit("persistent://t/ns/"), col("topic")))
    uriMsgs.write.parquet(s"$tmp/uri_src")
    StreamingSync.start(spark, chainCfg, s"$tmp/uri_src", s"$tmp/uri_sink",
      s"$tmp/uri_metrics", availableNow = true).awaitTermination(120000)
    def docs(df: org.apache.spark.sql.DataFrame) =
      df.select("msg_id", "index", "app", "data").orderBy("msg_id")
        .collect().toSeq
    val stored = docs(graft.sinks.IndexedParquetSink.readIndexed(spark,
      s"$tmp/uri_sink"))
    assert(stored == docs(SyncPipeline(chainCfg)(uriMsgs)))
    // not vacuous: the subscription dropped topics, every doc is injected
    val indices = stored.map(_.getString(1).takeWhile(_ != '-')).toSet
    assert(indices == Set("web", "purchase"), s"stored indices $indices")
    assert(stored.nonEmpty &&
      stored.forall(_.getString(3).contains("\"__trace__\": \"msg-")))
  }

  test("--flush-interval rides SyncConfig into the processing-time trigger") {
    // the config default mirrors args.rs:117-119 (5000 ms)
    assert(SyncConfig().flushIntervalMs == 5000L)
    val tmp = Files.createTempDirectory("graft-flush").toString
    val msgs = Tables.events(spark, sf())
      .select(col("event_id").as("msg_id"), col("event_type").as("topic"),
        timestamp_micros(expr("ts div 1000")).as("publish_time"),
        col("props").as("data"))
      .limit(50)
    msgs.write.parquet(s"$tmp/src")
    // the 100 ms cadence comes from the config field alone
    val q = StreamingSync.start(spark, cfg.copy(flushIntervalMs = 100L),
      s"$tmp/src", s"$tmp/sink", s"$tmp/metrics")
    // pin the WIRING, not just "some trigger fired": the running
    // query's actual trigger must be the config's 100 ms cadence
    val trig = q
      .asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.trigger
    assert(trig ==
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(100L),
      s"config flush interval did not reach the trigger: $trig")
    try {
      val deadline = System.currentTimeMillis() + 60000
      var n = 0L
      while (n == 0L && System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        n = try spark.read.parquet(s"$tmp/sink").count()
        catch { case _: Exception => 0L } // sink not yet created
      }
      assert(n > 0L, "configured flush interval never fired a batch")
    } finally q.stop()
  }

  test("connection-identity knobs travel SyncConfig → the connector seam verbatim") {
    // the five args.rs client knobs the sandbox cannot exercise
    // (--pulsar-addr/-token, --consumer-name, --subscription-name,
    // --channel-buffer-size) are config fields that
    // must REACH the provider seam, not sit inert in a struct nobody reads
    import graft.sources.Connectors
    // defaults mirror args.rs:73-123 exactly
    assert(SyncConfig().pulsarAddr == "pulsar://127.0.0.1:6650")
    assert(SyncConfig().pulsarToken.isEmpty &&
      SyncConfig().consumerName.isEmpty &&
      SyncConfig().subscriptionName.isEmpty)
    assert(SyncConfig().channelBufferSize == 2048)
    val idCfg = cfg.copy(
      pulsarAddr = "pulsar://broker.example:6650",
      pulsarToken = Some("tok-123"),
      consumerName = Some("graft-consumer"),
      subscriptionName = Some("graft-sub"),
      channelBufferSize = 4096)
    // the RUNNING sync hands the connector its config: a recording
    // wrapper around the parquet stand-in
    var seen: Option[(String, SyncConfig, Option[Int])] = None
    object Recording extends Connectors.MessageConnector {
      def readStream(s: org.apache.spark.sql.SparkSession, uri: String,
          c: SyncConfig, maxBatch: Option[Int]): org.apache.spark.sql.DataFrame = {
        seen = Some((uri, c, maxBatch))
        Connectors.ParquetMessages.readStream(s, uri, c, maxBatch)
      }
      def read(s: org.apache.spark.sql.SparkSession,
          uri: String): org.apache.spark.sql.DataFrame =
        Connectors.ParquetMessages.read(s, uri)
    }
    val tmp = Files.createTempDirectory("graft-connid").toString
    Tables.events(spark, sf())
      .select(col("event_id").as("msg_id"), col("event_type").as("topic"),
        timestamp_micros(expr("ts div 1000")).as("publish_time"),
        col("props").as("data"))
      .limit(20).write.parquet(s"$tmp/src")
    val q = StreamingSync.start(spark, idCfg, s"$tmp/src", s"$tmp/sink",
      s"$tmp/metrics", availableNow = true, batchFiles = Some(7),
      source = Recording)
    q.awaitTermination(120000)
    // the config itself, so all five client knobs, reaches the connector
    assert(seen.contains((s"$tmp/src", idCfg, Some(7))), s"connector saw $seen")
  }

  test("bounded consumer batches (maxFilesPerTrigger) reach the same result") {
    val tmp = Files.createTempDirectory("graft-stream3").toString
    val msgs = Tables.events(spark, sf())
      .select(col("event_id").as("msg_id"), col("event_type").as("topic"),
        timestamp_micros(expr("ts div 1000")).as("publish_time"),
        col("props").as("data"))
    msgs.repartition(8).write.parquet(s"$tmp/src") // 8 source files
    val q = StreamingSync.start(spark, cfg, s"$tmp/src", s"$tmp/sink",
      s"$tmp/metrics", availableNow = true, batchFiles = Some(2))
    q.awaitTermination(120000)
    val metrics = spark.read.parquet(s"$tmp/metrics")
    assert(metrics.select("batch_id").distinct().count() >= 3,
      "2-files-per-trigger over 8 files should yield multiple batches")
    assert(spark.read.parquet(s"$tmp/sink").count() ==
      SyncPipeline(cfg)(msgs).count())
  }

  test("streaming message dedup drops broker redeliveries") {
    val tmp = Files.createTempDirectory("graft-dedup").toString
    val msgs = Tables.events(spark, sf())
      .select(col("event_id").as("msg_id"), col("event_type").as("topic"),
        timestamp_micros(expr("ts div 1000")).as("publish_time"),
        col("props").as("data")).limit(300)
    // simulate redelivery: every message delivered twice
    msgs.unionAll(msgs).write.parquet(s"$tmp/src")
    val out = StreamingSync.dedupMessages()(graft.sources.Connectors
      .ParquetMessages.readStream(spark, s"$tmp/src", SyncConfig(), None))
    val q = out.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(spark.table("dedup_stream").count() == 300)
    assert(spark.table("dedup_stream").select("msg_id").distinct().count() == 300)
  }

  test("bulk failures are diverted, counted per index, and metered") {
    val tmp = Files.createTempDirectory("graft-bulkfail").toString
    val msgs = Tables.events(spark, sf())
      .select(col("event_id").as("msg_id"), col("event_type").as("topic"),
        timestamp_micros(expr("ts div 1000")).as("publish_time"),
        col("props").as("data"))
    msgs.write.parquet(s"$tmp/src")
    graft.streaming.SyncMetrics.reset()
    val poison = "\"k\": 5[0-9]\\}"
    val q = StreamingSync.start(spark, SyncConfig(), s"$tmp/src",
      s"$tmp/sink", s"$tmp/metrics", availableNow = true,
      failedDocPattern = Some(poison))
    q.awaitTermination(120000)

    val total = SyncPipeline(SyncConfig())(msgs)
    val expectFailed = total.filter(col("data").rlike(poison)).count()
    val written = spark.read.parquet(s"$tmp/sink")
    val failed = spark.read.parquet(s"$tmp/sink/_failed")
    // poison docs land in the failed-payload store, never the index
    assert(failed.count() == expectFailed && expectFailed > 0)
    assert(written.count() == total.count() - expectFailed)
    assert(written.filter(col("data").rlike(poison)).count() == 0)
    // bulk metrics carry the per-index failure counts (es.rs:133-191)
    val metrics = spark.read.parquet(s"$tmp/metrics")
    assert(metrics.agg(sum("failed")).head.getLong(0) == expectFailed)
    assert(metrics.agg(sum("written")).head.getLong(0) == written.count())
    // and the prometheus-style counters accumulated the same totals
    val snap = graft.streaming.SyncMetrics.snapshot()
    assert(snap.contains("graft_es_write_failed_total"))
    val failedTotal = snap.linesIterator
      .filter(_.startsWith("graft_es_write_failed_total"))
      .map(_.split(' ').last.toLong).sum
    assert(failedTotal == expectFailed)
  }

  test("withRetries retries transient sink failures and counts them") {
    import graft.sinks.IndexedParquetSink
    val analysis = intercept[org.apache.spark.sql.AnalysisException](
      spark.table("no_such_table_for_retries"))
    // (label, what the attempt throws, attempts expected before giving up)
    val cases = Seq[(String, Throwable, Int)](
      ("transient", new RuntimeException("transient"), 4),
      ("interrupt", new InterruptedException("stop"), 1),
      ("fatal", new StackOverflowError("fatal"), 1),
      ("analysis", analysis, 1))
    cases.foreach { case (label, err, expected) =>
      withClue(s"$label: ") {
        graft.streaming.SyncMetrics.reset()
        var attempts = 0
        val thrown = intercept[Throwable] {
          IndexedParquetSink.withRetries(3, backoffMs = 1, label = label) { () =>
            attempts += 1
            throw err
          }
        }
        assert(thrown eq err)
        assert(attempts == expected)
        assert(graft.streaming.SyncMetrics
          .value(s"""graft_es_retry_total{sink="$label"}""") == expected - 1)
      }
    }
    // a transient failure that clears succeeds, after a non-zero linear
    // default backoff (100 ms, then 200 ms)
    graft.streaming.SyncMetrics.reset()
    var attempts = 0
    val t0 = System.nanoTime()
    val out = IndexedParquetSink.withRetries(3, label = "test") { () =>
      attempts += 1
      if (attempts < 3) throw new RuntimeException("transient")
      "ok"
    }
    assert(out == "ok" && attempts == 3)
    assert((System.nanoTime() - t0) / 1000000 >= 300)
    assert(graft.streaming.SyncMetrics
      .value("""graft_es_retry_total{sink="test"}""") == 2)
  }

  test("sync runs unchanged through a swapped source connector (jsonlines)") {
    // the A33 seam claim, proven with the NON-default connector: the
    // same StreamingSync.start, fed by the jsonlines MessageConnector
    // (topic = directory name), lands the same admitted set as the
    // batch pipeline over the same messages
    import graft.sources.Connectors
    val tmp = Files.createTempDirectory("graft-conn-sync").toString
    val payloads = (0 until 60).map(i => s"""{"k": $i}""")
    Seq("web", "errs").foreach { topic =>
      val dir = new java.io.File(s"$tmp/topics/$topic")
      dir.mkdirs()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$tmp/topics/$topic/part-0.jsonl"),
        payloads.mkString("\n").getBytes)
    }
    val q = StreamingSync.start(spark, cfg, s"$tmp/topics/*/*.jsonl",
      s"$tmp/sink", s"$tmp/metrics", availableNow = true,
      source = Connectors.JsonLinesMessages)
    q.awaitTermination(120000)

    val streamed = spark.read.parquet(s"$tmp/sink")
    val batch = SyncPipeline(cfg)(
      Connectors.JsonLinesMessages.read(spark, s"$tmp/topics/*/*.jsonl"))
    assert(streamed.count() > 0 && streamed.count() == batch.count())
    assert(streamed.select("msg_id", "index", "app").orderBy("msg_id")
      .collect().toSeq ==
      batch.select("msg_id", "index", "app").orderBy("msg_id")
        .collect().toSeq)
  }

  test("mid-batch crash + restart from checkpoint: store equals batch relation exactly (no loss, no dup)") {
    // fault-injection matrix over the commit protocol's crash points:
    // the stream is KILLED while committing batch 1, restarted from the
    // checkpoint, and the store must converge to the batch relation
    // exactly — replay scrubs the orphans (no dup) and rewrites the
    // uncommitted batch (no loss), or skips a committed one
    import graft.sinks.IndexedParquetSink
    import graft.sources.Connectors
    import org.apache.hadoop.fs.{FileSystem, Path}
    // no rate limits: admission is then batch-split-invariant, so the
    // final store must equal the batch pipeline regardless of batching
    val cfg2 = SyncConfig(
      globalFilters = Seq("\"k\": 13\\}"),
      rewriteRules = Seq(("click", "web"), ("view", "web")))
    val msgs = Tables.events(spark, sf())
      .select(col("event_id").as("msg_id"), col("event_type").as("topic"),
        timestamp_micros(expr("ts div 1000")).as("publish_time"),
        col("props").as("data"))
    val poison = "\"k\": 5[0-9]\\}"
    val all = SyncPipeline(cfg2)(msgs)
    val batch = all.filter(!col("data").rlike(poison))
    val expected = batch.select("msg_id", "index", "app").orderBy("msg_id")
      .collect().toSeq
    val expectedFailed = all.filter(col("data").rlike(poison))
      .select("msg_id").orderBy("msg_id").collect().toSeq

    /** Crashes batch 1 once, at `point`: a step of the sink's commit, or
      * "committed" — after the marker, before StreamingSync writes the
      * batch's metrics-store rows. */
    final class CrashAt(point: String) extends Connectors.BulkSinkConnector {
      val name = "crash-at"
      @volatile var fired = false
      def writeBatch(batch: org.apache.spark.sql.DataFrame, target: String,
          isFailed: Option[org.apache.spark.sql.Column],
          failedTarget: Option[String],
          batchId: Option[Long]): org.apache.spark.sql.DataFrame = {
        val armed = !fired && batchId.contains(1L)
        def crash(step: String): Unit = if (armed && step == point) {
          fired = true
          throw new RuntimeException(s"injected crash at $step")
        }
        val m = IndexedParquetSink.commitBatch(batch, target, isFailed,
          failedTarget, batchId, onStep = crash)
        crash("committed")
        m
      }
    }

    Seq("staged", "move 0", "moves-done", "committed").foreach { point =>
      withClue(s"crash at '$point': ") {
        val tmp = Files.createTempDirectory("graft-crash").toString
        msgs.repartition(3).write.parquet(s"$tmp/src") // 3 files → 3 batches
        val fs = FileSystem.get(new java.net.URI(tmp),
          spark.sparkContext.hadoopConfiguration)
        def files(p: String): Seq[Path] =
          Option(fs.globStatus(new Path(p))).toSeq.flatten.map(_.getPath)
        def dataFiles(name: String): Seq[Path] =
          files(s"$tmp/sink/index=*/$name") ++ files(s"$tmp/sink/_failed/index=*/$name")
        val sink = new CrashAt(point)
        def run(): org.apache.spark.sql.streaming.StreamingQuery =
          StreamingSync.start(spark, cfg2, s"$tmp/src", s"$tmp/sink",
            s"$tmp/metrics", availableNow = true, batchFiles = Some(1),
            maxRetries = 0, sink = sink, failedDocPattern = Some(poison))
        val died = try { run().awaitTermination(120000); false } catch {
          case _: org.apache.spark.sql.streaming.StreamingQueryException => true
        }
        assert(died, "the injected crash must kill the stream")
        // the crash left the wreckage of its point
        assert(fs.exists(new Path(s"$tmp/sink/_commits/0")))
        assert(fs.exists(new Path(s"$tmp/sink/_commits/1")) == (point == "committed"))
        assert(files(s"$tmp/sink/_staging/b1/*/*/part-*").nonEmpty ==
          (point == "staged" || point == "move 0"))
        assert(dataFiles("b1-*").nonEmpty ==
          (point != "staged"))
        assert(!fs.exists(new Path(s"$tmp/metrics/bid=1")))

        // restart from the same checkpoint: batch 1 replays, batch 2 runs
        run().awaitTermination(120000)

        val store = spark.read.parquet(s"$tmp/sink")
        assert(store.select("msg_id", "index", "app").orderBy("msg_id")
          .collect().toSeq == expected, "store == batch relation exactly")
        // the failed-docs log rides the same commit: exactly the poison set
        assert(spark.read.parquet(s"$tmp/sink/_failed").select("msg_id")
          .orderBy("msg_id").collect().toSeq == expectedFailed,
          "_failed == poison set exactly")
        assert(spark.read.parquet(s"$tmp/metrics")
          .agg(sum("written")).head.getLong(0) == store.count())
        // no orphans: staging is empty and every data file belongs to a
        // batch whose marker is in place
        assert(files(s"$tmp/sink/_staging/*").isEmpty)
        val batchesOnDisk = dataFiles("*.parquet")
          .map(_.getName.takeWhile(_ != '-')).toSet
        assert(batchesOnDisk == Set("b0", "b1", "b2"))
        Seq(0, 1, 2).foreach(b =>
          assert(fs.exists(new Path(s"$tmp/sink/_commits/$b")), s"marker $b"))
      }
    }
  }

  test("second availableNow run is incremental (checkpoint): no re-write") {
    val tmp = Files.createTempDirectory("graft-stream2").toString
    val srcDir = s"$tmp/src"
    Tables.events(spark, sf())
      .select(col("event_id").as("msg_id"), col("event_type").as("topic"),
        timestamp_micros(expr("ts div 1000")).as("publish_time"),
        col("props").as("data"))
      .limit(100).write.parquet(srcDir)
    val sinkDir = s"$tmp/sink"; val metricsDir = s"$tmp/metrics"
    StreamingSync.start(spark, cfg, srcDir, sinkDir, metricsDir,
      availableNow = true).awaitTermination(120000)
    val n1 = spark.read.parquet(sinkDir).count()
    StreamingSync.start(spark, cfg, srcDir, sinkDir, metricsDir,
      availableNow = true).awaitTermination(120000)
    val n2 = spark.read.parquet(sinkDir).count()
    assert(n1 == n2)
  }

  test("metrics store: the schema readers expect, one data file per bid, replaced on replay") {
    import org.apache.spark.sql.types._
    val tmp = Files.createTempDirectory("graft-metrics-store").toString
    Tables.events(spark, sf())
      .select(col("event_id").as("msg_id"), col("event_type").as("topic"),
        timestamp_micros(expr("ts div 1000")).as("publish_time"),
        col("props").as("data"))
      .limit(200).write.parquet(s"$tmp/src")
    val poison = "\"k\": 5[0-9]\\}"
    def run(): Unit = StreamingSync.start(spark, cfg, s"$tmp/src", s"$tmp/sink",
      s"$tmp/metrics", availableNow = true, failedDocPattern = Some(poison))
      .awaitTermination(120000)
    def dataFiles(): Seq[String] = Files.list(java.nio.file.Paths.get(s"$tmp/metrics/bid=0"))
      .iterator.asScala.map(_.getFileName.toString)
      .filterNot(n => n.startsWith(".") || n.startsWith("_")).toSeq
    def totals() = spark.read.parquet(s"$tmp/metrics")
      .agg(sum("written"), sum("failed")).head
    run()
    assert(spark.read.parquet(s"$tmp/metrics").schema == StructType(Seq(
      StructField("index", StringType), StructField("app", StringType),
      StructField("written", LongType), StructField("failed", LongType),
      StructField("batch_id", LongType), StructField("bid", IntegerType))))
    assert(dataFiles().size == 1, dataFiles())
    val first = totals()
    assert(first.getLong(0) == spark.read.parquet(s"$tmp/sink").count())
    // drop the checkpoint's commit of batch 0: the restart replays it,
    // the sink returns the marker's metrics, and bid=0 is rewritten
    Files.list(java.nio.file.Paths.get(s"$tmp/sink/_checkpoint/commits")).iterator.asScala
      .filter(f => Set("0", ".0.crc")(f.getFileName.toString)).foreach(Files.delete)
    run()
    assert(dataFiles().size == 1, dataFiles())
    assert(totals() == first)
    assert(spark.read.parquet(s"$tmp/metrics").select("batch_id").distinct()
      .collect().map(_.getLong(0)).toSeq == Seq(0L))
  }

  test("a 3-batch sync forks no chmod or readlink for its sink or checkpoint") {
    import org.apache.hadoop.fs.{LocalFileSystem, Path}
    val root = Files.createTempDirectory("graft-sync-forks")
    val probe = Files.createTempDirectory("graft-probe")
    val src = Files.createTempDirectory("graft-sync-src").resolve("src").toString
    Tables.events(spark, sf())
      .select(col("event_id").as("msg_id"), col("event_type").as("topic"),
        timestamp_micros(expr("ts div 1000")).as("publish_time"),
        col("props").as("data"))
      .repartition(3).write.parquet(src) // 3 files → 3 batches
    // Hadoop's default local filesystem, which forks without libhadoop
    val plain = new LocalFileSystem
    plain.initialize(probe.toUri, spark.sparkContext.hadoopConfiguration)
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    val jfr = Files.createTempFile("graft-forks", ".jfr")
    rec.setDestination(jfr)
    rec.start()
    try {
      plain.create(new Path(s"$probe/d/f")).close()
      assert(StreamingSync.start(spark, cfg, src, s"$root/sink", s"$root/metrics",
        availableNow = true, batchFiles = Some(1)).awaitTermination(120000))
    } finally rec.stop()
    val forks = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
      .map(_.getString("command"))
      .filter(c => c.startsWith("chmod") || c.startsWith("readlink"))
    rec.close()
    plain.close()
    Seq(0, 1, 2).foreach(b => assert(Files.exists(root.resolve(s"sink/_commits/$b"))))
    assert(Files.exists(root.resolve("sink/_checkpoint/commits/2")))
    assert(!forks.exists(_.contains(root.toString)), forks)
    // the recorder sees the forks Hadoop makes without libhadoop
    if (!org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded)
      assert(forks.exists(_.contains(probe.toString)), forks)
  }

  test("the sync runs in a clone of the caller's session with the sync's settings") {
    import graft.sinks.ForklessLocalFileSystem
    import graft.streaming.{StreamedBatch, TopicWatchdog}
    val settings = Map(
      "spark.sql.sources.parallelPartitionDiscovery.threshold" -> Int.MaxValue.toString,
      "spark.sql.streaming.checkpointFileManagerClass" -> ("org.apache.spark.sql.execution" +
        ".streaming.checkpointing.FileSystemBasedCheckpointFileManager"),
      "fs.file.impl" -> classOf[ForklessLocalFileSystem].getName,
      "spark.sql.streaming.stopTimeout" -> TopicWatchdog.StopWaitMs.toString)
    val tmp = Files.createTempDirectory("graft-sync-session").toString
    Tables.events(spark, sf())
      .select(col("event_id").as("msg_id"), col("event_type").as("topic"),
        timestamp_micros(expr("ts div 1000")).as("publish_time"),
        col("props").as("data"))
      .limit(50).write.parquet(s"$tmp/src")
    spark.conf.set("graft.test.caller-conf", "kept")
    try {
      val q = StreamingSync.start(spark, cfg, s"$tmp/src", s"$tmp/sink",
        s"$tmp/metrics", availableNow = true)
      assert(q.awaitTermination(120000))
      assert(q.sparkSession ne spark)
      settings.foreach { case (k, v) =>
        assert(q.sparkSession.conf.get(k) == v, k)
        assert(!spark.conf.getAll.contains(k), k)
      }
      // a conf the caller set at run time reaches the sync's session and
      // the replay twins' session
      assert(q.sparkSession.conf.get("graft.test.caller-conf") == "kept")
      val twin = StreamedBatch.streamSession(spark, tmp)
      assert(twin.conf.get("graft.test.caller-conf") == "kept")
      assert(twin.conf.get("spark.sql.streaming.stopTimeout") ==
        TopicWatchdog.StopWaitMs.toString)
    } finally spark.conf.unset("graft.test.caller-conf")
  }

  test("a checkpoint root that is not file: keeps Spark's checkpoint manager and filesystem") {
    val keys = Seq("spark.sql.streaming.checkpointFileManagerClass", "fs.file.impl",
      "fs.file.impl.disable.cache")
    val remote = StreamingSync.session(spark, "hdfs://namenode:8020/sync/_checkpoint")
    keys.foreach(k => assert(!remote.conf.getAll.contains(k), k))
    assert(remote.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold") ==
      Int.MaxValue.toString)
    Seq("file:/sync/_checkpoint", "/sync/_checkpoint").foreach { root =>
      val local = StreamingSync.session(spark, root)
      keys.foreach(k => assert(local.conf.getAll.contains(k), s"$root: $k"))
    }
  }

  test("writeChunkedFiles: one job emits one file per batch, empty batches included") {
    // r13: the chunk writer moved from nBatches sequential filter+write
    // jobs to ONE partitioned write. The micro-batch sequence is
    // load-bearing (watermark advancement models batch INDEX; the
    // stream-stream replays drain two sources in lockstep), so an empty
    // batch must still produce its schema-only file in order.
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-chunk-spec").toString
    // batch 1 of 0..3 is EMPTY
    val batched = Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 2L),
      (4L, "d", 3L)).toDF("doc_id", "text", "batch")
    val src = graft.streaming.StreamedBatch.writeChunkedFiles(batched,
      Seq("doc_id", "text"), nBatches = 4, tmp)
    val files = new java.io.File(src).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(files.map(_.getName).toSeq ==
      Seq("f000.parquet", "f001.parquet", "f002.parquet", "f003.parquet"))
    // mod-times strictly increasing — the file source's replay order
    assert(files.map(_.lastModified()).toSeq.sliding(2)
      .forall { case Seq(a, b) => a < b })
    // per-file content: exactly the batch's rows; the empty batch reads
    // back as zero rows with the right schema
    val perFile = files.map(f => spark.read.parquet(f.getPath))
    assert(perFile.map(_.count()).toSeq == Seq(2L, 0L, 1L, 1L))
    assert(perFile.forall(_.columns.toSeq == Seq("doc_id", "text")))
    assert(perFile(2).as[(Long, String)].collect().toSeq == Seq((3L, "c")))
    org.apache.hadoop.fs.FileSystem
      .get(new java.net.URI(tmp), spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(tmp), true)
  }
}
