package graft

import graft.operators.{SyncConfig, SyncPipeline}
import graft.sources.JsonLines
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.{Files, Paths}

/** JSON-lines ingestion (batch + streaming) and streaming windowed
  * aggregation with watermark — the event-time agg path of the engine. */
class SourcesAndWindowSpec extends SparkSpec {

  private def stageJsonl(): String = {
    val tmp = Files.createTempDirectory("graft-jsonl").toString
    Files.createDirectories(Paths.get(s"$tmp/web"))
    Files.createDirectories(Paths.get(s"$tmp/audit"))
    Files.writeString(Paths.get(s"$tmp/web/part-0.jsonl"),
      """{"ts": 1700000000000, "app": "shop", "k": 1}
        |{"ts": 1700000001000, "k": 2}
        |not json at all
        |{"ts": 1700000002000, "level": "debug", "k": 3}
        |""".stripMargin)
    Files.writeString(Paths.get(s"$tmp/audit/part-0.jsonl"),
      """{"ts": 1700000003000, "k": 4}
        |""".stripMargin)
    tmp
  }

  test("JsonLines batch: topic from dir, raw passthrough, bad lines survive to parse stage") {
    val dir = stageJsonl()
    val msgs = JsonLines.read(spark, s"$dir/*/*.jsonl")
    assert(msgs.count() == 5)
    val topics = msgs.select("topic").distinct()
      .collect().map(_.getString(0)).toSet
    assert(topics == Set("web", "audit"))
    // the non-JSON line is dropped by the pipeline's parse stage, not the source
    val parsed = SyncPipeline(SyncConfig())(msgs)
    assert(parsed.count() == 4)
    assert(parsed.filter(col("is_debug")).count() == 1)
    assert(parsed.filter(col("app") === "shop").count() == 1)
  }

  test("JsonLines topic-regex subscription consumes only matching topics") {
    val dir = stageJsonl()
    // batch: regex selects the web topic only (pulsar.rs:101-123 analog)
    def subscribe(p: String) =
      SyncPipeline.subscribe(SyncConfig(topicRegex = Some(p))) _
    val web = subscribe("^w.*")(JsonLines.read(spark, s"$dir/*/*.jsonl"))
    assert(web.select("topic").distinct().collect().map(_.getString(0))
      .toSet == Set("web"))
    assert(web.count() == 4)
    // streaming: same subscription over the stream source
    val q = subscribe("^aud")(JsonLines.readStream(spark, s"$dir/*/*.jsonl"))
      .writeStream.format("memory").queryName("regex_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.table("regex_stream").select("topic").distinct()
      .collect().map(_.getString(0)).toSet == Set("audit"))
  }

  test("TopicWatchdog resubscribes when the topic set changes") {
    val tmp = Files.createTempDirectory("graft-watchdog").toString
    Files.createDirectories(Paths.get(s"$tmp/topics/web"))
    Files.writeString(Paths.get(s"$tmp/topics/web/part-0.jsonl"),
      "{\"ts\": 1700000000000, \"k\": 1}\n{\"ts\": 1700000001000, \"k\": 2}\n")
    val sink = s"$tmp/sink"; val ckpt = s"$tmp/ckpt"
    val dog = new graft.streaming.TopicWatchdog(spark, s"$tmp/topics",
      "^(web|audit)$",
      topics => {
        // subscription resolved to a concrete topic list per generation,
        // like the reference's regex -> topic-list resolution
        val glob = s"$tmp/topics/{${topics.toSeq.sorted.mkString(",")}}/*.jsonl"
        JsonLines.readStream(spark, glob)
          .writeStream.format("parquet").option("path", sink)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
      })
    assert(dog.tick()) // first subscription: web only
    dog.activeQuery.get.awaitTermination(60000)
    assert(!dog.tick()) // unchanged membership: no recreation
    assert(spark.read.parquet(sink).count() == 2)

    // a new matching topic appears -> watchdog must recreate the consumer
    Files.createDirectories(Paths.get(s"$tmp/topics/audit"))
    Files.writeString(Paths.get(s"$tmp/topics/audit/part-0.jsonl"),
      "{\"ts\": 1700000002000, \"k\": 3}\n")
    Files.createDirectories(Paths.get(s"$tmp/topics/ignored"))
    assert(dog.tick())
    dog.activeQuery.get.awaitTermination(60000)
    dog.stop()
    assert(dog.generation == 2)
    val out = spark.read.parquet(sink)
    // audit consumed; web NOT re-consumed (checkpoint = subscription cursor)
    assert(out.count() == 3)
    assert(out.select("topic").distinct().collect().map(_.getString(0))
      .toSet == Set("web", "audit"))
  }

  test("TopicWatchdog waits a bounded time for a stopped query and fails loudly") {
    // a query that never terminates: stop() returns, it keeps running
    final class HungQuery extends org.apache.spark.sql.streaming.StreamingQuery {
      val id = java.util.UUID.randomUUID()
      var waits = Seq.empty[Long]
      def name = "hung"
      def runId = id
      def sparkSession = spark
      def isActive = true
      def exception = None
      def status = null
      def recentProgress = Array.empty
      def lastProgress = null
      def awaitTermination(): Unit = throw new AssertionError("unbounded wait")
      def awaitTermination(timeoutMs: Long): Boolean = { waits :+= timeoutMs; false }
      def processAllAvailable(): Unit = ()
      def stop(): Unit = ()
      def explain(): Unit = ()
      def explain(extended: Boolean): Unit = ()
    }
    val tmp = Files.createTempDirectory("graft-watchdog-hung").toString
    Files.createDirectories(Paths.get(s"$tmp/web"))
    var started = Seq.empty[HungQuery]
    val dog = new graft.streaming.TopicWatchdog(spark, tmp, "^(web|audit)$",
      _ => { started :+= new HungQuery; started.last })
    assert(dog.tick())
    Files.createDirectories(Paths.get(s"$tmp/audit"))
    // the membership change stops the hung generation: tick() throws
    // instead of waiting forever, and starts no new generation
    val e = intercept[IllegalStateException](dog.tick())
    assert(e.getMessage.contains("still running"))
    assert(started.size == 1)
    assert(started.head.waits == Seq(graft.streaming.TopicWatchdog.StopWaitMs))
    // stop() bounds its wait the same way
    intercept[IllegalStateException](dog.stop())
    assert(started.head.waits.size == 2)
  }

  test("the parquet connector carries the canonical message shape") {
    import graft.sources.Connectors
    val tmp = Files.createTempDirectory("graft-conn").toString
    Tables.events(spark, sf()).limit(5)
      .select(col("event_id").as("msg_id"), col("event_type").as("topic"),
        timestamp_micros(expr("ts div 1000")).as("publish_time"),
        col("props").as("data"))
      .write.parquet(s"$tmp/msgs")
    val msgs = Connectors.ParquetMessages.read(spark, s"$tmp/msgs")
    assert(msgs.columns.toSeq ===
      Seq("msg_id", "topic", "publish_time", "data"))
    assert(msgs.count() === 5)
  }

  test("JsonLines streaming == batch through the same pipeline") {
    val dir = stageJsonl()
    val cfg = SyncConfig()
    val out = graft.streaming.StreamingSync.transform(cfg)(
      JsonLines.readStream(spark, s"$dir/*/*.jsonl"))
    val q = out.writeStream.format("memory").queryName("jsonl_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("jsonl_stream")
    assert(streamed.count() == 4)
    assert(streamed.select("topic").distinct().count() == 2)
  }

  test("streaming windowed agg with watermark == batch tumbling agg") {
    val tmp = Files.createTempDirectory("graft-winagg").toString
    val msgs = Tables.events(spark, sf())
      .select(col("event_type").as("topic"),
        timestamp_micros(expr("ts div 1000")).as("publish_time"))
    msgs.write.parquet(s"$tmp/src")

    val stream = spark.readStream
      .schema("topic STRING, publish_time TIMESTAMP")
      .parquet(s"$tmp/src")
      .withWatermark("publish_time", "2 hours")
      .groupBy(window(col("publish_time"), "1 hour"), col("topic"))
      .agg(count(lit(1)).as("n"))
    val q = stream.writeStream.format("memory").queryName("win_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = spark.table("win_stream")
      .select(col("window.start").as("h"), col("topic"), col("n"))
    val batch = msgs.groupBy(date_trunc("hour", col("publish_time")).as("h"),
      col("topic")).agg(count(lit(1)).as("n"))
    // watermark may hold back the final (max event time) window in append
    // mode; every emitted window must match the batch result exactly
    val joined = streamed.as("s").join(batch.as("b"), Seq("h", "topic"))
    assert(joined.filter(col("s.n") =!= col("b.n")).count() == 0)
    assert(streamed.count() >= batch.count() - 5)
  }

  test("volumeAnomaly dense vs observed: diverge exactly on calendar gaps") {
    import graft.operators.Temporal
    import spark.implicits._
    // days 1..12 with day 10 MISSING — the zero-event calendar day
    val daily = (1 to 12).filter(_ != 10)
      .map(d => ("t", java.sql.Date.valueOf(f"2024-01-$d%02d"), 10L + d))
      .toDF("topic", "day", "n")
    def byDay(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getDate(1).toString ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    val obs = byDay(Temporal.volumeAnomaly(daily, dense = false))
    val den = byDay(Temporal.volumeAnomaly(daily, dense = true))
    // dense gives the gap day its own n=0 collapse-alarm row (its 7
    // preceding calendar days are all present); observed never sees it
    assert(den("2024-01-10")._1 === 0L)
    assert(!obs.contains("2024-01-10"))
    // and the NEXT day's baseline differs: observed frame = last 7 days
    // WITH traffic (3..9 → mean 16), dense frame includes the zero day
    // (4..10 → mean 99/7)
    assert(obs("2024-01-11")._2 === 16.0)
    assert(den("2024-01-11")._2 === math.rint(99.0 / 7 * 1e6) / 1e6)
    // on the gap-free prefix both agree exactly
    assert(obs("2024-01-09") === den("2024-01-09"))
  }
}
