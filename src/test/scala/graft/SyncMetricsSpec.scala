package graft

import graft.operators.SyncConfig
import graft.streaming.{StreamingSync, SyncMetrics}
import graft.sources.Tables
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The metrics registry (prometheus.rs analog) must observe a real
  * streaming run: batch/row counters from the listener, write-success
  * counters from the sink metrics. */
class SyncMetricsSpec extends SparkSpec {

  test("listener + bulk counters observe a streaming sync run") {
    SyncMetrics.reset()
    val listener = new SyncMetrics.Listener
    spark.streams.addListener(listener)
    try {
      val tmp = Files.createTempDirectory("graft-metrics").toString
      val msgs = Tables.events(spark, sf())
        .select(col("event_id").as("msg_id"), col("event_type").as("topic"),
          timestamp_micros(expr("ts div 1000")).as("publish_time"),
          col("props").as("data")).limit(200)
      msgs.write.parquet(s"$tmp/src")
      val q = StreamingSync.start(spark, SyncConfig(), s"$tmp/src",
        s"$tmp/sink", s"$tmp/metrics", availableNow = true)
      q.awaitTermination(120000)
      // poll: listener events are delivered asynchronously
      val deadline = System.currentTimeMillis + 30000
      def consumed = SyncMetrics.snapshot().linesIterator
        .filter(_.startsWith("graft_rows_consumed_total")).toSeq
      while (consumed.isEmpty && System.currentTimeMillis < deadline)
        Thread.sleep(200)

      // write-success counters are fed by the sink loop itself
      // (StreamingSync.start records each batch's bulk metrics)
      val snap = SyncMetrics.snapshot()
      assert(snap.contains("graft_rows_consumed_total"))
      // an unnamed query is labelled by its id
      assert(snap.linesIterator.contains(
        s"""graft_query_started_total{query="${q.id}"} 1"""), snap)
      assert(snap.contains("graft_es_write_success_total"))
      val written = snap.linesIterator
        .filter(_.startsWith("graft_es_write_success_total"))
        .map(_.split(' ').last.toLong).sum
      assert(written == spark.read.parquet(s"$tmp/sink").count())
    } finally spark.streams.removeListener(listener)
  }

  test("/metrics HTTP endpoint serves the prometheus-style snapshot") {
    SyncMetrics.reset()
    SyncMetrics.incBy("graft_test_total", Seq("topic" -> "web"), 42)
    val server = graft.streaming.MetricsHttp.start()
    try {
      val port = server.getAddress.getPort
      val body = scala.io.Source
        .fromURL(s"http://localhost:$port/metrics", "UTF-8").mkString
      assert(body.contains("""graft_test_total{topic="web"} 42"""))
    } finally server.stop(0)
  }

  test("payload-derived label values are escaped into valid exposition lines") {
    SyncMetrics.reset()
    val hostile = "evil\"} 1\ninjected_total{x=\"y\\"
    SyncMetrics.incBy("graft_es_write_success_total",
      Seq("index" -> "logs-2024", "app" -> hostile), 3)
    val lines = SyncMetrics.snapshot().linesIterator.toSeq
    // one sample line, the raw quote/newline/backslash escaped in place
    assert(lines == Seq("graft_es_write_success_total{app=\"" +
      "evil\\\"} 1\\ninjected_total{x=\\\"y\\\\" +
      "\",index=\"logs-2024\"} 3"))
    // every label value is a well-formed exposition string
    val sample = "[a-z_]+\\{([a-z_]+=\"([^\"\\\\\\n]|\\\\[\\\\\"n])*\",?)*\\} [0-9]+"
    assert(lines.forall(_.matches(sample)), lines)
  }
}
