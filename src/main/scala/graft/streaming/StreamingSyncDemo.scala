package graft.streaming

import graft.operators.{SyncConfigJson, SyncPipeline}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Runnable end-to-end demo of the streaming sync: stages the sf0.001
  * events as a message stream, drains it with AvailableNow, and prints
  * sink/metrics summaries. Usage: runMain graft.streaming.StreamingSyncDemo
  * [workDir]. A second run on the same workDir demonstrates checkpointed
  * incremental behavior (no duplicate writes). */
object StreamingSyncDemo {
  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse("/tmp/graft_stream_demo")
    val spark = SparkSession.builder().master("local[4]")
      .appName("graft-streaming-demo")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val msgs = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id").as("msg_id"), col("event_type").as("topic"),
        timestamp_micros(expr("ts div 1000")).as("publish_time"),
        col("props").as("data"))
    if (!new java.io.File(s"$work/src").exists())
      msgs.write.parquet(s"$work/src")

    // reference-style JSON flag values (args.rs formats)
    val cfg = SyncConfigJson.fromArgs(
      globalFilters = Seq("\"k\": 13\\}"),
      namespaceFilterJsons = Seq(
        """{"namespace": "error", "filters": ["\"k\": 9[0-9]\\}"]}"""),
      rewriteRulesJson = Some("""{"rules": [["click", "web"], ["view", "web"]]}"""))
    val listener = new SyncMetrics.Listener
    spark.streams.addListener(listener)
    val q = StreamingSync.start(spark, cfg, s"$work/src", s"$work/sink",
      s"$work/metrics", availableNow = true)
    q.awaitTermination(120000)

    val sink = graft.sinks.IndexedParquetSink.readIndexed(spark, s"$work/sink")
    println("SINK_COUNT=" + sink.count())
    println("BATCH_EQUIVALENT=" + SyncPipeline(cfg)(msgs).count())
    println("INDICES=" + sink.select("index").distinct().count())
    spark.read.parquet(s"$work/metrics")
      .orderBy(desc("written")).show(5, truncate = false)
    // prometheus.rs analog: counter snapshot after the run
    SyncMetrics.recordBulk(spark.read.parquet(s"$work/metrics").drop("batch_id"))
    Thread.sleep(2000) // listener events are async
    println("METRICS_SNAPSHOT:")
    println(SyncMetrics.snapshot().linesIterator
      .filter(l => l.startsWith("graft_rows") || l.startsWith("graft_batches"))
      .mkString("\n"))
    println("WRITE_TOTALS=" + SyncMetrics.snapshot().linesIterator
      .count(_.startsWith("graft_es_write_success_total")))
    spark.stop()
  }
}
