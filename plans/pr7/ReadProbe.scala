import graft.sinks.IndexedParquetSink
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.util.concurrent.atomic.AtomicInteger

/** Jobs and wall time per pass of the sync benchmark's 4-query read mix
  * (per-app count on one index, debug docs of one index, a msg_id
  * lookup, count by index), on one store and in one JVM, alternating two
  * ways to open the store on every query:
  *  - `listing`: `spark.read.parquet(store)`, which lists the index
  *    directories and infers the schema from a footer in a Spark job
  *    (what `readIndexed` was before the store had manifests);
  *  - `manifest`: `IndexedParquetSink.readIndexed(spark, store)`.
  * The store is 3 batches x 28 indices = 84 files, written by
  * `commitBatch`. Prints one JSON line per pass.
  *   plans/pr7/probe.sh [passes] */
object ReadProbe {
  def main(args: Array[String]): Unit = {
    val passes = args.headOption.map(_.toInt).getOrElse(10)
    val spark = SparkSession.builder().master("local[4]").appName("read-probe")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val store = java.nio.file.Files.createTempDirectory("read-probe").resolve("store").toString
    (0 until 3).foreach { b =>
      val docs = spark.range(b * 28000L, (b + 1) * 28000L, 1, 4).select(
        col("id").as("msg_id"), format_string("""{"k": %d}""", col("id")).as("data"),
        format_string("logs-%02d", col("id") % 28).as("index"),
        format_string("app%d", col("id") % 5).as("app"),
        (col("id") % 97 === 0).as("is_debug"), (col("id") % 11).cast("int").as("field_count"))
      IndexedParquetSink.commitBatch(docs, store, batchId = Some(b.toLong))
    }
    val jobs = new AtomicInteger()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    val open: Map[String, () => DataFrame] = Map(
      "listing" -> (() => spark.read.parquet(store)),
      "manifest" -> (() => IndexedParquetSink.readIndexed(spark, store)))
    def pass(how: String): (Long, Int, Long) = {
      val j0 = jobs.get
      val t0 = System.nanoTime()
      val q = open(how)
      q().filter(col("index") === "logs-07").groupBy("app").count().collect()
      q().filter(col("index") === "logs-11" && col("is_debug")).select("msg_id").collect()
      q().filter(col("msg_id") === 41234L).select("index", "app", "field_count").collect()
      val n = q().groupBy("index").count().collect().map(_.getLong(1)).sum
      val ms = (System.nanoTime() - t0) / 1000000
      Thread.sleep(500) // let the listener bus catch up before counting
      (ms, jobs.get - j0, n)
    }
    Seq("listing", "manifest").foreach(pass) // warm-up, not reported
    (1 to passes).foreach { k =>
      val order = if (k % 2 == 1) Seq("listing", "manifest") else Seq("manifest", "listing")
      order.foreach { how =>
        val (ms, js, n) = pass(how)
        println(s"""{"pass": $k, "read": "$how", "wall_ms": $ms, "jobs": $js, "rows": $n}""")
      }
    }
    spark.stop()
  }
}
