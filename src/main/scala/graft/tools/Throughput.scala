package graft.tools

import graft.operators.{SyncConfig, SyncPipeline}
import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.functions._

/** Sustained-throughput measurement of the sync pipeline at the
  * reference's own anchor (README: 2,000,000 messages consumed):
  * replicates the events of `SPARK_GRAFT_SF_DIR` (default sf0.1) to ~2M
  * messages, runs the full filter→parse→enrich→route chain, reports
  * msg/s. Usage: runMain graft.tools.Throughput [replicas] */
object Throughput {
  def main(args: Array[String]): Unit = {
    val replicas = args.headOption.map(_.toInt).getOrElse(20)
    val sfDir = GraftSession.sfDir
    val spark = GraftSession.local()
    val msgs = SparkEntry.messages(spark, sfDir)
      .crossJoin(spark.range(replicas).select(col("id").as("rep")))
      .withColumn("msg_id", col("msg_id") * replicas + col("rep")).drop("rep")
    val cfg = SyncConfig(
      globalFilters = Seq("\"k\": 13\\}"),
      namespaceFilters = Map("error" -> Seq("\"k\": 9[0-9]\\}")),
      rewriteRules = Seq(("click", "web"), ("view", "web"), ("purchase", "commerce")),
      debugLogPatterns = Seq("\"k\": 4[0-9]\\}"))
    val pipeline = SyncPipeline(cfg)(msgs)

    val n = msgs.count() // warm-up + input size
    pipeline.count()     // warm-up full chain (codegen)
    val t0 = System.nanoTime()
    val out = pipeline.count()
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"INPUT=$n OUTPUT=$out SECONDS=$sec%.2f MSG_PER_SEC=${n / sec}%.0f")
    spark.stop()
  }
}
