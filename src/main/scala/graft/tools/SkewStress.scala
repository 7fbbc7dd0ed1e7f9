package graft.tools

import graft.operators.{SyncConfig, SyncPipeline}
import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Planted-skew stress of the sync surface: the same
  * replicated message volume run twice through the FULL pipeline
  * (filters → parse → enrich → rate-limit window → bulk batching →
  * per-(index, app) metrics agg) — once with the natural topic mix,
  * once with 90% of messages on ONE hot topic (the realistic log-stream
  * shape). Writes SKEW_BENCH.json with both walls and the ratio.
  *
  * Why the hot key stays bounded by DESIGN (what the numbers check):
  * the admission window partitions on (app, date_trunc(window)) and
  * batching on index = topic-DATE — both keys INCLUDE a time bucket, so
  * a hot topic's rows split across all its time buckets instead of
  * pinning one task; the final metrics agg is map-side combined to
  * #groups rows before the shuffle. AQE handles residual imbalance.
  * The messages are the events of `SPARK_GRAFT_SF_DIR` (default sf0.1).
  * Usage: runMain graft.tools.SkewStress [replicas]
  */
object SkewStress {
  def main(args: Array[String]): Unit = {
    val replicas = args.headOption.map(_.toInt).getOrElse(20)
    val sfDir = GraftSession.sfDir
    val spark = GraftSession.local()

    val base = SparkEntry.messages(spark, sfDir)
      .crossJoin(spark.range(replicas).select(col("id").as("rep")))
      .withColumn("msg_id", col("msg_id") * replicas + col("rep")).drop("rep")
    val uniform = base
    val skewed = base.withColumn("topic",
      when(pmod(col("msg_id"), lit(10)) < 9, lit("hot"))
        .otherwise(col("topic")))
    val cfg = SyncConfig(
      globalFilters = Seq("\"k\": 13\\}"),
      rewriteRules = Seq(("click", "web"), ("view", "web")),
      rateLimits = Map("__DEFAULT_APP__" -> 1000000),
      rateLimitWindow = "hour")

    def run(msgs: DataFrame): (Long, Double) = {
      // the full sink-side shape: pipeline (incl. the rate-limit
      // admission window) → bulk batching → per-(index, app) metrics
      def once(): Long = SyncPipeline.bulkBatches(SyncConfig(bufferSize = 500))(
          SyncPipeline(cfg)(msgs))
        .groupBy(col("index"), col("app"), col("batch_id"))
        .agg(count(lit(1)).as("written"))
        .count()
      val warm = once()
      val t0 = System.nanoTime()
      val n = once()
      (n, (System.nanoTime() - t0) / 1e9)
    }

    val (nu, su) = run(uniform)
    val (ns, ss) = run(skewed)
    val ratio = ss / su
    val line = f"""{"uniform_sec":$su%.3f,"skewed_sec":$ss%.3f,"ratio":$ratio%.3f,"uniform_groups":$nu,"skewed_groups":$ns,"replicas":$replicas}"""
    Files.writeString(Paths.get("SKEW_BENCH.json"), line + "\n")
    println(line)
    spark.stop()
  }
}
