import graft.GraftSession
import graft.operators.SyncConfig
import graft.sources.Connectors
import graft.streaming.StreamingSync
import org.apache.spark.sql.functions._

/** Prints `StreamingSync.transform(cfg)(in).queryExecution.optimizedPlan`
  * for the default config and for StreamingSyncSpec's config, over the
  * sf0.001 events as messages staged at a fixed path (so the plans of two
  * trees can be diffed). Args: <sf dir> <messages dir>. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, msgDir) = args
    val spark = GraftSession.local()
    if (!new java.io.File(msgDir).exists())
      graft.sources.Tables.events(spark, sfDir)
        .select(col("event_id").as("msg_id"), col("event_type").as("topic"),
          timestamp_micros(expr("ts div 1000")).as("publish_time"),
          col("props").as("data"))
        .write.parquet(msgDir)
    val specCfg = SyncConfig(
      globalFilters = Seq("\"k\": 13\\}"),
      rewriteRules = Seq(("click", "web"), ("view", "web")),
      rateLimits = Map("__DEFAULT_APP__" -> 50),
      rateLimitWindow = "hour")
    Seq("SyncConfig()" -> SyncConfig(), "StreamingSyncSpec.cfg" -> specCfg)
      .foreach { case (name, cfg) =>
        val in = Connectors.ParquetMessages.read(spark, msgDir)
        println(s"== $name")
        println(StreamingSync.transform(cfg)(in).queryExecution.optimizedPlan)
      }
    spark.stop()
  }
}
