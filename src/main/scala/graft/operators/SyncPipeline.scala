package graft.operators

import graft.functions.SyncFunctions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Configuration of a sync pipeline — the engine analog of the reference's
  * CLI surface (reference: args.rs). Regex filters drop messages; rewrite
  * rules re-route indices; rate limits admit N docs per app per second. */
final case class SyncConfig(
    globalFilters: Seq[String] = Nil,
    /** topic → regex patterns that drop its messages. A key matches the
      * whole topic name as it arrives (`persistent://acme/prod/audit`),
      * not the collapsed `topicPart` that enrich and inject read. */
    namespaceFilters: Map[String, Seq[String]] = Map.empty,
    rewriteRules: Seq[(String, String)] = Nil,
    timeKey: Option[String] = None,
    debugLogPatterns: Seq[String] = Nil,
    rateLimits: Map[String, Int] = Map.empty,
    /** admission window granularity: "second" (reference semantics),
      * "minute", "hour" — the refill period of the batch token bucket */
    rateLimitWindow: String = "second",
    bufferSize: Int = 1000,
    /** regex topic subscription (args.rs --topic-regex, default ".*") */
    topicRegex: Option[String] = None,
    /** topics whose raw messages are flagged for debug output
      * (args.rs --debug-topics, comma-separated). Read only by the batch
      * function [[SyncPipeline.debugTopicFlag]], which is not a stage of
      * `SyncPipeline.transform`: the streaming sync ignores it and its
      * store keeps no debug flag. */
    debugTopics: Seq[String] = Nil,
    /** inject a trace key into every message (args.rs --inject-key) */
    injectKey: Boolean = false,
    /** injected key name (args.rs --injected-key-name) */
    injectedKeyName: String = "__INJECTED_DATA__",
    /** namespaces whose injected payloads are logged to the per-namespace
      * debug logfile (args.rs --injected-namespaces, comma-separated).
      * Read only by the `injected_logged` column of
      * [[SyncPipeline.inject]]; the streaming sync's store does not keep
      * that column, so a streaming run stores nothing of this flag. */
    injectedNamespaces: Seq[String] = Nil,
    /** sink flush cadence in ms (args.rs:117-119 --flush-interval,
      * default 5000): the processing-time trigger of the streaming sync
      * (es.rs:275-308 ticks its buffer flush on this interval) */
    flushIntervalMs: Long = 5000,
    // ---- client connection identity ----
    // The five remaining args.rs knobs configure the network CLIENT the
    // sandbox cannot run. The connector seam
    // ([[graft.sources.Connectors.MessageConnector.readStream]]) receives
    // the whole config, so an off-sandbox Pulsar binding reads them there;
    // the file stand-ins ignore them (StreamingSyncSpec asserts delivery).
    /** broker address (args.rs:73-75 --pulsar-addr) */
    pulsarAddr: String = "pulsar://127.0.0.1:6650",
    /** auth token (args.rs:77-79 --pulsar-token) */
    pulsarToken: Option[String] = None,
    /** consumer name (args.rs:85-87 --consumer-name) */
    consumerName: Option[String] = None,
    /** subscription name (args.rs:89-91 --subscription-name) */
    subscriptionName: Option[String] = None,
    /** client-side receive channel capacity (args.rs:121-123
      * --channel-buffer-size, default 2048) */
    channelBufferSize: Int = 2048)

/** The reference's consume→transform→route→buffer pipeline (pulsar.rs
  * consume_loop + es.rs sink_elasticsearch_loop) re-expressed as a
  * declarative Spark plan over a message DataFrame with columns
  * `(msg_id: long, topic: string, publish_time: timestamp, data: string)`.
  *
  * Every stage is a narrow projection/filter (no shuffle) except the
  * explicitly-wide admission/batching windows, which partition by app /
  * index — never a global window — so the plan scales linearly with
  * executors at 100 TB.
  */
object SyncPipeline {

  /** Topic subscription (pulsar.rs:101-123): the consumer's topic regex,
    * resolved against the topic part of the (possibly URI-shaped) name —
    * applied before any message work, like the broker-side subscription. */
  def subscribe(cfg: SyncConfig)(df: DataFrame): DataFrame =
    cfg.topicRegex.fold(df)(p => df.filter(topicMatches(col("topic"), p)))

  /** Debug-topic observability flag (pulsar.rs:256-259: raw messages of
    * the configured topics are logged): surfaced as a column so sinks and
    * metrics can count or divert them without a side channel. */
  def debugTopicFlag(cfg: SyncConfig)(df: DataFrame): DataFrame =
    df.withColumn("is_debug_topic",
      if (cfg.debugTopics.isEmpty) lit(false)
      else topicPart(col("topic")).isin(cfg.debugTopics: _*))

  /** Key-injection stage (pulsar.rs:277-299 + es.rs:346-348): when
    * enabled, every message's document carries the injected key (the
    * reference attaches a UUID; here a deterministic message-derived id,
    * for replayable pipelines and the oracle gate), and messages of the
    * injected namespaces are flagged as logged — the analog of the
    * reference's per-namespace debug logfile side channel. */
  def inject(cfg: SyncConfig)(df: DataFrame): DataFrame =
    if (!cfg.injectKey) df
    else df
      .withColumn("data", injectKey(col("data"), col("msg_id"),
        deterministic = true, keyName = cfg.injectedKeyName))
      .withColumn("injected_logged",
        if (cfg.injectedNamespaces.isEmpty) lit(false)
        else topicPart(col("topic")).isin(cfg.injectedNamespaces: _*))

  /** Drop empty messages and messages matching any global filter
    * (pulsar.rs:241-252). */
  def globalFilter(cfg: SyncConfig)(df: DataFrame): DataFrame = {
    val kept = df.filter(col("data").isNotNull && col("data") =!= "")
    if (cfg.globalFilters.isEmpty) kept
    else kept.filter(!matchesAny(col("data"), cfg.globalFilters))
  }

  /** Drop messages matching their topic's namespace filter set
    * (pulsar.rs:264-275). A filter key is compared with the whole topic
    * name (`persistent://acme/prod/audit`), not with `topicPart`. */
  def namespaceFilter(cfg: SyncConfig)(df: DataFrame): DataFrame =
    cfg.namespaceFilters.foldLeft(df) { case (acc, (ns, pats)) =>
      acc.filter(col("topic") =!= ns || !matchesAny(col("data"), pats))
    }

  /** Keep only JSON-object messages (es.rs:124-127: non-JSON is dropped). */
  def parseable(df: DataFrame): DataFrame =
    df.filter(get_json_object(col("data"), "$") .isNotNull &&
      col("data").rlike("^\\s*\\{"))

  /** Add derived columns: collapsed topic, date bucket, rewritten index,
    * app, @timestamp, debug flag, field count. One narrow projection. */
  def enrich(cfg: SyncConfig)(df: DataFrame): DataFrame = {
    val topic = collapsePartitionTopic(topicPart(col("topic")))
    df.withColumn("topic_base", topic)
      .withColumn("date_str", dateStr(col("publish_time")))
      // the index derives from the TOPIC PART: for URI-shaped topics
      // (persistent://tenant/ns/topic, util.rs:13-21) the tenant/ns
      // prefix must not leak into the index name
      .withColumn("index",
        concat(rewriteIndex(topicPart(col("topic")), cfg.rewriteRules),
          lit("-"), col("date_str")))
      .withColumn("app", appOf(col("data")))
      .withColumn("ts_resolved",
        resolveTimestamp(col("data"), cfg.timeKey, col("publish_time")))
      .withColumn("is_debug", isDebugLog(col("data"), cfg.debugLogPatterns))
      .withColumn("field_count", fieldCount(col("data")))
  }

  /** Per-app per-second admission in arrival order (ratelimiter.rs):
    * batch semantics of a token-bucket with per-second refill — the first
    * `limit(app)` messages in each (app, second) survive. Apps without a
    * configured limit pass through. Window partitions by (app, second):
    * bounded state, shuffle on the app key only. */
  def rateLimit(cfg: SyncConfig)(df: DataFrame): DataFrame = {
    if (cfg.rateLimits.isEmpty) df
    else {
      val sec = date_trunc(cfg.rateLimitWindow, col("publish_time"))
      val w = Window.partitionBy(col("app"), sec)
        .orderBy(col("publish_time"), col("msg_id"))
      val limit = cfg.rateLimits.foldRight(lit(Int.MaxValue)) {
        case ((app, n), acc) => when(col("app") === app, lit(n)).otherwise(acc)
      }
      df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= limit).drop("__rn")
    }
  }

  /** Assign bulk-batch ids per index in arrival order (es.rs:301: every
    * buffer_size docs per flush group become one bulk request). */
  def bulkBatches(cfg: SyncConfig)(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("index"))
      .orderBy(col("publish_time"), col("msg_id"))
    df.withColumn("batch_id",
      floor((row_number().over(w) - 1) / cfg.bufferSize))
  }

  /** The per-message chain in the reference's consume-loop order:
    * subscribe → global filter → parse → namespace filter → enrich →
    * inject. Every stage is narrow, so the same plan runs on a batch
    * frame and on a stream; the streaming sync applies it to its source
    * and [[rateLimit]] per micro-batch. */
  def transform(cfg: SyncConfig)(df: DataFrame): DataFrame =
    df.transform(subscribe(cfg))
      .transform(globalFilter(cfg))
      .transform(parseable)
      .transform(namespaceFilter(cfg))
      .transform(enrich(cfg))
      .transform(inject(cfg))

  /** Full batch pipeline: [[transform]], then rate limit. */
  def apply(cfg: SyncConfig)(df: DataFrame): DataFrame =
    transform(cfg)(df).transform(rateLimit(cfg))
}
